"""Vector-store sink as a Spark 4 Python DataSource *writer*: the two-phase
form of the reference's batch load (cmfunctions.py:177-223), where a
failed or cancelled job leaves nothing visible.

``df.write.format("vector_store").option("path", p)`` loads into an
unpartitioned :class:`ManifestVectorSink` at ``p``. Each task stages its
Arrow batches as one parquet file in a fresh segment dir
``<p>/_data/<uuid>/`` and returns that dir in its commit message; only
when EVERY task succeeded does the driver-side ``commit`` publish all the
staged segments in one manifest CAS (``ManifestVectorSink._commit_staged``,
the commit ``upsert`` makes, lost-response guards included). ``overwrite``
makes them the whole segment list in that CAS; ``abort`` drops them. The
load reads back through ``ManifestVectorSink(spark, p, partition_col=None)
.read()``.

One segment per task, never one dir shared by the job: a sink read scans
whole segment dirs, and a ``"full"`` manifest entry means everything under
its dir is live, so a failed task attempt's leftover file in a shared dir
would become visible. In a per-task dir it is an unreferenced orphan, which
the sink's ``vacuum()`` reclaims.
"""

from __future__ import annotations

import logging
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    WriterCommitMessage,
)

from vectordb_data_ingestion_spark.sinks.commit_store import ConditionalStore
from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink


@dataclass
class _Staged(WriterCommitMessage):
    dir: str | None  # the task's segment dir under <path>/_data; None = no rows


class VectorStoreWriter(DataSourceArrowWriter):
    def __init__(self, path: str, schema: T.StructType, overwrite: bool):
        self.path = path
        self.schema = schema
        self.overwrite = overwrite

    def _sink(self, store: ConditionalStore | None) -> ManifestVectorSink:
        # commit and abort run in a Python worker with no SparkSession
        return ManifestVectorSink(
            SparkSession.getActiveSession(),
            self.path,
            partition_col=None,
            store=store,
        )

    # -- executor side --------------------------------------------------
    def write(self, iterator):
        import pyarrow.parquet as pq

        seg = uuid.uuid4().hex
        seg_dir = os.path.join(self.path, "_data", seg)
        out = None
        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                if out is None:
                    os.makedirs(seg_dir)
                    out = pq.ParquetWriter(
                        os.path.join(seg_dir, "part-00000.parquet"),
                        batch.schema,
                    )
                out.write_batch(batch)
        finally:
            if out is not None:
                out.close()
        return _Staged(dir=seg if out is not None else None)

    # -- driver side -----------------------------------------------------
    def commit(self, messages, store: ConditionalStore | None = None):
        """Publish every task's staged segment in one CAS. ``store`` is the
        commit-primitive binding; tests pass a ``MemoryConditionalStore``."""
        entries = [{"dir": m.dir, "full": True} for m in messages if m and m.dir]
        self._sink(store)._commit_staged(
            entries, self.schema, replace=self.overwrite
        )

    def abort(self, messages, store: ConditionalStore | None = None):
        """Drop the failed job's staged dirs, except any the current
        manifest references (a commit that raised may still have landed
        a put). If the manifest can't be read, keep them all: an orphan
        is garbage ``vacuum()`` reclaims, while a dropped referenced dir
        breaks every read."""
        staged = [m.dir for m in messages if m and m.dir]
        if not staged:
            return
        try:
            sink = self._sink(store)
            manifest, _ = sink._get_manifest()
        except Exception:
            logging.getLogger(__name__).warning(
                "vector_store abort at %s: manifest unreadable, keeping %d "
                "staged segments for vacuum()",
                self.path,
                len(staged),
                exc_info=True,
            )
            return
        live = {s["dir"] for s in (manifest or {}).get("segments", [])}
        for d in staged:
            if d not in live:
                sink._drop_segment({"dir": d})


class VectorStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "vector_store"

    def writer(self, schema, overwrite: bool) -> VectorStoreWriter:
        if set(self.options) != {"path"}:
            raise ValueError(
                "vector_store writer takes exactly one option, 'path'; got "
                f"{sorted(self.options)}"
            )
        w = VectorStoreWriter(self.options["path"].rstrip("/"), schema, overwrite)
        # opening the sink checks the stored layout, so a path built with
        # another one fails here, before any task runs
        w._sink(None)
        return w
