"""Vector-store sinks.

One substrate carries the mutation contract (``upsert`` / ``read`` /
``delete_where`` / ``delete_where_df``, plus the maintenance surface
``maybe_compact`` / ``vacuum`` / ``read_at``, since segments accrete):
``ManifestVectorSink`` (manifest_sink.py) — immutable segments + one
conditional-put manifest, over a ``ConditionalStore`` (file-backed by
default, or the chunked commit log). The same protocol runs on local
disk and on an object store.

``BatchingClientSink`` (vector_store.py) is a different contract: batched
adds and predicate deletes against an external vector-DB client.

Pipelines take the sink as a constructor choice: build one here (or pass
any object with the same methods) and hand its bound methods to
``foreach_batch_refresh`` / ``refresh_batch_fn``, which are
sink-agnostic by design.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession


def make_vector_sink(
    spark: SparkSession, kind: str, base_path: str, **kw: Any
):
    """Construct a ``ManifestVectorSink`` by store name: ``"manifest"``
    (one CAS-committed manifest object) or ``"manifest-log"`` (the same
    sink over the chunked commit log). Both carry the identical contract,
    so refresh/replay flows run unchanged on either."""
    if kind == "manifest":
        from vectordb_data_ingestion_spark.sinks.manifest_sink import (
            ManifestVectorSink,
        )

        return ManifestVectorSink(spark, base_path, **kw)
    if kind == "manifest-log":
        import os

        from vectordb_data_ingestion_spark.sinks.commit_store import (
            FileConditionalStore,
        )
        from vectordb_data_ingestion_spark.sinks.log_store import (
            LogConditionalStore,
        )
        from vectordb_data_ingestion_spark.sinks.manifest_sink import (
            ManifestVectorSink,
        )

        # same sink, chunked commit log: commit bytes stay O(mutation)
        # instead of O(sink metadata) — the high-commit-rate deployment
        ckpt = kw.pop("checkpoint_every", 32)
        store = kw.pop("store", None) or LogConditionalStore(
            FileConditionalStore(
                os.path.join(base_path.rstrip("/"), "_ctrl")
            ),
            checkpoint_every=ckpt,
        )
        return ManifestVectorSink(spark, base_path, store=store, **kw)
    raise ValueError(
        f"unknown sink kind {kind!r}: use 'manifest' or 'manifest-log'"
    )
