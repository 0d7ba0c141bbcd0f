"""Batched external-client vector sink.

:class:`BatchingClientSink` is the external-store path
(data_load_weaviate, cmfunctions.py:177-223): ``foreachPartition``
writer, one client per partition, batched adds with exponential-backoff
retry (cmfunctions.py:103, 489-492), idempotent upserts keyed by the
deterministic ``chunk_id`` (the reference's uuid4 at
sharepointutils.py:381 breaks retry idempotence; deterministic ids fix
it). The client is injected via a factory so tests run against an
in-memory/file-backed fake and production swaps in a real
``weaviate.Client`` without code changes.

The parquet substrate carrying the same mutation contract is
:class:`~vectordb_data_ingestion_spark.sinks.manifest_sink.ManifestVectorSink`.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, Protocol

from pyspark.sql import DataFrame

from vectordb_data_ingestion_spark.operators.enrichment import call_with_backoff


class VectorClient(Protocol):
    """Minimal client surface (subset of the weaviate v1 client used by the
    reference)."""

    def ensure_class(self, class_name: str, properties: list[dict]) -> None: ...

    def add_batch(self, class_name: str, objects: list[dict]) -> None: ...

    def delete_where(self, class_name: str, path: str, values: list[Any]) -> None: ...


class BatchingClientSink:
    def __init__(
        self,
        client_factory: Callable[[], VectorClient],
        class_name: str,
        batch_size: int = 150,  # the pipeline's BATCH_SIZE (data_ingestion.py:97)
        max_retries: int = 5,
        id_col: str = "chunk_id",
        vector_col: str = "vector",
    ):
        self.client_factory = client_factory
        self.class_name = class_name
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.id_col = id_col
        self.vector_col = vector_col

    def ensure_class(self, properties: list[dict]) -> None:
        client = self.client_factory()
        client.ensure_class(self.class_name, properties)

    def upsert(self, df: DataFrame, property_cols: list[str]) -> None:
        """foreachPartition writer: per-partition client, batched adds,
        backoff retry per batch. Objects carry (id, vector, properties) -
        idempotent because ids are deterministic."""
        class_name = self.class_name
        batch_size = self.batch_size
        # call_with_backoff counts attempts: the first try plus retries
        attempts = 1 + self.max_retries
        id_col, vector_col = self.id_col, self.vector_col
        factory = self.client_factory

        def write_partition(rows):
            client = factory()
            batch: list[dict] = []

            def flush():
                if batch:
                    payload = list(batch)
                    call_with_backoff(
                        lambda: client.add_batch(class_name, payload),
                        max_retries=attempts,
                    )
                    batch.clear()

            for row in rows:
                batch.append(
                    {
                        "id": row[id_col],
                        "vector": list(row[vector_col]) if row[vector_col] is not None else None,
                        "properties": {c: row[c] for c in property_cols},
                    }
                )
                if len(batch) >= batch_size:
                    flush()
            flush()

        df.select(id_col, vector_col, *property_cols).foreachPartition(
            write_partition
        )

    def delete_where(self, path: str, values: list[Any]) -> None:
        """Predicate delete (delete_filedata_from_vectordb semantics,
        cmfunctions.py:226-261) - driver-side, value list is catalog-sized."""
        client = self.client_factory()
        call_with_backoff(
            lambda: client.delete_where(self.class_name, path, values),
            max_retries=1 + self.max_retries,
        )
