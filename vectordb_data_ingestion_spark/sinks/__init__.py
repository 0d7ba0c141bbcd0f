"""Vector-store sinks.

One substrate carries the mutation contract (``upsert`` / ``read`` /
``delete_where`` / ``delete_where_df``, plus the maintenance surface
``maybe_compact`` / ``vacuum`` / ``read_at``, since segments accrete):
``ManifestVectorSink`` (manifest_sink.py) — immutable segments + one
conditional-put manifest, over a ``ConditionalStore`` (file-backed by
default). The same protocol runs on local disk and on an object store.

``BatchingClientSink`` (vector_store.py) is a different contract: batched
adds and predicate deletes against an external vector-DB client.

Pipelines take the sink as a constructor choice: construct a
``ManifestVectorSink`` (or pass any object with the same methods) and
hand its bound methods to ``foreach_batch_refresh`` /
``refresh_batch_fn``, which are sink-agnostic by design.
"""
