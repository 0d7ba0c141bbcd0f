"""Incremental refresh via Structured Streaming.

The reference's incremental path (E2: data_ingestion.py:56-60 +
find_new_and_updated_files + delete_filedata_from_vectordb) is a manual
diff-then-delete-then-insert. Streaming-native equivalent:

- a file-source stream watches the catalog/drop directory; every new file
  becomes a micro-batch,
- ``foreach_batch_refresh`` runs the delete-then-insert against the vector
  sink per batch (delete stale chunk rows for the batch's urls, append the
  re-chunked/re-embedded rows) - exactly the reference's refresh contract
  but incremental, checkpointed, and restartable,
- ``windowed_event_rollup`` is the watermarked tumbling-window aggregate
  (late data handled by the watermark instead of full recomputation).

Tests drive both with ``trigger(availableNow=True)`` for hermetic one-shot
runs; a deployment would run them continuously with checkpoints.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def refresh_batch_fn(
    transform: Callable[[DataFrame], DataFrame],
    sink_upsert: Callable[[DataFrame], None],
    sink_delete_where: Callable[[str, list], None],
    key_col: str,
    sink_delete_where_df: Callable[[str, DataFrame], None] | None | str = (
        "auto"
    ),
) -> Callable[[DataFrame, int], None]:
    """Per-micro-batch delete-then-insert (the body of
    ``foreach_batch_refresh``, exposed so replay tests can re-run a batch
    with the same batch_id):

    1. ``sink_delete_where_df(key_col, keys_df)`` clears stale rows with
       the key set kept DISTRIBUTED (delete_filedata_from_vectordb
       semantics, broadcast anti-join form),
    2. ``transform`` re-derives the chunk/vector rows,
    3. ``sink_upsert`` appends them.

    Replay-idempotent: a retried batch first deletes its keys — including
    any rows its crashed first attempt already appended — then re-inserts.

    ``sink_delete_where_df`` defaults to ``"auto"``: when
    ``sink_delete_where`` is a bound method of a sink that also exposes
    ``delete_where_df`` (``ManifestVectorSink`` does), the distributed
    form is used — a backfill micro-batch carrying millions of changed
    documents must never funnel its key set through the driver. The
    key-LIST path (collect distinct keys, pass a Python list) runs only
    for client sinks that cannot accept a DataFrame (e.g. a remote
    vector-DB predicate-delete API, which is catalog-sized by contract);
    pass ``sink_delete_where_df=None`` to force it explicitly.
    """
    if sink_delete_where_df == "auto":
        owner = getattr(sink_delete_where, "__self__", None)
        sink_delete_where_df = getattr(owner, "delete_where_df", None)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if sink_delete_where_df is not None:
            sink_delete_where_df(key_col, batch_df.select(key_col))
        else:
            keys = [
                r[0] for r in batch_df.select(key_col).distinct().collect()
            ]
            sink_delete_where(key_col, keys)
        sink_upsert(transform(batch_df))

    return run_batch


def foreach_batch_refresh(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink_upsert: Callable[[DataFrame], None],
    sink_delete_where: Callable[[str, list], None],
    key_col: str,
    checkpoint: str,
    sink_delete_where_df: Callable[[str, DataFrame], None] | None | str = (
        "auto"
    ),
):
    """Checkpointed streaming writer around ``refresh_batch_fn`` — the
    incremental form of the reference's diff→delete→insert refresh."""
    run_batch = refresh_batch_fn(
        transform,
        sink_upsert,
        sink_delete_where,
        key_col,
        sink_delete_where_df=sink_delete_where_df,
    )
    return (
        stream_df.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def windowed_event_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Watermarked tumbling-window aggregate over an event stream - the
    streaming form of the events_hourly_window batch query. Late rows
    beyond the watermark are dropped instead of re-aggregating history."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            *group_cols,
            "n_events",
            "total_value",
        )
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming arm of the dedup suite: drop rows whose content hash was
    already seen, with state bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark``). The 32-byte hash - not the document
    body - is the dedup state key, so state size is rows-within-horizon x
    32 bytes regardless of document size; the watermark expires state
    instead of letting it grow for the stream's lifetime (what a naive
    ``dropDuplicates`` on an unbounded stream would do)."""
    hashed = stream_df.withColumn("__h", F.md5(F.col(text_col)))
    return (
        hashed.withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def near_dup_batch_fn(
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> Callable[[DataFrame, int], None]:
    """Build the per-micro-batch admission function used by
    ``foreach_batch_near_dup_filter``. Exposed separately so replay/chaos
    tests can invoke a batch directly (same ``batch_id`` twice) without a
    streaming query wrapping it.

    Per micro-batch (the batch form of the batch-side
    ``dedup.minhash_lsh_pairs``, sharing its build products):

    1. shingle + band the batch (``banded_signature_table``);
    2. candidate-join the batch's ``(band, band_hash)`` rows against the
       PERSISTED index — an equi-join against a parquet table that a real
       deployment partitions by band_hash prefix, so each batch probes a
       sliver of the index, never rescans the admitted corpus;
    3. exact-Jaccard-verify candidates against the stored shingle sets;
       batch docs with a verified match are dropped;
    4. within-batch near-dups collapse to their smallest id (same banded
       self-join, batch-sized);
    5. survivors' rows land in ``out_dir/batch=<id>``; their shingles and
       bands are APPENDED to the index's two ``ManifestVectorSink``
       tables (``<index_dir>/shingles``, ``<index_dir>/bands``) — the
       index is the single source of truth, exactly like the incremental
       BM25 postings (search.py::derive_bm25_tables). Each append carries
       ``(writer, batch_id)``, so a replayed batch commits nothing twice.

    State is the index on storage, not executor memory — unlike
    ``dropDuplicatesWithinWatermark`` (exact hashes, bounded horizon) this
    catches NEAR duplicates with no time horizon. Deterministic: admission
    depends only on previously-admitted content, and batch-internal ties
    resolve to the smallest id."""
    from vectordb_data_ingestion_spark.operators.dedup import (
        banded_signature_table,
        jaccard_of,
    )

    # replay key of this admission stream in the index manifests: stable
    # across restarts of the stream that feeds out_dir
    txn_writer = f"near_dup:{out_dir}"

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        bands_tbl = ManifestVectorSink(
            spark, f"{index_dir}/bands", partition_col=None
        )
        shingles_tbl = ManifestVectorSink(
            spark, f"{index_dir}/shingles", partition_col=None
        )
        sh_tbl, banded = banded_signature_table(
            batch_df, text_col, id_col, num_hashes, bands, shingle_n
        )
        try:
            # foreachBatch is at-least-once: on replay the index already
            # holds THIS batch's own rows (committed before the offset
            # commit crashed), and reading them back would make every
            # previously-kept doc self-match at jaccard 1.0 and be wiped
            # by the out_dir overwrite below. Exclude the current batch's
            # rows (their `batch` column survives compaction).
            own = F.col("batch") != F.lit(int(batch_id))
            idx_bands = bands_tbl.read().filter(own)
            idx_sh = shingles_tbl.read().filter(own)
        except FileNotFoundError:
            # no committed index yet (first batch). Shingles commit before
            # bands, so committed bands always have their shingles; any
            # other read failure (a corrupt index) fails the batch rather
            # than admitting everything unchecked.
            idx_bands = None
            idx_sh = None

        dup_ids = None
        if idx_bands is not None:
            cand = (
                banded.select(F.col(id_col).alias("id_new"), "band", "band_hash")
                .join(
                    idx_bands.select(
                        F.col(id_col).alias("id_old"), "band", "band_hash"
                    ),
                    ["band", "band_hash"],
                )
                .select("id_new", "id_old")
                .dropDuplicates()
            )
            verified = (
                cand.join(
                    sh_tbl.select(F.col(id_col).alias("id_new"), F.col("__sh").alias("sh_new")),
                    "id_new",
                )
                .join(
                    idx_sh.select(F.col(id_col).alias("id_old"), F.col("__sh").alias("sh_old")),
                    "id_old",
                )
                .filter(jaccard_of("sh_new", "sh_old") >= jaccard_threshold)
            )
            dup_ids = verified.select(F.col("id_new").alias(id_col)).distinct()

        survivors = batch_df
        if dup_ids is not None:
            survivors = survivors.join(dup_ids, id_col, "left_anti")

        # within-batch collapse: near-dup pairs keep the smaller id
        surv_sh = sh_tbl.join(survivors.select(id_col), id_col)
        l = surv_sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
        r = surv_sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
        bl = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
        br = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
        intra = (
            bl.join(br, ["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates()
            .join(l, "id_a")
            .join(r, "id_b")
            .filter(jaccard_of("sh_a", "sh_b") >= jaccard_threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        survivors = survivors.join(intra, id_col, "left_anti").localCheckpoint()

        # out_dir: batch-keyed subdir + overwrite, so a RETRIED micro-batch
        # rewrites its own output. The index tables append through their
        # manifests keyed by (writer, batch_id): a replay commits nothing.
        # Shingles commit before bands — a crash between the two leaves
        # shingles nothing probes, never bands without their shingles.
        kept = survivors.select(id_col)
        survivors.write.mode("overwrite").parquet(
            f"{out_dir}/batch={int(batch_id)}"
        )
        tag = F.lit(int(batch_id)).cast("long").alias("batch")
        txn = (txn_writer, int(batch_id))
        shingles_tbl.upsert(sh_tbl.join(kept, id_col).select("*", tag), txn=txn)
        bands_tbl.upsert(banded.join(kept, id_col).select("*", tag), txn=txn)

    return run_batch


def compact_near_dup_index(spark: SparkSession, index_dir: str) -> int:
    """Fold the persisted near-dup index's small per-batch segments
    (``bands/``, ``shingles/``) with the sink's size-tiered
    :meth:`~ManifestVectorSink.compact_small`.

    Why this exists: ``near_dup_batch_fn`` appends one segment per
    micro-batch, so after K batches every admission probe lists and opens
    O(K) segment dirs — the per-batch cost grows with BATCH COUNT even
    when data volume is flat (measured: tools/probe_streaming_state.py).
    A deployment runs this periodically (e.g. every 1000 batches) from
    the maintenance cadence, not inside the hot loop.

    Compaction is one manifest CAS per table: a crash before it leaves
    orphan segments no reader sees, and folded rows keep their ``batch``
    column and the manifest keeps the writer's replay record, so a batch
    replayed after a compaction still excludes its own rows and still
    commits nothing twice. Returns the number of segments merged away
    (0 = nothing to do)."""
    return sum(
        ManifestVectorSink(
            spark, f"{index_dir}/{sub}", partition_col=None
        ).compact_small()
        for sub in ("bands", "shingles")
    )


def compact_ivfpq_codes(spark: SparkSession, index_dir: str) -> int:
    """Fold the ivfpq ``codes/`` table's small segments (the base build
    plus streaming appends, ``foreach_batch_index_append``) with the
    sink's size-tiered compaction; the folded segment keeps the ``cell``
    partitioning the probe pruning reads. Same contract as
    :func:`compact_near_dup_index`. Run from the maintenance cadence."""
    from vectordb_data_ingestion_spark.operators.vector_index import (
        _codes_table,
    )

    return _codes_table(spark, index_dir).compact_small()


def foreach_batch_near_dup_filter(
    stream_df: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
):
    """Wire ``near_dup_batch_fn`` (see its docstring for the admission
    contract) into a checkpointed ``foreachBatch`` streaming writer."""
    run_batch = near_dup_batch_fn(
        index_dir,
        out_dir,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold,
    )
    return (
        stream_df.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
