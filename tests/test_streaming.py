"""Streaming: foreachBatch incremental refresh (delete-then-insert) and the
watermarked windowed rollup, driven hermetically with availableNow."""

import os

import pytest
from pyspark.sql import functions as F

from vectordb_data_ingestion_spark.session import load_tables
from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink
from vectordb_data_ingestion_spark.streaming.incremental import (
    foreach_batch_refresh,
    read_file_stream,
    windowed_event_rollup,
)
from tests.conftest import SF_SMALL


import pytest as _pt


@_pt.fixture(params=["manifest"])
def sink_kind(request):
    """The sink the composed delete-then-insert flows refresh: the
    manifest sink over its file-backed CAS manifest (VERDICT r7 item 6)."""
    return request.param


def _index_rows(spark, path):
    """Rows of one near-dup index table (a partition-less manifest sink)."""
    return ManifestVectorSink(spark, path, partition_col=None).read()


def _segments(spark, path, partition_col=None):
    manifest, _ = ManifestVectorSink(
        spark, path, partition_col=partition_col
    )._get_manifest()
    return manifest["segments"]


def _catalog_df(spark, version: int, urls):
    rows = [(u, f"content v{version} of {u}", version) for u in urls]
    return spark.createDataFrame(rows, "url string, text string, version int")


def test_incremental_refresh_delete_then_insert(spark, tmp_path, sink_kind):
    stream_dir = str(tmp_path / "incoming")
    sink_dir = str(tmp_path / "vectors")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stream_dir)

    sink = ManifestVectorSink(spark, sink_dir, partition_col=None)

    def transform(batch_df):
        return batch_df.select(
            "url",
            F.sha2(F.concat_ws("#", "url", "text"), 256).alias("chunk_id"),
            "text",
            "version",
        )

    schema = _catalog_df(spark, 1, ["u1"]).schema

    def run_once():
        stream = read_file_stream(spark, stream_dir, schema)
        q = foreach_batch_refresh(
            stream,
            transform,
            sink_upsert=sink.upsert,
            sink_delete_where=sink.delete_where,
            key_col="url",
            checkpoint=ckpt,
        ).start()
        q.awaitTermination(120)

    # batch 1: two documents arrive
    _catalog_df(spark, 1, ["u1", "u2"]).write.mode("append").parquet(stream_dir)
    run_once()
    got = {(r["url"], r["version"]) for r in sink.read().collect()}
    assert got == {("u1", 1), ("u2", 1)}

    # batch 2: u1 updated -> its old rows must be deleted, u3 added
    _catalog_df(spark, 2, ["u1", "u3"]).write.mode("append").parquet(stream_dir)
    run_once()
    got = {(r["url"], r["version"]) for r in sink.read().collect()}
    assert got == {("u1", 2), ("u2", 1), ("u3", 2)}


def test_refresh_default_path_is_distributed(spark, tmp_path):
    """The streaming refresh must AUTO-detect ``delete_where_df`` on the
    sink and use it by default (verdict r4): the key-list collect path
    runs only for client sinks that cannot accept a DataFrame. A spy sink
    proves the list form is never invoked, and a million-key synthetic
    batch refreshes without materializing its key set on the driver."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        refresh_batch_fn,
    )

    class SpySink(ManifestVectorSink):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.list_calls = 0
            self.df_calls = 0

        def delete_where(self, col, values):
            self.list_calls += 1
            super().delete_where(col, values)

        def delete_where_df(self, col, keys):
            self.df_calls += 1
            super().delete_where_df(col, keys)

    sink = SpySink(spark, str(tmp_path / "sink"), partition_col=None)
    run_batch = refresh_batch_fn(
        transform=lambda df: df,
        sink_upsert=sink.upsert,
        sink_delete_where=sink.delete_where,
        key_col="url",
    )
    million = spark.range(1_000_000).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.lit(1).alias("version"),
    )
    run_batch(million, 0)
    assert sink.read().count() == 1_000_000
    # replay the same keys with a new version: old rows must be deleted
    # via the DISTRIBUTED form — the list path never fires
    run_batch(million.withColumn("version", F.lit(2)), 1)
    # both batches took the distributed form (batch 0 early-returned on
    # the not-yet-created sink); the list path never fired
    assert (sink.list_calls, sink.df_calls) == (0, 2)
    got = sink.read()
    assert got.count() == 1_000_000
    assert got.filter(F.col("version") == 1).count() == 0

    # explicit None forces the documented key-list fallback
    run_small = refresh_batch_fn(
        transform=lambda df: df,
        sink_upsert=sink.upsert,
        sink_delete_where=sink.delete_where,
        key_col="url",
        sink_delete_where_df=None,
    )
    run_small(million.limit(5).withColumn("version", F.lit(3)), 2)
    assert sink.list_calls == 1


def test_windowed_rollup_matches_batch(spark, tmp_path):
    events = load_tables(spark, SF_SMALL, ("events",))["events"]
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = read_file_stream(spark, src, events.schema)
    rollup = windowed_event_rollup(stream)
    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from rollup_test").collect()
    }

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    # append mode only emits windows closed by the final watermark: every
    # emitted window must match the batch result exactly, and the only
    # missing windows are the tail ones within the 2h watermark horizon
    assert streamed, "stream emitted nothing"
    for key, val in streamed.items():
        assert batch[key] == val, key
    max_ts = max(k[0] for k in batch)
    from datetime import timedelta

    for key in set(batch) - set(streamed):
        assert key[0] >= max_ts - timedelta(hours=2), key


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    from vectordb_data_ingestion_spark.operators.sessions import (
        sessionize,
        sessionize_stream,
    )

    events = load_tables(spark, SF_SMALL, ("events",))["events"].filter(
        F.col("user_id") < 20
    )
    src = str(tmp_path / "sess_src")
    events.write.parquet(src)

    stream = read_file_stream(spark, src, events.schema)
    q = (
        sessionize_stream(stream, gap_seconds=86400, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["user_id"], r["session_idx"]): (
            r["n_events"],
            r["session_start"],
            r["session_end"],
            r["total_value"],
        )
        for r in spark.sql("select * from sessions_test").collect()
    }
    batch = {
        (r["user_id"], r["session_idx"]): (  # both forms 1-based (r5)
            r["n_events"],
            r["session_start"],
            r["session_end"],
            r["total_value"],
        )
        for r in sessionize(events, gap_seconds=86400).collect()
    }
    assert streamed, "stream emitted no sessions"
    # every emitted (closed) session matches the batch result exactly
    for key, val in streamed.items():
        assert batch[key] == val, key
    # only each user's final (still-open-at-EOS) session may be missing
    missing = set(batch) - set(streamed)
    max_idx = {}
    for u, i in batch:
        max_idx[u] = max(max_idx.get(u, -1), i)
    assert all(i == max_idx[u] for u, i in missing), missing


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicate texts arriving in different micro-batches are dropped;
    first arrival survives with its payload intact."""
    from datetime import datetime

    from vectordb_data_ingestion_spark.streaming.incremental import (
        read_file_stream,
        streaming_exact_dedup,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    batch1 = spark.createDataFrame(
        [(1, "alpha beta", datetime(2024, 1, 1, 10, 0)),
         (2, "gamma delta", datetime(2024, 1, 1, 10, 1))],
        "doc_id long, text string, ts timestamp",
    )
    batch2 = spark.createDataFrame(
        [(3, "alpha beta", datetime(2024, 1, 1, 10, 2)),   # dup of doc 1
         (4, "epsilon", datetime(2024, 1, 1, 10, 3))],
        "doc_id long, text string, ts timestamp",
    )
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    batch2.coalesce(1).write.mode("append").parquet(str(src))

    stream = read_file_stream(spark, str(src), batch1.schema, max_files_per_trigger=1)
    deduped = streaming_exact_dedup(stream, text_col="text", ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT doc_id, text FROM dedup_out").collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha beta", "epsilon", "gamma delta"]
    # the first arrival of the duplicated content is the survivor
    assert {r["text"]: r["doc_id"] for r in rows}["alpha beta"] == 1


def test_streaming_ingestion_pipeline_end_to_end(spark, tmp_path):
    """The reference's E1 pipeline as a stream: documents arrive -> clean ->
    chunk -> token count -> deterministic chunk ids -> embed (hermetic fake
    transport) -> delete-then-insert into the vector sink -> the sink is
    queryable with certainty top-k. An update batch must replace the
    document's chunks, and the replacement must be visible to the query."""
    from vectordb_data_ingestion_spark.operators.chunk_pipeline import (
        build_chunk_table,
    )
    from vectordb_data_ingestion_spark.operators.enrichment import (
        _hash_vector,
        deterministic_fake_transport,
        embed_via_api,
    )
    from vectordb_data_ingestion_spark.operators.similarity import (
        topk_by_certainty,
    )

    stream_dir = str(tmp_path / "incoming")
    sink_dir = str(tmp_path / "vectors")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stream_dir)
    sink = ManifestVectorSink(spark, sink_dir, partition_col=None)
    dim = 8

    def transform(batch_df):
        chunks = build_chunk_table(
            batch_df,
            chunk_size=6,
            overlap_fraction=0.0,
            doc_id_col="url",
            kb_prefix=False,
        )
        return embed_via_api(
            chunks,
            deterministic_fake_transport(dim),
            batch_size=16,
        ).select("url", "chunk_id", "chunk_index", "chunk_text", "vector")

    def doc(url, version, body):
        return spark.createDataFrame(
            [(url, body, version)], "url string, text string, version int"
        )

    schema = doc("u", 1, "x").schema

    def run_once():
        stream = read_file_stream(spark, stream_dir, schema)
        q = foreach_batch_refresh(
            stream,
            transform,
            sink_upsert=sink.upsert,
            sink_delete_where=sink.delete_where,
            key_col="url",
            checkpoint=ckpt,
        ).start()
        q.awaitTermination(120)

    body1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    doc("d1", 1, body1).unionByName(
        doc("d2", 1, "one two three four five six seven")
    ).write.mode("append").parquet(stream_dir)
    run_once()

    first = {r["chunk_id"]: r for r in sink.read().collect()}
    assert {r["url"] for r in first.values()} == {"d1", "d2"}
    assert all(len(r["vector"]) == dim for r in first.values())
    # chunk vectors are the deterministic hash embedding of the chunk text
    some = next(iter(first.values()))
    expected = _hash_vector(some["chunk_text"].replace("\n", " "), dim)
    assert [round(float(x), 5) for x in some["vector"]] == [
        round(x, 5) for x in expected
    ]

    # the sink is a similarity-search substrate: querying with a chunk's own
    # vector must return that chunk as the top hit at certainty 1.0
    target = first[sorted(first)[0]]
    hits = topk_by_certainty(
        sink.read(), [(0, [float(x) for x in target["vector"]])], k=1,
        threshold=0.5, corpus_vec="vector", corpus_id="chunk_id",
    ).collect()
    assert hits[0]["chunk_id"] == target["chunk_id"]

    # update d1 -> delete-then-insert must replace its chunks
    doc("d1", 2, "totally different words now appear here instead").write.mode(
        "append"
    ).parquet(stream_dir)
    run_once()
    after = sink.read().filter(F.col("url") == "d1").collect()
    old_d1_texts = {r["chunk_text"] for r in first.values() if r["url"] == "d1"}
    assert {r["chunk_text"] for r in after}.isdisjoint(old_d1_texts)
    # every surviving d1 chunk comes from the v2 body
    v2_words = set("totally different words now appear here instead".split())
    for r in after:
        assert set(r["chunk_text"].split()) <= v2_words
    # d2 untouched by d1's refresh
    d2_after = sink.read().filter(F.col("url") == "d2").count()
    assert d2_after == len([r for r in first.values() if r["url"] == "d2"])


def test_streaming_bm25_index_refresh(spark, tmp_path):
    """The keyword index maintained like the vector store: per micro-batch,
    delete the changed documents' postings and append fresh ones. After
    each refresh, querying the index equals querying the current corpus
    state directly - including after a document's content changes."""
    from vectordb_data_ingestion_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        derive_bm25_tables,
        doc_postings,
    )

    stream_dir = str(tmp_path / "incoming")
    sink_dir = str(tmp_path / "postings")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stream_dir)
    sink = ManifestVectorSink(spark, sink_dir, partition_col=None)

    def doc(doc_id, body):
        return spark.createDataFrame(
            [(doc_id, body)], "doc_id long, text string"
        )

    schema = doc(0, "x").schema

    def run_once():
        stream = read_file_stream(spark, stream_dir, schema)
        q = foreach_batch_refresh(
            stream,
            doc_postings,
            sink_upsert=sink.upsert,
            sink_delete_where=sink.delete_where,
            key_col="doc_id",
            checkpoint=ckpt,
        ).start()
        q.awaitTermination(120)

    corpus_v1 = [
        (1, "spark shuffles data between stages"),
        (2, "vector search finds nearest neighbors"),
        (3, "spark vector pipelines embed documents"),
    ]
    for d, t in corpus_v1:
        doc(d, t).write.mode("append").parquet(stream_dir)
    run_once()

    queries = [(0, ["spark", "vector"])]

    def query_index():
        postings = sink.read().select("term", "doc_id", "dl", "tf")
        terms, stats = derive_bm25_tables(postings)
        return sorted(
            (r["q_id"], r["doc_id"], r["score_micro"], r["rank"])
            for r in bm25_topk_indexed(postings, terms, stats, queries, k=3)
            .collect()
        )

    def query_direct(rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        return sorted(
            (r["q_id"], r["doc_id"], r["score_micro"], r["rank"])
            for r in bm25_topk(docs, queries, k=3).collect()
        )

    assert query_index() == query_direct(corpus_v1)

    # doc 1 rewritten to be all about vectors -> rankings must shift to the
    # post-update corpus on both paths
    corpus_v2 = [(1, "vector vector vector index")] + corpus_v1[1:]
    doc(1, corpus_v2[0][1]).write.mode("append").parquet(stream_dir)
    run_once()
    assert query_index() == query_direct(corpus_v2)


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the equivalent batch
    join on the same data (clicks matched to purchases <=30min before)."""
    from datetime import datetime

    from vectordb_data_ingestion_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    def ts(m):
        return datetime(2024, 1, 1, 10, m)

    clicks = [(1, 7, ts(30)), (2, 7, ts(50)), (3, 8, ts(30))]
    buys = [(7, ts(10), 5.0), (7, ts(29), 6.0), (8, ts(45), 7.0)]
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        clicks, "click_id long, user_id long, ts timestamp"
    ).write.parquet(cdir)
    spark.createDataFrame(
        buys, "user_id long, ts timestamp, amount double"
    ).write.parquet(bdir)

    cstream = spark.readStream.schema(
        "click_id long, user_id long, ts timestamp"
    ).parquet(cdir)
    bstream = spark.readStream.schema(
        "user_id long, ts timestamp, amount double"
    ).parquet(bdir)
    joined = stream_stream_interval_join(
        cstream, bstream, key="user_id", lookback_seconds=1800
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["click_id"], r["r_ts"], r["r_amount"])
        for r in spark.read.parquet(out).collect()
    }
    # click 1 (10:30): buy at 10:10 and 10:29 within 30min; click 2
    # (10:50): only 10:29 is within [10:20, 10:50]; click 3 (10:30):
    # user 8's buy is at 10:45 -> in the future, excluded
    assert got == {
        (1, ts(10), 5.0),
        (1, ts(29), 6.0),
        (2, ts(29), 6.0),
    }


def test_stream_static_enrich_broadcasts(spark, tmp_path):
    from vectordb_data_ingestion_spark.streaming.joins import (
        stream_static_enrich,
    )

    sdir, out = str(tmp_path / "s"), str(tmp_path / "out")
    spark.createDataFrame(
        [(1, "u1"), (2, "u2"), (3, "u9")], "event_id long, url string"
    ).write.parquet(sdir)
    dim = spark.createDataFrame(
        [("u1", "kb"), ("u2", "catalog")], "url string, kind string"
    )
    stream = spark.readStream.schema("event_id long, url string").parquet(sdir)
    q = (
        stream_static_enrich(stream, dim, key="url")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["event_id"], r["kind"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "kb"), (2, "catalog"), (3, None)}


def test_streaming_near_dup_filter(spark, tmp_path):
    """Incremental MinHash/LSH admission: batch 2's near-copy of a batch-1
    doc is rejected against the persisted index, within-batch near-dups
    collapse to the smallest id, and distinct docs are admitted. One
    availableNow run with maxFilesPerTrigger=1 -> two real micro-batches."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        foreach_batch_near_dup_filter,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long tune about distributed systems and shuffle free joins"
    )
    other = (
        "completely different content about product quantization codebooks "
        "inverted files and approximate nearest neighbor retrieval at scale"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    wave1 = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, text string"
    )
    # near-copy of doc 0 (one word changed), a fresh doc, and an intra-batch
    # near-dup pair (3 ~ 4): 4 must collapse into 3, 2 must be rejected
    wave2 = spark.createDataFrame(
        [
            (2, base.replace("lazy", "sleepy")),
            (3, "unique payload alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (4, "unique payload alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        ],
        "doc_id long, text string",
    )
    wave1.coalesce(1).write.parquet(str(in_dir / "w1"))
    wave2.coalesce(1).write.parquet(str(in_dir / "w2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*")
    )
    q = foreach_batch_near_dup_filter(
        stream,
        index_dir=str(tmp_path / "index"),
        out_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        jaccard_threshold=0.5,
    ).start()
    q.awaitTermination(120)

    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert 0 in admitted and 1 in admitted
    assert 2 not in admitted  # near-copy of admitted doc 0
    assert 3 in admitted and 4 not in admitted  # intra-batch collapse
    # the index grew only by survivors
    idx_ids = sorted(
        r["doc_id"]
        for r in _index_rows(spark, str(tmp_path / "index/shingles"))
        .select("doc_id")
        .collect()
    )
    assert idx_ids == admitted  # one shingle row per admitted doc


def test_streaming_vector_index_append(spark, tmp_path):
    """Frozen-quantizer incremental index maintenance: vectors streamed
    after the initial build are queryable immediately, and the grown index
    answers identically to a full rebuild over the union."""
    from vectordb_data_ingestion_spark.operators.pq import pq_train
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        foreach_batch_index_append,
        load_ivfpq_index,
        query_ivfpq_index,
    )

    emb = (
        spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .cache()
    )
    initial = emb.filter(F.col("vec_id") < 400)
    late = emb.filter(F.col("vec_id") >= 400)
    cb = pq_train(initial, m=8, dim=64, k=4, iterations=1).cache()
    centroids = initial.filter(F.col("vec_id") % 25 == 2).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_embedding"),
    ).cache()
    idx_dir = str(tmp_path / "idx")
    build_ivfpq_index(initial, centroids, cb, idx_dir, m=8, dim=64)

    stream_src = tmp_path / "stream_in"
    late.coalesce(1).write.parquet(str(stream_src))
    stream = spark.readStream.schema(late.schema).parquet(str(stream_src))
    q = foreach_batch_index_append(
        stream, idx_dir, checkpoint=str(tmp_path / "ckpt"), m=8, dim=64
    ).start()
    q.awaitTermination(120)

    index = load_ivfpq_index(spark, idx_dir, m=8, dim=64)
    assert index.codes.count() == emb.count()
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 450).collect()[0]["embedding"]
    ]
    grown = query_ivfpq_index(index, qv, k=10, n_probe=3).collect()
    assert any(r["vec_id"] >= 400 for r in grown)  # late vectors retrievable

    # parity vs a full rebuild over the union with the same frozen
    # quantizer/codebooks
    rebuilt_dir = str(tmp_path / "idx_full")
    build_ivfpq_index(emb, centroids, cb, rebuilt_dir, m=8, dim=64)
    full = query_ivfpq_index(
        load_ivfpq_index(spark, rebuilt_dir, m=8, dim=64), qv, k=10, n_probe=3
    ).collect()
    assert [tuple(r) for r in grown] == [tuple(r) for r in full]


def test_near_dup_replay_same_batch_id_no_data_loss(spark, tmp_path):
    """At-least-once replay drill: a micro-batch whose index/output writes
    completed but whose offset commit did not is re-run with the SAME
    batch_id. Before the fix, the re-run read its own batch=N index rows,
    self-matched every kept doc at jaccard 1.0, and the overwrite wiped the
    batch from both output and index. After: replay is a no-op rewrite."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        near_dup_batch_fn,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "a long tune about distributed systems and shuffle free joins"
    )
    other = (
        "completely different content about product quantization codebooks "
        "inverted files and approximate nearest neighbor retrieval at scale"
    )
    out_dir = str(tmp_path / "out")
    run_batch = near_dup_batch_fn(
        index_dir=str(tmp_path / "index"),
        out_dir=out_dir,
        jaccard_threshold=0.5,
    )

    wave1 = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, text string"
    )
    run_batch(wave1, 0)
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    )
    assert first == [0, 1]

    # crash-after-write, before offset commit -> engine replays batch 0
    run_batch(wave1, 0)
    replayed = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    )
    assert replayed == [0, 1]  # no loss, no dupes

    # a later batch still dedups against the (replayed) index: near-copy of
    # doc 0 rejected, fresh doc admitted — and ITS replay also holds
    wave2 = spark.createDataFrame(
        [
            (2, base.replace("lazy", "sleepy")),
            (3, "unique payload alpha beta gamma delta epsilon zeta eta"),
        ],
        "doc_id long, text string",
    )
    run_batch(wave2, 1)
    run_batch(wave2, 1)
    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    )
    assert admitted == [0, 1, 3]
    idx_ids = sorted(
        r["doc_id"]
        for r in _index_rows(spark, str(tmp_path / "index/shingles"))
        .select("doc_id")
        .collect()
    )
    assert idx_ids == admitted  # one shingle row per admitted doc


def test_refresh_replay_same_batch_id_no_dupes(spark, tmp_path, sink_kind):
    """Replay drill for the delete-then-insert refresh: re-running a batch
    with the same batch_id after its sink writes completed must leave the
    sink identical (delete clears the crashed attempt's rows first)."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        refresh_batch_fn,
    )

    sink = ManifestVectorSink(
        spark, str(tmp_path / "vectors"), partition_col=None
    )

    def transform(batch_df):
        return batch_df.select(
            "url",
            F.sha2(F.concat_ws("#", "url", "text"), 256).alias("chunk_id"),
            "text",
            "version",
        )

    run_batch = refresh_batch_fn(
        transform, sink.upsert, sink.delete_where, key_col="url"
    )
    b1 = _catalog_df(spark, 1, ["u1", "u2"])
    run_batch(b1, 0)
    run_batch(b1, 0)  # replay
    got = [(r["url"], r["version"]) for r in sink.read().collect()]
    assert sorted(got) == [("u1", 1), ("u2", 1)]  # exactly once, no dupes

    b2 = _catalog_df(spark, 2, ["u1", "u3"])
    run_batch(b2, 1)
    run_batch(b2, 1)  # replay of the update batch
    got = [(r["url"], r["version"]) for r in sink.read().collect()]
    assert sorted(got) == [("u1", 2), ("u2", 1), ("u3", 2)]


def test_index_append_replay_same_batch_id_no_dupes(spark, tmp_path):
    """Replay drill for the vector-index appender (verdict r3 item 8): a
    micro-batch whose ``batch=N`` codes write completed but whose offset
    commit did not is re-run with the SAME batch_id (fresh checkpoint over
    the same source). The batch-keyed overwrite must rewrite, not
    double-append, and stored-index queries must equal a full rebuild."""
    from vectordb_data_ingestion_spark.operators.pq import pq_train
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        foreach_batch_index_append,
        load_ivfpq_index,
        query_ivfpq_index,
    )

    emb = (
        spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
        .select("vec_id", "embedding")
    )
    initial = emb.filter(F.col("vec_id") < 300)
    late = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 360))
    cb = pq_train(initial, m=8, dim=64, k=4, iterations=1)
    centroids = initial.filter(F.col("vec_id") % 25 == 2).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_embedding"),
    )
    idx_dir = str(tmp_path / "idx")
    build_ivfpq_index(initial, centroids, cb, idx_dir, m=8, dim=64)

    stream_src = tmp_path / "stream_in"
    late.coalesce(1).write.parquet(str(stream_src))

    def run(ckpt):
        stream = spark.readStream.schema(late.schema).parquet(
            str(stream_src)
        )
        q = foreach_batch_index_append(
            stream, idx_dir, checkpoint=str(tmp_path / ckpt), m=8, dim=64
        ).start()
        q.awaitTermination(120)

    run("ckpt_a")
    # crash-after-write, before offset commit: the engine replays batch 0
    # with the same batch_id — modeled by a second pass from a fresh
    # checkpoint over the same source
    run("ckpt_b")

    index = load_ivfpq_index(spark, idx_dir, m=8, dim=64)
    expect = initial.count() + late.count()
    assert index.codes.count() == expect  # no double-append
    assert (
        index.codes.select("vec_id").distinct().count() == expect
    )

    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 330).collect()[0]["embedding"]
    ]
    replayed = query_ivfpq_index(index, qv, k=10, n_probe=3).collect()
    rebuilt_dir = str(tmp_path / "idx_full")
    build_ivfpq_index(
        emb.filter(F.col("vec_id") < 360), centroids, cb, rebuilt_dir,
        m=8, dim=64,
    )
    full = query_ivfpq_index(
        load_ivfpq_index(spark, rebuilt_dir, m=8, dim=64), qv, k=10, n_probe=3
    ).collect()
    assert [tuple(r) for r in replayed] == [tuple(r) for r in full]


def test_bm25_refresh_replay_same_batch_id(spark, tmp_path):
    """Replay drill for the BM25 postings refresh: re-running a committed
    micro-batch with the same batch_id must leave the postings sink
    identical (delete-then-upsert clears the first attempt's rows), and
    indexed queries must still equal querying the corpus directly."""
    from vectordb_data_ingestion_spark.operators.search import (
        bm25_topk,
        bm25_topk_indexed,
        derive_bm25_tables,
        doc_postings,
    )
    from vectordb_data_ingestion_spark.streaming.incremental import (
        refresh_batch_fn,
    )

    sink = ManifestVectorSink(
        spark, str(tmp_path / "postings"), partition_col=None
    )
    run_batch = refresh_batch_fn(
        doc_postings, sink.upsert, sink.delete_where, key_col="doc_id"
    )

    corpus = [
        (1, "spark shuffles data between stages"),
        (2, "vector search finds nearest neighbors"),
        (3, "spark vector pipelines embed documents"),
    ]
    batch = spark.createDataFrame(corpus, "doc_id long, text string")
    run_batch(batch, 0)
    once = sorted(map(tuple, sink.read().collect()))
    run_batch(batch, 0)  # replay with the same batch_id
    assert sorted(map(tuple, sink.read().collect())) == once

    queries = [(0, ["spark", "vector"])]
    postings = sink.read().select("term", "doc_id", "dl", "tf")
    terms, stats = derive_bm25_tables(postings)
    via_index = sorted(
        (r["q_id"], r["doc_id"], r["score_micro"], r["rank"])
        for r in bm25_topk_indexed(postings, terms, stats, queries, k=3)
        .collect()
    )
    direct = sorted(
        (r["q_id"], r["doc_id"], r["score_micro"], r["rank"])
        for r in bm25_topk(batch, queries, k=3).collect()
    )
    assert via_index == direct

    # an update batch replayed: doc 2's rewrite lands exactly once
    upd = spark.createDataFrame(
        [(2, "spark spark spark everywhere")], "doc_id long, text string"
    )
    run_batch(upd, 1)
    run_batch(upd, 1)
    n_doc2_terms = (
        sink.read().filter(F.col("doc_id") == 2).count()
    )
    assert n_doc2_terms == sink.read().filter(
        F.col("doc_id") == 2
    ).dropDuplicates(["term"]).count()  # no duplicated postings rows


def test_watermark_drops_beyond_horizon_event(spark, tmp_path):
    """The drop side of the watermark contract: an event older than the
    watermark arriving in a LATER micro-batch must be discarded — the
    already-finalized window keeps its count and is never re-emitted
    (a second append-mode row for the same window would double-count
    downstream consumers). The fresh-window path keeps working after.
    One always-on query, two file drops (memory sinks cannot recover
    from a checkpoint, so no stop/restart here)."""
    from datetime import datetime

    stream_dir = str(tmp_path / "ev")
    ckpt = str(tmp_path / "ckpt_wm")
    os.makedirs(stream_dir)
    schema = "ts timestamp, event_type string, value double"

    def drop(rows):
        spark.createDataFrame(
            [(datetime(2026, 1, 1, *hm), et, v) for hm, et, v in rows],
            schema,
        ).coalesce(1).write.mode("append").parquet(stream_dir)

    # batch 1: three events in the 10:00 window; a 14:00 event drags the
    # max event time forward so the watermark (2h delay) passes 11:00 and
    # finalizes the 10:00 window
    drop([((10, 5), "click", 1.0), ((10, 20), "click", 2.0),
          ((10, 40), "click", 3.0), ((14, 0), "view", 1.0)])

    stream = read_file_stream(
        spark, stream_dir, spark.createDataFrame([], schema).schema
    )
    q = (
        windowed_event_rollup(stream)
        .writeStream.format("memory")
        .queryName("wm_drill")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()

        def emitted():
            return {
                (r["window_start"].hour, r["event_type"]): r["n_events"]
                for r in spark.sql("select * from wm_drill").collect()
            }

        assert emitted()[(10, "click")] == 3

        # batch 2: a 10:30 straggler is beyond the 12:00 watermark ->
        # dropped; a 17:00 event closes the 14:00 window
        drop([((10, 30), "click", 99.0), ((17, 0), "view", 1.0)])
        q.processAllAvailable()
        out = spark.sql("select * from wm_drill").collect()
        ten = [r for r in out if r["window_start"].hour == 10]
        assert len(ten) == 1, "finalized window re-emitted"
        assert ten[0]["n_events"] == 3 and ten[0]["total_value"] == 6.0
        assert emitted()[(14, "view")] == 1
    finally:
        q.stop()


def test_incremental_refresh_with_distributed_delete(spark, tmp_path, sink_kind):
    """Same delete-then-insert contract as the default path, with the
    key set staying distributed (sink_delete_where_df wiring)."""
    stream_dir = str(tmp_path / "incoming")
    sink_dir = str(tmp_path / "vectors")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stream_dir)
    sink = ManifestVectorSink(spark, sink_dir, partition_col=None)

    def transform(batch_df):
        return batch_df.select(
            "url",
            F.sha2(F.concat_ws("#", "url", "text"), 256).alias("chunk_id"),
            "text",
            "version",
        )

    schema = _catalog_df(spark, 1, ["u1"]).schema

    def run_once():
        stream = read_file_stream(spark, stream_dir, schema)
        q = foreach_batch_refresh(
            stream,
            transform,
            sink_upsert=sink.upsert,
            sink_delete_where=sink.delete_where,
            key_col="url",
            checkpoint=ckpt,
            sink_delete_where_df=sink.delete_where_df,
        ).start()
        q.awaitTermination(120)

    _catalog_df(spark, 1, ["u1", "u2"]).write.mode("append").parquet(
        stream_dir
    )
    run_once()
    _catalog_df(spark, 2, ["u1", "u3"]).write.mode("append").parquet(
        stream_dir
    )
    run_once()
    got = {(r["url"], r["version"]) for r in sink.read().collect()}
    assert got == {("u1", 2), ("u2", 1), ("u3", 2)}


def test_sessionize_stream_late_events_and_unique_idx(spark, tmp_path):
    """Review r5 pins: (a) a within-watermark LATE event extends the open
    session's span — the old code regressed last_us, emitting
    session_end < session_start and splitting on a negative 'gap';
    (b) after an event-time timeout the per-user index state survives, so
    a returning user's next session gets a NEW session_idx instead of a
    duplicate key."""
    import datetime as dt

    from vectordb_data_ingestion_spark.operators.sessions import (
        sessionize_stream,
    )
    from vectordb_data_ingestion_spark.streaming.incremental import (
        read_file_stream,
    )

    def ts(sec):
        return dt.datetime(2026, 1, 1) + dt.timedelta(seconds=sec)

    schema = "event_id long, ts timestamp, user_id long, value double"
    src = tmp_path / "late_src"
    src.mkdir()
    # file order == micro-batch order (maxFilesPerTrigger=1); lexicographic
    batches = [
        [(1, ts(1000), 7, 1.0)],
        # late-but-in-watermark 500s + in-gap 2500s: ONE session [500,2500]
        [(2, ts(500), 7, 1.0), (3, ts(2500), 7, 1.0)],
        # far jump: closes [500,2500] by gap, opens session 2
        [(4, ts(100_000), 7, 1.0)],
        # another user far in the future: advances the watermark so user
        # 7's second session times out -> emitted with idx 2, not 1
        [(5, ts(500_000), 8, 1.0)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )

    stream = read_file_stream(
        spark,
        str(src) + "/*",
        spark.createDataFrame([], schema).schema,
        max_files_per_trigger=1,
    )
    q = (
        sessionize_stream(stream, gap_seconds=1800, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_idx"]): (
            r["n_events"], r["session_start"], r["session_end"]
        )
        for r in spark.sql("select * from late_sessions").collect()
    }
    assert got[(7, 1)] == (3, ts(500), ts(2500))  # late event merged
    assert (7, 2) in got  # unique idx after the timeout-closed session
    assert got[(7, 2)][0] == 1


def test_near_dup_index_compaction_preserves_admission(spark, tmp_path):
    """compact_near_dup_index folds the per-batch index segments with the
    sink's compact_small without changing ANY admission verdict: a
    near-copy of a pre-compaction doc is still rejected, a fresh doc is
    still admitted (also on replay of the same batch id), and a second
    compaction folds the compacted segment with the newer batch. With one
    segment per table left it is a no-op."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        compact_near_dup_index,
        near_dup_batch_fn,
    )

    index_dir = str(tmp_path / "index")
    run_batch = near_dup_batch_fn(
        index_dir=index_dir, out_dir=str(tmp_path / "out"),
        jaccard_threshold=0.5,
    )
    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        1: "one two three four five six seven eight nine ten eleven",
        2: "red orange yellow green blue indigo violet umber ochre teal",
    }
    for i in (0, 1, 2):
        run_batch(
            spark.createDataFrame(
                [(i, texts[i])], "doc_id long, text string"
            ),
            i,
        )
    assert len(_segments(spark, f"{index_dir}/bands")) == 3

    # every batch's segment folds, in both tables
    assert compact_near_dup_index(spark, index_dir) == 6
    assert len(_segments(spark, f"{index_dir}/bands")) == 1
    assert len(_segments(spark, f"{index_dir}/shingles")) == 1

    # admission against the compacted index: near-copy of doc 1 rejected,
    # fresh doc admitted — including on replay of the same batch id
    wave = spark.createDataFrame(
        [
            (10, texts[1].replace("eleven", "twelve")),
            (11, "fresh payload entirely disjoint tokens mu nu xi omicron"),
        ],
        "doc_id long, text string",
    )
    run_batch(wave, 3)
    run_batch(wave, 3)  # at-least-once replay
    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert admitted == [0, 1, 2, 11]

    # compacting again folds {compacted, batch 3} per table
    assert compact_near_dup_index(spark, index_dir) == 4
    assert len(_segments(spark, f"{index_dir}/bands")) == 1
    assert compact_near_dup_index(spark, index_dir) == 0

    # the full verdict history survives both compactions
    run_batch(
        spark.createDataFrame(
            [(20, texts[2] + " extra")], "doc_id long, text string"
        ),
        4,
    )
    final = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert final == [0, 1, 2, 11]  # near-copy of doc 2 rejected post-compact
    idx_ids = sorted(
        r["doc_id"]
        for r in _index_rows(spark, f"{index_dir}/shingles").collect()
    )
    assert idx_ids == [0, 1, 2, 11]


def test_compaction_then_replay_loses_and_duplicates_nothing(spark, tmp_path):
    """The maintenance-window hazard (ADVICE r6): the stream crashed after
    committing batch N's index rows but BEFORE its checkpoint commit, then
    compaction folded every segment (batch N's included), then the stream
    restarted and replayed batch N. The replay must lose nothing (its own
    folded rows must not self-match its docs away at jaccard 1.0) and
    duplicate nothing (the folded manifest still records batch N)."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        compact_near_dup_index,
        near_dup_batch_fn,
    )

    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    run_batch = near_dup_batch_fn(
        index_dir=index_dir, out_dir=out_dir, jaccard_threshold=0.5
    )
    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        1: "one two three four five six seven eight nine ten eleven",
        2: "red orange yellow green blue indigo violet umber ochre teal",
    }
    waves = {
        i: spark.createDataFrame([(i, texts[i])], "doc_id long, text string")
        for i in texts
    }
    run_batch(waves[0], 0)
    run_batch(waves[1], 1)
    # batch 2: writes land, offset commit does NOT (crash) — the engine
    # will replay this exact batch_id on restart
    run_batch(waves[2], 2)
    n_bands = _index_rows(spark, f"{index_dir}/bands").count()

    # maintenance window: compaction folds all three batches
    assert compact_near_dup_index(spark, index_dir) == 6

    # restart: the replay must be a lossless, duplicate-free no-op
    run_batch(waves[2], 2)
    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    )
    assert admitted == [0, 1, 2]  # doc 2 NOT self-matched away
    idx_ids = sorted(
        r["doc_id"]
        for r in _index_rows(spark, f"{index_dir}/shingles").collect()
    )
    assert idx_ids == [0, 1, 2]  # one row each: nothing appended twice
    assert _index_rows(spark, f"{index_dir}/bands").count() == n_bands


def _small_ivfpq(spark, tmp_path, n=200, dim=16, m=4):
    """Build a tiny persisted ivfpq index + return (out_dir, emb, query)."""
    import numpy as np

    from vectordb_data_ingestion_spark.operators.pq import pq_train
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
    )

    rng = np.random.default_rng(3)
    x = rng.normal(size=(n, dim)) + 2.0
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [float(v) for v in x[: n // 2].mean(axis=0)]),
         (1, [float(v) for v in x[n // 2:].mean(axis=0)])],
        "c_id long, c_embedding array<double>",
    )
    books = pq_train(emb, m, dim, k=8, iterations=1)
    out = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, cents, books, out, m=m, dim=dim)
    return out, x


def test_compact_ivfpq_codes_preserves_queries(spark, tmp_path):
    """codes/ compaction folds the base build's segment and the streaming
    appends' segments into one, WITH the cell partitioning intact, and
    query results are bit-identical before and after."""
    import numpy as np

    from vectordb_data_ingestion_spark.operators.vector_index import (
        foreach_batch_index_append,
        load_ivfpq_index,
        query_ivfpq_index,
    )
    from vectordb_data_ingestion_spark.streaming.incremental import (
        compact_ivfpq_codes,
    )

    out, x = _small_ivfpq(spark, tmp_path)
    dim = x.shape[1]
    rng = np.random.default_rng(9)

    # two streaming appends -> base segment + one segment per batch
    inc = str(tmp_path / "inc")
    for wave in range(2):
        spark.createDataFrame(
            [(1000 + wave * 10 + i,
              [float(v) for v in rng.normal(size=dim) + 2.0])
             for i in range(5)],
            "vec_id long, embedding array<double>",
        ).write.mode("append").parquet(inc)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(inc)
        q = foreach_batch_index_append(
            stream, out, str(tmp_path / "ckpt"), m=4, dim=dim
        ).start()
        q.awaitTermination(120)

    codes = os.path.join(out, "codes")
    assert len(_segments(spark, codes, "cell")) == 3

    qv = [float(v) for v in x[7]]
    before = [
        (r["vec_id"], r["adc"])
        for r in query_ivfpq_index(
            load_ivfpq_index(spark, out), qv, k=8, n_probe=2
        ).collect()
    ]
    assert compact_ivfpq_codes(spark, out) == 3
    (seg,) = _segments(spark, codes, "cell")
    # the folded segment keeps cell= partitioning (probe pruning)
    seg_dir = os.path.join(codes, "_data", seg["dir"])
    assert all(
        d.startswith("cell=")
        for d in os.listdir(seg_dir)
        if not d.startswith(("_", "."))
    )
    idx = load_ivfpq_index(spark, out)
    assert idx.codes.count() == 210
    after = [
        (r["vec_id"], r["adc"])
        for r in query_ivfpq_index(idx, qv, k=8, n_probe=2).collect()
    ]
    assert after == before


def test_ivfpq_fold_crash_recovery(spark, tmp_path):
    """A codes compaction that crashes at its manifest CAS leaves nothing
    to recover: the folded segment is an orphan no manifest names, and
    the index keeps serving every row exactly once. A CAS whose put
    landed but whose response was lost also serves every row once, and
    vacuum reclaims the crashed attempt's orphan."""
    from vectordb_data_ingestion_spark.operators.vector_index import (
        _codes_table,
        load_ivfpq_index,
        query_ivfpq_index,
    )
    from vectordb_data_ingestion_spark.sinks.commit_store import (
        FileConditionalStore,
    )
    from vectordb_data_ingestion_spark.streaming.incremental import (
        compact_ivfpq_codes,
    )

    out, x = _small_ivfpq(spark, tmp_path)
    tbl = _codes_table(spark, out)
    # a second segment so the compaction has something to fold
    tbl.upsert(tbl.read().withColumn("vec_id", F.col("vec_id") + 10_000))
    qv = [float(v) for v in x[7]]

    def served():
        idx = load_ivfpq_index(spark, out)
        ids = [r["vec_id"] for r in idx.codes.select("vec_id").collect()]
        hits = [
            (r["vec_id"], r["adc"])
            for r in query_ivfpq_index(idx, qv, k=8, n_probe=2).collect()
        ]
        return sorted(ids), hits

    ids, truth = served()
    assert len(ids) == len(set(ids)) == 400

    orig = FileConditionalStore.put_if

    def crash_at_cas(self, key, data, token):
        if key == "MANIFEST":
            raise RuntimeError("injected crash at the manifest CAS")
        return orig(self, key, data, token)

    FileConditionalStore.put_if = crash_at_cas
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            compact_ivfpq_codes(spark, out)
    finally:
        FileConditionalStore.put_if = orig
    assert served() == (ids, truth)
    assert len(_segments(spark, os.path.join(out, "codes"), "cell")) == 2

    lied = []

    def lost_response(self, key, data, token):
        ok = orig(self, key, data, token)
        if key == "MANIFEST" and ok and not lied:
            lied.append(key)
            return False  # the put landed; its response was lost
        return ok

    FileConditionalStore.put_if = lost_response
    try:
        assert compact_ivfpq_codes(spark, out) == 2
    finally:
        FileConditionalStore.put_if = orig
    assert lied
    assert served() == (ids, truth)
    assert len(_segments(spark, os.path.join(out, "codes"), "cell")) == 1
    assert tbl.vacuum(retain_versions=0) >= 1  # the crashed fold's orphan
    assert served() == (ids, truth)
