"""Sinks: the manifest parquet vector sink (upsert/read/delete_where) and
the batched external-client sink (foreachPartition, batching, backoff
retry, predicate delete) against a file-backed fake client."""

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_data_ingestion_spark.sinks import manifest_sink
from vectordb_data_ingestion_spark.sinks.fake_client import FileBackedClient
from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink
from vectordb_data_ingestion_spark.sinks.vector_store import BatchingClientSink


def _chunk_df(spark, n=10):
    rows = [
        (f"chunk{i:03d}", [float(i), 1.0], f"doc{i % 3}", f"text {i}", "2024-01-01")
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "chunk_id string, vector array<double>, url string, text string, load_dt string",
    )


def test_parquet_sink_roundtrip_and_delete(spark, tmp_path):
    # default load_dt partitioning: a non-partition delete is an anti-join
    sink = ManifestVectorSink(spark, str(tmp_path / "vectors"))
    sink.upsert(_chunk_df(spark))
    assert sink.read().count() == 10

    sink.delete_where("url", ["doc0"])
    remaining = sink.read()
    assert remaining.count() == 6
    assert remaining.filter(F.col("url") == "doc0").count() == 0

    # delete-then-insert refresh: re-add doc0 rows
    sink.upsert(_chunk_df(spark).filter(F.col("url") == "doc0"))
    assert sink.read().count() == 10


def test_batching_sink_upsert(spark, tmp_path):
    base = str(tmp_path / "store")
    os.makedirs(base)
    sink = BatchingClientSink(
        lambda: FileBackedClient(base), "Chunks", batch_size=3
    )
    sink.ensure_class([{"name": "text"}, {"name": "url"}])
    sink.upsert(_chunk_df(spark).repartition(2), property_cols=["url", "text"])

    objs = FileBackedClient.read_objects(base)
    assert len(objs) == 10
    assert {o["id"] for o in objs} == {f"chunk{i:03d}" for i in range(10)}
    assert all(isinstance(o["vector"], list) for o in objs)
    # batching respected: no file holds more than batch_size objects
    for fp in glob.glob(os.path.join(base, "batch_*.jsonl")):
        assert len(open(fp).readlines()) <= 3
    assert os.path.exists(os.path.join(base, "_class_Chunks"))


def test_batching_sink_retries_transient_failures(spark, tmp_path):
    base = str(tmp_path / "flaky")
    os.makedirs(base)
    sink = BatchingClientSink(
        lambda: FileBackedClient(base, fail_first=2),
        "Chunks",
        batch_size=100,
        max_retries=5,
    )
    sink.upsert(_chunk_df(spark).coalesce(1), property_cols=["url"])
    assert len(FileBackedClient.read_objects(base)) == 10


@pytest.mark.parametrize("extra_failures,loads", [(0, True), (1, False)])
def test_batching_sink_retry_boundary(spark, tmp_path, extra_failures, loads):
    """``max_retries`` counts retries after the first attempt: a batch that
    fails exactly ``max_retries`` times still lands, one more failure
    surfaces to the caller."""
    base = str(tmp_path / f"edge{extra_failures}")
    os.makedirs(base)
    max_retries = 2
    sink = BatchingClientSink(
        lambda: FileBackedClient(
            base, fail_first=max_retries + extra_failures
        ),
        "Chunks",
        batch_size=100,
        max_retries=max_retries,
    )
    df = _chunk_df(spark).coalesce(1)
    if loads:
        sink.upsert(df, property_cols=["url"])
        assert len(FileBackedClient.read_objects(base)) == 10
    else:
        with pytest.raises(Exception, match="transient store failure"):
            sink.upsert(df, property_cols=["url"])
        assert FileBackedClient.read_objects(base) == []


def test_batching_sink_delete_where(spark, tmp_path):
    base = str(tmp_path / "del")
    os.makedirs(base)
    sink = BatchingClientSink(lambda: FileBackedClient(base), "Chunks", batch_size=4)
    sink.upsert(_chunk_df(spark).coalesce(1), property_cols=["url", "text"])
    sink.delete_where("url", ["doc1", "doc2"])
    objs = FileBackedClient.read_objects(base)
    assert {o["properties"]["url"] for o in objs} == {"doc0"}


def _staged(writer, ids):
    """One task's ``write``: an Arrow batch of ``chunk_id`` rows staged as
    a segment dir; returns its commit message."""
    import pyarrow as pa

    batch = pa.RecordBatch.from_pylist([{"chunk_id": i} for i in ids])
    return writer.write(iter([batch]))


def _ids(sink):
    return sorted(r["chunk_id"] for r in sink.read().collect())


def test_vector_store_datasource_writer_commit_protocol(spark, tmp_path):
    """Two-phase load over the manifest sink: each task stages one
    segment, commit publishes them in one CAS, and
    ``ManifestVectorSink.read()`` returns exactly the written rows
    (vectors intact) as one pinned scan; an orphaned staged segment stays
    invisible; append grows the sink; abort drops staged segments."""
    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreDataSource,
        VectorStoreWriter,
    )
    from tests.conftest import jobs_during

    spark.dataSource.register(VectorStoreDataSource)
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(f"c{i}", f"text {i}", [float(i), 0.5]) for i in range(10)],
        "chunk_id string, text string, vector array<double>",
    ).repartition(3)
    df.write.format("vector_store").option("path", path).mode("append").save()

    sink = ManifestVectorSink(spark, path, partition_col=None)
    got, jobs = jobs_during(spark, sink.read)
    assert jobs == 0  # pinned to the manifest's table schema: no inference
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1  # all 3 segments, one scan
    assert got.schema == df.schema
    assert got.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert sorted(got.collect()) == sorted(df.collect())
    manifest, _ = sink._get_manifest()
    assert manifest["commit_id"] == 1  # every task's segment, one CAS
    assert len(manifest["segments"]) == 3

    # an orphaned staged segment (in-flight/aborted task) is NOT visible
    w = VectorStoreWriter(path, T.StructType.fromDDL("chunk_id string"), False)
    orphan = _staged(w, ["ghost"])
    assert "ghost" not in _ids(sink)

    # append mode: a second load extends the sink
    df.limit(2).write.format("vector_store").option("path", path).mode(
        "append"
    ).save()
    assert sink.read().count() == 12

    # abort() drops staged-but-uncommitted segments; empty tasks stage none
    w.abort([orphan, None, _staged(w, [])])
    assert not os.path.exists(os.path.join(path, "_data", orphan.dir))
    assert sink.read().count() == 12

    # the writer takes one option
    with pytest.raises(Exception, match="exactly one option"):
        df.write.format("vector_store").option("path", path).option(
            "class_name", "KB"
        ).mode("append").save()


def test_vector_store_writer_overwrite_retires_spool_and_vacuum(spark, tmp_path):
    """Overwrite makes the new load the whole segment list in one CAS; the
    replaced load stays readable through ``read_at`` until the sink's
    ``vacuum`` reclaims it along with orphans, never a committed file."""
    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreDataSource,
        VectorStoreWriter,
    )

    spark.dataSource.register(VectorStoreDataSource)
    path = str(tmp_path / "store2")
    df = spark.createDataFrame([(f"c{i}",) for i in range(4)], ["chunk_id"])
    df.write.format("vector_store").option("path", path).mode("append").save()
    sink = ManifestVectorSink(spark, path, partition_col=None)
    first = sink.current_commit_id()
    replaced = len(sink._get_manifest()[0]["segments"])
    df.limit(2).write.format("vector_store").option("path", path).mode(
        "overwrite"
    ).save()
    assert sink.read().count() == 2
    assert sink.read_at(first).count() == 4
    # vacuum reclaims the replaced segments and an orphan (a dead task's
    # leftover), but not the committed load
    _staged(VectorStoreWriter(path, df.schema, False), ["orphan"])
    assert sink.vacuum() == replaced + 1
    live = {s["dir"] for s in sink._get_manifest()[0]["segments"]}
    assert set(os.listdir(os.path.join(path, "_data"))) == live
    assert sink.read().count() == 2
    # overwriting with no rows empties the sink
    df.limit(0).write.format("vector_store").option("path", path).mode(
        "overwrite"
    ).save()
    assert sink._get_manifest()[0]["segments"] == []
    with pytest.raises(FileNotFoundError):
        sink.read()


def test_vector_store_append_adds_a_column(spark, tmp_path):
    """Spark runs a Python data source's commit with no SparkSession, so
    the writer's commit merges an add-column writer schema without the
    analyzer: the append lands, and older rows read NULL for the new
    column. A type widening still needs the analyzer and still fails."""
    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreDataSource,
    )

    spark.dataSource.register(VectorStoreDataSource)
    path = str(tmp_path / "store3")

    def append(rows, ddl):
        spark.createDataFrame(rows, ddl).write.format("vector_store").option(
            "path", path
        ).mode("append").save()

    append([("a", 1), ("b", 2)], "chunk_id string, v int")
    append(
        [("c", 3, [1.0, 0.5])], "chunk_id string, v int, vector array<double>"
    )
    sink = ManifestVectorSink(spark, path, partition_col=None)
    got = sink.read()
    assert got.columns == ["chunk_id", "v", "vector"]
    assert sorted(tuple(r) for r in got.collect()) == [
        ("a", 1, None), ("b", 2, None), ("c", 3, [1.0, 0.5]),
    ]
    with pytest.raises(Exception, match="without a SparkSession"):
        append([("d", 4)], "chunk_id string, v bigint")
    assert sink.read().count() == 3


def test_vector_store_concurrent_append_commits_lossless(spark, tmp_path):
    # concurrent append commits to one sink path must lose no committed
    # segment, and vacuum() must then reclaim nothing. The commit is one
    # manifest CAS; losers re-read and retry.
    import threading

    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreWriter,
    )

    path = str(tmp_path / "store_conc")
    n_threads, n_commits = 4, 25
    schema = T.StructType.fromDDL("chunk_id string")

    def run(tid):
        w = VectorStoreWriter(path, schema, overwrite=False)
        for i in range(n_commits):
            w.commit([_staged(w, [f"t{tid}_{i}"])])

    threads = [threading.Thread(target=run, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads)
    sink = ManifestVectorSink(spark, path, partition_col=None)
    want = sorted(f"t{t}_{i}" for t in range(n_threads) for i in range(n_commits))
    assert _ids(sink) == want
    # and vacuum must not remove any committed segment
    assert sink.vacuum() == 0
    assert _ids(sink) == want


def test_overwrite_commit_spares_inflight_spool(spark, tmp_path):
    # an overwrite must not destroy a concurrent job's staged,
    # uncommitted segment, and that job's later commit must still land.
    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreWriter,
    )

    path = str(tmp_path / "store_inflight")
    schema = T.StructType.fromDDL("chunk_id string")
    appender = VectorStoreWriter(path, schema, overwrite=False)
    appender.commit([_staged(appender, ["old"])])
    inflight = _staged(appender, ["inflight"])  # another job's task

    overwriter = VectorStoreWriter(path, schema, overwrite=True)
    overwriter.commit([_staged(overwriter, ["new"])])

    # the prior load is replaced, the in-flight segment survives
    sink = ManifestVectorSink(spark, path, partition_col=None)
    assert os.path.isdir(os.path.join(path, "_data", inflight.dir))
    assert _ids(sink) == ["new"]

    # ...so the in-flight job's own commit still lands intact
    appender.commit([inflight])
    assert _ids(sink) == ["inflight", "new"]


def test_vector_store_failed_job_leaves_sink_unchanged(spark, tmp_path):
    """A job whose UDF raises in one task commits nothing: ``read()`` is
    unchanged, and after abort and the sink's ``vacuum()`` no staged
    segment of the surviving tasks is left under ``_data``."""
    from pyspark.sql.types import StringType

    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreDataSource,
    )

    spark.dataSource.register(VectorStoreDataSource)
    path = str(tmp_path / "store_fail")
    df = spark.createDataFrame(
        [(f"c{i}",) for i in range(12)], "chunk_id string"
    ).repartition(4)
    df.write.format("vector_store").option("path", path).mode("append").save()
    sink = ManifestVectorSink(spark, path, partition_col=None)
    before_id, before = sink.current_commit_id(), _ids(sink)

    @F.udf(StringType())
    def boom(cid):
        if cid == "c7":
            raise ValueError("task failure")
        return cid

    with pytest.raises(Exception, match="task failure"):
        df.select(boom("chunk_id").alias("chunk_id")).write.format(
            "vector_store"
        ).option("path", path).mode("append").save()
    assert sink.current_commit_id() == before_id
    assert _ids(sink) == before
    sink.vacuum()
    live = {s["dir"] for s in sink._get_manifest()[0]["segments"]}
    assert set(os.listdir(os.path.join(path, "_data"))) == live
    assert _ids(sink) == before


def test_delete_where_df_matches_list_form(spark, tmp_path):
    """The anti-join delete (keys stay distributed) removes exactly the
    same rows as the driver-list form — the streaming refresh can swap
    one for the other when a micro-batch carries too many keys to
    collect."""
    rows = [(i, f"text {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    a = ManifestVectorSink(spark, str(tmp_path / "a"), partition_col=None)
    b = ManifestVectorSink(spark, str(tmp_path / "b"), partition_col=None)
    a.upsert(df)
    b.upsert(df)

    kill = [3, 7, 11, 39]
    a.delete_where("doc_id", kill)
    b.delete_where_df(
        "doc_id", spark.createDataFrame([(k,) for k in kill], "k long")
    )
    got_a = sorted(r["doc_id"] for r in a.read().collect())
    got_b = sorted(r["doc_id"] for r in b.read().collect())
    assert got_a == got_b == [i for i in range(40) if i not in kill]

    # before the sink exists: both forms are no-ops, not errors
    fresh = ManifestVectorSink(spark, str(tmp_path / "c"), partition_col=None)
    fresh.delete_where("doc_id", [1])
    fresh.delete_where_df(
        "doc_id", spark.createDataFrame([(1,)], "k long")
    )


def test_bucketed_sink_roundtrip_and_pruned_delete(spark, tmp_path):
    """Bucketed layout: read() hides the layout column, both delete forms
    (list and DataFrame) take the bucket-pruned path, and deleting EVERY
    row empties the sink until a fresh upsert refills it. Reference-level
    pruning is pinned by test_manifest_sink_bucketed_prunes_by_reference."""
    sink = ManifestVectorSink(
        spark, str(tmp_path / "bk"), partition_col=None,
        key_col="chunk_id", n_buckets=8,
    )
    rows = [(f"c{i}", f"text {i}", [float(i)]) for i in range(40)]
    df = spark.createDataFrame(
        rows, "chunk_id string, text string, vector array<float>"
    )
    sink.upsert(df)
    assert sorted(sink.read().columns) == ["chunk_id", "text", "vector"]
    assert sink.read().count() == 40

    sink.delete_where("chunk_id", ["c7"])
    after_rows = sink.read()
    assert after_rows.count() == 39
    assert after_rows.filter(F.col("chunk_id") == "c7").count() == 0

    all_keys = spark.createDataFrame([(k,) for k, _t, _v in rows], ["chunk_id"])
    sink.delete_where_df("chunk_id", all_keys)
    with pytest.raises(FileNotFoundError):
        sink.read()
    sink.upsert(df.limit(3))
    assert sink.read().count() == 3


def test_bucketed_delete_refuses_unbucketed_layout(spark, tmp_path):
    """An unbucketed store reopened as bucketed would prune deletes to
    buckets that do not exist: the recorded layout refuses the open."""
    plain = ManifestVectorSink(
        spark, str(tmp_path / "flat"), partition_col=None
    )
    plain.upsert(
        spark.createDataFrame([("a", 1)], "chunk_id string, v long")
    )
    with pytest.raises(RuntimeError, match="layout"):
        ManifestVectorSink(
            spark, str(tmp_path / "flat"), partition_col=None,
            key_col="chunk_id", n_buckets=4,
        )
    assert plain.read().count() == 1


def test_bucketed_delete_casts_key_type_to_stored(spark, tmp_path):
    """xxhash64 is TYPE-sensitive: hash(1 as int) != hash(1 as long). A
    sink whose key column was stored as int, deleted with Python ints
    (createDataFrame infers LongType), used to prune the WRONG buckets
    and silently delete nothing. The key set must be cast to the stored
    key type before bucket pruning (ADVICE r6)."""
    sink = ManifestVectorSink(
        spark, str(tmp_path / "intkey"), partition_col=None,
        key_col="doc_id", n_buckets=8,
    )
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], "doc_id int, text string"
    )
    sink.upsert(df)
    assert sink.read().count() == 40

    # list form (values infer LongType on the way in)
    sink.delete_where("doc_id", [7, 11])
    remaining = sink.read()
    assert remaining.count() == 38
    assert remaining.filter(F.col("doc_id").isin(7, 11)).count() == 0

    # DataFrame form with an explicitly LongType key set
    keys = spark.createDataFrame([(13,), (17,)], "doc_id long")
    sink.delete_where_df("doc_id", keys)
    remaining = sink.read()
    assert remaining.count() == 36
    assert remaining.filter(F.col("doc_id").isin(13, 17)).count() == 0


def test_upsert_refuses_mismatched_bucket_layout(spark, tmp_path):
    """Two handles opened on one empty path with different layouts: the
    first upsert records its layout, and the other handle's upsert must
    refuse to commit (mixed layouts break every later read and prune),
    drop its staged segment, and leave the store intact — both ways."""
    df = spark.createDataFrame([("a", 1)], "chunk_id string, v long")
    bucketed_kw = {"key_col": "chunk_id", "n_buckets": 4}
    for name, first_kw, second_kw in (
        ("mix", {}, bucketed_kw),
        ("mix2", bucketed_kw, {}),
    ):
        path = str(tmp_path / name)
        first = ManifestVectorSink(spark, path, partition_col=None, **first_kw)
        second = ManifestVectorSink(spark, path, partition_col=None, **second_kw)
        first.upsert(df)
        with pytest.raises(RuntimeError, match="layout changed"):
            second.upsert(df)
        assert first.vacuum() == 0  # the refused segment is already gone
        assert first.read().count() == 1


def test_partition_drop_fast_path(spark, tmp_path):
    """delete_where on the partition column drops the matching load_dt
    partitions (NULL values skipped); dropping every partition empties the
    sink until the next upsert refills it. The manifest-only commit and
    the bucketed composition are pinned by
    test_manifest_sink_partition_drop_is_manifest_only and
    test_manifest_sink_partition_drop_under_buckets."""
    sink = ManifestVectorSink(spark, str(tmp_path / "ret"))
    df = spark.createDataFrame(
        [
            ("a", "2024-01-01"), ("b", "2024-01-01"),
            ("c", "2024-01-02"), ("d", "2024-01-03"),
        ],
        "chunk_id string, load_dt string",
    )
    sink.upsert(df)
    sink.delete_where("load_dt", ["2024-01-01", None])
    got = {(r["chunk_id"], str(r["load_dt"])) for r in sink.read().collect()}
    assert got == {("c", "2024-01-02"), ("d", "2024-01-03")}

    sink.delete_where("load_dt", ["2024-01-02", "2024-01-03"])
    with pytest.raises(FileNotFoundError):
        sink.read()
    sink.upsert(df.limit(1))
    assert sink.read().count() == 1


def test_parquet_sink_randomized_against_model(spark, tmp_path):
    """Model-based drill, partitioned + bucketed edition: a seeded random
    mutation sequence against a load_dt-partitioned, bucketed sink and an
    in-memory multiset model in lockstep — upserts, key deletes (list +
    DataFrame forms), partition drops — visible rows must equal the model
    after every step. test_manifest_sink_randomized_against_model covers
    compaction, vacuum and snapshot reads on an unpartitioned sink."""
    import random

    rng = random.Random(20260817)
    sink = ManifestVectorSink(
        spark, str(tmp_path / "model"), partition_col="load_dt",
        key_col="k", n_buckets=4,
    )
    model: list[tuple[str, str]] = []  # multiset of (k, load_dt)
    dts = ["d1", "d2", "d3"]

    for step in range(14):
        op = rng.choice(["upsert", "upsert", "delete_key", "delete_df",
                         "drop_partition"])
        if op == "upsert":
            rows = [
                (f"k{rng.randrange(10)}", rng.choice(dts))
                for _ in range(rng.randrange(1, 5))
            ]
            sink.upsert(
                spark.createDataFrame(rows, "k string, load_dt string")
            )
            model.extend(rows)
        elif op in ("delete_key", "delete_df") and model:
            keys = [f"k{rng.randrange(10)}" for _ in range(rng.randrange(1, 3))]
            if op == "delete_key":
                sink.delete_where("k", keys)
            else:
                sink.delete_where_df(
                    "k", spark.createDataFrame([(x,) for x in keys], ["k"])
                )
            model = [r for r in model if r[0] not in set(keys)]
        elif op == "drop_partition" and model:
            dt = rng.choice(dts)
            sink.delete_where("load_dt", [dt])
            model = [r for r in model if r[1] != dt]
        if model:
            got = sorted(
                (r["k"], str(r["load_dt"])) for r in sink.read().collect()
            )
            assert got == sorted(model), f"diverged at step {step} ({op})"


@pytest.mark.parametrize(
    "schema,rows,kill,keep_ids",
    [
        (
            "chunk_id string, pcol boolean",
            [("a", True), ("b", False), ("c", True)],
            [True],
            {"b"},
        ),
        (
            "chunk_id string, pcol date",
            [
                ("a", __import__("datetime").date(2024, 1, 1)),
                ("b", __import__("datetime").date(2024, 1, 2)),
            ],
            [__import__("datetime").date(2024, 1, 1)],
            {"b"},
        ),
        (
            "chunk_id string, pcol timestamp",
            [
                ("a", __import__("datetime").datetime(2024, 1, 1, 10, 30)),
                ("b", __import__("datetime").datetime(2024, 1, 2, 11, 0)),
            ],
            [__import__("datetime").datetime(2024, 1, 1, 10, 30)],
            {"b"},
        ),
        (
            "chunk_id string, pcol decimal(10,2)",
            [
                ("a", __import__("decimal").Decimal("1.50")),
                ("b", __import__("decimal").Decimal("2.25")),
            ],
            [__import__("decimal").Decimal("1.5")],  # non-canonical render
            {"b"},
        ),
    ],
    ids=["bool", "date", "timestamp", "decimal"],
)
def test_partition_drop_fast_path_type_faithful(
    spark, tmp_path, schema, rows, kill, keep_ids
):
    """VERDICT r7 defect 1: the retention fast path must delete exactly
    the rows the anti-join rewrite would. str(True)='True' vs the Hive
    dir 'pcol=true' (and Decimal('1.5') vs a scale-2 '1.50' dir) used to
    make the fast path a silent no-op on non-canonically-rendered types.
    Values now render through the stored column type, pinning fast-path
    ≡ anti-join path on bool, date, timestamp and decimal partition
    columns."""
    df = spark.createDataFrame(rows, schema)

    # fast path (manifest edit) vs delete_where_df
    fast = ManifestVectorSink(
        spark, str(tmp_path / "fast"), partition_col="pcol"
    )
    fast.upsert(df)
    fast.delete_where("pcol", kill)
    got_fast = {r["chunk_id"] for r in fast.read().collect()}
    assert got_fast == keep_ids

    twin = ManifestVectorSink(
        spark, str(tmp_path / "twin"), partition_col="pcol"
    )
    twin.upsert(df)
    twin.delete_where_df(
        "pcol", spark.createDataFrame([(v,) for v in kill], ["pcol"])
    )
    got_twin = {r["chunk_id"] for r in twin.read().collect()}
    assert got_fast == got_twin


def test_partition_drop_fallback_is_rewrite_not_str_compare(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 (low) / VERDICT r8 item 3: when the typed matching path
    fails (stored type unresolvable, transient Spark failure in the
    matching projection), the fast path must degrade to the EXACT
    anti-join/rewrite delete — never to the str(v) dir-name compare the
    r8 fix retired, which silently no-ops bool partition deletes
    (str(True)='True' vs the 'pcol=true' dir). Forces the exception
    branch on a bool-typed partition column and asserts the rows are
    actually deleted, with a diagnosable warning."""

    def boom(*a, **kw):
        raise RuntimeError("simulated transient matching failure")

    df = spark.createDataFrame(
        [("a", True), ("b", False), ("c", True)],
        "chunk_id string, pcol boolean",
    )

    monkeypatch.setattr(manifest_sink, "match_partition_dir_values", boom)
    sink = ManifestVectorSink(
        spark, str(tmp_path / "fallback"), partition_col="pcol"
    )
    sink.upsert(df)
    with pytest.warns(RuntimeWarning, match="falling back"):
        sink.delete_where("pcol", [True])
    assert {r["chunk_id"] for r in sink.read().collect()} == {"b"}


def test_none_in_delete_values_never_mass_deletes(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 (medium): a None in the delete VALUE list must behave
    as the documented NULL-skip (equality deletes never match NULL) on
    EVERY path. The dangerous path is ~isin(): `x IN (a, NULL)` is NULL
    — not false — for every x != a, so the rewrite filter
    `~isin | isNull` drops ALL non-matching non-null rows, a mass
    delete. Exercised three ways: the direct anti-join delete, the
    partition fast path forced onto its anti-join fallback (the exact
    ADVICE scenario: match_partition_dir_values raises transiently while
    values carries a None), and the all-None no-op edge."""
    df = spark.createDataFrame(
        [("a", "x"), ("b", "y"), ("c", None)],
        "chunk_id string, pcol string",
    )

    # direct anti-join delete with a None in the list: only the
    # matching row dies; the NULL-keyed row and non-matching rows live
    sink = ManifestVectorSink(spark, str(tmp_path / "direct"))
    sink.upsert(df)
    sink.delete_where("pcol", ["x", None])
    assert {r["chunk_id"] for r in sink.read().collect()} == {"b", "c"}

    # all-None list: deletes nothing (and must not crash DataFrame type
    # inference on the anti-join path)
    sink.delete_where("pcol", [None])
    assert {r["chunk_id"] for r in sink.read().collect()} == {"b", "c"}

    # the ADVICE scenario verbatim: partitioned sink, fast path raises
    # transiently, values = ['x', None] → the anti-join fallback must keep
    # every non-matching row (pre-fix it kept none)
    def boom(*a, **kw):
        raise RuntimeError("simulated transient matching failure")

    monkeypatch.setattr(manifest_sink, "match_partition_dir_values", boom)
    mpsink = ManifestVectorSink(
        spark, str(tmp_path / "mpfall"), partition_col="pcol"
    )
    mpsink.upsert(df)
    with pytest.warns(RuntimeWarning, match="falling back"):
        mpsink.delete_where("pcol", ["x", None])
    assert {r["chunk_id"] for r in mpsink.read().collect()} == {"b", "c"}
