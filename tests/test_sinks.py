"""Sinks: the manifest parquet vector sink (upsert/read/delete_where) and
the batched external-client sink (foreachPartition, batching, backoff
retry, predicate delete) against a file-backed fake client."""

import glob
import os

import pytest
from pyspark.sql import functions as F

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


def test_vector_store_datasource_writer_commit_protocol(spark, tmp_path):
    """Two-phase load: rows spool per task, the manifest publishes them
    atomically on commit; orphaned spool files stay invisible; append
    grows the manifest."""
    import json
    import os

    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreDataSource,
        read_committed,
    )

    spark.dataSource.register(VectorStoreDataSource)
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(f"c{i}", f"text {i}", [float(i), 0.5]) for i in range(10)],
        ["chunk_id", "text", "vector"],
    ).repartition(3)
    df.write.format("vector_store").option("path", path).option(
        "class_name", "KB"
    ).mode("append").save()

    rows = read_committed(path)
    assert len(rows) == 10
    assert {r["chunk_id"] for r in rows} == {f"c{i}" for i in range(10)}
    assert all(r["class"] == "KB" for r in rows)
    assert rows[0]["vector"] is not None

    # an orphaned spool file (in-flight/aborted task) is NOT visible
    orphan = os.path.join(path, "_spool", "orphan.jsonl")
    with open(orphan, "w") as f:
        f.write(json.dumps({"class": "KB", "chunk_id": "ghost"}) + "\n")
    assert {r["chunk_id"] for r in read_committed(path)} == {
        f"c{i}" for i in range(10)
    }

    # append mode: second load extends the manifest
    df.limit(2).write.format("vector_store").option("path", path).mode(
        "append"
    ).save()
    assert len(read_committed(path)) == 12

    # abort() removes spooled-but-uncommitted files
    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreWriter,
        _SpoolCommit,
    )

    w = VectorStoreWriter({"path": path}, overwrite=False)
    with open(os.path.join(path, "_spool", "doomed.jsonl"), "w") as f:
        f.write("{}\n")
    w.abort([_SpoolCommit(filename="doomed.jsonl", n_rows=1), None])
    assert not os.path.exists(os.path.join(path, "_spool", "doomed.jsonl"))


def test_vector_store_writer_overwrite_retires_spool_and_vacuum(spark, tmp_path):
    import os

    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreDataSource,
        read_committed,
        vacuum,
    )

    spark.dataSource.register(VectorStoreDataSource)
    path = str(tmp_path / "store2")
    df = spark.createDataFrame([(f"c{i}",) for i in range(4)], ["chunk_id"])
    df.write.format("vector_store").option("path", path).mode("append").save()
    first_files = set(os.listdir(os.path.join(path, "_spool")))
    # overwrite: manifest rewritten AND prior spool files retired
    df.limit(2).write.format("vector_store").option("path", path).mode(
        "overwrite"
    ).save()
    assert len(read_committed(path)) == 2
    remaining = set(os.listdir(os.path.join(path, "_spool")))
    assert not (first_files & remaining)
    # vacuum removes orphans (dead-task leftovers) but not committed files
    with open(os.path.join(path, "_spool", "orphan.jsonl"), "w") as f:
        f.write("{}\n")
    assert vacuum(path) == 1
    assert len(read_committed(path)) == 2


def test_vector_store_concurrent_append_commits_lossless(tmp_path):
    # regression (ADVICE r5): append-mode commit is read-modify-replace; two
    # jobs committing to the same sink path concurrently raced, the loser's
    # manifest lines vanished, and vacuum() then deleted its committed spool
    # files. The flock sidecar makes the section mutually exclusive.
    import threading

    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreWriter,
        _SpoolCommit,
        read_committed,
        vacuum,
    )

    path = str(tmp_path / "store_conc")
    os.makedirs(os.path.join(path, "_spool"), exist_ok=True)
    n_threads, n_commits = 4, 25

    def run(tid):
        w = VectorStoreWriter({"path": path}, overwrite=False)
        for i in range(n_commits):
            fname = f"t{tid}_{i}.jsonl"
            with open(os.path.join(path, "_spool", fname), "w") as f:
                f.write('{"class": "Chunk", "chunk_id": "%s"}\n' % fname)
            w.commit([_SpoolCommit(filename=fname, n_rows=1)])

    threads = [threading.Thread(target=run, args=(t,)) for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    rows = read_committed(path)
    assert len(rows) == n_threads * n_commits
    # and vacuum must not remove any committed file
    assert vacuum(path) == 0
    assert len(read_committed(path)) == n_threads * n_commits


def test_overwrite_commit_spares_inflight_spool(tmp_path):
    # review r6: overwrite used to retire EVERY spool file not in the new
    # manifest — including a concurrent job's spooled-but-uncommitted
    # file, whose commit then published lines for deleted files. Only
    # files the PREVIOUS manifest listed may be retired.
    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreWriter,
        _SpoolCommit,
        read_committed,
    )

    path = str(tmp_path / "store_inflight")
    spool = os.path.join(path, "_spool")
    os.makedirs(spool, exist_ok=True)

    def spool_file(fname):
        with open(os.path.join(spool, fname), "w") as f:
            f.write('{"class": "Chunk", "chunk_id": "%s"}\n' % fname)

    appender = VectorStoreWriter({"path": path}, overwrite=False)
    spool_file("old.jsonl")
    appender.commit([_SpoolCommit(filename="old.jsonl", n_rows=1)])
    spool_file("inflight.jsonl")  # another job's task: spooled, uncommitted

    overwriter = VectorStoreWriter({"path": path}, overwrite=True)
    spool_file("new.jsonl")
    overwriter.commit([_SpoolCommit(filename="new.jsonl", n_rows=1)])

    # the prior load is retired, the in-flight file survives
    assert not os.path.exists(os.path.join(spool, "old.jsonl"))
    assert os.path.exists(os.path.join(spool, "inflight.jsonl"))
    assert [r["chunk_id"] for r in read_committed(path)] == ["new.jsonl"]

    # ...so the in-flight job's own commit still lands intact
    appender.commit([_SpoolCommit(filename="inflight.jsonl", n_rows=1)])
    assert sorted(r["chunk_id"] for r in read_committed(path)) == [
        "inflight.jsonl", "new.jsonl",
    ]


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


def test_make_vector_sink_kinds(spark, tmp_path):
    """The factory builds the manifest sink over either store and refuses
    any other substrate name."""
    from vectordb_data_ingestion_spark.sinks import make_vector_sink

    for kind in ("manifest", "manifest-log"):
        sink = make_vector_sink(spark, kind, str(tmp_path / kind))
        assert isinstance(sink, ManifestVectorSink)
    with pytest.raises(ValueError, match="unknown sink kind"):
        make_vector_sink(spark, "posix", str(tmp_path / "posix"))
