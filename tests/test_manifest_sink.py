"""The sink commit protocol (VERDICT r6 item 2): the ConditionalStore
primitives, the ManifestVectorSink built on them, and the two-phase
datasource writer that commits through it — crash-replay, concurrent
mutators, bucketed pruning and replay idempotence under every
conditional-put binding."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from vectordb_data_ingestion_spark.sinks.commit_store import (
    CasConflict,
    FileConditionalStore,
    MemoryConditionalStore,
    cas_update,
)
from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink
from tests.conftest import jobs_during


# ---------------------------------------------------------------------------
# commit primitives
# ---------------------------------------------------------------------------


@pytest.fixture(params=["memory", "file"])
def store(request, tmp_path):
    if request.param == "memory":
        return MemoryConditionalStore()
    return FileConditionalStore(str(tmp_path / "store"))


def test_conditional_store_semantics(store):
    # create requires token=None; wrong token fails; token advances
    assert store.get("k") is None
    assert not store.put_if("k", b"x", 0)  # key absent, token must be None
    assert store.put_if("k", b"v1", None)
    data, tok1 = store.get("k")
    assert data == b"v1"
    assert not store.put_if("k", b"v2", None)  # exists now
    assert store.put_if("k", b"v2", tok1)
    data, tok2 = store.get("k")
    assert data == b"v2" and tok2 != tok1
    # delete honors the token the same way
    assert not store.delete_if("k", tok1)
    assert store.delete_if("k", tok2)
    assert store.get("k") is None
    assert store.delete_if("k", None)  # already gone + None token = ok


def test_cas_update_concurrent_counters_lossless(store):
    """The lost-update scenario the flock used to close: N threads each
    increment a shared counter via read-modify-write. With CAS retry, all
    increments land."""
    N, PER = 8, 25

    def bump():
        for _ in range(PER):
            cas_update(
                store,
                "counter",
                lambda d: str(int(d or b"0") + 1).encode(),
            )

    threads = [threading.Thread(target=bump) for _ in range(N)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert int(store.get("counter")[0]) == N * PER


def test_cas_update_gives_up_loudly():
    class AlwaysConflict(MemoryConditionalStore):
        def put_if(self, key, data, token):
            return False

    with pytest.raises(CasConflict):
        cas_update(AlwaysConflict(), "k", lambda d: b"x", max_retries=3,
                   backoff=0)


def test_file_store_adopts_pre_cas_files(tmp_path):
    """A manifest written by the pre-CAS flock protocol (data file, no
    version sidecar) must read as version 0 and stay CAS-able — existing
    sinks upgrade in place."""
    root = str(tmp_path / "legacy")
    os.makedirs(root)
    with open(os.path.join(root, "m.jsonl"), "wb") as fh:
        fh.write(b"old line\n")
    s = FileConditionalStore(root)
    data, tok = s.get("m.jsonl")
    assert data == b"old line\n" and tok == 0
    assert s.put_if("m.jsonl", b"old line\nnew line\n", tok)
    assert s.get("m.jsonl")[0].endswith(b"new line\n")


# ---------------------------------------------------------------------------
# ManifestVectorSink — both bindings
# ---------------------------------------------------------------------------


def _sink(spark, tmp_path, binding, name="msink", **kw):
    store = MemoryConditionalStore() if binding == "memory" else None
    return ManifestVectorSink(
        spark, str(tmp_path / name), partition_col=None, store=store, **kw
    )


@pytest.fixture(params=["file", "memory"])
def binding(request):
    return request.param


def test_manifest_sink_roundtrip_and_delete(spark, tmp_path, binding):
    sink = _sink(spark, tmp_path, binding)
    df = spark.createDataFrame(
        [(f"c{i}", f"doc{i % 3}", float(i)) for i in range(12)],
        "chunk_id string, url string, v double",
    )
    sink.upsert(df)
    assert sink.read().count() == 12
    sink.delete_where("url", ["doc0"])
    remaining = sink.read()
    assert remaining.count() == 8
    assert remaining.filter(F.col("url") == "doc0").count() == 0
    # delete-then-insert refresh: re-add doc0 rows idempotently
    sink.upsert(df.filter(F.col("url") == "doc0"))
    assert sink.read().count() == 12


def test_manifest_sink_bucketed_prunes_by_reference(spark, tmp_path, binding):
    """Key deletes rewrite only touched buckets; untouched buckets' parquet
    files carry over into the new manifest BY REFERENCE — the exact same
    file paths, zero bytes copied."""
    sink = _sink(
        spark, tmp_path, binding, key_col="chunk_id", n_buckets=8
    )
    df = spark.createDataFrame(
        [(f"c{i}", f"text {i}") for i in range(40)],
        "chunk_id string, text string",
    )
    sink.upsert(df)
    assert sink.read().count() == 40
    assert sorted(sink.read().columns) == ["chunk_id", "text"]

    manifest_before, _ = sink._get_manifest()
    files_before = {
        (s["dir"], f)
        for s in manifest_before["segments"]
        for f in sink._seg_files(s)
    }
    victim_bucket = spark.createDataFrame([("c7",)], ["chunk_id"]).select(
        F.pmod(F.xxhash64("chunk_id"), F.lit(8)).cast("int")
    ).first()[0]

    sink.delete_where("chunk_id", ["c7"])
    assert sink.read().count() == 39
    assert sink.read().filter(F.col("chunk_id") == "c7").count() == 0

    manifest_after, _ = sink._get_manifest()
    files_after = {
        (s["dir"], f)
        for s in manifest_after["segments"]
        for f in sink._seg_files(s)
    }
    surviving_refs = files_before & files_after
    dropped = files_before - files_after
    # every untouched-bucket file survived as the SAME reference; only the
    # victim bucket's files were replaced
    assert all(f"pbucket={victim_bucket}/" in f for _d, f in dropped)
    untouched_before = {
        (d, f) for d, f in files_before
        if f"pbucket={victim_bucket}/" not in f
    }
    assert untouched_before <= surviving_refs


def test_manifest_sink_bucketed_key_type_cast(spark, tmp_path, binding):
    """xxhash64 is type-sensitive: an int-typed stored key deleted with
    long-inferred values must still prune the right bucket."""
    sink = _sink(
        spark, tmp_path, binding, name="ik", key_col="doc_id", n_buckets=8
    )
    sink.upsert(
        spark.createDataFrame(
            [(i, f"t{i}") for i in range(20)], "doc_id int, text string"
        )
    )
    sink.delete_where("doc_id", [7])
    remaining = sink.read()
    assert remaining.count() == 19
    assert remaining.filter(F.col("doc_id") == 7).count() == 0


def test_manifest_sink_crash_before_cas_is_invisible(spark, tmp_path, binding):
    """A mutation that dies before its conditional put leaves an orphan
    segment no reader sees; vacuum reclaims it. This is the whole
    crash-recovery story — no rename dance, no recovery state machine."""
    sink = _sink(spark, tmp_path, binding, name="crash")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "chunk_id string, v long")
    sink.upsert(df)

    # simulate the crash: segment written, CAS never issued
    orphan = sink._write_segment(
        spark.createDataFrame([("ghost", 99)], "chunk_id string, v long")
    )
    assert sink.read().count() == 2  # invisible
    assert {r["chunk_id"] for r in sink.read().collect()} == {"a", "b"}
    assert sink.vacuum() == 1  # orphan reclaimed
    assert not os.path.isdir(
        os.path.join(sink.base_path, "_data", orphan["dir"])
    )
    assert sink.read().count() == 2


def test_manifest_sink_concurrent_delete_vs_upsert(spark, tmp_path, binding):
    """delete and upsert race on the CAS instead of serializing on a lock:
    whatever the interleaving, neither side's rows are lost — the upserted
    rows are visible and the deleted keys are gone."""
    sink = _sink(spark, tmp_path, binding, name="race")
    base = spark.createDataFrame(
        [(f"c{i}", 1) for i in range(10)], "chunk_id string, v long"
    )
    sink.upsert(base)
    extra = spark.createDataFrame(
        [(f"x{i}", 2) for i in range(5)], "chunk_id string, v long"
    )
    errs = []

    def deleter():
        try:
            sink.delete_where("chunk_id", ["c0", "c1", "c2"])
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def upserter():
        try:
            sink.upsert(extra)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1, t2 = threading.Thread(target=deleter), threading.Thread(target=upserter)
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errs
    got = {r["chunk_id"] for r in sink.read().collect()}
    assert got == ({f"c{i}" for i in range(3, 10)} | {f"x{i}" for i in range(5)})


def test_manifest_sink_refresh_replay_idempotent(spark, tmp_path, binding):
    """The reference's refresh contract (delete-then-insert per batch,
    cmfunctions.py:177-261) replayed with the same batch converges: the
    manifest sink plugs into refresh_batch_fn's auto-detected distributed
    delete path."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        refresh_batch_fn,
    )

    sink = _sink(spark, tmp_path, binding, name="refresh")
    run_batch = refresh_batch_fn(
        transform=lambda df: df,
        sink_upsert=sink.upsert,
        sink_delete_where=sink.delete_where,
        key_col="url",
    )
    b1 = spark.createDataFrame(
        [("u1", "v1"), ("u2", "v1")], "url string, text string"
    )
    run_batch(b1, 0)
    run_batch(b1, 0)  # at-least-once replay
    got = {(r["url"], r["text"]) for r in sink.read().collect()}
    assert got == {("u1", "v1"), ("u2", "v1")}

    b2 = spark.createDataFrame(
        [("u1", "v2"), ("u3", "v2")], "url string, text string"
    )
    run_batch(b2, 1)
    run_batch(b2, 1)
    got = {(r["url"], r["text"]) for r in sink.read().collect()}
    assert got == {("u1", "v2"), ("u2", "v1"), ("u3", "v2")}


def test_manifest_sink_layout_mismatch_refused(spark, tmp_path):
    sink = _sink(spark, tmp_path, "file", name="layout",
                 key_col="chunk_id", n_buckets=4)
    sink.upsert(spark.createDataFrame([("a", 1)], "chunk_id string, v long"))
    with pytest.raises(RuntimeError, match="layout"):
        ManifestVectorSink(
            spark, str(tmp_path / "layout"), partition_col=None
        )


def test_manifest_sink_compact(spark, tmp_path, binding):
    sink = _sink(spark, tmp_path, binding, name="cmp")
    for i in range(4):
        sink.upsert(
            spark.createDataFrame([(f"c{i}", i)], "chunk_id string, v long")
        )
    assert sink.compact() == 4
    assert sink.read().count() == 4
    manifest, _ = sink._get_manifest()
    assert len(manifest["segments"]) == 1
    assert sink.vacuum() == 4  # the four pre-compaction segment dirs


def test_manifest_sink_replayed_batch_id_is_noop(spark, tmp_path, binding):
    """upsert(txn=(writer, batch)) is Delta's idempotent append: the
    manifest keeps each writer's last batch id, a batch at or below it
    commits nothing (no new segment, no new generation), and writers are
    independent."""
    sink = _sink(spark, tmp_path, binding, name="txn")

    def rows(*ids):
        return spark.createDataFrame(
            [(f"c{i}", i) for i in ids], "chunk_id string, v long"
        )

    sink.upsert(rows(0, 1), txn=("w", 0))
    gen = sink.current_commit_id()
    sink.upsert(rows(0, 1), txn=("w", 0))  # replay of the same batch
    sink.upsert(rows(7), txn=("w", 0))  # a replay never re-derives rows
    assert sink.current_commit_id() == gen
    assert sorted(r["v"] for r in sink.read().collect()) == [0, 1]

    sink.upsert(rows(2), txn=("w", 1))
    sink.upsert(rows(3), txn=("v", 0))  # another writer's batch 0
    sink.upsert(rows(2), txn=("w", 1))
    sink.upsert(rows(0), txn=("w", 0))  # older than the recorded batch
    sink.upsert(rows(4))  # no txn: a plain append always lands
    assert sorted(r["v"] for r in sink.read().collect()) == [0, 1, 2, 3, 4]
    manifest, _ = sink._get_manifest()
    assert manifest["txns"] == {"w": 1, "v": 0}
    assert len(manifest["segments"]) == 4


def test_manifest_sink_txn_record_survives_mutations(
    spark, tmp_path, binding
):
    """The replay record is carried forward by every commit, like the
    schema: after delete_where, compact_small and compact, replaying an
    already-committed batch is still a no-op."""
    sink = _sink(spark, tmp_path, binding, name="txn_keep")

    def rows(*ids):
        return spark.createDataFrame(
            [(f"c{i}", i) for i in ids], "chunk_id string, v long"
        )

    for b in range(3):
        sink.upsert(rows(2 * b, 2 * b + 1), txn=("w", b))

    def replay_is_noop(batch, expect):
        sink.upsert(rows(99), txn=("w", batch))
        manifest, _ = sink._get_manifest()
        assert manifest["txns"] == {"w": batch}
        assert sorted(r["v"] for r in sink.read().collect()) == expect

    sink.delete_where("chunk_id", ["c0"])  # rewrites into one segment
    replay_is_noop(2, [1, 2, 3, 4, 5])
    sink.upsert(rows(6), txn=("w", 3))
    assert sink.compact_small() == 2
    replay_is_noop(3, [1, 2, 3, 4, 5, 6])
    sink.upsert(rows(7), txn=("w", 4))
    assert sink.compact() == 2
    replay_is_noop(4, [1, 2, 3, 4, 5, 6, 7])


# ---------------------------------------------------------------------------
# two-phase datasource writer under both bindings
# ---------------------------------------------------------------------------


def _writer(path, overwrite=False):
    from pyspark.sql import types as T

    from vectordb_data_ingestion_spark.sinks.datasource_writer import (
        VectorStoreWriter,
    )

    return VectorStoreWriter(
        path, T.StructType.fromDDL("chunk_id string, text string"), overwrite
    )


def _stage(writer, ids):
    """One task's ``write``: its Arrow batch staged as a segment dir."""
    import pyarrow as pa

    batch = pa.RecordBatch.from_pylist(
        [{"chunk_id": i, "text": f"t-{i}"} for i in ids]
    )
    return writer.write(iter([batch]))


def _committed(spark, path, store):
    """The writer's load as the sink reads it (the empty set when nothing
    was committed)."""
    sink = ManifestVectorSink(spark, path, partition_col=None, store=store)
    try:
        return sorted(r["chunk_id"] for r in sink.read().collect())
    except FileNotFoundError:
        return []


@pytest.fixture(params=["file", "memory"])
def writer_store(request, tmp_path):
    if request.param == "memory":
        return MemoryConditionalStore()
    return None  # the sink's default FileConditionalStore


def test_writer_commit_protocol_under_binding(spark, tmp_path, writer_store):
    """The two-phase writer's stage -> commit -> sink read contract,
    exercised directly (write/commit are plain methods) under each
    commit-primitive binding: uncommitted segments invisible, append
    commits accumulate, overwrite replaces the segment list in one CAS."""
    path = str(tmp_path / "store")
    store = writer_store
    w = _writer(path)

    m1 = _stage(w, ["a", "b", "c"])
    # staged but uncommitted: invisible
    assert _committed(spark, path, store) == []
    w.commit([m1], store=store)
    assert _committed(spark, path, store) == ["a", "b", "c"]

    # append commit accumulates
    w.commit([_stage(w, ["d"])], store=store)
    assert _committed(spark, path, store) == ["a", "b", "c", "d"]

    # overwrite replaces every committed segment in the same CAS
    w_over = _writer(path, overwrite=True)
    m3 = _stage(w_over, ["z"])
    w_over.commit([m3], store=store)
    assert _committed(spark, path, store) == ["z"]
    sink = ManifestVectorSink(spark, path, partition_col=None, store=store)
    assert sink._get_manifest()[0]["segments"] == [
        {"dir": m3.dir, "full": True}
    ]

    # abort removes only what it was told about
    data = os.path.join(path, "_data")
    before = set(os.listdir(data))
    m4 = _stage(w, ["q"])
    w.abort([m4], store=store)
    assert set(os.listdir(data)) == before
    # the sink's vacuum reclaims a dead task's orphan and the replaced
    # generation under the same binding
    _stage(w, ["orphan"])
    assert sink.vacuum() == len(before)
    assert os.listdir(data) == [m3.dir]
    assert _committed(spark, path, store) == ["z"]


def test_writer_concurrent_append_commits_lossless_cas(
    spark, tmp_path, writer_store
):
    """The race the flock used to close, now closed by CAS: N threads
    commit appends concurrently; every staged segment lands."""
    path = str(tmp_path / "ccommit")
    w = _writer(path)
    store = writer_store
    msgs = [_stage(w, [f"id{i}"]) for i in range(8)]
    threads = [
        threading.Thread(target=w.commit, args=([m],), kwargs={"store": store})
        for m in msgs
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert not any(t.is_alive() for t in threads)
    assert _committed(spark, path, store) == sorted(f"id{i}" for i in range(8))


def test_manifest_sink_snapshot_reads(spark, tmp_path, binding):
    """Every committed generation is snapshot-readable until vacuumed out
    of the retention window (commit-log time travel): read_at(v) returns
    the visible rows exactly as of commit v; vacuum(retain_versions=N)
    keeps the last N generations readable and makes older ones fail
    loudly instead of dangling on reclaimed segments."""
    sink = _sink(spark, tmp_path, binding, name="tt")
    sink.upsert(
        spark.createDataFrame([("a", 1), ("b", 1)], "chunk_id string, v long")
    )
    v1 = sink.current_commit_id()
    sink.upsert(spark.createDataFrame([("c", 2)], "chunk_id string, v long"))
    v2 = sink.current_commit_id()
    sink.delete_where("chunk_id", ["a"])
    v3 = sink.current_commit_id()
    assert (v1, v2, v3) == (1, 2, 3)
    assert sink.history() == [3, 2, 1]

    assert {r["chunk_id"] for r in sink.read_at(v1).collect()} == {"a", "b"}
    assert {r["chunk_id"] for r in sink.read_at(v2).collect()} == {
        "a", "b", "c",
    }
    assert {r["chunk_id"] for r in sink.read_at(v3).collect()} == {"b", "c"}
    assert {r["chunk_id"] for r in sink.read().collect()} == {"b", "c"}

    # retention: keep one generation back — v2 stays readable, v1 is
    # reclaimed and fails loudly
    sink.vacuum(retain_versions=1)
    assert {r["chunk_id"] for r in sink.read_at(v2).collect()} == {
        "a", "b", "c",
    }
    with pytest.raises(FileNotFoundError, match="no retained manifest"):
        sink.read_at(v1)
    # full vacuum: only the current generation's segments survive
    sink.vacuum(retain_versions=0)
    assert {r["chunk_id"] for r in sink.read().collect()} == {"b", "c"}


def test_manifest_sink_schema_evolution(spark, tmp_path, binding):
    """An upsert that adds a column must not strand the sink: segments
    union by name, pre-evolution rows read NULL for the new column (the
    mixed-footer ambiguity a plain directory read has)."""
    sink = _sink(spark, tmp_path, binding, name="evo")
    sink.upsert(
        spark.createDataFrame([("a", 1)], "chunk_id string, v long")
    )
    sink.upsert(
        spark.createDataFrame(
            [("b", 2, "en")], "chunk_id string, v long, lang string"
        )
    )
    got = {
        (r["chunk_id"], r["v"], r["lang"]) for r in sink.read().collect()
    }
    assert got == {("a", 1, None), ("b", 2, "en")}
    # deletes across evolved segments still work (anti-join on the shared
    # key column; survivors are read under the table schema)
    sink.delete_where("chunk_id", ["a"])
    got = {
        (r["chunk_id"], r["v"], r["lang"]) for r in sink.read().collect()
    }
    assert got == {("b", 2, "en")}


def test_manifest_sink_read_is_one_pinned_scan(spark, tmp_path, binding):
    """A read of an unpartitioned, unbucketed sink is ONE scan pinned to
    the manifest's table schema: no footer-inference job per segment, and
    the small segment files pack into at most ``defaultParallelism``
    splits instead of one per file (4 segments x 2 files here)."""
    sink = _sink(spark, tmp_path, binding, name="scan")
    for i in range(4):
        sink.upsert(
            spark.createDataFrame(
                [(f"c{i}_{j}", float(j)) for j in range(20)],
                "chunk_id string, v double",
            ).repartition(2)
        )
    df, jobs = jobs_during(spark, sink.read)
    assert jobs == 0
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    assert df.count() == 80


def test_manifest_sink_table_schema_merges_writers(spark, tmp_path, binding):
    """The manifest records the by-name merge of every writer's schema —
    new columns appended, int→long and float→double widened as
    unionByName widens them — never just the last writer's, so a writer
    that omits columns doesn't narrow the table. Deletes and compactions
    keep it; ``read_at`` reads a generation under its own schema; a type
    conflict unionByName rejects refuses the upsert."""
    sink = _sink(spark, tmp_path, binding, name="merge")
    writers = [
        spark.createDataFrame(
            [("a", 1, 1.5)], "chunk_id string, v int, f float"
        ),
        spark.createDataFrame(
            [("b", 2, 2.5, "en")],
            "chunk_id string, v long, f double, lang string",
        ),
        spark.createDataFrame([("c",)], "chunk_id string"),
        spark.createDataFrame([("d", 4)], "chunk_id string, v long"),
    ]
    for w in writers:
        sink.upsert(w)
    union = writers[0]
    for w in writers[1:]:
        union = union.unionByName(w, allowMissingColumns=True)
    want_types = union.schema.simpleString()
    assert want_types == (
        "struct<chunk_id:string,v:bigint,f:double,lang:string>"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.select(*union.columns).collect())

    got = sink.read()
    assert got.schema.simpleString() == want_types
    assert rows(got) == rows(union)

    assert sink.compact_small(small_bytes=1 << 30) == 4
    assert sink.read().schema.simpleString() == want_types
    sink.delete_where("chunk_id", ["a", "b"])
    assert sink.read().schema.simpleString() == want_types
    sink.upsert(spark.createDataFrame([("e",)], "chunk_id string"))
    assert sink.compact() == 2
    got = sink.read()
    assert got.schema.simpleString() == want_types
    assert rows(got) == [
        ("c", None, None, None), ("d", 4, None, None), ("e", None, None, None)
    ]

    v1 = sink.read_at(1)
    assert v1.schema.simpleString() == writers[0].schema.simpleString()
    assert [tuple(r) for r in v1.collect()] == [("a", 1, 1.5)]

    before = rows(sink.read())
    with pytest.raises(Exception, match="(?i)incompatible|cannot"):
        sink.upsert(
            spark.createDataFrame([("x", True)], "chunk_id string, v boolean")
        )
    assert rows(sink.read()) == before


def test_add_column_merge_equals_the_analyzer(spark):
    """The session-free merge of an add-column writer is the schema
    ``unionByName(allowMissingColumns=True)`` computes; a type change or
    a case-only name match is left to the analyzer."""
    from pyspark.sql import types as T

    from vectordb_data_ingestion_spark.sinks.manifest_sink import _add_columns

    def ddl(s):
        return T.StructType.fromDDL(s)

    table = ddl("chunk_id string not null, v double, tags array<string>")
    shapes = [
        ddl("chunk_id string, vector array<float>"),  # b missing, a nullable
        ddl("lang string not null, chunk_id string not null, x int"),
        ddl("z bigint not null"),  # only new columns
        ddl(
            "tags array<string>, v double, chunk_id string not null,"
            " w map<string,int>"
        ),
    ]
    empty = spark.createDataFrame
    for writer in shapes:
        want = (
            empty([], table)
            .unionByName(empty([], writer), allowMissingColumns=True)
            .schema
        )
        assert _add_columns(table, writer) == want, writer.simpleString()
    assert _add_columns(table, ddl("chunk_id string, v float")) is None
    assert _add_columns(table, ddl("Chunk_ID string, x int")) is None


def test_manifest_sink_widening_a_pinned_scan_cannot_read(
    spark, tmp_path, binding
):
    """bigint→double is a widening unionByName applies but a parquet
    scan pinned to ``double`` fails on: such a table reads each segment
    under its own footer schema and unions by name, as before the table
    schema existed — the same rows and types."""
    sink = _sink(spark, tmp_path, binding, name="wide")
    a = spark.createDataFrame([("a", 1)], "chunk_id string, v long")
    b = spark.createDataFrame([("b", 1.5)], "chunk_id string, v double")
    sink.upsert(a)
    sink.upsert(b)
    want = a.unionByName(b)
    got = sink.read()
    assert got.schema.simpleString() == want.schema.simpleString()
    assert sorted(got.collect()) == sorted(want.collect())
    sink.delete_where("chunk_id", ["a"])
    assert [tuple(r) for r in sink.read().collect()] == [("b", 1.5)]


def test_manifest_sink_schemaless_manifest_reads_and_is_seeded(
    spark, tmp_path, binding
):
    """A manifest without a table schema (written before one was
    recorded; it carries only the last writer's ``schema``) reads by
    per-segment inference, and its next commit seeds the table schema
    from that inferred read — every column, not the last writer's."""
    src = _sink(spark, tmp_path, "file", name="old")
    src.upsert(
        spark.createDataFrame(
            [("a", 1, "en")], "chunk_id string, v long, lang string"
        )
    )
    last = spark.createDataFrame([("b",)], "chunk_id string")
    src.upsert(last)
    manifest, _ = src._get_manifest()
    old = {
        "layout": manifest["layout"],
        "segments": manifest["segments"],
        "commit_id": 1,
        "schema": last.schema.json(),
    }
    if binding == "file":
        store = FileConditionalStore(str(tmp_path / "old_ctrl"))
    else:
        store = MemoryConditionalStore()
    assert store.put_if("MANIFEST", json.dumps(old).encode(), None)
    sink = ManifestVectorSink(
        spark, str(tmp_path / "old"), partition_col=None, store=store
    )
    got = {tuple(r) for r in sink.read().select("chunk_id", "v", "lang")
           .collect()}
    assert got == {("a", 1, "en"), ("b", None, None)}

    sink.delete_where("chunk_id", ["b"])
    manifest, _ = sink._get_manifest()
    seeded = json.loads(manifest["table_schema"])
    assert [f["name"] for f in seeded["fields"]] == ["chunk_id", "v", "lang"]
    _df, jobs = jobs_during(spark, sink.read)
    assert jobs == 0
    assert [tuple(r) for r in sink.read().select("chunk_id", "v", "lang")
            .collect()] == [("a", 1, "en")]


def test_manifest_sink_partition_columns_keep_writer_type(spark, tmp_path):
    """Partition columns read back in the writer's type and value, not
    Spark's partition-value inference (``"007"`` used to read as int 7,
    a string ``load_dt`` as DATE), and a partitioned read launches no
    inference job either."""
    sink = ManifestVectorSink(
        spark, str(tmp_path / "tenant"), partition_col="tenant"
    )
    df = spark.createDataFrame(
        [("a", "007"), ("b", "008")], "chunk_id string, tenant string"
    )
    sink.upsert(df)
    got, jobs = jobs_during(spark, sink.read)
    assert jobs == 0
    assert got.schema["tenant"].dataType.simpleString() == "string"
    assert sorted(tuple(r) for r in got.collect()) == [
        ("a", "007"), ("b", "008"),
    ]

    dated = ManifestVectorSink(spark, str(tmp_path / "dated"))
    dated.upsert(
        spark.createDataFrame(
            [("a", "2024-01-01")], "chunk_id string, load_dt string"
        )
    )
    assert dated.read().schema["load_dt"].dataType.simpleString() == "string"
    assert dated.read().first()["load_dt"] == "2024-01-01"


def test_manifest_sink_bucketed_partial_entries_read(spark, tmp_path, binding):
    """A bucketed sink whose entries a key delete partially dereferenced
    (per-file lists instead of "full") reads exactly the surviving rows
    through its pinned per-segment branches, with no inference job."""
    sink = _sink(
        spark, tmp_path, binding, name="bpart", key_col="chunk_id",
        n_buckets=4,
    )
    for i in range(2):
        sink.upsert(
            spark.createDataFrame(
                [(f"c{i}_{j}", j) for j in range(12)],
                "chunk_id string, v int",
            )
        )
    sink.delete_where("chunk_id", ["c0_3", "c1_5"])
    manifest, _ = sink._get_manifest()
    assert any(not s.get("full") for s in manifest["segments"])
    got, jobs = jobs_during(spark, sink.read)
    assert jobs == 0
    assert got.columns == ["chunk_id", "v"]
    want = sorted(
        (f"c{i}_{j}", j)
        for i in range(2)
        for j in range(12)
        if (i, j) not in {(0, 3), (1, 5)}
    )
    assert sorted(tuple(r) for r in got.collect()) == want


def test_read_of_missing_sink_creates_nothing(spark, tmp_path):
    """Opening a sink to read leaves no control objects behind: a read of
    a path with no sink raises FileNotFoundError and creates nothing."""
    path = tmp_path / "nowhere"
    with pytest.raises(FileNotFoundError):
        ManifestVectorSink(spark, str(path), partition_col=None).read()
    assert not path.exists()


def test_manifest_sink_maybe_compact_threshold(spark, tmp_path):
    sink = _sink(spark, tmp_path, "file", name="mc")
    for i in range(5):
        sink.upsert(
            spark.createDataFrame([(f"c{i}", i)], "chunk_id string, v long")
        )
    assert sink.maybe_compact(max_segments=8) == 0  # under threshold
    assert sink.maybe_compact(max_segments=4) == 5  # folds all five
    assert sink.read().count() == 5


@pytest.mark.parametrize("substrate", ["file"])
def test_manifest_sink_randomized_against_model(spark, tmp_path, substrate):
    """Model-based drill: a seeded random sequence of upserts / key
    deletes / compactions / vacuums runs against both the sink and a
    plain in-memory multiset model; after every mutation the sink's
    visible rows equal the model, and at the end every retained snapshot
    equals the model's state as of that commit. Catches whole classes of
    manifest-bookkeeping bugs (dropped refs, double refs, wrong-bucket
    pruning) that example tests can miss."""
    import random

    rng = random.Random(20260816)
    sink = _sink(
        spark, tmp_path, substrate, name="model", key_col="k", n_buckets=4
    )
    model: list[tuple[str, int]] = []  # multiset of (k, v)
    snapshots: dict[int, list[tuple[str, int]]] = {}

    def check():
        got = sorted((r["k"], r["v"]) for r in sink.read().collect())
        assert got == sorted(model)

    for step in range(18):
        op = rng.choice(
            ["upsert", "upsert", "delete", "compact", "compact_small",
             "vacuum"]
        )
        if op == "upsert":
            rows = [
                (f"k{rng.randrange(12)}", rng.randrange(100))
                for _ in range(rng.randrange(1, 5))
            ]
            sink.upsert(spark.createDataFrame(rows, "k string, v int"))
            model.extend(rows)
            snapshots[sink.current_commit_id()] = list(model)
        elif op == "delete":
            keys = [f"k{rng.randrange(12)}" for _ in range(rng.randrange(1, 4))]
            before = sink.current_commit_id()
            sink.delete_where("k", keys)
            model = [r for r in model if r[0] not in set(keys)]
            after = sink.current_commit_id()
            if after != before:  # no-op deletes don't commit
                snapshots[after] = list(model)
        elif op == "compact":
            before = sink.current_commit_id()
            sink.compact()
            after = sink.current_commit_id()
            if after != before:
                snapshots[after] = list(model)
        elif op == "compact_small":
            # size-tiered fold: every segment here is tiny, so a huge
            # small_bytes folds them all — visibility must be unchanged
            before = sink.current_commit_id()
            sink.compact_small(small_bytes=1 << 30)
            after = sink.current_commit_id()
            if after != before:
                snapshots[after] = list(model)
        else:
            sink.vacuum(retain_versions=100)  # keep all history readable
        if model:
            check()

    # every retained snapshot reproduces the model's state at that commit
    for cid, state in snapshots.items():
        if not state:
            continue
        got = sorted((r["k"], r["v"]) for r in sink.read_at(cid).collect())
        assert got == sorted(state), f"snapshot v{cid} diverged"


def test_manifest_sink_upsert_cas_exhaustion_cleans_up(spark, tmp_path):
    """An upsert that loses every CAS retry raises loudly AND removes its
    staged segment — no silent garbage, no invisible half-commit."""
    class AlwaysConflict(MemoryConditionalStore):
        def put_if(self, key, data, token):
            return False

    sink = ManifestVectorSink(
        spark, str(tmp_path / "exhaust"), partition_col=None,
        store=AlwaysConflict(), max_cas_retries=2,
    )
    with pytest.raises(RuntimeError, match="CAS races"):
        sink.upsert(
            spark.createDataFrame([("a", 1)], "chunk_id string, v long")
        )
    data_root = os.path.join(str(tmp_path / "exhaust"), "_data")
    assert (not os.path.isdir(data_root)) or os.listdir(data_root) == []


def test_manifest_sink_streaming_refresh_end_to_end(spark, tmp_path):
    """The reference's incremental refresh (E2: diff -> delete -> insert)
    as a REAL checkpointed stream writing through a sink hash-bucketed on
    the refresh key: two availableNow runs, the second updating one
    document and adding another. The default "auto" wiring picks the
    sink's delete_where_df, so each micro-batch rewrites only the buckets
    its keys hash into; latest version wins and the layout stays hidden
    from readers."""
    from vectordb_data_ingestion_spark.streaming.incremental import (
        foreach_batch_refresh,
        read_file_stream,
    )

    stream_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stream_dir)
    sink = ManifestVectorSink(
        spark, str(tmp_path / "vectors"), partition_col=None,
        key_col="url", n_buckets=4,
    )

    def catalog(version, urls):
        return spark.createDataFrame(
            [(u, f"content v{version} of {u}", version) for u in urls],
            "url string, text string, version int",
        )

    def transform(batch_df):
        return batch_df.select(
            "url",
            F.sha2(F.concat_ws("#", "url", "text"), 256).alias("chunk_id"),
            "text",
            "version",
        )

    schema = catalog(1, ["u1"]).schema

    def run_once():
        q = foreach_batch_refresh(
            read_file_stream(spark, stream_dir, schema),
            transform,
            sink_upsert=sink.upsert,
            sink_delete_where=sink.delete_where,
            key_col="url",
            checkpoint=ckpt,
        ).start()
        q.awaitTermination(120)

    catalog(1, ["u1", "u2"]).write.mode("append").parquet(stream_dir)
    run_once()
    got = {(r["url"], r["version"]) for r in sink.read().collect()}
    assert got == {("u1", 1), ("u2", 1)}

    catalog(2, ["u1", "u3"]).write.mode("append").parquet(stream_dir)
    run_once()
    got = {(r["url"], r["version"]) for r in sink.read().collect()}
    assert got == {("u1", 2), ("u2", 1), ("u3", 2)}
    # the storage really is bucketed (layout hidden from readers)
    assert any(
        f.startswith("pbucket=")
        for seg in sink._get_manifest()[0]["segments"]
        for f in sink._seg_files(seg)
    )
    assert "pbucket" not in sink.read().columns
    # maintenance cadence after the batch loop
    sink.maybe_compact(max_segments=1)
    sink.vacuum()
    got = {(r["url"], r["version"]) for r in sink.read().collect()}
    assert got == {("u1", 2), ("u2", 1), ("u3", 2)}


def test_manifest_sink_partition_drop_is_manifest_only(spark, tmp_path, binding):
    """delete_where on the PARTITION column is a pure manifest edit: the
    matching load_dt dirs' files leave the manifest, no segment is
    written, rows in other partitions are untouched — the 100 TB
    retention-delete shape. Values compare against the Hive-DECODED path
    segment, so special characters survive the dir escaping."""
    store = MemoryConditionalStore() if binding == "memory" else None
    sink = ManifestVectorSink(
        spark, str(tmp_path / "ret"), partition_col="load_dt", store=store
    )
    df = spark.createDataFrame(
        [
            ("a", "2024-01-01"), ("b", "2024-01-01"),
            ("c", "2024-01-02"), ("d", "v 1"),  # space exercises escaping
        ],
        "chunk_id string, load_dt string",
    )
    sink.upsert(df)
    segs_before = [
        s["dir"] for s in sink._get_manifest()[0]["segments"]
    ]
    sink.delete_where("load_dt", ["2024-01-01", "v 1", None])
    manifest, _ = sink._get_manifest()
    # no new segment: same dirs, just fewer files referenced
    assert [s["dir"] for s in manifest["segments"]] == segs_before
    # load_dt reads back as the writer's string, not an inferred date
    got = {(r["chunk_id"], r["load_dt"]) for r in sink.read().collect()}
    assert got == {("c", "2024-01-02")}
    # idempotent: a second drop of the same values is a no-op commit-wise
    cid = sink.current_commit_id()
    sink.delete_where("load_dt", ["2024-01-01"])
    assert sink.current_commit_id() == cid


def test_manifest_sink_partition_drop_under_buckets(spark, tmp_path):
    """Partition drop composes with the bucketed layout: load_dt dirs are
    dropped inside every pbucket, key deletes still prune afterwards."""
    sink = ManifestVectorSink(
        spark, str(tmp_path / "retbk"), partition_col="load_dt",
        key_col="chunk_id", n_buckets=4,
    )
    rows = [
        (f"c{i}", "2024-01-01" if i % 2 == 0 else "2024-01-02")
        for i in range(20)
    ]
    sink.upsert(
        spark.createDataFrame(rows, "chunk_id string, load_dt string")
    )
    sink.delete_where("load_dt", ["2024-01-01"])
    got = {r["chunk_id"] for r in sink.read().collect()}
    assert got == {f"c{i}" for i in range(20) if i % 2 == 1}
    sink.delete_where("chunk_id", ["c1"])
    got = {r["chunk_id"] for r in sink.read().collect()}
    assert got == {f"c{i}" for i in range(20) if i % 2 == 1 and i != 1}


def test_vacuum_reclaims_dead_files_inside_live_segments(spark, tmp_path):
    """Partition drops and bucketed deletes dereference FILES while their
    segment dir stays live — vacuum must reclaim those bytes at file
    granularity, leave every referenced file intact, and the sink must
    read identically afterwards."""
    import glob

    sink = ManifestVectorSink(
        spark, str(tmp_path / "fv"), partition_col="load_dt"
    )
    sink.upsert(
        spark.createDataFrame(
            [("a", "d1"), ("b", "d2"), ("c", "d3")],
            "chunk_id string, load_dt string",
        )
    )
    data_root = os.path.join(str(tmp_path / "fv"), "_data")

    def disk_parquets():
        return {
            p for p in glob.glob(f"{data_root}/**/*.parquet", recursive=True)
        }

    before = disk_parquets()
    sink.delete_where("load_dt", ["d1"])  # manifest-only: bytes linger
    assert disk_parquets() == before
    removed = sink.vacuum()
    assert removed > 0
    after = disk_parquets()
    assert after < before  # d1's files reclaimed
    assert all("load_dt=d1" not in p for p in after)
    got = {(r["chunk_id"], r["load_dt"]) for r in sink.read().collect()}
    assert got == {("b", "d2"), ("c", "d3")}

    # retention: a snapshot kept via retain_versions keeps its files
    sink.delete_where("load_dt", ["d2"])
    v_before = sink.current_commit_id()
    sink.vacuum(retain_versions=1)  # previous generation (with d2) retained
    got_prev = {
        (r["chunk_id"], r["load_dt"])
        for r in sink.read_at(v_before - 1).collect()
    }
    assert got_prev == {("b", "d2"), ("c", "d3")}


class _LostResponseOnce(MemoryConditionalStore):
    """First successful MANIFEST put LANDS but reports failure — the
    lost-response behavior of real object stores under network retry."""

    lied = False

    def put_if(self, key, data, token):
        ok = super().put_if(key, data, token)
        if ok and key == "MANIFEST" and not self.lied:
            self.lied = True
            return False  # it LANDED, but the caller hears failure
        return ok


@pytest.mark.parametrize("substrate", ["mono"])
def test_upsert_lost_response_does_not_duplicate(spark, tmp_path, substrate):
    """Real conditional-put stores can apply a put and still report
    failure (lost response / internal retry). upsert's CAS retry must
    detect that its own segment already landed and stop — never append
    the entry twice."""
    store = _LostResponseOnce()
    sink = ManifestVectorSink(
        spark, str(tmp_path / "lost"), partition_col=None, store=store
    )
    sink.upsert(
        spark.createDataFrame([("a", 1), ("b", 2)], "chunk_id string, v long")
    )
    assert store.lied
    got = [r["chunk_id"] for r in sink.read().collect()]
    assert sorted(got) == ["a", "b"]  # exactly once, no duplicates
    manifest, _ = sink._get_manifest()
    assert len(manifest["segments"]) == 1


def test_writer_append_commit_is_idempotent_on_lost_response(spark, tmp_path):
    """Same lost-response class for the two-phase writer: a manifest put
    that landed but reported failure must not list the staged segments
    twice (the read would double their rows); a re-driven commit of the
    same messages is equally a no-op."""
    path = str(tmp_path / "wl")
    store = _LostResponseOnce()
    w = _writer(path)
    msgs = [_stage(w, ["a"]), _stage(w, ["b"])]
    w.commit(msgs, store=store)
    assert store.lied
    assert _committed(spark, path, store) == ["a", "b"]
    # driver-level commit retry (same messages) is also a no-op
    w.commit(msgs, store=store)
    assert _committed(spark, path, store) == ["a", "b"]
    sink = ManifestVectorSink(spark, path, partition_col=None, store=store)
    assert sink.current_commit_id() == 1


def test_compact_small_leaves_large_segments_in_place(spark, tmp_path):
    """Size-tiered compaction (VERDICT r7 item 2): only segments under the
    small-bytes threshold fold — the big compacted segment's files carry
    over BY REFERENCE (same dir, zero bytes rewritten), so maintenance
    cost is bounded by the small-segment mass, never the sink size."""
    sink = _sink(spark, tmp_path, "file", name="tiered")
    # one "large" segment (many rows), then a tail of small ones — the
    # incremental-refresh accretion shape
    big = spark.createDataFrame(
        [(f"b{i}", i) for i in range(2000)], "chunk_id string, v long"
    )
    sink.upsert(big)
    manifest, _ = sink._get_manifest()
    big_dir = manifest["segments"][0]["dir"]
    big_bytes = sink._segment_bytes(manifest["segments"][0])
    for i in range(6):
        sink.upsert(
            spark.createDataFrame([(f"s{i}", i)], "chunk_id string, v long")
        )

    merged = sink.compact_small(small_bytes=big_bytes)  # big is NOT small
    assert merged == 6
    manifest, _ = sink._get_manifest()
    dirs = [s["dir"] for s in manifest["segments"]]
    assert big_dir in dirs  # untouched, by reference
    assert len(dirs) == 2  # big + one folded small segment
    assert sink.read().count() == 2006
    got = {r["chunk_id"] for r in sink.read().filter("v < 6").collect()}
    assert {f"s{i}" for i in range(6)} <= got

    # idempotent: a second pass has nothing to fold (single small segment)
    assert sink.compact_small(small_bytes=big_bytes) == 0
    # maybe_compact routes through the size-tiered fold, not the rewrite
    assert sink.maybe_compact(max_segments=1, small_bytes=big_bytes) == 0


def test_compact_small_bins_respect_target_bytes(spark, tmp_path):
    """Bin packing: small segments group into bins of ~target_bytes, one
    rewritten segment per bin — a huge tail of small files never folds
    into ONE arbitrarily large rewrite."""
    sink = _sink(spark, tmp_path, "file", name="bins")
    for i in range(8):
        sink.upsert(
            spark.createDataFrame(
                [(f"c{i}-{j}", j) for j in range(20)],
                "chunk_id string, v long",
            )
        )
    manifest, _ = sink._get_manifest()
    sz = sink._segment_bytes(manifest["segments"][0])
    # cap ~2 segments per bin -> 8 smalls fold into 4 bins
    merged = sink.compact_small(
        small_bytes=10 * sz, target_bytes=2 * sz + sz // 2
    )
    assert merged == 8
    manifest, _ = sink._get_manifest()
    assert len(manifest["segments"]) == 4
    assert sink.read().count() == 160


def test_commit_heals_missing_history_key(spark, tmp_path, binding):
    """A committer can crash (or lose the response) between winning the
    manifest CAS and writing its MANIFEST.v<id> history key. The next
    commit re-publishes the generation it read, so the history chain has
    no permanent gaps (and vacuum / the upsert lost-response guard can
    rely on it)."""
    sink = _sink(spark, tmp_path, binding, name="heal")
    for i in range(3):
        sink.upsert(
            spark.createDataFrame([(f"c{i}", i)], "chunk_id string, v long")
        )
    # simulate the crash: the CURRENT generation's history key is lost
    cur = sink.store.get("MANIFEST.v3")
    assert sink.store.delete_if("MANIFEST.v3", cur[1])
    assert sink.store.get("MANIFEST.v3") is None

    # the next mutation reads gen 3 and heals its key before committing 4
    sink.upsert(
        spark.createDataFrame([("c3", 3)], "chunk_id string, v long")
    )
    healed = sink.store.get("MANIFEST.v3")
    assert healed is not None
    assert json.loads(healed[0].decode())["commit_id"] == 3
    assert sink.history() == [4, 3, 2, 1]
    # and the healed generation snapshot-reads
    assert sink.read_at(3).count() == 3


def test_commit_heals_history_with_the_bytes_it_read(spark, tmp_path, binding):
    """The heal re-publishes the generation's bytes exactly as the
    committer read them, not a second serialization of the parsed
    manifest: a head written in another JSON layout heals byte for
    byte."""
    sink = _sink(spark, tmp_path, binding, name="heal_bytes")
    for i in range(2):
        sink.upsert(
            spark.createDataFrame([(f"c{i}", i)], "chunk_id string, v long")
        )
    raw, token = sink.store.get("MANIFEST")
    relaid = json.dumps(json.loads(raw), indent=2, sort_keys=True).encode()
    assert relaid != raw
    assert sink.store.put_if("MANIFEST", relaid, token)
    cur = sink.store.get("MANIFEST.v2")
    assert sink.store.delete_if("MANIFEST.v2", cur[1])

    sink.upsert(spark.createDataFrame([("c2", 2)], "chunk_id string, v long"))
    assert sink.store.get("MANIFEST.v2")[0] == relaid
    assert sink.history() == [3, 2, 1]
    assert sink.read_at(2).count() == 2


def test_vacuum_walks_through_history_gaps(spark, tmp_path):
    """ADVICE r7: vacuum must not stop at the first missing key below the
    retention floor — a lost history put leaves a gap, and breaking there
    would strand OLDER keys whose segments this vacuum reclaims (read_at
    would then dangle onto missing paths). With the full walk plus
    read_at's segment-existence check, stranded generations fail with the
    documented retention error instead."""
    sink = _sink(spark, tmp_path, "file", name="gap")
    for i in range(6):
        sink.upsert(
            spark.createDataFrame([(f"c{i}", i)], "chunk_id string, v long")
        )
    # poke a gap at v4 (simulating a committer that died before its
    # history put, on a sink that is never mutated again so no heal runs)
    cur = sink.store.get("MANIFEST.v4")
    assert sink.store.delete_if("MANIFEST.v4", cur[1])

    sink.vacuum(retain_versions=0)  # only the head generation survives
    # keys BELOW the gap were pruned too (no early break)
    for cid in range(1, 6):
        assert sink.store.get(f"MANIFEST.v{cid}") is None, cid
    assert sink.history() == [6]
    # snapshot reads on pruned generations fail loudly
    with pytest.raises(FileNotFoundError, match="no retained"):
        sink.read_at(3)


def test_read_at_refuses_reclaimed_segments(spark, tmp_path):
    """A history key whose segments were reclaimed must raise the
    documented retention error, not hand back a DataFrame that dies on
    missing paths at action time."""
    import shutil

    sink = _sink(spark, tmp_path, "file", name="dangle")
    sink.upsert(
        spark.createDataFrame([("a", 1)], "chunk_id string, v long")
    )
    sink.upsert(
        spark.createDataFrame([("b", 2)], "chunk_id string, v long")
    )
    manifest, _ = sink._get_manifest()
    # reclaim gen 1's segment behind the history key's back
    v1 = json.loads(sink.store.get("MANIFEST.v1")[0].decode())
    shutil.rmtree(
        os.path.join(sink.base_path, "_data", v1["segments"][0]["dir"])
    )
    with pytest.raises(FileNotFoundError, match="no retained"):
        sink.read_at(1)


def test_history_is_bounded_by_retained_floor(spark, tmp_path):
    """VERDICT r7 item 5: after vacuum prunes history, history() must not
    walk commit ids one at a time down to 1 — the retained-floor
    watermark bounds the walk to O(retained) store gets."""
    class CountingStore(MemoryConditionalStore):
        def __init__(self):
            super().__init__()
            self.gets = 0

        def get(self, key):
            self.gets += 1
            return super().get(key)

    store = CountingStore()
    sink = ManifestVectorSink(
        spark, str(tmp_path / "hist"), partition_col=None, store=store
    )
    for i in range(30):
        sink.upsert(
            spark.createDataFrame([(f"c{i}", i)], "chunk_id string, v long")
        )
    sink.vacuum(retain_versions=3)
    assert sink.history() == [30, 29, 28, 27]

    store.gets = 0
    got = sink.history()
    assert got == [30, 29, 28, 27]
    # MANIFEST + RETAINED_FLOOR + one get per retained id (plus slack);
    # the pre-fix walk would issue ~30
    assert store.gets <= 10


@pytest.mark.parametrize("substrate", ["mono"])
def test_upsert_lost_response_with_concurrent_dereference(
    spark, tmp_path, substrate
):
    """ADVICE r7 (manifest_sink.py:496): the lost-response guard must
    hold even when a concurrent delete dereferenced the just-landed
    segment before the retry — re-appending it would silently resurrect
    the deleted rows. The retry scans retained history (healed by the
    delete's own commit) for its segment dir and stops."""
    deletes = {}

    class LostResponseThenDelete(_LostResponseOnce):
        in_hook = False

        def get(self, key):
            # fire the concurrent delete on the first manifest-read
            # after the lie
            if (
                self.lied
                and deletes.get("fn")
                and not self.in_hook
                and key == "MANIFEST"
            ):
                self.in_hook = True
                fn = deletes.pop("fn")
                fn()  # the concurrent delete runs between lie and retry
                self.in_hook = False
            return super().get(key)

    store = LostResponseThenDelete()
    sink = ManifestVectorSink(
        spark, str(tmp_path / "lostdel"), partition_col=None, store=store
    )

    def concurrent_delete():
        other = ManifestVectorSink(
            spark, str(tmp_path / "lostdel"), partition_col=None, store=store
        )
        other.delete_where("chunk_id", ["a", "b"])

    deletes["fn"] = concurrent_delete
    sink.upsert(
        spark.createDataFrame([("a", 1), ("b", 2)], "chunk_id string, v long")
    )
    assert store.lied and not deletes  # both the lie and the delete ran
    # the delete's verdict stands: the retry must NOT resurrect the rows
    assert sink.read().count() == 0


def test_manifest_size_scales_with_segments_not_files(spark, tmp_path):
    """r8: full segments are dir-referenced — no per-file list in the
    manifest — so the per-commit CAS payload is O(segments +
    dereferenced files), not O(total files). A bucketed delete rebuilds
    ONLY the touched entries with explicit lists; everything else stays
    a one-line dir reference."""
    sink = _sink(
        spark, tmp_path, "file", name="size", key_col="chunk_id", n_buckets=8
    )
    for i in range(6):
        sink.upsert(
            spark.createDataFrame(
                [(f"c{i}-{j}", j) for j in range(32)],
                "chunk_id string, v long",
            )
        )
    manifest, _ = sink._get_manifest()
    assert all(s.get("full") and "files" not in s for s in manifest["segments"])
    # the payload carries 6 entries, not 6x8 bucket-file paths
    assert len(json.dumps(manifest["segments"])) < 6 * 120

    # a key delete dereferences one bucket: touched entries materialize
    # their surviving lists, untouched entries stay dir-referenced
    sink.delete_where("chunk_id", ["c0-1"])
    manifest, _ = sink._get_manifest()
    partial = [s for s in manifest["segments"] if not s.get("full")]
    full = [s for s in manifest["segments"] if s.get("full")]
    assert partial and full  # the rewrite output segment is full again
    assert all("files" in s for s in partial)
    assert sink.read().count() == 6 * 32 - 1

    # compaction folds everything back to dir-referenced entries
    sink.compact()
    manifest, _ = sink._get_manifest()
    assert all(s.get("full") and "files" not in s for s in manifest["segments"])
    assert sink.read().count() == 6 * 32 - 1


def test_compaction_folds_invisible_husks_without_reading(spark, tmp_path):
    """A partitioned EMPTY write produces zero parquet files, recorded as
    an invisible husk entry (bucketed delete-alls and empty micro-batch
    upserts both make them). Compaction must fold husks away as a pure
    manifest edit — a bin of husks has nothing to scan and must not
    crash the fold."""
    sink = _sink(
        spark, tmp_path, "file", name="husks", key_col="chunk_id",
        n_buckets=4,
    )
    empty = spark.createDataFrame([], "chunk_id string, v long")
    sink.upsert(empty)
    sink.upsert(empty)  # two husk entries, zero visible
    manifest, _ = sink._get_manifest()
    assert len(manifest["segments"]) == 2
    assert not any(sink._seg_visible(s) for s in manifest["segments"])
    with pytest.raises(FileNotFoundError):
        sink.read()  # documented empty-sink behavior

    merged = sink.compact_small(small_bytes=1 << 30)
    assert merged == 2
    manifest, _ = sink._get_manifest()
    assert manifest["segments"] == []
    with pytest.raises(FileNotFoundError):
        sink.read()

    # the sink stays usable after the husk fold
    sink.upsert(
        spark.createDataFrame([("d", 4)], "chunk_id string, v long")
    )
    assert [r["chunk_id"] for r in sink.read().collect()] == ["d"]

    # a delete-all leaves ONE husk (every other entry is visible-filtered
    # at commit); the short-circuit leaves it alone and reads stay sane
    sink.delete_where("chunk_id", ["d"])
    manifest, _ = sink._get_manifest()
    assert len(manifest["segments"]) == 1
    assert sink.compact_small(small_bytes=1 << 30) == 0
    with pytest.raises(FileNotFoundError):
        sink.read()

    # full compact() folds a multi-husk state the same pure-edit way
    sink.upsert(empty)
    assert sink.compact() == 2
    manifest, _ = sink._get_manifest()
    assert manifest["segments"] == []


def _assert_no_dangling_segments(sink):
    manifest, _ = sink._get_manifest()
    for s in manifest["segments"]:
        if sink._seg_visible(s):
            assert os.path.isdir(
                os.path.join(sink.base_path, "_data", s["dir"])
            ), f"manifest references deleted dir {s['dir']}"


@pytest.mark.parametrize("substrate", ["mono"])
@pytest.mark.parametrize("op", ["delete", "delete_bucketed", "compact",
                                "compact_small"])
def test_staging_mutations_survive_lost_response(
    spark, tmp_path, op, substrate
):
    """r8 audit: every mutation that stages a segment (delete rewrite,
    compactions) used to drop its staged files the moment _commit
    reported failure — but a lost response means the commit LANDED and
    the new manifest references those files; dropping them breaks every
    reader. Each loop now re-checks before dropping and returns success
    when its commit in fact landed."""
    store = _LostResponseOnce()
    kw = (
        {"key_col": "chunk_id", "n_buckets": 4}
        if op == "delete_bucketed"
        else {}
    )
    sink = ManifestVectorSink(
        spark, str(tmp_path / "lie"), partition_col=None, store=store, **kw
    )
    df = spark.createDataFrame(
        [(f"c{i}", i) for i in range(12)], "chunk_id string, v long"
    )
    sink.upsert(df)
    assert store.lied  # the upsert's own commit already absorbed the lie
    store.lied = False  # re-arm: the NEXT mutation gets the lie

    if op in ("delete", "delete_bucketed"):
        sink.delete_where_df(
            "chunk_id", spark.createDataFrame([("c3",), ("c7",)], ["chunk_id"])
        )
        assert store.lied
        got = sorted(r["chunk_id"] for r in sink.read().collect())
        assert got == sorted(f"c{i}" for i in range(12) if i not in (3, 7))
    elif op == "compact":
        sink.upsert(df.limit(0))  # extra husk so there is work to fold
        sink.upsert(
            spark.createDataFrame([("x", 99)], "chunk_id string, v long")
        )
        store.lied = False
        assert sink.compact() >= 2
        assert store.lied
        got = sink.read().count()
        assert got == 13
    else:
        for i in range(3):
            sink.upsert(
                spark.createDataFrame(
                    [(f"s{i}", i)], "chunk_id string, v long"
                )
            )
        store.lied = False
        assert sink.compact_small(small_bytes=1 << 30) >= 2
        assert store.lied
        assert sink.read().count() == 15

    _assert_no_dangling_segments(sink)
    # the sink remains fully readable and mutable afterwards
    sink.upsert(
        spark.createDataFrame([("zz", 1)], "chunk_id string, v long")
    )
    assert sink.read().filter(F.col("chunk_id") == "zz").count() == 1


def test_writer_abort_never_deletes_manifest_listed_files(spark, tmp_path):
    """Spark calls abort when commit() raises — and a commit that
    exhausted its CAS retries can still have LANDED a put (lost
    response). Abort must not drop staged segments the manifest lists,
    or every read dangles on missing paths."""

    class AlwaysLiesStore(MemoryConditionalStore):
        """Every MANIFEST put lands but reports failure."""

        def put_if(self, key, data, token):
            ok = super().put_if(key, data, token)
            return False if ok and key == "MANIFEST" else ok

    path = str(tmp_path / "wabort")
    store = AlwaysLiesStore()
    w = _writer(path)
    msg = _stage(w, ["a", "b"])
    # the guard finds its own segment in the manifest: the commit landed
    w.commit([msg], store=store)
    assert _committed(spark, path, store) == ["a", "b"]

    # Spark's failure path: abort with the same messages
    w.abort([msg], store=store)
    # the committed rows survive
    assert _committed(spark, path, store) == ["a", "b"]

    # a genuinely uncommitted message IS cleaned up by the same abort
    truthful = MemoryConditionalStore()
    path2 = str(tmp_path / "wabort2")
    w2 = _writer(path2)
    msg2 = _stage(w2, ["c"])
    w2.abort([msg2], store=truthful)
    assert _committed(spark, path2, truthful) == []
    assert not os.path.exists(os.path.join(path2, "_data", msg2.dir))


def test_writer_abort_keeps_staged_segments_when_manifest_unreadable(
    spark, tmp_path
):
    """An abort that can't read the manifest must keep every staged
    segment: a landed (lost-response) commit may list them, and a dropped
    referenced dir breaks every later read, while an orphan is only
    garbage ``vacuum()`` reclaims."""

    class LandsThenUnreadable(MemoryConditionalStore):
        """The MANIFEST put lands but reports failure; later, while
        ``unreadable`` is set, the next ``get`` raises (once)."""

        def __init__(self):
            super().__init__()
            self.lied = False
            self.unreadable = False

        def put_if(self, key, data, token):
            ok = super().put_if(key, data, token)
            if ok and key == "MANIFEST" and not self.lied:
                self.lied = True
                return False
            return ok

        def get(self, key):
            if self.unreadable:
                self.unreadable = False
                raise OSError("store unavailable")
            return super().get(key)

    path = str(tmp_path / "wunread")
    store = LandsThenUnreadable()
    w = _writer(path)
    msgs = [_stage(w, ["a"]), _stage(w, ["b"])]
    w.commit(msgs, store=store)
    assert store.lied
    store.unreadable = True
    w.abort(msgs, store=store)
    assert not store.unreadable  # the abort did hit the failing read
    assert _committed(spark, path, store) == ["a", "b"]


def test_history_walk_is_bounded(spark, tmp_path):
    """VERDICT r8 item 5: `_dir_in_history` must never issue an unbounded
    number of store gets when the generation range is pathological (e.g.
    a clock-like commit_id jump). It caps at HISTORY_WALK_CAP gets and
    returns the conservative "landed" verdict on overflow — the caller
    keeps its staged segment (vacuumable at worst) instead of deleting
    files a retained generation might reference."""
    from vectordb_data_ingestion_spark.sinks.manifest_sink import (
        ManifestVectorSink,
    )

    class CountingStore:
        def __init__(self, inner):
            self.inner = inner
            self.gets = 0

        def get(self, key):
            self.gets += 1
            return self.inner.get(key)

        def put_if(self, key, data, token):
            return self.inner.put_if(key, data, token)

        def delete_if(self, key, token):
            return self.inner.delete_if(key, token)

    from vectordb_data_ingestion_spark.sinks.commit_store import (
        MemoryConditionalStore,
    )

    store = CountingStore(MemoryConditionalStore())
    sink = ManifestVectorSink(
        spark, str(tmp_path / "s"), partition_col=None, store=store
    )
    sink.upsert(
        spark.createDataFrame([("a", 1)], "chunk_id string, v int")
    )

    # a million-generation range: bounded gets, conservative True
    store.gets = 0
    assert sink._dir_in_history("no-such-dir", 1, 1_000_000) is True
    assert store.gets <= sink.HISTORY_WALK_CAP

    # a small range still walks exhaustively and answers exactly
    store.gets = 0
    assert sink._dir_in_history("no-such-dir", 1, 5) is False
    assert store.gets <= 5
    real_dir = sink._get_manifest()[0]["segments"][0]["dir"]
    assert sink._dir_in_history(real_dir, 1, 1) is True


@pytest.mark.parametrize("substrate", ["mono"])
def test_manifest_sink_model_under_sustained_lies(spark, tmp_path, substrate):
    """The lost-response guards claim to survive ARBITRARY lost
    responses, not one: re-run a seeded mutation sequence against the
    multiset model with a store that lies on every second successful
    manifest commit (landed, reported failure). The
    visible rows must equal the model after every mutation — no
    duplicate, no loss, no resurrection."""
    import random

    class LiesEverySecond(MemoryConditionalStore):
        successes = 0
        lies = 0

        def put_if(self, key, data, token):
            ok = super().put_if(key, data, token)
            if ok and key == "MANIFEST":
                self.successes += 1
                if self.successes % 2 == 0:
                    self.lies += 1
                    return False  # landed, caller hears failure
            return ok

    store = LiesEverySecond()

    sink = ManifestVectorSink(
        spark, str(tmp_path / "chaos"), partition_col=None,
        key_col="k", n_buckets=4, store=store,
    )
    rng = random.Random(20260816 + 9)
    model: list[tuple[str, int]] = []
    for step in range(14):
        op = rng.choice(["upsert", "upsert", "delete", "compact_small"])
        if op == "upsert":
            rows = [
                (f"k{rng.randrange(10)}", rng.randrange(100))
                for _ in range(rng.randrange(1, 4))
            ]
            sink.upsert(spark.createDataFrame(rows, "k string, v int"))
            model.extend(rows)
        elif op == "delete":
            keys = [f"k{rng.randrange(10)}" for _ in range(rng.randrange(1, 3))]
            sink.delete_where("k", keys)
            model = [r for r in model if r[0] not in set(keys)]
        else:
            sink.compact_small(small_bytes=1 << 30)
        if model:
            got = sorted((r["k"], r["v"]) for r in sink.read().collect())
            assert got == sorted(model), f"diverged at step {step} ({op})"
    assert store.lies >= 4  # the chaos actually ran


@pytest.mark.parametrize("substrate", ["mono"])
def test_readers_see_consistent_generations_during_commits(
    spark, tmp_path, substrate
):
    """Snapshot isolation under concurrency: while a writer commits rows
    one at a time, every concurrent read must observe a complete
    committed prefix — never a torn manifest, a gap, or a duplicate."""
    store = MemoryConditionalStore()
    path = str(tmp_path / "snap")
    sink = ManifestVectorSink(spark, path, partition_col=None, store=store)
    sink.upsert(spark.createDataFrame([(0,)], "v int"))

    stop = threading.Event()
    bad: list[str] = []

    def reader():
        # a separate sink object over the SAME store: no shared caches
        # between reader and writer beyond the store itself
        r = ManifestVectorSink(spark, path, partition_col=None, store=store)
        while not stop.is_set():
            vals = sorted(row["v"] for row in r.read().collect())
            if vals != list(range(len(vals))):
                bad.append(f"non-prefix read: {vals}")
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    for i in range(1, 9):
        sink.upsert(spark.createDataFrame([(i,)], "v int"))
    stop.set()
    for t in threads:
        t.join(60)
    assert not bad, bad
    assert sorted(
        row["v"] for row in sink.read().collect()
    ) == list(range(9))


def test_manifest_sink_model_under_tight_retention(spark, tmp_path):
    """Randomized mutations with AGGRESSIVE retention (retain_versions
    0-2): every vacuum prunes most history, repeatedly committing on
    heads whose older generations were just pruned — visible rows must
    track the model throughout, retained snapshots must read, pruned
    ones must fail with the retention error."""
    import random

    rng = random.Random(20260816 + 99)
    sink = ManifestVectorSink(
        spark, str(tmp_path / "tight"), partition_col=None,
        key_col="k", n_buckets=4, store=MemoryConditionalStore(),
    )
    model: list[tuple[str, int]] = []
    snapshots: dict[int, list[tuple[str, int]]] = {}
    for step in range(16):
        op = rng.choice(["upsert", "upsert", "delete", "vacuum", "vacuum"])
        if op == "upsert":
            rows = [
                (f"k{rng.randrange(8)}", rng.randrange(100))
                for _ in range(rng.randrange(1, 4))
            ]
            sink.upsert(spark.createDataFrame(rows, "k string, v int"))
            model.extend(rows)
            snapshots[sink.current_commit_id()] = list(model)
        elif op == "delete":
            keys = [f"k{rng.randrange(8)}"]
            before = sink.current_commit_id()
            sink.delete_where("k", keys)
            model = [r for r in model if r[0] not in set(keys)]
            after = sink.current_commit_id()
            if after != before:
                snapshots[after] = list(model)
        else:
            sink.vacuum(retain_versions=rng.randrange(0, 3))
        if model:
            got = sorted((r["k"], r["v"]) for r in sink.read().collect())
            assert got == sorted(model), f"diverged at step {step} ({op})"

    # retained snapshots read exactly; pruned ones fail loudly
    retained = set(sink.history(limit=50))
    cur_id = sink.current_commit_id()
    for cid, state in snapshots.items():
        if cid == cur_id or not state:
            continue
        if cid in retained:
            got = sorted(
                (r["k"], r["v"]) for r in sink.read_at(cid).collect()
            )
            assert got == sorted(state), f"snapshot v{cid} diverged"
        else:
            with pytest.raises(FileNotFoundError, match="no retained"):
                sink.read_at(cid)
