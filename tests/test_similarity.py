"""LSH ANN family: signature parity (driver vs JVM arithmetic), probe
enumeration, and recall regressions vs exact brute force on the fixed
driver tables (deterministic data -> deterministic assertions)."""

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from vectordb_data_ingestion_spark.operators.similarity import (
    brute_force_topk,
    lsh_probe_signatures,
    lsh_signature_py,
    lsh_topk,
    lsh_topk_multitable,
    with_lsh_signature,
    with_lsh_signatures_multitable,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)
QIDS = (1, 7, 13, 29, 42)


def _emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


def test_signature_py_matches_jvm(spark):
    """Driver-side signature helper is bit-identical to the Spark column
    (same fold order, same round-before-sign)."""
    tagged = with_lsh_signature(_emb(spark), n_bits=16, dim=64)
    rows = tagged.filter(F.col("vec_id").isin(list(QIDS))).collect()
    assert rows
    for r in rows:
        assert lsh_signature_py(list(r["embedding"]), 16, 64) == r["sig"]


def test_probe_enumeration():
    probes = lsh_probe_signatures(0b1010, n_bits=16, radius=2)
    # C(16,0)+C(16,1)+C(16,2) = 1+16+120
    assert len(probes) == 137
    assert len(set(probes)) == 137
    assert probes[0] == 0b1010
    assert all(bin(p ^ 0b1010).count("1") <= 2 for p in probes)


def test_multitable_recall_beats_single_table(spark):
    """Union-of-tables candidates must recall at least as many true top-10
    neighbors as one 16-bit table, and clear an absolute floor measured on
    this fixed corpus."""
    emb = _emb(spark).cache()
    single = with_lsh_signature(emb, n_bits=16, dim=64).cache()
    multi = with_lsh_signatures_multitable(emb, n_bits=8, n_tables=6, dim=64).cache()
    single_hits = multi_hits = 0
    for qid in QIDS:
        srow = single.filter(F.col("vec_id") == qid).collect()[0]
        mrow = multi.filter(F.col("vec_id") == qid).collect()[0]
        qv = [float(x) for x in srow["embedding"]]
        exact = {r[0] for r in brute_force_topk(emb, qv, 10).collect()}
        s = {r[0] for r in lsh_topk(single, qv, srow["sig"], k=10, radius=2).collect()}
        m = {
            r[0]
            for r in lsh_topk_multitable(
                multi, qv, [mrow[f"sig{t}"] for t in range(6)], k=10, radius=1
            ).collect()
        }
        single_hits += len(s & exact)
        multi_hits += len(m & exact)
    assert multi_hits >= single_hits
    # measured: single 14/50, multi 29/50 at sf0.001 - generous floors
    assert multi_hits >= 20
    for df in (emb, single, multi):
        df.unpersist()


def test_lsh_query_hits_itself(spark):
    """A corpus vector queried against the corpus must return itself first
    (its own bucket is always probed at radius 0)."""
    tagged = with_lsh_signature(_emb(spark), n_bits=16, dim=64)
    row = tagged.filter(F.col("vec_id") == 7).collect()[0]
    top = lsh_topk(
        tagged, [float(x) for x in row["embedding"]], row["sig"], k=1, radius=0
    ).collect()
    assert top[0]["vec_id"] == 7


def test_ann_topk_join_is_equi_join_and_self_hits(spark):
    """Batched ANN: the probe join must stay a hash equi-join (never a
    cartesian), and every query must at minimum retrieve itself at
    certainty 1.0 (its own bucket is always probed at radius >= 0)."""
    from vectordb_data_ingestion_spark.operators.similarity import ann_topk_join

    corpus = with_lsh_signature(_emb(spark), n_bits=16, dim=64)
    queries = corpus.filter(F.col("vec_id").isin(*QIDS)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("sig").alias("q_sig"),
    )
    out = ann_topk_join(corpus, queries, k=3, n_bits=16, radius=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == set(QIDS)
    for q, hits in by_q.items():
        assert len(hits) <= 3
        best = max(hits, key=lambda r: r["certainty"])
        assert best["vec_id"] == q and best["certainty"] == 1.0


# --- int8 quantization ------------------------------------------------------

def test_quantize_int8_roundtrip_quality_and_range(spark):
    from vectordb_data_ingestion_spark.functions import vectors as vec

    emb = _emb(spark)
    scale = vec.quantize_scale(F.col("embedding"))
    out = (
        emb.withColumn("scale", scale)
        .withColumn("qvec", vec.quantize_int8(F.col("embedding"), F.col("scale")))
        .withColumn(
            "recon_cert",
            vec.certainty(
                vec.to_double_array(F.col("embedding")),
                vec.dequantize(F.col("qvec"), F.col("scale")),
            ),
        )
        .collect()
    )
    for r in out:
        assert all(-127 <= q <= 127 for q in r["qvec"])
        assert max(abs(q) for q in r["qvec"]) == 127  # scale saturates
        assert r["recon_cert"] > 0.9999  # int8 keeps cosine within 1e-4


def test_quantize_zero_vector_yields_null_scale(spark):
    from vectordb_data_ingestion_spark.functions import vectors as vec

    df = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<float>")
    row = df.withColumn("scale", vec.quantize_scale(F.col("embedding"))).collect()[0]
    assert row["scale"] is None


def test_filtered_topk_scores_only_matching_labels(spark):
    from vectordb_data_ingestion_spark import queries_catalog as qc
    from tests.conftest import SF_SMALL

    out = qc.SPARK_QUERIES["filtered_topk_certainty"](spark, SF_SMALL)
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in out.collect():
        assert labels[r["vec_id"]] == r["q_id"] % 10  # predicate held


def test_zero_norm_parity_jvm_vs_vectorized(spark):
    """Review r5: the vectorized paths replaced zero norms with 1.0,
    scoring zero-norm vectors certainty 0.5 (top-k) or similarity 0
    (IVF assign) while the JVM forms give cosine NULL — dropped by the
    threshold filter / never winning under NULLS LAST. Zero-norm corpus
    rows never rank in top-k, and a zero-norm centroid never captures a
    vector."""
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
        topk_by_certainty,
    )

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),   # zero-norm: must never appear
            (3, [-1.0, -0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    top = topk_by_certainty(corpus, [(0, [1.0, 0.0])], k=3, threshold=0.0)
    assert [r["vec_id"] for r in top.collect()] == [1, 3]

    cents = spark.createDataFrame(
        [(5, [0.0, 1.0]), (7, [1.0, 0.0]), (9, [0.0, 0.0])],
        "c_id int, c_embedding array<double>",
    )
    probe = spark.createDataFrame(
        [
            # cosine to both REAL centroids is -0.707107 (a tie -> lowest
            # id): the zero-norm centroid's sim-0 would win if scored
            # instead of masked
            (10, [-1.0, -1.0]),
            (11, [0.9, 0.1]),
            # a zero-norm row ties at 0 with every real centroid
            (12, [0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cells = {
        r["vec_id"]: r["cell"]
        for r in assign_ivf_cells_vectorized(probe, cents).collect()
    }
    assert cells == {10: 5, 11: 7, 12: 5}


def test_topk_by_certainty_with_no_queries_is_empty(spark):
    """No query rows: no scan, and an empty relation with the corpus's
    id type (the per-partition kernel cannot score an empty query set)."""
    from tests.conftest import jobs_during
    from vectordb_data_ingestion_spark.operators.similarity import (
        topk_by_certainty,
    )

    corpus = spark.createDataFrame(
        [("a", [1.0, 0.0])], "chunk_id string, vector array<double>"
    )
    top, jobs = jobs_during(
        spark,
        lambda: topk_by_certainty(
            corpus, [], corpus_vec="vector", corpus_id="chunk_id"
        ),
    )
    assert jobs == 0 and top.collect() == []
    assert top.dtypes == [
        ("q_id", "bigint"), ("chunk_id", "string"), ("certainty", "double")
    ]


def test_bitext_mine_union_checkpoint_and_fallback(spark):
    """r11: bitext_mine materializes both cell-assignment sides through ONE
    side-tagged union checkpoint when the side schemas match, and falls
    back to per-side checkpoints when they differ (e.g. a string-typed
    source id). Both paths must produce the same pairs as the fully lazy
    form, and the fallback must not cast either side."""
    from pyspark.sql.types import Row

    from vectordb_data_ingestion_spark.operators.similarity import bitext_mine

    def vec(seed, dim=8):
        return [float(((seed * 31 + i * 7) % 13) - 6) for i in range(dim)]

    a_rows = [Row(a_id=i, ae=vec(i)) for i in range(1, 9)]
    b_rows = [Row(b_id=100 + i, be=vec(i + 2)) for i in range(1, 25)]
    cen_rows = [Row(c_id=j, c_embedding=vec(j * 5)) for j in range(3)]
    a = spark.createDataFrame(a_rows)
    b = spark.createDataFrame(b_rows)
    cen = spark.createDataFrame(cen_rows)

    lazy = sorted(map(tuple, bitext_mine(a, b, cen, knn=2, materialize=False).collect()))
    union_path = sorted(map(tuple, bitext_mine(a, b, cen, knn=2).collect()))
    assert union_path == lazy and lazy

    # mismatched id types -> per-side fallback, same values modulo the id
    a_str = a.withColumn("a_id", F.concat(F.lit("doc_"), F.col("a_id")))
    got = sorted(
        (r["a_id"], r["b_id"], r["cos_ppm"], r["margin_ppm"])
        for r in bitext_mine(a_str, b, cen, knn=2).collect()
    )
    want = sorted(
        (f"doc_{r['a_id']}", r["b_id"], r["cos_ppm"], r["margin_ppm"])
        for r in bitext_mine(a, b, cen, knn=2, materialize=False).collect()
    )
    assert got == want
