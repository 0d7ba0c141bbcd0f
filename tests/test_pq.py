"""Product quantization: trained codebook shape, encode determinism,
reconstruction sanity, and ADC recall vs exact search on the fixed corpus."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from vectordb_data_ingestion_spark.operators.pq import (
    pq_adc_topk,
    pq_assign,
    pq_encode,
    pq_train,
)
from vectordb_data_ingestion_spark.operators.similarity import brute_force_topk

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)
M, DIM = 8, 64


def _emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )


def test_pq_train_codebook_shape_and_determinism(spark):
    emb = _emb(spark)
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=2).cache()
    rows = cb.collect()
    by_sub = {}
    for r in rows:
        by_sub.setdefault(r["sub"], []).append(r)
        assert len(r["sv"]) == DIM // M
    assert set(by_sub) == set(range(M))
    for sub_rows in by_sub.values():
        codes = sorted(r["code"] for r in sub_rows)
        assert codes == list(range(len(codes)))  # dense 0..k'-1
        assert len(codes) <= 4
    again = pq_train(emb, m=M, dim=DIM, k=4, iterations=2).collect()
    key = lambda r: (r["sub"], r["code"])
    assert sorted(map(key, rows)) == sorted(map(key, again))


def test_pq_encode_covers_corpus_with_valid_codes(spark):
    emb = _emb(spark)
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=2).cache()
    k_per_sub = {
        r["sub"]: r["n"]
        for r in cb.groupBy("sub").agg(F.count("*").alias("n")).collect()
    }
    enc = pq_encode(emb, cb, m=M, dim=DIM)
    rows = enc.collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r["pq_codes"]) == M
        for sub, code in enumerate(r["pq_codes"]):
            assert 0 <= code < k_per_sub[sub]


def test_adc_topk_recalls_exact_neighbors(spark):
    """ADC over trained codebooks must recall a healthy share of the exact
    L2 top-10 (PQ's own objective) on this fixed corpus."""
    from vectordb_data_ingestion_spark.functions.vectors import (
        dot_product,
        to_double_array,
    )

    emb = _emb(spark).cache()
    cb = pq_train(emb, m=M, dim=DIM, k=8, iterations=2).cache()
    assigned = pq_assign(emb, cb, m=M, dim=DIM).cache()
    hits = 0
    qids = (1, 7, 13)
    for qid in qids:
        qv = [float(x) for x in emb.filter(F.col("vec_id") == qid).collect()[0][
            "embedding"
        ]]
        qc = F.array(*[F.lit(float(x)) for x in qv])
        v = to_double_array(F.col("embedding"))
        l2 = dot_product(v, v) - 2 * dot_product(v, qc) + dot_product(qc, qc)
        exact = {
            r["vec_id"]
            for r in emb.select("vec_id", l2.alias("d"))
            .orderBy(F.asc("d"), F.asc("vec_id"))
            .limit(10)
            .collect()
        }
        approx = [
            r["vec_id"]
            for r in pq_adc_topk(assigned, cb, qv, k=10, m=M, dim=DIM).collect()
        ]
        hits += len(exact & set(approx))
    # 3 queries x top-10. Uniform-random vectors are PQ's worst case (no
    # cluster structure; distances concentrate): measured 10-11/30 across
    # k in {8,16}, iters in {2,3} on this fixed corpus. 9 is the
    # regression floor; real clustered embeddings sit far above it.
    assert hits >= 9, f"ADC recall too low: {hits}/30"


def test_pq_encode_vectorized_matches_jvm(spark):
    """The matmul encode and the exploded-join JVM encode are bit-identical
    (same rounding, same tie-break)."""
    from vectordb_data_ingestion_spark.operators.pq import pq_encode_vectorized

    emb = _emb(spark)
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=1).cache()
    a = {r["vec_id"]: list(r["pq_codes"]) for r in pq_encode(emb, cb, M, DIM).collect()}
    b = {r["vec_id"]: list(r["pq_codes"])
         for r in pq_encode_vectorized(emb, cb, M, DIM).collect()}
    assert a == b


def test_pq_adc_codes_matches_join_form(spark):
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_adc_topk_codes,
        pq_encode_vectorized,
    )

    emb = _emb(spark).cache()
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=1).cache()
    assigned = pq_assign(emb, cb, m=M, dim=DIM)
    encoded = pq_encode_vectorized(emb, cb, M, DIM)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).collect()[0][
        "embedding"
    ]]
    a = [(r["vec_id"], r["adc"]) for r in pq_adc_topk(
        assigned, cb, qv, k=10, m=M, dim=DIM).collect()]
    b = [(r["vec_id"], r["adc"]) for r in pq_adc_topk_codes(
        encoded, cb, qv, k=10, m=M, dim=DIM).collect()]
    assert a == b


def test_pq_adc_batch_matches_single(spark):
    """Batched ADC per query == single-query ADC (same local-topk cut,
    same global merge)."""
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_adc_topk_batch,
        pq_adc_topk_codes,
        pq_encode_vectorized,
    )

    emb = _emb(spark).cache()
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=1).cache()
    encoded = pq_encode_vectorized(emb, cb, M, DIM).cache()
    queries = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id").isin([1, 7, 13])).collect()
    ]
    batch = {}
    for r in pq_adc_topk_batch(
        encoded, cb, queries, k=5, m=M, dim=DIM
    ).collect():
        batch.setdefault(r["q_id"], []).append((r["vec_id"], r["adc"]))
    for q_id, vec in queries:
        single = [
            (r["vec_id"], r["adc"])
            for r in pq_adc_topk_codes(
                encoded, cb, vec, k=5, m=M, dim=DIM
            ).collect()
        ]
        assert sorted(batch[q_id]) == sorted(single), q_id


def test_ivfpq_prunes_and_ranks(spark):
    """IVF+PQ returns only vectors from probed cells, ranked by ADC; with
    n_probe = all cells it equals plain batched ADC."""
    from vectordb_data_ingestion_spark.operators.pq import (
        ivfpq_topk,
        pq_adc_topk_codes,
        pq_encode_vectorized,
    )
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    emb = _emb(spark).cache()
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=1).cache()
    centroids = emb.filter(F.col("vec_id") % 25 == 2).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_embedding"),
    ).cache()
    n_cells = centroids.count()
    cells = assign_ivf_cells_vectorized(emb, centroids).select("vec_id", "cell")
    encoded = pq_encode_vectorized(emb, cb, M, DIM).join(cells, "vec_id").cache()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7).collect()[0][
        "embedding"
    ]]
    pruned = ivfpq_topk(encoded, centroids, cb, qv, k=10, n_probe=2,
                        m=M, dim=DIM).collect()
    assert 0 < len(pruned) <= 10
    # probing every cell == no pruning == plain ADC
    full = ivfpq_topk(encoded, centroids, cb, qv, k=10, n_probe=n_cells,
                      m=M, dim=DIM).collect()
    plain = pq_adc_topk_codes(encoded, cb, qv, k=10, m=M, dim=DIM).collect()
    assert [(r["vec_id"], r["adc"]) for r in full] == [
        (r["vec_id"], r["adc"]) for r in plain
    ]


def test_ivfpq_cell_partitioned_layout_prunes(spark, tmp_path):
    """Codes written partitioned by cell: a probe's scan must show
    PartitionFilters on the cell key - the IVFPQ index reads only probed
    directories at any scale."""
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_encode_vectorized,
    )
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    emb = _emb(spark)
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=1)
    centroids = emb.filter(F.col("vec_id") % 25 == 2).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_embedding"),
    )
    cells = assign_ivf_cells_vectorized(emb, centroids).select("vec_id", "cell")
    encoded = pq_encode_vectorized(emb, cb, M, DIM).join(cells, "vec_id")
    path = str(tmp_path / "ivfpq")
    encoded.write.partitionBy("cell").parquet(path)

    layout = spark.read.parquet(path)
    probe = [r["c_id"] for r in centroids.limit(2).collect()]
    pruned = layout.filter(F.col("cell").isin(probe))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    pf = scan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in pf and " in (" in pf.lower()
    assert pruned.count() > 0


def test_persisted_ivfpq_index_lifecycle(spark, tmp_path):
    """Build-once/query-many: the stored index answers bit-identically to
    the rebuild-every-time ivfpq_topk, the codes scan carries a cell
    PartitionFilter, and only the probed cells' files are read."""
    from vectordb_data_ingestion_spark.operators.pq import ivfpq_topk
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        load_ivfpq_index,
        query_ivfpq_index,
    )
    from vectordb_data_ingestion_spark.plans.inspect import physical_plan

    emb = _emb(spark).cache()
    cb = pq_train(emb, m=M, dim=DIM, k=4, iterations=1).cache()
    centroids = emb.filter(F.col("vec_id") % 25 == 2).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_embedding"),
    ).cache()
    idx_dir = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, centroids, cb, idx_dir, m=M, dim=DIM)

    index = load_ivfpq_index(spark, idx_dir, m=M, dim=DIM)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    ]
    stored = query_ivfpq_index(index, qv, k=10, n_probe=2)
    # parity with the rebuild-every-time path
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_encode_vectorized,
    )

    cells = assign_ivf_cells_vectorized(emb, centroids).select(
        "vec_id", "cell"
    )
    encoded = pq_encode_vectorized(emb, cb, M, DIM).join(cells, "vec_id")
    direct = ivfpq_topk(encoded, centroids, cb, qv, k=10, n_probe=2, m=M, dim=DIM)
    assert [tuple(r) for r in stored.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    # the probe is a PARTITION filter: unprobed cells' files are never read
    probed = query_ivfpq_index(index, qv, k=10, n_probe=2)
    assert "PartitionFilters" in physical_plan(probed)
    n_cells = centroids.count()
    all_files = set(index.codes.inputFiles())
    probe_files = {
        f
        for f in all_files
        if any(
            f"cell={c}/" in f
            for c in [
                r["cell"]
                for r in query_ivfpq_index(index, qv, k=10, n_probe=2)
                .select("vec_id")
                .join(index.codes, "vec_id")
                .select("cell")
                .distinct()
                .collect()
            ]
        )
    }
    assert len(probe_files) < len(all_files)  # genuinely pruned
    assert n_cells > 2


def test_adc_batch_empty_queries_fails_on_driver(spark):
    """An empty query batch must fail loudly on the DRIVER naming the
    cause, not inside a task as pandas' 'No objects to concatenate'."""
    import pytest as _pytest

    from vectordb_data_ingestion_spark.operators.pq import pq_adc_topk_batch

    enc = spark.createDataFrame(
        [(1, [0, 1])], "vec_id long, pq_codes array<bigint>"
    )
    books = spark.createDataFrame(
        [(0, 0, [0.0]), (0, 1, [1.0]), (1, 0, [0.0]), (1, 1, [1.0])],
        "sub int, code long, sv array<double>",
    )
    with _pytest.raises(ValueError, match="non-empty"):
        pq_adc_topk_batch(enc, books, [], k=1, m=2, dim=2)


def _clustered_corpus(n_clusters=16, per_cluster=120, dim=16, spread=0.08):
    """Deterministic clustered embeddings: cluster centers on distinct
    positive directions far from the origin, members tightly around them —
    the geometry where residual encoding (quantize x - centroid) beats
    direct encoding with the same codebook budget."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.normal(loc=3.0, scale=1.0, size=(n_clusters, dim))
    centers = np.abs(centers) + 1.0  # positive orthant: cosine probing works
    pts, cells = [], []
    for ci in range(n_clusters):
        pts.append(centers[ci] + rng.normal(0.0, spread, (per_cluster, dim)))
        cells.extend([ci] * per_cluster)
    return centers, np.vstack(pts)


def test_residual_ivfpq_beats_direct_recall(spark):
    """The A/B that earns residual encoding its place (Jegou et al. 2011
    §IV): same m x k codebook budget, same probe contract — codes built on
    residuals recall the exact-L2 top-10 better than codes built on raw
    vectors, because 16 global codewords per subspace cannot cover 16
    cluster positions AND local offsets at once."""
    import numpy as np

    from vectordb_data_ingestion_spark.operators.pq import (
        ivfpq_topk,
        pq_adc_topk_codes_residual,
        pq_encode_residual_vectorized,
        pq_encode_vectorized,
        pq_train,
        residual_table,
    )
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    m, dim, n_probe, k = 4, 16, 3, 10
    centers, x = _clustered_corpus(dim=dim)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(i, [float(v) for v in centers[i]]) for i in range(len(centers))],
        "c_id long, c_embedding array<double>",
    )

    # ground truth: exact L2 top-k (numpy, driver-side — test-sized)
    def exact_topk(q):
        d = ((x - q) ** 2).sum(axis=1)
        return set(np.lexsort((np.arange(len(x)), d))[:k])

    queries = [x[i] + 0.01 for i in (5, 300, 777, 1200, 1750)]

    # direct: codebooks trained on raw vectors, existing path
    books_direct = pq_train(emb, m, dim, k=16, iterations=3)
    assigned = assign_ivf_cells_vectorized(emb, cents)
    enc_direct = pq_encode_vectorized(emb, books_direct, m, dim).join(
        assigned.select("vec_id", "cell"), "vec_id"
    )
    # residual: codebooks trained on residuals, new path
    rt = residual_table(emb, cents)
    books_res = pq_train(rt, m, dim, k=16, iterations=3, vec_col="rvec")
    enc_res = pq_encode_residual_vectorized(emb, cents, books_res, m, dim)

    hits_direct = hits_res = total = 0
    for q in queries:
        truth = exact_topk(q)
        qv = [float(v) for v in q]
        got_d = {
            r["vec_id"]
            for r in ivfpq_topk(
                enc_direct, cents, books_direct, qv, k,
                n_probe=n_probe, m=m, dim=dim,
            ).collect()
        }
        got_r = {
            r["vec_id"]
            for r in pq_adc_topk_codes_residual(
                enc_res, books_res, cents, qv, k,
                n_probe=n_probe, m=m, dim=dim,
            ).collect()
        }
        hits_direct += len(got_d & truth)
        hits_res += len(got_r & truth)
        total += k
    recall_d, recall_r = hits_direct / total, hits_res / total
    # the A/B is the claim: same budget, same probes, residual wins by a
    # clear margin. Absolute recall@10 is bounded by code-collision ties
    # among ~120 near-identical cluster members (ADC ties resolve by id,
    # exact L2 by true distance), so the bar is relative + a sanity floor.
    assert recall_r >= recall_d + 0.15, (recall_r, recall_d)
    assert recall_r >= 0.35, recall_r


def test_residual_index_roundtrip_and_append(spark, tmp_path):
    """_meta.json makes the stored encoding part of the index contract:
    load routes queries to the residual scorer, a streaming append
    encodes residually (a direct-encoded append would corrupt the cells
    it lands in)."""
    import os

    from vectordb_data_ingestion_spark.operators.pq import (
        pq_train,
        residual_table,
    )
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        foreach_batch_index_append,
        load_ivfpq_index,
        query_ivfpq_index,
    )

    m, dim = 4, 16
    centers, x = _clustered_corpus(per_cluster=40, dim=dim)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(500)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(i, [float(v) for v in centers[i]]) for i in range(len(centers))],
        "c_id long, c_embedding array<double>",
    )
    books = pq_train(residual_table(emb, cents), m, dim, k=16,
                     iterations=2, vec_col="rvec")
    out = str(tmp_path / "residx")
    build_ivfpq_index(emb, cents, books, out, m=m, dim=dim, residual=True)
    idx = load_ivfpq_index(spark, out)
    assert idx.residual and idx.m == m and idx.dim == dim

    q = [float(v) for v in x[42]]
    got = query_ivfpq_index(idx, q, k=5, n_probe=3).collect()
    assert [r["vec_id"] for r in got][0] == 42  # self is the L2-0 match

    # streaming append keeps the stored encoding
    inc_dir = str(tmp_path / "inc")
    spark.createDataFrame(
        [(9000 + i, [float(v) for v in x[520 + i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    ).write.mode("append").parquet(inc_dir)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(inc_dir)
    qy = foreach_batch_index_append(
        stream, out, str(tmp_path / "ckpt"), m=m, dim=dim
    ).start()
    qy.awaitTermination(120)
    idx2 = load_ivfpq_index(spark, out)
    # the real contract: the appended rows' STORED codes equal the
    # residual encoding (a direct-encoded append would differ and corrupt
    # its cells) — nearest-neighbor ranks are tie-ridden at this spread
    # (whole clusters collide to one code tuple; ties resolve by id)
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_encode_residual_vectorized as _enc_res,
    )

    appended = spark.createDataFrame(
        [(9000 + i, [float(v) for v in x[520 + i]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    expect = {
        r["vec_id"]: (r["cell"], list(r["pq_codes"]))
        for r in _enc_res(appended, cents, books, m, dim).collect()
    }
    stored = {
        r["vec_id"]: (r["cell"], list(r["pq_codes"]))
        for r in idx2.codes.filter("vec_id >= 9000").collect()
    }
    assert stored == expect
    # and the appended vector is retrievable (within the tie-group bound)
    q2 = [float(v) for v in x[525]]
    got2 = {
        r["vec_id"]
        for r in query_ivfpq_index(idx2, q2, k=60, n_probe=3).collect()
    }
    assert 9005 in got2



def test_residual_query_prunes_cell_partitions(spark, tmp_path):
    """The residual scorer inherits the partition-pruning contract: its
    cell filter must reach the codes scan as PartitionFilters (only
    probed directories are read, same as the direct path's pinned test)."""
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_train,
        residual_table,
    )
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        load_ivfpq_index,
        query_ivfpq_index,
    )

    centers, x = _clustered_corpus(per_cluster=20, dim=16)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(i, [float(v) for v in centers[i]]) for i in range(len(centers))],
        "c_id long, c_embedding array<double>",
    )
    books = pq_train(residual_table(emb, cents), 4, 16, k=8,
                     iterations=1, vec_col="rvec")
    out = str(tmp_path / "residx")
    build_ivfpq_index(emb, cents, books, out, m=4, dim=16, residual=True)
    idx = load_ivfpq_index(spark, out)
    res = query_ivfpq_index(idx, [float(v) for v in x[0]], k=5, n_probe=2)
    plan = res._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    pf = scan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in pf and " in (" in pf.lower()
    assert res.count() == 5


def test_opq_rotation_beats_plain_pq_on_correlated_data(spark):
    """OPQ A/B (Ge et al. 2013): on embeddings whose coordinates are
    MIXED across subspace boundaries (a dense linear transform of
    independent factors), plain PQ's fixed coordinate split quantizes
    badly; the learned orthonormal rotation recovers a decorrelated
    split and recall rises at the same m x k budget. Full-scan ADC on
    both sides (no IVF), exact-L2 truth."""
    import numpy as np

    from vectordb_data_ingestion_spark.operators.pq import (
        opq_train,
        pq_adc_topk_codes,
        pq_encode_vectorized,
        pq_train,
    )

    m, dim, k = 4, 16, 10
    rng = np.random.default_rng(11)
    # anisotropic factors (decaying variances) mixed by a random rotation:
    # the quantization-friendly axes are NOT the coordinate axes
    factors = rng.normal(size=(3000, dim)) * np.linspace(3.0, 0.1, dim)
    mix, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    x = factors @ mix.T
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )

    def exact_topk(q):
        d = ((x - q) ** 2).sum(axis=1)
        return set(np.lexsort((np.arange(len(x)), d))[:k])

    queries = [x[i] + 0.01 for i in (3, 700, 1500, 2200, 2900)]

    books_plain = pq_train(emb, m, dim, k=16, iterations=3)
    enc_plain = pq_encode_vectorized(emb, books_plain, m, dim)
    rot, books_opq = opq_train(emb, m, dim, k=16, iterations=5)
    enc_opq = pq_encode_vectorized(emb, books_opq, m, dim, rotation=rot)

    R = np.asarray(rot)
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-9)  # orthonormal

    hits_plain = hits_opq = total = 0
    for q in queries:
        truth = exact_topk(q)
        qv = [float(v) for v in q]
        got_p = {
            r["vec_id"]
            for r in pq_adc_topk_codes(
                enc_plain, books_plain, qv, k, m=m, dim=dim
            ).collect()
        }
        got_o = {
            r["vec_id"]
            for r in pq_adc_topk_codes(
                enc_opq, books_opq, qv, k, m=m, dim=dim, rotation=rot
            ).collect()
        }
        hits_plain += len(got_p & truth)
        hits_opq += len(got_o & truth)
        total += k
    recall_p, recall_o = hits_plain / total, hits_opq / total
    assert recall_o > recall_p, (recall_o, recall_p)

    # determinism: retraining yields the identical rotation
    rot2, _ = opq_train(emb, m, dim, k=16, iterations=5)
    assert np.allclose(np.asarray(rot2), R)


def test_opq_composes_with_residual_ivfpq(spark, tmp_path):
    """The full OPQ,IVF,PQ chain: cells assign in the ORIGINAL space
    (cosine is rotation-invariant), codes quantize R @ (x - c). On
    clusters whose WITHIN-cluster structure is anisotropic and mixed
    across subspace boundaries, rotated residuals beat plain residuals
    at the same budget — and the persisted index carries the rotation in
    _meta.json so loads and appends stay mode-consistent."""
    import numpy as np

    from vectordb_data_ingestion_spark.operators.pq import (
        opq_train,
        pq_adc_topk_codes_residual,
        pq_encode_residual_vectorized,
        pq_train,
        residual_table,
    )
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        load_ivfpq_index,
        query_ivfpq_index,
    )

    m, dim, k, n_probe = 4, 16, 10, 3
    rng = np.random.default_rng(23)
    centers = np.abs(rng.normal(3.0, 1.0, (8, dim))) + 1.0
    mix, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    pts, rows = [], []
    for ci in range(8):
        local = rng.normal(size=(250, dim)) * np.linspace(1.2, 0.05, dim)
        pts.append(centers[ci] + local @ mix.T)
    x = np.vstack(pts)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(i, [float(v) for v in centers[i]]) for i in range(len(centers))],
        "c_id long, c_embedding array<double>",
    )
    rt = residual_table(emb, cents)

    def exact_topk(q):
        d = ((x - q) ** 2).sum(axis=1)
        return set(np.lexsort((np.arange(len(x)), d))[:k])

    queries = [x[i] + 0.01 for i in (10, 600, 1100, 1700)]

    books_plain = pq_train(rt, m, dim, k=16, iterations=3, vec_col="rvec")
    enc_plain = pq_encode_residual_vectorized(emb, cents, books_plain, m, dim)
    rot, books_opq = opq_train(rt, m, dim, k=16, iterations=5, vec_col="rvec")
    enc_opq = pq_encode_residual_vectorized(
        emb, cents, books_opq, m, dim, rotation=rot
    )

    hits_p = hits_o = total = 0
    for q in queries:
        truth = exact_topk(q)
        qv = [float(v) for v in q]
        got_p = {
            r["vec_id"]
            for r in pq_adc_topk_codes_residual(
                enc_plain, books_plain, cents, qv, k,
                n_probe=n_probe, m=m, dim=dim,
            ).collect()
        }
        got_o = {
            r["vec_id"]
            for r in pq_adc_topk_codes_residual(
                enc_opq, books_opq, cents, qv, k,
                n_probe=n_probe, m=m, dim=dim, rotation=rot,
            ).collect()
        }
        hits_p += len(got_p & truth)
        hits_o += len(got_o & truth)
        total += k
    assert hits_o / total > hits_p / total, (hits_o / total, hits_p / total)

    # persisted chain: rotation survives the index roundtrip
    out = str(tmp_path / "opqidx")
    build_ivfpq_index(
        emb, cents, books_opq, out, m=m, dim=dim, residual=True, rotation=rot
    )
    idx = load_ivfpq_index(spark, out)
    assert idx.residual and idx.rotation is not None
    qv = [float(v) for v in queries[0]]
    via_index = {
        r["vec_id"] for r in query_ivfpq_index(idx, qv, k, n_probe=n_probe).collect()
    }
    direct = {
        r["vec_id"]
        for r in pq_adc_topk_codes_residual(
            enc_opq, books_opq, cents, qv, k, n_probe=n_probe, m=m, dim=dim,
            rotation=rot,
        ).collect()
    }
    assert via_index == direct

    # a rotation without residual is refused loudly (direct pruning would
    # need rotated centroids)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="residual=True"):
        build_ivfpq_index(
            emb, cents, books_opq, str(tmp_path / "bad"),
            m=m, dim=dim, residual=False, rotation=rot,
        )


def test_partial_index_build_fails_loudly(spark, tmp_path):
    """_meta.json is written BEFORE the data and _INDEX_SUCCESS after it:
    a build that crashed in between must raise at load (and at streaming
    append) instead of serving a residual index decoded as legacy-direct
    (ADVICE r6)."""
    import numpy as np

    from vectordb_data_ingestion_spark.operators.pq import (
        pq_train,
        residual_table,
    )
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        load_ivfpq_index,
    )

    m, dim = 4, 16
    rng = np.random.default_rng(7)
    x = rng.normal(size=(60, dim))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [float(v) for v in x[:30].mean(axis=0)]),
         (1, [float(v) for v in x[30:].mean(axis=0)])],
        "c_id long, c_embedding array<double>",
    )
    books = pq_train(residual_table(emb, cents), m, dim, k=8,
                     iterations=1, vec_col="rvec")
    out = str(tmp_path / "idx")
    build_ivfpq_index(emb, cents, books, out, m=m, dim=dim, residual=True)
    # completed build loads fine
    assert load_ivfpq_index(spark, out).residual

    # simulate the crash window: meta present, completion marker absent
    os.remove(os.path.join(out, "_INDEX_SUCCESS"))
    with pytest.raises(RuntimeError, match="_INDEX_SUCCESS"):
        load_ivfpq_index(spark, out)

    # a rebuild in place heals it
    build_ivfpq_index(emb, cents, books, out, m=m, dim=dim, residual=True)
    assert load_ivfpq_index(spark, out).residual


def test_trainer_driver_collect_ceiling(spark):
    """The sample/seed collects in the trainers are bounded by an explicit
    rows x dim ceiling (VERDICT r6 item 5): an abusive sample_size raises
    BEFORE collecting, and the documented override lifts it."""
    from vectordb_data_ingestion_spark.operators.pq import (
        opq_train,
        pq_train,
    )

    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(16)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="refusing to collect"):
        opq_train(emb, m=4, dim=16, sample_size=10**7)
    with pytest.raises(ValueError, match="refusing to collect"):
        pq_train(emb, m=4, dim=16, k=10**7)
    # the override is honored (tiny corpus, so this just runs)
    rot, books = opq_train(
        emb, m=4, dim=16, k=4, iterations=1, sample_size=10**7,
        max_driver_elements=10**9,
    )
    assert len(rot) == 16 and books.count() == 16


def test_residual_scorer_requires_m_and_dim(spark):
    """pq_adc_topk_codes_residual must not default m/dim (ADVICE r6): an
    omitted pair on an index built with different parameters scores wrong
    distances silently. The parameters are keyword-required."""
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_adc_topk_codes_residual,
    )

    dummy = spark.createDataFrame([(1,)], "vec_id long")
    with pytest.raises(TypeError):
        pq_adc_topk_codes_residual(dummy, dummy, dummy, [0.0], 1)


def test_calibrate_n_probe_hits_target_recall(spark, tmp_path):
    """calibrate_n_probe (VERDICT r6 item 6): given a recall target, the
    helper walks the n_probe ladder against exact-search truth and returns
    the minimal level meeting it — the ANN analogue of the reference's
    declarative top_by_certainty knob (cfg.toml:48). Pinned: the returned
    level's recall >= target, measured recall is monotone up the ladder,
    and a full probe is returned (with its honest recall) when the target
    is unreachable."""
    import numpy as np

    from vectordb_data_ingestion_spark.operators.pq import (
        pq_train,
        residual_table,
    )
    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        calibrate_n_probe,
        load_ivfpq_index,
    )

    m, dim = 4, 16
    centers, x = _clustered_corpus(n_clusters=16, per_cluster=40, dim=dim)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(i, [float(v) for v in centers[i]]) for i in range(len(centers))],
        "c_id long, c_embedding array<double>",
    )
    books = pq_train(residual_table(emb, cents), m, dim, k=16,
                     iterations=2, vec_col="rvec")
    out = str(tmp_path / "calidx")
    build_ivfpq_index(emb, cents, books, out, m=m, dim=dim, residual=True)
    idx = load_ivfpq_index(spark, out)

    rng = np.random.default_rng(11)
    queries = [
        [float(v) for v in x[i] + rng.normal(0, 0.02, dim)]
        for i in (3, 47, 201, 388, 550)
    ]
    # unreachable target first: the helper measures the WHOLE ladder and
    # returns the full probe with its honest recall (quantization error,
    # not pruning, is then the limiter)
    res_full = calibrate_n_probe(
        idx, emb, queries, k=5, target_recall=1.01, max_queries=5
    )
    assert res_full["n_probe"] == 16
    assert res_full["recall"] < 1.01
    full_ladder = res_full["measured"]
    assert sorted(full_ladder) == [1, 2, 4, 8, 16]
    # probing everything recovers at least what probing one cell does
    assert full_ladder[16] >= full_ladder[1]

    # achievable target: the returned level MEETS it and is the MINIMAL
    # measured level that does (every level below it fell short)
    target = full_ladder[16] - 0.05
    res = calibrate_n_probe(
        idx, emb, queries, k=5, target_recall=target, max_queries=5
    )
    assert res["recall"] >= target
    assert 1 <= res["n_probe"] <= 16
    for level, rec in res["measured"].items():
        if level < res["n_probe"]:
            assert rec < target, (level, rec, target)


def test_marker_era_crashed_build_fails_loudly(spark, tmp_path):
    """Every index layout written before codes/ became a manifest table —
    complete or crashed, with or without _INDEX_SUCCESS or a protocol
    field — has a codes/ directory no manifest describes. Loading it or
    appending to it must refuse with one clear "rebuild" error instead of
    guessing completeness from directory listings, and a rebuild in place
    serves again."""
    import json
    import shutil

    import numpy as np

    from vectordb_data_ingestion_spark.operators.vector_index import (
        build_ivfpq_index,
        foreach_batch_index_append,
        load_ivfpq_index,
    )

    m, dim = 4, 16
    rng = np.random.default_rng(12)
    x = rng.normal(size=(40, dim))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [float(v) for v in x[:20].mean(axis=0)]),
         (1, [float(v) for v in x[20:].mean(axis=0)])],
        "c_id long, c_embedding array<double>",
    )
    books = pq_train(emb, m, dim, k=8, iterations=1)
    out = str(tmp_path / "idx")
    build_ivfpq_index(emb, cents, books, out, m=m, dim=dim)
    rows = load_ivfpq_index(spark, out).codes.count()

    # devolve codes/ to the directory-listed layout older builds wrote
    # (codes/batch=base/cell=N), keeping the data and both markers
    codes_dir = os.path.join(out, "codes")
    legacy = load_ivfpq_index(spark, out).codes.localCheckpoint()
    shutil.rmtree(codes_dir)
    legacy.write.partitionBy("cell").parquet(
        os.path.join(codes_dir, "batch=base")
    )
    with pytest.raises(RuntimeError, match="no codes manifest.*rebuild"):
        load_ivfpq_index(spark, out)
    # opening the sink to refuse it leaves no control objects behind
    assert not os.path.exists(os.path.join(codes_dir, "_ctrl"))

    # the protocol-1 shape (no protocol field, no marker) refuses the same
    meta_path = os.path.join(out, "_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    del meta["protocol"]
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    os.remove(os.path.join(out, "_INDEX_SUCCESS"))
    with pytest.raises(RuntimeError, match="no codes manifest.*rebuild"):
        load_ivfpq_index(spark, out)

    # a streaming append refuses before writing anything
    inc = str(tmp_path / "inc")
    emb.limit(3).write.parquet(inc)
    q = foreach_batch_index_append(
        spark.readStream.schema(emb.schema).parquet(inc),
        out, str(tmp_path / "ckpt"), m=m, dim=dim,
    ).start()
    with pytest.raises(Exception, match="no codes manifest"):
        q.awaitTermination(120)
    assert not os.path.exists(os.path.join(codes_dir, "_data"))
    assert not os.path.exists(os.path.join(codes_dir, "_ctrl"))

    # rebuilding in place replaces the old layout
    build_ivfpq_index(emb, cents, books, out, m=m, dim=dim)
    assert load_ivfpq_index(spark, out).codes.count() == rows
