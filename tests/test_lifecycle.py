"""Catalog lifecycle operators: MERGE upsert idempotence / update-wins
semantics, SCD2 interval reconstruction, and k-means training convergence.
Hand-built frames for the semantics; the driver tables for training."""

import datetime as dt
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from vectordb_data_ingestion_spark.operators.catalog import (
    merge_upsert,
    scd2_history,
)
from vectordb_data_ingestion_spark.operators.similarity import (
    assign_ivf_cells_vectorized,
    kmeans_fit,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def _catalogs(spark):
    cur = spark.createDataFrame(
        [
            ("a.pdf", _ts(1), 1),
            ("b.pdf", _ts(2), 2),
            ("c.pdf", _ts(3), 3),
        ],
        "name string, modified_dt timestamp, version int",
    )
    upd = spark.createDataFrame(
        [
            ("b.pdf", _ts(5), 20),  # newer -> replaces
            ("c.pdf", _ts(3), 30),  # same ts -> update wins
            ("d.pdf", _ts(4), 40),  # new key -> inserted
        ],
        "name string, modified_dt timestamp, version int",
    )
    return cur, upd


def test_merge_upsert_semantics(spark):
    cur, upd = _catalogs(spark)
    out = {
        r["name"]: r["version"]
        for r in merge_upsert(cur, upd, ["name"], "modified_dt").collect()
    }
    assert out == {"a.pdf": 1, "b.pdf": 20, "c.pdf": 30, "d.pdf": 40}


def test_merge_upsert_idempotent(spark):
    """Re-delivering the same update batch must not change the result."""
    cur, upd = _catalogs(spark)
    once = merge_upsert(cur, upd, ["name"], "modified_dt")
    twice = merge_upsert(once, upd, ["name"], "modified_dt")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_scd2_intervals_and_point_in_time(spark):
    log = spark.createDataFrame(
        [
            (1, "draft", _ts(1), 100),
            (1, "draft", _ts(2), 101),  # no change -> collapsed
            (1, "published", _ts(3), 102),
            (1, "draft", _ts(5), 103),  # state can recur -> new interval
            (2, "published", _ts(2), 200),
        ],
        "doc int, state string, ts timestamp, seq int",
    )
    hist = scd2_history(log, ["doc"], "ts", "state", "seq")
    rows = {
        (r["doc"], r["valid_from"]): (r["state"], r["valid_to"], r["is_current"])
        for r in hist.collect()
    }
    assert rows == {
        (1, _ts(1)): ("draft", _ts(3), False),
        (1, _ts(3)): ("published", _ts(5), False),
        (1, _ts(5)): ("draft", None, True),
        (2, _ts(2)): ("published", None, True),
    }
    # point-in-time reconstruction at day 4: doc 1 was published, doc 2 published
    t = _ts(4)
    at_t = hist.filter(
        (F.col("valid_from") <= F.lit(t))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(t)))
    )
    assert {(r["doc"], r["state"]) for r in at_t.collect()} == {
        (1, "published"),
        (2, "published"),
    }


def test_scd2_null_states(spark):
    """Null-safe change detection (ADVICE round 1): transitions INTO a NULL
    state open a new interval (closing the prior one), runs of NULLs
    collapse into one interval, and a key whose FIRST state is NULL still
    gets its opening interval."""
    log = spark.createDataFrame(
        [
            (1, "draft", _ts(1), 100),
            (1, None, _ts(2), 101),      # transition into NULL -> new interval
            (1, None, _ts(3), 102),      # NULL run -> collapsed
            (1, "published", _ts(4), 103),
            (2, None, _ts(1), 200),      # first state is NULL -> kept
            (2, "draft", _ts(2), 201),
        ],
        "doc int, state string, ts timestamp, seq int",
    )
    hist = scd2_history(log, ["doc"], "ts", "state", "seq")
    rows = {
        (r["doc"], r["valid_from"]): (r["state"], r["valid_to"], r["is_current"])
        for r in hist.collect()
    }
    assert rows == {
        (1, _ts(1)): ("draft", _ts(2), False),
        (1, _ts(2)): (None, _ts(4), False),
        (1, _ts(4)): ("published", None, True),
        (2, _ts(1)): (None, _ts(2), False),
        (2, _ts(2)): ("draft", None, True),
    }


def _inertia(emb, centroids):
    """Mean (1 - cosine) to the assigned centroid - the quantity Lloyd
    minimizes under cosine assignment."""
    assigned = assign_ivf_cells_vectorized(emb, centroids)
    from vectordb_data_ingestion_spark.functions.vectors import (
        cosine_similarity,
        to_double_array,
    )

    joined = assigned.join(
        centroids.withColumnRenamed("c_id", "cell"), "cell"
    ).select(
        (
            1
            - cosine_similarity(
                to_double_array(F.col("embedding")),
                to_double_array(F.col("c_embedding")),
            )
        ).alias("d")
    )
    return joined.agg(F.avg("d")).collect()[0][0]


def test_kmeans_fit_converges_and_is_deterministic(spark):
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    seed = emb.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("c_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c_embedding"),
    )
    trained = kmeans_fit(emb, k=4, iterations=3)
    assert trained.count() <= 4
    assert _inertia(emb, trained) <= _inertia(emb, seed) + 1e-9
    again = kmeans_fit(emb, k=4, iterations=3)
    a = sorted((r["c_id"], tuple(r["c_embedding"])) for r in trained.collect())
    b = sorted((r["c_id"], tuple(r["c_embedding"])) for r in again.collect())
    assert a == b


def test_semantic_dedup_removes_exact_directional_copies(spark):
    """Scaled copies (cosine 1 to their originals) must all be dominated;
    every original must survive (random embeddings are far apart at 0.999)."""
    from vectordb_data_ingestion_spark.operators.dedup import (
        semantic_dedup_vectorized,
    )

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    copies = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias("v"),
    )
    corpus = base.unionAll(copies)
    centroids = emb.filter(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("c_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c_embedding"),
    )
    kept = {r["vec_id"] for r in semantic_dedup_vectorized(
        corpus, centroids, threshold=0.999, vec_col="v"
    ).collect()}
    n_base = base.count()
    assert kept == set(range(n_base)) or kept <= set(range(n_base))
    assert all(v < 10_000 for v in kept)          # no copy survives
    assert len(kept) == n_base                    # every original survives


def test_semantic_dedup_zero_norm_rows_neither_dominate_nor_dominated(spark):
    """A zero-norm vector has no cosine (NULL in the DuckDB oracle), so at
    any threshold it never removes a row and is never removed - scoring it
    cosine 0 would let it dominate everything at threshold <= 0."""
    from vectordb_data_ingestion_spark.operators.dedup import (
        semantic_dedup_vectorized,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 0.0]), (4, [-1.0, 0.2])],
        "vec_id long, embedding array<double>",
    )
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0])], "c_id int, c_embedding array<double>"
    )
    for threshold in (0.0, -0.5, 0.95):
        kept = sorted(
            r["vec_id"]
            for r in semantic_dedup_vectorized(
                corpus, centroids, threshold=threshold
            ).collect()
        )
        assert kept == [1, 2, 3, 4], threshold
    # a real pair still dedups: row 4 vs row 1 is cosine -0.98
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup_vectorized(
            corpus, centroids, threshold=-0.99
        ).collect()
    )
    assert kept == [1, 2, 3]


def test_kmeans_fit_fused_matches_dataframe_form(spark):
    """The fused one-pass-per-iteration trainer equals Lloyd's as a chain
    of kmeans_refine steps from the k lowest-id seeds."""
    from vectordb_data_ingestion_spark.functions.vectors import to_double_array
    from vectordb_data_ingestion_spark.operators.similarity import kmeans_refine

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    a = sorted(
        (r["c_id"], tuple(r["c_embedding"]), r["n_members"])
        for r in kmeans_fit(emb, k=5, iterations=3).collect()
    )
    centroids = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("c_id"),
        to_double_array(F.col("embedding")).alias("c_embedding"),
    ).localCheckpoint()
    for _ in range(3):
        centroids = kmeans_refine(emb, centroids).localCheckpoint()
    b = sorted(
        (r["c_id"], tuple(r["c_embedding"]), r["n_members"])
        for r in centroids.collect()
    )
    assert a == b and len(a) > 0


def test_kmeans_fit_zero_norm_centroid_captures_nothing(spark):
    """A zero-norm seed centroid never captures a vector in kmeans_fit,
    exactly as in kmeans_refine (both mask its column): one iteration from
    the seeds [0,0] and [1,0] folds every vector into cell 1."""
    from vectordb_data_ingestion_spark.operators.similarity import kmeans_refine

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [-1.0, 0.1]), (3, [0.9, 0.2])],
        "vec_id int, embedding array<double>",
    )
    seeds = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_embedding")
    )
    fit = [tuple(r) for r in kmeans_fit(emb, k=2, iterations=1).collect()]
    refined = [tuple(r) for r in kmeans_refine(emb, seeds).collect()]
    assert fit == refined == [(1, [0.225, 0.075], 4)]
