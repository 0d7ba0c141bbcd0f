"""VectorCollection facade: the reference consumer's query surface
(nearVector / where / bm25 / hybrid / rerank) composed over one corpus."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL, jobs_during
from vectordb_data_ingestion_spark.collection import VectorCollection
from vectordb_data_ingestion_spark.config import VectorClassConfig
from vectordb_data_ingestion_spark.operators.search import (
    deterministic_fake_cross_encoder,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)


def _corpus(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    return docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "text", "lang", "source", "embedding"
    ).cache()


def _vec(corpus, doc_id):
    return [
        float(x)
        for x in corpus.filter(F.col("doc_id") == doc_id).collect()[0][
            "embedding"
        ]
    ]


def test_near_vector_self_retrieval_and_threshold(spark):
    corpus = _corpus(spark)
    col = VectorCollection(corpus, id_col="doc_id", certainty=0.9)
    qv = _vec(corpus, 7)
    hits = col.near_vector(qv, k=3).collect()
    assert hits[0]["doc_id"] == 7 and hits[0]["certainty"] == 1.0
    # the class-config default threshold applies when not overridden
    assert all(r["certainty"] >= 0.9 for r in hits)
    # explicit threshold loosens it
    loose = col.near_vector(qv, k=3, certainty=0.0).collect()
    assert len(loose) == 3


def test_near_vector_where_filters_before_scoring(spark):
    corpus = _corpus(spark)
    col = VectorCollection(corpus, id_col="doc_id")
    qv = _vec(corpus, 7)
    only = col.near_vector(qv, k=50, where=F.col("doc_id") % 2 == 0).collect()
    assert only and all(r["doc_id"] % 2 == 0 for r in only)


def test_bm25_finds_term_documents(spark):
    corpus = _corpus(spark)
    col = VectorCollection(corpus, id_col="doc_id")
    hits = col.bm25("vector", k=5).collect()
    assert hits
    ids = [r["doc_id"] for r in hits]
    texts = {
        r["doc_id"]: r["text"]
        for r in corpus.filter(F.col("doc_id").isin(ids)).collect()
    }
    assert all("vector" in texts[i] for i in ids)


def test_hybrid_fuses_both_lists(spark):
    corpus = _corpus(spark)
    col = VectorCollection(corpus, id_col="doc_id")
    qv = _vec(corpus, 7)
    fused = col.hybrid("vector table", qv, k=5, alpha=0.5).collect()
    assert len(fused) == 5
    # alpha=1 -> pure dense: the query vector's own doc must lead
    dense_only = col.hybrid("vector table", qv, k=5, alpha=1.0).collect()
    assert dense_only[0]["doc_id"] == 7


def test_rerank_over_recall_candidates(spark):
    corpus = _corpus(spark)
    col = VectorCollection(corpus, id_col="doc_id")
    qv = _vec(corpus, 7)
    cand = col.near_vector(qv, k=20, certainty=0.0).join(
        corpus.select("doc_id", "text"), "doc_id"
    )
    out = col.rerank("table scan", cand, deterministic_fake_cross_encoder(), k=3)
    rows = out.collect()
    assert len(rows) == 3
    assert all(0.0 <= r["ce_score"] <= 1.0 for r in rows)
    # deterministic: rerun identical
    again = col.rerank(
        "table scan", cand, deterministic_fake_cross_encoder(), k=3
    ).collect()
    assert [(r["doc_id"], r["ce_score"]) for r in rows] == [
        (r["doc_id"], r["ce_score"]) for r in again
    ]


def test_from_class_config_binds_threshold(spark):
    corpus = _corpus(spark)
    cfg = VectorClassConfig.from_dict(
        {"label": "kb", "class": "KBChunks", "top_by_certainty": 0.95}
    )
    col = VectorCollection.from_class_config(
        corpus, cfg, id_col="doc_id"
    )
    assert col.certainty == 0.95


def test_build_context_token_budget_and_order(spark):
    """Budget packing: best-first contiguous prefix under the budget, the
    top hit always kept, sources in rank order."""
    from vectordb_data_ingestion_spark.operators.context import build_context

    hits = spark.createDataFrame(
        [(0, "c1", 0.9), (0, "c2", 0.8), (0, "c3", 0.7), (1, "c4", 0.99)],
        "q_id long, chunk_id string, certainty double",
    )
    chunks = spark.createDataFrame(
        [
            ("c1", "first", "u1", 50),
            ("c2", "second", "u2", 60),
            ("c3", "third", "u3", 10),   # would fit alone, but prefix broke
            ("c4", "huge", "u4", 999),   # over budget, still kept (top hit)
        ],
        "chunk_id string, text string, url string, n_tokens int",
    )
    out = {r["q_id"]: r for r in build_context(
        hits, chunks, max_tokens=115).collect()}
    assert out[0]["context"] == "first\n\nsecond"   # c3 cut: prefix only
    assert out[0]["sources"] == ["u1", "u2"]
    assert out[0]["n_chunks"] == 2 and out[0]["n_tokens"] == 110
    assert out[1]["context"] == "huge"              # top hit always fits
    assert out[1]["n_tokens"] == 999


def test_retrieve_context_end_to_end(spark):
    corpus = _corpus(spark)
    col = VectorCollection(corpus, id_col="doc_id")
    qv = _vec(corpus, 7)
    row = col.retrieve_context(qv, k=3, certainty=0.0).collect()[0]
    # the query doc's own text leads the context
    own = corpus.filter(F.col("doc_id") == 7).collect()[0]["text"]
    assert row["context"].startswith(own)
    assert row["n_chunks"] == 3


def test_near_vector_string_ids(spark):
    """The facade must accept non-numeric (UUID-style) chunk ids end to end:
    the vectorized top-k preserves the corpus id dtype instead of assuming
    bigint (ADVICE round 1)."""
    corpus = _corpus(spark).withColumn(
        "chunk_id", F.concat(F.lit("chunk-"), F.format_string("%04d", "doc_id"))
    )
    col = VectorCollection(corpus, id_col="chunk_id", certainty=0.0)
    qv = _vec(corpus, 7)
    hits = col.near_vector(qv, k=3).collect()
    assert hits[0]["chunk_id"] == "chunk-0007"
    assert hits[0]["certainty"] == 1.0
    assert len(hits) == 3
    # hybrid + retrieve_context route the same id column through bm25/rrf
    fused = col.hybrid("vector data", qv, k=5).collect()
    assert fused and all(isinstance(r["chunk_id"], str) for r in fused)


def test_near_text_roundtrip_with_ingest_transport(spark):
    """near_text embeds the query through the SAME transport the ingest
    side used, so querying with a document's exact text must return that
    document as the top hit with certainty 1.0."""
    from vectordb_data_ingestion_spark.collection import VectorCollection
    from vectordb_data_ingestion_spark.operators.enrichment import (
        deterministic_fake_transport,
        embed_via_api,
    )

    docs = spark.createDataFrame(
        [(1, "reset your password"), (2, "configure the vpn"),
         (3, "request new hardware")],
        ["chunk_id", "text"],
    )
    corpus = embed_via_api(
        docs, deterministic_fake_transport(dim=16), text_col="text",
        vec_col="vector",
    )
    col = VectorCollection(
        corpus, id_col="chunk_id", text_col="text", vec_col="vector"
    )
    rows = col.near_text("configure the vpn", k=2).collect()
    assert rows[0]["chunk_id"] == 2
    assert abs(rows[0]["certainty"] - 1.0) < 1e-6

    # dim inferred from the corpus when no transport given; a where filter
    # composes before scoring
    from pyspark.sql import functions as F

    rows = col.near_text(
        "configure the vpn", k=2, where=F.col("chunk_id") != 2
    ).collect()
    assert rows and all(r["chunk_id"] != 2 for r in rows)


def test_near_object_excludes_anchor(spark):
    """nearObject = look up the anchor's stored vector, run nearVector,
    anchor excluded; parity with near_vector on the same vector minus the
    anchor row."""
    corpus = _corpus(spark)
    col = VectorCollection(corpus, id_col="doc_id")
    hits = col.near_object(7, k=3, certainty=0.0).collect()
    assert all(r["doc_id"] != 7 for r in hits)
    via_vec = (
        col.near_vector(
            _vec(corpus, 7), k=4, certainty=0.0
        )
        .filter(F.col("doc_id") != 7)
        .collect()[:3]
    )
    assert [r["doc_id"] for r in hits] == [r["doc_id"] for r in via_vec]
    try:
        col.near_object(10**9)
        raise AssertionError("expected KeyError for a missing anchor id")
    except KeyError:
        pass


def test_aggregate_counts_and_means(spark):
    corpus = _corpus(spark).withColumn("n_chars", F.length("text"))
    col = VectorCollection(corpus, id_col="doc_id")
    out = {
        r["lang"]: r
        for r in col.aggregate(group_by="lang", mean_cols=["n_chars"]).collect()
    }
    expected = {
        r["lang"]: (r["c"], r["m"])
        for r in corpus.groupBy("lang")
        .agg(F.count("*").alias("c"), F.round(F.avg("n_chars"), 6).alias("m"))
        .collect()
    }
    assert {k: (v["count"], v["mean_n_chars"]) for k, v in out.items()} == expected
    total = col.aggregate().collect()[0]
    assert total["count"] == corpus.count()
    filtered = col.aggregate(where=F.col("lang") == "en").collect()[0]
    assert filtered["count"] == corpus.filter("lang = 'en'").count()


# ---------------------------------------------------------------------------
# bm25 / hybrid: query-time statistics, one scan, fusion in the driver
# ---------------------------------------------------------------------------

_TIE_VEC = [1.0, 0.0, 0.0, 0.0]


def _retrieval_corpus(spark, string_ids=False):
    """60 docs over 4 partitions: 20 identical vectors (dense ties across
    the top-2k boundary), 4 zero-norm vectors, 20 identical texts
    (keyword ties), mixed-case text and one empty text."""
    rows = []
    for i in range(60):
        if i < 20:
            vec = list(_TIE_VEC)
        elif i < 24:
            vec = [0.0] * 4
        else:
            vec = [float((i * 7) % 5 - 2), float((i * 3) % 4), 1.0,
                   float(i % 3)]
        if 30 <= i < 50:
            text = "alpha beta"
        elif i % 7 == 0:
            text = "Gamma rare Alpha delta"
        elif i == 59:
            text = ""
        else:
            text = " ".join(["delta", "eps"][: 1 + i % 2] + ["zeta"] * (i % 4))
        rows.append((f"doc-{i:03d}" if string_ids else i, i % 2, text, vec))
    id_type = "string" if string_ids else "long"
    return spark.createDataFrame(
        rows, f"id {id_type}, grp int, text string, vec array<double>"
    ).repartition(4)


def _lazy_bm25(corpus, query, k, where=None):
    from vectordb_data_ingestion_spark.operators.search import bm25_topk

    base = corpus.filter(where) if where is not None else corpus
    terms = [t for t in query.lower().split() if t]
    return bm25_topk(base, [(0, terms)], k=k, id_col="id").drop("q_id")


def _lazy_hybrid(corpus, query, vector, k, alpha, where=None):
    """The composition hybrid replaces: vectorized dense top-2k plus a
    rank window, bm25_topk's top-2k, rrf_fuse."""
    from pyspark.sql.window import Window

    from vectordb_data_ingestion_spark.operators.search import (
        bm25_topk,
        rrf_fuse,
    )
    from vectordb_data_ingestion_spark.operators.similarity import (
        topk_by_certainty,
    )

    base = corpus.filter(where) if where is not None else corpus
    dense = topk_by_certainty(
        base, [(0, vector)], k=2 * k, threshold=0.0, corpus_vec="vec",
        corpus_id="id",
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("certainty"), F.asc("id"))
        ),
    )
    terms = [t for t in query.lower().split() if t]
    keyword = bm25_topk(base, [(0, terms)], k=2 * k, id_col="id")
    return rrf_fuse(
        dense, keyword, id_col="id", weight_a=alpha, weight_b=1.0 - alpha,
        k=k,
    ).drop("q_id")


def _ranked(df):
    return [tuple(r) for r in df.orderBy("rank").collect()]


_SOME_VEC = [0.5, 1.0, 1.0, 0.0]


@pytest.mark.parametrize(
    "query,vector,k,alpha,where,string_ids",
    [
        ("alpha beta", _TIE_VEC, 3, 0.5, None, False),  # ties at 2k, both legs
        ("alpha beta", _TIE_VEC, 3, 0.5, None, True),   # string ids
        ("ALPHA gamma", [0.0] * 4, 3, 0.5, None, False),  # zero-norm query
        ("", _TIE_VEC, 3, 0.5, None, False),            # empty query
        ("absent", _SOME_VEC, 3, 0.5, None, False),      # term not in corpus
        ("rare", _SOME_VEC, 5, 0.0, None, False),        # zero dense weight
        ("rare", _SOME_VEC, 5, 1.0, None, False),        # zero keyword weight
        ("alpha delta", _SOME_VEC, 4, 0.5, "grp = 0", False),  # where
        ("rare eps", _SOME_VEC, 50, 0.5, None, False),   # k > matching docs
    ],
)
def test_hybrid_and_bm25_match_the_lazy_composition(
    spark, query, vector, k, alpha, where, string_ids
):
    corpus = _retrieval_corpus(spark, string_ids)
    col = VectorCollection(corpus, id_col="id", text_col="text", vec_col="vec")
    cond = F.expr(where) if where else None

    got = col.hybrid(query, vector, k=k, alpha=alpha, where=cond)
    want = _lazy_hybrid(corpus, query, vector, k, alpha, cond)
    assert got.dtypes == want.dtypes
    assert _ranked(got) == _ranked(want)

    got = col.bm25(query, k=k, where=cond)
    want = _lazy_bm25(corpus, query, k, cond)
    assert got.dtypes == want.dtypes
    assert _ranked(got) == _ranked(want)


def test_hybrid_parity_cases_are_not_vacuous(spark):
    """The parity cases above exercise what they claim: ties straddle the
    2k cut, zero-weight rows fill a list, k outruns the matches, and a
    where filter changes the statistics (so a score) rather than only
    the candidate set."""
    corpus = _retrieval_corpus(spark)
    col = VectorCollection(corpus, id_col="id", text_col="text", vec_col="vec")
    # 20 docs tie on certainty 1.0 and 20 on score, over 4 partitions:
    # each 2k=6 list cuts its ties by id, and the two legs interleave
    fused = _ranked(col.hybrid("alpha beta", _TIE_VEC, k=3))
    assert [r[0] for r in fused] == [0, 30, 1]
    assert len(_ranked(col.bm25("alpha beta", k=6))) == 6
    # alpha=0: the rare term matches 6 docs, zero-contribution rows follow
    fused = _ranked(col.hybrid("rare", _SOME_VEC, k=12, alpha=0.0))
    assert len(fused) == 12 and fused[-1][1] == 0 and fused[0][1] > 0
    # k past the matches: every matched doc, no more
    assert len(_ranked(col.bm25("rare", k=50))) == 6
    # the where filter halves N and changes df/avgdl: doc 0's score moves
    full = dict((r[0], r[1]) for r in _ranked(col.bm25("alpha delta", k=60)))
    part = dict(
        (r[0], r[1])
        for r in _ranked(col.bm25("alpha delta", k=60, where=F.col("grp") == 0))
    )
    assert part and all(part[i] != full[i] for i in part)
    assert _ranked(col.bm25("", k=5)) == []
    assert _ranked(col.hybrid("x", [0.0] * 4, k=5)) == []


def test_retrieval_job_budget_over_a_sink(spark, tmp_path):
    """Over an opened manifest sink: hybrid is the statistics aggregate
    (two jobs), one scan (one) and the caller's rank sort (one); bm25 is
    the aggregate plus one top-k job; near_vector is one scan, with hits
    and with none."""
    from vectordb_data_ingestion_spark.sinks.manifest_sink import (
        ManifestVectorSink,
    )

    path = str(tmp_path / "sink")
    corpus = _retrieval_corpus(spark)
    writer = ManifestVectorSink(spark, path, partition_col=None)
    for g in (0, 1):
        writer.upsert(corpus.filter(F.col("grp") == g))
    col = VectorCollection(
        ManifestVectorSink(spark, path, partition_col=None).read(),
        id_col="id", text_col="text", vec_col="vec",
    )
    rows, jobs = jobs_during(
        spark,
        lambda: col.hybrid("alpha beta", _SOME_VEC, k=5).orderBy("rank").collect(),
    )
    assert len(rows) == 5 and jobs <= 4, jobs
    rows, jobs = jobs_during(spark, lambda: col.bm25("alpha beta", k=5).collect())
    assert len(rows) == 5 and jobs <= 3, jobs
    rows, jobs = jobs_during(
        spark, lambda: col.near_vector(_SOME_VEC, k=5, certainty=0.0).collect()
    )
    assert len(rows) == 5 and jobs <= 1, jobs
    rows, jobs = jobs_during(
        spark, lambda: col.near_vector(_SOME_VEC, k=5, certainty=1.0).collect()
    )
    assert rows == [] and jobs <= 1, jobs
