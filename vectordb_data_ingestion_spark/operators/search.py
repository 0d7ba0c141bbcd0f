"""Keyword (BM25) and hybrid (keyword + vector) retrieval.

The reference loads chunks into Weaviate and queries it with top-k-by-
certainty retrieval (cfg.toml:23-25,48). Weaviate's other first-class query
mode is *hybrid search*: BM25 keyword scoring fused with vector similarity.
This module provides both as distributed operators:

- :func:`bm25_topk`  - batched Okapi BM25 (Lucene idf variant) for N queries
  against the corpus in ONE plan.
- :func:`rrf_fuse`   - reciprocal-rank fusion of two ranked lists (the
  fusion rule Weaviate/OpenSearch hybrid search uses), weighted.
- :func:`with_bm25_micro` / :func:`rrf_fuse_lists` - the single-query
  forms the collection facade runs: BM25 statistics computed once per
  query and scored as literals (no explode, no join), and the same fusion
  over two short id lists in the driver.

Scale posture (100 TB / 1000 executors):

- ``bm25_topk`` scans the corpus ONCE: tokenize, carry doc length alongside
  the explode, and filter the exploded terms against the (tiny, broadcast)
  union of query terms - only matching (doc, term) rows survive to the
  groupBy, so the shuffle is proportional to matches, not corpus tokens.
  Corpus stats (N, avgdl) and per-term document frequencies are one-row /
  few-row aggregates joined back by broadcast. The final top-k is a window
  keyed by query id over match rows only.
- Scores are summed as integer *micro-scores* (``round(score * 1e6)`` per
  term, then an integer SUM): integer addition is associative, so the result
  is independent of Spark's partial-aggregation order and reproducible
  bit-for-bit against the DuckDB oracle - a floating sum would tie-flip
  ranks between engines.
- ``rrf_fuse`` joins two k-row-per-query lists - trivially broadcastable no
  matter how big the corpus behind them was.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from vectordb_data_ingestion_spark.functions.text import word_split
from vectordb_data_ingestion_spark.session import values_df

_TOKENS_SQL = (
    "list_filter(string_split(regexp_replace(lower({e}), '[ \\x09-\\x0D]+', ' ', 'g'), "
    "' '), w -> w <> '')"
)


def _norm_queries(
    queries: list[tuple[int, list[str]]],
) -> list[tuple[int, list[str]]]:
    """Lowercase query terms to match the lowercased token index — an
    uppercase query term would otherwise silently match nothing (review
    r5). Shared by every lexical scorer AND its SQL oracle so the two
    sides normalize identically."""
    return [(qid, [t.lower() for t in terms]) for qid, terms in queries]


def _sql_str(t: str) -> str:
    """Escape a term for embedding in a single-quoted SQL literal."""
    return t.replace("'", "''")


def lexical_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens with empties dropped: the one
    tokenizer every lexical scorer here indexes and scores."""
    return F.filter(word_split(F.lower(text)), lambda w: w != "")


def bm25_idf(n: Column, df: Column) -> Column:
    """Lucene's non-negative idf, ``ln(1 + (N - df + 0.5) / (df + 0.5))``."""
    return F.log(1.0 + (n - df + 0.5) / (df + 0.5))


def bm25_term_micro(
    idf: Column, tf: Column, dl: Column, avgdl: Column, k1: float, b: float
) -> Column:
    """One (query term, doc) Okapi BM25 contribution in integer
    millionths (Spark's HALF_UP ``round``) - the ONE per-term formula:
    the indexed scorer feeds it columns, :func:`with_bm25_micro` feeds it
    the query's statistics as literals, so both score bit-identically."""
    denom = tf + k1 * (1.0 - b + b * dl / avgdl)
    return F.round(idf * (tf * (k1 + 1.0)) / denom * 1e6).cast("long")


def with_bm25_micro(
    corpus: DataFrame, terms: list[str], cols: list[str], text_col: str = "text"
) -> DataFrame:
    """``cols`` of ``corpus`` plus ``score_micro``: each doc's BM25 score
    for the query ``terms`` in integer millionths, NULL when the doc holds
    none of them - the score :func:`bm25_topk` ranks, computed without an
    explode or a join.

    Query-time statistics: ONE aggregate over ``corpus`` (two jobs under
    AQE) yields ``N``, ``avgdl`` and each term's ``df`` and idf, with
    ``bm25_topk``'s defaults ``k1=1.2, b=0.75``. The returned frame is
    lazy and scores every doc with those values as literals, its
    tokenizing in the JVM. With no terms the aggregate is skipped; with
    no terms or an empty corpus every doc scores NULL."""
    k1, b = 1.2, 0.75
    terms = sorted({t.lower() for t in terms})
    toks = corpus.select(
        *cols, lexical_tokens(F.col(text_col)).alias("__toks")
    )
    none = F.lit(None).cast("long").alias("score_micro")
    if not terms:
        return corpus.select(*cols, none)
    stats = (
        toks.agg(
            F.count("*").alias("n"),
            F.avg(F.size("__toks")).alias("avgdl"),
            *[
                F.count_if(F.array_contains("__toks", t)).alias(f"df{i}")
                for i, t in enumerate(terms)
            ],
        )
        .select(
            "avgdl",
            *[
                bm25_idf(F.col("n"), F.col(f"df{i}")).alias(f"idf{i}")
                for i in range(len(terms))
            ],
        )
        .first()
    )
    if stats["avgdl"] is None:  # no rows
        return corpus.select(*cols, none)
    # tokens, then (dl, tf per term), then the score: each projection
    # reads the one below several times, so none is inlined twice
    tf = [f"__tf{i}" for i in range(len(terms))]
    counts = toks.select(
        *cols,
        F.size("__toks").alias("__dl"),
        *[
            F.size(F.filter("__toks", lambda w: w == t)).alias(c)
            for t, c in zip(terms, tf)
        ],
    )
    avgdl = F.lit(stats["avgdl"])
    micro = reduce(operator.add, [
        bm25_term_micro(
            F.lit(stats[f"idf{i}"]), F.col(c), F.col("__dl"), avgdl, k1, b
        )
        for i, c in enumerate(tf)
    ])
    matched = reduce(operator.or_, [F.col(c) > 0 for c in tf])
    return counts.select(*cols, F.when(matched, micro).alias("score_micro"))


def bm25_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents per query by Okapi BM25 with Lucene's
    non-negative idf, ``ln(1 + (N - df + 0.5) / (df + 0.5))``, over
    lowercased whitespace tokens. ``queries`` is ``[(q_id, [term, ...])]``
    - all queries are answered in one plan (one corpus scan). Returns
    ``(q_id, id_col, score_micro, rank)`` where ``score_micro`` is the BM25
    score in integer millionths (see module docstring for why).

    ONE implementation of the scoring exists: this is
    :func:`build_bm25_index` restricted to the query terms (the df/idf of
    a term is the same whether the full index or only the matching slice
    was built) composed with :func:`bm25_topk_indexed` — a scoring fix in
    either place is automatically the other's."""
    queries = _norm_queries(queries)
    all_terms = sorted({t for _, terms in queries for t in terms})
    postings, terms, stats = build_bm25_index(
        corpus, text_col=text_col, id_col=id_col, term_filter=all_terms
    )
    return bm25_topk_indexed(
        postings, terms, stats, queries, k=k, k1=k1, b=b, id_col=id_col
    )


def bm25_sql(
    table: str,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle mirroring :func:`bm25_topk` stage for stage."""
    toks = _TOKENS_SQL.format(e=text_col)
    queries = _norm_queries(queries)
    qvals = ", ".join(
        f"({qid}, '{_sql_str(t)}')"
        for qid, terms in queries
        for t in sorted(set(terms))
    )
    in_list = ", ".join(
        f"'{_sql_str(t)}'"
        for t in sorted({t for _, terms in queries for t in terms})
    )
    return f"""
    WITH dl AS (
      SELECT {id_col}, len({toks}) AS dl, {toks} AS toks FROM {table}
    ),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    q(q_id, term) AS (VALUES {qvals}),
    matches AS (
      SELECT {id_col}, term, dl, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT {id_col}, dl, unnest(toks) AS term FROM dl)
      WHERE term IN ({in_list})
      GROUP BY 1, 2, 3
    ),
    dfreq AS (
      SELECT term, COUNT(DISTINCT {id_col}) AS df FROM matches GROUP BY 1
    ),
    agg AS (
      SELECT q.q_id, m.{id_col},
             SUM(CAST(ROUND(
               ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * (m.tf * ({k1} + 1.0))
               / (m.tf + {k1} * (1.0 - {b} + {b} * m.dl / s.avgdl))
               * 1e6) AS BIGINT)) AS score_micro
      FROM matches m
      JOIN q ON m.term = q.term
      JOIN dfreq f ON m.term = f.term
      CROSS JOIN stats s
      GROUP BY 1, 2
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST({id_col} AS BIGINT) AS {id_col},
           CAST(score_micro AS BIGINT) AS score_micro,
           CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY score_micro DESC, {id_col} ASC) AS rn
      FROM agg
    ) WHERE rn <= {k}
    """


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "q_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k_rrf: int = 60,
    weight_a: float = 1.0,
    weight_b: float = 1.0,
    k: int = 10,
) -> DataFrame:
    """Weighted reciprocal-rank fusion of two ranked lists:
    ``score = w_a/(k_rrf + rank_a) + w_b/(k_rrf + rank_b)``, a list a doc
    is absent from contributing 0 (full-outer join). Returns
    ``(q_id, id, rrf_micro, rank)`` with the fused score in integer
    millionths (associative integer sum - engine-order independent)."""
    fa = ranked_a.select(
        query_col, id_col, F.col(rank_col).alias("__ra")
    )
    fb = ranked_b.select(
        query_col, id_col, F.col(rank_col).alias("__rb")
    )
    joined = fa.join(fb, [query_col, id_col], "full_outer")
    contrib = lambda r, wt: F.coalesce(  # noqa: E731
        F.round(F.lit(wt) * 1e6 / (F.lit(k_rrf) + F.col(r))).cast("long"),
        F.lit(0).cast("long"),
    )
    scored = joined.select(
        query_col,
        id_col,
        (contrib("__ra", weight_a) + contrib("__rb", weight_b)).alias(
            "rrf_micro"
        ),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_micro"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse_lists(
    ranked_a: list,
    ranked_b: list,
    k_rrf: int = 60,
    weight_a: float = 1.0,
    weight_b: float = 1.0,
    k: int = 10,
) -> list[tuple]:
    """:func:`rrf_fuse` for two ranked id lists already in the driver
    (best first; each at most a few thousand ids): the same weighted
    contributions, each rounded as Spark's ``round`` rounds the double -
    HALF_UP on its exact value - and the same order. Returns
    ``[(id, rrf_micro, rank)]`` for ranks ``1..k``."""
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    fused: dict = defaultdict(int)
    for w, ranked in ((weight_a, ranked_a), (weight_b, ranked_b)):
        for rank, i in enumerate(ranked, start=1):
            fused[i] += int(
                Decimal(w * 1e6 / (k_rrf + rank)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
    best = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(i, micro, rank) for rank, (i, micro) in enumerate(best, start=1)]


def rrf_sql(
    ranked_a_sql: str,
    ranked_b_sql: str,
    query_col: str = "q_id",
    id_col: str = "doc_id",
    k_rrf: int = 60,
    weight_a: float = 1.0,
    weight_b: float = 1.0,
    k: int = 10,
) -> str:
    """DuckDB oracle mirroring :func:`rrf_fuse`; the two inputs are SQL
    snippets yielding ``(q_id, id, rank)``."""
    return f"""
    WITH ra AS ({ranked_a_sql}),
    rb AS ({ranked_b_sql}),
    fused AS (
      SELECT COALESCE(ra.{query_col}, rb.{query_col}) AS {query_col},
             COALESCE(ra.{id_col}, rb.{id_col}) AS {id_col},
             COALESCE(CAST(ROUND({weight_a} * 1e6 / ({k_rrf} + ra.rank))
                           AS BIGINT), 0)
             + COALESCE(CAST(ROUND({weight_b} * 1e6 / ({k_rrf} + rb.rank))
                             AS BIGINT), 0) AS rrf_micro
      FROM ra FULL OUTER JOIN rb
        ON ra.{query_col} = rb.{query_col} AND ra.{id_col} = rb.{id_col}
    )
    SELECT CAST({query_col} AS BIGINT) AS {query_col},
           CAST({id_col} AS BIGINT) AS {id_col},
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY {query_col}
        ORDER BY rrf_micro DESC, {id_col} ASC) AS rn
      FROM fused
    ) WHERE rn <= {k}
    """


# ---------------------------------------------------------------------------
# Cross-encoder reranking - the precision stage after dense/BM25/RRF recall
# ---------------------------------------------------------------------------

def deterministic_fake_cross_encoder():
    """Hermetic stand-in for a cross-encoder model server - clearly-marked
    FAKE (the relevance 'model' is the cross-engine md5 hash of the pair,
    so tests and the DuckDB oracle can reproduce scores bit-for-bit). Real
    deployments pass a transport that posts pair batches to an inference
    endpoint, exactly like enrichment.http_transport_factory."""
    import hashlib

    def factory():
        def score(pairs: list[tuple[str, str]]) -> list[float]:
            return [
                int(
                    hashlib.md5(f"{q}#x#{t}".encode("utf-8")).hexdigest()[:8],
                    16,
                )
                / 4294967296.0
                for q, t in pairs
            ]

        return score

    return factory


def cross_encoder_rerank(
    candidates: DataFrame,
    transport_factory,
    k: int,
    query_col: str = "query",
    text_col: str = "text",
    query_id: str = "q_id",
    doc_id: str = "doc_id",
    score_col: str = "ce_score",
    batch_size: int = 64,
) -> DataFrame:
    """Rerank recall-stage candidates with a pairwise (query, text) scorer:
    each Arrow batch posts its pairs to the transport, then one window per
    query keeps the top-``k`` by score (ties -> lowest doc id).

    This is the standard two-stage retrieval shape: the recall stage
    (BM25 / ANN / RRF fusion) bounds candidates to ~100 per query, so the
    expensive cross-encoder touches |queries| * 100 pairs, never the
    corpus. The scorer runs one transport per partition - concurrency is
    ``repartition(n)``, the cluster is the rate limiter (same contract as
    enrichment.embed_via_api)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        candidates.schema.fields + [StructField(score_col, DoubleType())]
    )

    def run(batches):
        transport = transport_factory()
        for pdf in batches:
            if pdf.empty:
                continue
            # same loud-NULL contract as enrichment.embed_via_api:
            # astype(str) would score the literal 'None' as real content
            if pdf[query_col].isna().any() or pdf[text_col].isna().any():
                raise ValueError(
                    f"cross_encoder_rerank: NULL {query_col!r}/{text_col!r} "
                    "in candidate batch — recall stages must not emit NULL "
                    "pair sides"
                )
            pairs = list(zip(pdf[query_col].astype(str), pdf[text_col].astype(str)))
            scores: list[float] = []
            for start in range(0, len(pairs), batch_size):
                scores.extend(transport(pairs[start : start + batch_size]))
            out = pdf.copy()
            out[score_col] = scores
            yield out

    scored = candidates.mapInPandas(run, schema=out_schema)
    w = Window.partitionBy(query_id).orderBy(
        F.desc(score_col), F.asc(doc_id)
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Materialized inverted index - index once, query many (the 100 TB design;
# bm25_topk re-tokenizes the corpus per query batch, fine for ad-hoc use)
# ---------------------------------------------------------------------------

def build_bm25_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    term_filter: list[str] | None = None,
):
    """Materialize the BM25 index: ``postings (term, id, tf, dl)``,
    ``terms (term, df)``, ``stats (n, avgdl)`` - everything query-time
    scoring needs, so queries never touch raw text again. At scale, write
    postings partitioned/bucketed by ``term``: a query's semi-join on its
    handful of terms becomes file-level pruning, and the per-term posting
    lists are the only rows read. One tokenize pass + two partial-agg
    shuffles to build.

    ``term_filter`` restricts postings/terms to the given term set while
    keeping corpus-wide stats — the ad-hoc (:func:`bm25_topk`) shape,
    where only query terms survive to the groupBy.

    ``id_col`` must be unique: ``df`` is a plain row count per term."""
    toks = lexical_tokens(F.col(text_col))
    docs = corpus.select(
        F.col(id_col), F.size(toks).alias("dl"), toks.alias("__toks")
    )
    exploded = docs.select(id_col, "dl", F.explode("__toks").alias("term"))
    if term_filter is not None:
        exploded = exploded.filter(F.col("term").isin(term_filter))
    postings = (
        exploded
        .groupBy("term", id_col, "dl")
        .agg(F.count("*").alias("tf"))
    )
    # postings is one row per (term, doc) by construction (the groupBy
    # above; dl is functionally dependent on the doc), so a plain count
    # IS the distinct doc count — count_distinct would plan an extra
    # dedup aggregation phase for nothing (r11)
    terms = postings.groupBy("term").agg(
        F.count("*").alias("df")
    )
    stats = docs.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    return postings, terms, stats


def bm25_topk_indexed(
    postings: DataFrame,
    terms: DataFrame,
    stats: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Identical results to :func:`bm25_topk`, served from the materialized
    index: the query-term list broadcasts into the postings scan (pruned to
    matching terms), df/idf comes from the tiny terms table, and only
    matching postings flow into the per-query sum."""
    queries = _norm_queries(queries)
    spark = postings.sparkSession
    # values_df, not createDataFrame: a pickled-RDD scan of this 6-row
    # table runs one Python worker per core (guide §4 - the JVM<->Python
    # boundary); the VALUES literal is a zero-task LocalTableScan
    qdf = values_df(
        spark,
        [(qid, t) for qid, qterms in queries for t in sorted(set(qterms))],
        "q_id long, term string",
    )
    term_micro = bm25_term_micro(
        bm25_idf(F.col("n"), F.col("df")),
        F.col("tf"), F.col("dl"), F.col("avgdl"), k1, b,
    )
    agg = (
        postings.join(broadcast(qdf), "term")
        .join(broadcast(terms), "term")
        .crossJoin(broadcast(stats))
        .groupBy("q_id", id_col)
        .agg(F.sum(term_micro).alias("score_micro"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score_micro"), F.asc(id_col)
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def derive_bm25_tables(postings: DataFrame, id_col: str = "doc_id"):
    """(terms, stats) recomputed FROM the postings table alone - which
    makes postings the single source of truth an incremental refresh has
    to maintain: delete a changed document's postings, append its new
    ones, and df/N/avgdl are correct again by construction (no separate
    stats tables to keep transactionally in sync). Documents whose text
    yields zero tokens carry no postings and drop out of N."""
    terms = postings.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )
    stats = (
        postings.select(id_col, "dl")
        .distinct()
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    )
    return terms, stats


def doc_postings(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Postings rows for a (micro-)batch of documents - the transform an
    incremental index refresh runs per batch (same tokenization as
    :func:`build_bm25_index`)."""
    toks = lexical_tokens(F.col(text_col))
    return (
        corpus.select(F.col(id_col), F.size(toks).alias("dl"),
                      F.explode(toks).alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count("*").alias("tf"))
    )


# --- TF-IDF cosine retrieval ------------------------------------------------


def tfidf_topk(
    corpus: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents per query by cosine-normalized TF-IDF (the
    classic VSM complement to BM25): term weight ``(1 + ln(tf)) * idf``
    with smooth idf ``ln((N + 1) / (df + 1)) + 1``, document score
    ``sum_{t in q} w_dt / ||d||``.

    Scale shape: ONE corpus scan explodes to (doc, term, tf); the full
    (doc, term) weight table feeds BOTH the per-doc L2 norm (a corpus-scale
    but map-side-combinable groupBy - this is the honest cost of cosine
    TF-IDF, and at index time it is computed once) AND the query-term
    matches (filtered against the broadcast query-term set, so the scoring
    join shuffles matches only).

    Determinism: weights are quantized to integer *milli*-units before the
    norm (``sum(w_milli^2)`` is an exact integer, so ``||d||`` is a
    deterministic double), and per-term scores to integer micro-units
    before the final sum - no float-summation-order ties against the
    oracle (same convention as :func:`bm25_topk`)."""
    queries = _norm_queries(queries)
    toks = lexical_tokens(F.col(text_col))
    docs = corpus.select(F.col(id_col), toks.alias("__toks"))
    n_docs = docs.agg(F.count("*").alias("__n"))

    term_tf = (
        docs.select(id_col, F.explode("__toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("__tf"))
    )
    # full-vocab document frequencies: a plain equi-join, NOT broadcast —
    # at 100 TB the vocabulary is itself huge (AQE still broadcasts it
    # when it turns out small). Only the query-term slice (qdf) and the
    # 1-row count are broadcast below. term_tf is one row per (doc, term)
    # by construction, so count(*) IS the distinct doc count (r11 — the
    # distinct form planned an extra dedup aggregation phase).
    dfreq = term_tf.groupBy("term").agg(
        F.count("*").alias("__df")
    )
    idf = F.log((F.col("__n") + 1.0) / (F.col("__df") + 1.0)) + 1.0
    w_milli = F.round(
        (1.0 + F.log(F.col("__tf"))) * idf * 1e3
    ).cast("long")
    weights = (
        term_tf.join(dfreq, "term")
        .crossJoin(broadcast(n_docs))
        .select(id_col, "term", w_milli.alias("__w_milli"))
    )
    # both the norm aggregate and the scoring branch consume the weight
    # table; an EAGER local checkpoint materializes it exactly once (at
    # index time this table IS the persisted artifact). The lazy form was
    # A/B'd (r11): its first action reads the table through two root
    # stages concurrently, so the weight lineage could compute twice in
    # parallel — eager is faster locally (1.59 vs 1.73 s interleaved
    # median) and strictly one corpus pass at any scale.
    weights = weights.localCheckpoint()
    norms = weights.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("__w_milli") * F.col("__w_milli"))).alias("__norm")
    )

    all_terms = sorted({t for _, terms in queries for t in terms})
    qdf = values_df(  # zero-task VALUES literal - see bm25_topk_indexed
        corpus.sparkSession,
        [(qid, t) for qid, terms in queries for t in sorted(set(terms))],
        "q_id long, term string",
    )
    term_micro = F.round(
        F.col("__w_milli") * 1e6 / F.col("__norm")
    ).cast("long")
    agg = (
        weights.filter(F.col("term").isin(all_terms))
        .join(broadcast(qdf), "term")
        .join(norms, id_col)
        .groupBy("q_id", id_col)
        .agg(F.sum(term_micro).alias("score_micro"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("score_micro"), F.asc(id_col)
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def tfidf_sql(
    table: str,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle mirroring :func:`tfidf_topk` stage for stage."""
    toks = _TOKENS_SQL.format(e=text_col)
    queries = _norm_queries(queries)
    qvals = ", ".join(
        f"({qid}, '{_sql_str(t)}')"
        for qid, terms in queries
        for t in sorted(set(terms))
    )
    in_list = ", ".join(
        f"'{_sql_str(t)}'"
        for t in sorted({t for _, terms in queries for t in terms})
    )
    return f"""
    WITH tt AS (
      SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT {id_col}, unnest({toks}) AS term FROM {table})
      GROUP BY 1, 2
    ),
    n_docs AS (SELECT COUNT(*) AS n FROM {table}),
    dfreq AS (SELECT term, COUNT(DISTINCT {id_col}) AS df FROM tt GROUP BY 1),
    weights AS (
      SELECT tt.{id_col}, tt.term,
             CAST(ROUND((1.0 + ln(tt.tf))
                  * (ln((s.n + 1.0) / (f.df + 1.0)) + 1.0) * 1e3) AS BIGINT)
               AS w_milli
      FROM tt JOIN dfreq f ON tt.term = f.term CROSS JOIN n_docs s
    ),
    norms AS (
      SELECT {id_col}, sqrt(SUM(w_milli * w_milli)) AS nrm
      FROM weights GROUP BY 1
    ),
    q(q_id, term) AS (VALUES {qvals}),
    agg AS (
      SELECT q.q_id, w.{id_col},
             SUM(CAST(ROUND(w.w_milli * 1e6 / n.nrm) AS BIGINT)) AS score_micro
      FROM weights w
      JOIN q ON w.term = q.term
      JOIN norms n ON w.{id_col} = n.{id_col}
      WHERE w.term IN ({in_list})
      GROUP BY 1, 2
    )
    SELECT CAST(q_id AS BIGINT) AS q_id,
           CAST({id_col} AS BIGINT) AS {id_col},
           CAST(score_micro AS BIGINT) AS score_micro,
           CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY score_micro DESC, {id_col} ASC) AS rn
      FROM agg
    ) WHERE rn <= {k}
    """
