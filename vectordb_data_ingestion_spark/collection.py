"""Weaviate-style query facade: the surface a reference user queries today
(cfg.toml:21-55 - class + near_vector + where + hybrid + top_by_certainty),
composed from this engine's operators over any DataFrame corpus.

The reference never executes queries itself - it only *declares* them as
config consumed by a chatbot. This facade makes them executable:

    col = VectorCollection(corpus, id_col="chunk_id", text_col="text",
                           vec_col="vector", certainty=0.9)
    col.near_vector(qvec, k=3)                       # nearVector
    col.near_text("reset password", k=3)             # nearText (ingest transport)
    col.near_vector(qvec, k=3, where=F.col("source") == "kb")   # + where
    col.bm25("reset password", k=10)                 # keyword
    col.hybrid("reset password", qvec, k=10, alpha=0.5)         # fusion
    col.rerank("reset password", candidates, transport, k=3)    # precision

Every method returns a DataFrame that composes with the rest of a plan
(joins, writes). The retrieval modes execute their scans when called.
``near_vector`` (and ``near_text`` / ``near_object`` / ``retrieve_context``
through it) runs one scan that keeps each partition's top-k and returns
the driver-merged hits as a local relation. ``bm25`` runs the query's
BM25 statistics aggregate and returns a lazy top-k that scores with them
as literals. ``hybrid`` also runs one scan that ranks both legs, fuses
them in the driver and returns the ``k`` fused rows as a one-partition
local relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_data_ingestion_spark.config import VectorClassConfig


class VectorCollection:
    """One queryable vector class over a DataFrame corpus."""

    def __init__(
        self,
        corpus: DataFrame,
        id_col: str = "vec_id",
        text_col: str = "text",
        vec_col: str = "embedding",
        certainty: float | None = None,
    ):
        self.corpus = corpus
        self.id_col = id_col
        self.text_col = text_col
        self.vec_col = vec_col
        self.certainty = certainty
        self._dim: int | None = None

    def _corpus_dim(self) -> int:
        """Embedding width, measured once and cached — every dim-less
        near_text used to launch a fresh driver job per call, and an
        empty corpus crashed with 'NoneType is not subscriptable'
        instead of a clear error (review r5)."""
        if self._dim is None:
            row = self.corpus.select(self.vec_col).first()
            if row is None or row[self.vec_col] is None:
                raise ValueError(
                    "cannot infer embedding dim from an empty corpus — "
                    "pass near_text(..., dim=...) explicitly"
                )
            self._dim = len(row[self.vec_col])
        return self._dim

    @classmethod
    def from_class_config(
        cls, corpus: DataFrame, cfg: VectorClassConfig, **kw
    ) -> "VectorCollection":
        """Bind a cfg.toml vector-class entry (T4) to a corpus: the class's
        ``top_by_certainty`` becomes the default retrieval threshold."""
        return cls(corpus, certainty=cfg.top_by_certainty, **kw)

    def _filtered(self, where: Column | None) -> DataFrame:
        # predicate joins BEFORE scoring: non-matching rows are never
        # scored, and a partitioned layout prunes the scan itself
        return self.corpus.filter(where) if where is not None else self.corpus

    def near_vector(
        self,
        vector: list[float],
        k: int = 3,
        certainty: float | None = None,
        where: Column | None = None,
    ) -> DataFrame:
        """Weaviate nearVector (+ optional where): top-k by certainty
        ``(1+cos)/2`` meeting the threshold, as ``(id, certainty)`` in
        rank order. Executes here: one Spark job scans the corpus and keeps
        each partition's top-k, the driver merges them, and the hits come
        back as a local relation that reads with no further job."""
        from vectordb_data_ingestion_spark.operators.similarity import (
            topk_by_certainty,
        )

        t = certainty if certainty is not None else (self.certainty or 0.0)
        return topk_by_certainty(
            self._filtered(where),
            [(0, list(vector))],
            k=k,
            threshold=t,
            corpus_vec=self.vec_col,
            corpus_id=self.id_col,
        ).drop("q_id")

    def near_text(
        self,
        query: str,
        k: int = 3,
        certainty: float | None = None,
        where: Column | None = None,
        transport_factory=None,
        dim: int | None = None,
    ) -> DataFrame:
        """Weaviate nearText: embed the query text through the same
        transport the ingest side used (operators/enrichment.py — the
        reference's LLM-gateway call, cmfunctions.py:43-71), then
        nearVector. The single query string embeds driver-side (one tiny
        call); the corpus-side plan is identical to :meth:`near_vector`.
        Defaults to the deterministic hermetic transport so tests and
        oracles reproduce; pass ``http_transport_factory(...)`` in a real
        deployment."""
        from vectordb_data_ingestion_spark.operators.enrichment import (
            deterministic_fake_transport,
        )

        if transport_factory is None:
            if dim is None:
                dim = self._corpus_dim()
            transport_factory = deterministic_fake_transport(dim=dim)
        [qvec] = transport_factory()(
            [query.replace("\n", " ")]  # the reference's newline normalize
        )
        return self.near_vector(qvec, k=k, certainty=certainty, where=where)

    def near_object(
        self,
        object_id,
        k: int = 3,
        certainty: float | None = None,
        where: Column | None = None,
    ) -> DataFrame:
        """Weaviate-style nearObject: retrieve by similarity to an
        EXISTING object — look up its stored vector by id (one
        indexed/pruned point read), then run the nearVector plan.

        Deliberate deviation from Weaviate: the anchor object itself is
        EXCLUDED here (Weaviate returns it as the distance-0 top hit).
        Callers of this facade almost always want neighbors, not the
        anchor echoed back; drop the exclusion by calling
        ``near_vector(stored_vector, ...)`` directly if parity matters."""
        row = (
            self.corpus.filter(F.col(self.id_col) == F.lit(object_id))
            .select(self.vec_col)
            .first()
        )
        if row is None:
            raise KeyError(f"no object with {self.id_col}={object_id!r}")
        anchor_excluded = F.col(self.id_col) != F.lit(object_id)
        combined = (
            anchor_excluded if where is None else (where & anchor_excluded)
        )
        return self.near_vector(
            list(row[self.vec_col]), k=k, certainty=certainty, where=combined
        )

    def bm25(
        self, query: str, k: int = 10, where: Column | None = None
    ) -> DataFrame:
        """Weaviate bm25 keyword mode: Okapi BM25 over the text column,
        ``(id, score_micro, rank)`` for the ``k`` best docs holding a
        query term (score desc, id asc) - the rows
        :func:`~vectordb_data_ingestion_spark.operators.search.bm25_topk`
        gives.

        Runs the query's statistics aggregate here (two jobs, see
        :func:`~vectordb_data_ingestion_spark.operators.search.with_bm25_micro`);
        the returned frame scores with them as literals and keeps each
        partition's top ``k`` before one merge, so collecting it, sorted
        by rank or not, is one more job."""
        from vectordb_data_ingestion_spark.operators.search import (
            with_bm25_micro,
        )

        scored = with_bm25_micro(
            self._filtered(where), query.split(), [self.id_col],
            text_col=self.text_col,
        )
        # the limit's output is ONE partition in rank order, so the row's
        # position there is its rank; filtering after the limit keeps
        # the filter from re-scoring every row below the projection
        return (
            scored.orderBy(F.desc("score_micro"), F.asc(self.id_col))
            .limit(k)
            .filter(F.col("score_micro").isNotNull())
            .withColumn(
                "rank", (F.monotonically_increasing_id() + 1).cast("int")
            )
        )

    def hybrid(
        self,
        query: str,
        vector: list[float],
        k: int = 10,
        alpha: float = 0.5,
        where: Column | None = None,
        k_rrf: int = 60,
    ) -> DataFrame:
        """Weaviate hybrid mode: the dense top ``2k`` (certainty desc, id
        asc, threshold 0) and the BM25 top ``2k`` fused with weighted
        reciprocal rank - ``alpha`` weights the dense list, ``1 - alpha``
        the keyword list - as ``(id, rrf_micro, rank)`` for ranks
        ``1..k``: the rows that composing
        :func:`~vectordb_data_ingestion_spark.operators.similarity.topk_by_certainty`,
        :func:`~vectordb_data_ingestion_spark.operators.search.bm25_topk`
        and :func:`~vectordb_data_ingestion_spark.operators.search.rrf_fuse`
        gives.

        Executes here, in three Spark jobs: the BM25 statistics aggregate
        (two), then ONE scan that scores both legs - certainty in numpy,
        BM25 in Catalyst with the statistics as literals - and keeps each
        partition's top ``2k`` per leg (one). Fusion runs in the driver
        over at most ``2k`` ids per list. The result is a one-partition
        local relation, so a caller's rank sort is one more job."""
        from vectordb_data_ingestion_spark.operators.search import (
            rrf_fuse_lists,
            with_bm25_micro,
        )
        from vectordb_data_ingestion_spark.session import values_df

        base = self._filtered(where)
        scored = with_bm25_micro(
            base, query.split(), [self.id_col, self.vec_col],
            text_col=self.text_col,
        )
        dense, keyword = self._top_per_leg(scored, vector, 2 * k)
        rows = rrf_fuse_lists(
            dense, keyword, k_rrf=k_rrf, weight_a=alpha,
            weight_b=1.0 - alpha, k=k,
        )
        id_type = base.schema[self.id_col].dataType.simpleString()
        return values_df(
            base.sparkSession, rows,
            f"`{self.id_col}` {id_type}, rrf_micro bigint, rank int",
        ).coalesce(1)

    def _top_per_leg(
        self, scored: DataFrame, vector: list[float], k: int
    ) -> tuple[list, list]:
        """The dense and keyword ranked id lists (best first, ``k`` each)
        of ``scored`` ``(id, vector, score_micro)``, from one collected
        scan: every partition keeps its own top ``k`` per leg -
        certainty desc / id asc over all rows, score desc / id asc over
        matched rows - and the driver merges them."""
        import pandas as pd
        from pyspark.sql.types import (
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        from vectordb_data_ingestion_spark.operators.similarity import (
            CertaintyTopK,
            merge_topk,
            push_topk,
        )

        id_col, vec_col = self.id_col, self.vec_col
        query = [(0, list(vector))]
        schema = StructType([
            StructField("leg", IntegerType()),
            StructField(id_col, scored.schema[id_col].dataType),
            StructField("score", DoubleType()),
        ])

        def scan(batches):
            dense, keyword = CertaintyTopK(query, k, 0.0), []
            for pdf in batches:
                if pdf.empty:
                    continue
                ids = pdf[id_col].to_numpy()
                dense.add(ids, pdf[vec_col])
                hit = pdf["score_micro"].notna().to_numpy()
                micro = pdf["score_micro"][hit].to_numpy(dtype="float64")
                push_topk(keyword, ids[hit], micro, k)
            rows = [(0, i, c) for _, i, c in dense.rows()]
            rows += [(1, rid.v, s) for s, rid in keyword]
            yield pd.DataFrame(rows, columns=["leg", id_col, "score"])

        merged = merge_topk(scored.mapInPandas(scan, schema).collect(), k)
        return tuple([i for g, i, _ in merged if g == leg] for leg in (0, 1))

    def rerank(
        self,
        query: str,
        candidates: DataFrame,
        transport_factory,
        k: int = 3,
    ) -> DataFrame:
        """Precision stage over any recall result that still carries the
        text column: pairwise (query, text) scoring, top-k."""
        from vectordb_data_ingestion_spark.operators.search import (
            cross_encoder_rerank,
        )

        cand = candidates.withColumn("__query", F.lit(query)).withColumn(
            "__q_id", F.lit(0)
        )
        return (
            cross_encoder_rerank(
                cand,
                transport_factory,
                k=k,
                query_col="__query",
                text_col=self.text_col,
                query_id="__q_id",
                doc_id=self.id_col,
            )
            .drop("__query", "__q_id")
        )


    def retrieve_context(
        self,
        vector: list[float],
        k: int = 3,
        max_tokens: int | None = None,
        certainty: float | None = None,
        where: Column | None = None,
        url_col: str | None = None,
        tokens_col: str = "n_tokens",
    ) -> DataFrame:
        """The full consumer path in one call (cfg.toml context_top_n +
        as_context semantics): nearVector top-k, then token-budgeted
        context packing with rank-ordered sources. Returns one row:
        (context, n_chunks[, sources][, n_tokens])."""
        from vectordb_data_ingestion_spark.operators.context import (
            build_context,
        )

        hits = self.near_vector(
            vector, k=k, certainty=certainty, where=where
        ).withColumn("q_id", F.lit(0))
        return build_context(
            hits,
            self.corpus,
            max_tokens=max_tokens,
            id_col=self.id_col,
            text_col=self.text_col,
            url_col=url_col,
            tokens_col=tokens_col,
        ).drop("q_id")

    def aggregate(
        self,
        group_by: str | list[str] | None = None,
        where: Column | None = None,
        mean_cols: list[str] | None = None,
    ) -> DataFrame:
        """Weaviate-style ``aggregate``: object counts (optionally per
        ``group_by`` metadata field) with optional per-column means, over
        the predicate-filtered corpus. The filter rides the scan
        (pushdown), the count is one map-side-combinable aggregate —
        metadata analytics never touch the vector column."""
        base = self._filtered(where)
        aggs = [F.count(F.lit(1)).alias("count")]
        for c in mean_cols or []:
            aggs.append(F.round(F.avg(c), 6).alias(f"mean_{c}"))
        if group_by is None:
            return base.agg(*aggs)
        keys = [group_by] if isinstance(group_by, str) else list(group_by)
        return base.groupBy(*keys).agg(*aggs)
