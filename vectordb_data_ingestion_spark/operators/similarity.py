"""Similarity search over embedding columns.

The reference's query side is declarative config only: top-k by certainty
with a threshold (cfg.toml:23-25,48 - ``context_top_n=3``,
``top_by_certainty=0.9``). Here it is a real distributed operator family:

- :func:`topk_by_certainty`  - small query set vs. huge corpus: the queries
  ship to every partition, which keeps its own top-k per query from one
  numpy matmul per Arrow batch; the driver merges those few candidates.
  This is the exact Weaviate semantics the reference configures.
- :func:`brute_force_topk`   - same, parameterized by plain vectors.
- :func:`ivf_topk`           - the 100 TB path: corpus pre-assigned to the
  nearest of K centroids (one narrow pass); a query probes only its
  ``n_probe`` closest centroid buckets, cutting scanned vectors by
  ~K/n_probe. With a centroid-bucketed (clustered) layout this prunes at the
  file level too.
- :func:`lsh_topk`           - multi-probe sign-LSH: deterministic
  random-hyperplane signatures (one narrow pass, no training), probe all
  buckets within a Hamming radius of the query's signature, exact re-rank.
- :func:`lsh_topk_multitable` - L independent small-signature tables,
  candidates unioned across tables (recall ``1-(1-q)^L``).
- large x large near-dup pair generation lives in
  ``dedup.embedding_near_dup_pairs`` (sign-bucket equi-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from vectordb_data_ingestion_spark.session import values_df
from vectordb_data_ingestion_spark.functions.vectors import (
    certainty,
    cosine_similarity,
    dot_product,
    l2_norm,
    to_double_array,
)


class _RevId:
    """Inverts id ordering inside the min-heap so the heap root is the
    WORST candidate (lowest score, then highest id) for any comparable id
    type — numeric or string — replacing the old ``-int(id)`` trick that
    crashed on non-numeric ids."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return self.v > other.v

    def __eq__(self, other):
        return self.v == other.v


def push_topk(heap: list, ids, scores, k: int) -> None:
    """Fold one batch into ``heap``, a min-heap of the best ``k``
    ``(score, _RevId(id))`` items by score desc, id asc. numpy ranks the
    batch first (``lexsort`` on ``(id, -score)``), so at most its own top
    ``k`` rows reach the Python heap, best first, and the fold stops at
    the first row the heap's current worst beats."""
    import heapq

    import numpy as np

    if k <= 0 or not len(ids):
        return
    order = np.lexsort((ids, -scores))[:k]
    for cid, cv in zip(ids[order], scores[order]):
        item = (cv, _RevId(cid))
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
        else:
            break


class CertaintyTopK:
    """One partition's top-``k`` corpus rows by certainty ``(1+cos)/2``
    meeting ``threshold``, for each of a few ``(q_id, vector)`` queries,
    fed one Arrow batch at a time: one numpy matmul per batch, then
    :func:`push_topk` per query. The per-batch kernel of
    :func:`topk_by_certainty` and of the collection's hybrid scan."""

    def __init__(self, query_rows: list[tuple], k: int, threshold: float):
        import numpy as np

        self.q_ids = [q for q, _ in query_rows]
        self.qm = np.asarray([v for _, v in query_rows], dtype=np.float64)
        self.qn = np.linalg.norm(self.qm, axis=1)
        # JVM parity on degenerate vectors: cosine_similarity returns NULL
        # when either norm is 0 and the threshold filter drops NULL, so a
        # zero-norm QUERY matches nothing and zero-norm CORPUS rows never
        # rank (scoring them 0.5 would displace real neighbors).
        self.q_zero = self.qn == 0
        self.qn[self.q_zero] = 1.0
        self.k, self.threshold = k, threshold
        self.heaps: dict = {q: [] for q in self.q_ids}

    def add(self, ids, vectors) -> None:
        """Score one batch: ``ids`` a numpy array, ``vectors`` its
        embedding cells."""
        import numpy as np

        m = np.stack(np.asarray(vectors)).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        nonzero = norms != 0
        if not nonzero.all():
            ids, m, norms = ids[nonzero], m[nonzero], norms[nonzero]
        if not len(ids):
            return
        cert = np.round(
            (1.0 + (m @ self.qm.T) / np.outer(norms, self.qn)) / 2.0, 6
        )
        for j, q in enumerate(self.q_ids):
            if self.q_zero[j]:
                continue
            col = cert[:, j]
            keep = col >= self.threshold
            push_topk(self.heaps[q], ids[keep], col[keep], self.k)

    def rows(self) -> list[tuple]:
        """``(q_id, id, certainty)`` for every kept row, unordered."""
        return [
            (q, rid.v, cv) for q, h in self.heaps.items() for cv, rid in h
        ]


def merge_topk(rows, k: int) -> list[tuple]:
    """The exact top-``k`` per key of ``(key, id, score)`` candidates,
    ordered by key, then score desc, id asc: the driver-side merge of the
    per-partition top-``k`` lists a :class:`CertaintyTopK` scan emits."""
    from itertools import groupby, islice

    ranked = sorted(rows, key=lambda r: (r[0], -r[2], r[1]))
    by_key = groupby(ranked, key=lambda r: r[0])
    return [r for _, group in by_key for r in islice(group, k)]


def topk_by_certainty(
    corpus: DataFrame,
    query_rows: list[tuple],
    k: int = 3,
    threshold: float = 0.0,
    corpus_vec: str = "embedding",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """For each ``(q_id, vector)`` of ``query_rows``, the top-``k`` corpus
    rows by certainty ``(1+cos)/2`` meeting ``threshold`` (cfg.toml:48
    semantics), ties broken by corpus id, as ``(q_id, <corpus_id>,
    certainty)``.

    Executes here, in one Spark job: each partition scores its Arrow
    batches with one numpy matmul per batch (:class:`CertaintyTopK`; the
    few query rows ship inside the closure) and emits only its local
    top-``k`` per query. The driver collects those ``partitions x k``
    candidates per query and merges them exactly (:func:`merge_topk`).
    The result is a local relation in ``q_id``, certainty desc, id asc
    order, with the id type of the corpus; reading it launches no job.
    With no query rows nothing is scanned and the relation is empty."""
    import pandas as pd

    q_id_type = (
        "bigint" if all(isinstance(q, int) for q, _ in query_rows) else "string"
    )
    id_type = corpus.schema[corpus_id].dataType.simpleString()
    ddl = f"q_id {q_id_type}, `{corpus_id}` {id_type}, certainty double"

    def score(batches):
        topk = CertaintyTopK(query_rows, k, threshold)
        for pdf in batches:
            if not pdf.empty:
                topk.add(pdf[corpus_id].to_numpy(), pdf[corpus_vec])
        yield pd.DataFrame(topk.rows(), columns=["q_id", corpus_id, "certainty"])

    candidates = (
        corpus.select(corpus_id, corpus_vec).mapInPandas(score, ddl).collect()
        if query_rows
        else []
    )
    return values_df(corpus.sparkSession, merge_topk(candidates, k), ddl)


def brute_force_topk(
    corpus: DataFrame,
    query_vector: list[float],
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of one query vector against the corpus: a single
    narrow scan + a global ``ORDER BY LIMIT k`` (Spark executes it as
    per-partition TakeOrdered + driver merge - no full sort, no shuffle)."""
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    scored = corpus.select(
        F.col(id_col),
        F.round(cosine_similarity(to_double_array(F.col(vec_col)), qv), 6).alias(
            "cosine"
        ),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def ivf_topk(
    corpus_with_cells: DataFrame,
    centroids: DataFrame,
    query_vector: list[float],
    k: int,
    n_probe: int = 2,
    vec_col: str = "embedding",
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: probe only the ``n_probe`` cells whose centroids
    are closest to the query, then exact cosine within those cells. The cell
    filter is a plain equality predicate -> partition/file pruning on a
    cell-partitioned corpus."""
    probe_cells = nearest_cells(
        centroids, query_vector, n_probe,
        centroid_vec=centroid_vec, centroid_id=centroid_id,
    )
    pruned = corpus_with_cells.filter(F.col("cell").isin(probe_cells))
    return brute_force_topk(pruned, query_vector, k, vec_col=vec_col, id_col=id_col)


def nearest_cells(
    centroids: DataFrame,
    query_vector: list[float],
    n_probe: int,
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
) -> list:
    """The ``n_probe`` centroid ids nearest the query (max rounded-6
    cosine, ties -> lowest centroid id) — THE probe-selection contract,
    shared by :func:`ivf_topk` and ``pq.py::ivfpq_topk`` so the two index
    shapes can never drift on which cells a query probes. k-row collect
    of a broadcast-sized table."""
    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    return [
        r[0]
        for r in centroids.select(
            F.col(centroid_id),
            F.round(
                cosine_similarity(to_double_array(F.col(centroid_vec)), qv), 6
            ).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc(centroid_id))
        .limit(n_probe)
        .collect()
    ]


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (sign random projection) - the bucketed ANN scale path
# ---------------------------------------------------------------------------

_LSH_MULT = 2654435761  # Knuth multiplicative-hash constant


def hyperplane_sign(bit: int, dim_idx: int, dim: int, seed: int = 0) -> float:
    """Deterministic +/-1 hyperplane entry for LSH bit ``bit``, dimension
    ``dim_idx``. Pure integer arithmetic (no RNG state) so the exact same
    matrix is re-derivable in ANSI SQL by the correctness oracle and by any
    engine that later needs to route queries to buckets."""
    return 1.0 if ((bit * dim + dim_idx + seed) * _LSH_MULT) % 97 % 2 == 0 else -1.0


def lsh_signature(vec_col, n_bits: int = 16, dim: int = 64, seed: int = 0):
    """Sign-random-projection signature (Charikar SimHash for vectors): bit i
    is the sign of ``dot(v, h_i)`` against deterministic +/-1 hyperplanes,
    packed into one LONG. One narrow JVM-side pass (zip_with + fold per
    bit) - no shuffle, no UDF. Collision probability of a bit is
    ``1 - theta/pi``, so nearby vectors share buckets.

    The projection is rounded to 6 decimals before the sign test so the
    signature is stable across engines/summation orders (same convention as
    the IVF oracle).

    When ``vec_col`` is a plain column NAME the expression is assembled as
    one SQL string and parsed once: the Column-API form creates
    ``n_bits x dim`` individual ``lit`` Columns (16x64 = 1024 driver round
    trips) and measured ~2 s of pure plan-construction time per call at the
    default shape; the parsed form is <5 ms with a bit-identical expression
    tree (same zip_with/aggregate fold, same round-to-6 sign test -
    verified value-for-value). Arbitrary Column expressions keep the
    loop-built path."""
    if isinstance(vec_col, str):
        v = f"transform(`{vec_col}`, x -> cast(x as double))"
        terms = []
        for i in range(n_bits):
            signs = ",".join(
                ("1.0D" if hyperplane_sign(i, d, dim, seed) > 0 else "-1.0D")
                for d in range(dim)
            )
            proj = (
                f"aggregate(zip_with({v}, array({signs}), (x, s) -> x * s), "
                f"cast(0.0 as double), (acc, x) -> acc + x)"
            )
            terms.append(
                f"(case when round({proj}, 6) > 0 then cast({1 << i} as long) "
                f"else cast(0 as long) end)"
            )
        return F.expr("cast(0 as long) + " + " + ".join(terms))
    v = to_double_array(vec_col)
    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        signs = F.array(*[F.lit(hyperplane_sign(i, d, dim, seed)) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(v, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(
            F.round(proj, 6) > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sig


def with_lsh_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 0,
    out_col: str = "sig",
) -> DataFrame:
    """Tag every corpus vector with its LSH bucket signature. At scale the
    corpus is then written partitioned (or bucketed) by ``out_col`` so a
    probe's signature IN-list prunes at the file level - the same layout
    trick as IVF cells, but assignment is a fixed projection instead of a
    centroid argmax (no centroid training, no cross join)."""
    return df.withColumn(out_col, lsh_signature(vec_col, n_bits, dim, seed))


def lsh_probe_signatures(query_sig: int, n_bits: int, radius: int) -> list[int]:
    """All signatures within Hamming distance <= radius of the query's -
    multi-probe LSH. radius=2 at 16 bits -> 137 buckets of 65536
    (~0.2% of the corpus scanned, recall rises with radius)."""
    from itertools import combinations

    probes: list[int] = []
    for r in range(radius + 1):
        for bits in combinations(range(n_bits), r):
            s = query_sig
            for b in bits:
                s ^= 1 << b
            probes.append(s)
    return probes


def lsh_topk(
    corpus_with_sig: DataFrame,
    query_vector: list[float],
    query_sig: int,
    k: int,
    n_bits: int = 16,
    radius: int = 2,
    sig_col: str = "sig",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k via multi-probe LSH: filter the corpus to buckets
    within ``radius`` bit-flips of the query signature (an IN-list equality
    predicate -> partition/file pruning on a signature-partitioned layout),
    then exact cosine re-rank inside the candidates. Complements
    :func:`ivf_topk`: no training step, and probe cost is independent of
    corpus skew."""
    probes = lsh_probe_signatures(query_sig, n_bits, radius)
    pruned = corpus_with_sig.filter(F.col(sig_col).isin(probes))
    return brute_force_topk(pruned, query_vector, k, vec_col=vec_col, id_col=id_col)


def ann_topk_join(
    corpus_with_sig: DataFrame,
    queries_with_sig: DataFrame,
    k: int = 5,
    n_bits: int = 16,
    radius: int = 1,
    sig_col: str = "sig",
    query_sig_col: str = "q_sig",
    vec_col: str = "embedding",
    query_vec: str = "q_embedding",
    query_id: str = "q_id",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Batched ANN: top-``k`` corpus neighbors for EVERY query row in one
    plan - the production retrieval shape (N queries arriving together),
    where per-query driver loops or a broadcast cross join both fall over.

    Each query explodes into its multi-probe bucket set (signatures within
    ``radius`` bit flips - ``lsh_probe_signatures`` of the XOR masks), which
    turns the search into a plain equi-join on the signature: Spark hash-
    partitions both sides, so cost scales with rows-per-bucket, never
    |queries| x |corpus|. Exact certainty re-rank + per-query window top-k
    on the candidates. Probe signatures are distinct per query, so no
    candidate dedup is needed.
    """
    masks = lsh_probe_signatures(0, n_bits, radius)
    probes = queries_with_sig.withColumn(
        "__mask", F.explode(F.array(*[F.lit(m).cast("long") for m in masks]))
    ).withColumn(sig_col, F.col(query_sig_col).bitwiseXOR(F.col("__mask")))
    cand = probes.join(corpus_with_sig, sig_col).drop("__mask")
    score = F.round(
        certainty(to_double_array(F.col(vec_col)), to_double_array(F.col(query_vec))),
        6,
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("certainty"), F.asc(corpus_id)
    )
    return (
        cand.withColumn("certainty", score)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(query_id, corpus_id, "certainty")
    )


def lsh_signature_py(
    vec: list[float], n_bits: int = 16, dim: int = 64, seed: int = 0
) -> int:
    """Driver-side signature of an arbitrary query vector, bit-identical to
    :func:`lsh_signature`: same +/-1 matrix, same left-to-right IEEE-754
    double fold, same round-to-6 sign test."""
    sig = 0
    for i in range(n_bits):
        acc = 0.0
        for d in range(dim):
            acc = acc + float(vec[d]) * hyperplane_sign(i, d, dim, seed)
        if round(acc, 6) > 0:
            sig |= 1 << i
    return sig


def with_lsh_signatures_multitable(
    df: DataFrame,
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_tables: int = 6,
    dim: int = 64,
    seed_stride: int = 1000,
    prefix: str = "sig",
) -> DataFrame:
    """Tag each vector with ``n_tables`` independent LSH signatures
    (seeds 0, seed_stride, 2*seed_stride, ...). Multi-table LSH: a true
    neighbor missed by one table is caught by another, so recall is
    ``1-(1-q)^L`` for per-table hit rate q. All tables are computed in the
    same narrow pass - no extra scans."""
    for t in range(n_tables):
        df = df.withColumn(
            f"{prefix}{t}",
            lsh_signature(vec_col, n_bits, dim, seed=t * seed_stride),
        )
    return df


def lsh_topk_multitable(
    tagged: DataFrame,
    query_vector: list[float],
    query_sigs: list[int],
    k: int,
    n_bits: int = 8,
    radius: int = 1,
    prefix: str = "sig",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k over a multi-table-tagged corpus: candidates are
    the union (OR) of per-table multi-probe bucket matches, then one exact
    cosine re-rank. Each disjunct is an IN-list on a LONG column, so parquet
    row-group min/max and dictionary filters prune cheaply; at 100 TB the
    same candidates come from L inverted-index tables (sig -> vec_id) union-
    ed and semi-joined back, leaving the corpus laid out by just one table's
    signature for file-level pruning."""
    cond = None
    for t, qs in enumerate(query_sigs):
        c = F.col(f"{prefix}{t}").isin(lsh_probe_signatures(qs, n_bits, radius))
        cond = c if cond is None else (cond | c)
    return brute_force_topk(
        tagged.filter(cond), query_vector, k, vec_col=vec_col, id_col=id_col
    )


# ---------------------------------------------------------------------------
# K-means centroid training (Lloyd's) - produces the IVF coarse quantizer
# ---------------------------------------------------------------------------

def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """One Lloyd iteration: assign every vector to its nearest centroid
    (max cosine, ties -> lowest centroid id), then recompute each centroid
    as the element-wise mean of its members.

    Returns ``(c_id, c_embedding: array<double>, n_members)`` - feed back in
    as the next iteration's ``centroids``. Empty cells drop out (standard
    Lloyd behavior; k shrinks rather than keeping a dead centroid).

    Shuffle profile: the assign is a narrow pass over the corpus (one
    matmul per Arrow batch, :func:`assign_ivf_cells_vectorized`); the mean
    is per-batch numpy partial sums - each Arrow batch emits at most k rows
    ``(cell, [sum_0..sum_{d-1}, count])`` - merged by a (cell, pos)
    aggregation, so the exchange carries ``batches * k`` tiny rows
    regardless of corpus size. That is the textbook distributed-kmeans
    layout: per-partition partial sums, one tiny shuffle, never the vectors
    themselves.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    assigned = assign_ivf_cells_vectorized(
        corpus,
        centroids,
        vec_col=vec_col,
        centroid_vec=centroid_vec,
        centroid_id=centroid_id,
        id_col=id_col,
    )
    # count rides as the partial-sum array's last element so one
    # (cell, pos) aggregation merges sums AND counts
    part_schema = StructType(
        [
            StructField("cell", assigned.schema["cell"].dataType),
            StructField("psum", ArrayType(DoubleType())),
        ]
    )

    def partial_sums(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cells = pdf["cell"].to_numpy()
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            uniq = np.unique(cells)
            rows = []
            for cell in uniq:
                mask = cells == cell
                rows.append(np.append(m[mask].sum(axis=0), mask.sum()))
            yield pd.DataFrame({"cell": uniq, "psum": rows})

    dims = assigned.select("cell", vec_col).mapInPandas(
        partial_sums, schema=part_schema
    ).select("cell", F.posexplode("psum").alias("__pos", "__val"))
    per_dim = dims.groupBy("cell", "__pos").agg(F.sum("__val").alias("__sum"))
    merged = per_dim.groupBy("cell").agg(
        F.array_sort(
            F.collect_list(F.struct("__pos", F.col("__sum")))
        ).alias("__cells")
    )
    n = F.element_at("__cells", -1)["__sum"]
    return merged.select(
        F.col("cell").alias(centroid_id),
        F.transform(
            F.slice("__cells", 1, F.size("__cells") - 1),
            lambda s: F.round(s["__sum"] / n, 6),
        ).alias(centroid_vec),
        n.cast("bigint").alias("n_members"),
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int,
    iterations: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train k centroids with Lloyd's algorithm, deterministically seeded
    with the k lowest-id corpus vectors (reproducible across runs and
    engines - no RNG; max rounded cosine, ties -> lowest centroid id;
    empty cells drop). Returns ``(c_id, c_embedding, n_members)`` - the
    same centroids as chaining :func:`kmeans_refine` ``iterations`` times
    from those seeds (6dp rounding absorbs summation-order differences).

    Each iteration is ONE corpus pass (same pattern as pq.pq_train): every
    Arrow batch assigns with a matmul and emits per-cell partial sums; the
    k*(dim+1) partials collapse to the driver, which updates the
    (driver-sized) centroid matrix for the next pass. No checkpoint chain,
    no per-iteration assign+mean job pair.
    """
    if iterations < 1:
        raise ValueError("kmeans_fit needs iterations >= 1")
    # k seed vectors (and per-iteration k*(dim+1) partials) land on the
    # driver — guard k x dim like the PQ trainers do. The dim probe is one
    # single-row job, paid only when k is big enough for the product to
    # possibly matter.
    if k > 10_000:
        from vectordb_data_ingestion_spark.operators._guards import (
            check_driver_collect_budget,
        )

        probed = corpus.select(F.size(F.col(vec_col))).first()
        check_driver_collect_budget(
            k, probed[0] if probed else 0, "kmeans_fit seeds"
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    seed_rows = corpus.orderBy(F.col(id_col)).limit(k).collect()
    ids = [r[id_col] for r in seed_rows]
    c = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows])
    dim = c.shape[1]
    part_schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("psum", ArrayType(DoubleType())),
        ]
    )
    narrow = corpus.select(vec_col)

    for _ in range(iterations):
        cn = np.sqrt((c * c).sum(axis=1))
        c_zero = cn == 0.0
        cn[c_zero] = 1.0
        cu = (c / cn[:, None]).copy()

        def partial_sums(batches, cu=cu, c_zero=c_zero):
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                xn = np.sqrt((x * x).sum(axis=1))
                xn[xn == 0.0] = 1.0
                sims = np.round((x / xn[:, None]) @ cu.T, 6)
                # a zero-norm centroid never captures a vector, as in
                # assign_ivf_cells_vectorized
                if c_zero.any():
                    sims[:, c_zero] = -np.inf
                cells = np.argmax(sims, axis=1)
                uniq = np.unique(cells)
                yield pd.DataFrame(
                    {
                        "cell": uniq.astype(np.int32),
                        "psum": [
                            np.append(
                                x[cells == cell].sum(axis=0),
                                (cells == cell).sum(),
                            )
                            for cell in uniq
                        ],
                    }
                )

        merged = (
            narrow.mapInPandas(partial_sums, schema=part_schema)
            .select("cell", F.posexplode("psum").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"))
            .collect()
        )
        sums = np.zeros((len(ids), dim))
        counts = np.zeros(len(ids))
        for r in merged:
            if r["pos"] == dim:
                counts[r["cell"]] = r["s"]
            else:
                sums[r["cell"], r["pos"]] = r["s"]
        keep = counts > 0
        ids = [i for i, kf in zip(ids, keep) if kf]
        c = np.round(sums[keep] / counts[keep][:, None], 6)

    spark = corpus.sparkSession
    return values_df(  # zero-task VALUES literal (no Python-RDD scan)
        spark,
        [
            (ids[i], [float(v) for v in c[i]], int(counts[keep][i]))
            for i in range(len(ids))
        ],
        f"c_id {corpus.schema[id_col].dataType.simpleString()}, "
        "c_embedding array<double>, n_members bigint",
    )


def collect_centroid_matrix(
    centroids: DataFrame,
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
):
    """Collect + normalize the (tiny) centroid table once, for callers that
    assign several corpora against the SAME quantizer
    (:func:`bitext_mine` assigns both language sides): each
    ``assign_ivf_cells_vectorized`` call otherwise re-runs the centroid
    subquery as its own collect job."""
    import numpy as np

    rows = sorted(
        centroids.select(centroid_id, centroid_vec).collect(),
        key=lambda r: r[centroid_id],
    )
    ids = np.asarray([r[centroid_id] for r in rows])
    c = np.stack([np.asarray(r[centroid_vec], dtype=np.float64) for r in rows])
    cn = np.sqrt((c * c).sum(axis=1))
    c_zero = cn == 0.0
    cn[c_zero] = 1.0
    return ids, c / cn[:, None], c_zero


def assign_ivf_cells_vectorized(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
    id_col: str = "vec_id",
    _matrix=None,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (max rounded
    cosine, ties -> lowest centroid id) and return the corpus rows with a
    ``cell`` column. A zero-norm centroid has no cosine (NULL in the DuckDB
    oracles) and never captures a vector; a zero-norm corpus vector ties at
    0 with every other centroid and goes to the lowest id among them. At
    scale, write the result partitioned/bucketed by ``cell`` so probes
    prune files.

    The (tiny) centroid matrix closes over each Arrow batch and assignment
    is one normalized matmul + argmax: a pure narrow projection, no join,
    no window (a corpus x k crossJoin + window is a billion-row window at
    1M vectors x 1024 centroids). Centroid rows are sorted by id so
    argmax's first-maximum rule gives the asc-id tie-break; pass
    ``_matrix`` from :func:`collect_centroid_matrix` to reuse one collect
    across several corpora."""
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    ids, cu, c_zero = (
        _matrix
        if _matrix is not None
        else collect_centroid_matrix(centroids, centroid_vec, centroid_id)
    )
    out_schema = StructType(
        corpus.schema.fields + [StructField("cell", centroids.schema[centroid_id].dataType)]
    )

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xn = np.sqrt((x * x).sum(axis=1))
            xn[xn == 0.0] = 1.0
            sims = np.round((x / xn[:, None]) @ cu.T, 6)
            if c_zero.any():
                sims[:, c_zero] = -np.inf
            pdf = pdf.copy()
            pdf["cell"] = ids[np.argmax(sims, axis=1)]
            yield pdf

    return corpus.mapInPandas(assign, schema=out_schema)


# ---------------------------------------------------------------------------
# Bitext mining (margin criterion, IVF-cell blocked)
# ---------------------------------------------------------------------------

def bitext_mine(
    a: DataFrame,
    b: DataFrame,
    centroids: DataFrame,
    knn: int = 4,
    a_id: str = "a_id",
    a_vec: str = "ae",
    b_id: str = "b_id",
    b_vec: str = "be",
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
    materialize: bool = True,
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk ratio margin, the
    CCMatrix recipe) at corpus scale: both language sides are assigned to
    a SHARED coarse quantizer (broadcast centroids, one narrow pass per
    side), candidate pairs are generated only within a cell via an
    equi-join on ``cell``, and each source doc keeps its best
    within-cell target scored by
    ``margin = cos(x,y) / mean(top-knn cos of x and of y)``.

    Work is sum over cells of |A_cell| x |B_cell| - never |A| x |B|; the
    two shuffles are the cell equi-join and the per-id top-knn windows
    (each id lives in exactly one cell, so the windows are within-cell by
    construction). The k-NN denominators are within-cell approximations
    of the global k-NN - the standard trade when mining at scale; the
    exhaustive form on a bounded block is ``bitext_margin_pairs``
    (queries_catalog.py), which shares this scoring exactly.

    All scoring is integer ppm after one rounded cosine, so the ranking
    is engine-exact (same contract as the kernel's oracle). Returns one
    row per source doc: (a_id, b_id, cell, cos_ppm, margin_ppm).

    Cell assignment is :func:`assign_ivf_cells_vectorized` (one numpy
    matmul per batch, no per-id window shuffle; rounded-6 cosine,
    lowest-id tie-break).
    """
    # per-side norms ride the LINEAR cell tables (r7): the pair table is
    # Σcell² rows and the fold HOFs are interpreted per element, so
    # cosine-per-pair refolded each vector's norm once per cell partner —
    # 2/3 of the per-pair fold work. Same fold order, same doubles, same
    # rounding: cos_ppm is bit-identical (A/B'd on the registered query).
    # one centroid collect for BOTH sides (they share the quantizer);
    # per-call collects were two identical driver jobs
    matrix = collect_centroid_matrix(centroids, centroid_vec, centroid_id)
    a_cells = assign_ivf_cells_vectorized(
        a, centroids, vec_col=a_vec, id_col=a_id,
        centroid_vec=centroid_vec, centroid_id=centroid_id, _matrix=matrix,
    ).select(
        a_id, a_vec, "cell",
        l2_norm(to_double_array(F.col(a_vec))).alias("__an"),
    )
    b_cells = assign_ivf_cells_vectorized(
        b, centroids, vec_col=b_vec, id_col=b_id,
        centroid_vec=centroid_vec, centroid_id=centroid_id, _matrix=matrix,
    ).select(
        b_id, b_vec, "cell",
        l2_norm(to_double_array(F.col(b_vec))).alias("__bn"),
    )
    if materialize:
        # checkpoint the LINEAR-size cell assignments, NOT the ranked
        # pair table: ranked feeds three subtrees, but it is Σcell²
        # rows — measured at 10x corpus, writing it costs more than
        # re-running the cell join + windows (34-44 s vs 22 s), while
        # the corpus-scale Arrow assigns are what must not run thrice.
        # Set False where eager evaluation is illegal (streaming).
        #
        # Both sides ride ONE eager checkpoint (r11): the two per-side
        # checkpoints were two sequential driver jobs; a side-tagged
        # union materializes both Arrow assign passes in one job and the
        # sides are re-split as filters over the cached RDD (safe to read
        # twice — the union checkpoint is eager, so the double-compute
        # race the per-side checkpoints prevented still cannot occur).
        # Falls back to per-side checkpoints when the side schemas differ
        # (generic callers may mix id/vector types; union must not cast).
        a_types = [f.dataType for f in a_cells.schema.fields]
        b_types = [f.dataType for f in b_cells.schema.fields]
        if a_types == b_types:
            a_names, b_names = a_cells.columns, b_cells.columns
            tagged = (
                a_cells.select(
                    F.lit(0).alias("__side"),
                    *[
                        F.col(c).alias(f"__c{i}")
                        for i, c in enumerate(a_names)
                    ],
                )
                .unionAll(
                    b_cells.select(
                        F.lit(1).alias("__side"),
                        *[
                            F.col(c).alias(f"__c{i}")
                            for i, c in enumerate(b_names)
                        ],
                    )
                )
                .localCheckpoint()
            )
            a_cells = tagged.filter(F.col("__side") == 0).select(
                *[
                    F.col(f"__c{i}").alias(c)
                    for i, c in enumerate(a_names)
                ]
            )
            b_cells = tagged.filter(F.col("__side") == 1).select(
                *[
                    F.col(f"__c{i}").alias(c)
                    for i, c in enumerate(b_names)
                ]
            )
        else:
            a_cells = a_cells.localCheckpoint()
            b_cells = b_cells.localCheckpoint()
    # to_double_array like every sibling operator: float-typed embeddings
    # would otherwise multiply in single precision before the fold,
    # flipping ±1 ppm on boundary values vs the double-computing oracle.
    # NULL parity with cosine_similarity: zero denom -> NULL cos_ppm.
    __denom = F.col("__an") * F.col("__bn")
    cos_ppm = F.round(
        F.when(
            __denom > 0,
            dot_product(
                to_double_array(F.col(a_vec)), to_double_array(F.col(b_vec))
            )
            / __denom,
        )
        * 1_000_000
    ).cast("long")
    pairs = a_cells.join(b_cells, "cell").select(
        "cell", a_id, b_id, cos_ppm.alias("cos_ppm")
    )
    wa = Window.partitionBy(a_id).orderBy(F.desc("cos_ppm"), F.asc(b_id))
    wb = Window.partitionBy(b_id).orderBy(F.desc("cos_ppm"), F.asc(a_id))
    ranked = pairs.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rb", F.row_number().over(wb)
    )
    # mean over the neighbours actually RETRIEVED (Artetxe & Schwenk):
    # sparse cells can hold fewer than `knn` candidates, so the divisor is
    # LEAST(knn, count) — a fixed-knn divisor would deflate the mean and
    # let sparse-cell pairs crowd the top-k on inflated margins.
    denom_a = (
        ranked.filter(F.col("ra") <= knn)
        .groupBy(a_id)
        .agg(
            F.expr(
                f"CAST(SUM(cos_ppm) AS BIGINT) div LEAST({knn}, COUNT(*))"
            ).alias("avg_a")
        )
    )
    denom_b = (
        ranked.filter(F.col("rb") <= knn)
        .groupBy(b_id)
        .agg(
            F.expr(
                f"CAST(SUM(cos_ppm) AS BIGINT) div LEAST({knn}, COUNT(*))"
            ).alias("avg_b")
        )
    )
    return (
        ranked.filter(F.col("ra") == 1)
        .join(denom_a, a_id)
        .join(denom_b, b_id)
        .withColumn(
            "margin_ppm", F.expr("cos_ppm * 2000000L div (avg_a + avg_b)")
        )
        .select(a_id, b_id, "cell", "cos_ppm", "margin_ppm")
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantized retrieval
# ---------------------------------------------------------------------------

def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id: str = "q_id",
    q_vec: str = "q_embedding",
) -> DataFrame:
    """Two-stage retrieval over 32x-compressed sign-bit codes: pack both
    sides with :func:`~..functions.vectors.binary_quantize` (1 bit/dim),
    shortlist the top-``k`` per query by Hamming distance (popcount of
    XORed words — one codegen expression per pair), then rescore the
    survivors with exact cosine in integer ppm.

    Shuffle discipline: the |Q|x|corpus| candidate stream carries ONLY
    (q_id, id, hamming) — the packed comparison happens in the scan
    projection and neither float vector rides a candidate row (the r6
    x100 probe caught the float-carrying form filling the disk with sort
    spill). Only k rows per query reach the rerank, which joins the float
    vectors back. Cost shape: the corpus float column is read twice (pack
    pass + rerank pass) — at index scale you'd materialize the code table
    once instead (the ``vector_index.py`` pattern) and the pack pass
    disappears; a second pruned scan is the honest price of the ad-hoc
    form, a disk-filling spill is not. Ties break on ``(hamming, id)`` so
    the result is exact across engines and partitionings.
    """
    from vectordb_data_ingestion_spark.functions.vectors import (
        binary_quantize,
        hamming_distance,
    )

    c = corpus.select(
        F.col(id_col),
        to_double_array(vec_col).alias("ce"),
    ).withColumn("cw", binary_quantize(F.col("ce"), dim))
    q = queries.select(
        F.col(q_id),
        to_double_array(q_vec).alias("qe"),
    ).withColumn("qw", binary_quantize(F.col("qe"), dim))
    # the candidate table carries ONLY (q_id, id, hamming) — ~20 bytes a
    # row — into the per-query window. The r6 x100 probe caught the old
    # form (floats riding every scored row) filling the disk with sort
    # spill: |Q|x|corpus| pairs each hauling two dim-double arrays is
    # ~50x the bytes of the packed comparison it exists to accelerate.
    # Floats rejoin AFTER the k-per-query cut, so the rerank touches
    # k*|Q| rows — which is what the binary mode promises.
    scored = (
        c.select(id_col, "cw")
        .join(broadcast(q.select(q_id, "qw")))
        .select(
            q_id,
            id_col,
            hamming_distance(F.col("qw"), F.col("cw")).alias("hamming"),
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.asc("hamming"), F.asc(id_col))
    top = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    # survivors are k rows per query: AQE broadcasts this side into the
    # corpus scan by measured size (no forced broadcast — |Q| grows with
    # the workload, same discipline as the LSH candidate tables)
    return (
        top.join(c.select(id_col, "ce"), id_col)
        .join(broadcast(q.select(q_id, "qe")), q_id)
        .select(
            q_id,
            id_col,
            "hamming",
            F.round(cosine_similarity(F.col("qe"), F.col("ce")) * 1_000_000)
            .cast("long")
            .alias("cos_ppm"),
            F.col("rn").alias("rank"),
        )
    )
