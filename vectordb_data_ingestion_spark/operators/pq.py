"""Product quantization: the compression tier between int8 scalar
quantization (functions/vectors.py) and raw vectors.

Split each d-dim vector into ``m`` subvectors, quantize each subvector to
its nearest codeword in a per-subspace codebook (k codewords, trained with
k-means over the subvectors), and store only the ``m`` small code ids -
d*4 bytes becomes m bytes at k<=256. Query-time scoring is ADC (asymmetric
distance computation): the query stays un-quantized, per-subspace lookup
tables give the distance from the query's subvector to every codeword, and
a vector's approximate distance is the sum of its codes' table entries.
(Jegou et al., "Product Quantization for Nearest Neighbor Search", TPAMI
2011 - public literature; nothing like it exists in the reference, which
stores raw 1536-d ada-002 vectors, cfg.toml:19.)

Scale shape:
- codebooks are tiny (m * k rows): :func:`pq_encode_vectorized` closes
  them over each Arrow batch and encodes with one matmul + argmin per
  subspace - a pure narrow projection, zero shuffle (an exploded
  (vector, subspace, codeword) join + window is a corpus*m*k-row window
  and does not finish at 1M vectors);
- ADC scoring (:func:`pq_adc_topk_codes`) builds the per-query lookup
  table driver-side, scores each batch of packed codes with a
  fancy-index + sum, and TakeOrdered-merges the top-k: the scan reads
  only (id, pq_codes), and nothing shuffles.

All distances use the dot-product expansion ``|x-y|^2 = x.x - 2x.y + y.y``
rounded to 6dp on BOTH engines, so nearest-codeword ties break identically
in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from vectordb_data_ingestion_spark.session import values_df
from vectordb_data_ingestion_spark.functions.vectors import to_double_array


def subvectors(vec: Column, m: int, dim: int) -> Column:
    """Array of ``m`` contiguous subvectors of a ``dim``-dim vector."""
    dsub = dim // m
    return F.array(
        *[F.slice(vec, j * dsub + 1, dsub) for j in range(m)]
    )


def pq_train(
    corpus: DataFrame,
    m: int,
    dim: int,
    k: int = 16,
    iterations: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_driver_elements: int | None = None,
) -> DataFrame:
    """Train per-subspace codebooks with JOINT Lloyd iterations under the
    standard PQ objective (squared L2 per subspace, Jegou et al. 2011):
    every corpus pass encodes ALL ``m`` subspaces with one matmul + argmin
    each and emits per-(sub, code) partial sums; the m*k*(dsub+1) partials
    collapse to the driver (about a thousand values - the codebook IS
    driver-sized), which updates all codebooks for the next pass.

    One corpus scan per iteration, total. The per-subspace-sequential form
    (m separate k-means trainings, each with its own assign/mean/checkpoint
    chain) re-derives the subvector lineage m times and did not finish in
    10 minutes at 1M vectors; this trains 8x16 codebooks there in well
    under a minute.

    Deterministic: seeded with the k lowest-id vectors' subvectors, argmin
    ties to the lowest code, empty cells keep their codeword (codes stay
    dense 0..k-1). Returns ``(sub, code, sv)``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from vectordb_data_ingestion_spark.operators._guards import (
        check_driver_collect_budget,
    )

    dsub = dim // m
    # guards BOTH driver materializations: the k-seed collect here and the
    # per-iteration m*k*(dsub+1) partials (same k x dim order)
    check_driver_collect_budget(k, dim, "pq_train seeds", max_driver_elements)
    seed_rows = corpus.orderBy(F.col(id_col)).limit(k).collect()
    if len(seed_rows) < k:
        k = len(seed_rows)
    seeds = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in seed_rows]
    )
    # books[j][c] = codeword c of subspace j
    books = np.stack(
        [seeds[:, j * dsub : (j + 1) * dsub] for j in range(m)]
    )

    part_schema = StructType(
        [
            StructField("sub", IntegerType()),
            StructField("code", LongType()),
            StructField("psum", ArrayType(DoubleType())),
        ]
    )
    narrow = corpus.select(vec_col)

    for _ in range(iterations):
        current = books.copy()

        def partial_sums(batches, current=current):
            for pdf in batches:
                if pdf.empty:
                    continue
                x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                subs_l, codes_l, psums = [], [], []
                for j in range(m):
                    xs = x[:, j * dsub : (j + 1) * dsub]
                    cb = current[j]
                    d = (
                        (xs * xs).sum(axis=1)[:, None]
                        - 2.0 * (xs @ cb.T)
                        + (cb * cb).sum(axis=1)[None, :]
                    )
                    codes = np.argmin(np.round(d, 6), axis=1)
                    for c in np.unique(codes):
                        mask = codes == c
                        subs_l.append(j)
                        codes_l.append(int(c))
                        psums.append(
                            np.append(xs[mask].sum(axis=0), mask.sum())
                        )
                yield pd.DataFrame(
                    {"sub": subs_l, "code": codes_l, "psum": psums}
                )

        merged = (
            narrow.mapInPandas(partial_sums, schema=part_schema)
            .select("sub", "code", F.posexplode("psum").alias("pos", "val"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum("val").alias("s"))
            .collect()
        )
        sums = np.zeros((m, k, dsub))
        counts = np.zeros((m, k))
        for r in merged:
            if r["pos"] == dsub:
                counts[r["sub"], r["code"]] = r["s"]
            else:
                sums[r["sub"], r["code"], r["pos"]] = r["s"]
        nonempty = counts > 0
        books = books.copy()
        books[nonempty] = np.round(
            sums[nonempty] / counts[nonempty][:, None], 6
        )

    spark = corpus.sparkSession
    rows = [
        (j, int(c), [float(v) for v in books[j, c]])
        for j in range(m)
        for c in range(k)
    ]
    return values_df(  # zero-task VALUES literal (no Python-RDD scan)
        spark, rows, "sub int, code long, sv array<double>"
    )


def pq_encode_vectorized(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rotation: list | None = None,
) -> DataFrame:
    """(id, pq_codes: array<long>) - each vector's nearest codeword per
    subspace (min rounded L2^2, ties -> lowest code). The codebooks
    (m * k rows, tiny) are collected once into numpy arrays and closed
    over; each Arrow batch is encoded with one matmul + argmin per
    subspace. No explode, no join, no window - a pure narrow projection,
    O(rows * m * k * dsub) flops. Ties break to the lowest code (argmin
    picks the first minimum; codes are dense-ordered), and distances are
    rounded to 6dp before comparison - bit-identical to the DuckDB
    oracle. ``rotation`` (from :func:`opq_train`) is applied to every
    vector first.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    dsub = dim // m
    books = _collect_books(codebooks, m, dsub)
    # OPQ: the learned orthonormal rotation ships in the closure and
    # costs one extra matmul per batch (opq_train's contract)
    rot = (
        np.asarray(rotation, dtype=np.float64) if rotation is not None
        else None
    )
    out_schema = StructType(
        [
            StructField(id_col, corpus.schema[id_col].dataType),
            StructField("pq_codes", ArrayType(LongType())),
        ]
    )

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if rot is not None:
                x = x @ rot.T
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                xs = x[:, j * dsub : (j + 1) * dsub]
                cb = books[j]
                d = (
                    (xs * xs).sum(axis=1)[:, None]
                    - 2.0 * (xs @ cb.T)
                    + (cb * cb).sum(axis=1)[None, :]
                )
                codes[:, j] = np.argmin(np.round(d, 6), axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "pq_codes": list(codes)}
            )

    return corpus.mapInPandas(encode, schema=out_schema)


def pq_adc_topk_codes(
    encoded: DataFrame,
    codebooks: DataFrame,
    query_vector: list[float],
    k: int,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    rotation: list | None = None,
) -> DataFrame:
    """ADC top-k over the packed ``pq_codes`` column (the layout a 100 TB
    index actually stores): the per-query lookup table is built driver-side
    (m * k floats), each Arrow batch scores rows with one fancy-index + sum,
    and the global top-k is a TakeOrdered merge. Zero shuffle, zero join -
    the scan reads only (id, pq_codes)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    dsub = dim // m
    rows = codebooks.select("sub", "code", "sv").collect()
    k_per_sub = max(r["code"] for r in rows) + 1
    query_vector = _maybe_rotate_query(query_vector, rotation)
    q = np.asarray(query_vector, dtype=np.float64)
    lut = np.zeros((m, k_per_sub), dtype=np.float64)
    for r in rows:
        qs = q[r["sub"] * dsub : (r["sub"] + 1) * dsub]
        cv = np.asarray(r["sv"], dtype=np.float64)
        lut[r["sub"], r["code"]] = round(
            float(qs @ qs - 2.0 * (qs @ cv) + cv @ cv), 6
        )
    out_schema = StructType(
        [
            StructField(id_col, encoded.schema[id_col].dataType),
            StructField("adc", DoubleType()),
        ]
    )
    subs_idx = np.arange(m)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy()).astype(np.int64)
            adc = np.round(lut[subs_idx[None, :], codes].sum(axis=1), 6)
            yield pd.DataFrame({id_col: pdf[id_col], "adc": adc})

    scored = encoded.mapInPandas(score, schema=out_schema)
    return scored.orderBy(F.asc("adc"), F.asc(id_col)).limit(k)


def pq_adc_topk_batch(
    encoded: DataFrame,
    codebooks: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    rotation: list | None = None,
) -> DataFrame:
    """Batched ADC: answer EVERY query in one scan of the packed-codes
    table. The per-query lookup tables stack into one (nq, m, k) tensor on
    the driver; each Arrow batch scores all queries with one fancy-index +
    sum per query and emits only its local top-``k`` per query (B*nq
    full scores never leave the worker), then one tiny window merges
    per-partition candidates globally. Same shape as
    similarity.ann_topk_join: N queries cost one corpus pass."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if not queries:
        # fail on the driver with the cause named — an empty query batch
        # otherwise dies inside a task as pandas' "No objects to
        # concatenate"
        raise ValueError("pq_adc_topk_batch: queries must be non-empty")
    dsub = dim // m
    rows = codebooks.select("sub", "code", "sv").collect()
    k_per_sub = max(r["code"] for r in rows) + 1
    luts = np.zeros((len(queries), m, k_per_sub), dtype=np.float64)
    q_ids = []
    for qi, (q_id, vec) in enumerate(queries):
        q_ids.append(q_id)
        q = np.asarray(_maybe_rotate_query(vec, rotation), dtype=np.float64)
        for r in rows:
            qs = q[r["sub"] * dsub : (r["sub"] + 1) * dsub]
            cv = np.asarray(r["sv"], dtype=np.float64)
            luts[qi, r["sub"], r["code"]] = round(
                float(qs @ qs - 2.0 * (qs @ cv) + cv @ cv), 6
            )
    out_schema = StructType(
        [
            StructField("q_id", LongType()),
            StructField(id_col, encoded.schema[id_col].dataType),
            StructField("adc", DoubleType()),
        ]
    )
    subs_idx = np.arange(m)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            frames = []
            for qi, q_id in enumerate(q_ids):
                adc = np.round(
                    luts[qi][subs_idx[None, :], codes].sum(axis=1), 6
                )
                take = min(k, len(adc))
                # local top-k: sort by (adc, id) for deterministic cut
                order = np.lexsort((ids, adc))[:take]
                frames.append(
                    pd.DataFrame(
                        {
                            "q_id": q_id,
                            id_col: ids[order],
                            "adc": adc[order],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = encoded.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _np_pq_train(X, m: int, dsub: int, k: int, iterations: int):
    """Joint per-subspace Lloyd iterations on a driver-side sample — the
    numpy twin of :func:`pq_train`'s distributed form (same conventions:
    first-k-row seeds, 6dp-rounded argmin ties to the lowest code, empty
    cells keep their codeword)."""
    import numpy as np

    kk = min(k, len(X))
    books = np.stack(
        [X[:kk, j * dsub : (j + 1) * dsub].copy() for j in range(m)]
    )
    for _ in range(iterations):
        for j in range(m):
            xs = X[:, j * dsub : (j + 1) * dsub]
            cb = books[j]
            d = (
                (xs * xs).sum(axis=1)[:, None]
                - 2.0 * (xs @ cb.T)
                + (cb * cb).sum(axis=1)[None, :]
            )
            codes = np.argmin(np.round(d, 6), axis=1)
            for c in range(kk):
                mask = codes == c
                if mask.any():
                    books[j, c] = np.round(xs[mask].mean(axis=0), 6)
    return books


def _np_pq_reconstruct(X, books, m: int, dsub: int):
    import numpy as np

    Y = np.empty_like(X)
    for j in range(m):
        xs = X[:, j * dsub : (j + 1) * dsub]
        cb = books[j]
        d = (
            (xs * xs).sum(axis=1)[:, None]
            - 2.0 * (xs @ cb.T)
            + (cb * cb).sum(axis=1)[None, :]
        )
        Y[:, j * dsub : (j + 1) * dsub] = cb[
            np.argmin(np.round(d, 6), axis=1)
        ]
    return Y


def opq_train(
    corpus: DataFrame,
    m: int,
    dim: int,
    k: int = 16,
    iterations: int = 5,
    pq_iterations: int = 3,
    sample_size: int = 20_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_driver_elements: int | None = None,
):
    """Optimized Product Quantization (Ge et al., CVPR 2013 — public
    literature; the non-parametric alternating form): learn an ORTHONORMAL
    rotation R so that ``R @ x`` splits into subspaces PQ quantizes well —
    plain PQ assumes the coordinate split is already decorrelated, and on
    mixed/correlated embeddings that assumption costs recall
    (tests/test_pq.py A/B).

    Alternation per iteration: (a) train PQ codebooks on the rotated
    sample, (b) reconstruct, (c) update R by orthogonal Procrustes
    (SVD of X^T Y). Trains DRIVER-SIDE on the ``sample_size`` lowest-id
    vectors (deterministic, like pq_train's seeding; OPQ is standardly
    sample-trained), then the rotation applies at corpus scale as ONE
    extra matmul inside the existing Arrow encode pass
    (``pq_encode_vectorized(rotation=...)``) and queries rotate
    driver-side (``rotation=`` on the ADC scorers).

    Returns ``(rotation, codebooks_df)``: rotation as a dim x dim nested
    list (JSON/closure friendly), codebooks trained in the ROTATED space.
    """
    import numpy as np

    from vectordb_data_ingestion_spark.operators._guards import (
        check_driver_collect_budget,
    )

    dsub = dim // m
    check_driver_collect_budget(
        sample_size, dim, "opq_train sample", max_driver_elements
    )
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.col(id_col))
        .limit(int(sample_size))
        .collect()
    )
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    R = np.eye(dim)
    books = None
    for _ in range(iterations):
        Xr = X @ R.T
        books = _np_pq_train(Xr, m, dsub, k, pq_iterations)
        Y = _np_pq_reconstruct(Xr, books, m, dsub)
        # orthogonal Procrustes: min_{Q^T Q = I} ||X Q - Y||_F with
        # Q = R^T  ->  Q = U V^T from SVD(X^T Y)
        U, _s, Vt = np.linalg.svd(X.T @ Y)
        R = (U @ Vt).T
    spark = corpus.sparkSession
    cb_rows = [
        (j, int(c), [float(v) for v in books[j, c]])
        for j in range(m)
        for c in range(books.shape[1])
    ]
    codebooks = values_df(  # zero-task VALUES literal
        spark, cb_rows, "sub int, code long, sv array<double>"
    )
    return [[float(v) for v in row] for row in R], codebooks


def _maybe_rotate_query(query_vector, rotation):
    if rotation is None:
        return query_vector
    import numpy as np

    return [
        float(v)
        for v in np.asarray(rotation, dtype=np.float64)
        @ np.asarray(query_vector, dtype=np.float64)
    ]


def residual_table(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
    out_col: str = "rvec",
) -> DataFrame:
    """(id, cell, rvec): each vector's coarse cell plus its RESIDUAL
    ``x - centroid[cell]`` — the training input for residual codebooks
    (feed :func:`pq_train` with ``vec_col=out_col``) and the encoding
    input of FAISS-style IVFADC. Cell assignment is
    ``similarity.assign_ivf_cells_vectorized`` (THE assignment contract —
    max rounded cosine, ties to the lowest id), so residuals can never
    disagree with the cells the index probes. Subtraction is a JVM
    ``zip_with`` — no extra Python crossing beyond the assignment pass."""
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    assigned = assign_ivf_cells_vectorized(
        corpus.select(id_col, vec_col), centroids,
        vec_col=vec_col, centroid_id=centroid_id,
        centroid_vec=centroid_vec, id_col=id_col,
    )
    cent = broadcast(
        centroids.select(
            F.col(centroid_id).alias("cell"),
            to_double_array(F.col(centroid_vec)).alias("__cv"),
        )
    )
    return (
        assigned.join(cent, "cell")
        .select(
            id_col,
            "cell",
            F.zip_with(
                to_double_array(F.col(vec_col)),
                F.col("__cv"),
                lambda x, c: x - c,
            ).alias(out_col),
        )
    )


def pq_encode_residual_vectorized(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
    rotation: list | None = None,
) -> DataFrame:
    """(id, cell, pq_codes) with RESIDUAL encoding (Jegou et al. 2011 §IV /
    FAISS IVFADC): codes quantize ``x - centroid[cell]``, not ``x``.
    Residual magnitudes are a cluster radius instead of a corpus diameter,
    so the same m x k codebook budget spends its codewords on local
    structure — the recall gap vs direct encoding is pinned by
    tests/test_pq.py's A/B. ``codebooks`` must be trained on residuals
    (:func:`residual_table` -> :func:`pq_train`). Same shuffle shape as
    the direct form: assignment + encode are narrow Arrow passes; the
    output carries codes and a cell key, never vectors."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    dsub = dim // m
    books = _collect_books(codebooks, m, dsub)
    cmap = {
        r[centroid_id]: np.asarray(r[centroid_vec], dtype=np.float64)
        for r in centroids.select(centroid_id, centroid_vec).collect()
    }
    assigned = assign_ivf_cells_vectorized(
        corpus.select(id_col, vec_col), centroids,
        vec_col=vec_col, centroid_id=centroid_id,
        centroid_vec=centroid_vec, id_col=id_col,
    )
    out_schema = StructType(
        [
            StructField(id_col, corpus.schema[id_col].dataType),
            StructField("cell", centroids.schema[centroid_id].dataType),
            StructField("pq_codes", ArrayType(LongType())),
        ]
    )

    rot = (
        np.asarray(rotation, dtype=np.float64) if rotation is not None
        else None
    )

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cents = np.stack([cmap[c] for c in pdf["cell"]])
            r = x - cents
            if rot is not None:
                r = r @ rot.T
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for j in range(m):
                xs = r[:, j * dsub : (j + 1) * dsub]
                cb = books[j]
                d = (
                    (xs * xs).sum(axis=1)[:, None]
                    - 2.0 * (xs @ cb.T)
                    + (cb * cb).sum(axis=1)[None, :]
                )
                codes[:, j] = np.argmin(np.round(d, 6), axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": pdf["cell"],
                    "pq_codes": list(codes),
                }
            )

    return assigned.mapInPandas(encode, schema=out_schema)


def _collect_books(codebooks: DataFrame, m: int, dsub: int):
    import numpy as np

    rows = codebooks.select("sub", "code", "sv").collect()
    k_per_sub = max(r["code"] for r in rows) + 1
    books = np.zeros((m, k_per_sub, dsub), dtype=np.float64)
    for r in rows:
        books[r["sub"], r["code"]] = r["sv"]
    return books


def pq_adc_topk_codes_residual(
    encoded_with_cells: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    query_vector: list[float],
    k: int,
    n_probe: int = 2,
    *,
    # m/dim are REQUIRED (like every sibling scorer): defaults here let a
    # caller decode an index built with different parameters — a shape
    # error at best, silently wrong distances at worst (wrong dim changes
    # the query's dsub slicing but can still score). query_ivfpq_index
    # passes them from the index's _meta.json.
    m: int,
    dim: int,
    id_col: str = "vec_id",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
    rotation: list | None = None,
) -> DataFrame:
    """Residual-ADC top-k: probe the ``n_probe`` nearest cells (the shared
    :func:`similarity.nearest_cells` contract), build ONE lookup table per
    probed cell from ``query - centroid[cell]`` (n_probe x m x k floats,
    driver-side), prune the scan to the probed cells, and score each row
    against ITS cell's table — ``|q - c - r|^2`` summed per subspace.
    Zero shuffle beyond the pruned scan; the global top-k is a TakeOrdered
    merge, same as the direct-ADC path."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from vectordb_data_ingestion_spark.operators.similarity import (
        nearest_cells,
    )

    dsub = dim // m
    books = _collect_books(codebooks, m, dsub)
    cmap = {
        r[centroid_id]: np.asarray(r[centroid_vec], dtype=np.float64)
        for r in centroids.select(centroid_id, centroid_vec).collect()
    }
    probe = nearest_cells(
        centroids, query_vector, n_probe,
        centroid_vec=centroid_vec, centroid_id=centroid_id,
    )
    q = np.asarray(query_vector, dtype=np.float64)
    rot = (
        np.asarray(rotation, dtype=np.float64) if rotation is not None
        else None
    )
    luts = {}
    for cell in probe:
        # OPQ composition: the stored codes quantize R(x - c), so the
        # per-cell table is built from R(q - c) — probing stays in the
        # ORIGINAL space (cosine is rotation-invariant)
        qr = q - cmap[cell]
        if rot is not None:
            qr = rot @ qr
        lut = np.zeros((m, books.shape[1]), dtype=np.float64)
        for j in range(m):
            qs = qr[j * dsub : (j + 1) * dsub]
            cb = books[j]
            lut[j] = np.round(
                (qs @ qs) - 2.0 * (cb @ qs) + (cb * cb).sum(axis=1), 6
            )
        luts[cell] = lut
    pruned = encoded_with_cells.filter(F.col("cell").isin(probe))
    out_schema = StructType(
        [
            StructField(
                id_col, encoded_with_cells.schema[id_col].dataType
            ),
            StructField("adc", DoubleType()),
        ]
    )
    subs_idx = np.arange(m)

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.stack(pdf["pq_codes"].to_numpy()).astype(np.int64)
            lut3 = np.stack([luts[c] for c in pdf["cell"]])
            adc = np.round(
                lut3[np.arange(len(pdf))[:, None], subs_idx[None, :], codes]
                .sum(axis=1),
                6,
            )
            yield pd.DataFrame({id_col: pdf[id_col], "adc": adc})

    scored = pruned.mapInPandas(score, schema=out_schema)
    return scored.orderBy(F.asc("adc"), F.asc(id_col)).limit(k)


def ivfpq_topk(
    encoded_with_cells: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    query_vector: list[float],
    k: int,
    n_probe: int = 2,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    centroid_vec: str = "c_embedding",
    centroid_id: str = "c_id",
) -> DataFrame:
    """IVF+PQ composition in DIRECT-encoding form (codes quantize the raw
    vectors). The full FAISS IVFADC residual form lives alongside:
    :func:`pq_encode_residual_vectorized` + :func:`pq_adc_topk_codes_residual`
    (and ``vector_index.build_ivfpq_index(residual=True)``) — measured
    recall@10 0.44 vs 0.12 at the same m x k budget on clustered data
    (tests/test_pq.py A/B). Direct stays the default here because the
    registered oracle mirrors it. The probe path: the
    coarse quantizer picks the ``n_probe`` cells nearest the query (max
    rounded cosine - our IVF convention), the scan is pruned to those
    cells (a plain equality predicate -> file pruning on a
    cell-partitioned layout), and ADC scores only the probed rows' packed
    codes. Input rows carry (id, cell, pq_codes) - the index layout a
    100 TB deployment stores: 1 byte/subspace + a cell key per vector.
    """
    from vectordb_data_ingestion_spark.operators.similarity import (
        nearest_cells,
    )

    probe_cells = nearest_cells(
        centroids, query_vector, n_probe,
        centroid_vec=centroid_vec, centroid_id=centroid_id,
    )
    pruned = encoded_with_cells.filter(F.col("cell").isin(probe_cells))
    return pq_adc_topk_codes(
        pruned, codebooks, query_vector, k, m=m, dim=dim, id_col=id_col
    )
