"""Persisted IVF+PQ vector index: build once, query many.

The per-query paths (``pq.ivfpq_topk``) rebuild assignments and codes from
the raw embeddings each run — right for tests, wrong for a deployment. A
100 TB corpus builds its index ONCE and stores three tables, exactly like
the materialized BM25 inverted index (``search.build_bm25_index``):

- ``centroids/``  (c_id, c_embedding)            — k rows, broadcastable
- ``codebooks/``  (sub, code, sv)                — m*k rows, broadcastable
- ``codes/``      (vec_id, pq_codes) PARTITIONED BY cell — 1 byte/subspace
  per vector plus the cell key; the ONLY corpus-scale table, and the only
  one that grows after the build: a ``ManifestVectorSink`` table whose
  streaming appends (:func:`foreach_batch_index_append`) and compactions
  each commit by one manifest CAS

Partitioning ``codes/`` by cell (the sink's partition column) makes the
coarse-quantizer pruning a *partition filter*: probing ``n_probe`` of
``k`` cells reads ``n_probe/k`` of the index files — the scan never
touches unprobed cells' bytes (asserted in tests/test_pq.py). Queries
answer from the index alone; the raw vectors are never read again.

Build protocol: ``_meta.json`` first, ``_INDEX_SUCCESS`` last, so a build
that died in between refuses to load or accept appends. An index whose
``codes/`` has no manifest (any layout written before ``codes/`` became a
manifest table) refuses the same way: rebuild it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_data_ingestion_spark.sinks.manifest_sink import ManifestVectorSink


@dataclass
class IvfPqIndex:
    centroids: DataFrame
    codebooks: DataFrame
    codes: DataFrame  # (vec_id, pq_codes, cell) — cell is the partition key
    m: int
    dim: int
    residual: bool = False  # codes quantize x - centroid[cell] (IVFADC)
    rotation: list | None = None  # OPQ rotation the codes were built under


def build_ivfpq_index(
    emb: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    out_dir: str,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
    residual: bool = False,
    rotation: list | None = None,
) -> None:
    """One corpus pass: assign each vector's coarse cell (broadcast
    centroids, vectorized matmul) and its PQ codes (broadcast codebooks,
    matmul+argmin per Arrow batch), then write ``codes/`` partitioned by
    cell. Centroids and codebooks persist alongside so queries need ONLY
    ``out_dir``.

    ``residual=True`` stores FAISS-IVFADC codes (quantize
    ``x - centroid[cell]``; pass codebooks TRAINED on residuals —
    ``pq.residual_table`` -> ``pq.pq_train``) and records the mode in
    ``_meta.json`` so :func:`load_ivfpq_index` routes queries to the
    residual scorer automatically — an index can never be silently read
    under the wrong decoding."""
    import json
    import shutil

    from vectordb_data_ingestion_spark.operators.pq import (
        pq_encode_residual_vectorized,
        pq_encode_vectorized,
    )
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    if residual:
        codes = pq_encode_residual_vectorized(
            emb, centroids, codebooks, m, dim, vec_col=vec_col,
            id_col=id_col, centroid_id=centroid_id,
            centroid_vec=centroid_vec, rotation=rotation,
        )
    elif rotation is not None:
        raise ValueError(
            "rotation requires residual=True here: the direct encoder "
            "would need rotated CENTROID pruning too — compose OPQ with "
            "the residual (IVFADC) form, where probing stays in the "
            "original space"
        )
    else:
        assigned = assign_ivf_cells_vectorized(
            emb, centroids, vec_col=vec_col, centroid_id=centroid_id,
            centroid_vec=centroid_vec, id_col=id_col,
        )
        encoded = pq_encode_vectorized(
            emb, codebooks, m, dim, vec_col=vec_col, id_col=id_col
        )
        codes = encoded.join(assigned.select(id_col, "cell"), id_col)
    # mode metadata lands BEFORE any data: a crash after codes/centroids/
    # codebooks but before a trailing meta write used to leave a
    # residual-encoded index that loaded as direct and decoded under the
    # wrong scheme silently. Meta-first plus a final completion marker
    # makes every partial build fail LOUDLY at load time instead.
    os.makedirs(out_dir, exist_ok=True)
    success_marker = os.path.join(out_dir, "_INDEX_SUCCESS")
    if os.path.exists(success_marker):
        os.remove(success_marker)  # a rebuild in place is incomplete again
    with open(os.path.join(out_dir, "_meta.json"), "w") as fh:
        json.dump(
            {
                "protocol": 2,  # meta first, _INDEX_SUCCESS last
                "residual": bool(residual),
                "m": m,
                "dim": dim,
                "rotation": rotation,
            },
            fh,
        )
        fh.flush()
        os.fsync(fh.fileno())
    # a rebuild replaces the codes table wholesale (the old one is
    # unreachable anyway until the new marker lands)
    shutil.rmtree(os.path.join(out_dir, "codes"), ignore_errors=True)
    _codes_table(codes.sparkSession, out_dir).upsert(codes)
    centroids.write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )
    codebooks.write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebooks")
    )
    with open(success_marker, "w") as fh:
        fh.write("complete\n")


def _codes_table(spark: SparkSession, out_dir: str) -> ManifestVectorSink:
    """The index's ``codes/`` table: a manifest sink partitioned by cell."""
    return ManifestVectorSink(
        spark, os.path.join(out_dir, "codes"), partition_col="cell"
    )


def _open_index(
    spark: SparkSession, out_dir: str, action: str
) -> tuple[ManifestVectorSink, dict]:
    """The completion gate every reader and appender passes: ``codes/``
    must be a manifest table (older layouts are refused — rebuild), and
    the build must have reached ``_INDEX_SUCCESS`` (it writes
    ``_meta.json`` first and the marker last, so a meta without the
    marker is a build that died mid-write — never serve partial codes).
    Returns the codes table and the parsed meta."""
    import json

    codes = _codes_table(spark, out_dir)
    if codes.current_commit_id() is None:
        raise RuntimeError(
            f"ivfpq index at {out_dir} has no codes manifest: it was built "
            "before codes/ became a manifest table (or its build never "
            "reached the codes write) — rebuild the index with "
            f"build_ivfpq_index (it must not {action})"
        )
    if not os.path.exists(os.path.join(out_dir, "_INDEX_SUCCESS")):
        raise RuntimeError(
            f"ivfpq index at {out_dir} has no _INDEX_SUCCESS marker: the "
            "build crashed before completing — rebuild the index (a "
            f"partial index must not {action})"
        )
    with open(os.path.join(out_dir, "_meta.json")) as fh:
        return codes, json.load(fh)


def load_ivfpq_index(
    spark: SparkSession, out_dir: str, m: int = 8, dim: int = 64
) -> IvfPqIndex:
    codes, meta = _open_index(spark, out_dir, "serve queries")
    return IvfPqIndex(
        centroids=spark.read.parquet(os.path.join(out_dir, "centroids")),
        codebooks=spark.read.parquet(os.path.join(out_dir, "codebooks")),
        codes=codes.read(),
        m=int(meta.get("m", m)),
        dim=int(meta.get("dim", dim)),
        residual=bool(meta.get("residual", False)),
        rotation=meta.get("rotation"),
    )


def query_ivfpq_index(
    index: IvfPqIndex,
    query_vector: list[float],
    k: int,
    n_probe: int = 2,
    id_col: str = "vec_id",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
) -> DataFrame:
    """Answer a query from the stored index: pick the ``n_probe`` nearest
    centroids (tiny driver-side sort), prune ``codes/`` with a cell
    partition filter, ADC-score only the probed rows. Bit-identical to the
    rebuild-every-time ``pq.ivfpq_topk`` (parity-tested). A residual index
    (``_meta.json``) routes to the per-cell-LUT residual scorer instead —
    same probe contract, same pruning."""
    from vectordb_data_ingestion_spark.functions.vectors import (
        cosine_similarity,
        to_double_array,
    )
    from vectordb_data_ingestion_spark.operators.pq import (
        pq_adc_topk_codes,
        pq_adc_topk_codes_residual,
    )

    if index.residual:
        return pq_adc_topk_codes_residual(
            index.codes,
            index.codebooks,
            index.centroids,
            query_vector,
            k,
            n_probe=n_probe,
            m=index.m,
            dim=index.dim,
            id_col=id_col,
            centroid_id=centroid_id,
            centroid_vec=centroid_vec,
            rotation=index.rotation,
        )

    qv = F.array(*[F.lit(float(x)) for x in query_vector])
    probe_cells = [
        r[0]
        for r in index.centroids.select(
            F.col(centroid_id),
            F.round(
                cosine_similarity(to_double_array(F.col(centroid_vec)), qv), 6
            ).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc(centroid_id))
        .limit(n_probe)
        .collect()
    ]
    pruned = index.codes.filter(F.col("cell").isin(probe_cells))
    return pq_adc_topk_codes(
        pruned,
        index.codebooks,
        query_vector,
        k,
        m=index.m,
        dim=index.dim,
        id_col=id_col,
    )


def foreach_batch_index_append(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint: str,
    m: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "c_id",
    centroid_vec: str = "c_embedding",
):
    """Incremental index maintenance (the vector-side sibling of the BM25
    postings refresh): each micro-batch of new vectors is assigned its
    coarse cell and PQ-encoded against the STORED centroids/codebooks, and
    the rows append to the cell-partitioned ``codes/`` table as one
    manifest commit. The coarse quantizer and codebooks are frozen at
    build time — standard IVF practice (re-train offline when drift
    accumulates and rebuild with :func:`build_ivfpq_index`). Queries see
    new vectors immediately: the index tables are the single source of
    truth, no rebuild, no state in executor memory.

    ``foreachBatch`` is at-least-once: each append carries
    ``(writer, batch_id)`` into the codes manifest, so a replayed batch
    commits nothing — the writer is fixed per index, so a stream restarted
    from a NEW checkpoint (batch ids from 0 again) needs a fresh index."""
    from vectordb_data_ingestion_spark.operators.pq import pq_encode_vectorized
    from vectordb_data_ingestion_spark.operators.similarity import (
        assign_ivf_cells_vectorized,
    )

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # same completion gate as load_ivfpq_index: never append into a
        # build that died between its meta write and its data writes
        codes_tbl, meta = _open_index(spark, out_dir, "accept appends")
        centroids = spark.read.parquet(os.path.join(out_dir, "centroids"))
        codebooks = spark.read.parquet(os.path.join(out_dir, "codebooks"))
        # appends MUST match the stored encoding: direct-encoded rows
        # appended to a residual index (or vice versa) would silently
        # corrupt every query that touches their cells
        if meta.get("residual", False):
            from vectordb_data_ingestion_spark.operators.pq import (
                pq_encode_residual_vectorized,
            )

            codes = pq_encode_residual_vectorized(
                batch_df, centroids, codebooks, m, dim, vec_col=vec_col,
                id_col=id_col, centroid_id=centroid_id,
                centroid_vec=centroid_vec, rotation=meta.get("rotation"),
            )
        else:
            assigned = assign_ivf_cells_vectorized(
                batch_df, centroids, vec_col=vec_col,
                centroid_id=centroid_id,
                centroid_vec=centroid_vec, id_col=id_col,
            )
            encoded = pq_encode_vectorized(
                batch_df, codebooks, m, dim, vec_col=vec_col, id_col=id_col
            )
            codes = encoded.join(assigned.select(id_col, "cell"), id_col)
        codes_tbl.upsert(
            codes, txn=("foreach_batch_index_append", int(batch_id))
        )

    return (
        stream_df.writeStream.foreachBatch(run_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def calibrate_n_probe(
    index: IvfPqIndex,
    emb: DataFrame,
    query_vectors: list[list[float]],
    k: int = 10,
    target_recall: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = 20,
) -> dict:
    """Pick the minimal ``n_probe`` whose mean recall@k against EXACT
    search hits ``target_recall`` — the ANN-path analogue of the
    reference's declarative quality knob (``top_by_certainty``,
    cfg.toml:48): the operator states the quality target, the engine
    derives the probe budget.

    Method (standard IVF practice): on a small calibration sample of
    queries, compute exact cosine truth with :func:`brute_force_topk`
    (driver-sized: ``max_queries x k`` ids), then walk ``n_probe`` up a
    doubling ladder, measuring mean recall from the stored index at each
    level. Recall@k is monotone in n_probe (probing more cells only adds
    candidates), so the first level that meets the target is the minimum
    on the ladder. Calibration cost is ``O(sample x ladder)`` small jobs —
    a maintenance operation, never in the query hot path.

    Returns ``{"n_probe": int, "recall": float, "measured": {n: recall}}``;
    if even a full probe misses the target (quantization error, not cell
    pruning, is then the limiter — raise m or switch to residual/OPQ
    encoding), returns the full-probe level with its measured recall.
    """
    from vectordb_data_ingestion_spark.operators.similarity import (
        brute_force_topk,
    )

    queries = [list(map(float, q)) for q in query_vectors[:max_queries]]
    if not queries:
        raise ValueError("calibrate_n_probe needs at least one query vector")
    truth = [
        {r[id_col] for r in brute_force_topk(
            emb, q, k, vec_col=vec_col, id_col=id_col
        ).collect()}
        for q in queries
    ]

    n_cells = index.centroids.count()
    ladder: list[int] = []
    n = 1
    while n < n_cells:
        ladder.append(n)
        n *= 2
    ladder.append(int(n_cells))

    measured: dict[int, float] = {}
    for n_probe in ladder:
        hits = total = 0
        for q, t in zip(queries, truth):
            got = {
                r[id_col]
                for r in query_ivfpq_index(
                    index, q, k, n_probe=n_probe, id_col=id_col
                ).collect()
            }
            hits += len(got & t)
            total += len(t)
        recall = hits / total if total else 0.0
        measured[n_probe] = round(recall, 4)
        if recall >= target_recall:
            return {"n_probe": n_probe, "recall": measured[n_probe],
                    "measured": measured}
    return {"n_probe": ladder[-1], "recall": measured[ladder[-1]],
            "measured": measured}
