"""Sink predicate-delete growth probe — the incremental-refresh scale
question the corpus probes never ask: as the SINK grows, what does one
micro-batch's delete-then-insert cost?

The unbucketed ``ManifestVectorSink.delete_where_df`` (``n_buckets=0``)
reads and rewrites every visible segment per delete — per-batch cost
proportional to sink size (fine for a catalog-sized KB, a non-starter at
100 TB). The bucketed layout (``key_col=... , n_buckets=N``) prunes the
rewrite to the ``pbucket`` files the batch's keys hash into, bounding the
touched fraction by the batch's own key count; untouched buckets carry
over into the new manifest by reference.

This probe times ONE fixed delete batch (20 keys — a refresh
micro-batch's typical changed-document count, the reference's E2 shape)
against the same row count stored both ways, at 1x and 10x sink sizes:

  unbucketed 1x -> 10x : whole-sink rewrite — cost grows with the sink
  bucketed   1x -> 10x : 20 keys touch <= 20 of N buckets, so at most
                         20/N of the sink is rewritten; growth carries a
                         ~N/20x smaller constant

A first cut used 500 keys against 64 buckets — which touches EVERY
bucket (coupon-collector), so the bucketed path rewrote the whole sink
anyway and only added per-bucket overhead; the probe was measuring a
workload bucketing cannot help BY CONSTRUCTION. Key count << bucket
count is the shape the layout exists for.

Rows are (chunk_id, text, vector<8>) — the reference's chunk-table shape.
Deterministic ids; no randomness. Writes one JSON line; findings go to
BENCH_NOTES.md / SCALE.md.

Usage: python tools/probe_sink_delete.py [base_rows] [n_buckets] [dim]
       (defaults 1000000, 256, 256)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from vectordb_data_ingestion_spark.session import get_spark  # noqa: E402
from vectordb_data_ingestion_spark.sinks.manifest_sink import (  # noqa: E402
    ManifestVectorSink,
)


def synth_chunks(spark, n: int, dim: int = 8):
    return spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("chunk_id"),
        F.concat(F.lit("chunk text payload "), F.col("id")).alias("text"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: ((F.col("id") % 97) * (j + 1)).cast("float"),
        ).alias("vector"),
    )


def time_delete(spark, sink, rows: int, dim: int, runs: int = 2) -> float:
    """Median seconds for one 20-key delete (keys re-inserted between
    runs so every run deletes the same live keys)."""
    keys = [f"c{i * (rows // 20)}" for i in range(20)]
    key_df = spark.createDataFrame([(k,) for k in keys], ["chunk_id"])
    victims = synth_chunks(spark, rows, dim).join(
        F.broadcast(key_df), "chunk_id"
    ).localCheckpoint()
    times = []
    for _ in range(runs):
        t0 = time.monotonic()
        sink.delete_where_df("chunk_id", key_df)
        times.append(time.monotonic() - t0)
        sink.upsert(victims)  # restore for the next run
    times.sort()
    return times[len(times) // 2]


def main() -> None:
    base_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    dim = int(sys.argv[3]) if len(sys.argv) > 3 else 256  # ada-class payload: the
    # rewrite cost a refresh actually pays is dominated by vector bytes
    spark = get_spark(app_name="probe-sink-delete")
    root = tempfile.mkdtemp(prefix="sink_delete_probe_")
    results: dict[str, float] = {}
    try:
        for mult in (1, 10):
            rows = base_rows * mult
            data = synth_chunks(spark, rows, dim)
            flat = ManifestVectorSink(
                spark, f"{root}/flat_x{mult}", partition_col=None
            )
            flat.upsert(data)
            results[f"unbucketed_x{mult}"] = round(
                time_delete(spark, flat, rows, dim), 3
            )
            bk = ManifestVectorSink(
                spark,
                f"{root}/bk_x{mult}",
                partition_col=None,
                key_col="chunk_id",
                n_buckets=n_buckets,
            )
            bk.upsert(data)
            results[f"bucketed_x{mult}"] = round(
                time_delete(spark, bk, rows, dim), 3
            )
            print(
                f"x{mult}: unbucketed {results[f'unbucketed_x{mult}']} s, "
                f"bucketed {results[f'bucketed_x{mult}']} s",
                flush=True,
            )
        print(json.dumps({
            "metric": "sink_delete_probe",
            "base_rows": base_rows,
            "n_buckets": n_buckets,
            "dim": dim,
            "unit": "sec",
            "times": results,
            "unbucketed_growth": round(
                results["unbucketed_x10"] / results["unbucketed_x1"], 2
            ),
            "bucketed_growth": round(
                results["bucketed_x10"] / results["bucketed_x1"], 2
            ),
            "bucketed_speedup_at_10x": round(
                results["unbucketed_x10"] / results["bucketed_x10"], 2
            ),
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
