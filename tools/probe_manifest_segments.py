"""Manifest-sink segment-growth probe — the read-cost axis the delete
probe doesn't measure: every mutation appends a segment (the commit-log
analogue of the streaming index's batch-count small-files growth,
tools/probe_streaming_state.py). This measures read latency and Spark
jobs per read at growing segment counts, and the reset `maybe_compact`
buys, for two layouts:

- ``buckets_16``: a 16-bucket layout, read as one pinned scan branch per
  segment — each segment adds a branch to every read;
- ``buckets_0``: no partition or bucket column, read as ONE pinned file
  scan over every segment dir — the overhead should stay flat.

Method: K micro-batch upserts (data volume grows WITH the axis — each
batch appends rows, as a real refresh does), read-noop timed at
checkpoints, then compacted and re-timed. The controlled segment-count
comparison is the LAST pair: read at K segments vs read after compaction
— same rows, same bytes, 1 segment — so `segment_overhead_at_max` isolates
the per-segment cost from data growth. `jobs_per_read` counts the Spark
jobs building the read's DataFrame launches (footer inference), before
any row moves.

Writes one JSON line; findings go to BENCH_NOTES.md / SCALE.md.

Usage: python tools/probe_manifest_segments.py [rows_per_batch] [batches]
       [--tiered-only]
       (defaults 20000, 64; --tiered-only skips the growth-curve phase)
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


def batch_df(spark, start: int, n: int):
    return spark.range(start, start + n).select(
        F.concat(F.lit("c"), F.col("id")).alias("chunk_id"),
        F.concat(F.lit("payload "), F.col("id")).alias("text"),
    )


def timed_read(sink, runs: int = 3) -> float:
    times = []
    for _ in range(runs):
        t0 = time.monotonic()
        sink.read().write.format("noop").mode("overwrite").save()
        times.append(time.monotonic() - t0)
    times.sort()
    return round(times[len(times) // 2], 3)


def jobs_per_read(spark, sink) -> int:
    """Spark jobs launched while building ``sink.read()`` (no rows
    move): the per-segment footer-inference cost of a read."""
    sc = spark.sparkContext
    group = f"probe-read-{time.monotonic_ns()}"
    sc.setJobGroup(group, "read plan")
    try:
        sink.read()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def growth_curve(spark, path: str, per_batch: int, batches: int,
                 n_buckets: int) -> dict:
    sink = ManifestVectorSink(
        spark, path, partition_col=None,
        key_col="chunk_id" if n_buckets else None, n_buckets=n_buckets,
    )
    curve: dict[str, float] = {}
    jobs: dict[str, int] = {}
    checkpoints = {1, 4, 16, batches}
    for i in range(batches):
        sink.upsert(batch_df(spark, i * per_batch, per_batch))
        if (i + 1) in checkpoints:
            key = f"read_at_{i + 1}_segments"
            curve[key] = timed_read(sink)
            jobs[key] = jobs_per_read(spark, sink)
            print(
                f"buckets={n_buckets} {i + 1} segments: read "
                f"{curve[key]} s, {jobs[key]} jobs",
                flush=True,
            )
    merged = sink.maybe_compact(max_segments=8)
    curve["read_after_compact"] = timed_read(sink)
    jobs["read_after_compact"] = jobs_per_read(spark, sink)
    print(
        f"buckets={n_buckets} compacted {merged} segments: read "
        f"{curve['read_after_compact']} s, "
        f"{jobs['read_after_compact']} jobs",
        flush=True,
    )
    last = curve[f"read_at_{batches}_segments"]
    return {
        "curve": curve,
        "jobs_per_read": jobs,
        # data grew ~`batches`x along this axis too — NOT a pure
        # segment-overhead number
        "read_growth_with_data_and_segments": round(
            last / curve["read_at_1_segments"], 2
        ),
        # same data, 1 segment vs `batches` segments: the isolated
        # per-segment overhead maybe_compact resets
        "segment_overhead_at_max": round(
            last / curve["read_after_compact"], 2
        ),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    tiered_only = "--tiered-only" in sys.argv[1:]
    per_batch = int(args[0]) if args else 20_000
    batches = int(args[1]) if len(args) > 1 else 64
    spark = get_spark(app_name="probe-manifest-segments")
    root = tempfile.mkdtemp(prefix="manifest_seg_probe_")
    arms: dict[str, dict] = {}
    try:
        if not tiered_only:
            for n_buckets in (16, 0):
                arms[f"buckets_{n_buckets}"] = growth_curve(
                    spark, f"{root}/sink_{n_buckets}", per_batch, batches,
                    n_buckets,
                )
        # ------------------------------------------------------------------
        # phase 2 (r8): size-tiered compaction cost is bounded by the
        # SMALL-segment mass, not the sink size — the shape a 100 TB sink
        # ages into: one big compacted segment + a tail of small refresh
        # segments. compact_small must cost ~what rewriting the tail
        # costs, while the full compact() rewrite scales with the whole
        # sink; read overhead after the tiered fold stays at the
        # single-segment baseline (<= the measured 1.4x threshold).
        tiered: dict[str, float] = {}
        big_rows = per_batch * batches  # same total as phase 1's end state
        small_batches = 16
        small_rows = max(per_batch // 100, 100)
        sink2 = ManifestVectorSink(
            spark, f"{root}/tiered", partition_col=None,
            key_col="chunk_id", n_buckets=16,
        )
        sink2.upsert(batch_df(spark, 0, big_rows))
        sink2.compact()  # one big base segment
        for i in range(small_batches):
            sink2.upsert(
                batch_df(spark, big_rows + i * small_rows, small_rows)
            )
        manifest, _ = sink2._get_manifest()
        sizes = [sink2._segment_bytes(s) for s in manifest["segments"]]
        total_bytes = sum(sizes)
        small_bytes = sum(s for s in sizes if s < max(sizes))
        tiered["read_before"] = timed_read(sink2)
        t0 = time.monotonic()
        # threshold derived from the observed tier gap (a deployment sets
        # it to its target file size, e.g. 128 MB)
        merged_small = sink2.maybe_compact(
            max_segments=8, small_bytes=max(sizes) // 2
        )
        tiered["compact_small_secs"] = round(time.monotonic() - t0, 3)
        tiered["read_after_tiered"] = timed_read(sink2)
        manifest, _ = sink2._get_manifest()
        tiered["segments_after_tiered"] = len(manifest["segments"])
        t0 = time.monotonic()
        merged_full = sink2.compact()  # the rewrite compact_small avoids
        tiered["full_compact_secs"] = round(time.monotonic() - t0, 3)

        print(json.dumps({
            "metric": "manifest_segment_growth_probe",
            "rows_per_batch": per_batch,
            "batches": batches,
            "unit": "sec",
            "arms": arms,
            "tiered": {
                **tiered,
                "small_batches": small_batches,
                "merged_small": merged_small,
                "merged_full": merged_full,
                "small_bytes_share": round(small_bytes / total_bytes, 4),
                # the headline: tiered maintenance cost vs the full
                # rewrite on the same sink state
                "tiered_vs_full_cost": round(
                    tiered["compact_small_secs"]
                    / tiered["full_compact_secs"], 3
                ),
                "read_overhead_before_vs_after": round(
                    tiered["read_before"] / tiered["read_after_tiered"], 2
                ),
            },
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
