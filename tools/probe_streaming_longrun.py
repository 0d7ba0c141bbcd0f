"""Long-lived streaming admission probe (VERDICT r8 item 6): push the
batch-count axis past 100 micro-batches WITH the compaction cadence on,
and confirm per-batch cost stays flat apart from the designed linear
data term.

The r6 probe (tools/probe_streaming_state.py) measured the two growth
axes separately at 10x (data: 1.08x/decade; FILE count: the real cliff,
2.5x at 100 partition dirs) and shipped `compact_near_dup_index` as the
reset. What it could NOT show is the long-run composition: a stream that
keeps admitting forever, folding its index on a maintenance cadence —
does per-batch cost stay bounded by the (flat) data term, or does
something compound?

Method: N micro-batches of B docs each (half fresh, half near-copies of
already-admitted docs so candidate verification really runs) through
``near_dup_batch_fn``'s run_batch, with ``compact_near_dup_index`` every
``cadence`` batches in the "on" mode and never in the "off" mode.
Deterministic content (md5-derived words). Per-batch wall time is
recorded; the summary compares the median of an EARLY window vs a LATE
window at comparable admitted-corpus size per mode, plus the bands
table's segment count at the end (each micro-batch appends one segment
to the index's manifest tables). Expected shape: "off" compounds with
batch count (the small-files cliff); "on" tracks admitted volume only
(early->late growth ~ the data term), segments bounded by the cadence.

Usage: python tools/probe_streaming_longrun.py [n_batches] [batch_docs]
       (defaults 110, 200; ~6-8 min on local[8])
Writes one JSON line per mode; findings go to BENCH_NOTES.md / SCALE.md.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def words_for(doc: int, n: int = 30) -> str:
    out = []
    for w in range(n):
        out.append(hashlib.md5(f"{doc}:{w}".encode()).hexdigest()[:8])
    return " ".join(out)


def near_copy(doc: int) -> str:
    base = words_for(doc).split()
    base[0] = hashlib.md5(f"mut:{doc}".encode()).hexdigest()[:8]
    return " ".join(base)


def run_mode(spark, mode: str, n_batches: int, batch_docs: int,
             cadence: int = 10) -> dict:
    from vectordb_data_ingestion_spark.sinks.manifest_sink import (
        ManifestVectorSink,
    )
    from vectordb_data_ingestion_spark.streaming.incremental import (
        compact_near_dup_index,
        near_dup_batch_fn,
    )

    root = tempfile.mkdtemp(prefix=f"longrun_{mode}_")
    index_dir = os.path.join(root, "index")
    out_dir = os.path.join(root, "out")
    run_batch = near_dup_batch_fn(index_dir, out_dir)
    times = []
    fresh_base = 0
    try:
        for b in range(n_batches):
            half = batch_docs // 2
            rows = [
                (f"d{fresh_base + i}", words_for(fresh_base + i))
                for i in range(half)
            ]
            # near-copies of docs admitted ~10 batches ago (or fresh-dup
            # in the warmup) so the verify path always has candidates
            ref = max(0, fresh_base - 10 * half)
            rows += [
                (f"n{b}-{i}", near_copy(ref + i)) for i in range(half)
            ]
            fresh_base += half
            df = spark.createDataFrame(rows, "doc_id string, text string")
            t0 = time.perf_counter()
            run_batch(df, b)
            times.append(time.perf_counter() - t0)
            if mode == "on" and b and b % cadence == 0:
                compact_near_dup_index(spark, index_dir)
        manifest, _ = ManifestVectorSink(
            spark, os.path.join(index_dir, "bands"), partition_col=None
        )._get_manifest()
        segments = len(manifest["segments"])
    finally:
        shutil.rmtree(root, ignore_errors=True)

    def med(xs):
        s = sorted(xs)
        return round(s[len(s) // 2], 3)

    early = times[10:30]
    late = times[-20:]
    return {
        "probe": "streaming_longrun",
        "mode": mode,
        "n_batches": n_batches,
        "batch_docs": batch_docs,
        "cadence": cadence if mode == "on" else None,
        "early_batch_p50_s": med(early),
        "late_batch_p50_s": med(late),
        "late_over_early": round(med(late) / med(early), 2),
        "end_segments": segments,
        "total_s": round(sum(times), 1),
    }


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 110
    batch_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 200

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for mode in ("on", "off"):
        print(json.dumps(run_mode(spark, mode, n_batches, batch_docs)),
              flush=True)


if __name__ == "__main__":
    main()
