"""Streaming state-growth probe — fills the probe matrix's last
unmeasured row (SCALE.md: "streaming incremental").

The near-dup admission path (streaming/incremental.py::near_dup_batch_fn)
keeps its state as a persisted banded index on storage: two
``ManifestVectorSink`` tables (``bands/``, ``shingles/``), appended one
segment per micro-batch. Its per-batch cost therefore has TWO growth axes
a long-lived stream exercises and the 10x/100x corpus probes do not:

- DATA volume: the candidate equi-join scans the bands table of the
  whole admitted corpus every batch (3 scalar columns — linear by
  design, like the incremental BM25 postings probe);
- FILE count: after K micro-batches each table is K segments, so
  listing/opening cost grows with BATCH COUNT even at flat data volume —
  the classic small-files cliff that compact_near_dup_index (the sink's
  compact_small) exists to reset.

This probe measures a fixed 1000-doc admission batch (500 fresh docs +
500 near-copies of admitted docs, so LSH candidate verification really
runs) against the same admitted corpus laid out four ways:

  A  20k docs,   1 segment    (baseline)
  B  200k docs,  10 segments  (10x data axis)
  C  200k docs,  100 segments (10x file-count axis at B's volume)
  D  C compacted to 1 segment (the maintenance fix)

Each timed admission runs against a fresh copy of the index (the copy is
not timed), so every run and every layout sees the identical admitted
corpus.

Content is deterministic (words are md5-derived from the doc id — no
Date.now/random) and mutually disjoint across docs, so candidate mass is
controlled by the planted near-copies, not accidental collisions.

Usage: python tools/probe_streaming_state.py [base_docs]   (default 20000)
Writes one JSON line; findings go to BENCH_NOTES.md / SCALE.md.
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

from vectordb_data_ingestion_spark.operators.dedup import (  # noqa: E402
    banded_signature_table,
)
from vectordb_data_ingestion_spark.session import get_spark  # noqa: E402
from vectordb_data_ingestion_spark.sinks.manifest_sink import (  # noqa: E402
    ManifestVectorSink,
)
from vectordb_data_ingestion_spark.streaming.incremental import (  # noqa: E402
    compact_near_dup_index,
    near_dup_batch_fn,
)

WORDS_PER_DOC = 24
NUM_HASHES = 16
BANDS = 4


def synth_docs(spark, start: int, n: int):
    """n docs with ids [start, start+n): every word md5-derived from
    (id, position) — all shingle sets mutually disjoint."""
    words = [
        F.concat(
            F.lit("w"),
            F.substring(
                F.md5(F.concat_ws("-", F.col("doc_id"), F.lit(str(j)))), 1, 10
            ),
        )
        for j in range(WORDS_PER_DOC)
    ]
    return (
        spark.range(start, start + n)
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", F.concat_ws(" ", *words).alias("text"))
    )


def build_index(spark, index_dir: str, total_docs: int, n_parts: int) -> None:
    """Materialize an admitted-corpus index of total_docs docs split over
    n_parts segments — the layout K micro-batches leave behind, built
    directly (same tables and columns near_dup_batch_fn appends) so the
    probe doesn't pay K sequential admission runs to reach steady state."""
    per = total_docs // n_parts
    tables = {
        sub: ManifestVectorSink(
            spark, f"{index_dir}/{sub}", partition_col=None
        )
        for sub in ("shingles", "bands")
    }
    for k in range(n_parts):
        chunk = synth_docs(spark, k * per, per)
        sh_tbl, banded = banded_signature_table(
            chunk, "text", "doc_id", NUM_HASHES, BANDS, 3
        )
        tag = F.lit(k).cast("long").alias("batch")
        tables["shingles"].upsert(sh_tbl.select("*", tag))
        tables["bands"].upsert(banded.select("*", tag))


def time_admission(spark, index_dir: str, out_dir: str, total_docs: int,
                   runs: int = 2) -> float:
    """Median wall time of ONE 1000-doc admission batch: 500 fresh +
    500 near-copies of already-admitted docs (one word appended —
    jaccard ~0.96, well over the 0.5 threshold, so the verify join runs)."""
    fresh = synth_docs(spark, 10_000_000, 500)
    copies = (
        synth_docs(spark, 0, 500)
        .select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.concat_ws(
                " ", F.col("text"), F.concat(F.lit("x"), F.col("doc_id"))
            ).alias("text"),
        )
    )
    batch = fresh.unionByName(copies).localCheckpoint()
    times = []
    for i in range(runs):
        # the admission commits its survivors to the index it probes: run
        # it on a copy so the next run (and the next layout) sees the
        # identical admitted corpus
        scratch = f"{out_dir}/index_r{i}"
        shutil.copytree(index_dir, scratch)
        run_batch = near_dup_batch_fn(
            scratch, f"{out_dir}/r{i}", num_hashes=NUM_HASHES, bands=BANDS,
        )
        t0 = time.monotonic()
        run_batch(batch, 999_999)
        times.append(time.monotonic() - t0)
        shutil.rmtree(scratch, ignore_errors=True)
    kept = spark.read.parquet(f"{out_dir}/r0").count()
    assert 400 <= kept <= 600, (
        f"admission verdicts off ({kept} kept of 1000): the probe must "
        "reject ~500 planted near-copies, else it isn't measuring the "
        "verify path"
    )
    times.sort()
    return times[len(times) // 2]


def main() -> None:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    spark = get_spark(app_name="probe-streaming-state")
    root = tempfile.mkdtemp(prefix="stream_state_probe_")
    results: dict[str, float] = {}
    layouts = [
        ("A_20k_1seg", base, 1),
        ("B_200k_10seg", base * 10, 10),
        ("C_200k_100seg", base * 10, 100),
    ]
    try:
        # throwaway warm-up layout: the first admission pays JVM/codegen
        # warm-up (~2 s here) that would bias whichever cell runs first
        warm = f"{root}/_warm/index"
        build_index(spark, warm, 2000, 1)
        time_admission(spark, warm, f"{root}/_warm/out", 2000, runs=1)
        for name, docs, parts in layouts:
            idx = f"{root}/{name}/index"
            build_index(spark, idx, docs, parts)
            results[name] = round(
                time_admission(spark, idx, f"{root}/{name}/out", docs), 3
            )
            print(f"{name}: {results[name]} s", flush=True)
        # D: compact C's layout and re-measure the same data
        idx_c = f"{root}/C_200k_100seg/index"
        t0 = time.monotonic()
        compact_near_dup_index(spark, idx_c)
        compact_s = round(time.monotonic() - t0, 3)
        results["D_200k_compacted"] = round(
            time_admission(
                spark, idx_c, f"{root}/D/out", base * 10
            ),
            3,
        )
        print(f"D_200k_compacted: {results['D_200k_compacted']} s "
              f"(compaction itself: {compact_s} s)", flush=True)
        print(json.dumps({
            "metric": "streaming_state_probe",
            "base_docs": base,
            "unit": "sec",
            "batches": results,
            "compaction_s": compact_s,
            "data_axis_10x": round(
                results["B_200k_10seg"] / results["A_20k_1seg"], 2
            ),
            "file_axis_10x": round(
                results["C_200k_100seg"] / results["B_200k_10seg"], 2
            ),
            "compaction_gain": round(
                results["C_200k_100seg"] / results["D_200k_compacted"], 2
            ),
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
