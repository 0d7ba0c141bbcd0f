"""Multi-writer CAS contention probe (VERDICT r7 item 4).

The manifest sink serializes visibility through ONE conditional-put
control object — the known scaling bottleneck of single-manifest commit
logs (Delta/Iceberg have the same shape). The two-process race drills
prove correctness; this probe measures THROUGHPUT: N concurrent
upserters against one sink, commits/s and CAS retry counts per N.

Run: python tools/probe_cas_contention.py [out.json]

Method: N threads share one SparkSession (sessions are thread-safe; the
contention under test is on the store's conditional put, which is
process-agnostic) and one FileConditionalStore-backed ManifestVectorSink.
Each thread performs K single-row upserts. A counting store wrapper
tallies put_if failures on the MANIFEST key = CAS retries. Guidance the
numbers support (see BENCH_NOTES.md): commit throughput degrades roughly
linearly in writer count past ~4 writers — batch mutations per writer
(fewer, larger commits) rather than adding writers, exactly the
reference's batching contract (cmfunctions.py:103-223) carried to the
commit layer.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    import tempfile

    from pyspark.sql import SparkSession

    from vectordb_data_ingestion_spark.sinks.commit_store import (
        FileConditionalStore,
    )
    from vectordb_data_ingestion_spark.sinks.manifest_sink import (
        ManifestVectorSink,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    class CountingStore(FileConditionalStore):
        def __init__(self, root):
            super().__init__(root)
            self.lock = threading.Lock()
            self.conflicts = 0

        def put_if(self, key, data, token):
            ok = super().put_if(key, data, token)
            if not ok and key == "MANIFEST":
                with self.lock:
                    self.conflicts += 1
            return ok

    per_writer = 6
    results = []
    for n in (1, 2, 4, 8, 16):
        with tempfile.TemporaryDirectory() as td:
            store = CountingStore(os.path.join(td, "_ctrl"))
            sink = ManifestVectorSink(
                spark,
                os.path.join(td, "sink"),
                partition_col=None,
                store=store,
                max_cas_retries=500,
            )
            errs: list[str] = []

            def work(wid: int) -> None:
                try:
                    for i in range(per_writer):
                        sink.upsert(
                            spark.createDataFrame(
                                [(f"w{wid}-{i}", wid)],
                                "chunk_id string, v long",
                            )
                        )
                except Exception as e:  # pragma: no cover - probe only
                    errs.append(f"w{wid}: {e}")

            t0 = time.monotonic()
            threads = [
                threading.Thread(target=work, args=(w,)) for w in range(n)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            dt = time.monotonic() - t0
            commits = n * per_writer
            visible = sink.read().count()
            results.append(
                {
                    "writers": n,
                    "commits": commits,
                    "visible_rows": visible,
                    "lossless": visible == commits,
                    "secs": round(dt, 2),
                    "commits_per_sec": round(commits / dt, 2),
                    "cas_conflicts": store.conflicts,
                    "conflicts_per_commit": round(
                        store.conflicts / commits, 2
                    ),
                    "errors": errs,
                }
            )
            print(json.dumps(results[-1]))

    # phase 2: the commit layer alone (no Spark segment write) — the pure
    # conditional-put hot loop, which is what a real store's latency
    # multiplies. This isolates how the CAS window itself scales.
    from vectordb_data_ingestion_spark.sinks.commit_store import cas_update

    raw = []
    for n in (1, 2, 4, 8, 16):
        with tempfile.TemporaryDirectory() as td:
            store = CountingStore(os.path.join(td, "_ctrl"))
            per = 200

            def bump(cur: bytes | None) -> bytes:
                return str(int(cur) + 1 if cur else 1).encode()

            def work_raw() -> None:
                for _ in range(per):
                    cas_update(store, "MANIFEST", bump, max_retries=10_000)

            t0 = time.monotonic()
            threads = [threading.Thread(target=work_raw) for _ in range(n)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            dt = time.monotonic() - t0
            commits = n * per
            final = int(store.get("MANIFEST")[0])
            raw.append(
                {
                    "writers": n,
                    "commits": commits,
                    "lossless": final == commits,
                    "secs": round(dt, 2),
                    "commits_per_sec": round(commits / dt, 1),
                    "conflicts_per_commit": round(
                        store.conflicts / commits, 2
                    ),
                }
            )
            print(json.dumps(raw[-1]))

    out = {"probe": "cas_contention", "per_writer_upserts": per_writer,
           "results": results, "raw_commit_loop": raw}
    path = sys.argv[1] if len(sys.argv) > 1 else None
    if path:
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps({"summary": [
        (r["writers"], r["commits_per_sec"], r["conflicts_per_commit"])
        for r in results
    ]}))


if __name__ == "__main__":
    main()
