"""Subprocess worker for the REAL two-process sink race drill
(tests/test_multiprocess_sinks.py). Each worker is its own OS process with
its own JVM-backed SparkSession, hammering one shared sink path:

    python two_process_sink_worker.py <kind> <path> <worker_id> <iters>

Per iteration: upsert 5 rows keyed ``<wid>-<it>-<j>``; on odd iterations
delete the previous iteration's own keys. Final expected state per worker
is therefore exactly the odd-iteration batches — deterministic regardless
of cross-process interleaving (key spaces are disjoint), so the parent can
assert no lost commit, no duplicate, no resurrection.
"""

import sys


def main() -> int:
    kind, path, wid, n = sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4])
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"sink-race-{wid}")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        bucketed = kind.endswith("_bucketed")
        layout = (
            {"key_col": "chunk_id", "n_buckets": 4} if bucketed else {}
        )
        base_kind = kind.removesuffix("_bucketed")
        if base_kind == "manifest":
            from vectordb_data_ingestion_spark.sinks.manifest_sink import (
                ManifestVectorSink,
            )

            sink = ManifestVectorSink(
                spark, path, partition_col=None, **layout
            )
        else:
            raise SystemExit(f"unknown sink kind {kind!r}")

        for it in range(n):
            rows = [(f"{wid}-{it}-{j}", it) for j in range(5)]
            sink.upsert(
                spark.createDataFrame(rows, "chunk_id string, v long")
            )
            if it % 2 == 1:
                sink.delete_where(
                    "chunk_id", [f"{wid}-{it - 1}-{j}" for j in range(5)]
                )
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
