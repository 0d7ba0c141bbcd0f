"""Layer spans, counters and the Spark event-log fold for traced runs.

With tracing off every hook here is a no-op and the pipeline runs lazily
and fused, as users run it. With tracing on, each call into a layer runs
inside a span that

- sets the Spark job group ``<workload>:<layer>``, so the event log
  attributes every job, task and byte to the layer that caused it;
- materializes the layer's output DataFrame (``localCheckpoint(eager=True)``)
  so the span covers exactly that layer's work;
- records its wall time in memory.

Spans do not nest, so a layer's self time is the sum of its spans. After
the session stops, :func:`fold_event_log` reads the uncompressed event log
and sums task metrics per job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("sources", "catalog", "chunk", "embed", "sink", "search", "dedup")
SPARK_METRICS = (
    "jobs", "tasks", "executor_cpu_s", "executor_run_s", "shuffle_bytes",
    "spill_bytes", "driver_s",
)
# layer-specific figures: spans (seconds per op) and counts (per op)
LAYER_METRICS = {
    "sources": ("scan_s", "parse_s", "files", "parse_null_ratio"),
    "catalog": ("diff_s", "delta_files"),
    "chunk": ("s", "chunks", "tokens", "chunks_per_s"),
    "embed": ("s", "requests", "texts_per_request", "gateway_wait_s",
              "retries"),
    "sink": ("upsert_s", "delete_s", "read_s", "commits", "cas_retries",
             "bytes_written", "rows_rewritten_per_row_deleted", "segments",
             "stored_bytes_per_row"),
    "search": ("near_vector_s", "hybrid_s", "context_s", "hits",
               "recall_at_k"),
    "dedup": ("pairs_s", "cc_s", "decide_s", "exact_s", "pairs",
              "components", "dup_ratio"),
}
OVERHEAD_METRICS = ("trace.untraced_op_s", "trace.traced_op_s",
                    "trace.overhead_s")
# figures that are ratios of a run, not per-op sums
RATIOS = {
    "sources.parse_null_ratio", "embed.texts_per_request",
    "sink.rows_rewritten_per_row_deleted", "sink.stored_bytes_per_row",
    "search.recall_at_k", "dedup.dup_ratio", "chunk.chunks_per_s",
}


def per_layer_names() -> list[str]:
    names = []
    for layer in LAYERS:
        names += [f"{layer}.{m}" for m in LAYER_METRICS[layer]]
        names += [f"{layer}.{m}" for m in SPARK_METRICS]
    return names + list(OVERHEAD_METRICS)


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("stored_bytes_per_row"):
        return "B/row"
    if name in RATIOS:
        return "ratio"
    return "count"


class Tracer:
    """Spans and counters of one run; ``enabled`` may be toggled between
    ops (the traced run measures some ops untraced for the overhead)."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.enabled = enabled
        self.spans: dict[str, float] = defaultdict(float)
        self.counts: dict[str, float] = defaultdict(float)
        self.ratios: dict[str, list[float]] = defaultdict(list)
        self.traced_ops = 0

    def group(self, name: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(f"{self.workload}:{name}", name)

    @contextmanager
    def span(self, metric: str):
        """Time one call into a layer; ``metric`` is ``<layer>.<name>_s``."""
        if not self.enabled:
            yield
            return
        self.group(metric.split(".")[0])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[metric] += time.perf_counter() - t0
            # jobs between spans (counters, checks) stay out of the layers
            self.group("other")

    def boundary(self, df):
        """Materialize a layer's output inside its span (traced only)."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    def count(self, metric: str, value) -> None:
        if self.enabled:
            self.counts[metric] += float(value)

    def ratio(self, metric: str, value) -> None:
        if self.enabled:
            self.ratios[metric].append(float(value))


def fold_event_log(log_dir: str, workload: str) -> dict[str, dict]:
    """Per job group of ``workload``: jobs, tasks, executor CPU and run
    seconds, shuffle bytes written, bytes spilled to disk, and the merged
    task-busy interval length in seconds (``busy_s``)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}")
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
    prefix = workload + ":"
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group or not group.startswith(prefix):
                    continue
                group = group[len(prefix):]
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                g = out[group]
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                intervals[group].append(
                    (info.get("Launch Time", 0), info.get("Finish Time", 0))
                )
    for group, spans in intervals.items():
        busy, end = 0, None
        for lo, hi in sorted(spans):
            if end is None or lo > end:
                busy += hi - lo
                end = hi
            elif hi > end:
                busy += hi - end
                end = hi
        out[group]["busy_s"] = busy / 1e3
    return out


def layer_metrics(tracer: Tracer, groups: dict[str, dict]) -> dict[str, float]:
    """Every per-layer metric, per traced op (0 for layers not touched)."""
    n = max(tracer.traced_ops, 1)
    values: dict[str, float] = {name: 0.0 for name in per_layer_names()}
    for name, total in tracer.spans.items():
        values[name] = total / n
    for name, total in tracer.counts.items():
        values[name] = total / n
    for name, samples in tracer.ratios.items():
        values[name] = sum(samples) / len(samples)
    selfs = self_times(tracer)
    for layer in LAYERS:
        g = groups.get(layer, {})
        for m in SPARK_METRICS[:-1]:
            values[f"{layer}.{m}"] = g.get(m, 0.0) / n
        # planning and scheduling: wall time no task of the layer covers
        values[f"{layer}.driver_s"] = max(
            selfs.get(layer, 0.0) - g.get("busy_s", 0.0) / n, 0.0
        )
    return values


def self_times(tracer: Tracer) -> dict[str, float]:
    """Seconds per traced op spent inside each layer's spans."""
    n = max(tracer.traced_ops, 1)
    out: dict[str, float] = defaultdict(float)
    for name, total in tracer.spans.items():
        out[name.split(".")[0]] += total / n
    return dict(out)
