"""Benchmark of the reference's own job on ``local[2]``, layer by layer.

    python3 perfbench/run.py --workload ingest_full --seed 1 --seconds 10 --trace 0

Workloads: ``ingest_full``, ``refresh_delta``, ``retrieve_topk``,
``curate_dedup``, or ``all`` (the four in one process, metric names
prefixed with the workload). ``--smoke`` shrinks every input so a run takes
seconds. Run it from the root of a checkout of the repository.

Each run sets up its inputs from ``--seed`` several times (``setup_s`` is
the session start plus the median set-up), runs a few checked warm-up
ops, then runs ops in a closed loop with one client for about ``--seconds``
of op time, checking every op's output. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it spends half the time untraced and
half traced and reports the per-layer metrics (see ``trace.py``). The
second-to-last stdout line is the full run record (host context, tail
percentile, workload-specific figures, layer self times); the last line is
the result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Spark task slots. Every slot that runs a Python UDF keeps a JVM thread and
# a Python worker busy, so two slots already fill a 4-core host; with four,
# op times measured the scheduler: on the same seeds, local[4] was no faster
# than local[2] and spread up to twice as much from run to run.
CORES = 2
WORKLOAD_NAMES = ("ingest_full", "refresh_delta", "retrieve_topk", "curate_dedup")
SETUP_REPS = 3
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
             "docs_per_s": "1/s", "peak_rss_mb": "MB"}


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and its descendants
    (the driver JVM and the Python workers), sampled every 0.1 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.lock = threading.Lock()
        self.halt = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for p in descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.page
            except OSError:  # the process ended between listing and reading
                pass
        with self.lock:
            self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self.halt.wait(0.1):
            self.sample()

    def reset(self) -> float:
        """The peak in MiB since the last reset."""
        self.sample()
        with self.lock:
            peak, self.peak = self.peak, 0
        return peak / 2**20


def calibration_anchors(spark) -> dict[str, float]:
    """The two fixed host-speed jobs of ``bench.py`` at a twentieth of
    their size and one partition per core: cache-resident hashing (CPU)
    and an md5 hash repartition (shuffle/memory). Their code never changes, so a shift in them between
    records is the host, not the program."""
    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return round(time.perf_counter() - t0, 4)

    return {
        "cpu_anchor_s": timed(lambda: spark.range(0, 100_000_000, 1, CORES)
                              .selectExpr("bit_xor(xxhash64(id)) as h").collect()),
        "shuffle_anchor_s": timed(lambda: spark.range(0, 200_000, 1, CORES)
                                  .selectExpr("md5(cast(id as string)) as s")
                                  .repartition(CORES, "s")
                                  .selectExpr("max(s) as m").collect()),
    }


@dataclass
class Context:
    spark: object
    workdir: str
    seed: int
    smoke: bool
    tracer: object


def tail(times: list[float]) -> float:
    """The 90th percentile of the op times, interpolated between the two
    nearest ranks. A run holds a few to a few dozen ops, so no high
    percentile has ten samples beyond it, and the maximum alone would
    report whichever op a neighbour on the host happened to slow; the
    interpolated p90 still rises with the slowest ops, not with one."""
    if len(times) == 1:
        return times[0]
    return statistics.quantiles(times, n=10, method="inclusive")[-1]


def run_workload(name: str, spark, args, workdir: str, session_s: float,
                 rss: RssSampler) -> tuple[dict, dict]:
    from perfbench.trace import Tracer, self_times
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(spark, name, enabled=False)
    ctx = Context(spark, workdir, args.seed, args.smoke, tracer)
    wl = WORKLOADS[name](ctx)

    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0

    phases = [(False, args.seconds)]
    if args.trace:
        phases = [(False, args.seconds / 2), (True, args.seconds / 2)]
    times = {False: [], True: []}
    peaks = {False: [], True: []}  # summed RSS peak of each op
    attempted = failed = 0
    rates = []  # documents per second of each untraced op; 0 if it failed
    errors: list[str] = []
    i = 0
    for traced, budget in phases:
        # whole cycles of ops, ending at the cycle boundary nearest the
        # budget: a retrieve_topk cycle is about as long as the budget, and
        # stopping at the first boundary past it made runs measure one
        # cycle or two depending on the host's speed
        spent, cycles = 0.0, 0
        while i % wl.cycle or not cycles or spent + spent / cycles / 2 < budget:
            tracer.enabled = False
            wl.before_op(i)
            tracer.enabled = traced
            tracer.group("other")
            attempted += 1
            rss.reset()
            t0 = time.perf_counter()
            problems = []
            try:
                wl.op(i)
            except Exception as exc:  # a failing op is counted, not fatal
                problems = [f"{type(exc).__name__}: {exc}"]
            dt = time.perf_counter() - t0
            peaks[traced].append(rss.reset())
            if not problems:
                try:
                    problems = wl.check(i)
                except Exception as exc:
                    problems = [f"check: {type(exc).__name__}: {exc}"]
            if problems:
                failed += 1
                errors.extend(problems[:3])
            if not traced:
                rates.append(0.0 if problems else wl.docs_per_op(i) / dt)
            times[traced].append(dt)
            tracer.traced_ops += traced
            spent += dt
            i += 1
            cycles += i % wl.cycle == 0
    tracer.enabled = bool(args.trace)
    wl.finish()
    if hasattr(wl, "chunks_done"):
        wl.extras["chunks_per_s"] = wl.chunks_done / sum(times[False] + times[True])
        tracer.ratio("chunk.chunks_per_s", wl.extras["chunks_per_s"])
    tracer.enabled = False

    untraced = times[False]
    tail_s = tail(untraced)
    record = {
        "workload": name,
        "ops": len(untraced),
        "op_times_s": [round(t, 4) for t in untraced],
        "op_tail_percentile": 90,
        "op_tail_samples_beyond": sum(t > tail_s for t in untraced),
        "setup_reps_s": [round(t, 4) for t in setups],
        "session_start_s": round(session_s, 4),
        "prepare_s": round(prepare_s, 4),
        "error_rate": failed / attempted,
        "errors": errors[:5],
        **{k: round(v, 6) for k, v in wl.extras.items()},
    }
    metrics = {
        "setup_s": session_s + statistics.median(setups),
        "op_p50_s": statistics.median(untraced),
        "op_tail_s": tail_s,
        "docs_per_s": statistics.median(rates),
        "peak_rss_mb": statistics.median(peaks[False]),
    }
    if args.trace:
        untraced_p50 = statistics.median(untraced)
        traced_p50 = statistics.median(times[True])
        record["traced_ops"] = len(times[True])
        record["layer_self_s"] = {k: round(v, 4) for k, v in self_times(tracer).items()}
        record["largest_self_time_layer"] = max(
            record["layer_self_s"], key=record["layer_self_s"].get, default=None
        )
        # the event-log fold runs after the session stops
        metrics = {
            "trace.untraced_op_s": untraced_p50,
            "trace.traced_op_s": traced_p50,
            "trace.overhead_s": traced_p50 - untraced_p50,
        }
        record["trace_overhead_s"] = round(traced_p50 - untraced_p50, 4)
    result = {"attempted": attempted, "failed": failed, "metrics": metrics,
              "tracer": tracer}
    return result, record


def start_session(workdir: str, trace: bool):
    from vectordb_data_ingestion_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(workdir, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(workdir, "events"),
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the driver JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=WORKLOAD_NAMES + ("all",))
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true",
                        help="tiny inputs, for the benchmark's own tests")
    args = parser.parse_args()

    missing = [p for p in ("vectordb_data_ingestion_spark", "tests/ecma376_emitter.py",
                           "tests/cfb_emitter.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repository; missing {missing}",
              file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(workdir, sub))
    # Python workers import the package and the emitters from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    # every JVM (the launcher and the driver) keeps its files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}/tmp "
        f"-Dderby.system.home={workdir}/derby"
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sys.path.insert(0, ROOT)

    rss = RssSampler()
    rss.start()
    host = {"nproc": os.cpu_count(), "cores_used": CORES,
            "loadavg_start": os.getloadavg()[0]}
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir, bool(args.trace))
        session_s = time.perf_counter() - t0
        results, records = [], []
        for name in names:
            result, record = run_workload(name, spark, args, workdir, session_s, rss)
            results.append(result)
            records.append(record)
        host.update(calibration_anchors(spark))
        stop_session(spark)
        spark = None
        host["loadavg_end"] = os.getloadavg()[0]
        if args.trace:
            from perfbench.trace import fold_event_log, layer_metrics

            for result, record in zip(results, records):
                groups = fold_event_log(os.path.join(workdir, "events"), record["workload"])
                result["metrics"] = {**layer_metrics(result["tracer"], groups),
                                     **result["metrics"]}
    finally:
        if spark is not None:
            stop_session(spark)
        rss.halt.set()
        rss.join()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run still uses it
            pass

    from perfbench.trace import unit

    metrics = {}
    for result, record in zip(results, records):
        prefix = f"{record['workload']}." if args.workload == "all" else ""
        units = E2E_UNITS if not args.trace else {}
        for k, v in result["metrics"].items():
            metrics[prefix + k] = {"value": v, "unit": units.get(k) or unit(k)}
        record["host"] = host
    print(json.dumps({"records": records}))
    print(json.dumps({
        "correct": all(r["failed"] == 0 for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
