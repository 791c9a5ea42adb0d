"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from ``--seed`` under ``.perfbench/`` in the checkout, sets up several
times (``setup_s`` is the median), runs one untimed warm-up pass, then
measures for ``--seconds``. Every output is checked against a reference
computed independently of the engine (DuckDB for queries, the
generator's own counts for the pipelines).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced reps in the measure step, prints the per-layer
metrics, and writes the spans and the per-layer table under
``.perfbench/traces/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is
nonzero if any output was wrong (``--corrupt`` flips one reference
value to show that it is).
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

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_mix", "pipelines")
SETUPS = 5  # timed set-ups after the first, which also launches the JVM

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s"}

# per-layer metric -> unit; values are per round of the query mix or per
# ``run`` call of a pipeline workload (``max`` metrics are run peaks)
PER_LAYER = {
    "queries.build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.build_jobs": "count",
    "scheduler.action_jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.job_wall_s": "s",
    "scheduler.gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.cpu_ratio": "ratio",
    "executor.shuffle_read_bytes": "bytes",
    "executor.shuffle_write_bytes": "bytes",
    "executor.spill_bytes": "bytes",
    "transfer.s": "s",
    "transfer.rows": "count",
    "cli.run_s": "s",
    "cli.start_s": "s",
    "stream.triggers": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.floor_ms": "ms",
    "stream.offset_log_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.jobs_per_trigger": "count",
    "sources.list_ms": "ms",
    "sources.rows_read_per_event": "ratio",
    "sink.rows_healthy": "count",
    "sink.rows_dlq": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.update_ms": "ms",
    "state.commit_ms": "ms",
    "setup.first_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_ratio": "ratio",
    "process.peak_rss_mb": "MB",
    "single_core.events_per_s": "events/s",
    "single_core.triggers": "count",
}


def fit_environment(work: str) -> dict:
    """Size Spark to this machine and keep every file it writes in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = max(1024, min(4096, mem_mb // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    time.tzset()
    return {"nproc": cpus, "mem_total_mb": mem_mb, "driver_mem_mb": driver_mb}


def _tree_rss_bytes() -> int:
    """Resident memory of this process and all its descendants
    (the JVM and the Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    page, total = os.sysconf("SC_PAGE_SIZE"), 0
    for p in tree:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler(threading.Thread):
    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(name="rss-sampler", daemon=True)
        self.interval = interval
        self.peak = 0
        self.stop_event = threading.Event()

    def run(self) -> None:
        while not self.stop_event.wait(self.interval):
            self.peak = max(self.peak, _tree_rss_bytes())

    def stop(self) -> float:
        self.stop_event.set()
        self.join()
        return max(self.peak, _tree_rss_bytes()) / 2**20


def _make(name: str, run):
    from workloads import Pipelines, QueryMix

    return (QueryMix if name == "query_mix" else Pipelines)(run)


def _single_core(workload, run) -> dict[str, float]:
    """The single-threaded baseline: one weblog backlog run at local[1]."""
    from eventstreams_spark.session import get_spark
    from tracing import Tracer

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    run.spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        run.spark = get_spark("perfbench")
        run.spark.streams.addListener(workload.recorder)
        one = Tracer()
        wall = workload.parts[0].rep(one)
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    return {"single_core.events_per_s": one.counters["generator.events"] / wall,
            "single_core.triggers": one.counters.get("stream.triggers", 0.0)}


def _layers(tracer, measured: dict) -> dict[str, float]:
    c = tracer.per(tracer.counters["units"])
    c["executor.cpu_ratio"] = c["executor.cpu_s"] / c["executor.run_s"] if c.get("executor.run_s") else 0.0
    if c.get("stream.triggers"):
        c["stream.jobs_per_trigger"] = c.get("stream.jobs", 0.0) / c["stream.triggers"]
    if c.get("generator.events"):
        c["sources.rows_read_per_event"] = c.get("sources.rows_read", 0.0) / c["generator.events"]
    c["trace.overhead_ratio"] = measured["trace.overhead_ratio"]
    return c


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="flip one reference value; the run must then fail")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "eventstreams_spark", "__init__.py")):
        print(f"no eventstreams_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = fit_environment(work)
    os.chdir(work)
    load_before = os.getloadavg()
    sampler = RssSampler()
    sampler.start()
    try:
        return _bench(args, work, env, load_before, sampler)
    finally:
        _stop_spark()
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


def _stop_spark() -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(60)
        SparkContext._gateway = None


def _bench(args, work: str, env: dict, load_before, sampler: RssSampler) -> int:
    from eventstreams_spark.session import get_spark
    from tracing import Tracer
    from workloads import Run

    setups = []
    spark = None
    for i in range(1 + SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench")
        run = Run(spark, args.seed, work, args.corrupt)
        workload = _make(args.workload, run)
        workload.prepare()
        if i == 0:
            first_s = time.perf_counter() - T_START
        else:
            setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    workload.references()
    reference_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    workload.warm_up()
    warmup_s = time.perf_counter() - t0

    tracer = Tracer() if args.trace else None
    t0 = time.perf_counter()
    measured = workload.measure(args.seconds, tracer)
    measure_s = time.perf_counter() - t0
    layers = None
    if args.trace:
        layers = _layers(tracer, measured)
        layers["setup.first_s"] = first_s
        layers["setup.warmup_s"] = warmup_s
        if args.workload == "pipelines":
            layers.update(_single_core(workload, run))

    _stop_spark()
    peak_mb = sampler.stop()
    load_after = os.getloadavg()
    if layers is not None:
        layers["process.peak_rss_mb"] = peak_mb
        out = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}")
        tracer.write(out, layers)

    print(f"# env nproc={env['nproc']} mem_total_mb={env['mem_total_mb']} "
          f"driver_mem_mb={env['driver_mem_mb']} "
          f"loadavg_before={[round(x, 2) for x in load_before]} "
          f"loadavg_after={[round(x, 2) for x in load_after]}")
    report = dict(measured["report"])
    report["setup_s"] = (statistics.median(setups), "s")
    report["failed_ratio"] = (run.failed / max(1, run.attempted), "ratio")
    report["peak_rss_mb"] = (peak_mb, "MB")
    report["setup_first_s"] = (first_s, "s")
    report["reference_s"] = (reference_s, "s")
    report["warmup_s"] = (warmup_s, "s")
    report["measure_s"] = (measure_s, "s")
    report["total_s"] = (time.perf_counter() - T_START, "s")
    for name, (value, unit) in report.items():
        shown = [round(v, 4) for v in value] if isinstance(value, list) else f"{value:.6g}"
        print(f"# {args.workload} {name} {shown} {unit}")
    for note in run.notes:
        print(f"# {note}")
    if layers is not None:
        print(f"# traces written to {os.path.relpath(out, ROOT)}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": statistics.median(setups), "ops_per_s": measured["ops_per_s"]}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
