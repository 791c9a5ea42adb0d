"""Tracing for the benchmark: spans, layer counters and Spark's own
counters, all read from outside the engine.

* ``Tracer`` keeps spans (name, start, end, parent, request id) and
  summed per-layer counters in memory and writes them out at the end.
* ``SparkProbe`` reads what Spark already records: the query planning
  tracker of a DataFrame, and the jobs, stages and tasks of a job group
  from the status tracker and status store.
* ``StreamRecorder`` is a ``StreamingQueryListener`` that keeps every
  start, progress and termination event of the streaming queries.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans plus per-layer counters, summed per workload."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.peaks: set[str] = set()
        self._stack: list[int] = []

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def peak(self, name: str, value: float) -> None:
        self.peaks.add(name)
        self.counters[name] = max(self.counters.get(name, value), value)

    def per(self, units: float) -> dict[str, float]:
        """Counters per unit of work (a round of queries, a ``run``
        call); peaks stay as they are."""
        return {k: v if k in self.peaks else v / units for k, v in self.counters.items()}

    def record(self, name: str, start: float, end: float, request: str,
               parent: int | None = None, **attrs) -> int:
        """Record a finished span (epoch seconds); return its id."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "request": request, **attrs})
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, request: str, **attrs):
        sid = self.record(name, time.time(), 0.0, request, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, out_dir: str, layers: dict) -> None:
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "spans.jsonl"), "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
        with open(os.path.join(out_dir, "layers.json"), "w") as fh:
            json.dump(layers, fh, indent=1, sort_keys=True)


def _seq(spark, scala_seq) -> list:
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class SparkProbe:
    """Spark's planning and scheduling counters for one job group."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def planning_ms(self, df) -> dict[str, float]:
        """Catalyst phase durations of the DataFrame's query execution."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out

    def group_stats(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and executor time of one job group.

        ``job_wall_s`` is the union of the jobs' submit-to-complete
        intervals, so jobs that overlap are not counted twice. A stage
        shared by several jobs, or skipped because its output was
        reused, is counted once or not at all."""
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        spans, stages = [], set()
        for jid in ids:
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
            stages.update(_seq(self.spark, job.stageIds()))
        stats = dict.fromkeys(("stages", "tasks", "run_s", "cpu_s", "shuffle_read_bytes",
                               "shuffle_write_bytes", "spill_bytes"), 0.0)
        for sid in stages:
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            stats["stages"] += 1
            stats["tasks"] += sd.numTasks()
            stats["run_s"] += sd.executorRunTime() / 1e3
            stats["cpu_s"] += sd.executorCpuTime() / 1e9
            stats["shuffle_read_bytes"] += sd.shuffleReadBytes()
            stats["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            stats["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        stats["jobs"] = float(len(ids))
        stats["job_wall_s"] = _union_s(spans)
        return stats


def _union_s(spans_ms: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(spans_ms):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def epoch_s(iso: str) -> float:
    """Spark listener timestamps (``2024-10-10T10:00:00.123Z``) to epoch s."""
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamRecorder(StreamingQueryListener):
    """Keeps every streaming query event the session posts."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: dict[str, dict] = {}  # runId -> {name, t}
        self.progress: list[dict] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.started[str(event.runId)] = {"name": event.name, "t": epoch_s(event.timestamp)}

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self.lock:
            self.terminated.add(str(event.runId))

    def reset(self) -> None:
        with self.lock:
            self.started.clear()
            self.progress.clear()
            self.terminated.clear()

    def wait_terminated(self, timeout: float) -> bool:
        """Wait until every started query's termination was delivered,
        so no progress event is still in flight."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                if self.started and set(self.started) <= self.terminated:
                    return True
            time.sleep(0.05)
        return False

    def batches(self) -> list[dict]:
        """Progress events in (query, batch) order, each with its end
        time (start + triggerExecution)."""
        with self.lock:
            out = [dict(p) for p in self.progress]
        for p in out:
            p["start_s"] = epoch_s(p["timestamp"])
            p["end_s"] = p["start_s"] + p["durationMs"].get("triggerExecution", 0) / 1e3
        return sorted(out, key=lambda p: (p["name"], p["batchId"]))

    def trace_into(self, tracer: Tracer, spark, parent: int) -> None:
        """Sum the per-trigger progress and the jobs each query ran
        (Spark's job group of a streaming query is its runId) into the
        streaming, source, state, scheduler and executor layers, and
        record one span per trigger."""
        with self.lock:
            started = dict(self.started)
        for p in self.batches():
            d = p["durationMs"]
            trig = d.get("triggerExecution", 0)
            tracer.add("stream.triggers", 1)
            tracer.add("stream.trigger_ms", trig)
            tracer.add("stream.add_batch_ms", d.get("addBatch", 0))
            tracer.add("stream.floor_ms", trig - d.get("addBatch", 0))
            tracer.add("stream.offset_log_ms", d.get("walCommit", 0) + d.get("commitOffsets", 0))
            tracer.add("stream.query_planning_ms", d.get("queryPlanning", 0))
            tracer.add("sources.list_ms", d.get("latestOffset", 0) + d.get("getBatch", 0))
            tracer.add("sources.rows_read", p["numInputRows"])
            for so in p.get("stateOperators") or []:
                tracer.peak("state.rows_total", so.get("numRowsTotal", 0))
                tracer.peak("state.memory_bytes", so.get("memoryUsedBytes", 0))
                tracer.add("state.update_ms", so.get("allUpdatesTimeMs", 0))
                tracer.add("state.commit_ms", so.get("commitTimeMs", 0))
            tracer.record("trigger", p["start_s"], p["end_s"], f"{p['name']}/batch{p['batchId']}",
                          parent=parent, rows=p["numInputRows"], durationMs=d)
        probe = SparkProbe(spark)
        for run_id in started:
            stats = probe.group_stats(run_id)
            tracer.add("stream.jobs", stats["jobs"])
            add_group_stats(tracer, stats)


def add_group_stats(tracer: Tracer, stats: dict[str, float]) -> None:
    """Sum one job group's counters into the scheduler and executor layers."""
    for k in ("stages", "tasks", "job_wall_s"):
        tracer.add(f"scheduler.{k}", stats[k])
    for k in ("run_s", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        tracer.add(f"executor.{k}", stats[k])
