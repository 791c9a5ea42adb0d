"""The two benchmark workloads.

Each workload has the same four steps:

* ``prepare()`` - generate its inputs from the seed under a fresh
  directory. The harness sets up several times (session, then inputs)
  and reports the median as set-up time.
* ``references()`` - compute what the outputs are checked against,
  once, independently of the engine.
* ``warm_up()`` - one untimed pass, so most JIT compilation and lazy
  initialisation are done before timing. Its outputs are checked too.
* ``measure(seconds, tracer)`` - the timed phase. With a ``Tracer``,
  timed rounds alternate between untraced and traced; the traced ones
  also record spans and the per-layer counters.

Every operation is checked; ``attempted`` and ``failed`` count them.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from collections import Counter

import gen
from tracing import SparkProbe, StreamRecorder, Tracer, add_group_stats

HEADLINE = [
    "agg_pricing_summary", "topk_orders_by_revenue", "join_multiway_tpch_q5",
    "window_top3_per_user", "sessionize_gap30m_batch", "tumbling_1h_agg",
    "json_extract_props", "knn_cosine_topk", "dedup_exact_distinct",
]
# louvain_full_loop_gate is left out: it loops until modularity stops
# rising, so its work depends on the graph (47 to 77 jobs, 2.4 to 22 s
# across seeds), and even on a fixed graph it takes a quarter of a round.
ITERATIVE = ["hits_two_rounds"]
HEADLINE_SCALE = 0.02  # 1.0 = the driver's sf1 row counts
ITERATIVE_SCALE = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

BACKLOG_FILES = 10
BACKLOG_LINES_PER_FILE = 6_000
DRIFT_FILES = 3
DRIFT_LINES_PER_FILE = 4_000
MIN_REPS = 2  # timed reps per query or pipeline, whatever ``seconds`` is


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def check_result(ref: tuple, pdf) -> bool:
    """A query result, as ``DataFrame.toPandas()`` returns it, against its
    reference (sorted columns, row count, order-insensitive hash). The
    external driver also hashes ``toPandas()`` frames with this function."""
    from driver_hash import frame_hash

    ref_cols, ref_n, ref_hash = ref
    return sorted(pdf.columns) == ref_cols and len(pdf) == ref_n and frame_hash(pdf) == ref_hash


def check_files(healthy: dict, dead: dict, ref: dict, chunks) -> list[tuple[bool, str]]:
    """Per file: (healthy rows, byte checksum) and dead letters against the
    generator's counts. Rows of files not sent are a failure too."""
    healthy, dead = dict(healthy), dict(dead)
    out = []
    for c in chunks:
        r = ref[f"c{c}"]
        got = (healthy.pop(f"c{c}", (0, 0)), dead.pop(f"c{c}", 0))
        ok = got == ((r["lines"] - r["garbled"], r["bytes_sum"]), r["garbled"])
        out.append((ok, f"file c{c}: rows or checksum differ from the generator"))
    out.append((not healthy and not dead, "rows from unknown files in the output"))
    return out


def check_key_sets(got: dict, ref: dict) -> list[tuple[bool, str]]:
    """Each key set's (last total_rows, summed batch_rows) against the
    generator's count; key sets the generator never wrote are a failure."""
    got = dict(got)
    out = [(got.pop(ks, None) == (n, n), f"key set {ks!r}: total_rows differs")
           for ks, n in sorted(ref.items())]
    out.append((not got, f"unexpected key sets {sorted(got)[:3]}"))
    return out


class Run:
    """What one workload needs from the harness."""

    def __init__(self, spark, seed: int, work: str, corrupt: bool) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(f"FAILED {what}")


# ----------------------------------------------------------------- query_mix


class QueryMix:
    """Closed loop, one client: rounds of the nine headline queries plus
    the iterative HITS query, seed-shuffled."""

    def __init__(self, run: Run) -> None:
        self.run = run
        from eventstreams_spark import registry

        registry._ensure_loaded()
        self.specs = {q: registry.REGISTRY[q] for q in HEADLINE + ITERATIVE}

    def prepare(self) -> None:
        root = self.run.fresh("tables")
        big, small = f"{root}/headline", f"{root}/iterative"
        gen.write_tables(big, self.run.seed, HEADLINE_SCALE)
        gen.write_tables(small, self.run.seed + 1, ITERATIVE_SCALE)
        self.dirs = {q: small if q in ITERATIVE else big for q in self.specs}

    def references(self) -> None:
        """Each query's DuckDB result: columns, row count and the driver's hash."""
        import duckdb
        from driver_hash import frame_hash

        ref: dict[str, tuple] = {}
        for d in set(self.dirs.values()):
            con = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
            for q, spec in self.specs.items():
                if self.dirs[q] == d:
                    pdf = con.execute(spec.oracle).df()
                    ref[q] = (sorted(pdf.columns), len(pdf), frame_hash(pdf))
            con.close()
        if self.run.corrupt:
            cols, n, _ = ref[HEADLINE[0]]
            ref[HEADLINE[0]] = (cols, n, "0" * 64)
        self.ref = ref

    def warm_up(self) -> None:
        """One untimed round. Each query's ``toPandas()`` frame is checked
        against the DuckDB reference, as the driver checks it; the rows
        ``collect()`` returns become what every timed rep must return."""
        spark = self.run.spark
        self.fingerprint: dict[str, Counter] = {}
        for q, spec in self.specs.items():
            spark.catalog.clearCache()
            df = spec.builder(spark, self.dirs[q])
            ok = check_result(self.ref[q], df.toPandas())
            if ok:
                self.fingerprint[q] = Counter(tuple(r) for r in df.collect())
            self.run.count(ok, f"{q}: result differs from the DuckDB reference")

    def _rep(self, q: str, rep: int, tracer: Tracer | None) -> float:
        spark = self.run.spark
        spark.catalog.clearCache()  # nothing persisted by one query helps the next
        build = self.specs[q].builder
        if tracer is None:
            t0 = time.perf_counter()
            df = build(spark, self.dirs[q])
            rows = df.collect()
            dt = time.perf_counter() - t0
        else:
            dt, rows = self._traced_rep(q, rep, tracer)
        # a multiset of rows: much cheaper than hashing again
        ok = Counter(tuple(r) for r in rows) == self.fingerprint.get(q)
        self.run.count(ok, f"{q} rep {rep}: result differs from reference")
        return dt

    def _traced_rep(self, q: str, rep: int, tracer: Tracer):
        spark, sc = self.run.spark, self.run.spark.sparkContext
        probe = SparkProbe(spark)
        build = self.specs[q].builder
        rid = f"{q}#{rep}"
        t0 = time.perf_counter()
        with tracer.span("query", rid):
            sc.setJobGroup(f"{rid}/build", rid)
            with tracer.span("queries.build", rid) as b:
                df = build(spark, self.dirs[q])
            sc.setJobGroup(f"{rid}/action", rid)
            with tracer.span("collect", rid) as c:
                rows = df.collect()
        dt = time.perf_counter() - t0
        # the same plan into a sink that discards rows: the difference
        # to collect is the cost of moving the result to the driver
        spark.catalog.clearCache()
        sc.setJobGroup(f"{rid}/noop", rid)
        noop_df = build(spark, self.dirs[q])
        with tracer.span("noop_write", rid) as n:
            noop_df.write.format("noop").mode("overwrite").save()
        sc.setLocalProperty("spark.jobGroup.id", None)

        for phase, ms in probe.planning_ms(df).items():
            tracer.add(f"catalyst.{phase}_ms", ms)
        built = probe.group_stats(f"{rid}/build")
        acted = probe.group_stats(f"{rid}/action")
        collect_s = c["end"] - c["start"]
        tracer.add("queries.build_s", b["end"] - b["start"])
        tracer.add("scheduler.build_jobs", built["jobs"])
        tracer.add("scheduler.action_jobs", acted["jobs"])
        tracer.add("scheduler.gap_s", collect_s - acted["job_wall_s"])
        add_group_stats(tracer, built)
        add_group_stats(tracer, acted)
        tracer.add("transfer.s", collect_s - (n["end"] - n["start"]))
        tracer.add("transfer.rows", len(rows))
        # the per-query split of the ROADMAP table, per round
        for k, v in (("wall_s", dt), ("build_s", b["end"] - b["start"]), ("action_s", collect_s),
                     ("jobs", built["jobs"] + acted["jobs"]),
                     ("executor_run_s", built["run_s"] + acted["run_s"]),
                     ("rows", len(rows))):
            tracer.add(f"by_query.{q}.{k}", v)
        return dt, rows

    def measure(self, seconds: float, tracer: Tracer | None) -> dict:
        """Whole seed-shuffled rounds until ``seconds`` have passed.
        Throughput is taken over the per-query median latencies, so every
        query weighs the same and one slow rep does not move it. With a
        tracer, rounds alternate untraced, traced."""
        order = list(self.specs)
        rng = random.Random(self.run.seed)
        lat: dict[str, list[float]] = {q: [] for q in order}
        traced: dict[str, list[float]] = {q: [] for q in order}
        end = time.perf_counter() + seconds
        rounds = 0
        while rounds < MIN_REPS or time.perf_counter() < end:
            rng.shuffle(order)
            t = tracer if tracer is not None and rounds % 2 else None
            for q in order:
                (lat if t is None else traced)[q].append(self._rep(q, rounds, t))
            if t is not None:
                t.add("units", 1)  # one unit = one round of the mix
            rounds += 1
        mix_s = sum(statistics.median(v) for v in lat.values())
        samples = [x for v in lat.values() for x in v]
        out = {
            "ops_per_s": len(lat) / mix_s,
            "report": {
                "queries_per_s": (len(lat) / mix_s, "1/s"),
                "query_latency_p50_s": (statistics.median(samples), "s"),
                "query_latency_p90_s": (quantile(samples, 0.9), "s"),
                "samples": (len(samples), "count"),
                "rounds": (rounds, "count"),
            },
        }
        if tracer is not None:
            traced_s = sum(statistics.median(v) for v in traced.values())
            out["trace.overhead_ratio"] = traced_s / mix_s - 1
        return out


# --------------------------------------------------------------- pipelines


_WEBLOG_STEPS = [
    {"type": "grok", "source": "value", "pattern": "%{COMBINEDAPACHELOG}"},
    {"type": "date", "source": "timestamp", "formats": ["dd/MMM/yyyy:HH:mm:ss Z"],
     "target": "@timestamp"},
    {"type": "translate", "source": "response",
     "mapping": {"200": "ok", "301": "redirect", "404": "not_found", "500": "server_error"},
     "target": "status_class", "default": "other"},
    {"type": "deadletter", "when": "clientip = ''", "reason": "grok_failure"},
]


def _cli_run(config: dict, path: str) -> None:
    from eventstreams_spark.__main__ import main

    with open(path, "w") as fh:
        json.dump(config, fh)
    main(["run", path])


def _drop(directory: str, name: str, lines: list[str]) -> None:
    """Write a file so the stream sees it whole: hidden name, then rename."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.writelines(lines)
    os.rename(tmp, os.path.join(directory, name))


def _trace_stream_run(tracer: Tracer, recorder: StreamRecorder, spark, name: str,
                      t_call: float, wall: float, events: int) -> None:
    """Record one ``run`` call of pipeline ``name`` that started at
    ``t_call`` (epoch s) and took ``wall`` seconds: its span, the CLI
    start-up time (call to the first ``onQueryStarted``) and every
    trigger of its queries. What the call added is also kept per
    pipeline, under ``by_pipeline.<name>.``."""
    before = dict(tracer.counters)
    sid = tracer.record("cli.run", t_call, t_call + wall, f"{name}@{t_call:.3f}")
    with recorder.lock:
        first = min(v["t"] for v in recorder.started.values())
    tracer.add("cli.run_s", wall)
    tracer.add("cli.start_s", first - t_call)
    tracer.add("generator.events", events)
    recorder.trace_into(tracer, spark, sid)
    for k, v in list(tracer.counters.items()):
        if not k.startswith("by_") and k not in tracer.peaks and v != before.get(k, 0.0):
            tracer.add(f"by_pipeline.{name}.{k}", v - before.get(k, 0.0))


class Weblog:
    """The weblog pipeline through ``python -m eventstreams_spark run``:
    grok -> date -> translate -> deadletter into a parquet sink and a
    parquet dead-letter queue (two streaming queries). Every file exists
    before ``run`` starts and both sinks use ``availableNow``, so each
    query reads the whole backlog in one batch."""

    name = "weblog"
    events = BACKLOG_FILES * BACKLOG_LINES_PER_FILE

    def __init__(self, run: Run, recorder: StreamRecorder) -> None:
        self.run = run
        self.recorder = recorder
        self.reps = 0

    def prepare(self) -> None:
        self.src = self.run.fresh("weblog")
        self.ref = {}
        for c in range(BACKLOG_FILES):
            lines, self.ref[f"c{c}"] = gen.weblog_chunk(self.run.seed, c, BACKLOG_LINES_PER_FILE)
            _drop(self.src, f"chunk-{c:05d}.log", lines)
        if self.run.corrupt:
            self.ref["c0"]["garbled"] += 1

    def _config(self, out: str) -> dict:
        trig = {"availableNow": True}
        return {
            "source": {"format": "text", "path": self.src, "stream": True, "schema": "value string"},
            "steps": _WEBLOG_STEPS,
            "sink": {"format": "parquet", "path": f"{out}/sink", "queryName": f"sink{self.reps}",
                     "checkpointLocation": f"{out}/ck-sink", **trig},
            "dlq": {"format": "parquet", "path": f"{out}/dlq", "queryName": f"dlq{self.reps}",
                    "checkpointLocation": f"{out}/ck-dlq", **trig},
        }

    def _check(self, out: str, tracer: Tracer | None) -> None:
        """Per file: healthy rows, the byte-count checksum of the healthy
        rows and dead letters must equal what the generator wrote."""
        from pyspark.sql import functions as F

        spark = self.run.spark
        healthy = {
            r["ident"]: (r["n"], r["b"])
            for r in spark.read.parquet(f"{out}/sink").groupBy("ident")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("bytes").cast("long")).alias("b"))
            .collect()
        }
        dead = {
            f"c{r['c']}": r["n"]
            for r in spark.read.parquet(f"{out}/dlq")
            .groupBy(F.regexp_extract("value", r"^garbled line (\d+)-", 1).alias("c"))
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if tracer is not None:
            tracer.add("sink.rows_healthy", sum(n for n, _ in healthy.values()))
            tracer.add("sink.rows_dlq", sum(dead.values()))
        for ok, what in check_files(healthy, dead, self.ref, range(BACKLOG_FILES)):
            self.run.count(ok, what)

    def rep(self, tracer: Tracer | None) -> float:
        """One ``run`` call with fresh checkpoints and outputs; its wall."""
        out = self.run.fresh("out")
        self.reps += 1
        self.recorder.reset()
        t_call = time.time()
        t0 = time.perf_counter()
        _cli_run(self._config(out), f"{out}/run.json")
        wall = time.perf_counter() - t0
        self.recorder.wait_terminated(30)
        if tracer is not None:
            _trace_stream_run(tracer, self.recorder, self.run.spark, self.name, t_call, wall,
                              self.events)
        self._check(out, tracer)
        return wall


class Drift:
    """``run`` with the ``schema_drift`` step (applyInPandasWithState)
    over JSON lines whose key-set shapes grow, one file per trigger
    (``maxFilesPerTrigger: 1``) and ``availableNow``."""

    name = "drift"
    events = DRIFT_FILES * DRIFT_LINES_PER_FILE

    def __init__(self, run: Run, recorder: StreamRecorder) -> None:
        self.run = run
        self.recorder = recorder
        self.reps = 0

    def prepare(self) -> None:
        self.src = self.run.fresh("drift")
        self.ref = Counter()
        for c in range(DRIFT_FILES):
            lines, counts = gen.drift_chunk(self.run.seed, c, DRIFT_LINES_PER_FILE, DRIFT_FILES)
            _drop(self.src, f"chunk-{c:05d}.json", lines)
            self.ref.update(counts)
        if self.run.corrupt:
            self.ref[min(self.ref)] += 1

    def rep(self, tracer: Tracer | None) -> float:
        """One ``run`` call with fresh checkpoints and outputs; its wall."""
        out = self.run.fresh("out")
        self.reps += 1
        self.recorder.reset()
        config = {
            "source": {"format": "text", "path": self.src, "stream": True,
                       "schema": "payload string", "maxFilesPerTrigger": 1},
            "steps": [{"type": "schema_drift", "source": "payload"}],
            "sink": {"format": "parquet", "path": f"{out}/sink", "queryName": f"drift{self.reps}",
                     "checkpointLocation": f"{out}/ck", "availableNow": True},
        }
        t_call = time.time()
        t0 = time.perf_counter()
        _cli_run(config, f"{out}/run.json")
        wall = time.perf_counter() - t0
        self.recorder.wait_terminated(30)
        if tracer is not None:
            _trace_stream_run(tracer, self.recorder, self.run.spark, self.name, t_call, wall,
                              self.events)
        # each key set's last total_rows, and the sum of its per-batch rows
        got = {
            r["key_set"]: (r["max(total_rows)"], r["sum(batch_rows)"])
            for r in self.run.spark.read.parquet(f"{out}/sink").groupBy("key_set")
            .agg({"total_rows": "max", "batch_rows": "sum"}).collect()
        }
        for ok, what in check_key_sets(got, self.ref):
            self.run.count(ok, what)
        return wall


class Pipelines:
    """Closed loop over the two ``run`` pipelines: the weblog backlog,
    then the schema-drift stream, repeated in that order."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.recorder = StreamRecorder()
        run.spark.streams.addListener(self.recorder)
        self.parts = [Weblog(run, self.recorder), Drift(run, self.recorder)]

    def prepare(self) -> None:
        for p in self.parts:
            p.prepare()

    def references(self) -> None:
        """The generator's own counts, made with the inputs."""

    def warm_up(self) -> None:
        for p in self.parts:
            p.rep(None)

    def measure(self, seconds: float, tracer: Tracer | None) -> dict:
        """Pairs of ``run`` calls until ``seconds`` have passed. Throughput
        is the events of a pair over the sum of each pipeline's median
        wall. With a tracer, pairs alternate untraced, traced."""
        walls = {p.name: [] for p in self.parts}
        traced = {p.name: [] for p in self.parts}
        end = time.perf_counter() + seconds
        pairs = 0
        while pairs < MIN_REPS or time.perf_counter() < end:
            t = tracer if tracer is not None and pairs % 2 else None
            for p in self.parts:
                (walls if t is None else traced)[p.name].append(p.rep(t))
            if t is not None:
                t.add("units", 1)  # one unit = one pair
            pairs += 1
        median = {n: statistics.median(v) for n, v in walls.items()}
        events = sum(p.events for p in self.parts)
        report = {"events_per_s": (events / sum(median.values()), "events/s"),
                  "pairs": (len(walls["weblog"]), "count")}
        for p in self.parts:
            report[f"{p.name}_events_per_s"] = (p.events / median[p.name], "events/s")
            report[f"{p.name}_events_per_run"] = (p.events, "count")
            report[f"{p.name}_run_walls_s"] = (walls[p.name], "s")
        out = {"ops_per_s": events / sum(median.values()), "report": report}
        if tracer is not None:
            traced_s = sum(statistics.median(v) for v in traced.values())
            out["trace.overhead_ratio"] = traced_s / sum(median.values()) - 1
        return out


