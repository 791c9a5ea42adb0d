"""Sustained streaming-throughput bench (VERDICT r9 #2).

Every streaming operator in the repo is correctness-golden'd via
availableNow replay, but the engine's Logstash-replacement story
needs a *number*: events/sec and per-batch latency for a
representative pipeline. This tool records three:

1. **Parse pipeline** — the CLI SOAK chain's streaming-native core
   (grok(COMBINEDAPACHELOG) → date → translate → deadletter split →
   parquet sink + parquet DLQ), driven exactly through the CLI code
   path (`__main__._outputs` → `_compile` → `_start_stream`, whose ONE
   foreachBatch query calls `_write_outputs` per micro-batch) over a self-minted N-line weblog
   corpus in K chunk files, availableNow with maxFilesPerTrigger=1 so
   each chunk is one micro-batch. Each micro-batch is parsed once and
   both outputs are committed from its cache, so
   `events_per_sec_wall` is end-to-end for the one query and
   `events_per_sec_main` is rows over its summed trigger time.

2. **Stateful GroupState op** — `schema_drift_stream` (the live
   producer-drift monitor) over a minted JSON corpus whose key-set
   shapes GROW over time (a new shape every `lines//shapes` rows),
   so per-batch state growth is visible in the progress metrics.
   Run twice: HDFS-backed state store, then RocksDB.

3. **Micro-batch floor** — the per-batch fixed cost (p50 trigger
   duration of the parse pipeline's batches minus pure row work)
   bounds how small a trigger interval makes sense; recorded to
   SCALE.md §26.

Prints ONE JSON line. Env knobs: STREAM_BENCH_LINES (default
1_000_000), STREAM_BENCH_CHUNKS (default 20), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

LINES = int(os.environ.get("STREAM_BENCH_LINES", "1000000"))
CHUNKS = int(os.environ.get("STREAM_BENCH_CHUNKS", "20"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))

_VERBS = ["GET", "GET", "GET", "POST", "PUT"]
_PATHS = ["/index.html", "/cart", "/checkout", "/about", "/api/v1/items",
          "/static/app.js", "/login", "/search"]
_STATUS = ["200", "200", "200", "200", "301", "404", "500"]
_UAS = ["Mozilla/5.0", "curl/8.0", "python-requests/2.31"]


def _mint_weblog(root: str) -> None:
    """K chunk files of deterministic COMBINEDAPACHELOG lines with
    ~1% garbled rows (the DLQ feed). Pure arithmetic, no RNG state."""
    per = LINES // CHUNKS
    for c in range(CHUNKS):
        with open(os.path.join(root, f"chunk-{c:04d}.log"), "w") as fh:
            base = c * per
            out = []
            for i in range(base, base + per):
                h = (i * 2654435761) & 0x7FFFFFFF
                if h % 100 == 7:  # garbled -> dead letter
                    out.append(f"garbled line {i} without structure\n")
                    continue
                ip = f"10.{(h >> 8) % 32}.{(h >> 16) % 256}.{h % 256}"
                user = f"user{h % 997}"
                mm, ss = (i // 60) % 60, i % 60
                hh = 10 + (i // 3600) % 12
                ts = f"10/Oct/2024:{hh:02d}:{mm:02d}:{ss:02d} +0000"
                verb = _VERBS[h % len(_VERBS)]
                path = _PATHS[(h >> 4) % len(_PATHS)]
                st = _STATUS[(h >> 7) % len(_STATUS)]
                nb = 200 + h % 4000
                ua = _UAS[(h >> 11) % len(_UAS)]
                out.append(
                    f'{ip} - {user} [{ts}] "{verb} {path} HTTP/1.1" '
                    f'{st} {nb} "-" "{ua}"\n'
                )
            fh.writelines(out)


def _mint_json(root: str, n_shapes: int = 50) -> None:
    """K chunk files of JSON event lines whose key-set shape drifts:
    shape s unlocks at row s * (LINES // n_shapes), so state (one
    row per shape) grows across the run — the metric VERDICT r9 #2
    asks to watch."""
    per = LINES // CHUNKS
    stride = max(1, LINES // n_shapes)
    extra_keys = [f"field_{j:02d}" for j in range(n_shapes)]
    for c in range(CHUNKS):
        with open(os.path.join(root, f"chunk-{c:04d}.json"), "w") as fh:
            base = c * per
            out = []
            for i in range(base, base + per):
                h = (i * 2654435761) & 0x7FFFFFFF
                shape = h % (1 + min(n_shapes - 1, i // stride))
                obj = {"event_id": i, "kind": f"k{shape % 7}"}
                for j in range(shape % 5):
                    obj[extra_keys[(shape + j) % n_shapes]] = j
                out.append(json.dumps(obj) + "\n")
            fh.writelines(out)


def _progress_stats(q) -> dict:
    """Per-batch latency distribution + state metrics from the
    query's recentProgress (kept for the last 100 batches)."""
    durs, rows, state_rows, state_mem = [], [], [], []
    for p in q.recentProgress:
        if p.get("numInputRows", 0) == 0 and not p.get("stateOperators"):
            continue
        durs.append(p["durationMs"].get("triggerExecution", 0))
        rows.append(p.get("numInputRows", 0))
        for so in p.get("stateOperators", []) or []:
            state_rows.append(so.get("numRowsTotal", 0))
            state_mem.append(so.get("memoryUsedBytes", 0))
    durs_s = sorted(durs)

    def pct(v, q_):
        return v[min(len(v) - 1, int(q_ * len(v)))] if v else 0

    busy_s = sum(durs) / 1000.0
    return {
        "n_batches": len(durs),
        "rows": sum(rows),
        "batch_ms_p50": pct(durs_s, 0.5),
        "batch_ms_p95": pct(durs_s, 0.95),
        "batch_ms_max": durs_s[-1] if durs_s else 0,
        "busy_s": round(busy_s, 2),
        "state_rows_first": state_rows[0] if state_rows else None,
        "state_rows_last": state_rows[-1] if state_rows else None,
        "state_mem_last_bytes": state_mem[-1] if state_mem else None,
    }


def bench_parse(spark, work: str, paced: bool) -> dict:
    """``paced=True``: maxFilesPerTrigger=1 → K micro-batches of one
    file each — per-batch parallelism is the file count (1), so this
    measures the PACED ingestion floor a `files-per-trigger`-throttled
    tail deployment sees. ``paced=False``: availableNow swallows the
    whole backlog in one batch (one partition per file) — the
    sustained catch-up throughput with full parallelism."""
    from eventstreams_spark.__main__ import _compile, _outputs, _start_stream

    mint = os.path.join(work, "weblog")
    mint_s = 0.0
    if not os.path.isdir(mint):
        os.makedirs(mint)
        t0 = time.time()
        _mint_weblog(mint)
        mint_s = time.time() - t0

    tag = "paced" if paced else "backlog"
    config = {
        "source": {"format": "text", "path": mint, "stream": True,
                   "schema": "value string"},
        "steps": [
            {"type": "grok", "source": "value",
             "pattern": "%{COMBINEDAPACHELOG}"},
            {"type": "date", "source": "timestamp",
             "formats": ["dd/MMM/yyyy:HH:mm:ss Z"],
             "target": "@timestamp"},
            {"type": "translate", "source": "response",
             "mapping": {"200": "ok", "301": "redirect",
                         "404": "not_found", "500": "server_error"},
             "target": "status_class", "default": "other"},
            {"type": "deadletter", "when": "clientip = ''",
             "reason": "grok_failure"},
        ],
        "sink": {"format": "parquet", "path": os.path.join(work, f"out-{tag}"),
                 "checkpointLocation": os.path.join(work, f"ck-{tag}"),
                 "availableNow": True, "queryName": f"soak-{tag}"},
        "dlq": {"format": "parquet", "path": os.path.join(work, f"dlq-{tag}")},
    }
    if paced:
        config["source"]["maxFilesPerTrigger"] = 1
    outputs = _outputs(config)
    _, out = _compile(config, "bench-stream")
    t0 = time.time()
    q = _start_stream(out, outputs)
    q.awaitTermination()
    wall = time.time() - t0
    st = _progress_stats(q)
    n_out = spark.read.parquet(os.path.join(work, f"out-{tag}")).count()
    n_dlq = spark.read.parquet(os.path.join(work, f"dlq-{tag}")).count()
    assert n_out + n_dlq == LINES, (n_out, n_dlq, LINES)
    return {
        "mode": tag,
        "mint_s": round(mint_s, 1),
        "wall_s": round(wall, 2),
        "events_per_sec_wall": int(LINES / wall),
        "events_per_sec_main": int(st["rows"] / st["busy_s"])
        if st["busy_s"]
        else None,
        "rows_healthy": n_out,
        "rows_dlq": n_dlq,
        **{k: v for k, v in st.items() if not k.startswith("state_")},
    }


def bench_schema_drift(spark, work: str, provider: str) -> dict:
    from eventstreams_spark.pipeline import read_source, write_sink
    from eventstreams_spark.streaming.stateful import schema_drift_stream
    from eventstreams_spark.streaming.state import (
        disable_rocksdb_state,
        enable_rocksdb_state,
    )

    mint = os.path.join(work, "jsonsrc")
    if not os.path.isdir(mint):
        os.makedirs(mint)
        _mint_json(mint)
    df = read_source(
        spark,
        {"format": "text", "path": mint, "stream": True,
         "schema": "payload string", "maxFilesPerTrigger": 1},
    )
    out = schema_drift_stream(df, "payload")
    if provider == "rocksdb":
        enable_rocksdb_state(spark)
    try:
        t0 = time.time()
        q = write_sink(
            out,
            {"format": "parquet",
             "path": os.path.join(work, f"drift-{provider}"),
             "checkpointLocation": os.path.join(work, f"ckd-{provider}"),
             "availableNow": True, "queryName": f"drift-{provider}"},
        )
        q.awaitTermination()
        wall = time.time() - t0
    finally:
        if provider == "rocksdb":
            disable_rocksdb_state(spark)
    st = _progress_stats(q)
    return {
        "provider": provider,
        "wall_s": round(wall, 2),
        "events_per_sec": int(LINES / wall),
        **st,
    }


def main() -> None:
    from eventstreams_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    spark = get_spark("bench-stream")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="bench-stream-")
    try:
        parse_backlog = bench_parse(spark, work, paced=False)
        parse_paced = bench_parse(spark, work, paced=True)
        drift_hdfs = bench_schema_drift(spark, work, "hdfs")
        drift_rocks = bench_schema_drift(spark, work, "rocksdb")
        result = {
            "metric": "stream_events_per_sec",
            "value": parse_backlog["events_per_sec_wall"],
            "unit": "events/sec",
            "lines": LINES,
            "chunks": CHUNKS,
            "cpus": CPUS,
            "parse_pipeline": [parse_backlog, parse_paced],
            "schema_drift": [drift_hdfs, drift_rocks],
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
