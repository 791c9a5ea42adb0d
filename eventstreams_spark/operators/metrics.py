"""Pipeline metrics (SURVEY §2.5 A13 — Logstash ``metrics`` filter).

Logstash's ``metrics`` filter counts/rates events flowing through a
pipeline without changing them. Spark's idiomatic equivalent is
``df.observe``: named aggregates evaluated *inline* with whatever
action runs the plan — zero extra scan, zero extra shuffle (the
metrics ride the existing job), which is the only acceptable cost
model at 100 TB (a separate ``count()`` would double the IO).

Batch: ``observed, obs = observe(df, "ingest", ...)`` then read
``obs.get`` after any action. Streaming: the same ``observe`` column
set surfaces per-batch in ``StreamingQueryProgress.observedMetrics``
— collect with ``MetricsListener``.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def standard_metrics(value_col: str | None = None) -> list[Column]:
    """The Logstash-metrics default set: event count, plus min/max/sum
    over an optional numeric column."""
    cols = [F.count(F.lit(1)).alias("events")]
    if value_col is not None:
        cols += [
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
            F.sum(value_col).alias("sum_value"),
        ]
    return cols


def observe(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation | str]:
    """Attach named inline metrics to a plan.

    Batch DataFrames return an ``Observation`` (read ``.get`` after an
    action). Streaming DataFrames can't use Observation — they get a
    string-named observation readable from query progress; pair with
    ``MetricsListener``.
    """
    cols = metrics or standard_metrics()
    if df.isStreaming:
        return df.observe(name, *cols), name
    obs = Observation(name)
    return df.observe(obs, *cols), obs


class MetricsListener(StreamingQueryListener):
    """Collects observedMetrics from every micro-batch, keyed by
    observation name — the bridge from ``observe`` to dashboards
    (Logstash's flush-interval emission maps to per-batch progress)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.by_name: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        observed = event.progress.observedMetrics or {}
        with self._lock:
            for name, row in observed.items():
                self.by_name.setdefault(name, []).append(row.asDict())

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        pass

    def totals(self, name: str) -> dict:
        """Sum numeric metrics across batches for one observation."""
        out: dict = {}
        for batch in self.by_name.get(name, []):
            for k, v in batch.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    out[k] = out.get(k, 0) + v
        return out

