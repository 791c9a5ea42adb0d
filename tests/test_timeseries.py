"""Semantics + plan-shape tests for the timeseries/sampling batch:
native session windows, gap fill with LOCF, CDC keep-latest,
histogram, stratified hash sampling, PII redaction."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from eventstreams_spark import registry
from eventstreams_spark.plans import formatted_plan
from tests.util import assert_recorded, shuffle_exchanges

registry._ensure_loaded()


def q(name, spark, sf_dir):
    return registry.REGISTRY[name].builder(spark, sf_dir)


def test_session_window_gap_edge(spark):
    """An event at exactly prev_ts + gap starts a NEW session
    (end-exclusive), one inside the gap extends it."""
    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + timedelta(minutes=29, seconds=59)),  # extends
        (1, t0 + timedelta(minutes=59, seconds=59) + timedelta(minutes=30)),  # new
        (2, t0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .select("user_id", "session_window.start", "session_window.end", "count")
        .orderBy("user_id", "start")
        .collect()
    )
    assert len(out) == 3
    # user 1 session 1: [t0, second_event + 30min)
    assert out[0]["start"] == t0
    assert out[0]["end"] == t0 + timedelta(minutes=59, seconds=59)
    assert out[0]["count"] == 2
    assert out[1]["count"] == 1
    assert out[2]["user_id"] == 2


def test_gapfill_grid_is_dense_and_locf_monotone(spark, sf_dir):
    rows = q("gapfill_hourly_locf", spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for typ, trs in by_type.items():
        trs.sort(key=lambda r: r["bucket"])
        # dense hourly grid: consecutive buckets differ by exactly 1h
        for a, b in zip(trs, trs[1:]):
            assert b["bucket"] - a["bucket"] == timedelta(hours=1), typ
        # LOCF: null raw slots carry the previous observed value
        prev = None
        for r in trs:
            if r["sum_scaled"] is not None:
                prev = r["sum_scaled"]
            assert r["sum_scaled_locf"] == prev


def test_cdc_latest_one_row_per_key(spark, sf_dir):
    df = q("cdc_latest_by_key", spark, sf_dir)
    n_keys = df.select("user_id").distinct().count()
    assert df.count() == n_keys
    # single wide exchange: hash-partition by user_id for the window
    assert shuffle_exchanges(df) == 1


def test_stratified_sample_no_shuffle_and_rates(spark, sf_dir):
    df = q("sample_stratified_hash", spark, sf_dir)
    assert "Exchange" not in formatted_plan(df)
    got = {r["event_type"]: r["n"] for r in
           df.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    from eventstreams_spark.catalog import load_table

    tot = {r["event_type"]: r["n"] for r in
           load_table(spark, sf_dir, "events").groupBy("event_type")
           .agg(F.count("*").alias("n")).collect()}
    # nominal rates: error 100%, purchase 50%, click 6.25% (md5 variance)
    assert got["error"] == tot["error"]
    assert 0.35 < got["purchase"] / tot["purchase"] < 0.65
    assert 0.01 < got["click"] / tot["click"] < 0.15


def test_stratified_sample_is_reproducible(spark, sf_dir):
    a = sorted(r["event_id"] for r in q("sample_stratified_hash", spark, sf_dir).collect())
    b = sorted(r["event_id"] for r in q("sample_stratified_hash", spark, sf_dir).collect())
    assert a == b


def test_redact_pii_no_python_no_shuffle(spark, sf_dir):
    assert_recorded("redact_pii", {"python": 0})
    df = q("redact_pii", spark, sf_dir)
    assert "Exchange" not in formatted_plan(df)
    sample = df.limit(50).collect()
    for r in sample:
        assert "@" not in r["redacted"]
        assert "<EMAIL>" in r["redacted"]
        assert "<IP>" in r["redacted"]


def test_histogram_two_phase_agg(spark, sf_dir):
    assert_recorded("agg_histogram_width_bucket", {"op.HashAggregate": ">=2"})
    df = q("agg_histogram_width_bucket", spark, sf_dir)
    from eventstreams_spark.catalog import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    total = sum(r["n"] for r in df.collect())
    assert total == n_events  # every event lands in exactly one bucket


def test_hll_mergeable_close_to_exact(spark, sf_dir):
    """Self-certifying form (r4): the query itself asserts the daily-
    sketch union lands within 5% of exact; here we double-check the
    exact column AND the tighter direct bound on the raw union."""
    from eventstreams_spark.catalog import load_table

    rows = {r["event_type"]: r
            for r in q("agg_distinct_hll_mergeable", spark, sf_dir).collect()}
    exact = {r["event_type"]: r["n"]
             for r in load_table(spark, sf_dir, "events")
             .groupBy("event_type").agg(F.count_distinct("user_id").alias("n"))
             .collect()}
    for typ, n in exact.items():
        assert rows[typ]["exact_users"] == n
        assert rows[typ]["union_within_5pct"] is True
    # tighter direct bound on the raw unioned estimate
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(12)).alias("sk")
    )
    approx = {
        r["event_type"]: r["a"]
        for r in daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("a"))
        .collect()
    }
    for typ, n in exact.items():
        assert abs(approx[typ] - n) / n < 0.05, (typ, approx[typ], n)


def test_approx_percentile_within_exact_bounds(spark, sf_dir):
    """Self-certifying form (r4): query verdicts must be TRUE, and the
    raw GK estimates (recomputed here) must sit inside the tighter
    neighboring-exact-percentile bounds."""
    from eventstreams_spark.catalog import load_table

    for r in q("agg_approx_percentile_sketch", spark, sf_dir).collect():
        assert r["p50_in_band"] is True and r["p99_in_band"] is True, r
    approx = {
        r["event_type"]: (r["p50_approx"], r["p99_approx"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_percentile("value", F.lit(0.5), F.lit(10000)).alias("p50_approx"),
            F.approx_percentile("value", F.lit(0.99), F.lit(10000)).alias("p99_approx"),
        )
        .collect()
    }
    exact = {
        r["event_type"]: (r["lo50"], r["hi50"], r["lo99"], r["hi99"])
        for r in load_table(spark, sf_dir, "events").groupBy("event_type").agg(
            F.percentile("value", F.lit(0.45)).alias("lo50"),
            F.percentile("value", F.lit(0.55)).alias("hi50"),
            F.percentile("value", F.lit(0.95)).alias("lo99"),
            F.percentile("value", F.lit(1.0)).alias("hi99"),
        ).collect()
    }
    for typ, (p50, p99) in approx.items():
        lo50, hi50, lo99, hi99 = exact[typ]
        assert lo50 <= p50 <= hi50, (typ, p50, lo50, hi50)
        assert lo99 <= p99 <= hi99, (typ, p99, lo99, hi99)


def test_quality_report_one_scan_for_row_rules(spark, sf_dir):
    """All row-local rules + uniqueness must share one aggregate (one
    scan); only the FK check may add more."""
    df = q("dq_checks_events", spark, sf_dir)
    rows = {r["rule"]: r["n_violations"] for r in df.collect()}
    assert len(rows) == 5
    assert rows["unique:event_id"] == 0
    assert rows["not_null:props"] == 0
    # clean testdata: fk violations zero; rule still exercised
    assert rows["foreign_key:user_id->c_custkey"] == 0


def test_quality_report_detects_injected_violations(spark):
    from eventstreams_spark.operators.quality import (
        in_range, not_null, quality_report,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (2, 900.0)], "id int, v double"
    )
    dim = spark.createDataFrame([(1,)], "id int")
    got = {r["rule"]: r["n_violations"] for r in quality_report(
        df,
        row_rules=[not_null("v"), in_range("v", 0, 500)],
        unique_key="id",
        foreign_keys=[("id", dim, "id")],
    ).collect()}
    assert got["not_null:v"] == 1
    assert got["in_range:v"] == 2      # null counts as out-of-range too
    assert got["unique:id"] == 1       # id=2 twice
    assert got["foreign_key:id->id"] == 2
