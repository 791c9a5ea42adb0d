"""Semantics tests for funnel / cohort / centroid analytics."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from eventstreams_spark import registry
from tests.util import assert_recorded

registry._ensure_loaded()


def q(name, spark, sf_dir):
    return registry.REGISTRY[name].builder(spark, sf_dir)


def test_funnel_is_monotone_and_ordered(spark, sf_dir):
    rows = {r["stage_order"]: r["n_users"]
            for r in q("funnel_3step_conversion", spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] >= rows[2] >= rows[3]


def test_funnel_respects_event_order(spark):
    """A purchase BEFORE the first view>click chain must not count."""
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: purchase happens before the click -> stops at stage 2
        (1, t(0), "view"), (1, t(1), "purchase"), (1, t(2), "click"),
        # user 2: full ordered funnel
        (2, t(0), "view"), (2, t(1), "click"), (2, t(2), "purchase"),
        # user 3: click with no prior view -> stage 0
        (3, t(0), "click"), (3, t(1), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_type string")
    df.createOrReplaceTempView("_funnel_probe")
    from eventstreams_spark.queries.behavior import funnel_3step_conversion
    import eventstreams_spark.catalog as catalog

    orig = catalog.load_table
    try:
        catalog_load = lambda spark_, sf_, name: spark.table("_funnel_probe")
        import eventstreams_spark.queries.behavior as b
        b.load_table = catalog_load
        out = {r["stage_order"]: r["n_users"]
               for r in funnel_3step_conversion(spark, "ignored").collect()}
    finally:
        b.load_table = orig
    assert out == {1: 2, 2: 2, 3: 1}


def test_cohort_offsets_nonnegative_and_day0_full(spark, sf_dir):
    rows = q("cohort_daily_retention", spark, sf_dir).collect()
    assert all(r["day_offset"] >= 0 for r in rows)
    day0 = [r for r in rows if r["day_offset"] == 0]
    # every user is active on their own cohort day
    assert all(r["n_active"] == r["n_cohort"] for r in day0)
    assert all(abs(r["retention"] - 1.0) < 1e-9 for r in day0)


def test_cohort_sizes_join_is_broadcast():
    assert_recorded("cohort_daily_retention", {"join.BroadcastHashJoin": ">=1"})


def test_centroid_shape_and_no_python(spark, sf_dir):
    assert_recorded("embedding_centroid_per_label", {"python": 0})
    rows = q("embedding_centroid_per_label", spark, sf_dir).collect()
    labels = {r["label"] for r in rows}
    assert len(rows) == len(labels) * 64  # one row per (label, dim)
    # centroid of unit-ish embeddings stays in a sane range
    assert all(-1.5 < r["mean_val"] < 1.5 for r in rows)


def test_cep_chain_ordering_invariants(spark, sf_dir):
    rows = q("cep_sequence_chain", spark, sf_dir).collect()
    assert rows, "expected matched sequences at this sf"
    from datetime import timedelta
    for r in rows:
        assert r["view_ts"] < r["click_ts"] <= r["view_ts"] + timedelta(hours=24)
        assert r["click_ts"] < r["purchase_ts"] <= r["click_ts"] + timedelta(hours=24)
    # first-match semantics: one row per (user, view) anchor
    anchors = {(r["user_id"], r["view_ts"]) for r in rows}
    assert len(anchors) == len(rows)


def test_unpivot_is_expand_no_python(spark, sf_dir):
    assert_recorded("unpivot_melt_metrics", {"op.Expand": ">=1", "python": 0})
    rows = q("unpivot_melt_metrics", spark, sf_dir).collect()
    types = {r["event_type"] for r in rows}
    assert len(rows) == 3 * len(types)  # 3 metrics per type
