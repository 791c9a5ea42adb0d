"""Streaming golden tests (SURVEY §5.3.4): availableNow replay of
testdata through streaming operators, compared against the identical
batch builders (T1/T3/T10) and hand-computed late-data goldens (T4/T5).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from eventstreams_spark.catalog import load_table
from eventstreams_spark.streaming import session_agg, stream_dedup, tumbling_agg
from tests.util import split_half
from eventstreams_spark.streaming.replay import replay_table, run_to_memory

# Most of these micro-batch/restart goldens (~22 min) are marked for the
# slow tier (pytest.ini). The default tier keeps a streaming smoke set:
# one GroupState happy path, one GroupState restart, a GroupState
# operator over a long key (the output key keeps the input key's type),
# the exactly-once file sink across restarts, and the Spark-free
# state-blob parsers.


@pytest.fixture()
def events_slice(spark, sf_dir):
    # one day of events keeps each streaming test a few seconds
    return load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.slow
def test_tumbling_stream_equals_batch(spark, events_slice, tmp_path):
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")]
    stream = replay_table(spark, events_slice, str(tmp_path), chunks=3, order_col="ts")
    out = tumbling_agg(stream, "ts", "1 hour", ["event_type"], aggs, watermark="10 minutes")
    run_to_memory(out, "t_tumble", output_mode="append")
    got = spark.sql("SELECT window_start, event_type, n, round(sv, 6) AS sv FROM t_tumble")
    # append mode emits only windows CLOSED by the final watermark
    # (max event time - 10 min); the last open window stays in state.
    wm = events_slice.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0].wm
    want = (
        tumbling_agg(events_slice, "ts", "1 hour", ["event_type"], aggs)
        .filter(F.col("window_end") <= F.lit(wm))
        .select("window_start", "event_type", "n", F.round("sv", 6).alias("sv"))
    )
    assert _rows(got) == _rows(want)


@pytest.mark.slow
def test_session_stream_equals_batch(spark, events_slice, tmp_path):
    ev = events_slice.filter(F.col("user_id") <= 20)
    aggs = [F.count(F.lit(1)).alias("n")]
    stream = replay_table(spark, ev, str(tmp_path), chunks=2, order_col="ts")
    out = session_agg(stream, "ts", "30 minutes", ["user_id"], aggs, watermark="1 hour")
    run_to_memory(out, "t_sess", output_mode="append")
    got = spark.sql("SELECT user_id, session_start, session_end, n FROM t_sess")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("wm")).collect()[0].wm
    want = (
        session_agg(ev, "ts", "30 minutes", ["user_id"], aggs)
        .filter(F.col("session_end") <= F.lit(wm))
        .select("user_id", "session_start", "session_end", "n")
    )
    assert _rows(got) == _rows(want)


@pytest.mark.slow
def test_watermark_drops_late_rows(spark, tmp_path):
    """Three micro-batches: (1) on-time rows advance the watermark,
    (2) a too-late row arrives and must be dropped, (3) flush.
    maxFilesPerTrigger=1 + one file per chunk forces the ordering."""
    import os

    base = "2024-01-01 {}:00:00"
    # NOTE the watermark set by a batch becomes effective one batch
    # later than its progress line suggests — the late row must arrive
    # ≥2 batches after the data that advanced the watermark.
    batches = [
        [("a", base.format("10")), ("a", base.format("12"))],  # wm -> 11:50
        [("a", base.format("13"))],  # on-time spacer batch
        [("a", base.format("10"))],  # below effective wm => dropped
        [("a", base.format("14"))],  # flush: wm -> 13:50 closes the 12:00 window
    ]
    from eventstreams_spark.streaming.replay import stage_files

    path = os.path.join(str(tmp_path), "replay")
    for i, rows in enumerate(batches):
        stage_files(
            spark.createDataFrame(rows, "k string, ts_s string").select(
                "k", F.to_timestamp("ts_s").alias("ts")
            ),
            path,
            i,
        )
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = tumbling_agg(
        stream, "ts", "1 hour", ["k"], [F.count(F.lit(1)).alias("n")], watermark="10 minutes"
    )
    run_to_memory(out, "t_late", output_mode="append")
    got = {
        (r.window_start.hour, r.n)
        for r in spark.sql("SELECT window_start, n FROM t_late").collect()
    }
    # the late 10:00 duplicate must NOT be double-counted
    assert (10, 1) in got and (12, 1) in got
    assert (10, 2) not in got


@pytest.mark.slow
def test_stream_dedup_within_watermark(spark, events_slice, tmp_path):
    dup = events_slice.unionAll(events_slice)  # every event twice
    stream = replay_table(spark, dup, str(tmp_path), chunks=2, order_col="ts")
    out = stream_dedup(stream, ["event_id"], ts_col="ts", watermark="1 hour")
    run_to_memory(out, "t_dedup", output_mode="append")
    n = spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0].n
    assert n == events_slice.count()


@pytest.mark.slow
def test_stream_static_join(spark, sf_dir, events_slice, tmp_path):
    """T10/J10: streaming events enriched against a static dim table."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = replay_table(spark, events_slice.limit(500), str(tmp_path))
    out = stream.join(F.broadcast(dim), "user_id", "inner").select(
        "event_id", "user_id", "c_mktsegment"
    )
    run_to_memory(out, "t_ssj", output_mode="append")
    got = spark.sql("SELECT count(*) AS n, count(c_mktsegment) AS nm FROM t_ssj").collect()[0]
    assert got.n > 0 and got.n == got.nm


def test_throttle_stream_state_across_batches(spark, tmp_path):
    """T6/T7: per-key admitted-counter persists across micro-batches —
    batch 2 admits nothing for a key exhausted in batch 1."""
    from eventstreams_spark.streaming.stateful import throttle_stream

    rows = [("a", f"2024-01-01 10:{m:02d}:00") for m in range(6)] + [
        ("b", "2024-01-01 10:00:00")
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string")
        .select("k", F.to_timestamp("ts_s").alias("ts"))
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
    out = throttle_stream(stream, "k", "ts", limit=3)
    run_to_memory(out, "t_thr", output_mode="append")
    got = spark.sql("SELECT k, count(*) AS n, max(n_admitted) AS mx FROM t_thr GROUP BY k")
    by_key = {r.k: (r.n, r.mx) for r in got.collect()}
    assert by_key["a"] == (3, 3), by_key
    assert by_key["b"] == (1, 1), by_key


@pytest.mark.parametrize(
    "key_type, a, b",
    [pytest.param("string", "a", "b", marks=pytest.mark.slow), ("long", 1, 2)],
)
def test_accumulate_stream_running_totals(spark, tmp_path, key_type, a, b):
    """The output key column keeps the input key's type: a long key
    declared as string fails the Arrow conversion of every batch."""
    from eventstreams_spark.streaming.stateful import accumulate_stream

    df = spark.createDataFrame(
        [(a, 1.0), (a, 2.0), (b, 10.0)], f"k {key_type}, v double"
    )
    stream = replay_table(spark, df, str(tmp_path))
    out = accumulate_stream(stream, "k", "v")
    assert out.schema["k"].dataType == df.schema["k"].dataType
    run_to_memory(out, f"t_acc_{key_type}", output_mode="update")
    got = {r.k: (r.running_sum, r.running_count) for r in spark.sql(
        "SELECT k, max(running_sum) AS running_sum, max(running_count) AS running_count"
        f" FROM t_acc_{key_type} GROUP BY k").collect()}
    assert got[a] == (3.0, 2) and got[b] == (10.0, 1)


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark, events_slice, tmp_path):
    """J11: click→purchase pairing per user within 30 minutes, both
    sides streamed; inner-join output must equal the batch range join."""
    from eventstreams_spark.streaming.joins import stream_stream_join

    ev = events_slice.filter(F.col("user_id") <= 30).select(
        "event_id", "ts", "user_id", "event_type"
    )
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    buys = ev.filter(F.col("event_type") == "purchase").drop("event_type")

    s_clicks = replay_table(spark, clicks, str(tmp_path / "c"), chunks=2, order_col="ts")
    s_buys = replay_table(spark, buys, str(tmp_path / "b"), chunks=2, order_col="ts")
    out = stream_stream_join(
        s_clicks,
        s_buys,
        keys=["user_id"],
        within="30 minutes",
        watermark="2 hours",
    )
    run_to_memory(out, "t_ssj", output_mode="append")
    got = spark.sql(
        "SELECT user_id, l_event_id, r_event_id FROM t_ssj"
    )

    want = (
        clicks.alias("l")
        .join(
            buys.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("l_event_id"),
            F.col("r.event_id").alias("r_event_id"),
        )
    )
    assert _rows(got) == _rows(want)


@pytest.mark.slow
def test_sliding_stream_equals_batch(spark, events_slice, tmp_path):
    """T2: 1h window sliding by 15m — streamed result must equal the
    batch builder for all windows closed by the final watermark."""
    from eventstreams_spark.streaming import sliding_agg

    aggs = [F.count(F.lit(1)).alias("n")]
    stream = replay_table(spark, events_slice, str(tmp_path), chunks=3, order_col="ts")
    out = sliding_agg(
        stream, "ts", "1 hour", "15 minutes", ["event_type"], aggs,
        watermark="10 minutes",
    )
    run_to_memory(out, "t_slide", output_mode="append")
    got = spark.sql("SELECT window_start, event_type, n FROM t_slide")
    wm = events_slice.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0].wm
    want = (
        sliding_agg(events_slice, "ts", "1 hour", "15 minutes", ["event_type"], aggs)
        .filter(F.col("window_end") <= F.lit(wm))
        .select("window_start", "event_type", "n")
    )
    assert _rows(got) == _rows(want)


@pytest.mark.slow
def test_foreach_batch_sink(spark, events_slice, tmp_path):
    """K6: arbitrary per-batch handler through the pipeline sink config."""
    from eventstreams_spark.pipeline import write_sink

    seen: list[tuple[int, int]] = []

    def handler(batch_df, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    ev = events_slice
    n_total = ev.count()
    stream = replay_table(spark, ev, str(tmp_path), chunks=2, order_col="ts")
    q = write_sink(
        stream,
        {"format": "foreachBatch", "function": handler, "availableNow": True,
         "checkpointLocation": str(tmp_path / "ck")},
    )
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == n_total
    assert len(seen) >= 2  # chunked replay -> multiple batches


@pytest.mark.slow
def test_foreach_batch_idempotent_retry(spark, tmp_path):
    """K6/T9 retry contract: after a handler crash mid-batch, restarting
    from the SAME checkpoint re-delivers the SAME batch_id with the SAME
    rows — so a sink that writes keyed by batch_id (overwrite) stays
    exactly-once even though foreachBatch itself is at-least-once."""
    from eventstreams_spark.streaming.replay import stage_files

    ev_path = str(tmp_path / "ev")
    sink = tmp_path / "sink"
    ck = str(tmp_path / "ck")
    ev = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "event_id long, k long"
    )
    stage_files(ev.filter("event_id < 6"), ev_path, 1)
    stage_files(ev.filter("event_id >= 6"), ev_path, 2)

    deliveries: list[tuple[int, tuple]] = []
    crashed = {"done": False}

    def handler(batch_df, batch_id: int) -> None:
        rows = tuple(sorted(r["event_id"] for r in batch_df.collect()))
        deliveries.append((batch_id, rows))
        # idempotent write: keyed by batch_id, overwrite semantics
        batch_df.write.mode("overwrite").parquet(str(sink / f"b{batch_id}"))
        if not crashed["done"]:
            crashed["done"] = True  # partial work done, THEN crash
            raise RuntimeError("injected sink failure after write")

    def run():
        return (
            spark.readStream.schema("event_id long, k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_path)
            .writeStream.foreachBatch(handler)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(Exception):
        run().awaitTermination()
    run().awaitTermination()

    # same batch_id retried with identical content
    first_ids = [bid for bid, _ in deliveries]
    assert first_ids.count(0) == 2, deliveries
    b0 = [rows for bid, rows in deliveries if bid == 0]
    assert b0[0] == b0[1], "retried batch must replay identical rows"
    # exactly-once at the sink despite the at-least-once delivery
    got = sorted(
        r["event_id"] for r in spark.read.parquet(str(sink / "b*")).collect()
    )
    assert got == list(range(12))


@pytest.mark.slow
def test_stream_static_dim_refreshes_per_batch(spark, tmp_path):
    """Stream-static join re-reads the static side per micro-batch, so
    a dim table updated between batches enriches later events with the
    NEW dim rows (the slowly-changing-dimension operational pattern:
    no restart needed to pick up dim changes)."""
    from eventstreams_spark.streaming.replay import stage_files

    dim_path = str(tmp_path / "dim")
    ev_path = str(tmp_path / "ev")
    spark.createDataFrame([(1, "v1")], "k int, label string").write.mode(
        "overwrite"
    ).parquet(dim_path)

    # both event files staged up front (availableNow snapshots the file
    # listing at start); maxFilesPerTrigger=1 still yields two batches
    ev = spark.createDataFrame([(1, 1), (1, 2)], "k int, seq int")
    stage_files(ev.filter("seq = 1"), ev_path, 1)
    stage_files(ev.filter("seq = 2"), ev_path, 2)

    seen = []

    def handle(batch_df, bid):
        dim = batch_df.sparkSession.read.parquet(dim_path)
        rows = batch_df.join(dim, "k").collect()
        seen.extend((r["seq"], r["label"]) for r in rows)
        if bid == 0:
            # between batches: dim changes on disk
            batch_df.sparkSession.createDataFrame(
                [(1, "v2")], "k int, label string"
            ).write.mode("overwrite").parquet(dim_path)

    stream = (
        spark.readStream.schema("k int, seq int")
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_path)
    )
    (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(seen) == [(1, "v1"), (2, "v2")]


@pytest.mark.slow
def test_tumbling_update_mode_final_state_equals_batch(spark, events_slice, tmp_path):
    """T8 output modes: update-mode emits a row per changed window per
    batch; the LAST emission per (window, key) must equal the batch
    aggregate over all data — no watermark cutoff, unlike append."""
    aggs = [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sv")]
    stream = replay_table(spark, events_slice, str(tmp_path), chunks=3, order_col="ts")
    out = tumbling_agg(stream, "ts", "1 hour", ["event_type"], aggs,
                       watermark="10 minutes")
    run_to_memory(out, "t_upd", output_mode="update")
    # memory sink appends every update; keep the last row per key
    got = spark.sql("""
        SELECT window_start, event_type, n, sv FROM (
            SELECT *, row_number() OVER (
                PARTITION BY window_start, event_type ORDER BY n DESC
            ) AS rn FROM t_upd
        ) WHERE rn = 1
    """)
    want = (
        tumbling_agg(events_slice, "ts", "1 hour", ["event_type"], aggs)
        .select("window_start", "event_type", "n", "sv")
    )
    assert _rows(got) == _rows(want)


@pytest.mark.slow
def test_stream_stream_left_outer_null_emission(spark, tmp_path):
    """J11 LEFT OUTER: matched pairs emit immediately; an unmatched
    left row emits with a NULL right side only once the watermark
    passes its join-window expiry (ts + within). Rows whose window is
    still open when the stream drains stay in state and must NOT
    appear with nulls."""
    from eventstreams_spark.streaming.joins import stream_stream_join
    from eventstreams_spark.streaming.replay import stage_files

    def mk(rows):
        return spark.createDataFrame(
            [(i, t, u) for i, (t, u) in enumerate(rows)],
            "event_id long, ts string, user_id long",
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")

    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    # batch 1: c0 (will match), c1 (never matches; expiry 10:35)
    stage_files(mk([("2024-01-01 10:00:00", 1), ("2024-01-01 10:05:00", 2)]), cdir + "/replay", 1)
    stage_files(mk([("2024-01-01 10:10:00", 1)]), bdir + "/replay", 1)
    # batch 2: spacers advance the watermark source-side (wm 11:50,
    # effective one batch later); their own expiry (12:30) stays open
    stage_files(mk([("2024-01-01 12:00:00", 3)]), cdir + "/replay", 2)
    stage_files(mk([("2024-01-01 12:00:00", 4)]), bdir + "/replay", 2)
    # batch 3: flush — effective wm 11:50 > c1's 10:35 expiry
    stage_files(mk([("2024-01-01 13:00:00", 5)]), cdir + "/replay", 3)
    stage_files(mk([("2024-01-01 13:00:00", 6)]), bdir + "/replay", 3)

    schema = "event_id long, ts timestamp, user_id long"
    s_clicks = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(cdir + "/replay")
    )
    s_buys = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(bdir + "/replay")
    )
    out = stream_stream_join(
        s_clicks, s_buys, keys=["user_id"],
        within="30 minutes", watermark="10 minutes", how="left",
    )
    run_to_memory(out, "t_ssj_left", output_mode="append")
    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.sql("SELECT user_id, l_event_id, r_event_id FROM t_ssj_left").collect()
    }
    assert (1, 0, 0) in got                      # matched pair
    # final watermark = 13:00 - 10m = 12:50 (availableNow runs a
    # trailing finalization batch): expires user 2 (10:35) and user 3
    # (12:30); user 5's window (13:30) is still open -> held in state
    assert (2, 1, None) in got
    assert (3, 0, None) in got  # event ids restart per staged batch
    open_left = {u for (u, _, r) in got if r is None and u not in (2, 3)}
    assert not open_left


@pytest.mark.slow
def test_session_dynamic_gap_stream_equals_batch(spark, events_slice, tmp_path):
    """T3 dynamic gap, streamed: error events close after 10 minutes,
    others after 30 — the streamed result must equal the batch
    builder for all sessions closed by the final watermark."""
    gap = F.expr(
        "CASE WHEN event_type = 'error' THEN make_interval(0, 0, 0, 0, 0, 10, 0)"
        " ELSE make_interval(0, 0, 0, 0, 0, 30, 0) END"
    )
    ev = events_slice.filter(F.col("user_id") <= 20)
    aggs = [F.count(F.lit(1)).alias("n")]
    stream = replay_table(spark, ev, str(tmp_path), chunks=2, order_col="ts")
    out = session_agg(stream, "ts", gap, ["user_id"], aggs, watermark="1 hour")
    run_to_memory(out, "t_dyn_sess", output_mode="append")
    got = spark.sql("SELECT user_id, session_start, session_end, n FROM t_dyn_sess")
    wm = ev.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("wm")).collect()[0].wm
    want = (
        session_agg(ev, "ts", gap, ["user_id"], aggs)
        .filter(F.col("session_end") <= F.lit(wm))
        .select("user_id", "session_start", "session_end", "n")
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0


@pytest.mark.slow
def test_stream_stream_full_outer_both_null_sides(spark, tmp_path):
    """J11 FULL OUTER: expired unmatched rows emit null-padded from
    BOTH sides once the watermark passes their windows."""
    from eventstreams_spark.streaming.joins import stream_stream_join
    from eventstreams_spark.streaming.replay import stage_files

    def mk(rows):
        return spark.createDataFrame(
            [(i, t, u) for i, (t, u) in enumerate(rows)],
            "event_id long, ts string, user_id long",
        ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")

    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    # user 1 matches; user 2 = left-only; user 9 = right-only
    stage_files(mk([("2024-01-01 10:00:00", 1), ("2024-01-01 10:05:00", 2)]), cdir + "/replay", 1)
    stage_files(mk([("2024-01-01 10:10:00", 1), ("2024-01-01 10:05:00", 9)]), bdir + "/replay", 1)
    stage_files(mk([("2024-01-01 13:00:00", 5)]), cdir + "/replay", 2)
    stage_files(mk([("2024-01-01 13:00:00", 6)]), bdir + "/replay", 2)

    schema = "event_id long, ts timestamp, user_id long"
    s_l = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(cdir + "/replay")
    s_r = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(bdir + "/replay")
    out = stream_stream_join(
        s_l, s_r, keys=["user_id"],
        within="30 minutes", watermark="10 minutes", how="full",
    )
    run_to_memory(out, "t_ssj_full", output_mode="append")
    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.sql("SELECT user_id, l_event_id, r_event_id FROM t_ssj_full").collect()
    }
    assert (1, 0, 0) in got            # matched
    assert (2, 1, None) in got         # left expired unmatched
    assert (9, None, 1) in got         # right expired unmatched


@pytest.mark.slow
def test_chained_window_aggregation_single_query(spark, events_slice, tmp_path):
    """Window-on-window in ONE streaming query (Spark >= 3.4): 5-min
    partial counts re-aggregated to 1-hour totals without an
    intermediate sink; hourly totals must equal the direct batch 1h
    aggregation for all hours closed by the final watermark."""
    stream = replay_table(spark, events_slice, str(tmp_path), chunks=3, order_col="ts")
    five = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w5"), "event_type")
        .agg(F.count(F.lit(1)).alias("n5"))
    )
    hourly = (
        five.groupBy(F.window(F.col("w5"), "1 hour").alias("w1"), "event_type")
        .agg(F.sum("n5").alias("n"))
        .select(F.col("w1.start").alias("window_start"), "event_type", "n")
    )
    run_to_memory(hourly, "t_chain", output_mode="append")
    got = spark.sql("SELECT window_start, event_type, n FROM t_chain")
    wm = events_slice.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0].wm
    want = (
        events_slice.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(wm))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_file_sink_exactly_once_across_restarts(spark, tmp_path):
    """T9: parquet sink + checkpoint — re-running a drained query must
    not duplicate rows, and new input after restart appends only the
    new rows (commit-log idempotence)."""
    from eventstreams_spark.streaming.replay import stage_files

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain():
        stream = (
            spark.readStream.schema("k string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    stage_files(spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long"), src, 1)
    drain()
    assert spark.read.parquet(out).count() == 2
    drain()  # restart with no new data: nothing re-emitted
    assert spark.read.parquet(out).count() == 2
    stage_files(spark.createDataFrame([("c", 3)], "k string, v long"), src, 2)
    drain()  # restart with one new file: only the new row lands
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [("a", 1), ("b", 2), ("c", 3)]


@pytest.mark.slow
def test_cdc_keep_latest_update_mode(spark, events_slice, tmp_path):
    """Streaming CDC keep-latest: update-mode max_by aggregation per
    key; the final state must equal the batch changelog compaction
    (latest (ts, event_id) per user)."""
    ev = events_slice.filter(F.col("user_id") <= 30).select(
        "user_id", "ts", "event_id", "value"
    )
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    latest = stream.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_id", "value"), F.struct("ts", "event_id")
        ).alias("last")
    )
    run_to_memory(latest, "t_cdc", output_mode="complete")
    got = {
        r.user_id: (r.last.event_id, r.last.value)
        for r in spark.sql("SELECT user_id, last FROM t_cdc").collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = {
        r.user_id: (r.event_id, r.value)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_multiline_stream_reassembles_across_batches(spark, tmp_path):
    """S-codec streamed: a stack trace whose continuation lines arrive
    in a LATER micro-batch must still glue onto the open event held in
    state; the completed event emits when the next start line arrives,
    and the trailing open event stays in state (append semantics,
    flushed only by a later start or the processing-time timeout)."""
    from eventstreams_spark.streaming.multiline import multiline_stream

    rows = [
        ("app", 1, "ERROR boom"),
        ("app", 2, "  at Foo.bar(Foo.java:1)"),
        # --- micro-batch boundary falls here (chunks=2) ---
        ("app", 3, "  at Baz.qux(Baz.java:2)"),
        ("app", 4, "INFO ok"),
        ("app", 5, "WARN tail stays pending"),
        ("web", 1, "GET /"),
    ]
    df = spark.createDataFrame(rows, "src string, line_no int, line string")
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="line_no")
    out = multiline_stream(
        stream, "src", "line", "line_no", pattern=r"^\s", sep="\n"
    )
    run_to_memory(out, "t_ml", output_mode="append")
    got = {(r.src, r.first_line_no): r for r in spark.sql("SELECT * FROM t_ml").collect()}
    assert got[("app", 1)].message == (
        "ERROR boom\n  at Foo.bar(Foo.java:1)\n  at Baz.qux(Baz.java:2)"
    )
    assert got[("app", 1)].n_lines == 3
    assert got[("app", 4)].message == "INFO ok"
    # the trailing open events (app line 5, web line 1) are NOT emitted
    assert ("app", 5) not in got and ("web", 1) not in got
    assert len(got) == 2


@pytest.mark.slow
def test_throttle_periodic_resets_per_bucket_across_batches(spark, tmp_path):
    """T7 full semantic: at most 2 events per key per hour bucket,
    counter carried across micro-batches WITHIN a bucket and reset on
    bucket change — 3 events in hour A (one in batch 2) admit 2; the
    hour-B event admits again."""
    from eventstreams_spark.streaming.stateful import throttle_stream_periodic

    rows = [
        ("a", "2024-01-01 10:00:00"),
        ("a", "2024-01-01 10:05:00"),
        # --- batch boundary (chunks=2, ordered by ts) ---
        ("a", "2024-01-01 10:10:00"),   # same bucket, over limit -> dropped
        ("a", "2024-01-01 11:00:00"),   # new bucket -> admitted
        ("b", "2024-01-01 11:30:00"),
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string")
        .select("k", F.to_timestamp("ts_s").alias("ts"))
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
    out = throttle_stream_periodic(stream, "k", "ts", limit=2, period_seconds=3600)
    run_to_memory(out, "t_thr_p", output_mode="append")
    got = spark.sql(
        "SELECT k, bucket_start, count(*) AS n, max(n_admitted) AS mx"
        " FROM t_thr_p GROUP BY k, bucket_start ORDER BY k, bucket_start"
    ).collect()
    by = {(r.k, r.bucket_start): (r.n, r.mx) for r in got}
    from datetime import datetime, timezone

    # operator buckets the session-UTC timestamps as UTC — compute the
    # expected epochs in UTC too (naive .timestamp() would use the
    # machine-local zone and fail on any non-UTC box)
    h10 = int(datetime(2024, 1, 1, 10, tzinfo=timezone.utc).timestamp())
    h11 = int(datetime(2024, 1, 1, 11, tzinfo=timezone.utc).timestamp())
    assert by[("a", h10)] == (2, 2), by
    assert by[("a", h11)] == (1, 1), by
    assert by[("b", h11)] == (1, 1), by
    assert sum(n for n, _ in by.values()) == 4


@pytest.mark.slow
def test_throttle_periodic_drops_late_buckets(spark, tmp_path):
    """A late row whose bucket is OLDER than the key's current bucket
    is dropped, never re-admitted — re-opening a past bucket would
    reset its exhausted quota (the over-admission bug this pins)."""
    from eventstreams_spark.streaming.stateful import throttle_stream_periodic

    import os
    import time as _time

    rows1 = [("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 10:05:00"),
             ("a", "2024-01-01 11:00:00")]
    rows2 = [("a", "2024-01-01 10:20:00"),  # late: key already in h11
             ("a", "2024-01-01 11:10:00")]

    def as_ts(rws):
        return spark.createDataFrame(rws, "k string, ts_s string").select(
            "k", F.to_timestamp("ts_s").alias("ts")
        )

    src = os.path.join(str(tmp_path), "late_src")
    as_ts(rows1).coalesce(1).write.mode("overwrite").parquet(src)
    _time.sleep(1.1)  # distinct mtimes: file source orders batches by it
    as_ts(rows2).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(as_ts(rows1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = throttle_stream_periodic(stream, "k", "ts", limit=2, period_seconds=3600)
    run_to_memory(out, "t_thr_late", output_mode="append")
    admitted_ts = sorted(
        str(r.ts) for r in spark.sql("SELECT ts FROM t_thr_late").collect()
    )
    # the late 10:20 row must be absent; everything else admitted
    assert "2024-01-01 10:20:00" not in admitted_ts, admitted_ts
    assert len(admitted_ts) == 4, admitted_ts


@pytest.mark.slow
def test_correlate_tasks_stream_across_batches(spark, tmp_path):
    """Logstash aggregate, streamed (T6): a task whose start arrives in
    batch 1 and end in batch 2 must still emit one summary row — the
    open map lives in keyed state across micro-batches; a task that
    never closes stays in state (no emission without a timeout)."""
    from eventstreams_spark.streaming.stateful import correlate_tasks_stream

    rows = [
        ("A", "2024-01-01 10:00:00", "start", 0.0),
        ("A", "2024-01-01 10:01:00", "step", 1.5),
        ("A", "2024-01-01 10:02:00", "step", 2.0),
        # --- micro-batch boundary (chunks=2) ---
        ("A", "2024-01-01 10:03:00", "end", 0.0),
        ("B", "2024-01-01 10:03:30", "start", 0.0),
        ("B", "2024-01-01 10:04:00", "step", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "task string, ts_s string, kind string, v double"
    ).select("task", F.to_timestamp("ts_s").alias("ts"), "kind", "v")
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
    out = correlate_tasks_stream(
        stream, "task", "kind", "ts", "v",
        start_value="start", end_value="end",
    )
    run_to_memory(out, "t_corr", output_mode="append")
    got = {r.task: r for r in spark.sql("SELECT * FROM t_corr").collect()}
    # A closed across the batch boundary: 2 steps, 350 cents, completed
    assert set(got) == {"A"}, got
    assert got["A"].n_steps == 2
    assert got["A"].step_value_cents == 350
    assert got["A"].completed is True
    assert got["A"].t_end is not None


@pytest.mark.slow
def test_correlate_batch_equals_stream_at_boundaries(spark, tmp_path):
    """The batch `aggregate` step and correlate_tasks_stream must agree
    on BOUNDARY timestamps (ADVICE r2): events sharing t_start, events
    at exactly t_end, re-matching start events, and negative step
    values (floor rounding) — strict-between on both sides."""
    from eventstreams_spark.pipeline import _STEP_FACTORIES
    from eventstreams_spark.streaming.stateful import correlate_tasks_stream

    rows = [
        # (event_id, task, ts, kind, v)
        (1, "A", "2024-01-01 10:00:00", "start", 0.0),
        (2, "A", "2024-01-01 10:00:00", "step", 5.0),   # ts == t_start: excluded
        (3, "A", "2024-01-01 10:01:00", "step", 1.5),
        (4, "A", "2024-01-01 10:01:30", "start", 2.0),  # re-start: counts as a step
        (5, "A", "2024-01-01 10:02:00", "step", -0.996),  # floor → -100 cents
        (6, "A", "2024-01-01 10:03:00", "step", 7.0),   # ts == t_end: excluded
        (7, "A", "2024-01-01 10:03:00", "end", 0.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, task string, ts_s string, kind string, v double"
    ).select("event_id", "task", F.to_timestamp("ts_s").alias("ts"), "kind", "v")

    batch_t = _STEP_FACTORIES["aggregate"](
        task_key="task",
        start_when="kind = 'start'",
        end_when="kind = 'end'",
        ts_field="ts",
        value_expr="floor(v * 100 + 0.5)",
    )
    b = batch_t(df).collect()[0]
    assert b.n_steps == 3 and int(b.step_value) == 250, b

    # order_col=event_id: ids are assigned in (ts, event_id) order, so
    # chunks stay time-contiguous even at collision timestamps
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="event_id")
    out = correlate_tasks_stream(
        stream, "task", "kind", "ts", "v", start_value="start", end_value="end"
    )
    run_to_memory(out, "t_corr_eq", output_mode="append")
    s = spark.sql("SELECT * FROM t_corr_eq").collect()
    assert len(s) == 1, s
    assert s[0].n_steps == b.n_steps == 3
    assert s[0].step_value_cents == int(b.step_value) == 250
    assert s[0].t_start == b.t_start and s[0].t_end == b.t_end


@pytest.mark.slow
def test_heavy_hitters_state_survives_separator_tokens(spark, tmp_path):
    """MG state is JSON-encoded (ADVICE r2): tokens containing the old
    record/field separator bytes must round-trip through GroupState
    across micro-batches without corrupting the summary."""
    from eventstreams_spark.streaming.stateful import heavy_hitters_stream

    evil = "a\x1eb\x1fc"
    rows = (
        [(i, evil) for i in range(4)]
        + [(i, "plain") for i in range(4, 6)]
        # --- batch 2 re-parses the state containing the evil token ---
        + [(i, evil) for i in range(6, 9)]
        + [(8 + i, "plain") for i in range(1, 3)]
    )
    df = spark.createDataFrame(rows, "ts long, tok string")
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
    out = heavy_hitters_stream(stream, "tok", "ts", k=2, n_buckets=1)
    run_to_memory(out, "t_hh_sep", output_mode="append")
    rows_out = spark.sql(
        "SELECT token, cnt FROM t_hh_sep WHERE snap = (SELECT max(snap) FROM t_hh_sep)"
    ).collect()
    got = {r.token: r.cnt for r in rows_out}
    assert got == {evil: 7, "plain": 4}, got


@pytest.mark.slow
def test_zscore_anomaly_stream_welford_across_batches(spark, tmp_path):
    """Online z-score: each event scored against PRIOR events only,
    Welford state carried across micro-batches — the spike after the
    batch boundary is flagged with the exact z of the accumulated
    distribution, and pre-min_n events score NULL."""
    from eventstreams_spark.streaming.stateful import zscore_anomaly_stream

    rows = [
        ("a", "2024-01-01 10:00:00", 10.0),
        ("a", "2024-01-01 10:01:00", 12.0),
        ("a", "2024-01-01 10:02:00", 11.0),
        # --- batch boundary (chunks=2, ordered by ts) ---
        ("a", "2024-01-01 10:03:00", 13.0),
        ("a", "2024-01-01 10:04:00", 100.0),
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
    out = zscore_anomaly_stream(stream, "k", "ts", "v", threshold=3.0, min_n=3)
    run_to_memory(out, "t_zscore", output_mode="append")
    got = spark.sql(
        "SELECT v, n_prior, z, is_anomaly FROM t_zscore ORDER BY ts"
    ).collect()
    assert [r.n_prior for r in got] == [0, 1, 2, 3, 4]
    assert [r.z for r in got][:3] == [None, None, None]
    # x=13 vs {10,12,11}: mean 11, sample std 1 -> z = 2, not anomalous
    assert got[3].z == pytest.approx(2.0)
    assert not got[3].is_anomaly
    # x=100 vs {10,12,11,13}: mean 11.5, std sqrt(5/3) -> z = 88.5/1.29099
    assert got[4].z == pytest.approx(68.5518, abs=1e-3)
    assert got[4].is_anomaly


@pytest.mark.slow
def test_heavy_hitters_stream_misra_gries_fold(spark, tmp_path):
    """Streaming MG: counters fold across micro-batches exactly as the
    sequential algorithm — decrement-all on overflow, state carried.
    Sequence a,b,a,c,a,b with k=2 (single bucket): after the full
    stream the summary is {a:2, b:1}."""
    from eventstreams_spark.streaming.stateful import heavy_hitters_stream

    toks = ["a", "b", "a", "c", "a", "b"]
    rows = [(t, f"2024-01-01 10:0{i}:00") for i, t in enumerate(toks)]
    df = (
        spark.createDataFrame(rows, "tok string, ts_s string")
        .select("tok", F.to_timestamp("ts_s").alias("ts"))
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
    out = heavy_hitters_stream(stream, "tok", "ts", k=2, n_buckets=1)
    run_to_memory(out, "t_mg", output_mode="append")
    final = spark.sql(
        "SELECT token, cnt FROM t_mg WHERE snap = (SELECT max(snap) FROM t_mg)"
        " ORDER BY token"
    ).collect()
    assert [(r.token, r.cnt) for r in final] == [("a", 2), ("b", 1)]
    # MG guarantee on the fold: counter >= true - N/(k+1) = 3 - 2
    assert final[0].cnt >= 1


@pytest.mark.slow
def test_streaming_topk_rank_at_read_equals_batch(spark, events_slice, tmp_path):
    """Windowed top-k via rank-at-read: stream maintains tumbling
    per-type counts (append mode), ranking runs over the sink — the
    result must equal the batch top-k over the same closed windows."""
    from eventstreams_spark.streaming.windows import (
        topk_per_window_at_read,
        tumbling_agg,
    )

    aggs = [F.count(F.lit(1)).alias("n")]
    stream = replay_table(spark, events_slice, str(tmp_path), chunks=2, order_col="ts")
    out = tumbling_agg(
        stream, "ts", "1 hour", ["event_type"], aggs, watermark="10 minutes"
    )
    run_to_memory(out, "t_topk_sink", output_mode="append")
    sink = spark.sql("SELECT window_start, event_type, n FROM t_topk_sink")
    got = topk_per_window_at_read(sink, k=2)
    wm = events_slice.agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm")
    ).collect()[0].wm
    want_sink = (
        tumbling_agg(events_slice, "ts", "1 hour", ["event_type"], aggs)
        .filter(F.col("window_end") <= F.lit(wm))
        .select("window_start", "event_type", "n")
    )
    want = topk_per_window_at_read(want_sink, k=2)
    assert _rows(got) == _rows(want)
    # each closed window keeps at most 2 rows
    per_w = got.groupBy("window_start").count().agg(F.max("count")).collect()[0][0]
    assert per_w <= 2


def test_stateful_throttle_state_recovers_across_restarts(spark, tmp_path):
    """T6 checkpoint recovery: the applyInPandasWithState admitted-
    counter must SURVIVE a full query restart (new query object, same
    checkpoint) — events over the limit stay rejected after recovery,
    not re-admitted from a zero counter."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import throttle_stream

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain():
        stream = (
            spark.readStream.schema("k string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            throttle_stream(stream, "k", "ts", limit=3)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def rows(minutes):
        return spark.createDataFrame(
            [("a", f"2024-01-01 10:{m:02d}:00") for m in minutes],
            "k string, ts_s string",
        ).select("k", F.to_timestamp("ts_s").alias("ts"))

    stage_files(rows([0, 1]), src, 1)
    drain()
    got1 = sorted(r.n_admitted for r in spark.read.parquet(out).collect())
    assert got1 == [1, 2]
    # restart: three more events; recovered counter (2) admits ONE
    stage_files(rows([2, 3, 4]), src, 2)
    drain()
    got2 = sorted(r.n_admitted for r in spark.read.parquet(out).collect())
    assert got2 == [1, 2, 3], got2


@pytest.mark.slow
def test_cusum_changepoint_fires_and_resets_across_batches(spark, tmp_path):
    """Page's CUSUM: deviations accumulate ACROSS micro-batches, the
    alarm fires when S+ crosses the threshold, and the fired side
    resets. target=10, slack=0, threshold=5; values 12,12 (S+ 2,4) —
    batch boundary — 12,12 (S+ 6 -> ALARM+reset, then 2), 8 (S+ 0,
    S- accumulates 2)."""
    from eventstreams_spark.streaming.stateful import cusum_changepoint_stream

    vals = [12.0, 12.0, 12.0, 12.0, 8.0]
    rows = [("a", f"2024-01-01 10:0{i}:00", v) for i, v in enumerate(vals)]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
    out = cusum_changepoint_stream(
        stream, "k", "ts", "v", target=10.0, slack=0.0, threshold=5.0
    )
    run_to_memory(out, "t_cusum", output_mode="append")
    got = spark.sql("SELECT v, s_pos, s_neg, alarm FROM t_cusum ORDER BY ts").collect()
    assert [r.s_pos for r in got] == [2.0, 4.0, 6.0, 2.0, 0.0]
    assert [r.alarm for r in got] == [False, False, True, False, False]
    assert got[4].s_neg == pytest.approx(2.0)


@pytest.mark.slow
def test_cusum_batch_equals_stream(spark, tmp_path):
    """The batch applyInPandas CUSUM and the streaming GroupState
    CUSUM must produce identical per-event statistics — same fold,
    different carry mechanism."""
    from eventstreams_spark.operators.changepoint import cusum_batch
    from eventstreams_spark.streaming.stateful import cusum_changepoint_stream

    vals = [12.0, 9.0, 14.0, 7.0, 13.0, 6.0, 15.0, 10.0]
    rows = [
        (k, f"2024-01-01 10:{i:02d}:00", v)
        for k in ("a", "b")
        for i, v in enumerate(vals)
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    kw = dict(target=10.0, slack=1.0, threshold=4.0)
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="ts")
    run_to_memory(
        cusum_changepoint_stream(stream, "k", "ts", "v", **kw),
        "t_cusum_s",
        output_mode="append",
    )
    got_stream = _rows(
        spark.sql("SELECT k, ts, v, s_pos, s_neg, alarm FROM t_cusum_s")
    )
    got_batch = _rows(
        cusum_batch(df, "k", "ts", "v", **kw).select(
            "k", "ts", "v", "s_pos", "s_neg", "alarm"
        )
    )
    assert got_stream == got_batch


@pytest.mark.slow
def test_page_hinkley_stream_matches_single_pass(spark, tmp_path):
    """Page-Hinkley: the micro-batched GroupState fold must equal a
    single-pass reference loop over the same time-ordered values —
    the state carry (n, sum, m, M) is what batching could corrupt.
    The injected mean shift must raise exactly one alarm."""
    from eventstreams_spark.streaming.stateful import page_hinkley_stream

    vals = [10.0, 10.5, 9.5, 10.0, 20.0, 20.5, 19.5, 20.0]
    rows = [("a", f"2024-01-01 10:{i:02d}:00", v) for i, v in enumerate(vals)]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="ts")
    out = page_hinkley_stream(stream, "k", "ts", "v", delta=0.5, lam=5.0)
    run_to_memory(out, "t_ph", output_mode="append")
    got = [
        (r.ph, r.alarm)
        for r in spark.sql("SELECT ph, alarm FROM t_ph ORDER BY ts").collect()
    ]
    # independent single-pass reference
    n, total, m, m_min = 0, 0.0, 0.0, 0.0
    want = []
    for x in vals:
        n += 1
        total += x
        m += x - total / n - 0.5
        m_min = min(m_min, m)
        ph = m - m_min
        fired = ph > 5.0
        want.append((ph, fired))
        if fired:
            n, total, m, m_min = 0, 0.0, 0.0, 0.0
    assert [a for _, a in got].count(True) == 1
    for (gp, ga), (wp, wa) in zip(got, want):
        assert ga == wa and gp == pytest.approx(wp)


@pytest.mark.slow
def test_session_dynamic_gap_late_data_golden(spark, tmp_path):
    """T3×T4 interaction (VERDICT r2 #7): dynamic-gap session windows
    under LATE data in one availableNow run — a late row older than
    the watermark is DROPPED (the closed session stays n=2), a late
    row within the watermark opens its own session, and sessions not
    yet closed by the final watermark are withheld."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.windows import session_agg

    def mk(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts string, event_type string"
        ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")

    d = str(tmp_path / "replay")
    # batch 1: user 1 — two normal events (30m gap) + one error (10m gap)
    stage_files(mk([(1, "2024-01-01 10:00:00", "click"),
                    (1, "2024-01-01 10:05:00", "click"),
                    (1, "2024-01-01 10:40:00", "error")]), d, 1)
    # batch 2: watermark mover (user 2 at 13:00 → wm 12:00, effective
    # one batch AFTER the next — see test_watermark_drops_late_rows)
    stage_files(mk([(2, "2024-01-01 13:00:00", "click")]), d, 2)
    # batch 3: on-time spacer so the 12:00 watermark takes effect
    stage_files(mk([(2, "2024-01-01 13:01:00", "click")]), d, 3)
    # batch 4: two LATE rows for user 1 — 10:06 is behind the 12:00
    # watermark (dropped); 12:30 is within it (new session)
    stage_files(mk([(1, "2024-01-01 10:06:00", "click"),
                    (1, "2024-01-01 12:30:00", "click")]), d, 4)
    # batch 5: flush — wm 13:31 closes user 2's session
    stage_files(mk([(3, "2024-01-01 14:31:00", "click")]), d, 5)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    gap = F.expr(
        "CASE WHEN event_type = 'error' THEN make_interval(0, 0, 0, 0, 0, 10, 0)"
        " ELSE make_interval(0, 0, 0, 0, 0, 30, 0) END"
    )
    out = session_agg(
        stream, "ts", gap, ["user_id"], [F.count(F.lit(1)).alias("n")],
        watermark="1 hour",
    )
    run_to_memory(out, "t_sess_late", output_mode="append")
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n)
        for r in spark.sql(
            "SELECT user_id, session_start, session_end, n FROM t_sess_late"
        ).collect()
    }
    want = {
        # 10:06 late row DROPPED: session stays [10:00, 10:35) n=2
        (1, "2024-01-01 10:00:00", "2024-01-01 10:35:00", 2),
        # error gap 10m → its own session
        (1, "2024-01-01 10:40:00", "2024-01-01 10:50:00", 1),
        # accepted late row → own session [12:30, 13:00)
        (1, "2024-01-01 12:30:00", "2024-01-01 13:00:00", 1),
        # 13:00 + 13:01 merge; closed by final watermark 13:31
        (2, "2024-01-01 13:00:00", "2024-01-01 13:31:00", 2),
        # user 3's session [14:31, 15:01) still open → withheld
    }
    assert got == want, got


@pytest.mark.slow
def test_throttle_state_machine_on_rocksdb(spark, tmp_path):
    """T7 on the RocksDB provider (VERDICT r2 #7): the GroupState
    throttle counter must behave identically on the production state
    store — a key exhausted in batch 1 admits nothing in batch 2."""
    from eventstreams_spark.streaming.state import (
        disable_rocksdb_state,
        enable_rocksdb_state,
    )
    from eventstreams_spark.streaming.stateful import throttle_stream

    rows = [("a", f"2024-01-01 10:{m:02d}:00") for m in range(6)] + [
        ("b", "2024-01-01 10:00:00")
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string")
        .select("k", F.to_timestamp("ts_s").alias("ts"))
    )
    enable_rocksdb_state(spark)
    try:
        stream = replay_table(spark, df, str(tmp_path), chunks=2, order_col="ts")
        out = throttle_stream(stream, "k", "ts", limit=3)
        run_to_memory(out, "t_thr_rocks", output_mode="append")
    finally:
        disable_rocksdb_state(spark)
    got = spark.sql(
        "SELECT k, count(*) AS n, max(n_admitted) AS mx FROM t_thr_rocks GROUP BY k"
    )
    by_key = {r.k: (r.n, r.mx) for r in got.collect()}
    assert by_key["a"] == (3, 3), by_key
    assert by_key["b"] == (1, 1), by_key


@pytest.mark.slow
def test_counter_rate_batch_equals_stream(spark, events_slice, tmp_path):
    """T14 twin equality: the streaming GroupState counter-rate fold's
    final snapshot must equal the batch lag-window aggregate over the
    same events — increases, resets, and the per-second rate."""
    from eventstreams_spark.streaming.stateful import counter_rate_stream

    ev = events_slice.select("event_id", "ts", "event_type", "value")
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    out = counter_rate_stream(stream, "event_type", "ts", "value")
    run_to_memory(out, "t_rate_s", output_mode="update")
    got = {
        r.event_type: (r.n_samples, r.n_resets, r.total_increase_cents, r.rate_per_sec)
        for r in spark.sql(
            """SELECT * FROM t_rate_s
               WHERE (event_type, n_samples) IN
                     (SELECT event_type, max(n_samples) FROM t_rate_s GROUP BY event_type)"""
        ).collect()
    }
    # batch twin: same fold expressed as lag window + aggregate
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    increase = (
        F.when(prev.isNull(), F.lit(0.0))
        .when(F.col("value") >= prev, F.col("value") - prev)
        .otherwise(F.col("value"))
    )
    is_reset = (prev.isNotNull() & (F.col("value") < prev)).cast("long")
    want = {
        r.event_type: (r.n, r.nr, r.cents, r.rate)
        for r in ev.select(
            "event_type", F.col("ts").cast("double").alias("es"),
            increase.alias("inc"), is_reset.alias("rst"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rst").alias("nr"),
            F.sum(F.floor(F.col("inc") * 100 + 0.5).cast("long")).alias("cents"),
            F.round(
                F.sum(F.floor(F.col("inc") * 100 + 0.5).cast("long"))
                / 100.0 / (F.max("es") - F.min("es")),
                6,
            ).alias("rate"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3], (k, got[k], want[k])
        assert got[k][3] == pytest.approx(want[k][3], abs=1e-6), k


@pytest.mark.slow
def test_holt_batch_equals_stream(spark, tmp_path):
    """T21 twin equality: streaming Holt (GroupState) must reproduce
    the batch applyInPandas fold per event — level, trend, forecast
    and the sequential SSE — across micro-batch boundaries."""
    from eventstreams_spark.operators.smoothing import holt_linear_batch
    from eventstreams_spark.streaming.stateful import holt_linear_stream

    vals = [10.0, 12.0, 11.0, 15.0, 14.0, 18.0, 17.0, 21.0]
    rows = [
        (k, f"2024-01-01 10:{i:02d}:00", v)
        for k in ("a", "b")
        for i, v in enumerate(vals)
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    kw = dict(alpha=0.5, beta=0.3)
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="ts")
    run_to_memory(
        holt_linear_stream(stream, "k", "ts", "v", **kw),
        "t_holt_s",
        output_mode="append",
    )
    got = _rows(spark.sql(
        "SELECT k, rn, level, trend, forecast, sse_running FROM t_holt_s"
    ))
    want = _rows(
        holt_linear_batch(df, "k", "ts", "v", **kw).select(
            "k", "rn", "level", "trend", "forecast", "sse_running"
        )
    )
    assert got == want


@pytest.mark.slow
def test_stream_static_dim_refresh_foreachbatch(spark, tmp_path):
    """J10 refresh semantics, pinned BOTH ways: a plain static-frame
    join caches the dim's FILE LISTING at plan time, so overwriting
    the dim path mid-stream breaks (FAILED_READ_FILE — verified while
    writing this test); the production pattern re-reads the dim INSIDE
    foreachBatch, where every micro-batch plans a fresh batch join.
    Run 1 enriches event 100 with dim v1; after an overwrite, run 2
    (same checkpoint — source offsets resume, only NEW files process)
    enriches event 200 with v2."""
    import os

    from eventstreams_spark.streaming.replay import stage_files

    dim_dir = os.path.join(str(tmp_path), "dim")
    ev_dir = os.path.join(str(tmp_path), "ev")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    results = []

    def write_dim(tag):
        spark.createDataFrame(
            [(1, f"{tag}-one"), (2, f"{tag}-two")], "user_id long, label string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    def enrich(bdf, bid):
        dim = bdf.sparkSession.read.parquet(dim_dir)  # fresh per batch
        results.extend(
            (r.event_id, r.label)
            for r in bdf.join(dim, "user_id").select("event_id", "label").collect()
        )

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )
        q = (
            stream.writeStream.foreachBatch(enrich)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def ev(eid, ts, uid):
        return spark.createDataFrame(
            [(eid, ts, uid)], "event_id long, ts string, user_id long"
        ).select("event_id", F.to_timestamp("ts").alias("ts"), "user_id")

    write_dim("v1")
    stage_files(ev(100, "2024-01-01 10:00:00", 1), ev_dir, 1)
    run_once()
    assert results == [(100, "v1-one")], results

    write_dim("v2")
    stage_files(ev(200, "2024-01-01 11:00:00", 2), ev_dir, 2)
    run_once()  # checkpoint resume: only the new file processes
    assert results == [(100, "v1-one"), (200, "v2-two")], results


@pytest.mark.slow
def test_session_path_batch_equals_stream(spark, events_slice, tmp_path):
    """T6 twin equality: the streaming session-path fold (GroupState,
    gap-closed sessions with '>'-joined first-5 paths) must equal the
    batch gap-sessionize + path aggregation over the same events —
    excluding each user's final session, which the stream correctly
    keeps open in state (append-mode contract)."""
    from eventstreams_spark.streaming.stateful import session_path_stream

    ev = events_slice.select("event_id", "ts", "user_id", "event_type")
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    out = session_path_stream(
        stream, "user_id", "ts", "event_type", gap_seconds=1800, max_steps=5
    )
    run_to_memory(out, "t_spath_s", output_mode="append")
    got = _rows(spark.sql(
        "SELECT user_id, session_start, session_end, n_events, path FROM t_spath_s"
    ))
    assert len(got) > 0

    # batch twin: gap sessionize -> per-session path -> drop last session
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev_ts").isNull()
                | (F.col("ts").cast("double") - F.col("prev_ts").cast("double") > 1800)
            ).cast("long"),
        )
        .withColumn("sid", F.sum("new_s").over(w))
    )
    per = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.concat_ws(
                ">",
                F.slice(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ts", "event_id", "event_type"))
                        ),
                        lambda x: x.event_type,
                    ),
                    1,
                    5,
                ),
            ).alias("path"),
        )
    )
    last = per.groupBy("user_id").agg(F.max("sid").alias("max_sid"))
    want = _rows(
        per.join(last, "user_id")
        .filter(F.col("sid") < F.col("max_sid"))
        .select("user_id", "session_start", "session_end", "n_events", "path")
    )
    assert got == want


@pytest.mark.slow
def test_tdigest_stream_accuracy_and_bounded_state(spark, events_slice, tmp_path):
    """T6 sketch twin: the streaming t-digest's final per-key snapshot
    must satisfy the same contracts as the batch gate — ≤2% rank error
    at p50/p90/p99 against the exact distribution, centroid count
    bounded (O(δ), not O(n)) — after folding values across 3
    micro-batches through GroupState merges."""
    from eventstreams_spark.streaming.stateful import tdigest_stream

    ev = events_slice.select("event_id", "ts", "event_type", "value")
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    out = tdigest_stream(stream, "event_type", "value")
    run_to_memory(out, "t_td_s", output_mode="update")
    last = {
        r.event_type: r
        for r in spark.sql(
            """SELECT * FROM t_td_s
               WHERE (event_type, total_weight) IN
                     (SELECT event_type, max(total_weight)
                      FROM t_td_s GROUP BY event_type)"""
        ).collect()
    }
    import collections
    by_type = collections.defaultdict(list)
    for r in ev.select("event_type", "value").collect():
        by_type[r.event_type].append(r.value)
    assert set(last) == set(by_type)
    for et, xs in by_type.items():
        snap = last[et]
        assert snap.total_weight == len(xs)
        assert snap.n_centroids <= min(200, len(xs))
        xs_sorted = sorted(xs)
        n = len(xs_sorted)
        # rank granularity is 1/n — tiny types can't beat that
        tol = max(0.02, 1.5 / n)
        for q, est in ((0.5, snap.q500), (0.9, snap.q900), (0.99, snap.q990)):
            rank = sum(1 for x in xs_sorted if x <= est) / n
            assert abs(rank - q) <= tol, (et, q, rank)


@pytest.mark.slow
def test_decayed_topk_stream_matches_reference_fold(spark, events_slice, tmp_path):
    """T-series trending top-k: the streamed final snapshot must equal
    a Python reference fold of the same (ts, event_id)-ordered events
    — decay in event time is batching-invariant while max_tokens is
    not hit, so 3-chunk replay and the single fold agree exactly."""
    from eventstreams_spark.streaming.stateful import decayed_topk_stream

    ev = events_slice.select(
        "event_id", "ts", "event_type", F.col("user_id").cast("string").alias("uid")
    )
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    out = decayed_topk_stream(
        stream, "event_type", "uid", "ts",
        half_life_seconds=21600.0, k=5, max_tokens=1 << 20,
    )
    run_to_memory(out, "t_dtop_s", output_mode="append")
    got = {
        (r.key, r.token): r.weight
        for r in spark.sql(
            """SELECT * FROM t_dtop_s
               WHERE (key, snap) IN
                     (SELECT key, max(snap) FROM t_dtop_s GROUP BY key)"""
        ).collect()
    }

    import pandas as pd

    rows = sorted(
        ev.collect(), key=lambda r: (r.ts, r.event_id)
    )
    hl_ns = 21600.0 * 1e9
    folds: dict = {}
    maxts: dict = {}
    for r in rows:
        # naive ns, exactly the stream side's datetime64→int64 view
        # (datetime.timestamp() would inject the local timezone)
        t = int(pd.Timestamp(r.ts).value)
        d = folds.setdefault(r.event_type, {})
        maxts[r.event_type] = max(maxts.get(r.event_type, 0), t)
        if r.uid in d:
            wt, ref = d[r.uid]
            d[r.uid] = (wt * 2.0 ** (-(t - ref) / hl_ns) + 1.0, t)
        else:
            d[r.uid] = (1.0, t)
    want = {}
    for et, d in folds.items():
        decayed = sorted(
            ((tok, wt * 2.0 ** (-(maxts[et] - ref) / hl_ns))
             for tok, (wt, ref) in d.items()),
            key=lambda x: (-x[1], x[0]),
        )[:5]
        for tok, wt in decayed:
            want[(et, tok)] = round(wt, 6)
    assert got == want


@pytest.mark.slow
def test_streaming_winnowing_contamination_stream_static(spark, sf_dir, tmp_path):
    """L5×T crossover: the contamination check runs as a STREAM-STATIC
    join — crawled docs stream in, the benchmark's rare winnowing
    fingerprints sit as a static broadcast frame, and per-batch
    streamed (train, bench, n_shared) aggregates must converge to the
    batch query's verdicts. winnow_fps is pure Column algebra, so the
    exact same builder fingerprints both sides."""
    from eventstreams_spark.queries.llm import winnow_fps

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 50 != 0).select(
        F.col("doc_id").alias("id"), "text"
    ).unionAll(
        docs.filter(F.col("doc_id") % 100 == 0).select(
            (F.col("doc_id") + 2000000).alias("id"),
            F.concat(
                F.lit("leading padding "), F.col("text"), F.lit(" trailing padding")
            ).alias("text"),
        )
    )
    bfp = winnow_fps(bench).persist()
    rare = (
        bfp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 4).select("fp")
    )
    b = bfp.join(rare, "fp").select("fp", F.col("id").alias("bench_id"))

    stream = replay_table(spark, train, str(tmp_path), chunks=3, order_col="id")
    hits = (
        winnow_fps(stream)
        .join(F.broadcast(b), "fp")  # stream-static join, stateless
        .groupBy(F.col("id").alias("train_id"), "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    run_to_memory(hits, "t_contam_s", output_mode="update")
    got = sorted(
        tuple(r)
        for r in spark.sql(
            """SELECT train_id, bench_id, max(n_shared) AS n_shared
               FROM t_contam_s GROUP BY train_id, bench_id
               HAVING max(n_shared) >= 3"""
        ).collect()
    )
    assert len(got) > 0

    want = sorted(
        tuple(r)
        for r in winnow_fps(train)
        .join(b, "fp")
        .groupBy(F.col("id").alias("train_id"), "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .collect()
    )
    assert got == want


@pytest.mark.slow
def test_streaming_ann_probe_matches_batch(spark, sf_dir, tmp_path):
    """Online vector search: STREAMED query vectors are LSH-bucketed
    map-side (lsh_bucket_tables now runs on streams), probe the
    static bucketed index via a stream-static equi join on
    (table_id, bucket), and re-rank by exact cosine — per query, the
    streamed candidate top-3 must equal the batch ANN probe's."""
    from eventstreams_spark.operators.similarity import (
        ann_candidates,
        lsh_bucket_tables,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    queries = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    bucketed = lsh_bucket_tables(
        corpus, "vec", n_planes=4, n_tables=8, dim=64
    ).persist()

    dot = F.aggregate(
        F.zip_with("vec", "qvec", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cos = F.round(dot / (norm(F.col("vec")) * norm(F.col("qvec"))), 6)

    stream = replay_table(
        spark, queries, str(tmp_path), chunks=2, order_col="vec_id"
    )
    qb = lsh_bucket_tables(
        stream.select(F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")),
        "qvec", n_planes=4, n_tables=8, dim=64,
    )
    probed = (
        qb.join(bucketed, ["table_id", "bucket"])  # stream-static equi
        .select("qid", "vec_id", "qvec", "vec")
        .dropDuplicates(["qid", "vec_id"])
        .select("qid", "vec_id", cos.alias("cos"))
    )
    run_to_memory(probed, "t_ann_s", output_mode="append")
    got = {}
    for r in spark.sql(
        """SELECT qid, vec_id, cos,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, vec_id) AS rk
           FROM t_ann_s"""
    ).filter("rk <= 3").collect():
        got.setdefault(r.qid, []).append((r.vec_id, r.cos))

    want = {}
    for q in range(5):
        qsig = lsh_bucket_tables(
            queries.filter(F.col("vec_id") == q), "vec",
            n_planes=4, n_tables=8, dim=64,
        )
        qrow = queries.filter(F.col("vec_id") == q).select(
            F.col("vec").alias("qvec")
        )
        cands = ann_candidates(bucketed, qsig)
        top = (
            cands.crossJoin(F.broadcast(qrow))
            .select("vec_id", cos.alias("cos"))
            .orderBy(F.col("cos").desc(), "vec_id")
            .limit(3)
            .collect()
        )
        if top:
            want[q] = [(r.vec_id, r.cos) for r in top]
    assert len(got) > 0
    assert got == want


@pytest.mark.slow
def test_kll_stream_matches_offline_fold(spark, tmp_path):
    """Streaming KLL: the per-key sketch folded across micro-batches
    must equal the offline KLL fed the same chunks in the same order
    (bit-identical quantiles/state size), and the final snapshot's
    rank guarantee must hold against the full value set."""
    import numpy as np

    from eventstreams_spark.operators.kll import KLL
    from eventstreams_spark.streaming.stateful import kll_quantile_stream

    rng = np.random.default_rng(42)
    vals = rng.lognormal(0.0, 1.0, 600)
    rows = [
        ("a", f"2024-01-01 10:{i // 60:02d}:{i % 60:02d}", float(v))
        for i, v in enumerate(vals)
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="ts")
    out = kll_quantile_stream(stream, "k", "ts", "v", qs=(0.5, 0.99), k=64)
    run_to_memory(out, "t_kll", output_mode="append")
    got = spark.sql(
        "SELECT snap, total_weight, n_retained, q500, q990 FROM t_kll"
        " WHERE key = 'a' ORDER BY snap"
    ).collect()
    assert [r.snap for r in got] == [1, 2, 3]

    # offline twin: same 3 time-ordered chunks through the same class
    order = np.argsort([r[1] for r in rows], kind="mergesort")
    sorted_vals = vals[order]
    chunk = len(rows) // 3
    sk = KLL(k=64)
    bounds = [0, chunk, 2 * chunk, len(rows)]
    for i, r in enumerate(got):
        sk.update_batch(sorted_vals[bounds[i]:bounds[i + 1]])
        assert r.total_weight == sk.total_weight()
        assert r.n_retained == sk.n_retained()
        assert r.q500 == sk.quantile(0.5)
        assert r.q990 == sk.quantile(0.99)

    # rank guarantee on the final snapshot, independent of batching
    final = got[-1]
    assert abs(float((vals <= final.q500).mean()) - 0.5) <= 0.05
    assert abs(float((vals <= final.q990).mean()) - 0.99) <= 0.05


def test_mg_state_legacy_blob_migration():
    """Pre-JSON checkpoints stored \x1e-separated token\x1fcount
    entries; the parser must migrate them instead of raising
    (ADVICE r3), while JSON and empty states decode as before."""
    from eventstreams_spark.streaming.stateful import _parse_mg_state

    assert _parse_mg_state("") == {}
    assert _parse_mg_state('{"a": 3, "b": 1}') == {"a": 3, "b": 1}
    legacy = "alpha\x1f5\x1ebeta\x1f2"
    assert _parse_mg_state(legacy) == {"alpha": 5, "beta": 2}
    # a legacy token that itself contains \x1f splits on the LAST
    # separator (count is always the final field)
    assert _parse_mg_state("x\x1fy\x1f7") == {"x\x1fy": 7}


@pytest.mark.slow
def test_alert_fsm_batch_equals_stream(spark, sf_dir, tmp_path):
    """Round-4 FSM twin equality: the streaming GroupState alert fold
    over the replayed daily breach series must end at exactly the
    batch query's per-type census (breach days, alert days,
    suppressed clears) — however the stream is micro-batched."""
    from eventstreams_spark.queries.causal_extra import breach_series
    from eventstreams_spark.registry import REGISTRY
    from eventstreams_spark.streaming.stateful import alert_fsm_stream

    seq = breach_series(spark, sf_dir).select("event_type", "day", "breach")
    stream = replay_table(spark, seq, str(tmp_path), chunks=4, order_col="day")
    out = alert_fsm_stream(stream, "event_type", "day", "breach")
    run_to_memory(out, "t_fsm_s", output_mode="update")
    got = {
        r.event_type: (r.n_breach, r.n_alert, r.n_suppressed)
        for r in spark.sql(
            """SELECT * FROM t_fsm_s
               WHERE (event_type, n_obs) IN
                     (SELECT event_type, max(n_obs) FROM t_fsm_s
                      GROUP BY event_type)"""
        ).collect()
    }
    want = {
        r.event_type: (r.n_breach_days, r.n_alert_days, r.n_suppressed_clears)
        for r in REGISTRY["alert_flap_suppression_fsm"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == want


@pytest.mark.slow
def test_ohlc_bars_batch_equals_stream(spark, events_slice, tmp_path):
    """Round-4 market twin: daily OHLCV bars as a NATIVE streaming
    windowed aggregation (no GroupState — min_by/max_by over the
    total-order tick key are declarative, mergeable aggregates) must
    equal the batch bars over the same ticks."""
    from eventstreams_spark.queries.market_extra import _daily_bars

    ev = events_slice.filter(F.col("value").isNotNull()).select(
        "event_id", "ts", "event_type", "value"
    )
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    ordk = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    bars_s = (
        stream.select(
            "event_type", F.window("ts", "1 day").alias("w"),
            cents.alias("cents"), ordk.alias("ordk"),
        )
        .groupBy("event_type", "w")
        .agg(
            F.min_by("cents", "ordk").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "ordk").alias("close_cents"),
            F.count(F.lit(1)).alias("volume"),
        )
    )
    run_to_memory(bars_s, "t_ohlc_s", output_mode="complete")
    got = sorted(
        (r.event_type, r.w.start.date(), r.open_cents, r.high_cents,
         r.low_cents, r.close_cents, r.volume)
        for r in spark.sql("SELECT * FROM t_ohlc_s").collect()
    )
    # batch twin over the identical slice (the registry query reads the
    # full table, so recompute on the slice via the shared helper path)
    want_df = (
        ev.select(
            "event_type", F.to_date("ts").alias("day"),
            cents.alias("cents"), ordk.alias("ordk"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("cents", "ordk").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "ordk").alias("close_cents"),
            F.count(F.lit(1)).alias("volume"),
        )
    )
    want = sorted(
        (r.event_type, r.day, r.open_cents, r.high_cents, r.low_cents,
         r.close_cents, r.volume)
        for r in want_df.collect()
    )
    assert got == want
    assert _daily_bars is not None  # helper stays importable for twins


@pytest.mark.slow
def test_kalman_batch_equals_stream(spark, tmp_path):
    """T15 twin equality: streaming Kalman level filter (GroupState)
    must reproduce the one-pass batch run of the same fold per event —
    level, variance, and the data-adaptive gain — across micro-batch
    boundaries (the state resumes mid-Riccati, not re-warmed), and
    both must equal the JVM aggregate() fold that
    kalman_level_filter_check certifies against DuckDB."""
    from eventstreams_spark.operators.smoothing import kalman_level_batch
    from eventstreams_spark.queries.mlfeat_extra import _KALMAN_WALK
    from eventstreams_spark.streaming.stateful import kalman_level_stream

    vals = [1000.0, 1200.0, 900.0, 1500.0, 1400.0, 1800.0, 1700.0, 2100.0]
    rows = [
        (k, f"2024-01-{i + 1:02d} 00:00:00", v)
        for k in ("a", "b")
        for i, v in enumerate(vals)
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    kw = dict(q_var=100000.0, r_var=1000000.0)
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="ts")
    run_to_memory(
        kalman_level_stream(stream, "k", "ts", "v", **kw),
        "t_kalman_s",
        output_mode="append",
    )
    got = _rows(spark.sql(
        "SELECT k, rn, level, variance, gain FROM t_kalman_s"
    ))
    want = _rows(
        kalman_level_batch(df, "k", "ts", "v", **kw).select(
            "k", "rn", "level", "variance", "gain"
        )
    )
    assert got == want
    # independent leg: the JVM fold over the same series, whose text
    # the registered query replays in DuckDB (vals are whole cents)
    packed = df.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct(
            F.to_date("ts").alias("day"), F.col("v").cast("long").alias("cents")
        ))).alias("series")
    )
    jvm = packed.select("k", F.posexplode(F.expr(_KALMAN_WALK)).alias("i", "w")).select(
        "k", (F.col("i") + 1).cast("long").alias("rn"),
        F.col("w.x").alias("level"), F.col("w.p").alias("variance"), F.col("w.gain").alias("gain"),
    )
    assert _rows(jvm) == want


@pytest.mark.slow
def test_hmm_batch_equals_stream(spark, tmp_path):
    """T14 twin equality: the streaming HMM burst filter (GroupState)
    must reproduce BOTH the batch applyInPandas fold and the JVM
    aggregate() fold (the engine-shared SQL text the registered query
    certifies against DuckDB) per row, across micro-batch boundaries
    — the per-step 6-decimal state requantization is what licenses
    three-way bit-equality."""
    from eventstreams_spark.operators.smoothing import hmm_forward_batch
    from eventstreams_spark.queries.opsstat_extra import _hmm_step
    from eventstreams_spark.streaming.stateful import hmm_burst_stream

    counts = [5, 7, 30, 42, 6, 4, 38, 5]
    rows = [
        (k, f"2024-01-{i + 1:02d} 00:00:00", c + (0 if k == "a" else 2), 8.0)
        for k in ("a", "b")
        for i, c in enumerate(counts)
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, k_cnt long, lam0 double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "k_cnt", "lam0")
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="ts")
    run_to_memory(
        hmm_burst_stream(stream, "k", "ts", "k_cnt", "lam0"),
        "t_hmm_s",
        output_mode="append",
    )
    got = _rows(spark.sql("SELECT k, rn, log_odds, p_burst FROM t_hmm_s"))
    want = _rows(
        hmm_forward_batch(df, "k", "ts", "k_cnt", "lam0").select(
            "k", "rn", "log_odds", "p_burst"
        )
    )
    assert got == want
    # third leg: the JVM aggregate() fold over the same series must
    # agree bit-for-bit with the Python folds (same engine-shared text
    # the DuckDB oracle replays)
    init = _hmm_step(
        "ln(CAST(0.1 AS DOUBLE) / CAST(0.9 AS DOUBLE))", "z.k_cnt", "z.lam0"
    )
    step = _hmm_step("element_at(acc, -1).lodds", "z.k_cnt", "z.lam0")
    packed = df.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("ts", "k_cnt", "lam0"))).alias(
            "series"
        )
    )
    folded = packed.select(
        "k",
        F.explode(
            F.expr(
                f"""
                aggregate(
                    series,
                    CAST(array() AS ARRAY<STRUCT<lodds DOUBLE>>),
                    (acc, z) -> CASE WHEN size(acc) = 0 THEN
                        array(struct({init} AS lodds))
                    ELSE array_append(acc, struct({step} AS lodds))
                    END
                )
                """
            )
        ).alias("w"),
    )
    wnd = Window.partitionBy("k").orderBy(F.monotonically_increasing_id())
    jvm = folded.select(
        "k",
        F.row_number().over(wnd).alias("rn"),
        F.round(
            F.greatest(F.least(F.col("w.lodds"), F.lit(30.0)), F.lit(-30.0)), 6
        ).alias("log_odds"),
    )
    got_jvm = _rows(jvm)
    want_jvm = _rows(
        hmm_forward_batch(df, "k", "ts", "k_cnt", "lam0").select(
            "k", "rn", "log_odds"
        )
    )
    assert got_jvm == want_jvm


@pytest.mark.slow
def test_forecast_error_batch_equals_stream(spark, tmp_path):
    """T15/T14 twin equality: the streaming forecast-error monitor
    (naive + seasonal-naive absolute errors from a GroupState ring)
    must reproduce the batch lag-window computation per row across
    micro-batch boundaries, including the NULL warmup rows."""
    from eventstreams_spark.streaming.stateful import forecast_error_stream

    vals = [10, 12, 9, 15, 14, 18, 17, 21, 11, 13, 8, 16, 15, 19, 18, 22]
    rows = [
        (k, f"2024-01-{i + 1:02d} 00:00:00", v + (1 if k == "b" else 0))
        for k in ("a", "b")
        for i, v in enumerate(vals)
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v long")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    stream = replay_table(spark, df, str(tmp_path), chunks=4, order_col="ts")
    run_to_memory(
        forecast_error_stream(stream, "k", "ts", "v", season=7),
        "t_fcerr_s",
        output_mode="append",
    )
    got = _rows(spark.sql("SELECT k, rn, ae_naive, ae_snaive FROM t_fcerr_s"))
    w = Window.partitionBy("k").orderBy("ts")
    want = _rows(
        df.select(
            "k",
            F.row_number().over(w).cast("long").alias("rn"),
            F.abs(F.col("v") - F.lag("v", 1).over(w)).cast("long").alias("ae_naive"),
            F.abs(F.col("v") - F.lag("v", 7).over(w)).cast("long").alias("ae_snaive"),
        )
    )
    assert got == want


@pytest.mark.slow
def test_hmm_stream_state_recovers_across_restarts(spark, tmp_path):
    """T6 checkpoint recovery for the HMM burst filter: the carried
    (n, log-odds) state must SURVIVE a full query restart (new query
    object, same checkpoint) — the posterior after recovery must
    bit-match an uninterrupted batch fold over the whole series, not
    re-warm from the prior."""
    from eventstreams_spark.operators.smoothing import hmm_forward_batch
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import hmm_burst_stream

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain():
        stream = (
            spark.readStream.schema(
                "k string, ts timestamp, k_cnt long, lam0 double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            hmm_burst_stream(stream, "k", "ts", "k_cnt", "lam0")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    counts = [5, 7, 30, 42, 6, 4]

    def rows(idx):
        return spark.createDataFrame(
            [
                ("a", f"2024-01-{i + 1:02d} 00:00:00", counts[i], 8.0)
                for i in idx
            ],
            "k string, ts_s string, k_cnt long, lam0 double",
        ).select(
            "k", F.to_timestamp("ts_s").alias("ts"), "k_cnt", "lam0"
        )

    stage_files(rows(range(3)), src, 1)
    drain()
    # restart with the remaining days — state must resume, not reset
    stage_files(rows(range(3, 6)), src, 2)
    drain()
    got = sorted(
        (r.rn, r.log_odds, r.p_burst)
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r.rn, r.log_odds, r.p_burst)
        for r in hmm_forward_batch(
            rows(range(6)), "k", "ts", "k_cnt", "lam0"
        ).collect()
    )
    assert got == want


def _token_bucket_reference(rows, capacity=5, rate_milli=100):
    """Offline reference fold: (ts_sec, ...) rows in order ->
    [(row, tokens_after)] for admitted rows only."""
    cap = capacity * 1000
    tokens, last = cap, None
    out = []
    for r in rows:
        t = r[0]
        if last is not None and t > last:
            tokens = min(cap, tokens + (t - last) * rate_milli)
        last = t
        if tokens >= 1000:
            tokens -= 1000
            out.append((r, tokens))
    return out


@pytest.mark.slow
def test_token_bucket_stream_matches_reference_and_batching(spark, tmp_path):
    """T7 refill semantics: the token bucket admits bursts up to
    capacity, refills at the configured rate, and the admitted set +
    remaining milli-tokens must match the offline fold EXACTLY and be
    INVARIANT to how the stream is micro-batched (integer
    milli-token arithmetic — no float drift)."""
    from eventstreams_spark.streaming.stateful import token_bucket_stream

    base = 1704103200  # 2024-01-01 10:00:00 UTC
    # burst of 7 at t=0 (5 admitted), then sparse arrivals that refill
    offsets = [0, 0, 1, 1, 2, 2, 3, 15, 16, 40, 41, 42, 43, 44, 100]
    rows = [
        ("a", i, base + off) for i, off in enumerate(offsets)
    ]
    df = spark.createDataFrame(
        rows, "k string, event_id long, t_s long"
    ).select("k", "event_id", F.timestamp_seconds("t_s").alias("ts"))

    want_ref = _token_bucket_reference(
        [(base + off, i) for i, off in enumerate(offsets)]
    )
    want = sorted((r[1], tok) for r, tok in want_ref)

    got_by_chunks = []
    for chunks in (2, 5):
        d = str(tmp_path / f"c{chunks}")
        stream = replay_table(spark, df, d, chunks=chunks, order_col="ts")
        run_to_memory(
            token_bucket_stream(stream, "k", "ts"),
            f"t_bucket_{chunks}",
            output_mode="append",
        )
        got = sorted(
            (r.event_id, r.tokens_after_milli)
            for r in spark.sql(
                f"SELECT event_id, tokens_after_milli FROM t_bucket_{chunks}"
            ).collect()
        )
        got_by_chunks.append(got)
    assert got_by_chunks[0] == want, (got_by_chunks[0], want)
    assert got_by_chunks[0] == got_by_chunks[1]


@pytest.mark.slow
def test_slo_burn_stream_matches_batch(spark, sf_dir, tmp_path):
    """T14/OPS twin equality: the streaming multiwindow burn monitor
    must emit, for every CLOSED hour, exactly the batch timeline's
    row — burn rates (RANGE semantics over hour indexes, so gaps
    widen the lookback identically) and the integer-decided alert
    booleans. Only the final still-open hour is withheld."""
    from eventstreams_spark.queries.opsstat_extra import (
        slo_multiwindow_burn_timeline,
    )
    from eventstreams_spark.streaming.stateful import slo_burn_stream

    sliced = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp"))
        .select(
            F.lit("all").alias("k"),
            "ts",
            "event_id",
            (F.col("event_type") == "error").cast("long").alias("is_err"),
        )
    )
    stream = replay_table(spark, sliced, str(tmp_path), chunks=3, order_col="ts")
    run_to_memory(
        slo_burn_stream(stream, "ts", "is_err", "k"),
        "t_slo_s",
        output_mode="append",
    )
    got = _rows(
        spark.sql(
            "SELECT hr, n, e, burn_1h, burn_6h, burn_24h,"
            " fast_alert, slow_alert FROM t_slo_s"
        )
    )
    assert got, "stream emitted no closed hours"
    last_emitted = max(r[0] for r in got)
    # the batch timeline over the FULL table agrees on these hours:
    # its RANGE windows look only backward, and the slice is a prefix
    want = _rows(
        slo_multiwindow_burn_timeline(spark, sf_dir)
        .filter(F.col("hr") <= last_emitted)
        .select(
            "hr", "n", "e", "burn_1h", "burn_6h", "burn_24h",
            "fast_alert", "slow_alert",
        )
    )
    assert got == want


@pytest.mark.slow
def test_token_bucket_stream_out_of_order_no_rewind(spark, tmp_path):
    """ADVICE r4: an out-of-order event arriving in a LATER
    micro-batch with t < last must not rewind the refill clock —
    otherwise the next in-order event re-credits refill time already
    granted and over-admits past the bucket rate. Arrival order is
    controlled by replaying one event per micro-batch ordered by
    arrival index (each batch is sorted by ts internally, so only
    cross-batch disorder exercises the guard)."""
    from eventstreams_spark.streaming.stateful import token_bucket_stream

    base = 1704103200
    # (arrival_idx, ts_offset): burst of 5 drains the bucket; t=10
    # refills exactly one token (admitted); t=5 arrives LATE in its
    # own batch (rejected, clock must stay at 10); t=16 then refills
    # only (16-10)*100=600 milli < 1000 -> rejected. A rewound clock
    # would grant (16-5)*100=1100 and wrongly admit it.
    offsets = [0, 0, 0, 0, 0, 10, 5, 16]
    df = spark.createDataFrame(
        [("a", i, base + off) for i, off in enumerate(offsets)],
        "k string, event_id long, t_s long",
    ).select("k", "event_id", F.timestamp_seconds("t_s").alias("ts"))
    stream = replay_table(
        spark, df, str(tmp_path), chunks=len(offsets), order_col="event_id"
    )
    run_to_memory(
        token_bucket_stream(stream, "k", "ts"),
        "t_bucket_ooo",
        output_mode="append",
    )
    admitted = sorted(
        r.event_id
        for r in spark.sql("SELECT event_id FROM t_bucket_ooo").collect()
    )
    assert admitted == [0, 1, 2, 3, 4, 5], admitted


@pytest.mark.slow
def test_slo_burn_stream_late_hour_merges_into_ring(spark, tmp_path):
    """ADVICE r4: an event whose hour already CLOSED (late across a
    micro-batch boundary) must not inflate the open hour's counters;
    it merges into the matching 24h-ring entry so future 6h/24h burn
    sums use corrected counts. The closed hour's emitted row is not
    retracted (append mode)."""
    from eventstreams_spark.streaming.stateful import slo_burn_stream

    H = 1704103200 // 3600  # epoch hour
    # arrival order: 4 events hr H (1 err) | 2 events hr H+1 (closes
    # H) | 1 LATE hr-H error | 1 event hr H+2 (closes H+1)
    rows = [
        ("k", 0, H * 3600 + 10, 1),
        ("k", 1, H * 3600 + 20, 0),
        ("k", 2, H * 3600 + 30, 0),
        ("k", 3, H * 3600 + 40, 0),
        ("k", 4, (H + 1) * 3600 + 5, 0),
        ("k", 5, (H + 1) * 3600 + 6, 0),
        ("k", 6, H * 3600 + 50, 1),  # late: hour H already closed
        ("k", 7, (H + 2) * 3600 + 1, 0),
    ]
    df = spark.createDataFrame(
        rows, "k string, event_id long, t_s long, is_err long"
    ).select(
        "k", "event_id", F.timestamp_seconds("t_s").alias("ts"), "is_err"
    )
    stream = replay_table(
        spark, df, str(tmp_path), chunks=len(rows), order_col="event_id"
    )
    run_to_memory(
        slo_burn_stream(stream, "ts", "is_err", "k"),
        "t_slo_late",
        output_mode="append",
    )
    got = {
        r.hr: (r.n, r.e, r.burn_1h, r.burn_6h)
        for r in spark.sql(
            "SELECT hr, n, e, burn_1h, burn_6h FROM t_slo_late"
        ).collect()
    }
    # hour H emitted before the late event arrived: original counts
    assert got[H] == (4, 1, 1.0, 1.0)
    # hour H+1: its OWN counters exclude the late event (n=2, e=0,
    # burn_1h=0) but the 6h window sees the CORRECTED ring entry
    # (H: n=5, e=2): 4*(0+2)/(2+5) = 8/7
    assert got[H + 1] == (2, 0, 0.0, round(8 / 7, 6))


@pytest.mark.slow
def test_slo_burn_stream_late_gap_hour_appends_ring_entry(spark, tmp_path):
    """ADVICE r5: a late event for an hour that saw ZERO on-time
    events (a gap hour — it never became `cur`, so it has no ring
    entry) must append a fresh ring entry rather than being silently
    discarded, so future 6h/24h burn sums count it."""
    from eventstreams_spark.streaming.stateful import slo_burn_stream

    H = 1704103200 // 3600  # epoch hour
    # arrival order: 2 events hr H (1 err) | 1 event hr H+2 (closes
    # H; hr H+1 is a gap hour) | 1 LATE hr-(H+1) error (no ring
    # entry exists for H+1) | 1 event hr H+3 (closes H+2)
    rows = [
        ("k", 0, H * 3600 + 10, 1),
        ("k", 1, H * 3600 + 20, 0),
        ("k", 2, (H + 2) * 3600 + 5, 0),
        ("k", 3, (H + 1) * 3600 + 30, 1),  # late, gap hour H+1
        ("k", 4, (H + 3) * 3600 + 1, 0),
    ]
    df = spark.createDataFrame(
        rows, "k string, event_id long, t_s long, is_err long"
    ).select(
        "k", "event_id", F.timestamp_seconds("t_s").alias("ts"), "is_err"
    )
    stream = replay_table(
        spark, df, str(tmp_path), chunks=len(rows), order_col="event_id"
    )
    run_to_memory(
        slo_burn_stream(stream, "ts", "is_err", "k"),
        "t_slo_gap",
        output_mode="append",
    )
    got = {
        r.hr: (r.n, r.e, r.burn_1h, r.burn_6h)
        for r in spark.sql(
            "SELECT hr, n, e, burn_1h, burn_6h FROM t_slo_gap"
        ).collect()
    }
    # hour H closed before the late event: original counts
    assert got[H] == (2, 1, 2.0, 2.0)
    # hour H+2: own counters n=1,e=0; the 6h window must see the
    # late-appended gap-hour entry (H+1: n=1,e=1) plus (H: 2,1):
    # 4*(1+1+0)/(2+1+1) = 2.0. A dropped late event gives 4*1/3.
    assert got[H + 2] == (1, 0, 0.0, 2.0)


def test_mg_state_corrupt_json_raises():
    """ADVICE r5: a truncated/corrupt JSON blob with no legacy \\x1f
    separator must RE-RAISE (state corruption surfaces loudly), not
    be reinterpreted as legacy and yield empty counters."""
    import json

    import pytest

    from eventstreams_spark.streaming.stateful import _parse_mg_state

    with pytest.raises(json.JSONDecodeError):
        _parse_mg_state('{"a": 3, "b"')


def test_mg_state_legacy_blob_starting_with_brace():
    """ADVICE r4: a pre-JSON blob whose FIRST token happens to start
    with '{' is routed to json.loads by the first-byte sniff; it must
    fall back to the legacy separator parse instead of raising."""
    from eventstreams_spark.streaming.stateful import _parse_mg_state

    blob = "{tok\x1f3\x1ebeta\x1f2"
    assert _parse_mg_state(blob) == {"{tok": 3, "beta": 2}


@pytest.mark.slow
def test_conformal_monitor_stream_matches_batch(spark, sf_dir, tmp_path):
    """FC-conformal twin equality: the streaming online-conformal
    monitor (expanding sorted-multiset calibration in GroupState)
    must emit EXACTLY the batch timeline's rows — same q̂ order
    statistic (tie-order invariant value selection), same test-then-
    update ordering, same n_cal >= 9 warmup gate. All-integer state
    makes the fold bit-exact across micro-batch splits."""
    from eventstreams_spark.queries.forecast_extra import (
        conformal_monitor_timeline,
    )
    from eventstreams_spark.streaming.stateful import conformal_monitor_stream

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("k"), F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    stream = replay_table(spark, daily, str(tmp_path), chunks=4, order_col="day")
    run_to_memory(
        conformal_monitor_stream(stream, "k", "day", "x"),
        "t_conformal",
        output_mode="append",
    )
    got = _rows(
        spark.sql(
            "SELECT k, rn, x, pred, r, n_cal, q90, covered FROM t_conformal"
        )
    )
    want = _rows(
        conformal_monitor_timeline(spark, sf_dir).select(
            F.col("event_type").alias("k"),
            "rn", "x", "pred", "r", "n_cal", "q90", "covered",
        )
    )
    assert got, "stream emitted nothing"
    assert got == want


@pytest.mark.slow
def test_reservoir_es_stream_matches_batch_topk(spark, sf_dir, tmp_path):
    """P7 streaming twin: replaying the documents table through the
    weighted reservoir must end with EXACTLY the batch
    Efraimidis-Spirakis top-20 (same md5-minted keys, same
    (key DESC, id ASC) order), invariant to micro-batch splits."""
    from eventstreams_spark.queries.analysis_extra import (
        weighted_sample_es_topk,
    )
    from eventstreams_spark.streaming.stateful import reservoir_es_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    finals = []
    for chunks in (3, 7):
        d = str(tmp_path / f"c{chunks}")
        stream = replay_table(spark, docs, d, chunks=chunks, order_col="doc_id")
        run_to_memory(
            reservoir_es_stream(stream, "doc_id", "n_chars", k=20),
            f"t_reservoir_{chunks}",
            output_mode="update",
        )
        finals.append(sorted(
            (r.id, r.weight)
            for r in spark.sql(
                f"SELECT id, weight FROM t_reservoir_{chunks} "
                f"WHERE seq = (SELECT max(seq) FROM t_reservoir_{chunks})"
            ).collect()
        ))
    want = sorted(
        (r.doc_id, r.n_chars)
        for r in weighted_sample_es_topk(spark, sf_dir).collect()
    )
    assert finals[0] == want, (finals[0][:5], want[:5])
    assert finals[0] == finals[1]


@pytest.mark.slow
def test_kll_quantile_monitor_stream_rank_guarantee(spark, sf_dir, tmp_path):
    """Streaming KLL monitor: after replaying each channel's values
    the final p50/p90/p99 estimates must satisfy the KLL rank
    guarantee against the EXACT value multiset (true rank within 3%
    of the target for k=200), every estimate must be a value that
    actually occurred, and n_seen must equal the replayed row count.
    The monitor emits one row per (key, q) per micro-batch (update
    emission with a seq tag); the last seq is the live state."""
    import bisect

    from eventstreams_spark.streaming.stateful import (
        kll_quantile_monitor_stream,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .filter(F.col("event_type").isin("click", "error"))
    )
    stream = replay_table(spark, ev, str(tmp_path), chunks=4, order_col="ts")
    run_to_memory(
        kll_quantile_monitor_stream(stream, "event_type", "value"),
        "t_kll_mon",
        output_mode="update",
    )
    got = spark.sql(
        "SELECT event_type, q, estimate, n_seen FROM t_kll_mon m "
        "WHERE seq = (SELECT max(seq) FROM t_kll_mon WHERE event_type = m.event_type)"
    ).collect()
    assert got, "monitor emitted nothing"
    exact = {
        et: sorted(
            r.value for r in ev.filter(F.col("event_type") == et).collect()
        )
        for et in ("click", "error")
    }
    for r in got:
        vals = exact[r.event_type]
        assert r.n_seen == len(vals)
        assert r.estimate in set(vals), "estimate must be a data value"
        lo = bisect.bisect_left(vals, r.estimate)
        hi = bisect.bisect_right(vals, r.estimate)
        target = r.q * len(vals)
        # the whole tie-range counts; rank error <= 3% of n for k=200
        err = min(abs(lo - target), abs(hi - target))
        assert err <= 0.03 * len(vals) + 1, (r.event_type, r.q, err)


@pytest.mark.slow
def test_conformal_monitor_state_recovers_across_restarts(spark, sf_dir, tmp_path):
    """T6 checkpoint recovery for the conformal monitor: the
    (rn, ring, calibration-multiset) state must survive a full query
    restart — the run split across two availableNow drains (new query
    object, same checkpoint) must emit exactly the rows of the
    single-run batch twin, with no rewound rn and no lost calibration
    residuals."""
    from eventstreams_spark.queries.forecast_extra import (
        conformal_monitor_timeline,
    )
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import conformal_monitor_stream

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("k"), F.to_date("ts").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .orderBy("day")
    )
    n = daily.count()
    first, rest = split_half(daily, n)
    rest = rest.orderBy("day")

    def drain():
        stream = (
            spark.readStream.schema("k string, day date, x long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            conformal_monitor_stream(stream, "k", "day", "x")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    stage_files(first.coalesce(1), src, 1)
    drain()
    stage_files(rest.coalesce(1), src, 2)
    drain()  # restart from checkpoint with the second half
    got = _rows(
        spark.read.parquet(out).select(
            "k", "rn", "x", "pred", "r", "n_cal", "q90", "covered"
        )
    )
    want = _rows(
        conformal_monitor_timeline(spark, sf_dir).select(
            F.col("event_type").alias("k"),
            "rn", "x", "pred", "r", "n_cal", "q90", "covered",
        )
    )
    assert got == want


@pytest.mark.slow
def test_kll_monitor_state_recovers_across_restarts(spark, sf_dir, tmp_path):
    """T6 checkpoint recovery for the KLL monitor: the serialized
    sketch must resume EXACTLY — a run split across two drains (same
    checkpoint) must end with the same estimates and n_seen as one
    uninterrupted run over the same file sequence (the sketch is
    deterministic given the same micro-batch sequence; maxFilesPer-
    Trigger=1 pins that sequence)."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import (
        kll_quantile_monitor_stream,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_type", "ts", "value")
        .orderBy("ts")
    )
    n = ev.count()
    first, rest = split_half(ev, n)

    def run(src, out, ck, stages):
        for i, frame in enumerate(stages, start=1):
            stage_files(frame.coalesce(1), src, i)
            stream = (
                spark.readStream.schema(
                    "event_type string, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                kll_quantile_monitor_stream(stream, "event_type", "value")
                .writeStream.foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ck)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
        df = spark.read.parquet(out)
        return sorted(
            (r.q, r.estimate, r.n_seen)
            for r in df.filter(
                df.seq == df.agg(F.max("seq")).collect()[0][0]
            ).collect()
        )

    split = run(
        str(tmp_path / "s1"), str(tmp_path / "o1"), str(tmp_path / "c1"),
        [first, rest],
    )
    whole = run(
        str(tmp_path / "s2"), str(tmp_path / "o2"), str(tmp_path / "c2"),
        [first.union(rest)],
    )
    # same file sequence either way (two staged files); the split run
    # must resume the sketch exactly
    assert split == whole, (split, whole)
    assert split[0][2] == n


@pytest.mark.slow
def test_tdigest_quantile_monitor_stream_rank_guarantee(spark, sf_dir, tmp_path):
    """Streaming t-digest monitor (the KLL monitor's merging-digest
    twin): after replaying each channel's values the final
    p50/p90/p99 estimates must land within 3% TRUE rank of the
    requested quantile against the exact multiset (tighter at the
    tails by the k1 scale function, but 3% is the uniform bound the
    golden pins), and n_seen must equal the replayed row count.
    Estimates interpolate between centroid means, so unlike KLL they
    need not be data values — the rank check brackets the estimate
    between neighbors instead."""
    import bisect

    from eventstreams_spark.streaming.stateful import (
        tdigest_quantile_monitor_stream,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value")
        .filter(F.col("event_type").isin("click", "error"))
    )
    stream = replay_table(spark, ev, str(tmp_path), chunks=4, order_col="ts")
    run_to_memory(
        tdigest_quantile_monitor_stream(stream, "event_type", "value"),
        "t_td_mon",
        output_mode="update",
    )
    got = spark.sql(
        "SELECT event_type, q, estimate, n_seen FROM t_td_mon m "
        "WHERE seq = (SELECT max(seq) FROM t_td_mon WHERE event_type = m.event_type)"
    ).collect()
    assert got, "monitor emitted nothing"
    exact = {
        et: sorted(
            r.value for r in ev.filter(F.col("event_type") == et).collect()
        )
        for et in ("click", "error")
    }
    assert len(got) == 6  # 2 keys x 3 quantiles
    for r in got:
        vals = exact[r.event_type]
        assert r.n_seen == len(vals)
        # rank of the interpolated estimate in the exact multiset
        lo = bisect.bisect_left(vals, r.estimate)
        hi = bisect.bisect_right(vals, r.estimate)
        target = r.q * len(vals)
        err = min(abs(lo - target), abs(hi - target))
        assert err <= 0.03 * len(vals) + 1, (r.event_type, r.q, err)


@pytest.mark.slow
def test_tdigest_monitor_state_recovers_across_restarts(spark, sf_dir, tmp_path):
    """T6 checkpoint recovery for the t-digest monitor: the JSON
    (means, weights) centroid state must resume EXACTLY — a run
    split across two availableNow drains (same checkpoint) ends with
    the same estimates and n_seen as one uninterrupted run over the
    same staged file sequence (build/merge are deterministic numpy;
    maxFilesPerTrigger=1 pins the micro-batch sequence)."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import (
        tdigest_quantile_monitor_stream,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_type", "ts", "value")
        .orderBy("ts")
    )
    n = ev.count()
    first, rest = split_half(ev, n)

    def run(src, out, ck, drains):
        """drains: list of file-groups; each group is staged then the
        query is drained once (resuming from the shared checkpoint).
        The t-digest — unlike KLL at n << k — IS batching-sensitive,
        so both runs must see the SAME file sequence; maxFilesPer-
        Trigger=1 turns each staged file into one micro-batch."""
        idx = 0
        for frames in drains:
            for frame in frames:
                idx += 1
                stage_files(frame.coalesce(1), src, idx)
            stream = (
                spark.readStream.schema(
                    "event_type string, ts timestamp, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                tdigest_quantile_monitor_stream(
                    stream, "event_type", "value"
                )
                .writeStream.foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ck)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
        df = spark.read.parquet(out)
        return sorted(
            (r.q, r.estimate, r.n_seen)
            for r in df.filter(
                df.seq == df.agg(F.max("seq")).collect()[0][0]
            ).collect()
        )

    split = run(
        str(tmp_path / "s1"), str(tmp_path / "o1"), str(tmp_path / "c1"),
        [[first], [rest]],
    )
    whole = run(
        str(tmp_path / "s2"), str(tmp_path / "o2"), str(tmp_path / "c2"),
        [[first, rest]],
    )
    assert split == whole, (split, whole)
    assert split[0][2] == n


@pytest.mark.slow
def test_dgim_window_count_error_bound(spark, sf_dir, tmp_path):
    """DGIM sliding-window counter: after replaying each channel's
    events, the final estimate of 'events in the trailing hour of
    event time' must sit within the classic 50% worst-case bound of
    the EXACT trailing-hour count, state must stay O(log^2 W)
    (n_buckets <= 2*(log2(count)+2)), and the estimate must be exact
    when the window holds everything up to the open half-bucket."""
    import math

    from eventstreams_spark.streaming.stateful import (
        dgim_window_count_stream,
    )

    W = 3600
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id")
        .filter(F.col("event_type").isin("click", "error"))
    )
    stream = replay_table(spark, ev, str(tmp_path), chunks=4, order_col="ts")
    run_to_memory(
        dgim_window_count_stream(stream, "event_type", "ts", window_s=W),
        "t_dgim",
        output_mode="update",
    )
    got = {
        r.event_type: (r.last_ts, r.est_count, r.n_buckets)
        for r in spark.sql(
            "SELECT event_type, last_ts, est_count, n_buckets FROM t_dgim m "
            "WHERE seq = (SELECT max(seq) FROM t_dgim"
            "             WHERE event_type = m.event_type)"
        ).collect()
    }
    assert set(got) == {"click", "error"}
    for et, (last_ts, est, nb) in got.items():
        exact = ev.filter(
            (F.col("event_type") == et)
            & (F.unix_timestamp("ts") > last_ts - W)
            & (F.unix_timestamp("ts") <= last_ts)
        ).count()
        assert exact > 0, "fixture must populate the trailing window"
        # DGIM guarantee: |est - exact| <= half the oldest bucket
        # <= 50% of the true count
        assert abs(est - exact) <= 0.5 * exact + 1, (et, est, exact)
        assert nb <= 2 * (int(math.log2(max(exact, 2))) + 2), (et, nb)


@pytest.mark.slow
def test_dgim_state_recovers_across_restarts(spark, sf_dir, tmp_path):
    """T6 checkpoint recovery for the DGIM counter: integer bucket
    folding is deterministic in arrival order, so a run split across
    two availableNow drains (same checkpoint, same staged file
    sequence) must end bit-equal to one uninterrupted run."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import (
        dgim_window_count_stream,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_type", "ts")
        .orderBy("ts")
    )
    n = ev.count()
    first, rest = split_half(ev, n)

    def run(src, out, ck, drains):
        idx = 0
        for frames in drains:
            for frame in frames:
                idx += 1
                stage_files(frame.coalesce(1), src, idx)
            stream = (
                spark.readStream.schema("event_type string, ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                dgim_window_count_stream(stream, "event_type", "ts")
                .writeStream.foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ck)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
        df = spark.read.parquet(out)
        return sorted(
            (r.last_ts, r.est_count, r.n_buckets)
            for r in df.filter(
                df.seq == df.agg(F.max("seq")).collect()[0][0]
            ).collect()
        )

    split = run(
        str(tmp_path / "s1"), str(tmp_path / "o1"), str(tmp_path / "c1"),
        [[first], [rest]],
    )
    whole = run(
        str(tmp_path / "s2"), str(tmp_path / "o2"), str(tmp_path / "c2"),
        [[first, rest]],
    )
    assert split == whole, (split, whole)


def _contained_patterns(steps, max_len=3, max_events=20):
    """Driver-side truth: distinct '>'-joined subsequences of length
    <= max_len over the first max_events steps (independent
    implementation of the containment automaton for the golden)."""
    seq = steps[:max_events]
    out = set()
    for i, s in enumerate(seq):
        new = {s} | {
            p + ">" + s for p in out if p.count(">") + 1 < max_len
        }
        out |= new
    return out


@pytest.mark.slow
def test_sequence_pattern_stream_equals_batch_census(
    spark, events_slice, tmp_path
):
    """T6 sequence-mining twin (VERDICT r6 #6): streaming incremental
    subsequence containment across 3 micro-batches must emit exactly
    one row per (user, contained pattern of length <= 3 over the
    first 20 events) — so groupBy(pattern).count() over the emitted
    rows IS per-pattern support, equal to the batch census's
    containment definition computed independently driver-side."""
    from eventstreams_spark.streaming.stateful import sequence_pattern_stream

    ev = events_slice.select("event_id", "ts", "user_id", "event_type")
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    out = sequence_pattern_stream(
        stream, "user_id", "ts", "event_type", max_len=3, max_events=20
    )
    run_to_memory(out, "t_seqpat_s", output_mode="append")
    got = _rows(spark.sql("SELECT user_id, pattern, length FROM t_seqpat_s"))
    # emitted at most once per (user, pattern)
    assert len(got) == len(set(got))

    by_user = {}
    for r in sorted(
        ev.select("user_id", "ts", "event_id", "event_type").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    ):
        by_user.setdefault(r.user_id, []).append(r.event_type)
    want = sorted(
        (uid, p, p.count(">") + 1)
        for uid, steps in by_user.items()
        for p in _contained_patterns(steps)
    )
    assert got == want

    # support counts: stream-side groupBy(pattern).count() equals the
    # driver-side census (the running-support contract)
    sup = {
        (r.pattern,): r.n
        for r in spark.sql(
            "SELECT pattern, count(*) AS n FROM t_seqpat_s GROUP BY pattern"
        ).collect()
    }
    want_sup = {}
    for uid, steps in by_user.items():
        for p in _contained_patterns(steps):
            want_sup[(p,)] = want_sup.get((p,), 0) + 1
    assert sup == want_sup


@pytest.mark.slow
def test_sequence_pattern_stream_restart_resumes_containment(spark, tmp_path):
    """T6/T9: the containment set survives a full query restart (new
    query object, same checkpoint) — a pattern contained before the
    restart is NOT re-emitted after it, and extensions completed by
    post-restart events emit exactly once."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import sequence_pattern_stream

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain():
        stream = (
            spark.readStream.schema("k string, ts timestamp, step string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            sequence_pattern_stream(stream, "k", "ts", "step", max_len=2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def rows(pairs):
        return spark.createDataFrame(
            [("a", f"2024-01-01 10:{m:02d}:00", s) for m, s in pairs],
            "k string, ts_s string, step string",
        ).select("k", F.to_timestamp("ts_s").alias("ts"), "step")

    stage_files(rows([(0, "x"), (1, "y")]), src, 1)
    drain()
    got1 = sorted(r.pattern for r in spark.read.parquet(out).collect())
    assert got1 == ["x", "x>y", "y"], got1
    # restart: x and y are in recovered state -> only the new
    # extensions emit (z, x>z, y>z, then the second y completes y>y
    # and z>y; x>y NOT re-emitted)
    stage_files(rows([(2, "z"), (3, "y")]), src, 2)
    drain()
    got2 = sorted(r.pattern for r in spark.read.parquet(out).collect())
    assert got2 == [
        "x", "x>y", "x>z", "y", "y>y", "y>z", "z", "z>y",
    ], got2


@pytest.mark.slow
def test_bloom_dedup_stream_drops_all_dups_keeps_uniques(
    spark, events_slice, tmp_path
):
    """T5 bounded-state twin: the sharded-Bloom streaming dedup must
    emit every distinct event_id exactly ONCE across micro-batches —
    true duplicates (a replayed copy of half the slice) are always
    dropped; at this fill factor (n << m/10) the deterministic md5
    bits produce no false-positive drops, so emitted == distinct."""
    from eventstreams_spark.streaming.stateful import bloom_dedup_stream

    ev = events_slice.select("event_id", "ts")
    dup = ev.filter(F.col("event_id") % 2 == 0)  # replayed copy
    both = ev.unionByName(dup)
    stream = replay_table(spark, both, str(tmp_path), chunks=3, order_col="ts")
    out = bloom_dedup_stream(stream, "event_id", "ts")
    run_to_memory(out, "t_bloomdedup_s", output_mode="append")
    got = [r.event_id for r in spark.sql(
        "SELECT event_id FROM t_bloomdedup_s"
    ).collect()]
    assert len(got) == len(set(got)), "an id was emitted twice"
    want = {str(r.event_id) for r in ev.select("event_id").distinct().collect()}
    assert set(got) == want


@pytest.mark.slow
def test_bloom_dedup_stream_bitmap_survives_restart(spark, tmp_path):
    """T5/T9: the Bloom bitmap recovers from the checkpoint — an id
    seen before a full query restart is still dropped after it."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import bloom_dedup_stream

    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))

    def drain():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            bloom_dedup_stream(stream, "event_id", "ts", shards=2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def rows(ids, minute0):
        return spark.createDataFrame(
            [(i, f"2024-01-01 10:{minute0 + k:02d}:00")
             for k, i in enumerate(ids)],
            "event_id long, ts_s string",
        ).select("event_id", F.to_timestamp("ts_s").alias("ts"))

    stage_files(rows([1, 2, 3], 0), src, 1)
    drain()
    got1 = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got1 == ["1", "2", "3"], got1
    # restart: 2 and 3 are in the recovered bitmap; only 4 is new
    stage_files(rows([2, 4, 3], 10), src, 2)
    drain()
    got2 = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got2 == ["1", "2", "3", "4"], got2


@pytest.mark.slow
def test_session_timeout_stream_emits_final_sessions(
    spark, events_slice, tmp_path
):
    """T6 event-time timeout: gap sessions close EITHER by a
    beyond-gap event or by the watermark passing last+gap (GroupState
    EventTimeTimeout). After a terminal watermark-advancing sentinel,
    the stream's output equals the FULL batch sessionization —
    including each key's final session, the rows the append-mode
    session ops must withhold."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import session_timeout_stream

    ev = events_slice.select("event_id", "ts", "user_id")
    # 3 time-contiguous chunks + a far-future sentinel that pushes the
    # watermark past every real session's last+gap
    src = str(tmp_path / "src")
    from pyspark.sql import Window as W

    chunked = ev.withColumn(
        "_c", F.ntile(3).over(W.orderBy("ts", "event_id"))
    )
    for i in range(1, 4):
        stage_files(chunked.filter(F.col("_c") == i).drop("_c"), src, i)
    sentinel = spark.createDataFrame(
        [(999999, "2025-01-01 00:00:00", -1)],
        "event_id long, ts_s string, user_id long",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    stage_files(sentinel, src, 4)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    out = session_timeout_stream(stream, "user_id", "ts", gap_seconds=1800)
    run_to_memory(out, "t_sesstmo_s", output_mode="append")
    got = _rows(
        spark.sql(
            "SELECT user_id, session_start, session_end, n_events"
            " FROM t_sesstmo_s WHERE user_id >= 0"
        )
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("double")
                    - F.col("prev_ts").cast("double")
                    > 1800
                )
            ).cast("long"),
        )
        .withColumn("sid", F.sum("new_s").over(w))
    )
    want = _rows(
        sess.groupBy("user_id", "sid").agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        ).select("user_id", "session_start", "session_end", "n_events")
    )
    assert len(got) == len(want)
    assert got == want


@pytest.mark.slow
def test_psi_drift_stream_equals_batch_gate(spark, sf_dir, tmp_path):
    """Streaming PSI monitor ≡ the batch psi_distribution_drift gate:
    PSI is a pure function of the two integer bucket-count vectors,
    and integer counts are batching-invariant, so after replaying a
    channel's full history the final emitted psi/drift_flag must
    EXACTLY match the batch query for that channel (math.isclose at
    1e-12 — both sides are doubles computed from the same integers),
    and n_ref + n_cur must equal the replayed row count."""
    import math

    from eventstreams_spark.queries.warehouse_extra import (
        psi_distribution_drift,
    )
    from eventstreams_spark.streaming.stateful import psi_drift_stream

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "value")
        .filter(F.col("event_type").isin("click", "error"))
    )
    stream = replay_table(spark, ev, str(tmp_path), chunks=4, order_col="ts")
    run_to_memory(
        psi_drift_stream(stream, "event_type", "value"),
        "t_psi_mon",
        output_mode="update",
    )
    got = {
        r.event_type: r
        for r in spark.sql(
            "SELECT * FROM t_psi_mon m WHERE seq = "
            "(SELECT max(seq) FROM t_psi_mon WHERE event_type = m.event_type)"
        ).collect()
    }
    assert set(got) == {"click", "error"}
    want = {
        r.event_type: r
        for r in psi_distribution_drift(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "error"))
        .collect()
    }
    counts = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for et in ("click", "error"):
        assert math.isclose(
            round(got[et].psi, 6), want[et].psi, rel_tol=0, abs_tol=1.5e-6
        ), (et, got[et].psi, want[et].psi)
        assert got[et].drift_flag == want[et].drift_flag
        assert got[et].n_ref + got[et].n_cur == counts[et]


@pytest.mark.slow
def test_psi_drift_stream_state_recovers_across_restarts(spark, sf_dir, tmp_path):
    """T6 checkpoint recovery for the PSI monitor: a run split across
    two availableNow drains (shared checkpoint) must end with the
    identical psi/n_ref/n_cur as one uninterrupted run — the json
    count-vector state round-trips exactly, and PSI is batching-
    invariant so no file-sequence pinning is even needed."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import psi_drift_stream

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_type", "ts", "value")
        .orderBy("ts")
    )
    n = ev.count()
    first, rest = split_half(ev, n)

    def run(src, out, ck, drains):
        idx = 0
        for frames in drains:
            for frame in frames:
                idx += 1
                stage_files(frame.coalesce(1), src, idx)
            q = (
                psi_drift_stream(
                    spark.readStream.schema(
                        "event_type string, ts timestamp, value double"
                    ).parquet(src),
                    "event_type",
                    "value",
                )
                .writeStream.foreachBatch(
                    lambda bdf, _bid: bdf.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ck)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
        df = spark.read.parquet(out)
        r = df.filter(
            df.seq == df.agg(F.max("seq")).collect()[0][0]
        ).collect()[0]
        return (round(r.psi, 9), r.n_ref, r.n_cur)

    split = run(
        str(tmp_path / "s1"), str(tmp_path / "o1"), str(tmp_path / "c1"),
        [[first], [rest]],
    )
    whole = run(
        str(tmp_path / "s2"), str(tmp_path / "o2"), str(tmp_path / "c2"),
        [[first, rest]],
    )
    assert split == whole, (split, whole)
    assert split[1] + split[2] == n


def _basket_lines(spark, sf_dir):
    from eventstreams_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select(
            F.col("l_orderkey").alias("basket"),
            F.col("p_brand").alias("item"),
            F.col("l_shipdate").alias("ts"),
        )
    )


@pytest.mark.slow
def test_pair_rules_stream_equals_batch_pair_rules(spark, sf_dir, tmp_path):
    """Streaming association-rule monitor ≡ the batch
    association_rules_confidence_lift restricted to its pair
    (single-item-antecedent) rules: emit-once makes the sink census a
    pure function of the replayed basket rows under ANY chunking, and
    the snapshot applies the identical adaptive minsup, so after a
    full replay every (antecedent, consequent, n_rule, n_antecedent,
    confidence, lift) row must match the batch query exactly."""
    from eventstreams_spark.queries.warehouse_extra import (
        association_rules_confidence_lift,
    )
    from eventstreams_spark.streaming.replay import replay_table, run_to_memory
    from eventstreams_spark.streaming.stateful import (
        pair_rules_snapshot,
        pair_rules_stream,
    )

    lines = _basket_lines(spark, sf_dir)
    stream = replay_table(
        spark, lines, str(tmp_path), chunks=3, order_col="ts"
    ).drop("ts")
    run_to_memory(
        pair_rules_stream(stream, "basket", "item"), "t_pair_rules"
    )
    emitted = spark.table("t_pair_rules")
    got = {
        (r.antecedent, r.consequent): r
        for r in pair_rules_snapshot(emitted, "basket").collect()
    }
    want = {
        (r.antecedent, r.consequent): r
        for r in association_rules_confidence_lift(spark, sf_dir)
        .filter(~F.col("antecedent").contains("|"))
        .collect()
    }
    assert set(got) == set(want), (
        len(got), len(want),
        sorted(set(got) ^ set(want))[:5],
    )
    for k, w in want.items():
        g = got[k]
        assert (g.n_rule, g.n_antecedent) == (w.n_rule, w.n_antecedent), (k, g, w)
        assert abs(g.confidence - w.confidence) <= 1e-9, (k, g, w)
        assert abs(g.lift - w.lift) <= 1e-9, (k, g, w)


@pytest.mark.slow
def test_pair_rules_stream_state_recovers_across_restarts(spark, sf_dir, tmp_path):
    """T6 checkpoint recovery for the association monitor: a run split
    across a restart must emit the exact same (basket, kind, a, b)
    multiset as one uninterrupted run — the GroupState item sets
    resume from the checkpoint, so no pair is re-emitted or lost even
    when a basket's items straddle the restart."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import pair_rules_stream

    lines = _basket_lines(spark, sf_dir).drop("ts")
    n = lines.count()
    first, rest = split_half(lines, n)

    def run(src, out, ck, stages):
        for i, frame in enumerate(stages, start=1):
            stage_files(frame.coalesce(1), src, i)
            stream = (
                spark.readStream.schema("basket long, item string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                pair_rules_stream(stream, "basket", "item")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        return (
            spark.read.parquet(out)
            .groupBy("basket", "kind", "a", "b")
            .agg(F.count(F.lit(1)).alias("m"))
        )

    split = run(
        str(tmp_path / "s1"), str(tmp_path / "o1"), str(tmp_path / "c1"),
        [first, rest],
    )
    solid = run(
        str(tmp_path / "s2"), str(tmp_path / "o2"), str(tmp_path / "c2"),
        [lines],
    )
    assert split.filter(F.col("m") > 1).count() == 0  # emit-once held
    assert solid.filter(F.col("m") > 1).count() == 0
    diff = split.join(
        solid, ["basket", "kind", "a", "b"], "full_outer"
    ).filter(split["m"].isNull() | solid["m"].isNull())
    assert diff.count() == 0


def test_schema_drift_stream_equals_batch_census(spark, sf_dir, tmp_path):
    """The live schema-drift monitor ≡ the batch json_schema_census:
    integer per-shape counts are batching-invariant, so after a full
    3-chunk replay of events the snapshot over emitted rows must
    equal the batch census row-for-row, every shape must have fired
    is_new EXACTLY once, and each shape's final total_rows must equal
    its census count."""
    from eventstreams_spark.queries.extras import json_schema_census
    from eventstreams_spark.streaming.replay import replay_table, run_to_memory
    from eventstreams_spark.streaming.stateful import (
        schema_drift_snapshot,
        schema_drift_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "props")
    stream = replay_table(
        spark, ev, str(tmp_path), chunks=3, order_col="ts"
    ).drop("ts")
    run_to_memory(schema_drift_stream(stream, "props"), "t_schema_drift")
    emitted = spark.table("t_schema_drift")

    got = [
        (r.key_set, r.n_rows)
        for r in schema_drift_snapshot(emitted).collect()
    ]
    want = [
        (r.key_set, r.n_rows)
        for r in json_schema_census(spark, sf_dir).collect()
    ]
    assert got == want
    # emit-once alert: exactly one is_new row per shape, on its first batch
    news = emitted.groupBy("key_set").agg(
        F.sum(F.col("is_new").cast("int")).alias("n_new"),
        F.max("total_rows").alias("final_total"),
    )
    assert news.filter(F.col("n_new") != 1).count() == 0
    finals = {r.key_set: r.final_total for r in news.collect()}
    assert finals == dict(want)


@pytest.mark.slow
def test_schema_drift_stream_restart_keeps_emit_once(spark, sf_dir, tmp_path):
    """T6 checkpoint recovery for the drift monitor: a replay split
    across a restart must (a) reproduce the same snapshot census and
    (b) never re-fire is_new for a shape whose state predates the
    restart."""
    from eventstreams_spark.queries.extras import json_schema_census
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import (
        schema_drift_snapshot,
        schema_drift_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("props")
    n = ev.count()
    first, rest = split_half(ev, n)

    src, out, ck = str(tmp_path / "s"), str(tmp_path / "o"), str(tmp_path / "c")
    for i, frame in enumerate([first, rest], start=1):
        stage_files(frame.coalesce(1), src, i)
        stream = (
            spark.readStream.schema("props string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            schema_drift_stream(stream, "props")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    emitted = spark.read.parquet(out)
    got = [
        (r.key_set, r.n_rows)
        for r in schema_drift_snapshot(emitted).collect()
    ]
    want = [
        (r.key_set, r.n_rows)
        for r in json_schema_census(spark, sf_dir).collect()
    ]
    assert got == want
    bad = (
        emitted.groupBy("key_set")
        .agg(F.sum(F.col("is_new").cast("int")).alias("n_new"))
        .filter(F.col("n_new") != 1)
    )
    assert bad.count() == 0


@pytest.mark.slow
def test_split_half_order_cols_gives_time_prefix(spark):
    """ADVICE r8 #5: split_half's default total order (ALL columns)
    interleaves per-key rows; order_cols lets a recovery scenario ask
    for a chronological prefix. Pin both behaviors."""
    df = spark.createDataFrame(
        [("a", 3, 30), ("a", 1, 10), ("b", 2, 20), ("b", 4, 40)],
        "k string, day int, x int",
    )
    first, rest = split_half(df, 4, order_cols=["day", "k", "x"])
    assert sorted((r.k, r.day) for r in first.collect()) == [
        ("a", 1), ("b", 2),
    ]  # time prefix: the two earliest days, regardless of key
    assert sorted((r.k, r.day) for r in rest.collect()) == [
        ("a", 3), ("b", 4),
    ]
    # default order (k, day, x): a-rows first -> per-key split
    first_d, _ = split_half(df, 4)
    assert sorted((r.k, r.day) for r in first_d.collect()) == [
        ("a", 1), ("a", 3),
    ]
