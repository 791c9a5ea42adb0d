"""T-series extras: native session windows, grid densification with
gap fill (LOCF), and CDC keep-latest compaction.

These are the timeseries/hypertable-flavored operations an
eventstreams-class engine exposes beyond plain tumbling/sliding
windows. All are expressed as single declarative plans — the gap-fill
grid is generated with ``sequence``/``explode`` (no driver loop, no
collect), so each survives a 1000-executor scale-up unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ..streaming.stateful import grouped_fold


@query(
    "session_window_native_30m",
    category="T3",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               min(ts)                          AS session_start,
               max(ts) + INTERVAL '30 minutes'  AS session_end,
               count(*)                         AS n_events
        FROM sess
        GROUP BY user_id, sid
    """,
)
def session_window_native_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (gap-close sessionization as
    a GROUP BY, not a window-function reconstruction — contrast
    ``sessionize_gap30m_batch``).

    Semantics pinned by the oracle: an event at exactly prev_ts + gap
    starts a NEW session (Spark session windows are end-exclusive), and
    session_end = last_event_ts + gap. In batch this plans as a single
    hash-partition-by-user sort-merge session assembly; in streaming the
    same expression runs stateful with watermark-driven close.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "gapfill_hourly_locf",
    category="T10-gapfill",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   time_bucket(INTERVAL '1 hour', ts) AS h,
                   count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled
            FROM events
            WHERE event_type IN ('error', 'purchase')
            GROUP BY event_type, h
        ), bounds AS (
            SELECT min(h) AS mn, max(h) AS mx FROM hourly
        ), grid AS (
            SELECT t.event_type, gs.h
            FROM (SELECT DISTINCT event_type FROM hourly) t
            CROSS JOIN bounds
            CROSS JOIN LATERAL unnest(generate_series(bounds.mn, bounds.mx,
                                                      INTERVAL '1 hour')) AS gs(h)
        )
        SELECT g.event_type,
               g.h AS bucket,
               coalesce(hr.n_events, 0) AS n_events,
               hr.sum_scaled AS sum_scaled,
               last_value(hr.sum_scaled IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sum_scaled_locf
        FROM grid g
        LEFT JOIN hourly hr ON hr.event_type = g.event_type AND hr.h = g.h
    """,
)
def gapfill_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeseries gap fill: densify the hourly grid (every (type, hour)
    slot between global min and max, even empty ones), then
    last-observation-carried-forward over the gaps.

    Plan shape: the grid is sequence()+explode over a 1-row bounds
    aggregate cross-joined with the distinct-types dim — both sides are
    tiny and broadcast, so densification costs no shuffle of the raw
    events; the only wide exchanges are the hourly pre-aggregation and
    the per-type LOCF sort. Sums carried as scaled BIGINT so the hash
    comparison is float-drift-free.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "purchase")
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 10000 + 0.5).cast("long")).alias("sum_scaled"),
    )
    bounds = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    types = hourly.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("bucket"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "sum_scaled",
            F.last("sum_scaled", ignorenulls=True).over(w).alias("sum_scaled_locf"),
        )
    )


@query(
    "cdc_latest_by_key",
    category="T11-cdc",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_id, ts, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id,
               event_id   AS last_event_id,
               ts         AS last_ts,
               event_type AS last_event_type,
               value      AS last_value
        FROM ranked WHERE rn = 1
    """,
)
def cdc_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction: collapse a keyed changelog to its latest
    row per key ((ts, event_id) total order makes it deterministic).

    This is the read-side view of a merge-on-read upsert table.  The
    window+filter form shuffles once on the key and streams each
    partition sorted; at 100 TB the same plan applies per date
    partition, and AQE skew-split handles hot keys. (``max_by(struct)``
    is the agg-form alternative; row_number is kept for its
    deterministic tiebreak.)
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


@query(
    "anomaly_zscore_rolling",
    category="T14-anomaly",
    oracle="""
        WITH scored AS (
            SELECT event_id, event_type, ts, value,
                   avg(value)         OVER w AS mu,
                   stddev_samp(value) OVER w AS sigma,
                   count(*)           OVER w AS n_win
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, event_type, ts, value,
               round((value - mu) / sigma, 6) AS z,
               CASE WHEN abs(round((value - mu) / sigma, 6)) > 3.0
                    THEN 1 ELSE 0 END AS is_anomaly
        FROM scored
        WHERE n_win >= 30 AND sigma > 0
    """,
)
def anomaly_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection per series: each value scored
    against the trailing-100-observation mean/stddev of its own
    event_type (the metrics-backend outlier alarm). Warm-up rows
    (<30 observations) are withheld rather than scored on noise.

    One hash-partition-by-type exchange feeds the sorted rolling
    frame; z is rounded before thresholding so the anomaly flag is
    stable across engines' summation orders. At 100 TB the partition
    key becomes (event_type, date) so no single series serializes.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, Window.currentRow)
    )
    z = F.round((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w), 6)
    return (
        ev.select(
            "event_id",
            "event_type",
            "ts",
            "value",
            z.alias("z"),
            F.when(F.abs(z) > 3.0, 1).otherwise(0).alias("is_anomaly"),
            F.count("*").over(w).alias("n_win"),
            F.stddev_samp("value").over(w).alias("sigma"),
        )
        .filter((F.col("n_win") >= 30) & (F.col("sigma") > 0))
        .drop("n_win", "sigma")
    )


@query(
    "ewma_daily_counts",
    category="T15-ewma",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
            FROM events GROUP BY event_type, day
        ), pos AS (
            SELECT event_type, day, n,
                   row_number() OVER (PARTITION BY event_type ORDER BY day) - 1
                       AS rn
            FROM daily
        )
        SELECT event_type, day, n,
               round(
                   (sum(n * power(0.7, -rn)) OVER w * 0.3 * power(0.7, rn))
                   + first_value(n) OVER w * power(0.7, rn) * 0.7,
                   6) AS ewma
        FROM pos
        WINDOW w AS (PARTITION BY event_type ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def ewma_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.3) of daily
    counts per series. The EWMA recurrence s_t = a*x_t + (1-a)*s_{t-1}
    looks inherently sequential, but expands to the closed form
    s_t = a*sum_i x_i*(1-a)^(t-i) + x_0*(1-a)^t, which is ONE running
    window sum of pre-scaled terms — no recursion, no UDAF, no
    iteration. The pow(1/(1-a), rn) rescaling is numerically safe here
    because the window runs over per-day aggregates (tens of rows per
    series), not raw events — the same pre-aggregate-then-window
    discipline as period_over_period_daily.
    """
    ev = load_table(spark, sf_dir, "events")
    a = 0.3
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_ord = Window.partitionBy("event_type").orderBy("day")
    pos = daily.withColumn("rn", F.row_number().over(w_ord) - 1)
    w = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    decay = F.pow(F.lit(1 - a), F.col("rn"))
    ewma = (
        F.sum(F.col("n") * F.pow(F.lit(1 - a), -F.col("rn"))).over(w)
        * a
        * decay
        + F.first("n").over(w) * decay * (1 - a)
    )
    return pos.select(
        "event_type", "day", "n", F.round(ewma, 6).alias("ewma")
    )


@query(
    "robust_mad_outliers",
    category="T16-mad",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS m
            FROM events GROUP BY event_type
        ), mad AS (
            SELECT e.event_type,
                   any_value(m) AS m,
                   quantile_cont(abs(e.value - m), 0.5) AS mad
            FROM events e JOIN med ON e.event_type = med.event_type
            GROUP BY e.event_type
        )
        SELECT e.event_type,
               round(any_value(mad.m), 6)   AS median_value,
               round(any_value(mad.mad), 6) AS mad_value,
               count(CASE WHEN abs(e.value - mad.m) > 3 * mad.mad / 0.6745
                          THEN 1 END)       AS n_outliers,
               count(*)                     AS n
        FROM events e JOIN mad ON e.event_type = mad.event_type
        GROUP BY e.event_type
    """,
)
def robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: MAD is
    insensitive to the outliers themselves (unlike stddev, which a
    heavy tail inflates until nothing looks anomalous — the z-score
    query's known failure mode). Flags |x - med| > 3*MAD/0.6745
    (the normal-consistency constant).

    Two exact per-group percentile passes plus a broadcast join of the
    5-row stats dim back onto events; at 100 TB swap the exact medians
    for approx_percentile (same plan shape, mergeable sketches).
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("m").alias("m"),
            F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias(
                "mad"
            ),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.any_value("m"), 6).alias("median_value"),
            F.round(F.any_value("mad"), 6).alias("mad_value"),
            F.count(
                F.when(
                    F.abs(F.col("value") - F.col("m")) > 3 * F.col("mad") / 0.6745,
                    1,
                )
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "seasonality_dow_hour",
    category="T17-seasonality",
    oracle="""
        SELECT dayofweek(ts) AS dow,
               hour(ts)      AS hod,
               count(*)      AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events
        GROUP BY dow, hod
    """,
)
def seasonality_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day seasonality profile (the ops
    heatmap). 168 output cells regardless of input size — the ideal
    map-side-combinable aggregate. DuckDB dayofweek (0=Sunday) vs
    Spark dayofweek (1=Sunday) is reconciled Spark-side with -1, the
    same convention scalar_datetime_suite pinned.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "sum_cents"
        ),
    )


@query(
    "interarrival_gap_stats",
    category="T18-interarrival",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        )
        SELECT event_type,
               count(gap_us) AS n_gaps,
               round(quantile_cont(gap_us / 1000000.0, 0.5), 6) AS p50_s,
               round(quantile_cont(gap_us / 1000000.0, 0.95), 6) AS p95_s,
               round(max(gap_us) / 1000000.0, 6) AS max_s
        FROM gaps
        GROUP BY event_type
    """,
)
def interarrival_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per series: lag-gap in exact
    integer microseconds (no float time arithmetic until the final
    division), then exact percentiles — the feed-health profile that
    detects stalls (p95/max blowout) and duplicates (p50 collapse).
    One partition-sort for the lag, then a hash aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.percentile(F.col("gap_us") / 1000000.0, F.lit(0.5)), 6).alias(
            "p50_s"
        ),
        F.round(F.percentile(F.col("gap_us") / 1000000.0, F.lit(0.95)), 6).alias(
            "p95_s"
        ),
        F.round(F.max("gap_us") / 1000000.0, 6).alias("max_s"),
    )


@query(
    "interval_coverage_merge",
    category="T16-interval",
    oracle="""
        WITH iv AS (
            SELECT user_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
            FROM events
        ), seq AS (
            SELECT user_id, s, e,
                   max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max_e
            FROM iv
        ), flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                        THEN 1 ELSE 0 END AS new_island
            FROM seq
        ), islands AS (
            SELECT user_id, s, e,
                   CAST(sum(new_island) OVER (PARTITION BY user_id
                                              ORDER BY s, e) AS BIGINT)
                       AS island_id
            FROM flagged
        ), merged AS (
            SELECT user_id, island_id, min(s) AS ms, max(e) AS me
            FROM islands GROUP BY user_id, island_id
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(sum(epoch_us(me) - epoch_us(ms)) AS BIGINT) // 1000000
                   AS covered_secs
        FROM merged
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def interval_coverage_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval MERGE + coverage (the "total active time"
    / SLA-uptime primitive): each event opens a 10-minute activity
    interval; overlapping intervals per user merge into islands via
    the running-max-of-end trick (start > max(all previous ends) ⇒
    new island), then coverage = Σ(merged lengths) — union semantics,
    double-counting overlaps exactly once.

    Scale: ONE hash shuffle by user_id feeds the running-max window,
    the island-id running sum, and both aggregations (exchange reuse;
    sessionize-class shape — this is sessionization generalized to
    intervals wider than a point). All arithmetic integral µs.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTE")).alias("e"),
    )
    w_order = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max = (
        F.max("e").over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(w_order).cast("long")
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            # integer division on BOTH sides (`div` ↔ DuckDB `//`):
            # a double divide + cast would truncate here but ROUND in
            # DuckDB (oracle_conventions, agg_bitwise_try_arith)
            F.expr(
                "sum(unix_micros(me) - unix_micros(ms)) div 1000000"
            ).alias("covered_secs"),
        )
    )


@query(
    "acf_lag_profile",
    category="T17-acf",
    oracle="""
        WITH seq AS (
            SELECT event_type, value,
                   lag(value, 1) OVER w AS l1,
                   lag(value, 2) OVER w AS l2,
                   lag(value, 3) OVER w AS l3
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT event_type,
               round(corr(value, l1), 6) AS acf1,
               round(corr(value, l2), 6) AS acf2,
               round(corr(value, l3), 6) AS acf3,
               CAST(count(l3) AS BIGINT) AS n3
        FROM seq
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def acf_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation profile (ACF at lags 1..3) per series: the
    seasonality/memory fingerprint — near-zero here (values are
    i.i.d. by construction), spiking at the period on real periodic
    load. Pairwise-complete corr per lag, matching statsmodels'
    `acf(missing='conservative')` convention.

    Scale: ONE shuffle by series key feeds one Window producing all
    three lag columns, then one map-side-combinable moment aggregate;
    corr rounds to 6 (accumulation-order drift, conventions).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 3).over(w).alias("l3"),
    )
    return (
        seq.groupBy("event_type")
        .agg(
            F.round(F.corr("value", "l1"), 6).alias("acf1"),
            F.round(F.corr("value", "l2"), 6).alias("acf2"),
            F.round(F.corr("value", "l3"), 6).alias("acf3"),
            F.count("l3").cast("long").alias("n3"),
        )
    )


@query(
    "hourly_percentile_bands",
    category="T19-bands",
    oracle="""
        SELECT time_bucket(INTERVAL 1 hour, ts) AS h,
               CAST(count(*) AS BIGINT) AS n,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               round(max(value), 6) AS mx
        FROM events
        WHERE value IS NOT NULL
          AND ts < TIMESTAMP '2024-01-04 00:00:00'
        GROUP BY h
        ORDER BY h
    """,
)
def hourly_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-band chart data: p50/p95/max of the metric per hour —
    the percentile ribbon every service dashboard draws. Exact
    interpolated percentiles per bucket (small per-bucket sort);
    at fleet scale each bucket's percentile becomes the mergeable
    approx_percentile sketch with the same plan shape, and
    `promql_histogram_quantile` is the counter-based alternative.

    Scale: one (hour)-keyed aggregate; the time filter prunes at the
    scan (pushdown asserted by the plan tests' conventions).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & (F.col("ts") < F.lit("2024-01-04 00:00:00").cast("timestamp"))
    )
    return (
        ev.groupBy(F.window("ts", "1 hour").getField("start").alias("h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
            F.round(F.max("value"), 6).alias("mx"),
        )
    )


@query(
    "percentile_band_daily",
    category="T16-band",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.50), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75
            FROM events GROUP BY CAST(ts AS DATE)
        ), banded AS (
            SELECT day, p25, p50, p75,
                   round(avg(p25) OVER trail, 6) AS band_lo,
                   round(avg(p75) OVER trail, 6) AS band_hi,
                   count(*) OVER trail AS n_trail
            FROM daily
            WINDOW trail AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                             AND 1 PRECEDING)
        )
        SELECT day, p25, p50, p75, band_lo, band_hi,
               CASE WHEN n_trail >= 3
                    THEN p50 < band_lo OR p50 > band_hi
                    ELSE NULL END AS out_of_band
        FROM banded ORDER BY day
    """,
)
def percentile_band_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile REGRESSION BANDS — the daily-quantile drift monitor:
    per day, exact p25/p50/p75 of event value; the trailing 7-day
    averages of p25 and p75 form the expected band, and a day is
    flagged when its median exits it. Days with fewer than 3 trailing
    observations emit NULL (warm-up, not a verdict). This is the
    metric-quality monitor a training pipeline runs on every numeric
    feed: quantiles instead of means so heavy tails don't own the
    band, a band instead of a point so seasonal wobble doesn't page.

    Cross-engine float discipline: both engines interpolate quantiles
    with rank = q·(n−1) over the same doubles; results round to 6
    before the band arithmetic REUSES the rounded values, so the
    comparison operands are bit-identical.

    Scale: one groupBy(day) percentile aggregate over the scan (exact
    per-day quantiles are cheap because the partition IS the day at
    100 TB — partition-local sort, no cross-day shuffle), then
    windows over the ~30-row day frame — bounded metadata. The
    sketch-powered twin (tdigest_band_agreement_gate) certifies the
    O(δ) path that replaces the exact sort when a single day is too
    large to sort.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
    )
    # ~30 day rows: the unpartitioned window is a bounded metadata frame
    trail = Window.orderBy("day").rowsBetween(-7, -1)
    banded = daily.select(
        "day", "p25", "p50", "p75",
        F.round(F.avg("p25").over(trail), 6).alias("band_lo"),
        F.round(F.avg("p75").over(trail), 6).alias("band_hi"),
        F.count(F.lit(1)).over(trail).alias("n_trail"),
    )
    return banded.select(
        "day", "p25", "p50", "p75", "band_lo", "band_hi",
        F.when(
            F.col("n_trail") >= 3,
            (F.col("p50") < F.col("band_lo")) | (F.col("p50") > F.col("band_hi")),
        ).alias("out_of_band"),
    ).orderBy("day")


@query(
    "theil_sen_daily_slope",
    category="T18-robust",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
                   round(avg(value), 6) AS m
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), slopes AS (
            SELECT a.event_type,
                   (b.m - a.m) / (b.d - a.d) AS s
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND b.d > a.d
        ), ts_est AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   round(quantile_cont(s, 0.5), 6) AS sen_slope
            FROM slopes GROUP BY event_type
        )
        SELECT t.event_type, t.n_pairs, t.sen_slope,
               round(quantile_cont(d.m - t.sen_slope * d.d, 0.5), 6)
                   AS sen_intercept
        FROM ts_est t JOIN daily d ON t.event_type = d.event_type
        GROUP BY t.event_type, t.n_pairs, t.sen_slope
        ORDER BY t.event_type
    """,
)
def theil_sen_daily_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator per event_type: slope = the
    MEDIAN of all pairwise slopes between daily mean values, intercept
    = median(y − slope·x) — the trend line a single outlier day cannot
    move (vs least-squares, where one bad day owns the fit; the regr_
    family pins that estimator, this pins its robust sibling).

    Float discipline: daily means round to 6 first (moment order
    differs across engines), day indices are exact integers, so every
    pairwise slope is the same IEEE division in both engines; medians
    interpolate between identical doubles; results round to 6.

    Scale: the pairwise join is WITHIN-GROUP over the DAILY
    AGGREGATE, never over raw events — pair volume is
    |groups|·days²/2 (435 pairs per group here), a metadata-sized
    frame regardless of corpus size. The raw scan collapses in one
    map-side-combinable avg first; that pre-aggregation is what makes
    Theil–Sen feasible at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias("d"),
    ).agg(F.round(F.avg("value"), 6).alias("m")).persist()
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("m").alias("m1"))
    b = daily.select("event_type", F.col("d").alias("d2"), F.col("m").alias("m2"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("d2") > F.col("d1"))
        .select(
            "event_type",
            ((F.col("m2") - F.col("m1")) / (F.col("d2") - F.col("d1"))).alias("s"),
        )
    )
    est = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("sen_slope"),
    )
    return (
        daily.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "n_pairs", "sen_slope")
        .agg(
            F.round(
                F.expr("percentile(m - sen_slope * d, 0.5)"), 6
            ).alias("sen_intercept")
        )
    )


@query(
    "xcorr_lag_scan",
    category="T19-xcorr",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(*) FILTER (WHERE event_type = 'click')
                        AS DOUBLE) AS x,
                   CAST(count(*) FILTER (WHERE event_type = 'purchase')
                        AS DOUBLE) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ), lags AS (
            SELECT unnest([-7,-6,-5,-4,-3,-2,-1,0,1,2,3,4,5,6,7]) AS lag
        ), paired AS (
            SELECT l.lag, a.x, b.y
            FROM lags l
            JOIN daily a ON TRUE
            JOIN daily b ON b.day = a.day + CAST(l.lag || ' days' AS INTERVAL)
        )
        SELECT lag AS lag_days,
               CAST(count(*) AS BIGINT) AS n_days,
               round(corr(x, y), 6) AS r
        FROM paired
        GROUP BY lag
        ORDER BY lag
    """,
)
def xcorr_lag_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation LAG SCAN between two metric series: Pearson r
    between daily click volume and daily purchase volume at every
    shift in [−7, +7] days — the lead/lag detector behind "does
    clicking predict purchasing k days later?" (r maximized at
    lag k > 0 ⇒ x leads y). Each lag correlates only the overlapping
    day span, and n_days is emitted so a spuriously high r on a short
    overlap is visible next to its support.

    Float discipline: inputs are exact integer counts cast to double,
    corr is the one aggregate both engines compute over identical
    values; round 6 absorbs accumulation-order drift.

    Scale: the raw scan folds to ONE ~30-row daily frame (map-side
    combinable conditional counts); the 15-lag explosion and the
    self-join run on that metadata frame — the corpus is touched
    once, the scan costs |days|·|lags| rows total.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("double").alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("double").alias("y"),
    ).persist()
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    a = daily.select(F.col("day").alias("day_a"), "x")
    b = daily.select(F.col("day").alias("day_b"), "y")
    paired = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("day_b") == F.date_add(F.col("day_a"), F.col("lag")),
        )
    )
    return (
        paired.groupBy(F.col("lag").alias("lag_days"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.corr("x", "y"), 6).alias("r"),
        )
    )


@query(
    "twap_daily_by_type",
    category="T20-twap",
    oracle="""
        WITH obs AS (
            SELECT event_type, CAST(ts AS DATE) AS day, value,
                   CAST(floor(epoch(ts)) AS BIGINT) AS t,
                   lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY event_type, CAST(ts AS DATE)
                       ORDER BY ts, event_id) AS t_next,
                   CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP))
                        AS BIGINT) + 86400 AS day_end
            FROM events WHERE value IS NOT NULL
        ), weighted AS (
            SELECT event_type, day,
                   CAST(floor(value * 100 + 0.5) AS BIGINT)
                       * (coalesce(t_next, day_end) - t) AS cw,
                   coalesce(t_next, day_end) - t AS w
            FROM obs
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               round(avg(twa), 6) AS mean_daily_twa
        FROM (
            SELECT event_type, day,
                   CAST(sum(cw) AS DOUBLE)
                       / (100.0 * CAST(sum(w) AS DOUBLE)) AS twa
            FROM weighted GROUP BY event_type, day
        )
        GROUP BY event_type ORDER BY event_type
    """,
)
def twap_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-WEIGHTED average (the hypertable ``time_weight``
    primitive, LOCF interpolation): within each (event_type, day),
    every observation's value holds until the next observation — the
    last one holds until midnight — and the day's TWA is
    Σ v·Δt / Σ Δt. A plain avg over-weights bursts; TWA is what
    billing/utilization metrics actually need. The daily TWAs then
    average per type.

    Exactness discipline: the weighted numerator accumulates as
    INTEGER cents×seconds (floor(v·100+0.5)·Δt — int64 headroom:
    49k cents × 86400 s × rows), so both engines sum the same
    integers and perform ONE identical IEEE division per day; the
    final cross-day avg rounds to 6.

    Scale: the lead window partitions by (event_type, day) — the
    partition is the day, so state is bounded and no cross-day
    shuffle dependency exists; the rollups are two map-side-
    combinable aggregates.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day = F.to_date("ts")
    w = Window.partitionBy("event_type", day.alias("day")).orderBy("ts", "event_id")
    obs = ev.select(
        "event_type", day.alias("day"), "value",
        F.unix_timestamp("ts").alias("t"),
        F.lead(F.unix_timestamp("ts")).over(
            Window.partitionBy("event_type", day).orderBy("ts", "event_id")
        ).alias("t_next"),
        (F.unix_timestamp(day.cast("timestamp")) + 86400).alias("day_end"),
    )
    weighted = obs.select(
        "event_type", "day",
        (
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            * (F.coalesce("t_next", "day_end") - F.col("t"))
        ).alias("cw"),
        (F.coalesce("t_next", "day_end") - F.col("t")).alias("w"),
    )
    daily = weighted.groupBy("event_type", "day").agg(
        (
            F.sum("cw").cast("double") / (F.lit(100.0) * F.sum("w").cast("double"))
        ).alias("twa")
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(F.avg("twa"), 6).alias("mean_daily_twa"),
        )
    )


@query(
    "clamped_running_balance",
    category="T21-fold",
    oracle="""
        WITH RECURSIVE seq AS MATERIALIZED (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   CASE WHEN event_type IN ('purchase', 'signup')
                        THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                        ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT)
                   END AS delta
            FROM events WHERE value IS NOT NULL
        ), mx AS MATERIALIZED (
            SELECT user_id, max(rn) AS n FROM seq GROUP BY user_id
        ), fold AS (
            SELECT user_id, 0 AS rn, CAST(0 AS BIGINT) AS bal,
                   CAST(0 AS BIGINT) AS n_lo, CAST(0 AS BIGINT) AS n_hi
            FROM mx
            UNION ALL
            SELECT f.user_id, f.rn + 1,
                   greatest(CAST(0 AS BIGINT),
                            least(CAST(20000 AS BIGINT), f.bal + s.delta)),
                   f.n_lo + CASE WHEN f.bal + s.delta < 0 THEN 1 ELSE 0 END,
                   f.n_hi + CASE WHEN f.bal + s.delta > 20000 THEN 1 ELSE 0 END
            FROM fold f JOIN seq s
              ON s.user_id = f.user_id AND s.rn = f.rn + 1
        )
        SELECT f.user_id,
               f.bal AS final_bal_cents,
               f.n_lo AS n_clamp_lo,
               f.n_hi AS n_clamp_hi
        FROM fold f JOIN mx ON f.user_id = mx.user_id AND f.rn = mx.n
        ORDER BY f.user_id
    """,
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLAMPED running balance — the fold no window frame can express:
    per user, credits (purchase/signup cents) and debits (all other
    event cents) apply in (ts, event_id) order to a balance clamped to
    [0, 20000]; because the clamp is applied at EVERY step, the result
    depends on the full path, not the sum (sum-then-clamp is wrong the
    moment the path touches a bound). Emits each user's final balance
    plus how often each bound clipped. This is the inventory/credit-
    limit/token-bucket primitive; the streaming twins
    (throttle/accumulate in streaming/stateful.py) run the same class
    of fold in GroupState.

    Exactness: all arithmetic is int64 cents; the fold order is the
    repo-wide (ts, event_id) total order, so both engines walk
    identical integer sequences.

    Scale: one shuffle by user into applyInPandas; per-key state is 3
    integers; the oracle's recursive CTE (depth = max events/user) is
    the semantic spec, not the production shape.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    deltas = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            F.col("event_type").isin("purchase", "signup"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).otherwise(
            -F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("delta"),
    )

    return grouped_fold(
        deltas, "user_id", _clamped_running_balance_fold, keep="key",
        added="final_bal_cents long, n_clamp_lo long, n_clamp_hi long",
    )


def _clamped_running_balance_fold(key, pdfs, state):
    """Per-user fold of :func:`clamped_running_balance`."""
    import pandas as pd

    (pdf,) = pdfs
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    bal, lo, hi = 0, 0, 0
    for d in pdf["delta"]:
        t = bal + int(d)
        if t < 0:
            lo += 1
            bal = 0
        elif t > 20000:
            hi += 1
            bal = 20000
        else:
            bal = t
    yield pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "final_bal_cents": [bal],
            "n_clamp_lo": [lo],
            "n_clamp_hi": [hi],
        }
    )


def _haar_oracle() -> str:
    # unrolled lifting levels 1..4 over the 16-day series; detail
    # coefficients at level l carry Parseval weight 2^(4-l), the
    # final smooth carries 1 (all-integer: 16*sum(x^2) identity)
    lvls = []
    for lv in (1, 2, 3, 4):
        prev = "l0" if lv == 1 else f"l{lv - 1}"
        lvls.append(f"""l{lv} AS (
            SELECT event_type, i // 2 AS i,
                   CAST(sum(s) AS BIGINT) AS s,
                   CAST(sum(CASE WHEN i % 2 = 0 THEN s ELSE -s END)
                        AS BIGINT) AS d
            FROM {prev} GROUP BY event_type, i // 2
        )""")
    details = " UNION ALL ".join(
        f"SELECT event_type, 'd{lv}' AS component,"
        f" CAST({2 ** (4 - lv)} AS BIGINT) * CAST(sum(d * d) AS BIGINT)"
        f" AS energy16, CAST(count(*) AS BIGINT) AS n_coeffs"
        f" FROM l{lv} GROUP BY event_type"
        for lv in (1, 2, 3, 4)
    )
    return f"""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, x,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY day)
                        AS BIGINT) - 1 AS i
            FROM daily QUALIFY row_number() OVER (
                PARTITION BY event_type ORDER BY day) <= 16
        ), ok AS (
            SELECT event_type FROM seq
            GROUP BY event_type HAVING count(*) = 16
        ), l0 AS (
            SELECT s.event_type, s.i, s.x AS s
            FROM seq s SEMI JOIN ok ON s.event_type = ok.event_type
        ), {", ".join(lvls)}, tot AS (
            SELECT event_type,
                   CAST(16 AS BIGINT) * CAST(sum(s * s) AS BIGINT)
                       AS total16
            FROM l0 GROUP BY event_type
        ), comps AS (
            {details}
            UNION ALL
            SELECT event_type, 's4',
                   CAST(sum(s * s) AS BIGINT),
                   CAST(count(*) AS BIGINT)
            FROM l4 GROUP BY event_type
        ), checks AS (
            SELECT event_type,
                   CAST(sum(energy16) AS BIGINT) AS energy_sum
            FROM comps GROUP BY event_type
        )
        SELECT c.event_type, c.component, c.n_coeffs, c.energy16,
               CAST(round(c.energy16 * 1.0 / t.total16, 6) AS DOUBLE)
                   AS share,
               (k.energy_sum = t.total16) AS parseval_gate
        FROM comps c
        JOIN tot t ON c.event_type = t.event_type
        JOIN checks k ON c.event_type = k.event_type
        ORDER BY c.event_type, c.component
    """


@query(
    "haar_wavelet_energy_census",
    category="TS-wavelet",
    oracle=_haar_oracle(),
)
def haar_wavelet_energy_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HAAR WAVELET decomposition of each channel's first-16-day
    activity series — the multiresolution energy census (which time
    SCALES carry the signal: d1 = day-to-day noise, d4 = week-scale
    swings, s4 = the level), and the wavelet-synopsis primitive the
    approximate-query literature builds histograms from. The
    UNNORMALIZED lifting scheme keeps every coefficient an exact
    INTEGER (level ℓ: s = pairsum, d = pairdiff of level ℓ−1), so
    Parseval's identity holds EXACTLY in integers after scaling by
    2^L: 16·Σx² = Σ_ℓ 2^(4−ℓ)·Σd_ℓ² + s₄² — the `parseval_gate`
    column pins it per channel on both engines; any lifting bug
    (wrong pairing, wrong sign, lost coefficient) breaks the gate
    AND the hash.

    Scale: the daily rollup is the one fact pass; each lifting level
    is ONE groupBy on a frame that HALVES per level (channels × 16 →
    8 → 4 → 2 → 1 rows) with integer-only arithmetic — the shape
    generalizes to length-2^k series with k unrolled levels, all
    shuffles keyed by (channel, position-block). Only the final
    share divides, rounded at read.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type", "x",
        (F.row_number().over(w).cast("long") - 1).alias("i"),
    ).filter(F.col("i") < 16)
    ok = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd")
    ).filter(F.col("nd") == 16).select("event_type")
    l0 = seq.join(F.broadcast(ok), "event_type", "semi").select(
        "event_type", "i", F.col("x").alias("s")
    )
    # l0 feeds the total AND level 1 — checkpoint the tiny frame so
    # the daily rollup runs once in the returned plan
    from ..operators.graph import truncate_lineage

    l0 = truncate_lineage(l0, 1)
    levels = {0: l0}
    for lv in (1, 2, 3, 4):
        prev = levels[lv - 1]
        levels[lv] = prev.groupBy(
            "event_type", (F.col("i") / 2).cast("long").alias("i2")
        ).agg(
            F.sum("s").cast("long").alias("s"),
            F.sum(
                F.when(F.col("i") % 2 == 0, F.col("s")).otherwise(
                    -F.col("s")
                )
            ).cast("long").alias("d"),
        ).select("event_type", F.col("i2").alias("i"), "s", "d")
        # each level feeds the next AND its detail census
        levels[lv] = truncate_lineage(levels[lv], 1)
    comps = None
    for lv in (1, 2, 3, 4):
        c = levels[lv].groupBy("event_type").agg(
            (
                F.lit(2 ** (4 - lv)).cast("long")
                * F.sum(F.col("d") * F.col("d")).cast("long")
            ).alias("energy16"),
            F.count(F.lit(1)).cast("long").alias("n_coeffs"),
        ).select(
            "event_type", F.lit(f"d{lv}").alias("component"),
            "n_coeffs", "energy16",
        )
        comps = c if comps is None else comps.unionByName(c)
    smooth = levels[4].groupBy("event_type").agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("energy16"),
        F.count(F.lit(1)).cast("long").alias("n_coeffs"),
    ).select(
        "event_type", F.lit("s4").alias("component"),
        "n_coeffs", "energy16",
    )
    comps = truncate_lineage(comps.unionByName(smooth), 1)
    tot = l0.groupBy("event_type").agg(
        (
            F.lit(16).cast("long")
            * F.sum(F.col("s") * F.col("s")).cast("long")
        ).alias("total16")
    )
    checks = comps.groupBy("event_type").agg(
        F.sum("energy16").cast("long").alias("energy_sum")
    )
    return (
        comps.join(F.broadcast(tot), "event_type")
        .join(F.broadcast(checks), "event_type")
        .select(
            "event_type", "component", "n_coeffs", "energy16",
            F.round(F.col("energy16") / F.col("total16"), 6).alias(
                "share"
            ),
            (F.col("energy_sum") == F.col("total16")).alias(
                "parseval_gate"
            ),
        )
    )
