"""Market-analytics family: OHLC bars, drawdown, RSI, Bollinger,
Sharpe — the tick-to-indicator pipeline of a quant/telemetry stack,
treating each event_type's ``value`` stream as a price series.

Why it belongs here: every real deployment of a stream engine in
fin/ops monitoring reduces ticks to daily bars and then runs
path-dependent indicators over the bar frame. The scale shape is the
whole point: ONE rollup collapses the raw scan to |types| × |days|
bar rows (map-side combinable min/max/count and order-keyed
first/last), and every indicator window runs on that bounded frame —
never on raw ticks.

Float discipline (house rule): prices accumulate as integer cents
(floor(v*100+0.5)); open/close are picked by an explicit total-order
key (zero-padded epoch_micros || event_id — DuckDB's min_by/max_by
has no composite key, so both engines order by the SAME varchar);
RSI is the single division 100·ΣG/(ΣG+ΣL) of integer sums; Bollinger
variance comes from the integer identity n·Σx²−(Σx)²; Sharpe's
mean/std over ≤30 daily returns are rounded to 6dp (magnitudes where
1-ulp disagreement is ~1e-17, far inside the grid).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ..streaming.stateful import grouped_fold

# total-order tick key: epoch microseconds then event_id, both
# zero-padded so VARCHAR order == numeric order (min_by/max_by in
# DuckDB take one scalar ordering argument)
_ORD_SQL = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)

_BARS_SQL = f"""
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(min_by(CAST(floor(value * 100 + 0.5) AS BIGINT), {_ORD_SQL})
                AS BIGINT) AS open_cents,
           CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS high_cents,
           CAST(min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS low_cents,
           CAST(max_by(CAST(floor(value * 100 + 0.5) AS BIGINT), {_ORD_SQL})
                AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS volume
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, CAST(ts AS DATE)
"""


def _daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ordk = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return (
        ev.select(
            "event_type",
            F.to_date("ts").alias("day"),
            cents.alias("cents"),
            ordk.alias("ordk"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.min_by("cents", "ordk").cast("long").alias("open_cents"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.max_by("cents", "ordk").cast("long").alias("close_cents"),
            F.count(F.lit(1)).cast("long").alias("volume"),
        )
    )


@query("ohlc_daily_bars", category="MK-ohlc", oracle=f"{_BARS_SQL} ORDER BY event_type, day")
def ohlc_daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLCV bars per event_type: open/close picked by the
    explicit (epoch_micros, event_id) total order, high/low/volume as
    plain min/max/count — the tick-compaction primitive under every
    indicator in this family.

    Scale: one aggregate, map-side combinable (min_by/max_by partials
    merge associatively); output is |types|×|days| rows regardless of
    tick volume.
    """
    return _daily_bars(spark, sf_dir)


@query(
    "max_drawdown_path",
    category="MK-drawdown",
    oracle=f"""
        WITH bars AS ({_BARS_SQL}),
        walked AS (
            SELECT event_type, day, close_cents,
                   CAST(max(close_cents) OVER (PARTITION BY event_type
                        ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS peak_cents
            FROM bars
        ), dd AS (
            SELECT event_type, day, close_cents, peak_cents,
                   peak_cents - close_cents AS dd_cents
            FROM walked
        )
        SELECT event_type,
               CAST(max(dd_cents) AS BIGINT) AS max_drawdown_cents,
               min_by(day, lpad(CAST(999999999 - dd_cents AS VARCHAR), 12, '0')
                           || CAST(day AS VARCHAR)) AS trough_day,
               CAST(min_by(peak_cents,
                           lpad(CAST(999999999 - dd_cents AS VARCHAR), 12, '0')
                           || CAST(day AS VARCHAR)) AS BIGINT)
                   AS peak_at_trough_cents
        FROM dd GROUP BY event_type ORDER BY event_type
    """,
)
def max_drawdown_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each type's daily close series — the
    path-dependent risk readout (running peak minus current close,
    maximized over the path). The trough day tiebreaks to the
    EARLIEST day at the maximal drawdown via one composite varchar
    key (inverted-drawdown || day) so both engines pick the same row
    without a second window pass.

    Scale: the path runs over the bar frame (|types|×|days| rows) —
    the running-peak window and the final argmax never see raw ticks.
    """
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dd = bars.withColumn(
        "peak_cents", F.max("close_cents").over(w).cast("long")
    ).withColumn("dd_cents", F.col("peak_cents") - F.col("close_cents"))
    pick = F.concat(
        F.lpad((F.lit(999999999) - F.col("dd_cents")).cast("string"), 12, "0"),
        F.col("day").cast("string"),
    )
    return (
        dd.groupBy("event_type")
        .agg(
            F.max("dd_cents").cast("long").alias("max_drawdown_cents"),
            F.min_by("day", pick).alias("trough_day"),
            F.min_by("peak_cents", pick).cast("long").alias("peak_at_trough_cents"),
        )
    )


@query(
    "rsi_cutler_14",
    category="MK-rsi",
    oracle=f"""
        WITH bars AS ({_BARS_SQL}),
        diffed AS (
            SELECT event_type, day,
                   close_cents - lag(close_cents) OVER (
                       PARTITION BY event_type ORDER BY day) AS d,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                       AS rn
            FROM bars
        ), gl AS (
            SELECT event_type, day, rn,
                   CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS sum_gain,
                   CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END) OVER (
                       PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS sum_loss
            FROM diffed
        )
        SELECT event_type, day, sum_gain, sum_loss,
               CAST(round(100.0 * sum_gain / (sum_gain + sum_loss), 6)
                    AS DOUBLE) AS rsi14
        FROM gl WHERE rn >= 15 ORDER BY event_type, day
    """,
)
def rsi_cutler_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-day RSI (Cutler's simple-moving-average variant — chosen
    over Wilder's recursive smoothing precisely because it reduces to
    RSI = 100·ΣG/(ΣG+ΣL), a SINGLE division of two integer window
    sums, bit-identical across engines; Wilder's form is a recursive
    fold, which this repo implements under the EWMA/Holt family).
    Rows start once a full 14-delta window exists (rn ≥ 15).

    Scale: deltas and the two trailing sums are windows over the bar
    frame only.
    """
    bars = _daily_bars(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    w14 = wo.rowsBetween(-13, 0)
    diffed = bars.withColumn(
        "d", F.col("close_cents") - F.lag("close_cents").over(wo)
    ).withColumn("rn", F.row_number().over(wo))
    gl = diffed.withColumn(
        "sum_gain",
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0)).over(w14)
        .cast("long"),
    ).withColumn(
        "sum_loss",
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0)).over(w14)
        .cast("long"),
    )
    return (
        gl.filter(F.col("rn") >= 15)
        .select(
            "event_type", "day", "sum_gain", "sum_loss",
            F.round(
                100.0 * F.col("sum_gain")
                / (F.col("sum_gain") + F.col("sum_loss")),
                6,
            ).alias("rsi14"),
        )
    )


@query(
    "bollinger_band_breakouts",
    category="MK-bollinger",
    oracle=f"""
        WITH bars AS ({_BARS_SQL}),
        winsum AS (
            SELECT event_type, day, close_cents,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(sum(close_cents) OVER w AS BIGINT) AS s1,
                   CAST(sum(close_cents * close_cents) OVER w AS BIGINT) AS s2,
                   row_number() OVER (PARTITION BY event_type ORDER BY day)
                       AS rn
            FROM bars
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        ), banded AS (
            SELECT event_type, day, close_cents,
                   CAST(s1 AS DOUBLE) / n AS ma,
                   sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE) / (n * (n - 1.0)))
                       AS sd
            FROM winsum WHERE rn >= 20
        )
        SELECT event_type, day, close_cents,
               CAST(round(ma, 6) AS DOUBLE) AS ma20_cents,
               CAST(round(ma + 2 * sd, 6) AS DOUBLE) AS upper_cents,
               CAST(round(ma - 2 * sd, 6) AS DOUBLE) AS lower_cents,
               (close_cents > ma + 2 * sd OR close_cents < ma - 2 * sd)
                   AS breakout
        FROM banded ORDER BY event_type, day
    """,
)
def bollinger_band_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-day MA ± 2σ) with breakout flags. The
    rolling variance is the integer identity (n·Σx² − (Σx)²)/(n(n−1))
    over cent sums — both engines derive σ from IDENTICAL integers,
    so the bands and the breakout booleans cannot drift (Σx² of cents
    over 20 days ≈ 5e10, far inside int64).

    Scale: three window sums over the bar frame; no raw-tick windows.
    """
    bars = _daily_bars(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    w20 = wo.rowsBetween(-19, 0)
    winsum = (
        bars.withColumn("n", F.count(F.lit(1)).over(w20).cast("long"))
        .withColumn("s1", F.sum("close_cents").over(w20).cast("long"))
        .withColumn(
            "s2",
            F.sum(F.col("close_cents") * F.col("close_cents")).over(w20)
            .cast("long"),
        )
        .withColumn("rn", F.row_number().over(wo))
    )
    ma = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("n") * (F.col("n") - F.lit(1.0)))
    )
    return (
        winsum.filter(F.col("rn") >= 20)
        .select(
            "event_type", "day", "close_cents",
            F.round(ma, 6).alias("ma20_cents"),
            F.round(ma + 2 * sd, 6).alias("upper_cents"),
            F.round(ma - 2 * sd, 6).alias("lower_cents"),
            (
                (F.col("close_cents") > ma + 2 * sd)
                | (F.col("close_cents") < ma - 2 * sd)
            ).alias("breakout"),
        )
    )


@query(
    "sharpe_daily_returns",
    category="MK-sharpe",
    oracle=f"""
        WITH bars AS ({_BARS_SQL}),
        rets AS (
            SELECT event_type,
                   CAST(close_cents - lag(close_cents) OVER (
                        PARTITION BY event_type ORDER BY day) AS DOUBLE)
                   / lag(close_cents) OVER (
                        PARTITION BY event_type ORDER BY day) AS r
            FROM bars
        )
        SELECT event_type,
               CAST(count(r) AS BIGINT) AS n_days,
               CAST(round(avg(r), 6) AS DOUBLE) AS mean_return,
               CAST(round(stddev_samp(r), 6) AS DOUBLE) AS sd_return,
               CAST(round(avg(r) / stddev_samp(r), 6) AS DOUBLE)
                   AS sharpe_daily
        FROM rets WHERE r IS NOT NULL
        GROUP BY event_type ORDER BY event_type
    """,
)
def sharpe_daily_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-return Sharpe ratio per type (risk-free rate 0): each
    return is ONE division of integer cents; mean/stddev aggregate
    ≤ |days| such returns and round to 6dp (float-sum order effects
    ~1e-17 against a 1e-6 grid — the agg_stats_value_by_type
    precedent).

    Scale: returns are a lag window on the bar frame; the final agg
    is |types| rows.
    """
    bars = _daily_bars(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    rets = bars.select(
        "event_type",
        (
            (F.col("close_cents") - F.lag("close_cents").over(wo)).cast("double")
            / F.lag("close_cents").over(wo)
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    return (
        rets.groupBy("event_type")
        .agg(
            F.count("r").cast("long").alias("n_days"),
            F.round(F.avg("r"), 6).alias("mean_return"),
            F.round(F.stddev_samp("r"), 6).alias("sd_return"),
            F.round(F.avg("r") / F.stddev_samp("r"), 6).alias("sharpe_daily"),
        )
    )


@query(
    "rsi_wilder_reference_check",
    category="MK-rsi-wilder",
    oracle=f"""
        WITH RECURSIVE bars AS ({_BARS_SQL}),
        ser AS (
            SELECT day, close_cents,
                   close_cents - lag(close_cents) OVER (ORDER BY day) AS d,
                   row_number() OVER (ORDER BY day) AS rn
            FROM bars WHERE event_type = 'purchase'
        ), seed AS (
            SELECT CAST(15 AS BIGINT) AS rn,
                   (SELECT sum(CASE WHEN d > 0 THEN CAST(d AS DOUBLE)
                                    ELSE 0.0 END) / 14.0
                    FROM ser WHERE rn BETWEEN 2 AND 15) AS ag,
                   (SELECT sum(CASE WHEN d < 0 THEN CAST(-d AS DOUBLE)
                                    ELSE 0.0 END) / 14.0
                    FROM ser WHERE rn BETWEEN 2 AND 15) AS al
        ), r AS (
            SELECT * FROM seed
            UNION ALL
            SELECT s.rn,
                   (r.ag * 13.0 + CASE WHEN s.d > 0
                                       THEN CAST(s.d AS DOUBLE)
                                       ELSE 0.0 END) / 14.0,
                   (r.al * 13.0 + CASE WHEN s.d < 0
                                       THEN CAST(-s.d AS DOUBLE)
                                       ELSE 0.0 END) / 14.0
            FROM r JOIN ser s ON s.rn = r.rn + 1
        ), last AS (SELECT * FROM r ORDER BY rn DESC LIMIT 1)
        SELECT rn AS n_days,
               CAST(round(ag, 6) AS DOUBLE) AS avg_gain,
               CAST(round(al, 6) AS DOUBLE) AS avg_loss,
               CAST(round(100.0 - 100.0 / (1.0 + ag / al), 6) AS DOUBLE)
                   AS rsi_wilder
        FROM last
    """,
)
def rsi_wilder_reference_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's ORIGINAL RSI (recursive smoothing
    avg_t = (avg_{t−1}·13 + x_t)/14 — the form rsi_cutler_14's
    docstring delegates here): the coupled gain/loss recurrences run
    as an applyInPandas fold over the purchase series' daily bars and
    the final (avg_gain, avg_loss, RSI) is certified against a DuckDB
    recursive-CTE replay of the identical literal arithmetic — the
    same fold ≡ recursive-CTE contract as Holt/Holt-Winters/CUSUM.

    Determinism: deltas are integer cents; the seed is one division
    of a 14-term conditional sum; each step is literal (·13 + x)/14
    in identical order — bit-exact before the cosmetic round.

    Scale: the fold input is the daily bar frame (≤|days| rows per
    key); the operator shape is per-key state of two floats — the
    millions-of-series production layout.
    """
    bars = _daily_bars(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select("event_type", "day", "close_cents")
    return grouped_fold(
        bars, "event_type", _rsi_wilder_fold, keep=None,
        added="n_days long, avg_gain double, avg_loss double, rsi_wilder double",
    )


def _rsi_wilder_fold(key, pdfs, state):
    """Per-channel fold of :func:`rsi_wilder_reference_check`."""
    import pandas as pd

    (pdf,) = pdfs
    pdf = pdf.sort_values("day", kind="mergesort")
    closes = list(pdf["close_cents"])
    ds = [b - a for a, b in zip(closes, closes[1:])]
    ag = sum(float(d) for d in ds[:14] if d > 0) / 14.0
    al = sum(float(-d) for d in ds[:14] if d < 0) / 14.0
    for d in ds[14:]:
        ag = (ag * 13.0 + (float(d) if d > 0 else 0.0)) / 14.0
        al = (al * 13.0 + (float(-d) if d < 0 else 0.0)) / 14.0
    rsi = 100.0 - 100.0 / (1.0 + ag / al)
    yield pd.DataFrame(
        {
            "n_days": [len(closes)],
            "avg_gain": [round(ag, 6)],
            "avg_loss": [round(al, 6)],
            "rsi_wilder": [round(rsi, 6)],
        }
    )


# shared daily-return CTE on the bar frame (exact integer-cent
# quotients — bit-identical across engines)
_RETS_SQL = f"""
    bars AS ({_BARS_SQL}),
    rets AS (
        SELECT event_type, day,
               CAST(close_cents - lag(close_cents) OVER (
                    PARTITION BY event_type ORDER BY day) AS DOUBLE)
               / lag(close_cents) OVER (
                    PARTITION BY event_type ORDER BY day) AS r
        FROM bars
    )"""


@query(
    "capm_beta_alpha",
    category="MK-capm",
    oracle=f"""
        WITH {_RETS_SQL},
        mkt AS (
            SELECT day, avg(r) AS rm
            FROM rets WHERE r IS NOT NULL GROUP BY day
        ), joined AS (
            SELECT rets.event_type, rets.r, mkt.rm
            FROM rets JOIN mkt ON rets.day = mkt.day
            WHERE rets.r IS NOT NULL
        ), mom AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(r) AS sx, sum(rm) AS sm,
                   sum(r * rm) AS sxm, sum(rm * rm) AS smm
            FROM joined GROUP BY event_type
        )
        SELECT event_type, n AS n_days,
               CAST(round((n * sxm - sx * sm) / (n * smm - sm * sm), 6)
                    AS DOUBLE) AS beta,
               CAST(round(sx / n - (n * sxm - sx * sm) / (n * smm - sm * sm)
                          * sm / n, 6) AS DOUBLE) AS alpha_daily,
               CAST(round((n * sxm - sx * sm)
                          / sqrt((n * smm - sm * sm)
                                 * (n * (SELECT sum(r * r) FROM joined j2
                                         WHERE j2.event_type = mom.event_type)
                                    - sx * sx)), 6) AS DOUBLE) AS corr_mkt
        FROM mom ORDER BY event_type
    """,
)
def capm_beta_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPM regression per instrument against the equal-weight
    "market" of all event_type streams: β = cov(r_i, r_m)/var(r_m)
    in the n·Σxy−ΣxΣy integer-style form, α = mean(r_i) − β·mean(r_m),
    plus the correlation with the market — the systematic-vs-
    idiosyncratic decomposition behind every factor dashboard.

    Determinism: every return is an exact integer-cent quotient
    (bit-identical both engines); the market return is an avg of ≤5
    such doubles per day (identical operands, engine-independent sum
    order within a 5-element day group — DuckDB and Spark both
    reduce left-to-right over the same single-group values; the ≤30-
    term moment sums then drift only at ~1e-17, far under round 6).

    Scale: everything after the tick rollup runs on the |types|×|days|
    bar frame: a lag window, a day-grain aggregate, a broadcast-size
    join, a |types|-row moment aggregate.
    """
    bars = _daily_bars(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    rets = bars.select(
        "event_type", "day",
        (
            (F.col("close_cents") - F.lag("close_cents").over(wo)).cast("double")
            / F.lag("close_cents").over(wo)
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    mkt = rets.groupBy("day").agg(F.avg("r").alias("rm"))
    joined = rets.join(F.broadcast(mkt), "day").select("event_type", "r", "rm")
    mom = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").alias("sx"),
        F.sum("rm").alias("sm"),
        F.sum(F.col("r") * F.col("rm")).alias("sxm"),
        F.sum(F.col("rm") * F.col("rm")).alias("smm"),
        F.sum(F.col("r") * F.col("r")).alias("sxx"),
    )
    beta = (F.col("n") * F.col("sxm") - F.col("sx") * F.col("sm")) / (
        F.col("n") * F.col("smm") - F.col("sm") * F.col("sm")
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(beta, 6).alias("beta"),
        F.round(F.col("sx") / F.col("n") - beta * F.col("sm") / F.col("n"), 6)
        .alias("alpha_daily"),
        F.round(
            (F.col("n") * F.col("sxm") - F.col("sx") * F.col("sm"))
            / F.sqrt(
                (F.col("n") * F.col("smm") - F.col("sm") * F.col("sm"))
                * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            ),
            6,
        ).alias("corr_mkt"),
    )


@query(
    "sortino_calmar_ratios",
    category="MK-sortino",
    oracle=f"""
        WITH {_RETS_SQL},
        path AS (
            SELECT event_type, day, close_cents,
                   max(close_cents) OVER (PARTITION BY event_type
                                          ORDER BY day) AS peak_cents
            FROM bars
        ), mdd AS (
            SELECT event_type,
                   max(CAST(peak_cents - close_cents AS DOUBLE) / peak_cents)
                       AS max_dd
            FROM path GROUP BY event_type
        ), down AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_days,
                   avg(r) AS mr,
                   sum(CASE WHEN r < 0 THEN r * r ELSE 0.0 END) AS dsq
            FROM rets WHERE r IS NOT NULL GROUP BY event_type
        )
        SELECT down.event_type, n_days,
               CAST(round(mr, 6) AS DOUBLE) AS mean_return,
               CAST(round(sqrt(dsq / n_days), 6) AS DOUBLE)
                   AS downside_dev,
               CAST(round(mr / sqrt(dsq / n_days), 6) AS DOUBLE) AS sortino,
               CAST(round(mdd.max_dd, 6) AS DOUBLE) AS max_drawdown,
               CAST(round(mr / nullif(mdd.max_dd, 0.0), 6) AS DOUBLE)
                   AS calmar_daily
        FROM down JOIN mdd ON down.event_type = mdd.event_type
        ORDER BY down.event_type
    """,
)
def sortino_calmar_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortino and Calmar ratios per instrument — the two downside-
    aware cousins of sharpe_daily_returns: Sortino divides the mean
    return by the DOWNSIDE deviation sqrt(Σ(r⁻)²/n) (target 0), and
    Calmar divides it by the maximum drawdown of the close path
    (running-peak relative loss), the number a fund's risk page leads
    with.

    Determinism: drawdowns are exact quotients of integer cents
    (running max is exact), so max_dd is a max over bit-identical
    doubles; Sortino's ≤30-term squared-loss sum rounds at 6.

    Scale: both path statistics run as windows/aggregates on the
    bounded bar frame — the tick scan ended at the rollup.
    """
    bars = _daily_bars(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    path = bars.select(
        "event_type", "close_cents",
        F.max("close_cents").over(wo).alias("peak_cents"),
    )
    mdd = path.groupBy("event_type").agg(
        F.max(
            (F.col("peak_cents") - F.col("close_cents")).cast("double")
            / F.col("peak_cents")
        ).alias("max_dd")
    )
    rets = bars.select(
        "event_type",
        (
            (F.col("close_cents") - F.lag("close_cents").over(wo)).cast("double")
            / F.lag("close_cents").over(wo)
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    down = rets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.avg("r").alias("mr"),
        F.sum(F.when(F.col("r") < 0, F.col("r") * F.col("r")).otherwise(0.0))
        .alias("dsq"),
    )
    dd = F.sqrt(F.col("dsq") / F.col("n_days"))
    return (
        down.join(F.broadcast(mdd), "event_type")
        .select(
            "event_type", "n_days",
            F.round("mr", 6).alias("mean_return"),
            F.round(dd, 6).alias("downside_dev"),
            F.round(F.col("mr") / dd, 6).alias("sortino"),
            F.round("max_dd", 6).alias("max_drawdown"),
            F.round(
                F.col("mr") / F.nullif(F.col("max_dd"), F.lit(0.0)), 6
            ).alias("calmar_daily"),
        )
    )


@query(
    "var_cvar_historical",
    category="MK-var",
    oracle=f"""
        WITH {_RETS_SQL},
        lvl AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_days,
                   quantile_cont(r, 0.05) AS var95
            FROM rets WHERE r IS NOT NULL GROUP BY event_type
        )
        SELECT lvl.event_type, lvl.n_days,
               CAST(round(lvl.var95, 6) AS DOUBLE) AS var_95,
               CAST(sum(CASE WHEN rets.r <= lvl.var95 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tail,
               CAST(round(sum(CASE WHEN rets.r <= lvl.var95 THEN rets.r
                                   ELSE 0.0 END)
                          / sum(CASE WHEN rets.r <= lvl.var95 THEN 1
                                     ELSE 0 END), 6) AS DOUBLE) AS cvar_95
        FROM rets JOIN lvl ON rets.event_type = lvl.event_type
        WHERE rets.r IS NOT NULL
        GROUP BY lvl.event_type, lvl.n_days, lvl.var95
        ORDER BY lvl.event_type
    """,
)
def var_cvar_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical VaR(95) and CVaR/expected shortfall per instrument:
    VaR is the 5th percentile of the daily-return distribution and
    CVaR the mean of the returns at or below it — the pair every
    risk engine publishes side by side (CVaR is the coherent one).

    Determinism: returns are exact integer-cent quotients; the
    interpolated percentile runs identical arithmetic on identical
    doubles on both engines, and the tail membership test compares
    against that identical threshold — so even boundary returns
    classify identically; the ≤n-term tail mean rounds at 6.

    Scale: a percentile per group over the bounded bar frame, then
    one re-join of that 5-row level table — no second tick scan.
    """
    bars = _daily_bars(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    rets = bars.select(
        "event_type",
        (
            (F.col("close_cents") - F.lag("close_cents").over(wo)).cast("double")
            / F.lag("close_cents").over(wo)
        ).alias("r"),
    ).filter(F.col("r").isNotNull())
    lvl = rets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("percentile(r, 0.05)").alias("var95"),
    )
    return (
        rets.join(F.broadcast(lvl), "event_type")
        .groupBy("event_type", "n_days", "var95")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("var95"), 1).otherwise(0))
            .cast("long").alias("n_tail"),
            F.round(
                F.sum(F.when(F.col("r") <= F.col("var95"), F.col("r")).otherwise(0.0))
                / F.sum(F.when(F.col("r") <= F.col("var95"), 1).otherwise(0)),
                6,
            ).alias("cvar_95"),
        )
        .select(
            "event_type", "n_days",
            F.round("var95", 6).alias("var_95"),
            "n_tail", "cvar_95",
        )
    )


@query(
    "hhi_concentration_daily",
    category="MK-hhi",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, event_type,
                   CAST(count(*) AS BIGINT) AS n_t
            FROM events GROUP BY CAST(ts AS DATE), event_type
        ), per_day AS (
            SELECT day,
                   CAST(sum(n_t) AS BIGINT) AS n,
                   CAST(sum(n_t * n_t) AS BIGINT) AS sum_sq,
                   CAST(count(*) AS BIGINT) AS k
            FROM daily GROUP BY day
        )
        SELECT day, n, k,
               CAST(round(CAST(sum_sq AS DOUBLE)
                          / (CAST(n AS DOUBLE) * n), 6) AS DOUBLE) AS hhi,
               CAST(round((CAST(sum_sq AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                           - 1.0 / k) / (1.0 - 1.0 / k), 6) AS DOUBLE)
                   AS hhi_normalized
        FROM per_day ORDER BY day
    """,
)
def hhi_concentration_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Herfindahl-Hirschman concentration of traffic across
    event types: HHI = Σ share² = Σn_t²/N² (1/k = perfectly even,
    1 = single type takes all), plus the k-normalized form — the
    concentration trend that flags a channel collapsing into one
    event type (instrumentation bugs read as rising HHI).

    Determinism: Σn_t² and N are exact integers; HHI is a single
    division — never a float sum of per-type share squares.

    Scale: two map-side-combinable aggregates (day×type, then day);
    no joins, no windows over the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    per_day = daily.groupBy("day").agg(
        F.sum("n_t").cast("long").alias("n"),
        F.sum(F.col("n_t") * F.col("n_t")).cast("long").alias("sum_sq"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    hhi = F.col("sum_sq").cast("double") / (F.col("n").cast("double") * F.col("n"))
    return per_day.select(
        "day", "n", "k",
        F.round(hhi, 6).alias("hhi"),
        F.round(
            (hhi - 1.0 / F.col("k")) / (1.0 - 1.0 / F.col("k")), 6
        ).alias("hhi_normalized"),
    )
