"""Feature-engineering and signal-processing additions: 1-D Kalman
level filter (the FOURTH sequential-recursion exemplar, after the
applyInPandas folds, the driver-loop graph rounds, and the JVM
``aggregate()`` folds — this one is a JVM fold whose carried state is
a 2-tuple (level, variance) with a data-dependent gain each step),
out-of-fold target encoding (the leakage-safe categorical encoder
every tabular-ML pipeline ships), Theil inequality indices (the
decomposable entropy-based cousin of the Gini already in the repo),
a DFT periodogram beacon detector (spectral twin of the
interarrival-CV beaconing query in secops_extra), and a sequential
target-size compaction planner (the OPTIMIZE/small-files primitive
of every lakehouse maintenance service).

Determinism contract: all sums that feed divisions are exact integer
cents/counts; the Kalman fold applies literal constants in identical
operation order on both engines (bit-exact before the cosmetic
round — proven pattern from adstock/Holt/Wilder); the periodogram's
cos/sin sums are libm-and-order fuzzy at ~1e-13 relative, so the
argmax runs on an INTEGER micro-power key minted identically on both
sides (house pattern from RAKE's integer micro-scores).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.sampling import md5_uniform
from ..registry import query
from ._shared import md5_uniform_sql

# kalman constants: random-walk level model in cent units. BOTH
# engines parse bare decimal literals as DECIMAL (Spark DECIMAL(7,1),
# DuckDB DECIMAL(8,1) — which would quantize the carried variance to
# 0.1 every recursive step), so the oracle CASTs and Spark D-suffixes.
_KQ = "CAST(100000.0 AS DOUBLE)"  # process variance Q
_KR = "CAST(1000000.0 AS DOUBLE)"  # observation variance R (= diffuse init P1)
_KQ_S = "100000.0D"
_KR_S = "1000000.0D"

_TE_FOLD = "CAST(floor({u} * 5.0) AS BIGINT)"

# The JVM aggregate() Kalman walk over ``series``, an array of
# (day DATE, cents BIGINT) structs in day order: one (day, cents, x, p,
# gain) struct per step. Shared with the batch/stream Kalman twin test,
# which holds the Python fold to this text.
_KALMAN_WALK = f"""
            aggregate(
                series,
                CAST(array() AS ARRAY<STRUCT<day DATE, cents BIGINT,
                                             x DOUBLE, p DOUBLE,
                                             gain DOUBLE>>),
                (acc, z) -> CASE WHEN size(acc) = 0 THEN array(
                    struct(z.day AS day, z.cents AS cents,
                           CAST(z.cents AS DOUBLE) AS x,
                           {_KR_S} AS p, CAST(NULL AS DOUBLE) AS gain))
                ELSE array_append(
                    acc,
                    struct(
                        z.day AS day, z.cents AS cents,
                        element_at(acc, -1).x
                          + ((element_at(acc, -1).p + {_KQ_S})
                             / ((element_at(acc, -1).p + {_KQ_S}) + {_KR_S}))
                          * (CAST(z.cents AS DOUBLE)
                             - element_at(acc, -1).x) AS x,
                        (1.0D - ((element_at(acc, -1).p + {_KQ_S})
                             / ((element_at(acc, -1).p + {_KQ_S}) + {_KR_S})))
                          * (element_at(acc, -1).p + {_KQ_S}) AS p,
                        (element_at(acc, -1).p + {_KQ_S})
                          / ((element_at(acc, -1).p + {_KQ_S}) + {_KR_S})
                          AS gain))
                END
            )
"""


@query(
    "kalman_level_filter_check",
    category="T15-kalman",
    oracle=f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, day, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY day) AS rn
            FROM daily
        ), r AS (
            SELECT event_type, rn, day, cents,
                   CAST(cents AS DOUBLE) AS x,
                   {_KR} AS p,
                   CAST(NULL AS DOUBLE) AS gain
            FROM seq WHERE rn = 1
            UNION ALL
            SELECT s.event_type, s.rn, s.day, s.cents,
                   r.x + ((r.p + {_KQ}) / ((r.p + {_KQ}) + {_KR}))
                       * (CAST(s.cents AS DOUBLE) - r.x),
                   (CAST(1.0 AS DOUBLE) - ((r.p + {_KQ}) / ((r.p + {_KQ}) + {_KR})))
                       * (r.p + {_KQ}),
                   (r.p + {_KQ}) / ((r.p + {_KQ}) + {_KR})
            FROM r JOIN seq s
                 ON s.event_type = r.event_type AND s.rn = r.rn + 1
        )
        SELECT event_type, day, cents,
               CAST(round(x, 6) AS DOUBLE) AS level,
               CAST(round(gain, 8) AS DOUBLE) AS gain
        FROM r ORDER BY event_type, day
    """,
)
def kalman_level_filter_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (random-walk level + observation noise) over
    each channel's daily cent totals: predict P'=P+Q, gain
    K=P'/(P'+R), update x+=K(z−x), P=(1−K)P'. Unlike EWMA/Holt the
    smoothing weight is DATA-ADAPTIVE — K starts high under the
    diffuse init (P1=R ⇒ K2≈0.52) and relaxes to the steady-state
    Riccati fixpoint (≈0.27 at these Q/R) as evidence accumulates.

    Determinism: daily totals are exact integer cents; the carried
    (x, P) pair evolves through literally identical expressions in
    identical order on both engines (recursive CTE ≡ JVM fold), so
    every level/gain is bit-identical before the cosmetic round.

    Scale: ONE rollup to |channels|×|days| rows, collect_list packs
    ≤|days| values per channel (calendar-bounded), the fold is
    O(|days|) inside whole-stage codegen — no Python worker, no
    driver loop, no shuffle beyond the rollup.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long").alias("cents")
    )
    packed = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("series")
    )
    folded = packed.select(
        "event_type",
        F.expr(_KALMAN_WALK).alias("walked"),
    )
    return (
        folded.select("event_type", F.explode("walked").alias("w"))
        .select(
            "event_type",
            F.col("w.day").alias("day"),
            F.col("w.cents").alias("cents"),
            F.round("w.x", 6).alias("level"),
            F.round("w.gain", 8).alias("gain"),
        )
    )


@query(
    "target_encode_oof_kfold",
    category="ML5-featurize",
    oracle=f"""
        WITH base AS (
            SELECT event_type,
                   {_TE_FOLD.format(u=md5_uniform_sql("'tefold:' || CAST(user_id AS VARCHAR)"))}
                       AS fold,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events WHERE value IS NOT NULL
        ), per_fold AS (
            SELECT event_type, fold,
                   CAST(count(*) AS BIGINT) AS n_f,
                   CAST(sum(cents) AS BIGINT) AS s_f
            FROM base GROUP BY event_type, fold
        ), per_cat AS (
            SELECT event_type,
                   CAST(sum(n_f) AS BIGINT) AS n,
                   CAST(sum(s_f) AS BIGINT) AS s
            FROM per_fold GROUP BY event_type
        )
        SELECT f.event_type, f.fold, f.n_f AS n_rows,
               CAST(round(CAST(c.s - f.s_f AS DOUBLE)
                          / (c.n - f.n_f), 6) AS DOUBLE) AS te_oof,
               CAST(round(CAST(c.s AS DOUBLE) / c.n, 6) AS DOUBLE)
                   AS prior_mean
        FROM per_fold f JOIN per_cat c ON c.event_type = f.event_type
        ORDER BY f.event_type, f.fold
    """,
)
def target_encode_oof_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding: the value a row in fold k receives
    for its category is the target mean computed WITHOUT fold k
    ((S−S_k)/(n−n_k)) — the standard leakage guard that keeps a
    category's own rows from encoding their own labels. Folds are
    minted from the md5 uniform on user_id (whole-user assignment, no
    user straddles folds — the same grouping-unit discipline as
    stratified_kfold_assignment).

    Determinism: fold ids and cent sums are exact integers; each
    encoding is ONE double division of identical operands.

    Scale: two hash aggregates (category×fold then category) and a
    broadcast-size join — |categories|×K output, no per-row state.
    """
    u = md5_uniform("concat('tefold:', CAST(user_id AS STRING))")
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        "event_type",
        F.floor(u * 5.0).cast("long").alias("fold"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    per_fold = base.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_f"),
        F.sum("cents").cast("long").alias("s_f"),
    )
    per_cat = per_fold.groupBy("event_type").agg(
        F.sum("n_f").cast("long").alias("n"),
        F.sum("s_f").cast("long").alias("s"),
    )
    return (
        per_fold.join(F.broadcast(per_cat), "event_type")
        .select(
            "event_type", "fold",
            F.col("n_f").alias("n_rows"),
            F.round(
                (F.col("s") - F.col("s_f")).cast("double")
                / (F.col("n") - F.col("n_f")), 6,
            ).alias("te_oof"),
            F.round(F.col("s").cast("double") / F.col("n"), 6)
            .alias("prior_mean"),
        )
    )


@query(
    "theil_index_inequality",
    category="BI-inequality",
    oracle="""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS s
            FROM rev
        )
        SELECT n AS n_customers,
               CAST(round(sum((CAST(cents AS DOUBLE) * n / s)
                              * ln(CAST(cents AS DOUBLE) * n / s)) / n, 6)
                    AS DOUBLE) AS theil_t,
               CAST(round(sum(ln(CAST(s AS DOUBLE)
                                 / (CAST(cents AS DOUBLE) * n))) / n, 6)
                    AS DOUBLE) AS theil_l
        FROM rev CROSS JOIN tot
        GROUP BY n
    """,
)
def theil_index_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and L inequality indices over per-customer revenue —
    the entropy-based cousins of the Gini concentration query
    (gini_revenue_concentration): T = (1/n)Σ r·ln r with r = x/μ
    weights the top of the distribution, L = (1/n)Σ ln(1/r) the
    bottom; both are 0 at perfect equality and decompose additively
    across subgroups (why national accounts use them).

    Determinism: revenues are exact integer cents; each ln term's
    argument is the identical (cents·n/s) double on both engines;
    the Σln accumulation order differs across engines but the
    ~1e-13 relative drift is far under round 6.

    Scale: one customer-grain rollup, a 1-row broadcast of (n, s),
    then a single pass of per-row ln terms into one final aggregate.
    """
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long").alias("cents")
        )
    )
    tot = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    r = F.col("cents").cast("double") * F.col("n") / F.col("s")
    return (
        rev.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.round(F.sum(r * F.log(r)) / F.col("n"), 6).alias("theil_t"),
            F.round(F.sum(F.log(1 / r)) / F.col("n"), 6).alias("theil_l"),
        )
        .select(
            F.col("n").alias("n_customers"), "theil_t", "theil_l"
        )
    )


# candidate beacon periods (seconds) probed by the periodogram
_PERIODS = (300, 900, 3600, 21600, 86400)
_TWO_PI = "6.283185307179586"


@query(
    "periodogram_beacon_peak",
    category="SEC-spectral",
    oracle=f"""
        WITH topu AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
            ORDER BY n_events DESC, user_id LIMIT 5
        ), ts_sec AS (
            SELECT e.user_id, t.n_events,
                   CAST(floor(epoch(e.ts)) AS BIGINT) AS sec
            FROM events e JOIN topu t ON t.user_id = e.user_id
        ), powers AS (
            SELECT user_id, n_events, p.period,
                   CAST(round((pow(sum(cos({_TWO_PI} * sec / p.period)), 2)
                             + pow(sum(sin({_TWO_PI} * sec / p.period)), 2))
                             / n_events * 10000) AS BIGINT) AS upower
            FROM ts_sec
            CROSS JOIN (SELECT unnest(ARRAY{list(_PERIODS)}) AS period) p
            GROUP BY user_id, n_events, p.period
        ), keyed AS (
            SELECT user_id, n_events,
                   max(lpad(CAST(upower AS VARCHAR), 16, '0')
                       || lpad(CAST(99999999 - period AS VARCHAR), 8, '0'))
                       AS k
            FROM powers GROUP BY user_id, n_events
        )
        SELECT user_id, n_events,
               CAST(99999999 - CAST(substr(k, 17, 8) AS BIGINT)
                    AS BIGINT) AS best_period,
               CAST(CAST(substr(k, 1, 16) AS BIGINT) AS BIGINT)
                   AS peak_upower
        FROM keyed ORDER BY user_id
    """,
)
def periodogram_beacon_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT periodogram probe at fixed candidate periods — the spectral
    twin of beaconing_interval_regularity: for each of the 5 busiest
    users, power(T) = (Σcos(2πt/T))² + (Σsin(2πt/T))², normalized by
    n. A timer-driven beacon concentrates power at its period (power
    → n for phase-locked arrivals) while Poisson traffic stays O(1);
    unlike the interarrival-CV test this detects periodicity even
    with heavy interleaved jitter traffic, and needs no sorting —
    the sums are order-free aggregates.

    Determinism: cos/sin sums are libm/order-fuzzy at ~1e-13
    relative, so power is quantized to an integer micro-power
    (×10000) BEFORE the per-user argmax, which runs on a zero-padded
    varchar key (power desc, period asc on ties) — the repo's
    composite-argmax house pattern. Timestamps floor to whole epoch
    seconds on both engines (DuckDB's epoch() is fractional).

    Scale: the top-5 selection is a TakeOrdered heap over a user
    rollup; probed users' events fan out ×|periods| (a literal
    5-element array explode, not a join) into one hash aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    topu = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(5)
    )
    sec = ev.join(F.broadcast(topu), "user_id").select(
        "user_id", "n_events",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("sec"),
    )
    per = sec.select(
        "user_id", "n_events", "sec",
        F.explode(F.array(*[F.lit(p) for p in _PERIODS])).alias("period"),
    )
    ang = F.expr(f"{_TWO_PI} * sec / period")
    powers = per.groupBy("user_id", "n_events", "period").agg(
        F.round(
            (F.pow(F.sum(F.cos(ang)), 2) + F.pow(F.sum(F.sin(ang)), 2))
            / F.col("n_events") * 10000
        ).cast("long").alias("upower")
    )
    keyed = powers.groupBy("user_id", "n_events").agg(
        F.max(
            F.concat(
                F.lpad(F.col("upower").cast("string"), 16, "0"),
                F.lpad((F.lit(99999999) - F.col("period")).cast("string"), 8, "0"),
            )
        ).alias("k")
    )
    return keyed.select(
        "user_id", "n_events",
        (F.lit(99999999) - F.substring("k", 17, 8).cast("long"))
        .cast("long").alias("best_period"),
        F.substring("k", 1, 16).cast("long").alias("peak_upower"),
    )


_COMPACT_TARGET = 262144  # bytes per output file


@query(
    "compaction_binpack_plan",
    category="WH-compaction",
    oracle=f"""
        WITH files AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(sum(length(props) + 32) AS BIGINT) AS bytes
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), seq AS (
            SELECT event_type, day, bytes,
                   CAST(coalesce(sum(bytes) OVER (
                       ORDER BY event_type, day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
            FROM files
        ), binned AS (
            SELECT event_type, day, bytes,
                   cum_before // {_COMPACT_TARGET} AS bin_id
            FROM seq
        )
        SELECT bin_id,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(bytes) AS BIGINT) AS bytes_total,
               CAST(round(CAST(sum(bytes) AS DOUBLE)
                          / {_COMPACT_TARGET} * 100, 2) AS DOUBLE)
                   AS fill_pct,
               min(event_type || '/' || CAST(day AS VARCHAR))
                   AS first_file,
               max(event_type || '/' || CAST(day AS VARCHAR))
                   AS last_file
        FROM binned GROUP BY bin_id ORDER BY bin_id
    """,
)
def compaction_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential target-size compaction plan — the small-files
    OPTIMIZE primitive: partition-grain "files" (event_type×day byte
    proxies) are laid out in partition order and assigned to output
    bins by exclusive-prefix-sum // target, exactly how a lakehouse
    compactor coalesces adjacent small files into ~target-size
    outputs while preserving partition-order locality (so zonemaps
    stay tight after the rewrite — see zonemap_skipping_census).

    Determinism: byte proxies and prefix sums are exact integers;
    bin assignment is integer division.

    Scale: the planner runs on FILE-GRAIN metadata (catalog-sized,
    millions of rows at 100 TB, not data-sized) — one rollup, one
    prefix-sum window over the metadata frame, one hash aggregate.
    A global window is acceptable at catalog grain; the data rewrite
    it plans is the expensive part and stays fully parallel.
    """
    ev = load_table(spark, sf_dir, "events")
    files = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.length("props") + 32).cast("long").alias("bytes")
    )
    wb = Window.orderBy("event_type", "day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    binned = files.select(
        "event_type", "day", "bytes",
        F.floor(
            F.coalesce(F.sum("bytes").over(wb), F.lit(0))
            / F.lit(_COMPACT_TARGET)
        ).cast("long").alias("bin_id"),
    )
    fname = F.concat("event_type", F.lit("/"), F.col("day").cast("string"))
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("bytes_total"),
            F.round(
                F.sum("bytes").cast("double") / _COMPACT_TARGET * 100, 2
            ).alias("fill_pct"),
            F.min(fname).alias("first_file"),
            F.max(fname).alias("last_file"),
        )
        .orderBy("bin_id")
    )
