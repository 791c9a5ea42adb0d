"""Behavioral event analytics: funnel conversion and cohort retention.

The two canonical "product analytics over an event stream" queries an
eventstreams-class engine is used for. Both are pure DataFrame plans:
sequential-min joins for the funnel, a first-touch self-aggregation for
cohorts — no UDFs, no collect, and every join keyed on user_id so the
whole pipeline reuses one hash partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.spread import leaf_parallelism
from ..registry import query
from ._shared import (
    INTERACTION_EDGES_CTE,
    INTERACTION_PAIRS_CTE,
    INTERACTION_UND_CTE,
)


def _funnel_stage(order: int, name: str, frame: DataFrame) -> DataFrame:
    """One funnel row: the stage's order, its name and how many users
    (rows of ``frame``) reached it."""
    return frame.agg(
        F.lit(order).alias("stage_order"),
        F.lit(name).alias("stage"),
        F.count(F.lit(1)).alias("n_users"),
    )


@query(
    "funnel_3step_conversion",
    category="B1-funnel",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            GROUP BY e.user_id
        )
        SELECT * FROM (
            SELECT 1 AS stage_order, 'view' AS stage,
                   (SELECT count(*) FROM s1) AS n_users
            UNION ALL
            SELECT 2, 'view>click', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, 'view>click>purchase', (SELECT count(*) FROM s3)
        )
    """,
)
def funnel_3step_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that first qualifying click
    (sequential-min semantics — each stage anchors on the earliest
    qualifying event of the previous stage).

    Every stage is groupBy(user_id) → the three stage frames stay
    hash-partitioned on the same key, so stages 2/3 join without a
    re-shuffle of the aggregated side; the final counts are 1-row
    aggregates unioned driver-free.
    """
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    return (
        _funnel_stage(1, "view", s1)
        .unionAll(_funnel_stage(2, "view>click", s2))
        .unionAll(_funnel_stage(3, "view>click>purchase", s3))
    )


@query(
    "cohort_daily_retention",
    category="B2-cohort",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ), active AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ), sizes AS (
            SELECT cohort_day, count(*) AS n_cohort
            FROM first_seen GROUP BY cohort_day
        )
        SELECT f.cohort_day,
               date_diff('day', f.cohort_day, a.d) AS day_offset,
               count(DISTINCT a.user_id) AS n_active,
               any_value(s.n_cohort) AS n_cohort,
               round(count(DISTINCT a.user_id) * 1.0 / any_value(s.n_cohort), 6)
                   AS retention
        FROM active a
        JOIN first_seen f ON a.user_id = f.user_id
        JOIN sizes s ON s.cohort_day = f.cohort_day
        GROUP BY f.cohort_day, day_offset
    """,
)
def cohort_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day;
    for each (cohort_day, day_offset) the share of the cohort active
    that day.

    first_seen and active are both groupBy(user_id)-shaped, so their
    join is co-partitioned; the cohort-size dim is tiny (one row per
    day) and broadcast. At 100 TB the daily `active` dedup is the
    heavy step — it's a partial+final distinct that AQE sizes, and
    everything after operates on per-day aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    sizes = first_seen.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        active.join(first_seen, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .join(F.broadcast(sizes), "cohort_day")
        .groupBy("cohort_day", "day_offset")
        .agg(
            F.count_distinct("user_id").alias("n_active"),
            F.any_value("n_cohort").alias("n_cohort"),
            F.round(
                F.count_distinct("user_id") * 1.0 / F.any_value("n_cohort"), 6
            ).alias("retention"),
        )
    )


@query(
    "cep_sequence_chain",
    category="B3-cep",
    oracle="""
        WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        vc AS (
            SELECT v.user_id, v.ts AS view_ts, min(c.ts) AS click_ts
            FROM v JOIN c ON c.user_id = v.user_id
                AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL '24 hours'
            GROUP BY v.user_id, v.ts
        )
        SELECT vc.user_id, vc.view_ts, vc.click_ts, min(p.ts) AS purchase_ts
        FROM vc JOIN p ON p.user_id = vc.user_id
            AND p.ts > vc.click_ts AND p.ts <= vc.click_ts + INTERVAL '24 hours'
        GROUP BY vc.user_id, vc.view_ts, vc.click_ts
    """,
)
def cep_sequence_1h_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern: view → click within 24h →
    purchase within 24h of that click (MATCH_RECOGNIZE-style timed
    sequence, first-match per anchor). Each stage is an interval-
    bounded as-of join: min qualifying successor per anchor event.

    Scale: both joins are equi-join on user_id + range predicate —
    the hash exchange is on user_id only and the range filters
    evaluate within partitions; with date-bucketed keys this is the
    standard skew-safe interval-join shape (cf. join_range_*).
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select("user_id", F.col("ts").alias("view_ts"))
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    vc = (
        v.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") > F.col("view_ts"))
            & (F.col("c_ts") <= F.col("view_ts") + F.expr("INTERVAL 24 HOURS")),
        )
        .groupBy("user_id", "view_ts")
        .agg(F.min("c_ts").alias("click_ts"))
    )
    return (
        vc.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 24 HOURS")),
        )
        .groupBy("user_id", "view_ts", "click_ts")
        .agg(F.min("p_ts").alias("purchase_ts"))
    )


@query(
    "ratio_to_report_revenue",
    category="B4-ratio",
    oracle="""
        WITH rev AS (
            SELECT r_name, n_name,
                   CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        )
        SELECT r_name, n_name, bal_cents,
               round(bal_cents * 1.0 / sum(bal_cents) OVER (PARTITION BY r_name), 9)
                   AS share_of_region,
               round(bal_cents * 1.0 / sum(bal_cents) OVER (), 9)
                   AS share_of_total
        FROM rev
    """,
)
def ratio_to_report_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's share of its
    region's and of the global balance — a windowed aggregate OVER an
    aggregate. The group totals come from unpartitioned/region window
    sums over the already-aggregated (tiny) frame, so the expensive
    scan feeds ONE aggregation and the shares cost no second pass over
    raw data. Money summed as exact cents (order-insensitive).
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")).alias(
                "bal_cents"
            )
        )
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return rev.select(
        "r_name",
        "n_name",
        "bal_cents",
        F.round(F.col("bal_cents") / F.sum("bal_cents").over(w_region), 9).alias(
            "share_of_region"
        ),
        F.round(F.col("bal_cents") / F.sum("bal_cents").over(w_all), 9).alias(
            "share_of_total"
        ),
    )


@query(
    "period_over_period_daily",
    category="B5-pop",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
            FROM events GROUP BY day, event_type
        )
        SELECT day, event_type, n,
               lag(n) OVER w AS prev_n,
               n - lag(n) OVER w AS delta,
               round((n - lag(n) OVER w) * 1.0 /
                     nullif(lag(n) OVER w, 0), 6) AS pct_change,
               round(avg(n) OVER (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
                   AS ma7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
)
def period_over_period_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period reporting: day-over-day delta, percent
    change, and 7-day moving average per series — lag/avg windows over
    the daily aggregate, so window state is days x types, not events.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    ma = w.rowsBetween(-6, Window.currentRow)
    prev = F.lag("n").over(w)
    return daily.select(
        "day",
        "event_type",
        "n",
        prev.alias("prev_n"),
        (F.col("n") - prev).alias("delta"),
        F.round((F.col("n") - prev) / F.nullif(prev, F.lit(0)), 6).alias("pct_change"),
        F.round(F.avg("n").over(ma), 6).alias("ma7"),
    )


@query(
    "cumulative_distinct_users",
    category="B6-cumdistinct",
    oracle="""
        WITH firsts AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS first_day
            FROM events GROUP BY user_id
        ), new_per_day AS (
            SELECT first_day AS day, count(*) AS n_new
            FROM firsts GROUP BY first_day
        )
        SELECT day, n_new,
               CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cum_users
        FROM new_per_day
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day. COUNT(DISTINCT) OVER a
    growing frame isn't supported (and would be quadratic anyway);
    the scalable identity is first-seen-day → new-users-per-day →
    running sum: one user-keyed aggregate, one tiny per-day frame.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select("day", "n_new", F.sum("n_new").over(w).alias("cum_users"))


@query(
    "transition_matrix_events",
    category="B7-markov",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        )
        SELECT event_type AS from_type,
               next_type  AS to_type,
               count(*)   AS n,
               round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type), 6)
                   AS p
        FROM seq
        WHERE next_type IS NOT NULL
        GROUP BY from_type, to_type
    """,
)
def transition_matrix_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | type), the behavioral-model fingerprint
    (and drift detector — compare matrices across days). One
    partition-sort per user for the lead, one aggregate for counts,
    and the row-normalization is a window sum over the tiny 5x5
    result, not a second scan.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_row), 6).alias("p"),
    )


_PAGERANK_ORACLE = f"""
    WITH {INTERACTION_EDGES_CTE}, outdeg AS (
        SELECT src, count(*) AS od FROM edges GROUP BY src
    ), nodes AS (
        SELECT DISTINCT u
        FROM (SELECT src AS u FROM edges UNION ALL SELECT dst FROM edges)
    ), n AS (SELECT count(*) AS n_nodes FROM nodes),
    r0 AS (
        SELECT u, CAST(1000000000000 // n_nodes AS BIGINT) AS r
        FROM nodes, n
    ), c1 AS (
        SELECT e.dst AS u,
               CAST(sum((r0.r * 85) // (100 * o.od)) AS BIGINT) AS c
        FROM edges e JOIN r0 ON e.src = r0.u JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
    ), r1 AS (
        SELECT nodes.u,
               CAST((15 * 1000000000000) // (100 * n.n_nodes)
                    + coalesce(c1.c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN n LEFT JOIN c1 ON nodes.u = c1.u
    ), c2 AS (
        SELECT e.dst AS u,
               CAST(sum((r1.r * 85) // (100 * o.od)) AS BIGINT) AS c
        FROM edges e JOIN r1 ON e.src = r1.u JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
    ), r2 AS (
        SELECT nodes.u,
               CAST((15 * 1000000000000) // (100 * n.n_nodes)
                    + coalesce(c2.c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN n LEFT JOIN c2 ON nodes.u = c2.u
    ), c3 AS (
        SELECT e.dst AS u,
               CAST(sum((r2.r * 85) // (100 * o.od)) AS BIGINT) AS c
        FROM edges e JOIN r2 ON e.src = r2.u JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
    ), r3 AS (
        SELECT nodes.u,
               CAST((15 * 1000000000000) // (100 * n.n_nodes)
                    + coalesce(c3.c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN n LEFT JOIN c3 ON nodes.u = c3.u
    )
    SELECT u AS user_id, r AS rank_units FROM r3
"""


@query("pagerank_fixed_iterations", category="B7-graph", oracle=_PAGERANK_ORACLE)
def pagerank_fixed_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 fixed power iterations over the user follow-graph
    (edge u→v when v's event immediately follows u's within an
    event_type stream) — the canonical iterative-algorithm shape an
    analytics engine needs beyond one-shot SQL (influence scoring,
    spam-domain ranking over a link graph in corpus prep).

    Exactness across engines: ranks are int64 micro-units (1e12 total
    mass) and every step is integer multiply-then-floor-divide
    ((r*85) div (100*outdeg)), so accumulation order cannot drift —
    the oracle unrolls the same three iterations as CTEs. Dangling
    mass is dropped identically on both sides (documented semantics,
    matching the damping-only formulation).

    Scale shape (the Pregel/GraphX layout): the edge set is built
    once, cached, and pre-partitioned; each iteration is ONE shuffle
    join of edges against the current rank vector (both
    hash-partitioned on src — the exchange is reused) plus one
    combinable aggregate by dst. Iterations are a fixed constant, the
    node count is bounded metadata (one count() scalar), and nothing
    driver-side ever holds a vector.
    """
    from ..operators.graph import interaction_edges, truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    # iterative-algorithm practice: checkpoint the loop-invariant
    # edge/node sets (truncate_lineage = the per-round boundary; at
    # cluster scale: reliable checkpoint + pre-partition by src)
    edges = truncate_lineage(interaction_edges(ev).repartition("src"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    nodes = truncate_lineage(
        edges.select(F.col("src").alias("u"))
        .unionAll(edges.select(F.col("dst").alias("u")))
        .distinct(),
        8,
    )
    n_nodes = nodes.count()  # bounded metadata scalar

    total = 1_000_000_000_000
    base = (15 * total) // (100 * n_nodes)
    ranks = nodes.select("u", F.lit(total // n_nodes).cast("long").alias("r"))
    esrc = edges.join(outdeg, "src")
    for _ in range(3):
        contribs = (
            esrc.join(ranks, esrc.src == ranks.u)
            .select("dst", F.expr("(r * 85) div (100 * od)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, nodes.u == contribs.dst, "left")
            .select(
                "u",
                (F.lit(base) + F.coalesce("c", F.lit(0))).cast("long").alias("r"),
            )
        )
        # per-round boundary: without it round k's plan embeds every
        # earlier round's subtree (the r6/r7 truncate_lineage rule)
        ranks = truncate_lineage(ranks, 8)
    return ranks.select(F.col("u").alias("user_id"), F.col("r").alias("rank_units"))


@query(
    "streak_islands_by_user",
    category="B8-islands",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rt
            FROM events
        ), islands AS (
            SELECT user_id, event_type,
                   CAST(count(*) AS BIGINT) AS streak_len,
                   min(ts) AS streak_start
            FROM seq
            GROUP BY user_id, event_type, rn - rt
        )
        SELECT user_id, event_type, streak_len, streak_start
        FROM islands
        ORDER BY streak_len DESC, user_id, event_type, streak_start
        LIMIT 20
    """,
)
def streak_islands_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands streak detection: maximal runs of consecutive
    same-type events per user (the "N failed logins in a row" /
    engagement-streak primitive), via the classic two-row_number
    difference — rn (per user) minus rt (per user+type) is constant
    exactly within a run, so islands fall out of one groupBy with no
    self-join and no iteration.

    Scale: both row_numbers partition by user_id, so ONE hash shuffle
    by user_id feeds two Window nodes and the groupBy (Catalyst reuses
    the exchange; same shape as sessionize_gap30m_batch). Per-user
    sequences sort within partitions. Top-20 under a total order on
    exact integers — no float ordering risk.
    """
    ev = load_table(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_u = Window.partitionBy("user_id").orderBy(*order)
    w_ut = Window.partitionBy("user_id", "event_type").orderBy(*order)
    seq = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (F.row_number().over(w_u) - F.row_number().over(w_ut)).alias("grp"),
    )
    return (
        seq.groupBy("user_id", "event_type", "grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("streak_len"),
            F.min("ts").alias("streak_start"),
        )
        .select("user_id", "event_type", "streak_len", "streak_start")
        .orderBy(
            F.col("streak_len").desc(), "user_id", "event_type", "streak_start"
        )
        .limit(20)
    )


def _IMPOSSIBLE_TRAVEL_ORACLE() -> str:
    from ._shared import md5_uniform_sql

    lat = f"({md5_uniform_sql(chr(39) + 'lat|' + chr(39) + ' || CAST(event_id AS VARCHAR)')} - 0.5) * 180.0"
    lon = f"({md5_uniform_sql(chr(39) + 'lon|' + chr(39) + ' || CAST(event_id AS VARCHAR)')} - 0.5) * 360.0"
    return f"""
        WITH pos AS (
            SELECT user_id, event_id, ts,
                   {lat} AS lat, {lon} AS lon
            FROM events
        ), seq AS (
            SELECT user_id, event_id, ts, lat, lon,
                   lag(lat) OVER w AS plat,
                   lag(lon) OVER w AS plon,
                   lag(ts)  OVER w AS pts
            FROM pos
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), legs AS (
            SELECT user_id, event_id,
                   12742.0 * asin(least(1.0, sqrt(
                       sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
                       + cos(radians(plat)) * cos(radians(lat))
                       * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
                   ))) AS km,
                   greatest((epoch_us(ts) - epoch_us(pts)) / 3600000000.0,
                            1.0 / 3600.0) AS hours
            FROM seq WHERE pts IS NOT NULL
        )
        SELECT user_id, event_id, round(km, 6) AS km,
               round(km / hours, 4) AS speed_kmh
        FROM legs
        ORDER BY speed_kmh DESC, user_id, event_id
        LIMIT 20
    """


@query(
    "impossible_travel_speed",
    category="B9-geo",
    oracle=_IMPOSSIBLE_TRAVEL_ORACLE(),
)
def impossible_travel_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impossible-travel detection (the Elastic-SIEM / Splunk UBA
    rule): haversine distance between a user's consecutive event
    locations divided by elapsed time; legs faster than a plane are
    credential-sharing alerts. The testdata has no coordinates, so
    positions are minted deterministically per event from md5_uniform
    (functions/sampling.py) — the plumbing (lag window, great-circle
    math, rate guard) is the real operator.

    Scale: one hash shuffle by user_id for the lag window, then pure
    codegen trig — no joins, no UDFs. The asin argument is clamped to
    1.0 (float guard on antipodal legs) and elapsed time floored at
    1 s so same-timestamp legs don't divide by zero; speed rounds to 4
    (not 6) because kmh amplifies ULP drift in km by 1/hours.
    """
    from ..functions.sampling import md5_uniform

    ev = load_table(spark, sf_dir, "events")
    lat = (md5_uniform("concat('lat|', cast(event_id as string))") - 0.5) * 180.0
    lon = (md5_uniform("concat('lon|', cast(event_id as string))") - 0.5) * 360.0
    pos = ev.select("user_id", "event_id", "ts", lat.alias("lat"), lon.alias("lon"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pos.select(
        "user_id",
        "event_id",
        "ts",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        F.lag("ts").over(w).alias("pts"),
    ).filter(F.col("pts").isNotNull())
    dphi = F.radians(F.col("lat") - F.col("plat")) / 2
    dlmb = F.radians(F.col("lon") - F.col("plon")) / 2
    h = F.sin(dphi) * F.sin(dphi) + F.cos(F.radians("plat")) * F.cos(
        F.radians("lat")
    ) * F.sin(dlmb) * F.sin(dlmb)
    km = 12742.0 * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
    hours = F.greatest(
        (F.unix_micros("ts") - F.unix_micros("pts")) / 3.6e9,
        F.lit(1.0 / 3600.0),
    )
    return (
        seq.select(
            "user_id",
            "event_id",
            F.round(km, 6).alias("km"),
            F.round(km / hours, 4).alias("speed_kmh"),
        )
        .orderBy(F.col("speed_kmh").desc(), "user_id", "event_id")
        .limit(20)
    )


@query(
    "markov_transition_matrix",
    category="B10-markov",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS dst
            FROM events
        ), trans AS (
            SELECT src, dst, count(*) AS n
            FROM seq WHERE dst IS NOT NULL
            GROUP BY src, dst
        )
        SELECT src, dst, n,
               round(n * 1.0 / sum(n) OVER (PARTITION BY src), 6) AS p
        FROM trans
        ORDER BY src, dst
    """,
)
def markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys:
    P(next event type | current), from per-user consecutive pairs —
    the "where do users go next" model behind journey Sankeys and
    next-step prediction baselines.

    Scale: one user_id shuffle for the lead window, one |types|²-keyed
    aggregate; the per-src normalization window runs on the TINY
    aggregated matrix (≤ |types|² rows), not the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_src = Window.partitionBy("src")
    return trans.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_src), 6).alias("p"),
    )


@query(
    "journey_top_paths",
    category="B10-paths",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ), paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM seq WHERE rn <= 3
            GROUP BY user_id
        )
        SELECT path, count(*) AS n_users
        FROM paths
        GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 10
    """,
)
def journey_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top entry paths: each user's first three event types serialized
    'a>b>c', censused across users — the journey-analysis complement
    to the funnel (which tests ONE path; this discovers them).

    Scale: WindowGroupLimit prunes each user to 3 rows before the
    path aggregation (rank ≤ k pushes into the shuffle), so the path
    census aggregates ≤ 3 rows per user; top-10 under a total order.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(10)
    )


@query(
    "rfm_segment_census",
    category="B11-rfm",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS f,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS m_cents
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT *,
                   row_number() OVER (ORDER BY m_cents, o_custkey)
                       AS m_rank,
                   count(*) OVER () AS n_cust
            FROM cust
        ), scored AS (
            SELECT CASE WHEN last_order >= TIMESTAMP '1997-01-01' THEN 3
                        WHEN last_order >= TIMESTAMP '1995-01-01' THEN 2
                        ELSE 1 END AS r_score,
                   least(f, 5) AS f_score,
                   ((m_rank - 1) * 5) // n_cust + 1 AS m_quint,
                   m_cents
            FROM ranked
        )
        SELECT r_score, f_score, m_quint,
               count(*) AS n_customers,
               CAST(sum(m_cents) AS BIGINT) AS seg_cents
        FROM scored
        GROUP BY r_score, f_score, m_quint
        ORDER BY r_score, f_score, m_quint
    """,
)
def rfm_segment_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency band / frequency capped / monetary
    quintile) with a scale-safe monetary quintile: the global rank
    comes from operators/ranking.py::exact_global_rank (range-bucketed
    distributed rank — NO single-partition ntile; the oracle's
    row_number() OVER () form is rank-identical by the property test
    exact-rank-vs-sort). Money is summed in integral cents.

    Scale: one o_custkey aggregate, one bucketed rank shuffle, one
    tiny segment census. The quintile formula ((rank-1)*5) div n + 1
    is an exact function of (rank, n) — engine-independent, unlike
    ntile's remainder spreading.
    """
    from ..operators.ranking import exact_global_rank

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m_cents"),
    )
    ranked, n_cust = exact_global_rank(
        cust, ["m_cents", "o_custkey"], rank_col="m_rank", with_total=True
    )
    scored = ranked.select(
        F.when(F.col("last_order") >= F.lit("1997-01-01").cast("timestamp"), 3)
        .when(F.col("last_order") >= F.lit("1995-01-01").cast("timestamp"), 2)
        .otherwise(1)
        .alias("r_score"),
        F.least(F.col("f"), F.lit(5)).alias("f_score"),
        # true integer division (div ↔ DuckDB //), never double-cast
        F.expr(f"((m_rank - 1) * 5) div {int(n_cust)}").alias("_q"),
        "m_cents",
    ).withColumn("m_quint", F.col("_q") + 1)
    return (
        scored.groupBy("r_score", "f_score", "m_quint")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("m_cents").cast("long").alias("seg_cents"),
        )
    )


@query(
    "dau_wau_mau_actives",
    category="B12-actives",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), days AS (
            SELECT DISTINCT day FROM ud
        ), contrib AS (
            SELECT user_id, unnest(generate_series(day, day + 13, INTERVAL 1 DAY))
                       AS target_day, day
            FROM ud
        )
        SELECT d.day,
               (SELECT count(DISTINCT u.user_id) FROM ud u
                WHERE u.day = d.day) AS dau,
               count(DISTINCT CASE WHEN date_diff('day', c.day,
                                        CAST(c.target_day AS DATE)) <= 6
                                   THEN c.user_id END) AS wau,
               count(DISTINCT c.user_id) AS mau14,
               round((SELECT count(DISTINCT u.user_id) FROM ud u
                      WHERE u.day = d.day) * 1.0
                     / count(DISTINCT c.user_id), 6) AS stickiness
        FROM days d
        JOIN contrib c ON CAST(c.target_day AS DATE) = d.day
        GROUP BY d.day
        ORDER BY d.day
    """,
)
def dau_wau_mau_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / 14-day-MAU / stickiness per day — the product-
    analytics headline metrics. Trailing distinct counts are computed
    by CONTRIBUTION EXPLODE: each (user, active-day) pair emits one
    row per future day it keeps the user "active" for (≤ 13), then
    one distinct-count per target day — never a distinct OVER a
    sliding window (unsupported AND quadratic) and never a self-join
    of the fact table.

    Scale: work = actives × window-days (bounded fan-out), shuffles
    keyed by (target_day) — at 100 TB switch the exact distinct to
    per-day HLL sketches unioned over the trailing window (A3
    mergeability is the whole point of sketches here; the
    `profile_approx_distinct_gate` licenses that swap).
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        "day",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add(F.col("day"), 13), F.expr("INTERVAL 1 DAY")
            )
        ).alias("target_day"),
    )
    # dau / wau / mau in ONE aggregate via conditional distincts
    agg = contrib.groupBy(F.col("target_day")).agg(
        F.count_distinct(
            F.when(F.datediff("target_day", "day") == 0, F.col("user_id"))
        ).alias("dau"),
        F.count_distinct(
            F.when(F.datediff("target_day", "day") <= 6, F.col("user_id"))
        ).alias("wau"),
        F.count_distinct(F.col("user_id")).alias("mau14"),
    )
    days = ud.select("day").distinct()
    return (
        days.join(agg, days["day"] == agg["target_day"])
        .select(
            "day",
            "dau",
            "wau",
            "mau14",
            F.round(F.col("dau") / F.col("mau14"), 6).alias("stickiness"),
        )
    )


@query(
    "new_vs_returning_daily",
    category="B12-newret",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ), first_seen AS (
            SELECT user_id, min(day) AS d0 FROM ud GROUP BY user_id
        )
        SELECT ud.day,
               count(CASE WHEN ud.day = f.d0 THEN 1 END) AS new_users,
               count(CASE WHEN ud.day > f.d0 THEN 1 END) AS returning_users
        FROM ud JOIN first_seen f ON ud.user_id = f.user_id
        GROUP BY ud.day
        ORDER BY ud.day
    """,
)
def new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning split per day: each active (user, day) is
    "new" iff it is the user's first active day (cohort B2's entry
    event, censused daily). One first-seen aggregate + one keyed join
    back — the standard two-pass shape; at scale both passes share
    the user_id partitioning (exchange reuse).
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first_seen = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        ud.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("day") == F.col("d0"), 1)).alias("new_users"),
            F.count(F.when(F.col("day") > F.col("d0"), 1)).alias(
                "returning_users"
            ),
        )
    )


@query(
    "funnel_3step_windowed",
    category="B1-funnel-windowed",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
              AND e.ts <= s1.t1 + INTERVAL 7 DAY
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t2
              AND e.ts <= s2.t2 + INTERVAL 7 DAY
            GROUP BY e.user_id
        )
        SELECT * FROM (
            SELECT 1 AS stage_order, 'view' AS stage,
                   (SELECT count(*) FROM s1) AS n_users
            UNION ALL
            SELECT 2, 'click<=7d', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, 'purchase<=7d', (SELECT count(*) FROM s3)
        )
    """,
)
def funnel_3step_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: each stage must happen within 7 days
    of the previous stage's anchor (the semantics real funnel reports
    use — an unbounded funnel overstates conversion by counting
    returns months later). Same sequential-min join shape as
    funnel_3step_conversion with the interval bound added to each
    stage's range predicate.

    Scale: unchanged from the unbounded funnel — user_id-keyed
    aggregates and joins sharing one partitioning; the window bound
    is a within-partition filter.
    """
    ev = load_table(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAY")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    return (
        _funnel_stage(1, "view", s1)
        .unionAll(_funnel_stage(2, "click<=7d", s2))
        .unionAll(_funnel_stage(3, "purchase<=7d", s3))
    )


@query(
    "attribution_first_last_compare",
    category="B15-attrib",
    oracle="""
        WITH conv AS (
            SELECT user_id, ts AS conv_ts, event_id AS conv_id
            FROM events WHERE event_type = 'purchase'
        ), touch AS (
            SELECT user_id, ts, event_id, event_type AS channel
            FROM events WHERE event_type IN ('view', 'click')
        ), joined AS (
            SELECT c.user_id, c.conv_id,
                   printf('%020d|%010d|%s', epoch_us(t.ts), t.event_id,
                          t.channel) AS okey
            FROM conv c JOIN touch t
              ON t.user_id = c.user_id
             AND t.ts < c.conv_ts
             AND t.ts >= c.conv_ts - INTERVAL 7 DAY
        ), per_conv AS (
            SELECT conv_id,
                   split_part(min(okey), '|', 3) AS first_touch,
                   split_part(max(okey), '|', 3) AS last_touch
            FROM joined GROUP BY conv_id
        )
        SELECT 'view' AS channel,
               count(CASE WHEN first_touch = 'view' THEN 1 END)
                   AS first_touch_convs,
               count(CASE WHEN last_touch = 'view' THEN 1 END)
                   AS last_touch_convs
        FROM per_conv
        UNION ALL
        SELECT 'click',
               count(CASE WHEN first_touch = 'click' THEN 1 END),
               count(CASE WHEN last_touch = 'click' THEN 1 END)
        FROM per_conv
        ORDER BY channel
    """,
)
def attribution_first_last_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch attribution over a 7-day lookback:
    each purchase credits the earliest and the latest qualifying
    touch (view/click) — reported side by side per channel, the
    comparison marketers run against the linear model
    (attribution_linear_multitouch). Touch order is made totally
    deterministic by the zero-padded (epoch_us, event_id) sort key
    (min/max on a string — no argmin-tie ambiguity cross-engine).

    Scale: one user_id-keyed range join (conversion × trailing-7d
    touches — bounded fan-out per conversion), one per-conversion
    aggregate, then a 2-row census.
    """
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("conv_ts"),
        F.col("event_id").alias("conv_id"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("channel"),
    )
    okey = F.format_string(
        "%020d|%010d|%s", F.unix_micros("ts"), F.col("event_id"), F.col("channel")
    )
    joined = conv.join(
        touch,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("ts") < F.col("conv_ts"))
        & (F.col("ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAY")),
    ).select("conv_id", okey.alias("okey"))
    per_conv = joined.groupBy("conv_id").agg(
        F.split_part(F.min("okey"), F.lit("|"), F.lit(3)).alias("first_touch"),
        F.split_part(F.max("okey"), F.lit("|"), F.lit(3)).alias("last_touch"),
    )

    def channel_row(ch: str) -> DataFrame:
        return per_conv.agg(
            F.lit(ch).alias("channel"),
            F.count(F.when(F.col("first_touch") == ch, 1)).alias(
                "first_touch_convs"
            ),
            F.count(F.when(F.col("last_touch") == ch, 1)).alias(
                "last_touch_convs"
            ),
        )

    return channel_row("view").unionAll(channel_row("click")).orderBy("channel")


@query(
    "retention_decay_slope",
    category="B2-decay",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ), active AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ), sizes AS (
            SELECT cohort_day, count(*) AS n_cohort
            FROM first_seen GROUP BY cohort_day
        ), tri AS (
            SELECT f.cohort_day,
                   date_diff('day', f.cohort_day, a.d) AS day_offset,
                   count(DISTINCT a.user_id) * 1.0 / any_value(s.n_cohort)
                       AS retention
            FROM active a
            JOIN first_seen f ON a.user_id = f.user_id
            JOIN sizes s ON s.cohort_day = f.cohort_day
            GROUP BY f.cohort_day, day_offset
        ), curve AS (
            SELECT day_offset, avg(retention) AS avg_ret
            FROM tri WHERE day_offset BETWEEN 1 AND 13
            GROUP BY day_offset
        )
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               round(regr_slope(ln(avg_ret), day_offset), 6) AS decay_slope,
               round(regr_r2(ln(avg_ret), day_offset), 6) AS r2
        FROM curve
    """,
)
def retention_decay_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-curve decay fit: the cohort triangle collapses to an
    average retention curve (offsets 1–13), then a log-linear
    regression estimates the exponential decay rate — the one-number
    summary growth teams track release-over-release (and the input
    to LTV extrapolation). Composes B2 (cohort triangle) with A7's
    regression family.

    Scale: everything after the triangle runs on ≤14 rows; the
    triangle itself is the B2 plan (co-partitioned user joins,
    per-day distincts).
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    sizes = first_seen.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    tri = (
        active.join(first_seen, "user_id")
        .withColumn("day_offset", F.datediff("d", "cohort_day"))
        .join(F.broadcast(sizes), "cohort_day")
        .groupBy("cohort_day", "day_offset")
        .agg(
            (F.count_distinct("user_id") * 1.0 / F.any_value("n_cohort")).alias(
                "retention"
            )
        )
    )
    curve = (
        tri.filter(F.col("day_offset").between(1, 13))
        .groupBy("day_offset")
        .agg(F.avg("retention").alias("avg_ret"))
    )
    return curve.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.regr_slope(F.log("avg_ret"), F.col("day_offset")), 6).alias(
            "decay_slope"
        ),
        F.round(F.regr_r2(F.log("avg_ret"), F.col("day_offset")), 6).alias("r2"),
    )


@query(
    "time_to_convert_percentiles",
    category="B1-ttc",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t_buy
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'purchase' AND e.ts > v.t_view
            GROUP BY e.user_id
        ), d AS (
            SELECT (epoch_us(p.t_buy) - epoch_us(v.t_view)) // 60000000
                       AS mins
            FROM p JOIN v ON p.user_id = v.user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converters,
               CAST(quantile_disc(mins, 0.5) AS BIGINT) AS p50_mins,
               CAST(quantile_disc(mins, 0.9) AS BIGINT) AS p90_mins,
               CAST(max(mins) AS BIGINT) AS max_mins
        FROM d
    """,
)
def time_to_convert_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: minutes from a user's first view
    to their first subsequent purchase, summarized as discrete
    percentiles — the latency histogram behind funnel SLAs ("half of
    converters buy within N hours").

    Scale: two user-keyed min aggregates + one co-partitioned join;
    the percentile sorts only the converter frame (≤ users). Integer
    minutes via `div`; percentile_disc picks actual elements.
    """
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    d = p.join(v, "user_id").select(
        F.expr("(unix_micros(t_buy) - unix_micros(t_view)) div 60000000").alias(
            "mins"
        )
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_converters"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY mins)")
        .cast("long")
        .alias("p50_mins"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY mins)")
        .cast("long")
        .alias("p90_mins"),
        F.max("mins").cast("long").alias("max_mins"),
    )


@query(
    "seasonal_residual_outliers",
    category="T18-seasonal",
    oracle="""
        WITH hourly AS (
            SELECT time_bucket(INTERVAL 1 hour, ts) AS h,
                   CAST(dayofweek(ts) AS INT) AS dow,
                   CAST(hour(ts) AS INT) AS hod,
                   count(*) AS n
            FROM events
            GROUP BY h, dow, hod
        ), baseline AS (
            SELECT dow, hod, avg(n) AS mu, stddev_samp(n) AS sd
            FROM hourly GROUP BY dow, hod
        )
        SELECT hourly.h, hourly.n,
               round(mu, 6) AS expected,
               round((hourly.n - mu) / sd, 4) AS z
        FROM hourly JOIN baseline USING (dow, hod)
        WHERE sd > 0 AND abs((hourly.n - mu) / sd) >= 1.25
        ORDER BY h
    """,
)
def seasonal_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: hourly event counts
    scored against their (day-of-week, hour-of-day) baseline (|z| >= 1.25 — sized to the testdata's tame variance so the check exercises rows; production would use 3σ) — the
    deseasonalized z that avoids paging on every Monday-morning ramp
    (a plain global z flags the daily cycle itself; cf.
    anomaly_mad_outliers for the robust-location variant).

    Scale: the fact table reduces to an hourly census once; baseline
    and scoring both run on that census (168-key baseline broadcast).
    DuckDB dayofweek is 0-based, Spark's 1-based — shifted here.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").getField("start").alias("h"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    baseline = hourly.groupBy("dow", "hod").agg(
        F.avg("n").alias("mu"), F.stddev_samp("n").alias("sd")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        hourly.join(F.broadcast(baseline), ["dow", "hod"])
        .filter((F.col("sd") > 0) & (F.abs(z) >= 1.25))
        .select(
            "h",
            "n",
            F.round("mu", 6).alias("expected"),
            F.round(z, 4).alias("z"),
        )
    )


@query(
    "path_trigrams_census",
    category="B10-trigrams",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
               count(*) AS n
        FROM seq
        WHERE t3 IS NOT NULL
        GROUP BY trigram
        ORDER BY n DESC, trigram
        LIMIT 15
    """,
)
def path_trigrams_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding path trigrams: every 3-step subsequence of a user's
    event stream, censused — the n-gram generalization of the entry-
    path census (journey_top_paths) and the input to higher-order
    Markov models (markov_transition_matrix is the order-1 cut).

    Scale: ONE user_id window emits both leads; the census shuffles
    |types|³-bounded keys. No self-joins.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(15)
    )


@query(
    "exposure_outcome_relative_risk",
    category="B17-uplift",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS exposed,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted
            FROM events GROUP BY user_id
        )
        SELECT CAST(sum(CASE WHEN exposed = 1 THEN 1 END) AS BIGINT)
                   AS n_exposed,
               CAST(sum(CASE WHEN exposed = 0 THEN 1 END) AS BIGINT)
                   AS n_control,
               round(sum(CASE WHEN exposed = 1 AND converted = 1
                              THEN 1 ELSE 0 END) * 1.0
                     / sum(CASE WHEN exposed = 1 THEN 1 END), 6)
                   AS rate_exposed,
               round(sum(CASE WHEN exposed = 0 AND converted = 1
                              THEN 1 ELSE 0 END) * 1.0
                     / sum(CASE WHEN exposed = 0 THEN 1 END), 6)
                   AS rate_control,
               round((sum(CASE WHEN exposed = 1 AND converted = 1
                               THEN 1 ELSE 0 END) * 1.0
                      / sum(CASE WHEN exposed = 1 THEN 1 END))
                     / (sum(CASE WHEN exposed = 0 AND converted = 1
                                 THEN 1 ELSE 0 END) * 1.0
                        / sum(CASE WHEN exposed = 0 THEN 1 END)), 6)
                   AS relative_risk
        FROM per_user
    """,
)
def exposure_outcome_relative_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure → outcome 2×2 analysis (relative risk): conversion
    rate among users who hit an error vs those who didn't — the
    observational uplift/impact readout ("do errors depress
    purchases"), the census the Welch/Mann-Whitney tests then judge.

    Scale: one per-user flag aggregate + one global 2×2 fold — two
    combinable aggregates, no joins or windows.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "error").cast("int")).alias("exposed"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        ),
    )
    n_exp = F.sum(F.when(F.col("exposed") == 1, 1))
    n_ctl = F.sum(F.when(F.col("exposed") == 0, 1))
    conv_exp = F.sum(
        F.when((F.col("exposed") == 1) & (F.col("converted") == 1), 1).otherwise(0)
    )
    conv_ctl = F.sum(
        F.when((F.col("exposed") == 0) & (F.col("converted") == 1), 1).otherwise(0)
    )
    return per_user.agg(
        n_exp.cast("long").alias("n_exposed"),
        n_ctl.cast("long").alias("n_control"),
        F.round(conv_exp * 1.0 / n_exp, 6).alias("rate_exposed"),
        F.round(conv_ctl * 1.0 / n_ctl, 6).alias("rate_control"),
        F.round((conv_exp * 1.0 / n_exp) / (conv_ctl * 1.0 / n_ctl), 6).alias(
            "relative_risk"
        ),
    )


@query(
    "funnel_by_segment",
    category="B1-funnel-segment",
    oracle="""
        WITH seg AS (
            SELECT c_custkey AS user_id, c_mktsegment AS segment
            FROM customer
        ), s1 AS (
            SELECT e.user_id, min(e.ts) AS t1
            FROM events e JOIN seg ON e.user_id = seg.user_id
            WHERE e.event_type = 'view' GROUP BY e.user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t1
            GROUP BY e.user_id
        )
        SELECT seg.segment,
               count(s1.user_id) AS n_viewed,
               count(s2.user_id) AS n_clicked,
               round(count(s2.user_id) * 1.0
                     / greatest(count(s1.user_id), 1), 6) AS conversion
        FROM seg
        LEFT JOIN s1 ON seg.user_id = s1.user_id
        LEFT JOIN s2 ON seg.user_id = s2.user_id
        GROUP BY seg.segment
        ORDER BY seg.segment
    """,
)
def funnel_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel CUT BY DIMENSION: the view→click sequential-min funnel
    broken out per customer market segment — the "which cohort
    converts" report that joins the event funnel to a dimension
    table. Composes B1 with the J1 broadcast-enrichment pattern.

    Scale: funnel stages are user-keyed aggregates sharing one
    partitioning; the segment dim is broadcast; the segment census is
    |segments| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    seg = cust.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .join(seg.select("user_id"), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        seg.join(s1.select("user_id", F.lit(1).alias("v")), "user_id", "left")
        .join(s2.select("user_id", F.lit(1).alias("c")), "user_id", "left")
        .groupBy("segment")
        .agg(
            F.count("v").alias("n_viewed"),
            F.count("c").alias("n_clicked"),
            F.round(
                F.count("c") / F.greatest(F.count("v"), F.lit(1)), 6
            ).alias("conversion"),
        )
    )


@query(
    "session_path_clusters",
    category="B8-journey",
    oracle="""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, event_id, event_type,
                   sum(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS sid
            FROM seq
        ), ranked AS (
            SELECT user_id, sid, event_type,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY ts, event_id) AS rn
            FROM sess
        ), paths AS (
            SELECT user_id, sid,
                   list(event_type ORDER BY rn) AS steps
            FROM ranked WHERE rn <= 5
            GROUP BY user_id, sid
        ), tagged AS (
            SELECT array_to_string(steps, '>') AS path,
                   array_to_string(steps[1:2], '>') AS cluster
            FROM paths
        ), per_path AS (
            SELECT cluster, path, count(*) AS cnt
            FROM tagged GROUP BY cluster, path
        ), top AS (
            SELECT cluster, path AS top_path, cnt AS top_cnt,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY cnt DESC, path) AS rk
            FROM per_path
        )
        SELECT p.cluster,
               CAST(sum(p.cnt) AS BIGINT) AS n_sessions,
               CAST(count(*) AS BIGINT) AS n_paths,
               any_value(t.top_path) AS top_path,
               CAST(any_value(t.top_cnt) AS BIGINT) AS top_cnt
        FROM per_path p JOIN top t ON p.cluster = t.cluster AND t.rk = 1
        GROUP BY p.cluster
        ORDER BY n_sessions DESC, p.cluster
        LIMIT 20
    """,
)
def session_path_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path clustering (NEXT.md breadth item): sessionize by
    the 30-minute gap, reduce each session to its first-5-step
    event-type path, and cluster paths by their 2-step prefix — the
    prefix-tree rollup product analytics uses to group journeys
    ("what do sessions that start click>view go on to do"), with the
    dominant full path per cluster as the exemplar.

    Determinism: exemplar = max count with lexicographic-path
    tiebreak; cluster ordering by size then name.

    Scale: ONE shuffle by user_id drives the gap flag, session-id
    running sum and per-session collection (same exchange-reuse shape
    as sessionize W8); the path census then aggregates tiny
    (cluster, path) keys. Per-session state is capped at 5 steps by
    the rn filter BEFORE collection, so no unbounded collect_list.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap compare (strict '>'), matching the oracle's
    # interval arithmetic — second-truncated casts would disagree on
    # gaps within 1s of the boundary (sessionize W8 convention)
    gap_us = 30 * 60 * 1_000_000
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    seq = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0).alias("new_s"),
    )
    sess = seq.withColumn("sid", F.sum("new_s").over(w))
    w_s = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    ranked = sess.select(
        "user_id", "sid", "event_type", F.row_number().over(w_s).alias("rn")
    )
    paths = (
        ranked.filter(F.col("rn") <= 5)
        .groupBy("user_id", "sid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x.event_type,
            ).alias("steps")
        )
    )
    tagged = paths.select(
        F.concat_ws(">", F.col("steps")).alias("path"),
        F.concat_ws(">", F.slice(F.col("steps"), 1, 2)).alias("cluster"),
    )
    per_path = tagged.groupBy("cluster", "path").agg(
        F.count(F.lit(1)).alias("cnt")
    ).persist()  # two consumers: cluster rollup + exemplar ranking
    w_c = Window.partitionBy("cluster").orderBy(F.col("cnt").desc(), "path")
    top = (
        per_path.withColumn("rk", F.row_number().over(w_c))
        .filter(F.col("rk") == 1)
        .select("cluster", F.col("path").alias("top_path"), F.col("cnt").alias("top_cnt"))
    )
    return (
        per_path.groupBy("cluster")
        .agg(
            F.sum("cnt").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_paths"),
        )
        .join(top, "cluster")
        .select("cluster", "n_sessions", "n_paths", "top_path",
                F.col("top_cnt").cast("long").alias("top_cnt"))
        .orderBy(F.col("n_sessions").desc(), "cluster")
        .limit(20)
    )


_PPR_ORACLE = f"""
    WITH {INTERACTION_EDGES_CTE}, outdeg AS (
        SELECT src, count(*) AS od FROM edges GROUP BY src
    ), nodes AS (
        SELECT DISTINCT u
        FROM (SELECT src AS u FROM edges UNION ALL SELECT dst FROM edges)
    ), seeds AS (
        SELECT u FROM nodes WHERE u % 10 = 0
    ), ns AS (SELECT count(*) AS n_seeds FROM seeds),
    r0 AS (
        SELECT nodes.u,
               CASE WHEN seeds.u IS NOT NULL
                    THEN CAST(1000000000000 // ns.n_seeds AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS r
        FROM nodes CROSS JOIN ns LEFT JOIN seeds ON nodes.u = seeds.u
    ), c1 AS (
        SELECT e.dst AS u,
               CAST(sum((r0.r * 85) // (100 * o.od)) AS BIGINT) AS c
        FROM edges e JOIN r0 ON e.src = r0.u JOIN outdeg o ON e.src = o.src
        WHERE r0.r > 0
        GROUP BY e.dst
    ), r1 AS (
        SELECT nodes.u,
               CAST(CASE WHEN seeds.u IS NOT NULL
                         THEN (15 * 1000000000000) // (100 * ns.n_seeds)
                         ELSE 0 END
                    + coalesce(c1.c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN ns
        LEFT JOIN seeds ON nodes.u = seeds.u
        LEFT JOIN c1 ON nodes.u = c1.u
    ), c2 AS (
        SELECT e.dst AS u,
               CAST(sum((r1.r * 85) // (100 * o.od)) AS BIGINT) AS c
        FROM edges e JOIN r1 ON e.src = r1.u JOIN outdeg o ON e.src = o.src
        WHERE r1.r > 0
        GROUP BY e.dst
    ), r2 AS (
        SELECT nodes.u,
               CAST(CASE WHEN seeds.u IS NOT NULL
                         THEN (15 * 1000000000000) // (100 * ns.n_seeds)
                         ELSE 0 END
                    + coalesce(c2.c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN ns
        LEFT JOIN seeds ON nodes.u = seeds.u
        LEFT JOIN c2 ON nodes.u = c2.u
    )
    SELECT u AS user_id, r AS rank_units,
           CASE WHEN u % 10 = 0 THEN TRUE ELSE FALSE END AS is_seed
    FROM r2
    ORDER BY rank_units DESC, user_id
    LIMIT 15
"""


@query("personalized_pagerank_seeds", category="B7-graph", oracle=_PPR_ORACLE)
def personalized_pagerank_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (PPR), 2 power iterations: teleport mass
    restarts ONLY to the seed set (nodes with id % 10 = 0) instead of
    uniformly — the "related to THESE users/domains" ranking behind
    recommendation candidates, trust propagation, and seed-expanded
    crawl scheduling, where global PageRank answers the wrong
    question.

    Exactness: identical int64 micro-unit accounting to
    pagerank_fixed_iterations ((r·85) div (100·od), floor divisions)
    with the restart term (15%·mass) // (100·|S|) paid only at seeds
    — no float ever appears, so accumulation order cannot drift.

    Scale: same Pregel layout as PageRank — loop-invariant edges
    cached pre-partitioned by src, one join + one combinable agg per
    iteration; the r>0 filter keeps early iterations proportional to
    the seed frontier, which is the PPR-specific win (mass is sparse
    until it diffuses).
    """
    from ..operators.graph import interaction_edges, truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    edges = truncate_lineage(interaction_edges(ev).repartition("src"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    nodes = truncate_lineage(
        edges.select(F.col("src").alias("u"))
        .unionAll(edges.select(F.col("dst").alias("u")))
        .distinct(),
        8,
    )
    n_seeds = nodes.filter(F.col("u") % 10 == 0).count()  # bounded scalar

    total = 1_000_000_000_000
    is_seed = F.col("u") % 10 == 0
    restart = F.when(is_seed, F.lit((15 * total) // (100 * n_seeds))).otherwise(
        F.lit(0)
    )
    ranks = nodes.select(
        "u",
        F.when(is_seed, F.lit(total // n_seeds)).otherwise(F.lit(0))
        .cast("long").alias("r"),
    )
    esrc = edges.join(outdeg, "src")
    for _ in range(2):
        contribs = (
            esrc.join(ranks.filter(F.col("r") > 0), esrc.src == F.col("u"))
            .select("dst", F.expr("(r * 85) div (100 * od)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, nodes.u == contribs.dst, "left")
            .select(
                "u",
                (restart + F.coalesce("c", F.lit(0))).cast("long").alias("r"),
            )
        )
        ranks = truncate_lineage(ranks, 8)  # per-round boundary
    return (
        ranks.select(
            F.col("u").alias("user_id"),
            F.col("r").alias("rank_units"),
            (F.col("u") % 10 == 0).alias("is_seed"),
        )
        .orderBy(F.col("rank_units").desc(), "user_id")
        .limit(15)
    )


_BELLMAN_ORACLE = f"""
    WITH {INTERACTION_PAIRS_CTE}, wedges AS (
        SELECT src, dst, CAST(1000000 // count(*) AS BIGINT) AS cost
        FROM pairs GROUP BY src, dst
    ), d0 AS (
        SELECT DISTINCT src AS u, CAST(0 AS BIGINT) AS dist
        FROM wedges WHERE src = 0
    ), d1 AS (
        SELECT u, min(dist) AS dist FROM (
            SELECT u, dist FROM d0
            UNION ALL
            SELECT w.dst AS u, d0.dist + w.cost AS dist
            FROM d0 JOIN wedges w ON w.src = d0.u
        ) GROUP BY u
    ), d2 AS (
        SELECT u, min(dist) AS dist FROM (
            SELECT u, dist FROM d1
            UNION ALL
            SELECT w.dst AS u, d1.dist + w.cost AS dist
            FROM d1 JOIN wedges w ON w.src = d1.u
        ) GROUP BY u
    ), d3 AS (
        SELECT u, min(dist) AS dist FROM (
            SELECT u, dist FROM d2
            UNION ALL
            SELECT w.dst AS u, d2.dist + w.cost AS dist
            FROM d2 JOIN wedges w ON w.src = d2.u
        ) GROUP BY u
    )
    SELECT u AS user_id, dist AS cost_units
    FROM d3
    ORDER BY cost_units, user_id
    LIMIT 25
"""


@query("bellman_ford_rounds", category="B7-graph", oracle=_BELLMAN_ORACLE)
def bellman_ford_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest path — 3 unrolled Bellman-Ford
    relaxations over the interaction graph with data-derived edge
    costs (cost = 10⁶ // co-occurrence count: frequent transitions are
    cheap). The min-plus-semiring iteration is the third iterative
    template next to PageRank's sum-product and CC's min-propagation;
    3 rounds bound the horizon exactly like the sampled-BFS queries.

    Exactness: costs and distances are integers (floor-divided once at
    edge minting), min/+ cannot drift — no float appears anywhere.

    Scale: each relaxation is frontier⋈edges (keyed on the settled
    node) + a min-combinable aggregate — the same one-join-one-agg
    per-round layout as PageRank, with edges cached pre-partitioned
    by src. Cheapest-25 via heap, not a global sort.
    """
    from ..operators.graph import interaction_edges as _  # noqa: F401  (shared def)
    from pyspark.sql import Window as _W

    ev = load_table(spark, sf_dir, "events")
    w = _W.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    from ..operators.graph import truncate_lineage

    wedges = truncate_lineage(
        pairs.groupBy("src", "dst")
        .agg(F.expr("CAST(1000000 div count(1) AS BIGINT)").alias("cost"))
        .repartition("src")
    )
    # seed from the DATA, not a literal 1-row frame: a literal seed's
    # join key constant-folds away and every relaxation degrades to a
    # nested-loop; a data-derived seed keeps them equi joins
    d = (
        wedges.select("src").filter(F.col("src") == 0).distinct()
        .select(F.col("src").alias("u"), F.lit(0).cast("long").alias("dist"))
    )
    for _i in range(3):
        relaxed = (
            d.join(wedges, d.u == wedges.src)
            .select(F.col("dst").alias("u"), (F.col("dist") + F.col("cost")).alias("dist"))
        )
        # checkpoint each round: d is consumed twice (union branch +
        # join probe) and rounds otherwise re-print every earlier
        # round's subtree (the truncate_lineage house rule)
        d = truncate_lineage(
            d.unionByName(relaxed)
            .groupBy("u")
            .agg(F.min("dist").cast("long").alias("dist")),
            leaf_parallelism(spark),
        )
    return (
        d.select(F.col("u").alias("user_id"), F.col("dist").alias("cost_units"))
        .orderBy("cost_units", "user_id")
        .limit(25)
    )


_WPAGERANK_ORACLE = f"""
    WITH {INTERACTION_PAIRS_CTE}, wedges AS (
        SELECT src, dst, count(*) AS w FROM pairs GROUP BY src, dst
    ), outw AS (
        SELECT src, sum(w) AS ow FROM wedges GROUP BY src
    ), nodes AS (
        SELECT DISTINCT u
        FROM (SELECT src AS u FROM wedges UNION ALL SELECT dst FROM wedges)
    ), n AS (SELECT count(*) AS n_nodes FROM nodes),
    r0 AS (
        SELECT u, CAST(1000000000000 // n_nodes AS BIGINT) AS r
        FROM nodes, n
    ), c1 AS (
        SELECT e.dst AS u,
               CAST(sum((r0.r * 85 * e.w) // (100 * o.ow)) AS BIGINT) AS c
        FROM wedges e JOIN r0 ON e.src = r0.u JOIN outw o ON e.src = o.src
        GROUP BY e.dst
    ), r1 AS (
        SELECT nodes.u,
               CAST((15 * 1000000000000) // (100 * n.n_nodes)
                    + coalesce(c1.c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN n LEFT JOIN c1 ON nodes.u = c1.u
    ), c2 AS (
        SELECT e.dst AS u,
               CAST(sum((r1.r * 85 * e.w) // (100 * o.ow)) AS BIGINT) AS c
        FROM wedges e JOIN r1 ON e.src = r1.u JOIN outw o ON e.src = o.src
        GROUP BY e.dst
    ), r2 AS (
        SELECT nodes.u,
               CAST((15 * 1000000000000) // (100 * n.n_nodes)
                    + coalesce(c2.c, 0) AS BIGINT) AS r
        FROM nodes CROSS JOIN n LEFT JOIN c2 ON nodes.u = c2.u
    )
    SELECT u AS user_id, r AS rank_units
    FROM r2
    ORDER BY rank_units DESC, user_id
    LIMIT 25
"""


@query("pagerank_weighted_edges", category="B7-graph", oracle=_WPAGERANK_ORACLE)
def pagerank_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 2 power iterations: edge weight = transition
    multiplicity (how often v followed u), so rank mass flows along an
    edge in proportion to observed traffic instead of splitting
    uniformly across out-neighbors — the variant link-spam scoring and
    crawl prioritization actually run, where a 1000×-traveled edge
    must carry 1000× the endorsement of a one-off.

    Exactness: identical int64 micro-unit discipline to the unweighted
    query with the weight folded INSIDE the floor division
    ((r·85·w) div (100·Σw)) — one rounding per edge per round, so both
    engines floor at the same point and accumulation order cannot
    drift.

    Scale: same Pregel layout — weighted edges built once with ONE
    groupBy(src,dst) count (strictly smaller than the raw pair stream),
    cached pre-partitioned by src; each iteration is one equi join +
    one combinable sum by dst. Weights add zero extra shuffles over
    the unweighted form.
    """
    from pyspark.sql import Window as _W

    ev = load_table(spark, sf_dir, "events")
    w = _W.partitionBy("event_type").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("user_id").alias("src"),
            F.lead("user_id").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    from ..operators.graph import truncate_lineage

    wedges = truncate_lineage(
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .repartition("src")
    )
    outw = wedges.groupBy("src").agg(F.sum("w").alias("ow"))
    nodes = truncate_lineage(
        wedges.select(F.col("src").alias("u"))
        .unionAll(wedges.select(F.col("dst").alias("u")))
        .distinct(),
        8,
    )
    n_nodes = nodes.count()  # bounded metadata scalar

    total = 1_000_000_000_000
    base = (15 * total) // (100 * n_nodes)
    ranks = nodes.select("u", F.lit(total // n_nodes).cast("long").alias("r"))
    esrc = wedges.join(outw, "src")
    for _ in range(2):
        contribs = (
            esrc.join(ranks, esrc.src == ranks.u)
            .select("dst", F.expr("(r * 85 * w) div (100 * ow)").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs, nodes.u == contribs.dst, "left")
            .select(
                "u",
                (F.lit(base) + F.coalesce("c", F.lit(0))).cast("long").alias("r"),
            )
        )
        ranks = truncate_lineage(ranks, 8)  # per-round boundary
    return (
        ranks.select(F.col("u").alias("user_id"), F.col("r").alias("rank_units"))
        .orderBy(F.col("rank_units").desc(), "user_id")
        .limit(25)
    )


_LOUVAIN_ORACLE = f"""
    WITH {INTERACTION_UND_CTE}, adj AS (
        SELECT a AS u, b AS v FROM und
        UNION ALL
        SELECT b AS u, a AS v FROM und
    ), deg AS (
        SELECT u, count(*) AS k FROM adj GROUP BY u
    ), m AS (SELECT count(*) AS m_edges FROM und),
    moves AS (
        SELECT adj.u, adj.v,
               2 * m.m_edges - du.k * dv.k AS gain_num
        FROM adj
        JOIN deg du ON adj.u = du.u
        JOIN deg dv ON adj.v = dv.u
        CROSS JOIN m
    ), best AS (
        SELECT u, v AS target, gain_num,
               row_number() OVER (PARTITION BY u
                                  ORDER BY gain_num DESC, v) AS rn
        FROM moves
    ), labels AS (
        SELECT deg.u,
               CASE WHEN b.gain_num > 0 THEN b.target ELSE deg.u END AS c
        FROM deg LEFT JOIN best b ON deg.u = b.u AND b.rn = 1
    ), comm AS (
        SELECT c,
               count(*) AS n_nodes,
               CAST(sum(deg.k) AS BIGINT) AS tot_deg
        FROM labels JOIN deg ON labels.u = deg.u
        GROUP BY c
    ), inedges AS (
        SELECT la.c, count(*) AS in_edges
        FROM und
        JOIN labels la ON und.a = la.u
        JOIN labels lb ON und.b = lb.u
        WHERE la.c = lb.c
        GROUP BY la.c
    ), q AS (
        SELECT CAST(sum(4 * m.m_edges * coalesce(i.in_edges, 0)
                        - comm.tot_deg * comm.tot_deg) AS BIGINT) AS q_num
        FROM comm LEFT JOIN inedges i ON comm.c = i.c CROSS JOIN m
    )
    SELECT comm.c AS community,
           CAST(comm.n_nodes AS BIGINT) AS n_nodes,
           comm.tot_deg,
           CAST(coalesce(i.in_edges, 0) AS BIGINT) AS in_edges,
           q.q_num
    FROM comm LEFT JOIN inedges i ON comm.c = i.c CROSS JOIN q
    ORDER BY n_nodes DESC, community
    LIMIT 15
"""


@query("louvain_first_sweep", category="B7-graph", oracle=_LOUVAIN_ORACLE)
def louvain_first_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain community detection, phase-1 first sweep: from singleton
    communities every node SYNCHRONOUSLY evaluates moving into each
    neighbor's community and takes the move with the largest positive
    modularity gain (ties to the smallest neighbor id). For singleton
    targets the gain reduces exactly to ΔQ·2m² = 2m − k_u·k_v, so the
    whole sweep is integer arithmetic — no float modularity ever
    computed. Output: the 15 largest resulting communities with their
    size, total degree, internal edge count, and the partition's
    integer modularity numerator Q_num = Σ_c(4m·in_c − tot_c²)
    (Q = Q_num/4m²) as the hash-checked quality witness.

    Synchronous one-sweep semantics (vs the sequential classic) is the
    deterministic, order-free variant a distributed engine can run:
    every decision depends only on the frozen singleton state, so the
    result is partitioning-invariant — the property the asynchronous
    textbook formulation lacks. Later sweeps would iterate the same
    plan on the coarsened label frame (the LPA query pins that loop
    shape).

    Scale: degrees and gains are one groupBy + one self-equi-join on
    the adjacency list (never node×node); m is a broadcast scalar;
    the argmax move is a per-node window over each node's OWN
    adjacency. Community rollups re-key by label — one shuffle each.
    """
    from ..operators.graph import interaction_edges, truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    # truncate_lineage, not persist (VERDICT r5): und/deg are re-read
    # by every sweep and quality pass, and each consumer would embed
    # (and print) the full upstream subtree; the eager localCheckpoint
    # materializes once, truncates the plan, and narrows partitions
    # (coalesce-before-persist, SCALE.md §3b)
    par = leaf_parallelism(spark)
    und = truncate_lineage(interaction_edges(ev, undirected=True), par)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = truncate_lineage(
        adj.groupBy("u").agg(F.count(F.lit(1)).alias("k")), par
    )
    m_edges = und.count()  # bounded metadata scalar

    dv = deg.select(F.col("u").alias("v"), F.col("k").alias("kv"))
    moves = (
        adj.join(deg, "u")
        .join(dv, "v")
        .select("u", "v", (F.lit(2 * m_edges) - F.col("k") * F.col("kv")).alias("gain_num"))
    )
    w_best = Window.partitionBy("u").orderBy(F.col("gain_num").desc(), "v")
    best = moves.withColumn("rn", F.row_number().over(w_best)).filter(F.col("rn") == 1)
    labels = truncate_lineage(
        deg.join(best.select("u", "v", "gain_num"), "u", "left")
        .select(
            "u", "k",
            F.when(F.col("gain_num") > 0, F.col("v")).otherwise(F.col("u")).alias("c"),
        ),
        par,
    )
    comm = labels.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("k").cast("long").alias("tot_deg"),
    )
    la = labels.select(F.col("u").alias("a"), F.col("c").alias("ca"))
    lb = labels.select(F.col("u").alias("b"), F.col("c").alias("cb"))
    inedges = (
        und.join(la, "a").join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("in_edges"))
    )
    enriched = (
        comm.join(inedges, "c", "left")
        .select(
            "c", "n_nodes", "tot_deg",
            F.coalesce("in_edges", F.lit(0)).cast("long").alias("in_edges"),
        )
        .persist()  # two consumers: Q_num rollup + top-15 output
    )
    q_num = enriched.agg(
        F.sum(
            F.lit(4 * m_edges) * F.col("in_edges")
            - F.col("tot_deg") * F.col("tot_deg")
        ).cast("long").alias("q_num")
    )
    return (
        enriched.crossJoin(F.broadcast(q_num))
        .select(
            F.col("c").alias("community"),
            "n_nodes", "tot_deg", "in_edges", "q_num",
        )
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(15)
    )


_CC_STAR_ORACLE = f"""
    WITH RECURSIVE {INTERACTION_UND_CTE}, edges AS (
        SELECT a AS src, b AS dst FROM und
        UNION
        SELECT b, a FROM und
    ), reach AS (
        SELECT src AS node, src AS label FROM edges
        UNION
        SELECT e.dst, r.label FROM edges e JOIN reach r ON e.src = r.node
    ), cc AS (
        SELECT node, min(label) AS comp FROM reach GROUP BY node
    )
    SELECT comp AS component,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM cc
    GROUP BY comp
    ORDER BY n_nodes DESC, component
    LIMIT 20
"""


@query("cc_star_components_census", category="B7-graph", oracle=_CC_STAR_ORACLE)
def cc_star_components_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component census via the large-star/small-star
    algorithm (operators/graph.py::connected_components_star — the
    SoCC'14 web-scale CC whose rounds scale with log(diameter), not
    diameter). Labels are the component-minimum node id — the same
    deterministic labeling as plain min-propagation, certified equal
    in tests/test_graph.py — so the census hashes identically against
    the oracle's recursive-CTE reachability replay.

    Scale: this is the variant a 100 TB dedup graph actually wants —
    each round is a groupBy-min + equi join over the contracting edge
    list (never per-node reachability sets like the oracle's CTE),
    convergence probed by an O(1) signature scalar, lineage truncated
    per round. The 64-node-chain test pins the log-round behavior
    (10 rounds where propagation needs 63).
    """
    from ..operators.graph import connected_components_star, interaction_edges

    ev = load_table(spark, sf_dir, "events")
    labels = connected_components_star(interaction_edges(ev))
    return (
        labels.groupBy(F.col("component"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.min("id").cast("long").alias("min_node"),
            F.max("id").cast("long").alias("max_node"),
        )
        .orderBy(F.col("n_nodes").desc(), "component")
        .limit(20)
    )


_LOUVAIN2_ORACLE = f"""
    WITH {INTERACTION_UND_CTE}, adj AS (
        SELECT a AS u, b AS v FROM und
        UNION ALL
        SELECT b AS u, a AS v FROM und
    ), deg AS (
        SELECT u, count(*) AS k FROM adj GROUP BY u
    ), m AS (SELECT count(*) AS m_edges FROM und),
    moves1 AS (
        SELECT adj.u, adj.v,
               2 * m.m_edges - du.k * dv.k AS gain_num
        FROM adj
        JOIN deg du ON adj.u = du.u
        JOIN deg dv ON adj.v = dv.u
        CROSS JOIN m
    ), best1 AS (
        SELECT u, v AS target, gain_num,
               row_number() OVER (PARTITION BY u
                                  ORDER BY gain_num DESC, v) AS rn
        FROM moves1
    ), labels1 AS (
        SELECT deg.u,
               CASE WHEN b.gain_num > 0 THEN b.target ELSE deg.u END AS c
        FROM deg LEFT JOIN best1 b ON deg.u = b.u AND b.rn = 1
    ), sdeg AS (
        SELECT c, CAST(sum(deg.k) AS BIGINT) AS kk
        FROM labels1 JOIN deg ON labels1.u = deg.u
        GROUP BY c
    ), sedges AS (
        SELECT least(la.c, lb.c) AS a, greatest(la.c, lb.c) AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM und
        JOIN labels1 la ON und.a = la.u
        JOIN labels1 lb ON und.b = lb.u
        WHERE la.c <> lb.c
        GROUP BY 1, 2
    ), sadj AS (
        SELECT a AS u, b AS v, w FROM sedges
        UNION ALL
        SELECT b AS u, a AS v, w FROM sedges
    ), moves2 AS (
        SELECT sadj.u, sadj.v,
               2 * m.m_edges * sadj.w - du.kk * dv.kk AS gain_num
        FROM sadj
        JOIN sdeg du ON sadj.u = du.c
        JOIN sdeg dv ON sadj.v = dv.c
        CROSS JOIN m
    ), best2 AS (
        SELECT u, v AS target, gain_num,
               row_number() OVER (PARTITION BY u
                                  ORDER BY gain_num DESC, v) AS rn
        FROM moves2
    ), labels2 AS (
        SELECT sdeg.c AS c1,
               CASE WHEN b.gain_num > 0 THEN b.target ELSE sdeg.c END AS c2
        FROM sdeg LEFT JOIN best2 b ON sdeg.c = b.u AND b.rn = 1
    ), final AS (
        SELECT l1.u, l2.c2 AS c
        FROM labels1 l1 JOIN labels2 l2 ON l1.c = l2.c1
    ), comm AS (
        SELECT c, count(*) AS n_nodes,
               CAST(sum(deg.k) AS BIGINT) AS tot_deg
        FROM final JOIN deg ON final.u = deg.u
        GROUP BY c
    ), inedges AS (
        SELECT la.c, count(*) AS in_edges
        FROM und
        JOIN final la ON und.a = la.u
        JOIN final lb ON und.b = lb.u
        WHERE la.c = lb.c
        GROUP BY la.c
    ), q AS (
        SELECT CAST(sum(4 * m.m_edges * coalesce(i.in_edges, 0)
                        - comm.tot_deg * comm.tot_deg) AS BIGINT) AS q_num
        FROM comm LEFT JOIN inedges i ON comm.c = i.c CROSS JOIN m
    )
    SELECT comm.c AS community,
           CAST(comm.n_nodes AS BIGINT) AS n_nodes,
           comm.tot_deg,
           CAST(coalesce(i.in_edges, 0) AS BIGINT) AS in_edges,
           q.q_num
    FROM comm LEFT JOIN inedges i ON comm.c = i.c CROSS JOIN q
    ORDER BY n_nodes DESC, community
    LIMIT 15
"""


@query("louvain_coarsened_two_level", category="B7-graph", oracle=_LOUVAIN2_ORACLE)
def louvain_coarsened_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain with COARSENING — the structure that makes Louvain
    Louvain: after the synchronous first sweep
    (louvain_first_sweep), communities contract into supernodes
    (superdegree = Σ member degrees, superedge weight = inter-
    community edge count) and the SAME integer gain rule runs again
    on the weighted supergraph (2m·w_cd − K_c·K_d — the weighted
    generalization of sweep 1's 2m − k_u·k_v, same argmax/tiebreak).
    Final labels compose node → community → supercommunity; the
    partition's integer Q_num over the ORIGINAL edges is the quality
    witness, hash-compared against sweep 1's via the registry pair.

    Scale: coarsening is the scalability mechanism — after sweep 1
    the graph shrinks to |communities| nodes, so sweep 2's joins run
    on a frame orders of magnitude smaller; every step stays
    groupBy + equi join (supergraph build is ONE relabel join + one
    count shuffle). Production would loop sweeps until Q_num stops
    rising; two levels pin the contraction machinery.
    """
    from ..operators.graph import interaction_edges, truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    # truncate_lineage, not persist (VERDICT r5): und/deg are re-read
    # by every sweep and quality pass, and each consumer would embed
    # (and print) the full upstream subtree; the eager localCheckpoint
    # materializes once, truncates the plan, and narrows partitions
    # (coalesce-before-persist, SCALE.md §3b)
    par = leaf_parallelism(spark)
    und = truncate_lineage(interaction_edges(ev, undirected=True), par)
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = truncate_lineage(
        adj.groupBy("u").agg(F.count(F.lit(1)).alias("k")), par
    )
    m_edges = und.count()  # bounded metadata scalar

    # sweep 1 (identical to louvain_first_sweep)
    dv = deg.select(F.col("u").alias("v"), F.col("k").alias("kv"))
    moves1 = (
        adj.join(deg, "u")
        .join(dv, "v")
        .select("u", "v",
                (F.lit(2 * m_edges) - F.col("k") * F.col("kv")).alias("gain_num"))
    )
    w1 = Window.partitionBy("u").orderBy(F.col("gain_num").desc(), "v")
    best1 = moves1.withColumn("rn", F.row_number().over(w1)).filter(F.col("rn") == 1)
    labels1 = truncate_lineage(
        deg.join(best1.select("u", "v", "gain_num"), "u", "left")
        .select(
            "u", "k",
            F.when(F.col("gain_num") > 0, F.col("v")).otherwise(F.col("u")).alias("c"),
        ),
        par,
    )

    # coarsen: supernode degrees + inter-community superedges
    sdeg = truncate_lineage(
        labels1.groupBy("c").agg(F.sum("k").cast("long").alias("kk")), par
    )
    la = labels1.select(F.col("u").alias("a"), F.col("c").alias("ca"))
    lb = labels1.select(F.col("u").alias("b"), F.col("c").alias("cb"))
    sedges = (
        und.join(la, "a").join(lb, "b")
        .filter(F.col("ca") != F.col("cb"))
        .groupBy(
            F.least("ca", "cb").alias("sa"), F.greatest("ca", "cb").alias("sb")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    sadj = sedges.select(F.col("sa").alias("u"), F.col("sb").alias("v"), "w").unionAll(
        sedges.select(F.col("sb").alias("u"), F.col("sa").alias("v"), "w")
    )

    # sweep 2 on the weighted supergraph
    sdu = sdeg.select(F.col("c").alias("u"), F.col("kk").alias("ku"))
    sdv = sdeg.select(F.col("c").alias("v"), F.col("kk").alias("kv"))
    moves2 = (
        sadj.join(sdu, "u")
        .join(sdv, "v")
        .select(
            "u", "v",
            (F.lit(2 * m_edges) * F.col("w") - F.col("ku") * F.col("kv"))
            .alias("gain_num"),
        )
    )
    best2 = moves2.withColumn("rn", F.row_number().over(w1)).filter(F.col("rn") == 1)
    labels2 = (
        sdeg.join(best2.select(F.col("u").alias("c"), "v", "gain_num"), "c", "left")
        .select(
            F.col("c").alias("c1"),
            F.when(F.col("gain_num") > 0, F.col("v")).otherwise(F.col("c")).alias("c2"),
        )
    )
    final = truncate_lineage(
        labels1.join(labels2, labels1.c == labels2.c1).select(
            "u", "k", F.col("c2").alias("c")
        ),
        par,
    )

    comm = final.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("k").cast("long").alias("tot_deg"),
    )
    fa = final.select(F.col("u").alias("a"), F.col("c").alias("fa"))
    fb = final.select(F.col("u").alias("b"), F.col("c").alias("fb"))
    inedges = (
        und.join(fa, "a").join(fb, "b")
        .filter(F.col("fa") == F.col("fb"))
        .groupBy(F.col("fa").alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("in_edges"))
    )
    enriched = (
        comm.join(inedges, "c", "left")
        .select(
            "c", "n_nodes", "tot_deg",
            F.coalesce("in_edges", F.lit(0)).cast("long").alias("in_edges"),
        )
        .persist()
    )
    q_num = enriched.agg(
        F.sum(
            F.lit(4 * m_edges) * F.col("in_edges")
            - F.col("tot_deg") * F.col("tot_deg")
        ).cast("long").alias("q_num")
    )
    return (
        enriched.crossJoin(F.broadcast(q_num))
        .select(F.col("c").alias("community"), "n_nodes", "tot_deg", "in_edges", "q_num")
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(15)
    )


_MK_CHANNELS = ["click", "error", "signup", "view"]
_MK_STEPS = 400


def _markov_removal_oracle() -> str:
    chans = _MK_CHANNELS
    us = ["START"] + chans
    vs = chans + ["CONV"]
    pivot_cols = ",\n               ".join(
        f"coalesce(max(CASE WHEN u = '{u}' AND v = '{v}' THEN p END),"
        f" CAST(0.0 AS DOUBLE)) AS p_{u.lower()}_{v.lower()}"
        for u in us for v in vs
    )
    anchor_v = ",\n               ".join(
        f"p_start_{c} AS v_{c}" for c in chans
    )
    step_v = ",\n               ".join(
        f"{' + '.join(f'it.v_{u} * pv.p_{u}_{c}' for u in chans)} AS v_{c}"
        for c in chans
    )
    conv_inc = " + ".join(f"it.v_{u} * pv.p_{u}_conv" for u in chans)
    return f"""
        WITH RECURSIVE fp AS (
            SELECT user_id, min(ts) AS fpts FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        ), tch AS (
            SELECT e.user_id, e.ts, e.event_id, e.event_type
            FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
            WHERE e.event_type <> 'purchase'
              AND (fp.fpts IS NULL OR e.ts < fp.fpts)
        ), seq AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM tch
        ), pairs AS (
            SELECT 'START' AS u, event_type AS v FROM seq WHERE rn = 1
            UNION ALL
            SELECT a.event_type, b.event_type
            FROM seq a JOIN seq b
              ON a.user_id = b.user_id AND b.rn = a.rn + 1
            UNION ALL
            SELECT s.event_type,
                   CASE WHEN fp.user_id IS NOT NULL
                        THEN 'CONV' ELSE 'NULL' END
            FROM seq s LEFT JOIN fp ON s.user_id = fp.user_id
            WHERE s.rn = s.n
            UNION ALL
            SELECT 'START', 'CONV' FROM fp
            WHERE user_id NOT IN (SELECT DISTINCT user_id FROM tch)
        ), counts AS (
            SELECT u, v, count(*) AS c FROM pairs GROUP BY u, v
        ), rowsum AS (
            SELECT u, sum(c) AS t FROM counts GROUP BY u
        ), prob AS (
            SELECT counts.u, counts.v,
                   CAST(counts.c AS DOUBLE) / CAST(rowsum.t AS DOUBLE) AS p
            FROM counts JOIN rowsum ON counts.u = rowsum.u
        ), scen AS (
            SELECT unnest(['full', {", ".join(f"'{c}'" for c in chans)}])
                AS removed
        ), padj AS (
            SELECT scen.removed, prob.u, prob.v, prob.p
            FROM scen, prob
            WHERE prob.u <> scen.removed AND prob.v <> scen.removed
        ), pv AS MATERIALIZED (
            SELECT removed,
               {pivot_cols}
            FROM padj GROUP BY removed
        ), it AS (
            SELECT removed, 0 AS step,
               {anchor_v},
               p_start_conv AS conv
            FROM pv
            UNION ALL
            SELECT pv.removed, it.step + 1,
               {step_v},
               it.conv + {conv_inc} AS conv
            FROM it JOIN pv ON it.removed = pv.removed
            WHERE it.step < {_MK_STEPS}
        ), final AS (
            SELECT removed, conv FROM it WHERE step = {_MK_STEPS}
        ), re AS (
            SELECT f.removed AS channel, f.conv AS conv_removed,
                   b.conv AS conv_full,
                   1.0 - f.conv / b.conv AS re
            FROM final f, (SELECT conv FROM final WHERE removed = 'full') b
            WHERE f.removed <> 'full'
        )
        SELECT channel,
               round(conv_full, 6) AS p_conv_full,
               round(conv_removed, 6) AS p_conv_removed,
               round(re, 6) AS removal_effect,
               round(re / (SELECT sum(re) FROM re), 6) AS attribution_share
        FROM re ORDER BY channel
    """


@query(
    "markov_removal_attribution",
    category="B10-markov",
    oracle=_markov_removal_oracle(),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution — the data-driven
    multi-touch model that first/last/linear attribution approximate:
    user journeys (pre-conversion touches ordered by ts, event_id;
    CONV/NULL absorbing ends) define a first-order transition matrix;
    the conversion probability from START is the chain's absorption
    mass into CONV; channel x's removal effect is the relative drop
    in that probability when x is deleted from the graph (its inbound
    mass redirected to NULL — row sums keep the full denominator);
    shares normalize the four effects. Absorption runs as a FIXED
    400-step power iteration in BOTH engines — same state order, same
    left-to-right accumulation, so every float op is IEEE-identical
    and the result is a defined functional even before convergence
    (residual transient mass < (1−ε)^400, far under the 1e-6 round).

    Scale: the distributed work is the journey→pair→count pipeline
    (one window over user partitions + one count shuffle — the same
    shape as markov_transition_matrix); the collected count table is
    ≤ (|types|+1)·(|types|+2) rows of bounded metadata, and the 5
    scenario chains iterate on a 4-vector driver-side, exactly like
    the oracle's recursive CTE. At 100 TB nothing but the count table
    ever reaches the driver.

    Oracle: generated recursive-CTE twin (geohash-style shared
    construction), CAST-to-DOUBLE discipline per oracle_conventions
    (a DECIMAL-typed probability would poison all 400 iterations).
    """
    ev = load_table(spark, sf_dir, "events")
    fp = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.min("ts").alias("fpts")
    )
    tch = (
        ev.join(fp, "user_id", "left")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("fpts").isNull() | (F.col("ts") < F.col("fpts")))
        )
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = tch.select(
        "user_id", "event_type",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
    ).persist()
    first = seq.filter(F.col("rn") == 1).select(
        F.lit("START").alias("u"), F.col("event_type").alias("v")
    )
    nxt = seq.alias("a").join(
        seq.alias("b"),
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.rn") == F.col("a.rn") + 1),
    ).select(F.col("a.event_type").alias("u"), F.col("b.event_type").alias("v"))
    last = (
        seq.filter(F.col("rn") == F.col("n"))
        .join(fp, "user_id", "left")
        .select(
            F.col("event_type").alias("u"),
            F.when(F.col("fpts").isNotNull(), "CONV").otherwise("NULL").alias("v"),
        )
    )
    notouch = fp.join(
        seq.select("user_id").distinct(), "user_id", "left_anti"
    ).select(F.lit("START").alias("u"), F.lit("CONV").alias("v"))
    counts = (
        first.unionAll(nxt).unionAll(last).unionAll(notouch)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # bounded: <= (|types|+1) x (|types|+2) metadata rows
    )
    c_map: dict = {}
    row_t: dict = {}
    for r in counts:
        c_map[(r["u"], r["v"])] = r["c"]
        row_t[r["u"]] = row_t.get(r["u"], 0) + r["c"]

    chans = _MK_CHANNELS

    def prob(u: str, v: str, removed: str) -> float:
        if u == removed or v == removed or u not in row_t:
            return 0.0
        return c_map.get((u, v), 0) / row_t[u]

    def absorb(removed: str) -> float:
        v = {c: prob("START", c, removed) for c in chans}
        conv = prob("START", "CONV", removed)
        for _ in range(_MK_STEPS):
            nv = {}
            for s in chans:
                acc = 0.0
                for u in chans:  # fixed order = the oracle's expression order
                    acc = acc + v[u] * prob(u, s, removed)
                nv[s] = acc
            inc = conv
            for u in chans:
                inc = inc + v[u] * prob(u, "CONV", removed)
            conv = inc
            v = nv
        return conv

    conv_full = absorb("full")
    res = [(c, conv_full, absorb(c)) for c in chans]
    re = [(c, cf, cr, 1.0 - cr / cf) for c, cf, cr in res]
    tot = 0.0
    for _c, _cf, _cr, r in re:
        tot = tot + r
    rows = [
        (c, round(cf, 6), round(cr, 6), round(r, 6), round(r / tot, 6))
        for c, cf, cr, r in re
    ]
    return spark.createDataFrame(
        rows,
        "channel string, p_conv_full double, p_conv_removed double,"
        " removal_effect double, attribution_share double",
    )


@query(
    "cohort_ltv_cumulative",
    category="B2-ltv",
    oracle="""
        WITH first_seen AS (
            SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events
            GROUP BY user_id
        ), cohorts AS (
            SELECT user_id, date_trunc('week', d0) AS cohort_week
            FROM first_seen
        ), sizes AS (
            SELECT cohort_week, count(*) AS cohort_users
            FROM cohorts GROUP BY cohort_week
        ), rev AS (
            SELECT c.cohort_week,
                   date_diff('week', c.cohort_week,
                             date_trunc('week', CAST(e.ts AS DATE))) AS wk,
                   CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events e
            JOIN cohorts c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
            GROUP BY c.cohort_week, wk
        ), tri AS (
            SELECT cohort_week, wk,
                   sum(cents) OVER (PARTITION BY cohort_week ORDER BY wk
                                    ROWS UNBOUNDED PRECEDING) AS cum_cents
            FROM rev
        )
        SELECT t.cohort_week, CAST(t.wk AS BIGINT) AS week_index,
               s.cohort_users,
               CAST(t.cum_cents AS BIGINT) AS cum_revenue_cents,
               round(CAST(t.cum_cents AS DOUBLE)
                     / (100.0 * s.cohort_users), 6) AS ltv_per_user
        FROM tri t JOIN sizes s ON t.cohort_week = s.cohort_week
        ORDER BY t.cohort_week, week_index
    """,
)
def cohort_ltv_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative LTV triangle — the revenue side of the B2 cohort
    family: users cohort by first-seen week; purchase revenue
    accumulates per (cohort, weeks-since-signup) as exact integer
    cents; LTV-per-user is ONE division of pinned integers by the
    pinned cohort size. The cumulative window runs over each cohort's
    ≤|weeks| row triangle — bounded metadata, like every window in
    the B-series.

    This is the curve LTV extrapolation (retention_decay_slope's
    docstring) is fit against; together they close the
    acquisition-payback readout.

    Scale: two combinable aggregates over the scan (first-seen, and
    the revenue rollup after an equi join on user) + a triangle-sized
    window; nothing user-grain ever sorts globally.
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    cohorts = first_seen.select(
        "user_id", F.date_trunc("week", "d0").cast("date").alias("cohort_week")
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        ev.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.date_trunc("week", F.to_date("ts")).cast("date"),
                        F.col("cohort_week"),
                    ) / 7
                )
            ).alias("wk"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long").alias("cents")
        )
    )
    w = (
        Window.partitionBy("cohort_week").orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tri = rev.select(
        "cohort_week", "wk", F.sum("cents").over(w).alias("cum_cents")
    )
    return (
        tri.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            F.col("wk").cast("long").alias("week_index"),
            "cohort_users",
            F.col("cum_cents").cast("long").alias("cum_revenue_cents"),
            F.round(
                F.col("cum_cents").cast("double")
                / (F.lit(100.0) * F.col("cohort_users")), 6
            ).alias("ltv_per_user"),
        )
    )


@query(
    "shapley_channel_attribution",
    category="B8-attribution",
    oracle="""
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(max(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END)
                      + 2 * max(CASE WHEN event_type = 'view'   THEN 1 ELSE 0 END)
                      + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                      + 8 * max(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END)
                        AS BIGINT) AS mask,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ), cm AS (
            SELECT mask, CAST(count(*) AS BIGINT) AS c
            FROM daily WHERE conv = 1 GROUP BY mask
        ), subsets AS (SELECT CAST(unnest(range(16)) AS BIGINT) AS s),
        v AS (
            SELECT s, CAST(coalesce(sum(CASE WHEN (mask & s) = mask
                                              THEN c END), 0) AS BIGINT) AS v
            FROM subsets LEFT JOIN cm ON TRUE GROUP BY s
        ), channels AS (
            SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                                  ('view', CAST(2 AS BIGINT)),
                                  ('signup', CAST(4 AS BIGINT)),
                                  ('error', CAST(8 AS BIGINT)))
                     AS t(channel, bit)
        ), terms AS (
            SELECT ch.channel,
                   (CASE bit_count(v1.s) WHEN 0 THEN 6 WHEN 1 THEN 2
                                         WHEN 2 THEN 2 ELSE 6 END)
                   * (v2.v - v1.v) AS t
            FROM channels ch
            JOIN v v1 ON (v1.s & ch.bit) = 0
            JOIN v v2 ON v2.s = v1.s + ch.bit
        )
        SELECT channel, CAST(sum(t) AS BIGINT) AS phi24,
               CAST(round(sum(t) / 24.0, 6) AS DOUBLE) AS shapley
        FROM terms GROUP BY channel ORDER BY channel
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution over four touch
    channels — the game-theoretic credit split that marketing stacks
    approximate by sampling; with |N| = 4 the 2⁴ coalition lattice is
    enumerated exactly. Journey unit: (user, day); the characteristic
    function v(S) counts converting user-days whose touched-channel
    set ⊆ S (a conversion is credited to a coalition only when it
    covers everything the user touched that day). Completes the
    attribution family: first/last, linear, and Markov removal-effect
    live above; Shapley is the axiomatic one (efficiency:
    Σφ = v(N) − v(∅) by construction).

    Integer discipline: masks and coalition values are exact integers;
    the Shapley weights |S|!(n−|S|−1)!/n! are premultiplied by 4! = 24
    → literal integer weights {6,2,2,6}, so φ·24 is an exact integer
    and the emitted value is its SINGLE division by 24.0.

    Scale: ONE rollup of the scan to user-day masks (map-side
    combinable maxes), one 16-row count frame; everything after —
    subset sums, the 4×8 marginal-contribution lattice — is
    constant-size broadcast algebra independent of data volume.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (
            F.max((F.col("event_type") == "click").cast("long"))
            + 2 * F.max((F.col("event_type") == "view").cast("long"))
            + 4 * F.max((F.col("event_type") == "signup").cast("long"))
            + 8 * F.max((F.col("event_type") == "error").cast("long"))
        ).cast("long").alias("mask"),
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv"),
    )
    cm = (
        daily.filter(F.col("conv") == 1)
        .groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    subsets = spark.range(16).select(F.col("id").alias("s"))
    v = (
        F.broadcast(subsets)
        .join(cm, F.expr("(mask & s) = mask"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
        .coalesce(1)
        .persist()
    )  # 16 rows, read twice (v1/v2) — persisting keeps the fact scan single
    channels = spark.createDataFrame(
        [("click", 1), ("view", 2), ("signup", 4), ("error", 8)],
        "channel string, bit long",
    )
    v1 = v.select(F.col("s").alias("s1"), F.col("v").alias("va"))
    v2 = v.select(F.col("s").alias("s2"), F.col("v").alias("vb"))
    w24 = (
        F.when(F.bit_count("s1") == 0, 6)
        .when(F.bit_count("s1") == 1, 2)
        .when(F.bit_count("s1") == 2, 2)
        .otherwise(6)
    )
    terms = (
        F.broadcast(channels)
        .join(v1, F.expr("(s1 & bit) = 0"))
        .join(v2, F.expr("s2 = s1 + bit"))
        .select("channel", (w24 * (F.col("vb") - F.col("va"))).alias("t"))
    )
    return (
        terms.groupBy("channel")
        .agg(
            F.sum("t").cast("long").alias("phi24"),
            F.round(F.sum("t") / 24.0, 6).alias("shapley"),
        )
    )


def _TRAJECTORY_ORACLE() -> str:
    from ._shared import md5_uniform_sql

    lat = f"({md5_uniform_sql(chr(39) + 'lat|' + chr(39) + ' || CAST(event_id AS VARCHAR)')} - 0.5) * 180.0"
    lon = f"({md5_uniform_sql(chr(39) + 'lon|' + chr(39) + ' || CAST(event_id AS VARCHAR)')} - 0.5) * 360.0"
    return f"""
        WITH pos AS (
            SELECT user_id, event_id, ts,
                   {lat} AS lat, {lon} AS lon
            FROM events
        ), seq AS (
            SELECT user_id, lat, lon,
                   lag(lat) OVER w AS plat,
                   lag(lon) OVER w AS plon
            FROM pos
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), legs AS (
            SELECT user_id,
                   CAST(floor(12742.0 * asin(least(1.0, sqrt(
                       sin(radians(lat - plat) / 2)
                       * sin(radians(lat - plat) / 2)
                       + cos(radians(plat)) * cos(radians(lat))
                       * sin(radians(lon - plon) / 2)
                       * sin(radians(lon - plon) / 2)
                   ))) * 1000.0 + 0.5) AS BIGINT) AS leg_m
            FROM seq WHERE plat IS NOT NULL
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_legs,
               CAST(sum(leg_m) AS BIGINT) AS total_m,
               CAST(round(CAST(sum(leg_m) AS DOUBLE) / count(*) / 1000.0, 6)
                    AS DOUBLE) AS mean_leg_km,
               CAST(max(leg_m) AS BIGINT) AS max_leg_m
        FROM legs GROUP BY user_id
        ORDER BY total_m DESC, user_id
    """


@query(
    "trajectory_distance_census",
    category="B9-geo",
    oracle=_TRAJECTORY_ORACLE(),
)
def trajectory_distance_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory length census: total great-circle distance
    over consecutive event locations (the md5-minted coordinate cloud
    shared with impossible_travel_speed), plus mean and max leg — the
    mobility/telemetry rollup behind fleet dashboards and GPS-jitter
    audits.

    Determinism: each leg is FLOORED to integer METERS before
    summing, so per-user totals are exact integer sums in any
    aggregation order (a raw double Σkm over hundreds of legs would
    be order-dependent across engines); trig ulp drift vs the floor
    boundary is ~1e-9 of a meter.

    Scale: one user_id shuffle feeds both the lag window and the
    aggregate; pure codegen trig, no joins, no Python.
    """
    from ..functions.sampling import md5_uniform

    ev = load_table(spark, sf_dir, "events")
    lat = (md5_uniform("concat('lat|', cast(event_id as string))") - 0.5) * 180.0
    lon = (md5_uniform("concat('lon|', cast(event_id as string))") - 0.5) * 360.0
    pos = ev.select("user_id", "event_id", "ts", lat.alias("lat"), lon.alias("lon"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = pos.select(
        "user_id", "lat", "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    dphi = F.radians(F.col("lat") - F.col("plat")) / 2
    dlmb = F.radians(F.col("lon") - F.col("plon")) / 2
    h = F.sin(dphi) * F.sin(dphi) + F.cos(F.radians("plat")) * F.cos(
        F.radians("lat")
    ) * F.sin(dlmb) * F.sin(dlmb)
    km = 12742.0 * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
    legs = seq.select(
        "user_id",
        F.floor(km * 1000.0 + 0.5).cast("long").alias("leg_m"),
    )
    return (
        legs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_legs"),
            F.sum("leg_m").cast("long").alias("total_m"),
            F.round(
                F.sum("leg_m").cast("double") / F.count(F.lit(1)) / 1000.0, 6
            ).alias("mean_leg_km"),
            F.max("leg_m").cast("long").alias("max_leg_m"),
        )
    )


def _GEOFENCE_ORACLE() -> str:
    from ._shared import md5_uniform_sql

    lat = f"({md5_uniform_sql(chr(39) + 'lat|' + chr(39) + ' || CAST(event_id AS VARCHAR)')} - 0.5) * 180.0"
    lon = f"({md5_uniform_sql(chr(39) + 'lon|' + chr(39) + ' || CAST(event_id AS VARCHAR)')} - 0.5) * 360.0"
    clat = f"({md5_uniform_sql(chr(39) + 'flat|' + chr(39) + ' || CAST(f AS VARCHAR)')} - 0.5) * 140.0"
    clon = f"({md5_uniform_sql(chr(39) + 'flon|' + chr(39) + ' || CAST(f AS VARCHAR)')} - 0.5) * 340.0"
    return f"""
        WITH fences AS (
            SELECT f, {clat} AS clat, {clon} AS clon
            FROM (SELECT unnest(generate_series(1, 10)) AS f)
        ), pos AS (
            SELECT user_id, {lat} AS lat, {lon} AS lon
            FROM events
        ), hits AS (
            SELECT fn.f, p.user_id
            FROM pos p JOIN fences fn
              ON p.lat >= fn.clat - 10.0 AND p.lat <= fn.clat + 10.0
             AND p.lon >= fn.clon - 20.0 AND p.lon <= fn.clon + 20.0
        )
        SELECT f AS fence_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM hits GROUP BY f ORDER BY f
    """


@query(
    "geofence_containment_census",
    category="B9-geo",
    oracle=_GEOFENCE_ORACLE(),
)
def geofence_containment_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence containment census: 10 md5-minted rectangular fences
    (20°×40° boxes) against the shared per-event coordinate cloud —
    events and distinct users inside each fence, the
    logistics/SIEM primitive behind "alert when a device enters the
    depot" and location-audience sizing.

    Determinism: both the fence corners and the event positions come
    from the shared md5_uniform mint, so every containment compare
    sees bit-identical doubles on both engines — no boundary
    ambiguity.

    Scale: the fence table BROADCASTS (it is dimension-sized by
    nature); containment is a broadcast nested-loop with a pure
    range predicate — at 100 TB add a coarse geohash-cell equi key
    on both sides (the spatial_grid_join pattern) to turn it into a
    bucketed equi join; 10 fences do not need it.
    """
    from ..functions.sampling import md5_uniform

    ev = load_table(spark, sf_dir, "events")
    lat = (md5_uniform("concat('lat|', cast(event_id as string))") - 0.5) * 180.0
    lon = (md5_uniform("concat('lon|', cast(event_id as string))") - 0.5) * 360.0
    pos = ev.select("user_id", lat.alias("lat"), lon.alias("lon"))
    fences = spark.range(1, 11).select(
        F.col("id").alias("f"),
        ((md5_uniform("concat('flat|', cast(id as string))") - 0.5) * 140.0)
        .alias("clat"),
        ((md5_uniform("concat('flon|', cast(id as string))") - 0.5) * 340.0)
        .alias("clon"),
    )
    hits = pos.join(
        F.broadcast(fences),
        (F.col("lat") >= F.col("clat") - 10.0)
        & (F.col("lat") <= F.col("clat") + 10.0)
        & (F.col("lon") >= F.col("clon") - 20.0)
        & (F.col("lon") <= F.col("clon") + 20.0),
    )
    return (
        hits.groupBy(F.col("f").alias("fence_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


@query(
    "session_gap_sensitivity",
    category="W8-gapsweep",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS gap_s
            FROM events
        ), agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(sum(CASE WHEN gap_s > 300 THEN 1 ELSE 0 END)
                        AS BIGINT) AS br_5m,
                   CAST(sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END)
                        AS BIGINT) AS br_30m,
                   CAST(sum(CASE WHEN gap_s > 7200 THEN 1 ELSE 0 END)
                        AS BIGINT) AS br_2h
            FROM gaps
        )
        SELECT g.gap_name, g.gap_s AS gap_seconds,
               a.n_users + g.breaks AS n_sessions,
               CAST(round(CAST(a.n_events AS DOUBLE)
                          / (a.n_users + g.breaks), 6) AS DOUBLE)
                   AS avg_events_per_session
        FROM agg a CROSS JOIN (
            SELECT '5m' AS gap_name, 300 AS gap_s, a2.br_5m AS breaks
            FROM agg a2
            UNION ALL
            SELECT '30m', 1800, a2.br_30m FROM agg a2
            UNION ALL
            SELECT '2h', 7200, a2.br_2h FROM agg a2
        ) g
        ORDER BY g.gap_s
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap sensitivity sweep: how many sessions (and how many
    events per session) each candidate inactivity threshold
    {5 m, 30 m, 2 h} produces — sessions = users + gap-breaks, all
    from ONE lag pass, so choosing the sessionize parameter becomes a
    measured decision instead of a default. The W8 companion to
    watermark_delay_tradeoff.

    Determinism: gaps are integer seconds under the (ts, event_id)
    order; every output is integer or one division.

    Scale: one user-keyed window pass + one census; the 3-threshold
    fan-out happens on the 1-row aggregate, not the facts.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.floor(F.unix_timestamp("ts")).cast("long")
    gaps = ev.select(
        "user_id", (t - F.lag(t).over(w)).alias("gap_s")
    )
    agg = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.when(F.col("gap_s") > 300, 1).otherwise(0))
        .cast("long").alias("br_5m"),
        F.sum(F.when(F.col("gap_s") > 1800, 1).otherwise(0))
        .cast("long").alias("br_30m"),
        F.sum(F.when(F.col("gap_s") > 7200, 1).otherwise(0))
        .cast("long").alias("br_2h"),
    )
    kv = F.explode(
        F.array(
            F.struct(
                F.lit("5m").alias("gap_name"),
                F.lit(300).alias("gap_seconds"),
                F.col("br_5m").alias("breaks"),
            ),
            F.struct(
                F.lit("30m").alias("gap_name"),
                F.lit(1800).alias("gap_seconds"),
                F.col("br_30m").alias("breaks"),
            ),
            F.struct(
                F.lit("2h").alias("gap_name"),
                F.lit(7200).alias("gap_seconds"),
                F.col("br_2h").alias("breaks"),
            ),
        )
    )
    return (
        agg.select("n_events", "n_users", kv.alias("g"))
        .select(
            F.col("g.gap_name").alias("gap_name"),
            F.col("g.gap_seconds").cast("int").alias("gap_seconds"),
            (F.col("n_users") + F.col("g.breaks")).alias("n_sessions"),
            F.round(
                F.col("n_events").cast("double")
                / (F.col("n_users") + F.col("g.breaks")),
                6,
            ).alias("avg_events_per_session"),
        )
        .orderBy("gap_seconds")
    )


@query(
    "path_trigrams_markov_lift",
    category="B7-markov",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type AS a,
                   lead(event_type, 1) OVER w AS b,
                   lead(event_type, 2) OVER w AS c
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), tri AS (
            SELECT a, b, c,
                   CAST(count(*) AS BIGINT) AS n_abc,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM seq WHERE c IS NOT NULL GROUP BY a, b, c
        ), bi AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
            FROM seq WHERE b IS NOT NULL GROUP BY a, b
        ), uni AS (
            SELECT a, CAST(sum(CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_out
            FROM seq GROUP BY a
        )
        SELECT t.a AS step1, t.b AS step2, t.c AS step3,
               t.n_abc, t.n_users,
               CAST(round(t.n_abc * 1.0 * u.n_out / (ab.n_ab * bc.n_ab), 6)
                    AS DOUBLE) AS markov_lift,
               (t.n_abc * u.n_out > ab.n_ab * bc.n_ab) AS overrepresented
        FROM tri t
        JOIN bi ab ON ab.a = t.a AND ab.b = t.b
        JOIN bi bc ON bc.a = t.b AND bc.b = t.c
        JOIN uni u ON u.a = t.b
        ORDER BY t.n_abc DESC, step1, step2, step3
        LIMIT 20
    """,
)
def path_trigrams_markov_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey TRIGRAMS (3 consecutive events per user)
    scored against the first-order Markov null — the pathing
    analytics every product funnel tool ships, upgraded from raw
    counting: under the chain assumption E[n(abc)] = n(ab)·n(bc)/
    n(b→·), so markov_lift = n(abc)·n(b→·) / (n(ab)·n(bc)) > 1
    flags three-step paths the bigram model CANNOT explain (true
    higher-order structure: loops, detours, habit chains). Also
    carries distinct-user support so one hyperactive user cannot
    mint a 'common' path.

    Determinism: the over/under decision is an INTEGER
    cross-multiplication (n_abc·n_out vs n_ab·n_bc — no float
    compare); the lift itself is one rounded ratio of exact integer
    counts; top-20 under the (count, path) total order.

    Scale: ONE window pass per user produces both lead columns (a
    shared sort); the three count frames come off that pass and join
    on the tiny |types|² / |types|³ keys — broadcast-sized dims, the
    facts are never rejoined. The windowed frame is persisted: three
    aggregation consumers (SCALE.md §15).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).persist()
    tri = (
        seq.filter(F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_abc"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )
    bi = (
        seq.filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    uni = seq.groupBy("a").agg(
        F.sum(F.when(F.col("b").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_out")
    )
    ab = bi.select(
        F.col("a").alias("ab_a"), F.col("b").alias("ab_b"),
        F.col("n_ab").alias("n_ab"),
    )
    bc = bi.select(
        F.col("a").alias("bc_a"), F.col("b").alias("bc_b"),
        F.col("n_ab").alias("n_bc"),
    )
    u = uni.select(F.col("a").alias("u_b"), "n_out")
    return (
        tri.join(
            F.broadcast(ab),
            (F.col("a") == F.col("ab_a")) & (F.col("b") == F.col("ab_b")),
        )
        .join(
            F.broadcast(bc),
            (F.col("b") == F.col("bc_a")) & (F.col("c") == F.col("bc_b")),
        )
        .join(F.broadcast(u), F.col("b") == F.col("u_b"))
        .select(
            F.col("a").alias("step1"),
            F.col("b").alias("step2"),
            F.col("c").alias("step3"),
            "n_abc", "n_users",
            F.round(
                F.col("n_abc") * F.lit(1.0) * F.col("n_out")
                / (F.col("n_ab") * F.col("n_bc")),
                6,
            ).alias("markov_lift"),
            (
                F.col("n_abc") * F.col("n_out")
                > F.col("n_ab") * F.col("n_bc")
            ).alias("overrepresented"),
        )
        .orderBy(F.col("n_abc").desc(), "step1", "step2", "step3")
        .limit(20)
    )


@query(
    "gsp_subsequence_triples",
    category="B7-gsp",
    oracle="""
        WITH pos AS (
            SELECT user_id, event_type AS t, rn FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn <= 12
        ), u AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   (6 * CAST(count(DISTINCT user_id) AS BIGINT)) // 10
                       AS minsup
            FROM pos
        ), f1 AS (
            SELECT t FROM pos CROSS JOIN u
            GROUP BY t, minsup
            HAVING count(DISTINCT user_id) >= minsup
        ), posf AS (
            SELECT p.user_id, p.t, p.rn
            FROM pos p SEMI JOIN f1 ON p.t = f1.t
        ), firsts AS (
            SELECT user_id, t, CAST(min(rn) AS BIGINT) AS frn
            FROM posf GROUP BY user_id, t
        ), pair_first AS (
            -- greedy: first b strictly after the first a
            SELECT a.user_id, a.t AS ta, b.t AS tb,
                   CAST(min(b.rn) AS BIGINT) AS fb
            FROM firsts a JOIN posf b
              ON b.user_id = a.user_id AND b.rn > a.frn
            GROUP BY a.user_id, a.t, b.t
        ), p2 AS (
            SELECT ta, tb, CAST(count(*) AS BIGINT) AS sup
            FROM pair_first GROUP BY ta, tb
        ), f2 AS (
            SELECT ta, tb FROM p2 CROSS JOIN u WHERE sup >= minsup
        ), tri AS (
            SELECT pf.ta, pf.tb, c.t AS tc,
                   CAST(count(DISTINCT pf.user_id) AS BIGINT) AS n_sup
            FROM pair_first pf
            SEMI JOIN f2 fab ON pf.ta = fab.ta AND pf.tb = fab.tb
            JOIN posf c ON c.user_id = pf.user_id AND c.rn > pf.fb
            SEMI JOIN f2 fbc ON pf.tb = fbc.ta AND c.t = fbc.tb
            SEMI JOIN f2 fac2 ON pf.ta = fac2.ta AND c.t = fac2.tb
            GROUP BY pf.ta, pf.tb, c.t
        )
        SELECT ta AS step1, tb AS step2, tc AS step3, n_sup AS n_users,
               CAST(round(n_sup * 1.0 / u.n_users, 6) AS DOUBLE)
                   AS support
        FROM tri CROSS JOIN u
        WHERE n_sup >= minsup
        ORDER BY n_sup DESC, step1, step2, step3
        LIMIT 25
    """,
)
def gsp_subsequence_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GSP-style frequent SEQUENTIAL patterns of length 3 with TRUE
    subsequence semantics (gaps allowed, order preserved) over each
    user's first 12 events — the sequence-mining complement of the
    itemset miner (frequent_triples_apriori counts co-presence; this
    counts ORDERED containment, the Agrawal-Srikant GSP semantics)
    and of the trigram query (contiguous only). Support = distinct
    users containing the pattern; minsup = 60% of users.

    Containment is decided by GREEDY first-occurrence matching
    (first a, then first b after it, then any c after that) — exact
    for subsequence existence — so per user the state is one
    first-position per type and one greedy pair position per
    (a, b), never an occurrence enumeration. Downward closure prunes
    triples through ALL frequent length-2 subsequences (a→b, b→c,
    and a→c) before the counting join. All decisions are integer
    (positions, distinct-user counts, DIV-computed minsup).

    Scale: one window pass assigns positions; every candidate frame
    joins on user_id (co-partitioned after one shuffle); the pattern
    dims (f1, f2) are broadcast-sized (≤ types²). Pair-state volume
    is |users|·|types|² at worst — bounded by the type alphabet, not
    by event count.
    """
    from ..operators.graph import truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pos = (
        ev.select(
            "user_id",
            F.col("event_type").alias("t"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 12)
    )
    pos = truncate_lineage(pos, 8)  # feeds u, f1, posf
    u = pos.agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.expr("(6 * count(DISTINCT user_id)) div 10").alias("minsup"),
    )
    f1 = (
        pos.groupBy("t")
        .agg(F.count_distinct("user_id").alias("su"))
        .crossJoin(F.broadcast(u.select("minsup")))
        .filter(F.col("su") >= F.col("minsup"))
        .select("t")
    )
    posf = truncate_lineage(pos.join(F.broadcast(f1), "t", "semi"), 8)
    firsts = posf.groupBy("user_id", "t").agg(
        F.min("rn").cast("long").alias("frn")
    )
    a = firsts.select("user_id", F.col("t").alias("ta"), "frn")
    b = posf.select("user_id", F.col("t").alias("tb"), F.col("rn").alias("rnb"))
    pair_first = (
        a.join(b, "user_id")
        .filter(F.col("rnb") > F.col("frn"))
        .groupBy("user_id", "ta", "tb")
        .agg(F.min("rnb").cast("long").alias("fb"))
    )
    pair_first = truncate_lineage(pair_first, 8)  # feeds p2 + triple join
    p2 = pair_first.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).cast("long").alias("sup")
    )
    f2 = truncate_lineage(
        p2.crossJoin(F.broadcast(u.select("minsup")))
        .filter(F.col("sup") >= F.col("minsup"))
        .select("ta", "tb"),
        1,
    )  # 3 broadcast prune consumers
    c = posf.select("user_id", F.col("t").alias("tc"), F.col("rn").alias("rnc"))
    tri = (
        pair_first.join(F.broadcast(f2), ["ta", "tb"], "semi")
        .join(c, "user_id")
        .filter(F.col("rnc") > F.col("fb"))
        .join(
            F.broadcast(f2.select(F.col("ta").alias("tb"), F.col("tb").alias("tc"))),
            ["tb", "tc"],
            "semi",
        )
        .join(
            F.broadcast(f2.select(F.col("ta"), F.col("tb").alias("tc"))),
            ["ta", "tc"],
            "semi",
        )
        .groupBy("ta", "tb", "tc")
        .agg(F.count_distinct("user_id").cast("long").alias("n_sup"))
    )
    return (
        tri.crossJoin(F.broadcast(u))
        .filter(F.col("n_sup") >= F.col("minsup"))
        .select(
            F.col("ta").alias("step1"),
            F.col("tb").alias("step2"),
            F.col("tc").alias("step3"),
            F.col("n_sup").alias("n_users"),
            F.round(F.col("n_sup") / F.col("n_users"), 6).alias("support"),
        )
        .orderBy(F.col("n_users").desc(), "step1", "step2", "step3")
        .limit(25)
    )


@query(
    "prefixspan_projected_census",
    category="B7-prefixspan",
    oracle="""
        WITH pos AS (
            SELECT user_id, event_type AS t, rn FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn <= 20
        ), u AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   (7 * CAST(count(DISTINCT user_id) AS BIGINT)) // 10
                       AS minsup
            FROM pos
        ), p1 AS (
            -- level-1 projection pointer: the greedy first occurrence
            -- of each item per user (one row per user x item present)
            SELECT user_id, t AS s1, CAST(min(rn) AS BIGINT) AS ptr
            FROM pos GROUP BY user_id, t
        ), f1 AS (
            SELECT s1, CAST(count(*) AS BIGINT) AS sup FROM p1
            GROUP BY s1 HAVING count(*) >= (SELECT minsup FROM u)
        ), p2 AS (
            -- project only FREQUENT prefixes (PrefixSpan pruning):
            -- extend <s1> by every item in the projected suffix,
            -- keeping its greedy first position as the new pointer
            SELECT p.user_id, p.s1, q.t AS s2,
                   CAST(min(q.rn) AS BIGINT) AS ptr
            FROM p1 p
            SEMI JOIN f1 ON p.s1 = f1.s1
            JOIN pos q ON q.user_id = p.user_id AND q.rn > p.ptr
            GROUP BY p.user_id, p.s1, q.t
        ), f2 AS (
            SELECT s1, s2, CAST(count(*) AS BIGINT) AS sup FROM p2
            GROUP BY s1, s2 HAVING count(*) >= (SELECT minsup FROM u)
        ), p3 AS (
            SELECT p.user_id, p.s1, p.s2, q.t AS s3,
                   CAST(min(q.rn) AS BIGINT) AS ptr
            FROM p2 p
            SEMI JOIN f2 ON p.s1 = f2.s1 AND p.s2 = f2.s2
            JOIN pos q ON q.user_id = p.user_id AND q.rn > p.ptr
            GROUP BY p.user_id, p.s1, p.s2, q.t
        ), f3 AS (
            SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS sup FROM p3
            GROUP BY s1, s2, s3
            HAVING count(*) >= (SELECT minsup FROM u)
        ), p4 AS (
            SELECT p.user_id, p.s1, p.s2, p.s3, q.t AS s4
            FROM p3 p
            SEMI JOIN f3 ON p.s1 = f3.s1 AND p.s2 = f3.s2
                        AND p.s3 = f3.s3
            JOIN pos q ON q.user_id = p.user_id AND q.rn > p.ptr
            GROUP BY p.user_id, p.s1, p.s2, p.s3, q.t
        ), f4 AS (
            SELECT s1, s2, s3, s4, CAST(count(*) AS BIGINT) AS sup
            FROM p4 GROUP BY s1, s2, s3, s4
            HAVING count(*) >= (SELECT minsup FROM u)
        ), census AS (
            SELECT 1 AS length, s1, CAST(NULL AS VARCHAR) AS s2,
                   CAST(NULL AS VARCHAR) AS s3,
                   CAST(NULL AS VARCHAR) AS s4, sup FROM f1
            UNION ALL
            SELECT 2, s1, s2, NULL, NULL, sup FROM f2
            UNION ALL
            SELECT 3, s1, s2, s3, NULL, sup FROM f3
            UNION ALL
            SELECT 4, s1, s2, s3, s4, sup FROM f4
        )
        SELECT CAST(length AS BIGINT) AS length, s1, s2, s3, s4,
               sup AS n_users,
               CAST(round(sup * 1.0 / u.n_users, 6) AS DOUBLE)
                   AS support
        FROM census CROSS JOIN u
        ORDER BY length, n_users DESC, s1, s2, s3, s4
    """,
)
def prefixspan_projected_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PrefixSpan frequent-subsequence census to length 4 over each
    user's first 20 events — the real projected-database algorithm
    (Pei et al.), not GSP candidate generation: each level projects
    ONLY the prefixes that survived the support threshold, and the
    next level's candidates are exactly the items that appear in
    those projected suffixes. The projection is a single greedy
    first-occurrence POINTER per (user, prefix) — exact for
    subsequence existence — so the projected database is one integer
    column, never a copied suffix. Support = users whose sequence
    contains the pattern; minsup = 70% of users (at sf0.01: 5 -> 25
    -> 125 frequent prefixes collapse to 3 frequent 4-patterns — the
    level-4 pruning is real). Census emits every frequent pattern of
    length 1-4 with NULL-padded steps.

    The sequence-mining analog of frequent_triples_apriori's
    level-wise closure, and the depth extension of
    gsp_subsequence_triples (length <= 3, GSP-style f2xf2
    candidates). All decisions are integer (positions, user counts,
    DIV minsup); the oracle unrolls the four projection levels as
    CTEs sharing the exact pointer semantics.

    Scale: pos shuffles ONCE on user_id; every projection joins
    pos on user_id (co-partitioned) against a pointer frame whose
    width is bounded by frequent-prefix count x users, and the
    frequent dims (f1-f3) are broadcast semi-join prunes. Candidate
    work is bounded by support pruning, never alphabet^k: a prefix
    that dies at level k is never projected at level k+1.
    """
    from ..operators.graph import truncate_lineage

    par = leaf_parallelism(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # truncate_lineage, not persist: pos feeds u, p1, and the three
    # projection joins, and each level's plan embeds every prior
    # level's subtree — with persist the scan PRINTS once per consumer
    # path (42 recorded scans for what executes as one; VERDICT r6
    # #7), while a checkpoint boundary keeps every level's plan flat.
    pos = truncate_lineage(
        ev.select(
            "user_id",
            F.col("event_type").alias("t"),
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 20),
        par,
    )
    u = pos.agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.expr("(7 * count(DISTINCT user_id)) div 10").alias("minsup"),
    )
    minsup = F.broadcast(u.select("minsup"))

    def frequent(p, cols):
        return (
            p.groupBy(*cols)
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
            .crossJoin(minsup)
            .filter(F.col("sup") >= F.col("minsup"))
            .drop("minsup")
        )

    def project(p, f, prefix_cols, next_col):
        """One PrefixSpan level: keep only frequent prefixes, extend
        by every item after the pointer, new pointer = greedy min."""
        q = pos.select(
            "user_id", F.col("t").alias(next_col),
            F.col("rn").alias("qrn"),
        )
        return (
            p.join(F.broadcast(f.select(*prefix_cols)), prefix_cols, "semi")
            .join(q, "user_id")
            .filter(F.col("qrn") > F.col("ptr"))
            .groupBy("user_id", *prefix_cols, next_col)
            .agg(F.min("qrn").cast("long").alias("ptr"))
        )

    # every level is a checkpoint boundary: pk is consumed twice (fk
    # and p(k+1)), so truncation both flattens the composed plan and
    # replaces the old persist's recompute-on-second-consumer
    p1 = truncate_lineage(
        pos.groupBy("user_id", F.col("t").alias("s1")).agg(
            F.min("rn").cast("long").alias("ptr")
        ),
        par,
    )
    f1 = truncate_lineage(frequent(p1, ["s1"]), par)
    p2 = truncate_lineage(project(p1, f1, ["s1"], "s2"), par)
    f2 = truncate_lineage(frequent(p2, ["s1", "s2"]), par)
    p3 = truncate_lineage(project(p2, f2, ["s1", "s2"], "s3"), par)
    f3 = truncate_lineage(frequent(p3, ["s1", "s2", "s3"]), par)
    p4 = project(p3, f3, ["s1", "s2", "s3"], "s4")
    f4 = frequent(p4, ["s1", "s2", "s3", "s4"])

    ns = F.lit(None).cast("string")
    census = (
        f1.select(F.lit(1).alias("length"), "s1", ns.alias("s2"),
                  ns.alias("s3"), ns.alias("s4"), "sup")
        .unionByName(
            f2.select(F.lit(2).alias("length"), "s1", "s2",
                      ns.alias("s3"), ns.alias("s4"), "sup")
        )
        .unionByName(
            f3.select(F.lit(3).alias("length"), "s1", "s2", "s3",
                      ns.alias("s4"), "sup")
        )
        .unionByName(
            f4.select(F.lit(4).alias("length"), "s1", "s2", "s3",
                      "s4", "sup")
        )
    )
    return (
        census.crossJoin(F.broadcast(u.select("n_users")))
        .select(
            F.col("length").cast("long").alias("length"),
            "s1", "s2", "s3", "s4",
            F.col("sup").alias("n_users"),
            F.round(F.col("sup") / F.col("n_users"), 6).alias("support"),
        )
    )


def _GEO_GRID_ORACLE() -> str:
    from ._shared import md5_uniform_sql

    lat = f"({md5_uniform_sql(chr(39) + 'glat|' + chr(39) + ' || CAST(user_id AS VARCHAR)')} - 0.5) * 120.0"
    lon = f"({md5_uniform_sql(chr(39) + 'glon|' + chr(39) + ' || CAST(user_id AS VARCHAR)')} - 0.5) * 360.0"
    return f"""
        WITH users AS (
            SELECT DISTINCT user_id FROM events
        ), pos AS (
            SELECT user_id, {lat} AS lat, {lon} AS lon FROM users
        ), pairs AS (
            -- definitional oracle: the all-pairs join the grid exists
            -- to avoid (bounded certifier at oracle SFs)
            SELECT a.user_id AS user_a, b.user_id AS user_b,
                   12742.0 * asin(least(1.0, sqrt(
                       sin(radians(b.lat - a.lat) / 2)
                       * sin(radians(b.lat - a.lat) / 2)
                       + cos(radians(a.lat)) * cos(radians(b.lat))
                       * sin(radians(b.lon - a.lon) / 2)
                       * sin(radians(b.lon - a.lon) / 2)
                   ))) AS km
            FROM pos a JOIN pos b ON a.user_id < b.user_id
        )
        SELECT user_a, user_b, CAST(round(km, 6) AS DOUBLE) AS km
        FROM pairs WHERE km <= 500.0
        ORDER BY user_a, user_b
    """


@query(
    "geo_grid_neighbor_pairs",
    category="B9-geo",
    variant_of="spatial_grid_join_pairs",
    oracle=_GEO_GRID_ORACLE(),
)
def geo_grid_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial SELF-JOIN via grid bucketing: all user pairs whose
    (md5-minted, deterministic) home locations lie within 500 km,
    found by hashing points into a 10-degree lat/lon grid and joining
    each point's 3x3 neighbor cells — the standard distributed
    spatial-join shape (uniform grid + refine; the flat cousin of
    geohash/S2 cell joins) — then refining with exact haversine.

    Geometry that makes 3x3 sufficient: latitudes are minted in
    [-60, 60], where one 10-degree lon cell spans >= 10 x 111.32 x
    cos(60) = 556 km > 500, and 500 km of latitude is 4.5 degrees;
    longitude cells WRAP at the dateline (mod 36 on the neighbor
    offsets). Each pair is emitted exactly once: points live in one
    cell, the 9-cell explosion is on the lexicographically-smaller
    side only (user_a < user_b filter).

    The oracle is the definitional all-pairs cross join + distance
    filter — the bounded certifier the grid construction replaces.

    Variant note: round-3's `spatial_grid_join_pairs` and
    `spatial_knn_wrapped_probe` pin the same grid-join family on
    event-minted points; THIS form adds the bounded-latitude sizing
    argument (one lon cell always spans the radius) and per-user home
    locations. Kept as the radius-join statement of the family.

    Scale: candidate volume is (points per cell) x 9 per point
    instead of n^2; the join is equi on cell ids, so it shuffles by
    cell — spatial skew (urban cells) is AQE's skew-join case or a
    finer grid. At planetary scale swap the flat grid for hierarchical
    cells (geohash prefixes), same join shape.

    Variant-of: ``spatial_grid_join_pairs`` — r7 variant: neighbor-cell expansion on the probe side vs the r3 9-cell build-side duplication.
    """
    from ..functions.sampling import md5_uniform

    ev = load_table(spark, sf_dir, "events")
    lat = (md5_uniform("concat('glat|', cast(user_id as string))") - 0.5) * 120.0
    lon = (md5_uniform("concat('glon|', cast(user_id as string))") - 0.5) * 360.0
    pos = (
        ev.select("user_id").distinct()
        .select(
            "user_id", lat.alias("lat"), lon.alias("lon"),
        )
        .withColumn("cl_lat", F.floor((F.col("lat") + 60.0) / 10.0).cast("long"))
        .withColumn("cl_lon", F.floor((F.col("lon") + 180.0) / 10.0).cast("long"))
    )
    a = (
        pos.select(
            F.col("user_id").alias("user_a"),
            F.col("lat").alias("lat_a"), F.col("lon").alias("lon_a"),
            "cl_lat", "cl_lon",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dlat"),
        )
        .select(
            "user_a", "lat_a", "lon_a", "cl_lat", "cl_lon", "dlat",
            F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dlon"),
        )
        .select(
            "user_a", "lat_a", "lon_a",
            (F.col("cl_lat") + F.col("dlat")).alias("n_lat"),
            (((F.col("cl_lon") + F.col("dlon")) % 36 + 36) % 36).alias("n_lon"),
        )
    )
    b = pos.select(
        F.col("user_id").alias("user_b"),
        F.col("lat").alias("lat_b"), F.col("lon").alias("lon_b"),
        F.col("cl_lat").alias("n_lat"), F.col("cl_lon").alias("n_lon"),
    )
    cand = a.join(b, ["n_lat", "n_lon"]).filter(
        F.col("user_a") < F.col("user_b")
    )
    dphi = F.radians(F.col("lat_b") - F.col("lat_a")) / 2
    dlmb = F.radians(F.col("lon_b") - F.col("lon_a")) / 2
    h = F.sin(dphi) * F.sin(dphi) + F.cos(F.radians("lat_a")) * F.cos(
        F.radians("lat_b")
    ) * F.sin(dlmb) * F.sin(dlmb)
    km = 12742.0 * F.asin(F.least(F.lit(1.0), F.sqrt(h)))
    return (
        cand.select("user_a", "user_b", km.alias("km"))
        .filter(F.col("km") <= 500.0)
        .select("user_a", "user_b", F.round("km", 6).alias("km"))
    )
