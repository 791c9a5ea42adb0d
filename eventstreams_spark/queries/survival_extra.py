"""Survival analysis: the Kaplan-Meier estimator and the two-group
log-rank test — churn/retention's rigorous form (retention curves
with CENSORING handled correctly: a user still active at the end of
the observation window is not a churn, and dropping or
death-counting them both bias the curve).

Float discipline: durations are integer minutes; risk sets and death
counts are exact integers per distinct death time; the survival
product Π(1 − d/n) is folded as a PINNED-ORDER running sum of
ln-terms (a window cumulative sum ordered by time is a sequential
left-to-right fold on both engines) and exponentiated once at read;
log-rank expectation/variance terms are shared-text doubles summed
the same pinned way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

# subjects = user SESSIONS (30-minute inactivity gap): duration in
# whole minutes; a session still within 30 min of the corpus end is
# CENSORED (might still be open), every other session is a death at
# its duration. Engine-shared construction — the sessionize shape
# (one user shuffle, lag + running sum of gap starts).
_LIFE_CTE = """
    stamped AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_s
        FROM events
    ), gapped AS (
        SELECT user_id, t_s,
               CASE WHEN t_s - lag(t_s) OVER (PARTITION BY user_id
                                              ORDER BY t_s) > 1800
                     OR lag(t_s) OVER (PARTITION BY user_id
                                       ORDER BY t_s) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM stamped
    ), sess AS (
        SELECT user_id, t_s,
               CAST(sum(is_start) OVER (PARTITION BY user_id
                                        ORDER BY t_s) AS BIGINT) AS sid
        FROM gapped
    ), life AS (
        SELECT user_id, sid,
               CAST(min(t_s) AS BIGINT) AS t_first,
               CAST(max(t_s) AS BIGINT) AS t_last
        FROM sess GROUP BY user_id, sid
    ), spanmax AS (
        SELECT max(t_last) AS tmax FROM life
    ), subj AS (
        SELECT user_id, (t_last - t_first) // 60 AS dur,
               CASE WHEN t_last >= s.tmax - 1800 THEN 0 ELSE 1 END AS died
        FROM life CROSS JOIN spanmax s
    )"""


# Stratified variant: subjects carry a start-hour stratum (peak =
# session started 08:00-19:59 UTC, off otherwise) — pure integer
# epoch arithmetic so both engines derive the identical label.
_STRAT_OLD = "ELSE 1 END AS died\n"
_STRAT_NEW = (
    "ELSE 1 END AS died,\n"
    "               CASE WHEN (t_first % 86400) // 3600"
    " BETWEEN 8 AND 19\n"
    "                    THEN 'peak' ELSE 'off' END AS stratum\n"
)
assert _LIFE_CTE.count(_STRAT_OLD) == 1
_LIFE_STRAT_CTE = _LIFE_CTE.replace(_STRAT_OLD, _STRAT_NEW)


def _subjects(
    spark: SparkSession, sf_dir: str, with_stratum: bool = False
) -> DataFrame:
    """Spark twin of _LIFE_CTE: session subjects with integer-minute
    durations and the 30-min end-of-corpus censoring rule. With
    ``with_stratum`` it is the twin of _LIFE_STRAT_CTE instead (adds
    the peak/off start-hour stratum)."""
    ev = load_table(spark, sf_dir, "events")
    stamped = ev.select(
        "user_id", F.floor(F.unix_timestamp("ts")).cast("long").alias("t_s")
    )
    w = Window.partitionBy("user_id").orderBy("t_s")
    gapped = stamped.select(
        "user_id", "t_s",
        F.when(
            (F.col("t_s") - F.lag("t_s").over(w) > 1800)
            | F.lag("t_s").over(w).isNull(),
            1,
        ).otherwise(0).alias("is_start"),
    )
    sess = gapped.select(
        "user_id", "t_s",
        F.sum("is_start").over(w).cast("long").alias("sid"),
    )
    life = sess.groupBy("user_id", "sid").agg(
        F.min("t_s").cast("long").alias("t_first"),
        F.max("t_s").cast("long").alias("t_last"),
    )
    spanmax = life.agg(F.max("t_last").alias("tmax"))
    cols = [
        F.col("user_id"),
        F.floor((F.col("t_last") - F.col("t_first")) / 60)
        .cast("long")
        .alias("dur"),
        F.when(F.col("t_last") >= F.col("tmax") - 1800, 0)
        .otherwise(1)
        .alias("died"),
    ]
    if with_stratum:
        cols.append(
            F.when(
                F.floor((F.col("t_first") % 86400) / 3600).between(8, 19),
                "peak",
            ).otherwise("off").alias("stratum")
        )
    return life.crossJoin(F.broadcast(spanmax)).select(*cols)


@query(
    "kaplan_meier_survival",
    category="SV-km",
    oracle=f"""
        WITH {_LIFE_CTE}, at_t AS (
            SELECT dur AS t,
                   CAST(sum(died) AS BIGINT) AS d_t,
                   CAST(sum(1 - died) AS BIGINT) AS c_t,
                   CAST(count(*) AS BIGINT) AS leave_t
            FROM subj GROUP BY dur
        ), risk AS (
            SELECT t, d_t, c_t,
                   CAST(sum(leave_t) OVER (
                       ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS BIGINT) AS n_t
            FROM at_t
        ), folded AS (
            SELECT t, n_t, d_t, c_t,
                   sum(CASE WHEN d_t > 0 AND d_t < n_t
                            THEN ln(1.0 - CAST(d_t AS DOUBLE) / n_t)
                            ELSE 0.0 END)
                       OVER (ORDER BY t) AS lnsurv,
                   max(CASE WHEN d_t >= n_t THEN 1 ELSE 0 END)
                       OVER (ORDER BY t) AS hit_zero
            FROM risk
        )
        SELECT t AS day, n_t AS n_risk, d_t AS n_deaths,
               c_t AS n_censored,
               CAST(CASE WHEN hit_zero = 1 THEN 0.0
                         ELSE round(exp(lnsurv), 6) END AS DOUBLE)
                   AS survival
        FROM folded ORDER BY t
    """,
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over SESSION durations (30-minute
    gap sessionization, duration in whole minutes), with sessions
    still within 30 min of the corpus end treated as CENSORED (they
    might still be open): at each distinct duration t the risk set
    n_t counts sessions lasting ≥ t, and
    S(t) = Π_{s≤t}(1 − d_s/n_s) steps down only at deaths — the
    product-limit estimator that makes duration/retention curves
    correct in the presence of still-open subjects.

    Determinism: risk sets are exact integers via a suffix sum
    (n_t = Σ leavers at durations ≥ t — no total pass, no per-t
    rescan); the
    product is a pinned-order running sum of ln(1 − d/n) terms
    (sequential fold on both engines) exponentiated once at read; the
    final death time where d_t = n_t (S hits exactly 0) is handled by
    a running hit-zero flag, never ln(0).

    Scale: one user-partitioned sessionize pass (the W8 shape) and
    a per-session aggregate off the fact scan, then everything runs
    on the |distinct durations| frame (bounded by minutes). The
    unpartitioned windows are on that bounded frame. A cohort- or
    segment-level KM adds the segment to every key and the windows
    re-partition by it — same plan, fully parallel.
    """
    subj = _subjects(spark, sf_dir)
    at_t = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("died").cast("long").alias("d_t"),
        F.sum(1 - F.col("died")).cast("long").alias("c_t"),
        F.count(F.lit(1)).cast("long").alias("leave_t"),
    )
    # risk set as a SUFFIX sum of leavers: n_t = sum of leave_t at
    # durations >= t — one window on the bounded at_t frame, so subj
    # has exactly ONE consumer (a second would re-derive the whole
    # sessionize lineage: 4 fact scans observed before this form)
    w_suf = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    risk = at_t.select(
        "t", "d_t", "c_t",
        F.sum("leave_t").over(w_suf).cast("long").alias("n_t"),
    )
    w_cum = Window.orderBy("t")
    folded = risk.select(
        "t", "n_t", "d_t", "c_t",
        F.sum(
            F.when(
                (F.col("d_t") > 0) & (F.col("d_t") < F.col("n_t")),
                F.log(1.0 - F.col("d_t").cast("double") / F.col("n_t")),
            ).otherwise(0.0)
        ).over(w_cum).alias("lnsurv"),
        F.max(
            F.when(F.col("d_t") >= F.col("n_t"), 1).otherwise(0)
        ).over(w_cum).alias("hit_zero"),
    )
    return folded.select(
        F.col("t").alias("day"),
        F.col("n_t").alias("n_risk"),
        F.col("d_t").alias("n_deaths"),
        F.col("c_t").alias("n_censored"),
        F.when(F.col("hit_zero") == 1, 0.0)
        .otherwise(F.round(F.exp("lnsurv"), 6))
        .alias("survival"),
    ).orderBy("day")


# The md5 A/B experiment arm of each subject: 'A' when the first hex
# digit of md5(user_id) is even. _arms is the Spark side.
_ARMS_CTE = """grouped AS (
            SELECT *,
                   CASE WHEN (instr('0123456789abcdef',
                                    substr(md5(cast(user_id AS VARCHAR)),
                                           1, 1)) - 1) % 2 = 0
                        THEN 'A' ELSE 'B' END AS grp
            FROM subj
        )"""


def _arms(subj: DataFrame) -> DataFrame:
    """``subj`` plus its md5 A/B arm grp (_ARMS_CTE)."""
    nibble = F.expr(
        "instr('0123456789abcdef', substr(md5(cast(user_id AS STRING)), 1, 1)) - 1"
    )
    return subj.withColumn("grp", F.when(nibble % 2 == 0, "A").otherwise("B"))


def _arm_risk_sql(by: str = "") -> str:
    """The at_t and risk CTEs over ``grouped``: the oracle side of
    _arm_risk, within each value of the key column ``by`` if given."""
    keys = f"{by}, " if by else ""
    part = f"PARTITION BY {by} " if by else ""
    return f"""at_t AS (
            SELECT {keys}dur AS t,
                   CAST(sum(died) AS BIGINT) AS d_t,
                   CAST(sum(CASE WHEN grp = 'A' THEN died ELSE 0 END)
                        AS BIGINT) AS d_at,
                   CAST(count(*) AS BIGINT) AS leave_t,
                   CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END)
                        AS BIGINT) AS leave_at
            FROM grouped GROUP BY {keys}dur
        ), risk AS (
            SELECT {keys}t, d_t, d_at,
                   CAST(sum(leave_t) OVER w AS BIGINT) AS n_t,
                   CAST(sum(leave_at) OVER w AS BIGINT) AS n_at
            FROM at_t
            WINDOW w AS ({part}ORDER BY t
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )"""


def _arm_risk(arms: DataFrame, *by: str) -> DataFrame:
    """The two-arm risk table of _arms per distinct duration t (within
    each ``by`` key): deaths d_t, arm-A deaths d_at, and the risk sets
    n_t / n_at as suffix sums of leavers at durations >= t — exact
    integers on the bounded distinct-duration frame."""
    at_t = arms.groupBy(*by, F.col("dur").alias("t")).agg(
        F.sum("died").cast("long").alias("d_t"),
        F.sum(F.when(F.col("grp") == "A", F.col("died")).otherwise(0))
        .cast("long").alias("d_at"),
        F.count(F.lit(1)).cast("long").alias("leave_t"),
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0))
        .cast("long").alias("leave_at"),
    )
    w_suf = (
        Window.partitionBy(*by)
        .orderBy("t")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return at_t.select(
        *by, "t", "d_t", "d_at",
        F.sum("leave_t").over(w_suf).cast("long").alias("n_t"),
        F.sum("leave_at").over(w_suf).cast("long").alias("n_at"),
    )


def _logrank_terms_sql(by: str = "") -> str:
    """The terms CTE over ``risk``: the oracle side of _logrank_terms."""
    keys = f"{by}, " if by else ""
    return f"""terms AS (
            SELECT {keys}t, d_t, d_at, n_t, n_at,
                   CAST(d_t AS DOUBLE) * n_at / n_t AS e_at,
                   {_hypergeom_var_sql("CAST(d_t AS DOUBLE)")} AS v_t
            FROM risk WHERE d_t > 0
        )"""


def _logrank_terms(risk: DataFrame, *by: str) -> DataFrame:
    """Per death time of _arm_risk: arm A's hypergeometric expected
    deaths e_at = d·n_A/n and variance v_t = d(n_A/n)(1 − n_A/n)(n −
    d)/(n − 1)."""
    return risk.filter(F.col("d_t") > 0).select(
        *by, "t", "d_t", "d_at", "n_t", "n_at",
        (F.col("d_t").cast("double") * F.col("n_at") / F.col("n_t"))
        .alias("e_at"),
        _hypergeom_var(F.col("d_t").cast("double")).alias("v_t"),
    )


def _hypergeom_var_sql(lead: str) -> str:
    """The oracle side of _hypergeom_var."""
    return f"""CASE WHEN n_t > 1 THEN
                       {lead} * (CAST(n_at AS DOUBLE) / n_t)
                       * (1.0 - CAST(n_at AS DOUBLE) / n_t)
                       * (n_t - d_t) / (n_t - 1)
                   ELSE 0.0 END"""


def _hypergeom_var(lead: Column) -> Column:
    """``lead``·(n_A/n)(1 − n_A/n)(n − d)/(n − 1), 0 at n = 1: with
    lead = d, the hypergeometric variance of arm A's deaths at one
    death time; a weighted test puts its weight into ``lead``."""
    return F.when(
        F.col("n_t") > 1,
        lead
        * (F.col("n_at").cast("double") / F.col("n_t"))
        * (1.0 - F.col("n_at").cast("double") / F.col("n_t"))
        * (F.col("n_t") - F.col("d_t"))
        / (F.col("n_t") - 1),
    ).otherwise(0.0)


# The log-rank verdict read off the running sums o_a (observed arm-A
# deaths), e_a (expected) and v (variance) at the last death time:
# χ² = (O − E)²/V against the 5% critical value of χ²(1).
_LOGRANK_VERDICT_SQL = """CAST(o_a AS DOUBLE) AS observed_a,
               CAST(round(e_a, 6) AS DOUBLE) AS expected_a,
               CAST(round((o_a - e_a) * (o_a - e_a) / v, 6) AS DOUBLE)
                   AS chi2,
               ((o_a - e_a) * (o_a - e_a) > 3.841459 * v) AS reject_5pct"""


def _logrank_verdict(folded: DataFrame, *keep: str) -> DataFrame:
    """_LOGRANK_VERDICT_SQL on the rdesc = 1 row of ``folded``, after
    its ``keep`` columns."""
    diff = F.col("o_a") - F.col("e_a")
    return folded.filter(F.col("rdesc") == 1).select(
        *keep,
        F.col("o_a").cast("double").alias("observed_a"),
        F.round("e_a", 6).alias("expected_a"),
        F.round(diff * diff / F.col("v"), 6).alias("chi2"),
        (diff * diff > 3.841459 * F.col("v")).alias("reject_5pct"),
    )


@query(
    "logrank_two_group_test",
    category="SV-logrank",
    oracle=f"""
        WITH {_LIFE_CTE}, {_ARMS_CTE}, {_arm_risk_sql()},
             {_logrank_terms_sql()}, folded AS (
            SELECT t,
                   sum(CAST(d_at AS DOUBLE)) OVER w2 AS o_a,
                   sum(e_at) OVER w2 AS e_a,
                   sum(v_t) OVER w2 AS v,
                   row_number() OVER (ORDER BY t DESC) AS rdesc
            FROM terms
            WINDOW w2 AS (ORDER BY t)
        )
        SELECT {_LOGRANK_VERDICT_SQL}
        FROM folded WHERE rdesc = 1
    """,
)
def logrank_two_group_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two md5-assigned user groups (the A/B
    split of an experiment readout on time-to-session-end): at every
    death
    time, group A's observed deaths are compared to the
    hypergeometric expectation d·n_A/n with variance
    d(n_A/n)(1−n_A/n)(n−d)/(n−1); χ² = (O−E)²/V (risk sets by the
    same suffix-sum construction as the KM query) — the correct test
    for "did the treatment change the duration CURVE", where a
    t-test on mean duration is censoring-biased.

    Determinism: all risk-set quantities are exact integers (same
    prefix-complement construction as the KM query); E and V terms
    are shared-text doubles accumulated by pinned-order running sums
    and read once at the last death time.

    Scale: identical to kaplan_meier_survival — one sessionize
    pass, then bounded-frame algebra; output is one row.
    """
    risk = _arm_risk(_arms(_subjects(spark, sf_dir)))
    terms = _logrank_terms(risk)
    w_cum = Window.orderBy("t")
    w_desc = Window.orderBy(F.desc("t"))
    folded = terms.select(
        "t",
        F.sum(F.col("d_at").cast("double")).over(w_cum).alias("o_a"),
        F.sum("e_at").over(w_cum).alias("e_a"),
        F.sum("v_t").over(w_cum).alias("v"),
        F.row_number().over(w_desc).alias("rdesc"),
    )
    return _logrank_verdict(folded)


@query(
    "kaplan_meier_by_group",
    category="SV-kmgroup",
    oracle=f"""
        WITH {_LIFE_CTE}, {_ARMS_CTE}, at_t AS (
            SELECT grp, dur AS t,
                   CAST(sum(died) AS BIGINT) AS d_t,
                   CAST(count(*) AS BIGINT) AS leave_t
            FROM grouped GROUP BY grp, dur
        ), risk AS (
            SELECT grp, t, d_t,
                   CAST(sum(leave_t) OVER (
                       PARTITION BY grp ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS BIGINT) AS n_t
            FROM at_t
        ), folded AS (
            SELECT grp, t, n_t, d_t,
                   sum(CASE WHEN d_t > 0 AND d_t < n_t
                            THEN ln(1.0 - CAST(d_t AS DOUBLE) / n_t)
                            ELSE 0.0 END)
                       OVER (PARTITION BY grp ORDER BY t) AS lnsurv,
                   max(CASE WHEN d_t >= n_t THEN 1 ELSE 0 END)
                       OVER (PARTITION BY grp ORDER BY t) AS hit_zero
            FROM risk
        )
        SELECT grp, t AS minute, n_t AS n_risk, d_t AS n_deaths,
               CAST(CASE WHEN hit_zero = 1 THEN 0.0
                         ELSE round(exp(lnsurv), 6) END AS DOUBLE)
                   AS survival
        FROM folded WHERE d_t > 0
        ORDER BY grp, minute
    """,
)
def kaplan_meier_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curves PER GROUP (the md5 A/B split the log-rank
    test scores): the same suffix-sum risk sets and pinned-order
    ln-product as kaplan_meier_survival, partitioned by group — this
    is the CURVE the experiment readout plots next to
    logrank_two_group_test's verdict (emitting only death times keeps
    it a step function).

    Determinism/scale: identical contracts to the ungrouped query;
    the group key simply joins every window's PARTITION BY, so the
    bounded-frame algebra parallelizes across groups — the same move
    that segment- or cohort-scopes any survival analysis.
    """
    grouped = _arms(_subjects(spark, sf_dir))
    at_t = grouped.groupBy("grp", F.col("dur").alias("t")).agg(
        F.sum("died").cast("long").alias("d_t"),
        F.count(F.lit(1)).cast("long").alias("leave_t"),
    )
    w_suf = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    risk = at_t.select(
        "grp", "t", "d_t",
        F.sum("leave_t").over(w_suf).cast("long").alias("n_t"),
    )
    w_cum = Window.partitionBy("grp").orderBy("t")
    folded = risk.select(
        "grp", "t", "n_t", "d_t",
        F.sum(
            F.when(
                (F.col("d_t") > 0) & (F.col("d_t") < F.col("n_t")),
                F.log(1.0 - F.col("d_t").cast("double") / F.col("n_t")),
            ).otherwise(0.0)
        ).over(w_cum).alias("lnsurv"),
        F.max(
            F.when(F.col("d_t") >= F.col("n_t"), 1).otherwise(0)
        ).over(w_cum).alias("hit_zero"),
    )
    return (
        folded.filter(F.col("d_t") > 0)
        .select(
            "grp",
            F.col("t").alias("minute"),
            F.col("n_t").alias("n_risk"),
            F.col("d_t").alias("n_deaths"),
            F.when(F.col("hit_zero") == 1, 0.0)
            .otherwise(F.round(F.exp("lnsurv"), 6))
            .alias("survival"),
        )
    )


@query(
    "nelson_aalen_cumulative_hazard",
    category="SV-na",
    oracle=f"""
        WITH {_LIFE_CTE}, at_t AS (
            SELECT dur AS t,
                   CAST(sum(died) AS BIGINT) AS d_t,
                   CAST(count(*) AS BIGINT) AS leave_t
            FROM subj GROUP BY dur
        ), risk AS (
            SELECT t, d_t,
                   CAST(sum(leave_t) OVER (
                       ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS BIGINT) AS n_t
            FROM at_t
        ), folded AS (
            SELECT t, n_t, d_t,
                   sum(CAST(d_t AS DOUBLE) / n_t)
                       OVER (ORDER BY t) AS cumhaz,
                   sum(CAST(d_t AS DOUBLE)
                       / (CAST(n_t AS DOUBLE) * n_t))
                       OVER (ORDER BY t) AS navar
            FROM risk
        )
        SELECT t AS minute, n_t AS n_risk, d_t AS n_deaths,
               CAST(round(cumhaz, 6) AS DOUBLE) AS cum_hazard,
               CAST(round(sqrt(navar), 6) AS DOUBLE) AS cum_hazard_se,
               CAST(round(exp(-cumhaz), 6) AS DOUBLE) AS fh_survival
        FROM folded WHERE d_t > 0 ORDER BY minute
    """,
)
def nelson_aalen_cumulative_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the same session
    subjects as kaplan_meier_survival: H(t) = Σ_{s≤t} d_s/n_s, its
    standard error sqrt(Σ d_s/n_s²), and the Fleming-Harrington
    survival exp(−H) — the hazard-side dual of the KM product-limit
    curve. Unlike KM, a d_t = n_t final death time needs no special
    case (the hazard increment is exactly 1, never ln(0)), and at
    small risk sets exp(−H) is the lower-variance curve — the reason
    survival libraries ship both.

    Determinism: identical risk-set construction to the KM query
    (exact-integer suffix sums on the bounded distinct-duration
    frame); both running sums are pinned-order window folds over the
    same ORDER BY t, read once, rounded at emission.

    Scale: identical to kaplan_meier_survival — one user-partitioned
    sessionize pass, then all algebra on the |distinct durations|
    frame. Emitting only death times keeps the output a step
    function.
    """
    subj = _subjects(spark, sf_dir)
    at_t = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("died").cast("long").alias("d_t"),
        F.count(F.lit(1)).cast("long").alias("leave_t"),
    )
    w_suf = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    risk = at_t.select(
        "t", "d_t",
        F.sum("leave_t").over(w_suf).cast("long").alias("n_t"),
    )
    w_cum = Window.orderBy("t")
    folded = risk.select(
        "t", "n_t", "d_t",
        F.sum(F.col("d_t").cast("double") / F.col("n_t"))
        .over(w_cum).alias("cumhaz"),
        F.sum(
            F.col("d_t").cast("double")
            / (F.col("n_t").cast("double") * F.col("n_t"))
        ).over(w_cum).alias("navar"),
    )
    return (
        folded.filter(F.col("d_t") > 0)
        .select(
            F.col("t").alias("minute"),
            F.col("n_t").alias("n_risk"),
            F.col("d_t").alias("n_deaths"),
            F.round("cumhaz", 6).alias("cum_hazard"),
            F.round(F.sqrt("navar"), 6).alias("cum_hazard_se"),
            F.round(F.exp(-F.col("cumhaz")), 6).alias("fh_survival"),
        )
        .orderBy("minute")
    )


@query(
    "logrank_stratified_test",
    category="SV-logrank-strat",
    oracle=f"""
        WITH {_LIFE_STRAT_CTE}, {_ARMS_CTE}, {_arm_risk_sql("stratum")},
             {_logrank_terms_sql("stratum")}, folded AS (
            SELECT sum(CAST(d_at AS DOUBLE)) OVER w2 AS o_a,
                   sum(e_at) OVER w2 AS e_a,
                   sum(v_t) OVER w2 AS v,
                   row_number() OVER (ORDER BY stratum DESC, t DESC)
                       AS rdesc,
                   -- the rdesc=1 row carries the DESC-max stratum, so
                   -- its ascending dense_rank = |distinct strata| —
                   -- no second pass over terms
                   CAST(dense_rank() OVER (ORDER BY stratum)
                        AS BIGINT) AS n_strata
            FROM terms
            WINDOW w2 AS (ORDER BY stratum, t)
        )
        SELECT n_strata, {_LOGRANK_VERDICT_SQL}
        FROM folded WHERE rdesc = 1
    """,
)
def logrank_stratified_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRATIFIED log-rank test (the Mantel-Haenszel pooling of
    per-stratum Mantel-Cox tables): risk sets, hypergeometric
    expectations and variances are computed WITHIN each stratum
    (peak vs off-peak session start hour), then O−E and V are summed
    across strata before the single χ² — the standard fix when a
    confounder (time-of-day load) differs between arms and a naive
    pooled log-rank would attribute its effect to the treatment.
    Same md5 A/B arms as logrank_two_group_test, so the two verdicts
    are directly comparable.

    Determinism: per-stratum risk sets are exact integers via the
    suffix-sum construction partitioned by stratum; the cross-stratum
    totals are ONE pinned-order running sum over (stratum, t) — never
    a distributed unordered float sum — read at the last row.

    Scale: the stratum key joins every window PARTITION BY, so the
    bounded-frame algebra parallelizes across strata; adding strata
    adds partitions, not passes. One sessionize shuffle total.
    """
    risk = _arm_risk(
        _arms(_subjects(spark, sf_dir, with_stratum=True)), "stratum"
    )
    terms = _logrank_terms(risk, "stratum")
    w_cum = Window.orderBy("stratum", "t")
    w_desc = Window.orderBy(F.desc("stratum"), F.desc("t"))
    # the rdesc=1 row carries the DESC-max stratum, so its ascending
    # dense_rank over stratum = |distinct strata| — the strata count
    # rides the same window pass instead of a second terms consumer
    folded = terms.select(
        F.sum(F.col("d_at").cast("double")).over(w_cum).alias("o_a"),
        F.sum("e_at").over(w_cum).alias("e_a"),
        F.sum("v_t").over(w_cum).alias("v"),
        F.row_number().over(w_desc).alias("rdesc"),
        F.dense_rank().over(Window.orderBy("stratum"))
        .cast("long").alias("n_strata"),
    )
    return _logrank_verdict(folded, "n_strata")


@query(
    "cox_proportional_hazards",
    category="SV-cox",
    oracle=f"""
        WITH {_LIFE_CTE}, {_ARMS_CTE}, {_arm_risk_sql()}, times AS (
            SELECT t, d_t, d_at, n_at, n_t - n_at AS n_bt,
                   CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS idx,
                   CAST(count(*) OVER () AS BIGINT) AS n_times
            FROM risk WHERE d_t > 0
        ), walked AS (
            WITH RECURSIVE nr AS (
                SELECT 0 AS k, CAST(0.0 AS DOUBLE) AS beta,
                       CAST(0 AS BIGINT) AS idx,
                       CAST(0.0 AS DOUBLE) AS u,
                       CAST(0.0 AS DOUBLE) AS info
                UNION ALL
                SELECT * FROM (
                    SELECT q.k, q.beta, q.tidx AS idx,
                           q.u + q.d_at - q.d_t * q.mu AS u,
                           q.info + q.d_t * q.mu * (1.0 - q.mu) AS info
                    FROM (
                        SELECT nr.k, nr.beta, nr.u, nr.info,
                               tm.idx AS tidx, tm.d_at, tm.d_t,
                               (tm.n_at * exp(nr.beta))
                                   / (tm.n_at * exp(nr.beta) + tm.n_bt)
                                   AS mu
                        FROM nr JOIN times tm ON tm.idx = nr.idx + 1
                        WHERE nr.k <= 8
                    ) q
                    UNION ALL
                    SELECT nr.k + 1, nr.beta + nr.u / nr.info,
                           CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE),
                           CAST(0.0 AS DOUBLE)
                    FROM nr JOIN (SELECT max(n_times) AS n FROM times) c
                         ON nr.idx = c.n
                    WHERE nr.k < 8
                )
            ) SELECT * FROM nr
        )
        SELECT CAST(round(beta, 6) AS DOUBLE) AS beta,
               CAST(round(exp(beta), 6) AS DOUBLE) AS hazard_ratio,
               CAST(round(1.0 / sqrt(info), 6) AS DOUBLE) AS se,
               CAST(round(beta * sqrt(info), 6) AS DOUBLE) AS z,
               CAST(round(beta * beta * info, 6) AS DOUBLE) AS wald_chi2,
               (SELECT CAST(sum(d_t) AS BIGINT) FROM times) AS n_events,
               (SELECT max(n_times) FROM times) AS n_times
        FROM walked
        WHERE k = 8 AND idx = (SELECT max(n_times) FROM times)
    """,
)
def cox_proportional_hazards(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COX PROPORTIONAL-HAZARDS regression on the session subjects
    with one binary covariate (the md5 A/B arm the log-rank tests
    score): β̂ maximizes the Breslow-ties partial likelihood
    l(β) = Σ_t [d_At·β − d_t·ln(n_At·e^β + n_Bt)] by Newton-Raphson
    from β=0 — 8 fixed iterations (quadratic convergence; 8 is
    parameter-level overkill), then one more score/information pass
    at β̂ for the standard error. Emits the hazard ratio e^β, Wald
    z and χ², completing the survival family: KM/Nelson-Aalen
    describe the curves, log-rank tests them, Cox QUANTIFIES the
    effect with a confidence scale.

    With a single binary covariate the per-time sufficient statistics
    collapse to the same exact-integer risk table the log-rank test
    uses (d_t, d_At, n_At, n_Bt at each death time, suffix-sum
    construction), so the distributed work is identical; Newton then
    runs on that BOUNDED table (|distinct death minutes| rows —
    bounded by corpus span, the F-list/IVF-centroid metadata-collect
    pattern) with left-to-right pinned accumulation. The oracle
    replays the IDENTICAL walk as a recursive CTE over the same
    table — every add/multiply in the same order with the same
    parenthesization (the fs_em_weight_training bit-identity
    pattern), so both engines produce the same doubles before the
    single round-at-read.

    Scale: one sessionize shuffle + one bounded-frame suffix sum,
    exactly like the log-rank queries; the driver-side Newton is
    O(iterations × distinct death times) on metadata. Many
    covariates would swap the closed 2-group μ_t for per-time
    weighted covariate sums — same shape, vector state.
    """
    import math

    risk = _arm_risk(_arms(_subjects(spark, sf_dir)))
    # bounded metadata collect (|distinct death minutes| rows), sorted
    # by t so the Newton accumulation order is pinned on both engines
    rows = (
        risk.filter(F.col("d_t") > 0)
        .select(
            "t", "d_t", "d_at", "n_at",
            (F.col("n_t") - F.col("n_at")).alias("n_bt"),
        )
        .orderBy("t")
        .collect()
    )
    beta = 0.0
    u = info = 0.0
    for k in range(9):
        u, info = 0.0, 0.0
        for r in rows:
            mu = (r["n_at"] * math.exp(beta)) / (
                r["n_at"] * math.exp(beta) + r["n_bt"]
            )
            u = u + r["d_at"] - r["d_t"] * mu
            info = info + r["d_t"] * mu * (1.0 - mu)
        if k < 8:
            beta = beta + u / info
    n_events = sum(r["d_t"] for r in rows)
    out = [
        (
            round(beta, 6),
            round(math.exp(beta), 6),
            round(1.0 / math.sqrt(info), 6),
            round(beta * math.sqrt(info), 6),
            round(beta * beta * info, 6),
            n_events,
            len(rows),
        )
    ]
    return spark.createDataFrame(
        out,
        "beta double, hazard_ratio double, se double, z double,"
        " wald_chi2 double, n_events long, n_times long",
    )


# Cause-aware subjects: same 30-min sessions, but each DEATH carries
# a competing-risk CAUSE — 1 if the session's last event was a
# purchase (converted exit), 2 otherwise (abandoned exit); censored
# open sessions stay cause 0. Ties at the last timestamp break by
# event_type DESC so both engines pick the same closing event.
_LIFE_CAUSE_CTE = """
    stamped AS (
        SELECT user_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS t_s
        FROM events
    ), gapped AS (
        SELECT user_id, event_type, t_s,
               CASE WHEN t_s - lag(t_s) OVER (PARTITION BY user_id
                                              ORDER BY t_s) > 1800
                     OR lag(t_s) OVER (PARTITION BY user_id
                                       ORDER BY t_s) IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM stamped
    ), sess AS (
        SELECT user_id, event_type, t_s,
               CAST(sum(is_start) OVER (PARTITION BY user_id
                                        ORDER BY t_s) AS BIGINT) AS sid
        FROM gapped
    ), lasttyp AS (
        SELECT user_id, sid, event_type AS last_type
        FROM (
            SELECT user_id, sid, event_type,
                   row_number() OVER (PARTITION BY user_id, sid
                                      ORDER BY t_s DESC,
                                               event_type DESC) AS rn
            FROM sess
        ) WHERE rn = 1
    ), life AS (
        SELECT user_id, sid,
               CAST(min(t_s) AS BIGINT) AS t_first,
               CAST(max(t_s) AS BIGINT) AS t_last
        FROM sess GROUP BY user_id, sid
    ), spanmax AS (
        SELECT max(t_last) AS tmax FROM life
    ), subj AS (
        SELECT l.user_id, (l.t_last - l.t_first) // 60 AS dur,
               CASE WHEN l.t_last >= s.tmax - 1800 THEN 0
                    WHEN lt.last_type = 'purchase' THEN 1
                    ELSE 2 END AS cause
        FROM life l
        JOIN lasttyp lt ON l.user_id = lt.user_id AND l.sid = lt.sid
        CROSS JOIN spanmax s
    )"""


@query(
    "aalen_johansen_competing_risks",
    category="SV-cif",
    oracle=f"""
        WITH {_LIFE_CAUSE_CTE}, at_t AS (
            SELECT dur AS t,
                   CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d1_t,
                   CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d2_t,
                   CAST(count(*) AS BIGINT) AS leave_t
            FROM subj GROUP BY dur
        ), risk AS (
            SELECT t, d1_t, d2_t, d1_t + d2_t AS d_t,
                   CAST(sum(leave_t) OVER (
                       ORDER BY t
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ) AS BIGINT) AS n_t
            FROM at_t
        ), folded AS (
            SELECT t, n_t, d1_t, d2_t, d_t,
                   sum(CASE WHEN d_t > 0 AND d_t < n_t
                            THEN ln(1.0 - CAST(d_t AS DOUBLE) / n_t)
                            ELSE 0.0 END)
                       OVER (ORDER BY t) AS lnsurv,
                   max(CASE WHEN d_t >= n_t THEN 1 ELSE 0 END)
                       OVER (ORDER BY t) AS hit_zero
            FROM risk
        ), lagged AS (
            SELECT t, n_t, d1_t, d2_t, d_t, lnsurv, hit_zero,
                   coalesce(lag(lnsurv) OVER (ORDER BY t), 0.0)
                       AS lnsurv_prev
            FROM folded
        ), cif AS (
            SELECT t, n_t, d1_t, d2_t, lnsurv, hit_zero,
                   sum(exp(lnsurv_prev) * (CAST(d1_t AS DOUBLE) / n_t))
                       OVER (ORDER BY t) AS cif1,
                   sum(exp(lnsurv_prev) * (CAST(d2_t AS DOUBLE) / n_t))
                       OVER (ORDER BY t) AS cif2
            FROM lagged
        )
        SELECT t AS minute, n_t AS n_risk,
               d1_t AS d_purchase, d2_t AS d_other,
               CAST(round(cif1, 6) AS DOUBLE) AS cif_purchase,
               CAST(round(cif2, 6) AS DOUBLE) AS cif_other,
               CAST(CASE WHEN hit_zero = 1 THEN 0.0
                         ELSE round(exp(lnsurv), 6) END AS DOUBLE)
                   AS surv_allcause,
               CAST(round(cif1 + cif2
                          + CASE WHEN hit_zero = 1 THEN 0.0
                                 ELSE exp(lnsurv) END, 6) AS DOUBLE)
                   AS mass_check
        FROM cif WHERE d1_t + d2_t > 0
        ORDER BY minute
    """,
)
def aalen_johansen_competing_risks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AALEN-JOHANSEN cumulative incidence under COMPETING RISKS: a
    session's end is attributed to cause 1 (last event was a
    purchase — a converted exit) or cause 2 (any other exit), open
    sessions censored as usual; CIF_k(t) = Σ_{s≤t} S(s−)·d_ks/n_s
    where S is the ALL-cause Kaplan-Meier. This is the estimator
    1−KM-per-cause gets WRONG (treating the competing cause as
    censoring overstates both incidences); the self-certifying
    `mass_check` column pins the defining identity
    CIF₁(t) + CIF₂(t) + S(t) = 1 at every emitted time on both
    engines — an Aalen-Johansen implementation bug breaks the hash
    twice (values AND identity).

    Determinism: the same exact-integer suffix-sum risk sets as the
    KM family; S(s−) comes from the LAGGED pinned ln-sum (lag of a
    window cumulative sum is itself order-pinned); each CIF is one
    more pinned-order running sum of shared-text doubles; the
    d_t = n_t terminal time reuses the hit-zero guard (its CIF
    increments use S(t−), which is finite — only the displayed S
    needs the flag).

    Scale: identical to kaplan_meier_survival plus one row_number
    per session to pick the closing event (same user shuffle) —
    all curve algebra on the bounded distinct-duration frame.
    """
    ev = load_table(spark, sf_dir, "events")
    stamped = ev.select(
        "user_id", "event_type",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("t_s"),
    )
    w = Window.partitionBy("user_id").orderBy("t_s")
    gapped = stamped.select(
        "user_id", "event_type", "t_s",
        F.when(
            (F.col("t_s") - F.lag("t_s").over(w) > 1800)
            | F.lag("t_s").over(w).isNull(),
            1,
        ).otherwise(0).alias("is_start"),
    )
    sess = gapped.select(
        "user_id", "event_type", "t_s",
        F.sum("is_start").over(w).cast("long").alias("sid"),
    )
    w_last = Window.partitionBy("user_id", "sid").orderBy(
        F.desc("t_s"), F.desc("event_type")
    )
    lasttyp = (
        sess.select(
            "user_id", "sid", "event_type",
            F.row_number().over(w_last).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "sid", F.col("event_type").alias("last_type"))
    )
    life = sess.groupBy("user_id", "sid").agg(
        F.min("t_s").cast("long").alias("t_first"),
        F.max("t_s").cast("long").alias("t_last"),
    )
    spanmax = life.agg(F.max("t_last").alias("tmax"))
    subj = (
        life.join(lasttyp, ["user_id", "sid"])
        .crossJoin(F.broadcast(spanmax))
        .select(
            F.floor((F.col("t_last") - F.col("t_first")) / 60)
            .cast("long").alias("dur"),
            F.when(F.col("t_last") >= F.col("tmax") - 1800, 0)
            .when(F.col("last_type") == "purchase", 1)
            .otherwise(2).alias("cause"),
        )
    )
    at_t = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("long").alias("d1_t"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("long").alias("d2_t"),
        F.count(F.lit(1)).cast("long").alias("leave_t"),
    )
    w_suf = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    risk = at_t.select(
        "t", "d1_t", "d2_t",
        (F.col("d1_t") + F.col("d2_t")).alias("d_t"),
        F.sum("leave_t").over(w_suf).cast("long").alias("n_t"),
    )
    w_cum = Window.orderBy("t")
    folded = risk.select(
        "t", "n_t", "d1_t", "d2_t", "d_t",
        F.sum(
            F.when(
                (F.col("d_t") > 0) & (F.col("d_t") < F.col("n_t")),
                F.log(1.0 - F.col("d_t").cast("double") / F.col("n_t")),
            ).otherwise(0.0)
        ).over(w_cum).alias("lnsurv"),
        F.max(
            F.when(F.col("d_t") >= F.col("n_t"), 1).otherwise(0)
        ).over(w_cum).alias("hit_zero"),
    )
    lagged = folded.select(
        "t", "n_t", "d1_t", "d2_t", "d_t", "lnsurv", "hit_zero",
        F.coalesce(F.lag("lnsurv").over(w_cum), F.lit(0.0)).alias(
            "lnsurv_prev"
        ),
    )
    cif = lagged.select(
        "t", "n_t", "d1_t", "d2_t", "lnsurv", "hit_zero",
        F.sum(
            F.exp("lnsurv_prev")
            * (F.col("d1_t").cast("double") / F.col("n_t"))
        ).over(w_cum).alias("cif1"),
        F.sum(
            F.exp("lnsurv_prev")
            * (F.col("d2_t").cast("double") / F.col("n_t"))
        ).over(w_cum).alias("cif2"),
    )
    surv = F.when(F.col("hit_zero") == 1, 0.0).otherwise(F.exp("lnsurv"))
    return (
        cif.filter(F.col("d1_t") + F.col("d2_t") > 0)
        .select(
            F.col("t").alias("minute"),
            F.col("n_t").alias("n_risk"),
            F.col("d1_t").alias("d_purchase"),
            F.col("d2_t").alias("d_other"),
            F.round("cif1", 6).alias("cif_purchase"),
            F.round("cif2", 6).alias("cif_other"),
            F.round(surv, 6).alias("surv_allcause"),
            F.round(F.col("cif1") + F.col("cif2") + surv, 6).alias(
                "mass_check"
            ),
        )
        .orderBy("minute")
    )


@query(
    "logrank_peto_weighted_test",
    category="SV-logrank-fh",
    oracle=f"""
        WITH {_LIFE_CTE}, {_ARMS_CTE}, {_arm_risk_sql()}, lns AS (
            SELECT t, d_t, d_at, n_t, n_at,
                   sum(CASE WHEN d_t > 0 AND d_t < n_t
                            THEN ln(1.0 - CAST(d_t AS DOUBLE) / n_t)
                            ELSE 0.0 END)
                       OVER (ORDER BY t) AS lnsurv
            FROM risk
        ), surv AS (
            SELECT t, d_t, d_at, n_t, n_at,
                   exp(coalesce(lag(lnsurv) OVER (ORDER BY t), 0.0))
                       AS w_t
            FROM lns
        ), terms AS (
            SELECT t, w_t,
                   w_t * (CAST(d_at AS DOUBLE)
                          - CAST(d_t AS DOUBLE) * n_at / n_t) AS ome,
                   {_hypergeom_var_sql("w_t * w_t * CAST(d_t AS DOUBLE)")}
                       AS v_t
            FROM surv WHERE d_t > 0
        ), folded AS (
            SELECT sum(ome) OVER w2 AS z_num,
                   sum(v_t) OVER w2 AS v,
                   row_number() OVER (ORDER BY t DESC) AS rdesc
            FROM terms
            WINDOW w2 AS (ORDER BY t)
        )
        SELECT CAST(round(z_num, 6) AS DOUBLE) AS weighted_o_minus_e,
               CAST(round(v, 6) AS DOUBLE) AS variance,
               CAST(round(z_num * z_num / v, 6) AS DOUBLE) AS chi2,
               (z_num * z_num > 3.841459 * v) AS reject_5pct
        FROM folded WHERE rdesc = 1
    """,
)
def logrank_peto_weighted_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PETO-PETO / Fleming-Harrington(ρ=1) WEIGHTED log-rank on the
    same A/B arms as logrank_two_group_test: each death time's O−E
    and variance terms are weighted by w_t = Ŝ(t−), the pooled KM
    survival JUST BEFORE t, so EARLY differences dominate — the
    standard alternative when hazards cross or an effect fades (the
    unweighted log-rank dilutes an early effect with late noise;
    the two verdicts side by side localize WHEN the arms differ).

    Determinism: the weight is the lag of the pinned ln-sum the KM
    query folds (lag of an ordered window sum is itself
    order-pinned), exponentiated per row; weighted terms are then
    the same pinned-order running sums as the unweighted test. Risk
    sets stay exact integers.

    Scale: identical to logrank_two_group_test — one sessionize
    shuffle, bounded distinct-duration algebra, one output row.
    """
    risk = _arm_risk(_arms(_subjects(spark, sf_dir)))
    w_cum = Window.orderBy("t")
    lns = risk.select(
        "t", "d_t", "d_at", "n_t", "n_at",
        F.sum(
            F.when(
                (F.col("d_t") > 0) & (F.col("d_t") < F.col("n_t")),
                F.log(1.0 - F.col("d_t").cast("double") / F.col("n_t")),
            ).otherwise(0.0)
        ).over(w_cum).alias("lnsurv"),
    )
    surv = lns.select(
        "t", "d_t", "d_at", "n_t", "n_at",
        F.exp(
            F.coalesce(F.lag("lnsurv").over(w_cum), F.lit(0.0))
        ).alias("w_t"),
    )
    terms = surv.filter(F.col("d_t") > 0).select(
        "t", "w_t",
        (
            F.col("w_t")
            * (
                F.col("d_at").cast("double")
                - F.col("d_t").cast("double")
                * F.col("n_at") / F.col("n_t")
            )
        ).alias("ome"),
        _hypergeom_var(
            F.col("w_t") * F.col("w_t") * F.col("d_t").cast("double")
        ).alias("v_t"),
    )
    w_desc = Window.orderBy(F.desc("t"))
    folded = terms.select(
        F.sum("ome").over(w_cum).alias("z_num"),
        F.sum("v_t").over(w_cum).alias("v"),
        F.row_number().over(w_desc).alias("rdesc"),
    )
    return folded.filter(F.col("rdesc") == 1).select(
        F.round("z_num", 6).alias("weighted_o_minus_e"),
        F.round("v", 6).alias("variance"),
        F.round(F.col("z_num") * F.col("z_num") / F.col("v"), 6).alias(
            "chi2"
        ),
        (F.col("z_num") * F.col("z_num") > 3.841459 * F.col("v")).alias(
            "reject_5pct"
        ),
    )
