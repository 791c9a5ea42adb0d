"""Statistical inference II: the k-group and resampling half of the
experimentation toolbox — Kruskal-Wallis H (k-group rank test, the
≥3-arm generalization of the existing mann_whitney_u), one-way ANOVA
F (the parametric twin), delete-one-group jackknife, and the Poisson
bootstrap (the distributed-systems bootstrap: per-row independent
Poisson(1) weights replace multinomial resampling so every replicate
is one map-side-combinable weighted aggregate — the only bootstrap
that works when no single machine can hold the data).

Float discipline (house rules): the metric is exact integer cents;
rank machinery carries DOUBLED midranks (2·rank + ties − 1) so every
rank sum is an exact integer; ANOVA/jackknife moments are quotients
of exact integer sums; every bootstrap replicate mean is an exact
integer quotient (Σw·cents / Σw with integer weights), so the
replicate distribution is bit-identical across engines before the
final interpolated percentiles. Test statistics round to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.spread import spread_to_cores
from ..registry import query

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


@query(
    "kruskal_wallis_h",
    category="ST2-ranktest",
    oracle=f"""
        WITH base AS (
            SELECT event_type AS grp, {_CENTS} AS cents
            FROM events WHERE value IS NOT NULL
        ), ranked AS (
            SELECT grp, cents,
                   rank() OVER (ORDER BY cents) AS rmin,
                   count(*) OVER (PARTITION BY cents) AS t
            FROM base
        ), per_grp AS (
            SELECT grp,
                   CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(2 * rmin + t - 1) AS BIGINT) AS rank_sum2
            FROM ranked GROUP BY grp
        ), ties AS (
            SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
            FROM (SELECT count(*) AS t FROM base GROUP BY cents)
        ), tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k
            FROM per_grp
        ), h AS (
            SELECT n, k, tie3,
                   12.0 / (n * (n + 1.0))
                     * (SELECT sum((rank_sum2 / 2.0) * (rank_sum2 / 2.0)
                                   / n_g) FROM per_grp)
                     - 3.0 * (n + 1.0) AS h_raw
            FROM tot CROSS JOIN ties
        )
        SELECT p.grp, p.n_g, p.rank_sum2,
               CAST(round(h.h_raw, 6) AS DOUBLE) AS h_stat,
               CAST(round(h.h_raw / (1.0 - CAST(h.tie3 AS DOUBLE)
                    / (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6)
                    AS DOUBLE) AS h_tie_adj,
               h.k AS k_groups, h.n AS n_total
        FROM per_grp p CROSS JOIN h
        ORDER BY p.grp
    """,
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H — the k-group rank test (does at least one of
    the k event-type arms shift the metric distribution?), the ≥3-arm
    generalization of mann_whitney_u: pooled midranks, per-group rank
    sums R_g, H = 12/(N(N+1))·ΣR_g²/n_g − 3(N+1), then the standard
    tie correction H/(1 − Σ(t³−t)/(N³−N)).

    Determinism: the metric is exact integer cents so tie groups are
    exact; midranks are carried DOUBLED (2·rank_min + t − 1 — an
    integer: rank_min is the window rank, t the tie count), making
    every per-group rank sum an exact integer; H is assembled from
    those integers in identical double arithmetic on both engines.

    Scale: NO global rank over raw rows — the mann_whitney_u
    distinct-bucket construction: one (cents, grp) keyed aggregate
    over the fact table, then the prefix-sum window runs over the
    DISTINCT-cents frame only (value-domain-bounded — the price
    grid, not row count; the documented acceptable global-window
    case). Per-row doubled midrank 2·rmin + t − 1 becomes the
    per-bucket identity n_vg·(2·below + t + 1), so the rank sums
    are identical integers; then two hash aggregates; output k rows.
    """
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.col("event_type").alias("grp"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    from ..operators.graph import truncate_lineage

    # per_vg is the ONLY consumer of the fact scan; checkpointing it
    # keeps the three downstream consumers (per_v, the join, ties)
    # off the scan lineage (truncate_lineage house rule)
    per_vg = truncate_lineage(
        base.groupBy("cents", "grp").agg(
            F.count(F.lit(1)).cast("long").alias("n_vg")
        ),
        8,
    )
    per_v = per_vg.groupBy("cents").agg(
        F.sum("n_vg").cast("long").alias("t")
    )
    w_below = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked_v = per_v.select(
        "cents", "t",
        F.coalesce(F.sum("t").over(w_below), F.lit(0))
        .cast("long").alias("below"),
    )
    per_grp = (
        per_vg.join(ranked_v, "cents")
        .groupBy("grp")
        .agg(
            F.sum("n_vg").cast("long").alias("n_g"),
            F.sum(
                F.col("n_vg")
                * (2 * F.col("below") + F.col("t") + 1)
            ).cast("long").alias("rank_sum2"),
        )
    )
    # tie census rides per_v (already per-cents counts) instead of a
    # second pass over the fact scan
    ties = per_v.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long").alias("tie3")
    )
    per_grp = truncate_lineage(per_grp, 1)  # k-row frame, 3 consumers
    tot = per_grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    rsq = per_grp.agg(
        F.sum(
            (F.col("rank_sum2") / 2.0) * (F.col("rank_sum2") / 2.0) / F.col("n_g")
        ).alias("srq")
    )
    h = (
        tot.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(rsq))
        .select(
            "n", "k", "tie3",
            (
                12.0 / (F.col("n") * (F.col("n") + 1.0)) * F.col("srq")
                - 3.0 * (F.col("n") + 1.0)
            ).alias("h_raw"),
        )
    )
    return (
        per_grp.crossJoin(F.broadcast(h))
        .select(
            "grp", "n_g", "rank_sum2",
            F.round("h_raw", 6).alias("h_stat"),
            F.round(
                F.col("h_raw")
                / (
                    1.0
                    - F.col("tie3").cast("double")
                    / (F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n"))
                ),
                6,
            ).alias("h_tie_adj"),
            F.col("k").alias("k_groups"),
            F.col("n").alias("n_total"),
        )
    )


@query(
    "anova_oneway_f",
    category="ST7-anova",
    oracle=f"""
        WITH per_grp AS (
            SELECT event_type AS grp,
                   CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum({_CENTS}) AS BIGINT) AS s_g,
                   CAST(sum({_CENTS} * {_CENTS}) AS BIGINT) AS q_g
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ), tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(s_g) AS BIGINT) AS s,
                   CAST(sum(q_g) AS BIGINT) AS q,
                   sum(CAST(s_g AS DOUBLE) * s_g / n_g) AS sb_part
            FROM per_grp
        )
        SELECT n AS n_total, k AS k_groups,
               CAST(round(CAST(q AS DOUBLE) / n
                          - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                          4) AS DOUBLE) AS var_total,
               CAST(round(((sb_part - CAST(s AS DOUBLE) * s / n) / (k - 1))
                          / ((q - sb_part) / (n - k)), 6) AS DOUBLE) AS f_stat,
               CAST(round((sb_part - CAST(s AS DOUBLE) * s / n)
                          / (q - CAST(s AS DOUBLE) * s / n), 6)
                    AS DOUBLE) AS eta_sq
        FROM tot
    """,
)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F — the parametric k-group mean test paired with
    kruskal_wallis_h: SS_between = ΣS_g²/n_g − S²/N, SS_within =
    ΣQ_g − ΣS_g²/n_g from the per-group (count, sum, sum-of-squares)
    triple; F = (SSB/(k−1)) / (SSW/(N−k)), effect size η² = SSB/SST.

    Determinism: all moments are exact integer cent sums (Q fits
    comfortably: 60k rows × (2·10^4)² ≈ 2.4·10^13 « 2^63); the F
    assembly is a handful of identical double ops.

    Scale: ONE map-side-combinable hash aggregate over the fact
    table, then arithmetic on a k-row frame — the cheapest possible
    test; output is a single row.
    """
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    per_grp = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(cents).cast("long").alias("s_g"),
            F.sum(cents * cents).cast("long").alias("q_g"),
        )
    )
    tot = per_grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("q_g").cast("long").alias("q"),
        F.sum(F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"))
        .alias("sb_part"),
    )
    ssb = F.col("sb_part") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("q") - F.col("sb_part")
    sst = F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")
    sn = F.col("s").cast("double") / F.col("n")
    return tot.select(
        F.col("n").alias("n_total"),
        F.col("k").alias("k_groups"),
        F.round(F.col("q").cast("double") / F.col("n") - sn * sn, 4)
        .alias("var_total"),
        F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6)
        .alias("f_stat"),
        F.round(ssb / sst, 6).alias("eta_sq"),
    )


@query(
    "jackknife_loo_day_means",
    category="ST8-resample",
    oracle=f"""
        WITH per_day AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS n_i,
                   CAST(sum({_CENTS}) AS BIGINT) AS s_i
            FROM events WHERE value IS NOT NULL
            GROUP BY CAST(ts AS DATE)
        ), tot AS (
            SELECT CAST(sum(n_i) AS BIGINT) AS n,
                   CAST(sum(s_i) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS g
            FROM per_day
        ), loo AS (
            SELECT day, n_i,
                   CAST(tot.s - s_i AS DOUBLE) / (tot.n - n_i) AS theta_i,
                   tot.g, tot.n, tot.s
            FROM per_day CROSS JOIN tot
        ), jk AS (
            SELECT g, n, s,
                   sum(theta_i) / g AS theta_bar,
                   sum(theta_i * theta_i) AS theta_sq
            FROM loo GROUP BY g, n, s
        )
        SELECT loo.day, loo.n_i,
               CAST(round(loo.theta_i, 6) AS DOUBLE) AS theta_loo,
               CAST(round(CAST(jk.s AS DOUBLE) / jk.n, 6) AS DOUBLE)
                   AS mean_full,
               CAST(round(sqrt((jk.g - 1.0) / jk.g
                    * (jk.theta_sq - jk.g * jk.theta_bar * jk.theta_bar)),
                    6) AS DOUBLE) AS jk_se
        FROM loo JOIN jk ON loo.g = jk.g
        ORDER BY loo.day
    """,
)
def jackknife_loo_day_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife for the metric mean, grouped by day
    (the delete-a-block variant that respects within-day dependence —
    the form production experimentation systems use when rows are not
    i.i.d.): θ_(i) = (S − S_i)/(N − n_i) per left-out day, jackknife
    SE = sqrt((G−1)/G · Σ(θ_(i) − θ̄)²).

    Determinism: per-day (count, cent-sum) pairs are exact integers;
    each θ_(i) is one exact-integer quotient; the Σθ² accumulation
    drifts at libm/order scale (~1e-15 rel), far under round 6.

    Scale: one day-grain rollup (calendar-bounded frame), a 1-row
    broadcast of the totals, one bounded aggregate for the SE —
    replicates never touch the fact table a second time.
    """
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    per_day = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum(cents).cast("long").alias("s_i"),
        )
    )
    tot = per_day.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("s_i").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    loo = per_day.crossJoin(F.broadcast(tot)).select(
        "day", "n_i", "g", "n", "s",
        ((F.col("s") - F.col("s_i")).cast("double") / (F.col("n") - F.col("n_i")))
        .alias("theta_i"),
    )
    jk = loo.groupBy("g", "n", "s").agg(
        (F.sum("theta_i") / F.col("g")).alias("theta_bar"),
        F.sum(F.col("theta_i") * F.col("theta_i")).alias("theta_sq"),
    )
    return (
        loo.join(F.broadcast(jk.select("g", "theta_bar", "theta_sq")), "g")
        .select(
            "day", "n_i",
            F.round("theta_i", 6).alias("theta_loo"),
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("mean_full"),
            F.round(
                F.sqrt(
                    (F.col("g") - 1.0) / F.col("g")
                    * (
                        F.col("theta_sq")
                        - F.col("g") * F.col("theta_bar") * F.col("theta_bar")
                    )
                ),
                6,
            ).alias("jk_se"),
        )
    )


# Poisson(1) inverse-CDF thresholds: P(X<=j) for j=0..5; draws above
# the last threshold clamp to 6 (P ≈ 8.3e-5 — identical both engines)
_POIS_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
)
_B_REPS = 200


def _pois_case(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t} THEN {j}" for j, t in enumerate(_POIS_CDF)
    )
    return f"CASE {arms} ELSE 6 END"


# value-identical twin of md5_uniform/md5_uniform_sql that parses a
# PRECOMPUTED 8-hex-char column — at rows×B fan-out the stock helpers
# re-evaluate md5() once per digit (8×/draw, measured 28→9 s here)
def _u_from_h8_sql(h8: str) -> str:
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h8}, {i}, 1)) - 1)"
        f" * {float(16 ** (8 - i))}"
        for i in range(1, 9)
    )
    return f"(({terms} + 0.5) / 4294967296.0)"


def _u_from_h8(h8: str) -> F.Column:
    u = F.lit(0.0)
    for i in range(1, 9):
        u = u + F.expr(
            f"locate(substr({h8}, {i}, 1), '0123456789abcdef') - 1"
        ) * float(16 ** (8 - i))
    return (u + 0.5) / float(16**8)


@query(
    "poisson_bootstrap_ci",
    category="ST8-resample",
    oracle=f"""
        WITH base AS (
            SELECT event_id, {_CENTS} AS cents
            FROM events WHERE value IS NOT NULL
        ), reps AS (
            SELECT b FROM (SELECT unnest(range({_B_REPS})) AS b)
        ), hashed AS (
            SELECT r.b, base.cents,
                   substr(md5('boot:' || CAST(r.b AS VARCHAR) || ':'
                              || CAST(base.event_id AS VARCHAR)), 1, 8) AS h8
            FROM base CROSS JOIN reps r
        ), drawn AS (
            SELECT b, cents, {_pois_case(_u_from_h8_sql("h8"))} AS w
            FROM hashed
        ), weighted AS (
            SELECT b,
                   CAST(sum(w * cents) AS BIGINT) AS ws,
                   CAST(sum(w) AS BIGINT) AS wn
            FROM drawn GROUP BY b
        ), means AS (
            SELECT b, CAST(ws AS DOUBLE) / wn AS m FROM weighted
        ), summ AS (
            SELECT CAST(count(*) AS BIGINT) AS b_reps,
                   quantile_cont(m, 0.025) AS lo,
                   quantile_cont(m, 0.975) AS hi,
                   avg(m) AS mb,
                   sum(m * m) AS msq
            FROM means
        ), full_mean AS (
            SELECT CAST(sum(cents) AS DOUBLE) / count(*) AS mf FROM base
        )
        SELECT b_reps,
               CAST(round(full_mean.mf, 6) AS DOUBLE) AS mean_full,
               CAST(round(summ.lo, 6) AS DOUBLE) AS ci_lo,
               CAST(round(summ.hi, 6) AS DOUBLE) AS ci_hi,
               CAST(round(sqrt((summ.msq - b_reps * summ.mb * summ.mb)
                               / (b_reps - 1)), 6) AS DOUBLE) AS boot_se
        FROM summ CROSS JOIN full_mean
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the metric mean — THE distributed
    bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012): instead of multinomial resampling
    (which needs N known and a global draw), each row enters replicate
    b with an independent Poisson(1) weight, so a replicate is just a
    weighted mean and the whole B-replicate ensemble is ONE
    map-side-combinable aggregate. Weights are minted deterministically
    from md5(b, event_id) through the Poisson(1) inverse CDF.

    Determinism: every replicate mean is an exact integer quotient
    (Σw·cents / Σw, both integer sums), so the 200-point replicate
    distribution is bit-identical across engines; the 2.5%/97.5%
    interpolated percentiles and the replicate SE then round to 6.

    Scale: the fan-out is rows×B but collapses map-side — each
    partition emits B partial (Σw·x, Σw) pairs, so the shuffle is
    O(B × partitions) regardless of data size; no replicate ever
    materializes. This is the bootstrap that survives 100 TB.
    """
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    # Repartition the (small) pre-fan-out base so the ×B explode and its
    # per-draw md5+inverse-CDF work are spread over every core (guide
    # §2.5: repartition immediately after a low-parallelism read, BEFORE
    # the fan-out — the shuffle moves only the base rows, 1/B of the
    # post-explode volume). The single-row-group bench input otherwise
    # pins all rows×B hashing to ONE task: measured 16.5 s warm at
    # sf0.01, ~1 s after. Round-robin repartition is deterministic
    # (sortBeforeRepartition) and the draw is keyed by (b, event_id),
    # so results are partitioning-independent.
    hashed = spread_to_cores(base).select(
        "event_id", "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_B_REPS - 1))).alias("b"),
    ).select(
        "b", "cents",
        F.expr(
            "substr(md5(concat('boot:', CAST(b AS STRING), ':', "
            "CAST(event_id AS STRING))), 1, 8)"
        ).alias("h8"),
    )
    u = _u_from_h8("h8")
    w = F.lit(6)
    for j in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < float(_POIS_CDF[j]), F.lit(j)).otherwise(w)
    weighted = hashed.select("b", "cents", w.alias("w")).groupBy("b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("ws"),
        F.sum("w").cast("long").alias("wn"),
    )
    means = weighted.select("b", (F.col("ws").cast("double") / F.col("wn")).alias("m"))
    summ = means.agg(
        F.count(F.lit(1)).cast("long").alias("b_reps"),
        F.expr("percentile(m, 0.025)").alias("lo"),
        F.expr("percentile(m, 0.975)").alias("hi"),
        F.avg("m").alias("mb"),
        F.sum(F.col("m") * F.col("m")).alias("msq"),
    )
    full_mean = base.agg(
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("mf")
    )
    return summ.crossJoin(F.broadcast(full_mean)).select(
        "b_reps",
        F.round("mf", 6).alias("mean_full"),
        F.round("lo", 6).alias("ci_lo"),
        F.round("hi", 6).alias("ci_hi"),
        F.round(
            F.sqrt(
                (F.col("msq") - F.col("b_reps") * F.col("mb") * F.col("mb"))
                / (F.col("b_reps") - 1)
            ),
            6,
        ).alias("boot_se"),
    )


@query(
    "tukey_hsd_pairwise",
    category="ST7-anova",
    oracle=f"""
        WITH per_grp AS (
            SELECT event_type AS grp,
                   CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum({_CENTS}) AS BIGINT) AS s_g,
                   CAST(sum({_CENTS} * {_CENTS}) AS BIGINT) AS q_g
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ), tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS k,
                   sum(CAST(q_g AS DOUBLE)
                       - CAST(s_g AS DOUBLE) * s_g / n_g) AS ssw
            FROM per_grp
        )
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               a.n_g AS n_a, b.n_g AS n_b,
               CAST(round(CAST(a.s_g AS DOUBLE) / a.n_g
                          - CAST(b.s_g AS DOUBLE) / b.n_g, 6) AS DOUBLE)
                   AS mean_diff,
               CAST(round(sqrt((tot.ssw / (tot.n - tot.k)) * 0.5
                               * (1.0 / a.n_g + 1.0 / b.n_g)), 6) AS DOUBLE)
                   AS se_tukey,
               CAST(round((CAST(a.s_g AS DOUBLE) / a.n_g
                           - CAST(b.s_g AS DOUBLE) / b.n_g)
                          / sqrt((tot.ssw / (tot.n - tot.k)) * 0.5
                                 * (1.0 / a.n_g + 1.0 / b.n_g)), 6)
                    AS DOUBLE) AS q_stat
        FROM per_grp a JOIN per_grp b ON a.grp < b.grp
        CROSS JOIN tot
        ORDER BY grp_a, grp_b
    """,
)
def tukey_hsd_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons — the follow-up to
    anova_oneway_f that says WHICH arms differ: for every (a,b) pair
    of event types, the studentized statistic q = (x̄_a − x̄_b) /
    sqrt(MSW/2 · (1/n_a + 1/n_b)) with MSW = SSW/(N−k) pooled from
    all groups (the Tukey-Kramer unequal-n form).

    Determinism: group means are exact-integer quotients; SSW sums k
    per-group double terms (each a fixed expression of exact ints) —
    k=5 additions whose drift is ~1e-16 relative, vanishing in the
    round-6 ratio.

    Scale: one moment rollup, then a k×k/2 self-join on the 5-row
    group frame — the pairwise explosion happens at GROUP grain,
    never row grain.
    """
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    per_grp = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(F.col("event_type").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum(cents).cast("long").alias("s_g"),
            F.sum(cents * cents).cast("long").alias("q_g"),
        )
    )
    tot = per_grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(
            F.col("q_g").cast("double")
            - F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
        ).alias("ssw"),
    )
    a = per_grp.select(
        F.col("grp").alias("grp_a"), F.col("n_g").alias("n_a"),
        F.col("s_g").alias("s_a"),
    )
    b = per_grp.select(
        F.col("grp").alias("grp_b"), F.col("n_g").alias("n_b"),
        F.col("s_g").alias("s_b"),
    )
    diff = (
        F.col("s_a").cast("double") / F.col("n_a")
        - F.col("s_b").cast("double") / F.col("n_b")
    )
    se = F.sqrt(
        (F.col("ssw") / (F.col("n") - F.col("k")))
        * 0.5
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return (
        a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "grp_a", "grp_b", "n_a", "n_b",
            F.round(diff, 6).alias("mean_diff"),
            F.round(se, 6).alias("se_tukey"),
            F.round(diff / se, 6).alias("q_stat"),
        )
    )


@query(
    "kendall_tau_daily",
    category="ST6-rankcorr",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS y
            FROM events GROUP BY CAST(ts AS DATE)
        ), pairs AS (
            SELECT CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                   CAST(sum(CASE WHEN a.x = b.x AND a.y <> b.y
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                   CAST(sum(CASE WHEN a.y = b.y AND a.x <> b.x
                                 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
                   CAST(sum(CASE WHEN a.x = b.x AND a.y = b.y
                                 THEN 1 ELSE 0 END) AS BIGINT) AS txy,
                   CAST(count(*) AS BIGINT) AS n0
            FROM daily a JOIN daily b ON a.day < b.day
        )
        SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
               tx AS ties_x_only, ty AS ties_y_only, txy AS ties_both,
               CAST(round(CAST(c - d AS DOUBLE)
                          / sqrt(CAST(n0 - tx - txy AS DOUBLE)
                                 * (n0 - ty - txy)), 6) AS DOUBLE)
                   AS tau_b
        FROM pairs
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between the daily click and purchase count series —
    the rank-correlation companion to spearman_rank_correlation that
    handles ties exactly: τ_b = (C−D)/√((n₀−T_x)(n₀−T_y)) over all
    day pairs, with concordant/discordant/tie counts as plain
    conditional sums on the pair frame.

    Determinism: every count is an exact integer from integer
    comparisons; τ_b is one closed-form double expression.

    Scale: the O(days²) pair join runs on the CALENDAR-bounded daily
    frame (435 pairs for a month, ~66k for a year) — never on raw
    events; for multi-year series the O(n log n) merge-sort
    inversion count is the upgrade path, same output contract.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("y"),
    )
    a = daily.select(
        F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).agg(
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when((dx == 0) & (dy != 0), 1).otherwise(0))
        .cast("long").alias("tx"),
        F.sum(F.when((dy == 0) & (dx != 0), 1).otherwise(0))
        .cast("long").alias("ty"),
        F.sum(F.when((dx == 0) & (dy == 0), 1).otherwise(0))
        .cast("long").alias("txy"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    )
    return pairs.select(
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_x_only"),
        F.col("ty").alias("ties_y_only"),
        F.col("txy").alias("ties_both"),
        F.round(
            (F.col("c") - F.col("d")).cast("double")
            / F.sqrt(
                (F.col("n0") - F.col("tx") - F.col("txy")).cast("double")
                * (F.col("n0") - F.col("ty") - F.col("txy"))
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "mcnemar_paired_test",
    category="ST2-mcnemar",
    oracle="""
        WITH bounds AS (
            SELECT CAST(floor(epoch(min(ts))) AS BIGINT) // 86400 AS d0,
                   CAST(floor(epoch(max(ts))) AS BIGINT) // 86400 AS d1
            FROM events
        ), per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase'
                             AND CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 <= (b.d0 + b.d1) // 2
                            THEN 1 ELSE 0 END) AS y1,
                   max(CASE WHEN event_type = 'purchase'
                             AND CAST(floor(epoch(ts)) AS BIGINT) // 86400
                                 > (b.d0 + b.d1) // 2
                            THEN 1 ELSE 0 END) AS y2
            FROM events CROSS JOIN bounds b
            GROUP BY user_id
        ), cells AS (
            SELECT CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(y1 * y2) AS BIGINT) AS n11,
                   CAST(sum(y1 * (1 - y2)) AS BIGINT) AS n10,
                   CAST(sum((1 - y1) * y2) AS BIGINT) AS n01,
                   CAST(sum((1 - y1) * (1 - y2)) AS BIGINT) AS n00
            FROM per_user
        )
        SELECT n_users, n11, n10, n01, n00,
               CAST(round(CAST((abs(n10 - n01) - 1)
                               * (abs(n10 - n01) - 1) AS DOUBLE)
                          / nullif(n10 + n01, 0), 6) AS DOUBLE)
                   AS chi2_cc,
               (1000000 * (abs(n10 - n01) - 1) * (abs(n10 - n01) - 1)
                > 3841459 * (n10 + n01)) AS reject_5pct
        FROM cells
    """,
)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for paired binary outcomes: did each user
    purchase in the FIRST half of the observation span vs the SECOND
    half (the same subject measured twice — the pairing that makes an
    ordinary two-proportion z-test wrong)? Only the discordant cells
    matter: χ²_cc = (|b−c|−1)²/(b+c) with continuity correction,
    where b = converted-then-stopped, c = started-converting.

    Determinism: the split day is integer epoch-day midpoint; cells
    are exact integer counts; the 5% decision is the pure-integer
    cross-multiplication 10⁶(|b−c|−1)² > 3841459(b+c) — χ²₁ critical
    value 3.841459 at micro precision, no float ever decides.

    Scale: one aggregate per user (map-side combinable) off the fact
    scan with a 1-row bounds broadcast, then a 1-row census.
    """
    ev = load_table(spark, sf_dir, "events")
    day = (F.floor(F.unix_timestamp("ts")) / 86400).cast("long")
    bounds = ev.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    mid = (F.floor((F.col("d0") + F.col("d1")) / 2)).cast("long")
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (day <= mid), 1
                ).otherwise(0)
            ).alias("y1"),
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (day > mid), 1
                ).otherwise(0)
            ).alias("y2"),
        )
    )
    cells = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("y1") * F.col("y2")).cast("long").alias("n11"),
        F.sum(F.col("y1") * (1 - F.col("y2"))).cast("long").alias("n10"),
        F.sum((1 - F.col("y1")) * F.col("y2")).cast("long").alias("n01"),
        F.sum((1 - F.col("y1")) * (1 - F.col("y2"))).cast("long").alias("n00"),
    )
    d = F.abs(F.col("n10") - F.col("n01")) - 1
    return cells.select(
        "n_users", "n11", "n10", "n01", "n00",
        F.round(
            (d * d).cast("double")
            / F.nullif(F.col("n10") + F.col("n01"), F.lit(0)),
            6,
        ).alias("chi2_cc"),
        (
            F.lit(1000000) * d * d
            > F.lit(3841459) * (F.col("n10") + F.col("n01"))
        ).alias("reject_5pct"),
    )


@query(
    "cochran_armitage_trend",
    category="ST2-catrend",
    oracle="""
        WITH doses AS (
            SELECT CAST(hour(ts) AS BIGINT) // 6 AS g,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events
        ), per_g AS (
            SELECT g,
                   CAST(count(*) AS BIGINT) AS n_g,
                   CAST(sum(y) AS BIGINT) AS r_g
            FROM doses GROUP BY g
        ), tot AS (
            SELECT CAST(sum(n_g) AS BIGINT) AS n,
                   CAST(sum(r_g) AS BIGINT) AS r,
                   CAST(sum(g * r_g) AS BIGINT) AS sr,
                   CAST(sum(g * n_g) AS BIGINT) AS sn,
                   CAST(sum(g * g * n_g) AS BIGINT) AS sn2
            FROM per_g
        ), stat AS (
            SELECT n, r, sr, sn, sn2,
                   CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * sn / n AS t_num,
                   (CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
                       * (CAST(sn2 AS DOUBLE)
                          - CAST(sn AS DOUBLE) * sn / n) AS t_var
            FROM tot
        )
        SELECT p.g AS dose_group, p.n_g, p.r_g,
               CAST(round(CAST(p.r_g AS DOUBLE) / p.n_g, 6) AS DOUBLE)
                   AS prop,
               CAST(round(s.t_num * s.t_num / s.t_var, 6) AS DOUBLE)
                   AS z_squared,
               (s.t_num * s.t_num > 3.841459 * s.t_var) AS reject_5pct
        FROM per_g p CROSS JOIN stat s
        ORDER BY p.g
    """,
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is purchase propensity MONOTONE
    in time-of-day? Ordered dose groups are the four 6-hour dayparts
    (scores 0..3); the statistic T = Σs·r − p̄·Σs·n against its null
    variance p̄(1−p̄)(Σs²n − (Σsn)²/N) — the dose-response test a
    plain k-group χ² cannot express because it ignores group order.

    Determinism: every margin (N, R, Σs·r, Σs·n, Σs²·n) is an exact
    integer from one census; T and Var are shared-text double
    expressions over them; the 5% decision compares T² > 3.841459·Var
    — both sides identical doubles on both engines.

    Scale: one map-side-combinable census to 4 rows; everything after
    is 1-row algebra cross-joined back for display.
    """
    ev = load_table(spark, sf_dir, "events")
    doses = ev.select(
        (F.hour("ts") / 6).cast("long").alias("g"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    per_g = doses.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("r_g"),
    )
    tot = per_g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("r_g").cast("long").alias("r"),
        F.sum(F.col("g") * F.col("r_g")).cast("long").alias("sr"),
        F.sum(F.col("g") * F.col("n_g")).cast("long").alias("sn"),
        F.sum(F.col("g") * F.col("g") * F.col("n_g")).cast("long").alias("sn2"),
    )
    stat = tot.select(
        F.expr(
            "CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * sn / n"
        ).alias("t_num"),
        F.expr(
            "(CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)"
            " * (CAST(sn2 AS DOUBLE) - CAST(sn AS DOUBLE) * sn / n)"
        ).alias("t_var"),
    )
    return (
        per_g.crossJoin(F.broadcast(stat))
        .select(
            F.col("g").alias("dose_group"),
            "n_g", "r_g",
            F.round(F.col("r_g").cast("double") / F.col("n_g"), 6).alias(
                "prop"
            ),
            F.round(
                F.col("t_num") * F.col("t_num") / F.col("t_var"), 6
            ).alias("z_squared"),
            (
                F.col("t_num") * F.col("t_num") > 3.841459 * F.col("t_var")
            ).alias("reject_5pct"),
        )
    )


@query(
    "trimmed_mean_by_type",
    category="ST2-trimmed",
    oracle=f"""
        WITH base AS (
            SELECT event_type, event_id, {_CENTS} AS cents
            FROM events WHERE value IS NOT NULL
        ), ranked AS (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM base
        ), bounds AS (
            SELECT event_type, cents, rn, n,
                   CAST(n // 10 AS BIGINT) AS k
            FROM ranked
        ), lohi AS (
            SELECT event_type,
                   max(CASE WHEN rn = k + 1 THEN cents END) AS lo_c,
                   max(CASE WHEN rn = n - k THEN cents END) AS hi_c
            FROM bounds GROUP BY event_type
        )
        SELECT b.event_type,
               CAST(max(b.n) AS BIGINT) AS n,
               CAST(max(b.k) AS BIGINT) AS k_trim,
               CAST(round(CAST(sum(CASE WHEN b.rn > b.k AND b.rn <= b.n - b.k
                                        THEN b.cents END) AS DOUBLE)
                          / (max(b.n) - 2 * max(b.k)) / 100.0, 6)
                    AS DOUBLE) AS trimmed_mean,
               CAST(round(CAST(sum(CASE
                        WHEN b.rn <= b.k THEN l.lo_c
                        WHEN b.rn > b.n - b.k THEN l.hi_c
                        ELSE b.cents END) AS DOUBLE)
                          / max(b.n) / 100.0, 6) AS DOUBLE)
                   AS winsorized_mean
        FROM bounds b JOIN lohi l ON l.event_type = b.event_type
        GROUP BY b.event_type ORDER BY b.event_type
    """,
)
def trimmed_mean_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% two-sided trimmed and winsorized means per channel by
    EXACT order statistics: rank the cents under a (cents, event_id)
    total order, drop (trim) or clamp (winsorize) the bottom/top
    k = ⌊n/10⌋ rows — the robust location estimates that survive the
    heavy-tailed junk a plain mean drowns in, with the trim boundary
    pinned by rank, not by an interpolated percentile.

    Determinism: ranks are exact under the total order; both means
    are single divisions of integer cent sums.

    Scale: one rank window per channel (range-partitioned sort), the
    clamp values join back as a k-row broadcast, one aggregate.
    """
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", "event_id",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    ranked = base.select(
        "event_type", "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    bounds = ranked.withColumn("k", F.floor(F.col("n") / 10).cast("long"))
    lohi = bounds.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))).alias(
            "lo_c"
        ),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("cents")))
        .alias("hi_c"),
    )
    joined = bounds.join(F.broadcast(lohi), "event_type")
    return (
        joined.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("k").cast("long").alias("k_trim"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("rn") > F.col("k"))
                        & (F.col("rn") <= F.col("n") - F.col("k")),
                        F.col("cents"),
                    )
                ).cast("double")
                / (F.max("n") - 2 * F.max("k"))
                / 100.0,
                6,
            ).alias("trimmed_mean"),
            F.round(
                F.sum(
                    F.when(F.col("rn") <= F.col("k"), F.col("lo_c"))
                    .when(F.col("rn") > F.col("n") - F.col("k"), F.col("hi_c"))
                    .otherwise(F.col("cents"))
                ).cast("double")
                / F.max("n")
                / 100.0,
                6,
            ).alias("winsorized_mean"),
        )
    )


@query(
    "hodges_lehmann_location",
    category="ST2-hodges",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), pairs AS (
            SELECT a.event_type, a.x + b.x AS s2
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.day <= b.day
        ), ranked AS (
            SELECT event_type, s2,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY s2) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS m
            FROM pairs
        )
        SELECT event_type,
               CAST(max(m) AS BIGINT) AS n_pairs,
               CAST(round(CAST(sum(CASE WHEN rn = (m + 1) // 2
                                          OR rn = m // 2 + 1
                                        THEN s2 END) AS DOUBLE)
                          / (CASE WHEN max(m) % 2 = 0 THEN 4.0
                                  ELSE 2.0 END), 6) AS DOUBLE)
                   AS hl_estimate
        FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def hodges_lehmann_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann location estimate of daily volume per channel:
    the median of all pairwise (Walsh) averages (x_i+x_j)/2, i ≤ j —
    the rank-based robust location with ~95% Gaussian efficiency
    (vs the median's 64%), the estimator behind the Wilcoxon
    signed-rank interval.

    Determinism: Walsh averages are carried DOUBLED (integer pair
    sums); the midrank pick sums the one or two middle order
    statistics by exact rank and divides once — no interpolation.

    Scale: pairs at CALENDAR grain — (days²)/2 per channel after one
    rollup; never a pair join over raw events (the theil_sen
    contract applied to location).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day") <= F.col("b.day")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (F.col("a.x") + F.col("b.x")).alias("s2"),
    )
    ranked = pairs.select(
        "event_type", "s2",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("s2"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("m"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.round(
                F.sum(
                    F.when(
                        (F.col("rn") == F.floor((F.col("m") + 1) / 2))
                        | (F.col("rn") == F.floor(F.col("m") / 2) + 1),
                        F.col("s2"),
                    )
                ).cast("double")
                / F.when(F.max("m") % 2 == 0, 4.0).otherwise(2.0),
                6,
            ).alias("hl_estimate"),
        )
    )


@query(
    "poisson_dispersion_test",
    category="ST2-dispersion",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), mom AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM daily GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(round(CAST(sx AS DOUBLE) / n, 6) AS DOUBLE) AS mean_daily,
               CAST(round(CAST(n * sxx - sx * sx AS DOUBLE) / sx / (n - 1),
                          6) AS DOUBLE) AS dispersion_index,
               CAST(round(CAST(n * sxx - sx * sx AS DOUBLE) / sx, 6)
                    AS DOUBLE) AS chi2_stat,
               (CAST(n * sxx - sx * sx AS DOUBLE) / sx
                > (n - 1) + 2.0 * sqrt(2.0 * (n - 1))) AS overdispersed
        FROM mom ORDER BY event_type
    """,
)
def poisson_dispersion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson dispersion (index-of-dispersion) test on daily counts:
    D = (n−1)s²/x̄ = (nΣx² − (Σx)²)/Σx is χ²_{n−1} under a Poisson
    process; D/(n−1) ≫ 1 means the channel is OVERDISPERSED (bursty,
    negative-binomial-like) and every Poisson-assuming alert
    threshold on it is mis-calibrated — the sanity check that should
    precede the HMM burst filter's λ-based model.

    Determinism: the statistic is exactly (n·Σx² − Σx²)/Σx — one
    division of integers; the verdict compares against the normal
    approximation cut n−1 + 2√(2(n−1)) in shared-text doubles.

    Scale: one rollup + one moment aggregate per channel; 5 rows out.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    chi2 = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / F.col("sx")
    )
    return mom.select(
        "event_type", "n",
        F.round(F.col("sx").cast("double") / F.col("n"), 6).alias(
            "mean_daily"
        ),
        F.round(chi2 / (F.col("n") - 1), 6).alias("dispersion_index"),
        F.round(chi2, 6).alias("chi2_stat"),
        (
            chi2 > (F.col("n") - 1) + 2.0 * F.sqrt(2.0 * (F.col("n") - 1))
        ).alias("overdispersed"),
    )


# Beta method-of-moments from ppm-quantized per-user rates:
# m, v in rate units; common = m(1-m)/v - 1; alpha/beta = m,1-m x common
_EB_M = "(CAST(s1 AS DOUBLE) / u / 1000000.0)"
_EB_V = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / u)"
    " / (u - 1) / 1000000.0 / 1000000.0)"
)
_EB_COMMON = f"({_EB_M} * (1.0 - {_EB_M}) / {_EB_V} - 1.0)"


@query(
    "empirical_bayes_shrinkage",
    category="ST2-ebayes",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ), quant AS (
            SELECT user_id, n, x,
                   (x * 1000000) // n AS r_ppm
            FROM per_user
        ), mom AS (
            SELECT CAST(count(*) AS BIGINT) AS u,
                   CAST(sum(r_ppm) AS BIGINT) AS s1,
                   CAST(sum(r_ppm * r_ppm) AS BIGINT) AS s2
            FROM quant
        ), prior AS (
            SELECT u,
                   {_EB_M} * {_EB_COMMON} AS alpha,
                   (1.0 - {_EB_M}) * {_EB_COMMON} AS beta
            FROM mom
        )
        SELECT q.user_id, q.n, q.x,
               CAST(round(CAST(q.r_ppm AS DOUBLE) / 1000000.0, 6)
                    AS DOUBLE) AS raw_rate,
               CAST(round((q.x + p.alpha) / (q.n + p.alpha + p.beta), 6)
                    AS DOUBLE) AS shrunk_rate,
               CAST(round(p.alpha, 6) AS DOUBLE) AS prior_alpha,
               CAST(round(p.beta, 6) AS DOUBLE) AS prior_beta
        FROM quant q CROSS JOIN prior p
        ORDER BY q.user_id
    """,
)
def empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-user purchase rates (the
    James-Stein / batting-average construction): fit a Beta prior to
    the population by method of moments, then shrink every user's
    raw rate toward it as (x+α)/(n+α+β) — low-volume users pull hard
    to the prior, high-volume users keep their own rate. The
    estimator behind every "new seller rating" and sparse-segment
    CTR problem.

    Determinism: per-user rates are quantized to exact integer ppm
    (x·10⁶ DIV n) so the population moments are INTEGER sums — no
    float accumulation order anywhere; α/β and the shrunk rates are
    shared-text double expressions over those integers.

    Scale: one per-user aggregate off the scan; the prior is a 1-row
    broadcast back onto the user frame. (The user frame is derived
    twice — prior + display — each collapsing at the groupBy; at
    100 TB persist the per-user frame or derive the prior from a
    sample.)
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("x"),
    )
    quant = per_user.withColumn("r_ppm", F.expr("(x * 1000000) DIV n"))
    mom = quant.agg(
        F.count(F.lit(1)).cast("long").alias("u"),
        F.sum("r_ppm").cast("long").alias("s1"),
        F.sum(F.col("r_ppm") * F.col("r_ppm")).cast("long").alias("s2"),
    )
    prior = mom.select(
        F.expr(f"{_EB_M} * {_EB_COMMON}").alias("alpha"),
        F.expr(f"(1.0 - {_EB_M}) * {_EB_COMMON}").alias("beta"),
    )
    return (
        quant.crossJoin(F.broadcast(prior))
        .select(
            "user_id", "n", "x",
            F.round(F.col("r_ppm").cast("double") / 1000000.0, 6).alias(
                "raw_rate"
            ),
            F.round(
                (F.col("x") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
            F.round("alpha", 6).alias("prior_alpha"),
            F.round("beta", 6).alias("prior_beta"),
        )
    )


@query(
    "mann_kendall_trend",
    category="ST2-mannkendall",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), s AS (
            SELECT a.event_type,
                   CAST(sum(CASE WHEN b.x > a.x THEN 1
                                 WHEN b.x < a.x THEN -1 ELSE 0 END)
                        AS BIGINT) AS s_stat
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.day < b.day
            GROUP BY a.event_type
        ), nn AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type
        ), ties AS (
            SELECT event_type,
                   CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                        AS BIGINT) AS tie_term
            FROM (SELECT event_type, count(*) AS t
                  FROM daily GROUP BY event_type, x)
            GROUP BY event_type
        ), stat AS (
            SELECT s.event_type, s.s_stat, nn.n,
                   nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                       AS var18
            FROM s JOIN nn ON nn.event_type = s.event_type
            JOIN ties ON ties.event_type = s.event_type
        )
        SELECT event_type, n, s_stat,
               CAST(round(CASE WHEN s_stat > 0 THEN
                       (CAST(s_stat AS DOUBLE) - 1)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    WHEN s_stat < 0 THEN
                       (CAST(s_stat AS DOUBLE) + 1)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    ELSE 0.0 END, 6) AS DOUBLE) AS z,
               CASE WHEN 18000000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                         > 3841459 * var18 AND s_stat > 0
                    THEN 'increasing'
                    WHEN 18000000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                         > 3841459 * var18 AND s_stat < 0
                    THEN 'decreasing'
                    ELSE 'no_trend' END AS verdict
        FROM stat ORDER BY event_type
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on each channel's daily
    counts: S = Σ_{i<j} sign(x_j − x_i), tie-corrected variance
    (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18, continuity-corrected Z — the
    distribution-free trend detector (no linearity or normality
    assumed) that pairs with theil_sen_daily_slope exactly as in the
    hydrology literature: MK answers IS there a trend, Sen's slope
    answers how steep.

    Determinism: S, the tie term, and the ×18 variance numerator are
    exact integers (pairs at CALENDAR grain — days², never raw
    rows); the 5% verdict is the pure-integer cross-multiplication
    18·10⁶(|S|−1)² > 3841459·var18, so no float decides the label.

    Scale: one rollup, one bounded day-pair join per channel, three
    k-row aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ).cast("long").alias("s_stat")
        )
    )
    nn = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).cast("long").alias("tie_term")
        )
    )
    stat = (
        s.join(F.broadcast(nn), "event_type")
        .join(F.broadcast(ties), "event_type")
        .withColumn(
            "var18",
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tie_term"),
        )
    )
    sd = F.sqrt(F.col("var18").cast("double") / 18.0)
    reject = (
        18000000
        * (F.abs(F.col("s_stat")) - 1)
        * (F.abs(F.col("s_stat")) - 1)
        > 3841459 * F.col("var18")
    )
    return stat.select(
        "event_type", "n", "s_stat",
        F.round(
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat").cast("double") - 1) / sd,
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat").cast("double") + 1) / sd,
            )
            .otherwise(0.0),
            6,
        ).alias("z"),
        F.when(reject & (F.col("s_stat") > 0), "increasing")
        .when(reject & (F.col("s_stat") < 0), "decreasing")
        .otherwise("no_trend")
        .alias("verdict"),
    )


@query(
    "energy_distance_pairs",
    category="ST2-energy",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), cross_ab AS (
            SELECT a.event_type AS ta, b.event_type AS tb,
                   CAST(count(*) AS BIGINT) AS nm,
                   CAST(sum(abs(a.x - b.x)) AS BIGINT) AS s_ab
            FROM daily a JOIN daily b ON a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        ), within AS (
            SELECT a.event_type AS t,
                   CAST(count(*) AS BIGINT) AS nn,
                   CAST(sum(abs(a.x - b.x)) AS BIGINT) AS s_xx
            FROM daily a JOIN daily b ON a.event_type = b.event_type
            GROUP BY a.event_type
        ), sizes AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM daily GROUP BY event_type
        )
        SELECT c.ta, c.tb,
               CAST(round(2.0 * c.s_ab / c.nm
                          - CAST(wa.s_xx AS DOUBLE) / (za.n * za.n)
                          - CAST(wb.s_xx AS DOUBLE) / (zb.n * zb.n), 6)
                    AS DOUBLE) AS energy_distance,
               CAST(round(2.0 * c.s_ab / c.nm, 6) AS DOUBLE) AS cross_mean,
               CAST(round(CAST(wa.s_xx AS DOUBLE) / (za.n * za.n), 6)
                    AS DOUBLE) AS within_a,
               CAST(round(CAST(wb.s_xx AS DOUBLE) / (zb.n * zb.n), 6)
                    AS DOUBLE) AS within_b
        FROM cross_ab c
        JOIN within wa ON wa.t = c.ta
        JOIN within wb ON wb.t = c.tb
        JOIN sizes za ON za.event_type = c.ta
        JOIN sizes zb ON zb.event_type = c.tb
        ORDER BY c.ta, c.tb
    """,
)
def energy_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between every pair of channels' daily-count
    distributions: E(A,B) = 2·E|X−Y| − E|X−X′| − E|Y−Y′| (Székely's
    statistical energy — zero iff the distributions are equal,
    sensitive to ANY difference, not just location like a t-test or
    crossings like KS) — the modern two-sample workhorse behind
    energy tests and distance correlation.

    Determinism: every Σ|x−y| is an exact integer over calendar-grain
    pairs (days², bounded); the three expectation terms divide once
    each and are emitted separately so the decomposition is
    inspectable.

    Scale: one rollup, then within- and cross-channel day-pair joins
    at calendar grain — never raw-row pairs; sizes broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    cross_ab = (
        a.join(b, F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("nm"),
            F.sum(F.abs(F.col("a.x") - F.col("b.x")))
            .cast("long").alias("s_ab"),
        )
    )
    within = (
        a.join(b, F.col("a.event_type") == F.col("b.event_type"))
        .groupBy(F.col("a.event_type").alias("t"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("nn"),
            F.sum(F.abs(F.col("a.x") - F.col("b.x")))
            .cast("long").alias("s_xx"),
        )
    )
    sizes = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wa = within.select(F.col("t").alias("ta"), F.col("s_xx").alias("s_a"))
    wb = within.select(F.col("t").alias("tb"), F.col("s_xx").alias("s_b"))
    za = sizes.select(F.col("event_type").alias("ta"), F.col("n").alias("n_a"))
    zb = sizes.select(F.col("event_type").alias("tb"), F.col("n").alias("n_b"))
    cross_mean = 2.0 * F.col("s_ab") / F.col("nm")
    win_a = F.col("s_a").cast("double") / (F.col("n_a") * F.col("n_a"))
    win_b = F.col("s_b").cast("double") / (F.col("n_b") * F.col("n_b"))
    return (
        cross_ab.join(F.broadcast(wa), "ta")
        .join(F.broadcast(wb), "tb")
        .join(F.broadcast(za), "ta")
        .join(F.broadcast(zb), "tb")
        .select(
            "ta", "tb",
            F.round(cross_mean - win_a - win_b, 6).alias("energy_distance"),
            F.round(cross_mean, 6).alias("cross_mean"),
            F.round(win_a, 6).alias("within_a"),
            F.round(win_b, 6).alias("within_b"),
        )
    )


@query(
    "gini_mean_difference_daily",
    category="ST2-gmd",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), within AS (
            SELECT a.event_type,
                   CAST(sum(abs(a.x - b.x)) AS BIGINT) AS s_xx
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.day <> b.day
            GROUP BY a.event_type
        ), mom AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx
            FROM daily GROUP BY event_type
        )
        SELECT m.event_type, m.n,
               CAST(round(CAST(m.sx AS DOUBLE) / m.n, 6) AS DOUBLE)
                   AS mean_daily,
               CAST(round(CAST(w.s_xx AS DOUBLE) / (m.n * (m.n - 1)), 6)
                    AS DOUBLE) AS gini_mean_diff,
               CAST(round(CAST(w.s_xx AS DOUBLE) * m.n
                          / (m.n * (m.n - 1)) / (2.0 * m.sx), 6)
                    AS DOUBLE) AS gini_coefficient
        FROM mom m JOIN within w ON w.event_type = m.event_type
        ORDER BY m.event_type
    """,
)
def gini_mean_difference_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference and Gini coefficient of each channel's
    daily volume: GMD = E|X−X′| (the dispersion measure that, unlike
    σ, is finite-sample robust and the building block of
    energy_distance_pairs' within terms) and G = GMD/(2μ) — volume
    inequality across days, the day-to-day burstiness one-number
    summary.

    Determinism: Σ|x−x′| is an exact integer over calendar-grain
    pairs; GMD and G divide once each, shared text.

    Scale: one rollup + one within-channel day-pair join (days² per
    channel, bounded) + a per-channel moment aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.day") != F.col("b.day")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.abs(F.col("a.x") - F.col("b.x")))
            .cast("long").alias("s_xx")
        )
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    gmd = F.col("s_xx").cast("double") / (F.col("n") * (F.col("n") - 1))
    return (
        mom.join(F.broadcast(within), "event_type")
        .select(
            "event_type", "n",
            F.round(F.col("sx").cast("double") / F.col("n"), 6).alias(
                "mean_daily"
            ),
            F.round(gmd, 6).alias("gini_mean_diff"),
            F.round(
                F.col("s_xx").cast("double")
                * F.col("n")
                / (F.col("n") * (F.col("n") - 1))
                / (2.0 * F.col("sx")),
                6,
            ).alias("gini_coefficient"),
        )
    )


# Engine-shared Fisher log-pmf text: hypergeometric ln pmf(k) from
# nine log-factorial lookups (group-constant lf_* joined once, the
# four k-dependent ones joined per term). Identical doubles on both
# engines because every lf input is the same requantized-ln prefix
# sum and the +/- order is this exact text.
_FISHER_LP = (
    "((lf_r1 - lf_k - lf_r1k) + (lf_r2 - lf_c1k - lf_r2c1k)"
    " - (lf_n - lf_c1 - lf_nc1))"
)


@query(
    "fisher_exact_weekend_value",
    category="ST2-fisher",
    oracle=f"""
        WITH tagged AS (
            SELECT event_type,
                   CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS wk,
                   CASE WHEN value > 50 THEN 1 ELSE 0 END AS hi
            FROM events
        ), tab AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(wk) AS BIGINT) AS r1,
                   CAST(sum(hi) AS BIGINT) AS c1,
                   CAST(sum(wk * hi) AS BIGINT) AS a
            FROM tagged GROUP BY event_type
        ), lnv AS (
            SELECT i, CASE WHEN i <= 1 THEN 0.0
                           ELSE round(ln(CAST(i AS DOUBLE)), 6) END AS lv
            FROM (SELECT unnest(generate_series(0,
                       (SELECT max(n) FROM tab))) AS i)
        ), lf AS (
            SELECT i, sum(lv) OVER (ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lf
            FROM lnv
        ), terms AS (
            SELECT t.event_type, t.n, t.r1, t.c1, t.a,
                   t.a + ks.k AS k,
                   least(t.r1, t.c1) AS kmax
            FROM tab t CROSS JOIN
                 (SELECT unnest(generate_series(0,
                      (SELECT CAST(max(least(r1, c1)) AS BIGINT) FROM tab)))
                  AS k) ks
            WHERE t.a + ks.k <= least(t.r1, t.c1)
        ), lp AS (
            SELECT m.event_type, m.n, m.r1, m.c1, m.a, m.k, m.kmax,
                   {_FISHER_LP} AS lp
            FROM (
                SELECT tm.*,
                       fr1.lf AS lf_r1, fk.lf AS lf_k, fr1k.lf AS lf_r1k,
                       fr2.lf AS lf_r2, fc1k.lf AS lf_c1k,
                       fr2c.lf AS lf_r2c1k,
                       fn.lf AS lf_n, fc1.lf AS lf_c1, fnc.lf AS lf_nc1
                FROM terms tm
                JOIN lf fr1 ON fr1.i = tm.r1
                JOIN lf fk ON fk.i = tm.k
                JOIN lf fr1k ON fr1k.i = tm.r1 - tm.k
                JOIN lf fr2 ON fr2.i = tm.n - tm.r1
                JOIN lf fc1k ON fc1k.i = tm.c1 - tm.k
                JOIN lf fr2c ON fr2c.i = tm.n - tm.r1 - tm.c1 + tm.k
                JOIN lf fn ON fn.i = tm.n
                JOIN lf fc1 ON fc1.i = tm.c1
                JOIN lf fnc ON fnc.i = tm.n - tm.c1
            ) m
        ), shifted AS (
            SELECT event_type, n, r1, c1, a, k, kmax, lp,
                   max(lp) OVER (PARTITION BY event_type) AS lpmax
            FROM lp
        ), summed AS (
            SELECT event_type, n, r1, c1, a, k, kmax, lp, lpmax,
                   sum(round(exp(lp - lpmax), 6)) OVER (
                       PARTITION BY event_type ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS s,
                   max(CASE WHEN k = a THEN lp END) OVER (
                       PARTITION BY event_type) AS lp_obs
            FROM shifted
        )
        SELECT event_type, n, r1 AS n_weekend, c1 AS n_high, a AS n_both,
               kmax, CAST(kmax - a + 1 AS BIGINT) AS n_terms,
               CAST(round(lp_obs, 6) AS DOUBLE) AS log_pmf_observed,
               CAST(round(exp(lpmax) * s, 6) AS DOUBLE) AS p_upper
        FROM summed
        WHERE k = kmax
        ORDER BY event_type
    """,
)
def fisher_exact_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher EXACT one-sided test per channel: is a high-value event
    (value > 50) MORE likely on weekends? p = P(X ≥ a) under the
    hypergeometric null with the observed margins — the exact
    inference every 2×2 chi-square approximates, computed entirely
    in-engine in log space (the NEXT.md 'Fisher exact via log-space
    requantized terms' plan).

    Float discipline: ln k! is a PREFIX SUM of per-integer
    round6(ln i) — a sequential left-to-right fold, bit-identical
    across engines per the pinned-order house trick; each tail term
    exp(lp − lpmax) is requantized to 6 dp before the prefix-ordered
    tail sum; the only unrounded libm calls (exp) feed immediately
    into round6 outputs, the accepted convention for log/exp columns.
    Every decision (margins, k-range) is integer.

    Scale: the facts collapse to a |channels| contingency census in
    one hash aggregate; the log-factorial table is max(n) rows built
    from a sequence (no data shuffle) and joined to ~Σ(kmax−a) tail
    terms — thousands of rows per channel at sf0.1, bounded by the
    smaller margin, never by the fact count. At 100 TB only the
    census pass touches the data.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        F.dayofweek("ts").isin(1, 7).cast("long").alias("wk"),
        (F.col("value") > 50).cast("long").alias("hi"),
    )
    tab = tagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("wk").cast("long").alias("r1"),
        F.sum("hi").cast("long").alias("c1"),
        F.sum(F.col("wk") * F.col("hi")).cast("long").alias("a"),
    ).persist()  # census feeds the lf-range agg AND the terms frame
    nmax = tab.agg(F.max("n").alias("nmax"))
    lnv = nmax.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("nmax"))).alias("i")
    ).select(
        "i",
        F.when(F.col("i") <= 1, 0.0)
        .otherwise(F.round(F.log(F.col("i").cast("double")), 6))
        .alias("lv"),
    )
    # bounded unpartitioned prefix window: max(n)+1 rows of the ln
    # table, sequential by construction (the cross-engine contract)
    lf = lnv.select(
        "i",
        F.sum("lv")
        .over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
        .alias("lf"),
    ).persist()  # 9 lookup joins read this tiny frame
    kspan = tab.agg(
        F.max(F.least("r1", "c1")).cast("long").alias("kspan")
    )
    terms = (
        tab.join(F.broadcast(kspan))
        .select(
            "event_type", "n", "r1", "c1", "a",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("kspan"))
            ).alias("dk"),
            F.least("r1", "c1").alias("kmax"),
        )
        .withColumn("k", F.col("a") + F.col("dk"))
        .filter(F.col("k") <= F.col("kmax"))
        .drop("dk")
    )

    def look(alias_, key_expr):
        return (
            F.broadcast(lf.select(F.col("i").alias(f"_i_{alias_}"),
                                  F.col("lf").alias(alias_))),
            F.expr(key_expr) == F.col(f"_i_{alias_}"),
        )

    m = terms
    for alias_, key in [
        ("lf_r1", "r1"), ("lf_k", "k"), ("lf_r1k", "r1 - k"),
        ("lf_r2", "n - r1"), ("lf_c1k", "c1 - k"),
        ("lf_r2c1k", "n - r1 - c1 + k"), ("lf_n", "n"),
        ("lf_c1", "c1"), ("lf_nc1", "n - c1"),
    ]:
        frame, cond = look(alias_, key)
        m = m.join(frame, cond).drop(f"_i_{alias_}")
    lp = m.select(
        "event_type", "n", "r1", "c1", "a", "k", "kmax",
        F.expr(_FISHER_LP).alias("lp"),
    )
    wmax = Window.partitionBy("event_type")
    wsum = (
        Window.partitionBy("event_type")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    summed = lp.select(
        "event_type", "n", "r1", "c1", "a", "k", "kmax", "lp",
        F.max("lp").over(wmax).alias("lpmax"),
        F.sum(
            F.round(F.exp(F.col("lp") - F.max("lp").over(wmax)), 6)
        ).over(wsum).alias("s"),
        F.max(F.when(F.col("k") == F.col("a"), F.col("lp"))).over(wmax)
        .alias("lp_obs"),
    )
    return (
        summed.filter(F.col("k") == F.col("kmax"))
        .select(
            "event_type", "n",
            F.col("r1").alias("n_weekend"),
            F.col("c1").alias("n_high"),
            F.col("a").alias("n_both"),
            "kmax",
            (F.col("kmax") - F.col("a") + 1).cast("long").alias("n_terms"),
            F.round(F.col("lp_obs"), 6).alias("log_pmf_observed"),
            F.round(F.exp(F.col("lpmax")) * F.col("s"), 6).alias("p_upper"),
        )
    )


@query(
    "theilsen_robust_trend",
    category="FC-stats",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
                       AS x,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), slopes AS (
            SELECT a.event_type,
                   (b.y - a.y) * 1.0 / (b.x - a.x) AS s
            FROM daily a JOIN daily b
              ON a.event_type = b.event_type AND a.x < b.x
        ), ts AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
                   quantile_cont(s, 0.5) AS ts_slope
            FROM slopes GROUP BY event_type
        ), resid AS (
            SELECT d.event_type,
                   quantile_cont(d.y - t.ts_slope * d.x, 0.5)
                       AS ts_intercept
            FROM daily d JOIN ts t ON d.event_type = t.event_type
            GROUP BY d.event_type
        ), ols AS (
            SELECT event_type, regr_slope(y, x) AS ols_slope
            FROM daily GROUP BY event_type
        )
        SELECT t.event_type, t.n_pairs,
               CAST(round(t.ts_slope, 6) AS DOUBLE) AS ts_slope,
               CAST(round(r.ts_intercept, 6) AS DOUBLE) AS ts_intercept,
               CAST(round(o.ols_slope, 6) AS DOUBLE) AS ols_slope
        FROM ts t
        JOIN resid r ON t.event_type = r.event_type
        JOIN ols o ON t.event_type = o.event_type
        ORDER BY t.event_type
    """,
)
def theilsen_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per channel: the slope estimate is the
    MEDIAN of all pairwise day-count slopes (breakdown point 29%,
    insensitive to the outlier days that drag OLS around), intercept
    = median residual at that slope; the OLS slope rides along as the
    sensitivity contrast. Slopes are exact-integer differences
    divided once in double, so both engines materialize bit-identical
    slope multisets before the interpolated median
    (Spark percentile == DuckDB quantile_cont).

    Scale: the pairwise join is PER CHANNEL (equi on event_type,
    co-partitioned) over daily rollups — C(days, 2) pairs per
    channel, bounded by the rollup not the event volume; at very long
    histories use the repeated-median or Siegel variant on windowed
    chunks. One shuffle builds daily; everything downstream joins
    tiny per-channel frames (broadcast).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .persist()  # feeds the pair join (both sides), resid, and OLS
    )
    a = daily.select("event_type", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select("event_type", F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("xa") < F.col("xb"))
        .select(
            "event_type",
            ((F.col("yb") - F.col("ya")) * 1.0 / (F.col("xb") - F.col("xa"))).alias("s"),
        )
    )
    ts = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.percentile("s", F.lit(0.5)).alias("ts_slope"),
    )
    resid = (
        daily.join(F.broadcast(ts.select("event_type", "ts_slope")), "event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(
                F.col("y") - F.col("ts_slope") * F.col("x"), F.lit(0.5)
            ).alias("ts_intercept")
        )
    )
    ols = daily.groupBy("event_type").agg(
        F.regr_slope("y", "x").alias("ols_slope")
    )
    return (
        ts.join(F.broadcast(resid), "event_type")
        .join(F.broadcast(ols), "event_type")
        .select(
            "event_type", "n_pairs",
            F.round("ts_slope", 6).alias("ts_slope"),
            F.round("ts_intercept", 6).alias("ts_intercept"),
            F.round("ols_slope", 6).alias("ols_slope"),
        )
    )


@query(
    "kaplan_meier_conversion_survival",
    category="FC-survival",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(CAST(min(CASE WHEN event_type = 'purchase'
                                      THEN ts END) AS DATE)
                        - CAST(min(ts) AS DATE) AS BIGINT) AS pd
            FROM events GROUP BY user_id
        ), subj AS (
            -- 7-day administrative censoring: no purchase inside the
            -- study window = censored exposure of 7 days, event 0
            SELECT CASE WHEN pd IS NULL OR pd > 7 THEN 7 ELSE pd END
                       AS dur,
                   CASE WHEN pd IS NULL OR pd > 7 THEN 0 ELSE 1 END
                       AS ev
            FROM u
        ), tbl AS (
            SELECT dur AS t, CAST(sum(ev) AS BIGINT) AS d
            FROM subj GROUP BY dur
        ), risk AS (
            SELECT t, d,
                   CAST((SELECT count(*) FROM subj s WHERE s.dur >= t)
                        AS BIGINT) AS n
            FROM tbl
        )
        SELECT t AS day, n AS n_risk, d AS n_converted,
               -- d = n at the largest event day drives S to EXACTLY 0
               -- (ln(0) raises in DuckDB and NULLs in Spark): guard
               -- the term and zero via the cumulative d=n flag
               CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END)
                         OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) = 1
                    THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(round(exp(sum(
                             CASE WHEN d < n
                                  THEN ln(1.0 - d * 1.0 / n)
                                  ELSE 0.0 END)
                              OVER (ORDER BY t
                                    ROWS UNBOUNDED PRECEDING)), 6)
                         AS DOUBLE) END AS s_hat
        FROM risk
        WHERE d > 0
        ORDER BY day
    """,
)
def kaplan_meier_conversion_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier product-limit estimate of TIME TO FIRST PURCHASE
    with right-censoring: a user with no purchase within 7 days of
    their first event is CENSORED at 7 (they contribute exposure to
    every risk set they survive through, but no conversion event) —
    the distinction a naive mean-days-to-convert gets wrong, and the
    estimator survival analysis exists for. S(t) = prod over event
    days u <= t of (1 - d_u / n_u) with n_u = subjects still at risk
    (duration >= u), so S is the probability of remaining
    UNCONVERTED past day t.

    Computed as exp(cumulative sum of ln(1 - d/n)) over the risk
    table ordered by day — the float path is a window-pinned sum on
    both engines. The risk table is bounded by the study window (<= 8
    rows), so its global window is metadata-scale; the data work is
    one per-user groupBy. Log-rank cohort comparison and
    Nelson-Aalen reuse this exact table.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.datediff(
            F.to_date(
                F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            ),
            F.to_date(F.min("ts")),
        )
        .cast("long")
        .alias("pd")
    )
    subj = u.select(
        F.when(F.col("pd").isNull() | (F.col("pd") > 7), F.lit(7))
        .otherwise(F.col("pd"))
        .alias("dur"),
        F.when(F.col("pd").isNull() | (F.col("pd") > 7), F.lit(0))
        .otherwise(F.lit(1))
        .alias("ev"),
    ).persist()  # feeds the event table and the risk-set threshold join
    tbl = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").cast("long").alias("d")
    )
    durs = subj.select(F.col("dur").alias("dur2"))
    # broadcast the BOUNDED side (the <=8-row risk table) under the
    # theta join; the per-user durations frame streams through it
    risk = (
        durs.join(F.broadcast(tbl), F.col("dur2") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    # d = n at the largest event day means S(t) = exactly 0 from there
    # on; ln(1 - d/n) would NULL (Spark) / raise (DuckDB), so the term
    # is guarded and the zero comes from the cumulative d=n flag
    term = F.when(
        F.col("d") < F.col("n"), F.log(1.0 - F.col("d") / F.col("n"))
    ).otherwise(F.lit(0.0))
    hit_zero = F.max((F.col("d") == F.col("n")).cast("int")).over(w)
    return (
        risk.select(
            F.col("t").alias("day"),
            F.col("n").alias("n_risk"),
            F.col("d").alias("n_converted"),
            F.when(hit_zero == 1, F.lit(0.0))
            .otherwise(F.round(F.exp(F.sum(term).over(w)), 6))
            .alias("s_hat"),
        )
        .filter(F.col("n_converted") > 0)
        .orderBy("day")
    )


@query(
    "logrank_cohort_conversion_test",
    category="FC-survival",
    oracle="""
        WITH u AS (
            SELECT user_id, user_id % 2 AS grp,
                   CAST(CAST(min(CASE WHEN event_type = 'purchase'
                                      THEN ts END) AS DATE)
                        - CAST(min(ts) AS DATE) AS BIGINT) AS pd
            FROM events GROUP BY user_id
        ), subj AS (
            SELECT grp,
                   CASE WHEN pd IS NULL OR pd > 7 THEN 7 ELSE pd END
                       AS dur,
                   CASE WHEN pd IS NULL OR pd > 7 THEN 0 ELSE 1 END
                       AS ev
            FROM u
        ), days AS (
            SELECT DISTINCT dur AS t FROM subj WHERE ev = 1
        ), cells AS (
            SELECT d.t,
                   CAST(sum(CASE WHEN s.grp = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n0,
                   CAST(sum(CASE WHEN s.grp = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN s.grp = 0 AND s.dur = d.t
                                  AND s.ev = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d0,
                   CAST(sum(CASE WHEN s.grp = 1 AND s.dur = d.t
                                  AND s.ev = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d1
            FROM days d JOIN subj s ON s.dur >= d.t
            GROUP BY d.t
        ), terms AS (
            SELECT t, n0, n1, d0, d1,
                   (d0 + d1) * 1.0 * n0 / (n0 + n1) AS e0,
                   CASE WHEN n0 + n1 > 1 THEN
                       (d0 + d1) * 1.0 * n0 * n1
                       * (n0 + n1 - d0 - d1)
                       / ((n0 + n1) * (n0 + n1) * (n0 + n1 - 1.0))
                   ELSE 0.0 END AS v
            FROM cells
        )
        SELECT CAST(sum(d0) AS BIGINT) AS obs0,
               CAST(round(sum(e0), 6) AS DOUBLE) AS exp0,
               CAST(round(
                   (sum(d0) - sum(e0)) * (sum(d0) - sum(e0))
                   / sum(v), 6) AS DOUBLE) AS logrank_chi2,
               (sum(d0) - sum(e0)) * (sum(d0) - sum(e0)) / sum(v)
                   > 3.841459 AS reject_05
        FROM terms
    """,
)
def logrank_cohort_conversion_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOG-RANK test (Mantel-Cox) comparing the two user cohorts'
    time-to-first-purchase survival curves (same subjects, censoring
    and risk sets as kaplan_meier_conversion_survival; cohort =
    user_id parity): at each conversion day the observed group-0
    conversions are compared against the hypergeometric expectation
    given the pooled conversions and the at-risk split, chi2 =
    (sum O - sum E)^2 / sum V against the 1-df 5% critical value
    3.841459. All risk-set counts are exact integers; e/v terms are
    explicit single-expression ratios, summed over a <=8-row table.

    Scale: identical to the KM query — one per-user shuffle, then a
    bounded theta join of durations against the tiny event-day list
    (broadcast the day side), and a one-row final aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.datediff(
            F.to_date(
                F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
            ),
            F.to_date(F.min("ts")),
        )
        .cast("long")
        .alias("pd")
    )
    subj = u.select(
        (F.col("user_id") % 2).alias("grp"),
        F.when(F.col("pd").isNull() | (F.col("pd") > 7), F.lit(7))
        .otherwise(F.col("pd"))
        .alias("dur"),
        F.when(F.col("pd").isNull() | (F.col("pd") > 7), F.lit(0))
        .otherwise(F.lit(1))
        .alias("ev"),
    ).persist()
    days = subj.filter(F.col("ev") == 1).select(
        F.col("dur").alias("t")
    ).distinct()
    cells = (
        subj.join(F.broadcast(days), F.col("dur") >= F.col("t"))
        .groupBy("t")
        .agg(
            F.sum((F.col("grp") == 0).cast("long")).cast("long").alias("n0"),
            F.sum((F.col("grp") == 1).cast("long")).cast("long").alias("n1"),
            F.sum(
                ((F.col("grp") == 0) & (F.col("dur") == F.col("t"))
                 & (F.col("ev") == 1)).cast("long")
            ).cast("long").alias("d0"),
            F.sum(
                ((F.col("grp") == 1) & (F.col("dur") == F.col("t"))
                 & (F.col("ev") == 1)).cast("long")
            ).cast("long").alias("d1"),
        )
    )
    nt = F.col("n0") + F.col("n1")
    dt = F.col("d0") + F.col("d1")
    e0 = dt * 1.0 * F.col("n0") / nt
    v = F.when(
        nt > 1,
        dt * 1.0 * F.col("n0") * F.col("n1") * (nt - dt)
        / (nt * nt * (nt - 1.0)),
    ).otherwise(F.lit(0.0))
    chi2 = (F.sum("d0") - F.sum(e0)) * (F.sum("d0") - F.sum(e0)) / F.sum(v)
    return cells.select("n0", "n1", "d0", "d1", e0.alias("e0"), v.alias("v"), "t").agg(
        F.sum("d0").cast("long").alias("obs0"),
        F.round(F.sum("e0"), 6).alias("exp0"),
        F.round(
            (F.sum("d0") - F.sum("e0")) * (F.sum("d0") - F.sum("e0"))
            / F.sum("v"),
            6,
        ).alias("logrank_chi2"),
        (
            (F.sum("d0") - F.sum("e0")) * (F.sum("d0") - F.sum("e0"))
            / F.sum("v")
            > 3.841459
        ).alias("reject_05"),
    )


@query(
    "wasserstein_1d_drift",
    category="ST-wasserstein",
    oracle="""
        WITH base AS (
            SELECT (event_type = 'purchase') AS grp2,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
            WHERE value IS NOT NULL
              AND event_type IN ('click', 'purchase')
        ), per_v AS (
            SELECT cents,
                   CAST(sum(CASE WHEN grp2 THEN 0 ELSE 1 END)
                        AS BIGINT) AS n1v,
                   CAST(sum(CASE WHEN grp2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n2v
            FROM base GROUP BY cents
        ), tot AS (
            SELECT CAST(sum(n1v) AS BIGINT) AS n1,
                   CAST(sum(n2v) AS BIGINT) AS n2
            FROM per_v
        ), cums AS (
            SELECT cents,
                   sum(n1v) OVER (ORDER BY cents) AS c1,
                   sum(n2v) OVER (ORDER BY cents) AS c2,
                   lead(cents) OVER (ORDER BY cents) AS nxt
            FROM per_v
        ), terms AS (
            SELECT CAST(sum((nxt - cents)
                        * abs(c1 * t.n2 - c2 * t.n1)) AS BIGINT)
                       AS w1_int,
                   t.n1, t.n2
            FROM cums CROSS JOIN tot t
            WHERE nxt IS NOT NULL
            GROUP BY t.n1, t.n2
        )
        SELECT n1, n2, w1_int,
               CAST(round(w1_int * 1.0 / (n1 * n2) / 100.0, 6)
                    AS DOUBLE) AS w1_distance
        FROM terms
    """,
)
def wasserstein_1d_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D WASSERSTEIN (earth-mover's) distance between the click and
    purchase value distributions — the drift metric that, unlike PSI
    or KS, weights HOW FAR mass moved, not just that it moved
    (W1 = ∫|F1 − F2| dx over the value axis), making it the right
    monitor for pricing/latency shifts where a 2-cent and a 2-dollar
    drift must not score alike.

    Exactness: integer cents make the ECDF step integral exact —
    W1·n1·n2·100 = Σ over consecutive distinct values of
    gap · |c1·n2 − c2·n1| is a pure BIGINT (cross-multiplied CDFs, no
    per-term division), hash-checked as w1_int; the reported distance
    divides ONCE by n1·n2 and the cent scale.

    Scale: one rollup to the DISTINCT-cents frame carrying BOTH
    channels' counts (the mann_whitney distinct-bucket construction);
    the prefix-sum and lead windows run over that value-domain-
    bounded frame only (the documented acceptable global-window
    case); output is a single row.
    """
    base = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            (F.col("event_type") == "purchase").alias("grp2"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    from ..operators.graph import truncate_lineage

    # distinct-cents frame feeds tot AND cums — checkpoint so neither
    # re-derives (or re-prints) the fact rollup
    per_v = truncate_lineage(
        base.groupBy("cents").agg(
            F.sum(F.when(F.col("grp2"), 0).otherwise(1))
            .cast("long").alias("n1v"),
            F.sum(F.when(F.col("grp2"), 1).otherwise(0))
            .cast("long").alias("n2v"),
        ),
        8,
    )
    tot = per_v.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum("n2v").cast("long").alias("n2"),
    )
    w = Window.orderBy("cents")  # distinct-cents frame: domain-bounded
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    cums = per_v.select(
        "cents",
        F.sum("n1v").over(wc).alias("c1"),
        F.sum("n2v").over(wc).alias("c2"),
        F.lead("cents").over(w).alias("nxt"),
    )
    return (
        cums.filter(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.sum(
                (F.col("nxt") - F.col("cents"))
                * F.abs(
                    F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")
                )
            ).cast("long").alias("w1_int")
        )
        .select(
            "n1", "n2", "w1_int",
            F.round(
                F.col("w1_int") / (F.col("n1") * F.col("n2")) / 100.0, 6
            ).alias("w1_distance"),
        )
    )
