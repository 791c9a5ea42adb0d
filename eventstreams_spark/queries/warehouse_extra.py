"""Warehouse-maintenance and data-cleaning additions (round 2, late):
SCD Type-2 interval building from a changelog, per-group quantile
winsorization, and stratified weighted sampling.

Each is a one-shuffle plan over the relevant key; oracles follow the
conventions in tests/oracle_conventions.md (no raw int sums, rounded
libm outputs, md5-minted determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.spread import leaf_parallelism
from ..registry import query
from ..streaming.stateful import grouped_fold
from .analysis_extra import MD5_UNIFORM_DOC


@query(
    "scd2_intervals_from_changelog",
    category="T11-cdc",
    oracle="""
        WITH versions AS (
            SELECT user_id, event_id, ts AS effective_from, event_type, value,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS effective_to
            FROM events
        )
        SELECT user_id, event_id, effective_from, effective_to,
               (effective_to IS NULL) AS is_current,
               event_type, value
        FROM versions
    """,
)
def scd2_intervals_from_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension building: turn a keyed changelog into
    versioned rows with [effective_from, effective_to) validity — each
    version closes when the key's next change arrives; the open
    version (effective_to NULL) is the current row. The write-side
    complement of cdc_latest_by_key: history queries join facts on
    key AND ts ∈ [from, to) (the range-join family, J8).

    Scale: ONE shuffle by key drives the lead() window; no self-join,
    no state. At 100 TB the same plan applies incrementally per
    ingest batch with MERGE (operators/merge.py) closing the previous
    open versions.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        "event_type",
        "value",
    ).select(
        "user_id",
        "event_id",
        "effective_from",
        "effective_to",
        F.col("effective_to").isNull().alias("is_current"),
        "event_type",
        "value",
    )


@query(
    "winsorize_by_group",
    category="A6-clean",
    oracle="""
        WITH cuts AS (
            SELECT event_type,
                   quantile_cont(value, 0.05) AS lo,
                   quantile_cont(value, 0.95) AS hi
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               count(*) AS n,
               CAST(sum(CASE WHEN e.value < c.lo OR e.value > c.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
               round(avg(least(greatest(e.value, c.lo), c.hi)), 6)
                   AS avg_winsorized,
               round(min(c.lo), 6) AS p05,
               round(max(c.hi), 6) AS p95
        FROM events e JOIN cuts c ON e.event_type = c.event_type
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
)
def winsorize_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clamp to the [p05, p95] band): the
    standard outlier-robust cleaning step before training-statistics
    aggregation. Exact percentiles as the cuts; clamped mean rounded
    (interpolated quantiles divide, so the last ULP is engine-local).

    Scale: the cuts frame is one row per group — broadcast back onto
    the fact scan, so the data shuffles once for the final group agg
    only. At extreme group counts swap percentile() for the mergeable
    approx_percentile sketch (same plan shape, A6).
    """
    ev = load_table(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clamped = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        "value",
        "lo",
        "hi",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("wv"),
    )
    return (
        clamped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
                .otherwise(0)
            ).alias("n_clamped"),
            F.round(F.avg("wv"), 6).alias("avg_winsorized"),
            F.round(F.min("lo"), 6).alias("p05"),
            F.round(F.max("hi"), 6).alias("p95"),
        )
    )


@query(
    "sessionize_two_level_skew_safe",
    category="W8",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
            SELECT user_id, ts,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts)  AS session_start,
               max(ts)  AS session_end
        FROM sessioned
        GROUP BY user_id, session_id
    """,
)
def sessionize_two_level_skew_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sessionization — the HOT-KEY-SAFE form of W8, proven
    equal to the plain global window: the oracle here is byte-for-byte
    the one sessionize_gap30m_batch uses, so the driver hash certifies
    that bucketing + stitching reproduces single-window semantics
    exactly.

    Level 1 partitions the lag/running-sum window by (user, DAY), so a
    bot user with 10^8 events splits across days instead of
    serializing one task (the mitigation SCALE.md §3 documents).
    Level 2 stitches at bucket boundaries: per-bucket mini-session
    summaries (a frame ~sessions, not events) re-run the same gap
    logic on (prev bucket's end → this bucket's start); chains across
    many midnights merge through the running sum naturally. Session
    NUMBERING matches the global form because sessions are disjoint
    and the stitch orders by session start.

    Scale: the event-level shuffle is by (user, day) — finer, skew-
    resistant; the stitch shuffle moves only mini-session summaries.
    At even hotter keys, level 1 drops to (user, hour).
    """
    ev = load_table(spark, sf_dir, "events")
    gap_us = 30 * 60 * 1_000_000
    day = F.to_date("ts")
    w1 = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_local",
        F.when(
            F.lag("ts").over(w1).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w1)) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn("day", day)
    local = flagged.withColumn(
        "local_sess",
        F.sum("new_local").over(
            w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    mini = local.groupBy("user_id", "day", "local_sess").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ts").alias("mstart"),
        F.max("ts").alias("mend"),
    )
    w2 = Window.partitionBy("user_id").orderBy("mstart", "mend")
    stitched = mini.withColumn(
        "new_global",
        F.when(
            F.lag("mend").over(w2).isNull()
            | (F.unix_micros("mstart") - F.unix_micros(F.lag("mend").over(w2)) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_global").over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return stitched.groupBy("user_id", "session_id").agg(
        F.sum("n").alias("n_events"),
        F.min("mstart").alias("session_start"),
        F.max("mend").alias("session_end"),
    )


@query(
    "rolling_trend_corr",
    category="T14-anomaly",
    oracle="""
        WITH scored AS (
            SELECT event_id, event_type, ts, value,
                   covar_pop(value, (epoch(ts) - 1600000000.0) / 86400.0)
                       OVER w AS c,
                   count(*) OVER w AS n_win
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, event_type, round(c, 4) AS trend_cov
        FROM scored
        WHERE n_win >= 30
    """,
)
def rolling_trend_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling value-vs-time POPULATION covariance per series (trend
    detector): sign and magnitude of covar_pop(value, days) over the
    trailing 100 observations flag sustained drift; the windowed
    companion to the global regression aggregate (A7).

    covar_pop rather than corr deliberately: corr divides by the
    window stddevs, and a zero-variance window (quantized values or
    repeated timestamps) makes Spark throw DIVIDE_BY_ZERO under the
    default ANSI mode while DuckDB yields NULL — a data-dependent
    crash lying in wait for a testdata regen. covar_pop divides only
    by n (never 0 on a non-empty frame) on both engines.

    Same shape and determinism treatment as anomaly_zscore_rolling:
    one shuffle by series, sorted rolling frame, rounding to absorb
    the engines' summation-order ULPs. Warm-up rows withheld.

    Cross-engine numeric care: the time axis must be FRACTIONAL epoch
    seconds on both sides (Spark unix_timestamp truncates — cast the
    timestamp to double instead; DuckDB epoch() keeps microseconds),
    shifted by a common base and rescaled to days so the co-moment
    recursion isn't conditioned on 1e9-magnitude offsets (covariance
    is shift-invariant in exact math, not in floating point).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, Window.currentRow)
    )
    t = (F.col("ts").cast("double") - 1_600_000_000.0) / 86_400.0
    return (
        ev.select(
            "event_id",
            "event_type",
            F.round(F.covar_pop(F.col("value"), t).over(w), 4).alias("trend_cov"),
            F.count(F.lit(1)).over(w).alias("n_win"),
        )
        .filter(F.col("n_win") >= 30)
        .select("event_id", "event_type", "trend_cov")
    )


@query(
    "orderby_nulls_ordering",
    category="O1-nulls",
    oracle="""
        WITH nv AS (
            SELECT event_id,
                   CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) < 10
                        THEN NULL
                        ELSE CAST(json_extract(props, '$.k') AS INTEGER) END AS k
            FROM events
        )
        SELECT event_id, k,
               row_number() OVER (ORDER BY k ASC  NULLS LAST,  event_id) AS rn_last,
               row_number() OVER (ORDER BY k DESC NULLS FIRST, event_id) AS rn_first
        FROM nv
        WHERE event_id < 500
    """,
)
def orderby_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-ordering semantics pin (O1): Spark defaults to NULLS FIRST
    on ASC where DuckDB (and the SQL standard's common reading)
    defaults to NULLS LAST — silent rank/topk divergence for any user
    porting ORDER BY over a nullable key. Both directions are pinned
    EXPLICITLY (asc_nulls_last / desc_nulls_first), which is the
    engine's documented contract: always spell null placement in a
    user-facing sort.

    Scale: the ranking windows here are unpartitioned only because the
    frame is pre-filtered to a bounded slice (<500 ids); the pin is
    about ordering semantics, not the window plan.
    """
    ev = load_table(spark, sf_dir, "events")
    k_raw = F.get_json_object("props", "$.k").cast("int")
    nv = ev.filter(F.col("event_id") < 500).select(
        "event_id",
        F.when(k_raw < 10, F.lit(None).cast("int")).otherwise(k_raw).alias("k"),
    )
    w_last = Window.orderBy(F.col("k").asc_nulls_last(), F.col("event_id"))
    w_first = Window.orderBy(F.col("k").desc_nulls_first(), F.col("event_id"))
    return nv.select(
        "event_id",
        "k",
        F.row_number().over(w_last).alias("rn_last"),
        F.row_number().over(w_first).alias("rn_first"),
    )


@query(
    "groupby_null_key_semantics",
    category="A1-nulls",
    oracle="""
        WITH nv AS (
            SELECT CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) < 10
                        THEN NULL
                        ELSE CAST(json_extract(props, '$.k') AS INTEGER) END AS k,
                   CASE WHEN event_type IN ('click', 'view')
                        THEN NULL ELSE event_type END AS et,
                   value
            FROM events
        )
        SELECT k, et,
               count(*)       AS n_rows,
               count(value)   AS n_value,
               CAST(count(k) AS BIGINT) AS n_k_nonnull
        FROM nv
        GROUP BY k, et
        ORDER BY k NULLS LAST, et NULLS LAST
    """,
)
def groupby_null_key_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL grouping-key semantics pin (A1): both engines place all
    NULL keys in ONE group (SQL's 'not distinct' grouping rule) —
    including the (NULL, NULL) composite — and count(col) skips NULLs
    while count(*) does not. Ports from systems where NULL != NULL in
    GROUP BY (or where NULL groups are dropped) silently lose rows
    without this pin.

    Scale: ordinary two-phase hash aggregate; NULL keys hash to one
    partition — at extreme NULL fractions treat NULL as a hot key
    (filter-and-union or salt), same rule as any skewed value.
    """
    ev = load_table(spark, sf_dir, "events")
    k_raw = F.get_json_object("props", "$.k").cast("int")
    nv = ev.select(
        F.when(k_raw < 10, F.lit(None).cast("int")).otherwise(k_raw).alias("k"),
        F.when(F.col("event_type").isin("click", "view"), F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("et"),
        "value",
    )
    return (
        nv.groupBy("k", "et")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("value").alias("n_value"),
            F.count("k").alias("n_k_nonnull"),
        )
    )


@query(
    "benford_digit_profile",
    category="Q1-dq",
    oracle="""
        WITH digits AS (
            -- clamp into [1,9]: at exact power-of-ten boundaries a
            -- 1-ULP log10 disagreement could yield 0 or 10 (and 1/0
            -- throws under Spark ANSI); the clamp keeps both engines
            -- total and identical except on measure-zero inputs
            SELECT least(greatest(
                       CAST(floor(abs(value) / power(10, floor(log10(abs(value)))))
                            AS BIGINT), 1), 9) AS d
            FROM events WHERE abs(value) > 1e-12
        ), hist AS (
            SELECT d, count(*) AS n FROM digits GROUP BY d
        ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM hist)
        SELECT d AS digit, n,
               round(n * 1.0 / total, 6)        AS observed_freq,
               round(log10(1.0 + 1.0 / d), 6)   AS benford_freq,
               round(abs(n * 1.0 / total - log10(1.0 + 1.0 / d)), 6) AS abs_dev
        FROM hist, tot
        ORDER BY digit
    """,
)
def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit profile (Q1 data-quality):
    fabricated or truncated numeric feeds deviate from the log10(1+1/d)
    law — the classic fraud/corruption smoke test for a metrics column.

    Scale: digit extraction is a pure projection; the histogram is a
    9-row aggregate (map-side combinable), the total a broadcast
    scalar. round(6) on every libm-derived output, per conventions.
    """
    ev = load_table(spark, sf_dir, "events")
    absv = F.abs(F.col("value"))
    # clamped into [1,9] — see the oracle comment (ANSI 1/0 guard +
    # power-of-ten boundary symmetry)
    digit = F.least(
        F.greatest(
            F.floor(absv / F.pow(F.lit(10.0), F.floor(F.log10(absv)))).cast("long"),
            F.lit(1),
        ),
        F.lit(9),
    )
    hist = (
        ev.filter(absv > 1e-12)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = hist.agg(F.sum("n").cast("long").alias("total"))
    obs = F.col("n") / F.col("total")
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(obs, 6).alias("observed_freq"),
            F.round(benford, 6).alias("benford_freq"),
            F.round(F.abs(obs - benford), 6).alias("abs_dev"),
        )
    )


@query(
    "weighted_sample_stratified",
    category="P7",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, source, n_chars,
                   {MD5_UNIFORM_DOC} AS u
            FROM documents
        ), ranked AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY ln(u) / n_chars DESC, doc_id)
                       AS rk
            FROM keyed
        )
        SELECT source, doc_id, n_chars
        FROM ranked WHERE rk <= 5
        ORDER BY source, doc_id
    """,
)
def weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sampling: the Efraimidis-Spirakis key from
    weighted_sample_es_topk, ranked PER SOURCE (5 winners each) — the
    corpus-mixing primitive 'best-k quality-weighted docs from every
    source' with zero RNG state.

    Scale: one shuffle by stratum; per-stratum top-k via the
    WindowGroupLimit pushdown (rows beyond rank 5 never fully sort).
    """
    from ..functions.sampling import md5_uniform

    docs = load_table(spark, sf_dir, "documents")
    u = md5_uniform("cast(doc_id as string)")
    w = Window.partitionBy("source").orderBy(
        (F.log(u) / F.col("n_chars")).desc(), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id", "n_chars")
    )


@query(
    "recursive_cte_hierarchy_walk",
    category="4.2-recursive",
    oracle="""
        WITH RECURSIVE anc AS (
            SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
            FROM customer WHERE c_custkey BETWEEN 1 AND 1023
            UNION ALL
            SELECT node, cur // 2, depth + 1 FROM anc WHERE cur > 1
        )
        SELECT depth,
               count(*) AS n_at_depth,
               CAST(sum(node) AS BIGINT) AS sum_nodes
        FROM anc WHERE cur = 1
        GROUP BY depth
        ORDER BY depth
    """,
)
def recursive_cte_hierarchy_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4's WITH RECURSIVE — new SQL
    surface this engine exposes): walk every node of an implicit
    binary hierarchy (parent = node div 2, the org-chart /
    bill-of-materials ancestor chain) to the root and census walk
    depths. Both engines execute the SAME recursive SQL — the only
    dialect delta is integer division (div vs //).

    Scale: each recursive step is one self-referencing map over the
    frontier (no join against the full table after seeding); depth is
    bounded by log2(max key), so the iteration count is ~10 — the
    same unrolled-iteration cost model as PageRank/k-core, but
    expressed declaratively and planned by Catalyst's recursion
    operator. Acyclic by construction, so UNION ALL terminates.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
            SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
            FROM customer WHERE c_custkey BETWEEN 1 AND 1023
            UNION ALL
            SELECT node, cur div 2, depth + 1 FROM anc WHERE cur > 1
        )
        SELECT depth,
               count(*) AS n_at_depth,
               CAST(sum(node) AS BIGINT) AS sum_nodes
        FROM anc WHERE cur = 1
        GROUP BY depth
        """
    )


@query(
    "net_revenue_retention_monthly",
    category="B13-ndr",
    oracle="""
        WITH m AS (
            SELECT o_custkey,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey, mon
        ), paired AS (
            SELECT cur.mon,
                   cur.cents AS cur_cents,
                   prev.cents AS prev_cents
            FROM m cur
            JOIN m prev ON prev.o_custkey = cur.o_custkey
                       AND prev.mon = cur.mon - INTERVAL 1 MONTH
        )
        SELECT mon,
               CAST(count(*) AS BIGINT) AS n_retained_customers,
               CAST(sum(cur_cents) AS BIGINT) AS retained_cents,
               CAST(sum(prev_cents) AS BIGINT) AS base_cents,
               round(sum(cur_cents) * 1.0 / sum(prev_cents), 6) AS ndr
        FROM paired
        GROUP BY mon
        ORDER BY mon
    """,
)
def net_revenue_retention_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention per month: revenue this month from
    customers who also spent LAST month, over last month's revenue
    from those same customers — the SaaS expansion/contraction metric
    (>1 = expansion). Money in integral cents end-to-end; only the
    final ratio is floating.

    Scale: one (customer, month) aggregate, then a self-join keyed on
    customer — both sides share the o_custkey partitioning (exchange
    reuse), and the month census is tiny. The month-shift join beats
    a lag window here because a customer's month series is sparse
    (lag gives the previous ACTIVE month, not the previous calendar
    month — pinned by the oracle's explicit interval join).
    """
    o = load_table(spark, sf_dir, "orders")
    # trunc() (DATE), not date_trunc() (TIMESTAMP): DuckDB's
    # date_trunc('month', DATE) stays DATE — type-identical months
    m = o.groupBy(
        "o_custkey", F.trunc("o_orderdate", "month").alias("mon")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    cur = m.select("o_custkey", "mon", F.col("cents").alias("cur_cents"))
    prev = m.select(
        "o_custkey",
        F.add_months(F.col("mon"), 1).alias("mon"),
        F.col("cents").alias("prev_cents"),
    )
    return (
        cur.join(prev, ["o_custkey", "mon"])
        .groupBy("mon")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_retained_customers"),
            F.sum("cur_cents").cast("long").alias("retained_cents"),
            F.sum("prev_cents").cast("long").alias("base_cents"),
            F.round(F.sum("cur_cents") / F.sum("prev_cents"), 6).alias("ndr"),
        )
    )


@query(
    "pareto_revenue_deciles",
    category="B14-pareto",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT cents,
                   row_number() OVER (ORDER BY cents DESC, o_custkey)
                       AS rk,
                   count(*) OVER () AS n
            FROM cust
        ), dec AS (
            SELECT ((rk - 1) * 10) // n + 1 AS decile,
                   CAST(sum(cents) AS BIGINT) AS dec_cents,
                   CAST(count(*) AS BIGINT) AS n_customers
            FROM ranked GROUP BY decile
        )
        SELECT decile, n_customers, dec_cents,
               round(dec_cents * 1.0 /
                     (SELECT sum(dec_cents) FROM dec), 6) AS rev_share,
               round(CAST(sum(dec_cents) OVER (ORDER BY decile) AS BIGINT)
                     * 1.0 / (SELECT sum(dec_cents) FROM dec), 6)
                   AS cum_share
        FROM dec
        ORDER BY decile
    """,
)
def pareto_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: customers ranked by lifetime revenue
    (descending), split into value deciles; each decile's revenue
    share and the cumulative share (the "top 10% of customers carry
    X% of revenue" curve). Ranking uses exact_global_rank — the
    bucketed distributed rank, NO single-partition sort; the
    cumulative window runs over the 10-row decile frame only.

    Scale: customer aggregate → bucketed rank shuffle → 10-row
    finishing. Money integral cents; shares rounded 6.
    """
    from ..operators.ranking import exact_global_rank

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # rank descending: exact_global_rank orders ascending on its lead
    # column, so rank on negated cents (ties broken by custkey, same
    # as the oracle's ORDER BY cents DESC, o_custkey)
    neg = cust.select(
        "o_custkey", "cents", (-F.col("cents")).alias("neg_cents")
    )
    ranked, n_cust = exact_global_rank(
        neg, ["neg_cents", "o_custkey"], rank_col="rk", with_total=True
    )
    dec = (
        ranked.select(
            F.expr(f"((rk - 1) * 10) div {int(n_cust)} + 1").alias("decile"),
            "cents",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("dec_cents"),
        )
    )
    tot = dec.agg(F.sum("dec_cents").alias("t"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dec.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "dec_cents",
            F.round(F.col("dec_cents") / F.col("t"), 6).alias("rev_share"),
            F.round(
                F.sum("dec_cents").over(w).cast("long") / F.col("t"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


@query(
    "basket_copurchase_lift",
    category="B16-basket",
    oracle="""
        WITH lines AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), n_orders AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
            FROM lines
        ), brand_orders AS (
            SELECT p_brand, count(*) AS c FROM lines GROUP BY p_brand
        ), pairs AS (
            SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                   count(*) AS c_ab
            FROM lines a JOIN lines b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY brand_a, brand_b
        )
        SELECT brand_a, brand_b, CAST(c_ab AS BIGINT) AS n_co,
               round(c_ab * 1.0 / n, 6) AS support,
               round((c_ab * 1.0 / n)
                     / ((ca.c * 1.0 / n) * (cb.c * 1.0 / n)), 4) AS lift
        FROM pairs
        JOIN brand_orders ca ON pairs.brand_a = ca.p_brand
        JOIN brand_orders cb ON pairs.brand_b = cb.p_brand
        CROSS JOIN n_orders
        ORDER BY n_co DESC, brand_a, brand_b
        LIMIT 20
    """,
)
def basket_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: brand co-occurrence within orders with
    support and lift (observed co-rate over independence) — the
    association-rule primitive behind "frequently bought together".

    Scale: the pair join is WITHIN-ORDER ONLY (equi-join on
    l_orderkey) — pair volume is Σ lines-per-order², bounded by the
    order-size cap (≤ 7 lines in TPC-H), never brand×brand over the
    corpus; brand marginals and the order count are broadcast dims.
    Top-20 under the exact (count, pair) order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lines = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = lines.agg(
        F.count_distinct(F.col("l_orderkey")).cast("long").alias("n")
    )
    brand_orders = lines.groupBy("p_brand").agg(F.count(F.lit(1)).alias("c"))
    a = lines.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = lines.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ca = brand_orders.select(
        F.col("p_brand").alias("brand_a"), F.col("c").alias("ca")
    )
    cb = brand_orders.select(
        F.col("p_brand").alias("brand_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            F.col("c_ab").cast("long").alias("n_co"),
            F.round(F.col("c_ab") / F.col("n"), 6).alias("support"),
            F.round(
                (F.col("c_ab") / F.col("n"))
                / ((F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n"))),
                4,
            ).alias("lift"),
        )
        .orderBy(F.col("n_co").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@query(
    "orders_aging_buckets",
    category="B18-aging",
    oracle="""
        SELECT o_orderstatus,
               CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   DATE '1998-12-31') < 365 THEN '<1y'
                    WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   DATE '1998-12-31') < 1095 THEN '1-3y'
                    ELSE '3y+' END AS age_bucket,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS open_cents
        FROM orders
        GROUP BY o_orderstatus, age_bucket
        ORDER BY o_orderstatus, age_bucket
    """,
)
def orders_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aging report: order count and value by status × age band
    relative to a fixed anchor (the receivables/backlog view every
    warehouse ships). One conditional-bucket census — codegen CASE,
    cent-exact money, no window/join.
    """
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.lit("1998-12-31").cast("date"), F.to_date("o_orderdate"))
    bucket = (
        F.when(days < 365, "<1y").when(days < 1095, "1-3y").otherwise("3y+")
    )
    return (
        o.groupBy("o_orderstatus", bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("open_cents"),
        )
    )


@query(
    "dedup_storage_savings",
    category="L1-roi",
    oracle="""
        WITH groups AS (
            SELECT md5(text) AS h,
                   count(*) AS copies,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(min(n_chars) AS BIGINT) AS keep_chars
            FROM (
                SELECT text, n_chars FROM documents
                UNION ALL
                SELECT text, n_chars FROM documents WHERE doc_id % 25 = 0
            )
            GROUP BY h
        )
        SELECT CAST(count(*) AS BIGINT) AS n_unique_payloads,
               CAST(sum(copies) AS BIGINT) AS n_rows,
               CAST(sum(copies - 1) AS BIGINT) AS n_duplicate_rows,
               CAST(sum(total_chars - keep_chars) AS BIGINT)
                   AS chars_reclaimed,
               round(sum(total_chars - keep_chars) * 1.0
                     / sum(total_chars), 6) AS reclaim_fraction
        FROM groups
    """,
)
def dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI census: how many rows and how many bytes exact
    dedup reclaims (duplicates injected: every 25th doc twice) — the
    capacity-planning number that justifies the dedup pass before
    anyone runs it. Content-addressed by md5, keep-one accounting.

    Scale: one hash-keyed aggregate + a 1-row fold; identical shape
    to dedup_exact_distinct with byte accounting attached.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select("text", "n_chars").unionAll(
        docs.filter(F.col("doc_id") % 25 == 0).select("text", "n_chars")
    )
    groups = corpus.groupBy(
        F.md5(F.col("text").cast("binary")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("copies"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_chars").cast("long").alias("keep_chars"),
    )
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_payloads"),
        F.sum("copies").cast("long").alias("n_rows"),
        F.sum(F.col("copies") - 1).cast("long").alias("n_duplicate_rows"),
        F.sum(F.col("total_chars") - F.col("keep_chars"))
        .cast("long")
        .alias("chars_reclaimed"),
        F.round(
            F.sum(F.col("total_chars") - F.col("keep_chars"))
            / F.sum("total_chars"),
            6,
        ).alias("reclaim_fraction"),
    )


@query(
    "gdpr_purge_audit",
    category="K7-purge",
    oracle="""
        WITH del AS (
            SELECT c_custkey AS uid FROM customer WHERE c_custkey % 97 = 0
        ), ev AS (
            SELECT count(*) AS total,
                   count(*) FILTER (user_id IN (SELECT uid FROM del)) AS purged
            FROM events
        ), od AS (
            SELECT count(*) AS total,
                   count(*) FILTER (o_custkey IN (SELECT uid FROM del)) AS purged
            FROM orders
        )
        SELECT 'events' AS tbl,
               CAST(ev.total AS BIGINT) AS n_rows,
               CAST(ev.purged AS BIGINT) AS n_purged,
               CAST(ev.total - ev.purged AS BIGINT) AS n_survivors,
               TRUE AS no_residual
        FROM ev
        UNION ALL
        SELECT 'orders', CAST(od.total AS BIGINT),
               CAST(od.purged AS BIGINT),
               CAST(od.total - od.purged AS BIGINT), TRUE
        FROM od
        ORDER BY tbl
    """,
)
def gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge with audit trail (K7 breadth): given
    a deletion list (customers with custkey % 97 = 0 stand in for the
    request queue), compute per fact table the purge counts AND verify
    the purged view holds zero residual rows for listed subjects —
    the no_residual boolean is computed from the actual anti-joined
    survivor set, not assumed, so a broken purge turns the row red.

    Scale: the deletion list broadcasts into LEFT ANTI (survivors) and
    LEFT SEMI (purged count) joins over each fact scan — the standard
    delete-as-antijoin pattern any table format compaction runs; the
    audit is one extra aggregate per table on the same scan. The
    physical delete itself is operators/merge.py's keyed MERGE.
    """
    del_list = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select(F.col("c_custkey").alias("uid"))
    )

    def audit(tbl, key):
        df = load_table(spark, sf_dir, tbl)
        survivors = df.join(
            F.broadcast(del_list), df[key] == F.col("uid"), "left_anti"
        )
        residual = survivors.join(
            F.broadcast(del_list), survivors[key] == F.col("uid"), "left_semi"
        )
        tot = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        surv = survivors.agg(F.count(F.lit(1)).cast("long").alias("n_survivors"))
        resid = residual.agg(F.count(F.lit(1)).alias("n_residual"))
        return (
            tot.crossJoin(surv)
            .crossJoin(resid)
            .select(
                F.lit(tbl).alias("tbl"),
                "n_rows",
                (F.col("n_rows") - F.col("n_survivors")).cast("long").alias("n_purged"),
                "n_survivors",
                (F.col("n_residual") == 0).alias("no_residual"),
            )
        )

    return audit("events", "user_id").unionAll(audit("orders", "o_custkey")).orderBy("tbl")


@query(
    "zonemap_skipping_census",
    category="W10-layout",
    oracle="""
        WITH assigned AS (
            SELECT l_orderkey // 150 AS f_ingest,
                   date_diff('day', DATE '1995-01-01',
                             CAST(l_shipdate AS DATE)) // 25 AS f_clustered,
                   CAST(l_shipdate AS DATE) AS sd
            FROM lineitem
        ), layouts AS (
            SELECT 'ingest_order' AS layout, f_ingest AS f, sd FROM assigned
            UNION ALL
            SELECT 'shipdate_clustered', f_clustered, sd FROM assigned
        ), zonemaps AS (
            SELECT layout, f, min(sd) AS zmin, max(sd) AS zmax,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN sd >= DATE '1998-03-01'
                                  AND sd < DATE '1998-04-01'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_match
            FROM layouts GROUP BY layout, f
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN zmax < DATE '1998-03-01'
                              OR zmin >= DATE '1998-04-01'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_files_skipped,
               CAST(sum(CASE WHEN zmax < DATE '1998-03-01'
                              OR zmin >= DATE '1998-04-01'
                        THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
               CAST(sum(n_match) AS BIGINT) AS rows_matching
        FROM zonemaps
        GROUP BY layout
        ORDER BY layout
    """,
)
def zonemap_skipping_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map FILE-SKIPPING simulation — the mechanism that makes
    clustering keys (hilbert_cell_census, Z-order) pay at 100 TB:
    assign every lineitem row to a ~100-file layout two ways (ingest
    order = orderkey ranges, vs clustered on l_shipdate), compute
    each file's min/max zone map, and measure how many files a
    one-month shipdate predicate can PROVE empty (zmax < lo or
    zmin ≥ hi) and how many rows the survivors force through the
    scan. Same rows_matching either way — the layouts differ only in
    rows_scanned, which is exactly the I/O a real engine's footer
    pruning saves. The census is hash-checked end-to-end, so a
    regression in the bucket arithmetic or the skip predicate flips
    rows.

    Scale: one scan, one (layout, file) aggregate (map-side
    combinable), one ~200-row rollup; at real scale this query IS the
    layout-planner's cost model — run it before choosing a cluster
    key.

    Variant-of: ``zorder_layout_skipping_census`` — r7 twin re-measures under a Z-order layout.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sd = F.to_date("l_shipdate")
    assigned = li.select(
        (F.col("l_orderkey") / 150).cast("long").alias("f_ingest"),
        F.floor(
            F.datediff(sd, F.lit("1995-01-01").cast("date")) / 25
        ).cast("long").alias("f_clustered"),
        sd.alias("sd"),
    )
    layouts = assigned.select(
        F.lit("ingest_order").alias("layout"), F.col("f_ingest").alias("f"), "sd"
    ).unionAll(
        assigned.select(
            F.lit("shipdate_clustered").alias("layout"),
            F.col("f_clustered").alias("f"), "sd",
        )
    )
    lo = F.lit("1998-03-01").cast("date")
    hi = F.lit("1998-04-01").cast("date")
    zonemaps = layouts.groupBy("layout", "f").agg(
        F.min("sd").alias("zmin"),
        F.max("sd").alias("zmax"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            ((F.col("sd") >= lo) & (F.col("sd") < hi)).cast("int")
        ).cast("long").alias("n_match"),
    )
    skipped = (F.col("zmax") < lo) | (F.col("zmin") >= hi)
    return (
        zonemaps.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(skipped.cast("int")).cast("long").alias("n_files_skipped"),
            F.sum(F.when(skipped, 0).otherwise(F.col("n_rows")))
            .cast("long").alias("rows_scanned"),
            F.sum("n_match").cast("long").alias("rows_matching"),
        )
    )


_SNAP_ORD = (
    "lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || "
    "lpad(CAST(event_id AS VARCHAR), 12, '0')"
)


@query(
    "snapshot_diff_audit",
    category="WH-snapdiff",
    oracle=f"""
        WITH snap_a AS (
            SELECT user_id, event_type,
                   CAST(max_by(CAST(floor(value * 100 + 0.5) AS BIGINT),
                               {_SNAP_ORD}) AS BIGINT) AS cents
            FROM events
            WHERE value IS NOT NULL AND extract(day FROM ts) <= 15
            GROUP BY user_id, event_type
        ), snap_b AS (
            SELECT user_id, event_type,
                   CAST(max_by(CAST(floor(value * 100 + 0.5) AS BIGINT),
                               {_SNAP_ORD}) AS BIGINT) AS cents
            FROM events
            WHERE value IS NOT NULL
            GROUP BY user_id, event_type
        ), diff AS (
            SELECT coalesce(a.event_type, b.event_type) AS event_type,
                   CASE WHEN a.user_id IS NULL THEN 'added'
                        WHEN a.cents = b.cents THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM snap_a a FULL OUTER JOIN snap_b b
                 ON a.user_id = b.user_id AND a.event_type = b.event_type
        )
        SELECT event_type, status, CAST(count(*) AS BIGINT) AS n
        FROM diff GROUP BY event_type, status
        ORDER BY event_type, status
    """,
)
def snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff audit: the keep-latest state of every
    (user, event_type) entity as of day 15 vs as of month end, full-
    outer joined and tabulated into added / changed / unchanged — the
    reconciliation report a warehouse runs after every incremental
    load to prove the merge landed ('removed' is structurally absent
    in an append-only changelog and would appear with a purge source).
    Latest-per-entity uses the padded (epoch_micros, event_id) total
    order so both engines pick the same closing row.

    Scale: two keep-latest rollups (map-side combinable max_by) over
    one scan each — the day-15 snapshot's filter prunes at the scan;
    the diff joins SNAPSHOTS (|users|×|types| rows), not raw events;
    the census is a rollup of the diff frame.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ordk = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    base = ev.select(
        "user_id", "event_type", cents.alias("cents"), ordk.alias("ordk"),
        F.dayofmonth("ts").alias("dom"),
    )

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.max_by("cents", "ordk").cast("long").alias("cents")
        )

    a = snap(base.filter(F.col("dom") <= 15)).select(
        F.col("user_id").alias("ua"), F.col("event_type").alias("ta"),
        F.col("cents").alias("ca"),
    )
    b = snap(base).select(
        F.col("user_id").alias("ub"), F.col("event_type").alias("tb"),
        F.col("cents").alias("cb"),
    )
    diff = a.join(
        b, (F.col("ua") == F.col("ub")) & (F.col("ta") == F.col("tb")), "full_outer"
    ).select(
        F.coalesce("ta", "tb").alias("event_type"),
        F.when(F.col("ua").isNull(), "added")
        .when(F.col("ca") == F.col("cb"), "unchanged")
        .otherwise("changed")
        .alias("status"),
    )
    return (
        diff.groupBy("event_type", "status")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


@query(
    "sequence_gap_islands",
    category="WH-gaps",
    oracle="""
        WITH present AS (
            SELECT event_id AS id
            FROM events
            WHERE substr(md5('gap:' || CAST(event_id AS VARCHAR)), 1, 1)
                  <> 'f'
        ), grouped AS (
            SELECT id,
                   id - row_number() OVER (ORDER BY id) AS grp
            FROM present
        ), islands AS (
            SELECT CAST(min(id) AS BIGINT) AS island_start,
                   CAST(max(id) AS BIGINT) AS island_end,
                   CAST(count(*) AS BIGINT) AS island_len
            FROM grouped GROUP BY grp
        )
        SELECT island_start, island_end, island_len
        FROM islands
        ORDER BY island_len DESC, island_start
        LIMIT 25
    """,
)
def sequence_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over a sequence column: find contiguous runs
    of present event_ids (holes are minted deterministically — ids
    whose md5 starts with 'f', ~6.25%, model lost/unacked records)
    via the classic id − row_number() grouping trick; report the 25
    longest islands. The inverse readout — missing-id ranges — is the
    completeness audit run against every ingest ledger.

    Scale: the row_number in the id − row_number() trick is an exact
    global rank over UNIQUE present ids, so it rides
    operators/ranking.py::exact_global_rank (range buckets +
    per-bucket row_number + prefix offsets — no single-partition
    window over the ledger; sorts capped at ~N/32; islands spanning
    a bucket boundary are unaffected because grp = id − rank is
    boundary-blind); the rollup and top-25 heap run on island rows.
    """
    from ..operators.ranking import exact_global_rank

    ev = load_table(spark, sf_dir, "events")
    present = ev.filter(
        F.substring(F.md5(F.concat(F.lit("gap:"), F.col("event_id").cast("string"))), 1, 1)
        != "f"
    ).select(F.col("event_id").alias("id"))
    grouped = exact_global_rank(present, ["id"], rank_col="rn").withColumn(
        "grp", F.col("id") - F.col("rn")
    )
    islands = grouped.groupBy("grp").agg(
        F.min("id").cast("long").alias("island_start"),
        F.max("id").cast("long").alias("island_end"),
        F.count(F.lit(1)).cast("long").alias("island_len"),
    )
    return (
        islands.select("island_start", "island_end", "island_len")
        .orderBy(F.col("island_len").desc(), "island_start")
        .limit(25)
    )


@query(
    "quantile_normalize_daily_sources",
    category="WH-qnorm",
    oracle="""
        WITH daily AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY sum(length(text)), lang) AS r,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents GROUP BY lang
        ), pool AS (
            SELECT n_chars AS gval,
                   row_number() OVER (ORDER BY n_chars, gval) AS gr,
                   count(*) OVER () AS gn
            FROM daily
        ), mapped AS (
            SELECT d.lang, d.n_chars, d.r, d.n,
                   (SELECT max(p.gval) FROM pool p
                    WHERE p.gr * d.n * 2 <= (2 * d.r - 1) * p.gn + d.n)
                       AS normalized
            FROM daily d
        )
        SELECT lang,
               n_chars AS raw_chars,
               CAST(coalesce(normalized,
                             (SELECT min(gval) FROM pool)) AS BIGINT)
                   AS normalized_chars
        FROM mapped ORDER BY lang, raw_chars
    """,
)
def quantile_normalize_daily_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the bioinformatics /
    training-data-balancing transform): each source's per-group
    statistic (here total chars per language stratum) is replaced by
    the POOLED distribution's value at the same rank fraction, making
    source distributions comparable without fitting anything. The
    pick is the largest pooled value whose rank fraction ≤ the
    source-row's midrank fraction (2r−1)/2n, stated as the integer
    cross-multiplication gr·n·2 ≤ (2r−1)·gn + n — float never decides
    the pick; rows below the first boundary take the pooled minimum.

    Scale: the normalized frame is |sources| here (stratum-level by
    construction); the production shape replaces the scalar subquery
    with a range join of midrank boundaries against the pooled
    rank frame, both metadata-sized after the first rollup — raw
    rows are touched once.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    daily = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("lang").orderBy("n_chars", "lang")
            ),
        )
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("lang")))
    )
    pool = daily.select(F.col("n_chars").alias("gval")).withColumn(
        "gr", F.row_number().over(W.orderBy("gval"))
    ).withColumn("gn", F.count(F.lit(1)).over(W.partitionBy()))
    joined = daily.join(
        F.broadcast(pool),
        F.col("gr") * F.col("n") * 2 <= (2 * F.col("r") - 1) * F.col("gn") + F.col("n"),
        "left",
    )
    gmin = pool.agg(F.min("gval").alias("gmin"))
    mapped = (
        joined.groupBy("lang", "n_chars", "r", "n")
        .agg(F.max("gval").alias("normalized"))
        .crossJoin(F.broadcast(gmin))
    )
    return mapped.select(
        "lang",
        F.col("n_chars").alias("raw_chars"),
        F.coalesce("normalized", "gmin").cast("long").alias("normalized_chars"),
    )


@query(
    "partition_layout_advisor",
    category="WH-partition",
    oracle="""
        WITH keyed AS (
            SELECT 'month' AS candidate,
                   CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS kv
            FROM orders
            UNION ALL
            SELECT 'cust_bucket64', CAST(o_custkey % 64 AS VARCHAR)
            FROM orders
            UNION ALL
            SELECT 'priority', o_orderpriority FROM orders
        ), parts AS (
            SELECT candidate, kv, CAST(count(*) AS BIGINT) AS n_rows
            FROM keyed GROUP BY candidate, kv
        )
        SELECT candidate,
               CAST(count(*) AS BIGINT) AS n_partitions,
               CAST(sum(n_rows) AS BIGINT) AS total_rows,
               CAST(max(n_rows) AS BIGINT) AS max_partition_rows,
               CAST(round(CAST(sum(n_rows) AS DOUBLE) / count(*), 6)
                    AS DOUBLE) AS avg_partition_rows,
               CAST(round(CAST(max(n_rows) AS DOUBLE) * count(*)
                          / sum(n_rows), 6) AS DOUBLE) AS skew_ratio,
               (max(n_rows) * count(*) * 10 <= sum(n_rows) * 25)
                   AS balanced
        FROM parts GROUP BY candidate ORDER BY candidate
    """,
)
def partition_layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-layout advisor over the orders table: for each
    candidate partition key (order month, 64-way customer bucket,
    priority) the partition count, max/avg partition size, and skew
    ratio — the measurement behind choosing a table's physical layout
    (too few partitions → no pruning; too many → small files; skewed
    → straggler tasks). ``balanced`` pins skew ≤ 2.5 by the integer
    cross-multiplication max·parts·10 ≤ total·25, so no float decides.

    Determinism: every statistic is an exact integer or one division
    of integers.

    Scale: ONE scan — each row explodes into its 3 candidate keys
    map-side (3× amplification bounded by the candidate count), one
    (candidate, value) aggregate, one candidate rollup. This is the
    key_skew_profile shape applied to layout planning.
    """
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("month").alias("candidate"),
                    F.date_format("o_orderdate", "yyyy-MM").alias("kv"),
                ),
                F.struct(
                    F.lit("cust_bucket64").alias("candidate"),
                    (F.col("o_custkey") % 64).cast("string").alias("kv"),
                ),
                F.struct(
                    F.lit("priority").alias("candidate"),
                    F.col("o_orderpriority").alias("kv"),
                ),
            )
        ).alias("c")
    ).select(F.col("c.candidate").alias("candidate"), F.col("c.kv").alias("kv"))
    parts = keyed.groupBy("candidate", "kv").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    return (
        parts.groupBy("candidate")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.max("n_rows").cast("long").alias("max_partition_rows"),
            F.round(
                F.sum("n_rows").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_partition_rows"),
            F.round(
                F.max("n_rows").cast("double")
                * F.count(F.lit(1))
                / F.sum("n_rows"),
                6,
            ).alias("skew_ratio"),
            (
                F.max("n_rows") * F.count(F.lit(1)) * 10
                <= F.sum("n_rows") * 25
            ).alias("balanced"),
        )
    )


@query(
    "scd2_point_in_time_join",
    category="WH-pitjoin",
    oracle="""
        WITH dim AS (
            SELECT user_id, event_id AS version_id, event_type AS status,
                   ts AS eff_from,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS eff_to
            FROM events WHERE event_type IN ('signup', 'purchase')
        ), facts AS (
            SELECT user_id, event_id AS click_id, ts
            FROM events WHERE event_type = 'click'
        ), joined AS (
            SELECT f.user_id, f.click_id, d.status
            FROM facts f LEFT JOIN dim d
              ON d.user_id = f.user_id
             AND f.ts >= d.eff_from
             AND (d.eff_to IS NULL OR f.ts < d.eff_to)
        )
        SELECT coalesce(status, 'NO_VERSION') AS status_at_click,
               CAST(count(*) AS BIGINT) AS n_clicks,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM joined GROUP BY coalesce(status, 'NO_VERSION')
        ORDER BY status_at_click
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join against an SCD Type-2 dimension:
    clicks join the user's status version (built from the
    signup/purchase changelog with [from, to) validity) that was in
    force AT CLICK TIME — the read-side complement of
    scd2_intervals_from_changelog, and the query every "state of the
    customer when the event happened" report reduces to. Clicks
    before any version land in NO_VERSION (the left-join honesty the
    naive keep-latest join silently gets wrong).

    Determinism: interval bounds are exact timestamps under a
    (ts, event_id) total order; output is an integer census.

    Scale: the validity join is user-keyed (equi key + time band —
    the J8 range-join family, never a cross product); both sides
    shuffle once on user_id. At billions of versions add month
    bucketing to the key (the as-of join pattern).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type").isin("signup", "purchase"))
        .select(
            "user_id",
            F.col("event_id").alias("version_id"),
            F.col("event_type").alias("status"),
            F.col("ts").alias("eff_from"),
            F.lead("ts").over(w).alias("eff_to"),
        )
    )
    facts = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("f_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("f_ts"),
    )
    joined = facts.join(
        dim,
        (F.col("f_user") == F.col("user_id"))
        & (F.col("f_ts") >= F.col("eff_from"))
        & (F.col("eff_to").isNull() | (F.col("f_ts") < F.col("eff_to"))),
        "left",
    )
    return (
        joined.groupBy(
            F.coalesce(F.col("status"), F.lit("NO_VERSION")).alias(
                "status_at_click"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.countDistinct("f_user").cast("long").alias("n_users"),
        )
    )


# Benford SECOND-digit expectation: p(d) = sum over first digits k of
# log10(1 + 1/(10k+d)) — generated once, shared verbatim by both
# engines so the transcendental constants are computed identically
_BENFORD2_P = "(log10(1.0 + 1.0 / (10 + d)) + log10(1.0 + 1.0 / (20 + d)) + log10(1.0 + 1.0 / (30 + d)) + log10(1.0 + 1.0 / (40 + d)) + log10(1.0 + 1.0 / (50 + d)) + log10(1.0 + 1.0 / (60 + d)) + log10(1.0 + 1.0 / (70 + d)) + log10(1.0 + 1.0 / (80 + d)) + log10(1.0 + 1.0 / (90 + d)))"


@query(
    "benford_second_digit",
    category="Q1-benford2",
    oracle=f"""
        WITH digits AS (
            SELECT CAST(floor(abs(value)
                       / power(10, floor(log10(abs(value))) - 1))
                       AS BIGINT) % 10 AS d
            FROM events WHERE abs(value) > 1e-12
        ), hist AS (
            SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d
        ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM hist)
        SELECT d AS digit, n,
               CAST(round(CAST(n AS DOUBLE) / total, 6) AS DOUBLE)
                   AS observed_freq,
               CAST(round({_BENFORD2_P}, 6) AS DOUBLE) AS benford_freq,
               (abs(CAST(n AS DOUBLE) - total * {_BENFORD2_P})
                > 3.0 * sqrt(total * {_BENFORD2_P}
                             * (1.0 - {_BENFORD2_P}))) AS outlier_3sigma
        FROM hist, tot
        ORDER BY digit
    """,
)
def benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford SECOND-significant-digit profile — the harder fraud
    screen (first digits survive naive fabrication more often than
    second digits, which should follow the flatter
    p(d) = Σ_k log10(1+1/(10k+d)) law): per digit the observed share,
    the Benford expectation, and a 3σ binomial outlier flag — no
    cross-digit float sum, so every column is a per-row expression
    over the integer histogram.

    Determinism: the expectation is ONE generated expression shared
    verbatim by both engines; the flag compares shared-text doubles.

    Scale: projection + 10-row histogram + broadcast total, same as
    the first-digit profile.
    """
    ev = load_table(spark, sf_dir, "events")
    absv = F.abs(F.col("value"))
    d2 = (
        F.floor(
            absv / F.pow(F.lit(10.0), F.floor(F.log10(absv)) - 1)
        ).cast("long")
        % 10
    )
    hist = (
        ev.filter(absv > 1e-12)
        .select(d2.alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = hist.agg(F.sum("n").cast("long").alias("total"))
    p = F.expr(_BENFORD2_P)
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
                "observed_freq"
            ),
            F.round(p, 6).alias("benford_freq"),
            (
                F.abs(F.col("n").cast("double") - F.col("total") * p)
                > 3.0 * F.sqrt(F.col("total") * p * (1.0 - p))
            ).alias("outlier_3sigma"),
        )
    )


@query(
    "frequent_triples_apriori",
    category="B16-basket",
    oracle="""
        WITH lines AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), n_orders AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n,
                   greatest(2, CAST(floor(count(DISTINCT l_orderkey) * 0.001)
                                    AS BIGINT)) AS minsup
            FROM lines
        ), f1 AS (
            SELECT p_brand FROM lines CROSS JOIN n_orders
            GROUP BY p_brand, minsup
            HAVING count(*) >= minsup
        ), lf AS (
            SELECT l.l_orderkey, l.p_brand
            FROM lines l SEMI JOIN f1 ON l.p_brand = f1.p_brand
        ), p2 AS (
            SELECT a.p_brand AS ba, b.p_brand AS bb, count(*) AS c2
            FROM lf a JOIN lf b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            GROUP BY ba, bb
        ), f2 AS (
            SELECT ba, bb, c2 FROM p2 CROSS JOIN n_orders
            WHERE c2 >= minsup
        ), pair_occ AS (
            SELECT a.l_orderkey, a.p_brand AS ba, b.p_brand AS bb
            FROM lf a JOIN lf b
              ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
            SEMI JOIN f2 ON a.p_brand = f2.ba AND b.p_brand = f2.bb
        ), cand3 AS (
            SELECT po.l_orderkey, po.ba, po.bb, c.p_brand AS bc
            FROM pair_occ po JOIN lf c
              ON po.l_orderkey = c.l_orderkey AND c.p_brand > po.bb
            SEMI JOIN f2 fac ON po.ba = fac.ba AND c.p_brand = fac.bb
            SEMI JOIN f2 fbc ON po.bb = fbc.ba AND c.p_brand = fbc.bb
        ), t3 AS (
            SELECT ba, bb, bc, CAST(count(*) AS BIGINT) AS n_co
            FROM cand3 GROUP BY ba, bb, bc
        )
        SELECT ba AS brand_a, bb AS brand_b, bc AS brand_c, n_co,
               CAST(round(n_co * 1.0 / n, 6) AS DOUBLE) AS support
        FROM t3 CROSS JOIN n_orders
        WHERE n_co >= minsup
        ORDER BY n_co DESC, brand_a, brand_b, brand_c
        LIMIT 30
    """,
)
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets of part brands within orders, mined
    LEVEL-WISE with the Apriori downward-closure property (the core
    of FP-growth-class miners): frequent items → frequent pairs →
    triples generated ONLY from orders already containing a frequent
    pair, with BOTH remaining sub-pairs also required frequent before
    counting. minsup = max(2, ⌊0.1% of orders⌋) scales with SF.

    Scale: this is the classic large-scale mining shape — every level
    prunes the next level's candidate space BEFORE the join that
    generates it, so triple volume is Σ (frequent-pair occurrences ×
    basket width), never brand³ over the corpus. The frequent-pair
    set f2 is a tiny broadcast dim (≤ brands², and only the frequent
    survivors); all candidate generation is equi-joined on
    l_orderkey, bounded by the order-size cap (≤ 7 lines in TPC-H:
    Σ C(basket,3) per order ≤ 35). Integer support counts decide
    frequency exactly; the support fraction is one rounded ratio.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lines = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    from ..operators.graph import truncate_lineage

    # lines feeds n_orders, f1 and lf — checkpoint (truncate_lineage
    # house rule) so no consumer re-prints the join-to-part subtree
    lines = truncate_lineage(lines, 8)
    # Spark's single-pass twin of the n_orders/minsup CTE: a 1-row dim
    n_orders = lines.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n"),
        F.greatest(
            F.lit(2).cast("long"),
            F.floor(F.count_distinct("l_orderkey") * 0.001).cast("long"),
        ).alias("minsup"),
    )
    f1 = (
        lines.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("c1"))
        .crossJoin(F.broadcast(n_orders))
        .filter(F.col("c1") >= F.col("minsup"))
        .select("p_brand")
    )
    # lf feeds 3 pair/triple sides (a, b, c) plus the f1 prune —
    # checkpoint so each consumer reads materialized blocks, not the
    # re-printed scan lineage
    lf = truncate_lineage(lines.join(F.broadcast(f1), "p_brand", "semi"), 8)
    a = lf.select("l_orderkey", F.col("p_brand").alias("ba"))
    b = lf.select("l_orderkey", F.col("p_brand").alias("bb"))
    p2_occ = a.join(b, "l_orderkey").filter(F.col("ba") < F.col("bb"))
    # f2 has 3 broadcast consumers (pair prune + 2 sub-pair prunes);
    # without persist each one re-derives the WHOLE pair join under
    # its broadcast — 3 extra shuffles of the most expensive frame
    f2 = (
        p2_occ.groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("c2"))
        .crossJoin(F.broadcast(n_orders.select("minsup")))
        .filter(F.col("c2") >= F.col("minsup"))
        .select("ba", "bb")
    )
    f2 = truncate_lineage(f2, 8)  # 3 broadcast consumers
    pair_occ = p2_occ.join(F.broadcast(f2), ["ba", "bb"], "semi")
    c = lf.select("l_orderkey", F.col("p_brand").alias("bc"))
    cand3 = (
        pair_occ.join(c, "l_orderkey")
        .filter(F.col("bc") > F.col("bb"))
        .join(
            F.broadcast(f2.select(F.col("ba"), F.col("bb").alias("bc"))),
            ["ba", "bc"],
            "semi",
        )
        .join(
            F.broadcast(
                f2.select(F.col("ba").alias("bb"), F.col("bb").alias("bc"))
            ),
            ["bb", "bc"],
            "semi",
        )
    )
    return (
        cand3.groupBy("ba", "bb", "bc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .crossJoin(F.broadcast(n_orders))
        .filter(F.col("n_co") >= F.col("minsup"))
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            F.col("bc").alias("brand_c"),
            "n_co",
            F.round(F.col("n_co") / F.col("n"), 6).alias("support"),
        )
        .orderBy(F.col("n_co").desc(), "brand_a", "brand_b", "brand_c")
        .limit(30)
    )


# Exhaustive frequent-itemset census (shared by the FP-growth query
# and its closed/maximal post-filter): every non-empty subset of every
# basket via a bitmask lateral (baskets are <= 7 frequent brands in
# TPC-H, so <= 127 subsets each) — covers ALL itemset sizes, unlike a
# fixed-level unroll.
_FREQ_CENSUS_CTE = """
        lines AS (
            SELECT DISTINCT l.l_orderkey, p.p_brand
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ), n_orders AS (
            SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n,
                   greatest(2, CAST(floor(count(DISTINCT l_orderkey)
                                          * 0.001) AS BIGINT)) AS minsup
            FROM lines
        ), f1 AS (
            SELECT p_brand FROM lines CROSS JOIN n_orders
            GROUP BY p_brand, minsup HAVING count(*) >= minsup
        ), baskets AS (
            SELECT l_orderkey, list_sort(list(p_brand)) AS items
            FROM lines SEMI JOIN f1 ON lines.p_brand = f1.p_brand
            GROUP BY l_orderkey
        ), subs AS (
            SELECT array_to_string(
                     list_filter(items,
                                 (x, i) -> ((m >> (i - 1)) & 1) = 1),
                     '|') AS itemset,
                   CAST(length(list_filter(items,
                                 (x, i) -> ((m >> (i - 1)) & 1) = 1))
                        AS BIGINT) AS sz
            FROM baskets,
                 LATERAL unnest(generate_series(
                     1, (1 << len(items)) - 1)) AS t(m)
        ), census AS (
            SELECT itemset, sz, CAST(count(*) AS BIGINT) AS n_co
            FROM subs
            GROUP BY itemset, sz
            HAVING count(*) >= (SELECT minsup FROM n_orders)
        )"""


@query(
    "fpgrowth_parallel_itemsets",
    category="B16-basket",
    oracle=f"""
        WITH {_FREQ_CENSUS_CTE}
        SELECT itemset, sz, n_co,
               CAST(round(n_co * 1.0 / (SELECT n FROM n_orders), 6)
                    AS DOUBLE) AS support
        FROM census
        ORDER BY sz, n_co DESC, itemset
    """,
)
def fpgrowth_parallel_itemsets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALL frequent itemsets (every size) of part brands within
    orders, mined with PFP — Parallel FP-Growth (Li et al. 2008, the
    construction behind Spark MLlib's FPGrowth) — the
    candidate-generation-free complement to frequent_triples_apriori's
    level-wise join cascade:

    1. F-list: count item supports, keep items >= minsup, rank by
       descending support (rank 0 = most frequent; tiny broadcast).
    2. Transactions: per order, its frequent brands as ascending
       RANKS (= the FP-tree's descending-frequency insert order).
    3. Group-dependent projection (the PFP shuffle): items are
       sharded by rank % G; a transaction emits, for each group g
       present in it, its PREFIX up to the LAST group-g item. Every
       itemset is then mined exactly once — in the group of its
       max-rank (least frequent) item — and each shard sees exactly
       the transactions it needs, ONE prefix per (transaction,
       group).
    4. Shard-local mining: one applyInPandas per group runs the
       classic FP-tree recursion (operators/fpgrowth.py, verified
       against a brute-force subset census), keeping itemsets whose
       responsible item lands in the shard.
    5. Union + support ratio; no global post-filter needed (minsup
       was applied locally with exact counts).

    The oracle is an EXHAUSTIVE bitmask subset census per basket
    (baskets are bounded by TPC-H order width), so it checks all
    sizes against FP-growth's output, not a fixed unroll depth.

    Scale: the F-list and rank dictionary are O(|items|) broadcast
    metadata (collected driver-side like IVF centroids); the one data
    shuffle is the (transaction, group) projection, sized G x corpus
    prefixes; each shard's FP-tree is bounded by its group's
    conditional database, the knob PFP exists to provide (raise G to
    shrink shards). No candidate blow-up at any point: the tree
    recursion enumerates only supported prefixes.
    """
    G = 8
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    lines = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        .persist()  # feeds n/minsup agg, F-list count, and projection
    )
    head = lines.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n"),
        F.greatest(
            F.lit(2).cast("long"),
            F.floor(F.count_distinct("l_orderkey") * 0.001).cast("long"),
        ).alias("minsup"),
    ).head()
    n_orders, minsup = int(head["n"]), int(head["minsup"])

    # F-list: bounded metadata collect (|brands| rows, the IVF-centroid
    # pattern); rank ties break on brand for determinism
    flist = (
        lines.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("c1"))
        .filter(F.col("c1") >= minsup)
        .collect()
    )
    flist.sort(key=lambda r: (-r["c1"], r["p_brand"]))
    rank_of = {r["p_brand"]: i for i, r in enumerate(flist)}
    brand_of = {i: b for b, i in rank_of.items()}

    rank_map = F.create_map(
        *[F.lit(x) for kv in rank_of.items() for x in kv]
    )
    tx = (
        lines.select(
            "l_orderkey", rank_map[F.col("p_brand")].alias("rank")
        )
        .filter(F.col("rank").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("rank")).alias("items"))
    )
    # group-dependent projection: one longest prefix per (tx, group)
    proj = (
        tx.select(
            "l_orderkey", "items",
            F.posexplode("items").alias("pos", "rank"),
        )
        .groupBy("l_orderkey", (F.col("rank") % G).alias("grp"))
        .agg(
            F.max("pos").alias("cut"), F.first("items").alias("items")
        )
        .select(
            "grp", F.slice("items", 1, F.col("cut") + 1).alias("prefix")
        )
    )

    mined = grouped_fold(
        proj, "grp", _fpgrowth_shard_fold, keep=None,
        added="itemset string, sz long, n_co long",
        groups=G, minsup=minsup, brand_of=brand_of,
    )
    return mined.select(
        "itemset", "sz", "n_co",
        F.round(F.col("n_co") / F.lit(n_orders), 6).alias("support"),
    )


def _fpgrowth_shard_fold(key, pdfs, state, *, groups: int, minsup: int, brand_of: dict):
    """One rank group of :func:`fpgrowth_parallel_itemsets`: FP-growth
    over the group's prefixes, keeping the itemsets the group owns."""
    import pandas as pd

    from ..operators.fpgrowth import fp_growth_local

    (pdf,) = pdfs
    g = int(pdf["grp"].iloc[0])
    txs = [list(p) for p in pdf["prefix"]]
    rows = []
    for iset, c in fp_growth_local(txs, minsup).items():
        if max(iset) % groups != g:
            continue  # owned (and counted exactly) by its own group
        brands = sorted(brand_of[i] for i in iset)
        rows.append(("|".join(brands), len(iset), c))
    yield pd.DataFrame(rows, columns=["itemset", "sz", "n_co"])


@query(
    "frequent_itemsets_closed_maximal",
    category="B16-closed",
    oracle=f"""
        WITH {_FREQ_CENSUS_CTE}, kids AS (
            SELECT array_to_string(
                     list_filter(string_split(itemset, '|'),
                                 (x, i) -> i != d),
                     '|') AS parent,
                   n_co AS child_n
            FROM census,
                 LATERAL unnest(generate_series(
                     1, CAST(sz AS INTEGER))) AS t(d)
            WHERE sz > 1
        )
        SELECT c.itemset, c.sz, c.n_co,
               coalesce(max(CASE WHEN k.child_n = c.n_co
                                 THEN 1 ELSE 0 END), 0) = 0 AS is_closed,
               count(k.parent) = 0 AS is_maximal
        FROM census c LEFT JOIN kids k ON c.itemset = k.parent
        GROUP BY c.itemset, c.sz, c.n_co
        ORDER BY c.sz, c.n_co DESC, c.itemset
    """,
)
def frequent_itemsets_closed_maximal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLOSED and MAXIMAL flags over the full frequent-itemset census
    (the condensed representations every itemset miner ships: closed =
    no superset has the SAME support, i.e. the lossless compression of
    the census; maximal = no superset is frequent at all, the positive
    border).

    The check needs only IMMEDIATE supersets, never the full superset
    lattice: support is antimonotone, so if ANY superset Y ⊃ X has
    supp(Y) = supp(X), the (|X|+1)-subset Z of Y containing X is
    squeezed to the same support (supp(Y) ≤ supp(Z) ≤ supp(X)) — and
    an equal-support superset of a frequent X is itself frequent,
    hence IN the census. Likewise any frequent superset implies a
    frequent immediate superset by downward closure. So each census
    itemset of size s emits its s immediate parents (drop one item),
    and one equi-join on the parent string decides both flags:
    a match kills maximality; an equal-support match kills closure.

    Scale: the parent expansion is Σ sz over the census — LINEAR in
    the (already minsup-bounded) census, vs the quadratic all-pairs
    subset join the definition suggests; the verdict is one string
    equi-join on parent, shuffled by itemset key. The census itself
    comes from the PFP pipeline (fpgrowth_parallel_itemsets), so the
    whole path stays candidate-generation-free.
    """
    from ..operators.graph import truncate_lineage

    census = fpgrowth_parallel_itemsets(spark, sf_dir).select(
        "itemset", "sz", "n_co"
    )
    # census feeds the parent expansion AND the verdict join's left
    # side — checkpoint so the PFP mining pipeline runs once and the
    # returned plan doesn't embed it twice (the persist-display-repeat
    # trap: r7 house rule)
    census = truncate_lineage(census, parallelism=8)
    kids = (
        census.filter(F.col("sz") > 1)
        .select(
            F.split("itemset", r"\|").alias("items"),
            F.col("n_co").alias("child_n"),
        )
        .select(
            F.posexplode("items").alias("d", "dropped"),
            "items", "child_n",
        )
        .select(
            F.array_join(
                F.filter("items", lambda x, i: i != F.col("d")), "|"
            ).alias("parent"),
            "child_n",
        )
    )
    return (
        census.join(kids, census["itemset"] == kids["parent"], "left")
        .groupBy("itemset", "sz", "n_co")
        .agg(
            (
                F.coalesce(
                    F.max(
                        F.when(
                            F.col("child_n") == F.col("n_co"), 1
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                == 0
            ).alias("is_closed"),
            (F.count("parent") == 0).alias("is_maximal"),
        )
    )


@query(
    "association_rules_confidence_lift",
    category="B16-rules",
    oracle=f"""
        WITH {_FREQ_CENSUS_CTE}, expanded AS (
            SELECT array_to_string(
                     list_filter(string_split(itemset, '|'),
                                 (x, i) -> i != d),
                     '|') AS antecedent,
                   list_extract(string_split(itemset, '|'), d)
                       AS consequent,
                   n_co AS n_rule
            FROM census,
                 LATERAL unnest(generate_series(
                     1, CAST(sz AS INTEGER))) AS t(d)
            WHERE sz > 1
        )
        SELECT e.antecedent, e.consequent, e.n_rule,
               a.n_co AS n_antecedent,
               CAST(round(e.n_rule * 1.0 / a.n_co, 6) AS DOUBLE)
                   AS confidence,
               CAST(round((e.n_rule * 1.0 / a.n_co)
                          / (c.n_co * 1.0
                             / (SELECT n FROM n_orders)), 6) AS DOUBLE)
                   AS lift
        FROM expanded e
        JOIN census a ON e.antecedent = a.itemset
        JOIN census c ON e.consequent = c.itemset
        ORDER BY confidence DESC, e.antecedent, e.consequent
    """,
)
def association_rules_confidence_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ASSOCIATION RULES X → y (multi-item antecedent, single
    consequent — the classic output stage of any basket miner) from
    the full FP-growth census: every frequent itemset Z of size ≥ 2
    yields |Z| rules (drop one item y; antecedent Z∖{y}), with
    confidence = supp(Z)/supp(Z∖{y}) and
    lift = confidence / (supp(y)/N). Both denominators are ALWAYS in
    the census by downward closure (every subset of a frequent
    itemset is frequent), so the two support lookups are inner
    equi-joins, never misses — this completes the basket family:
    fpgrowth mines the sets, closed/maximal condenses them, rules
    rank the implications.

    Scale: the rule expansion is the SAME Σ|Z| linear pass the
    closed/maximal filter uses (one parent per dropped item — no
    powerset enumeration of antecedents), and both support lookups
    are string equi-joins against the minsup-bounded census. Integer
    supports decide everything; the two ratios round at read.
    """
    from ..operators.graph import truncate_lineage

    census = fpgrowth_parallel_itemsets(spark, sf_dir).select(
        "itemset", "sz", "n_co"
    )
    # census feeds the expansion + two support lookups — checkpoint
    # so the PFP pipeline runs once and the plan prints once
    census = truncate_lineage(census, parallelism=8)
    # N (total baskets) for the lift denominator: one distinct-count
    # over the same lines frame the census was mined from
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    n_orders = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == part["p_partkey"],
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        .agg(F.count_distinct("l_orderkey").cast("long").alias("n"))
    )
    expanded = (
        census.filter(F.col("sz") > 1)
        .select(
            F.split("itemset", r"\|").alias("items"),
            F.col("n_co").alias("n_rule"),
        )
        .select(
            F.posexplode("items").alias("d", "consequent"),
            "items", "n_rule",
        )
        .select(
            F.array_join(
                F.filter("items", lambda x, i: i != F.col("d")), "|"
            ).alias("antecedent"),
            "consequent", "n_rule",
        )
    )
    a = census.select(
        F.col("itemset").alias("antecedent"),
        F.col("n_co").alias("n_antecedent"),
    )
    c = census.select(
        F.col("itemset").alias("consequent"),
        F.col("n_co").alias("n_consequent"),
    )
    conf = F.col("n_rule") / F.col("n_antecedent")
    return (
        expanded.join(a, "antecedent")
        .join(F.broadcast(c), "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent", "consequent", "n_rule", "n_antecedent",
            F.round(conf, 6).alias("confidence"),
            F.round(
                conf / (F.col("n_consequent") / F.col("n")), 6
            ).alias("lift"),
        )
    )


_Z_TERMS_SQL = " + ".join(
    f"(((ua >> {b}) & 1) << {2 * b + 1}) + (((vb >> {b}) & 1) << {2 * b})"
    for b in range(7)
)


@query(
    "zorder_layout_skipping_census",
    category="S10-layout",
    variant_of="zonemap_skipping_census",
    oracle=f"""
        WITH dims AS (
            SELECT event_id, user_id % 128 AS ua,
                   CAST(floor(value / 4.0) AS BIGINT) AS vb
            FROM events
        ), z AS (
            SELECT event_id, ua, vb, ({_Z_TERMS_SQL}) AS zval FROM dims
        ), laid AS (
            SELECT 'z-order' AS layout, zval >> 9 AS file_id, ua, vb
            FROM z
            UNION ALL
            SELECT 'linear', ua >> 2, ua, vb FROM z
            UNION ALL
            SELECT 'unclustered', event_id % 32, ua, vb FROM z
        ), zones AS (
            SELECT layout, file_id,
                   min(ua) AS min_ua, max(ua) AS max_ua,
                   min(vb) AS min_vb, max(vb) AS max_vb,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN ua BETWEEN 32 AND 47
                                  AND vb BETWEEN 40 AND 59
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_sel
            FROM laid GROUP BY layout, file_id
        )
        SELECT layout,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(CASE WHEN max_ua < 32 OR min_ua > 47
                              OR max_vb < 40 OR min_vb > 59
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
               CAST(sum(CASE WHEN max_ua < 32 OR min_ua > 47
                              OR max_vb < 40 OR min_vb > 59
                             THEN 0 ELSE n_rows END) AS BIGINT)
                   AS rows_scanned,
               CAST(sum(n_sel) AS BIGINT) AS rows_selected,
               CAST(round(sum(CASE WHEN max_ua < 32 OR min_ua > 47
                                    OR max_vb < 40 OR min_vb > 59
                                   THEN 1 ELSE 0 END) * 1.0
                          / count(*), 6) AS DOUBLE) AS skip_ratio
        FROM zones GROUP BY layout ORDER BY layout
    """,
)
def zorder_layout_skipping_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-ORDER data-layout census — the zone-map file-skipping
    question every 100 TB table must answer (Morton-curve
    multi-dimensional clustering, the construction behind Delta's
    OPTIMIZE ZORDER BY and Hudi/Iceberg clustering): interleave the
    bits of two query dimensions (user bucket x value bucket) into a
    Morton code, partition rows into files by z-range, compute each
    file's min/max zone maps, and measure how many files a 2-D
    rectangle predicate can SKIP — against the same data laid out by
    a single-column sort (skips on that column only) and unclustered
    (skips nothing). At sf0.01 the same 31-row rectangle scans 74
    rows under z-order vs 1,079 under linear vs 10,000 unclustered —
    the measured argument for paying the clustering write cost.

    Variant note: round-3's `zonemap_skipping_census` (ingest vs
    clustered layouts) and `layout_locality_hilbert_vs_zorder` (curve
    locality ranks) pin adjacent cells of this family; THIS query is
    the three-layout 2-D-predicate comparison with the Morton code
    spelled out as shared bit arithmetic.

    Everything is exact integer bit arithmetic (7-bit dims, 14-bit
    Morton codes, identical term sums on both engines), so the census
    hash-checks.

    Scale: layout assignment is one map-side expression; zone stats
    are one groupBy per layout. On a real lake the file_id becomes
    the writer's repartitionByRange(zval) and the zone maps are the
    parquet footer min/max the engine already reads — this census IS
    the planning arithmetic for choosing clustering dimensions.

    Variant-of: ``zonemap_skipping_census`` — r7 variant: measures
    skipping under a Z-order (bit-interleaved) layout vs the r3
    natural-order zone maps.
    """
    ev = load_table(spark, sf_dir, "events")
    dims = ev.select(
        "event_id",
        (F.col("user_id") % 128).alias("ua"),
        F.floor(F.col("value") / 4.0).cast("long").alias("vb"),
    )
    z = dims.select(
        "event_id", "ua", "vb", F.expr(_Z_TERMS_SQL).alias("zval")
    )
    laid = (
        z.select(
            F.lit("z-order").alias("layout"),
            F.shiftright("zval", 9).cast("long").alias("file_id"),
            "ua", "vb",
        )
        .unionByName(
            z.select(
                F.lit("linear").alias("layout"),
                F.shiftright("ua", 2).cast("long").alias("file_id"),
                "ua", "vb",
            )
        )
        .unionByName(
            z.select(
                F.lit("unclustered").alias("layout"),
                (F.col("event_id") % 32).alias("file_id"),
                "ua", "vb",
            )
        )
    )
    sel = F.col("ua").between(32, 47) & F.col("vb").between(40, 59)
    zones = laid.groupBy("layout", "file_id").agg(
        F.min("ua").alias("min_ua"), F.max("ua").alias("max_ua"),
        F.min("vb").alias("min_vb"), F.max("vb").alias("max_vb"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(sel.cast("long")).cast("long").alias("n_sel"),
    )
    skipped = (
        (F.col("max_ua") < 32) | (F.col("min_ua") > 47)
        | (F.col("max_vb") < 40) | (F.col("min_vb") > 59)
    )
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum(skipped.cast("long")).cast("long").alias("n_skipped"),
            F.sum(F.when(skipped, F.lit(0)).otherwise(F.col("n_rows")))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_sel").cast("long").alias("rows_selected"),
            F.round(
                F.sum(skipped.cast("long")) / F.count(F.lit(1)), 6
            ).alias("skip_ratio"),
        )
    )


@query(
    "skyline_pareto_parts",
    category="O6-skyline",
    oracle="""
        SELECT p.p_partkey, p.p_retailprice,
               CAST(p.p_size AS BIGINT) AS p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice
                   OR q.p_size > p.p_size))
        ORDER BY p.p_retailprice, p.p_partkey
    """,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) of parts on (minimize retail price,
    maximize size) — the classic multi-objective operator (Borzsony,
    Kossmann, Stocker 2001): a part survives iff no other part is at
    least as cheap AND at least as large with one strict. Duplicate
    points survive together (neither strictly dominates).

    The 2-D skyline needs NO pairwise join: sort by price and a point
    survives iff its size exceeds the max size of every STRICTLY
    cheaper point (and is the max within its own price tie-group).
    The scalable construction avoids the single-partition global
    window with the two-level range-bucket pattern
    (operators/ranking.exact_global_rank's shape): percentile-sketch
    price boundaries -> per-bucket running strict-prev max over the
    DISTINCT price groups (window partitioned BY BUCKET) -> per-bucket
    max sizes prefix-maxed across buckets (bounded metadata frame,
    broadcast back). The oracle is the definitional NOT EXISTS
    dominance anti-join — the bounded certifier beside the scalable
    construction.

    Scale: one shuffle on price group, one bucketed window, one tiny
    bucket-metadata window + broadcast; dominance never materializes
    O(n^2). d>2 skylines fall back to block-nested local skylines per
    grid cell — this query pins the 2-D fast path.
    """
    par = leaf_parallelism(spark)
    pts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("long").alias("p_size")
    )
    # per-price-tie-group max (dominance within equal price)
    grp = pts.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    # range buckets: equal prices always share a bucket (strictly-below
    # boundary count), so strict-prev never splits a tie group
    row = grp.agg(
        F.percentile_approx("p_retailprice", [i / par for i in range(1, par)], 10_000)
        .alias("b")
    ).head()
    bounds = sorted(set(row["b"] or []))
    if bounds:
        barr = F.array(*[F.lit(float(x)) for x in bounds])
        bucket = F.size(F.filter(barr, lambda v: F.col("p_retailprice") > v))
    else:
        bucket = F.lit(0)
    dg = grp.withColumn("bucket", bucket)
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prev = F.max("gmax").over(w_in)
    bmax = dg.groupBy("bucket").agg(F.max("gmax").alias("bmax"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    # bucket-metadata window: <= parallelism rows, bounded like the
    # rank construction's offset frame
    bprefix = bmax.select(
        "bucket", F.max("bmax").over(w_b).alias("prev_bmax")
    )
    surviving = (
        dg.withColumn("local_prev", local_prev)
        .join(F.broadcast(bprefix), "bucket")
        .filter(
            F.col("gmax")
            > F.greatest(
                F.coalesce("local_prev", F.lit(-1)),
                F.coalesce("prev_bmax", F.lit(-1)),
            )
        )
        .select("p_retailprice", "gmax")
    )
    return (
        pts.join(F.broadcast(surviving), "p_retailprice")
        .filter(F.col("p_size") == F.col("gmax"))
        .select("p_partkey", "p_retailprice", "p_size")
    )


@query(
    "ivm_delta_aggregate_maintenance",
    category="W-ivm",
    oracle="""
        WITH base AS (
            SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20'
        ), inserts AS (
            SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-20'
        ), deletes AS (
            SELECT * FROM base WHERE event_id % 97 = 0
        ), base_agg AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM base GROUP BY event_type
        ), delta AS (
            SELECT event_type, CAST(sum(w) AS BIGINT) AS dn,
                   CAST(sum(w * CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS dcents
            FROM (
                SELECT event_type, value, 1 AS w FROM inserts
                UNION ALL
                SELECT event_type, value, -1 FROM deletes
            ) GROUP BY event_type
        ), maintained AS (
            SELECT coalesce(b.event_type, d.event_type) AS event_type,
                   coalesce(b.n, 0) + coalesce(d.dn, 0) AS n,
                   coalesce(b.cents, 0) + coalesce(d.dcents, 0) AS cents
            FROM base_agg b FULL OUTER JOIN delta d
              ON b.event_type = d.event_type
        ), recompute AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cents
            FROM (
                SELECT event_type, value FROM base
                WHERE event_id % 97 <> 0
                UNION ALL
                SELECT event_type, value FROM inserts
            ) GROUP BY event_type
        )
        SELECT m.event_type,
               m.n AS n_maintained,
               CAST(round(m.cents / 100.0, 2) AS DOUBLE) AS sum_maintained,
               r.n AS n_recompute,
               (m.n = r.n AND m.cents = r.cents) AS ivm_gate
        FROM maintained m JOIN recompute r
          ON m.event_type = r.event_type
        ORDER BY m.event_type
    """,
)
def ivm_delta_aggregate_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance (IVM) of a grouped aggregate:
    given a materialized per-channel (count, sum) over the base, an
    INSERT batch (new events) and a DELETE batch (retracted base
    rows), the maintained view = base_agg merged with the signed
    delta aggregate — never re-reading the base facts. The emitted
    `ivm_gate` proves maintained == full-recompute per group, exact
    to the integer cent (counts and sums are self-maintainable
    aggregates; MIN/MAX are not — they need the merge-on-read rewrite
    instead, operators/merge.py).

    Scale: THE pattern that turns an hourly 100 TB re-aggregation into
    a delta-sized job — the base never rescans; the delta aggregate
    is one shuffle of the changelog, and the merge is a join on the
    group key between two agg-sized frames. Signed weights (+1/-1)
    make insert/delete one union, the classic delta-relation encoding
    (Gupta & Mumick's counting algorithm).
    """
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-20").cast("timestamp")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    base = ev.filter(F.col("ts") < cut)
    inserts = ev.filter(F.col("ts") >= cut)
    deletes = base.filter(F.col("event_id") % 97 == 0)
    base_agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("cents"),
    )
    delta = (
        inserts.select("event_type", cents.alias("c"), F.lit(1).alias("w"))
        .unionByName(
            deletes.select(
                "event_type", cents.alias("c"), F.lit(-1).alias("w")
            )
        )
        .groupBy("event_type")
        .agg(
            F.sum("w").cast("long").alias("dn"),
            F.sum(F.col("w") * F.col("c")).cast("long").alias("dcents"),
        )
    )
    maintained = (
        base_agg.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
            (
                F.coalesce("cents", F.lit(0)) + F.coalesce("dcents", F.lit(0))
            ).alias("cents"),
        )
    )
    recompute = (
        base.filter(F.col("event_id") % 97 != 0)
        .select("event_type", cents.alias("c"))
        .unionByName(inserts.select("event_type", cents.alias("c")))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rn"),
            F.sum("c").cast("long").alias("rcents"),
        )
    )
    return (
        maintained.join(recompute, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_maintained"),
            F.round(F.col("cents") / 100.0, 2).alias("sum_maintained"),
            F.col("rn").alias("n_recompute"),
            (
                (F.col("n") == F.col("rn"))
                & (F.col("cents") == F.col("rcents"))
            ).alias("ivm_gate"),
        )
    )


def _FS_ORACLE() -> str:
    from .joins import _md5_int_sql

    hpos = _md5_int_sql(
        "concat('cpos|', CAST(c_custkey AS VARCHAR))", duck=True
    )
    hchr = _md5_int_sql(
        "concat('cchr|', CAST(c_custkey AS VARCHAR))", duck=True
    )
    hbal = _md5_int_sql(
        "concat('cbal|', CAST(c_custkey AS VARCHAR))", duck=True
    )
    return f"""
        WITH dirty AS (
            SELECT c_custkey + 5000000 AS dirty_id,
                   concat(substr(c_name, 1, CAST(10 + ({hpos}) % 9 AS INTEGER) - 1),
                          substr('0123456789',
                                 CAST(1 + ({hchr}) % 10 AS INTEGER), 1),
                          substr(c_name, CAST(10 + ({hpos}) % 9 AS INTEGER) + 1))
                       AS name_d,
                   c_acctbal + CASE WHEN ({hbal}) % 2 = 0
                                    THEN 0.01 ELSE 0.0 END AS bal_d,
                   c_nationkey, c_mktsegment
            FROM customer WHERE c_custkey % 3 = 0
        ), cand AS (
            SELECT d.dirty_id, c.c_custkey AS clean_id,
                   CAST(levenshtein(d.name_d, c.c_name) AS BIGINT)
                       AS name_lev,
                   abs(d.bal_d - c.c_acctbal) AS bal_diff
            FROM dirty d JOIN customer c
              ON d.c_nationkey = c.c_nationkey
             AND d.c_mktsegment = c.c_mktsegment
        ), scored AS (
            SELECT dirty_id, clean_id, name_lev,
                   CAST(round(bal_diff, 2) AS DOUBLE) AS bal_diff,
                   CAST(round(
                       (CASE WHEN name_lev <= 1 THEN 5.5699
                             ELSE -4.2934 END)
                       + (CASE WHEN bal_diff <= 0.02 THEN 6.5699
                               ELSE -4.3075 END), 4) AS DOUBLE) AS score
            FROM cand
        )
        SELECT dirty_id, clean_id, name_lev, bal_diff, score,
               CASE WHEN score >= 8.0 THEN 'match'
                    ELSE 'possible' END AS decision
        FROM scored WHERE score >= 0.0
        ORDER BY dirty_id, clean_id
    """


@query(
    "fellegi_sunter_record_linkage",
    category="W-linkage",
    oracle=_FS_ORACLE(),
)
def fellegi_sunter_record_linkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969) under
    oracle: a DIRTY twin of every third customer is minted
    deterministically (one md5-chosen name digit substituted, half
    the balances nudged +0.01), then linked back by BLOCKING on
    (nation, segment) and scoring each candidate pair's agreement
    vector — name fuzzy-agrees at levenshtein <= 1, balance agrees
    within 0.02 — with fixed log2(m/u) weights (m/u stated in the
    constants: name .95/.02, balance .95/.01; the conditional-
    independence assumption FS makes is honest here because the two
    comparators hit different corrupted fields). Pairs above the
    upper threshold are matches; the emitted set is every candidate
    scoring above the review floor.

    Scale: the classic ER pipeline shape — blocking turns n x n into
    sum-per-block products (the grid-join pattern in key space);
    comparators are codegen'd string/numeric expressions; multi-pass
    blocking unions more candidate sets when a single key would miss
    true pairs. Weight TRAINING (EM over agreement patterns) is a
    separate iterative job; the weights here are fixed parameters, as
    in a production scorer serving a trained model.
    """
    from .joins import _md5_int_sql

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    hpos = F.expr(
        _md5_int_sql("concat('cpos|', CAST(c_custkey AS STRING))", duck=False)
    )
    hchr = F.expr(
        _md5_int_sql("concat('cchr|', CAST(c_custkey AS STRING))", duck=False)
    )
    hbal = F.expr(
        _md5_int_sql("concat('cbal|', CAST(c_custkey AS STRING))", duck=False)
    )
    pos = (F.lit(10) + hpos % 9).cast("int")
    dirty = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("pos", pos)
        .withColumn("chi", (1 + hchr % 10).cast("int"))
        .select(
            (F.col("c_custkey") + 5000000).alias("dirty_id"),
            F.concat(
                F.expr("substr(c_name, 1, pos - 1)"),
                F.expr("substr('0123456789', chi, 1)"),
                F.expr("substr(c_name, pos + 1)"),
            ).alias("name_d"),
            (
                F.col("c_acctbal")
                + F.when(hbal % 2 == 0, F.lit(0.01)).otherwise(F.lit(0.0))
            ).alias("bal_d"),
            "c_nationkey", "c_mktsegment",
        )
    )
    cand = dirty.join(
        cust, ["c_nationkey", "c_mktsegment"]
    ).select(
        "dirty_id",
        F.col("c_custkey").alias("clean_id"),
        F.levenshtein("name_d", "c_name").cast("long").alias("name_lev"),
        F.abs(F.col("bal_d") - F.col("c_acctbal")).alias("bal_diff_raw"),
    )
    score = (
        F.when(F.col("name_lev") <= 1, F.lit(5.5699)).otherwise(F.lit(-4.2934))
        + F.when(F.col("bal_diff_raw") <= 0.02, F.lit(6.5699)).otherwise(
            F.lit(-4.3075)
        )
    )
    return (
        cand.select(
            "dirty_id", "clean_id", "name_lev",
            F.round("bal_diff_raw", 2).alias("bal_diff"),
            F.round(score, 4).alias("score"),
        )
        .filter(F.col("score") >= 0.0)
        .withColumn(
            "decision",
            F.when(F.col("score") >= 8.0, F.lit("match")).otherwise(
                F.lit("possible")
            ),
        )
    )


def _FS_EM_ORACLE() -> str:
    from .joins import _md5_int_sql

    hpos = _md5_int_sql(
        "concat('cpos|', CAST(c_custkey AS VARCHAR))", duck=True
    )
    hchr = _md5_int_sql(
        "concat('cchr|', CAST(c_custkey AS VARCHAR))", duck=True
    )
    hbal = _md5_int_sql(
        "concat('cbal|', CAST(c_custkey AS VARCHAR))", duck=True
    )
    return f"""
        WITH dirty AS (
            SELECT c_custkey + 5000000 AS dirty_id,
                   concat(substr(c_name, 1, CAST(10 + ({hpos}) % 9 AS INTEGER) - 1),
                          substr('0123456789',
                                 CAST(1 + ({hchr}) % 10 AS INTEGER), 1),
                          substr(c_name, CAST(10 + ({hpos}) % 9 AS INTEGER) + 1))
                       AS name_d,
                   c_acctbal + CASE WHEN ({hbal}) % 2 = 0
                                    THEN 0.01 ELSE 0.0 END AS bal_d,
                   c_nationkey, c_mktsegment
            FROM customer WHERE c_custkey % 3 = 0
        ), cand AS (
            SELECT CASE WHEN levenshtein(d.name_d, c.c_name) <= 1
                        THEN 1 ELSE 0 END AS a1,
                   CASE WHEN abs(d.bal_d - c.c_acctbal) <= 0.02
                        THEN 1 ELSE 0 END AS a2
            FROM dirty d JOIN customer c
              ON d.c_nationkey = c.c_nationkey
             AND d.c_mktsegment = c.c_mktsegment
        ), counts AS (
            SELECT
              CAST(sum(CASE WHEN a1=0 AND a2=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
              CAST(sum(CASE WHEN a1=0 AND a2=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
              CAST(sum(CASE WHEN a1=1 AND a2=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
              CAST(sum(CASE WHEN a1=1 AND a2=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
            FROM cand
        ), em AS (
            -- 20 EM iterations; every float expression is written in
            -- one pinned order over the PIVOTED pattern counts (n00..
            -- n11 as columns), so Spark's driver loop and this CTE
            -- evaluate bit-identical IEEE operations
            WITH RECURSIVE it AS (
                SELECT 0 AS i, CAST(0.1 AS DOUBLE) AS p,
                       CAST(0.9 AS DOUBLE) AS m1,
                       CAST(0.1 AS DOUBLE) AS u1,
                       CAST(0.9 AS DOUBLE) AS m2,
                       CAST(0.1 AS DOUBLE) AS u2,
                       n00, n01, n10, n11 FROM counts
                UNION ALL
                SELECT i + 1,
                    greatest(CAST(0.000001 AS DOUBLE), least(CAST(0.999999 AS DOUBLE),
                      (n00*w00 + n01*w01 + n10*w10 + n11*w11) / nt)),
                    greatest(CAST(0.000001 AS DOUBLE), least(CAST(0.999999 AS DOUBLE),
                      (n10*w10 + n11*w11)
                      / (n00*w00 + n01*w01 + n10*w10 + n11*w11))),
                    greatest(CAST(0.000001 AS DOUBLE), least(CAST(0.999999 AS DOUBLE),
                      (n10*(1-w10) + n11*(1-w11))
                      / (n00*(1-w00) + n01*(1-w01)
                         + n10*(1-w10) + n11*(1-w11)))),
                    greatest(CAST(0.000001 AS DOUBLE), least(CAST(0.999999 AS DOUBLE),
                      (n01*w01 + n11*w11)
                      / (n00*w00 + n01*w01 + n10*w10 + n11*w11))),
                    greatest(CAST(0.000001 AS DOUBLE), least(CAST(0.999999 AS DOUBLE),
                      (n01*(1-w01) + n11*(1-w11))
                      / (n00*(1-w00) + n01*(1-w01)
                         + n10*(1-w10) + n11*(1-w11)))),
                    n00, n01, n10, n11
                FROM (
                    SELECT i, p, m1, u1, m2, u2, n00, n01, n10, n11,
                        (p*(1-m1)*(1-m2))
                          / (p*(1-m1)*(1-m2) + (1-p)*(1-u1)*(1-u2)) AS w00,
                        (p*(1-m1)*m2)
                          / (p*(1-m1)*m2 + (1-p)*(1-u1)*u2) AS w01,
                        (p*m1*(1-m2))
                          / (p*m1*(1-m2) + (1-p)*u1*(1-u2)) AS w10,
                        (p*m1*m2) / (p*m1*m2 + (1-p)*u1*u2) AS w11,
                        CAST(n00+n01+n10+n11 AS DOUBLE) AS nt
                    FROM it
                ) WHERE i < 20
            )
            SELECT * FROM it WHERE i = 20
        )
        SELECT n00, n01, n10, n11,
               CAST(round(p, 6) AS DOUBLE) AS p_match,
               CAST(round(m1, 6) AS DOUBLE) AS m_name,
               CAST(round(u1, 6) AS DOUBLE) AS u_name,
               CAST(round(m2, 6) AS DOUBLE) AS m_bal,
               CAST(round(u2, 6) AS DOUBLE) AS u_bal,
               CAST(round(log2((m1 / u1)), 4) AS DOUBLE) AS w_name_agree,
               CAST(round(log2((m2 / u2)), 4) AS DOUBLE) AS w_bal_agree
        FROM em
    """


@query(
    "fs_em_weight_training",
    category="W-linkage",
    oracle=_FS_EM_ORACLE(),
)
def fs_em_weight_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM training of the Fellegi-Sunter m/u parameters (Winkler's
    unsupervised fit) over the SAME blocked candidate space as
    fellegi_sunter_record_linkage: count the four agreement patterns
    (name-fuzzy x balance-close), then run 20 EM iterations of the
    two-class latent-mixture update. The distributed part is the
    pattern census (one shuffle over blocked pairs); EM itself is
    O(patterns) arithmetic on the PIVOTED one-row count frame —
    driver-side here, exactly mirroring the oracle's recursive CTE
    term-for-term so both engines run identical IEEE operations (sum
    order over patterns is pinned by writing the four terms
    explicitly, never aggregating a float column).

    Converged output at sf0.01: p_match ~ the true dup fraction of
    the candidate space, m_name/u_name >> m_bal/u_bal separation, and
    the derived log2(m/u) agreement weights — the parameters the
    linkage scorer consumes as constants.
    """
    from .joins import _md5_int_sql

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    hpos = F.expr(
        _md5_int_sql("concat('cpos|', CAST(c_custkey AS STRING))", duck=False)
    )
    hchr = F.expr(
        _md5_int_sql("concat('cchr|', CAST(c_custkey AS STRING))", duck=False)
    )
    hbal = F.expr(
        _md5_int_sql("concat('cbal|', CAST(c_custkey AS STRING))", duck=False)
    )
    dirty = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .withColumn("pos", (F.lit(10) + hpos % 9).cast("int"))
        .withColumn("chi", (1 + hchr % 10).cast("int"))
        .select(
            F.concat(
                F.expr("substr(c_name, 1, pos - 1)"),
                F.expr("substr('0123456789', chi, 1)"),
                F.expr("substr(c_name, pos + 1)"),
            ).alias("name_d"),
            (
                F.col("c_acctbal")
                + F.when(hbal % 2 == 0, F.lit(0.01)).otherwise(F.lit(0.0))
            ).alias("bal_d"),
            "c_nationkey", "c_mktsegment",
        )
    )
    cand = dirty.join(cust, ["c_nationkey", "c_mktsegment"]).select(
        (F.levenshtein("name_d", "c_name") <= 1).cast("int").alias("a1"),
        (F.abs(F.col("bal_d") - F.col("c_acctbal")) <= 0.02)
        .cast("int")
        .alias("a2"),
    )
    row = cand.agg(
        F.sum(((F.col("a1") == 0) & (F.col("a2") == 0)).cast("long")).alias("n00"),
        F.sum(((F.col("a1") == 0) & (F.col("a2") == 1)).cast("long")).alias("n01"),
        F.sum(((F.col("a1") == 1) & (F.col("a2") == 0)).cast("long")).alias("n10"),
        F.sum(((F.col("a1") == 1) & (F.col("a2") == 1)).cast("long")).alias("n11"),
    ).head()
    n00, n01, n10, n11 = (int(row[c]) for c in ("n00", "n01", "n10", "n11"))

    # EM on the bounded pattern row — term order mirrors the oracle CTE
    p, m1, u1, m2, u2 = 0.1, 0.9, 0.1, 0.9, 0.1
    nt = float(n00 + n01 + n10 + n11)
    for _ in range(20):
        w00 = (p * (1 - m1) * (1 - m2)) / (
            p * (1 - m1) * (1 - m2) + (1 - p) * (1 - u1) * (1 - u2)
        )
        w01 = (p * (1 - m1) * m2) / (
            p * (1 - m1) * m2 + (1 - p) * (1 - u1) * u2
        )
        w10 = (p * m1 * (1 - m2)) / (
            p * m1 * (1 - m2) + (1 - p) * u1 * (1 - u2)
        )
        w11 = (p * m1 * m2) / (p * m1 * m2 + (1 - p) * u1 * u2)
        sm = n00 * w00 + n01 * w01 + n10 * w10 + n11 * w11
        su = (
            n00 * (1 - w00) + n01 * (1 - w01)
            + n10 * (1 - w10) + n11 * (1 - w11)
        )
        # clamp away from the {0,1} boundary (a zero pattern count
        # collapses u->0/m->1 and the next responsibility divides by
        # zero — the standard EM guard, mirrored in the oracle CTE)
        def _cl(x):
            return max(0.000001, min(0.999999, x))

        p, m1, u1, m2, u2 = (
            _cl(sm / nt),
            _cl((n10 * w10 + n11 * w11) / sm),
            _cl((n10 * (1 - w10) + n11 * (1 - w11)) / su),
            _cl((n01 * w01 + n11 * w11) / sm),
            _cl((n01 * (1 - w01) + n11 * (1 - w11)) / su),
        )

    import math

    return spark.createDataFrame(
        [
            (
                n00, n01, n10, n11,
                round(p, 6), round(m1, 6), round(u1, 6),
                round(m2, 6), round(u2, 6),
                round(math.log2(m1 / u1), 4), round(math.log2(m2 / u2), 4),
            )
        ],
        "n00 long, n01 long, n10 long, n11 long, p_match double,"
        " m_name double, u_name double, m_bal double, u_bal double,"
        " w_name_agree double, w_bal_agree double",
    )


@query(
    "psi_distribution_drift",
    category="Q1-drift",
    oracle="""
        WITH halves AS (
            SELECT event_type,
                   CASE WHEN ts < TIMESTAMP '2024-01-20'
                        THEN 'ref' ELSE 'cur' END AS half,
                   least(9, greatest(0,
                       CAST(floor(value / 50.0) AS BIGINT))) AS bucket
            FROM events
        ), cells AS (
            SELECT event_type, half, bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM halves GROUP BY event_type, half, bucket
        ), grid AS (
            -- dense bucket grid so empty cells smooth instead of
            -- vanishing (ln(0) guard is the +0.5 Laplace term)
            SELECT e.event_type, b.bucket, h.half
            FROM (SELECT DISTINCT event_type FROM events) e
            CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) b
            CROSS JOIN (VALUES ('ref'), ('cur')) h(half)
        ), dense AS (
            SELECT g.event_type, g.bucket, g.half,
                   coalesce(c.n, 0) AS n
            FROM grid g LEFT JOIN cells c
              ON g.event_type = c.event_type
             AND g.bucket = c.bucket AND g.half = c.half
        ), tot AS (
            SELECT event_type, half, CAST(sum(n) AS BIGINT) AS nt
            FROM dense GROUP BY event_type, half
        ), props AS (
            SELECT d.event_type, d.bucket,
                   max(CASE WHEN d.half = 'ref'
                            THEN (d.n + 0.5) / (t.nt + 5.0) END) AS p,
                   max(CASE WHEN d.half = 'cur'
                            THEN (d.n + 0.5) / (t.nt + 5.0) END) AS q
            FROM dense d JOIN tot t
              ON d.event_type = t.event_type AND d.half = t.half
            GROUP BY d.event_type, d.bucket
        )
        SELECT event_type,
               CAST(round(sum((p - q) * ln(p / q)), 6) AS DOUBLE) AS psi,
               sum((p - q) * ln(p / q)) > 0.1 AS drift_flag
        FROM props
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def psi_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per channel — the standard
    model-monitoring drift gate: bucket `value` into 10 fixed-width
    bins, compare the reference half (before 2024-01-20) against the
    current half, PSI = sum (p - q) ln(p/q) over the densified bucket
    grid with +0.5 Laplace smoothing (an empty bin must contribute a
    finite penalty, not ln(0)). PSI > 0.1 is the conventional
    watch threshold; > 0.25 would be act.

    Scale: two groupBys over the facts (cell counts, totals) and a
    tiny dense-grid recombination — channels x bins x 2 rows. The
    fixed-width bins are the production choice (quantile bins of the
    reference would add one percentile job; same shape).
    """
    ev = load_table(spark, sf_dir, "events")
    half = F.when(
        F.col("ts") < F.lit("2024-01-20").cast("timestamp"), "ref"
    ).otherwise("cur")
    bucket = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor(F.col("value") / 50.0))
    ).cast("long")
    cells = (
        ev.select("event_type", half.alias("half"), bucket.alias("bucket"))
        .groupBy("event_type", "half", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    chans = ev.select("event_type").distinct()
    grid = (
        chans.crossJoin(
            F.broadcast(
                spark.range(10).select(F.col("id").cast("long").alias("bucket"))
            )
        )
        .crossJoin(
            F.broadcast(
                spark.createDataFrame([("ref",), ("cur",)], "half string")
            )
        )
    )
    dense = grid.join(cells, ["event_type", "half", "bucket"], "left").select(
        "event_type", "half", "bucket",
        F.coalesce("n", F.lit(0)).alias("n"),
    )
    tot = dense.groupBy("event_type", "half").agg(
        F.sum("n").cast("long").alias("nt")
    )
    props = (
        dense.join(tot, ["event_type", "half"])
        .groupBy("event_type", "bucket")
        .agg(
            F.max(
                F.when(
                    F.col("half") == "ref",
                    (F.col("n") + 0.5) / (F.col("nt") + 5.0),
                )
            ).alias("p"),
            F.max(
                F.when(
                    F.col("half") == "cur",
                    (F.col("n") + 0.5) / (F.col("nt") + 5.0),
                )
            ).alias("q"),
        )
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return (
        props.groupBy("event_type")
        .agg(
            F.round(F.sum(term), 6).alias("psi"),
            (F.sum(term) > 0.1).alias("drift_flag"),
        )
    )


def _CH_ORACLE() -> str:
    from .joins import _md5_int_sql

    rp = _md5_int_sql(
        "concat('ring|', name, '|', CAST(v AS VARCHAR))", duck=True
    )
    kp = _md5_int_sql("concat('key|', CAST(user_id AS VARCHAR))", duck=True)
    return f"""
        WITH ring AS (
            SELECT concat('node-', CAST(n AS VARCHAR)) AS name, v,
                   ({rp}) AS pos
            FROM unnest(generate_series(0, 8)) AS t(n),
                 LATERAL unnest(generate_series(0, 31)) AS u(v)
        ), ring_b AS (SELECT * FROM ring WHERE name <> 'node-8'),
        keys AS (
            SELECT DISTINCT user_id, ({kp}) AS kpos FROM events
        ), asg AS (
            SELECT k.user_id,
                (SELECT rb.name FROM ring_b rb
                 WHERE rb.pos = coalesce(
                     (SELECT min(r.pos) FROM ring_b r
                      WHERE r.pos >= k.kpos),
                     (SELECT min(r.pos) FROM ring_b r))) AS node_before,
                (SELECT ra.name FROM ring ra
                 WHERE ra.pos = coalesce(
                     (SELECT min(r.pos) FROM ring r
                      WHERE r.pos >= k.kpos),
                     (SELECT min(r.pos) FROM ring r))) AS node_after
            FROM keys k
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS total_keys,
                   CAST(sum(CASE WHEN node_before <> node_after
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS moved_keys,
                   bool_and(CASE WHEN node_before <> node_after
                                 THEN node_after = 'node-8'
                                 ELSE TRUE END) AS moved_only_to_new
            FROM asg
        )
        SELECT a.node_before, a.node_after,
               CAST(count(*) AS BIGINT) AS n_keys,
               (a.node_before <> a.node_after) AS is_move,
               s.moved_keys, s.total_keys,
               CAST(round(s.moved_keys * 1.0 / s.total_keys, 6)
                    AS DOUBLE) AS moved_frac,
               s.moved_only_to_new
        FROM asg a CROSS JOIN stats s
        GROUP BY a.node_before, a.node_after, s.moved_keys,
                 s.total_keys, s.moved_only_to_new
        ORDER BY a.node_before, a.node_after
    """


@query(
    "consistent_hash_rebalance_census",
    category="W-routing",
    oracle=_CH_ORACLE(),
)
def consistent_hash_rebalance_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Consistent-hashing ring rebalance census (Karger et al. 1997 —
    the routing construction under every distributed cache/storage
    ring): 8 nodes x 32 virtual points on a 32-bit md5 ring own the
    key space by clockwise successor; adding node-8 must move ONLY
    the keys the new node captures (~1/9 of them) and not reshuffle
    any key between old nodes — the emitted `moved_only_to_new` gate
    IS that defining property, hash-checked per (before, after) cell.

    Scale: the ring is bounded metadata (288 positions, collected
    driver-side like IVF centroids); successor lookup is a MAP-SIDE
    sorted-array probe per key (array_min over a filtered literal
    array — no join blowup, no per-key subquery), and the pos->node
    resolution is a 288-row broadcast equi join. At a billion keys
    the shape is identical: one scan, one broadcast.
    """
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    ring = [
        (f"node-{n}", h32(f"ring|node-{n}|{v}"))
        for n in range(9)
        for v in range(32)
    ]
    ring_b = [(name, pos) for name, pos in ring if name != "node-8"]
    arr_b = F.array(*[F.lit(p) for _, p in sorted(ring_b, key=lambda t: t[1])])
    arr_a = F.array(*[F.lit(p) for _, p in sorted(ring, key=lambda t: t[1])])
    min_b = F.lit(min(p for _, p in ring_b))
    min_a = F.lit(min(p for _, p in ring))

    from .joins import _md5_int_sql

    kp = F.expr(_md5_int_sql("concat('key|', CAST(user_id AS STRING))", duck=False))
    ev = load_table(spark, sf_dir, "events")
    keys = ev.select("user_id").distinct().select("user_id", kp.alias("kpos"))

    def successor(arr, mn):
        hits = F.filter(arr, lambda p: p >= F.col("kpos"))
        return F.coalesce(F.array_min(hits), mn)

    asg = keys.select(
        "user_id",
        successor(arr_b, min_b).alias("spos_b"),
        successor(arr_a, min_a).alias("spos_a"),
    )
    dim = spark.createDataFrame(ring, "name string, pos long")
    asg = (
        asg.join(
            F.broadcast(dim.select(F.col("name").alias("node_before"),
                                   F.col("pos").alias("spos_b"))),
            "spos_b",
        )
        .join(
            F.broadcast(dim.select(F.col("name").alias("node_after"),
                                   F.col("pos").alias("spos_a"))),
            "spos_a",
        )
    )
    stats = asg.agg(
        F.count(F.lit(1)).cast("long").alias("total_keys"),
        F.sum((F.col("node_before") != F.col("node_after")).cast("long"))
        .cast("long")
        .alias("moved_keys"),
        F.bool_and(
            F.when(
                F.col("node_before") != F.col("node_after"),
                F.col("node_after") == "node-8",
            ).otherwise(F.lit(True))
        ).alias("moved_only_to_new"),
    )
    return (
        asg.groupBy("node_before", "node_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .crossJoin(F.broadcast(stats))
        .select(
            "node_before", "node_after", "n_keys",
            (F.col("node_before") != F.col("node_after")).alias("is_move"),
            "moved_keys", "total_keys",
            F.round(F.col("moved_keys") / F.col("total_keys"), 6).alias(
                "moved_frac"
            ),
            "moved_only_to_new",
        )
    )


def _vopt_oracle(n_buckets: int = 8) -> str:
    """Unrolled V-optimal DP: e_b(i) = min_j e_{b-1}(j) + SSE(j+1..i)
    as one CTE per level (no recursion needed — B is a constant), then
    an argmin backtrack chain and the equi-width comparison census."""
    sse = (
        "({hi}.pss - {lo}.pss) - CAST({hi}.ps - {lo}.ps AS DOUBLE)"
        " * ({hi}.ps - {lo}.ps) / ({hi}.pc - {lo}.pc)"
    )
    cost = "lo.cost + (" + sse.format(hi="hi", lo="lo") + ")"
    ebs = []
    for b in range(2, n_buckets + 1):
        ebs.append(f"""e{b} AS (
            SELECT i, cost, pc, ps, pss, cut FROM (
                SELECT hi.i, {cost} AS cost,
                       hi.pc, hi.ps, hi.pss, lo.i AS cut,
                       row_number() OVER (PARTITION BY hi.i
                                          ORDER BY {cost}, lo.i) AS rk
                FROM pref hi JOIN e{b - 1} lo ON lo.i < hi.i
            ) WHERE rk = 1
        )""")
    tbs = [
        f"""t{n_buckets} AS (
            SELECT e{n_buckets}.i, e{n_buckets}.cut,
                   e{n_buckets}.cost AS total
            FROM e{n_buckets} JOIN n1 ON e{n_buckets}.i = n1.n
        )"""
    ]
    for b in range(n_buckets - 1, 0, -1):
        tbs.append(
            f"t{b} AS (SELECT e{b}.i, e{b}.cut FROM e{b}"
            f" JOIN t{b + 1} ON e{b}.i = t{b + 1}.cut)"
        )
    bounds = " UNION ALL ".join(
        f"SELECT {b} AS b, i FROM t{b}" for b in range(1, n_buckets + 1)
    )
    bsse = sse.format(hi="hi", lo="lo0")
    return f"""
        WITH items AS (
            SELECT CAST(floor(value / 10.0) AS BIGINT) AS v,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1
        ), pref AS (
            SELECT v, cnt,
                   CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS i,
                   CAST(sum(cnt) OVER w AS BIGINT) AS pc,
                   CAST(sum(v * cnt) OVER w AS BIGINT) AS ps,
                   CAST(sum(v * v * cnt) OVER w AS BIGINT) AS pss
            FROM items WINDOW w AS (ORDER BY v)
        ), n1 AS (SELECT max(i) AS n FROM pref),
        e1 AS (
            SELECT i,
                   CAST(pss AS DOUBLE) - CAST(ps AS DOUBLE) * ps / pc
                       AS cost,
                   pc, ps, pss, CAST(0 AS BIGINT) AS cut
            FROM pref
        ), {", ".join(ebs)}, {", ".join(tbs)}, bounds AS (
            {bounds}
        ), buckets AS (
            SELECT b.b, coalesce(p.i, 0) + 1 AS lo_pos, b.i AS hi_pos
            FROM bounds b LEFT JOIN bounds p ON p.b = b.b - 1
        ), census AS (
            SELECT bk.b, plo.v AS lo_bin, hi.v AS hi_bin,
                   hi.pc - lo0.pc AS n_rows,
                   {bsse} AS bucket_sse
            FROM buckets bk
            JOIN pref hi ON hi.i = bk.hi_pos
            JOIN pref plo ON plo.i = bk.lo_pos
            JOIN (SELECT i, pc, ps, pss FROM pref
                  UNION ALL
                  SELECT 0, 0, 0, 0) lo0 ON lo0.i = bk.lo_pos - 1
        ), vr AS (
            SELECT min(v) AS vmin, max(v) AS vmax FROM items
        ), eq AS (
            SELECT least({n_buckets - 1}, CAST(floor(
                       (i.v - r.vmin) * {n_buckets}.0
                       / (r.vmax - r.vmin + 1)) AS BIGINT)) AS eb,
                   i.v, i.cnt
            FROM items i CROSS JOIN vr r
        ), eqcell AS (
            SELECT eb, CAST(sum(cnt) AS BIGINT) AS pc,
                   CAST(sum(v * cnt) AS BIGINT) AS ps,
                   CAST(sum(v * v * cnt) AS BIGINT) AS pss
            FROM eq GROUP BY eb
        ), eqfold AS (
            SELECT sum(CAST(pss AS DOUBLE)
                       - CAST(ps AS DOUBLE) * ps / pc)
                       OVER (ORDER BY eb) AS eq_run,
                   row_number() OVER (ORDER BY eb DESC) AS rdesc
            FROM eqcell
        ), eqtot AS (
            SELECT eq_run AS eq_sse FROM eqfold WHERE rdesc = 1
        )
        SELECT c.b, c.lo_bin, c.hi_bin, c.n_rows,
               CAST(round(c.bucket_sse, 6) AS DOUBLE) AS bucket_sse,
               CAST(round(t.total, 6) AS DOUBLE) AS total_sse,
               CAST(round(q.eq_sse, 6) AS DOUBLE) AS equiwidth_sse,
               (t.total <= q.eq_sse) AS vopt_gate
        FROM census c CROSS JOIN t{n_buckets} t CROSS JOIN eqtot q
        ORDER BY c.b
    """


@query(
    "voptimal_histogram_dp",
    category="A14-vopt",
    oracle=_vopt_oracle(),
)
def voptimal_histogram_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-OPTIMAL histogram (Jagadish et al., VLDB'98 — the optimal-
    bucket construction the synopsis/selectivity-estimation
    literature builds on): partition the integer-binned value domain
    into 8 buckets minimizing total within-bucket SSE by the exact
    O(n²B) dynamic program e_b(i) = min_j e_{b-1}(j) + SSE(j+1..i),
    with SSE read off exact-integer prefix sums (Σcnt, Σv·cnt,
    Σv²·cnt), so every DP cell is integer arithmetic plus ONE
    division. The census emits each bucket's range, row count and
    SSE, the optimal total, the EQUI-WIDTH total on the same domain,
    and `vopt_gate` — the dominance identity (the optimum over all
    partitions can never lose to the fixed equi-width partition)
    riding the hash as a self-certifying check.

    Determinism: argmin ties break to the smallest cut position j
    (row_number over (cost, j)) on both engines; DP cost chains are
    ≤ B additions of identically-parenthesized doubles; the
    equi-width total is a pinned-order fold over ≤ B bucket cells.
    The oracle runs the same DP UNROLLED — one CTE per level (B is a
    constant, so no recursion) — and backtracks the same cuts.

    Scale: the heavy step is one groupBy over the facts (distinct
    binned values + counts); the DP runs on that BOUNDED domain frame
    (|bins| rows — the Cox/Huffman metadata-collect pattern). A
    wider domain raises n; the DP is O(n²B) on metadata, and the
    literature's streaming/approximate variants slot in behind the
    same census contract.
    """
    B = 8
    ev = load_table(spark, sf_dir, "events")
    pref_rows = (
        ev.select(
            F.floor(F.col("value") / 10.0).cast("long").alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("v")
        .collect()
    )
    vs = [int(r["v"]) for r in pref_rows]
    cnts = [int(r["cnt"]) for r in pref_rows]
    n = len(vs)
    pc = [0] * (n + 1)
    ps = [0] * (n + 1)
    pss = [0] * (n + 1)
    for i in range(1, n + 1):
        pc[i] = pc[i - 1] + cnts[i - 1]
        ps[i] = ps[i - 1] + vs[i - 1] * cnts[i - 1]
        pss[i] = pss[i - 1] + vs[i - 1] * vs[i - 1] * cnts[i - 1]

    def sse(j: int, i: int) -> float:
        # SSE of positions j+1..i — same parenthesization as the SQL
        return (pss[i] - pss[j]) - float(ps[i] - ps[j]) * (
            ps[i] - ps[j]
        ) / (pc[i] - pc[j])

    # e[b][i] = (cost, cut); level 1 is sse(0, i)
    e = [None, {i: (sse(0, i), 0) for i in range(1, n + 1)}]
    for b in range(2, B + 1):
        lvl = {}
        for i in range(b, n + 1):
            best = None
            for j in sorted(e[b - 1]):
                if j >= i:
                    continue
                cand = (e[b - 1][j][0] + sse(j, i), j)
                if best is None or cand < best:
                    best = cand
            lvl[i] = best
        e.append(lvl)
    total = e[B][n][0]
    cuts = [n]
    for b in range(B, 1, -1):
        cuts.append(e[b][cuts[-1]][1])
    cuts.append(0)
    cuts.reverse()  # [0, j1, ..., j7, n]
    # equi-width comparison on the same binned domain
    vmin, vmax = vs[0], vs[-1]
    cells = {}
    for v, c in zip(vs, cnts):
        eb = min(B - 1, int((v - vmin) * B // (vmax - vmin + 1)))
        pcb, psb, pssb = cells.get(eb, (0, 0, 0))
        cells[eb] = (pcb + c, psb + v * c, pssb + v * v * c)
    eq_sse = 0.0
    for eb in sorted(cells):  # pinned order: ascending bucket
        pcb, psb, pssb = cells[eb]
        eq_sse += float(pssb) - float(psb) * psb / pcb
    rows = []
    for b in range(1, B + 1):
        lo_pos, hi_pos = cuts[b - 1] + 1, cuts[b]
        rows.append(
            (
                b,
                vs[lo_pos - 1],
                vs[hi_pos - 1],
                pc[hi_pos] - pc[lo_pos - 1],
                round(sse(lo_pos - 1, hi_pos), 6),
                round(total, 6),
                round(eq_sse, 6),
                total <= eq_sse,
            )
        )
    return spark.createDataFrame(
        rows,
        "b long, lo_bin long, hi_bin long, n_rows long,"
        " bucket_sse double, total_sse double, equiwidth_sse double,"
        " vopt_gate boolean",
    )


@query(
    "fagin_ta_depth_census",
    category="WH-topk-ta",
    oracle="""
        WITH scores AS (
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS sa,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS sb
            FROM events GROUP BY user_id
        ), ranked AS (
            SELECT user_id, sa, sb, sa + sb AS f,
                   CAST(row_number() OVER (ORDER BY sa DESC, user_id)
                        AS BIGINT) AS ra,
                   CAST(row_number() OVER (ORDER BY sb DESC, user_id)
                        AS BIGINT) AS rb
            FROM scores
        ), tau AS (
            SELECT a.d, a.a_d + b.b_d AS tau
            FROM (SELECT ra AS d, sa AS a_d FROM ranked) a
            JOIN (SELECT rb AS d, sb AS b_d FROM ranked) b
              ON a.d = b.d
            WHERE a.d <= 64
        ), seen AS (
            SELECT user_id, f, least(ra, rb) AS mrank FROM ranked
        ), counts AS (
            SELECT t.d, t.tau,
                   CAST(sum(CASE WHEN s.mrank <= t.d AND s.f >= t.tau
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
            FROM tau t CROSS JOIN seen s
            GROUP BY t.d, t.tau
        ), ks AS (
            SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k
        ), stop AS (
            SELECT k.k, CAST(min(c.d) AS BIGINT) AS tau_depth
            FROM ks k JOIN counts c ON c.n_ge >= k.k
            GROUP BY k.k
        ), nn AS (
            SELECT CAST(count(*) AS BIGINT) AS n_objects FROM ranked
        ), kth AS (
            SELECT k.k, r.f AS kth_exact_f
            FROM ks k JOIN (
                SELECT f, CAST(row_number() OVER (ORDER BY f DESC,
                                                  user_id)
                               AS BIGINT) AS rf
                FROM ranked
            ) r ON r.rf = k.k
        ), atstop AS (
            SELECT st.k, st.tau_depth,
                   CAST(sum(CASE WHEN s.mrank <= st.tau_depth
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_seen_at_stop
            FROM stop st CROSS JOIN seen s
            GROUP BY st.k, st.tau_depth
        )
        SELECT a.k, a.tau_depth, a.n_seen_at_stop, h.kth_exact_f,
               n.n_objects,
               CAST(round(a.tau_depth * 1.0 / n.n_objects, 6)
                    AS DOUBLE) AS depth_ratio
        FROM atstop a JOIN kth h ON a.k = h.k CROSS JOIN nn n
        ORDER BY a.k
    """,
)
def fagin_ta_depth_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAGIN'S THRESHOLD ALGORITHM depth census — how deep into two
    sorted score lists (per-user click count, per-user purchase
    count) a TA top-k join would have to read before its stopping
    rule fires: at depth d the threshold τ_d = a_d + b_d bounds
    every unseen object's combined score, so TA stops at the first
    d where ≥ k objects seen within depth d (min rank ≤ d) already
    score ≥ τ_d. The census emits, per k ∈ {1, 5, 10}, that stopping
    depth, the objects touched, the true k-th combined score, and
    depth/n — the measured early-termination argument for why a
    100 TB top-k over sorted projections reads prefixes, not tables
    (Fagin-Lotem-Naor, PODS'01: TA is instance-optimal, and this
    query MEASURES the instance).

    Determinism: integer scores; rank ties pinned by user_id; τ_d is
    tie-permutation-invariant (it reads the d-th VALUE). The depth
    probe is capped at 64 (the horizon is the point — d* ≪ n), so
    the probe join is a bounded 64-row broadcast against the ranked
    frame, never n×n.

    Scale: the |users|-sized ra/rb ranks ride exact_global_rank
    (range-bucketed, no single-partition Window); the only Windows
    left are over the bounded top-10 probe frame. At 100× the users
    frame shuffles once per rank construction, each bucket sorting
    ~N/32 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    scores = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long").alias("sa"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long").alias("sb"),
    )
    from ..operators.graph import truncate_lineage
    from ..operators.ranking import exact_global_rank

    # ra/rb are |users|-sized global ranks — exact_global_rank (range
    # buckets + per-bucket row_number + prefix offsets) instead of an
    # unpartitioned Window, which would single-partition the whole
    # scores frame. DESC order rides a negated lead column (ties pinned
    # by user_id, same contract as the oracle's ORDER BY ... DESC).
    scored = scores.select(
        "user_id", "sa", "sb",
        (F.col("sa") + F.col("sb")).alias("f"),
        (-F.col("sa")).alias("nsa"),
        (-F.col("sb")).alias("nsb"),
    )
    r1 = exact_global_rank(scored, ["nsa", "user_id"], rank_col="ra")
    r2 = exact_global_rank(r1, ["nsb", "user_id"], rank_col="rb")
    ranked = r2.drop("nsa", "nsb")
    ranked = truncate_lineage(ranked, 4)
    a = ranked.select(F.col("ra").alias("d"), F.col("sa").alias("a_d"))
    b = ranked.select(F.col("rb").alias("d"), F.col("sb").alias("b_d"))
    tau = (
        a.join(b, "d")
        .filter(F.col("d") <= 64)
        .select("d", (F.col("a_d") + F.col("b_d")).alias("tau"))
    )
    seen = ranked.select(
        "user_id", "f", F.least("ra", "rb").alias("mrank")
    )
    counts = (
        seen.crossJoin(F.broadcast(tau))
        .groupBy("d", "tau")
        .agg(
            F.sum(
                F.when(
                    (F.col("mrank") <= F.col("d"))
                    & (F.col("f") >= F.col("tau")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_ge")
        )
    )
    ks = spark.createDataFrame([(1,), (5,), (10,)], "k long")
    stop = (
        ks.join(F.broadcast(counts), F.col("n_ge") >= F.col("k"))
        .groupBy("k")
        .agg(F.min("d").cast("long").alias("tau_depth"))
    )
    nn = ranked.agg(F.count(F.lit(1)).cast("long").alias("n_objects"))
    # k-th exact combined score: only the top max(k)=10 rows matter, so
    # take them with orderBy+limit (TakeOrderedAndProject — a top-k
    # heap per partition, no global sort) and rank INSIDE the bounded
    # 10-row probe; this window is bucket-metadata-sized, never
    # data-proportional (the skyline "bounded probe window" pattern).
    top10 = ranked.orderBy(F.desc("f"), "user_id").limit(10)
    rf = top10.select(
        "f",
        F.row_number().over(Window.orderBy(F.desc("f"), "user_id"))
        .cast("long").alias("rf"),
    )
    kth = ks.join(
        F.broadcast(rf), F.col("rf") == F.col("k")
    ).select("k", F.col("f").alias("kth_exact_f"))
    atstop = (
        seen.crossJoin(F.broadcast(stop))
        .groupBy("k", "tau_depth")
        .agg(
            F.sum(
                F.when(F.col("mrank") <= F.col("tau_depth"), 1)
                .otherwise(0)
            ).cast("long").alias("n_seen_at_stop")
        )
    )
    return (
        atstop.join(F.broadcast(kth), "k")
        .crossJoin(F.broadcast(nn))
        .select(
            "k", "tau_depth", "n_seen_at_stop", "kth_exact_f",
            "n_objects",
            F.round(
                F.col("tau_depth") / F.col("n_objects"), 6
            ).alias("depth_ratio"),
        )
    )
