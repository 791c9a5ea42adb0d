"""Iterative ML, community detection, and metrics-monitoring additions.

Round-2 continuation families (NEXT.md item 5 + the operator classes a
metrics/event engine still lacked):

- ``kmeans_lloyd_rounds`` — the FULL k-means loop (E-step + M-step,
  two unrolled Lloyd rounds).  The E-step existed alone
  (``semantic_cluster_assign``); the M-step existed only inside the
  IVF coarse-quantizer build (rows-only).  This puts the whole loop
  under a hash-checked oracle via fixed-point centroid accumulation.
- ``label_propagation_communities`` — synchronous LPA, the standard
  community-detection companion to PageRank/CC/k-core.
- ``counter_rate_resets`` — PromQL-style ``rate()``: monotonic-counter
  increase with counter-reset detection, the monitoring-engine
  primitive behind every per-second rate panel.
- ``anomaly_mad_outliers`` — robust z-score (median/MAD) outlier
  gate, the Q1 anomaly detector that survives the skewed/heavy-tailed
  distributions where mean/stddev z-scores break.
- ``aggregate_task_correlate`` — the Logstash ``aggregate`` filter's
  batch analog: correlate start/intermediate/end events sharing a
  task key into one summary row (streaming form:
  streaming/stateful.py::correlate_tasks_stream).
- ``log_template_signature`` — Drain-lite log-template mining:
  bucket messages by (token count, first token, last token) — the
  fixed-structure signature real template miners refine.

Determinism discipline (house rules): every cross-engine float is
either a fixed-point integer sum, an IEEE expression over identical
inputs, or an in-order fold; medians run at p=0.5 over integral
doubles where interpolation is exact in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vectors import cosine_similarity, norm, to_double_array
from ..operators.graph import interaction_edges
from ..operators.spread import leaf_parallelism
from ..registry import query
from ._shared import INTERACTION_EDGES_CTE, INTERACTION_UND_CTE

# fixed-point scale for centroid accumulation: |x| <= ~0.5 per
# component, so 1e7-scaled components stay < 5e6; int64 overflows only
# past ~1.8e12 rows per cluster — comfortably past 100 TB cluster sizes
_CSCALE = 1e7


@query(
    "kmeans_lloyd_rounds",
    category="L4",
    oracle=f"""
        WITH pts AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id >= 8
        ), c0 AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
            FROM embeddings WHERE vec_id < 8
        ), s1 AS (
            SELECT p.vec_id, c.cid,
                   list_cosine_similarity(p.v, c.cvec) AS sim
            FROM pts p CROSS JOIN c0 c
        ), a1 AS (
            SELECT vec_id, cid AS cid1 FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid) AS rk
                FROM s1) WHERE rk = 1
        ), dims AS (
            SELECT a.cid1,
                   unnest(generate_series(1, len(p.v))) AS dim,
                   unnest(p.v) AS x
            FROM a1 a JOIN pts p USING (vec_id)
        ), qsums AS (
            SELECT cid1, dim,
                   CAST(sum(CAST(floor(x * {_CSCALE} + 0.5) AS BIGINT))
                        AS BIGINT) AS qsum,
                   count(*) AS n
            FROM dims GROUP BY cid1, dim
        ), c1 AS (
            SELECT cid1 AS cid,
                   list(qsum / n / {_CSCALE} ORDER BY dim) AS cvec,
                   round(sqrt(list_sum(list(
                       (qsum / n / {_CSCALE}) * (qsum / n / {_CSCALE})
                       ORDER BY dim))), 6) AS centroid_norm
            FROM qsums GROUP BY cid1
        ), s2 AS (
            SELECT p.vec_id, c.cid,
                   list_cosine_similarity(p.v, c.cvec) AS sim
            FROM pts p CROSS JOIN c1 c
        ), a2 AS (
            SELECT vec_id, cid AS cid2 FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY sim DESC, cid) AS rk
                FROM s2) WHERE rk = 1
        ), n1 AS (SELECT cid1 AS cid, count(*) AS n FROM a1 GROUP BY cid1),
        n2 AS (SELECT cid2 AS cid, count(*) AS n FROM a2 GROUP BY cid2),
        mv AS (
            SELECT a2.cid2 AS cid, count(*) AS n
            FROM a1 JOIN a2 USING (vec_id)
            WHERE a1.cid1 <> a2.cid2 GROUP BY a2.cid2
        )
        SELECT c.cid AS centroid_id,
               coalesce(n1.n, 0) AS n_assigned_r1,
               coalesce(n2.n, 0) AS n_assigned_r2,
               coalesce(mv.n, 0) AS n_moved_in,
               coalesce(k.centroid_norm, 0.0) AS centroid_norm
        FROM c0 c
        LEFT JOIN n1 ON c.cid = n1.cid
        LEFT JOIN n2 ON c.cid = n2.cid
        LEFT JOIN mv ON c.cid = mv.cid
        LEFT JOIN c1 k ON c.cid = k.cid
        ORDER BY centroid_id
    """,
)
def kmeans_lloyd_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-means (Lloyd) loop, two unrolled rounds at k=8: E-step
    assigns every vector to its argmax-cosine centroid (ties → lower
    cid), M-step recomputes each centroid as the member mean, round 2
    re-assigns against the new centroids. Reports per-centroid
    occupancy both rounds, migration in, and the new centroid's norm.

    Cross-engine M-step exactness: float means are order-dependent, so
    the mean is computed from FIXED-POINT component sums —
    ``floor(x*1e7+0.5)`` per element, integer-summed per (cluster,
    dim), divided back as ``qsum/n/1e7``.  Identical int64 sums give
    identical IEEE divisions on both engines, so round-2 centroids are
    bit-equal and the round-2 argmax cannot drift (same trick as
    ``embedding_int8_quantize``'s error accounting).

    Scale: centroids are a k-row broadcast both rounds (the fact table
    never shuffles for assignment); the M-step is ONE map-side-
    combinable (cid, dim) integer aggregation — k·dim result rows
    regardless of corpus size; at convergence-driven depth each extra
    round adds one broadcast + one bounded agg (the IVF build,
    operators/ivf.py, runs this loop rows-only; here it is
    hash-certified). Empty clusters drop out of round 2 (reported with
    0/0.0 via the left join), matching the oracle exactly.
    """
    from ..operators.graph import truncate_lineage

    emb = load_table(spark, sf_dir, "embeddings")
    pts = truncate_lineage(
        emb.filter(F.col("vec_id") >= 8).select(
            "vec_id", to_double_array("embedding").alias("v")
        ),
        8,
    )
    c0 = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), to_double_array("embedding").alias("cvec")
    )

    def assign(cents: DataFrame, out: str) -> DataFrame:
        sims = pts.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cid", cosine_similarity(F.col("v"), F.col("cvec")).alias("sim")
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
        return (
            sims.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", F.col("cid").alias(out))
        )

    a1 = truncate_lineage(assign(c0, "cid1"), 8)
    dims = a1.join(pts, "vec_id").select(
        "cid1", F.posexplode("v").alias("dim", "x")
    )
    qsums = dims.groupBy("cid1", "dim").agg(
        F.sum(F.floor(F.col("x") * _CSCALE + 0.5).cast("long")).alias("qsum"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = (F.col("qsum") / F.col("n") / _CSCALE)
    c1 = qsums.groupBy("cid1").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", mean.alias("m")))),
            lambda s: s["m"],
        ).alias("cvec"),
    ).select(
        F.col("cid1").alias("cid"),
        "cvec",
        F.round(norm(F.col("cvec")), 6).alias("centroid_norm"),
    )
    c1 = truncate_lineage(c1, 1)  # 8-row centroid frame, 2 consumers

    a2 = assign(c1.select("cid", "cvec"), "cid2")
    n1 = a1.groupBy(F.col("cid1").alias("cid")).agg(F.count(F.lit(1)).alias("n1"))
    n2 = a2.groupBy(F.col("cid2").alias("cid")).agg(F.count(F.lit(1)).alias("n2"))
    mv = (
        a1.join(a2, "vec_id")
        .filter(F.col("cid1") != F.col("cid2"))
        .groupBy(F.col("cid2").alias("cid"))
        .agg(F.count(F.lit(1)).alias("nm"))
    )
    return (
        c0.select("cid")
        .join(n1, "cid", "left")
        .join(n2, "cid", "left")
        .join(mv, "cid", "left")
        .join(c1.select("cid", "centroid_norm"), "cid", "left")
        .select(
            F.col("cid").alias("centroid_id"),
            F.coalesce("n1", F.lit(0)).alias("n_assigned_r1"),
            F.coalesce("n2", F.lit(0)).alias("n_assigned_r2"),
            F.coalesce("nm", F.lit(0)).alias("n_moved_in"),
            F.coalesce("centroid_norm", F.lit(0.0)).alias("centroid_norm"),
        )
    )


def _lpa_round(sym: DataFrame, lbl: DataFrame) -> DataFrame:
    """One synchronous label-propagation round over the symmetric edge
    list ``sym`` (node, nbr): every node adopts the most frequent label
    among its neighbours, ties to the smaller label."""
    votes = (
        sym.join(lbl.select(F.col("node").alias("nbr"), "label"), "nbr")
        .groupBy("node", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label"))
    return (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("node", "label")
    )


@query(
    "label_propagation_communities",
    category="B7-graph",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, sym AS (
            SELECT a AS node, b AS nbr FROM und
            UNION ALL
            SELECT b AS node, a AS nbr FROM und
        ), l0 AS (
            SELECT DISTINCT node, node AS label FROM sym
        ), v1 AS (
            SELECT s.node, l.label, count(*) AS c
            FROM sym s JOIN l0 l ON s.nbr = l.node
            GROUP BY s.node, l.label
        ), l1 AS (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label) AS rk
                FROM v1) WHERE rk = 1
        ), v2 AS (
            SELECT s.node, l.label, count(*) AS c
            FROM sym s JOIN l1 l ON s.nbr = l.node
            GROUP BY s.node, l.label
        ), l2 AS (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label) AS rk
                FROM v2) WHERE rk = 1
        )
        SELECT label AS community, count(*) AS n_members
        FROM l2 GROUP BY label ORDER BY community
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA), two
    unrolled rounds over the interaction graph (same edges as
    PageRank/triangles/k-core): every node starts labeled with its own
    id; each round every node adopts the most frequent label among its
    NEIGHBORS, ties broken by the smaller label — the deterministic
    synchronous variant (asynchronous LPA is order-dependent and
    therefore unverifiable).

    Scale (Pregel shape shared with the other graph queries): one
    round = one edge-to-label join (shuffle on node id) + one
    map-side-combinable (node, label) count + a per-node argmax window
    partitioned BY NODE — no global ordering, no driver-side vertex
    state; convergence-driven depth adds a scalar changed-count probe
    per round (the connected-components contract, graph.py:54).  LPA's
    per-round cost matches PageRank's; community graphs converge in
    O(diameter) rounds.
    """
    ev = load_table(spark, sf_dir, "events")
    und = interaction_edges(ev, undirected=True)
    sym = (
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .persist()
    )
    labels = sym.select("node").distinct().withColumn("label", F.col("node"))

    l2 = _lpa_round(sym, _lpa_round(sym, labels))
    return (
        l2.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


@query(
    "counter_rate_resets",
    category="T14",
    oracle="""
        WITH seq AS (
            SELECT event_type, value, epoch(ts) AS es,
                   lag(value) OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id) AS prev
            FROM events
        ), inc AS (
            SELECT event_type, es,
                   CASE WHEN prev IS NULL THEN 0.0
                        WHEN value >= prev THEN value - prev
                        ELSE value END AS increase,
                   CASE WHEN prev IS NOT NULL AND value < prev
                        THEN 1 ELSE 0 END AS is_reset
            FROM seq
        )
        SELECT event_type,
               count(*) AS n_samples,
               CAST(sum(is_reset) AS BIGINT) AS n_resets,
               CAST(sum(CAST(floor(increase * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_increase_cents,
               round(CAST(sum(CAST(floor(increase * 100 + 0.5) AS BIGINT))
                          AS BIGINT) / 100.0 / (max(es) - min(es)), 6)
                   AS rate_per_sec
        FROM inc GROUP BY event_type
    """,
)
def counter_rate_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style ``rate()`` over a monotonic counter with reset
    detection (T14): per series (event_type), each sample's increase is
    ``value - prev``; a DROP in value means the counter restarted, so
    the increase is the new value itself (Prometheus extrapolation-free
    reset rule).  Reports per-series sample count, resets observed,
    total increase, and increase per second over the observed span.

    Cross-engine: increases are quantized to integer cents before
    summing (the ``exact_money_sum`` discipline — float sums are
    order-dependent, integer sums are not); the span uses Spark
    ``ts.cast(double)`` ↔ DuckDB ``epoch(ts)`` (oracle_conventions:
    unix_timestamp truncates, epoch keeps microseconds).

    Scale: one shuffle on the series key drives both the lag window
    and the aggregation (the sessionize exchange-reuse shape); series
    cardinality is the partition key, so hot series need the two-level
    split ``sessionize_two_level_skew_safe`` demonstrates.  This is
    the dashboard-engine hot path: billions of samples, one pass.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    seq = ev.select(
        "event_type",
        "value",
        F.col("ts").cast("double").alias("es"),
        prev.alias("prev"),
    )
    increase = (
        F.when(F.col("prev").isNull(), F.lit(0.0))
        .when(F.col("value") >= F.col("prev"), F.col("value") - F.col("prev"))
        .otherwise(F.col("value"))
    )
    is_reset = (F.col("prev").isNotNull() & (F.col("value") < F.col("prev"))).cast(
        "long"
    )
    inc_cents = F.floor(increase * 100 + 0.5).cast("long")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(is_reset).alias("n_resets"),
        F.sum(inc_cents).alias("total_increase_cents"),
        F.round(
            F.sum(inc_cents) / 100.0 / (F.max("es") - F.min("es")), 6
        ).alias("rate_per_sec"),
    )


@query(
    "anomaly_mad_outliers",
    category="Q1",
    oracle="""
        WITH cents AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) * 2 AS v2
            FROM events
        ), med AS (
            SELECT event_type, quantile_cont(v2, 0.5) AS med2
            FROM cents GROUP BY event_type
        ), dev AS (
            SELECT c.event_type, c.v2, m.med2,
                   abs(c.v2 - m.med2) AS d2
            FROM cents c JOIN med m USING (event_type)
        ), mad AS (
            SELECT event_type, quantile_cont(d2, 0.5) AS mad2
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               count(*) AS n_samples,
               round(any_value(d.med2) / 200.0, 6) AS median_value,
               round(any_value(m.mad2) / 200.0, 6) AS mad_value,
               CAST(sum(CASE WHEN d.d2 * 0.6745 > 3.5 * m.mad2
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type
    """,
)
def anomaly_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust z-score anomaly gate (Q1): per series, an observation is
    an outlier when its modified z-score ``0.6745·|x-median|/MAD``
    exceeds 3.5 (Iglewicz-Hoaglin) — the detector of choice for the
    skewed, heavy-tailed metrics where mean/stddev z-scores silently
    widen until nothing alerts.

    Cross-engine exactness by construction: values are doubled cents
    (integral doubles), so the p=0.5 interpolation is a midpoint of
    integers — EXACT in IEEE on both engines (no last-ULP percentile
    drift, unlike general p); deviations and the threshold comparison
    are then identical-input IEEE expressions.  The usual
    round-after-compare hazards vanish.

    Scale: two keyed passes over the series (median, then MAD) + one
    counting pass — exact medians sort each group, so at 100 TB the
    sketch swap is ``approx_percentile`` twice (mergeable KLL), same
    shape; the gate itself stays a pure map.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        (F.floor(F.col("value") * 100 + 0.5).cast("long") * 2).alias("v2"),
    )
    med = cents.groupBy("event_type").agg(
        F.percentile("v2", F.lit(0.5)).alias("med2")
    )
    dev = cents.join(med, "event_type").select(
        "event_type", "med2", F.abs(F.col("v2") - F.col("med2")).alias("d2")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("d2", F.lit(0.5)).alias("mad2")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.any_value("med2") / 200.0, 6).alias("median_value"),
            F.round(F.any_value("mad2") / 200.0, 6).alias("mad_value"),
            F.sum(
                (F.col("d2") * 0.6745 > 3.5 * F.col("mad2")).cast("long")
            ).alias("n_outliers"),
        )
    )


@query(
    "aggregate_task_correlate",
    category="P-agg",
    oracle="""
        WITH starts AS (
            SELECT user_id, min(ts) AS t_start
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ), ends AS (
            SELECT e.user_id, min(e.ts) AS t_end
            FROM events e JOIN starts s USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts >= s.t_start
            GROUP BY e.user_id
        )
        SELECT e.user_id,
               any_value(s.t_start) AS t_start,
               any_value(x.t_end) AS t_end,
               round(any_value(epoch(x.t_end)) - any_value(epoch(s.t_start)), 6)
                   AS duration_sec,
               CAST(sum(CASE WHEN e.ts > s.t_start AND e.ts < x.t_end
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_steps,
               CAST(sum(CASE WHEN e.ts > s.t_start AND e.ts < x.t_end
                             THEN CAST(floor(e.value * 100 + 0.5) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS step_value_cents
        FROM events e
        JOIN starts s USING (user_id)
        JOIN ends x USING (user_id)
        GROUP BY e.user_id
    """,
)
def aggregate_task_correlate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logstash ``aggregate``-filter semantics as a batch plan: events
    sharing a task key (user_id) correlate into ONE summary row — the
    map opens at the start event (first ``signup``), accumulates
    intermediate events, and emits at the end event (first ``purchase``
    after the start).  Tasks with no end event emit nothing (the
    streaming form evicts them on timeout instead —
    streaming/stateful.py::correlate_tasks_stream holds the map in
    keyed state).

    Reports per task: start/end timestamps, duration, and the count /
    cent-exact value sum of strictly-between intermediate events.

    Scale: three passes ALL keyed on user_id (start agg, end agg,
    final conditional agg) — Catalyst reuses the exchange, so the fact
    table shuffles once; no windows, no driver state.  The same plan
    is packaged config-driven as pipeline step ``aggregate``.
    """
    ev = load_table(spark, sf_dir, "events")
    starts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_start"))
    )
    ends = (
        ev.join(starts, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("t_start")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_end"))
    )
    between = (F.col("ts") > F.col("t_start")) & (F.col("ts") < F.col("t_end"))
    return (
        ev.join(starts, "user_id")
        .join(ends, "user_id")
        .groupBy("user_id")
        .agg(
            F.any_value("t_start").alias("t_start"),
            F.any_value("t_end").alias("t_end"),
            F.round(
                F.any_value(F.col("t_end").cast("double"))
                - F.any_value(F.col("t_start").cast("double")),
                6,
            ).alias("duration_sec"),
            F.sum(between.cast("long")).alias("n_steps"),
            F.sum(
                F.when(between, F.floor(F.col("value") * 100 + 0.5).cast("long"))
                .otherwise(F.lit(0))
            ).alias("step_value_cents"),
        )
    )


@query(
    "log_template_signature",
    category="L5",
    oracle="""
        WITH toks AS (
            SELECT doc_id, n_chars, string_split(text, ' ') AS ts
            FROM documents
        )
        SELECT len(ts) AS n_tokens,
               ts[1] AS first_token,
               ts[-1] AS last_token,
               count(*) AS n_docs,
               min(doc_id) AS example_doc_id,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM toks
        GROUP BY len(ts), ts[1], ts[-1]
    """,
)
def log_template_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain-lite log-template mining (L5): bucket messages by the
    fixed-structure signature (token count, first token, last token) —
    the first-level grouping real template miners (Drain, Spell)
    refine with per-position wildcard voting.  Messages from one
    format string share the signature; the bucket census is the
    template inventory.

    Scale: signature is a pure projection (split + element_at — no
    explode, the token array never leaves the row), then ONE
    map-side-combinable aggregation on the signature key.  Template
    count is bounded by distinct formats, not corpus size, so the
    result stays tiny at 100 TB; the position-voting refinement step
    adds one explode + (signature, pos, token) count — same shape as
    TF-IDF.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "n_chars", F.split("text", " ").alias("ts")
    )
    return toks.groupBy(
        F.size("ts").alias("n_tokens"),
        F.element_at("ts", 1).alias("first_token"),
        F.element_at("ts", -1).alias("last_token"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("example_doc_id"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "promql_histogram_quantile",
    category="M2-histq",
    oracle="""
        WITH h AS (
            SELECT event_type,
                   count(*) AS total,
                   count(CASE WHEN value <= 50 THEN 1 END) AS le50,
                   count(CASE WHEN value <= 100 THEN 1 END) AS le100,
                   count(CASE WHEN value <= 200 THEN 1 END) AS le200,
                   count(CASE WHEN value <= 350 THEN 1 END) AS le350
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type,
               CAST(total AS BIGINT) AS total,
               round(CASE
                 WHEN 0.95 * total <= le50
                   THEN 50.0 * (0.95 * total) / le50
                 WHEN 0.95 * total <= le100
                   THEN 50 + (0.95 * total - le50) * 50.0 / (le100 - le50)
                 WHEN 0.95 * total <= le200
                   THEN 100 + (0.95 * total - le100) * 100.0 / (le200 - le100)
                 WHEN 0.95 * total <= le350
                   THEN 200 + (0.95 * total - le200) * 150.0 / (le350 - le200)
                 ELSE 350.0
               END, 6) AS q95_est
        FROM h
        ORDER BY event_type
    """,
)
def promql_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``histogram_quantile(0.95, ...)`` semantics over
    cumulative (le-bucketed) counters: find the bucket containing the
    target rank and interpolate linearly within it (the lowest bucket
    interpolates from 0; ranks beyond the last finite bucket clamp to
    its upper bound — Prometheus's exact convention). The monitoring
    dual of the exact percentile family: histograms are mergeable
    counters, so this is what 100 TB fleets actually aggregate.

    Scale: the cumulative bucket counts are ONE conditional aggregate
    per group (each `le` bucket a count(CASE ...) — map-side
    combinable); the quantile pick is pure scalar CASE arithmetic on
    the |groups|-row frame. No window, no sort, no join.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    les = [50, 100, 200, 350]
    aggs = [F.count(F.lit(1)).alias("total")] + [
        F.count(F.when(F.col("value") <= le, 1)).alias(f"le{le}") for le in les
    ]
    h = ev.groupBy("event_type").agg(*aggs)
    rank = 0.95 * F.col("total")
    q = (
        F.when(rank <= F.col("le50"), 50.0 * rank / F.col("le50"))
        .when(
            rank <= F.col("le100"),
            50 + (rank - F.col("le50")) * 50.0 / (F.col("le100") - F.col("le50")),
        )
        .when(
            rank <= F.col("le200"),
            100
            + (rank - F.col("le100")) * 100.0 / (F.col("le200") - F.col("le100")),
        )
        .when(
            rank <= F.col("le350"),
            200
            + (rank - F.col("le200")) * 150.0 / (F.col("le350") - F.col("le200")),
        )
        .otherwise(F.lit(350.0))
    )
    return h.select(
        "event_type",
        F.col("total").cast("long").alias("total"),
        F.round(q, 6).alias("q95_est"),
    )


@query(
    "hits_two_rounds",
    category="B7-hits",
    oracle="""
        WITH
    """ + INTERACTION_EDGES_CTE.strip().lstrip("WITH").strip() + """,
        h0 AS (
            SELECT src AS u FROM edges UNION SELECT dst FROM edges
        ),
        a1 AS (
            SELECT dst AS u, CAST(count(*) AS BIGINT) AS a
            FROM edges GROUP BY dst
        ),
        h1 AS (
            SELECT src AS u, CAST(sum(coalesce(a1.a, 0)) AS BIGINT) AS h
            FROM edges LEFT JOIN a1 ON edges.dst = a1.u
            GROUP BY src
        ),
        a2 AS (
            SELECT dst AS u, CAST(sum(coalesce(h1.h, 0)) AS BIGINT) AS a
            FROM edges LEFT JOIN h1 ON edges.src = h1.u
            GROUP BY dst
        )
        SELECT n.u AS user_id,
               coalesce(a2.a, 0) AS authority,
               coalesce(h1.h, 0) AS hub
        FROM h0 n
        LEFT JOIN a2 ON n.u = a2.u
        LEFT JOIN h1 ON n.u = h1.u
        ORDER BY authority DESC, hub DESC, user_id
        LIMIT 25
    """,
)
def hits_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities), two unnormalized power-iteration
    rounds over the interaction graph with EXACT integer accounting
    (h₀=1 ⇒ a₁ = in-degree, h₁ = Σ a₁(out-neighbors), a₂ = Σ h₁
    (in-neighbors) — pure path counts, so no float normalization
    drift and the oracle is an unrolled CTE). The directional
    complement to PageRank: authorities collect from hubs, hubs from
    authorities.

    Scale: same Pregel shape as pagerank_fixed_iterations — the edge
    list shuffles once per round keyed by src/dst; each round is one
    join + one combinable aggregate. Normalize at read when real HITS
    scores are needed; ranking is scale-invariant.
    """
    from ..operators.graph import interaction_edges

    ev = load_table(spark, sf_dir, "events")
    edges = interaction_edges(ev).persist()
    nodes = (
        edges.select(F.col("src").alias("u"))
        .unionAll(edges.select(F.col("dst").alias("u")))
        .distinct()
    )
    a1 = edges.groupBy(F.col("dst").alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    h1 = (
        edges.join(a1, edges["dst"] == a1["u"], "left")
        .groupBy(F.col("src").alias("u2"))
        .agg(F.sum(F.coalesce(F.col("a"), F.lit(0))).cast("long").alias("h"))
        .select(F.col("u2").alias("u"), "h")
    )
    a2 = (
        edges.join(h1, edges["src"] == h1["u"], "left")
        .groupBy(F.col("dst").alias("u3"))
        .agg(F.sum(F.coalesce(F.col("h"), F.lit(0))).cast("long").alias("a"))
        .select(F.col("u3").alias("u"), "a")
    )
    return (
        nodes.join(a2, "u", "left")
        .join(h1, "u", "left")
        .select(
            F.col("u").alias("user_id"),
            F.coalesce(F.col("a"), F.lit(0)).alias("authority"),
            F.coalesce(F.col("h"), F.lit(0)).alias("hub"),
        )
        .orderBy(F.col("authority").desc(), F.col("hub").desc(), "user_id")
        .limit(25)
    )


@query(
    "hits_normalized_scores",
    category="B7-hits-norm",
    oracle="""
        WITH
    """ + INTERACTION_EDGES_CTE.strip().lstrip("WITH").strip() + """,
        a1 AS (
            SELECT dst AS u, CAST(count(*) AS BIGINT) AS a
            FROM edges GROUP BY dst
        ),
        h1 AS (
            SELECT src AS u, CAST(sum(coalesce(a1.a, 0)) AS BIGINT) AS h
            FROM edges LEFT JOIN a1 ON edges.dst = a1.u
            GROUP BY src
        ),
        a2 AS (
            SELECT dst AS u, CAST(sum(coalesce(h1.h, 0)) AS BIGINT) AS a
            FROM edges LEFT JOIN h1 ON edges.src = h1.u
            GROUP BY dst
        ),
        norms AS (
            SELECT (SELECT sqrt(sum(a * a * 1.0)) FROM a2) AS na,
                   (SELECT sqrt(sum(h * h * 1.0)) FROM h1) AS nh
        )
        SELECT u AS user_id,
               round(a / na, 6) AS authority_norm,
               round(coalesce(h1.h, 0) / nh, 6) AS hub_norm
        FROM a2
        LEFT JOIN h1 USING (u)
        CROSS JOIN norms
        ORDER BY authority_norm DESC, hub_norm DESC, user_id
        LIMIT 25
    """,
)
def hits_normalized_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS with the standard L2 normalization applied at READ time
    over the integer path counts of `hits_two_rounds` — scores in
    [0, 1] comparable across graphs, while the iteration itself stays
    exact-integer (normalizing every round, as textbook HITS does,
    only rescales: with one final normalization the ranking and the
    normalized values match round-for-round scale factors).

    Scale: identical rounds to hits_two_rounds plus two 1-row norm
    scalars broadcast into the final projection.
    """
    ev = load_table(spark, sf_dir, "events")
    edges = interaction_edges(ev).persist()
    a1 = edges.groupBy(F.col("dst").alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    h1 = (
        edges.join(a1, edges["dst"] == a1["u"], "left")
        .groupBy(F.col("src").alias("u2"))
        .agg(F.sum(F.coalesce(F.col("a"), F.lit(0))).cast("long").alias("h"))
        .select(F.col("u2").alias("u"), "h")
    )
    a2 = (
        edges.join(h1, edges["src"] == h1["u"], "left")
        .groupBy(F.col("dst").alias("u3"))
        .agg(F.sum(F.coalesce(F.col("h"), F.lit(0))).cast("long").alias("a"))
        .select(F.col("u3").alias("u"), "a")
    )
    norms = a2.agg(
        F.sqrt(F.sum(F.col("a") * F.col("a") * 1.0)).alias("na")
    ).crossJoin(
        h1.agg(F.sqrt(F.sum(F.col("h") * F.col("h") * 1.0)).alias("nh"))
    )
    return (
        a2.join(h1, "u", "left")
        .crossJoin(F.broadcast(norms))
        .select(
            F.col("u").alias("user_id"),
            F.round(F.col("a") / F.col("na"), 6).alias("authority_norm"),
            F.round(F.coalesce(F.col("h"), F.lit(0)) / F.col("nh"), 6).alias(
                "hub_norm"
            ),
        )
        .orderBy(
            F.col("authority_norm").desc(), F.col("hub_norm").desc(), "user_id"
        )
        .limit(25)
    )


@query(
    "community_modularity_score",
    category="B7-modularity",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, sym AS (
            SELECT a AS node, b AS nbr FROM und
            UNION ALL
            SELECT b AS node, a AS nbr FROM und
        ), l0 AS (
            SELECT DISTINCT node, node AS label FROM sym
        ), v1 AS (
            SELECT s.node, l.label, count(*) AS c
            FROM sym s JOIN l0 l ON s.nbr = l.node
            GROUP BY s.node, l.label
        ), l1 AS (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label) AS rk
                FROM v1) WHERE rk = 1
        ), v2 AS (
            SELECT s.node, l.label, count(*) AS c
            FROM sym s JOIN l1 l ON s.nbr = l.node
            GROUP BY s.node, l.label
        ), l2 AS (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label) AS rk
                FROM v2) WHERE rk = 1
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS m FROM und
        ), m_in AS (
            SELECT la.label AS community, CAST(count(*) AS BIGINT) AS m_c
            FROM und
            JOIN l2 la ON und.a = la.node
            JOIN l2 lb ON und.b = lb.node
            WHERE la.label = lb.label
            GROUP BY la.label
        ), deg AS (
            SELECT node, count(*) AS d FROM sym GROUP BY node
        ), d_c AS (
            SELECT l2.label AS community, CAST(sum(deg.d) AS BIGINT) AS d_tot
            FROM deg JOIN l2 ON deg.node = l2.node
            GROUP BY l2.label
        )
        SELECT d_c.community AS community,
               coalesce(m_in.m_c, 0) AS m_c,
               d_c.d_tot,
               round(coalesce(m_in.m_c, 0) * 1.0 / m.m
                     - pow(d_c.d_tot * 1.0 / (2 * m.m), 2), 6)
                   AS contribution
        FROM d_c
        LEFT JOIN m_in ON d_c.community = m_in.community
        CROSS JOIN m
        ORDER BY d_c.community
    """,
)
def community_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY per LPA community: contribution m_c/m −
    (d_c/2m)² for each detected community — the quality score that
    tells you whether the partition is real structure (ΣQ ≫ 0) or
    noise; the standard convergence/stopping metric for community
    detection (composes label_propagation_communities with two tiny
    graph aggregates). On this testdata the interaction graph is
    near-complete, so 2-round LPA yields ONE community with Q ≈ 0 —
    exactly the "no structure" verdict modularity exists to give;
    the hash pins that verdict.

    Scale: intra-community edge counts = und ⋈ labels twice (keyed on
    node); degree sums = one keyed join; everything after the LPA
    rounds runs on |communities|-sized frames. Exact integer m_c/d_c;
    only the final ratio is floating (round 6).
    """
    from ..operators.graph import truncate_lineage

    ev = load_table(spark, sf_dir, "events")
    und = truncate_lineage(interaction_edges(ev, undirected=True), 8)
    sym = truncate_lineage(
        und.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionAll(und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))),
        8,
    )
    labels = sym.select("node").distinct().withColumn("label", F.col("node"))

    l2 = truncate_lineage(_lpa_round(sym, _lpa_round(sym, labels)), 8)
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = l2.select(F.col("node").alias("a"), F.col("label").alias("lab_a"))
    lb = l2.select(F.col("node").alias("b"), F.col("label").alias("lab_b"))
    m_in = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("m_c"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    d_c = (
        deg.join(l2, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(F.sum("d").cast("long").alias("d_tot"))
    )
    contrib = F.col("m_c") / F.col("m") - F.pow(
        F.col("d_tot") / (2 * F.col("m")), 2
    )
    return (
        d_c.join(m_in, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.coalesce(F.col("m_c"), F.lit(0)).alias("m_c"),
            "d_tot",
            F.round(
                F.coalesce(F.col("m_c"), F.lit(0)) / F.col("m")
                - F.pow(F.col("d_tot") / (2 * F.col("m")), 2),
                6,
            ).alias("contribution"),
        )
    )


@query(
    "cusum_reference_check",
    category="T20-cusum",
    oracle="""
        WITH RECURSIVE s AS (
            SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, value
            FROM events
            WHERE event_type = 'error' AND event_id <= 20000
              AND value IS NOT NULL
        ), r AS (
            SELECT rn, value,
                   greatest(0.0, value - 260.0) AS sp_raw,
                   greatest(0.0, 240.0 - value) AS sn_raw,
                   (greatest(0.0, value - 260.0) > 300.0
                    OR greatest(0.0, 240.0 - value) > 300.0) AS alarm,
                   CASE WHEN greatest(0.0, value - 260.0) > 300.0
                        THEN 0.0 ELSE greatest(0.0, value - 260.0) END AS sp,
                   CASE WHEN greatest(0.0, 240.0 - value) > 300.0
                        THEN 0.0 ELSE greatest(0.0, 240.0 - value) END AS sn
            FROM s WHERE rn = 1
            UNION ALL
            SELECT s.rn, s.value,
                   greatest(0.0, r.sp + (s.value - 260.0)),
                   greatest(0.0, r.sn + (240.0 - s.value)),
                   (greatest(0.0, r.sp + (s.value - 260.0)) > 300.0
                    OR greatest(0.0, r.sn + (240.0 - s.value)) > 300.0),
                   CASE WHEN greatest(0.0, r.sp + (s.value - 260.0)) > 300.0
                        THEN 0.0
                        ELSE greatest(0.0, r.sp + (s.value - 260.0)) END,
                   CASE WHEN greatest(0.0, r.sn + (240.0 - s.value)) > 300.0
                        THEN 0.0
                        ELSE greatest(0.0, r.sn + (240.0 - s.value)) END
            FROM r JOIN s ON s.rn = r.rn + 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_alarms,
               round(max(sp_raw), 6) AS max_s_pos,
               round(max(sn_raw), 6) AS max_s_neg
        FROM r
    """,
)
def cusum_reference_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM made hash-checkable: the batch operator
    (operators/changepoint.py — the same fold the streaming
    GroupState form runs) over one bounded series, certified against
    a DuckDB RECURSIVE-CTE reference that replays the fold row by
    row (target 250, slack 10, threshold 300 — sized to fire on this
    data). The alarm count and the max pre-reset statistics pin both
    the accumulate and the reset semantics.

    Scale: the GATE runs on one bounded slice by construction (the
    recursion depth = slice length); the operator itself partitions
    by key — see changepoint.py for the hot-series split strategy.
    """
    from ..operators.changepoint import cusum_batch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "error")
            & (F.col("event_id") <= 20000)
            & F.col("value").isNotNull()
        )
        .withColumn("k", F.lit("series"))
    )
    scored = cusum_batch(
        ev, "k", "ts", "value", target=250.0, slack=10.0, threshold=300.0
    )
    # s_pos/s_neg in the operator are POST-accumulate, pre-reset
    # values only when no alarm fired; reconstruct the pre-reset max
    # from the emitted columns (they are emitted before reset)
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("alarm").cast("int")).cast("long").alias("n_alarms"),
        F.round(F.max("s_pos"), 6).alias("max_s_pos"),
        F.round(F.max("s_neg"), 6).alias("max_s_neg"),
    )


@query(
    "holt_linear_reference_check",
    category="T21-holt",
    oracle="""
        WITH RECURSIVE s AS (
            SELECT row_number() OVER (ORDER BY ts, event_id) AS rn, value
            FROM events
            WHERE event_type = 'error' AND event_id <= 20000
              AND value IS NOT NULL
        ), r AS (
            SELECT rn, value, value AS lvl,
                   CAST(0.0 AS DOUBLE) AS trend, CAST(0.0 AS DOUBLE) AS sse
            FROM s WHERE rn = 1
            UNION ALL
            SELECT s.rn, s.value,
                   0.5 * s.value + 0.5 * (r.lvl + r.trend),
                   0.3 * ((0.5 * s.value + 0.5 * (r.lvl + r.trend)) - r.lvl)
                       + 0.7 * r.trend,
                   r.sse + (s.value - (r.lvl + r.trend))
                         * (s.value - (r.lvl + r.trend))
            FROM r JOIN s ON s.rn = r.rn + 1
        ), last AS (
            SELECT * FROM r ORDER BY rn DESC LIMIT 1
        )
        SELECT CAST((SELECT count(*) FROM r) AS BIGINT) AS n_events,
               round(lvl, 6) AS last_level,
               round(trend, 6) AS last_trend,
               round(lvl + trend, 6) AS forecast_next,
               round(sse, 6) AS sse
        FROM last
    """,
)
def holt_linear_reference_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level+trend forecasting,
    T21) made hash-checkable, CUSUM-gate style: the applyInPandas fold
    (operators/smoothing.py) runs over one bounded series and its
    final (level, trend, one-step forecast, sequential SSE) are
    certified against a DuckDB RECURSIVE-CTE replay of the identical
    recurrence (α=0.5, β=0.3). The SSE accumulates inside the fold on
    BOTH sides — a post-hoc float sum would be shuffle-order-dependent
    and break the hash; the sequential running sum is bit-exact.

    Scale: the GATE bounds recursion to one slice; the operator
    itself partitions by key (per-series forecasting over millions of
    series is the production shape — state is two floats per series).
    """
    from ..operators.smoothing import holt_linear_batch

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "error")
            & (F.col("event_id") <= 20000)
            & F.col("value").isNotNull()
        )
        .withColumn("k", F.lit("series"))
    )
    scored = holt_linear_batch(ev, "k", "ts", "value", alpha=0.5, beta=0.3)
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.max_by("level", "rn"), 6).alias("last_level"),
        F.round(F.max_by("trend", "rn"), 6).alias("last_trend"),
        F.round(
            F.max_by(F.col("level") + F.col("trend"), "rn"), 6
        ).alias("forecast_next"),
        F.round(F.max_by("sse_running", "rn"), 6).alias("sse"),
    )


_LOUVAIN_LOOP_ORACLE = f"""
    WITH {INTERACTION_UND_CTE}, nodes AS (
        SELECT a AS u FROM und UNION SELECT b FROM und
    )
    SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST(2 * (SELECT count(*) FROM und) AS BIGINT) AS two_m,
           CAST(8 AS BIGINT) AS rounds_cap,
           TRUE AS labels_complete,
           TRUE AS deg_mass_conserved,
           TRUE AS q_accepted_monotone,
           TRUE AS q_final_ge_sweep1
"""


@query("louvain_full_loop_gate", category="B7-graph", oracle=_LOUVAIN_LOOP_ORACLE)
def louvain_full_loop_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Louvain loop with hill-climb acceptance — the convergence
    machinery louvain_coarsened_two_level's docstring leaves as
    "production would loop sweeps until Q_num stops rising". Each
    round runs the synchronous weighted sweep (gain_num =
    2m·w_uv − K_u·K_v, argmax per node, ties to smallest id) on the
    current supergraph, composes labels over the ORIGINAL node set,
    measures the exact integer modularity numerator
    Q_num = Σ_c(4m·in_c − tot_c²) over the original edges, and
    ACCEPTS the round only if Q_num strictly improved — else reverts
    and stops (synchronous sweeps do not guarantee monotone Q, so
    validation-by-measurement is the correct distributed form;
    accepted trajectory is monotone BY CONSTRUCTION ONLY IF the
    measurement says so, which is what the gate certifies). Cap: 8
    rounds.

    The oracle pins the graph exactly (n_nodes, 2m from the shared
    edge CTE) and states the loop's invariants as a literal-TRUE
    contract: every original node carries exactly one final label,
    community degree mass sums to 2m, the accepted Q trajectory is
    strictly increasing, and the final Q is ≥ sweep 1's. A driver red
    here means the sweep/coarsen/compose machinery corrupted the
    partition or the climb — what a rows-only check cannot see.

    Scale: per round, the sweep is two equi-joins + one window on the
    CURRENT supergraph (which shrinks geometrically); Q measurement
    is two broadcast-sized label joins against the original edge
    list; the only driver-side values are one Q_num scalar per round
    (bounded metadata, the same shape as kmeans' convergence check).
    """
    ev = load_table(spark, sf_dir, "events")
    par = leaf_parallelism(spark)
    und = interaction_edges(ev, undirected=True).coalesce(par).persist()
    m_edges = und.count()  # bounded metadata scalar

    adj0 = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg0 = adj0.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("k"))
    n_nodes = deg0.count()  # bounded metadata scalar

    def q_num_of(mapping: DataFrame) -> int:
        """Exact integer Q numerator of a node→label mapping over the
        original edges (two label joins + two bounded aggregates)."""
        la = mapping.select(F.col("u").alias("a"), F.col("c").alias("ca"))
        lb = mapping.select(F.col("u").alias("b"), F.col("c").alias("cb"))
        in_w = (
            und.join(la, "a").join(lb, "b")
            .filter(F.col("ca") == F.col("cb"))
            .groupBy(F.col("ca").alias("c"))
            .agg(F.count(F.lit(1)).cast("long").alias("in_edges"))
        )
        tot = mapping.join(deg0, "u").groupBy("c").agg(
            F.sum("k").cast("long").alias("tot_deg")
        )
        row = (
            tot.join(in_w, "c", "left")
            .agg(
                F.sum(
                    F.lit(4 * m_edges) * F.coalesce("in_edges", F.lit(0))
                    - F.col("tot_deg") * F.col("tot_deg")
                ).cast("long").alias("q")
            )
            .collect()[0]
        )
        return int(row["q"])

    # loop state: supergraph (sdeg: c,kk | sadj: u,v,w) + node→label map
    sdeg = deg0.select(F.col("u").alias("c"), F.col("k").alias("kk"))
    sadj = adj0.withColumn("w", F.lit(1).cast("long"))
    mapping = deg0.select("u", F.col("u").alias("c")).coalesce(par).persist()
    q_traj = [q_num_of(mapping)]  # singleton partition baseline
    rounds_cap = 8

    for _ in range(rounds_cap):
        sdu = sdeg.select(F.col("c").alias("u"), F.col("kk").alias("ku"))
        sdv = sdeg.select(F.col("c").alias("v"), F.col("kk").alias("kv"))
        moves = (
            sadj.join(sdu, "u").join(sdv, "v")
            .select(
                "u", "v",
                (F.lit(2 * m_edges) * F.col("w") - F.col("ku") * F.col("kv"))
                .alias("gain_num"),
            )
        )
        wbest = Window.partitionBy("u").orderBy(F.col("gain_num").desc(), "v")
        best = (
            moves.withColumn("rn", F.row_number().over(wbest))
            .filter(F.col("rn") == 1)
            .select("u", "v", "gain_num")
        )
        relabel = (
            sdeg.select(F.col("c").alias("u"))
            .join(best, "u", "left")
            .select(
                "u",
                F.when(F.col("gain_num") > 0, F.col("v"))
                .otherwise(F.col("u")).alias("c2"),
            )
        )
        new_mapping = (
            mapping.join(relabel.withColumnRenamed("u", "c"), "c")
            .select("u", F.col("c2").alias("c"))
            .coalesce(par)
            .persist()
        )
        q_new = q_num_of(new_mapping)
        if q_new <= q_traj[-1]:
            new_mapping.unpersist()
            break  # revert: keep previous mapping
        q_traj.append(q_new)
        mapping.unpersist()
        mapping = new_mapping
        # coarsen onto the accepted labels
        sdeg = mapping.join(deg0, "u").groupBy("c").agg(
            F.sum("k").cast("long").alias("kk")
        ).coalesce(par).persist()
        la = mapping.select(F.col("u").alias("a"), F.col("c").alias("ca"))
        lb = mapping.select(F.col("u").alias("b"), F.col("c").alias("cb"))
        sedges = (
            und.join(la, "a").join(lb, "b")
            .filter(F.col("ca") != F.col("cb"))
            .groupBy(
                F.least("ca", "cb").alias("sa"), F.greatest("ca", "cb").alias("sb")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )
        sadj = sedges.select(
            F.col("sa").alias("u"), F.col("sb").alias("v"), "w"
        ).unionAll(sedges.select(F.col("sb").alias("u"), F.col("sa").alias("v"), "w"))

    # invariants, measured on the final state (bounded scalars)
    final_rows = mapping.count()
    null_labels = mapping.filter(F.col("c").isNull()).count()
    labels_complete = (final_rows == n_nodes) and (null_labels == 0)
    mass = mapping.join(deg0, "u").agg(
        F.sum("k").cast("long").alias("s")
    ).collect()[0]["s"]
    deg_mass_conserved = int(mass) == 2 * m_edges
    q_monotone = all(b > a for a, b in zip(q_traj, q_traj[1:]))
    q_final_ge_sweep1 = len(q_traj) < 2 or q_traj[-1] >= q_traj[1]

    return spark.range(1).select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(2 * m_edges).cast("long").alias("two_m"),
        F.lit(rounds_cap).cast("long").alias("rounds_cap"),
        F.lit(bool(labels_complete)).alias("labels_complete"),
        F.lit(bool(deg_mass_conserved)).alias("deg_mass_conserved"),
        F.lit(bool(q_monotone)).alias("q_accepted_monotone"),
        F.lit(bool(q_final_ge_sweep1)).alias("q_final_ge_sweep1"),
    )


@query(
    "holt_winters_seasonal_check",
    category="T21-hw",
    oracle="""
        WITH RECURSIVE s AS (
            SELECT row_number() OVER (ORDER BY day) AS rn,
                   CAST(n AS DOUBLE) AS y
            FROM (SELECT CAST(ts AS DATE) AS day, count(*) AS n
                  FROM events WHERE event_type = 'click'
                  GROUP BY CAST(ts AS DATE))
        ), l7 AS (
            SELECT sum(y) / 7.0 AS l0 FROM s WHERE rn <= 7
        ), seed AS (
            SELECT CAST(7 AS BIGINT) AS rn, l7.l0 AS lvl,
                   CAST(0.0 AS DOUBLE) AS trend,
                   (SELECT list(y - l7.l0 ORDER BY rn)
                    FROM s WHERE rn <= 7) AS sarr,
                   CAST(0.0 AS DOUBLE) AS sse
            FROM l7
        ), r AS (
            SELECT * FROM seed
            UNION ALL
            SELECT s.rn,
                   0.4 * (s.y - r.sarr[1]) + 0.6 * (r.lvl + r.trend),
                   0.2 * ((0.4 * (s.y - r.sarr[1])
                           + 0.6 * (r.lvl + r.trend)) - r.lvl)
                       + 0.8 * r.trend,
                   r.sarr[2:] || [0.3 * (s.y - (0.4 * (s.y - r.sarr[1])
                                               + 0.6 * (r.lvl + r.trend)))
                                  + 0.7 * r.sarr[1]],
                   r.sse + (s.y - (r.lvl + r.trend + r.sarr[1]))
                         * (s.y - (r.lvl + r.trend + r.sarr[1]))
            FROM r JOIN s ON s.rn = r.rn + 1
        ), last AS (SELECT * FROM r ORDER BY rn DESC LIMIT 1)
        SELECT CAST(rn AS BIGINT) AS n_days,
               round(lvl, 6) AS last_level,
               round(trend, 6) AS last_trend,
               round(sse, 6) AS sse,
               round(lvl + trend + sarr[1], 6) AS forecast_next
        FROM last
    """,
)
def holt_winters_seasonal_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + WEEKLY seasonal, m=7,
    α=0.4 β=0.2 γ=0.3) over the daily click-count series — the
    seasonal completion of the T15/T21 smoothing family (EWMA → Holt
    → Holt-Winters). The applyInPandas fold
    (operators/smoothing.py::holt_winters_batch) carries period+2
    floats of state; its final (level, trend, sequential SSE,
    next-step forecast l+b+s_{t+1−m}) are certified against a DuckDB
    RECURSIVE CTE that carries the 7-slot seasonal ring as a list and
    replays the identical literal recurrence — bit-exact, same
    contract as holt_linear_reference_check.

    Scale: the fold input is the DAILY rollup (30 rows), not raw
    events — one map-side-combinable count collapses the scan first;
    recursion depth = days, not events. The operator itself
    partitions by key for millions of concurrent series.
    """
    from ..operators.smoothing import holt_winters_batch

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
        .withColumn("k", F.lit("clicks"))
    )
    scored = holt_winters_batch(
        daily, "k", "day", "y", period=7, alpha=0.4, beta=0.2, gamma=0.3
    )
    last = scored.agg(
        F.max("rn").cast("long").alias("n_days"),
        F.round(F.max_by("level", "rn"), 6).alias("last_level"),
        F.round(F.max_by("trend", "rn"), 6).alias("last_trend"),
        F.round(F.max_by("sse_running", "rn"), 6).alias("sse"),
        F.max_by("level", "rn").alias("_l"),
        F.max_by("trend", "rn").alias("_b"),
        F.max("rn").alias("_n"),
    )
    s_next = scored.select("rn", F.col("season").alias("_s"))
    return (
        last.join(
            F.broadcast(s_next),
            s_next["rn"] == last["_n"] - F.lit(6),
        )
        .select(
            "n_days", "last_level", "last_trend", "sse",
            F.round(F.col("_l") + F.col("_b") + F.col("_s"), 6)
            .alias("forecast_next"),
        )
    )
