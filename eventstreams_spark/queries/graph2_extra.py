"""Graph analytics II: local clustering coefficient, degree
assortativity, and k-truss peeling — completing the structural-
metrics family (triangles, k-core, PageRank, CC, Louvain, HITS,
betweenness live elsewhere) over the SAME interaction graph and the
same shared oracle CTE, so every graph query means the same edges.

Scale discipline (family rule, SCALE.md §3b): triangles enumerate
through the two-hop equi join on canonical a<b edges (work bounded by
Σ per-node deg², the standard distributed triangle bound), per-node /
per-edge rollups aggregate triangle rows — never node×node; peeled
rounds recompute on the SHRINKING survivor edge set with coalesce-
before-persist lineage control.

Float discipline: degrees, triangle counts, and supports are exact
integers; clustering = one division 2T/(d(d−1)); assortativity r is
one quotient of integer-sum expressions (the n·Σxy−ΣxΣy form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.graph import interaction_edges, truncate_lineage
from ..operators.spread import leaf_parallelism
from ..registry import query
from ._shared import INTERACTION_UND_CTE

# triangle enumeration over canonical edges: (e1.a, e1.b, e2.b) with
# a < b < c, closing edge (e1.b, e2.b) present
_TRIS_SQL = """tris AS (
        SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        FROM und e1
        JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    )"""


def _und_tris(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    par = leaf_parallelism(spark)
    und = truncate_lineage(interaction_edges(ev, undirected=True), par)
    e1 = und.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = und.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    e3 = und.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    tris = (
        e1.join(e2, "ta")
        .filter(F.col("tc") > F.col("tb"))
        .join(e3, ["tb", "tc"])
    )
    return und, tris


@query(
    "local_clustering_coefficient",
    category="B7-graph2",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, {_TRIS_SQL},
        deg AS (
            SELECT u, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS u FROM und UNION ALL SELECT b FROM und
            ) GROUP BY u
        ), tcount AS (
            SELECT u, CAST(count(*) AS BIGINT) AS t FROM (
                SELECT ta AS u FROM tris
                UNION ALL SELECT tb FROM tris
                UNION ALL SELECT tc FROM tris
            ) GROUP BY u
        )
        SELECT deg.u AS user_id, d AS degree,
               CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
               CAST(round(CAST(2 * coalesce(t, 0) AS DOUBLE)
                          / (d * (d - 1)), 6) AS DOUBLE) AS clustering
        FROM deg LEFT JOIN tcount ON tcount.u = deg.u
        WHERE d >= 3
        ORDER BY clustering DESC, user_id LIMIT 20
    """,
)
def local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — 2T_v / (d_v(d_v−1)),
    the fraction of a node's neighbor pairs that are themselves
    connected; the node-level cohesion readout under community
    detection (a node with high degree and low clustering is a hub, a
    high-clustering node sits inside a clique). Top-20 among nodes
    with degree ≥ 3, deterministic order (clustering DESC, id).

    Scale: ONE triangle enumeration (two-hop equi join, Σ deg²
    bound), exploded to 3 node rows per triangle and rolled up; the
    division happens per node row. The top-20 is a TakeOrdered heap.
    """
    und, tris = _und_tris(spark, sf_dir)
    deg = (
        und.select(F.col("a").alias("u"))
        .unionAll(und.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    tcount = (
        tris.select(F.col("ta").alias("u"))
        .unionAll(tris.select(F.col("tb").alias("u")))
        .unionAll(tris.select(F.col("tc").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.join(tcount, "u", "left")
        .filter(F.col("d") >= 3)
        .select(
            F.col("u").alias("user_id"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                (2 * F.coalesce("t", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering"),
        )
        .orderBy(F.col("clustering").desc(), "user_id")
        .limit(20)
    )


@query(
    "degree_assortativity",
    category="B7-graph2",
    oracle=f"""
        WITH {INTERACTION_UND_CTE},
        deg AS (
            SELECT u, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS u FROM und UNION ALL SELECT b FROM und
            ) GROUP BY u
        ), dpairs AS (
            SELECT da.d AS x, db.d AS y
            FROM und JOIN deg da ON da.u = und.a
                     JOIN deg db ON db.u = und.b
            UNION ALL
            SELECT db.d, da.d
            FROM und JOIN deg da ON da.u = und.a
                     JOIN deg db ON db.u = und.b
        ), sums AS (
            SELECT CAST(count(*) AS BIGINT) AS m2,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM dpairs
        )
        SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
               CAST(round(CAST(m2 * sxy - sx * sx AS DOUBLE)
                          / nullif(m2 * sxx - sx * sx, 0), 6) AS DOUBLE)
                   AS assortativity
        FROM sums
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r): the Pearson correlation of
    endpoint degrees over the symmetrized edge list — positive means
    hubs link to hubs (social nets), negative means hubs link to leaves
    (infrastructure). By symmetry Σx = Σy and Σx² = Σy², so
    r = (M·Σxy − (Σx)²)/(M·Σx² − (Σx)²): ONE division where every term
    is an exact integer sum — no means, no ratio-of-ratios. On a
    regular graph the degree variance is zero and r is undefined —
    emitted as NULL via nullif (the sf0.001 fixture graph is complete,
    so its r IS NULL by construction).

    Scale: degrees join back to edges via two equi joins on the edge
    frame; the sums aggregate edge rows once (map-side combinable);
    output is a single row.
    """
    ev = load_table(spark, sf_dir, "events")
    par = leaf_parallelism(spark)
    und = truncate_lineage(interaction_edges(ev, undirected=True), par)
    deg = (
        und.select(F.col("a").alias("u"))
        .unionAll(und.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("x"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("y"))
    joined = und.join(da, "a").join(db, "b")
    dpairs = joined.select("x", "y").unionAll(
        joined.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    sums = dpairs.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return sums.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        F.round(
            (F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
            / F.nullif(
                F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
            ),
            6,
        ).alias("assortativity"),
    )


def _ktruss_survivors(e: DataFrame) -> DataFrame:
    """One 4-truss peeling round: the edges of ``e`` (columns a < b)
    that lie on at least k−2 = 2 triangles among ``e`` itself."""
    x = e.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    y = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    z = e.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    tris = x.join(y, "ta").filter(F.col("tc") > F.col("tb")).join(z, ["tb", "tc"])
    sup = (
        tris.select(F.col("ta").alias("a"), F.col("tb").alias("b"))
        .unionAll(tris.select(F.col("ta").alias("a"), F.col("tc").alias("b")))
        .unionAll(tris.select(F.col("tb").alias("a"), F.col("tc").alias("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
    )
    return sup.filter(F.col("s") >= 2).select("a", "b")


@query(
    "ktruss_support_rounds",
    category="B7-graph2",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, {_TRIS_SQL},
        sup0 AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS s FROM (
                SELECT ta AS a, tb AS b FROM tris
                UNION ALL SELECT ta, tc FROM tris
                UNION ALL SELECT tb, tc FROM tris
            ) GROUP BY a, b
        ), e1 AS (
            SELECT a, b FROM sup0 WHERE s >= 2
        ), tris1 AS (
            SELECT x.a AS ta, x.b AS tb, y.b AS tc
            FROM e1 x
            JOIN e1 y ON y.a = x.a AND y.b > x.b
            JOIN e1 z ON z.a = x.b AND z.b = y.b
        ), sup1 AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS s FROM (
                SELECT ta AS a, tb AS b FROM tris1
                UNION ALL SELECT ta, tc FROM tris1
                UNION ALL SELECT tb, tc FROM tris1
            ) GROUP BY a, b
        ), e2 AS (SELECT a, b FROM sup1 WHERE s >= 2)
        SELECT (SELECT count(*) FROM und) AS n_edges_0,
               (SELECT count(*) FROM e1) AS n_edges_1,
               (SELECT count(*) FROM e2) AS n_edges_2
    """,
)
def ktruss_support_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss peeling, two unrolled rounds: an edge survives when it
    participates in ≥ k−2 = 2 triangles among CURRENT edges; dropped
    edges dissolve triangles, so the support recomputes on survivors —
    the triangle-density core filter (stricter than k-core) that
    front-ends community mining.

    Scale (kcore_peel_rounds' contract, triangle edition): each round
    is one triangle enumeration on the shrinking survivor set (Σ deg²
    on a smaller graph every round) + one support rollup + one filter;
    the loop carries scalar edge counts only. truncate_lineage per round
    keeps the cached survivor frames narrow under vanilla sessions.
    """
    ev = load_table(spark, sf_dir, "events")
    par = leaf_parallelism(spark)
    edges0 = truncate_lineage(interaction_edges(ev, undirected=True), par)

    e1 = truncate_lineage(_ktruss_survivors(edges0), par)
    e2 = truncate_lineage(_ktruss_survivors(e1), par)
    return (
        edges0.agg(F.count(F.lit(1)).alias("n_edges_0"))
        .crossJoin(e1.agg(F.count(F.lit(1)).alias("n_edges_1")))
        .crossJoin(e2.agg(F.count(F.lit(1)).alias("n_edges_2")))
    )


@query(
    "ktruss_fixpoint_gate",
    category="B7-graph2",
    oracle=f"""
        WITH {INTERACTION_UND_CTE}, {_TRIS_SQL},
        sup0 AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS s FROM (
                SELECT ta AS a, tb AS b FROM tris
                UNION ALL SELECT ta, tc FROM tris
                UNION ALL SELECT tb, tc FROM tris
            ) GROUP BY a, b
        ), e1 AS (SELECT a, b FROM sup0 WHERE s >= 2)
        SELECT CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges_0,
               CAST((SELECT count(*) FROM e1) AS BIGINT) AS n_edges_1,
               CAST(8 AS BIGINT) AS rounds_cap,
               TRUE AS monotone_nonincreasing,
               TRUE AS fixpoint_reached,
               TRUE AS final_within_round1
    """,
)
def ktruss_fixpoint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss peeled TO FIXPOINT — the convergence loop
    ktruss_support_rounds unrolls twice: recompute edge support on
    survivors until no edge drops (cap 8 rounds). Like the Louvain
    loop gate, the oracle pins what SQL can state exactly (initial
    and round-1 edge counts from the shared CTE) and certifies the
    loop's invariants as a literal-TRUE contract: survivor counts
    never increase, a fixpoint was reached within the cap, and the
    final set is contained in round 1's.

    Scale: each round is one triangle enumeration on a shrinking
    graph + one support rollup; the loop carries ONE scalar per round
    (the kcore/CC convergence contract); truncate_lineage on every
    survivor frame keeps stages narrow and plans bounded (SCALE.md §17).
    """
    ev = load_table(spark, sf_dir, "events")
    par = leaf_parallelism(spark)
    edges = truncate_lineage(interaction_edges(ev, undirected=True), par)
    n0 = edges.count()

    counts = [n0]
    cur = edges
    fixpoint = False
    for _ in range(8):
        nxt = truncate_lineage(_ktruss_survivors(cur), par)
        n = nxt.count()
        counts.append(n)
        if n == counts[-2]:
            fixpoint = True
            cur = nxt
            break
        cur = nxt
    monotone = all(b <= a for a, b in zip(counts, counts[1:]))
    # containment: final survivors minus round-1 survivors must be empty
    r1 = _ktruss_survivors(edges)
    within = cur.join(r1, ["a", "b"], "left_anti").count() == 0
    return spark.createDataFrame(
        [
            (
                n0,
                counts[1] if len(counts) > 1 else n0,
                8,
                bool(monotone),
                bool(fixpoint),
                bool(within),
            )
        ],
        "n_edges_0 long, n_edges_1 long, rounds_cap long, "
        "monotone_nonincreasing boolean, fixpoint_reached boolean, "
        "final_within_round1 boolean",
    )


# sweep-1 CTE chain shared with behavior.py's _LOUVAIN2_ORACLE (same
# integer gain rule 2m - k_u*k_v, same argmax/tiebreak) — inlined here
# because this oracle continues into a RECURSIVE refinement phase
_SWEEP1_SQL = """adj AS (
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
        SELECT deg.u, deg.k,
               CASE WHEN b.gain_num > 0 THEN b.target ELSE deg.u END AS c
        FROM deg LEFT JOIN best1 b ON deg.u = b.u AND b.rn = 1
    )"""


@query(
    "leiden_refine_connectivity",
    category="B7-leiden",
    oracle=f"""
        WITH RECURSIVE {INTERACTION_UND_CTE}, {_SWEEP1_SQL},
        intra AS (
            SELECT und.a, und.b FROM und
            JOIN labels1 la ON und.a = la.u
            JOIN labels1 lb ON und.b = lb.u
            WHERE la.c = lb.c
        ), iedges AS (
            SELECT a AS src, b AS dst FROM intra
            UNION
            SELECT b, a FROM intra
        ), reach AS (
            SELECT src AS node, src AS label FROM iedges
            UNION
            SELECT e.dst, r.label FROM iedges e JOIN reach r ON e.src = r.node
        ), cc AS (
            SELECT node, min(label) AS comp FROM reach GROUP BY node
        ), refined AS (
            SELECT l.u, l.c, l.k, coalesce(cc.comp, l.u) AS rc
            FROM labels1 l LEFT JOIN cc ON cc.node = l.u
        ), pieces AS (
            SELECT c, rc,
                   CAST(count(*) AS BIGINT) AS pn,
                   CAST(sum(k) AS BIGINT) AS pk
            FROM refined GROUP BY c, rc
        ), census AS (
            SELECT c,
                   CAST(sum(pn) AS BIGINT) AS n_nodes,
                   CAST(sum(pk) AS BIGINT) AS tot_deg,
                   CAST(count(*) AS BIGINT) AS n_pieces,
                   CAST(max(pn) AS BIGINT) AS largest_piece
            FROM pieces GROUP BY c
        ), splits AS (
            SELECT CAST(count(*) FILTER (WHERE n_pieces > 1) AS BIGINT)
                       AS n_disconnected_parents,
                   CAST(count(*) AS BIGINT) AS n_parents
            FROM census
        )
        SELECT census.c AS community, n_nodes, tot_deg, n_pieces,
               largest_piece, splits.n_disconnected_parents,
               splits.n_parents
        FROM census CROSS JOIN splits
        ORDER BY n_nodes DESC, community
        LIMIT 20
    """,
)
def leiden_refine_connectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leiden-style REFINEMENT on the Louvain sweep — the fix Traag,
    Waltman & van Eck (Sci. Rep. 2019) showed Louvain needs: a
    synchronous sweep can assign nodes to a community they are no
    longer connected to INSIDE (up to ~25% of Louvain communities are
    internally disconnected), so before coarsening, Leiden splits
    every community into its connected pieces. Here the refinement is
    the deterministic core of that phase: run sweep 1 (identical
    integer gain rule / argmax / tiebreak as louvain_coarsened_two_
    level), restrict the edge set to INTRA-community edges, and
    relabel each node by the connected component it occupies within
    its own community (min-node labeling; nodes with no intra edge
    become singleton pieces). The census certifies the guarantee
    hash-exactly: per parent community its piece count and largest
    piece, plus the global count of parents the sweep left
    disconnected — the number Leiden exists to drive to zero at the
    next coarsening level.

    Scale: refinement reuses the SoCC'14 large-star/small-star CC
    (operators/graph.py) on the intra-community edge subset — a
    FILTER of the original edge list, never node×node; rounds scale
    with log(piece diameter). The oracle replays refinement as
    recursive-CTE reachability, feasible only at gate scale — the
    Spark side is the 100 TB form.
    """
    from pyspark.sql import Window

    from ..operators.graph import connected_components_star

    ev = load_table(spark, sf_dir, "events")
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
    moves1 = (
        adj.join(deg, "u")
        .join(dv, "v")
        .select(
            "u", "v",
            (F.lit(2 * m_edges) - F.col("k") * F.col("kv")).alias("gain_num"),
        )
    )
    w1 = Window.partitionBy("u").orderBy(F.col("gain_num").desc(), "v")
    best1 = (
        moves1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("u", "v", "gain_num")
    )
    labels1 = truncate_lineage(
        deg.join(best1, "u", "left")
        .select(
            "u", "k",
            F.when(F.col("gain_num") > 0, F.col("v"))
            .otherwise(F.col("u")).alias("c"),
        ),
        par,
    )

    la = labels1.select(F.col("u").alias("a"), F.col("c").alias("ca"))
    lb = labels1.select(F.col("u").alias("b"), F.col("c").alias("cb"))
    intra = (
        und.join(la, "a").join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .select("a", "b")
    )
    cc = connected_components_star(intra, src="a", dst="b")
    refined = (
        labels1.join(cc, labels1.u == cc.id, "left")
        .select(
            labels1.u, "k", "c",
            F.coalesce("component", labels1.u).alias("rc"),
        )
    )
    pieces = refined.groupBy("c", "rc").agg(
        F.count(F.lit(1)).cast("long").alias("pn"),
        F.sum("k").cast("long").alias("pk"),
    )
    census = pieces.groupBy("c").agg(
        F.sum("pn").cast("long").alias("n_nodes"),
        F.sum("pk").cast("long").alias("tot_deg"),
        F.count(F.lit(1)).cast("long").alias("n_pieces"),
        F.max("pn").cast("long").alias("largest_piece"),
    )
    splits = census.agg(
        F.sum(F.when(F.col("n_pieces") > 1, 1).otherwise(0))
        .cast("long").alias("n_disconnected_parents"),
        F.count(F.lit(1)).cast("long").alias("n_parents"),
    )
    return (
        census.crossJoin(F.broadcast(splits))
        .select(
            F.col("c").alias("community"),
            "n_nodes", "tot_deg", "n_pieces", "largest_piece",
            "n_disconnected_parents", "n_parents",
        )
        .orderBy(F.col("n_nodes").desc(), "community")
        .limit(20)
    )
