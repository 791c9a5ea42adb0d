"""Density clustering: distributed DBSCAN over the md5-minted
customer coordinate cloud (same deterministic points as
spatial_grid_join_pairs) — the grid-blocked formulation every
MapReduce-era DBSCAN paper (MR-DBSCAN, DBSCAN-MR) converges on:
ε-neighbor pairs come from an ε-cell 9-neighbor grid equi join (never
point×point), core points are those with ≥ minPts points in their
ε-ball, clusters are connected components of the core-core ε-graph,
and border points attach to their minimum adjacent core cluster (the
deterministic variant of DBSCAN's order-dependent border rule —
documented divergence, same as scikit-learn's note).

Float discipline: coordinates are md5-uniform doubles (bit-identical
across engines); the ε test compares SQUARED degree distance against
the exact literal ε² — no sqrt, no rounding, identical classification
on both sides; all outputs are integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.sampling import md5_uniform
from ..operators.spread import leaf_parallelism
from ..registry import query
from ._shared import md5_uniform_sql

_EPS = 4.0
_MINPTS = 3


def _dbscan_oracle() -> str:
    lat_u = md5_uniform_sql("concat('clat|', cast(c_custkey as varchar))")
    lon_u = md5_uniform_sql("concat('clon|', cast(c_custkey as varchar))")
    return f"""
        WITH RECURSIVE pts AS (
            SELECT c_custkey AS id, ({lat_u} - 0.5) * 180.0 AS lat,
                   ({lon_u} - 0.5) * 360.0 AS lon
            FROM customer
        ), cells AS (
            SELECT id, lat, lon,
                   CAST(floor(lat / {_EPS}) AS BIGINT) AS cy,
                   CAST(floor(lon / {_EPS}) AS BIGINT) AS cx
            FROM pts
        ), probe AS (
            SELECT id, lat, lon, cy + dy AS ty, cx + dx AS tx
            FROM cells,
                 (SELECT unnest([-1, 0, 1]) AS dy) a,
                 (SELECT unnest([-1, 0, 1]) AS dx) b
        ), pairs AS (
            SELECT p.id AS id1, c.id AS id2
            FROM probe p JOIN cells c ON p.ty = c.cy AND p.tx = c.cx
            WHERE p.id < c.id
              AND (p.lat - c.lat) * (p.lat - c.lat)
                + (p.lon - c.lon) * (p.lon - c.lon) <= {_EPS * _EPS}
        ), deg AS (
            SELECT id, count(*) AS n
            FROM (SELECT id1 AS id FROM pairs
                  UNION ALL SELECT id2 FROM pairs)
            GROUP BY id
        ), core AS (
            SELECT id FROM deg WHERE n + 1 >= {_MINPTS}
        ), ce AS (
            SELECT id1 AS src, id2 AS dst FROM pairs
            WHERE id1 IN (SELECT id FROM core)
              AND id2 IN (SELECT id FROM core)
        ), sym AS (
            SELECT src, dst FROM ce UNION SELECT dst, src FROM ce
        ), reach AS (
            SELECT src AS node, src AS label FROM sym
            UNION
            SELECT e.dst, r.label FROM sym e JOIN reach r ON e.src = r.node
        ), cc AS (
            SELECT node, min(label) AS comp FROM reach GROUP BY node
        ), clustered AS (
            SELECT core.id, coalesce(cc.comp, core.id) AS cluster
            FROM core LEFT JOIN cc ON cc.node = core.id
        ), border AS (
            SELECT x.id, min(cl.cluster) AS cluster
            FROM (SELECT id1 AS id, id2 AS nbr FROM pairs
                  UNION ALL SELECT id2, id1 FROM pairs) x
            JOIN clustered cl ON cl.id = x.nbr
            WHERE x.id NOT IN (SELECT id FROM core)
            GROUP BY x.id
        ), counts AS (
            SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n_points,
                   CAST((SELECT count(*) FROM clustered) AS BIGINT) AS n_core,
                   CAST((SELECT count(*) FROM border) AS BIGINT) AS n_border,
                   CAST((SELECT count(DISTINCT cluster) FROM clustered)
                        AS BIGINT) AS n_clusters
        ), census AS (
            SELECT cluster,
                   CAST(sum(CASE WHEN kind = 'c' THEN 1 ELSE 0 END)
                        AS BIGINT) AS core_pts,
                   CAST(sum(CASE WHEN kind = 'b' THEN 1 ELSE 0 END)
                        AS BIGINT) AS border_pts
            FROM (SELECT cluster, 'c' AS kind FROM clustered
                  UNION ALL SELECT cluster, 'b' FROM border)
            GROUP BY cluster
        )
        SELECT census.cluster, core_pts, border_pts,
               counts.n_clusters,
               counts.n_points - counts.n_core - counts.n_border AS n_noise
        FROM census CROSS JOIN counts
        ORDER BY core_pts + border_pts DESC, census.cluster
        LIMIT 20
    """


@query("dbscan_grid_clusters", category="J12-density", oracle=_dbscan_oracle())
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed DBSCAN (ε=4°, minPts=3) over the customer
    coordinate cloud: ε-pairs from the ε-cell grid join (each
    unordered pair found exactly once — home cell is unique), core =
    ≥ minPts points in the ε-ball (count includes the point itself),
    clusters = star-CC over the core-core ε-graph (isolated cores
    stay singleton clusters), borders attach to the MINIMUM adjacent
    core cluster, everything else is noise. Census: top-20 clusters
    with core/border splits plus the global cluster and noise counts.

    Determinism: membership tests compare squared degree distance of
    bit-identical md5-minted doubles against literal ε² — no trig, no
    rounding; the min-cluster border rule replaces DBSCAN's
    scan-order-dependent assignment (documented divergence, also
    noted by scikit-learn).

    Scale: candidate work is Σ(per-ε-cell points²) — the standard
    grid-DBSCAN bound; the core filter is one degree count; CC runs
    log-diameter rounds on the (much smaller) core graph; border
    assignment is one more equi join. No step is point×point.
    """
    from ..operators.graph import (
        connected_components_star,
        truncate_lineage,
    )

    par = leaf_parallelism(spark)
    cust = load_table(spark, sf_dir, "customer")
    lat = (md5_uniform("concat('clat|', cast(c_custkey as string))") - 0.5) * 180.0
    lon = (md5_uniform("concat('clon|', cast(c_custkey as string))") - 0.5) * 360.0
    pts = cust.select(
        F.col("c_custkey").alias("id"), lat.alias("lat"), lon.alias("lon"),
        F.floor(lat / _EPS).cast("long").alias("cy"),
        F.floor(lon / _EPS).cast("long").alias("cx"),
    )
    pts = truncate_lineage(pts, par)
    offsets = F.explode(
        F.array(*[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        ])
    )
    probe = pts.select(
        F.col("id").alias("id1"), F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"), "cy", "cx", offsets.alias("o"),
    ).select(
        "id1", "lat1", "lon1",
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        (F.col("cx") + F.col("o.dx")).alias("tx"),
    )
    home = pts.select(
        F.col("id").alias("id2"), F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"), "cy", "cx",
    )
    pairs = (
        probe.join(home, (F.col("ty") == F.col("cy")) & (F.col("tx") == F.col("cx")))
        .filter(
            (F.col("id1") < F.col("id2"))
            & (
                (F.col("lat1") - F.col("lat2")) * (F.col("lat1") - F.col("lat2"))
                + (F.col("lon1") - F.col("lon2")) * (F.col("lon1") - F.col("lon2"))
                <= _EPS * _EPS
            )
        )
        .select("id1", "id2")
    )
    pairs = truncate_lineage(pairs, par)
    adj = pairs.select(F.col("id1").alias("id"), F.col("id2").alias("nbr")).unionAll(
        pairs.select(F.col("id2").alias("id"), F.col("id1").alias("nbr"))
    )
    deg = adj.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    core = truncate_lineage(
        deg.filter(F.col("n") + 1 >= _MINPTS).select("id"), par
    )
    ce = (
        pairs.join(core.withColumnRenamed("id", "id1"), "id1", "semi")
        .join(core.withColumnRenamed("id", "id2"), "id2", "semi")
        .select("id1", "id2")
    )
    cc = connected_components_star(ce, src="id1", dst="id2")
    clustered = (
        core.join(cc, core.id == cc.id, "left")
        .select(core.id, F.coalesce("component", core.id).alias("cluster"))
    )
    clustered = truncate_lineage(clustered, par)
    border = (
        adj.join(F.broadcast(core.withColumnRenamed("id", "bid")),
                 adj.id == F.col("bid"), "left_anti")
        .join(clustered.withColumnRenamed("id", "nbr"), "nbr")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    counts = (
        pts.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .crossJoin(clustered.agg(F.count(F.lit(1)).cast("long").alias("n_core")))
        .crossJoin(border.agg(F.count(F.lit(1)).cast("long").alias("n_border")))
        .crossJoin(
            clustered.agg(
                F.countDistinct("cluster").cast("long").alias("n_clusters")
            )
        )
    )
    census = (
        clustered.select("cluster", F.lit("c").alias("kind"))
        .unionAll(border.select("cluster", F.lit("b").alias("kind")))
        .groupBy("cluster")
        .agg(
            F.sum(F.when(F.col("kind") == "c", 1).otherwise(0))
            .cast("long").alias("core_pts"),
            F.sum(F.when(F.col("kind") == "b", 1).otherwise(0))
            .cast("long").alias("border_pts"),
        )
    )
    return (
        census.crossJoin(F.broadcast(counts))
        .select(
            "cluster", "core_pts", "border_pts", "n_clusters",
            (F.col("n_points") - F.col("n_core") - F.col("n_border"))
            .cast("long").alias("n_noise"),
        )
        .orderBy((F.col("core_pts") + F.col("border_pts")).desc(), "cluster")
        .limit(20)
    )


def _pip_oracle() -> str:
    lat_u = md5_uniform_sql("concat('clat|', cast(c_custkey as varchar))")
    lon_u = md5_uniform_sql("concat('clon|', cast(c_custkey as varchar))")
    pr = md5_uniform_sql(
        "concat('pr|', cast(p as varchar), '|', cast(v as varchar))"
    )
    pcy = md5_uniform_sql("concat('pcy|', cast(p as varchar))")
    pcx = md5_uniform_sql("concat('pcx|', cast(p as varchar))")
    return f"""
        WITH pts AS (
            SELECT c_custkey AS id, ({lat_u} - 0.5) * 180.0 AS lat,
                   ({lon_u} - 0.5) * 360.0 AS lon
            FROM customer
        ), pv AS (
            SELECT p, v,
                   (({pcy} - 0.5) * 120.0)
                     + (5.0 + 20.0 * {pr})
                       * sin(v * 0.7853981633974483) AS y,
                   (({pcx} - 0.5) * 300.0)
                     + (5.0 + 20.0 * {pr})
                       * cos(v * 0.7853981633974483) AS x
            FROM (SELECT unnest(generate_series(0, 5)) AS p) a,
                 (SELECT unnest(generate_series(0, 7)) AS v) b
        ), edges AS (
            SELECT a.p, a.y AS y1, a.x AS x1, b.y AS y2, b.x AS x2
            FROM pv a JOIN pv b ON a.p = b.p AND b.v = (a.v + 1) % 8
        ), bbox AS (
            SELECT p, min(y) AS ylo, max(y) AS yhi,
                   min(x) AS xlo, max(x) AS xhi
            FROM pv GROUP BY p
        ), cand AS (
            SELECT b.p, t.id, t.lat, t.lon
            FROM pts t JOIN bbox b
              ON t.lat BETWEEN b.ylo AND b.yhi
             AND t.lon BETWEEN b.xlo AND b.xhi
        ), crossings AS (
            SELECT c.p, c.id, CAST(count(*) AS BIGINT) AS k
            FROM cand c JOIN edges e ON c.p = e.p
            WHERE ((e.y1 > c.lat) <> (e.y2 > c.lat))
              AND c.lon < e.x1 + (c.lat - e.y1) * (e.x2 - e.x1)
                                 / (e.y2 - e.y1)
            GROUP BY c.p, c.id
        ), stats AS (
            SELECT p, CAST(count(*) AS BIGINT) AS n_candidates
            FROM cand GROUP BY p
        ), ins AS (
            SELECT p, CAST(count(*) AS BIGINT) AS n_inside
            FROM crossings WHERE k % 2 = 1 GROUP BY p
        )
        SELECT CAST(a.p AS BIGINT) AS polygon_id,
               coalesce(s.n_candidates, 0) AS n_candidates,
               coalesce(i.n_inside, 0) AS n_inside,
               CAST(round(coalesce(i.n_inside, 0)
                          / nullif(coalesce(s.n_candidates, 0), 0), 6)
                    AS DOUBLE) AS inside_ratio
        FROM (SELECT DISTINCT p FROM pv) a
        LEFT JOIN stats s ON a.p = s.p
        LEFT JOIN ins i ON a.p = i.p
        ORDER BY polygon_id
    """


@query(
    "point_in_polygon_raycast",
    category="J12-spatial-pip",
    oracle=_pip_oracle(),
)
def point_in_polygon_raycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-POLYGON containment by RAY CASTING (crossing number)
    — the geofence family's general form: six md5-minted star-shaped
    polygons (8 vertices each, per-vertex radii 5–25° around a random
    center — simple but NON-convex, so bounding boxes and half-plane
    tests are insufficient and the odd-crossings rule is genuinely
    exercised) against the same customer coordinate cloud the spatial
    grid joins use. A point is inside iff a horizontal ray to +∞
    crosses an odd number of edges; the per-edge test
    ((y1 > lat) ≠ (y2 > lat)) AND lon < x-at-lat is one shared-text
    double expression, and md5-uniform coordinates make every
    vertex-grazing tie measure-zero (and identically resolved anyway
    — both engines evaluate the same doubles).

    Scale: the polygon table is broadcast metadata (48 edges); the
    BOUNDING-BOX prefilter is the pushdown step (points join the
    6-row bbox dim, so the edge test runs only on candidates —
    exactly how a real geo engine prunes before exact geometry); the
    crossing count is one groupBy (polygon, point). Division-by-zero
    in the slope term only arises when the straddle clause is
    already false (horizontal edges never straddle), and FALSE AND
    NULL = FALSE on both engines.
    """
    par8 = 0.7853981633974483  # pi/4: vertex angular spacing
    pts = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        ((md5_uniform("concat('clat|', cast(c_custkey as string))") - 0.5)
         * 180.0).alias("lat"),
        ((md5_uniform("concat('clon|', cast(c_custkey as string))") - 0.5)
         * 360.0).alias("lon"),
    )
    par = leaf_parallelism(spark)
    pv = (
        spark.range(6, numPartitions=par).select(F.col("id").alias("p"))
        .crossJoin(spark.range(8, numPartitions=par).select(F.col("id").alias("v")))
        .select(
            "p", "v",
            (
                (md5_uniform("concat('pcy|', cast(p as string))") - 0.5)
                * 120.0
                + (5.0 + 20.0 * md5_uniform(
                    "concat('pr|', cast(p as string), '|',"
                    " cast(v as string))"
                )) * F.sin(F.col("v") * par8)
            ).alias("y"),
            (
                (md5_uniform("concat('pcx|', cast(p as string))") - 0.5)
                * 300.0
                + (5.0 + 20.0 * md5_uniform(
                    "concat('pr|', cast(p as string), '|',"
                    " cast(v as string))"
                )) * F.cos(F.col("v") * par8)
            ).alias("x"),
        )
    )
    a = pv.select("p", "v", F.col("y").alias("y1"), F.col("x").alias("x1"))
    b = pv.select(
        F.col("p").alias("pb"), F.col("v").alias("vb"),
        F.col("y").alias("y2"), F.col("x").alias("x2"),
    )
    edges = a.join(
        b,
        (F.col("p") == F.col("pb")) & (F.col("vb") == (F.col("v") + 1) % 8),
    ).select("p", "y1", "x1", "y2", "x2")
    bbox = pv.groupBy("p").agg(
        F.min("y").alias("ylo"), F.max("y").alias("yhi"),
        F.min("x").alias("xlo"), F.max("x").alias("xhi"),
    )
    cand = pts.join(
        F.broadcast(bbox),
        F.col("lat").between(F.col("ylo"), F.col("yhi"))
        & F.col("lon").between(F.col("xlo"), F.col("xhi")),
    ).select("p", "id", "lat", "lon")
    straddle = (F.col("y1") > F.col("lat")) != (F.col("y2") > F.col("lat"))
    xcross = F.col("x1") + (F.col("lat") - F.col("y1")) * (
        F.col("x2") - F.col("x1")
    ) / (F.col("y2") - F.col("y1"))
    crossings = (
        cand.join(F.broadcast(edges), "p")
        .filter(straddle & (F.col("lon") < xcross))
        .groupBy("p", "id")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    stats = cand.groupBy("p").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    ins = (
        crossings.filter(F.col("k") % 2 == 1)
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inside"))
    )
    polys = pv.select("p").distinct()
    return (
        polys.join(stats, "p", "left")
        .join(ins, "p", "left")
        .select(
            F.col("p").cast("long").alias("polygon_id"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_inside", F.lit(0)).cast("long").alias("n_inside"),
            F.round(
                F.coalesce("n_inside", F.lit(0))
                / F.nullif(
                    F.coalesce("n_candidates", F.lit(0)), F.lit(0)
                ),
                6,
            ).alias("inside_ratio"),
        )
    )
