"""IVF (inverted-file) ANN index: coarse k-means quantizer + cluster-
pruned search (SURVEY §2.11 L4 — the clustered-data complement to the
random-hyperplane LSH in ``similarity.py``).

Everything is DataFrame ops — assignment is a JVM-side argmin fold over
a broadcast centroid array, centroid refinement is posexplode +
two-level hash aggregate. Deterministic end to end: seeds are chosen by
xxhash64 order, ties break on id, so the index is reproducible without
any driver-side RNG.

Scale story (100 TB): the corpus is scanned once per Lloyd iteration
(iterations are few and each is a map + one shuffle of (cid, pos)
partial sums — 64·k doubles per partition, not per row); the built
assignment is written partitioned by ``cid`` so a query probing
``nprobe`` clusters prunes partitions and reads nprobe/k of the data.
LSH wins on adversarially uniform vectors; IVF wins when the corpus is
clustered (real embedding corpora are) — both share the same exact
re-rank (``cosine_topk``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, norm, sq_dist


def l2_normalize(vec: Column) -> Column:
    """Scale to unit L2 norm: cosine ordering == dot ordering == inverse
    squared-L2 ordering on the unit sphere (spherical k-means)."""
    return F.transform(vec, lambda x: x / norm(vec))


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """Collapse a (cid, cvec) frame to ONE row holding an ordered
    array<struct<cid,cvec>> — the broadcastable index payload."""
    return centroids.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("cid", "cvec"))),
            lambda s: s,
        ).alias("cents")
    )


def assign_to_centroids(
    df: DataFrame, centroids: DataFrame, vec_col: str = "vec"
) -> DataFrame:
    """Append ``cid`` = argmin squared-L2 centroid for each row.

    The centroid set rides in as one broadcast row; the argmin is a
    single Catalyst ``aggregate`` fold (k distance evaluations per row,
    all codegen) — the corpus never shuffles for assignment.
    """
    best = F.aggregate(
        F.col("_cents"),
        F.struct(
            F.lit(-1).cast("int").alias("cid"),
            F.lit(float("inf")).alias("d"),
        ),
        lambda acc, c: F.when(
            sq_dist(F.col(vec_col), c.getField("cvec")) < acc.getField("d"),
            F.struct(
                c.getField("cid").cast("int").alias("cid"),
                sq_dist(F.col(vec_col), c.getField("cvec")).alias("d"),
            ),
        ).otherwise(acc),
    )
    return (
        df.crossJoin(F.broadcast(_centroid_array(centroids).withColumnRenamed("cents", "_cents")))
        .withColumn("cid", best.getField("cid"))
        .drop("_cents")
    )


def ivf_build(
    df: DataFrame,
    vec_col: str = "vec",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index: returns (assigned, centroids).

    ``assigned`` = input rows + ``cid``; ``centroids`` = (cid, cvec).
    Seeding: the ``n_centroids`` rows smallest by xxhash64(id) — a
    deterministic pseudo-random sample that costs one
    TakeOrderedAndProject, no driver RNG. Refinement: ``n_iters``
    Lloyd steps; each recomputes means via posexplode →
    groupBy(cid, pos) — partial aggregation keeps the shuffle at
    O(k · dim) per partition regardless of corpus size.
    """
    from .graph import truncate_lineage

    # the normalized corpus feeds the seed probe + every Lloyd round +
    # the final assignment — checkpoint once (truncate_lineage rule)
    unit = truncate_lineage(
        df.select(id_col, l2_normalize(F.col(vec_col)).alias(vec_col)), 8
    )
    # seed order + cid numbering both ride md5(id) — the shared
    # cross-engine mint (hex-string order is plain ASCII compare), so
    # a DuckDB oracle can replay the build exactly (round 9: this
    # replaced xxhash64, which DuckDB cannot compute, to convert
    # ann_ivf_recall_probe from rows-only to hash-checked)
    seed_key = F.md5(F.col(id_col).cast("string"))
    seeds = (
        unit.orderBy(seed_key, F.col(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("cvec"))
    )
    centroids = seeds.select(
        (
            F.row_number().over(
                Window.orderBy(
                    F.md5(F.col("_sid").cast("string")), F.col("_sid")
                )
            )
            - 1
        ).alias("cid"),
        "cvec",
    )
    for _ in range(n_iters):
        assigned = assign_to_centroids(unit, centroids, vec_col)
        centroids = (
            assigned.select("cid", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("mean"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "mean"))),
                    lambda s: s.getField("mean"),
                ).alias("cvec")
            )
            .select("cid", l2_normalize(F.col("cvec")).alias("cvec"))
        )
        # k-row frame; without the per-round boundary each Lloyd step
        # re-prints every earlier step's subtree
        centroids = truncate_lineage(centroids, 1)
    return assign_to_centroids(unit, centroids, vec_col), centroids


def ivf_probe_ids(
    assigned: DataFrame,
    centroids: DataFrame,
    qdf: DataFrame,
    vec_col: str = "vec",
    qvec_col: str = "qvec",
    nprobe: int = 4,
) -> DataFrame:
    """Candidate rows: members of the ``nprobe`` clusters nearest the
    query vector (single-query probe; the 1-row ``qdf`` broadcasts).

    At rest the assignment table is partitioned by ``cid``, so the
    probe set turns into partition pruning — a 1000-executor scan
    touches nprobe/k of the files before the exact re-rank.
    """
    qn = qdf.select(l2_normalize(F.col(qvec_col)).alias(qvec_col))
    probe = (
        centroids.crossJoin(F.broadcast(qn))
        .select("cid", sq_dist(F.col("cvec"), F.col(qvec_col)).alias("d"))
        .orderBy(F.col("d"), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    return assigned.join(F.broadcast(probe), "cid").drop("cid")
