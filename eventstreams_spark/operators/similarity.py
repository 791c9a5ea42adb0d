"""Similarity search operators: exact cosine top-k and LSH bucketing
(SURVEY §2.11 L3/L4).

All vector math is Catalyst higher-order expressions (zip_with /
aggregate) over array<double> — JVM-side, codegen-friendly, no Python
per row. LSH hyperplanes are hash-derived (xxhash64), so the operator
is deterministic without any driver-side RNG or literal matrices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot
from .spread import leaf_parallelism


def cosine_topk(
    df: DataFrame,
    qdf: DataFrame | None,
    vec_col: str,
    qvec_col: str,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of ``df`` rows against a single query vector.

    If ``qdf`` is given it must be a 1-row frame holding ``qvec_col``;
    it is broadcast (scan stays shuffle-free) — otherwise ``df`` must
    already carry ``qvec_col``. Total order (sim DESC, id) under the
    LIMIT → physical TakeOrderedAndProject, no global sort.
    """
    if qdf is not None:
        df = df.crossJoin(F.broadcast(qdf.select(qvec_col)))
    return (
        df.select(
            id_col,
            cosine_similarity(F.col(vec_col), F.col(qvec_col)).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _plane_component(plane: Column, dim_idx: Column) -> Column:
    """Deterministic pseudo-random component in [-1, 1] from (plane,
    dim) — minted from the first 8 hex digits of
    md5('pl:<plane>:<dim>'), the SHARED cross-engine mint
    (functions/sampling.md5_uniform's integer; DuckDB twin
    queries/_shared.md5_uniform_sql parses the same digits
    positionally), so the LSH construction is ORACLE-EXPRESSIBLE:
    conv(hex8, 16, 10) here ≡ Σ strpos-digits·16^(8-i) there, and
    both sides apply the identical (k + 0.5) / 2^32 * 2 - 1 formula
    (same op order → same IEEE rounding). Replaced the r3 xxhash64
    derivation, which DuckDB cannot reproduce, to convert
    ann_lsh_recall_probe from rows-only to hash-checked (round 9)."""
    h = F.md5(
        F.concat(
            F.lit("pl:"),
            plane.cast("string"),
            F.lit(":"),
            dim_idx.cast("string"),
        )
    )
    k = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    return (k + F.lit(0.5)) / F.lit(4294967296.0) * F.lit(2.0) - F.lit(1.0)


def hyperplanes(spark, n_planes: int, dim: int) -> DataFrame:
    """1-row frame: ordered array of n_planes hash-derived unit-cube vectors."""
    planes = spark.range(n_planes, numPartitions=leaf_parallelism(spark)).select(
        F.col("id").alias("plane"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: _plane_component(F.col("id"), d),
        ).alias("pvec"),
    )
    return planes.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("plane", "pvec"))),
            lambda s: s.getField("pvec"),
        ).alias("planes")
    )


def lsh_bucket(df: DataFrame, vec_col: str, n_planes: int, dim: int) -> DataFrame:
    """Append an integer `bucket` column: sign-bit signature over
    hash-derived random hyperplanes (random projection LSH).

    The plane matrix is a single broadcast row (n_planes × dim
    doubles); the signature folds JVM-side:
    bucket = Σ_p (dot(vec, plane_p) >= 0) << p. At scale `bucket`
    becomes the shuffle/partition key for candidate generation —
    similar vectors collide with probability 1 - θ/π per bit.
    """
    spark = df.sparkSession
    bucket = F.aggregate(
        F.col("planes"),
        F.lit(0).cast("long"),
        lambda acc, pvec: acc * 2 + F.when(dot(F.col(vec_col), pvec) >= 0, 1).otherwise(0),
    )
    return df.crossJoin(F.broadcast(hyperplanes(spark, n_planes, dim))).withColumn(
        "bucket", bucket
    ).drop("planes")


def lsh_bucket_tables(
    df: DataFrame, vec_col: str, n_planes: int, n_tables: int, dim: int
) -> DataFrame:
    """Multi-table LSH: ``n_tables`` independent sign-bit signatures of
    ``n_planes`` bits each; one output row per (input row, table).

    Single-table LSH with enough bits to be selective has near-zero
    per-bucket recall on weakly-clustered data; the standard fix
    (Indyk–Motwani) is a UNION over L independent coarser tables: a
    true neighbor colliding in ANY table becomes a candidate.
    Collision math per table is p^b with p = 1 - θ/π, so
    recall ≈ 1 - (1 - p^b)^L — b trades selectivity, L buys recall.
    At 100 TB (table_id, bucket) is the shuffle key; storage is
    L× the id column (vectors stay put — candidates re-rank by
    joining back on vec_id).
    """
    spark = df.sparkSession
    all_planes = hyperplanes(spark, n_planes * n_tables, dim)

    def table_bucket(t: int) -> Column:
        return F.aggregate(
            F.slice(F.col("planes"), t * n_planes + 1, n_planes),
            F.lit(0).cast("long"),
            lambda acc, pvec: acc * 2
            + F.when(dot(F.col(vec_col), pvec) >= 0, 1).otherwise(0),
        )

    sigs = F.array(
        *[
            F.struct(F.lit(t).alias("table_id"), table_bucket(t).alias("bucket"))
            for t in range(n_tables)
        ]
    )
    # broadcast the 1-row plane frame via a literal-key equi join, not
    # crossJoin: identical plan cost, but stream-static cross joins are
    # unsupported so this keeps the bucketing usable on STREAMING query
    # frames (online vector search probes the same static index)
    return (
        df.withColumn("_pk", F.lit(1))
        .join(F.broadcast(all_planes.withColumn("_pk", F.lit(1))), "_pk")
        .withColumn("_sig", F.explode(sigs))
        .select(*df.columns, "_sig.table_id", "_sig.bucket")
    )


def ann_candidates(
    bucketed: DataFrame, qbucketed: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Distinct corpus rows sharing a (table_id, bucket) with the query.

    ``qbucketed``: the query vector's own multi-table signature (a few
    rows) — broadcast; the corpus side never shuffles its vectors,
    only the matched candidates flow to re-ranking.
    """
    q = F.broadcast(qbucketed.select("table_id", "bucket").distinct())
    return (
        bucketed.join(q, ["table_id", "bucket"])
        .drop("table_id", "bucket")
        .dropDuplicates([id_col])
    )
