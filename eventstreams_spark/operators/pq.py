"""Product quantization (PQ) for compressed ANN search.

Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each d-dim vector into m subvectors,
k-means each subspace independently (k centroids), store a vector as
m small codes (here m=8, k=16 → 8 nibbles for a 64-dim float vector:
64x compression). Query-time ADC (asymmetric distance computation)
precomputes an m×k lookup table of query-subvector→centroid distances;
a vector's approximate distance is the sum of m table lookups — no
float vector is ever touched at scan time.

Spark-first layout:
- training subvectors = one posexplode (vec_id, sub_id, subvec);
  k-means iterations are broadcast-join argmin + (sub_id, cid, dim)
  hash aggregates — the same shape as operators/ivf.py, never a
  driver-side numpy fit;
- codes live in an array<int> column next to the row;
- the ADC LUT is m·k rows (tiny) → broadcast join against exploded
  codes, then one groupBy(vec_id) sum. At 100 TB the scan reads ONLY
  the code column (~8 bytes/vector): the whole index is just columnar
  layout + broadcast, nothing resident.

Determinism: centroid init = the k subvectors with the smallest
vec_ids per subspace; ties impossible (vec_id unique). All arithmetic
on doubles after explicit casts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import sq_dist


def split_subvectors(df: DataFrame, vec_col: str, id_col: str, m: int) -> DataFrame:
    """(id, sub_id, subvec): slice each vector into m equal parts."""
    dim_expr = F.size(F.col(vec_col))
    sub = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.alias("sub_id"),
                F.slice(
                    F.col(vec_col), s * (dim_expr / m).cast("int") + 1,
                    (dim_expr / m).cast("int")
                ).alias("subvec"),
            ),
        )
    ).alias("s")
    return df.select(F.col(id_col).alias("vid"), sub).select(
        "vid",
        F.col("s.sub_id").alias("sub_id"),
        F.transform("s.subvec", lambda x: x.cast("double")).alias("subvec"),
    )


def _centroid_lut(codebooks: DataFrame) -> DataFrame:
    """One broadcastable row per subspace: sorted array of (cid, cvec)."""
    return codebooks.groupBy("sub_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
        ).alias("cents")
    )


def _assign(subs: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Append argmin-centroid ``cid`` per (vid, sub_id) row."""
    lut = _centroid_lut(codebooks)
    with_c = subs.join(F.broadcast(lut), "sub_id")
    dists = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            sq_dist(F.col("subvec"), c["cvec"]).alias("d"), c["cid"].alias("cid")
        ),
    )
    return with_c.withColumn("cid", F.array_min(dists)["cid"]).drop("cents")


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    n_iters: int = 3,
) -> DataFrame:
    """Train per-subspace codebooks → (sub_id, cid, cvec)."""
    subs = split_subvectors(df, vec_col, id_col, m)
    w_ids = subs.filter(
        F.col("vid").isin(
            [r["vid"] for r in subs.select("vid").distinct().orderBy("vid").limit(k).collect()]
        )
    )
    init = (
        w_ids.withColumn(
            "cid",
            F.row_number().over(Window.partitionBy("sub_id").orderBy("vid")) - 1,
        )
        .select("sub_id", "cid", F.col("subvec").alias("cvec"))
    )
    codebooks = init.localCheckpoint()
    for _ in range(n_iters):
        assigned = _assign(subs, codebooks)
        codebooks = (
            assigned.select(
                "sub_id", "cid", F.posexplode("subvec").alias("dim", "v")
            )
            .groupBy("sub_id", "cid", "dim")
            .agg(F.avg("v").alias("mv"))
            .groupBy("sub_id", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mv"))),
                    lambda s: s["mv"],
                ).alias("cvec")
            )
            .localCheckpoint()
        )
    return codebooks


def pq_encode(df: DataFrame, vec_col: str, id_col: str, codebooks: DataFrame, m: int) -> DataFrame:
    """(id, codes array<int>): each vector as m codebook indices."""
    subs = split_subvectors(df, vec_col, id_col, m)
    assigned = _assign(subs, codebooks)
    return (
        assigned.groupBy("vid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_id", "cid"))),
                lambda s: s["cid"],
            ).alias("codes")
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    query_vec: str,
    k_out: int,
    m: int,
) -> DataFrame:
    """Approximate top-k by ADC: per-subspace LUT of query→centroid
    distances (m·k rows, broadcast), summed over each row's codes."""
    qsubs = split_subvectors(query.select(F.lit(0).alias("qid"), query_vec), query_vec, "qid", m)
    lut = (
        qsubs.join(codebooks, "sub_id")
        .select("sub_id", "cid", sq_dist("subvec", "cvec").alias("d"))
    )
    exploded = codes.select("vid", F.posexplode("codes").alias("sub_id", "cid"))
    return (
        exploded.join(F.broadcast(lut), ["sub_id", "cid"])
        .groupBy("vid")
        .agg(F.sum("d").alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vid").asc())
        .limit(k_out)
    )
