"""Guarded round-robin spread of a low-parallelism frame over the cores."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` when ``df`` has
    fewer partitions, else ``df`` unchanged (guide §2.5/§4). The bench's
    single-row-group parquet plans every scan as ONE partition, which
    would pin the heavy stage that follows (a mapInPandas mint, a
    per-row Python automaton, a ×B explode) onto one task. Call it
    before that stage, where the shuffle moves only the small pre-stage
    rows; a many-partition cluster scan pays nothing. Round-robin is
    deterministic (sortBeforeRepartition), so results keyed per row are
    partitioning-independent."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
