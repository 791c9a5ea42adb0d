"""The engine's one read of the core count, and the guarded round-robin
spread of a low-parallelism frame over those cores."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def leaf_parallelism(spark: SparkSession) -> int:
    """Spark SQL's leaf parallelism: ``spark.sql.leafNodeDefaultParallelism``,
    which defaults to ``defaultParallelism`` (the core count). Spark
    itself sizes a Scala ``range``, a local relation and its file splits
    (``spark.sql.files.minPartitionNum``) by it. Every builder that sizes a
    checkpoint, a coalesce or a minted frame by the cores reads it here,
    so pinning the conf pins their plans at any core count. PySpark's
    ``spark.range(n)`` reads ``defaultParallelism`` and ignores the conf:
    pass ``numPartitions=leaf_parallelism(spark)`` where the partition
    count reaches the plan."""
    conf = spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
    return int(conf or spark.sparkContext.defaultParallelism)


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition to `leaf_parallelism` when ``df`` has
    fewer partitions, else ``df`` unchanged (guide §2.5/§4). The bench's
    single-row-group parquet plans every scan as ONE partition, which
    would pin the heavy stage that follows (a mapInPandas mint, a
    per-row Python automaton, a ×B explode) onto one task. Call it
    before that stage, where the shuffle moves only the small pre-stage
    rows; a many-partition cluster scan pays nothing. Round-robin is
    deterministic (sortBeforeRepartition), so results keyed per row are
    partitioning-independent."""
    par = leaf_parallelism(df.sparkSession)
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
