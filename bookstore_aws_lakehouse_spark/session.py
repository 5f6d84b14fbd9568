"""SparkSession factory tuned for the engine.

The reference creates a bare session (``spark-main.py:9`` in the reference);
we centralize the conf that matters at scale: AQE (runtime re-planning,
partition coalescing, skew-join splitting), UTC session time, Arrow for any
Pandas-UDF path, and shuffle partitions sized to the machine rather than the
Spark default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    # AQE: coalesce tiny shuffle partitions, split skewed ones, re-plan joins
    # with runtime stats. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # deterministic time semantics regardless of host TZ
    "spark.sql.session.timeZone": "UTC",
    # Arrow batch transfer for pandas_udf / mapInPandas / toPandas
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scan efficiency
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # timestamps as INT64 micros, not legacy INT96: INT96 chunks carry no
    # parquet min/max statistics, killing row-group AND file-level
    # pruning on every temporal column (Delta/Iceberg write INT64 too)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # pin size(NULL) = NULL explicitly: Spark 4 defaults to it, but on the
    # permitted pyspark>=3.5 the legacy default returns -1, which would
    # silently diverge every size()/split()-on-NULL expression from the
    # DuckDB oracles (len(NULL) IS NULL)
    "spark.sql.legacy.sizeOfNull": "false",
    # Python data sources may prune files from pushed filters (the lakesnap
    # reader does); off by default in Spark 4.1, where a reader that
    # implements pushFilters is otherwise rejected outright
    "spark.sql.python.filterPushdown.enabled": "true",
}


def get_spark(
    app_name: str = "bookstore-lakehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master=None`` leaves the master to spark-submit / an existing session —
    the same code runs on ``local[N]`` and on a real cluster. On a cluster,
    ``shuffle_partitions`` should be ~2-3× total executor cores; locally it
    defaults to the CPU count.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 8
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
