"""Scale/parallelism utilities.

``ensure_parallelism`` guards against *pathologically under-split inputs*:
a parquet file written as one giant row group yields exactly one scan task
regardless of ``maxPartitionBytes`` — one core does all downstream map work
while the rest idle. That is a real production failure mode (single-file
exports, badly configured writers), not just a fixture artifact.

The guard is adaptive: if the scan already has ≥ half the cluster's task
slots (always true at 100 TB, where inputs have thousands of splits), it is
a no-op and costs nothing; only genuinely under-split inputs pay one
round-robin shuffle to fan work out.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """The scan's task count, computed from the plan's file listing — no
    ``.rdd`` access (which would de-optimize the DataFrame through the
    legacy Python-RDD conversion just to count partitions) and no job.

    For splittable local files (parquet) this is Spark's own planning
    arithmetic, ``FilePartition.maxSplitBytes`` followed by
    ``FilePartition.getFilePartitions``:

    * ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
      Σ(size + openCostInBytes) / minPartitionNum))``, where
      ``minPartitionNum`` is ``spark.sql.files.minPartitionNum`` when set,
      else the session's leaf-node default parallelism;
    * each file is cut into chunks of at most ``maxSplitBytes``;
    * the chunks, largest first, are packed into partitions: a partition
      is closed when ``current + chunk > maxSplitBytes``, and each chunk
      adds ``chunk + openCostInBytes`` to the current one.

    Not modelled: non-splittable files (gzip/bzip-compressed text, whose
    files Spark never cuts) and the re-binning Spark does when
    ``spark.sql.files.maxPartitionNum`` is set and exceeded. Returns None
    when no count can be made (no file sources in the plan, non-local
    URIs we can't stat) — callers treat that as "leave the DataFrame
    untouched"."""
    files = df.inputFiles()
    if not files:
        return None
    # session-resolved bytes values (handles "128m"-style conf strings)
    jspark = df.sparkSession._jsparkSession
    conf = jspark.sessionState().conf()
    max_pb = int(conf.filesMaxPartitionBytes())
    open_cost = int(conf.filesOpenCostInBytes())
    min_num = conf.filesMinPartitionNum()
    # both are validated positive by Spark's conf checks
    if min_num.isDefined():
        min_partitions = int(min_num.get())
    else:
        min_partitions = int(jspark.leafNodeDefaultParallelism())
    sizes = []
    for uri in files:
        path = uri[5:] if uri.startswith("file:") else uri
        if "://" in path:  # remote FS: stat via os would lie
            return None
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    total_padded = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_pb, max(open_cost, total_padded // min_partitions))
    chunks = sorted(
        (
            min(max_split, size - off)
            for size in sizes
            for off in range(0, size, max_split)
        ),
        reverse=True,
    )
    partitions, current = 0, 0
    for chunk in chunks:
        if current and current + chunk > max_split:
            partitions, current = partitions + 1, 0
        current += chunk + open_cost
    return partitions + 1 if current else partitions


def ensure_parallelism(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Repartition ``df`` to the cluster's default parallelism iff its
    estimated scan-split count is below ``min_fraction`` of it.

    Intended for SCAN-STAGE DataFrames only: the probe reads the plan's
    file listing (metadata — no jobs, no ``.rdd`` conversion). Plans with
    an Exchange are returned untouched: their shuffles already
    repartition them, and the file-based estimate would not describe the
    post-shuffle layout anyway."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
            return df
        current = _estimated_scan_splits(df)
    except Exception:
        return df
    if current is not None and current < target * min_fraction:
        return df.repartition(target)
    return df
