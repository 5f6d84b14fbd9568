"""Sinks (SURVEY §2.1: S3 — the data-mart writer).

Reference: ``df.write.mode(mode).option('header',True).csv(path)``
(`workflow/Loader.py:2-3`) with nightly ``append`` — two scale bugs we fix by
default (SURVEY §7.1.6): the mart should be columnar (parquet), and loads
should be idempotent (``overwrite``), not accumulate duplicates every cron
run. CSV remains available for reference parity / export.

Table-format note (SURVEY §1.5): keyed upserts, ACID commits, snapshot
isolation and time travel are a lakehouse table format's job — Delta's /
Iceberg's ``MERGE INTO``. This environment ships neither the
``delta-spark`` package nor any delta/iceberg runtime jar, and is
offline, so ``sources/snapshots.py`` is the in-repo table format and
``snapshot_merge`` is the one MERGE. This module keeps the plain
directory sinks and ``compact_parquet``, the small-file maintenance of a
bare parquet location.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    compression: str = "snappy",
) -> None:
    """Columnar sink. ``partition_by`` lays out hive-style directories so
    downstream reads get partition pruning (e.g. mart partitioned by the
    drill-down key — the reference's ``country`` filter would then touch one
    directory instead of the whole mart)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
) -> None:
    """S3 parity sink — headered CSV folder-per-table, reference semantics."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def compact_parquet(df_path: str, spark, target_partitions: int | None = None) -> int:
    """Small-file compaction (the maintenance job every streaming or
    incremental sink eventually needs — thousands of tiny files destroy scan
    performance via per-file open cost and starved row-group sizes).
    Rewrites the location to ``target_partitions`` files (default: sized
    by data volume at ~96 MB per file) through a same-filesystem staging
    directory, then swaps via the Hadoop FS API — so s3a:///hdfs://
    locations compact exactly like local ones. Returns the new file
    count. With Delta/Iceberg this is OPTIMIZE / rewrite_data_files."""
    import math

    df = spark.read.parquet(df_path)
    if target_partitions is None:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(df_path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        size_bytes = fs.getContentSummary(hpath).getLength()
        target_partitions = max(1, math.ceil(size_bytes / (96 * 1024 * 1024)))
    staging = _staging_sibling(df_path)
    pcols = _hive_partition_cols(spark, df_path)
    writer = df.repartition(
        target_partitions, *pcols
    ) if pcols else df.repartition(target_partitions)
    # a partitioned location stays partitioned: a flat rewrite beside
    # later partitioned writes would mix layouts and break reads
    w = writer.write.mode("overwrite")
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(staging)
    _fs_swap_into(spark, staging, df_path)
    return target_partitions


def _hive_partition_cols(spark, path: str) -> list[str]:
    """Partition columns of a hive-layout location, in nesting order
    (['day_no'] for .../day_no=3/part-*.parquet), [] for a flat layout.
    Detected from the directory names via the Hadoop FS API so remote
    stores answer identically. Rewriting a partitioned location MUST
    preserve this layout: a flat rewrite next to later dynamic-partition
    writes yields a mixed-layout directory Spark refuses to read."""
    jvm = spark._jvm
    cols: list[str] = []
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    while True:
        if not fs.exists(hpath):
            return cols
        sub = None
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if st.isDirectory() and "=" in name and not name.startswith("_"):
                sub = st.getPath()
                cols.append(name.split("=", 1)[0])
                break
        if sub is None:
            return cols
        hpath = sub


def _fs_path_exists(spark, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API, so s3a:// /
    hdfs:// / file:// paths all answer correctly — ``os.path.exists`` is
    silently False for every non-local URI, which would make an
    incremental store start from scratch on every run on object storage."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _staging_sibling(path: str) -> str:
    """A staging location NEXT TO the destination (same filesystem):
    a /tmp staging dir would make the final rename a cross-filesystem
    copy — impossible via FileSystem.rename for s3a://dst, and a full
    data copy even locally."""
    import uuid

    return path.rstrip("/") + f"__staging_{uuid.uuid4().hex[:12]}"


def _fs_swap_into(spark, staging: str, path: str) -> None:
    """Replace ``path`` with ``staging`` through the Hadoop FileSystem
    API (delete + rename) so file:// , hdfs:// and s3a:// all work —
    shutil handles only local paths, which would strand an object-store
    compaction after its staging write. Not atomic on object stores (rename
    there is copy+delete); Delta/Iceberg commit protocols are the real
    answer when the jars are available."""
    jvm = spark._jvm
    dst = jvm.org.apache.hadoop.fs.Path(path)
    src = jvm.org.apache.hadoop.fs.Path(staging)
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise OSError(f"rename {staging} -> {path} failed on {fs.getUri()}")


def save_as_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: rows are hash-partitioned into
    ``num_buckets`` files per partition by ``bucket_cols`` at WRITE time.
    Two tables bucketed identically join with ZERO exchange — the shuffle
    is paid once at load, then every join/aggregation on the bucket key is
    co-located. This is the 100 TB answer to repeated fact-fact joins
    (e.g. lineitem ⋈ orders every night): see tests/test_bucketing.py for
    the no-Exchange plan proof."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_parquet_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout (the OPTIMIZE ZORDER / Iceberg
    sort-order analog for a single sort dimension set): rows are
    range-partitioned across files on ``cluster_cols`` and sorted within
    each file, so every file — and every row group inside it — covers a
    NARROW, pairwise-disjoint slice of the cluster key's domain. Point
    and range predicates on those columns then skip almost everything:
    parquet row-group min/max pruning inside the scan, and whole-file
    skipping when the location is committed as a snapshot table with
    ``stats_cols=cluster_cols`` (snapshots.py::snapshot_scan). An
    unclustered write scatters every key range across every file and
    makes both prunings worthless — at 100 TB clustering the mart on its
    hottest filter column is the difference between reading gigabytes
    and reading everything. Disjointness is asserted by
    tests/test_clustered_write.py from the footers.

    ``num_files`` defaults to the session's shuffle partitions; an
    EXPLICIT count is used because a bare repartitionByRange is
    AQE-coalescable into few fat files, widening per-file ranges."""
    spark = df.sparkSession
    n = num_files or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value(col_a, col_b, bits: int = 16):
    """Morton/Z-order interleaving of two NON-NEGATIVE int columns'
    low ``bits`` bits (JVM-side bit expressions — no UDF): sorting by the
    result clusters rows so that ranges of EITHER column map to bounded
    Z-ranges, giving min/max skipping on both dimensions from one sort
    order. NULLs and negatives sort first (mapped to -1). 16 bits per
    dimension is plenty for layout purposes — values beyond 2^16 keep
    their relative order within truncation buckets."""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a16 = F.when(a.isNull() | (a < 0), F.lit(None)).otherwise(
        a.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    )
    b16 = F.when(b.isNull() | (b < 0), F.lit(None)).otherwise(
        b.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    )
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a16, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(b16, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return F.coalesce(z, F.lit(-1))


def write_parquet_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Two-dimensional clustered layout (the OPTIMIZE ZORDER analog):
    range-partition and sort by the Morton interleaving of two columns,
    so per-file and per-row-group min/max ranges are tight on BOTH
    columns at once — a single-column sort gives perfect skipping on one
    dimension and none on the other. Commit the location as a snapshot
    table with ``stats_cols=[col_a, col_b]`` and ``snapshot_scan`` can
    whole-file-skip on either predicate."""
    spark = df.sparkSession
    n = num_files or int(spark.conf.get("spark.sql.shuffle.partitions"))
    z = zorder_value(col_a, col_b).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
