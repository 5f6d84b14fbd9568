"""ensure_parallelism: the under-split-input guard must make the same
repartition decisions as before, from file metadata alone — no ``.rdd``
access anywhere in the probe (VERDICT r5 #2: ``df.rdd`` de-optimizes the
DataFrame through the legacy Python-RDD conversion)."""

from __future__ import annotations


def test_under_split_input_is_repartitioned(spark, tmp_path):
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = ensure_parallelism(df)
    # the single small file estimates to 1 split < half of defaultParallelism
    assert "Repartition" in out._jdf.queryExecution().logical().toString()


def test_well_split_input_untouched(spark, tmp_path):
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    target = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "many_files")
    spark.range(10_000).repartition(target * 2).write.parquet(p)
    df = spark.read.parquet(p)
    out = ensure_parallelism(df)
    assert out is df  # no-op, same object


def test_post_shuffle_plan_untouched(spark, sf_smoke):
    from bookstore_aws_lakehouse_spark.catalog import load_table
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    df = load_table(spark, sf_smoke, "lineitem").groupBy("l_partkey").count()
    assert ensure_parallelism(df) is df  # Exchange in plan → leave it


def test_split_estimate_counts_bytes_not_files(spark, tmp_path):
    """One big file must estimate to many splits — a file-count probe
    would wrongly flag it as under-split and pay a pointless shuffle.
    A file smaller than parallelism×maxPartitionBytes still fans out to
    ~one split per core (the real scheduler shrinks maxSplitBytes via
    bytesPerCore — the old ceil(size/maxPartitionBytes) underestimated
    exactly this case). The expected count is the one Spark's planner
    gives for the same scan: the JVM plan's partition count, with no
    Python-RDD conversion and no job."""
    from bookstore_aws_lakehouse_spark.operators.scale import _estimated_scan_splits

    p = str(tmp_path / "big_file")
    spark.range(2_000_000).selectExpr(
        "id", "repeat(uuid(), 4) AS pad"
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    est = _estimated_scan_splits(df)
    assert est == df._jdf.rdd().getNumPartitions()
    assert est > 1  # one big file must never look like one task


def test_split_estimate_packs_small_files(spark, tmp_path):
    """Many small files pack the way FilePartition bins them: chunks,
    largest first, each padded by openCostInBytes, into partitions of at
    most maxSplitBytes. Dividing the padded total by maxSplitBytes
    instead counts the last file's padding as data and overshoots."""
    from bookstore_aws_lakehouse_spark.operators.scale import _estimated_scan_splits

    p = str(tmp_path / "small_files")
    spark.range(10_000).repartition(8).write.parquet(p)
    df = spark.read.parquet(p)
    assert len(df.inputFiles()) == 8
    assert _estimated_scan_splits(df) == df._jdf.rdd().getNumPartitions()


def test_no_rdd_access_in_package():
    """The probe exists to avoid ``.rdd``; keep the whole package free of
    it so the de-optimization can't creep back in."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "bookstore_aws_lakehouse_spark"
    hits = [
        f"{py}:{i}"
        for py in pkg.rglob("*.py")
        for i, line in enumerate(py.read_text().splitlines(), 1)
        if ".rdd" in line
        and not line.lstrip().startswith("#")
        and "`" not in line  # prose mentions in docstrings
    ]
    assert hits == []
