"""Parquet sink maintenance (compaction swap), partitioned upsert into a snapshot table, and approximate-aggregate accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_upsert_and_compact_swap_via_hadoop_fs(spark, tmp_path):
    """Compaction stages NEXT TO the destination and swaps via the
    Hadoop FileSystem API (delete+rename) — no /tmp staging, no shutil:
    the same code path a remote (s3a/hdfs) mart would take. Verifies no
    staging directory is left behind and the data survives the swap."""
    import os

    from bookstore_aws_lakehouse_spark.sources.writers import (
        compact_parquet,
        write_parquet,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(101)], ["k", "v"])
    write_parquet(base.repartition(4), path)
    n = compact_parquet(path, spark, target_partitions=1)
    assert n == 1
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {i: f"v{i}" for i in range(101)}
    # no stranded staging siblings
    siblings = [d for d in os.listdir(tmp_path) if "__staging_" in d]
    assert siblings == [], siblings


def test_upsert_partitioned_null_partition_preserves_unrelated_keys(spark, tmp_path):
    """A partitioned upsert touching the NULL partition must not delete the
    other keys living there: isin() is null-unsafe, so the pruning
    predicate needs an explicit isNull branch."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge,
        snapshot_read,
    )

    path = str(tmp_path / "mart")
    base = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b"), (3, "p1", "c")],
        "k long, part string, v string",
    )
    snapshot_merge(base, path, key_cols=["k"], partition_col="part")
    delta = spark.createDataFrame([(1, None, "A2")], "k long, part string, v string")
    snapshot_merge(delta, path, key_cols=["k"], partition_col="part")
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got == {1: "A2", 2: "b", 3: "c"}


def test_approx_count_distinct_accuracy(spark, sf_oracle):
    """HLL++ sketch (the 100 TB answer to count(DISTINCT) when exactness
    isn't required — no Expand, mergeable partial sketches) stays within
    its documented error bound on real fixture data."""
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Lakehouse schema evolution: later files add a column; readers with
    mergeSchema see the union schema, old rows NULL-filled."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v1"]).write.parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v1", "v2"]).write.mode(
        "append"
    ).parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v1", "v2"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["v2"] is None and rows[2]["v2"] == 9.5


def test_save_as_table_and_read_json(spark, tmp_path):
    from bookstore_aws_lakehouse_spark.sources.readers import read_json

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    jpath = str(tmp_path / "j")
    df.write.json(jpath)
    back = read_json(spark, jpath, schema="id long, v string")
    assert {r["id"] for r in back.collect()} == {1, 2}
