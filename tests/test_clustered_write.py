"""write_parquet_clustered: range-partitioned + sorted layout must yield
pairwise-disjoint per-file key ranges (the property all min/max data
skipping relies on), verified from parquet footers."""

from __future__ import annotations

import pathlib

import pyarrow.parquet as pq

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.sources.writers import write_parquet_clustered


def _file_ranges(path: str, column: str) -> list[tuple]:
    out = []
    for f in sorted(pathlib.Path(path).glob("*.parquet")):
        meta = pq.ParquetFile(f).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        lo = hi = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx[column]).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out.append((lo, hi))
    return out


def test_clustered_files_have_disjoint_ranges(spark, sf_smoke, tmp_path):
    li = load_table(spark, sf_smoke, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    p = str(tmp_path / "clustered")
    write_parquet_clustered(li, p, ["l_partkey"], num_files=8)
    ranges = sorted(_file_ranges(p, "l_partkey"))
    assert len(ranges) > 1
    for (la, ha), (lb, _hb) in zip(ranges, ranges[1:]):
        # range partition boundaries may share the boundary value itself;
        # anything more overlapped defeats skipping
        assert ha <= lb, f"overlapping file ranges ({la},{ha}) vs ({lb},..)"
    # values survive the clustered rewrite bit-exactly
    back = spark.read.parquet(p)
    assert back.count() == li.count()
    a = li.groupBy().sum("l_quantity").collect()[0][0]
    b = back.groupBy().sum("l_quantity").collect()[0][0]
    assert a == b


def test_unclustered_baseline_overlaps(spark, sf_smoke, tmp_path):
    """Sanity: the same data written WITHOUT clustering produces
    overlapping per-file ranges — the contrast that makes the disjointness
    assertion above meaningful rather than vacuous."""
    li = load_table(spark, sf_smoke, "lineitem").select("l_partkey", "l_quantity")
    p = str(tmp_path / "scattered")
    li.repartition(8).write.parquet(p)
    ranges = sorted(_file_ranges(p, "l_partkey"))
    if len(ranges) <= 1:  # degenerate tiny fixture: nothing to contrast
        return
    overlaps = sum(
        1 for (la, ha), (lb, _hb) in zip(ranges, ranges[1:]) if ha > lb
    )
    assert overlaps > 0


def _spread(ranges: list[tuple]) -> float:
    """Mean per-file range width — smaller = tighter clustering."""
    return sum(hi - lo for lo, hi in ranges) / len(ranges)


def test_zorder_tightens_both_dimensions(spark, tmp_path):
    """Z-ordering on (x, y) must bound per-file ranges on BOTH columns:
    vs a single-column sort, the second dimension's mean file-range width
    shrinks by a large factor (single-column sorted files span ~the full
    y domain)."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.sources.writers import (
        write_parquet_clustered,
        write_parquet_zordered,
    )

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        (F.floor(F.col("id") / 128) % 128).alias("y"),
        F.col("id").alias("payload"),
    )
    pz = str(tmp_path / "zordered")
    ps = str(tmp_path / "single")
    write_parquet_zordered(df, pz, "x", "y", num_files=16)
    write_parquet_clustered(df, ps, ["x"], num_files=16)

    zx, zy = _file_ranges(pz, "x"), _file_ranges(pz, "y")
    sy = _file_ranges(ps, "y")
    # single-column sort: x is tight but y spans ~everything per file
    assert _spread(sy) > 100
    # z-order: BOTH dimensions bounded — 16 contiguous Z-ranges over a
    # 128x128 grid give ~quadrant-sized regions; curve-boundary
    # misalignment can stretch a file to ~half a domain, never the whole
    # (the single-sort second dimension above spans ~all of it)
    assert _spread(zx) < 64 and _spread(zy) < 64, (
        f"z-order spreads x={_spread(zx):.1f} y={_spread(zy):.1f}"
    )
    assert _spread(zx) < _spread(sy) / 2 and _spread(zy) < _spread(sy) / 2
    # values survive: same row count, same checksum
    a = spark.read.parquet(pz).groupBy().sum("payload").collect()[0][0]
    b = df.groupBy().sum("payload").collect()[0][0]
    assert a == b


def test_zorder_value_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.sources.writers import zorder_value

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (None, 2), (-1, 2)],
        "a int, b int",
    )
    got = [r.z for r in df.select(zorder_value("a", "b").alias("z")).collect()]
    # interleave(a,b): bit i of a -> bit 2i, bit i of b -> bit 2i+1
    def ref(a, b):
        if a is None or b is None or a < 0 or b < 0:
            return -1
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    want = [ref(0, 0), ref(1, 0), ref(0, 1), ref(1, 1), ref(3, 5), -1, -1]
    assert got == want


def test_upsert_and_compact_preserve_hive_layout(spark, tmp_path):
    """A hive-partitioned mart must SURVIVE compaction with its layout
    intact — a flat rewrite beside later partitioned writes mixes
    layouts and breaks reads."""
    import os

    from bookstore_aws_lakehouse_spark.sources.writers import (
        compact_parquet,
        write_parquet,
    )

    path = str(tmp_path / "mart")
    df = spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(30)], "k int, day int, v double"
    )
    write_parquet(df, path, partition_by=["day"])

    def layout():
        return sorted(
            d for d in os.listdir(path) if d.startswith("day=")
        ), any(f.endswith(".parquet") for f in os.listdir(path))

    compact_parquet(path, spark, target_partitions=1)
    dirs, root_files = layout()
    assert dirs == ["day=0", "day=1", "day=2"] and not root_files
    # a later partitioned append still composes on top
    write_parquet(
        spark.createDataFrame([(100, 2, -1.0)], "k int, day int, v double"),
        path,
        mode="append",
        partition_by=["day"],
    )
    got = spark.read.parquet(path)
    assert got.count() == 31
    assert got.filter("k = 1").head().v == 1.0
    assert got.filter("k = 100").head().day == 2


def test_events_stream_symlink_is_absolute(spark, tmp_path):
    import os

    from bookstore_aws_lakehouse_spark.streaming import jobs

    d = tmp_path / "sf"
    d.mkdir()
    spark.range(1).selectExpr("id as ts").write.parquet(str(d / "events.parquet"))
    rel = os.path.relpath(str(d))
    stream_dir = jobs._events_stream_dir(rel)
    target = os.readlink(os.path.join(stream_dir, "events.parquet"))
    assert os.path.isabs(target), target
