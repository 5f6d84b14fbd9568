"""Spark 4 Python DataSource integration for the snapshot format
(sources/pyds.py): registration, correctness vs snapshot_read, planner
pruning via pushed filters, schema evolution, time travel."""

from __future__ import annotations

from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.sources.pyds import (
    SnapshotReader,
    _bounds_for,
    register_snapshot_datasource,
)
from bookstore_aws_lakehouse_spark.sources.snapshots import (
    snapshot_append,
    snapshot_overwrite,
    snapshot_read,
)


def _mk(spark, table):
    df = (
        spark.range(0, 400)
        .select(F.col("id").cast("int").alias("k"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    snapshot_overwrite(df, table, stats_cols=["k"])


def test_format_read_matches_snapshot_read(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    register_snapshot_datasource(spark)
    via_fmt = spark.read.format("lakesnap").option("path", table).load()
    want = {(r.k, r.v) for r in snapshot_read(spark, table).collect()}
    assert {(r.k, r.v) for r in via_fmt.collect()} == want
    # filters still evaluate row-level after pruning
    assert via_fmt.filter("k = 123").collect() == [
        r for r in snapshot_read(spark, table).filter("k = 123").collect()
    ]


def test_registration_leaves_session_conf_alone(spark, tmp_path):
    """Registering the format changes no session conf (a conf change would
    also change the conf hash Engine.sql's result cache keys on), and a
    filtered read still plans with pushed filters: get_spark's defaults
    already enable Python-source filter pushdown."""
    session = spark.newSession()
    table = str(tmp_path / "t")
    _mk(session, table)
    # Spark checks a Python source's name against the JVM-active session,
    # which already holds lakesnap once an earlier test registered it there
    jvm_sessions = spark._jvm.org.apache.spark.sql.SparkSession
    jvm_sessions.setActiveSession(session._jsparkSession)
    try:
        before = session.conf.getAll
        register_snapshot_datasource(session)
        assert session.conf.getAll == before
        got = (
            session.read.format("lakesnap").option("path", table).load()
            .filter("k IN (5, 399)")
            .collect()
        )
    finally:
        jvm_sessions.setActiveSession(spark._jsparkSession)
    assert sorted((r.k, r.v) for r in got) == [(5, 5), (399, 0)]


def test_reader_prunes_files_from_pushed_filters(spark, tmp_path):
    """Planner-level proof, no Spark needed: the reader keeps only files
    whose stats may match the pushed predicate, returns every filter as
    unconsumed, and without filters keeps everything."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    table = str(tmp_path / "t")
    _mk(spark, table)
    schema = snapshot_read(spark, table).schema

    r = SnapshotReader({"path": table}, schema)
    assert len(r.partitions()) == 4  # no filters: all files

    r = SnapshotReader({"path": table}, schema)
    unconsumed = list(r.pushFilters([EqualTo(("k",), 5)]))
    assert len(unconsumed) == 1  # everything re-applied by Spark
    assert len(r.partitions()) == 1

    r = SnapshotReader({"path": table}, schema)
    r.pushFilters([In(("k",), (5, 399))])
    assert len(r.partitions()) == 2

    # bounds are merged inclusively (GT treated as GE — conservative:
    # the k>299 boundary file with hi=299 stays), so probe past it
    r = SnapshotReader({"path": table}, schema)
    r.pushFilters([GreaterThan(("k",), 300)])
    assert len(r.partitions()) == 1

    # un-stats'd column: no pruning, still correct
    r = SnapshotReader({"path": table}, schema)
    r.pushFilters([EqualTo(("v",), 3)])
    assert len(r.partitions()) == 4


def test_bounds_distillation_ignores_nested_paths(spark):
    from pyspark.sql.datasource import EqualTo

    b = _bounds_for([EqualTo(("a", "b"), 1), EqualTo(("k",), 2)])
    assert list(b) == ["k"]


def test_format_schema_evolution_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    _mk(spark, table)
    snapshot_append(
        spark.createDataFrame([(1000, 1, "x")], "k int, v bigint, extra string"),
        table,
        merge_schema=True,
    )
    register_snapshot_datasource(spark)
    tip = spark.read.format("lakesnap").option("path", table).load()
    assert tip.columns == ["k", "v", "extra"]
    assert tip.filter("k = 0").collect()[0].extra is None  # null-filled
    v1 = (
        spark.read.format("lakesnap")
        .option("path", table)
        .option("version", "1")
        .load()
    )
    assert v1.columns == ["k", "v"] and v1.count() == 400


def test_stream_source_tails_appends_exactly_once(spark, tmp_path):
    """The snapshot log as a streaming source: offsets are versions, each
    appended commit streams once, checkpoint resume emits only the new
    commits, and a non-append commit inside the window is refused."""
    import pytest as _pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_merge

    table = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    register_snapshot_datasource(spark)
    snapshot_overwrite(spark.createDataFrame([(1, "a")], "k int, v string"), table)
    snapshot_append(spark.createDataFrame([(2, "b")], "k int, v string"), table)

    def run():
        q = (
            spark.readStream.format("lakesnap")
            .option("path", table)
            .option("startingVersion", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return sorted((r.k, r.v) for r in spark.read.parquet(out).collect())

    assert run() == [(2, "b")]
    snapshot_append(spark.createDataFrame([(3, "c")], "k int, v string"), table)
    assert run() == [(2, "b"), (3, "c")]  # only the new commit re-emitted
    assert run() == [(2, "b"), (3, "c")]  # nothing new: no duplicates

    # a MERGE (rewrite) poisons the window: the stream refuses loudly
    snapshot_merge(
        spark.createDataFrame([(2, "B!")], "k int, v string"), table, ["k"]
    )
    snapshot_append(spark.createDataFrame([(9, "z")], "k int, v string"), table)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="append-only"):
        run()


def test_stream_reader_refuses_vacuumed_start_version(spark, tmp_path):
    """failOnDataLoss contract (planner-level, no streaming query): when
    the checkpointed start version's manifest has been vacuumed, the
    reader must RAISE — silently treating the window as from-empty would
    re-emit every previously streamed row."""
    import os

    import pytest

    from bookstore_aws_lakehouse_spark.sources.pyds import SnapshotStreamReader

    table = str(tmp_path / "t")
    for i in range(3):  # v1..v3 appends
        snapshot_append(
            spark.createDataFrame([(i, i)], "k int, v bigint"), table
        )
    rdr = SnapshotStreamReader({"path": table})
    # healthy incremental window works
    assert len(rdr.partitions({"version": 1}, {"version": 3})) == 2
    # a vacuumed version INSIDE an incremental (v0 > 0) window is
    # unverifiable — its op kind is gone
    os.remove(f"{table}/_manifests/v2.json")
    with pytest.raises(ValueError, match="vacuumed"):
        rdr.partitions({"version": 1}, {"version": 3})
    # a vacuumed START version can't be diffed against
    os.remove(f"{table}/_manifests/v1.json")
    with pytest.raises(ValueError, match="vacuumed"):
        rdr.partitions({"version": 1}, {"version": 3})
    # but streaming FROM SCRATCH (v0 == 0) over a vacuumed table is fine:
    # the first retained manifest is the initial snapshot, emitted
    # wholesale — vacuumed history below the floor is subsumed by it
    assert len(rdr.partitions({"version": 0}, {"version": 3})) == 3


def test_file_may_match_all_null_column_with_null_probe(spark):
    """An all-NULL column stats row is [None, None, True] — identical min
    to an empty file. A pushed null probe (EqualNullSafe(col, NULL) →
    None in values) matches exactly those files, so they must SURVIVE
    the reader's pruning (``snapshots._select_files``); an empty file
    ([None, None, False]) never matches anything."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import _select_files

    def may_match(stats_entry: dict, bounds: dict) -> bool:
        m = {"files": ["f"], "file_stats": {"f": stats_entry}}
        return _select_files(m, bounds)[0] == ["f"]

    all_null = {"k": [None, None, True]}
    empty = {"k": [None, None, False]}
    null_probe = {"k": {"values": [None], "lo": None, "hi": None}}
    value_probe = {"k": {"values": [5], "lo": None, "hi": None}}
    assert may_match(all_null, null_probe)  # must keep
    assert not may_match(all_null, value_probe)  # = 5 can't match NULLs
    assert not may_match(empty, null_probe)  # empty matches nothing
    assert not may_match(empty, value_probe)
    # a file holding NULLs meets the null probe whatever its range
    assert may_match({"k": [1, 9, True]}, null_probe)


def test_reader_and_engine_select_the_same_files(spark, tmp_path):
    """One range, three planners — the lakesnap reader's pushed
    ``>=``/``<=`` filters, ``snapshot_scan`` and the ranged
    ``snapshot_delete_dv`` — pick the same files, a strict non-empty
    subset of the table: the file-selection decision lives in one place.
    The range straddles two files' interiors, so every selected file
    holds a matching row and gains a deletion vector."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _norm_uri,
        _read_manifest,
        snapshot_delete_dv,
        snapshot_scan,
    )

    table = str(tmp_path / "t")
    _mk(spark, table)
    lo, hi = 150, 260
    r = SnapshotReader({"path": table}, snapshot_read(spark, table).schema)
    r.pushFilters([GreaterThanOrEqual(("k",), lo), LessThanOrEqual(("k",), hi)])
    via_reader = {p.path for p in r.partitions()}
    via_scan = {
        _norm_uri(f) for f in snapshot_scan(spark, table, "k", lo, hi).inputFiles()
    }
    v = snapshot_delete_dv(spark, table, column="k", lo=lo, hi=hi)
    m = _read_manifest(spark, table, v)
    via_dv = {_norm_uri(f) for f in m["dv"]["cardinality"]}
    assert via_reader == via_scan == via_dv
    assert 0 < len(via_dv) < len(m["files"])


def test_format_read_conforms_numeric_evolved_columns(spark, tmp_path):
    """Evolution null-fill is type-safe beyond strings: historic files
    missing bigint/double columns read back as typed NULLs (Arrow null
    arrays conformed by Spark's ingestion), and aggregates over the
    evolved columns see only the real values."""
    from pyspark.sql import functions as F

    table = str(tmp_path / "t")
    snapshot_overwrite(spark.createDataFrame([(1,), (2,)], "k int"), table)
    snapshot_append(
        spark.createDataFrame([(3, 99, 1.5)], "k int, n bigint, x double"),
        table,
        merge_schema=True,
    )
    register_snapshot_datasource(spark)
    df = spark.read.format("lakesnap").option("path", table).load()
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "int",
        "bigint",
        "double",
    ]
    assert sorted(tuple(r) for r in df.collect()) == [
        (1, None, None),
        (2, None, None),
        (3, 99, 1.5),
    ]
    row = df.agg(F.sum("n").alias("sn"), F.avg("x").alias("ax")).collect()[0]
    assert (row.sn, row.ax) == (99, 1.5)


def test_pyds_reads_subtract_deletion_vectors(spark, tmp_path):
    """The lakesnap DataSource applies deletion vectors at the Arrow
    layer: batch read equals the engine's snapshot_read, per version."""
    from bookstore_aws_lakehouse_spark.sources.pyds import (
        register_snapshot_datasource,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete_dv,
        snapshot_overwrite,
        snapshot_read,
    )

    register_snapshot_datasource(spark)
    table = str(tmp_path / "t")
    snapshot_overwrite(
        spark.range(0, 300)
        .selectExpr("id as k", "cast(id as double) as v")
        .repartition(4),
        table,
    )
    snapshot_delete_dv(spark, table, "k % 3 = 1")
    ds = spark.read.format("lakesnap").option("path", table).load()
    assert ds.count() == 200
    assert {r.k for r in ds.filter("k < 10").collect()} == {0, 2, 3, 5, 6, 8, 9}
    # pinned old version through the DS still sees everything
    ds1 = (
        spark.read.format("lakesnap")
        .option("path", table)
        .option("version", "1")
        .load()
    )
    assert ds1.count() == 300
    # value-level parity with the engine read path
    eng = sorted((r.k, r.v) for r in snapshot_read(spark, table).collect())
    got = sorted((r.k, r.v) for r in ds.collect())
    assert got == eng


def test_stream_reader_refuses_dv_delete_history(spark, tmp_path):
    """delete_dv is a row-removing op: the append-only streaming contract
    must refuse a window containing one, exactly like CoW deletes."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources.pyds import SnapshotStreamReader
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete_dv,
    )

    table = str(tmp_path / "t")
    for i in range(2):
        snapshot_append(
            spark.createDataFrame([(i, i)], "k int, v bigint"), table
        )
    snapshot_delete_dv(spark, table, "k = 0")  # v3
    rdr = SnapshotStreamReader({"path": table})
    with pytest.raises(ValueError, match="append-only"):
        rdr.partitions({"version": 1}, {"version": 3})


def test_pyds_roundtrips_column_mapping_and_facts(spark, tmp_path):
    """Mapped tables through the DataSource: reads translate
    physical→logical at the Arrow layer and subtract the deletion
    vectors."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete_dv,
        snapshot_rename_column,
    )

    register_snapshot_datasource(spark)
    table = str(tmp_path / "t")
    snapshot_overwrite(
        spark.range(0, 100).selectExpr("id as k", "cast(id as double) as amount"),
        table,
        stats_cols=["k"],
    )
    snapshot_rename_column(spark, table, "amount", "price")
    snapshot_delete_dv(spark, table, "price < 10")
    ds = spark.read.format("lakesnap").option("path", table).load()
    assert ds.columns == ["k", "price"]
    assert ds.count() == 90 and ds.filter("price < 10").count() == 0


def test_stream_reader_max_versions_per_trigger(spark, tmp_path):
    """Back-pressure contract: the first trigger is uncapped (anchoring —
    the API exposes no committed start, so capping below it could
    regress offsets), then each trigger admits at most N new versions."""
    from bookstore_aws_lakehouse_spark.sources.pyds import SnapshotStreamReader

    table = str(tmp_path / "t")
    for i in range(6):  # v1..v6
        snapshot_append(
            spark.createDataFrame([(i, i)], "k int, v bigint"), table
        )
    rdr = SnapshotStreamReader(
        {"path": table, "maxversionspertrigger": "2"}
    )
    assert rdr.initialOffset() == {"version": 0}
    assert rdr.latestOffset() == {"version": 6}  # first: uncapped anchor
    for i in range(6, 9):  # v7..v9 arrive while the stream runs
        snapshot_append(
            spark.createDataFrame([(i, i)], "k int, v bigint"), table
        )
    assert rdr.latestOffset() == {"version": 8}  # 6 + 2
    assert rdr.latestOffset() == {"version": 9}  # clamped to the tip
    rdr.commit({"version": 9})
    assert rdr.latestOffset() == {"version": 9}  # idle: no phantom offsets
    # uncapped reader unaffected
    rdr2 = SnapshotStreamReader({"path": table})
    assert rdr2.latestOffset() == {"version": 9}


def test_snapshot_convert_in_place(spark, tmp_path):
    """CONVERT TO: a plain parquet directory becomes a snapshot table
    referencing its existing files in place — zero data copied; later
    commits coexist under the same root; refuses double conversion."""
    import pytest

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_convert,
        snapshot_delete_dv,
        snapshot_read,
    )

    plain = str(tmp_path / "plain")
    spark.range(0, 100).selectExpr("id as k", "cast(id as double) as v").coalesce(
        2
    ).write.parquet(plain)
    before = sorted(
        p for p in __import__("os").listdir(plain) if p.endswith(".parquet")
    )
    v = snapshot_convert(spark, plain, stats_cols=["k"])
    assert v == 1
    after = sorted(
        p for p in __import__("os").listdir(plain) if p.endswith(".parquet")
    )
    assert before == after  # nothing copied or moved
    assert snapshot_read(spark, plain).count() == 100
    assert _read_manifest(spark, plain, 1)["operation"] == "convert"
    assert all("k" in per for per in _read_manifest(spark, plain, 1)[
        "file_stats"
    ].values())
    with pytest.raises(ValueError, match="already"):
        snapshot_convert(spark, plain)
    # the converted table is a full citizen: MoR delete works on the
    # original in-place files
    snapshot_delete_dv(spark, plain, "k < 10")
    assert snapshot_read(spark, plain).count() == 90
    assert before == sorted(
        p for p in __import__("os").listdir(plain) if p.endswith(".parquet")
    )


def test_stream_initial_snapshot_subtracts_deletion_vectors(spark, tmp_path):
    """A stream's INITIAL snapshot may carry deletion vectors (a cloned
    floor, or vacuumed history whose surviving manifest recorded a DV) —
    emitted rows must subtract them exactly like every batch read."""
    import pyarrow as pa

    from bookstore_aws_lakehouse_spark.sources.pyds import SnapshotStreamReader
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        list_versions,
        snapshot_delete_dv,
        snapshot_overwrite,
        vacuum,
    )

    table = str(tmp_path / "t")
    snapshot_overwrite(
        spark.range(0, 50).selectExpr("id as k", "cast(id as double) as v"),
        table,
    )
    snapshot_delete_dv(spark, table, "k < 10")
    vacuum(spark, table, keep_last=1)  # the DV-carrying manifest IS the floor
    rdr = SnapshotStreamReader({"path": table})
    tip = list_versions(spark, table)[-1]
    parts = rdr.partitions({"version": 0}, {"version": tip})
    rows = []
    for p in parts:
        for batch in rdr.read(p):
            rows.extend(pa.Table.from_batches([batch]).column("k").to_pylist())
    assert sorted(rows) == list(range(10, 50))


def test_reader_prunes_files_on_timestamp_filters(spark, tmp_path):
    """Temporal pruning through the DataSource: timestamp file stats
    ride the manifest as canonical ISO strings (_stat_norm), and pushed
    datetime filters are normalized to the same form — a time-band
    filter must skip files, a boundary-equality probe (== one file's
    recorded min) must keep its file, and the format read must equal
    snapshot_read + filter."""
    import datetime as dt

    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_overwrite,
    )

    table = str(tmp_path / "tz")
    base = dt.datetime(2026, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), float(i)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k bigint, ts timestamp, v double")
    snapshot_overwrite(
        df.repartitionByRange(4, "ts").sortWithinPartitions("ts"),
        table,
        stats_cols=["ts"],
    )
    schema = snapshot_read(spark, table).schema

    r = SnapshotReader({"path": table}, schema)
    assert len(r.partitions()) == 4

    # band inside the first quarter: 3 of 4 files must be skipped
    r = SnapshotReader({"path": table}, schema)
    r.pushFilters(
        [
            GreaterThan(("ts",), base + dt.timedelta(hours=10)),
            LessThan(("ts",), base + dt.timedelta(hours=40)),
        ]
    )
    assert len(r.partitions()) == 1

    # boundary equality: probing a file's exact min must keep that file
    r = SnapshotReader({"path": table}, schema)
    r.pushFilters([EqualTo(("ts",), base + dt.timedelta(hours=100))])
    assert len(r.partitions()) == 1

    register_snapshot_datasource(spark)
    got = (
        spark.read.format("lakesnap")
        .option("path", table)
        .load()
        .filter(
            (F.col("ts") >= F.lit(base + dt.timedelta(hours=10)))
            & (F.col("ts") <= F.lit(base + dt.timedelta(hours=40)))
        )
        .collect()
    )
    want = (
        snapshot_read(spark, table)
        .filter(
            (F.col("ts") >= F.lit(base + dt.timedelta(hours=10)))
            & (F.col("ts") <= F.lit(base + dt.timedelta(hours=40)))
        )
        .collect()
    )
    assert sorted((r.k, r.ts) for r in got) == sorted((r.k, r.ts) for r in want)
    assert len(want) == 31
