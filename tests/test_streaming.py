"""Streaming-specific behaviors not covered by the oracle parity suite."""

from __future__ import annotations

from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.streaming.jobs import (
    read_events_stream,
    run_available_now,
    sliding_agg,
)


def test_stream_is_streaming(spark, sf_smoke):
    stream = read_events_stream(spark, sf_smoke)
    assert stream.isStreaming
    assert "event_time" in stream.columns


def test_sliding_windows_overlap(spark, sf_smoke):
    stream = read_events_stream(spark, sf_smoke)
    agged = sliding_agg(stream, window="1 hour", slide="30 minutes")
    run_available_now(agged, "t_sliding", output_mode="complete")
    out = spark.table("t_sliding")
    # every event lands in exactly window/slide = 2 panes
    total_events = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert out.agg(F.sum("n_events")).collect()[0][0] == 2 * total_events


def test_continuous_aggregate_snapshot_commits_and_vacuums(spark, sf_smoke, tmp_path):
    """Streaming → snapshot-table sink: every micro-batch lands as a
    'merge' commit; vacuum bounds history without changing the answer."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        history,
        list_versions,
        snapshot_read,
        vacuum,
    )
    from bookstore_aws_lakehouse_spark.streaming.jobs import (
        continuous_aggregate_snapshot,
    )

    table = str(tmp_path / "rollup_snap")
    continuous_aggregate_snapshot(
        spark, sf_smoke, table, checkpoint=str(tmp_path / "ckpt")
    )
    versions = list_versions(spark, table)
    assert versions, "at least one micro-batch commit"
    ops = {r.operation for r in history(spark, table).collect()}
    assert ops == {"merge"}
    before = {
        r.window_start_ns: r.n_events for r in snapshot_read(spark, table).collect()
    }
    vacuum(spark, table, keep_last=1)
    after = {
        r.window_start_ns: r.n_events for r in snapshot_read(spark, table).collect()
    }
    assert before == after


def test_continuous_aggregate_snapshot_restart_is_idempotent(spark, sf_smoke, tmp_path):
    """Restarting the availableNow job against the SAME checkpoint with no
    new input must add no commits — foreachBatch replay safety: the
    checkpoint's batch ledger, not the sink, decides what runs."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import list_versions
    from bookstore_aws_lakehouse_spark.streaming.jobs import (
        continuous_aggregate_snapshot,
    )

    table = str(tmp_path / "rollup_snap")
    ckpt = str(tmp_path / "ckpt")
    continuous_aggregate_snapshot(spark, sf_smoke, table, checkpoint=ckpt)
    v1 = list_versions(spark, table)
    continuous_aggregate_snapshot(spark, sf_smoke, table, checkpoint=ckpt)
    v2 = list_versions(spark, table)
    assert v1 == v2, "restart with no new data must commit nothing"


def test_snapshot_sink_maintenance_packs_and_checkpoints(spark, tmp_path):
    """The sink's maintenance policy, driven batch-by-batch exactly as
    foreachBatch would: every 2nd version the accumulated small files
    are bin-packed (an 'optimize' commit, clustered on day_no so stats
    stay prunable) and the history log is checkpointed. Values must be
    unaffected and empty batches must commit nothing."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_history_checkpoint,
        history,
        snapshot_read,
    )
    from bookstore_aws_lakehouse_spark.streaming.jobs import snapshot_sink_batch

    table = str(tmp_path / "sink_snap")
    sink = snapshot_sink_batch(table, maintenance_every=2)

    def batch(rows):
        return spark.createDataFrame(
            rows, "window_start_ns long, n_events long, total_value double, day_no long"
        )

    ns_day = 86_400_000_000_000
    for i in range(4):  # one batch per DAY: merges prune, files accumulate
        sink(batch([(i * ns_day, i + 1, float(i), i)]), i)
    sink(batch([]), 99)  # empty batch: no commit, no maintenance

    ops = [r.operation for r in history(spark, table).sort("version").collect()]
    assert ops.count("optimize") >= 1, f"maintenance never ran: {ops}"
    assert ops.count("merge") == 4
    ckpt = _read_history_checkpoint(spark, table)
    assert ckpt is not None and ckpt["upto"] >= 2
    got = {r.window_start_ns: r.n_events for r in snapshot_read(spark, table).collect()}
    assert got == {i * ns_day: i + 1 for i in range(4)}


def test_snapshot_sink_maintenance_rebuilds_bloom_index(spark, tmp_path):
    """With bloom_col set, each maintenance cycle re-indexes AFTER
    compaction (OPTIMIZE drops rewritten files' bloom entries by
    design), so point lookups on the sink table keep file-skipping: the
    post-maintenance tip must carry blooms for every file, and a lookup
    of one window key must not open every file."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _point_lookup_files,
        _read_manifest,
        history,
        list_versions,
        snapshot_point_lookup,
    )
    from bookstore_aws_lakehouse_spark.streaming.jobs import snapshot_sink_batch

    table = str(tmp_path / "sink_snap_bloom")
    sink = snapshot_sink_batch(
        table, maintenance_every=5, bloom_col="window_start_ns"
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "window_start_ns long, n_events long, total_value double, day_no long"
        )

    ns_day = 86_400_000_000_000
    # 5 merges -> version count hits 5 -> optimize (v6) + index (v7);
    # the two later merges land at v8/v9, BELOW the next multiple of 5,
    # so the tip keeps their unindexed files alongside the packed one
    for i in range(5):
        sink(batch([(i * ns_day + h * 3_600_000_000_000, 1, 0.5, i)
                    for h in range(3)]), i)

    ops = [r.operation for r in history(spark, table).sort("version").collect()]
    assert "index" in ops and "optimize" in ops
    # the index commit follows its optimize within the same cycle
    assert ops.index("index") > ops.index("optimize")
    # the indexed version covered every file it referenced
    versions = list_versions(spark, table)
    v_index = versions[
        max(i for i, op in enumerate(ops) if op == "index")
    ]
    m = _read_manifest(spark, table, v_index)
    assert set(m["file_blooms"]) == set(m["files"])
    # two more merges AFTER the last maintenance cycle: their files are
    # unindexed (conservatively read), but a probe for one of THEIR keys
    # must bloom-prune the packed indexed file — the sink keeps skipping
    # between maintenance cycles
    for i in (6, 7):
        sink(batch([(i * ns_day, 1, 0.5, i)]), i)
    key = 6 * ns_day
    kept, all_files, _, _m = _point_lookup_files(
        spark, table, "window_start_ns", key, None
    )
    assert len(kept) < len(all_files), (len(kept), len(all_files))
    assert snapshot_point_lookup(spark, table, "window_start_ns", key).count() == 1


def test_stateful_user_stats_skips_null_values(spark, tmp_path):
    """NULL `value` rows must be SKIPPED like SQL's sum()/max() (count(*)
    still counts the row): before the fix, astype(int64) on the NaN
    crashed the Python worker, and an all-NULL user would have poisoned
    max_value with NaN instead of NULL."""
    from pyspark.sql import Window

    from bookstore_aws_lakehouse_spark.streaming.jobs import (
        run_available_now,
        read_events_stream,
        stateful_user_stats,
    )

    ns = 1_600_000_000_000_000_000
    rows = [
        (1, ns, 1, "view", 1.25, "{}"),
        (2, ns + 10**9, 1, "view", None, "{}"),
        (3, ns + 2 * 10**9, 1, "view", 3.10, "{}"),
        # user 2: ALL values NULL -> cents 0, max_value NULL, n_events 2
        (4, ns + 3 * 10**9, 2, "view", None, "{}"),
        (5, ns + 4 * 10**9, 2, "view", None, "{}"),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a single FILE like the fixture (the file stream source does not
    # descend into a directory-shaped events.parquet)
    sf_dir = tmp_path / "sf_nulls"
    sf_dir.mkdir()
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                "ts": pa.array(cols[1], pa.int64()),
                "user_id": pa.array(cols[2], pa.int64()),
                "event_type": pa.array(cols[3], pa.string()),
                "value": pa.array(cols[4], pa.float64()),
                "props": pa.array(cols[5], pa.string()),
            }
        ),
        str(sf_dir / "events.parquet"),
    )
    sf_dir = str(sf_dir)

    stream = read_events_stream(spark, sf_dir)
    stats = stateful_user_stats(stream)
    run_available_now(stats, "t_userstats_nulls", output_mode="update")
    out = spark.table("t_userstats_nulls")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = {
        r["user_id"]: (r["n_events"], r["total_value_cents"], r["max_value"])
        for r in out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    }
    assert final == {1: (3, 435, 3.10), 2: (2, 0, None)}
