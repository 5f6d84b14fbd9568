"""Structured Streaming over the ``events`` table (SURVEY §2.9: the
reference is batch-plus-cron; its capability — "fresh results every
morning" — maps to availableNow-triggered streams, and the fixture events
table exercises the full event-time toolkit: watermarks, tumbling/sliding/
session windows, stateful dedup).

Design: every streaming aggregation here has *identical semantics to a
batch query* (queries_events.py), so the DuckDB oracle verifies streaming
results too. Event time comes from the ns-long ``ts`` column converted via
``timestamp_micros`` — integer math, no timezone surface.

At scale: these jobs run unchanged against a Kafka/files source with a real
trigger; watermark + windowed state keeps memory bounded per key-window,
and ``availableNow`` gives incremental backfill with exactly-once file
sinks (checkpointed).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from bookstore_aws_lakehouse_spark.catalog import _epoch_ns, _read_events


def _events_schema(ts_type) -> StructType:
    """Explicit source schema (streams never infer). ``ts``'s type depends
    on the fixture's parquet precision — TIMESTAMP(NANOS) files are read
    as epoch-ns long, ``timestamp[us]`` files as a timestamp type — so
    the caller passes the type a batch read of the same file reports (see
    ``read_events_stream``)."""
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


_STREAM_DIRS: dict[str, str] = {}


def _events_stream_dir(sf_dir: str) -> str:
    """File streams list a *directory*; the fixture is a single parquet
    file. Stage a per-sf temp dir containing a symlink to it (created
    once per process)."""
    if sf_dir not in _STREAM_DIRS:
        d = tempfile.mkdtemp(prefix="blhs_events_stream_")
        import os

        # a relative sf_dir stored verbatim would resolve against the
        # TEMP dir and dangle — the stream would list zero files
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"),
            f"{d}/events.parquet",
        )
        _STREAM_DIRS[sf_dir] = d
    return _STREAM_DIRS[sf_dir]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with an explicit schema
    (streams never infer). Normalizes to the batch contract — ``ts`` as
    epoch-ns bigint plus ``event_time`` (timestamp from exact integer
    microseconds) for watermarks/windows — whatever precision the file
    stores, with the conversion ``catalog.load_events`` uses. Sets no
    session conf."""
    # the stream schema's ts type is what a batch read of the file reports
    # (ns file → bigint; µs file → timestamp[_ntz])
    ts_type = _read_events(spark, f"{sf_dir}/events.parquet").schema["ts"].dataType
    stream = (
        spark.readStream.schema(_events_schema(ts_type))
        .format("parquet")
        .load(_events_stream_dir(sf_dir))
    )
    return stream.withColumn("ts", _epoch_ns(ts_type)).withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )


def tumbling_agg(
    stream: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window count/sum. State per (window, key) is
    dropped once the watermark passes the window end."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def sliding_agg(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping panes."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window, slide), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def session_window_agg(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows: per-user sessions close after ``gap`` of silence —
    the streaming twin of the batch lag+cumsum sessionization
    (queries_events.py::q_events_sessionize)."""
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.expr("ts div 1000")).alias("session_start_us"),
            F.max(F.expr("ts div 1000")).alias("session_end_us"),
        )
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup bounded by the watermark: duplicates arriving within
    the watermark horizon are dropped; state expires after it."""
    return stream.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(keys)


def run_available_now(sdf: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Execute a streaming DataFrame to a memory sink with the availableNow
    trigger (process everything, then stop) — the scheduled-batch analog of
    the reference's nightly cron (`README.md:47` in the reference)."""
    import shutil

    ckpt = tempfile.mkdtemp(prefix=f"blhs_ckpt_{name}_")
    query = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        query.awaitTermination()
    finally:
        # the availableNow run is complete and the sink is in-memory: the
        # checkpoint has no further reader — removing it keeps repeated
        # driver/bench invocations from accumulating /tmp directories
        shutil.rmtree(ckpt, ignore_errors=True)


# ---- custom stateful operator (applyInPandasWithState) -------------------

USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value_cents", LongType()),
        StructField("max_value", DoubleType()),
    ]
)

_USER_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("cents", LongType()),
        StructField("mx", DoubleType()),
    ]
)


def stateful_user_stats(stream: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (count, exact total in integer cents, max value).

    This is the escape hatch for aggregation logic Spark's built-ins can't
    express (here kept deliberately verifiable: the final state equals a
    batch groupBy, which the DuckDB oracle checks). State is one small
    tuple per user — bounded memory; totals accumulate in integer cents so
    the result is exact regardless of batch boundaries.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, batches, state: GroupState):
        n, cents, mx = state.get if state.exists else (0, 0, None)
        for pdf in batches:
            n += len(pdf)
            # NULL values are skipped like SQL's sum()/max() (count(*)
            # still counts the row) — astype(int64) on a NaN would
            # otherwise crash the worker, and max() would poison mx NaN
            vals = pdf["value"].dropna()
            # round() before int: values are 2-dp floats; truncation would
            # lose a cent on values like 9.64 -> 963.9999
            cents += int(pd.Series(vals * 100).round().astype("int64").sum())
            if len(vals):
                batch_max = float(vals.max())
                mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, cents, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value_cents": [cents],
                "max_value": [mx],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_STATS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def snapshot_sink_batch(
    table: str,
    maintenance_every: int | None = None,
    target_file_bytes: int = 128 << 20,
    bloom_col: str | None = None,
):
    """foreachBatch body for the snapshot sink, factored out so the
    maintenance policy is testable batch-by-batch (exactly how Spark
    drives it): MERGE the micro-batch, file-pruned on ``day_no``, then —
    when ``maintenance_every`` is set and the version count crosses a
    multiple of it — run the table's upkeep inline:
    ``snapshot_optimize`` bin-packs the accumulated per-batch small files
    (clustered on ``day_no`` so file stats stay prunable) and
    ``checkpoint_history`` rolls the per-version summaries up so history
    listing stays O(recent) instead of O(micro-batches). Both are
    versioned commits themselves, so a maintenance crash mid-way leaves
    a consistent table and the next cycle retries. Keying maintenance on
    the version COUNT (not the batch counter) makes it restart-safe: a
    replayed batch that commits nothing triggers nothing.

    With ``bloom_col`` the maintenance cycle also rebuilds the
    bloom-filter file index for that column AFTER compaction — OPTIMIZE
    rewrites files (dropping their bloom entries, by design), so
    re-indexing inside the same cycle keeps point lookups on the sink
    table file-skipping continuously instead of degrading to
    conservative full reads between manual index runs."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        checkpoint_history,
        list_versions,
        snapshot_bloom_index,
        snapshot_merge,
        snapshot_optimize,
    )

    def merge_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # no empty commits: keep the version history meaningful
        snapshot_merge(
            batch_df, table, key_cols=["window_start_ns"], partition_col="day_no"
        )
        if maintenance_every:
            spark = batch_df.sparkSession
            if len(list_versions(spark, table)) % maintenance_every == 0:
                snapshot_optimize(
                    spark, table, target_file_bytes, cluster_col="day_no"
                )
                if bloom_col is not None:
                    snapshot_bloom_index(spark, table, bloom_col)
                checkpoint_history(spark, table)

    return merge_batch


def continuous_aggregate_snapshot(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    watermark: str = "30 minutes",
    checkpoint: str | None = None,
    maintenance_every: int | None = None,
    target_file_bytes: int = 128 << 20,
    bloom_col: str | None = None,
) -> None:
    """Incrementally-maintained rollup (continuous aggregate) with a
    SNAPSHOT-TABLE sink (sources/snapshots.py): the hourly tumbling
    aggregation (window start as epoch-ns, ``day_no`` derived for file
    pruning) streamed through an update-mode ``foreachBatch``; each
    micro-batch MERGEs into the manifest-versioned table, file-pruned on
    ``day_no``, so a table holding years of history pays per-batch cost
    proportional to the batch, (a) dashboard readers keep a consistent
    version while batches commit, and (b) every batch leaves a
    time-travelable commit (one version per micro-batch, vacuumable).
    This is the foreachBatch→MERGE INTO pattern Delta documents, running
    on the in-repo manifest format — the lakehouse upgrade of the
    reference's nightly recompute-everything cron. With
    ``maintenance_every`` the sink also self-maintains: every N-th
    version it bin-packs its accumulated small files and checkpoints the
    history log (see ``snapshot_sink_batch``); ``bloom_col`` forwards to
    the maintenance cycle's bloom re-index so point lookups stay
    file-skipping. A caller ``checkpoint`` persists for recovery; a
    default one is removed after the run (same leak rule as
    run_available_now)."""
    import shutil

    ns_per_day = 86_400_000_000_000
    stream = read_events_stream(spark, sf_dir)
    agged = tumbling_agg(stream, window="1 hour", watermark=watermark).select(
        (F.unix_micros(F.col("window.start")) * 1000).alias("window_start_ns"),
        "n_events",
        "total_value",
    ).withColumn("day_no", F.expr(f"window_start_ns div {ns_per_day}"))
    own = checkpoint is None
    ckpt = checkpoint or tempfile.mkdtemp(prefix="blhs_ckpt_caggsnap_")
    try:
        query = (
            agged.writeStream.outputMode("update")
            .foreachBatch(
                snapshot_sink_batch(
                    table, maintenance_every, target_file_bytes, bloom_col
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        query.awaitTermination()
    finally:
        if own:
            shutil.rmtree(ckpt, ignore_errors=True)


def stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    left_type: str = "signup",
    right_type: str = "purchase",
    within: str = "48 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each right-side event joins left-side
    events of the same user that happened in the preceding ``within``
    interval. Both sides carry watermarks and the join has a time-range
    constraint — the two conditions Spark needs to bound join state
    (left rows older than watermark+interval are evicted)."""
    left = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("left_id"),
            F.col("event_time").alias("left_time"),
        )
        .withWatermark("left_time", watermark)
    )
    right = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("right_id"),
            F.col("event_time").alias("right_time"),
        )
        .withWatermark("right_time", watermark)
    )
    return left.join(
        right,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("right_time") > F.col("left_time"))
        & (F.col("right_time") <= F.col("left_time") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select("user_id", "left_id", "right_id")
