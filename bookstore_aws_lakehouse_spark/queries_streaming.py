"""Oracle-checked Structured Streaming queries: each runs a real streaming
job (availableNow trigger → memory sink) whose final result equals a batch
SQL the DuckDB oracle can verify — streaming correctness is checked by
value, not just "it ran".

Complete output mode is used for the windowed aggregations so the final
table contains every window (watermarks still bound state during the run;
with availableNow + complete the end state equals the batch answer).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.registry import golden, scratch
from bookstore_aws_lakehouse_spark.streaming.jobs import (
    dedup_within_watermark,
    read_events_stream,
    run_available_now,
    session_window_agg,
    tumbling_agg,
)

_run_counter = itertools.count()


def _fresh(name: str) -> str:
    """Unique memory-sink name per invocation (repeat runs in one session)."""
    return f"{name}_{next(_run_counter)}"


NS_PER_HOUR = 3_600_000_000_000


@golden(
    "stream_hourly_tumbling",
    f"""
    SELECT CAST(floor(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) * {NS_PER_HOUR} AS window_start_ns,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start_ns
    """,
)
def q_stream_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming 1-hour tumbling aggregation, verified against the batch
    SQL answer (same oracle as the batch twin events_hourly_tumbling)."""
    stream = read_events_stream(spark, sf_dir)
    agged = tumbling_agg(stream, window="1 hour", watermark="30 minutes")
    name = _fresh("stream_hourly")
    run_available_now(agged, name, output_mode="complete")
    return spark.table(name).select(
        (F.unix_micros(F.col("window.start")) * 1000).alias("window_start_ns"),
        "n_events",
        "total_value",
    )


@golden(
    "stream_session_windows",
    """
    WITH marked AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                    OR lag(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sessions AS (
      SELECT user_id, t_us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           min(t_us) AS session_start_us,
           max(t_us) AS session_end_us,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) per user. Note the oracle
    chains sessions with ``gap >= 30min`` (strict *merge* on < gap):
    ``session_window`` extends each event to [t, t+gap) and merges
    *overlapping* intervals, so an event landing exactly at t+gap starts a
    new session — the half-open-interval semantic, encoded identically in
    the SQL."""
    stream = read_events_stream(spark, sf_dir)
    agged = session_window_agg(stream, gap="30 minutes", watermark="30 minutes")
    name = _fresh("stream_sessions")
    run_available_now(agged, name, output_mode="complete")
    return spark.table(name).select(
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


@golden(
    "stream_dedup_within_watermark",
    "SELECT count(DISTINCT event_id) AS n_unique FROM events",
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the stream unioned with itself (every
    event duplicated) must dedup back to exactly the distinct event count.
    dropDuplicatesWithinWatermark keys state by event_id and expires it
    behind the watermark — bounded memory at any stream length."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    doubled = a.unionByName(b)
    deduped = dedup_within_watermark(doubled, ["event_id"], watermark="1 hour")
    name = _fresh("stream_dedup")
    run_available_now(deduped, name, output_mode="append")
    return spark.table(name).agg(F.count(F.lit(1)).alias("n_unique"))


@golden(
    "stream_stateful_user_stats",
    """
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents,
           max(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    stats; with availableNow the last update per user equals the batch
    aggregate — which is exactly what the oracle computes. Exact integer
    cents make the sum batch-boundary-independent."""
    from bookstore_aws_lakehouse_spark.streaming.jobs import stateful_user_stats

    stream = read_events_stream(spark, sf_dir)
    stats = stateful_user_stats(stream)
    name = _fresh("stream_userstats")
    run_available_now(stats, name, output_mode="update")
    out = spark.table(name)
    # update mode emits one row per (user, microbatch); keep the final one
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


NS_PER_30MIN = 1_800_000_000_000


@golden(
    "stream_sliding_windows",
    f"""
    WITH panes AS (
      SELECT event_type,
             CAST(floor(epoch_ns(ts) / {NS_PER_30MIN}.0) AS BIGINT) * {NS_PER_30MIN} AS p0
      FROM events
    ),
    both_panes AS (
      SELECT event_type, p0 AS window_start_ns FROM panes
      UNION ALL
      SELECT event_type, p0 - {NS_PER_30MIN} FROM panes
    )
    SELECT window_start_ns, event_type, count(*) AS n_events
    FROM both_panes
    GROUP BY window_start_ns, event_type
    """,
)
def q_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1h window / 30min slide): every event
    lands in exactly two panes. The oracle enumerates both candidate pane
    starts per event (its 30-min bucket and the one before) — the
    closed-form of Spark's window expansion."""
    from bookstore_aws_lakehouse_spark.streaming.jobs import sliding_agg

    stream = read_events_stream(spark, sf_dir)
    agged = sliding_agg(stream, window="1 hour", slide="30 minutes")
    name = _fresh("stream_sliding")
    run_available_now(agged, name, output_mode="complete")
    return spark.table(name).select(
        (F.unix_micros(F.col("window.start")) * 1000).alias("window_start_ns"),
        "event_type",
        "n_events",
    )


@golden(
    "stream_stream_join",
    """
    SELECT s.user_id, s.event_id AS left_id, p.event_id AS right_id
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON s.user_id = p.user_id
     AND epoch_us(p.ts) > epoch_us(s.ts)
     AND epoch_us(p.ts) <= epoch_us(s.ts) + 172800000000
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (signups ⋈ purchases within 48 h, per
    user) with watermarks + time-range state bounds — verified against
    the batch inequality join. With availableNow over one batch no rows
    are watermark-dropped, so streaming and batch answers coincide."""
    from bookstore_aws_lakehouse_spark.streaming.jobs import stream_stream_join

    joined = stream_stream_join(spark, sf_dir)
    name = _fresh("stream_ssjoin")
    run_available_now(joined, name, output_mode="append")
    return spark.table(name)


@golden(
    "stream_static_join",
    """
    WITH features AS (
      SELECT user_id, count(*) AS lifetime_events
      FROM events GROUP BY user_id
    )
    SELECT f.lifetime_events, count(*) AS n_events
    FROM events e JOIN features f ON e.user_id = f.user_id
    GROUP BY f.lifetime_events
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live stream enriched against a static
    feature snapshot (per-user lifetime counts — a feature-store read),
    then aggregated. The static side behaves like a broadcast dim: no
    stream state, re-read per micro-batch. Oracle: the equivalent batch
    join."""
    from bookstore_aws_lakehouse_spark.catalog import load_events

    features = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_events"))
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = stream.join(features, "user_id")
    agged = enriched.groupBy("lifetime_events").agg(F.count(F.lit(1)).alias("n_events"))
    name = _fresh("stream_static")
    run_available_now(agged, name, output_mode="complete")
    return spark.table(name)


@golden(
    "stream_sliding_windows_4panes",
    f"""
    WITH panes AS (
      SELECT event_type,
             CAST(floor(epoch_ns(ts) / {NS_PER_30MIN}.0) AS BIGINT) * {NS_PER_30MIN} AS p0
      FROM events
    ),
    all_panes AS (
      SELECT event_type, p0 - 0 * {NS_PER_30MIN} AS window_start_ns FROM panes
      UNION ALL SELECT event_type, p0 - 1 * {NS_PER_30MIN} FROM panes
      UNION ALL SELECT event_type, p0 - 2 * {NS_PER_30MIN} FROM panes
      UNION ALL SELECT event_type, p0 - 3 * {NS_PER_30MIN} FROM panes
    )
    SELECT window_start_ns, event_type, count(*) AS n_events
    FROM all_panes
    GROUP BY window_start_ns, event_type
    """,
)
def q_stream_sliding_windows_4panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows at a SECOND window/slide ratio (2h window / 30min
    slide → every event lands in exactly FOUR panes): guards the pane
    expansion against the ratio being hard-wired anywhere — the only
    streaming shape that previously had a single-ratio driver row
    (streaming/jobs.py::sliding_agg). The oracle enumerates all four
    candidate pane starts per event."""
    from bookstore_aws_lakehouse_spark.streaming.jobs import sliding_agg

    stream = read_events_stream(spark, sf_dir)
    agged = sliding_agg(stream, window="2 hours", slide="30 minutes")
    name = _fresh("stream_sliding4")
    run_available_now(agged, name, output_mode="complete")
    return spark.table(name).select(
        (F.unix_micros(F.col("window.start")) * 1000).alias("window_start_ns"),
        "event_type",
        "n_events",
    )


@golden(
    "stream_snapshot_rollup",
    f"""
    SELECT CAST(floor(epoch_ns(ts) / {NS_PER_HOUR}.0) AS BIGINT) * {NS_PER_HOUR} AS window_start_ns,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start_ns
    """,
)
@scratch
def q_stream_snapshot_rollup(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Continuous aggregate with a snapshot-table sink end-to-end
    (streaming/jobs.py::continuous_aggregate_snapshot): the hourly
    tumbling aggregation streamed through foreachBatch into the
    manifest-versioned table via the MERGE file-pruned on day_no —
    every micro-batch is an isolated, time-travelable commit; concurrent
    readers never see a half-merged mart. The final snapshot is read
    back and must equal the batch SQL answer. The table and the stream
    checkpoint share one scratch directory."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import snapshot_read
    from bookstore_aws_lakehouse_spark.streaming.jobs import (
        continuous_aggregate_snapshot,
    )

    table = f"{root}/rollup_snap"
    continuous_aggregate_snapshot(
        spark, sf_dir, table, checkpoint=f"{root}/ckpt"
    )
    return snapshot_read(spark, table).select(
        "window_start_ns", "n_events", "total_value"
    )


@golden(
    "stream_snapshot_source_tail",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
    GROUP BY o_month
    """,
)
@scratch
def q_stream_snapshot_source_tail(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The snapshot log as a STREAMING SOURCE (sources/pyds.py::
    SnapshotStreamReader — the lakesnap format's readStream side):
    three monthly appends build an append-only table, then
    ``spark.readStream.format("lakesnap")`` tails the commit log with
    availableNow — offsets are version numbers, each appended commit
    streams exactly once (one InputPartition per new file, Arrow
    batches), and the result aggregated from the STREAM must equal the
    batch aggregate of the three months. Checkpoint-resume exactly-once
    and the append-only refusal contract are pinned in
    tests/test_pyds.py."""
    from bookstore_aws_lakehouse_spark.sources.pyds import (
        register_snapshot_datasource,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_overwrite,
    )
    from bookstore_aws_lakehouse_spark.catalog import load_table as _lt

    orders = _lt(spark, sf_dir, "orders")
    months = [
        ("1997-01-01", "1997-01-31"),
        ("1997-02-01", "1997-02-28"),
        ("1997-03-01", "1997-03-31"),
    ]
    table = f"{root}/orders_tail"
    for i, (lo, hi) in enumerate(months):
        slice_df = orders.filter(F.col("o_orderdate").between(lo, hi)).select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        )
        if i == 0:
            snapshot_overwrite(slice_df, table)
        else:
            snapshot_append(slice_df, table)
    register_snapshot_datasource(spark)
    q = (
        spark.readStream.format("lakesnap")
        .option("path", table)
        .load()
        .writeStream.format("parquet")
        .option("path", f"{root}/out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{root}/ckpt")
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{root}/out")
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
    )
