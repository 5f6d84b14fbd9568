"""Custom distributed sketches beyond the built-in DataSketches family
(queries_sketches.py covers HLL/Theta/KLL/GK via ``pyspark.sql.functions``).

Count-Min sketch: a ``depth x width`` grid of counters answering
"how often did value v occur?" with one-sided error — estimates never
undercount, and overcount by at most ~``depth``-independent collision
mass (≤ e·N/width with probability 1-e^-depth per probe). The classic
heavy-hitters / frequency-tracking structure when the key universe is too
large to count exactly (token frequencies over a 100 TB corpus).

Spark-first shape: the sketch IS a DataFrame of ``depth·width`` counter
rows built by one map-side-combinable groupBy — the shuffle carries at
most ``depth·width`` partial rows per map task, never the key universe —
and estimation is a broadcast join of the (tiny) sketch onto the probe
values. Hashing is ``xxhash64(value, row_index)`` — deterministic,
JVM-side, and the same expression builds and probes, so estimates are
reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cms_bucket(value_col: Column, row: int, width: int) -> Column:
    """Counter column for hash row ``row``: pmod(xxhash64(v, row), width).
    Seeding via a second hashed column gives ``depth`` pairwise-independent
    hash functions from the one JVM primitive."""
    return F.pmod(F.xxhash64(value_col, F.lit(row)), F.lit(width)).cast("int")


def _cms_coords(value_col, depth: int, width: int):
    """The (row, bucket) coordinate array — ONE definition shared by
    build and estimate, which must stay bit-identical or every estimate
    silently breaks."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _cms_bucket(value_col, i, width).alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def cms_build(
    df: DataFrame, col: str, depth: int = 4, width: int = 8192
) -> DataFrame:
    """Build a Count-Min sketch over ``df[col]`` (NULLs ignored, as in SQL
    aggregation): returns the counter grid as ``(row, bucket, cnt)`` —
    at most ``depth·width`` rows regardless of input size. Each input row
    contributes to ``depth`` counters; the explode happens map-side and
    the groupBy partial-aggregates before the (bounded) shuffle. Sketches
    over different inputs MERGE by summing counters — union the grids and
    re-aggregate — which is what makes this viable as a per-partition /
    per-day rollup at 100 TB."""
    v = F.col(col)
    rows = (
        df.where(v.isNotNull())
        .select(F.explode(_cms_coords(v, depth, width)).alias("rb"))
        .select("rb.row", "rb.bucket")
    )
    return rows.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 8192,
) -> DataFrame:
    """Estimate each probe value's frequency: recompute the probe's
    ``depth`` counter coordinates with the build's expression, broadcast-
    join the counter grid, take the MIN across rows (the Count-Min
    estimator). Probes missing a counter entirely (no input value ever
    hashed there) estimate 0; a NULL probe estimates NULL (the build
    ignored NULLs, so any nonzero answer would be pure collision mass).
    Adds ``est_n`` to ``probes`` — one output row per DISTINCT probe
    row; the sketch side is ≤ depth·width rows — always broadcastable."""
    clash = {"row", "bucket", "cnt", "est_n"} & set(probes.columns)
    if clash:
        raise ValueError(
            f"probe columns {sorted(clash)} collide with the sketch's "
            f"working columns — rename them before estimating"
        )
    v = F.col(col)
    exploded = probes.select(
        "*",
        F.explode(_cms_coords(v, depth, width)).alias("rb"),
    ).select("*", "rb.row", "rb.bucket").drop("rb")
    joined = exploded.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy(*probes.columns)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_n"))
        .withColumn(
            "est_n",
            F.when(v.isNull(), F.lit(None).cast("bigint")).otherwise(
                F.col("est_n")
            ),
        )
    )


def mg_candidates(
    df: DataFrame, col: str, capacity: int = 2048
) -> DataFrame:
    """Misra–Gries heavy-hitter CANDIDATES per partition (Arrow
    ``mapInPandas`` — Python is the point here: the summary is an
    imperative bounded dict). Each partition keeps at most ``capacity``
    counters; merging a batch then subtracting the (capacity+1)-th
    largest count preserves the MG bound (total undercount ≤ n_p /
    capacity per partition). Pigeonhole gives the global guarantee: any
    value with total frequency > N/capacity exceeds n_p/capacity in at
    least one partition, so it SURVIVES in that partition's summary —
    the union of per-partition candidates is a superset of every such
    heavy hitter. Output: one ``col`` row per surviving candidate per
    partition (dedupe downstream); resolve exact counts by broadcast-
    joining the candidate set back onto the stream (`exact top-k
    without ever shuffling the key universe`)."""
    import pandas as pd

    field = df.schema[col]

    def summarize(batches):
        counts: dict = {}
        for pdf in batches:
            vc = pdf[col].dropna().value_counts()
            for val, n in vc.items():
                counts[val] = counts.get(val, 0) + int(n)
            if len(counts) > capacity:
                cut = sorted(counts.values(), reverse=True)[capacity]
                counts = {
                    v: c - cut for v, c in counts.items() if c - cut > 0
                }
        yield pd.DataFrame({col: list(counts.keys())})

    return df.select(col).mapInPandas(
        summarize, f"{col} {field.dataType.simpleString()}"
    )


def heavy_hitters_exact(
    df: DataFrame, col: str, k: int = 15, capacity: int = 2048
) -> DataFrame:
    """Exact top-k over an unbounded key universe WITHOUT a full-universe
    shuffle: Misra–Gries candidates per partition (superset of every
    value with frequency > N/capacity), then one broadcast semi-join
    restricts the stream to candidates and an ordinary groupBy counts
    them exactly — the shuffle carries only candidate keys. Correct
    whenever the true k-th count exceeds N/capacity (size ``capacity``
    accordingly); ties broken on the value ascending."""
    cand = mg_candidates(df, col, capacity).distinct()
    counted = (
        df.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return counted.orderBy(F.col("exact_n").desc(), F.col(col).asc()).limit(k)
