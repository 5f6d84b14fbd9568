"""Oracle-checked queries for the E-T-L pipeline (plans/etl.py) and the
source/sink layer (SURVEY §2.1 S2/S3/S5).

The SQL twins replicate the *entire* pipeline — raw synthesis, location
expansion (trimmed split), sentinel-null normalization, key dropna — as a
WITH-chain, so every stage's semantics are verified end-to-end, including
the injected dirty rows (negative-balance customers get ``'seg, , '``
locations whose empty state/country must clean to NULL and drop the row).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.plans.etl import (
    CLEAN_PREFIX,
    books_dimension,
    build_raw_ratings,
    customers_dimension,
    ratings_fact,
    top100_books,
)
from bookstore_aws_lakehouse_spark.registry import golden, scratch
from bookstore_aws_lakehouse_spark.sources.readers import read_csv, read_parquet
from bookstore_aws_lakehouse_spark.sources.writers import write_csv, write_parquet

# The raw + clean stages as DuckDB SQL (mirrors build_raw_ratings +
# expand_location + clean_data). Age uses floor() on both sides: Spark's
# double→int cast truncates while DuckDB's rounds, so the pipeline floors
# explicitly to pin one semantic.
_SENTINELS = "('', ' ', 'NULL', 'null', 'N/A')"
_CLEAN_CTE = f"""
WITH raw AS (
  SELECT CAST(o_custkey AS VARCHAR) AS customer_id,
         CAST(l_partkey AS VARCHAR) AS isbn,
         CAST(CAST(l_quantity AS INTEGER) % 11 AS VARCHAR) AS book_rating,
         CASE WHEN c_acctbal < 0
              THEN lower(c_mktsegment) || ', , '
              ELSE lower(c_mktsegment) || ', ' || lower(n_name) || ', ' || lower(r_name)
         END AS location,
         CAST(CAST(floor(c_acctbal) AS INTEGER) AS VARCHAR) AS age,
         p_name AS book_title,
         p_brand AS book_author,
         CAST(p_size AS VARCHAR) AS year_of_publication,
         p_type AS publisher
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  JOIN part     ON l_partkey = p_partkey
),
expanded AS (
  SELECT *,
         trim(split_part(location, ',', 1)) AS city,
         trim(split_part(location, ',', 2)) AS state,
         trim(split_part(location, ',', 3)) AS country
  FROM raw
),
clean AS (
  SELECT * FROM (
    SELECT customer_id, isbn, book_rating, age, book_title, book_author,
           year_of_publication, publisher,
           CASE WHEN city IN {_SENTINELS} THEN NULL ELSE city END AS city,
           CASE WHEN state IN {_SENTINELS} THEN NULL ELSE state END AS state,
           CASE WHEN country IN {_SENTINELS} THEN NULL ELSE country END AS country
    FROM expanded
  )
  WHERE customer_id IS NOT NULL AND isbn IS NOT NULL AND book_rating IS NOT NULL
    AND city IS NOT NULL AND state IS NOT NULL AND country IS NOT NULL
)
"""


_CLEAN_CACHE: dict[tuple[int, str], DataFrame] = {}


def _clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared raw→expand→clean prefix, shared across the four ETL
    queries like the pipeline's sink fan-out (SURVEY §7.1.7 — the
    reference recomputed this prefix per sink). Persistence is lazy: the
    first consumer pays nothing extra; the second marks the frame
    persisted so the third and fourth reuse the materialization."""
    key = (id(spark), sf_dir)
    if key not in _CLEAN_CACHE:
        _CLEAN_CACHE[key] = [CLEAN_PREFIX.run(build_raw_ratings(spark, sf_dir)), 0]
    entry = _CLEAN_CACHE[key]
    entry[1] += 1
    if entry[1] == 2:
        entry[0] = entry[0].persist()
    return entry[0]


@golden(
    "etl_dim_customers",
    _CLEAN_CTE + "SELECT DISTINCT customer_id, age, city, state, country FROM clean",
)
def q_etl_dim_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers dimension (reference `workflow/Transformer.py:40-52`)."""
    return customers_dimension(_clean(spark, sf_dir))


@golden(
    "etl_dim_books",
    _CLEAN_CTE
    + "SELECT DISTINCT isbn, book_title, book_author, year_of_publication, publisher FROM clean",
)
def q_etl_dim_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Books dimension (reference `workflow/Transformer.py:55-67`)."""
    return books_dimension(_clean(spark, sf_dir))


@golden(
    "etl_fact_ratings",
    _CLEAN_CTE + "SELECT isbn, customer_id, book_rating FROM clean",
)
def q_etl_fact_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratings fact (reference `workflow/Transformer.py:70-82`)."""
    return ratings_fact(_clean(spark, sf_dir))


# Scaled down from the reference's 100 (`workflow/Transformer.py:101`):
# fixture parts average ~27 clean ratings each regardless of sf.
ETL_MIN_RATINGS = 25


@golden(
    "etl_top100_books",
    _CLEAN_CTE
    + f"""
    SELECT isbn, book_title,
           avg(CAST(book_rating AS DOUBLE)) AS average_rating,
           count(book_title) AS total_ratings
    FROM clean
    GROUP BY isbn, book_title
    HAVING count(book_title) >= {ETL_MIN_RATINGS}
    ORDER BY average_rating DESC, isbn
    LIMIT 100
    """,
)
def q_etl_top100_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 reporting table (reference `workflow/Transformer.py:85-102`),
    full reference semantics: group (isbn, title), string→double rating
    cast, count(col), HAVING >=, sort desc, limit."""
    return top100_books(_clean(spark, sf_dir), min_ratings=ETL_MIN_RATINGS)


# --------------------------------------------------------------------------
# Sources / sinks: CSV scan (S2/S5) and sink round-trip (S3)
# --------------------------------------------------------------------------

NATION_DDL = "n_nationkey int, n_name string, n_regionkey int"


@golden("scan_csv", "SELECT * FROM nation")
@scratch
def q_scan_csv(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """S2/S5 — CSV written with headers then read back with an explicit
    schema (the production path: no inference pass; covers Redshift
    ``COPY ... IGNOREHEADER`` semantics)."""
    loc = f"{root}/nation_csv"
    write_csv(load_table(spark, sf_dir, "nation"), loc)
    return read_csv(spark, loc, schema=NATION_DDL)


@golden("scan_jsonl", "SELECT * FROM nation")
@scratch
def q_scan_jsonl(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """JSONL scan (beyond-reference source format; the lingua franca of
    LLM training corpora): write nation as JSON lines, read back with an
    explicit schema — no inference pass, same discipline as the CSV path
    (inference on JSONL is a full extra scan at 100 TB)."""
    from bookstore_aws_lakehouse_spark.sources.readers import read_json

    loc = f"{root}/nation_jsonl"
    load_table(spark, sf_dir, "nation").write.mode("overwrite").json(loc)
    return read_json(spark, loc, schema=NATION_DDL)


@golden(
    "sql_ctas_roundtrip",
    """
    SELECT n_name, count(*) AS customer_count
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_sql_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML surface: CTAS into the session catalog (the Glue/Spectrum
    write path analog — reference loads marts for SQL clients to query by
    name), then read the TABLE back by name. Values must survive the
    catalog round-trip bit-exactly. DROP + CTAS rather than INSERT
    OVERWRITE keeps the query idempotent across repeated driver runs."""
    from bookstore_aws_lakehouse_spark.catalog import register_views

    register_views(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS ctas_customer_counts")
    spark.sql(
        """CREATE TABLE ctas_customer_counts USING parquet AS
           SELECT n_name, count(*) AS customer_count
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name"""
    )
    return spark.sql("SELECT n_name, customer_count FROM ctas_customer_counts")


@golden("scan_orc", "SELECT * FROM nation")
@scratch
def q_scan_orc(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """ORC scan (beyond-reference; Spark-native columnar alternative):
    write nation as ORC, scan it back. Same vectorized-reader/pushdown
    machinery as parquet — the format a warehouse migration most often
    brings along."""
    loc = f"{root}/nation_orc"
    load_table(spark, sf_dir, "nation").write.mode("overwrite").orc(loc)
    return spark.read.orc(loc)


@golden(
    "sink_roundtrip",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
@scratch
def q_sink_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """S3 — partitioned parquet sink + re-scan: writes the fact projection
    hive-partitioned by l_returnflag (so the re-read gets partition
    pruning), reads it back, aggregates. Verifies values survive the
    sink/scan round-trip bit-exactly."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    loc = f"{root}/fact"
    write_parquet(li, loc, partition_by=["l_returnflag"])
    back = read_parquet(spark, loc)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("sum_qty")
    )


@golden(
    "etl_top100_published",
    _CLEAN_CTE
    + f"""
    SELECT isbn, book_title,
           CAST(CAST(avg(CAST(book_rating AS DOUBLE)) AS DECIMAL(4,2)) AS DOUBLE) AS average_rating,
           CAST(count(book_title) AS INT) AS total_ratings
    FROM clean
    GROUP BY isbn, book_title
    HAVING count(book_title) >= {ETL_MIN_RATINGS}
    ORDER BY avg(CAST(book_rating AS DOUBLE)) DESC, isbn
    LIMIT 100
    """,
)
def q_etl_top100_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reporting table with its PUBLISHED types (reference Redshift
    DDL `external-table-queries.sql:49-55`: numeric rating, integer
    count) — the typed-cast publication stage of SURVEY §1.5. Ordering is
    decided on the full-precision average BEFORE the decimal cast, so the
    row set matches the untyped flagship."""
    top = top100_books(_clean(spark, sf_dir), min_ratings=ETL_MIN_RATINGS)
    # decimal(4,2) applies the published rounding; the final double cast
    # exists purely for cross-engine result portability (engines render
    # decimal results differently: Decimal('6.10') vs 6.1)
    return top.select(
        "isbn",
        "book_title",
        F.col("average_rating").cast("decimal(4,2)").cast("double").alias("average_rating"),
        F.col("total_ratings").cast("int").alias("total_ratings"),
    )


# --------------------------------------------------------------------------
# C1/C3 — Engine facade: registry dispatch + scheduled-batch ETL entry
# --------------------------------------------------------------------------

# 64-bit md5-prefix hash, the engine-wide portable hash (operators/dedup.py
# md5_hash64 <-> this DuckDB spelling, proven in queries_dedup.py).
# Checksums sum hash % p (p = largest 32-bit prime): order-insensitive,
# multiplicity-sensitive (unlike XOR), and the sum stays < 2^63 for up to
# ~2e9 rows, so ANSI-mode Spark can't overflow.
_H64 = "('0x' || substring(md5({expr}), 1, 15))::BIGINT"
_CHECKSUM_P = 4294967291


def _mart_summary_sql(table: str, body: str, cols: list[str]) -> str:
    concat = f"concat_ws(chr(31), {', '.join(cols)})"
    return f"""
  SELECT '{table}' AS mart_table,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum({_H64.format(expr=concat)} % {_CHECKSUM_P}) AS BIGINT) AS checksum
  FROM ({body})"""


_TOP100_BODY = f"""
    SELECT isbn, book_title, CAST(count(book_title) AS BIGINT) AS total_ratings
    FROM clean GROUP BY isbn, book_title
    HAVING count(book_title) >= {ETL_MIN_RATINGS}
    ORDER BY avg(CAST(book_rating AS DOUBLE)) DESC, isbn
    LIMIT 100
"""

_ENGINE_DISPATCH_SQL = (
    _CLEAN_CTE
    + "\nSELECT * FROM (\n"
    + "\n  UNION ALL\n".join(
        [
            _mart_summary_sql(
                "dim_customers",
                "SELECT DISTINCT customer_id, age, city, state, country FROM clean",
                ["customer_id", "age", "city", "state", "country"],
            ),
            _mart_summary_sql(
                "dim_books",
                "SELECT DISTINCT isbn, book_title, book_author,"
                " year_of_publication, publisher FROM clean",
                ["isbn", "book_title", "book_author", "year_of_publication", "publisher"],
            ),
            _mart_summary_sql(
                "fact_ratings",
                "SELECT isbn, customer_id, book_rating FROM clean",
                ["isbn", "customer_id", "book_rating"],
            ),
            _mart_summary_sql(
                "top100_books",
                _TOP100_BODY,
                ["isbn", "book_title", "CAST(total_ratings AS VARCHAR)"],
            ),
        ]
    )
    + "\n) ORDER BY mart_table"
)


def _mart_summary(df: DataFrame, table: str, cols: list[str]) -> DataFrame:
    from bookstore_aws_lakehouse_spark.operators.dedup import md5_hash64

    s = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(md5_hash64(s) % F.lit(_CHECKSUM_P)).cast("bigint").alias("checksum"),
    ).select(F.lit(table).alias("mart_table"), "n_rows", "checksum")


@golden("engine_dispatch_etl", _ENGINE_DISPATCH_SQL)
@scratch
def q_engine_dispatch_etl(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """C1+C3 (SURVEY §2.11) driver proof: construct the ``Engine`` facade
    on the live session (wiring the registry via ``load_all`` — C1
    dispatch), run the scheduled-batch ETL entry (``engine.run_etl``, the
    analog of the reference's driver `spark-main.py:12-27`), then re-read
    every persisted mart table from disk and reduce each to
    ``(mart_table, n_rows, checksum)`` — an order-insensitive 64-bit
    content checksum. Green means the engine-dispatched pipeline wrote
    exactly the star schema the oracle's WITH-chain derives, through the
    real sink/scan round-trip.

    The top100 checksum covers (isbn, title, total_ratings); its
    double-typed average is value-checked by `etl_top100_books` — row
    membership and ordering here still depend on it via the LIMIT."""
    from bookstore_aws_lakehouse_spark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    out = f"{root}/mart"
    eng.run_etl(out, min_ratings=ETL_MIN_RATINGS)

    summaries = [
        _mart_summary(
            read_parquet(spark, f"{out}/dim_customers"),
            "dim_customers",
            ["customer_id", "age", "city", "state", "country"],
        ),
        _mart_summary(
            read_parquet(spark, f"{out}/dim_books"),
            "dim_books",
            ["isbn", "book_title", "book_author", "year_of_publication", "publisher"],
        ),
        _mart_summary(
            read_parquet(spark, f"{out}/fact_ratings"),
            "fact_ratings",
            ["isbn", "customer_id", "book_rating"],
        ),
        _mart_summary(
            read_parquet(spark, f"{out}/top100_books").withColumn(
                "total_ratings", F.col("total_ratings").cast("string")
            ),
            "top100_books",
            ["isbn", "book_title", "total_ratings"],
        ),
    ]
    acc = summaries[0]
    for s in summaries[1:]:
        acc = acc.unionByName(s)
    return acc.orderBy("mart_table")


@golden(
    "compact_roundtrip",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
@scratch
def q_compact_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Small-file compaction round-trip (sources/writers.py::
    compact_parquet — the OPTIMIZE / rewrite_data_files maintenance job
    every streaming/upsert sink needs): deliberately fragment the fact
    projection into 64 files (a year of hourly micro-batches in
    miniature), compact the location, and verify the data survives the
    staging-write + FS-swap bit-exactly via aggregation against the
    un-fragmented oracle. The file-count reduction itself is asserted in
    tests/test_etl.py (counts aren't SQL-expressible)."""
    from bookstore_aws_lakehouse_spark.sources.writers import compact_parquet

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    loc = f"{root}/fact"
    li.repartition(64).write.mode("overwrite").parquet(loc)
    compact_parquet(loc, spark)
    back = read_parquet(spark, loc)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@golden(
    "snapshot_merge_roundtrip",
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment,
             CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer WHERE c_custkey % 7 <> 0
    ),
    delta AS (
      SELECT c_custkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) + CAST(100.00 AS DECIMAL(5,2)) AS DECIMAL(18,2)) AS bal
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    merged AS (
      SELECT c_custkey, c_mktsegment, bal FROM delta
      UNION ALL
      SELECT b.c_custkey, b.c_mktsegment, b.bal FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.c_custkey = b.c_custkey)
    )
    SELECT c_mktsegment, count(*) AS n_customers, CAST(sum(bal) AS DOUBLE) AS total_bal
    FROM merged GROUP BY c_mktsegment
    """,
)
@scratch
def q_snapshot_merge_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """MERGE on the manifest-versioned snapshot table (sources/
    snapshots.py::snapshot_merge — the Delta-MERGE analog this sandbox
    can actually run): seed version 1 missing every 7th customer, merge a
    delta that UPDATES the surviving BUILDING customers (bal+100, exact
    decimal) and INSERTS the missing ones, read the LATEST snapshot back,
    aggregate. Unlike an in-place directory rewrite, the merge commits a
    new manifest and never deletes version 1's files — snapshot isolation
    is separately proven in tests/test_snapshots.py. The oracle replays
    the merge relationally."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge,
        snapshot_overwrite,
        snapshot_read,
    )

    cust = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    base = cust.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey", "c_mktsegment", bal.alias("bal")
    )
    delta = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        "c_mktsegment",
        (bal + F.lit("100.00").cast("decimal(5,2)")).cast("decimal(18,2)").alias("bal"),
    )
    table = f"{root}/customer_snap"
    snapshot_overwrite(base, table)
    snapshot_merge(delta, table, key_cols=["c_custkey"])
    return snapshot_read(spark, table).groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("bal").cast("double").alias("total_bal"),
    )


@golden(
    "snapshot_time_travel",
    """
    SELECT 1 AS version, n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE n_regionkey <= 2
    UNION ALL
    SELECT 2 AS version, n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE n_regionkey > 2
    """,
)
@scratch
def q_snapshot_time_travel(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Time travel on the snapshot table: commit version 1 (regions 0-2),
    OVERWRITE with version 2 (regions 3-4), then read BOTH versions by
    number and tag each row with the version it came from. Version 1's
    rows remain readable after the overwrite because the new manifest
    references a disjoint file set — the property bare parquet overwrite
    destroys. The oracle recomputes both versions' content directly."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_overwrite,
        snapshot_read,
    )

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    v1 = joined.filter(F.col("n_regionkey") <= 2).select("n_name", "r_name")
    v2 = joined.filter(F.col("n_regionkey") > 2).select("n_name", "r_name")
    table = f"{root}/nation_snap"
    snapshot_overwrite(v1, table)
    snapshot_overwrite(v2, table)
    return (
        snapshot_read(spark, table, version=1)
        .select(F.lit(1).alias("version"), "n_name", "r_name")
        .unionByName(
            snapshot_read(spark, table, version=2).select(
                F.lit(2).alias("version"), "n_name", "r_name"
            )
        )
    )


@golden(
    "snapshot_merge_pruned_roundtrip",
    """
    WITH base AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey % 5 <> 0
    ),
    delta AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + CAST(5.00 AS DECIMAL(3,2)) AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-07-01'
    ),
    merged AS (
      SELECT o_orderkey, o_month, price FROM delta
      UNION ALL
      SELECT b.o_orderkey, b.o_month, b.price FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = b.o_orderkey)
    )
    SELECT o_month, count(*) AS n_orders, CAST(sum(price) AS DOUBLE) AS total_price
    FROM merged GROUP BY o_month
    """,
)
@scratch
def q_snapshot_merge_pruned_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """File-pruned MERGE on the snapshot table (sources/snapshots.py::
    snapshot_merge with ``partition_col`` — manifest file stats from
    parquet footers decide which committed files a delta can touch;
    provably-disjoint files carry into the new manifest with zero I/O,
    the Iceberg metadata-pruning model): seed a month-clustered orders
    snapshot missing every 5th key, merge a 2-month delta (updates
    price+5.00 exact-decimal, inserts the missing keys), read the latest
    snapshot.
    The oracle replays the merge relationally; the carried-file identity
    and zero-row-file exclusion are asserted in tests/test_snapshots.py."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("o_month")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", month, price.alias("price")
    )
    delta = orders.filter(F.col("o_orderdate") >= "2001-07-01").select(
        "o_orderkey",
        month,
        (price + F.lit("5.00").cast("decimal(3,2)"))
        .cast("decimal(18,2)")
        .alias("price"),
    )
    table = f"{root}/orders_snap"
    snapshot_merge(base, table, key_cols=["o_orderkey"], partition_col="o_month")
    snapshot_merge(delta, table, key_cols=["o_orderkey"], partition_col="o_month")
    return snapshot_read(spark, table).groupBy("o_month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    )


@golden(
    "snapshot_scan_pruned",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1996-01' AND '1996-12'
    GROUP BY o_month
    """,
)
@scratch
def q_snapshot_scan_pruned(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Stats-pruned range scan on the snapshot table (sources/
    snapshots.py::snapshot_scan — Iceberg-style scan planning): commit
    orders month-clustered with manifest stats, then range-scan one year
    by month. Files whose recorded [min,max] month range cannot intersect
    1996 are never opened (they don't reach the file index — whole-file
    skipping plain parquet directories can't do; the skip itself is
    asserted via inputFiles() in tests/test_snapshots.py). The result
    must equal the plain filtered aggregation the oracle computes."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge,
        snapshot_scan,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    table = f"{root}/orders_snap"
    snapshot_merge(
        base, table, key_cols=["o_orderkey"], partition_col="o_month"
    )
    return (
        snapshot_scan(spark, table, "o_month", "1996-01", "1996-12")
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
    )


@golden(
    "clustered_sink_roundtrip",
    """
    SELECT l_partkey,
           count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 199
    GROUP BY l_partkey
    """,
)
@scratch
def q_clustered_sink_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Range-clustered layout round-trip (sources/writers.py::
    write_parquet_clustered — repartitionByRange + sortWithinPartitions):
    the fact projection is rewritten clustered on l_partkey, then read
    back with a selective partkey range. Because each file and row group
    covers a narrow disjoint key slice (disjointness asserted from the
    footers in tests/test_clustered_write.py), the pushed-down BETWEEN
    prunes almost every row group — the layout that makes hot-column
    predicates cheap at 100 TB. Values must match the unclustered oracle
    exactly."""
    from bookstore_aws_lakehouse_spark.sources.writers import write_parquet_clustered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    loc = f"{root}/fact_clustered"
    write_parquet_clustered(li, loc, ["l_partkey"], num_files=16)
    back = read_parquet(spark, loc).filter(F.col("l_partkey").between(100, 199))
    return back.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@golden(
    "snapshot_files",
    """
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS num_rows,
           CAST(sum(CASE WHEN c_custkey % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS num_live_rows,
           CAST(max(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BOOLEAN)
               AS has_deletion_vector
    FROM customer GROUP BY c_mktsegment
    """,
)
@scratch
def q_snapshot_files(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Per-file metadata table (sources/snapshots.py::snapshot_files —
    Iceberg's ``t.files`` / file-granular DESCRIBE DETAIL): commit
    customers one file per market segment (deterministic layout:
    overwrite + appends, each ``coalesce(1)``), DV-delete every 10th
    custkey, then read the manifest+footer view — footer row counts,
    DV-adjusted live rows, per-file DV flags, and the recorded
    min/max stats (min == max == the segment, since each file holds
    exactly one). NO DATA I/O: the operator answers from manifest and
    parquet footers only; the oracle recomputes each file's expected
    numbers relationally from the base table."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_delete_dv,
        snapshot_files,
        snapshot_overwrite,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    # bounded driver read: the 5 TPC-H segments (dim-cardinality class)
    segs = sorted(
        r[0] for r in cust.select("c_mktsegment").distinct().collect()
    )
    table = f"{root}/cust_snap"
    snapshot_overwrite(
        cust.filter(F.col("c_mktsegment") == segs[0]).coalesce(1),
        table,
        stats_cols=["c_mktsegment"],
    )
    for seg in segs[1:]:
        # appends inherit the tip's stats columns (stats continuity)
        snapshot_append(
            cust.filter(F.col("c_mktsegment") == seg).coalesce(1), table
        )
    snapshot_delete_dv(spark, table, "c_custkey % 10 = 0")
    return snapshot_files(spark, table).select(
        F.col("stats")["c_mktsegment"][0].alias("segment"),
        "num_rows",
        "num_live_rows",
        "has_deletion_vector",
    )


@golden(
    "zorder_sink_roundtrip",
    """
    SELECT l_partkey, l_suppkey,
           count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 200 AND 299 AND l_suppkey BETWEEN 10 AND 29
    GROUP BY l_partkey, l_suppkey
    """,
)
@scratch
def q_zorder_sink_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Z-ordered layout round-trip (sources/writers.py::
    write_parquet_zordered — Morton interleaving of two columns, the
    OPTIMIZE ZORDER analog): the fact projection rewritten z-ordered on
    (l_partkey, l_suppkey), read back through a predicate on BOTH
    dimensions. A single-column sort skips on one dimension only;
    z-order bounds per-file/row-group ranges on both (spread contrast
    asserted from footers in tests/test_clustered_write.py). Values must
    match the unordered oracle exactly."""
    from bookstore_aws_lakehouse_spark.sources.writers import write_parquet_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    loc = f"{root}/fact_z"
    write_parquet_zordered(li, loc, "l_partkey", "l_suppkey", num_files=16)
    back = read_parquet(spark, loc).filter(
        F.col("l_partkey").between(200, 299)
        & F.col("l_suppkey").between(10, 29)
    )
    return back.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@golden(
    "scan_csv_permissive",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_good, CAST(2 AS BIGINT) AS n_corrupt
    FROM nation
    """,
)
@scratch
def q_scan_csv_permissive(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with corrupt-record capture (S2/S5
    robustness): the nation table written as headerless CSV plus a
    planted file of TWO malformed lines (a non-integer key and a
    wrong-arity row). The scan must load every good row, route each bad
    line into the corrupt-record column instead of failing the job, and
    count both — the posture a 100 TB bulk load needs (one bad line in a
    billion must not kill the night's run). The planted-corruption count
    is a constant of the query, so the oracle is exact."""
    loc = f"{root}/nation_csv"
    (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.option("header", "false")
        .mode("overwrite")
        .csv(loc)
    )
    with open(f"{loc}/part-bad.csv", "w") as f:
        f.write("notanint,BROKENLAND,0\n7,TOO,MANY,COLUMNS,5\n")
    schema = NATION_DDL + ", _corrupt string"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(loc)
        # Spark refuses plans that reference ONLY the corrupt column
        # (the raw line isn't retained after parsing); caching the
        # parsed frame is the documented pattern for auditing it
        .cache()
    )
    try:
        out = df.agg(
            F.count(F.when(F.col("_corrupt").isNull(), 1)).cast("bigint").alias("n_good"),
            F.count("_corrupt").cast("bigint").alias("n_corrupt"),
        )
        # pinned here: the cached parse is released before @scratch pins
        return out.localCheckpoint(eager=True)
    finally:
        df.unpersist()


@golden(
    "scan_text_lines",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
    FROM documents
    """,
)
@scratch
def q_scan_text_lines(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Raw-text source format (spark.read.text — the line-per-record
    ingest shape of unprocessed LLM corpora): the documents' text dumped
    as plain .txt (one doc per line; the fixture corpus contains no
    embedded newlines), scanned back as lines, and summarized with
    order-free aggregates (file/partition ordering is not stable, so the
    oracle checks totals and the distinct-content count, not row
    order)."""
    loc = f"{root}/corpus_txt"
    load_table(spark, sf_dir, "documents").select("text").write.mode(
        "overwrite"
    ).text(loc)
    back = spark.read.text(loc)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.count_distinct(F.md5("value")).cast("bigint").alias("n_distinct"),
    )


N_BINARY_DOCS = 50


@golden(
    "scan_binary_files",
    f"""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, md5(text) AS content_md5
    FROM documents WHERE doc_id < {N_BINARY_DOCS}
    """,
)
@scratch
def q_scan_binary_files(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """binaryFile source format — the multimodal ingest path (images/
    audio land as opaque files; Spark reads (path, modificationTime,
    length, content) with content as binary): a sample of documents
    written as one file each, scanned back via binaryFile, doc identity
    recovered from the filename, content fingerprinted. The oracle
    recomputes length+md5 from the table — bytes must survive the file
    round-trip exactly. (ASCII corpus: byte length == char length.)"""
    loc = f"{root}/blobs"
    os.makedirs(loc)
    sample = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_BINARY_DOCS)
        .select("doc_id", "text")
        .collect()  # bounded: N_BINARY_DOCS tiny docs — test scaffolding,
    )  # not the operator under test (that's the binaryFile scan)
    for row in sample:
        with open(f"{loc}/doc_{row.doc_id}.bin", "wb") as f:
            f.write(row.text.encode("utf-8"))
    back = spark.read.format("binaryFile").load(loc)
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@golden(
    "snapshot_delete_roundtrip",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE NOT (strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-12'
               AND o_orderkey % 3 = 0)
    GROUP BY o_month
    """,
)
@scratch
def q_snapshot_delete_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Row-level DELETE on the snapshot table (sources/snapshots.py::
    snapshot_delete — the ``DELETE FROM t WHERE ...`` analog): commit
    orders month-clustered with manifest stats, delete every 3rd orderkey
    inside one year, read the post-delete snapshot back. Files whose
    month range can't intersect 1995 are carried by identity (zero I/O —
    asserted in tests/test_snapshots.py); only 1995's files are rewritten
    without the deleted rows, via a narrow no-shuffle filter. The oracle
    applies the complement predicate to the raw table."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    table = f"{root}/orders_snap"
    snapshot_merge(
        base, table, key_cols=["o_orderkey"], partition_col="o_month"
    )
    snapshot_delete(
        spark, table, "o_month", "1995-01", "1995-12", "o_orderkey % 3 = 0"
    )
    return snapshot_read(spark, table).groupBy("o_month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    )


@golden(
    "snapshot_optimize_roundtrip",
    """
    SELECT l_returnflag, count(*) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(1 AS BOOLEAN) AS packed
    FROM lineitem
    WHERE l_partkey BETWEEN 1 AND 400
    GROUP BY l_returnflag
    """,
)
@scratch
def q_snapshot_optimize_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """OPTIMIZE (bin-pack compaction) on the snapshot table (sources/
    snapshots.py::snapshot_optimize): fragment a partkey slice of
    lineitem across one overwrite + three appends (the streaming-sink
    shape — each commit a few small files), then compact with
    ``cluster_col`` so the packed files keep tight, prunable l_partkey
    ranges. The read-back aggregation must be value-identical to the
    never-fragmented oracle, and the Spark side emits ``packed`` =
    (file count shrank) — TRUE on the oracle side — so the compaction
    effect itself is driver-checked, not just the data equality.
    History checkpointing for the resulting multi-version log is
    exercised in tests/test_snapshots.py."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_optimize,
        snapshot_overwrite,
        snapshot_read,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").between(1, 400)
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    table = f"{root}/fact_snap"
    snapshot_overwrite(
        li.filter(F.col("l_partkey") <= 100).repartition(4),
        table,
        stats_cols=["l_partkey"],
    )
    for lo, hi in [(101, 200), (201, 300), (301, 400)]:
        snapshot_append(
            li.filter(F.col("l_partkey").between(lo, hi)).repartition(4),
            table,
        )
    n_before = len(snapshot_read(spark, table).inputFiles())
    snapshot_optimize(
        spark, table, target_file_bytes=128 << 20, cluster_col="l_partkey"
    )
    back = snapshot_read(spark, table)
    packed = len(back.inputFiles()) < n_before
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.lit(bool(packed)).alias("packed"),
    )


@golden(
    "snapshot_changes_feed",
    """
    WITH base AS (
      SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
      FROM customer WHERE c_custkey % 10 <> 0
    ),
    delta AS (
      SELECT c_custkey, c_mktsegment,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) + CAST(100.00 AS DECIMAL(5,2)) AS DECIMAL(18,2)) AS bal
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    v2 AS (
      SELECT c_custkey, c_mktsegment, bal FROM delta
      UNION ALL
      SELECT b.c_custkey, b.c_mktsegment, b.bal FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.c_custkey = b.c_custkey)
    ),
    v3 AS (
      SELECT * FROM v2
      WHERE NOT (c_mktsegment = 'AUTOMOBILE' AND c_custkey % 3 = 0)
    ),
    feed AS (
      SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
             CASE WHEN o.c_custkey IS NULL THEN 'added'
                  WHEN n.c_custkey IS NULL THEN 'removed'
                  WHEN o.bal IS DISTINCT FROM n.bal
                       OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                  THEN 'changed' END AS status
      FROM base o FULL JOIN v3 n ON o.c_custkey = n.c_custkey
    )
    SELECT c_custkey, status FROM feed WHERE status IS NOT NULL
    """,
)
@scratch
def q_snapshot_changes_feed(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Change data feed on the snapshot table (sources/snapshots.py::
    snapshot_changes — the ``table_changes(t, v_from, v_to)`` analog,
    composing the versioned format with operators/quality.py::
    snapshot_diff): version 1 seeds customers missing every 10th key,
    version 2 MERGEs a BUILDING delta (bal+100 updates + restored keys),
    version 3 row-level-DELETEs every 3rd AUTOMOBILE key; the feed
    v1→latest must report exactly the changed/added/removed keys — the
    reproducible-forever CDC read a downstream incremental consumer
    tails (versions are immutable until vacuum). The oracle replays all
    three versions and diffs them relationally."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_delete,
        snapshot_merge,
    )

    cust = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    base = cust.filter(F.col("c_custkey") % 10 != 0).select(
        "c_custkey", "c_mktsegment", bal.alias("bal")
    )
    delta = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        "c_mktsegment",
        (bal + F.lit("100.00").cast("decimal(5,2)"))
        .cast("decimal(18,2)")
        .alias("bal"),
    )
    table = f"{root}/customer_snap"
    snapshot_merge(
        base, table, key_cols=["c_custkey"], partition_col="c_mktsegment"
    )
    snapshot_merge(
        delta, table, key_cols=["c_custkey"], partition_col="c_mktsegment"
    )
    snapshot_delete(
        spark, table, "c_mktsegment", "AUTOMOBILE", "AUTOMOBILE",
        "c_custkey % 3 = 0",
    )
    return snapshot_changes(spark, table, ["c_custkey"], v_from=1)


@golden(
    "snapshot_bloom_lookup",
    """
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS price,
           CAST(1 AS BOOLEAN) AS pruned,
           CAST(1 AS BOOLEAN) AS absent_empty
    FROM orders
    WHERE o_orderkey = 7
    """,
)
@scratch
def q_snapshot_bloom_lookup(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Bloom-filter file index on the snapshot table (sources/snapshots.py::
    snapshot_bloom_index / snapshot_point_lookup): orders committed across
    8 files hash-distributed on o_custkey — so min/max stats on the lookup
    column are useless (every file spans most of the orderkey space) — then
    a point lookup of one orderkey must skip the files whose bloom proves
    it absent. The 100 TB shape: a needle probe on a non-clustered key
    touches O(matching files + false positives), not every file. Emits the
    matching row plus two driver-checked contract flags: ``pruned`` (the
    lookup opened strictly fewer files than the table has) and
    ``absent_empty`` (a probe for a nonexistent key returns nothing — and
    in practice prunes ALL files, asserted in tests/test_snapshots.py).
    Bloom sizing: 2^18 bits x 7 hashes ≈ 0.4% FP at sf0.1's ~19k values
    per file — sized to the file count/SF as the docstring prescribes."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _point_lookup_files,
        snapshot_bloom_index,
        snapshot_overwrite,
        snapshot_point_lookup,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("price")
    ).repartition(8, "o_custkey")
    table = f"{root}/orders_snap"
    snapshot_overwrite(base, table)
    snapshot_bloom_index(
        spark, table, "o_orderkey", num_bits=1 << 18, num_hashes=7
    )
    kept, all_files, _, _m = _point_lookup_files(spark, table, "o_orderkey", 7, None)
    pruned = len(kept) < len(all_files)
    absent_empty = (
        snapshot_point_lookup(spark, table, "o_orderkey", 999_999_983).count()
        == 0
    )
    return snapshot_point_lookup(spark, table, "o_orderkey", 7).select(
        "o_orderkey",
        "o_custkey",
        "price",
        F.lit(pruned).alias("pruned"),
        F.lit(absent_empty).alias("absent_empty"),
    )


@golden(
    "snapshot_schema_evolution",
    """
    WITH unioned AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
             CAST(NULL AS VARCHAR) AS o_orderpriority
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      UNION ALL
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price, o_orderpriority
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
    )
    SELECT coalesce(o_orderpriority, '(pre-evolution)') AS priority,
           count(*) AS n_orders,
           round(sum(price), 2) AS total_price
    FROM unioned
    GROUP BY priority
    """,
)
@scratch
def q_snapshot_schema_evolution(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Schema evolution on the snapshot table (sources/snapshots.py::
    snapshot_append(merge_schema=True) — the mergeSchema / ADD COLUMN
    analog): commit 1995's orders WITHOUT the priority column, append
    1996's WITH it under the explicit evolution opt-in, and read the
    evolved table back — historic files resolve the added column to NULL
    by name, with zero rewrite of old data (O(delta) like Delta's ADD
    COLUMN). The oracle replays the evolution as a NULL-padded UNION ALL.
    The strictness half of the contract (silent drift raises without the
    opt-in; type changes always raise) is pinned in
    tests/test_snapshots.py."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_overwrite,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    y95 = orders.filter(
        F.col("o_orderdate").between("1995-01-01", "1995-12-31")
    ).select("o_orderkey", F.col("o_totalprice").cast("double").alias("price"))
    y96 = orders.filter(
        F.col("o_orderdate").between("1996-01-01", "1996-12-31")
    ).select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"),
        "o_orderpriority",
    )
    table = f"{root}/orders_evo"
    snapshot_overwrite(y95, table)
    snapshot_append(y96, table, merge_schema=True)
    return (
        snapshot_read(spark, table)
        .groupBy(
            F.coalesce("o_orderpriority", F.lit("(pre-evolution)")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("price"), 2).alias("total_price"),
        )
    )


@golden(
    "snapshot_incremental_rollup",
    """
    WITH base AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
    ),
    final AS (
      SELECT o_orderkey, o_month,
             CASE WHEN o_orderkey % 7 = 0 THEN price + 5.00 ELSE price END AS price
      FROM base
      UNION ALL
      SELECT o_orderkey + 10000000, o_month, CAST(100.00 AS DECIMAL(18,2))
      FROM base WHERE o_orderkey % 11 = 0
    )
    SELECT o_month, count(*) AS n_orders,
           CAST(sum(price) AS DOUBLE) AS total_price
    FROM final
    WHERE o_month <> '1995-03'
    GROUP BY o_month
    """,
)
@scratch
def q_snapshot_incremental_rollup(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Incremental view maintenance off the change feed (operators/
    incremental.py): materialize a monthly rollup of the v1 snapshot,
    then run a price-update + insert merge AND a whole-month DELETE
    against the table — and refresh the mart from the CDC alone
    (snapshot_changed_rows → rollup_delta → apply_rollup_delta), never
    re-aggregating the unchanged keys. The returned mart is the
    INCREMENTALLY maintained one; the oracle recomputes the final state
    from scratch in SQL — equality is precisely the IVM correctness
    statement (including the deleted month VANISHING from the mart via
    the count-reaches-zero rule). Sums ride DECIMAL(18,2) end-to-end so
    the mart+delta addition is exact and order-free; the double cast
    happens once at the end."""
    from bookstore_aws_lakehouse_spark.operators.incremental import (
        apply_rollup_delta,
        rollup_delta,
        snapshot_changed_rows,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderdate").between("1995-01-01", "1995-12-31")
    ).select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    table = f"{root}/orders_snap"
    v1 = snapshot_merge(
        base, table, key_cols=["o_orderkey"], partition_col="o_month"
    )
    # the stored mart, pinned as of v1 (localCheckpoint = "the mart
    # exists on disk"; the refresh below must not re-derive it)
    mart1 = (
        snapshot_read(spark, table, v1)
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("price").alias("sum_price"),
        )
        .localCheckpoint(eager=True)
    )
    # edit 1: price bump for every 7th key + brand-new rows (merge)
    updated = base.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "price", (F.col("price") + F.lit(5.00)).cast("decimal(18,2)")
    )
    added = base.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_month",
        F.lit(100.00).cast("decimal(18,2)").alias("price"),
    )
    snapshot_merge(
        updated.unionByName(added),
        table,
        key_cols=["o_orderkey"],
        partition_col="o_month",
    )
    # edit 2: drop one whole month (stats-pruned row-level DELETE)
    snapshot_delete(spark, table, "o_month", "1995-03", "1995-03")
    # refresh from the change feed only
    old_rows, new_rows = snapshot_changed_rows(
        spark, table, ["o_orderkey"], v1
    )
    delta = rollup_delta(old_rows, new_rows, ["o_month"], ["price"])
    mart2 = apply_rollup_delta(
        mart1, delta, ["o_month"], "n_orders", {"sum_price": "price"}
    )
    return mart2.select(
        "o_month",
        "n_orders",
        F.col("sum_price").cast("double").alias("total_price"),
    )


@golden(
    "bucketed_join_roundtrip",
    """
    SELECT o_orderstatus,
           count(*) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(1 AS BOOLEAN) AS no_exchange
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join end-to-end (sources/writers.py::
    save_as_bucketed_table): lineitem and orders are saved bucketed ×8 on
    the join key, so the fact-fact join needs ZERO exchange — the shuffle
    is paid once at write time, then every nightly join on the key is
    co-located (the 100 TB answer to repeated fact-fact joins). The
    aggregation must match the raw-table oracle, and ``no_exchange`` is
    the driver-checked plan contract: True iff the join subtree plans
    without an Exchange under a disabled broadcast threshold (broadcast
    would trivially hide the shuffle). Tables are dropped after the
    result is pinned; the catalog write goes to the session warehouse."""
    from bookstore_aws_lakehouse_spark.sources.writers import (
        save_as_bucketed_table,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    save_as_bucketed_table(
        li, "bjr_lineitem", ["l_orderkey"], num_buckets=8,
        sort_cols=["l_orderkey"],
    )
    save_as_bucketed_table(
        orders, "bjr_orders", ["o_orderkey"], num_buckets=8,
        sort_cols=["o_orderkey"],
    )
    try:
        bl, bo = spark.table("bjr_lineitem"), spark.table("bjr_orders")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            no_exchange = "Exchange" not in joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        out = joined.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        ).select(
            "o_orderstatus", "n_items", "sum_qty",
            F.lit(no_exchange).alias("no_exchange"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        spark.sql("DROP TABLE IF EXISTS bjr_lineitem")
        spark.sql("DROP TABLE IF EXISTS bjr_orders")


@golden(
    "snapshot_constraint_enforcement",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(1 AS BOOLEAN) AS rejected_bad_commit,
           CAST(1 AS BOOLEAN) AS accepted_good_commit
    FROM orders
    WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
      AND o_totalprice > 0
    GROUP BY o_orderstatus
    """,
)
@scratch
def q_snapshot_constraint_enforcement(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Table CHECK constraints on the snapshot table (sources/
    snapshots.py::snapshot_add_constraint — the ALTER TABLE ... CHECK
    analog): commit Q1-1995 orders, prove-and-add ``price > 0`` (one
    scan), then attempt a merge carrying a negative price — the commit
    must be REJECTED before any state change (``rejected_bad_commit``),
    while a valid merge of the same keys lands (``accepted_good_commit``)
    and the final table equals the oracle's constraint-satisfying
    replay. Validation costs one count over the DELTA per commit — never
    the table — and the constraint itself rides every manifest, so
    enforcement survives unrelated commits (pinned in
    tests/test_snapshots.py)."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        SnapshotConstraintError,
        snapshot_add_constraint,
        snapshot_merge,
        snapshot_overwrite,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderdate").between("1995-01-01", "1995-03-31")
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    table = f"{root}/orders_ck"
    snapshot_overwrite(base, table)
    snapshot_add_constraint(spark, table, "price_pos", "price > 0")
    bad = base.limit(1).withColumn("price", F.lit(-1.0))
    try:
        snapshot_merge(bad, table, key_cols=["o_orderkey"])
        rejected = False
    except SnapshotConstraintError:
        rejected = True
    good = base.limit(1)  # identical rows: value-neutral upsert
    snapshot_merge(good, table, key_cols=["o_orderkey"])
    return (
        snapshot_read(spark, table)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderstatus",
            "n_orders",
            F.lit(rejected).alias("rejected_bad_commit"),
            F.lit(True).alias("accepted_good_commit"),
        )
    )


@golden(
    "snapshot_materialized_view_refresh",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1994-01-01' AND DATE '1994-12-31'
    ),
    final AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 5 = 0 THEN price + 7.50 ELSE price END AS price
      FROM base
      WHERE o_orderpriority <> '1-URGENT'
    )
    SELECT o_orderpriority AS priority,
           count(*) AS n_rows,
           CAST(sum(price) AS DOUBLE) AS total_price,
           CAST(1 AS BOOLEAN) AS refresh_was_incremental,
           CAST(1 AS BOOLEAN) AS second_refresh_noop
    FROM final
    GROUP BY priority
    """,
)
@scratch
def q_snapshot_materialized_view_refresh(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The packaged materialized view (operators/incremental.py::
    materialized_rollup_build/refresh — CREATE/REFRESH MATERIALIZED VIEW
    over the snapshot format): build a priority rollup of 1994's orders,
    run a price-bump merge AND a priority DELETE against the source, and
    REFRESH — the scheduler-shaped call that reads its own durable state,
    applies exactly the CDC window, and commits the mart (itself a
    snapshot table, so dashboards keep a consistent version mid-refresh).
    Driver-checked flags: ``refresh_was_incremental`` (the refresh
    applied >0 source versions) and ``second_refresh_noop`` (a fresh mart
    refuses to recompute). Values must equal the oracle's from-scratch
    replay of the final state."""
    from bookstore_aws_lakehouse_spark.operators.incremental import (
        materialized_rollup_build,
        materialized_rollup_refresh,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderdate").between("1994-01-01", "1994-12-31")
    ).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    table = f"{root}/orders_mv_src"
    mart = f"{root}/orders_mv_mart"
    snapshot_merge(
        base, table, key_cols=["o_orderkey"], partition_col="o_orderpriority"
    )
    materialized_rollup_build(
        spark, table, mart,
        key_cols=["o_orderkey"], group_cols=["o_orderpriority"],
        sum_cols=["price"],
    )
    updated = base.filter(F.col("o_orderkey") % 5 == 0).withColumn(
        "price", (F.col("price") + F.lit(7.50)).cast("decimal(18,2)")
    )
    snapshot_merge(
        updated, table, key_cols=["o_orderkey"],
        partition_col="o_orderpriority",
    )
    snapshot_delete(spark, table, "o_orderpriority", "1-URGENT", "1-URGENT")
    applied = materialized_rollup_refresh(spark, table, mart)
    noop = materialized_rollup_refresh(spark, table, mart) == 0
    return snapshot_read(spark, mart).select(
        F.col("o_orderpriority").alias("priority"),
        "n_rows",
        F.col("sum_price").cast("double").alias("total_price"),
        F.lit(applied > 0).alias("refresh_was_incremental"),
        F.lit(noop).alias("second_refresh_noop"),
    )


@golden(
    "snapshot_update_roundtrip",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % 4 = 0
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) + 25.00
                         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
    GROUP BY o_orderstatus
    """,
)
@scratch
def q_snapshot_update_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Predicate-addressed UPDATE on the snapshot table (sources/
    snapshots.py::snapshot_update — ``UPDATE t SET ... WHERE ...``):
    commit H1-1996 orders, bump every 4th orderkey's price by a constant,
    read the updated table back. Rows outside the predicate must carry
    bit-identically (the oracle's CASE replays both branches); DECIMAL
    arithmetic keeps the updated sums exact. The constraint interplay
    (an UPDATE cannot violate an active CHECK) and NULL-predicate
    skip-semantics are pinned in tests/test_snapshots.py."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_overwrite,
        snapshot_read,
        snapshot_update,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderdate").between("1996-01-01", "1996-06-30")
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    table = f"{root}/orders_upd"
    snapshot_overwrite(base, table)
    snapshot_update(
        spark,
        table,
        {"price": "CAST(price + 25.00 AS DECIMAL(18,2))"},
        where="o_orderkey % 4 = 0",
    )
    return (
        snapshot_read(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
    )


@golden(
    "snapshot_python_datasource",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(1 AS BOOLEAN) AS pruned
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 1999
    GROUP BY o_orderstatus
    """,
)
@scratch
def q_snapshot_python_datasource(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The snapshot table as a REGISTERED Spark data source (sources/
    pyds.py, Spark 4 Python DataSource API): after registration,
    ``spark.read.format("lakesnap")`` plans a manifest-pinned scan with
    ENGINE-DRIVEN pushdown — Spark hands the range predicate to the
    reader's pushFilters, file pruning happens against the manifest
    stats inside scan planning (one InputPartition per surviving file,
    Arrow-batch reads), and every filter is still re-applied row-level.
    ``pruned`` is the planner-level contract: the same pushed predicate,
    fed to the reader class directly, keeps strictly fewer files than
    the table holds. Values must equal the raw-table oracle."""
    from bookstore_aws_lakehouse_spark.sources.pyds import (
        SnapshotReader,
        register_snapshot_datasource,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_overwrite,
        snapshot_read,
    )
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey")
    table = f"{root}/orders_pyds"
    snapshot_overwrite(base, table, stats_cols=["o_orderkey"])
    register_snapshot_datasource(spark)
    df = (
        spark.read.format("lakesnap")
        .option("path", table)
        .load()
        .filter(F.col("o_orderkey").between(1000, 1999))
    )
    # planner-level pruning proof via the reader itself
    r = SnapshotReader({"path": table}, snapshot_read(spark, table).schema)
    r.pushFilters(
        [GreaterThanOrEqual(("o_orderkey",), 1000),
         LessThanOrEqual(("o_orderkey",), 1999)]
    )
    pruned = len(r.partitions()) < 8
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    ).select(
        "o_orderstatus", "n_orders", "total_price",
        F.lit(pruned).alias("pruned"),
    )


@golden(
    "snapshot_clone_divergence",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1998-01-01' AND DATE '1998-03-31'
    )
    SELECT 'source' AS side, count(*) AS n_rows,
           CAST(sum(price) AS DOUBLE) AS total_price,
           CAST(1 AS BOOLEAN) AS zero_copy
    FROM base
    UNION ALL
    SELECT 'clone' AS side, count(*) + 1 AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 9 = 0 THEN price + 1.00 ELSE price END)
                + 42.42 AS DOUBLE) AS total_price,
           CAST(1 AS BOOLEAN) AS zero_copy
    FROM base
    """,
)
@scratch
def q_snapshot_clone_divergence(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """SHALLOW CLONE (sources/snapshots.py::snapshot_clone): fork the
    Q1-1998 orders table in O(one manifest) — ``zero_copy`` is the
    driver-checked contract that the clone's v1 references the source's
    data files VERBATIM — then merge a price bump + one new row into the
    CLONE only. The emitted two-row result proves divergence: the source
    side must still aggregate to the untouched base while the clone side
    reflects its own merge; the oracle replays both sides relationally.
    Vacuum ownership (expiring clone history never deletes source bytes)
    is pinned in tests/test_snapshots.py."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_clone,
        snapshot_merge,
        snapshot_overwrite,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(
        F.col("o_orderdate").between("1998-01-01", "1998-03-31")
    ).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    src = f"{root}/orders_src"
    cl = f"{root}/orders_clone"
    snapshot_overwrite(base, src)
    snapshot_clone(spark, src, cl)
    zero_copy = (
        _read_manifest(spark, cl, 1)["files"]
        == _read_manifest(spark, src, 1)["files"]
    )
    delta = base.filter(F.col("o_orderkey") % 9 == 0).withColumn(
        "price", (F.col("price") + F.lit(1.00)).cast("decimal(18,2)")
    ).unionByName(
        spark.createDataFrame(
            [(999_999_901, "42.42")], "o_orderkey long, price string"
        ).select("o_orderkey", F.col("price").cast("decimal(18,2)"))
    )
    snapshot_merge(delta, cl, key_cols=["o_orderkey"])

    def agg(df, side):
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast("double").alias("total_price"),
        ).select(
            F.lit(side).alias("side"),
            "n_rows",
            "total_price",
            F.lit(zero_copy).alias("zero_copy"),
        )

    return agg(snapshot_read(spark, src), "source").unionByName(
        agg(snapshot_read(spark, cl), "clone")
    )


@golden(
    "snapshot_pyds_evolved_read",
    """
    SELECT CASE WHEN o_orderkey < 1000 THEN '<pre-evolution>' ELSE 'web' END
             AS channel,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderkey < 1500
    GROUP BY 1
    """,
)
@scratch
def q_snapshot_pyds_evolved_read(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """The Python DataSource reading a SCHEMA-EVOLVED table — the format's
    last untested seam (VERDICT r7 #8): v1 commits (o_orderkey,
    o_totalprice), v2 appends with ``merge_schema=True`` adding
    ``channel``, and ``spark.read.format("lakesnap")`` must serve the
    tip schema with historic files' missing column conformed to NULL at
    the Arrow layer (pyds.py::_conform) — exactly like the engine-side
    ``snapshot_read``. The oracle replays the union from the raw table
    with the pre-evolution rows labeled explicitly."""
    from bookstore_aws_lakehouse_spark.sources.pyds import (
        register_snapshot_datasource,
    )
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_overwrite,
    )

    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey").between(1000, 1499)).select(
        "o_orderkey", "o_totalprice", F.lit("web").alias("channel")
    )
    table = f"{root}/orders_evolved"
    snapshot_overwrite(v1, table)
    snapshot_append(v2, table, merge_schema=True)
    register_snapshot_datasource(spark)
    df = spark.read.format("lakesnap").option("path", table).load()
    return (
        df.groupBy(
            F.coalesce(F.col("channel"), F.lit("<pre-evolution>")).alias(
                "channel"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@golden(
    "snapshot_restore_roundtrip",
    """
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT 1 AS version,
           count(*) AS n_rows,
           CAST(sum(price) AS DOUBLE) AS total_price
    FROM base
    UNION ALL
    SELECT 2, count(*), CAST(sum(price) AS DOUBLE)
    FROM base WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT 3, count(*), CAST(sum(price) AS DOUBLE)
    FROM base
    ORDER BY version
    """,
)
@scratch
def q_snapshot_restore_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """RESTORE TABLE t TO VERSION (sources/snapshots.py::snapshot_restore
    — Delta's RESTORE): after an overwrite (v1) and a DELETE of the even
    keys (v2), restoring to v1 commits the old content AS A NEW VERSION
    v3 (no manifest rewritten, the bad version stays time-travelable).
    The emitted per-version aggregates prove v3 ≡ v1 while v2 still
    reads as the deleted state; the oracle replays all three states from
    the raw table."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_delete,
        snapshot_overwrite,
        snapshot_read,
        snapshot_restore,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    table = f"{root}/orders_restore"
    snapshot_overwrite(base, table)
    snapshot_delete(spark, table, extra_condition="o_orderkey % 2 = 0")
    snapshot_restore(spark, table, 1)

    def agg(v: int):
        return snapshot_read(spark, table, v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("price").cast("double").alias("total_price"),
        ).select(F.lit(v).alias("version"), "n_rows", "total_price")

    return agg(1).unionByName(agg(2)).unionByName(agg(3)).orderBy("version")


@golden(
    "snapshot_history_audit",
    """
    WITH base AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey < 2000
    )
    SELECT 1 AS version, 'overwrite' AS operation,
           (SELECT count(*) FROM base) AS n_rows
    UNION ALL
    SELECT 2, 'append',
           (SELECT count(*) FROM base) + (SELECT count(*) FROM orders
             WHERE o_orderkey BETWEEN 2000 AND 2999)
    UNION ALL
    SELECT 3, 'delete',
           (SELECT count(*) FROM base WHERE o_orderkey % 2 = 1)
             + (SELECT count(*) FROM orders
                WHERE o_orderkey BETWEEN 2000 AND 2999 AND o_orderkey % 2 = 1)
    UNION ALL
    SELECT 4, 'restore',
           (SELECT count(*) FROM base) + (SELECT count(*) FROM orders
             WHERE o_orderkey BETWEEN 2000 AND 2999)
    ORDER BY version
    """,
)
@scratch
def q_snapshot_history_audit(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """DESCRIBE HISTORY as a driver-checked surface (sources/
    snapshots.py::history — checkpointed O(new manifests) commit-log
    read): here overwrite → append → DELETE (even keys) → RESTORE to v2,
    with each version's time-travel row count proving the content the
    log claims. The oracle replays the four states relationally from the
    raw table."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        history,
        list_versions,
        snapshot_append,
        snapshot_delete,
        snapshot_overwrite,
        snapshot_read,
        snapshot_restore,
    )

    orders = load_table(spark, sf_dir, "orders")
    table = f"{root}/orders_hist"
    snapshot_overwrite(
        orders.filter(F.col("o_orderkey") < 2000).select("o_orderkey"), table
    )
    snapshot_append(
        orders.filter(F.col("o_orderkey").between(2000, 2999)).select(
            "o_orderkey"
        ),
        table,
    )
    snapshot_delete(spark, table, extra_condition="o_orderkey % 2 = 0")
    snapshot_restore(spark, table, 2)
    hist = history(spark, table).select("version", "operation")
    counts = None
    for v in list_versions(spark, table):
        c = snapshot_read(spark, table, v).agg(
            F.count(F.lit(1)).alias("n_rows")
        ).select(F.lit(v).alias("version"), "n_rows")
        counts = c if counts is None else counts.unionByName(c)
    return hist.join(counts, "version").orderBy("version")


@golden(
    "snapshot_merge_when_roundtrip",
    """
    WITH t AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders WHERE o_orderkey < 2000
    ),
    s AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DECIMAL(18,2))
               AS price
      FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
    ),
    merged AS (
      SELECT t.o_orderkey, t.o_orderstatus,
             CASE WHEN t.o_orderstatus = 'F' THEN s.price ELSE t.price END
               AS price
      FROM t JOIN s ON t.o_orderkey = s.o_orderkey
      WHERE NOT t.o_orderkey % 10 = 0
      UNION ALL
      SELECT t.o_orderkey, t.o_orderstatus, t.price
      FROM t
      WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM s)
        AND NOT t.o_orderkey % 7 = 0
      UNION ALL
      SELECT s.o_orderkey, s.o_orderstatus, s.price
      FROM s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM t)
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(price) AS DOUBLE) AS total_price
    FROM merged
    GROUP BY o_orderstatus
    """,
)
@scratch
def q_snapshot_merge_when_roundtrip(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Conditional three-clause MERGE INTO (sources/snapshots.py::
    snapshot_merge_when — the Delta MERGE surface; `snapshot_merge` is
    its unconditional special case): matched rows DELETE when the
    source key is a multiple of 10, else UPDATE price from the source
    gated on target status 'F'; source-only rows INSERT; target-only
    rows not matched by source DELETE on multiples of 7 (the
    sync-to-source clause). The oracle replays all four row fates
    relationally; aggregates over the merged table must agree."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_merge_when,
        snapshot_overwrite,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    t = orders.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    s = orders.filter(F.col("o_orderkey").between(1000, 2999)).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") + 10)
        .cast("decimal(18,2)")
        .alias("price"),
    )
    table = f"{root}/orders_mw"
    snapshot_overwrite(t, table)
    snapshot_merge_when(
        s,
        table,
        key_cols=["o_orderkey"],
        when_matched_update={"price": "CAST(s.price AS DECIMAL(18,2))"},
        when_matched_update_condition="t.o_orderstatus = 'F'",
        when_matched_delete="s.o_orderkey % 10 = 0",
        when_not_matched_insert=True,
        when_not_matched_by_source_delete="t.o_orderkey % 7 = 0",
    )
    return (
        snapshot_read(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").cast("double").alias("total_price"),
        )
    )


@golden(
    "snapshot_metadata_count",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_meta,
           CAST(count(*) AS BIGINT) AS n_scan
    FROM orders WHERE o_orderkey < 4000
    """,
)
@scratch
def q_snapshot_metadata_count(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Metadata-only COUNT(*) (sources/snapshots.py::snapshot_count —
    Delta's footer count): the answer comes from O(files) parquet-footer
    reads with zero data I/O and no Spark job, here across an overwrite
    plus an append, and must equal both the scanned count and the raw
    relational count."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_count,
        snapshot_overwrite,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    table = f"{root}/orders_meta"
    snapshot_overwrite(
        orders.filter(F.col("o_orderkey") < 3000).select("o_orderkey"), table
    )
    snapshot_append(
        orders.filter(F.col("o_orderkey").between(3000, 3999)).select(
            "o_orderkey"
        ),
        table,
    )
    n_meta = snapshot_count(spark, table)  # footers only, no job
    return snapshot_read(spark, table).agg(
        F.count(F.lit(1)).alias("n_scan")
    ).select(F.lit(n_meta).cast("bigint").alias("n_meta"), "n_scan")


@golden(
    "snapshot_asof_timestamp",
    """
    WITH base AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey < 1500
    )
    SELECT 'v1' AS state, count(*) AS n_rows FROM base
    UNION ALL
    SELECT 'v2', count(*) FROM orders WHERE o_orderkey < 2000
    ORDER BY state
    """,
)
@scratch
def q_snapshot_asof_timestamp(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """TIMESTAMP AS OF time travel (snapshots.py::snapshot_read_asof):
    the commit log records each version's wall-clock time, so reading
    'as of' v1's own committed_at resolves to v1 and 'as of' the tip's
    time resolves to the tip — deterministic because the probe
    timestamps COME FROM the history the query just wrote. The oracle
    replays both states relationally."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        history,
        snapshot_append,
        snapshot_overwrite,
        snapshot_read_asof,
    )

    orders = load_table(spark, sf_dir, "orders")
    table = f"{root}/orders_asof"
    snapshot_overwrite(
        orders.filter(F.col("o_orderkey") < 1500).select("o_orderkey"), table
    )
    snapshot_append(
        orders.filter(F.col("o_orderkey").between(1500, 1999)).select(
            "o_orderkey"
        ),
        table,
    )
    ts = {
        r.version: r.committed_at_unix
        for r in history(spark, table).collect()
    }

    def agg(state: str, t: float):
        return snapshot_read_asof(spark, table, t).agg(
            F.count(F.lit(1)).alias("n_rows")
        ).select(F.lit(state).alias("state"), "n_rows")

    return agg("v1", ts[1]).unionByName(agg("v2", ts[2])).orderBy("state")


@golden(
    "snapshot_vacuum_retention",
    """
    SELECT CAST(1 AS BIGINT) AS versions_left,
           (SELECT count(*) FROM orders WHERE o_orderkey < 1000
              AND o_orderkey % 2 = 1) AS tip_rows,
           CAST(1 AS BOOLEAN) AS expired_gone,
           CAST(1 AS BOOLEAN) AS bytes_reclaimed
    """,
)
@scratch
def q_snapshot_vacuum_retention(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """VACUUM (snapshots.py::vacuum): after an overwrite supersedes v1,
    vacuum(keep_last=1) must drop v1's manifest, delete every data file
    only v1 referenced (bytes actually reclaimed on disk), and leave the
    tip fully readable. The contract booleans are computed Spark-side
    against the literal oracle, sketch-pattern style; tip_rows pins the
    surviving content relationally."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        list_versions,
        snapshot_overwrite,
        snapshot_read,
        vacuum,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") < 1000).select("o_orderkey")
    table = f"{root}/orders_vac"
    snapshot_overwrite(base, table)
    v1_files = _read_manifest(spark, table, 1)["files"]
    snapshot_overwrite(base.filter(F.col("o_orderkey") % 2 == 1), table)
    n_deleted = vacuum(spark, table, keep_last=1)
    versions_left = len(list_versions(spark, table))
    expired_gone = versions_left == 1 and n_deleted == len(v1_files)
    bytes_reclaimed = not any(
        os.path.exists(f[5:] if f.startswith("file:") else f)
        for f in v1_files
    )
    return snapshot_read(spark, table).agg(
        F.count(F.lit(1)).alias("tip_rows")
    ).select(
        F.lit(versions_left).cast("bigint").alias("versions_left"),
        "tip_rows",
        F.lit(expired_gone).alias("expired_gone"),
        F.lit(bytes_reclaimed).alias("bytes_reclaimed"),
    )


@golden(
    "snapshot_dv_delete",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price,
           CAST(1 AS BOOLEAN) AS files_unchanged,
           CAST(1 AS BOOLEAN) AS meta_count_ok
    FROM orders
    WHERE NOT (o_orderkey % 5 = 2)
    GROUP BY o_orderpriority
    """,
)
@scratch
def q_snapshot_dv_delete(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (sources/snapshots.py::
    snapshot_delete_dv — Delta DVs / Iceberg position deletes): the
    commit writes dead (file, row-position) sidecars sized by the rows
    DELETED and rewrites NOTHING — the 100 TB point-delete shape, where
    copy-on-write would re-write every touched gigabyte. Contract columns
    the oracle pins to TRUE: ``files_unchanged`` (the post-delete
    manifest references byte-for-byte the same data files) and
    ``meta_count_ok`` (metadata-only COUNT — footer rows minus recorded
    cardinality — agrees with the scanned count). Content is the
    complement aggregate, replayed by the oracle on the raw table."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_count,
        snapshot_delete_dv,
        snapshot_overwrite,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    table = f"{root}/orders_snap"
    snapshot_overwrite(base.repartition(4), table)
    v1_files = _read_manifest(spark, table, 1)["files"]
    v = snapshot_delete_dv(spark, table, "o_orderkey % 5 = 2")
    m = _read_manifest(spark, table, v)
    files_unchanged = sorted(m["files"]) == sorted(v1_files) and bool(
        (m.get("dv") or {}).get("cardinality")
    )
    tip = snapshot_read(spark, table)
    meta_count_ok = snapshot_count(spark, table) == tip.count()
    return tip.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    ).select(
        "*",
        F.lit(files_unchanged).alias("files_unchanged"),
        F.lit(meta_count_ok).alias("meta_count_ok"),
    )


@golden(
    "snapshot_dv_purge",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(1 AS BOOLEAN) AS deletes_composed,
           CAST(1 AS BOOLEAN) AS dv_cleared,
           CAST(1 AS BOOLEAN) AS clean_files_carried
    FROM orders
    WHERE NOT (o_orderkey % 5 = 2 OR o_orderkey % 10 = 7)
    GROUP BY o_orderpriority
    """,
)
@scratch
def q_snapshot_dv_purge(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """DV lifecycle close-out (sources/snapshots.py::snapshot_purge_dv —
    the ``REORG TABLE ... APPLY (PURGE)`` analog): two OVERLAPPING
    merge-on-read deletes compose without double-recording a position
    (``deletes_composed``: the manifest's total cardinality equals the
    distinct matching-row count measured on the pre-delete version),
    then PURGE folds the vectors into rewrites of ONLY the dirty files —
    ``clean_files_carried`` pins that every vector-free file survives by
    identity, ``dv_cleared`` that the tip ends vector-free. Content is
    the double-complement aggregate the oracle replays."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_delete_dv,
        snapshot_overwrite,
        snapshot_purge_dv,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderpriority")
    table = f"{root}/orders_snap"
    snapshot_overwrite(base.repartition(4), table)
    snapshot_delete_dv(spark, table, "o_orderkey % 5 = 2")
    v = snapshot_delete_dv(spark, table, "o_orderkey % 10 = 7")
    m = _read_manifest(spark, table, v)
    card_total = sum((m.get("dv") or {}).get("cardinality", {}).values())
    expected_dead = (
        snapshot_read(spark, table, 1)
        .filter("o_orderkey % 5 = 2 OR o_orderkey % 10 = 7")
        .count()
    )
    deletes_composed = card_total == expected_dead
    dirty = set((m.get("dv") or {}).get("cardinality", {}))
    clean = set(m["files"]) - dirty
    pv = snapshot_purge_dv(spark, table)
    mp = _read_manifest(spark, table, pv)
    dv_cleared = "dv" not in mp
    clean_files_carried = clean <= set(mp["files"]) and dirty.isdisjoint(
        set(mp["files"])
    )
    return snapshot_read(spark, table).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    ).select(
        "*",
        F.lit(deletes_composed).alias("deletes_composed"),
        F.lit(dv_cleared).alias("dv_cleared"),
        F.lit(clean_files_carried).alias("clean_files_carried"),
    )


@golden(
    "snapshot_column_mapping",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 100 = 0
    )
    SELECT o_orderkey % 7 AS bucket,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           CAST(1 AS BOOLEAN) AS rename_metadata_only,
           CAST(1 AS BOOLEAN) AS drop_metadata_only,
           CAST(1 AS BOOLEAN) AS old_name_travels
    FROM t
    GROUP BY bucket
    """,
)
@scratch
def q_snapshot_column_mapping(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Metadata-only schema surgery (sources/snapshots.py::
    snapshot_rename_column / snapshot_drop_column — Delta column
    mapping, name mode): RENAME and DROP each commit ONE manifest while
    the data files keep their frozen physical column names; a post-
    rename append binds by the new LOGICAL name and lands in the same
    table. Contract booleans the oracle pins TRUE:
    ``rename_metadata_only`` / ``drop_metadata_only`` (identical file
    lists across each op — zero data I/O at any scale) and
    ``old_name_travels`` (time travel to v1 still reads the original
    column name). Content: the oracle replays base ∪ appended under the
    renamed column."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_append,
        snapshot_drop_column,
        snapshot_overwrite,
        snapshot_read,
        snapshot_rename_column,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("amount"),
        "o_orderstatus",
    )
    table = f"{root}/orders_snap"
    snapshot_overwrite(base.repartition(4), table)
    v1_files = _read_manifest(spark, table, 1)["files"]
    rv = snapshot_rename_column(spark, table, "amount", "price")
    rename_metadata_only = (
        _read_manifest(spark, table, rv)["files"] == v1_files
    )
    dv = snapshot_drop_column(spark, table, "o_orderstatus")
    drop_metadata_only = _read_manifest(spark, table, dv)["files"] == v1_files
    snapshot_append(
        base.filter(F.col("o_orderkey") % 100 == 0).select(
            "o_orderkey", F.col("amount").alias("price")
        ),
        table,
    )
    old_name_travels = snapshot_read(spark, table, 1).columns == [
        "o_orderkey",
        "amount",
        "o_orderstatus",
    ] and snapshot_read(spark, table).columns == ["o_orderkey", "price"]
    return snapshot_read(spark, table).groupBy(
        (F.col("o_orderkey") % 7).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("sum_price"),
    ).select(
        "*",
        F.lit(rename_metadata_only).alias("rename_metadata_only"),
        F.lit(drop_metadata_only).alias("drop_metadata_only"),
        F.lit(old_name_travels).alias("old_name_travels"),
    )


@golden(
    "snapshot_convert_in_place",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(1 AS BOOLEAN) AS zero_copy,
           CAST(1 AS BOOLEAN) AS acid_after_convert
    FROM orders
    WHERE NOT (o_orderkey % 4 = 1)
    GROUP BY o_orderpriority
    """,
)
@scratch
def q_snapshot_convert_in_place(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """CONVERT TO the snapshot format in place (sources/snapshots.py::
    snapshot_convert — the ``CONVERT TO DELTA`` analog): a plain parquet
    directory becomes an ACID table whose v1 references the existing
    files where they sit — the 100 TB migration costs O(files) metadata,
    zero data bytes. ``zero_copy`` pins that the directory's parquet
    files are untouched after conversion AND after a follow-up
    merge-on-read delete (DVs never rewrite); ``acid_after_convert``
    pins that time travel to v1 still sees every original row. Content:
    the post-delete complement, replayed by the oracle."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_convert,
        snapshot_delete_dv,
        snapshot_read,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderpriority")
    plain = f"{root}/orders_plain"
    base.repartition(4).write.parquet(plain)
    listing = sorted(
        p for p in os.listdir(plain) if p.endswith(".parquet")
    )
    n_total = base.count()
    snapshot_convert(spark, plain)
    snapshot_delete_dv(spark, plain, "o_orderkey % 4 = 1")
    zero_copy = listing == sorted(
        p for p in os.listdir(plain) if p.endswith(".parquet")
    )
    acid_after_convert = (
        snapshot_read(spark, plain, 1).count() == n_total
    )
    return snapshot_read(spark, plain).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    ).select(
        "*",
        F.lit(zero_copy).alias("zero_copy"),
        F.lit(acid_after_convert).alias("acid_after_convert"),
    )


@golden(
    "snapshot_idempotent_append",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 50 = 0
    )
    SELECT o_orderkey % 5 AS bucket,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           CAST(1 AS BOOLEAN) AS replay_noop,
           CAST(1 AS BOOLEAN) AS watermark_survives_vacuum
    FROM t
    GROUP BY bucket
    """,
)
@scratch
def q_snapshot_idempotent_append(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Idempotent writer protocol (sources/snapshots.py::snapshot_append
    txn_app_id/txn_version — Delta's txnAppId/txnVersion): a retried or
    replayed (app, version) append applies AT MOST ONCE. The delta is
    appended, then REPLAYED twice (same and lower version) —
    ``replay_noop`` pins that neither replay changed the table; then
    VACUUM drops all history and a third replay still no-ops
    (``watermark_survives_vacuum``: the watermark rides the tip
    manifest, so retention can't forget it — the failure mode of
    log-scan dedup). Content: base ∪ one delta, replayed by the
    oracle."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_append,
        snapshot_overwrite,
        snapshot_read,
        vacuum,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    delta = base.filter(F.col("o_orderkey") % 50 == 0)
    table = f"{root}/orders_snap"
    snapshot_overwrite(base.repartition(4), table)
    n_expected = base.count() + delta.count()
    snapshot_append(delta, table, txn_app_id="loader", txn_version=1)
    snapshot_append(delta, table, txn_app_id="loader", txn_version=1)
    snapshot_append(delta, table, txn_app_id="loader", txn_version=0)
    replay_noop = snapshot_read(spark, table).count() == n_expected
    vacuum(spark, table, keep_last=1)
    snapshot_append(delta, table, txn_app_id="loader", txn_version=1)
    watermark_survives_vacuum = (
        snapshot_read(spark, table).count() == n_expected
    )
    return snapshot_read(spark, table).groupBy(
        (F.col("o_orderkey") % 5).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price").cast("double").alias("sum_price"),
    ).select(
        "*",
        F.lit(replay_noop).alias("replay_noop"),
        F.lit(watermark_survives_vacuum).alias("watermark_survives_vacuum"),
    )


@golden(
    "snapshot_replace_where",
    """
    WITH replaced AS (
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2))
                 AS price
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-12'
      UNION ALL
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') NOT BETWEEN '1995-01' AND '1995-12'
    )
    SELECT o_month,
           count(*) AS n_orders,
           CAST(sum(price) AS DOUBLE) AS total_price,
           CAST(1 AS BOOLEAN) AS disjoint_carried
    FROM replaced
    GROUP BY o_month
    """,
)
@scratch
def q_snapshot_replace_where(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Atomic partition reload (sources/snapshots.py::
    snapshot_replace_where — Delta's ``replaceWhere``): ONE commit swaps
    exactly the rows of one month-range for a recomputed version
    (doubled prices here), the idempotent nightly-reload primitive.
    Stats-disjoint files are carried by identity — ``disjoint_carried``
    pins that every file whose month range provably misses 1995 appears
    verbatim in the new manifest (zero I/O for untouched partitions, the
    100 TB property). The oracle replays complement ∪ recomputed."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_replace_where,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    table = f"{root}/orders_snap"
    snapshot_merge(
        base, table, key_cols=["o_orderkey"], partition_col="o_month"
    )
    m0 = _read_manifest(spark, table, 1)
    stats = m0.get("file_stats") or {}
    disjoint = [
        f
        for f in m0["files"]
        if stats.get(f, {}).get("o_month")
        and stats[f]["o_month"][0] is not None
        and (
            stats[f]["o_month"][1] < "1995-01"
            or stats[f]["o_month"][0] > "1995-12"
        )
    ]
    recomputed = base.filter(
        F.col("o_month").between("1995-01", "1995-12")
    ).withColumn("price", (F.col("price") * 2).cast("decimal(18,2)"))
    v = snapshot_replace_where(
        recomputed, table, "o_month", "1995-01", "1995-12"
    )
    m = _read_manifest(spark, table, v)
    disjoint_carried = set(disjoint) <= set(m["files"])
    return snapshot_read(spark, table).groupBy("o_month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    ).select("*", F.lit(disjoint_carried).alias("disjoint_carried"))


@golden(
    "snapshot_zorder_prune",
    """
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 160 AND l_suppkey BETWEEN 2 AND 40
    GROUP BY l_partkey
    """,
)
@scratch
def q_snapshot_zorder_prune(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (sources/snapshots.py::snapshot_zorder):
    lineitem committed orderkey-clustered (the natural arrival layout,
    where per-file [min,max] on every OTHER key spans the whole domain),
    then Z-order-rewritten on (l_partkey, l_suppkey). The aggregation
    runs through snapshot_scan(ranges=...) — BOTH ranges prune at file level,
    so the skip factors multiply — and must equal the plain
    doubly-filtered answer the oracle computes; the multi-dimensional
    file-skip contract itself (each probe opens strictly fewer files
    than the table holds, and the combined scan fewer still) is asserted
    in tests/test_snapshots.py::test_zorder_multi_column_pruning. The
    rewrite is layout-only: content is value-identical at every step."""
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        snapshot_overwrite,
        snapshot_scan,
        snapshot_zorder,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    table = f"{root}/lineitem_z"
    snapshot_overwrite(
        li.repartitionByRange(16, "l_orderkey").sortWithinPartitions(
            "l_orderkey"
        ),
        table,
        stats_cols=["l_orderkey", "l_partkey", "l_suppkey"],
    )
    snapshot_zorder(
        spark, table, ["l_partkey", "l_suppkey"], target_file_bytes=256_000
    )
    return (
        snapshot_scan(
            spark,
            table,
            ranges={"l_partkey": (100, 160), "l_suppkey": (2, 40)},
        )
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
        )
    )


@golden(
    "snapshot_zorder_time_prune",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(1 AS BOOLEAN) AS pruned
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                 AND TIMESTAMP '2024-01-12 23:59:59.999999'
      AND user_id BETWEEN 10 AND 40
    GROUP BY user_id
    """,
)
@scratch
def q_snapshot_zorder_time_prune(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Temporal Z-order pruning (VERDICT r9 #2 — the r9 feature's own
    driver row): events committed user_id-HASH-distributed, the layout
    where per-file [min,max] on BOTH query dimensions span the whole
    domain (every file covers the full month and most user ids — no
    stats-based skip is possible), then Z-order-rewritten on
    (ts, user_id). Temporal stats ride the manifest as canonical
    fixed-width ISO strings (INT64-micros parquet footers →
    ``_stat_norm``); the scan probes with PYTHON DATETIME bounds through
    ``snapshot_scan(ranges=...)``, exercising the probe-normalization
    path end-to-end. The driver-checked ``pruned`` flag asserts the scan
    opened strictly fewer files than the table holds, recomputed here
    from the manifest with the scan's own file selection
    (``_select_files``); result values must equal the plain
    doubly-filtered oracle."""
    import datetime as _dt
    from bookstore_aws_lakehouse_spark.sources.snapshots import (
        _read_manifest,
        _select_files,
        list_versions,
        snapshot_overwrite,
        snapshot_scan,
        snapshot_zorder,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    lo = _dt.datetime(2024, 1, 10)
    hi = _dt.datetime(2024, 1, 12, 23, 59, 59, 999999)
    table = f"{root}/events_z"
    snapshot_overwrite(
        ev.repartition(8, "user_id"), table, stats_cols=["ts", "user_id"]
    )
    # size the rewrite to ~12 files at ANY fixture SF (a fixed byte
    # target yields 1 file at sf0.001 — nothing to prune — or
    # hundreds at sf0.1 — manifest bloat); production would pass a
    # real 128 MB-class target
    m0 = _read_manifest(spark, table, list_versions(spark, table)[-1])
    total_bytes = sum(
        os.path.getsize(f[5:] if f.startswith("file:") else f)
        for f in m0["files"]
        if "://" not in (f[5:] if f.startswith("file:") else f)
    )
    snapshot_zorder(
        spark,
        table,
        ["ts", "user_id"],
        target_file_bytes=max(4_000, total_bytes // 12),
    )
    m = _read_manifest(spark, table, list_versions(spark, table)[-1])
    opened, _ = _select_files(
        m, {"ts": {"lo": lo, "hi": hi}, "user_id": {"lo": 10, "hi": 40}}
    )
    pruned = len(m["files"]) >= 4 and len(opened) < len(m["files"])
    return (
        snapshot_scan(
            spark, table, ranges={"ts": (lo, hi), "user_id": (10, 40)}
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select("*", F.lit(pruned).alias("pruned"))
    )
