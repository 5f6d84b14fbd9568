"""Golden query set: every operator of SURVEY.md §2 proven against a DuckDB
oracle on the generated fixtures (TESTDATA.md).

Registry contract (mirrors ``__spark_entry__.py``):
- ``GOLDEN[name](spark, sf_dir) -> DataFrame`` — the Spark plan, built from
  the operator library;
- ``ORACLE[name]`` — ANSI-SQL twin DuckDB runs on the same parquet (one
  view per fixture table, as ``tests/oracle.py::duckdb_connection``
  registers them). Omitted only for non-SQL-expressible ops.

Determinism policy (SURVEY §7.3): every top-k has a total order (tiebreak on
a key column); money-double aggregates go through ``exact_sum``
(decimal — order-independent); every computed column is aliased identically
in both the Spark plan and the SQL.

Fixture role-mapping (FIXTURES.md §2): part ≈ books dim, customer ≈
customers dim, lineitem ≈ ratings fact, nation/region ≈ the geo hierarchy
the reference derives from ``Location``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.functions.scalar import exact_sum
from bookstore_aws_lakehouse_spark.operators.aggregates import (
    count_star_by,
    cube_agg,
    distinct_rows,
    group_agg,
    pivot_agg,
    rollup_agg,
)
from bookstore_aws_lakehouse_spark.operators.filters import filter_equals, filter_expr
from bookstore_aws_lakehouse_spark.operators.joins import join_dim_fact
from bookstore_aws_lakehouse_spark.operators.projection import (
    drop_null_keys,
    expand_delimited,
    null_normalize,
    select_columns,
)
from bookstore_aws_lakehouse_spark.operators.sort import top_k
from bookstore_aws_lakehouse_spark.operators.windows import top_n_per_group

from bookstore_aws_lakehouse_spark.registry import golden


# --------------------------------------------------------------------------
# Scans (S1) and projections (P1)
# --------------------------------------------------------------------------

@golden("scan_parquet", "SELECT * FROM nation")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — bare parquet scan (reference `workflow/Extractor.py:3-5`)."""
    return load_table(spark, sf_dir, "nation")


@golden("project_fact", "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem")
def project_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — named projection; the reference's fact-table build
    (`workflow/Transformer.py:82`). Column pruning reaches the scan."""
    return select_columns(
        load_table(spark, sf_dir, "lineitem"), ["l_orderkey", "l_partkey", "l_quantity"]
    )


# --------------------------------------------------------------------------
# Cleaning stage (P2-P4, F1-F5)
# --------------------------------------------------------------------------

@golden(
    "null_normalize",
    """
    SELECT c_custkey,
           CASE WHEN c_name IN ('', ' ', 'NULL', 'null', 'N/A') THEN NULL ELSE c_name END AS c_name,
           CASE WHEN c_mktsegment IN ('', ' ', 'NULL', 'null', 'N/A') THEN NULL ELSE c_mktsegment END AS c_mktsegment
    FROM customer
    """,
)
def q_null_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/F3 — sentinel-string → NULL rewrite (reference
    `workflow/Transformer.py:35-36`, generalized per SURVEY §7.1.5)."""
    cust = select_columns(
        load_table(spark, sf_dir, "customer"), ["c_custkey", "c_name", "c_mktsegment"]
    )
    return null_normalize(cust, ["c_name", "c_mktsegment"])


@golden(
    "expand_location",
    """
    SELECT p_partkey,
           trim(split_part(p_name, ' ', 1)) AS p_adjective,
           trim(split_part(p_name, ' ', 2)) AS p_noun
    FROM part
    """,
)
def q_expand_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/F1/F2 — split-derived columns: the ``Location -> City/State/
    Country`` expansion (reference `workflow/Transformer.py:15-18`)
    transplanted onto ``p_name`` ('cold widget' → adjective/noun)."""
    part = select_columns(load_table(spark, sf_dir, "part"), ["p_partkey", "p_name"])
    out = expand_delimited(part, "p_name", ["p_adjective", "p_noun"], delimiter=" ")
    return select_columns(out, ["p_partkey", "p_adjective", "p_noun"])


@golden(
    "drop_null_keys",
    "SELECT doc_id, text, lang FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL",
)
def q_drop_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — ``na.drop(subset=keys)`` (reference `workflow/Transformer.py:37`)."""
    docs = select_columns(load_table(spark, sf_dir, "documents"), ["doc_id", "text", "lang"])
    return drop_null_keys(docs, ["doc_id", "text", "lang"])


@golden(
    "filter_where",
    "SELECT c_custkey, c_name, c_nationkey FROM customer WHERE c_mktsegment = 'FURNITURE'",
)
def q_filter_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — pushdown-eligible equality predicate (reference
    `external-table-queries.sql:31`: ``WHERE country = 'usa'``)."""
    cust = load_table(spark, sf_dir, "customer")
    return select_columns(
        filter_equals(cust, "c_mktsegment", "FURNITURE"),
        ["c_custkey", "c_name", "c_nationkey"],
    )


@golden(
    "distinct_dim",
    "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def q_distinct_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — dimension dedup: ``.select(cols).distinct()`` (reference
    `workflow/Transformer.py:52,67`)."""
    return distinct_rows(load_table(spark, sf_dir, "customer"), ["c_nationkey", "c_mktsegment"])


# --------------------------------------------------------------------------
# Aggregations (A1-A6)
# --------------------------------------------------------------------------

@golden(
    "group_avg_count",
    """
    SELECT l_partkey,
           avg(l_quantity) AS avg_qty,
           count(l_returnflag) AS cnt_flag,
           count(*) AS cnt_all
    FROM lineitem
    GROUP BY l_partkey
    """,
)
def q_group_avg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3/A4 — multi-agg hash group-by; keeps the reference's
    count(col)-vs-count(*) distinction (SURVEY §7.1.3). Partial aggregation
    (map-side combine) means the shuffle carries one row per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return group_agg(
        li,
        ["l_partkey"],
        {
            "avg_qty": F.avg("l_quantity"),
            "cnt_flag": F.count("l_returnflag"),
            "cnt_all": F.count(F.lit(1)),
        },
    )


@golden(
    "count_star_by_country",
    """
    SELECT n_name, count(*) AS customer_count
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY customer_count DESC, n_name
    LIMIT 10
    """,
)
def q_count_star_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference golden query 2 (`external-table-queries.sql:21-26`):
    customers per country, top 10. nation broadcasts; customer never
    shuffles for the join (only for the tiny per-country agg)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    joined = join_dim_fact(cust, nat, on=cust.c_nationkey == nat.n_nationkey)
    counts = count_star_by(joined, ["n_name"], name="customer_count")
    return top_k(counts, [("customer_count", True)], 10, tiebreak=["n_name"])


@golden(
    "drilldown_states",
    """
    SELECT r_name, n_name, count(*) AS customer_count
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY r_name, n_name
    ORDER BY customer_count DESC, n_name
    LIMIT 10
    """,
)
def q_drilldown_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference golden query 3 (`external-table-queries.sql:29-34`): the
    country→state drill-down (region→nation here). Filter on the 5-row
    region table happens *before* the broadcast — predicate applies at the
    smallest possible site."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = filter_equals(load_table(spark, sf_dir, "region"), "r_name", "ASIA")
    dims = join_dim_fact(nat, reg, on=nat.n_regionkey == reg.r_regionkey)
    joined = join_dim_fact(cust, dims, on=cust.c_nationkey == dims.n_nationkey)
    counts = count_star_by(joined, ["r_name", "n_name"], name="customer_count")
    return top_k(counts, [("customer_count", True)], 10, tiebreak=["n_name"])


# --------------------------------------------------------------------------
# The flagship: top-k with having (O3 = A1 + P6 + O1 + O2)
# --------------------------------------------------------------------------

TOPK_MIN_RATINGS = 25  # having threshold; reference uses >= 100 on 1.15M rows


@golden(
    "topk_books",
    f"""
    SELECT p_partkey, p_name,
           avg(l_quantity) AS avg_rating,
           count(*) AS total_ratings
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_name
    HAVING count(*) >= {TOPK_MIN_RATINGS}
    ORDER BY avg_rating DESC, p_partkey
    LIMIT 100
    """,
)
def q_topk_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — the reference's Top-100-Books pattern
    (`workflow/Transformer.py:85-102` + SQL twin
    `external-table-queries.sql:13-19`), code semantics: group by
    (key, title), HAVING >=, sort desc, limit. part ≈ books dim (broadcast),
    lineitem ≈ ratings fact, l_quantity ≈ rating.

    Plan shape to verify with .explain: broadcast hash join (no fact
    shuffle) → partial agg → exchange on group keys → final agg → filter →
    TakeOrderedAndProject (no global sort).
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    joined = join_dim_fact(li, pt, on=li.l_partkey == pt.p_partkey)
    agged = group_agg(
        joined,
        ["p_partkey", "p_name"],
        {"avg_rating": F.avg("l_quantity"), "total_ratings": F.count(F.lit(1))},
    )
    filtered = filter_expr(agged, F.col("total_ratings") >= TOPK_MIN_RATINGS)
    return top_k(filtered, [("avg_rating", True)], 100, tiebreak=["p_partkey"])


@golden(
    "topk_books_by_title",
    f"""
    SELECT p_name,
           avg(l_quantity) AS avg_rating,
           count(*) AS total_ratings
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_name
    HAVING count(*) >= {TOPK_MIN_RATINGS}
    ORDER BY avg_rating DESC, p_name
    LIMIT 100
    """,
)
def q_topk_books_by_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README/SQL semantic of the flagship (group by title only —
    editions merge; SURVEY §7.1.1 documents the discrepancy, we ship both)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    joined = join_dim_fact(li, pt, on=li.l_partkey == pt.p_partkey)
    agged = group_agg(
        joined,
        ["p_name"],
        {"avg_rating": F.avg("l_quantity"), "total_ratings": F.count(F.lit(1))},
    )
    filtered = filter_expr(agged, F.col("total_ratings") >= TOPK_MIN_RATINGS)
    return top_k(filtered, [("avg_rating", True)], 100, tiebreak=["p_name"])


@golden(
    "join_avg_by_author",
    f"""
    SELECT p_brand,
           avg(l_quantity) AS avg_rating,
           count(*) AS total_ratings
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    HAVING count(*) >= {TOPK_MIN_RATINGS}
    ORDER BY avg_rating DESC, p_brand
    LIMIT 10
    """,
)
def q_join_avg_by_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference golden query 4 (`external-table-queries.sql:36-42`):
    top-10 authors by average rating (p_brand ≈ author)."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    joined = join_dim_fact(li, pt, on=li.l_partkey == pt.p_partkey)
    agged = group_agg(
        joined,
        ["p_brand"],
        {"avg_rating": F.avg("l_quantity"), "total_ratings": F.count(F.lit(1))},
    )
    filtered = filter_expr(agged, F.col("total_ratings") >= TOPK_MIN_RATINGS)
    return top_k(filtered, [("avg_rating", True)], 10, tiebreak=["p_brand"])


# --------------------------------------------------------------------------
# TPC-H-style stretch queries (SURVEY §5.5)
# --------------------------------------------------------------------------

@golden(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           avg(l_quantity) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide multi-aggregate scan. Money sums go through
    decimal (``exact_sum``) so results are bit-reproducible at any
    parallelism — see functions/scalar.py."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = filter_expr(li, F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    return group_agg(
        filtered,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.sum("l_quantity"),
            "sum_base_price": exact_sum("l_extendedprice"),
            "sum_disc_price": F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double"),
            "avg_price": exact_sum("l_extendedprice") / F.count(F.lit(1)),
            "avg_qty": F.avg("l_quantity"),
            "count_order": F.count(F.lit(1)),
        },
    )


@golden(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k. customer (filtered)
    broadcasts into orders, the orders side broadcasts into lineitem —
    the big fact never shuffles until the (small) final agg."""
    cust = filter_equals(load_table(spark, sf_dir, "customer"), "c_mktsegment", "BUILDING")
    orders = filter_expr(
        load_table(spark, sf_dir, "orders"),
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp"),
    )
    li = filter_expr(
        load_table(spark, sf_dir, "lineitem"),
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp"),
    )
    co = join_dim_fact(orders, cust, on=orders.o_custkey == cust.c_custkey)
    # the orders side is fact-sized → let AQE pick the strategy (broadcast
    # at fixture scale, shuffle join at 100 TB)
    joined = join_dim_fact(li, co, on=li.l_orderkey == co.o_orderkey, broadcast_dim=False)
    agged = group_agg(
        joined,
        ["l_orderkey", "o_orderdate", "o_orderpriority"],
        {
            "revenue": F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double")
        },
    )
    out = top_k(agged, [("revenue", True)], 10, tiebreak=["l_orderkey"])
    return select_columns(out, ["l_orderkey", "revenue", "o_orderdate", "o_orderpriority"])


# --------------------------------------------------------------------------
# Windows / rollup / cube / pivot (SURVEY §2.8, §2.4 extensions)
# --------------------------------------------------------------------------

@golden(
    "window_topn_per_group",
    """
    SELECT r_name, n_name, customer_count, rn FROM (
      SELECT r_name, n_name, customer_count,
             row_number() OVER (PARTITION BY r_name
                                ORDER BY customer_count DESC, n_name) AS rn
      FROM (
        SELECT r_name, n_name, count(*) AS customer_count
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
      )
    ) WHERE rn <= 3
    """,
)
def q_window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 — per-group top-N: the drill-down query generalized from one
    hardcoded country to every region at once (window over the *aggregated*
    rows, so the window shuffle moves ~25 rows, not the fact table)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dims = join_dim_fact(nat, reg, on=nat.n_regionkey == reg.r_regionkey)
    joined = join_dim_fact(cust, dims, on=cust.c_nationkey == dims.n_nationkey)
    counts = count_star_by(joined, ["r_name", "n_name"], name="customer_count")
    out = top_n_per_group(
        counts, ["r_name"], [("customer_count", True)], 3, tiebreak=["n_name"]
    )
    return select_columns(out, ["r_name", "n_name", "customer_count", "rn"])


@golden(
    "rollup_geo",
    """
    SELECT coalesce(r_name, '<all>') AS r_name,
           coalesce(n_name, '<all>') AS n_name,
           count(*) AS customer_count
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup — one-pass hierarchical subtotals replacing the reference's
    two separate queries (`external-table-queries.sql:21-34`). NULL grouping
    slots are coalesced to '<all>' so they hash stably."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    dims = join_dim_fact(nat, reg, on=nat.n_regionkey == reg.r_regionkey)
    joined = join_dim_fact(cust, dims, on=cust.c_nationkey == dims.n_nationkey)
    rolled = rollup_agg(joined, ["r_name", "n_name"], {"customer_count": F.count(F.lit(1))})
    return rolled.select(
        F.coalesce("r_name", F.lit("<all>")).alias("r_name"),
        F.coalesce("n_name", F.lit("<all>")).alias("n_name"),
        "customer_count",
    )


@golden(
    "cube_orders",
    """
    SELECT coalesce(o_orderstatus, '<all>') AS o_orderstatus,
           coalesce(o_orderpriority, '<all>') AS o_orderpriority,
           count(*) AS order_count,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube over order status × priority (beyond-reference)."""
    orders = load_table(spark, sf_dir, "orders")
    cubed = cube_agg(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        {"order_count": F.count(F.lit(1)), "total_price": exact_sum("o_totalprice")},
    )
    return cubed.select(
        F.coalesce("o_orderstatus", F.lit("<all>")).alias("o_orderstatus"),
        F.coalesce("o_orderpriority", F.lit("<all>")).alias("o_orderpriority"),
        "order_count",
        "total_price",
    )


@golden(
    "pivot_returnflag",
    """
    SELECT l_returnflag,
           sum(l_quantity) FILTER (l_linestatus = 'O') AS qty_O,
           sum(l_quantity) FILTER (l_linestatus = 'F') AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra distinct-values scan);
    SQL twin is conditional aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    out = pivot_agg(li, ["l_returnflag"], "l_linestatus", ["O", "F"], F.sum("l_quantity"))
    return out.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.6)
# --------------------------------------------------------------------------

@golden(
    "setops_segments",
    """
    SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000
    """,
)
def q_setops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two filtered projections — the explicit version
    of the reference's implicit append-union (SURVEY §2.6)."""
    from bookstore_aws_lakehouse_spark.operators.setops import union_distinct

    cust = load_table(spark, sf_dir, "customer")
    a = select_columns(filter_equals(cust, "c_mktsegment", "BUILDING"), ["c_custkey", "c_nationkey"])
    b = select_columns(filter_expr(cust, F.col("c_acctbal") > 5000), ["c_custkey", "c_nationkey"])
    return union_distinct(a, b)


@golden(
    "setops_except_intersect",
    """
    SELECT 'only_building' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'both' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    """,
)
def q_setops_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT + INTERSECT, tagged and unioned into one comparable result."""
    from bookstore_aws_lakehouse_spark.operators.setops import (
        except_rows,
        intersect_rows,
        union_all_by_name,
    )

    cust = load_table(spark, sf_dir, "customer")
    a = select_columns(filter_equals(cust, "c_mktsegment", "BUILDING"), ["c_custkey"])
    b = select_columns(filter_expr(cust, F.col("c_acctbal") > 5000), ["c_custkey"])
    only_a = except_rows(a, b).select(F.lit("only_building").alias("tag"), "c_custkey")
    both = intersect_rows(a, b).select(F.lit("both").alias("tag"), "c_custkey")
    return union_all_by_name(only_a, both)


# --------------------------------------------------------------------------
# Semi / anti joins (J1 variants)
# --------------------------------------------------------------------------

@golden(
    "semi_anti_join",
    """
    SELECT 'has_urgent' AS tag, count(*) AS n FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'no_urgent' AS tag, count(*) AS n FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) + left_anti (NOT EXISTS) — right columns never
    materialize; the shuffle carries only join keys."""
    from bookstore_aws_lakehouse_spark.operators.joins import anti_join, semi_join
    from bookstore_aws_lakehouse_spark.operators.setops import union_all_by_name

    cust = load_table(spark, sf_dir, "customer")
    urgent = select_columns(
        filter_equals(load_table(spark, sf_dir, "orders"), "o_orderpriority", "1-URGENT"),
        ["o_custkey"],
    ).withColumnRenamed("o_custkey", "c_custkey")
    has = semi_join(cust, urgent, "c_custkey").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("has_urgent").alias("tag"), "n"
    )
    hasnot = anti_join(cust, urgent, "c_custkey").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("no_urgent").alias("tag"), "n"
    )
    return union_all_by_name(has, hasnot)


# --------------------------------------------------------------------------
# Outer-join variants (J1 family completion)
# --------------------------------------------------------------------------

@golden(
    "left_outer_join",
    """
    SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def q_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join: every customer kept, order-less customers get
    count 0 / NULL sum — count(col) vs count(*) semantics doing real work.
    (Standard variants beyond the reference's single INNER join —
    SURVEY §2.3 lists them as required library surface.)"""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return group_agg(
        joined,
        ["c_custkey", "c_mktsegment"],
        {
            "n_orders": F.count("o_orderkey"),
            "total_spent": exact_sum("o_totalprice"),
        },
    )


@golden(
    "full_outer_join",
    """
    SELECT coalesce(a.k, b.k) AS k,
           a.n_building, b.n_machinery
    FROM (SELECT c_nationkey AS k, count(*) AS n_building
          FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1) a
    FULL OUTER JOIN
         (SELECT c_nationkey AS k, count(*) AS n_machinery
          FROM customer WHERE c_mktsegment = 'MACHINERY' GROUP BY 1) b
    ON a.k = b.k
    """,
)
def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two per-nation segment counts; unmatched sides
    surface as NULLs (never broadcast — both sides may be unbounded)."""
    cust = load_table(spark, sf_dir, "customer")
    a = (
        filter_equals(cust, "c_mktsegment", "BUILDING")
        .groupBy(F.col("c_nationkey").alias("ka"))
        .agg(F.count(F.lit(1)).alias("n_building"))
    )
    b = (
        filter_equals(cust, "c_mktsegment", "MACHINERY")
        .groupBy(F.col("c_nationkey").alias("kb"))
        .agg(F.count(F.lit(1)).alias("n_machinery"))
    )
    joined = a.join(b, a.ka == b.kb, "full_outer")
    return joined.select(
        F.coalesce("ka", "kb").alias("k"), "n_building", "n_machinery"
    )


@golden(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    LIMIT 25
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with a cross-dimension predicate
    (customer and supplier in the same nation). Dims broadcast; the two
    fact-sized tables meet through AQE-chosen strategies; revenue in exact
    decimal."""
    cust = load_table(spark, sf_dir, "customer")
    orders = filter_expr(
        load_table(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")),
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = filter_equals(load_table(spark, sf_dir, "region"), "r_name", "ASIA")

    j = join_dim_fact(orders, cust, on=orders.o_custkey == cust.c_custkey)
    j = join_dim_fact(li, j, on=li.l_orderkey == F.col("o_orderkey"), broadcast_dim=False)
    j = join_dim_fact(j, supp, on=(F.col("l_suppkey") == supp.s_suppkey))
    j = filter_expr(j, F.col("c_nationkey") == F.col("s_nationkey"))
    j = join_dim_fact(j, nat, on=F.col("s_nationkey") == nat.n_nationkey)
    j = join_dim_fact(j, reg, on=F.col("n_regionkey") == reg.r_regionkey)
    agged = group_agg(
        j,
        ["n_name"],
        {
            "revenue": F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double")
        },
    )
    return top_k(agged, [("revenue", True)], 25, tiebreak=["n_name"])


@golden(
    "window_ranking_variants",
    """
    SELECT c_custkey, c_mktsegment,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile,
           lead(c_custkey) OVER w AS next_custkey,
           lag(c_custkey)  OVER w AS prev_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_window_ranking_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / lead / lag over one window spec —
    the remaining ranking-family surface (§2.8). One shuffle on the
    partition key serves all five functions."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("c_custkey").over(w).alias("next_custkey"),
        F.lag("c_custkey").over(w).alias("prev_custkey"),
    )


@golden(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + global aggregate —
    the pushdown showcase (every predicate reaches the parquet scan; zero
    shuffle beyond the single-row final agg): the scan-throughput lower
    bound among the golden queries."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * F.col("l_discount").cast("decimal(18,2)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@golden(
    "unpivot_metrics",
    """
    WITH wide AS (
      SELECT l_returnflag,
             sum(l_quantity) AS qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
             CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value FROM wide
    UNPIVOT (value FOR metric IN (qty, price, tax))
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long): a 3-metric aggregate melted to (key, metric,
    value) rows — the inverse of pivot_returnflag; one Expand node, no
    extra shuffle beyond the aggregation's own."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("qty"),
        exact_sum("l_extendedprice").alias("price"),
        exact_sum("l_tax").alias("tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


HIST_BIN_WIDTH = 5000.0


@golden(
    "price_histogram",
    f"""
    SELECT CAST(floor(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT) AS bin,
           CAST(floor(o_totalprice / {HIST_BIN_WIDTH}) AS BIGINT) * {HIST_BIN_WIDTH} AS bin_low,
           count(*) AS n
    FROM orders
    GROUP BY bin
    """,
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram binning via floor division (portable everywhere, unlike
    width_bucket) — one aggregate pass; the profiling primitive for
    numeric columns."""
    orders = load_table(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / HIST_BIN_WIDTH).cast("bigint")
    counts = orders.groupBy(bin_col.alias("bin")).agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "bin", (F.col("bin") * HIST_BIN_WIDTH).alias("bin_low"), "n"
    )


@golden(
    "q12_shipmode_priority",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional-sum split by priority class.
    orders joins without a broadcast hint (fact-sized — AQE's call)."""
    li = filter_expr(
        load_table(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = join_dim_fact(li, orders, on=li.l_orderkey == orders.o_orderkey, broadcast_dim=False)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return group_agg(
        joined,
        ["l_returnflag"],
        {
            "high_line_count": F.sum(F.when(high, 1).otherwise(0)),
            "low_line_count": F.sum(F.when(~high, 1).otherwise(0)),
        },
    )


@golden(
    "q14_promo_revenue_share",
    """
    SELECT CAST(round(
             100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
           4) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share — two exact decimal
    sums divided in double, one broadcast join, a single output row."""
    li = filter_expr(
        load_table(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp")),
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = join_dim_fact(li, pt, on=li.l_partkey == pt.p_partkey)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)"))
    return joined.agg(
        F.round(
            100.0 * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 4
        ).alias("promo_revenue_pct")
    )


@golden(
    "q19_disjunctive_predicates",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
       OR (p_type = 'PROMO' AND l_quantity >= 45)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates spanning
    both join sides — the optimizer must keep the OR above the join (it
    references both tables) while still pushing the join key filters."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    joined = join_dim_fact(li, pt, on=li.l_partkey == pt.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 40))
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 45))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return joined.filter(cond).agg(
        F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n")
    )


@golden(
    "window_value_functions",
    """
    SELECT c_custkey, c_mktsegment,
           first_value(c_custkey) OVER w AS richest_custkey,
           last_value(c_custkey) OVER (PARTITION BY c_mktsegment
                                       ORDER BY c_acctbal DESC, c_custkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND UNBOUNDED FOLLOWING) AS poorest_custkey,
           round(percent_rank() OVER w, 9) AS pct_rank,
           round(cume_dist() OVER w, 9) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_window_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value/distribution functions: first_value, last_value (with
    the full-partition frame — the default running frame makes last_value
    ≡ current row, the classic gotcha), percent_rank, cume_dist (exact
    ratios of small ints, rounded only to normalize trailing digits)."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.first("c_custkey").over(w).alias("richest_custkey"),
        F.last("c_custkey").over(w_full).alias("poorest_custkey"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


@golden(
    "window_range_frame",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(count(*) OVER w AS BIGINT) AS n_orders_to_date,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS revenue_to_date
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate)
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame running totals (the default frame under ORDER BY —
    RANGE UNBOUNDED PRECEDING..CURRENT ROW): all PEER rows (same order
    date) share the same running count/revenue, the semantic that a
    ROWS frame breaks on ties. Exact under ties because the windowed sum
    is a decimal sum (order-independent) and the count is tie-invariant
    by construction — no tiebreak column needed or wanted."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_orders_to_date"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("revenue_to_date"),
    )


@golden(
    "q4_order_priority_check",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS against the fact (late-shipping
    orders per priority) — planned as a left-semi join keyed on orderkey;
    lineitem contributes keys only, never payload."""
    orders = filter_expr(
        load_table(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp")),
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    out = count_star_by(semi, ["o_orderpriority"], name="order_count")
    return out.orderBy("o_orderpriority")


@golden(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers with returned
    items — 4-way join, filtered fact, exact decimal revenue, top-20."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = filter_expr(
        load_table(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp")),
    )
    li = filter_equals(load_table(spark, sf_dir, "lineitem"), "l_returnflag", "R")
    j = join_dim_fact(li, orders.select("o_orderkey", "o_custkey"), on=F.col("l_orderkey") == F.col("o_orderkey"), broadcast_dim=False)
    j = join_dim_fact(j, cust.select("c_custkey", "c_name", "c_nationkey"), on=F.col("o_custkey") == F.col("c_custkey"))
    j = join_dim_fact(j, nat.select("n_nationkey", "n_name"), on=F.col("c_nationkey") == F.col("n_nationkey"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    agged = group_agg(j, ["c_custkey", "c_name", "n_name"], {"revenue": F.sum(rev).cast("double")})
    return top_k(agged, [("revenue", True)], 20, tiebreak=["c_custkey"])


@golden(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, yr,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS yr,
             l_extendedprice, l_discount
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, yr
    ORDER BY supp_nation, cust_nation, yr
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — the nation dim joined
    TWICE under different roles (supplier's vs customer's nation), a
    disjunctive cross-role predicate, and a per-year rollup."""
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = filter_expr(
        load_table(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))

    j = join_dim_fact(li, supp, on=F.col("l_suppkey") == F.col("s_suppkey"))
    j = join_dim_fact(j, orders, on=F.col("l_orderkey") == F.col("o_orderkey"), broadcast_dim=False)
    j = join_dim_fact(j, cust, on=F.col("o_custkey") == F.col("c_custkey"))
    j = join_dim_fact(j, n1, on=F.col("s_nationkey") == F.col("n1_key"))
    j = join_dim_fact(j, n2, on=F.col("c_nationkey") == F.col("n2_key"))
    j = filter_expr(
        j,
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")),
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    agged = group_agg(
        j.withColumn("yr", F.year("l_shipdate").cast("int")),
        ["supp_nation", "cust_nation", "yr"],
        {"revenue": F.sum(rev).cast("double")},
    )
    return agged.orderBy("supp_nation", "cust_nation", "yr")


@golden(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY supplier_no
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: derived revenue view + equality against its own
    scalar max (exact: the decimal-summed doubles are bit-identical, so
    the max comparison selects the same supplier(s) on both engines)."""
    li = filter_expr(
        load_table(spark, sf_dir, "lineitem"),
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp")),
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).cast("double").alias("total_revenue")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    out = (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )
    return out.orderBy("s_suppkey")


@golden(
    "q13_order_count_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority != '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the customers-per-order-count distribution — left
    join with an extra join-side predicate (kept in the ON clause, not
    WHERE: moving it would silently drop order-less customers), then a
    second aggregation over the first's results."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    j = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = j.groupBy("c_custkey").agg(F.count("o_orderkey").alias("c_count"))
    dist = per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))
    return dist.orderBy(F.col("custdist").desc(), F.col("c_count").desc())


@golden(
    "q18_large_orders",
    """
    SELECT c_custkey, orders.o_orderkey AS o_orderkey, o_totalprice, sum_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 270
    ) big
    JOIN orders   ON orders.o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, orders.o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders — a HAVING-filtered fact
    aggregate drives the join (the aggregate output is small, so IT
    broadcasts into orders, inverting the usual dim/fact roles)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 270)
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    j = orders.join(F.broadcast(big), "o_orderkey")
    j = j.join(cust, j.o_custkey == cust.c_custkey)
    out = j.select("c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    return top_k(out, [("o_totalprice", True)], 100, tiebreak=["o_orderkey"])


@golden(
    "q22_inactive_customers",
    """
    SELECT c_mktsegment, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0) * 1.0000001
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich-but-inactive customers — a scalar-subquery
    threshold (nudged off the average by a factor so double-epsilon can
    never flip a row) combined with NOT EXISTS (left-anti join). The
    scalar stays IN the plan as a broadcast single-row cross join (what
    Catalyst builds for an uncorrelated scalar subquery) — no driver-side
    collect(), so the query composes lazily and triggers exactly one job."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("_avg_bal"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    from bookstore_aws_lakehouse_spark.operators.joins import anti_join

    rich = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal") * 1.0000001)
        .drop("_avg_bal")
    )
    inactive = anti_join(rich, orders, "c_custkey")
    return inactive.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        exact_sum("c_acctbal").alias("total_balance"),
    )


@golden(
    "q8_market_share",
    """
    SELECT yr,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             n_name AS supp_nation,
             CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY yr
    ORDER BY yr
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of total supplier revenue per
    year — conditional decimal sum over total decimal sum, divided in
    double (both sums exact ⇒ the share is bit-identical; rounding only
    normalizes display digits)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = filter_expr(
        load_table(spark, sf_dir, "orders"),
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")),
    ).select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation")
    j = join_dim_fact(li, orders, on=F.col("l_orderkey") == F.col("o_orderkey"), broadcast_dim=False)
    j = join_dim_fact(j, supp, on=F.col("l_suppkey") == F.col("s_suppkey"))
    j = join_dim_fact(j, nat, on=F.col("s_nationkey") == F.col("n_nationkey"))
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    j = j.withColumn("yr", F.year("o_orderdate").cast("int")).withColumn("rev", rev)
    agged = j.groupBy("yr").agg(
        F.round(
            F.sum(F.when(F.col("n_name") == "NATION_3", F.col("rev")).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
            / F.sum("rev").cast("double"),
            6,
        ).alias("mkt_share")
    )
    return agged.orderBy("yr")


@golden(
    "q11_important_stock",
    """
    WITH supplier_value AS (
      SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, value
    FROM supplier_value
    WHERE value > (SELECT CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 0.011
                   FROM supplier_value)
    ORDER BY value DESC, l_suppkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp-free variant): suppliers whose revenue
    exceeds a fraction of the GLOBAL total — per-group aggregate filtered
    by a scalar over the same aggregate (computed once, broadcast). The
    threshold total is a DECIMAL sum (order-independent, identical on
    both engines) — a plain double sum accumulates in partition order
    and could flip a boundary supplier between runs."""
    li = load_table(spark, sf_dir, "lineitem")
    sv = li.groupBy("l_suppkey").agg(
        exact_sum("l_extendedprice").alias("value")
    )
    threshold = sv.agg(
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") * 0.011).alias("t")
    )
    out = sv.join(F.broadcast(threshold), F.col("value") > F.col("t")).select(
        "l_suppkey", "value"
    )
    return out.orderBy(F.col("value").desc(), F.col("l_suppkey"))


@golden(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
           count(*) AS n_small
    FROM lineitem li
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem
                        WHERE l_partkey = li.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity revenue — each lineitem compared
    against the per-part average of the SAME fact table (correlated
    aggregate subquery; Spark formulation: aggregate once, broadcast the
    per-part averages back). l_quantity sums/avgs are integral-exact, so
    the 0.2× threshold comparison is bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = filter_equals(load_table(spark, sf_dir, "part"), "p_brand", "Brand#13").select(
        "p_partkey"
    )
    avg_per_part = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    j = join_dim_fact(li, pt, on=F.col("l_partkey") == F.col("p_partkey"))
    j = j.join(F.broadcast(avg_per_part), F.col("l_partkey") == F.col("ap_key"))
    small = j.filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    return small.agg(
        (exact_sum("l_extendedprice") / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"),
    )


@golden(
    "pivot_multi_agg",
    """
    SELECT l_returnflag,
           sum(l_quantity) FILTER (l_linestatus = 'O') AS O_qty,
           count(*) FILTER (l_linestatus = 'O') AS O_cnt,
           sum(l_quantity) FILTER (l_linestatus = 'F') AS F_qty,
           count(*) FILTER (l_linestatus = 'F') AS F_cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (sum + count per
    status) — Spark emits `<value>_<agg-alias>` columns; aliased here to
    match the conditional-aggregation oracle exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity").alias("qty"), F.count(F.lit(1)).alias("cnt"))
    )
    return out.select(
        "l_returnflag",
        F.col("O_qty"),
        F.col("O_cnt"),
        F.col("F_qty"),
        F.col("F_cnt"),
    )


@golden(
    "supplier_share_of_nation",
    """
    WITH sup_rev AS (
      SELECT s_nationkey, s_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey, s_suppkey
    )
    SELECT s_nationkey, s_suppkey, revenue,
           round(revenue / sum(revenue) OVER (PARTITION BY s_nationkey), 9) AS nation_share
    FROM sup_rev
    """,
)
def q_supplier_share_of_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total via window: each supplier's fraction of its
    nation's revenue — an aggregate divided by a windowed sum of the
    SAME exact-decimal aggregates (both bit-identical, so the ratio is
    too; rounding only normalizes display digits)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    j = join_dim_fact(li, supp, on=F.col("l_suppkey") == F.col("s_suppkey"))
    sup_rev = j.groupBy("s_nationkey", "s_suppkey").agg(
        exact_sum("l_extendedprice").alias("revenue")
    )
    w = Window.partitionBy("s_nationkey")
    return sup_rev.select(
        "s_nationkey",
        "s_suppkey",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 9).alias("nation_share"),
    )


# ---- TPC-H shapes whose native tables are absent from the fixtures ------
# partsupp and l_receiptdate/l_commitdate do not exist here; each query
# below derives the missing relation from lineitem (partsupp ≈ distinct
# (l_partkey, l_suppkey) with min unit price as supply cost; "late" ≈
# shipped >60 days after order date) so the reference SHAPE — the join
# topology, correlated subqueries, nested semi-joins — is fully exercised
# and oracle-verified on the data that is available.


@golden(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             min(l_extendedprice / l_quantity) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2
    ),
    eur AS (
      SELECT s_suppkey, s_acctbal, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    ps_eur AS (
      SELECT ps.*, eur.s_acctbal, eur.s_name, eur.n_name
      FROM ps JOIN eur ON ps_suppkey = s_suppkey
    ),
    min_cost AS (
      SELECT ps_partkey, min(ps_supplycost) AS best_cost
      FROM ps_eur GROUP BY ps_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost
    FROM part
    JOIN ps_eur ON p_partkey = ps_partkey
    JOIN min_cost USING (ps_partkey)
    WHERE p_size = 10 AND ps_supplycost = best_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape on a derived partsupp: for every size-10 part, the
    EUROPE supplier(s) offering the minimum derived supply cost
    (min unit price per (part, supplier) from lineitem). The correlated
    min subquery decorrelates to a per-part aggregate joined back on
    equality — the standard Catalyst rewrite, built explicitly. The min
    is over identical doubles on both engines, so the equality join is
    exact."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    ps_eur = ps.join(eur, ps.ps_suppkey == eur.s_suppkey)
    min_cost = ps_eur.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("best_cost")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    out = (
        part.join(ps_eur, part.p_partkey == ps_eur.ps_partkey)
        .join(min_cost, "ps_partkey")
        .filter(F.col("ps_supplycost") == F.col("best_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "ps_supplycost")
    )
    return top_k(
        out,
        [("s_acctbal", True), ("n_name", False), ("s_name", False)],
        100,
        tiebreak=["p_partkey"],
    )


@golden(
    "q9_product_profit",
    """
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             CAST(min(floor(100 * l_extendedprice / l_quantity)) AS BIGINT) AS ps_cost_cents
      FROM lineitem GROUP BY 1, 2
    )
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           - CAST(sum(ps_cost_cents * CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_profit
    FROM lineitem
    JOIN ps       ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2      -- positional: 'nation' would bind to the table
    ORDER BY 1, 2 DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit) on the derived partsupp:
    profit per nation per order-year for parts matching a name pattern —
    revenue minus supply cost. Exactness: revenue is the established
    DECIMAL(18,2) product-sum; the derived supply cost is floored to
    integer CENTS before the min (floor of an IEEE-identical double is
    exact on both engines), so the cost side is a pure bigint sum and
    the final subtraction is one deterministic double op. Plan shape:
    the 5-way star — part filter → broadcast; supplier⋈nation →
    broadcast; the derived ps aggregates lineitem on (partkey, suppkey)
    and joins straight back on the same keys (one shuffle, reused);
    orders joins on the orderkey shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(
            F.floor(F.lit(100) * F.col("l_extendedprice") / F.col("l_quantity"))
        )
        .cast("bigint")
        .alias("ps_cost_cents")
    )
    pt = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    supp_nation = join_dim_fact(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
        on=F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    j = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    agged = j.groupBy(F.col("n_name").alias("nation"), "o_year").agg(
        (
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double")
            # floor before the int conversion on BOTH engines: Spark's
            # double→bigint cast truncates while DuckDB's rounds; floor
            # makes the parity independent of quantities being integral
            - F.sum(
                F.col("ps_cost_cents") * F.floor(F.col("l_quantity"))
            ).cast("bigint")
            / F.lit(100.0)
        ).alias("sum_profit")
    )
    return agged.orderBy("nation", F.col("o_year").desc())


@golden(
    "q16_supplier_count",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 10, 15, 20, 25)
      AND NOT EXISTS (SELECT 1 FROM supplier
                      WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    over the derived part-supplier relation, excluding flagged suppliers
    (negative balance stands in for the complaints filter) via anti-join
    (the oracle says NOT EXISTS, not NOT IN, so a NULL s_suppkey can
    never trip NOT IN's three-valued-logic trap). count(DISTINCT)
    expands to a two-phase de-dup aggregate — the shape that matters at
    scale. Sole q16 in the registry: a simplified per-(brand,type)
    variant was folded into this full formulation in round 5."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    from bookstore_aws_lakehouse_spark.operators.joins import anti_join

    ps = anti_join(ps, bad, "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    return (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@golden(
    "q20_stocked_suppliers",
    """
    WITH stock AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS stock_qty
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    shipped97 AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty97
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    )
    SELECT s_name, s_acctbal FROM supplier
    WHERE s_suppkey IN (
      SELECT st.l_suppkey
      FROM stock st
      JOIN shipped97 sh ON st.l_partkey = sh.l_partkey AND st.l_suppkey = sh.l_suppkey
      WHERE st.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND st.stock_qty > 0.5 * sh.qty97
    )
    """,
)
def q20_stocked_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose pre-1997 'stock' of small-parts
    exceeds half of what they shipped in 1997 — the nested-semi-join
    chain (IN inside IN) over two derived aggregates of the same fact
    table. All semi-joins carry keys only."""
    from bookstore_aws_lakehouse_spark.operators.joins import semi_join

    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    end = F.lit("1998-01-01 00:00:00").cast("timestamp")
    stock = (
        li.filter(F.col("l_shipdate") < cut)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("stock_qty"))
    )
    shipped97 = (
        li.filter((F.col("l_shipdate") >= cut) & (F.col("l_shipdate") < end))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty97"))
    )
    small = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    qualifying = (
        semi_join(stock, small, "l_partkey")
        .join(shipped97, ["l_partkey", "l_suppkey"])
        .filter(F.col("stock_qty") > 0.5 * F.col("qty97"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    return semi_join(supp, qualifying, "s_suppkey").select("s_name", "s_acctbal")


@golden(
    "q21_waiting_suppliers",
    """
    WITH late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    order_stats AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_suppliers
      FROM lineitem GROUP BY l_orderkey
    ),
    late_stats AS (
      SELECT l_orderkey, count(*) AS n_late_suppliers FROM late GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN late     ON late.l_orderkey = l1.l_orderkey AND late.l_suppkey = l1.l_suppkey
    JOIN order_stats os ON os.l_orderkey = l1.l_orderkey
    JOIN late_stats  ls ON ls.l_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND os.n_suppliers > 1
      AND ls.n_late_suppliers = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone held up multi-supplier orders
    ('late' ≈ shipped >60 days after order date, standing in for the
    missing receipt/commit dates). The EXISTS / NOT-EXISTS pair
    decorrelates to two per-order aggregates — supplier count > 1 and
    late-supplier count = 1 — joined back to the late lineitems, which
    is exactly how Catalyst rewrites the correlated form."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    late_line = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).filter(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS"))
    late = late_line.select("l_orderkey", "l_suppkey").distinct()
    order_stats = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers")
    )
    late_stats = late.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_late_suppliers")
    )
    out = (
        late_line.filter(F.col("o_orderstatus") == "F")
        .join(late, ["l_orderkey", "l_suppkey"])
        .join(order_stats, "l_orderkey")
        .join(late_stats, "l_orderkey")
        .filter((F.col("n_suppliers") > 1) & (F.col("n_late_suppliers") == 1))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return top_k(out, [("numwait", True)], 20, tiebreak=["s_name"])


@golden(
    "join_salted_hot",
    """
    WITH fact AS (
      SELECT CASE WHEN c_custkey % 3 = 0 THEN 0 ELSE c_nationkey END AS nk,
             c_acctbal
      FROM customer
    )
    SELECT n_name,
           count(*) AS customer_count,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM fact JOIN nation ON nk = n_nationkey
    GROUP BY n_name
    ORDER BY customer_count DESC, n_name
    """,
)
def q_join_salted_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-targeted skew salting as a DRIVER-CHECKED result (the
    spread/cost contracts live in tests/test_plans.py and
    test_bucketing.py; this row pins the VALUES): a synthesized skewed
    key (every 3rd customer collapses onto nation 0 → one key holds ~36%
    of the fact) goes through operators/joins.py::detect_hot_keys — one
    bounded count job — then salted_join(hot_keys=...), which replicates
    ONLY the detected keys' dim rows across the salt space. Results must
    equal the plain relational join the oracle runs."""
    from bookstore_aws_lakehouse_spark.operators.joins import (
        detect_hot_keys,
        salted_join,
    )

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    fact = cust.select(
        F.when(F.col("c_custkey") % 3 == 0, F.lit(0))
        .otherwise(F.col("c_nationkey"))
        .cast("int")
        .alias("nk"),
        "c_acctbal",
    )
    hot = detect_hot_keys(fact, "nk", threshold_frac=0.2)
    joined = salted_join(fact, nation, on="nk", num_salts=8, hot_keys=hot)
    out = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("customer_count"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_bal"),
    )
    return out.orderBy(F.col("customer_count").desc(), "n_name")
