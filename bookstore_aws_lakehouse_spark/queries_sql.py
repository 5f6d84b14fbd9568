"""SQL-entry-point queries (SURVEY §3.2): the reference's analytics layer
is SQL over a catalog (Redshift Spectrum external schema resolved through
Glue). Spark-native twin: ``spark.sql`` over views registered in the
session catalog — Catalyst runs the same parse → analyze (catalog lookup) →
optimize → execute pipeline in one engine.

These queries prove the *SQL surface*: identical semantics to the
DataFrame-API golden set, expressed as SQL text resolved by name against
the views ``catalog.analyze_sql`` registers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bookstore_aws_lakehouse_spark.catalog import analyze_sql
from bookstore_aws_lakehouse_spark.registry import golden


# The flagship as SQL text (reference `external-table-queries.sql:13-19`
# re-expressed over the fixtures). DuckDB runs the *same string* — one
# source of truth, two engines.
_SQL_TOP100 = """
    SELECT p_partkey, p_name,
           avg(l_quantity) AS avg_rating,
           count(*) AS total_ratings
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey, p_name
    HAVING count(*) >= 25
    ORDER BY avg_rating DESC, p_partkey
    LIMIT 100
"""


@golden("sql_top100_books", _SQL_TOP100)
def q_sql_top100_books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship via the SQL entry point — the identical SQL string is the
    oracle (ANSI subset runs unchanged on both engines)."""
    return analyze_sql(spark, sf_dir, _SQL_TOP100)


_SQL_DRILLDOWN = """
    SELECT r_name, n_name, count(*) AS customer_count
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY r_name, n_name
    ORDER BY customer_count DESC, n_name
    LIMIT 10
"""


@golden("sql_drilldown", _SQL_DRILLDOWN)
def q_sql_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drill-down (reference `external-table-queries.sql:29-34`) via SQL."""
    return analyze_sql(spark, sf_dir, _SQL_DRILLDOWN)


_SQL_COUNT_DISTINCT = """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
"""


@golden("sql_count_distinct", _SQL_COUNT_DISTINCT)
def q_sql_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT ...) — beyond the reference's aggregate set (SURVEY
    §2.4 notes its absence). Spark plans distinct-aggs as an Expand +
    two-phase aggregate; still one scan."""
    return analyze_sql(spark, sf_dir, _SQL_COUNT_DISTINCT)


_SQL_EXISTS = """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    GROUP BY c_mktsegment
"""


@golden("sql_exists_subquery", _SQL_EXISTS)
def q_sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery — Catalyst rewrites it to a left-semi
    join (same plan the DataFrame semi_join operator produces)."""
    return analyze_sql(spark, sf_dir, _SQL_EXISTS)


_SQL_CAST_CASE = """
    SELECT o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
    FROM orders
    GROUP BY o_orderpriority
"""


@golden("sql_cast_case", _SQL_CAST_CASE)
def q_sql_cast_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CAST + CASE WHEN in SQL (reference F6/F3,
    `external-table-queries.sql:14,37`). The mean is exact-decimal-sum /
    count, NOT avg(DECIMAL): Spark's decimal avg rounds to 6 fractional
    digits (DECIMAL(22,6)) while DuckDB's returns a full-precision
    double — same SQL text, different doubles (verified). sum/count is
    bit-identical on both."""
    return analyze_sql(spark, sf_dir, _SQL_CAST_CASE)


_SQL_SCALAR_SUBQUERY = """
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice > 2 * (SELECT avg(p_retailprice) FROM part)
"""


@golden("sql_scalar_subquery", _SQL_SCALAR_SUBQUERY)
def q_sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery — Catalyst evaluates it once and folds
    it into the filter (broadcast of a single value). The 2x multiplier
    keeps the threshold away from any row's exact value, so double-epsilon
    differences in the avg cannot flip a comparison."""
    return analyze_sql(spark, sf_dir, _SQL_SCALAR_SUBQUERY)


_SQL_GROUPING_SETS = """
    SELECT coalesce(l_returnflag, '<all>') AS l_returnflag,
           coalesce(l_linestatus, '<all>') AS l_linestatus,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@golden("sql_grouping_sets", _SQL_GROUPING_SETS)
def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube): one scan
    expands to all requested granularities."""
    return analyze_sql(spark, sf_dir, _SQL_GROUPING_SETS)


_SQL_STRING_FUNCS = """
    SELECT p_partkey,
           upper(p_name) AS upper_name,
           substring(p_name, 1, 4) AS prefix4,
           replace(p_name, ' ', '_') AS snake,
           length(p_name) AS name_len,
           lpad(CAST(p_partkey AS STRING), 8, '0') AS padded_key,
           concat(p_brand, '/', p_type) AS brand_type,
           coalesce(nullif(p_type, 'ECONOMY'), 'BUDGET') AS type_relabeled,
           greatest(p_size, 25) AS size_floor25,
           least(p_size, 25) AS size_cap25
    FROM part
"""


@golden("sql_string_functions", _SQL_STRING_FUNCS)
def q_sql_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (SURVEY §2.7 beyond-reference): string ops +
    conditional functions, identical ANSI semantics on both engines."""
    return analyze_sql(spark, sf_dir, _SQL_STRING_FUNCS)


_SQL_ORDERS_BY_MONTH = """
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY yr, mo
"""


@golden("sql_orders_by_month", _SQL_ORDERS_BY_MONTH)
def q_sql_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar date functions on proper (ms) timestamps — year/month
    extraction is timezone-stable here: session TZ is UTC and the fixture
    stores UTC instants."""
    return analyze_sql(spark, sf_dir, _SQL_ORDERS_BY_MONTH)


_SQL_PERCENTILES = """
    SELECT l_returnflag,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median_qty,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q25_qty,
           percentile_cont(0.95) WITHIN GROUP (ORDER BY l_quantity) AS p95_qty
    FROM lineitem
    GROUP BY l_returnflag
"""


@golden("sql_percentiles", _SQL_PERCENTILES)
def q_sql_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (sort-based, linear interpolation — identical
    formula on both engines; quantities are integral so results are exact
    doubles). The approximate sibling for 100 TB is approx_percentile
    (KLL/GK sketch, mergeable) — tested for accuracy separately since
    sketches can't hash-match."""
    return analyze_sql(spark, sf_dir, _SQL_PERCENTILES)


_SQL_STATS = """
    SELECT o_orderstatus,
           round(stddev_samp(o_totalprice), 4) AS sd_price,
           round(var_samp(o_totalprice), 2) AS var_price,
           round(corr(o_totalprice, CAST(o_orderkey AS DOUBLE)), 6) AS corr_price_key
    FROM orders
    GROUP BY o_orderstatus
"""


@golden("sql_stats_aggregates", _SQL_STATS)
def q_sql_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation). These
    accumulate in partition order, so results are rounded (4/2/6 dp) —
    the documented tolerance, same policy as embedding_standardize."""
    return analyze_sql(spark, sf_dir, _SQL_STATS)


_SQL_COND_AGGS = """
    SELECT l_returnflag,
           CAST(count_if(l_quantity > 25) AS BIGINT) AS n_big,
           CAST(count_if(l_discount = 0.0) AS BIGINT) AS n_no_discount,
           bool_or(l_tax > 0.07) AS any_high_tax,
           bool_and(l_quantity > 0) AS all_positive_qty
    FROM lineitem
    GROUP BY l_returnflag
"""


@golden("sql_conditional_aggs", _SQL_COND_AGGS)
def q_sql_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregates (count_if, bool_or, bool_and) —
    the same names and semantics on both engines."""
    return analyze_sql(spark, sf_dir, _SQL_COND_AGGS)


_SQL_ROLLUP_GROUPING = """
    SELECT coalesce(r_name, '(total)') AS r_name,
           coalesce(n_name, '(subtotal)') AS n_name,
           GROUPING(r_name) AS is_grand_total,
           GROUPING(n_name) AS is_subtotal,
           count(*) AS customer_count
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
"""


@golden("sql_rollup_grouping_id", _SQL_ROLLUP_GROUPING)
def q_sql_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers — distinguishes subtotal rows from
    rows whose key is genuinely NULL (the correctness-critical detail the
    coalesce-only variant glosses over)."""
    return analyze_sql(spark, sf_dir, _SQL_ROLLUP_GROUPING)


_SQL_INTERVALS = """
    SELECT o_orderkey, o_orderdate,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(o_orderdate + INTERVAL 30 DAY > TIMESTAMP '1999-01-01 00:00:00' AS BOOLEAN) AS due_after_99
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-11-20 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
"""


@golden("sql_interval_arithmetic", _SQL_INTERVALS)
def q_sql_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic on timestamps (+ INTERVAL literal, boundary
    comparison) — identical ANSI behavior on both engines; the filter
    keeps the result small and pushdown-eligible."""
    return analyze_sql(spark, sf_dir, _SQL_INTERVALS)


_SQL_STRING_AGG = """
    SELECT n_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey
"""


@golden("sql_string_agg_ordered", _SQL_STRING_AGG)
def q_sql_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered set-aggregation to a string (the LISTAGG pattern):
    collect_set → array_sort → array_join gives a DETERMINISTIC
    concatenation — bare listagg/string_agg without ORDER BY is
    partition-order dependent and would never hash-match."""
    from pyspark.sql import functions as F

    from bookstore_aws_lakehouse_spark.catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    joined = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    return joined.groupBy("n_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments")
    )


_SQL_PATTERNS = """
    SELECT p_partkey, p_name
    FROM part
    WHERE p_name LIKE '%widget%'
       OR p_name ILIKE 'BLUE %'
       OR regexp_matches(p_name, '^(hot|cold) (rod|bolt)$')
"""


@golden("sql_pattern_matching", _SQL_PATTERNS)
def q_sql_pattern_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-matching predicates: LIKE, ILIKE, and full regex — the
    Spark side uses the DataFrame API (like/ilike/rlike) against the
    oracle's SQL operators (DuckDB spells regex as regexp_matches,
    Spark as RLIKE — same RE2-compatible pattern)."""
    from bookstore_aws_lakehouse_spark.catalog import load_table
    from pyspark.sql import functions as F

    part = load_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").like("%widget%")
        | F.col("p_name").ilike("BLUE %")
        | F.col("p_name").rlike("^(hot|cold) (rod|bolt)$")
    ).select("p_partkey", "p_name")


_SQL_CORRELATED_MAX = """
    SELECT s_nationkey, s_suppkey, s_name, s_acctbal
    FROM supplier s
    WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                       WHERE s2.s_nationkey = s.s_nationkey)
"""


@golden("sql_correlated_max", _SQL_CORRELATED_MAX)
def q_sql_correlated_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery (per-nation max) — Catalyst
    decorrelates it into an aggregate + join, the same plan the window
    formulation produces; TPC-H Q2's core shape."""
    return analyze_sql(spark, sf_dir, _SQL_CORRELATED_MAX)


_SQL_GRID_COMPLETION = """
    SELECT r_name, seg, coalesce(n, 0) AS n_customers
    FROM (SELECT r_name FROM region)
    CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
    LEFT JOIN (
      SELECT r_name AS rr, c_mktsegment AS ss, count(*) AS n
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY rr, ss
    ) ON r_name = rr AND seg = ss
"""


@golden("sql_grid_completion", _SQL_GRID_COMPLETION)
def q_sql_grid_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid completion: the (region × segment) cross product
    left-joined to actual counts, zeros filled — the BI pattern that
    keeps dashboard axes complete when a cell has no data. The cross
    join multiplies two TINY dimension domains, never facts."""
    return analyze_sql(spark, sf_dir, _SQL_GRID_COMPLETION)


_SQL_LATERAL_TOPN = """
    SELECT n.n_name, top.c_name, top.c_acctbal
    FROM nation n,
    LATERAL (
      SELECT c_name, c_acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name
      LIMIT 2
    ) AS top
"""


@golden("sql_lateral_topn", _SQL_LATERAL_TOPN)
def q_sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table (top-2 customers per nation) —
    the same string runs on both engines. Catalyst rewrites the
    correlated LIMIT subquery into a DomainJoin → window top-k, i.e. the
    per-group top-n shape without hand-writing the window; the dedicated
    DataFrame twin is operators/windows.py::top_n_per_group
    (window_topn_per_group). Deterministic tiebreak on c_name because
    per-group LIMIT without a total order is engine-dependent."""
    return analyze_sql(spark, sf_dir, _SQL_LATERAL_TOPN)


def _dashboard_catalog_sql() -> str:
    from bookstore_aws_lakehouse_spark.catalog import DASHBOARD_VIEWS

    parts = [
        f"SELECT '{name}' AS view_name, CAST(count(*) AS BIGINT) AS n_rows "
        f"FROM ({sql})"
        for name, sql in sorted(DASHBOARD_VIEWS.items())
    ]
    return "\nUNION ALL\n".join(parts)


@golden("dashboard_catalog", _dashboard_catalog_sql())
def q_dashboard_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI-endpoint facade (SURVEY §3.3, VERDICT r9 #8): the reference's
    four Tableau dashboard queries (`tableau/Tableau-Visualizations.twb`,
    Custom SQL relations re-issuing `external-table-queries.sql:13-42`)
    registered as NAMED CATALOG VIEWS (`catalog.register_dashboard_views`)
    and then consumed the way a BI client would — `spark.sql` against the
    view names, never the underlying tables. The row per view carries its
    result cardinality; the four views' full contents are value-verified
    by their own oracle rows (`sql_top100_books`, `sql_drilldown`, ...) —
    this row pins the catalog layer itself: names resolve, views execute,
    cardinalities match the oracle's replay of the same SQL."""
    import functools

    from bookstore_aws_lakehouse_spark.catalog import register_dashboard_views

    names = register_dashboard_views(spark, sf_dir)
    counts = [
        spark.sql(
            f"SELECT '{name}' AS view_name, CAST(count(*) AS BIGINT) AS n_rows "
            f"FROM {name}"
        )
        for name in sorted(names)
    ]
    return functools.reduce(DataFrame.unionAll, counts)
