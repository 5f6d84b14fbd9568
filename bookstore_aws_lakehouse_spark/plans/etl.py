"""The reference E-T-L pipeline, rebuilt Spark-first (SURVEY §3.1, §2.11 C2).

Reference flow (`spark-main.py:12-27`): extract raw ratings → expand
``Location`` into City/State/Country → null-normalize + dropna → fan out to
4 outputs (customers dim, books dim, ratings fact, Top-100 reporting table)
→ load. Differences by design (SURVEY §7.1): split tokens are trimmed, the
null convention catches ``""`` as well as ``" "``, loads are idempotent
overwrites of columnar parquet, and the shared clean prefix is cached once
instead of recomputed per sink.

The driver fixtures carry no bookstore table, so ``build_raw_ratings``
synthesizes the reference's 9-column raw shape from the TPC-H-ish star
(FIXTURES.md §2 role-mapping), **everything cast to string** to preserve the
reference's strings-at-rest semantics (SURVEY §1.2) — including injected
dirty locations (``'x, , '``) for rows with negative account balance, so the
clean stage has real work that the oracle verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.catalog import load_table
from bookstore_aws_lakehouse_spark.operators.joins import join_dim_fact
from bookstore_aws_lakehouse_spark.operators.projection import (
    drop_null_keys,
    expand_delimited,
    null_normalize,
)
from bookstore_aws_lakehouse_spark.plans.pipeline import Pipeline, fan_out

#: columns whose NULL after cleaning drops the row (reference default subset,
#: `workflow/Transformer.py:23`)
KEY_COLUMNS = ("customer_id", "isbn", "book_rating", "country", "state", "city")


def build_raw_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the reference's raw flat table from the fixture star.

    6-way denormalizing join (the inverse of the ETL, which is the point:
    the pipeline must re-derive the star from flat). Dimension sides all
    broadcast; lineitem never shuffles.
    """
    from bookstore_aws_lakehouse_spark.operators.scale import ensure_parallelism

    li = ensure_parallelism(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    # orders is fact-sized (not a dim): no broadcast hint — AQE picks
    # broadcast at small sf and shuffle join at scale, both correctly
    j = join_dim_fact(
        li,
        orders.select("o_orderkey", "o_custkey"),
        on=li.l_orderkey == F.col("o_orderkey"),
        broadcast_dim=False,
    )
    j = join_dim_fact(j, cust.select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"), on=F.col("o_custkey") == F.col("c_custkey"))
    j = join_dim_fact(j, nat.select("n_nationkey", "n_name", "n_regionkey"), on=F.col("c_nationkey") == F.col("n_nationkey"))
    j = join_dim_fact(j, reg.select("r_regionkey", "r_name"), on=F.col("n_regionkey") == F.col("r_regionkey"))
    j = join_dim_fact(j, part, on=li.l_partkey == F.col("p_partkey"))

    location = F.when(
        F.col("c_acctbal") < 0, F.concat(F.lower("c_mktsegment"), F.lit(", , "))
    ).otherwise(
        F.concat_ws(", ", F.lower("c_mktsegment"), F.lower("n_name"), F.lower("r_name"))
    )
    return j.select(
        F.col("o_custkey").cast("string").alias("customer_id"),
        F.col("l_partkey").cast("string").alias("isbn"),
        (F.col("l_quantity").cast("int") % 11).cast("string").alias("book_rating"),
        location.alias("location"),
        # floor, not cast: Spark's double→int cast truncates toward zero while
        # DuckDB's rounds — floor() pins one portable semantic for both
        F.floor("c_acctbal").cast("int").cast("string").alias("age"),
        F.col("p_name").alias("book_title"),
        F.col("p_brand").alias("book_author"),
        F.col("p_size").cast("string").alias("year_of_publication"),
        F.col("p_type").alias("publisher"),
    )


# ---- the transform stages (reference Transformer.py analogs) -------------

def expand_location(df: DataFrame) -> DataFrame:
    """ExpandData (`workflow/Transformer.py:8-23`): Location → City, State,
    Country. Trimmed (documented deviation, SURVEY §7.1.4)."""
    return expand_delimited(df, "location", ["city", "state", "country"], delimiter=",")


def clean_data(df: DataFrame, columns: tuple[str, ...] | None = ("city", "state", "country")) -> DataFrame:
    """CleanData (`workflow/Transformer.py:26-37`): sentinel → NULL, then
    drop rows with NULL keys.

    The reference rewrites *every* column; here the default restricts the
    rewrite to the location-derived columns — the only ones in the
    synthesized raw table that can hold sentinels (everything else is cast
    from typed values). Semantically identical on this data, ~40% less
    string work per row, and a 1:1 match with the oracle's CASE list.
    Pass ``columns=None`` for the reference's rewrite-everything behavior
    (what compat.py uses).
    """
    return drop_null_keys(null_normalize(df, columns), KEY_COLUMNS)


def customers_dimension(df: DataFrame) -> DataFrame:
    """CustomersDimensionTable (`workflow/Transformer.py:40-52`)."""
    return df.select("customer_id", "age", "city", "state", "country").distinct()


def books_dimension(df: DataFrame) -> DataFrame:
    """BooksDimensionTable (`workflow/Transformer.py:55-67`)."""
    return df.select(
        "isbn", "book_title", "book_author", "year_of_publication", "publisher"
    ).distinct()


def ratings_fact(df: DataFrame) -> DataFrame:
    """RatingsFactTable (`workflow/Transformer.py:70-82`)."""
    return df.select("isbn", "customer_id", "book_rating")


def top100_books(df: DataFrame, min_ratings: int = 100) -> DataFrame:
    """Top100BooksTransformer (`workflow/Transformer.py:85-102`): group by
    (ISBN, title), avg rating (explicit cast — the reference relies on
    Spark's implicit string→double coercion, SURVEY §1.2), count, HAVING >=,
    sort desc, limit — with a deterministic tiebreak on isbn."""
    return (
        df.groupBy("isbn", "book_title")
        .agg(
            F.avg(F.col("book_rating").cast("double")).alias("average_rating"),
            F.count("book_title").alias("total_ratings"),
        )
        .filter(F.col("total_ratings") >= min_ratings)
        .orderBy(F.col("average_rating").desc(), F.col("isbn").asc())
        .limit(100)
    )


#: shared prefix as a Pipeline (C1/C2 registry analog)
CLEAN_PREFIX = Pipeline([expand_location, clean_data])


def run_etl(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_ratings: int = 100,
    fmt: str = "parquet",
) -> dict[str, DataFrame]:
    """Full E-T-L: extract → expand → clean → 4-way fan-out → idempotent
    columnar load. The clean prefix is cached across the 4 sink jobs
    (fixes the reference's 4× recomputation, SURVEY §4)."""
    raw = build_raw_ratings(spark, sf_dir)
    clean = CLEAN_PREFIX.run(raw)
    branches = fan_out(
        clean,
        {
            "dim_customers": customers_dimension,
            "dim_books": books_dimension,
            "fact_ratings": ratings_fact,
            "top100_books": lambda df: top100_books(df, min_ratings),
        },
        cache=True,
    )
    try:
        for name, df in branches.items():
            df.write.mode("overwrite").format(fmt).save(f"{out_dir}/{name}")
    finally:
        # the cached clean prefix served its purpose (4 sink jobs, 1
        # compute); leaving it cached would leak executor storage for the
        # session lifetime across repeated run_etl calls
        clean.unpersist()
    return branches
