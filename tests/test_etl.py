"""End-to-end E-T-L test: run the full pipeline with its sinks and check the
mart is readable, idempotent, and consistent with the in-memory branches."""

from __future__ import annotations

from bookstore_aws_lakehouse_spark.plans.etl import run_etl


def test_run_etl_writes_star_schema(spark, sf_smoke, tmp_path):
    out_dir = str(tmp_path)
    branches = run_etl(spark, sf_smoke, out_dir, min_ratings=20)

    dim_c = spark.read.parquet(f"{out_dir}/dim_customers")
    dim_b = spark.read.parquet(f"{out_dir}/dim_books")
    fact = spark.read.parquet(f"{out_dir}/fact_ratings")
    top = spark.read.parquet(f"{out_dir}/top100_books")

    assert dim_c.columns == ["customer_id", "age", "city", "state", "country"]
    assert dim_b.columns == ["isbn", "book_title", "book_author", "year_of_publication", "publisher"]
    assert fact.columns == ["isbn", "customer_id", "book_rating"]
    assert top.columns == ["isbn", "book_title", "average_rating", "total_ratings"]

    # dims really are distinct
    assert dim_c.count() == dim_c.distinct().count()
    # dirty rows (negative acctbal → ', , ' location) were dropped
    assert fact.count() < 6000
    assert fact.count() == branches["fact_ratings"].count()
    assert 0 < top.count() <= 100

    # idempotent load: re-running must not grow the mart (the reference's
    # nightly append bug, SURVEY §7.1.6)
    n_before = fact.count()
    run_etl(spark, sf_smoke, out_dir, min_ratings=20)
    assert spark.read.parquet(f"{out_dir}/fact_ratings").count() == n_before
