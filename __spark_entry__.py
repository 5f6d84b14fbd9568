"""Entry-point façade over the query registry (PySpark target).

``entry(spark)`` is a smoke query; ``queries()[name](spark, sf_dir)``
builds each registered query and ``oracle_sql()[name]`` is its DuckDB
twin. All real logic lives in ``bookstore_aws_lakehouse_spark/``: see
``golden.py`` for the relational set and the ``queries_*`` modules for the
dedup / similarity / text / streaming families.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bookstore_aws_lakehouse_spark.registry import load_all

GOLDEN, ORACLE = load_all()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference Top-100-Books pattern) on sf0.001."""
    return GOLDEN["topk_books"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    return dict(GOLDEN)


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query in ``queries()``."""
    return dict(ORACLE)
