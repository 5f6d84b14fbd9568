"""Engine facade — the one-import entry point for users of the library.

    from bookstore_aws_lakehouse_spark.engine import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.table("lineitem")            # DataFrame over the lake
    eng.sql("SELECT count(*) FROM lineitem")
    eng.refresh()                    # after regenerating a fixture in place
    eng.run("topk_books")            # any registered golden query
    eng.run_etl("/tmp/mart")         # the star-schema E-T-L
    eng.query_names()                # what's available

Thin by design: it wires the session factory, catalog, query registry and
ETL together; every capability remains importable on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bookstore_aws_lakehouse_spark.catalog import (
    analyze_sql,
    load_table,
    register_views,
)
from bookstore_aws_lakehouse_spark.registry import load_all
from bookstore_aws_lakehouse_spark.session import get_spark


class Engine:
    """One lake directory (``sf_dir``) on a SparkSession.

    ``sql()`` resolves table names against the session's temp views, which
    are registered once per (session, ``sf_dir``) and re-pointed only when
    another ``Engine`` on the session uses a different ``sf_dir``. Each
    query is analysed under the session's view lock, so several client
    threads, and several ``Engine``s with different ``sf_dir``s, can share
    one session. A fixture regenerated in place is not noticed by
    ``sql()``: call ``refresh()`` to re-read it.
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str = "/root/testdata/sf0.01",
        master: str | None = None,
    ) -> None:
        self.spark = spark or get_spark(master=master)
        self.sf_dir = sf_dir
        self._golden, self._oracle = load_all()

    # -- data access -------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        # the DataFrame is bound to this Engine's tables at analysis, so
        # other Engines may re-point the views afterwards; a fixture
        # regenerated in place is re-read only by refresh()
        return analyze_sql(self.spark, self.sf_dir, query)

    def refresh(self) -> None:
        """Re-read this Engine's tables and re-point the session's views at
        them: the explicit step after a fixture is regenerated in place."""
        register_views(self.spark, self.sf_dir)

    # -- registered queries ------------------------------------------------
    def query_names(self) -> list[str]:
        return sorted(self._golden)

    def run(self, name: str) -> DataFrame:
        try:
            fn = self._golden[name]
        except KeyError:
            raise ValueError(f"unknown query: {name!r}; see query_names()") from None
        return fn(self.spark, self.sf_dir)

    def oracle(self, name: str) -> str | None:
        """The ANSI-SQL twin of a query (None if genuinely non-SQL)."""
        return self._oracle.get(name)

    # -- pipelines ---------------------------------------------------------
    def run_etl(self, out_dir: str, min_ratings: int = 25) -> dict[str, DataFrame]:
        from bookstore_aws_lakehouse_spark.plans.etl import run_etl

        return run_etl(self.spark, self.sf_dir, out_dir, min_ratings=min_ratings)
