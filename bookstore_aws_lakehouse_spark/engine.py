"""Engine facade — the one-import entry point for users of the library.

    from bookstore_aws_lakehouse_spark.engine import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.table("lineitem")            # DataFrame over the lake
    eng.sql("SELECT count(*) FROM lineitem")  # answered from a result cache
    eng.refresh()                    # after regenerating a fixture in place
    eng.run("topk_books")            # any registered golden query
    eng.run_etl("/tmp/mart")         # the star-schema E-T-L
    eng.query_names()                # what's available

Thin by design: it wires the session factory, catalog, query registry and
ETL together; every capability remains importable on its own.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from bookstore_aws_lakehouse_spark.catalog import (
    _file_fingerprint,
    analyze_sql,
    load_table,
    register_views,
)
from bookstore_aws_lakehouse_spark.registry import load_all
from bookstore_aws_lakehouse_spark.session import get_spark

#: ``sql()`` stores the result of a query whose optimized plan can yield
#: at most this many rows: dashboard-sized answers
_RESULT_MAX_ROWS = 10_000
#: an Engine's stored results may hold this many estimated JVM bytes; the
#: least recently used are dropped beyond it
_RESULT_CACHE_BYTES = 64 << 20


class _Result(NamedTuple):
    """One stored answer: the analysed plan it answers (semantic hash),
    the files it read with their fingerprint when it ran, and the rows as
    a ``LocalRelation`` DataFrame, whose collect runs no job."""

    plan: int
    files: tuple[str, ...]
    fingerprint: tuple
    df: DataFrame
    nbytes: int


def _fingerprint(files: tuple[str, ...]) -> tuple | None:
    """The fingerprint of ``files`` (``file:`` URIs) and of the directories
    that hold them (a file added or renamed beside them changes its
    directory), or None when one is not a local path that stats."""
    if not all(f.startswith("file:") for f in files):
        return None
    paths = sorted({*files, *(os.path.dirname(f) for f in files)})
    fps = tuple(_file_fingerprint(p) for p in paths)
    return None if ("nostat",) in fps else fps


def _cacheable_files(df: DataFrame, patterns: tuple) -> tuple[str, ...] | None:
    """The files ``df`` reads if its result may be stored, else None.

    Stored are deterministic plans, bounded to ``_RESULT_MAX_ROWS`` rows,
    that read only through Spark's file sources (or nothing) and whose
    every input appears in ``inputFiles()``. Spark reports
    ``current_timestamp()`` and the other clock functions as
    deterministic, so they are refused by pattern; ``inputFiles()`` leaves
    out files read only by a subquery expression, so those are refused
    too. ``patterns`` are the ``TreePattern``s CURRENT_LIKE,
    PLAN_EXPRESSION and PYTHON_UDF."""
    current_like, plan_expression, python_udf = patterns
    qe = df._jdf.queryExecution()
    analyzed, optimized = qe.analyzed(), qe.optimizedPlan()
    if not analyzed.deterministic() or analyzed.containsPattern(current_like):
        return None
    bound = optimized.maxRows()
    if not bound.isDefined() or bound.get() > _RESULT_MAX_ROWS:
        return None
    if optimized.containsPattern(plan_expression) or (
        optimized.containsPattern(python_udf)
    ):
        return None
    leaves = optimized.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            kind = leaf.relation().getClass().getSimpleName()
        if kind not in ("HadoopFsRelation", "OneRowRelation"):
            return None
    return tuple(sorted(df.inputFiles()))


class Engine:
    """One lake directory (``sf_dir``) on a SparkSession.

    ``sql()`` resolves table names against the session's temp views, which
    are registered once per (session, ``sf_dir``) and re-pointed only when
    another ``Engine`` on the session uses a different ``sf_dir``. Each
    query is analysed under the session's view lock, so several client
    threads, and several ``Engine``s with different ``sf_dir``s, can share
    one session. A fixture regenerated in place is not re-read by
    ``sql()``: call ``refresh()`` to re-read it.

    ``sql()`` keeps a bounded result cache of its own (see ``sql``), so a
    recurring dashboard request runs no Spark job. The cache is never
    shared with another ``Engine`` and never touches Spark's
    CacheManager.
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
        #: (query, sf_dir, conf hash) -> _Result, least recently used first
        self._results: OrderedDict[tuple, _Result] = OrderedDict()
        self._results_bytes = 0
        self._results_lock = threading.Lock()
        # JVM handles sql() uses on every call, looked up once
        jvm = self.spark._jvm
        self._sql_conf = self.spark._jsparkSession.sessionState().conf()
        tp = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        self._patterns = (tp.CURRENT_LIKE(), tp.PLAN_EXPRESSION(), tp.PYTHON_UDF())
        self._size_of = jvm.org.apache.spark.util.SizeEstimator.estimate

    # -- data access -------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """``query`` over this Engine's tables.

        A query whose optimized plan bounds its output to at most
        ``_RESULT_MAX_ROWS`` rows, is deterministic, reads no clock, and
        reads only local files, none of them inside a subquery, runs
        here: its rows are collected once and come back as a
        ``LocalRelation`` DataFrame, so errors in running it surface
        from ``sql()``. The rows are stored and served again, with no
        Spark job, while the query text, ``sf_dir``, the session's conf,
        the analysed plan, and the (mtime, size) of every file it read and
        of their directories are unchanged. Any other query comes back
        lazy, as from ``spark.sql``. ``refresh()`` empties the store.
        """
        # the DataFrame is bound to this Engine's tables at analysis, so
        # other Engines may re-point the views afterwards; a fixture
        # regenerated in place is re-read only by refresh()
        df = analyze_sql(self.spark, self.sf_dir, query)
        key = (query, self.sf_dir, self._sql_conf.getAllConfs().hashCode())
        with self._results_lock:
            hit = self._results.get(key)
        if hit is not None:
            plan = df._jdf.queryExecution().analyzed().semanticHash()
            if plan == hit.plan and _fingerprint(hit.files) == hit.fingerprint:
                with self._results_lock:
                    if key in self._results:
                        self._results.move_to_end(key)
                return hit.df
        files = _cacheable_files(df, self._patterns)
        fingerprint = None if files is None else _fingerprint(files)
        if fingerprint is None:
            return df
        # fingerprinted before it runs: a file rewritten meanwhile misses
        rows = df._jdf.collectAsList()
        jlocal = self.spark._jsparkSession.createDataFrame(rows, df._jdf.schema())
        local = DataFrame(jlocal, self.spark)
        nbytes = self._size_of(rows)
        if nbytes <= _RESULT_CACHE_BYTES:
            plan = df._jdf.queryExecution().analyzed().semanticHash()
            self._store(key, _Result(plan, files, fingerprint, local, nbytes))
        return local

    def _store(self, key: tuple, result: _Result) -> None:
        with self._results_lock:
            old = self._results.pop(key, None)
            if old is not None:
                self._results_bytes -= old.nbytes
            self._results[key] = result
            self._results_bytes += result.nbytes
            while self._results_bytes > _RESULT_CACHE_BYTES:
                _, dropped = self._results.popitem(last=False)
                self._results_bytes -= dropped.nbytes

    def refresh(self) -> None:
        """Re-read this Engine's tables, re-point the session's views at
        them and empty ``sql()``'s result cache: the explicit step after a
        fixture is regenerated in place."""
        with self._results_lock:
            self._results.clear()
            self._results_bytes = 0
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
