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
    """One stored answer, what it answers and the files it read with their
    fingerprint when it ran.

    Under a text key, ``plan`` is the analysed plan's semantic hash and
    ``answer`` the rows as a ``LocalRelation`` DataFrame, whose collect
    runs no job. Under a core key, ``plan`` is the core's canonical plan
    and ``answer`` its rows (a JVM ``Seq[InternalRow]``), or None for a
    core of more than ``_RESULT_MAX_ROWS`` rows."""

    plan: object
    files: tuple[str, ...]
    fingerprint: tuple
    answer: object
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


def _split(plan) -> tuple[list, object, object] | None:
    """``(chain, sort, core)``: an optimized ``plan`` cut into the residual
    a request varies (its HAVING threshold, LIMIT) and the core below it,
    or None when there is no residual.

    The residual is the GlobalLimit, LocalLimit, Project and Filter nodes
    at the top, at most one global ``sort`` and the Filters directly under
    it. ``chain`` lists its nodes from the top down without the Sort: the
    Filters under the Sort come last, since a deterministic filter (the
    whole plan is) commutes with a sort."""
    chain, sort, node = [], None, plan
    while True:
        kind = node.nodeName()
        if kind == "Filter" or (
            sort is None and kind in ("GlobalLimit", "LocalLimit", "Project")
        ):
            chain.append(node)
        elif kind == "Sort" and sort is None and getattr(node, "global")():
            sort = node
        else:
            return (chain, sort, node) if chain or sort else None
        node = node.child()


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
    recurring dashboard request runs no Spark job, and neither does a
    variant of it that changes only its HAVING threshold or LIMIT. The
    cache is never shared with another ``Engine`` and never touches
    Spark's CacheManager.
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
        #: (query, sf_dir, conf hash) and (core hash, sf_dir, conf hash)
        #: -> _Result, least recently used first
        self._results: OrderedDict[tuple, _Result] = OrderedDict()
        self._results_bytes = 0
        #: key -> an event set when the one caller running it is done
        self._running: dict[tuple, threading.Event] = {}
        self._results_lock = threading.Lock()
        # JVM handles sql() uses on every call, looked up once
        jvm = self.spark._jvm
        self._sql_conf = self.spark._jsparkSession.sessionState().conf()
        tp = jvm.org.apache.spark.sql.catalyst.trees.TreePattern
        self._patterns = (tp.CURRENT_LIKE(), tp.PLAN_EXPRESSION(), tp.PYTHON_UDF())
        self._size_of = jvm.org.apache.spark.util.SizeEstimator.estimate
        catalyst = jvm.org.apache.spark.sql.catalyst
        self._ordering = catalyst.expressions.codegen.LazilyGeneratedOrdering
        self._local_relation = catalyst.plans.logical.LocalRelation
        self._of_rows = jvm.org.apache.spark.sql.classic.Dataset.ofRows
        self._to_seq = jvm.org.apache.spark.api.python.PythonUtils.toSeq
        self._none = jvm.scala.Option.empty()

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
        from ``sql()``. Any other query comes back lazy, as from
        ``spark.sql``.

        The rows are stored and served again, with no Spark job, while
        the query text, ``sf_dir``, the session's conf, the analysed plan,
        and the (mtime, size) of every file it read and of their
        directories are unchanged. Below the limits, sort and filters at
        its top (see ``_split``) a query has a core, such as its
        aggregate. The core's rows are stored too, under its canonical
        plan, so a request that differs only above the core (another
        HAVING threshold or LIMIT) runs no job either: the core's rows
        are sorted in the driver with Spark's own ordering and the rest of
        the plan runs over them as a ``LocalRelation``. A core of more
        than ``_RESULT_MAX_ROWS`` rows is remembered as such, and its
        queries run whole. One caller at a time runs a missing entry;
        the others wait for it. ``refresh()`` empties the store.
        """
        # the DataFrame is bound to this Engine's tables at analysis, so
        # other Engines may re-point the views afterwards; a fixture
        # regenerated in place is re-read only by refresh()
        df = analyze_sql(self.spark, self.sf_dir, query)
        conf = self._sql_conf.getAllConfs().hashCode()
        key = (query, self.sf_dir, conf)
        hit = self._claim(
            key, lambda plan: plan == df._jdf.queryExecution().analyzed().semanticHash()
        )
        if hit is not None:
            return hit.answer
        try:
            return self._run(df, key, conf)
        finally:
            self._release(key)

    def _run(self, df: DataFrame, key: tuple, conf: int) -> DataFrame:
        """``df`` collected and stored under ``key``, from its core's rows
        when they are stored; ``df`` itself if its result may not be
        stored."""
        files = _cacheable_files(df, self._patterns)
        fingerprint = None if files is None else _fingerprint(files)
        if fingerprint is None:
            return df
        # fingerprinted before it runs: a file rewritten meanwhile misses
        jss = self.spark._jsparkSession
        qe = df._jdf.queryExecution()
        answer = df._jdf
        split = _split(qe.optimizedPlan())
        if split is not None:
            chain, sort, core = split
            rows = self._core(core, files, fingerprint, conf).answer
            if rows is not None:
                answer = self._over(chain, sort, core, rows)
        folded = answer.queryExecution().optimizedPlan()
        if folded.nodeName() == "LocalRelation":
            # the optimizer already computed the rows: no job, no collect
            rows = folded.data()
            jlocal = self._of_rows(
                jss, self._local_relation(qe.analyzed().output(), rows, False, self._none)
            )
        else:
            rows = answer.collectAsList()
            jlocal = jss.createDataFrame(rows, df._jdf.schema())
        local = DataFrame(jlocal, self.spark)
        plan = qe.analyzed().semanticHash()
        self._store(key, _Result(plan, files, fingerprint, local, self._size_of(rows)))
        return local

    def _core(self, core, files: tuple, fingerprint: tuple, conf: int) -> _Result:
        """The entry stored for the plan ``core``, run and stored first if
        it is missing. A 32-bit hash picks the entry; only an equal
        canonical plan is served from it."""
        canon = core.canonicalized()
        key = (canon.hashCode(), self.sf_dir, conf)
        hit = self._claim(key, canon.equals)
        if hit is not None:
            return hit
        try:
            jss = self.spark._jsparkSession
            jdf = self._of_rows(jss, core).limit(_RESULT_MAX_ROWS + 1)
            rows = jdf.collectAsList()
            if rows.size() > _RESULT_MAX_ROWS:
                result = _Result(canon, files, fingerprint, None, 0)
            else:
                data = jss.createDataFrame(rows, jdf.schema()).logicalPlan().data()
                result = _Result(canon, files, fingerprint, data, self._size_of(data))
            self._store(key, result)
            return result
        finally:
            self._release(key)

    def _over(self, chain: list, sort, core, rows):
        """The residual (``chain`` and ``sort``) over ``rows``, the stored
        rows of ``core``, as a JVM DataFrame: the optimizer folds its
        Filters, Projects and Limits into one ``LocalRelation``."""
        if sort is not None:
            rows = rows.sorted(self._ordering(sort.order(), core.output()))
        plan = self._local_relation(core.output(), rows, False, self._none)
        for node in reversed(chain):
            plan = node.withNewChildren(self._to_seq([plan]))
        return self._of_rows(self.spark._jsparkSession, plan)

    def _claim(self, key: tuple, same_plan) -> _Result | None:
        """The entry stored under ``key`` if it still answers: ``same_plan``
        accepts its plan and its files are unchanged. Otherwise None, and
        the caller runs ``key``, stores it and calls ``_release(key)``;
        other callers of ``key`` wait for that. If the caller fails, the
        next one runs ``key`` itself."""
        stale = None
        while True:
            with self._results_lock:
                running = self._running.get(key)
                hit = self._results.get(key)
                if running is None:
                    if hit is None or hit is stale:
                        self._running[key] = threading.Event()
                        return None
                    self._results.move_to_end(key)
            if running is not None:
                running.wait()
            elif same_plan(hit.plan) and _fingerprint(hit.files) == hit.fingerprint:
                return hit
            else:
                stale = hit

    def _release(self, key: tuple) -> None:
        with self._results_lock:
            self._running.pop(key).set()

    def _store(self, key: tuple, result: _Result) -> None:
        if result.nbytes > _RESULT_CACHE_BYTES:
            return
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
