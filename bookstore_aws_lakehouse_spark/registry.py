"""Query registry: the single source of truth behind ``__spark_entry__.py``.

``GOLDEN[name](spark, sf_dir) -> DataFrame`` — Spark plan;
``ORACLE[name]`` — its ANSI-SQL DuckDB twin (omitted only for queries whose
semantics SQL cannot express; those are only checked to build and run).

Query modules self-register via the ``@golden`` decorator; ``load_all()``
imports every module so the registry is complete.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from textwrap import dedent

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

GOLDEN: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
#: defining module (short name) per query — the QUERIES.md module column
MODULE: dict[str, str] = {}

_QUERY_MODULES = (
    "bookstore_aws_lakehouse_spark.golden",
    "bookstore_aws_lakehouse_spark.queries_sql",
    "bookstore_aws_lakehouse_spark.queries_etl",
    "bookstore_aws_lakehouse_spark.queries_events",
    "bookstore_aws_lakehouse_spark.queries_temporal",
    "bookstore_aws_lakehouse_spark.queries_text",
    "bookstore_aws_lakehouse_spark.queries_dedup",
    "bookstore_aws_lakehouse_spark.queries_sampling",
    "bookstore_aws_lakehouse_spark.queries_similarity",
    "bookstore_aws_lakehouse_spark.queries_streaming",
    "bookstore_aws_lakehouse_spark.queries_multimodal",
    "bookstore_aws_lakehouse_spark.queries_quality",
    "bookstore_aws_lakehouse_spark.queries_pipeline",
    "bookstore_aws_lakehouse_spark.queries_sketches",
    "bookstore_aws_lakehouse_spark.queries_graph",
)


def golden(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle) under ``name``.

    Raises ``ValueError`` if ``name`` is already registered: a second
    registration would otherwise silently replace the first.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in GOLDEN:
            raise ValueError(f"query {name!r} is already registered")
        GOLDEN[name] = fn
        MODULE[name] = fn.__module__.rsplit(".", 1)[-1]
        if oracle is not None:
            ORACLE[name] = dedent(oracle).strip()
        return fn

    return deco


def load_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every query module (idempotent) and return the registries."""
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as exc:
            if exc.name != mod:  # missing *dependency* inside a module is real
                raise
    return GOLDEN, ORACLE
