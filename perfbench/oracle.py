"""DuckDB over the same parquet files: the reference every check uses."""

from __future__ import annotations

import math
import os

import duckdb


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view per fixture table in ``data_dir``."""
    from bookstore_aws_lakehouse_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def rows_equal(got, want, ordered: bool = True) -> bool:
    """Row lists equal value by value (floats to 1e-9 relative)."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    return all(
        len(g) == len(w) and all(_same_value(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )
