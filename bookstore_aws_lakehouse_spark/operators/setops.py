"""Set operators (SURVEY §2.6).

The reference has none explicitly — but its nightly ``append`` save mode
(`workflow/StringConstant.py:4`) is an *implicit* bag UNION ALL of successive
runs. We make set semantics explicit. ``unionByName`` resolves columns by
name, not position — positional union is a silent-corruption hazard when
schemas drift between runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_all_by_name(a: DataFrame, b: DataFrame, allow_missing: bool = False) -> DataFrame:
    """Bag union, name-resolved. Zero shuffle — partitions concatenate."""
    return a.unionByName(b, allowMissingColumns=allow_missing)


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set union: bag union + distinct (one shuffle on all columns)."""
    return a.unionByName(b).distinct()


def intersect_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set intersection (INTERSECT)."""
    return a.intersect(b)


def except_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set difference (EXCEPT DISTINCT)."""
    return a.subtract(b)
