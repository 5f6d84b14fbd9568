"""Scalar expression helpers.

``exact_sum`` encodes the engine's determinism policy for
money-like doubles: floating-point summation is order-dependent, and at
cluster scale partition order is nondeterministic — two runs of the same
query can differ in the last ulps, and an oracle comparison will flag it.
Fixed-point inputs (prices in cents, 2-dp discounts) sum *exactly* in
decimal, independent of order; we cast to decimal, aggregate, and cast the
final scalar back to double. Cost: decimal agg is slightly slower than
double, but it's exact and reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM for fixed-point-valued double columns.
    Values cast at decimal(28, scale): doubles are integers-exact only
    to 2^53 anyway, and the wider type keeps a pathological huge value
    from casting to NULL and silently vanishing from an "exact" sum
    (Spark's non-ANSI overflow behavior)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def null_if_in(col: Column | str, tokens: tuple[str, ...]) -> Column:
    """F3 — CASE WHEN col IN (tokens) THEN NULL ELSE col END (the reference's
    ``" "``-to-NULL rewrite, `workflow/Transformer.py:36`, generalized)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isin(list(tokens)), F.lit(None)).otherwise(c)
