"""Sort / limit / top-k operators (SURVEY §2.5: O1-O3).

``sort desc + limit`` is THE reference pattern (Top-100 books,
`workflow/Transformer.py:102`; every SQL query ends ``ORDER BY ... DESC
LIMIT n``, `external-table-queries.sql:18-19,25-26,33-34,41-42`). Spark fuses
it into TakeOrderedAndProject: a per-partition bounded heap + driver merge —
no global sort, no full shuffle. That is exactly the plan you want at scale,
so the library expresses top-k only this way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _order_cols(order_by: Sequence[tuple[str, bool]]) -> list[Column]:
    return [F.col(c).desc() if desc else F.col(c).asc() for c, desc in order_by]


def top_k(
    df: DataFrame,
    order_by: Sequence[tuple[str, bool]],
    k: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """O2/O3 — deterministic top-k.

    ``tiebreak`` columns (ascending) make the selected row *set* unique when
    ``order_by`` values tie at the k boundary — required for oracle-exact
    results (SURVEY §7.3) and good hygiene anyway. Physical plan:
    TakeOrderedAndProject (bounded heaps, no global sort).
    """
    order = _order_cols(order_by) + [F.col(c).asc() for c in tiebreak]
    return df.orderBy(*order).limit(k)
