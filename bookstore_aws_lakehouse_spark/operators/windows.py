"""Window-function operators (SURVEY §2.8 — beyond-reference).

The reference's drill-down query (`external-table-queries.sql:29-34`) is the
hardcoded-single-country version of per-group top-N; windows generalize it.
A window shuffles once on its partition keys — at scale, pick partition keys
with enough cardinality, and never use an ORDER BY window without
PARTITION BY (that funnels all data through one task).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bookstore_aws_lakehouse_spark.operators.sort import _order_cols


def top_n_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[tuple[str, bool]],
    n: int,
    tiebreak: Sequence[str] = (),
    rank_name: str = "rn",
) -> DataFrame:
    """Top-N rows per group via ``row_number`` over a partitioned window.

    ``tiebreak`` (ascending) makes row_number deterministic under ties —
    without it the selected rows are partition-order dependent, which breaks
    reproducibility (and the oracle comparison).
    """
    if not partition_by:
        raise ValueError(
            "top_n_per_group: empty partition_by funnels the whole dataset "
            "through one task (use orderBy().limit() / top_k for global top-N)"
        )
    order = _order_cols(order_by) + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .filter(F.col(rank_name) <= n)
    )
