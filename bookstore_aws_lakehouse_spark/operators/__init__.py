"""Operator library: every relational operator from SURVEY.md §2, as
composable ``DataFrame -> DataFrame`` functions, plus the beyond-reference
surface (windows, set ops, dedup, similarity, text, multimodal).

Each function builds a *declarative* plan — Catalyst owns pushdown, pruning,
join strategy, partial aggregation, and AQE re-planning.
"""

from bookstore_aws_lakehouse_spark.operators.projection import (  # noqa: F401
    select_columns,
    null_normalize,
    expand_delimited,
    drop_null_keys,
)
from bookstore_aws_lakehouse_spark.operators.filters import filter_equals, filter_expr  # noqa: F401
from bookstore_aws_lakehouse_spark.operators.aggregates import (  # noqa: F401
    group_agg,
    distinct_rows,
    count_star_by,
    rollup_agg,
    cube_agg,
    pivot_agg,
)
from bookstore_aws_lakehouse_spark.operators.joins import (  # noqa: F401
    join_dim_fact,
    semi_join,
    anti_join,
)
from bookstore_aws_lakehouse_spark.operators.sort import top_k  # noqa: F401
from bookstore_aws_lakehouse_spark.operators.windows import (  # noqa: F401
    top_n_per_group,
)
from bookstore_aws_lakehouse_spark.operators.setops import (  # noqa: F401
    union_all_by_name,
    union_distinct,
    intersect_rows,
    except_rows,
)
