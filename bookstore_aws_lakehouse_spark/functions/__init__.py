"""Scalar / vector expression helpers (SURVEY §2.7 + extensions)."""

from bookstore_aws_lakehouse_spark.functions.scalar import (  # noqa: F401
    exact_sum,
    null_if_in,
)
from bookstore_aws_lakehouse_spark.functions.vector import (  # noqa: F401
    dot,
    l2_norm,
    cosine_similarity,
)
