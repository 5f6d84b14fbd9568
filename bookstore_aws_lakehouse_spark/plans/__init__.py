"""Pipeline / control-flow layer (SURVEY §2.11)."""

from bookstore_aws_lakehouse_spark.plans.pipeline import (  # noqa: F401
    Pipeline,
)
