"""Sources and sinks (SURVEY §2.1: S1-S5)."""

from bookstore_aws_lakehouse_spark.sources.readers import (  # noqa: F401
    read_parquet,
    read_csv,
    read_json,
)
from bookstore_aws_lakehouse_spark.sources.writers import (  # noqa: F401
    write_parquet,
    write_csv,
    save_as_bucketed_table,
)
