"""Every golden query vs its DuckDB oracle at sf0.001 (fast inner loop).

To check at the larger sf0.01 scale, run
``SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01 pytest tests/test_golden_parity.py``
before committing a new query.
"""

from __future__ import annotations

import os

import pytest

from bookstore_aws_lakehouse_spark.registry import golden, load_all
from tests.oracle import compare, duckdb_connection

GOLDEN, ORACLE = load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    return duckdb_connection(SF_DIR)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_golden_matches_oracle(spark, con, name):
    compare(GOLDEN[name](spark, SF_DIR), con, ORACLE[name], name)


def test_all_golden_queries_run(spark):
    """Queries without an oracle must still execute and return a schema."""
    for name, fn in GOLDEN.items():
        if name not in ORACLE:
            df = fn(spark, SF_DIR)
            assert df.columns, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert list(e.queries()) == list(GOLDEN)
    assert e.oracle_sql() == ORACLE


def test_duplicate_registration_raises():
    """A second registration under a taken name must fail loudly instead
    of silently replacing the first query."""
    name = next(iter(GOLDEN))
    before = GOLDEN[name]

    with pytest.raises(ValueError, match=name):

        @golden(name)
        def _again(spark, sf_dir):
            raise AssertionError("never built")

    assert GOLDEN[name] is before
