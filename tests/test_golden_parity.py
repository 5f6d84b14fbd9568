"""Every golden query vs its DuckDB oracle at sf0.001 (fast inner loop).

To check at the larger sf0.01 scale, run
``SPARK_GRAFT_PARITY_SF=/root/testdata/sf0.01 pytest tests/test_golden_parity.py``
before committing a new query.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from bookstore_aws_lakehouse_spark.registry import golden, load_all
from tests.oracle import compare, duckdb_connection

GOLDEN, ORACLE = load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    return duckdb_connection(SF_DIR)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_golden_matches_oracle(spark, con, name, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    compare(GOLDEN[name](spark, SF_DIR), con, ORACLE[name], name)
    # the events-stream symlink directory is made once per process and
    # reused by every later stream query (streaming/jobs.py::_STREAM_DIRS)
    left = sorted(
        p.name for p in tmp_path.iterdir()
        if not p.name.startswith("blhs_events_stream_")
    )
    assert left == [], f"{name} left scratch files behind: {left}"


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


def test_queries_md_matches_registry():
    """QUERIES.md is generated from the registry: a row added, removed or
    re-documented without regenerating it fails here."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", os.path.join(root, "scripts", "gen_queries_md.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(os.path.join(root, "QUERIES.md")) as f:
        on_disk = f.read()
    assert on_disk == gen.render(), (
        "QUERIES.md is stale: run python scripts/gen_queries_md.py"
    )
