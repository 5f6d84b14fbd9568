"""Shared test fixtures: one local SparkSession per test run."""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bookstore_aws_lakehouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="bookstore-lakehouse-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "8g",
            # per-run managed-table location so saveAsTable tests never
            # collide with leftovers from previous sessions
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="blhs_warehouse_"),
            # status-store retention caps: a 700-test session otherwise
            # accumulates thousands of retained execution plans whose
            # heap/GC pressure slows the suite's tail
            "spark.sql.ui.retainedExecutions": "20",
            "spark.ui.retainedJobs": "100",
            "spark.ui.retainedStages": "100",
            "spark.ui.retainedTasks": "2000",
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
