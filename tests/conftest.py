"""Shared fixtures: one SparkSession + one DuckDB connection per run.

The DuckDB connection pre-registers the driver tables as views, same
as the driver's correctness harness (TESTDATA.md: t2 uses sf0.01).
"""

from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_query_system_spark.session import get_spark
from document_query_system_spark.sources.tables import TABLES

# Correctness gate scale factor (mirrors the driver's t2).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="dqs-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started), counted through a job
    group once the listener bus has drained (the status store is fed
    asynchronously)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
