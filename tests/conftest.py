"""Shared fixtures: one SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import itertools
import os

import duckdb
import pytest

from data_ingestion_tool_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    session = get_spark(
        "data_ingestion_tool_spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        warehouse_dir=wh,
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


_GROUPS = itertools.count()


def jobs_started(spark, fn):
    """Run ``fn()`` under a Spark job group of its own and return
    ``(fn's result, number of Spark jobs it started)``. The listener bus
    is drained before the count is read, so the count is exact."""
    sc = spark.sparkContext
    group = f"jobs-started-{next(_GROUPS)}"
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the same tables the driver registers."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


@pytest.fixture(scope="session")
def duck():
    con = make_duck(SF_CORRECT)
    yield con
    con.close()
