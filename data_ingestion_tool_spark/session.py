"""SparkSession factory with scale-aware defaults.

The reference creates no session of its own (it runs inside a hosted
Spark runtime and receives ``spark`` as an argument everywhere, e.g.
box_ingest.py:180, box_export.py:71). This engine owns its session
configuration so the same code runs on ``local[N]`` in tests and on a
multi-executor cluster unchanged — only ``master`` and sizing change.

Key choices (each matters at 100 TB):

- **AQE on** — runtime re-planning: coalesces post-shuffle partitions,
  converts sort-merge→broadcast when a side turns out small, splits
  skewed partitions.
- **UTC session timezone** — deterministic timestamp semantics across
  engines (the DuckDB oracle is timezone-naive; with a UTC session the
  wall-clock values agree).
- **shuffle.partitions** sized by env (32 locally; a cluster deployment
  sets thousands or relies on AQE coalescing from a high initial count).
- **Arrow on** — vectorized createDataFrame/toPandas/pandas_udf
  transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def configure_builder(
    builder: SparkSession.Builder,
    *,
    shuffle_partitions: int | str | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession.Builder:
    """Apply the engine's standard configuration to a builder."""
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) (the events table) is otherwise an
        # error; read as long and convert in the loader (sources/tables
        # truncates ns→µs, matching DuckDB's microsecond timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep driver results bounded: exports collect to the driver.
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    return builder


def get_spark(
    app_name: str = "data_ingestion_tool_spark",
    master: str | None = None,
    *,
    shuffle_partitions: int | str | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    master is configured in the environment, so tests and the bench
    harness are deterministic. ``extra_conf`` lets callers (bench) add
    workload-sized settings without forking the factory.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    # Heap sizing for LOCAL mode: Spark's 1g default heap serves one
    # driver thread on a cluster, but in local[N] the same JVM runs
    # all N task threads — N-way parallel shuffles/windows in 1g is a
    # GC wall long before data is "big". Only effective at JVM launch
    # (a pre-existing session keeps its heap); cluster deployments
    # size executors via spark-submit instead.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY")
    if mem and master and master.startswith("local"):
        builder = builder.config("spark.driver.memory", mem)
    builder = configure_builder(
        builder,
        shuffle_partitions=shuffle_partitions,
        warehouse_dir=warehouse_dir,
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
