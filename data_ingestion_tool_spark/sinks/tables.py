"""Managed-table sinks: main table, error/quarantine table, audit log.

Reference behavior preserved (SURVEY.md §2.2):

- appends carry ``process_dt = from_utc_timestamp(current_timestamp(),
  'Asia/Shanghai')`` — ingestion timestamps are China-local wall-clock
  (box_ingest.py:126, :167)
- rejected rows land in a sibling ``<table>_error`` table with columns
  (record, error_type, process_dt) (box_ingest.py:115-125)
- an audit table records (task_owner, job_action, log_info, process_dt)
  (box_ingest.py:13-20)

Deliberate changes, each a scale or correctness fix:

- **Format fallback**: Delta when delta-spark is importable, else
  parquet ``saveAsTable`` — same catalog surface either way.
- **One commit per table per run**: every batch of an ingest (all
  files of one format in one scan, or one Excel workbook) is validated
  on its own, then the run appends the union of the valid sides to the
  table and the union of the invalid sides to ``<table>_error``, one
  commit each; the reference commits once per file (box_ingest.py:127),
  which at 100 TB means millions of tiny commits + small files.
- **No f-string SQL**: the reference interpolates log values into an
  INSERT (box_ingest.py:14-18) and breaks on a quote (SQL injection);
  log rows here travel as DataFrame literals, and the AuditLog buffers
  so a run is one log commit, not 3-6 per file. Each buffered row keeps
  the UTC time of its ``log()`` call, so ``process_dt`` is the action's
  time (box_ingest.py:13-20 stamps each INSERT), not the flush time.
"""

from __future__ import annotations

import datetime
import functools
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_ingestion_tool_spark.validate import Split

PROCESS_TZ = "Asia/Shanghai"


def _table_format() -> str:
    try:
        import delta  # type: ignore  # noqa: F401

        return "delta"
    except ImportError:
        return "parquet"


TABLE_FORMAT = _table_format()


def process_dt_col() -> F.Column:
    return F.from_utc_timestamp(F.current_timestamp(), PROCESS_TZ)


def qualified(table_name: str, catalog: str | None, schema: str | None) -> str:
    parts = [p for p in (catalog, schema, table_name) if p]
    return ".".join(parts)


def append_table(
    df: DataFrame,
    table_name: str,
    *,
    catalog: str | None = None,
    schema: str | None = None,
    add_process_dt: bool = True,
    partition_by: list[str] | None = None,
) -> None:
    """Single-transaction append (one call per table per run).

    ``partition_by`` prunes at scale: a table partitioned by ingest
    date (or any low-cardinality key) lets every downstream filter on
    that key skip whole directories (partition pruning), and
    concurrent writers touch disjoint partitions.
    """
    if add_process_dt:
        df = df.withColumn("process_dt", process_dt_col())
    writer = df.write.format(TABLE_FORMAT).mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(qualified(table_name, catalog, schema))


def union_all(frames: list[DataFrame]) -> DataFrame:
    """``unionByName`` of ``frames``, widest first so the result keeps
    the full column order; a frame that lacks a column gets nulls in
    it (on a validation split that is only ever an all-invalid batch,
    whose valid side is empty)."""
    ordered = sorted(frames, key=lambda f: -len(f.columns))
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), ordered
    )


def write_split(
    splits: list[Split],
    table_name: str,
    *,
    catalog: str | None = None,
    schema: str | None = None,
) -> list[tuple[int, int]]:
    """Write a run's validation splits: the union of every valid side
    → table in ONE append, the union of every invalid side →
    table_error in ONE append. Returns each split's (valid, invalid)
    row counts, in order (for the per-batch completion log, reference
    box_ingest.py:176).

    No count pass and no cache: each split carries its own
    ``Observation`` above its validity filter, so the first append
    counts both sides of every batch in its own job. At 100 TB a
    ``persist()`` of the valid stream would spill the whole table to
    executor disk just to count it.

    Neither table is created empty (reference parity,
    box_ingest.py:172-175): one emptiness guard per table decides, and
    it runs on the un-observed frames because an Observation reports
    only the first action that runs it. The error table needs its
    guard only when nothing valid was written; otherwise the observed
    invalid counts decide. The guard is ``head(1)``, not ``isEmpty``:
    on Spark 4 ``isEmpty`` runs every partition of the union, while
    ``head`` scans partitions incrementally and stops at the first
    row, which is one task when the first batch has a valid row.
    """
    observations = [Observation() for _ in splits]
    observed = [s.observed(o) for s, o in zip(splits, observations)]
    wrote_valid = bool(union_all([s.valid for s in splits]).head(1))
    if wrote_valid:
        append_table(
            union_all([s.valid for s in observed]),
            table_name,
            catalog=catalog,
            schema=schema,
        )
        write_invalid = any(o.get["invalid"] for o in observations)
    else:
        write_invalid = bool(union_all([s.invalid for s in splits]).head(1))
    if write_invalid:
        append_table(
            union_all([s.invalid for s in observed]),
            f"{table_name}_error",
            catalog=catalog,
            schema=schema,
        )
    if not (wrote_valid or write_invalid):
        return [(0, 0)] * len(splits)
    return [(int(o.get["valid"]), int(o.get["invalid"])) for o in observations]


def just_copy_projection(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    *,
    catalog: str | None = None,
    schema: str | None = None,
) -> DataFrame:
    """The reference's ``just_copy`` mode (box_ingest.py:161-170):
    stringify every cell and impose the existing target schema minus
    ``process_dt``. Raises here, at analysis, when the batch does not
    fit the table; the caller appends the projections of a run in one
    ``append_table`` (which adds a fresh ``process_dt``)."""
    target = qualified(table_name, catalog, schema)
    target_schema = spark.table(target).schema
    fields = [f for f in target_schema.fields if f.name != "process_dt"]
    stringified = df.select(
        [F.col(c).cast("string").alias(c) for c in df.columns]
    )
    return stringified.select(
        [
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in fields
        ]
    )


AUDIT_TABLE = "box_ingestion_log"
_AUDIT_SCHEMA = (
    "task_owner string, job_action string, log_info string, logged_at timestamp"
)


@dataclass
class AuditLog:
    """Buffered, injection-safe audit logger.

    ``log()`` is cheap (appends to a list + stdlib logging) and
    records the action's UTC time; ``flush()`` writes the whole run's
    rows in ONE table commit, each with ``process_dt`` derived from its
    own logged time on the ``process_dt_col`` convention. The reference
    issues a parse→plan→Delta-commit per log line via interpolated SQL
    (box_ingest.py:13-20).
    """

    owner: str
    catalog: str | None = None
    schema: str | None = None
    table_name: str = AUDIT_TABLE
    rows: list[tuple[str, str, str, datetime.datetime]] = field(
        default_factory=list
    )

    def log(self, action: str, info: str) -> None:
        self.rows.append((self.owner, action, str(info), utcnow()))
        import logging

        logging.getLogger(__name__).info(
            "Owner: %s, Action: %s, File Info: %s", self.owner, action, info
        )

    def flush(self, spark: SparkSession) -> int:
        if not self.rows:
            return 0
        # A run's few dozen rows: one partition, so one task and one
        # file per flush. From pandas, Arrow hands the rows to the JVM
        # directly; a list of tuples is decoded in a Python worker.
        rows = pd.DataFrame(
            self.rows,
            columns=["task_owner", "job_action", "log_info", "logged_at"],
        )
        df = spark.createDataFrame(rows, _AUDIT_SCHEMA).coalesce(1).select(
            "task_owner",
            "job_action",
            "log_info",
            F.from_utc_timestamp("logged_at", PROCESS_TZ).alias("process_dt"),
        )
        append_table(
            df,
            self.table_name,
            catalog=self.catalog,
            schema=self.schema,
            add_process_dt=False,
        )
        n = len(self.rows)
        self.rows.clear()
        return n


def utcnow() -> datetime.datetime:
    return datetime.datetime.now(datetime.timezone.utc)
