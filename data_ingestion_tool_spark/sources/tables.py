"""Parquet table loaders for the benchmark/test star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
a scale-factor directory.

At cluster scale the same loader reads a partitioned parquet/Delta
prefix; nothing here assumes single-file inputs. Column pruning and
predicate pushdown come from reading lazily (``spark.read.parquet``):
no table's rows are ever cached. The one thing kept across calls is
each table's inferred schema, memoized per session and per file
version (see ``load_table``), so a repeat load skips the one-task
footer-reading job that schema inference runs.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampType

TABLE_NAMES = (
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

#: Small dimension tables a planner should broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Inferred parquet schemas, keyed by (session uuid, path, modification
#: time, length); least recently used entries beyond the bound drop out.
_SCHEMAS: OrderedDict[tuple, StructType] = OrderedDict()
_SCHEMAS_MAX = 64
_SCHEMAS_LOCK = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """The memo key of ``path`` in ``spark``: its modification time and
    length from the Hadoop FileSystem the reader itself uses (local
    files and object stores alike), or None when the path cannot be
    stat'ed (the read then raises Spark's own error)."""
    jsession = spark._jsparkSession
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(jsession.sessionState().newHadoopConf())
    try:
        status = fs.getFileStatus(p)
    except Py4JJavaError:
        return None
    return (jsession.sessionUUID(), path, status.getModificationTime(), status.getLen())


def _infer_and_read(spark: SparkSession, path: str, name: str) -> DataFrame:
    """``spark.read.parquet(path)`` with its schema inferred under the
    loader's timestamp confs.

    Runtime-settable SQLConfs, set here rather than at session build:
    callers (the external harness included) may hand us an arbitrary
    unconfigured SparkSession. Naive parquet timestamps must arrive as
    TIMESTAMP_NTZ (DuckDB-oracle semantics — no session-tz shift), and
    a TIMESTAMP(NANOS) events file must not be rejected outright.
    Parquet schema resolution happens EAGERLY at .parquet(), so the
    confs are restored immediately after — the caller's session is
    left exactly as we found it (their own reads keep their settings).
    """
    scoped = {"spark.sql.parquet.inferTimestampNTZ.enabled": "true"}
    if name == "events":
        scoped["spark.sql.legacy.parquet.nanosAsLong"] = "true"
    saved: dict[str, str | None] = {}
    for k, v in scoped.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        return spark.read.parquet(path)
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh lazy relation over table ``name`` under ``sf_dir``.

    The parquet schema is inferred once per session and file version:
    the inferred ``StructType`` is memoized under the session, the path
    and the path's modification time and length, and a repeat load
    reads with ``spark.read.schema(known)``, which starts no Spark job
    and leaves the session's confs untouched.
    A file rewritten in place gets a new modification time or length
    and so is inferred again; for a directory the key is the
    directory's own status. Only the schema is memoized, never the
    DataFrame: every call returns a new relation with fresh attribute
    ids, so two loads of one table self-join cleanly.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    key = _schema_key(spark, path)
    with _SCHEMAS_LOCK:
        known = _SCHEMAS.get(key)
        if known is not None:
            _SCHEMAS.move_to_end(key)
    if known is not None:
        # _infer_and_read's timestamp confs only steer inference: a read
        # with the known schema yields the same types under any session.
        df = spark.read.schema(known).parquet(path)
    else:
        df = _infer_and_read(spark, path, name)
        if key is not None:
            with _SCHEMAS_LOCK:
                _SCHEMAS[key] = df.schema
                if len(_SCHEMAS) > _SCHEMAS_MAX:
                    _SCHEMAS.popitem(last=False)
    if name == "events":
        # Canonicalize ts to TIMESTAMP_NTZ no matter how this session's
        # reader surfaced it; downstream operators see ONE type.
        field = dict((f.name, f.dataType) for f in df.schema.fields).get("ts")
        if isinstance(field, LongType):
            # nanosAsLong path (TIMESTAMP(NANOS) file): raw naive nanos.
            # Integer div, not `/`: float division of ~1e18 ns loses µs
            # precision in the double mantissa. timestampadd onto an NTZ
            # epoch is tz-independent (timestamp_micros would pin the
            # naive value to UTC and shift under non-UTC sessions).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        elif isinstance(field, TimestampType):
            # Session read naive micros as LTZ (inferTimestampNTZ off
            # mid-flight): unix_micros returns the raw stored value, so
            # this reconstructs the exact naive timestamp, any timezone.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Redistribute an unsplittably-scanned input across the executor
    pool before a HEAVY per-row compute stage — the input-skew remedy
    for "one huge unsplittable file": repartition immediately after
    the read.

    Why it exists: the benchmark tables are single-row-group parquet
    files, so no matter how small ``spark.sql.files.maxPartitionBytes``
    is driven, the scan yields ONE non-empty partition and everything
    below the first exchange runs on one core. A round-robin
    repartition to the session default parallelism trades one shuffle
    of the (pre-projected) input for a pool-wide downstream stage.

    Scale-adaptive no-op: when the scan already carries ≥ default-
    parallelism partitions — any real at-scale table, with thousands
    of files/row groups — the input is returned unchanged, so cluster
    plans gain no exchange. Adopted per-operator, ONLY where an
    alternated min-of-k A/B measured a win (OPTIMIZATION_r12.md):
    consumers with light per-row work measured SLOWER under it (the
    shuffle costs more than the serial scan) and keep the plain scan.
    Round-robin repartition is retry-safe (Spark's sort-before-
    repartition default keeps row→partition assignment deterministic).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on it."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
