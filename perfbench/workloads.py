"""The benchmark's workloads.

Each workload is one closed-loop client on one Spark session: it runs
its ops one after another and starts the next op only when the last
one has finished.

- ``sql_analytics``: headline queries whose builders live in
  ``relational``, ``events``, ``tpch``, ``ingest``, ``skew`` and
  ``rangejoin`` -- the delegated Spark-SQL surface. Scan, exchange and
  aggregate plans with few builder-side jobs, so Catalyst planning and
  single-row-group scans dominate. It bypasses the checkpoint,
  iterative and Python-edge machinery.
- ``corpus_pipeline``: headline queries from ``text``, ``dedup``,
  ``similarity``, ``graph`` and ``multimodal``. Builder-side eager
  ``localCheckpoint``s, iterative loops and ``mapInPandas`` kernels
  dominate; this is where the job floor and idle cores live.
- ``ingest_export``: one ``execute_ingest`` (validate mode) of a seeded
  landing zone, then one ``execute_export`` of a SQL aggregate over the
  ingested table to xlsx. The only workload that parses CSV, JSON and
  xlsx, writes tables, and drives the driver-side collect and the xlsx
  writer.

The op lists are copied from ``bench.py``'s headline set, not imported,
so an edit there cannot change a workload. Each query list is the part
of its module group that fits the benchmark's time budget; it keeps
every query a performance item names and at least one query per
module.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd

from perfbench import checks, datagen
from perfbench.tracing import maybe_span, plan_seconds

SQL_ANALYTICS = [
    "validate_lineitem",
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_nation",
    "customer_order_stats",
    "agg_distinct",
    "agg_rollup",
    "window_rank_orders",
    "topk_orders_per_customer",
    "set_intersect_customers",
    "tumbling_hourly",
    "session_windows",
    "multires_rollup",
    "asof_last_event",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q21_last_shipper",
    "rolling_weekly_active_users",
    "tpch_q2_min_cost_supplier",
    "frequent_event_sequences",
    "time_weighted_avg_value",
    "self_join_blowup_estimate",
    "event_attribution_last_touch",
    "grouped_price_elasticity",
    "concurrent_sessions",
    "seasonal_value_anomalies",
]

CORPUS_PIPELINE = [
    "text_quality",
    "token_counts",
    "dedup_minhash_lsh",
    "media_dedup_exact",
    "bpe_fit_merges",
    "pagerank_supply_graph",
    "embedding_pca_scores",
    "dedup_simhash",
    "fuzzy_title_pairs",
]

QUERY_WORKLOADS = {
    "sql_analytics": SQL_ANALYTICS,
    "corpus_pipeline": CORPUS_PIPELINE,
}

#: Seconds an oracle query may run before the op falls back to the
#: rows-only check.
ORACLE_TIMEOUT_S = 20.0


def seeded_order(names: list[str], seed: int) -> list[str]:
    rng = datagen.seeded_rng(seed, 100)
    return [names[i] for i in rng.permutation(len(names))]


class QueryWorkload:
    """A list of registry queries over the generated tables."""

    def __init__(self, spark, names: list[str], tables_dir: str,
                 oracle: checks.Oracle):
        from data_ingestion_tool_spark.operators import registry

        reg = registry()
        self.spark = spark
        self.specs = [reg[n] for n in names]
        self.tables_dir = tables_dir
        self.oracle = oracle
        self.plan_s = 0.0

    def warm_up(self) -> None:
        """One untimed scan-join-aggregate-window query, so the one-time
        costs of the first shuffle and join of the session land on no
        op of the seeded order."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from data_ingestion_tool_spark.sources.tables import load_table

        li = load_table(self.spark, self.tables_dir, "lineitem")
        orders = load_table(self.spark, self.tables_dir, "orders")
        agg = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority", "l_returnflag")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("qty"))
        )
        rank = F.rank().over(Window.partitionBy("o_orderpriority").orderBy("n"))
        agg.withColumn("r", rank).write.format("noop").mode("overwrite").save()

    def one_pass(self, tracer=None) -> tuple[dict[str, float], list[str]]:
        """Run every op once, in order. The timed region is the builder
        call plus a noop write (the timed region of ``bench.py``). After
        it, untimed, the same frame is collected and its rows compared
        with the oracle (or, without one, required to be non-empty).
        Returns per-op seconds and the failures."""
        times: dict[str, float] = {}
        failures = []
        self.plan_s = 0.0
        for spec in self.specs:
            start = time.perf_counter()
            try:
                with maybe_span(tracer, f"op.{spec.name}", spec.name):
                    with maybe_span(tracer, "operators.build"):
                        df = spec.builder(self.spark, self.tables_dir)
                    with maybe_span(tracer, "operators.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — an op that raises is a failed op
                failures.append(f"{spec.name}: {type(exc).__name__}: {exc}")
                continue
            finally:
                times[spec.name] = time.perf_counter() - start
            problem = self._check(spec, df)
            if problem:
                failures.append(f"{spec.name}: {problem}")
        return times, failures

    def _check(self, spec, df) -> str | None:
        try:
            pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            return f"collect failed: {type(exc).__name__}: {exc}"
        self.plan_s += plan_seconds(df)
        expected = self.oracle.expected(spec.oracle) if spec.oracle else None
        if expected is not None:
            return checks.compare(pdf, expected)
        return None if len(pdf) else "empty result"


INGEST_TABLE = "lineitem_ingest"
EXPORT_SQL = (
    f"SELECT l_orderkey AS order_key, COUNT(*) AS line_count, "
    f"CAST(SUM(l_quantity) AS BIGINT) AS total_qty "
    f"FROM {INGEST_TABLE} GROUP BY l_orderkey ORDER BY l_orderkey"
)
EXPORT_MAPPING = {"order_key": "Order Key"}
AUDIT_TABLE = "box_ingestion_log"


def timing_connector(tracer):
    """A LocalFSConnector whose transfers are spans when tracing."""
    from data_ingestion_tool_spark.sources.connector import LocalFSConnector

    class TimingConnector(LocalFSConnector):
        def download(self, file, dest_path):
            with maybe_span(tracer, "sources.download"):
                return super().download(file, dest_path)

        def upload(self, folder_id, name, local_path):
            with maybe_span(tracer, "sources.upload"):
                return super().upload(folder_id, name, local_path)

    return TimingConnector()


class IngestExport:
    """Ingest the landing zone into a fresh warehouse, export an
    aggregate of it to xlsx, check both against the generator's truth."""

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.zone = os.path.join(run_dir, "zone")
        self.outbox = os.path.join(run_dir, "outbox")
        self.warehouse = os.path.join(run_dir, "warehouse")
        tables = os.path.join(run_dir, "tables")
        self.truth = datagen.write_landing_zone(self.zone, tables, seed)
        valid = self.truth["valid"]
        grouped = valid.groupby("l_orderkey").agg(
            line_count=("l_quantity", "size"), total_qty=("l_quantity", "sum")
        ).reset_index()
        self.expected_export = pd.DataFrame({
            "Order Key": grouped["l_orderkey"].astype("int64"),
            "line_count": grouped["line_count"].astype("int64"),
            "total_qty": grouped["total_qty"].astype("int64"),
        })
        self.batches = 2 + sum(
            files for kind, files, _ in datagen.ZONE_LAYOUT if kind == "xlsx"
        )
        self.summary: dict = {}
        self.stored_bytes = 0
        self.stored_files = 0

    def one_pass(self, tracer=None) -> tuple[dict[str, float], list[str]]:
        from data_ingestion_tool_spark.pipeline import execute_export, execute_ingest

        connector = timing_connector(tracer)
        times: dict[str, float] = {}
        failures: list[str] = []

        def call(name, fn):
            start = time.perf_counter()
            try:
                with maybe_span(tracer, f"pipeline.{name}", name):
                    return fn()
            except Exception as exc:  # noqa: BLE001
                failures.append(f"{name}: {type(exc).__name__}: {exc}")
                return None
            finally:
                times[name] = time.perf_counter() - start

        summary = call("execute_ingest", lambda: execute_ingest(
            "perfbench", self.spark, connector, INGEST_TABLE, self.zone,
            r".*\.(csv|json|xlsx|zip)$",
            metadata=datagen.INGEST_METADATA, just_copy=False,
            work_dir=os.path.join(self.run_dir, "ingest_work"),
        ))
        exported = call("execute_export", lambda: execute_export(
            "perfbench", self.spark, connector, EXPORT_SQL, self.outbox,
            "export.xlsx", column_mapping=EXPORT_MAPPING,
        ))
        if not failures:
            for name, problems in self._check(summary, exported).items():
                if problems:
                    failures.append(f"{name}: " + "; ".join(problems))
        self.summary = summary or {}
        self._measure_store()
        self._reset()
        return times, failures

    def _check(self, summary: dict, exported: int) -> dict[str, list[str]]:
        """What each op got wrong against the generator's truth."""
        from data_ingestion_tool_spark.xlsx_lite import parse_xlsx

        t = self.truth
        ingest, export = [], []
        want = {"files": t["files"], "valid_rows": t["valid_rows"],
                "invalid_rows": t["invalid_rows"], "skipped": 0,
                "failed_batches": 0}
        for key, value in want.items():
            if summary.get(key) != value:
                ingest.append(f"summary {key}={summary.get(key)} != {value}")
        # audit rows: one per downloaded file, per batch and for the
        # completed ingest, then the export's "Exported" and "Uploaded"
        counts = {
            INGEST_TABLE: (ingest, t["valid_rows"]),
            f"{INGEST_TABLE}_error": (ingest, t["invalid_rows"]),
            AUDIT_TABLE: (export, t["files"] + self.batches + 1 + 2),
        }
        for table, (problems, n) in counts.items():
            got = self.spark.table(table).count()
            if got != n:
                problems.append(f"{table} has {got} rows, expected {n}")
        with open(os.path.join(self.outbox, "export.xlsx"), "rb") as fh:
            book = parse_xlsx(fh.read())
        if exported != len(self.expected_export):
            export.append(f"exported {exported} rows, expected {len(self.expected_export)}")
        elif not book.reset_index(drop=True).equals(self.expected_export):
            export.append("exported workbook differs from the expected aggregate")
        return {"execute_ingest": ingest, "execute_export": export}

    def _measure_store(self) -> None:
        files = 0
        size = 0
        for dirpath, _dirs, names in os.walk(self.warehouse):
            for name in names:
                if name.startswith((".", "_")):
                    continue
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
        self.stored_files, self.stored_bytes = files, size

    def _reset(self) -> None:
        """Drop the tables so the next pass starts from an empty
        warehouse (outside the timed region)."""
        for table in (INGEST_TABLE, f"{INGEST_TABLE}_error", AUDIT_TABLE):
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        shutil.rmtree(self.outbox, ignore_errors=True)
