"""End-to-end pipelines: the engine's equivalents of the reference's
``execute_ingest`` (box_ingest.py:180-195) and ``execute_export``
(box_export.py:71-82), re-architected Spark-first.

Differences from the reference, by design:

- catalog/schema are parameters, not hardcoded constants
  (box_ingest.py:182-183 pins 'development'/'eda_gc_raw')
- the connector is injected (testable without network; Box is one impl)
- all matched files of one format are read in ONE ``spark.read`` (Excel:
  one read per workbook, since sheets differ per file; CSV: one read per
  distinct header, since a read maps columns by position); each such batch
  is validated on its own, and the run then commits ONCE per table: one
  append of every batch's valid rows, one of every batch's invalid
  rows to ``<table>_error`` (``just_copy``: one append of every batch),
  instead of a per-file loop with a commit per file
  (box_ingest.py:189-190, :127)
- a batch that fails to read or validate is logged and left out; a
  failed append fails every batch of the run, and each is logged
- validation runs as executor-side Column expressions, not a driver
  row loop
- audit logging is buffered and flushed once, via DataFrame append —
  no per-action SQL INSERT, no injection surface (box_ingest.py:13-20);
  each row still carries the time its action was logged
- export failures raise (the reference swallows the Excel error and
  then fails confusingly on upload — box_export.py:47-48, :66)
- export always writes a workbook with the stdlib xlsx engine and
  uploads it as f"{file_name}.xlsx" like the reference
  (box_export.py:81); a caller-supplied .xlsx/.csv suffix is replaced
  rather than doubled
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_tool_spark.sinks.excel import export_to_excel
from data_ingestion_tool_spark.sinks.tables import (
    AuditLog,
    append_table,
    just_copy_projection,
    union_all,
    write_split,
)
from data_ingestion_tool_spark.sources.connector import Connector, select_files
from data_ingestion_tool_spark.sources.files import read_paths
from data_ingestion_tool_spark.validate import validate_and_split


def execute_ingest(
    owner: str,
    spark: SparkSession,
    connector: Connector,
    table_name: str,
    folder_id: str,
    file_name_regex: str,
    *,
    catalog: str | None = None,
    schema: str | None = None,
    sheet_name: str | None = None,
    metadata: dict | None = None,
    latest: bool = False,
    just_copy: bool = True,
    delete: bool = False,
    skip_rows: int | None = None,
    work_dir: str | None = None,
) -> dict:
    """Discover → fetch → parse → (validate|copy) → append. Returns a
    summary dict {files, valid_rows, invalid_rows, skipped,
    failed_batches}."""
    audit = AuditLog(owner, catalog=catalog, schema=schema)
    summary = {
        "files": 0,
        "valid_rows": 0,
        "invalid_rows": 0,
        "skipped": 0,
        "failed_batches": 0,
    }
    tmp = work_dir or os.path.join(
        tempfile.gettempdir(), "ingest", table_name
    )
    try:
        listing = connector.list_folder(folder_id)
        matched = select_files(listing, file_name_regex, latest)
        if not matched:
            audit.log("No files matched", f"Regex: {file_name_regex}")
            return summary

        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        # remote fetches are I/O-bound: a bounded thread pool overlaps
        # them (the reference downloads serially, one blocking call per
        # file — box_ingest.py:56-59); order is preserved for the audit
        from concurrent.futures import ThreadPoolExecutor

        dests = [os.path.join(tmp, f.name) for f in matched]
        with ThreadPoolExecutor(max_workers=min(8, len(matched))) as pool:
            list(pool.map(connector.download, matched, dests))
        for f in matched:
            audit.log("Downloaded file", f"{folder_id}/{f.name}")
        local_paths = dests
        summary["files"] = len(local_paths)

        frames, skipped, failed = read_paths(
            spark, local_paths, sheet_name=sheet_name, skip_rows=skip_rows
        )
        for path in skipped:
            audit.log("Unsupported file type", path)
        summary["skipped"] = len(skipped)
        for what, err in failed:
            audit.log("Processing failed", f"{what}: {err}")
        summary["failed_batches"] = len(failed)

        batches = []
        for kind, df in frames:
            # one bad batch (unreadable workbook, schema clash) is
            # quarantined by logging, not by aborting the whole ingest —
            # reference parity (box_ingest.py:177-178)
            try:
                df = df.toDF(*[c.strip() for c in df.columns])
                if just_copy:
                    df = just_copy_projection(
                        spark, df, table_name, catalog=catalog, schema=schema
                    )
                    batches.append((kind, df))
                else:
                    batches.append(
                        (kind, validate_and_split(df, metadata or {}))
                    )
            except Exception as exc:  # noqa: BLE001 — log-and-continue
                summary["failed_batches"] += 1
                audit.log("Processing failed", f"{kind}: {exc}")

        if batches:
            # one append per table per run; the run's batches commit or
            # fail together
            try:
                if just_copy:
                    append_table(
                        union_all([df for _, df in batches]),
                        table_name,
                        catalog=catalog,
                        schema=schema,
                    )
                    for _ in batches:
                        audit.log("File copied directly to table", table_name)
                else:
                    counts = write_split(
                        [split for _, split in batches],
                        table_name,
                        catalog=catalog,
                        schema=schema,
                    )
                    for n_valid, n_invalid in counts:
                        summary["valid_rows"] += n_valid
                        summary["invalid_rows"] += n_invalid
                        audit.log(
                            "Batch processed",
                            f"{table_name} (Valid: {n_valid}, "
                            f"Invalid: {n_invalid})",
                        )
            except Exception as exc:  # noqa: BLE001 — log-and-continue
                summary["failed_batches"] += len(batches)
                for kind, _ in batches:
                    audit.log("Processing failed", f"{kind}: {exc}")

        if delete:
            # Delete exactly the files we ingested (captured ids), not a
            # re-listing — fixes the reference's race (box_ingest.py:65-83).
            for f in matched:
                connector.delete(f)
                audit.log("Deleted file", f"{folder_id}/{f.name}")
        audit.log("Ingest completed", table_name)
        return summary
    except Exception as exc:
        audit.log("Ingest failed", str(exc))
        raise
    finally:
        audit.flush(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def execute_export(
    owner: str,
    spark: SparkSession,
    connector: Connector,
    query: str,
    folder_id: str,
    file_name: str,
    *,
    catalog: str | None = None,
    schema: str | None = None,
    sheet_name: str | None = None,
    column_mapping: dict | None = None,
) -> int:
    """Run an arbitrary SQL query and upload the result as Excel
    (reference box_export.py:71-82). Returns exported row count."""
    audit = AuditLog(owner, catalog=catalog, schema=schema)
    tmp_path = os.path.join(
        os.environ.get("TEMP", tempfile.gettempdir()),
        f"{uuid.uuid4()}_{file_name}",
    )
    try:
        df: DataFrame = spark.sql(query)
        n = export_to_excel(
            df,
            tmp_path,
            sheet_name=sheet_name,
            column_mapping=column_mapping,
        )
        # Reference uploads f"{file_name}.xlsx" (box_export.py:81); a
        # caller-supplied .xlsx or .csv suffix is replaced, not doubled.
        base = file_name
        for known in (".xlsx", ".csv"):
            if base.lower().endswith(known):
                base = base[: -len(known)]
                break
        remote_name = base + ".xlsx"
        audit.log("Exported data", f"{remote_name} ({n} rows)")
        connector.upload(folder_id, remote_name, tmp_path)
        audit.log("Uploaded file", f"{folder_id}/{remote_name}")
        return n
    except Exception as exc:
        audit.log("Export failed", str(exc))
        raise
    finally:
        audit.flush(spark)
        if os.path.exists(tmp_path):
            os.remove(tmp_path)
