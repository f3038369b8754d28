"""The ingest write contract: one append per table per run, per-batch
counts and audit rows, and the failure paths (a corrupt workbook, a
CSV header clash, a failed download, a failed append) ending in a
correct summary, correct audit rows and correct table contents. Every
fixture is a few rows."""

from __future__ import annotations

import io
import json
import os
import uuid

import pandas as pd
import pytest

from data_ingestion_tool_spark import pipeline
from data_ingestion_tool_spark.pipeline import execute_ingest
from data_ingestion_tool_spark.sinks import tables
from data_ingestion_tool_spark.sinks.tables import AuditLog
from data_ingestion_tool_spark.sources.connector import LocalFSConnector
from data_ingestion_tool_spark.xlsx_lite import write_xlsx
from tests.conftest import jobs_started

METADATA = {
    "id": "int",
    "name": "string",
    "amount": "float",
    "non_nullable_fields": ["id"],
}


def _name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _csv(path, body: str) -> None:
    with open(path, "w") as fh:
        fh.write(body)


def _json(path, rows: list[dict]) -> None:
    with open(path, "w") as fh:
        json.dump(rows, fh)


def _xlsx_bytes(rows: dict) -> bytes:
    buf = io.BytesIO()
    write_xlsx(pd.DataFrame(rows), buf)
    return buf.getvalue()


def _xlsx(path, rows: dict) -> None:
    with open(path, "wb") as fh:
        fh.write(_xlsx_bytes(rows))


def _ingest(spark, remote, table, owner, tmp_path, connector=None, **kw):
    return execute_ingest(
        owner,
        spark,
        connector or LocalFSConnector(),
        table,
        str(remote),
        r".*\.(csv|json|xlsx)$",
        metadata=METADATA,
        just_copy=False,
        work_dir=str(tmp_path / "work"),
        **kw,
    )


def _audit(spark, owner: str) -> list[tuple[str, str]]:
    return sorted(
        (r["job_action"], r["log_info"])
        for r in spark.table("box_ingestion_log")
        .filter(f"task_owner = '{owner}'")
        .collect()
    )


def _exists(spark, table: str) -> bool:
    return spark.catalog.tableExists(table)


def _land_batches(remote, n_xlsx: int) -> None:
    """A CSV batch and a JSON batch (one bad row each), plus
    ``n_xlsx`` clean single-workbook batches."""
    _csv(remote / "a.csv", "id,name,amount\n1,a,1.5\n2,b,oops\n")
    _json(remote / "b.json", [{"id": 3, "name": "c", "amount": 2.5},
                               {"id": None, "name": "d", "amount": 1.0}])
    for i in range(n_xlsx):
        _xlsx(remote / f"c{i}.xlsx",
              {"id": [str(10 + i)], "name": [f"x{i}"], "amount": ["4.0"]})


def _write_split_jobs(spark, monkeypatch, remote, table, tmp_path) -> int:
    """Spark jobs started inside ``write_split`` for one ingest."""
    inner = pipeline.write_split
    counts = []

    def counted(*args, **kwargs):
        out, jobs = jobs_started(spark, lambda: inner(*args, **kwargs))
        counts.append(jobs)
        return out

    monkeypatch.setattr(pipeline, "write_split", counted)
    _ingest(spark, remote, table, "jobs-owner", tmp_path)
    monkeypatch.setattr(pipeline, "write_split", inner)
    return sum(counts)


def test_write_split_job_count_is_flat_in_batch_count(
    spark, monkeypatch, tmp_path
):
    counts = []
    for n_xlsx in (0, 2):
        remote = tmp_path / f"remote{n_xlsx}"
        remote.mkdir()
        _land_batches(remote, n_xlsx)
        table = _name("jobs_tbl")
        counts.append(
            _write_split_jobs(spark, monkeypatch, remote, table, tmp_path)
        )
        assert spark.table(table).count() == 2 + n_xlsx
        assert spark.table(f"{table}_error").count() == 2
    assert counts[0] <= 3
    assert counts[0] == counts[1]


def test_batch_missing_a_column_goes_to_error_table(spark, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _csv(remote / "full.csv", "id,name,amount\n1,a,1.5\n2,b,2.5\n")
    _json(remote / "short.json", [{"id": 3, "name": "c"},
                                   {"id": 4, "name": "d"}])
    table, owner = _name("missing_col"), _name("owner")
    summary = _ingest(spark, remote, table, owner, tmp_path)
    assert summary["valid_rows"] == 2
    assert summary["invalid_rows"] == 2
    assert summary["failed_batches"] == 0
    main = spark.table(table)
    assert sorted(r["id"] for r in main.collect()) == [1, 2]
    assert main.columns == ["id", "name", "amount", "process_dt"]
    errors = spark.table(f"{table}_error").collect()
    assert {r["error_type"] for r in errors} == {"Missing column: amount"}
    assert sorted(json.loads(r["record"])["id"] for r in errors) == [3, 4]
    batch_rows = [info for action, info in _audit(spark, owner)
                  if action == "Batch processed"]
    assert sorted(batch_rows) == [f"{table} (Valid: 0, Invalid: 2)",
                                  f"{table} (Valid: 2, Invalid: 0)"]


def test_all_valid_run_creates_no_error_table(spark, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _csv(remote / "a.csv", "id,name,amount\n1,a,1.5\n")
    _json(remote / "b.json", [{"id": 2, "name": "b", "amount": 2.0}])
    table = _name("all_valid")
    summary = _ingest(spark, remote, table, "valid-owner", tmp_path)
    assert (summary["valid_rows"], summary["invalid_rows"]) == (2, 0)
    assert spark.table(table).count() == 2
    assert not _exists(spark, f"{table}_error")


def test_all_invalid_run_creates_no_main_table(spark, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _csv(remote / "a.csv", "id,name,amount\n1,a,bad\n")
    _json(remote / "b.json", [{"id": None, "name": "b", "amount": 2.0}])
    table = _name("all_invalid")
    summary = _ingest(spark, remote, table, "invalid-owner", tmp_path)
    assert (summary["valid_rows"], summary["invalid_rows"]) == (0, 2)
    assert not _exists(spark, table)
    errors = sorted(r["error_type"]
                    for r in spark.table(f"{table}_error").collect())
    assert errors == ["Null value in non-nullable column: id",
                      "Type mismatch for column: amount"]


def test_each_batch_keeps_its_own_audit_row(spark, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _land_batches(remote, 2)
    table, owner = _name("per_batch"), _name("owner")
    summary = _ingest(spark, remote, table, owner, tmp_path)
    assert (summary["valid_rows"], summary["invalid_rows"]) == (4, 2)
    batch_rows = sorted(info for action, info in _audit(spark, owner)
                        if action == "Batch processed")
    assert batch_rows == sorted(
        [f"{table} (Valid: 1, Invalid: 1)"] * 2
        + [f"{table} (Valid: 1, Invalid: 0)"] * 2
    )


def test_truncated_workbook_fails_only_its_batch(spark, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _csv(remote / "a.csv", "id,name,amount\n1,a,1.5\n2,b,oops\n")
    _xlsx(remote / "good.xlsx",
          {"id": ["5"], "name": ["g"], "amount": ["3.0"]})
    whole = _xlsx_bytes({"id": ["6"], "name": ["t"], "amount": ["3.0"]})
    with open(remote / "torn.xlsx", "wb") as fh:
        fh.write(whole[: len(whole) // 2])
    table, owner = _name("torn"), _name("owner")
    summary = _ingest(spark, remote, table, owner, tmp_path)
    assert summary["files"] == 3
    assert summary["failed_batches"] == 1
    assert (summary["valid_rows"], summary["invalid_rows"]) == (2, 1)
    assert sorted(r["id"] for r in spark.table(table).collect()) == [1, 5]
    assert spark.table(f"{table}_error").count() == 1
    rows = _audit(spark, owner)
    failed = [info for action, info in rows if action == "Processing failed"]
    assert len(failed) == 1 and "torn.xlsx" in failed[0]
    assert [a for a, _ in rows].count("Batch processed") == 2
    assert ("Ingest completed", table) in rows


def test_csv_header_order_clash_reads_by_name(spark, tmp_path):
    """Two CSVs with the same columns in a different order: each file is
    read by its own header, not mapped by position onto the first's."""
    remote = tmp_path / "remote"
    remote.mkdir()
    _csv(remote / "a.csv", "id,name,amount\n1,x,1.5\n")
    _csv(remote / "b.csv", "name,id,amount\ny,2,2.5\n")
    table, owner = _name("clash"), _name("owner")
    summary = _ingest(spark, remote, table, owner, tmp_path)
    assert (summary["valid_rows"], summary["invalid_rows"]) == (2, 0)
    assert summary["failed_batches"] == 0
    main = spark.table(table)
    types = dict(main.dtypes)
    assert (types["id"], types["amount"]) == ("bigint", "double")
    assert sorted((r["id"], r["name"], r["amount"]) for r in main.collect()) \
        == [(1, "x", 1.5), (2, "y", 2.5)]
    assert not _exists(spark, f"{table}_error")


class _FailingConnector(LocalFSConnector):
    """Fails the download of one named file."""

    def __init__(self, fail_on: str):
        self.fail_on = fail_on

    def download(self, file, dest_path):
        if file.name == self.fail_on:
            raise ConnectionError(f"connection reset fetching {file.name}")
        return super().download(file, dest_path)


def test_failed_download_aborts_ingest_without_tables(spark, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _land_batches(remote, 1)
    table, owner = _name("torn_fetch"), _name("owner")
    with pytest.raises(ConnectionError, match="b.json"):
        _ingest(spark, remote, table, owner, tmp_path,
                connector=_FailingConnector("b.json"))
    assert not _exists(spark, table)
    assert not _exists(spark, f"{table}_error")
    rows = _audit(spark, owner)
    assert rows == [("Ingest failed", "connection reset fetching b.json")]


def test_failed_main_append_fails_every_batch(spark, monkeypatch, tmp_path):
    remote = tmp_path / "remote"
    remote.mkdir()
    _land_batches(remote, 1)
    table, owner = _name("broken_sink"), _name("owner")
    real_append = tables.append_table

    def append(df, name, **kw):
        if name == table:
            raise OSError("disk quota exceeded")
        return real_append(df, name, **kw)

    monkeypatch.setattr(tables, "append_table", append)
    summary = _ingest(spark, remote, table, owner, tmp_path)
    assert summary["failed_batches"] == 3
    assert (summary["valid_rows"], summary["invalid_rows"]) == (0, 0)
    assert not _exists(spark, table)
    assert not _exists(spark, f"{table}_error")
    rows = _audit(spark, owner)
    failed = sorted(info for action, info in rows
                    if action == "Processing failed")
    assert failed == sorted(f"{kind}: disk quota exceeded"
                            for kind in ("csv", "json", "xlsx"))
    assert "Batch processed" not in {a for a, _ in rows}
    assert ("Ingest completed", table) in rows


def _data_files(spark, table: str) -> int:
    location = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    ).removeprefix("file:")
    return sum(
        1 for name in os.listdir(location)
        if not name.startswith((".", "_"))
    )


def test_audit_flush_writes_one_file(spark):
    table = _name("audit_files")
    for flush in range(1, 3):
        audit = AuditLog("files-owner", table_name=table)
        for i in range(3 * spark.sparkContext.defaultParallelism):
            audit.log("Row", str(i))
        audit.flush(spark)
        assert _data_files(spark, table) == flush
