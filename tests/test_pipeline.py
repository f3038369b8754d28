"""End-to-end pipeline tests on a LocalFSConnector (no network),
covering FIXTURES.md A2-A5: formats, selection, just_copy, audit log,
export round-trip."""

from __future__ import annotations

import json
import os
import time
import zipfile

import pandas as pd
import pytest

from data_ingestion_tool_spark.pipeline import execute_export, execute_ingest
from data_ingestion_tool_spark.sinks.tables import AuditLog
from data_ingestion_tool_spark.sources.connector import (
    LocalFSConnector,
    RemoteFile,
    select_files,
)

CSV_BODY = "id,name,amount\n1,alpha,10.5\n2,beta,oops\n3,gamma,30.0\n"
METADATA = {
    "id": "int",
    "name": "string",
    "amount": "float",
    "non_nullable_fields": ["id"],
}


@pytest.fixture()
def remote_dir(tmp_path):
    d = tmp_path / "remote"
    d.mkdir()
    return str(d)


def test_ingest_csv_validate_mode(spark, remote_dir, tmp_path):
    (pd.DataFrame({"id": [1, 2, 3]})).to_csv  # noqa: B018 — silence lint
    with open(os.path.join(remote_dir, "sales_1.csv"), "w") as f:
        f.write(CSV_BODY)
    summary = execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "sales_csv",
        remote_dir,
        r"sales_.*\.csv",
        metadata=METADATA,
        just_copy=False,
        work_dir=str(tmp_path / "work"),
    )
    assert summary["valid_rows"] == 2
    assert summary["invalid_rows"] == 1
    main = spark.table("sales_csv")
    assert set(main.columns) == {"id", "name", "amount", "process_dt"}
    assert main.count() == 2
    err = spark.table("sales_csv_error")
    row = err.collect()[0]
    assert row["error_type"] == "Type mismatch for column: amount"
    assert json.loads(row["record"])["name"] == "beta"
    # audit table exists and is injection-safe by construction
    log = spark.table("box_ingestion_log")
    assert log.filter("job_action = 'Ingest completed'").count() >= 1


def test_ingest_json_and_zip(spark, remote_dir, tmp_path):
    data = [{"id": 10, "name": "x", "amount": 1.0}]
    with open(os.path.join(remote_dir, "part1.json"), "w") as f:
        json.dump(data, f)
    # nested zip: zip containing a csv and another zip with a csv
    inner = tmp_path / "inner.zip"
    with zipfile.ZipFile(inner, "w") as zf:
        zf.writestr("inner.csv", "id,name,amount\n11,y,2.0\n")
    with zipfile.ZipFile(os.path.join(remote_dir, "part2.zip"), "w") as zf:
        zf.writestr("outer.csv", "id,name,amount\n12,z,3.0\n")
        zf.write(inner, "nested.zip")
    summary = execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "mixed_tbl",
        remote_dir,
        r"part.*",
        metadata=METADATA,
        just_copy=False,
        work_dir=str(tmp_path / "work"),
    )
    assert summary["valid_rows"] == 3
    got = {r["id"] for r in spark.table("mixed_tbl").collect()}
    assert got == {10, 11, 12}


def test_ingest_latest_only(spark, remote_dir, tmp_path):
    p1 = os.path.join(remote_dir, "sales_2026-01.csv")
    p2 = os.path.join(remote_dir, "sales_2026-02.csv")
    with open(p1, "w") as f:
        f.write("id,name,amount\n1,old,1.0\n")
    time.sleep(0.01)
    with open(p2, "w") as f:
        f.write("id,name,amount\n2,new,2.0\n")
    os.utime(p1, (1000000000, 1000000000))  # force older mtime
    summary = execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "latest_tbl",
        remote_dir,
        r"sales_.*\.csv",
        metadata=METADATA,
        just_copy=False,
        latest=True,
        work_dir=str(tmp_path / "work"),
    )
    assert summary["files"] == 1
    assert [r["name"] for r in spark.table("latest_tbl").collect()] == ["new"]


def test_ingest_just_copy(spark, remote_dir, tmp_path):
    # pre-create all-string target (FIXTURES A2)
    spark.createDataFrame(
        [("0", "seed", "0.0")], "id string, name string, amount string"
    ).withColumn("process_dt", pd_expr()).write.mode("overwrite").saveAsTable(
        "copy_tbl"
    )
    with open(os.path.join(remote_dir, "c1.csv"), "w") as f:
        f.write("id,name,amount\n5,copied,9.9\n")
    execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "copy_tbl",
        remote_dir,
        r"c1\.csv",
        just_copy=True,
        work_dir=str(tmp_path / "work"),
    )
    rows = {r["name"]: r for r in spark.table("copy_tbl").collect()}
    assert rows["copied"]["amount"] == "9.9"  # stringified cell


def pd_expr():
    from pyspark.sql import functions as F

    return F.from_utc_timestamp(F.current_timestamp(), "Asia/Shanghai")


def test_ingest_delete_by_captured_id(spark, remote_dir, tmp_path):
    keep = os.path.join(remote_dir, "other.csv")
    with open(os.path.join(remote_dir, "del_1.csv"), "w") as f:
        f.write("id,name,amount\n1,a,1.0\n")
    with open(keep, "w") as f:
        f.write("id,name,amount\n2,b,2.0\n")
    execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "del_tbl",
        remote_dir,
        r"del_.*\.csv",
        metadata=METADATA,
        just_copy=False,
        delete=True,
        work_dir=str(tmp_path / "work"),
    )
    assert sorted(os.listdir(remote_dir)) == ["other.csv"]


def test_unsupported_type_skipped(spark, remote_dir, tmp_path):
    with open(os.path.join(remote_dir, "file.txt"), "w") as f:
        f.write("not a table")
    summary = execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "skip_tbl",
        remote_dir,
        r"file\.txt",
        metadata=METADATA,
        just_copy=False,
        work_dir=str(tmp_path / "work"),
    )
    assert summary["skipped"] == 1
    assert summary["valid_rows"] == 0


def test_audit_log_quote_safe(spark):
    """FIXTURES A4: an owner containing a quote must not break logging
    (the reference's f-string SQL does — box_ingest.py:14-18)."""
    audit = AuditLog("o'brien; DROP TABLE x--")
    audit.log("Test action", "info with 'quotes' and \"doubles\"")
    assert audit.flush(spark) == 1
    row = (
        spark.table("box_ingestion_log")
        .filter("job_action = 'Test action'")
        .collect()[0]
    )
    assert row["task_owner"] == "o'brien; DROP TABLE x--"


def test_audit_rows_carry_their_own_action_time(spark):
    """Each audit row's ``process_dt`` is the time its action was
    logged (Asia/Shanghai wall clock, as for every append), not the
    flush time shared by the whole run."""
    import time

    audit = AuditLog("clock-owner")
    audit.log("First action", "t0")
    time.sleep(1)
    audit.log("Second action", "t1")
    now = spark.sql(
        "SELECT from_utc_timestamp(current_timestamp(), 'Asia/Shanghai') AS t"
    ).collect()[0]["t"]
    assert audit.flush(spark) == 2
    got = {
        r["job_action"]: r["process_dt"]
        for r in spark.table("box_ingestion_log")
        .filter("task_owner = 'clock-owner'")
        .collect()
    }
    first, second = got["First action"], got["Second action"]
    assert first < second
    assert (second - first).total_seconds() >= 1
    assert abs((now - second).total_seconds()) < 60


def test_export_uploads_real_xlsx(spark, remote_dir, tmp_path):
    """Export produces a genuine workbook under the .xlsx name, with a
    caller-supplied .xlsx suffix replaced, not doubled."""
    from data_ingestion_tool_spark.xlsx_lite import parse_xlsx

    spark.createDataFrame(
        [(1, "F"), (2, "O")], "k int, l_returnflag string"
    ).createOrReplaceTempView("export_src")
    n = execute_export(
        "tester",
        spark,
        LocalFSConnector(),
        "SELECT k, l_returnflag FROM export_src",
        remote_dir,
        "out.xlsx",
        column_mapping={"L_RETURNFLAG": "Return Flag"},
    )
    assert n == 2
    out = parse_xlsx(
        open(os.path.join(remote_dir, "out.xlsx"), "rb").read()
    )
    assert list(out.columns) == ["k", "Return Flag"]
    assert list(out["Return Flag"]) == ["F", "O"]


def test_select_files_regex_anchored():
    files = [
        RemoteFile("1", "sales_a.csv", "2026-01-01"),
        RemoteFile("2", "xsales_a.csv", "2026-01-02"),
    ]
    # re.match anchors at start: 'sales_.*' must NOT match 'xsales_a.csv'
    assert [f.id for f in select_files(files, r"sales_.*\.csv")] == ["1"]


def test_partitioned_append_prunes(spark):
    """partition_by writes a layout the planner prunes on."""
    from data_ingestion_tool_spark.sinks.tables import append_table

    df = spark.createDataFrame(
        [(1, "a", "2026-01-01"), (2, "b", "2026-01-02")],
        "k int, v string, dt string",
    )
    append_table(df, "part_tbl", add_process_dt=False, partition_by=["dt"])
    q = spark.table("part_tbl").filter("dt = '2026-01-01'")
    assert q.count() == 1
    scan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in scan or "dt=2026-01-01" in scan


def test_bad_batch_logged_not_fatal(spark, remote_dir, tmp_path):
    """One unreadable batch (xlsx with no engine) is logged and
    skipped; the CSV in the same run still ingests — reference parity
    (one bad file doesn't stop the batch, box_ingest.py:177-178)."""
    import os

    with open(os.path.join(remote_dir, "good.csv"), "w") as f:
        f.write("id,v\n1,a\n2,b\n")
    with open(os.path.join(remote_dir, "bad.xlsx"), "wb") as f:
        f.write(b"not really a workbook")
    summary = execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "mixed_batch_tbl",
        remote_dir,
        r".*\.(csv|xlsx)",
        just_copy=False,
        metadata={"id": "int", "v": "string"},
        work_dir=str(tmp_path / "wd"),
    )
    assert summary["valid_rows"] == 2
    assert summary["failed_batches"] == 1
    assert spark.table("mixed_batch_tbl").count() == 2


def test_ingest_real_xlsx_validate_mode(spark, remote_dir, tmp_path):
    """Full ingest of a REAL workbook through the default parser chain
    (stdlib xlsx engine — no openpyxl, no injected parser): junk header
    row skipped, sheet selected by name, validation split applied."""
    import io

    import pandas as _pd

    from data_ingestion_tool_spark.xlsx_lite import write_xlsx

    # workbook whose first row is junk ("a,b,c" headers) and second row
    # is the real header — exercises skip_rows=1
    rows = _pd.DataFrame(
        {
            "a": ["id", "1", "2", "4"],
            "b": ["name", "ax", "bx", "cx"],
            "c": ["amount", "1.5", "oops", "3.0"],
        }
    )
    buf = io.BytesIO()
    write_xlsx(rows, buf, sheet_name="Data")  # header row is "a,b,c" junk
    with open(os.path.join(remote_dir, "book_1.xlsx"), "wb") as f:
        f.write(buf.getvalue())
    summary = execute_ingest(
        "tester",
        spark,
        LocalFSConnector(),
        "sales_xlsx",
        remote_dir,
        r"book_.*\.xlsx",
        sheet_name="Data",
        skip_rows=1,
        metadata=METADATA,
        just_copy=False,
        work_dir=str(tmp_path / "workx"),
    )
    assert summary["valid_rows"] == 2
    assert summary["invalid_rows"] == 1
    main = spark.table("sales_xlsx")
    assert sorted(r["id"] for r in main.select("id").collect()) == [1, 4]


def test_cli_list_run_sql_explain(spark, tmp_path, capsys):
    """The module CLI: list shows the registry, run executes a query,
    sql delegates arbitrary statements over registered views, explain
    prints a formatted plan, unknown names suggest matches."""
    from data_ingestion_tool_spark.__main__ import main

    assert main(["list", "--tag", "tpch"]) == 0
    out = capsys.readouterr().out
    assert "tpch_q6_forecast_revenue" in out

    assert main(["run", "region_nation_cross", "--sf-dir",
                 "/root/testdata/sf0.01", "--limit", "3"]) == 0
    assert main(["run", "no_such_query_xyz"]) == 2
    assert "close matches" in capsys.readouterr().err

    dest = str(tmp_path / "cli_out")
    assert main(["sql",
                 "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity < 10",
                 "--sf-dir", "/root/testdata/sf0.01", "--out", dest]) == 0
    n = spark.read.parquet(dest).first()["n"]
    assert n > 0

    assert main(["explain", "pricing_summary", "--sf-dir",
                 "/root/testdata/sf0.01"]) == 0
    assert "Scan parquet" in capsys.readouterr().out
