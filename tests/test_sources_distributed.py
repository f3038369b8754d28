"""Distributed source plumbing: binaryFile + mapInPandas Excel reading
of real workbook bytes, and the other file-format readers."""

from __future__ import annotations

import pandas as pd
import pytest

from data_ingestion_tool_spark.sources.excel import read_excel
from data_ingestion_tool_spark.xlsx_lite import write_xlsx


def test_read_excel_distributed_with_injected_engine(spark, tmp_path):
    """Real workbook bytes: ``skip_rows=1`` drops the junk row above the
    header, and the padded header arrives stripped."""
    p = tmp_path / "wb.xlsx"
    write_xlsx(
        pd.DataFrame({"junk": ["  Col A ", 1, 2], "junk2": ["col_b", "x", "y"]}),
        str(p),
    )
    df = read_excel(spark, str(p), skip_rows=1)
    rows = sorted(df.collect(), key=lambda r: r[0])
    assert df.columns == ["Col A", "col_b"]  # header stripped
    assert [tuple(r) for r in rows] == [(1, "x"), (2, "y")]


def test_unparseable_workbook_raises_helpfully(spark, tmp_path):
    from data_ingestion_tool_spark.xlsx_lite import XlsxFormatError

    p = tmp_path / "real.xlsx"
    p.write_bytes(b"PK\x03\x04 not really a workbook")
    with pytest.raises(XlsxFormatError, match="not a parseable xlsx"):
        read_excel(spark, str(p))


def test_real_xlsx_end_to_end_without_injected_parser(spark, tmp_path):
    """REAL workbook bytes through the stdlib xlsx engine: write via
    the sink, read back distributed via binaryFile + mapInPandas."""
    import pandas as pd

    from data_ingestion_tool_spark.sinks.excel import export_to_excel
    from data_ingestion_tool_spark.xlsx_lite import parse_xlsx

    src = spark.createDataFrame(
        [(1, "x", 2.5), (2, "héllo <&>", -1.0)], "k int, s string, v double"
    )
    path = str(tmp_path / "wb_real.xlsx")
    n = export_to_excel(src, path, sheet_name="Data")
    assert n == 2
    # bytes are a genuine zip+xml workbook
    pdf = parse_xlsx(open(path, "rb").read(), sheet_name="Data")
    assert list(pdf.columns) == ["k", "s", "v"]
    # distributed read through the default parser (no injection)
    df = read_excel(spark, path, sheet_name="Data")
    rows = sorted(df.collect(), key=lambda r: r[0])
    assert [tuple(r) for r in rows] == [(1, "x", 2.5), (2, "héllo <&>", -1.0)]

def test_events_loads_on_unconfigured_session(spark):
    """Regression: the external harness builds its own SparkSession
    without our confs; load_table must canonicalize events.ts to
    TIMESTAMP_NTZ at runtime whether the file stores TIMESTAMP(NANOS)
    (round-1 testdata; PARQUET_TYPE_ILLEGAL without nanosAsLong) or
    naive micros (current testdata), under any session settings."""
    from data_ingestion_tool_spark.sources.tables import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert df.count() > 0
    # the scoped confs are RESTORED after schema resolution — the
    # caller's session is left exactly as we found it (the conf is
    # captured into the relation at read time, so execution still
    # works; verified against a synthetic TIMESTAMP(NANOS) file in
    # test_nanos_file_loads_with_scoped_conf)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"


def test_nanos_file_loads_with_scoped_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) parquet (round-1 testdata format) must load
    and EXECUTE through load_table even though the nanos conf is
    restored right after schema resolution."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_ingestion_tool_spark.sources.tables import load_table

    ts = pd.to_datetime(
        ["2024-01-01 00:00:00.123456789", "2024-01-02 12:34:56.987654321"]
    )
    t = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("ns")),
        }
    )
    pq.write_table(t, str(tmp_path / "events.parquet"), coerce_timestamps=None)
    df = load_table(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
    rows = {r["event_id"]: r["ts"] for r in df.collect()}
    # ns truncated to µs, naive, tz-independent
    assert str(rows[1]) == "2024-01-01 00:00:00.123456"
    assert str(rows[2]) == "2024-01-02 12:34:56.987654"

    # An LTZ arrival (session read naive micros as TIMESTAMP) must
    # reconstruct the exact naive value, not shift it by session tz.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        raw_ltz = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if raw_ltz.schema["ts"].dataType.typeName() == "timestamp":
            from data_ingestion_tool_spark.sources import tables as tables_mod
            from pyspark.sql import functions as F
            from pyspark.sql.types import TimestampType

            ltz_df = raw_ltz.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
            ntz = load_table(spark, "/root/testdata/sf0.001", "events")
            a = ltz_df.select("event_id", "ts").orderBy("event_id").limit(5).collect()
            b = ntz.select("event_id", "ts").orderBy("event_id").limit(5).collect()
            assert [tuple(r) for r in a] == [tuple(r) for r in b]
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")


def test_orc_roundtrip(spark, tmp_path):
    """ORC sink + source round-trip preserves rows and schema."""
    from data_ingestion_tool_spark.sources.files import read_orc
    from data_ingestion_tool_spark.sources.tables import load_table

    src = load_table(spark, "/root/testdata/sf0.001", "nation")
    dest = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(dest)
    back = read_orc(spark, dest)
    assert back.schema == src.schema
    assert sorted(r["n_nationkey"] for r in back.collect()) == sorted(
        r["n_nationkey"] for r in src.collect()
    )


def test_text_source_reads_lines(spark, tmp_path):
    from data_ingestion_tool_spark.sources.files import classify, read_text

    p = tmp_path / "corpus.txt"
    p.write_text("alpha beta\ngamma\n\ndelta\n")
    # .txt stays OUT of the ingest dispatch (reference skips it);
    # read_text is the standalone corpus entry point
    assert classify(str(p)) is None
    rows = [r["value"] for r in read_text(spark, str(p)).collect()]
    assert rows == ["alpha beta", "gamma", "", "delta"]


def test_read_jsonl_tolerant_quarantines_bad_lines(spark, tmp_path):
    """PERMISSIVE parse: bad lines land in the quarantine side with
    their raw text; valid side carries exactly the declared schema."""
    from data_ingestion_tool_spark.sources.files import read_jsonl_tolerant

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json\n"
        '{"id": "noncastable", "name": "bad-type"}\n'
        '{"id": 3, "name": "fine"}\n'
    )
    valid, corrupt = read_jsonl_tolerant(
        spark, str(p), "id bigint, name string"
    )
    assert valid.columns == ["id", "name"]
    assert sorted(r.id for r in valid.collect()) == [1, 3]
    bad = sorted(r.record for r in corrupt.collect())
    assert len(bad) == 2
    assert "this is not json" in bad[0]
    assert "noncastable" in bad[1]


def test_read_parquet_evolved_merges_schemas(spark, tmp_path):
    """mergeSchema surfaces late-added columns as nullable instead of
    dropping them (default read picks one footer)."""
    from data_ingestion_tool_spark.sources.files import read_parquet_evolved

    old = str(tmp_path / "evo/gen=0")
    new = str(tmp_path / "evo/gen=1")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(old)
    spark.createDataFrame(
        [(2, "b", 0.5)], "id long, name string, score double"
    ).write.parquet(new)
    df = read_parquet_evolved(spark, [old, new])
    assert set(df.columns) >= {"id", "name", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows == {1: None, 2: 0.5}


def test_fan_out_redistributes_unsplittable_scans_only(spark, tmp_path):
    """fan_out (r12): a single-row-group parquet scan — one non-empty
    partition no matter the split size — is redistributed to the
    session default parallelism with the row set intact; an input
    already at or above that width is returned UNCHANGED (the at-scale
    no-op contract that keeps cluster plans exchange-free)."""
    import pandas as pd

    from data_ingestion_tool_spark.sources.tables import fan_out

    p = str(tmp_path / "one_rg.parquet")
    pd.DataFrame({"id": range(1000)}).to_parquet(p)  # one row group
    df = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() < par

    out = fan_out(df)
    assert out.rdd.getNumPartitions() == par
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))

    wide = df.repartition(par)
    assert fan_out(wide) is wide
