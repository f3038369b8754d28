"""Distributed source plumbing: binaryFile + mapInPandas Excel reading
of real workbook bytes, and the other file-format readers."""

from __future__ import annotations

import pandas as pd
import pytest

from data_ingestion_tool_spark.sources.excel import read_excel
from data_ingestion_tool_spark.sources.tables import load_table
from data_ingestion_tool_spark.xlsx_lite import write_xlsx
from tests.conftest import SF_SMOKE, jobs_started

_TS_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _confs(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in _TS_CONFS}


def _memo_hit_load(spark, sf_dir: str, name: str):
    """A repeat load of ``name``: it must start no Spark job and leave
    the caller's timestamp confs as it found them."""
    before = _confs(spark)
    df, jobs = jobs_started(spark, lambda: load_table(spark, sf_dir, name))
    assert jobs == 0
    assert _confs(spark) == before
    return df


def _rows_by_id(df) -> list:
    return sorted(df.collect(), key=lambda r: r["event_id"])


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
    naive micros (current testdata), under any session settings. The
    shared session's own value is put back afterwards, so later tests
    do not inherit the unconfigured setting."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        df = load_table(spark, SF_SMOKE, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        assert df.count() > 0
        again = _memo_hit_load(spark, SF_SMOKE, "events")
        assert again.schema == df.schema
        assert _rows_by_id(again) == _rows_by_id(df)
        # the scoped confs are RESTORED after schema resolution — the
        # caller's session is left exactly as we found it (the conf is
        # captured into the relation at read time, so execution still
        # works; verified against a synthetic TIMESTAMP(NANOS) file in
        # test_nanos_file_loads_with_scoped_conf)
        assert spark.conf.get(key) == "false"
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_nanos_file_loads_with_scoped_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) parquet (round-1 testdata format) must load
    and EXECUTE through load_table even though the nanos conf is
    restored right after schema resolution."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

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
    again = _memo_hit_load(spark, str(tmp_path), "events")
    assert {r["event_id"]: r["ts"] for r in again.collect()} == rows

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
            ntz = load_table(spark, SF_SMOKE, "events")
            a = ltz_df.select("event_id", "ts").orderBy("event_id").limit(5).collect()
            b = ntz.select("event_id", "ts").orderBy("event_id").limit(5).collect()
            assert [tuple(r) for r in a] == [tuple(r) for r in b]
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")


def test_memo_hit_matches_miss_with_timestamp_confs_off(
    spark, tmp_path, monkeypatch
):
    """A memo hit reads with the known schema and sets no conf; with
    both timestamp confs off in the caller's session it still returns
    the miss's rows and TIMESTAMP_NTZ ``ts``, for the naive-micros
    events table and for a TIMESTAMP(NANOS) file."""
    from collections import OrderedDict

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.conf import RuntimeConfig
    from pyspark.sql.types import TimestampNTZType

    from data_ingestion_tool_spark.sources import tables

    ts = pd.to_datetime(["2024-01-01 00:00:00.123456789"])
    pq.write_table(
        pa.table({"event_id": pa.array([1], type=pa.int64()),
                  "ts": pa.array(ts, type=pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
        coerce_timestamps=None,
    )
    monkeypatch.setattr(tables, "_SCHEMAS", OrderedDict())
    outer = _confs(spark)
    try:
        for k in _TS_CONFS:
            spark.conf.set(k, "false")
        for sf_dir in (SF_SMOKE, str(tmp_path)):
            miss = load_table(spark, sf_dir, "events")
            sets = []
            with monkeypatch.context() as m:
                m.setattr(RuntimeConfig, "set", lambda *a: sets.append(a))
                hit = _memo_hit_load(spark, sf_dir, "events")
            assert sets == []
            assert isinstance(hit.schema["ts"].dataType, TimestampNTZType)
            assert hit.schema == miss.schema
            assert _rows_by_id(hit) == _rows_by_id(miss)
            assert _confs(spark) == dict.fromkeys(_TS_CONFS, "false")
    finally:
        for k, v in outer.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_repeat_load_starts_no_job(spark):
    first = load_table(spark, SF_SMOKE, "orders")
    again = _memo_hit_load(spark, SF_SMOKE, "orders")
    assert again.schema == first.schema
    assert again.count() == first.count() == 1500


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_comment": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "orders")
    assert df.columns == ["o_orderkey", "o_comment"]
    assert sorted(df.collect()) == [(1, "a"), (2, "b")]


def test_two_loads_of_one_table_self_join(spark):
    """Only the schema is memoized: each load is a new relation with
    fresh attribute ids, so a join of two loads resolves each side."""
    import pyarrow.parquet as pq

    a = load_table(spark, SF_SMOKE, "orders")
    b = load_table(spark, SF_SMOKE, "orders")
    pairs = a.join(b, a["o_custkey"] == b["o_orderkey"]).select(
        a["o_orderkey"], b["o_orderkey"]
    )
    o = pq.read_table(f"{SF_SMOKE}/orders.parquet").to_pandas()
    want = o.merge(o, left_on="o_custkey", right_on="o_orderkey")
    assert sorted(tuple(r) for r in pairs.collect()) == sorted(
        zip(want["o_orderkey_x"], want["o_orderkey_y"])
    )


def test_schema_memo_under_concurrent_loads(spark, monkeypatch):
    """Eight threads load three tables through a two-entry memo, so
    hits, inserts and evictions interleave: every load must return its
    own table's schema and the memo must end within its bound."""
    import sys
    import threading
    from collections import OrderedDict

    from data_ingestion_tool_spark.sources import tables

    names = ("region", "nation", "supplier")
    want = {n: load_table(spark, SF_SMOKE, n).schema for n in names}
    monkeypatch.setattr(tables, "_SCHEMAS", OrderedDict())
    monkeypatch.setattr(tables, "_SCHEMAS_MAX", 2)
    errors = []

    def work(i):
        try:
            for j in range(8):
                n = names[(i + j) % len(names)]
                if load_table(spark, SF_SMOKE, n).schema != want[n]:
                    errors.append(f"{n}: wrong schema")
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(repr(exc))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(tables._SCHEMAS) <= 2


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
