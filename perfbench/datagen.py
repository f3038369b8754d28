"""Seeded inputs for the benchmark.

``write_tables`` writes the ten query tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) as single-row-group
parquet files with the schemas and value shapes of the engine's test
data at scale factor 0.01. ``write_landing_zone`` turns the generated
``lineitem`` rows into an ingest landing zone of CSV, JSON-array, xlsx
and zip-of-CSV files with planted bad cells, and returns the truth the
ingest must reproduce.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import io
import json
import os
import zipfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts: the engine's test data at scale factor 0.01.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_ADJECTIVES = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EMBED_DIM = 64


def seeded_rng(seed: int, stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream); any integer seed."""
    return np.random.default_rng([seed % (1 << 64), stream])


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(seed: int) -> dict[str, pa.Table]:
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = seeded_rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": r.choice(_SEGMENTS, n["customer"]),
    })

    r = seeded_rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
    })

    r = seeded_rng(seed, 3)
    keys = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                r.choice(_ADJECTIVES, n["part"]), r.choice(_NOUNS, n["part"])
            )
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
        "p_type": r.choice(_PART_TYPES, n["part"]),
        "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    r = seeded_rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(r, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(r, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(_PRIORITIES, n["orders"]),
    })

    r = seeded_rng(seed, 5)
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, m),
        "l_discount": r.integers(0, 11, m) / 100,
        "l_tax": r.integers(0, 9, m) / 100,
        "l_returnflag": r.choice(["A", "N", "R"], m),
        "l_linestatus": r.choice(["O", "F"], m),
        "l_shipdate": _days(r, m, "1995-01-02", "2001-11-04"),
    })

    r = seeded_rng(seed, 6)
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = start + np.sort(r.integers(0, span_us, m)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": ts,
        "user_id": pa.array(r.integers(0, m // 67, m), pa.int64()),
        "event_type": r.choice(_EVENT_TYPES, m),
        "value": np.round(r.exponential(50.0, m), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, m)],
    })

    r = seeded_rng(seed, 7)
    m = n["documents"]
    texts = [
        " ".join(r.choice(_VOCAB, int(k))) for k in r.integers(10, 101, m)
    ]
    # 5% near-duplicates: another document's text plus one extra token
    for i in r.choice(m, m // 20, replace=False):
        texts[i] = texts[(i + 1 + int(r.integers(0, m - 1))) % m] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": texts,
        "lang": r.choice(_LANGS, m, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    r = seeded_rng(seed, 8)
    m = n["embeddings"]
    vec = r.standard_normal((m, _EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, m), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int) -> int:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row
    group each); returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in _tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        total += os.path.getsize(path)
    return total


#: Metadata the ingest validates the landing zone against.
INGEST_METADATA = {
    "l_orderkey": "int",
    "l_partkey": "int",
    "l_suppkey": "int",
    "l_linenumber": "int",
    "l_quantity": "float",
    "l_extendedprice": "float",
    "l_discount": "float",
    "l_tax": "float",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipdate": "date",
    "non_nullable_fields": ["l_orderkey"],
}

#: Landing-zone layout: (format, file count, rows per file).
ZONE_LAYOUT = (("csv", 8, 2500), ("json", 4, 2000), ("xlsx", 2, 1000), ("zip", 2, 2000))

#: Share of rows with a planted bad cell, per kind of fault.
_BAD_SHARE = 0.01


def _zone_rows(lineitem: pa.Table, rng) -> pd.DataFrame:
    """Lineitem rows as the strings a producer would write, with two
    planted faults: a non-numeric ``l_quantity`` (type mismatch) and a
    missing ``l_orderkey`` (null in a non-nullable column)."""
    need = sum(files * rows for _, files, rows in ZONE_LAYOUT)
    df = lineitem.slice(0, need).to_pandas()
    df["l_shipdate"] = df["l_shipdate"].dt.strftime("%Y-%m-%d")
    out = pd.DataFrame({c: df[c].astype(object) for c in df.columns})
    bad_qty = rng.random(need) < _BAD_SHARE
    null_key = rng.random(need) < _BAD_SHARE
    out.loc[bad_qty, "l_quantity"] = "n/a"
    out.loc[null_key, "l_orderkey"] = None
    out["_invalid"] = bad_qty | null_key
    return out


def _csv_bytes(rows: pd.DataFrame) -> bytes:
    return rows.to_csv(index=False).encode()


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    """A deflated archive whose member timestamps are fixed, so the
    bytes depend only on the members."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            info = zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def _restamp(archive: bytes) -> bytes:
    """Re-pack an archive with fixed member timestamps (the workbook
    writer stamps members with the wall clock)."""
    with zipfile.ZipFile(io.BytesIO(archive)) as zf:
        return _zip_bytes({i.filename: zf.read(i) for i in zf.infolist()})


def write_landing_zone(zone_dir: str, tables_dir: str, seed: int) -> dict:
    """Write the landing zone from ``<tables_dir>/lineitem.parquet`` and
    return its truth: file and row counts, the valid/invalid split, the
    zone's bytes and the valid rows the ingest must keep."""
    from data_ingestion_tool_spark.xlsx_lite import write_xlsx

    os.makedirs(zone_dir, exist_ok=True)
    rows = _zone_rows(
        pq.read_table(os.path.join(tables_dir, "lineitem.parquet")),
        seeded_rng(seed, 9),
    )
    data = rows.drop(columns="_invalid")
    pos = 0
    for kind, files, per in ZONE_LAYOUT:
        for i in range(files):
            chunk = data.iloc[pos : pos + per]
            pos += per
            if kind == "csv":
                blob = _csv_bytes(chunk)
            elif kind == "json":
                blob = json.dumps(chunk.to_dict(orient="records")).encode()
            elif kind == "xlsx":
                buf = io.BytesIO()
                write_xlsx(chunk.astype(str).where(chunk.notna(), None), buf)
                blob = _restamp(buf.getvalue())
            else:
                half = per // 2
                blob = _zip_bytes({
                    "top.csv": _csv_bytes(chunk.iloc[:half]),
                    "nested.zip": _zip_bytes(
                        {"nested.csv": _csv_bytes(chunk.iloc[half:])}),
                })
            path = os.path.join(zone_dir, f"lineitem_{kind}_{i:02d}.{kind}")
            with open(path, "wb") as fh:
                fh.write(blob)
    invalid = int(rows["_invalid"].sum())
    valid_rows = rows.loc[~rows["_invalid"]]
    return {
        "files": sum(files for _, files, _ in ZONE_LAYOUT),
        "rows": len(rows),
        "invalid_rows": invalid,
        "valid_rows": len(rows) - invalid,
        "zone_bytes": sum(
            os.path.getsize(os.path.join(zone_dir, f))
            for f in os.listdir(zone_dir)
        ),
        "valid": pd.DataFrame({
            "l_orderkey": valid_rows["l_orderkey"].astype("int64"),
            "l_quantity": valid_rows["l_quantity"].astype("float64"),
        }),
    }
