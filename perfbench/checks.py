"""Output checks, run outside the timed region.

Query ops are compared with the registry's own DuckDB oracle SQL, run
on the same generated parquet files, the way the engine's parity tests
compare them: same column names, same row count, and the same multiset
of rows after every cell is normalised to a string. Oracle results are
cached, as column names, row count and a digest of the canonical rows,
per (oracle SQL, input seed), so an operator change that ships with its
oracle change needs no benchmark edit.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
from datetime import date, datetime
from decimal import Decimal

import pandas as pd

#: Tables the oracle sees, as views over the generated parquet files.
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _norm_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, (float, Decimal)):
        return repr(float(v))  # round-trips a double exactly
    if isinstance(v, (pd.Timestamp, datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[list[str]]:
    """Rows with columns in name order, every cell as a string, sorted:
    an order-insensitive, type-tolerant form of a result."""
    cols = sorted(pdf.columns)
    rows = [
        [_norm_cell(v) for v in row]
        for row in pdf[cols].itertuples(index=False)
    ]
    return sorted(rows)


def summary(pdf: pd.DataFrame) -> dict:
    """Column names, row count and a digest of the canonical rows."""
    rows = canonical_rows(pdf)
    return {
        "columns": sorted(pdf.columns),
        "rows": len(rows),
        "digest": hashlib.sha256(json.dumps(rows).encode()).hexdigest(),
    }


def compare(spark_pdf: pd.DataFrame, expected: dict) -> str | None:
    """None when ``spark_pdf`` matches the oracle's ``summary``, else
    what differs."""
    got = summary(spark_pdf)
    for key in ("columns", "rows", "digest"):
        if got[key] != expected[key]:
            return f"{key}: {got[key]} != oracle {expected[key]}"
    return None


class Oracle:
    """DuckDB over the generated tables, with a per-query time limit
    and an on-disk result cache."""

    def __init__(self, tables_dir: str, seed: int, cache_dir: str,
                 timeout_s: float):
        import duckdb

        self._seed = seed
        self._cache_dir = cache_dir
        self._timeout_s = timeout_s
        os.makedirs(cache_dir, exist_ok=True)
        self._con = duckdb.connect()
        # the oracle runs beside a live Spark session; keep it small
        self._con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def close(self) -> None:
        self._con.close()

    def expected(self, sql: str) -> dict | None:
        """The ``summary`` of the oracle's result, or None when the
        query does not finish within the time limit."""
        key = hashlib.sha256(f"{self._seed}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self._cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        timer = threading.Timer(self._timeout_s, self._con.interrupt)
        timer.start()
        try:
            pdf = self._con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001 — interrupt surfaces as a DuckDB error
            if "interrupt" in str(exc).lower():
                return None
            raise
        finally:
            timer.cancel()
        result = summary(pdf)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(result, fh)
        os.replace(tmp, path)
        return result
