"""Excel export sink (reference box_export.py:34-48).

Excel files are inherently single-writer, so the result is collected to
the driver — with a row-count guard the reference lacks (it collects
unboundedly, box_export.py:37) — and written by the stdlib engine
(:func:`data_ingestion_tool_spark.xlsx_lite.write_xlsx`). Rename mapping
is case-insensitive on both sides (box_export.py:38-41).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from data_ingestion_tool_spark import xlsx_lite


DEFAULT_MAX_ROWS = 1_000_000  # xlsx hard sheet limit is 1,048,576


def apply_column_mapping(df: DataFrame, column_mapping: dict | None) -> DataFrame:
    """Lowercase every column, then apply the (lowercased) rename map —
    reference parity (box_export.py:38-41)."""
    mapping = {
        str(k).lower(): str(v) for k, v in (column_mapping or {}).items()
    }
    return df.toDF(*[mapping.get(c.lower(), c.lower()) for c in df.columns])


def export_to_excel(
    df: DataFrame,
    path: str,
    *,
    sheet_name: str | None = None,
    column_mapping: dict | None = None,
    max_rows: int = DEFAULT_MAX_ROWS,
) -> int:
    """Write a query result to an .xlsx file; returns the row count."""
    renamed = apply_column_mapping(df, column_mapping)
    limited = renamed.limit(max_rows + 1)
    pdf = limited.toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"export exceeds max_rows={max_rows}; narrow the query or "
            "export partitioned parquet/csv instead"
        )
    # looked up at call time, so a wrapper installed on the module
    # attribute (perfbench's tracer) sees every write
    xlsx_lite.write_xlsx(pdf, path, sheet_name=sheet_name or "Sheet1")
    return len(pdf)
