"""Excel (.xlsx/.xlsm) source.

Spark has no native Excel reader (reference reads via pandas on the
driver — box_ingest.py:152-156). Here the workbook bytes ship through
the ``binaryFile`` source and are parsed inside ``mapInPandas`` on
executors by the stdlib engine
(:mod:`data_ingestion_tool_spark.xlsx_lite`), whether or not an Excel
package is installed: a workbook ingests with the same column types on
every host. Cells arrive as their stored values, so a date-styled cell
is its Excel serial number, not a timestamp. Unparseable bytes raise
:class:`~data_ingestion_tool_spark.xlsx_lite.XlsxFormatError`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_ingestion_tool_spark.xlsx_lite import parse_xlsx


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: str | None = None,
    skip_rows: int | None = None,
) -> DataFrame:
    """Read one workbook (or a glob of workbooks) as a DataFrame
    (reference parity: optional sheet, optional skiprows —
    box_ingest.py:152-156)."""
    # Schema must be known up front for mapInPandas: parse one
    # workbook's header on the driver (bytes-bounded), then fan out.
    binary = spark.read.format("binaryFile").load(path)
    first = binary.select("content").limit(1).collect()
    if not first:
        raise FileNotFoundError(path)
    sample = parse_xlsx(first[0]["content"], sheet_name, skip_rows)
    sample.columns = [str(c).strip() for c in sample.columns]
    schema = spark.createDataFrame(sample.head(100)).schema

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                out = parse_xlsx(blob, sheet_name, skip_rows)
                out.columns = [str(c).strip() for c in out.columns]
                yield out

    return binary.select("content").mapInPandas(parse_batches, schema)

