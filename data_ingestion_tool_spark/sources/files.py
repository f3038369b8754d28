"""File-format readers with reference-parity semantics.

The reference reads every file through pandas on the driver
(box_ingest.py:148-156); these readers produce the same logical rows as
distributed Spark scans:

- CSV: header row + type inference (pandas ``read_csv`` parity)
- JSON: whole-file arrays — pandas ``read_json`` style — so Spark needs
  ``multiLine=true`` (its default is NDJSON)
- Parquet: native
- Excel / ZIP: see sources.excel / sources.archive

Multiple files of one format (for CSV: of one header) are read in a
single ``spark.read`` call (one jobs/commit per batch), unlike the
reference's one-file-at-a-time loop (box_ingest.py:189-190).
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession

#: Ingest-pipeline dispatch. ``.txt`` is deliberately NOT here: the
#: reference skips it (box_ingest.py:157-159) and a one-column line
#: table has no place in the validated-ingest path.
SUPPORTED_EXTENSIONS = (
    ".csv",
    ".json",
    ".parquet",
    ".orc",
    ".xlsx",
    ".xlsm",
    ".zip",
)


def read_csv(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        # pandas treats empty cells as NaN; Spark's "" → null for parity
        .option("nullValue", "")
        .csv(paths)
    )


def read_json(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    return spark.read.option("multiLine", True).json(paths)


def read_parquet(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    return spark.read.parquet(*([paths] if isinstance(paths, str) else paths))


def read_orc(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """ORC is a first-class columnar source (vectorized reader,
    predicate pushdown) — no reference analog (pandas has no ORC
    writer path in the tool), included for format completeness."""
    return spark.read.orc(*([paths] if isinstance(paths, str) else paths))


_READERS = {
    "csv": read_csv,
    "json": read_json,
    "parquet": read_parquet,
    "orc": read_orc,
}


def classify(path: str) -> str | None:
    """File-format dispatch key, or None for unsupported types (the
    reference logs + skips those — box_ingest.py:157-159)."""
    lower = path.lower()
    for ext in SUPPORTED_EXTENSIONS:
        if lower.endswith(ext):
            return ext.lstrip(".")
    return None


def _by_header(paths: list[str]) -> list[list[str]]:
    """Local CSV paths grouped by their parsed first record, in first-seen
    order. One ``spark.read`` keeps the first file's header and maps the
    other files' columns by position, so only files whose headers agree
    may share a read."""
    groups: dict[tuple[str, ...], list[str]] = {}
    for p in paths:
        with open(p, newline="", encoding="utf-8", errors="replace") as fh:
            header = tuple(next(csv.reader(fh), ()))
        groups.setdefault(header, []).append(p)
    return list(groups.values())


def read_paths(
    spark: SparkSession,
    paths: list[str],
    *,
    sheet_name: str | None = None,
    skip_rows: int | None = None,
) -> tuple[list[tuple[str, DataFrame]], list[str], list[tuple[str, str]]]:
    """Group paths by format, read each group in one scan.

    Returns ([(format, DataFrame)], skipped_paths, failed). ZIPs are
    expanded first (recursively, via a worklist) and their contents
    re-classified. CSV files whose headers differ are read apart, each
    by its own header; every workbook is read on its own, since sheets
    differ per file. A file/group whose reader raises eagerly (corrupt
    workbook) lands in ``failed`` as (path-or-format, error) instead of
    aborting the batch — reference parity: one bad file never stops the
    run (box_ingest.py:177-178).
    """
    from data_ingestion_tool_spark.sources.archive import expand_zips
    from data_ingestion_tool_spark.sources.excel import read_excel

    flat = expand_zips(paths)
    groups: dict[str, list[str]] = {}
    skipped: list[str] = []
    failed: list[tuple[str, str]] = []
    for p in flat:
        kind = classify(p)
        if kind is None or kind == "zip":
            skipped.append(p)
            continue
        groups.setdefault(kind, []).append(p)

    out: list[tuple[str, DataFrame]] = []
    for kind, group in groups.items():
        if kind in ("xlsx", "xlsm"):
            for p in group:
                try:
                    out.append(
                        (kind, read_excel(spark, p, sheet_name, skip_rows))
                    )
                except Exception as exc:  # noqa: BLE001
                    failed.append((p, str(exc)))
            continue
        for batch in _by_header(group) if kind == "csv" else [group]:
            try:
                out.append((kind, _READERS[kind](spark, batch)))
            except Exception as exc:  # noqa: BLE001 — quarantine the group
                failed.append((kind, str(exc)))
    return out, skipped, failed
