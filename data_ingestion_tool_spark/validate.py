"""Metadata-driven validation: compile a schema dict into Column
expressions and split a DataFrame into (valid, invalid).

Re-expresses the reference's driver-side row loop
(reference box_ingest.py:85-122, ``_validate_and_split_data``) as a
single declarative plan that runs on executors under whole-stage
codegen — the reference iterates ``df.iterrows()`` in CPython on one
driver core (~10⁴-10⁵ rows/s); this compiles to vectorized generated
code and scales horizontally with partitions.

Semantics preserved (each cited to the reference):

- column names whitespace-stripped and lowercased; output columns are
  always lowercase (box_ingest.py:89-90, :160, :104-112)
- metadata keys matched case-insensitively; error messages carry the
  metadata's original spelling (box_ingest.py:96-112)
- ``non_nullable_fields`` list, case-insensitive (box_ingest.py:90-100)
- per-column error ladder, at most one error per column, in metadata
  order: missing column → null-in-non-nullable → type mismatch
  (box_ingest.py:96-114)
- coercion ladder (box_ingest.py:103-112):
  ``int``   — Python ``int()``: numeric values truncate toward zero
              (``int(3.9) == 3``), non-integer strings like ``"3.5"``
              are invalid;
  ``float`` — lenient ``float()`` incl. scientific notation;
  ``date``  — lenient multi-format parse (pd.to_datetime default);
  ``timestamp`` — STRICT ``%Y-%m-%d %H:%M:%S`` only;
  anything else — stringify, never fails
- nullable nulls pass through as null output values (box_ingest.py:98)
- extra columns absent from metadata are dropped from the valid output
  (box_ingest.py:92-112)
- invalid rows become ``(record, error_type)`` with errors joined by
  ``"; "`` (box_ingest.py:115-119). Deviation (FIXTURES.md A1): the
  reference's ``record`` is a Python-dict repr; this engine emits
  ``to_json(struct(*))``.

Documented deviations (FIXTURES.md): Python ``float('inf')`` accepts
``"inf"`` while Spark's cast accepts ``"Infinity"``; pandas parses a
handful more exotic date formats than the format ladder below.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    TimestampNTZType,
    TimestampType,
)

#: Strict timestamp format (box_ingest.py:109-110 uses
#: ``%Y-%m-%d %H:%M:%S`` with pandas' exact-match behavior).
STRICT_TS_FORMAT = "yyyy-MM-dd HH:mm:ss"

#: Lenient date-format ladder approximating pd.to_datetime's default
#: parser (box_ingest.py:107-108).
DATE_FORMATS = (
    None,  # Spark's default ISO parse
    "MMM d yyyy",
    "MMMM d, yyyy",
    "M/d/yyyy",
    "d MMM yyyy",
    "yyyy/M/d",
)

_TEMPORAL_TYPES = (TimestampType, TimestampNTZType, DateType)


def normalize_columns(df: DataFrame) -> DataFrame:
    """Strip + lowercase every column name (box_ingest.py:89, :160)."""
    return df.toDF(*[c.strip().lower() for c in df.columns])


def _coerce(col: Column, declared: str, source_type) -> Column:
    """The coercion ladder as a null-on-failure expression."""
    t = declared.lower()
    if t == "int":
        # Python int() truncates toward zero on numerics; Spark's
        # numeric→long cast has identical truncation. try_cast so
        # NaN/overflow become null (→ type-mismatch error), like
        # int(float('nan')) raising.
        return col.try_cast("long")
    if t == "float":
        return col.try_cast("double")
    if t == "date":
        if isinstance(source_type, _TEMPORAL_TYPES):
            return col.try_cast("date")
        attempts = [
            F.try_to_date(col) if fmt is None else F.try_to_date(col, fmt)
            for fmt in DATE_FORMATS
        ]
        return F.coalesce(*attempts)
    if t == "timestamp":
        if isinstance(source_type, _TEMPORAL_TYPES):
            return col.try_cast("timestamp_ntz")
        return F.try_to_timestamp(col, F.lit(STRICT_TS_FORMAT)).try_cast("timestamp_ntz")
    # anything else: stringify, never fails (box_ingest.py:111-112)
    return col.cast("string")


@dataclass(frozen=True)
class CompiledValidation:
    """The three expression sets a validation plan needs."""

    error_exprs: list[Column]
    output_exprs: list[Column]
    record_cols: list[str]


def compile_validation(df: DataFrame, metadata: dict) -> CompiledValidation:
    """Compile a metadata dict against a (normalized) DataFrame."""
    non_nullable = {
        str(f).strip().lower()
        for f in metadata.get("non_nullable_fields", [])
    }
    source_types = {f.name: f.dataType for f in df.schema.fields}
    errors: list[Column] = []
    outputs: list[Column] = []
    for decl_name, decl_type in metadata.items():
        if decl_name == "non_nullable_fields":
            continue
        lc = decl_name.strip().lower()
        if lc not in source_types:
            errors.append(F.lit(f"Missing column: {decl_name}"))
            continue
        raw = F.col(lc)
        coerced = _coerce(raw, str(decl_type), source_types[lc])
        if lc in non_nullable:
            errors.append(
                F.when(
                    raw.isNull(),
                    F.lit(f"Null value in non-nullable column: {decl_name}"),
                )
            )
        errors.append(
            F.when(
                raw.isNotNull() & coerced.isNull(),
                F.lit(f"Type mismatch for column: {decl_name}"),
            )
        )
        outputs.append(coerced.alias(lc))
    return CompiledValidation(errors, outputs, list(df.columns))


@dataclass(frozen=True, eq=False)
class Split:
    """One batch's validation split; unpacks as ``(valid, invalid)``.

    Both sides are filters over ONE annotated plan. ``observed(obs)``
    returns the same split with ``obs`` attached above the validity
    filter, counting ``valid`` and ``invalid`` rows: whichever side an
    action runs first counts both sides in that same job.

    valid:   coerced metadata columns, lowercase names
    invalid: record (JSON of the normalized input row), error_type
             (messages joined with "; ")
    """

    annotated: DataFrame
    is_valid: Column
    is_invalid: Column
    valid_cols: list
    invalid_cols: list

    @property
    def valid(self) -> DataFrame:
        return self.annotated.filter(self.is_valid).select(*self.valid_cols)

    @property
    def invalid(self) -> DataFrame:
        return self.annotated.filter(self.is_invalid).select(*self.invalid_cols)

    def __iter__(self):
        return iter((self.valid, self.invalid))

    def observed(self, observation: Observation) -> Split:
        annotated = self.annotated.observe(
            observation,
            F.count_if(self.is_valid).alias("valid"),
            F.count_if(self.is_invalid).alias("invalid"),
        )
        return replace(self, annotated=annotated)


def validate_and_split(df: DataFrame, metadata: dict) -> Split:
    """Split into (valid, invalid) per the reference's contract.

    One annotated plan, two filters; nothing runs here. Each side is
    a separate plan, so writing both scans the source twice — the
    ingest path writes every batch's valid side in one append and
    every invalid side in another (see sinks.tables.write_split).
    """
    norm = normalize_columns(df)
    compiled = compile_validation(norm, metadata)
    if not compiled.error_exprs:
        # No declared columns: everything is trivially valid.
        return Split(
            norm,
            F.lit(True),
            F.lit(False),
            compiled.output_exprs or ["*"],
            [F.lit("").alias("record"), F.lit("").alias("error_type")],
        )
    annotated = norm.withColumn(
        "__errors", F.array_compact(F.array(*compiled.error_exprs))
    )
    return Split(
        annotated,
        F.size("__errors") == 0,
        F.size("__errors") > 0,
        compiled.output_exprs,
        [
            F.to_json(F.struct(*compiled.record_cols)).alias("record"),
            F.array_join("__errors", "; ").alias("error_type"),
        ],
    )
