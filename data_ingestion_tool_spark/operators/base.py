"""Query registry plumbing.

Every operator the engine claims (SURVEY.md §2) is declared as a
:class:`QuerySpec`: a named PySpark builder ``(spark, sf_dir) ->
DataFrame`` plus, where SQL-expressible, the equivalent ANSI SQL the
DuckDB oracle runs on the same parquet tables. ``__spark_entry__``
assembles its ``queries()`` / ``oracle_sql()`` contract from this
registry, and ``bench.py`` picks its headline set from it.

It also holds the one materialization mechanism every builder uses:
:func:`materialize` (an eager ``localCheckpoint``), :func:`cached` (a
persist released on every exit path) and :func:`plan_only` (a scope in
which :func:`materialize` keeps the lazy lineage, for plan tools),
and the one band projection of the banded-candidate operators,
:func:`stack_bands`.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One named, oracle-checkable query/operator."""

    name: str
    builder: Builder
    #: DuckDB-runnable ANSI SQL over the pre-registered table views, or
    #: None for non-SQL-expressible operators (driver then records a
    #: weaker rows-only check).
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


def build_registry(*spec_lists: list[QuerySpec]) -> dict[str, QuerySpec]:
    registry: dict[str, QuerySpec] = {}
    for specs in spec_lists:
        for spec in specs:
            if spec.name in registry:
                raise ValueError(f"duplicate query name: {spec.name}")
            registry[spec.name] = spec
    return registry


_PLAN_ONLY: ContextVar[bool] = ContextVar("plan_only", default=False)


@contextmanager
def plan_only() -> Iterator[None]:
    """Build without running: inside this scope :func:`materialize`
    returns its input unchanged, so a builder's returned plan shows the
    real lineage instead of a ``Scan ExistingRDD`` stub, and building
    starts no checkpoint job. :func:`cached` is unaffected."""
    token = _PLAN_ONLY.set(True)
    try:
        yield
    finally:
        _PLAN_ONLY.reset(token)


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now (eager ``localCheckpoint``) and return a frame
    that reads the checkpointed blocks. Inside a :func:`plan_only`
    scope, return ``df`` itself."""
    if _PLAN_ONLY.get():
        return df
    return df.localCheckpoint(eager=True)


@contextmanager
def cached(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> Iterator[DataFrame]:
    """Persist ``df`` for the body of the ``with`` block and unpersist
    it on every exit, including an exception. Results that outlive the
    block must be :func:`materialize`-d inside it."""
    df.persist(level)
    try:
        yield df
    finally:
        df.unpersist()


def stack_bands(df: DataFrame, bands: list[Column], *keep: str) -> DataFrame:
    """Long form of a banded signature: one row per (row, band) with
    columns ``(*keep, band_idx, band_val)``, where ``band_val`` is
    ``bands[band_idx]`` evaluated on the row. Two rows collide in a
    band when their ``(band_idx, band_val)`` keys are equal."""
    wide = df.select(*keep, *[c.alias(f"band{b}") for b, c in enumerate(bands)])
    pairs = ", ".join(f"{b}, band{b}" for b in range(len(bands)))
    return wide.selectExpr(
        *keep, f"stack({len(bands)}, {pairs}) AS (band_idx, band_val)"
    )
