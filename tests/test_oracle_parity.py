"""Differential oracle test: every registered query with an oracle must
match DuckDB exactly at sf0.01 — the same gate the driver runs."""

from __future__ import annotations

import pytest

from data_ingestion_tool_spark.operators import registry
from tests.conftest import SF_CORRECT
from tests.parity import compare

REG = registry()
ORACLE_NAMES = sorted(n for n, s in REG.items() if s.oracle is not None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, duck, name):
    spec = REG[name]
    sdf = spec.builder(spark, SF_CORRECT)
    ddf = duck.execute(spec.oracle).df()
    problems = compare(sdf, ddf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_rows_only_queries_run(spark):
    for name, spec in REG.items():
        if spec.oracle is None:
            df = spec.builder(spark, SF_CORRECT)
            assert df.count() >= 0, name


def test_approx_distinct_within_hll_error(spark):
    """HLL++ estimates land within 5% of exact distinct counts (default
    relative SD is 0.05; at these cardinalities 5% is a safe bound)."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_spark.sources.tables import load_table

    li = load_table(spark, SF_CORRECT, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    for r in both.collect():
        assert abs(r["approx"] - r["exact"]) <= 0.05 * r["exact"] + 1


# Every oracle-checked query that reads the events table (the six
# round-1 driver failures plus the event-window tier).
EVENTS_QUERIES = sorted(
    n
    for n in (
        "asof_last_event",
        "explode_event_props",
        "scalar_json_events",
        "scalar_variant_events",
        "user_funnel",
        "purchases_after_clicks",
        "tumbling_hourly",
        "sliding_hourly",
        "session_windows",
        "top_purchasers",
        "dedup_first_event",
        "event_value_anomalies",
        "user_retention_cohorts",
    )
    if REG[n].oracle is not None
)


@pytest.mark.parametrize("name", EVENTS_QUERIES)
def test_events_queries_match_oracle_at_sf01(spark, name):
    """The six round-1-failing events queries (nanos parquet) verified
    at sf0.1 as well — the driver gates sf0.01 only."""
    from tests.conftest import make_duck

    spec = REG[name]
    sdf = spec.builder(spark, "/root/testdata/sf0.1")
    con = make_duck("/root/testdata/sf0.1")
    try:
        ddf = con.execute(spec.oracle).df()
    finally:
        pass
    problems = compare(sdf, ddf)
    con.close()
    assert not problems, f"{name}@sf0.1: " + "; ".join(problems)


# The driver's 50-query correctness window (operators.__init__._FRONT),
# swept at sf0.1 — 10× the driver's gate scale — so scale-sensitive
# ties, limits, and float boundaries surface locally before the
# external run (round-2 verdict item 6).
from data_ingestion_tool_spark.operators import _FRONT  # noqa: E402
from data_ingestion_tool_spark.operators.dedup import (  # noqa: E402
    DEDUP_NGRAM_JACCARD_SQL,
)

# Oracle-COST carve-out for the routine sf0.1 sweep only: oracles that
# embed the all-pairs 3-gram Jaccard CTE, which DuckDB evaluates as a
# full list-intersect self-join (~8-10 min per query at sf0.1; the
# recursive-closure variant far longer). Round-4 sf0.1 evidence:
# near_dup_graph_degree verified Spark ≡ DuckDB directly (511 s, zero
# mismatches); dedup_near_clusters verified against a union-find
# oracle over the (sf0.1-hash-green) exact pair set — full MATCH.
# The driver's sf0.01 gate and test_query_matches_oracle still
# hash-check every one of them against DuckDB on every run.
_WINDOW_SF01 = [
    n
    for n in _FRONT
    if REG[n].oracle is not None
    and DEDUP_NGRAM_JACCARD_SQL not in REG[n].oracle
]


@pytest.mark.parametrize("name", _WINDOW_SF01)
def test_driver_window_matches_oracle_at_sf01(spark, name):
    from tests.conftest import make_duck

    spec = REG[name]
    sdf = spec.builder(spark, "/root/testdata/sf0.1")
    con = make_duck("/root/testdata/sf0.1")
    try:
        ddf = con.execute(spec.oracle).df()
    finally:
        con.close()
    problems = compare(sdf, ddf)
    assert not problems, f"{name}@sf0.1: " + "; ".join(problems)


#: Date/time-sensitive queries that round 1 proved are the
#: session-dependence risk surface.
_TZ_SENSITIVE = [
    n
    for n in (
        "pricing_summary",
        "asof_last_event",
        "tumbling_hourly",
        "session_windows",
        "scd2_user_history",
        "user_retention_cohorts",
        "tpch_q10_returned_items",
        "events_gap_fill",
        # round-3 date/time-touching additions
        "skyline_orders",
        "exact_user_reach",
        "tpch_q12_priority_shipping",
        "user_activity_similarity",
        "time_weighted_avg_value",
        "frequent_event_sequences",
        "cumulative_unique_users",
        # round-4 date/time-touching additions
        "event_attribution_last_touch",
        "concurrent_sessions",
        "seasonal_value_anomalies",
        # round-12: gained a date predicate (2000-01-01 recency cutoff)
        "idle_rich_customers",
    )
    if REG[n].oracle is not None
]


@pytest.mark.parametrize("name", _TZ_SENSITIVE)
def test_parity_survives_foreign_session_timezone(spark, duck, name):
    """The external harness builds its OWN SparkSession (round 1's only
    systemic failure was session-dependence). Re-run the date/time
    -sensitive oracle queries on a fresh session pinned to a non-UTC
    timezone: results must still hash-match DuckDB, proving the NTZ
    canonicalization makes every query timezone-independent."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "America/New_York")
    ns.conf.set("spark.sql.ansi.enabled", "false")
    try:
        spec = REG[name]
        sdf = spec.builder(ns, SF_CORRECT)
        ddf = duck.execute(spec.oracle).df()
        problems = compare(sdf, ddf)
        assert not problems, f"{name}@NY-tz: " + "; ".join(problems)
    finally:
        ns.conf.unset("spark.sql.session.timeZone")
        ns.conf.unset("spark.sql.ansi.enabled")


def test_python_stage_ops_run_on_foreign_session(spark):
    """The Arrow/pandas-stage operators (broadcast state + UDF-backed)
    must also run under an arbitrarily-configured external session."""
    ns = spark.newSession()
    ns.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    ns.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for name in ("semantic_dedup", "ann_bruteforce_topk", "kmeans_labels"):
            assert REG[name].builder(ns, SF_CORRECT).count() > 0, name
    finally:
        ns.conf.unset("spark.sql.session.timeZone")
        ns.conf.unset("spark.sql.ansi.enabled")


#: Smoke-tier guard: the flagship + TPC-H queries must hash-match the
#: oracle on the TINY sf too (empty filter results, LIMIT ties, and
#: single-partition plans behave differently at 6k rows than 60k).
_SMOKE_TIER = sorted(
    n
    for n, s in REG.items()
    if s.oracle is not None
    and (n.startswith("tpch_") or "flagship" in s.tags)
)


@pytest.mark.parametrize("name", _SMOKE_TIER)
def test_flagships_match_oracle_at_smoke_sf(spark, name):
    from tests.conftest import make_duck

    spec = REG[name]
    sdf = spec.builder(spark, "/root/testdata/sf0.001")
    con = make_duck("/root/testdata/sf0.001")
    try:
        ddf = con.execute(spec.oracle).df()
        problems = compare(sdf, ddf)
    finally:
        con.close()
    assert not problems, f"{name}@sf0.001: " + "; ".join(problems)
