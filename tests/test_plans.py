"""Plan-contract tests: the scale-design claims (pushdown, broadcast,
single-shuffle shapes, Python only at declared edges) asserted
programmatically, not eyeballed."""

from __future__ import annotations

import pytest

from data_ingestion_tool_spark.operators import registry
from data_ingestion_tool_spark.operators.base import plan_only
from data_ingestion_tool_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filter,
    plan_report,
)
from tests.conftest import SF_CORRECT

REG = registry()


@pytest.fixture(scope="module")
def registry_plans(spark):
    """Every registry builder built once: ``{name: (schema, formatted
    plan)}``. Builders that materialize an intermediate table would
    show a Scan ExistingRDD (and execute as a side effect); plan_only()
    keeps their REAL candidate plans. A builder's output schema is the
    same under plan_only() as in an eager build."""
    from data_ingestion_tool_spark.plans import formatted_plan

    built = {}
    with plan_only():
        for name, spec in REG.items():
            df = spec.builder(spark, SF_CORRECT)
            built[name] = (df.schema, formatted_plan(df))
    return built


def test_pricing_summary_pushes_filter_and_prunes(spark):
    df = REG["pricing_summary"].builder(spark, SF_CORRECT)
    assert_pushed_filter(df, "l_shipdate")
    rep = plan_report(df)
    # 7 needed columns, not all 16
    assert rep.read_schemas and "l_orderkey" not in rep.read_schemas[0]
    assert rep.exchanges == 1  # one agg shuffle, nothing else


def test_star_join_broadcasts_every_dim(spark):
    df = REG["revenue_by_nation"].builder(spark, SF_CORRECT)
    assert_broadcast_join(df, at_least=4)
    rep = plan_report(df)
    assert rep.sort_merge_joins == 0
    assert rep.exchanges == 1  # only the final agg shuffles


def test_asof_join_is_single_shuffle_window(spark):
    df = REG["asof_last_event"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.exchanges == 1  # shuffle on user_id only
    assert rep.nested_loop_joins == 0  # no pair enumeration


def test_topk_uses_partial_group_limit(spark):
    df = REG["topk_orders_per_customer"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    # rank pruning happens BEFORE the shuffle too (partial + final)
    assert rep.window_group_limits >= 2


def test_python_only_at_declared_edges(spark):
    """Relational flagships never fall back to Python stages."""
    for name in ("pricing_summary", "revenue_by_nation", "training_data_pipeline"):
        rep = plan_report(REG[name].builder(spark, SF_CORRECT))
        assert rep.map_in_pandas == 0, name
    # the vector kernel IS a declared Python edge
    rep = plan_report(REG["embedding_near_dup"].builder(spark, SF_CORRECT))
    assert rep.map_in_pandas == 1


def test_minhash_lsh_is_bucketed_not_all_pairs(spark):
    """The LSH claim: candidate pairs come from banded-signature
    equi-joins, never from a cartesian/nested-loop enumeration, and
    everything stays JVM-side. Built inside ``plan_only()`` so the
    assertion inspects the REAL candidate-generation plan — the
    execution path's eager localCheckpoint truncates lineage to a
    Scan ExistingRDD and would make this test vacuous (r06 ADVICE)."""
    from data_ingestion_tool_spark.operators.dedup import (
        _docs,
        minhash_lsh_candidates,
    )

    with plan_only():
        df = minhash_lsh_candidates(_docs(spark, SF_CORRECT))
    rep = plan_report(df)
    assert rep.nested_loop_joins == 0
    assert rep.map_in_pandas == 0
    # the candidate join really is there (banded equi-join), not an
    # already-materialized RDD scan
    from data_ingestion_tool_spark.plans import formatted_plan

    text = formatted_plan(df)
    assert "ExistingRDD" not in text
    assert rep.exchanges >= 1


def test_simhash_candidates_are_bucketed_not_all_pairs(spark):
    """Same contract for the SimHash candidate generator, on the
    pre-checkpoint plan: banded equi-joins only, the single declared
    Python edge (the Arrow signature kernel), no nested loops."""
    from data_ingestion_tool_spark.operators.dedup import dedup_simhash
    from data_ingestion_tool_spark.plans import formatted_plan

    with plan_only():
        df = dedup_simhash(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.nested_loop_joins == 0
    text = formatted_plan(df)
    assert "ExistingRDD" not in text
    assert "CartesianProduct" not in text


def test_fuzzy_checkpoint_collapses_scans_and_matches_lazy_path(spark):
    """Round-12 optimization contract for fuzzy_title_pairs: the
    execution path materializes the (doc_id, title, len) table once —
    its plan must contain ZERO parquet scans (the single scan runs
    inside the eager checkpoint job; every subtree reads the RDD
    blocks), where the lazy plan re-derived the documents scan 26×.
    The two paths must emit identical pairs."""
    from data_ingestion_tool_spark.operators.dedup import fuzzy_title_pairs
    from data_ingestion_tool_spark.plans import formatted_plan

    ckpt = fuzzy_title_pairs(spark, SF_CORRECT)
    text = formatted_plan(ckpt)
    assert "Scan parquet" not in text
    assert "ExistingRDD" in text
    with plan_only():
        lazy = fuzzy_title_pairs(spark, SF_CORRECT)
    assert "Scan parquet" in formatted_plan(lazy)
    assert sorted(map(tuple, ckpt.collect())) == sorted(
        map(tuple, lazy.collect())
    )


def test_pagerank_computes_on_bigint_ids_decodes_strings_last(spark):
    """Round-12 narrower-types contract: the supply graph's node ids
    are BIGINT through every join/agg (guide §2.3 — 8-byte hash keys,
    not variable-width strings); only the operator's final projection
    decodes the public "c{key}"/"s{key}" strings."""
    from data_ingestion_tool_spark.operators.graph import (
        _supply_graph,
        pagerank_supply_graph,
    )

    edges, deg, _pairs = _supply_graph(spark, SF_CORRECT)
    assert dict(edges.dtypes) == {"src": "bigint", "dst": "bigint"}
    assert dict(deg.dtypes)["src"] == "bigint"
    out = pagerank_supply_graph(spark, SF_CORRECT)
    assert dict(out.dtypes) == {"node": "string", "r": "bigint"}
    sample = {r["node"][0] for r in out.limit(50).collect()}
    assert sample <= {"c", "s"}


def test_blocked_near_dup_has_no_broadcast_and_one_shuffle(spark):
    """The no-broadcast scale path: one explode (bounded replication),
    one shuffle (the block-pair groupBy), zero broadcast of any side,
    and the BLAS kernel as the single grouped-pandas stage."""
    df = REG["embedding_near_dup_blocked"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.broadcast_exchanges == 0
    assert rep.broadcast_hash_joins == 0
    assert rep.nested_loop_joins == 0
    assert rep.exchanges == 1
    assert rep.generates == 1
    assert rep.grouped_pandas == 1


def test_blocked_near_dup_replication_factor_is_n_blocks(spark):
    """Each row is replicated to exactly n_blocks block pairs (the
    bounded explode factor the docstring promises)."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_spark.operators.similarity import (
        _GRID_BLOCKS,
        embedding_near_dup_blocked,
    )
    from data_ingestion_tool_spark.sources.tables import load_table

    n_rows = load_table(spark, SF_CORRECT, "embeddings").count()
    df = embedding_near_dup_blocked(spark, SF_CORRECT)
    # the Generate input feeds groupBy(bi,bj); count exploded rows via
    # the same pair-struct expression the operator builds
    emb = load_table(spark, SF_CORRECT, "embeddings")
    blk = F.pmod(F.col("vec_id"), F.lit(_GRID_BLOCKS))
    pairs = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.least(blk, F.lit(o)).alias("bi"),
                    F.greatest(blk, F.lit(o)).alias("bj"),
                )
                for o in range(_GRID_BLOCKS)
            ]
        )
    )
    exploded = emb.select(F.explode(pairs)).count()
    assert exploded == n_rows * _GRID_BLOCKS
    assert df.count() >= 0


def test_pack_token_budget_is_single_shuffle(spark):
    """Greedy packing = one exchange (the bucket window); everything
    else is JVM-side projection."""
    rep = plan_report(REG["pack_token_budget"].builder(spark, SF_CORRECT))
    assert rep.exchanges == 1
    assert rep.map_in_pandas == 0


def test_quality_score_weights_ride_a_broadcast(spark):
    """The model weight table must never shuffle the token stream."""
    df = REG["quality_score_linear"].builder(spark, SF_CORRECT)
    assert_broadcast_join(df, at_least=1)
    rep = plan_report(df)
    assert rep.map_in_pandas == 0  # scoring is all Column expressions


def test_scd2_is_one_window_exchange_no_join(spark):
    """SCD2 versioning must be a window, not a self-join."""
    rep = plan_report(REG["scd2_user_history"].builder(spark, SF_CORRECT))
    assert rep.exchanges == 1
    assert rep.sort_merge_joins == 0
    assert rep.nested_loop_joins == 0


def test_lateral_rewrites_to_window_group_limit(spark):
    """The LATERAL subquery must plan as a per-key group-limit (with a
    partial limit below the exchange), not a per-row subquery loop."""
    rep = plan_report(REG["lateral_top_orders"].builder(spark, SF_CORRECT))
    assert rep.window_group_limits >= 2
    assert rep.nested_loop_joins == 0


def test_heavy_hitters_shuffles_summaries_not_tokens(spark):
    """The MG sketch aggregates mapInPandas output (<= k rows per
    batch); the exploded token stream itself must not reach an
    exchange."""
    df = REG["heavy_hitter_terms"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.map_in_pandas == 1
    assert rep.generates == 1  # token explode stays JVM-side
    # exactly the summary agg (partial+final around one exchange) plus
    # the final top-k sort — the raw token stream never shuffles, so a
    # single shuffle exchange feeds the aggregate
    assert rep.exchanges <= 2


def test_date_partitioned_layout_prunes_partitions(spark, tmp_path):
    """Hive-style date partitioning + a date filter: the scan must
    enumerate ONLY the matching partition directory (dynamic pruning
    is the single biggest scan saver at 100 TB)."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_spark.sources.tables import load_table

    e = load_table(spark, SF_CORRECT, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    dest = str(tmp_path / "events_by_date")
    e.write.partitionBy("event_date").mode("overwrite").parquet(dest)

    back = spark.read.parquet(dest)
    one_day = back.filter(F.col("event_date") == "2024-01-15")
    # the predicate must bind as a PARTITION filter at the scan (it
    # prunes directories before any file is opened), not a row filter
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    part_section = plan.split("PartitionFilters", 1)[1][:200]
    assert "event_date" in part_section, part_section
    # semantic check: the filtered scan equals reading the one
    # partition directory directly
    direct = spark.read.parquet(f"{dest}/event_date=2024-01-15")
    assert one_day.count() == direct.count() > 0


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime Bloom-filter join pruning (InjectRuntimeFilter): with a
    selective filter on the build side of a shuffle join, Spark plants
    a bloom_filter_agg subquery and a might_contain() predicate on the
    probe side — probe rows that can't match are dropped BEFORE the
    shuffle. At cluster scale the default thresholds (10MB creation /
    10GB application side) trigger this automatically; the test lowers
    the application-side floor because sf0.1 scans are tiny."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_CORRECT, "lineitem")
        o = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sample_balanced_prunes_before_shuffle(spark):
    """The per-group reservoir claim: rank ≤ k compiles to partial +
    final WindowGroupLimit, so maps ship k rows per language, not the
    corpus — and the whole thing is one exchange."""
    rep = plan_report(REG["doc_sample_balanced"].builder(spark, SF_CORRECT))
    assert rep.window_group_limits >= 2
    assert rep.exchanges == 1
    assert rep.map_in_pandas == 0


def test_skew_profile_is_topk_not_full_sort(spark):
    """Heaviest-keys profile ends in TakeOrderedAndProject (bounded
    top-k, no global sort); the 1-row totals ride a broadcast."""
    from data_ingestion_tool_spark.plans.audit import formatted_plan

    df = REG["join_key_skew_profile"].builder(spark, SF_CORRECT)
    assert "TakeOrderedAndProject" in formatted_plan(df)
    rep = plan_report(df)
    assert rep.sort_merge_joins == 0
    assert rep.broadcast_exchanges >= 1


def test_boilerplate_never_self_joins_corpus(spark):
    """Boilerplate detection joins the corpus gram stream against the
    (tiny, broadcast) high-df set — never corpus × corpus, never
    Python."""
    from data_ingestion_tool_spark.plans.audit import formatted_plan

    df = REG["boilerplate_ngram_flags"].builder(spark, SF_CORRECT)
    assert "CartesianProduct" not in formatted_plan(df)
    rep = plan_report(df)
    assert rep.broadcast_exchanges >= 2
    assert rep.sort_merge_joins == 0  # single doc_id agg, no branch join
    assert rep.map_in_pandas == 0


def test_snapshot_diff_is_one_keyed_join(spark):
    """Reconciliation = one full-outer equi-join: a shuffle per side,
    no pair enumeration, and only the 3 compared columns read."""
    df = REG["orders_snapshot_diff"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.nested_loop_joins == 0
    assert rep.exchanges <= 2
    assert rep.read_schemas and all(
        "o_orderdate" not in s for s in rep.read_schemas
    )


def test_winsorized_is_single_exchange(spark):
    """Rank window, bound windows, and final agg share the group key:
    exactly one shuffle end-to-end."""
    rep = plan_report(REG["winsorized_prices"].builder(spark, SF_CORRECT))
    assert rep.exchanges == 1
    assert rep.map_in_pandas == 0


def test_cbo_column_stats_flip_filtered_dim_to_broadcast(spark):
    """Cost-based optimizer contract: without column statistics a
    filtered dimension keeps its full relation size estimate (the
    filter can't be costed) and sort-merge-joins; after ANALYZE ..
    FOR ALL COLUMNS, ndv-based selectivity shrinks the estimate below
    the broadcast threshold and the same query broadcast-joins. At
    100 TB this is the difference between planning from reality and
    planning from file sizes — keep stats fresh on dimension tables."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_spark.sources.tables import load_table

    o = load_table(spark, SF_CORRECT, "orders")
    dim = o.select("o_orderkey", "o_orderpriority", "o_totalprice")
    for _ in range(3):
        dim = dim.unionAll(dim)
    dim.write.mode("overwrite").saveAsTable("cbo_dim_t")
    # fact must dwarf the threshold so only the dim side is a
    # broadcast candidate
    fact = load_table(spark, SF_CORRECT, "lineitem")
    for _ in range(3):
        fact = fact.unionAll(fact)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }

    def join_plan() -> str:
        d = spark.table("cbo_dim_t").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = fact.join(d, F.col("l_orderkey") == F.col("o_orderkey"))
        return j._jdf.queryExecution().executedPlan().toString()

    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # between the no-stats estimate (~1.25 MB relation size) and
        # the ndv-estimated post-filter size (~1.08 MB)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1150000")
        spark.conf.set("spark.sql.cbo.enabled", "false")
        before = join_plan()
        assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before
        spark.sql("ANALYZE TABLE cbo_dim_t COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        after = join_plan()
        assert "BroadcastHashJoin" in after
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS cbo_dim_t")


def test_tpch_q6_is_pure_pushdown_scan(spark):
    """Q6's whole cost is the scan: all predicates pushed, 4 columns
    read, no join, one single-row aggregate exchange."""
    df = REG["tpch_q6_forecast_revenue"].builder(spark, SF_CORRECT)
    assert_pushed_filter(df, "l_shipdate")
    rep = plan_report(df)
    assert rep.broadcast_hash_joins == 0
    assert rep.sort_merge_joins == 0
    assert rep.nested_loop_joins == 0
    assert rep.exchanges == 1
    assert rep.read_schemas and "l_orderkey" not in rep.read_schemas[0]


def test_tpch_dim_joins_all_broadcast(spark):
    """Every TPC-H dim join rides a broadcast; no plan ever falls back
    to a nested loop (the disjunctive Q19 predicate included)."""
    for name, dims in (
        ("tpch_q7_nation_trade_volume", 2),
        ("tpch_q8_market_share", 3),
        ("tpch_q10_returned_items", 2),
        ("tpch_q17_small_qty_revenue", 1),
        ("tpch_q19_disjunctive_revenue", 1),
        ("tpch_q21_last_shipper", 1),
    ):
        rep = plan_report(REG[name].builder(spark, SF_CORRECT))
        assert rep.broadcast_hash_joins >= dims, name
        assert rep.nested_loop_joins == 0, name
        assert rep.map_in_pandas == 0, name


def test_tpch_q4_rewrites_exists_to_semi_join(spark):
    """The EXISTS subquery must plan as a left-semi hash join (no
    row-multiplying inner join + distinct, no nested loop)."""
    from data_ingestion_tool_spark.plans import formatted_plan

    df = REG["tpch_q4_late_order_priority"].builder(spark, SF_CORRECT)
    text = formatted_plan(df)
    assert "LeftSemi" in text
    rep = plan_report(df)
    assert rep.nested_loop_joins == 0


def test_tpch_q10_finishes_with_take_ordered(spark):
    """Top-20 must be TakeOrderedAndProject, never a global sort."""
    from data_ingestion_tool_spark.plans import formatted_plan

    df = REG["tpch_q10_returned_items"].builder(spark, SF_CORRECT)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_no_unbounded_pair_enumeration_anywhere(registry_plans):
    """Registry-wide scale contract: NO query may plan a
    CartesianProduct, and BroadcastNestedLoopJoin may appear only in
    the whitelisted bounded patterns — 1-row/dim-sized broadcast
    scalars (share-of-total, n_docs, mixing weights), the documented
    theta join, the intentional tiny cross join, and the bounded |Q|
    fan-out. Any new operator that plans an unbounded pair
    enumeration fails here by default."""
    import re

    BOUNDED_BNLJ = {
        "tfidf_top_terms",          # 1-row n_docs broadcast
        "important_part_stock",     # 1-row total broadcast (Q11)
        "idle_rich_customers",      # 1-row avg broadcast (Q22)
        "supplier_balance_pairs",   # documented theta join
        "region_nation_cross",      # intentional 5x25 cross
        "source_mixing_weights",    # 1-row totals broadcast
        "temperature_mixed_sample", # 1-row totals broadcast
        "boilerplate_ngram_flags",  # 1-row n_docs broadcast
        "contrastive_negatives",    # bounded |Q| broadcast fan-out
        "join_key_skew_profile",    # 1-row totals broadcast
        "dq_price_drift_psi",       # 1-row totals broadcast
        "corpus_prep_pipeline",     # 1-row mixing-totals broadcast
        "unigram_logprob_scores",   # 1-row n_total broadcast
        "bigram_logprob_scores",    # 1-row vocab-size broadcast
        "rolling_weekly_active_users",  # |days|-row calendar broadcast
        "bm25_search",              # 1-row corpus-stats broadcast
        "cooccurrence_pmi",         # 1-row n_docs broadcast
        "embedding_covariance",     # 1-row n broadcast onto 2k moments
        "ann_ivf_exact_rerank",     # 1-row centroid-array + 16-row cents broadcast
        # tiny-title bucket (len < d+1): every such pair is within
        # distance d by construction, so the all-pairs join IS the
        # output — but since round 6 that join runs only while the
        # bucket holds <= _BUCKET_CAP docs (two-path split; larger
        # buckets demote to a lead-window chain), so the planned
        # cross join is count-bounded, not corpus-bounded; the
        # PassJoin path carries all titles of len >= d+1
        "fuzzy_title_pairs",
    }
    offenders = {}
    for name, (_, text) in registry_plans.items():
        if re.search(r"\(\d+\) CartesianProduct", text):
            offenders[name] = "CartesianProduct"
        elif (
            re.search(r"\(\d+\) BroadcastNestedLoopJoin", text)
            and name not in BOUNDED_BNLJ
        ):
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_media_metadata_query_never_reads_payload(spark):
    """The metadata-only media rollup must prune the payload column at
    the scan — at 100 TB of video this is KB of metadata, not the
    corpus. (The synthetic media table derives payload from documents
    .text, so the assert is that `text`/payload bytes stay unread.)"""
    rep = plan_report(REG["media_metadata_stats"].builder(spark, SF_CORRECT))
    assert rep.read_schemas
    assert "text" not in rep.read_schemas[0]
    assert "payload" not in rep.read_schemas[0]


def test_bm25_aggregates_query_hits_not_vocabulary(spark):
    """BM25's scale claim: the shuffled/aggregated stream is
    query-term hits (the isin filter sits directly on the token
    Generate output), df and corpus stats broadcast, and everything
    stays JVM-side."""
    from data_ingestion_tool_spark.plans import formatted_plan

    df = REG["bm25_search"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.map_in_pandas == 0
    assert rep.sort_merge_joins == 0
    assert "term#" in formatted_plan(df) and " IN " in formatted_plan(df)


def test_pmi_is_narrow_presence_plus_tiny_aggs(spark):
    """PMI's presence sets are built narrow-side (array_intersect with
    the broadcast vocab array — no corpus distinct, no doc_id
    shuffle): no sort-merge join anywhere, per-term counts ride
    broadcasts, everything JVM-side."""
    df = REG["cooccurrence_pmi"].builder(spark, SF_CORRECT)
    assert_broadcast_join(df, at_least=2)
    rep = plan_report(df)
    assert rep.map_in_pandas == 0
    assert rep.sort_merge_joins == 0


def test_skyline_is_two_pandas_sweeps_one_exchange(spark):
    """Distributed skyline: exactly two mapInPandas stages (local
    frontier, final frontier) and the single distinct exchange — no
    global sort of the base data, no pairwise join."""
    df = REG["skyline_orders"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.map_in_pandas == 2
    assert rep.exchanges == 1
    assert rep.nested_loop_joins == 0 and rep.sort_merge_joins == 0


def test_tpch_q2_correlated_min_is_window_on_aggregated_stream(spark):
    """Q2's correlated MIN subquery must plan as a window over the
    per-(part,supplier) aggregate — all dims broadcast, no fact
    join-back, two exchanges total (agg + window)."""
    rep = plan_report(REG["tpch_q2_min_cost_supplier"].builder(spark, SF_CORRECT))
    assert rep.broadcast_hash_joins >= 3
    assert rep.sort_merge_joins == 0
    assert rep.nested_loop_joins == 0
    assert rep.exchanges == 2


def test_tpch_q16_exclusion_is_anti_join_not_shuffle(spark):
    """Q16's supplier exclusion must be a broadcast anti join; the
    distinct count dedups partial-first."""
    rep = plan_report(
        REG["tpch_q16_part_supplier_variety"].builder(spark, SF_CORRECT)
    )
    assert rep.sort_merge_joins == 0
    assert rep.nested_loop_joins == 0
    assert rep.exchanges <= 2


def test_tpch_q20_nested_agg_reuses_partition(spark):
    """Q20's per-part totals ride a window over the per-(part,supplier)
    aggregate — never a join-back re-shuffle of fact data."""
    rep = plan_report(
        REG["tpch_q20_dominant_part_suppliers"].builder(spark, SF_CORRECT)
    )
    assert rep.sort_merge_joins == 0
    assert rep.nested_loop_joins == 0
    assert rep.exchanges <= 3


def test_rolling_fingerprints_never_shuffle(spark):
    """The Rabin-Karp fold is a pure per-row projection: zero
    exchanges, zero Python stages."""
    rep = plan_report(REG["doc_rolling_fingerprints"].builder(spark, SF_CORRECT))
    assert rep.exchanges == 0
    assert rep.map_in_pandas == 0


def test_weighted_sample_is_partial_topk_not_global_sort(spark):
    """A-Res sampling must plan as TakeOrderedAndProject (per-partition
    partial top-k), never a full sort of the corpus."""
    from data_ingestion_tool_spark.plans import formatted_plan

    df = REG["weighted_doc_sample"].builder(spark, SF_CORRECT)
    assert "TakeOrderedAndProject" in formatted_plan(df)
    rep = plan_report(df)
    assert rep.exchanges == 0
    assert rep.map_in_pandas == 0


def test_every_grouped_pandas_site_is_bounded():
    """Package-wide memory contract: every ``applyInPandas`` / grouped
    pandas call site must belong to a function on the allowlist below,
    each of which bounds its group size by construction:

    - ``label_top_eigenvalue`` — groups hold ≤ #partitions pre-agg'd
      (d+d²)-double moment rows per label, never raw vectors
    - ``blocked_cosine_pairs`` — one group = two hash blocks; callers
      size n_blocks so two blocks fit an executor
    - ``semdedup`` — per-cluster groups run only under the
      ``cluster_cap`` limit-probe; oversized clusters auto-demote to
      the blocked kernel

    A new ``applyInPandas`` site fails here by default until its
    author documents why the group is bounded and adds it; a deleted
    site fails here until its stale entry is dropped.
    """
    import ast
    import os

    import data_ingestion_tool_spark as pkg

    BOUNDED = {
        ("operators/similarity.py", "label_top_eigenvalue"),
        ("operators/similarity.py", "blocked_cosine_pairs"),
        ("operators/similarity.py", "semdedup"),
    }
    root = os.path.dirname(pkg.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            tree = ast.parse(open(path).read())

            def walk(node, fname):
                for child in ast.iter_child_nodes(node):
                    nf = fname
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        nf = child.name
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr
                        in ("applyInPandas", "applyInPandasWithState")
                    ):
                        found.add((rel, fname))
                    walk(child, nf)

            walk(tree, "<module>")
    assert found == BOUNDED, (
        f"unreviewed grouped-pandas sites: {found - BOUNDED}; "
        f"stale allowlist entries: {BOUNDED - found}"
    )


def test_pagerank_iteration_is_bounded_shuffle_jvm_only(spark):
    """One PageRank step (the unit the 5-iteration loop repeats,
    pre-checkpoint) must be pure JVM (no Python stages), never
    enumerate pairs, and shuffle only on the join/agg keys — the
    per-iteration cost that holds at 100 TB."""
    from pyspark.sql import functions as F

    from data_ingestion_tool_spark.operators.graph import (
        _pr_iteration,
        _supply_graph,
    )

    edges, deg, _pairs = _supply_graph(spark, SF_CORRECT)
    # model the operator's cached inputs (both are persisted there):
    # checkpointing makes the iteration's OWN work visible instead of
    # the graph-construction subtrees
    deg = deg.localCheckpoint(eager=True)
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=True)
    ranks = deg.select(F.col("src").alias("node"), F.lit(1_000_000).alias("r"))
    step = _pr_iteration(edges_deg, ranks, 42)
    rep = plan_report(step)
    assert rep.map_in_pandas == 0 and rep.grouped_pandas == 0
    assert rep.nested_loop_joins == 0
    # src-join (both sides keyed) + dst hash-agg — at most three
    # key-partitioned shuffles of rank/degree-sized rows, never a
    # pair enumeration, a Python stage, or (since the round-12
    # symmetric-graph fix) a per-iteration node-set join back
    assert rep.exchanges <= 3, rep


def test_bigram_lm_scores_via_broadcast_model_no_fact_smj(spark):
    """The bigram-LM scorer joins the (bounded, realized-counts-only)
    model tables back onto the corpus bigram stream as BROADCASTS —
    the corpus side must never sort-merge-shuffle on a model key."""
    df = REG["bigram_logprob_scores"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.sort_merge_joins == 0, rep
    assert rep.broadcast_hash_joins + rep.nested_loop_joins >= 2, rep
    assert rep.grouped_pandas == 0 and rep.map_in_pandas == 0


def test_stratified_sample_plans_partial_topk_per_source(spark):
    """The per-source A-Res sample must rank-prune BEFORE the source
    exchange (WindowGroupLimit), never globally sort the corpus."""
    df = REG["stratified_weighted_sample"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.window_group_limits >= 1, rep
    assert rep.exchanges <= 1, rep
    assert rep.map_in_pandas == 0


def test_attribution_pushes_type_filter_and_single_window_shuffle(spark):
    """Last-touch attribution: the two-type filter reaches the scan;
    one user_id exchange feeds the running window; no pair join."""
    df = REG["event_attribution_last_touch"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert any("event_type" in pf for pf in rep.pushed_filters), rep
    assert rep.exchanges <= 1, rep
    assert rep.sort_merge_joins == 0 and rep.nested_loop_joins == 0


def test_quality_ensemble_reuses_one_source_exchange(spark):
    """Three percent_rank windows share one source-hash partition:
    one exchange, three sorts, zero joins, zero Python stages."""
    df = REG["doc_quality_ensemble"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.exchanges <= 1, rep
    assert rep.sort_merge_joins == 0 and rep.broadcast_hash_joins == 0
    assert rep.map_in_pandas == 0 and rep.grouped_pandas == 0


def test_covariance_assembles_from_broadcast_moments(spark):
    """The covariance result plan reads the (≤2145-row) checkpointed
    moment table and assembles with broadcast joins only — the corpus
    never appears in the assembly plan."""
    df = REG["embedding_covariance"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.sort_merge_joins == 0, rep
    assert rep.broadcast_hash_joins >= 2, rep
    assert rep.map_in_pandas == 0  # the Arrow stage ran pre-checkpoint


def test_novelty_is_two_key_shuffles_no_pairs(spark):
    """n-gram novelty: gram-keyed first-occurrence agg + join-back +
    doc agg — bounded exchanges, no pair enumeration."""
    df = REG["token_ngram_novelty"].builder(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.nested_loop_joins == 0
    assert rep.exchanges <= 5, rep
    assert rep.map_in_pandas == 0 and rep.grouped_pandas == 0


def test_concurrent_sessions_sweep_plan_has_no_pair_join(spark):
    """The round-7 sweep-line plan: rank terms are bucket-partitioned
    window sums (equi exchanges), the only explode is the G-join's
    long-session replication, and nothing plans as a cartesian /
    nested-loop over sessions — all JVM. Inspected pre-checkpoint so
    the full lineage (sessionize → union sweep → prefix → joins) is
    what's asserted."""
    from data_ingestion_tool_spark.operators.rangejoin import (
        concurrent_sessions,
    )

    from data_ingestion_tool_spark.plans import formatted_plan

    with plan_only():
        df = concurrent_sessions(spark, SF_CORRECT)
    rep = plan_report(df)
    assert rep.nested_loop_joins == 0, rep
    assert rep.map_in_pandas == 0 and rep.grouped_pandas == 0
    assert rep.generates >= 1  # the G-join bucket explode
    text = formatted_plan(df)
    assert "CartesianProduct" not in text


def test_every_driver_materialization_site_is_bounded():
    """Package-wide driver-memory contract, the collect/toPandas twin
    of the grouped-pandas test: every site that pulls rows to the
    driver must belong to a reviewed function whose materialization
    is BOUNDED by construction —

    - similarity: N_QUERIES query sets, k centroids, limit-probed
      broadcast side (auto-demotes past the guard), ≤k cluster sizes,
      ≤d² covariance rows, bounded IVF train sample
    - text (BPE apply): merge-table collect bounded by the merge count
    - excel export: limit-capped collect (the reference's unbounded
      toPandas at box_export.py:37 is the anti-pattern this replaces)
    - excel source: limit(1) schema probe

    A new collect()/toPandas() site fails here until its author
    documents the bound and adds it; a deleted site fails here until
    its stale entry is dropped.
    """
    import ast
    import os

    import data_ingestion_tool_spark as pkg

    BOUNDED = {
        # the top-k operators' and the IVF probe map's query collect:
        # ≤ N_QUERIES rows (the probe map is driver-computed before the
        # distributed pass)
        ("operators/similarity.py", "_collect_queries"),
        ("operators/similarity.py", "_ivf_train"),
        # auto-nlist branch: ≤ nlist-row pinned-range centroid collect
        # (nlist ≤ _IVF_NLIST_MAX by construction)
        ("operators/similarity.py", "ann_ivf_exact_rerank"),
        ("operators/similarity.py", "embedding_near_dup"),
        ("operators/similarity.py", "embedding_pca_scores"),
        ("operators/similarity.py", "kmeans_labels"),
        ("operators/similarity.py", "semdedup"),
        ("operators/text.py", "bpe_token_counts"),
        ("sinks/excel.py", "export_to_excel"),
        ("sources/excel.py", "read_excel"),
    }
    root = os.path.dirname(pkg.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            tree = ast.parse(open(path).read())

            def walk(node, fname):
                for child in ast.iter_child_nodes(node):
                    nf = fname
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        nf = child.name
                    if (
                        isinstance(child, ast.Call)
                        and isinstance(child.func, ast.Attribute)
                        and child.func.attr in ("toPandas", "collect")
                    ):
                        found.add((rel, fname))
                    walk(child, nf)

            walk(tree, "<module>")
    assert found == BOUNDED, (
        f"unreviewed driver-side sites: {found - BOUNDED}; "
        f"stale allowlist entries: {BOUNDED - found}"
    )


def test_registry_outputs_are_driver_hashable_scalars(registry_plans):
    """Output-boundary contract (round-4 verdict): no registry builder
    may emit DECIMAL or ARRAY/MAP/STRUCT top-level columns. The driver
    canonicalizer pandas-sorts cells (lists are unhashable → crash) and
    renders decimals with trailing-zero formatting that hash-mismatches
    the oracle bridge's floats even when values are identical
    (event_attribution_last_touch, r04). Decimal stays internal;
    ``cast("double")`` at the boundary (functions/__init__ convention);
    vectors serialize via ``to_json``."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    offenders = {}
    for name, (schema, _) in registry_plans.items():
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, DecimalType, MapType, StructType)):
                offenders.setdefault(name, []).append(
                    f"{field.name}:{field.dataType.simpleString()}"
                )
    assert not offenders, f"non-scalar/decimal registry outputs: {offenders}"


def test_ivf_exact_rerank_is_jvm_only_bounded_broadcasts(spark):
    """The oracle-paired IVF anchor: centroid scans are pushed-filter
    pruned (vec_id range reaches the parquet scan), both nested-loop
    joins are the bounded 1-row/16-row centroid broadcasts, candidates
    ride one BroadcastHashJoin on list_id, and nothing is Python or
    sort-merge."""
    df = REG["ann_ivf_exact_rerank"].builder(spark, SF_CORRECT)
    assert_pushed_filter(df, "vec_id")
    rep = plan_report(df)
    assert rep.map_in_pandas == 0 and rep.grouped_pandas == 0
    assert rep.sort_merge_joins == 0
    assert rep.nested_loop_joins <= 2  # the two bounded centroid crossJoins
    assert rep.broadcast_hash_joins >= 1  # candidates x probes on list_id
    assert rep.exchanges <= 3  # cent-array agg + probe window + rank window


def test_bpe_fit_job_count_is_flat_in_merge_count(spark, monkeypatch):
    """BPE training is one lazy plan: the vocab aggregate feeds ONE
    single-partition ``mapInPandas`` that runs the whole merge loop, so
    the builder plus one action start a fixed handful of jobs whatever
    the merge count, and the plan is real lineage, not a checkpointed
    ``Scan ExistingRDD`` stub."""
    from data_ingestion_tool_spark.operators import text
    from data_ingestion_tool_spark.plans import formatted_plan
    from data_ingestion_tool_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE, jobs_started

    # Infer the documents schema first, so that neither count below
    # includes the session's one schema-inference job for that table.
    load_table(spark, SF_SMOKE, "documents")
    jobs = {}
    for n in (3, 12):
        monkeypatch.setattr(text, "_BPE_MERGES", n)
        rows, jobs[n] = jobs_started(
            spark, lambda: text.bpe_fit_merges(spark, SF_SMOKE).collect()
        )
        assert 0 < len(rows) <= n
    assert jobs[3] == jobs[12] <= 5, jobs

    df = text.bpe_fit_merges(spark, SF_SMOKE)
    assert plan_report(df).map_in_pandas == 1
    assert "ExistingRDD" not in formatted_plan(df)
