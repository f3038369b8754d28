"""Materialization contract: every builder persists and checkpoints
through ``operators/base.py`` (``materialize``, ``cached``,
``plan_only``), releases every cache it takes on every exit path, and
``plan_only()`` ends with its ``with`` block."""

from __future__ import annotations

from contextlib import nullcontext

import pytest

from data_ingestion_tool_spark.operators.base import cached, plan_only
from data_ingestion_tool_spark.plans import formatted_plan
from tests.conftest import SF_SMOKE


def _cache_is_empty(spark) -> bool:
    # CacheManager, not getPersistentRDDs: a persist whose plan never
    # ran has no RDD yet but still pins a cache entry
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _minhash_candidates(spark, sf_dir):
    from data_ingestion_tool_spark.operators.dedup import (
        _docs,
        minhash_lsh_candidates,
    )

    return minhash_lsh_candidates(_docs(spark, sf_dir))


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "tfidf_top_terms"])
def test_builder_leaves_no_cache_behind(spark, name):
    from data_ingestion_tool_spark.operators import registry

    spark.catalog.clearCache()
    rows = registry()[name].builder(spark, SF_SMOKE).collect()
    assert rows
    assert _cache_is_empty(spark)


@pytest.mark.parametrize(
    "build",
    ["minhash_lsh_candidates", "dedup_simhash", "pagerank_supply_graph"],
)
def test_cache_released_when_checkpoint_raises(spark, monkeypatch, build):
    """A failing checkpoint must not strand the tables the builder
    cached on the way."""
    from data_ingestion_tool_spark.operators.dedup import dedup_simhash
    from data_ingestion_tool_spark.operators.graph import pagerank_supply_graph

    builder = {
        "minhash_lsh_candidates": _minhash_candidates,
        "dedup_simhash": dedup_simhash,
        "pagerank_supply_graph": pagerank_supply_graph,
    }[build]

    def boom(self, *args, **kwargs):
        raise RuntimeError("checkpoint failed")

    spark.catalog.clearCache()
    # the session's concrete DataFrame class overrides the base one
    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        builder(spark, SF_SMOKE)
    assert _cache_is_empty(spark)


@pytest.mark.parametrize("exit_by_raise", [False, True])
def test_plan_only_scope_ends_with_its_block(spark, exit_by_raise):
    from data_ingestion_tool_spark.operators.dedup import fuzzy_title_pairs

    with pytest.raises(RuntimeError) if exit_by_raise else nullcontext():
        with plan_only():
            lazy = formatted_plan(fuzzy_title_pairs(spark, SF_SMOKE))
            if exit_by_raise:
                raise RuntimeError("leave the scope by raising")
    assert "Scan parquet" in lazy and "ExistingRDD" not in lazy
    text = formatted_plan(fuzzy_title_pairs(spark, SF_SMOKE))
    assert "ExistingRDD" in text
    assert "Scan parquet" not in text


def test_cached_persists_inside_plan_only(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    spark.catalog.clearCache()
    with plan_only(), cached(df) as held:
        assert held is df
        assert not _cache_is_empty(spark)
    assert _cache_is_empty(spark)


def test_operators_materialize_only_through_base():
    """One mechanism per concern: outside ``operators/base.py`` no
    operator calls ``persist`` / ``cache`` / ``localCheckpoint``
    directly. The allowlisted functions cut lineage inside a loop,
    where skipping the cut would change what runs:

    - ``connected_components`` — each propagation round's labels feed
      the next round and its convergence count
    - ``pagerank_supply_graph`` — each iteration's ranks are
      checkpointed so the 5-step plan never regrows
    """
    import ast
    import os

    import data_ingestion_tool_spark.operators as ops

    ALLOWED = {
        ("dedup.py", "connected_components"),
        ("graph.py", "pagerank_supply_graph"),
    }
    root = os.path.dirname(ops.__file__)
    found = set()
    for fn in sorted(os.listdir(root)):
        if not fn.endswith(".py") or fn == "base.py":
            continue
        tree = ast.parse(open(os.path.join(root, fn)).read())

        def walk(node, fname):
            for child in ast.iter_child_nodes(node):
                nf = fname
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    nf = child.name
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("persist", "cache", "localCheckpoint")
                ):
                    found.add((fn, fname))
                walk(child, nf)

        walk(tree, "<module>")
    assert found <= ALLOWED, f"direct materialization sites: {found - ALLOWED}"
