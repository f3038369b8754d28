"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with a cheap terminal action
(count via noop-write semantics) so executor work — scan, shuffle,
agg — is fully measured while driver-side collection stays bounded.
Every run times two full sweeps of the headline set and reports the
one with the lower total.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from data_ingestion_tool_spark import get_spark
from data_ingestion_tool_spark.operators import registry

#: Headline set: one per operator family, weighted toward the
#: shuffle-heavy shapes that dominate at scale.
HEADLINE = [
    "validate_lineitem",
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_nation",
    "customer_order_stats",
    "agg_distinct",
    "agg_rollup",
    "window_rank_orders",
    "topk_orders_per_customer",
    "set_intersect_customers",
    "scalar_json_events",
    "tumbling_hourly",
    "session_windows",
    "multires_rollup",
    "asof_last_event",
    "text_quality",
    "token_counts",
    "decontaminate_ngram_overlap",
    "repetition_score",
    "training_data_pipeline",
    "dedup_exact_docs",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "embedding_near_dup",
    "events_gap_fill",
    "pack_token_budget",
    "quality_score_linear",
    "heavy_hitter_terms",
    "boilerplate_ngram_flags",
    "winsorized_prices",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q21_last_shipper",
    "semantic_dedup",
    "embed_documents",
    "media_dedup_exact",
    "temperature_mixed_sample",
    "corpus_prep_pipeline",
    "shared_span_pairs",
    "rolling_weekly_active_users",
    "bm25_search",
    "cooccurrence_pmi",
    "skyline_orders",
    "bpe_fit_merges",
    "tpch_q2_min_cost_supplier",
    "user_activity_similarity",
    "source_vocab_overlap",
    "frequent_event_sequences",
    "time_weighted_avg_value",
    "doc_rolling_fingerprints",
    "weighted_doc_sample",
    "self_join_blowup_estimate",
    "embedding_dimension_stats",
    # round-4 additions
    "stratified_weighted_sample",
    "token_ngram_novelty",
    "doc_quality_ensemble",
    "event_attribution_last_touch",
    "embedding_covariance",
    "near_dup_graph_degree",
    "pagerank_supply_graph",
    "grouped_price_elasticity",
    "market_basket_brand_pairs",
    "embedding_pca_scores",
    "concurrent_sessions",
    "seasonal_value_anomalies",
    # round-5 additions
    "ann_ivf_exact_rerank",
    "dedup_simhash",
    # round-6 addition: the repo's slowest operator belongs in the
    # official record (r05 verdict item 2) — PassJoin edit-distance
    # join, rewritten this round with hashed keys + inline verify
    "fuzzy_title_pairs",
]


#: Files the bench itself rewrites each run: dirty ONLY in these is
#: measurement-clean (the measured code is exactly HEAD), so they
#: never count toward ``dirty`` — r11's official record read dirty
#: purely from its own appends (r11 verdict item 5).
_BENCH_ARTIFACTS = {"BENCH_LOCAL.json", "BENCH_LOCAL_HISTORY.jsonl"}


def _git_tree(repo_dir: str) -> dict:
    """Stamp the measured tree into the record (r10 verdict item 3):
    same-code/cross-code bench comparisons — like r10's decisive
    r08-tree A/B — must be machine-checkable from the history alone,
    not prose. ``tree`` = HEAD sha, ``dirty`` = uncommitted changes
    present EXCLUDING the bench's own artifact files; when dirty, the
    offending paths are listed (bounded) in ``dirty_files`` so the
    record names what code differs from HEAD instead of a bare flag
    (r11 verdict item 5). Null on any git failure (bench must never
    die on this)."""
    try:
        head = subprocess.run(
            ["git", "-C", repo_dir, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if head.returncode != 0:
            return {"tree": None, "dirty": None}
        status = subprocess.run(
            ["git", "-C", repo_dir, "status", "--porcelain"],
            capture_output=True, text=True, timeout=10,
        )
        if status.returncode != 0:
            return {"tree": head.stdout.strip(), "dirty": None}
        paths = []
        for line in status.stdout.splitlines():
            if not line.strip():
                continue
            p = line[3:].strip()
            # porcelain renames read "R  old -> new": the NEW path is
            # what differs from HEAD
            if " -> " in p:
                p = p.split(" -> ", 1)[1]
            paths.append(p)
        # exact repo-root paths only: a subdirectory file that merely
        # shares an artifact's basename is real drift
        real = [p for p in paths if p not in _BENCH_ARTIFACTS]
        out = {"tree": head.stdout.strip(), "dirty": bool(real)}
        if real:
            out["dirty_files"] = real[:10]
        return out
    except Exception:
        return {"tree": None, "dirty": None}


#: Byte budget for the ONE stdout JSON line. The round driver keeps
#: only the LAST 2000 output chars and parses the final JSON line, so
#: the line plus its newline must stay under ~1998 bytes (the r04
#: record was lost to a 2.3 KB line).
STDOUT_BUDGET = 1970


def _best_sweep(sweep_fn) -> tuple[dict[str, float], float, list[float]]:
    """Run the timed sweep twice and keep the one with the lower total.

    Contention only ever slows a sweep, so the lower total is the
    run's best reading. The first sweep of a run usually reads slower
    than the second, so both totals are returned for the full record."""
    sweeps = [sweep_fn() for _ in range(2)]
    timings, total = min(sweeps, key=lambda s: s[1])
    return timings, total, [round(t, 4) for _, t in sweeps]


def _stdout_line(out: dict, timings: dict[str, float]) -> str:
    """Render the compact stdout record, guaranteed under the tail
    budget WITHOUT dropping queries. r12 lesson (verdict item 2): the
    old fit-by-dropping-the-fastest-queries path silently truncated
    22/69 timings, which manufactured 6 phantom "dropped_from_bench"
    rows and 46 phantom "queries_dropped" in the driver's
    round-over-round diff. Every query must print. The first tier
    carries the contract keys plus ``tree``/``dirty`` with queries of
    1 s or more at 2 decimals (the rest at 1); over budget, timing
    precision drops to 1 decimal, then ``tree``/``dirty`` go (the full
    record keeps everything in BENCH_LOCAL.json / the history / stderr),
    and only then — as a never-expected last resort — entries drop
    (counted in ``queries_omitted``). If the line still overflows with
    no queries left, only metric/value/unit/sf/queries_omitted print,
    with string fields clipped: the budget is a hard cap."""

    def _round_t(t: float, dec: int) -> float | int:
        # dec=2 keeps 2 decimals only from 1 s up: sub-second entries
        # at 2 decimals would cost a byte each for no status change
        if dec == 2:
            return round(t, 2 if t >= 1 else 1)
        # the 1-decimal tier drops the decimal entirely at >= 10 s: in
        # a throttled window every entry needing "12.3" instead of
        # "1.2" would overflow the budget, and integer-second precision
        # on a >= 10 s timing is a < 5% quantization — smaller than the
        # window noise that produced it
        if t >= 10:
            return int(round(t))
        return round(t, 1)

    def _line(meta: dict, dec: int) -> str:
        c = dict(meta,
                 queries={n: _round_t(t, dec) for n, t in timings.items()})
        return json.dumps(c, separators=(",", ":"))

    tree = out.get("tree") or ""
    slim = {
        "metric": out["metric"], "value": round(out["value"], 2),
        "unit": "sec", "queries": {}, "sf": out["sf"],
        "tree": tree[:12], "dirty": out["dirty"],
    }
    bare = {
        "metric": out["metric"], "value": round(out["value"], 1),
        "unit": "sec", "queries": {}, "sf": out["sf"],
    }
    line = _line(slim, 2)
    for meta in (slim, bare):
        if len(line) <= STDOUT_BUDGET:
            return line
        line = _line(meta, 1)
    if len(line) > STDOUT_BUDGET:
        compact = dict(bare)
        by_cost = sorted(timings, key=timings.get, reverse=True)
        while len(line) > STDOUT_BUDGET and by_cost:
            by_cost.pop()
            compact["queries"] = {n: _round_t(timings[n], 1)
                                  for n in by_cost}
            compact["queries_omitted"] = len(timings) - len(by_cost)
            line = json.dumps(compact, separators=(",", ":"))
    if len(line) > STDOUT_BUDGET:
        # hard cap: even the query-less skeleton overflows (pathological
        # metric/sf values) — print only the contract scalars, clipping
        # string fields until the line fits
        minimal = {
            "metric": out["metric"], "value": round(out["value"], 1),
            "unit": "sec", "sf": out["sf"], "queries_omitted": len(timings),
        }
        clip = STDOUT_BUDGET
        while len(line) > STDOUT_BUDGET:
            for k in ("metric", "sf"):
                if not isinstance(minimal[k], (int, float, type(None))):
                    minimal[k] = str(minimal[k])[:clip]
            clip //= 2
            line = json.dumps(minimal, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    # Dirty-tree gate (r11 verdict item 5): an official record on a
    # tree that differs from HEAD can't be A/B'd against the stamped
    # history. The record always carries dirty/dirty_files (stamped at
    # the end, same call); with SPARK_GRAFT_REQUIRE_CLEAN set the run
    # refuses up front instead — the local pre-official discipline.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    tree_stamp = _git_tree(repo_dir)
    # refuse unless VERIFIABLY clean: dirty None (git failed) must
    # not slip through a gate whose purpose is A/B-able records
    if (
        os.environ.get("SPARK_GRAFT_REQUIRE_CLEAN")
        and tree_stamp.get("dirty") is not False
    ):
        reason = (
            tree_stamp.get("dirty_files")
            if tree_stamp.get("dirty")
            else "tree state unverifiable (git failed)"
        )
        print(
            "bench: refusing to record on a non-verified-clean tree "
            f"(SPARK_GRAFT_REQUIRE_CLEAN set): {reason}",
            file=sys.stderr,
        )
        raise SystemExit(2)

    # Size file-split granularity to the benchmark input so scans use
    # the whole executor pool: the engine default (128 MB, right for a
    # cluster reading TB-scale tables) leaves a small-SF parquet as a
    # single partition and the first stage single-threaded. Clamp to
    # [1 MB, 128 MB]; at real scale the clamp returns the default.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Local-mode heap sized to the task-thread count (r12): local[N]
    # runs all N task threads in ONE JVM, and Spark's 1 GB default
    # heap serves that pool at a measured 16% of executor time in GC
    # (UI stage metrics, 8-query sweep); ~256 MB per task thread —
    # the per-core execution memory a cluster executor would get —
    # drops it to 3%. Parameterised: env wins, the default scales
    # with $SPARK_GRAFT_CPUS (the driver's lower-core runs get
    # proportionally less), and cluster deployments size executors
    # via spark-submit, never through this knob.
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEMORY", f"{min(8, max(2, cpus // 4))}g"
    )
    total_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    split = min(max(total_bytes // (cpus * 2), 1 << 20), 128 << 20)
    spark = get_spark(
        "data_ingestion_tool_spark-bench",
        extra_conf={"spark.sql.files.maxPartitionBytes": str(split)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    names = [n for n in HEADLINE if n in reg]

    # warmup: JVM + parquet footer caches on a trivial action
    reg[names[0]].builder(spark, sf_dir).limit(1).collect()
    # warmup: fork the Python-worker pool + Arrow serde once, so the
    # first pandas-backed query measures steady-state throughput, not
    # one-time process spin-up (spark.python.worker.reuse keeps the
    # pool alive). On a long-lived cluster the pool is always warm.
    def _ident(it):
        yield from it

    (
        spark.range(cpus)
        .repartition(cpus)
        .mapInPandas(_ident, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # Two timed runs per query, min reported: single-run local[32]
    # numbers swing 2× with scheduler/CPU-frequency noise at small SF;
    # the min is the reproducible steady-state cost of the plan.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    def _sweep() -> tuple[dict[str, float], float]:
        sweep_timings: dict[str, float] = {}
        sweep_total = 0.0
        for name in names:
            best = float("inf")
            for _ in range(runs):
                start = time.perf_counter()
                df = reg[name].builder(spark, sf_dir)
                # Force full execution of the plan without collecting
                # wide results to the driver.
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - start)
            sweep_timings[name] = round(best, 4)
            sweep_total += best
        return sweep_timings, sweep_total

    timings, total, sweep_totals = _best_sweep(_sweep)

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "runs": runs,
        "n_queries": len(names),
        "sweep_totals": sweep_totals,
        **_git_tree(repo_dir),
    }
    # Full-precision record → stderr + a repo file: the driver's tail
    # capture keeps only the LAST 2000 stdout chars, and the round-4
    # record was lost to a 2.3 KB line (BENCH_r04 "parsed": null).
    full_line = json.dumps(out)
    print(full_line, file=sys.stderr)
    try:
        with open(os.path.join(repo_dir, "BENCH_LOCAL.json"), "w") as fh:
            fh.write(full_line + "\n")
    except OSError:
        pass
    # Append-only history (r08 verdict item 3): BENCH_LOCAL.json is
    # overwritten by EVERY bench run — including the driver's official
    # one — so the r08 end-of-round local record (the 0.99x-normalized
    # claim) was unreproducible from disk. Every run now also appends
    # one timestamped line here; round-stamped BENCH_LOCAL_r{N}.json
    # files are copied from this at round close.
    try:
        hist = {"ts": round(time.time(), 1), "record": out}
        with open(os.path.join(repo_dir, "BENCH_LOCAL_HISTORY.jsonl"),
                  "a") as fh:
            fh.write(json.dumps(hist) + "\n")
    except OSError:
        pass
    print(_stdout_line(out, timings))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
