"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion with a cheap terminal action
(count via noop-write semantics) so executor work — scan, shuffle,
agg — is fully measured while driver-side collection stays bounded.
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


def _calibration_probe(spark) -> dict[str, float]:
    """Fixed-work host-state reference (see call site): returns
    seconds for a pinned numpy GEMM, a pinned numpy sort, a trivial
    Spark job, and a pinned-size disk write+read round-trip. Min of 3
    runs each — the probe wants the machine's current BEST, which is
    what query timings also get via min-of-runs."""
    import shutil
    import tempfile

    import numpy as np

    rng = np.random.default_rng(42)
    # keep the rng draw sequence byte-identical to pre-r10 records
    # (the sort/disk inputs below depend on it), but time the GEMM via
    # the ONE shared helper the idle gate also uses — the 0.12 s gate
    # threshold is calibrated against this axis's history, so the two
    # must measure the same pinned work forever
    rng.standard_normal((768, 768))
    rng.standard_normal((768, 768))
    gemm = min(_gate_gemm_sec() for _ in range(3))
    base = rng.standard_normal(1 << 22)
    sort = min(
        _timed(lambda: np.sort(base, kind="stable")) for _ in range(3)
    )
    # same pinned trivial job the in-sweep scheduler gate probes — the
    # healthy band is calibrated against this axis's history, so the
    # two must measure the same work forever
    spark_job = min(_sched_probe_sec(spark) for _ in range(3))
    # Disk/IO axis (r08 verdict item 2): the checkpoint-writing query
    # class (dedup_simhash, dedup_minhash_lsh, concurrent_sessions,
    # pagerank_supply_graph) is sensitive to disk-window state the
    # CPU/memory/scheduler axes cannot see — r08's official record
    # drifted 1.07x on a "healthy" 3-axis probe. Fixed work: fsync a
    # pinned 64 MB incompressible buffer, read it back, min of 3.
    # os-level, not parquet, so the axis measures the DISK, not codec
    # CPU. The probe writes under Spark's OWN spill root
    # (spark.local.dir — r09 ADVICE: a TMPDIR-derived tempdir can be
    # tmpfs on some hosts, measuring memcpy instead of the
    # checkpoint/spill window). The read-back is page-cached, so the
    # axis is FSYNC-WRITE-DOMINATED by design: exactly the syscall
    # path checkpoint/shuffle-spill writes take.
    buf = rng.integers(0, 256, size=64 << 20, dtype=np.uint8).tobytes()
    # Resolve the spill root with Spark's OWN resolution (Utils
    # .getLocalDir: SPARK_LOCAL_DIRS env > spark.local.dir > JVM
    # java.io.tmpdir) — a Python-side conf read with a gettempdir()
    # fallback diverges from where the JVM actually spills whenever
    # TMPDIR is set (Java ignores TMPDIR) or SPARK_LOCAL_DIRS is used.
    sc = spark.sparkContext
    try:
        spill_root = sc._jvm.org.apache.spark.util.Utils.getLocalDir(
            sc._jsc.sc().conf()
        )
    except Exception:
        spill_root = sc.getConf().get(
            "spark.local.dir", tempfile.gettempdir()
        ).split(",")[0]
    tmpdir = tempfile.mkdtemp(prefix="bench_disk_probe_", dir=spill_root)
    path = os.path.join(tmpdir, "probe.bin")

    def _disk_roundtrip():
        with open(path, "wb") as fh:
            fh.write(buf)
            fh.flush()
            os.fsync(fh.fileno())
        with open(path, "rb") as fh:
            while fh.read(8 << 20):
                pass

    try:
        disk = min(_timed(_disk_roundtrip) for _ in range(3))
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return {
        "gemm_sec": round(gemm, 5),
        "sort_sec": round(sort, 5),
        "spark_job_sec": round(spark_job, 5),
        "disk_sec": round(disk, 5),
    }


def _timed(fn) -> float:
    start = time.perf_counter()
    fn()
    return time.perf_counter() - start


def _read_load1() -> float | None:
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return None


def _gate_gemm_sec() -> float:
    """One shot of the calibration GEMM (same pinned 768² ×10 work as
    the probe), used as the gate's burst-compute axis."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.standard_normal((768, 768))
    b = rng.standard_normal((768, 768))
    t0 = time.perf_counter()
    for _ in range(10):
        np.dot(a, b)
    return time.perf_counter() - t0


def _sched_probe_sec(spark) -> float:
    """One shot of the pinned trivial Spark job (1M-row JVM-side sum):
    the scheduler/codegen axis. Identical work to the calibration
    probe's ``spark_job_sec`` — the in-sweep health band is pinned
    against that axis's committed history."""
    return _timed(
        lambda: spark.range(1_000_000)
        .selectExpr("sum(id * 2 + 1)")
        .collect()
    )


def _sweep_probe(spark) -> dict[str, float]:
    """In-sweep host-health reading: the scheduler axis (min-of-3
    trivial Spark job, same statistic as the calibration probe) plus a
    one-shot pinned GEMM (the burst-compute axis the r10 close-out
    caught degrading while the scheduler read healthy)."""
    sched = min(_sched_probe_sec(spark) for _ in range(3))
    return {
        "sched_sec": round(sched, 5),
        "gemm_sec": round(_gate_gemm_sec(), 5),
    }


def _sustained_probe_sec(spark) -> float:
    """Sustained full-width axis (r11 verdict item 2): the r11 record
    read every short probe in-band while the 32-thread sweep ran
    ~1.5× slow — the throttle class only engages under sustained
    full-width load, which no short probe applies. This IS a
    miniature sweep: a pinned ~2 s codegen fold across the full
    local[N] pool, ONE shot (a min-of-k would keep the best instant
    and hide exactly the degradation the axis exists to expose)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rows = int(os.environ.get("SPARK_GRAFT_SUSTAINED_ROWS", "12000000000"))
    # bit_xor, not sum: ANSI mode overflows a long SUM of full-range
    # hashes; the xor fold is overflow-free, same CPU profile
    return _timed(
        lambda: spark.range(0, rows, 1, cpus)
        .selectExpr("bit_xor(xxhash64(id)) AS h")
        .collect()
    )


def _sustained_band_sec() -> float:
    """Healthy band for the sustained axis: r12 calibration reads a
    steady 2.03-2.05 s (GEMM-verified window), 2.29 s mildly
    degraded; 2.6 = 1.3x the floor (the sched band's margin logic),
    env-overridable as the host drifts."""
    return float(os.environ.get("SPARK_GRAFT_SUSTAINED_BAND_SEC", "2.6"))


def _probe_healthy(probe: dict[str, float]) -> bool:
    """Healthy-band check for a :func:`_sweep_probe` reading.

    Scheduler band: every healthy window in the committed
    BENCH_LOCAL_HISTORY reads the min-of-3 trivial job 0.136-0.245 s;
    the catastrophic windows read 0.32-0.77 s — 0.30 separates the
    classes with margin. GEMM threshold: shared with the pre-session
    idle gate (0.12 s; healthy 0.015-0.056, throttled >= 0.17)."""
    band = float(os.environ.get("SPARK_GRAFT_SCHED_BAND_SEC", "0.30"))
    gemm_max = float(os.environ.get("SPARK_GRAFT_IDLE_GEMM_SEC", "0.12"))
    return probe["sched_sec"] <= band and probe["gemm_sec"] <= gemm_max


def _await_sched_band(spark) -> tuple[dict[str, float], float]:
    """Post-warmup in-sweep gate (r10 verdict item 1): the pre-session
    idle gate demonstrably cannot prevent contended records — all 9
    window-hunt runs passed it (load1 0.04-0.95 at gate) yet same-code
    sweeps spread 64-105 s, and r10's official record degraded DURING
    the sweep (GEMM 0.636 s at calibration, 0.0497 at gate). Probe the
    scheduler+GEMM axes with the Spark session LIVE and wait — bounded
    — until both read inside their pinned healthy bands before
    starting (or retrying) the timed sweep. Returns the last probe
    reading and the seconds waited; the caller stamps both so an
    off-band start self-describes."""
    max_wait = float(os.environ.get("SPARK_GRAFT_SCHED_MAX_WAIT_SEC", "180"))
    poll = 15.0
    waited = 0.0
    probe = _sweep_probe(spark)
    while not _probe_healthy(probe) and waited < max_wait:
        step = min(poll, max_wait - waited)
        time.sleep(step)
        waited += step
        probe = _sweep_probe(spark)
    return probe, waited


def _sweep_with_retry(spark, sweep_fn) -> dict:
    """Run the timed sweep min-over-k with bounded contention retry
    (r10 verdict item 1c): gate each attempt's START on
    :func:`_await_sched_band`, re-probe at sweep END, run at least
    ``SPARK_GRAFT_SWEEP_MIN_OF`` (default 2) full sweeps, and — when
    an attempt's start or end reading is off-band — keep sweeping up
    to ``SPARK_GRAFT_SWEEP_RETRIES`` (default 1) extra attempts. The
    attempt with the MIN total is kept. The record carries
    ``sweep_healthy`` — true when ANY attempt's start AND end probes
    both read in-band: the kept total is the min over attempts, and
    contention only ever slows a sweep, so min ≤ a verified-healthy
    reading means the kept number is at-or-better than a healthy
    window's — plus the per-attempt log, so a contended record is
    machine-readable instead of needing adjudication prose.

    Min-of-2 is the default because the probes are necessary but not
    sufficient: the committed history's own specimen class — this
    round included — reads every axis healthy (sched 0.14/0.10, GEMM
    0.019/0.029) while a sustained 32-thread sweep runs 1.1-1.4×
    slower in some hypervisor windows. Two independently-gated sweeps
    square the odds of landing only bad windows; contention only ever
    SLOWS a sweep, so the min is safe to keep even off a flagged
    attempt."""
    min_of = max(1, int(os.environ.get("SPARK_GRAFT_SWEEP_MIN_OF", "2")))
    retries = int(os.environ.get("SPARK_GRAFT_SWEEP_RETRIES", "1"))
    # wall budget across ALL attempts (gate waits + sweeps): the
    # official driver run must finish even if every window is slow —
    # a second/third attempt only starts while under budget, so the
    # worst case is one attempt past it, never an unbounded pile-up
    max_wall = float(os.environ.get("SPARK_GRAFT_SWEEP_MAX_WALL_SEC", "1800"))
    t_begin = time.perf_counter()
    max_attempts = min_of + retries
    attempt_log: list[dict] = []
    kept: dict | None = None
    for _ in range(max_attempts):
        if attempt_log and time.perf_counter() - t_begin > max_wall:
            break
        start_probe, start_wait = _await_sched_band(spark)
        sustained_start = _sustained_probe_sec(spark)
        timings, total = sweep_fn()
        end_probe = _sweep_probe(spark)
        sustained_end = _sustained_probe_sec(spark)
        band = _sustained_band_sec()
        sustained_ok = sustained_start <= band and sustained_end <= band
        healthy = (
            _probe_healthy(start_probe)
            and _probe_healthy(end_probe)
            and sustained_ok
        )
        attempt = {
            "total_sec": round(total, 4),
            "sched_at_start": start_probe["sched_sec"],
            "gemm_at_start": start_probe["gemm_sec"],
            "sched_at_end": end_probe["sched_sec"],
            "gemm_at_end": end_probe["gemm_sec"],
            "sustained_at_start": round(sustained_start, 3),
            "sustained_at_end": round(sustained_end, 3),
            "start_wait_sec": round(start_wait, 1),
            "healthy": healthy,
        }
        attempt_log.append(attempt)
        if kept is None or total < kept["total"]:
            kept = {"timings": timings, "total": total, "attempt": attempt}
        if len(attempt_log) >= min_of and healthy:
            break
    assert kept is not None
    return {
        "timings": kept["timings"],
        "total": kept["total"],
        "sweep_healthy": any(a["healthy"] for a in attempt_log),
        "sweep_attempts": len(attempt_log),
        "sched_at_start": kept["attempt"]["sched_at_start"],
        "sched_at_end": kept["attempt"]["sched_at_end"],
        "gemm_at_end": kept["attempt"]["gemm_at_end"],
        "sustained_at_start": kept["attempt"]["sustained_at_start"],
        "sustained_at_end": kept["attempt"]["sustained_at_end"],
        "sustained_band_sec": _sustained_band_sec(),
        "sweep_attempt_log": attempt_log,
    }


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


def _idle_gate() -> dict:
    """Verified-idle gate (r09 verdict item 2): two consecutive rounds'
    official records landed in contended windows (r09: load1 5.8 at
    record time, 1.14x raw on byte-unchanged plans) and had to be
    adjudicated by local re-runs. Before the timed sweep, poll and
    wait — bounded — for the machine to go idle; if it never does,
    the record carries ``idle_gate: false`` so it self-describes as
    contended instead of demanding prose. Runs BEFORE the Spark
    session exists so our own JVM/warmup threads don't inflate the
    reading.

    TWO axes, because the r10 close-out caught them failing
    independently: (a) load1 ≤ ~1.0 — run-queue depth; anything
    sustained above one busy core contends with a 32-thread sweep —
    and (b) a one-shot pinned GEMM ≤ 0.12 s — hypervisor throttling:
    a specimen window read load1 0.43 (gate passed) while the GEMM ran
    21× its healthy price and the sweep 2.7× (every healthy window
    r07-r10 reads the GEMM 0.015-0.056 s; throttled windows ≥ 0.17 s,
    so 0.12 separates the classes with margin)."""
    threshold = float(os.environ.get("SPARK_GRAFT_IDLE_LOAD1", "1.0"))
    gemm_max = float(os.environ.get("SPARK_GRAFT_IDLE_GEMM_SEC", "0.12"))
    max_wait = float(os.environ.get("SPARK_GRAFT_IDLE_MAX_WAIT_SEC", "600"))
    poll = 15.0
    waited = 0.0

    def _healthy(l1, gs):
        # loadavg unreadable (non-Linux host): gate on the GEMM axis
        # alone rather than permanently marking every record contended
        # (r10 ADVICE) — load1_at_gate records null so the reading
        # self-describes as single-axis.
        return (l1 is None or l1 <= threshold) and gs <= gemm_max

    _gate_gemm_sec()  # warm the BLAS thread pool: a fresh process's
    # first GEMM pays ~0.4 s of one-time init that would read as
    # "throttled" and burn a poll on a healthy machine
    load1, gemm = _read_load1(), _gate_gemm_sec()
    while not _healthy(load1, gemm) and waited < max_wait:
        step = min(poll, max_wait - waited)
        time.sleep(step)
        waited += step  # exact accounting: the final step may be short
        load1, gemm = _read_load1(), _gate_gemm_sec()
    return {
        "idle_gate": _healthy(load1, gemm),
        "load1_at_gate": load1,
        "gemm_at_gate": round(gemm, 5),
        "idle_wait_sec": round(waited, 1),
    }


#: Byte budget for the ONE stdout JSON line. The round driver keeps
#: only the LAST 2000 output chars and parses the final JSON line, so
#: the line plus its newline must stay under ~1998 bytes (the r04
#: record was lost to a 2.3 KB line).
STDOUT_BUDGET = 1970


def _stdout_line(out: dict, timings: dict[str, float]) -> str:
    """Render the compact stdout record, guaranteed under the tail
    budget WITHOUT dropping queries. r12 lesson (verdict item 2): the
    old fit-by-dropping-the-fastest-queries path silently truncated
    22/69 timings, which manufactured 6 phantom "dropped_from_bench"
    rows and 46 phantom "queries_dropped" in the driver's
    round-over-round diff. Every query must print: degrade METADATA
    first (it all survives in BENCH_LOCAL.json / the history / the
    stderr full record), then timing precision to 1 decimal, and only
    then — as a never-expected last resort — drop entries (counted in
    ``queries_omitted``). If the line still overflows with no queries
    left, only metric/value/unit/sf/queries_omitted print, with string
    fields clipped: the budget is a hard cap."""

    def _round_t(t: float, dec: int) -> float | int:
        # degraded tiers (dec=1) drop the decimal entirely at >= 10 s:
        # in a throttled window every entry needing "12.3" instead of
        # "1.2" would overflow the budget, and integer-second precision
        # on a >= 10 s timing is a < 5% quantization — smaller than the
        # window noise that produced it
        if dec == 1 and t >= 10:
            return int(round(t))
        return round(t, dec)

    def _line(meta: dict, dec: int) -> str:
        c = dict(meta,
                 queries={n: _round_t(t, dec) for n, t in timings.items()})
        return json.dumps(c, separators=(",", ":"))

    full_meta = dict(out)
    # per-attempt log lives in the full record/history only
    full_meta.pop("sweep_attempt_log", None)
    tree = out.get("tree") or ""
    slim_meta = {
        "metric": out["metric"], "value": out["value"], "unit": "sec",
        "queries": {}, "sf": out["sf"], "n_queries": out["n_queries"],
        "sweep_healthy": out["sweep_healthy"],
        "sweep_attempts": out["sweep_attempts"],
        "tree": tree[:12], "dirty": out["dirty"],
    }
    slimmest = {
        "metric": out["metric"], "value": round(out["value"], 2),
        "unit": "sec", "queries": {}, "sf": out["sf"],
        "sweep_healthy": out["sweep_healthy"],
        "tree": tree[:12], "dirty": out["dirty"],
    }
    bare = {
        "metric": out["metric"], "value": round(out["value"], 1),
        "unit": "sec", "queries": {}, "sf": out["sf"],
    }
    line = _line(full_meta, 2)
    for meta, dec in ((slim_meta, 2), (slim_meta, 1),
                      (slimmest, 1), (bare, 1)):
        if len(line) <= STDOUT_BUDGET:
            return line
        line = _line(meta, dec)
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
    # Verified-idle gate BEFORE the session/warmups — see _idle_gate.
    gate = _idle_gate()

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

    # Host-state calibration probe (r06 verdict item 3): a fixed-work
    # reference measurement recorded IN the bench JSON so cross-round
    # totals can be normalized for machine state (round 6 saw a
    # uniform ~1.34× episode on untouched plans that only prose could
    # explain). Four axes, min-of-3 each: CPU-bound numpy GEMM
    # (BLAS/core frequency), memory-bound numpy sort (bandwidth), a
    # trivial JVM-side Spark job (scheduler + codegen overhead), and a
    # pinned-size fsync'd disk write+read (the checkpoint/spill
    # window; added r09 after r08's disk-blind 1.07x drift episode).
    # Identical inputs every run — ratios between rounds measure the
    # HOST, not the code.
    calibration = _calibration_probe(spark)

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

    # In-sweep contention gate + bounded retry (r10 verdict item 1):
    # gate each attempt's start on the live scheduler/GEMM axes,
    # re-probe at sweep end, retry off-band sweeps, keep the min.
    sweep = _sweep_with_retry(spark, _sweep)
    timings = sweep["timings"]
    total = sweep["total"]

    # 1-minute load average, recorded as adjudication METADATA — not
    # in `calibration`, so it never enters host_factor normalization
    # (its ratios are meaningless; its VALUE is the signal). The r09
    # winsorized episode showed sustained external/hypervisor-level
    # contention that no in-guest tool except load average tracked.
    # NOTE: taken AFTER the sweep, so our own 32-thread run dominates
    # it — the pre-sweep idle reading is `load1_at_gate`.
    load1 = _read_load1()

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "runs": runs,
        "n_queries": len(names),
        "calibration": calibration,
        "load1": load1,
        **gate,
        "sweep_healthy": sweep["sweep_healthy"],
        "sweep_attempts": sweep["sweep_attempts"],
        "sched_at_start": sweep["sched_at_start"],
        "sched_at_end": sweep["sched_at_end"],
        "gemm_at_end": sweep["gemm_at_end"],
        "sustained_at_start": sweep["sustained_at_start"],
        "sustained_at_end": sweep["sustained_at_end"],
        "sustained_band_sec": sweep["sustained_band_sec"],
        "sweep_attempt_log": sweep["sweep_attempt_log"],
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
