"""Registry contract: ordering pin and generated-doc freshness."""

from __future__ import annotations

import os
import re
import subprocess
import sys

from data_ingestion_tool_spark.operators import _FRONT, registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_front_window_is_exactly_50_and_leads_registry():
    names = list(registry())
    assert len(_FRONT) == 50
    assert names[: len(_FRONT)] == _FRONT
    assert len(set(names)) == len(names)


def test_operators_md_matches_live_registry():
    """OPERATORS.md is generated; its count must track the registry."""
    with open(os.path.join(REPO, "OPERATORS.md")) as fh:
        doc = fh.read()
    m = re.search(r"(\d+) queries, (\d+) oracle-checked", doc)
    assert m, "OPERATORS.md footer missing"
    reg = registry()
    n_oracle = sum(1 for s in reg.values() if s.oracle)
    assert int(m.group(1)) == len(reg), "regenerate: python tools/gen_operators.py"
    assert int(m.group(2)) == n_oracle, "regenerate: python tools/gen_operators.py"
    for name in reg:
        assert f"`{name}`" in doc


def test_gen_operators_is_idempotent(tmp_path):
    """Running the generator must not change the checked-in file."""
    with open(os.path.join(REPO, "OPERATORS.md")) as fh:
        before = fh.read()
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_operators.py")],
        check=True,
        capture_output=True,
    )
    with open(os.path.join(REPO, "OPERATORS.md")) as fh:
        after = fh.read()
    assert before == after


def test_perf_md_headline_count_matches_bench():
    """PERF.md's claims are tied to the live bench headline set (the
    round-2 verdict caught this file going stale)."""
    from bench import HEADLINE

    reg = registry()
    missing = [n for n in HEADLINE if n not in reg]
    assert not missing, missing
    with open(os.path.join(REPO, "PERF.md")) as fh:
        doc = fh.read()
    m = re.search(r"All (\d+) headline queries", doc)
    assert m, "PERF.md summary paragraph missing"
    assert int(m.group(1)) == len(HEADLINE), (
        "PERF.md headline count stale — regenerate after editing "
        "bench.HEADLINE"
    )


def test_plans_md_covers_audited_queries():
    """PLANS.md is generated; every audited query must have a section
    and every section's name must exist in the registry."""
    with open(os.path.join(REPO, "PLANS.md")) as fh:
        doc = fh.read()
    reg = registry()
    sections = re.findall(r"^#### (\S+)$", doc, re.M)
    assert len(sections) >= 40
    for name in sections:
        assert name in reg, f"PLANS.md section {name} not in registry"


def test_bench_stdout_line_prints_every_headline_query():
    """r12 verdict item 2: the compact stdout line silently dropped the
    22 fastest of 69 timings to fit the driver's 2000-char tail budget,
    which manufactured phantom "dropped_from_bench" rows in the
    round-over-round diff. The line must now carry EVERY headline query
    (metadata and precision degrade instead), stay under the budget,
    and keep the driver contract keys."""
    import json

    import bench

    names = [n for n in bench.HEADLINE]
    assert len(names) >= 69
    # worst realistic shape: every timing needs 4 chars ("12.3")
    timings = {n: 10.0 + (i % 90) / 10.0 for i, n in enumerate(names)}
    out = {
        "metric": "headline_queries_total_sec",
        "value": sum(timings.values()),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "runs": 2,
        "n_queries": len(names),
        "calibration": {"gemm_sec": 0.09749, "sort_sec": 0.52193,
                        "spark_job_sec": 0.18811, "disk_sec": 0.18927},
        "load1": 8.63,
        "idle_gate": True,
        "load1_at_gate": 0.26,
        "gemm_at_gate": 0.08634,
        "idle_wait_sec": 15.0,
        "sweep_healthy": True,
        "sweep_attempts": 2,
        "sched_at_start": 0.11618,
        "sched_at_end": 0.09612,
        "gemm_at_end": 0.05153,
        "sustained_at_start": 1.434,
        "sustained_at_end": 1.717,
        "sustained_band_sec": 2.6,
        "sweep_attempt_log": [{"total": 1.0}],
        "tree": "6d6758aecf0abd3dba72b78dab878dd5038b5570",
        "dirty": False,
    }
    line = bench._stdout_line(out, timings)
    assert len(line) <= bench.STDOUT_BUDGET
    parsed = json.loads(line)
    # driver contract keys survive every degradation tier
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key
    assert set(parsed["queries"]) == set(names)
    assert "queries_omitted" not in parsed
    # timings stay within rounding of the real values (1 decimal below
    # 10 s, integer seconds above)
    for n, t in timings.items():
        tol = 0.5 if t >= 10 else 0.05
        assert abs(parsed["queries"][n] - t) <= tol + 1e-9
    # a dirty tree must not blow the budget via the dirty_files list
    out_dirty = dict(out, dirty=True,
                     dirty_files=["CORRECTNESS_r13.json", "VERIFY_r13.json"])
    line2 = bench._stdout_line(out_dirty, timings)
    assert len(line2) <= bench.STDOUT_BUDGET
    parsed2 = json.loads(line2)
    assert set(parsed2["queries"]) == set(names)
    assert parsed2["dirty"] is True
    # last-resort path: an absurd fleet still prints a parseable,
    # under-budget line with the omissions counted
    big = {f"query_with_a_rather_long_name_{i:04d}": 1.0 for i in range(200)}
    out_big = dict(out, queries=big, n_queries=len(big))
    line3 = bench._stdout_line(out_big, big)
    assert len(line3) <= bench.STDOUT_BUDGET
    parsed3 = json.loads(line3)
    assert parsed3["queries_omitted"] == len(big) - len(parsed3["queries"])
    assert parsed3["queries_omitted"] > 0
    # hard cap: a skeleton that overflows on its own (pathological
    # metric/sf strings) degrades to the minimal contract scalars
    out_huge = dict(out, metric="m" * 3000, sf="s" * 3000)
    line4 = bench._stdout_line(out_huge, timings)
    assert len(line4) <= bench.STDOUT_BUDGET
    parsed4 = json.loads(line4)
    assert set(parsed4) == {"metric", "value", "unit", "sf", "queries_omitted"}
    assert parsed4["queries_omitted"] == len(timings)
    assert parsed4["value"] == round(out["value"], 1)
    assert parsed4["metric"] and set(parsed4["metric"]) == {"m"}


def test_bench_diff_reads_both_formats(tmp_path):
    """tools/bench_diff.py accepts bench.py's raw line and the round
    driver's wrapper, and flags regressions via exit code."""
    import json
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_diff

    raw = tmp_path / "raw.json"
    raw.write_text(json.dumps(
        {"metric": "m", "value": 2.0, "unit": "sec",
         "queries": {"a": 1.0, "b": 1.0}}
    ))
    wrapped = tmp_path / "wrapped.json"
    wrapped.write_text(json.dumps(
        {"n": 1, "parsed": {"queries": {"a": 2.0, "b": 0.5}}}
    ))
    assert bench_diff.load(str(raw)) == {"a": 1.0, "b": 1.0}
    assert bench_diff.load(str(wrapped)) == {"a": 2.0, "b": 0.5}
    # a (1.0 -> 2.0) regresses beyond 1.3x -> exit 1
    assert bench_diff.main([str(raw), str(wrapped)]) == 1
    assert bench_diff.main([str(raw), str(wrapped), "--flag", "3.0"]) == 0


def test_bench_diff_normalize_divides_by_probe_ratio(tmp_path):
    """--normalize (r07 verdict item 3): a uniform 2x slowdown whose
    calibration probes also read 2x is host state — normalized ratios
    land at 1.0 and the regression flag stays quiet; without
    --normalize the same records trip it. Probe-less records fall
    back to raw comparison."""
    import json
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_diff

    cal_old = {"gemm_sec": 0.04, "sort_sec": 0.5, "spark_job_sec": 0.15}
    cal_new = {k: v * 2 for k, v in cal_old.items()}
    old = tmp_path / "old.json"
    old.write_text(json.dumps(
        {"queries": {"a": 1.0, "b": 2.0}, "calibration": cal_old}
    ))
    new = tmp_path / "new.json"
    new.write_text(json.dumps(
        {"queries": {"a": 2.0, "b": 4.0}, "calibration": cal_new}
    ))
    assert abs(bench_diff.host_factor(
        bench_diff.load_doc(str(old)), bench_diff.load_doc(str(new))
    ) - 2.0) < 1e-9
    assert bench_diff.main([str(old), str(new)]) == 1          # raw: 2x
    assert bench_diff.main([str(old), str(new), "--normalize"]) == 0
    # missing probe -> raw comparison (still flags)
    bare = tmp_path / "bare.json"
    bare.write_text(json.dumps({"queries": {"a": 1.0, "b": 2.0}}))
    assert bench_diff.main([str(bare), str(new), "--normalize"]) == 1


def test_bench_diff_host_factor_skips_zero_probe_axes(tmp_path):
    """A 0.0 probe value on EITHER side (timer resolution, degenerate
    record) must drop that axis, not reach log(0)/div-0 (r08 ADVICE)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_diff

    old = {"queries": {}, "calibration": {"a": 1.0, "b": 2.0}}
    new_zero = {"queries": {}, "calibration": {"a": 0.0, "b": 4.0}}
    assert abs(bench_diff.host_factor(old, new_zero) - 2.0) < 1e-9
    old_zero = {"queries": {}, "calibration": {"a": 0.0, "b": 2.0}}
    assert abs(bench_diff.host_factor(old_zero, new_zero) - 2.0) < 1e-9
    all_zero = {"queries": {}, "calibration": {"a": 0.0}}
    assert bench_diff.host_factor(all_zero, all_zero) is None


def test_bench_diff_host_factor_is_median_robust_to_one_axis(tmp_path):
    """r09: one axis diverging for environmental reasons (BLAS
    threading moved the gemm probe 2.7x while sort/scheduler read
    flat) must not drag the factor — the median tracks the majority of
    resource axes (geomean read 0.72 on the r09 close-out and turned a
    raw-flat 1.02x comparison into a fictitious 1.41x regression
    sweep)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_diff

    old = {"queries": {}, "calibration": {"a": 1.0, "b": 1.0, "c": 1.0}}
    new = {"queries": {}, "calibration": {"a": 0.36, "b": 0.98, "c": 1.06}}
    assert abs(bench_diff.host_factor(old, new) - 0.98) < 1e-9
    # even axis count -> mean of the middle two
    old4 = {"queries": {}, "calibration": {a: 1.0 for a in "abcd"}}
    new4 = {"queries": {}, "calibration":
            {"a": 0.3, "b": 0.9, "c": 1.1, "d": 5.0}}
    assert abs(bench_diff.host_factor(old4, new4) - 1.0) < 1e-9


def test_bench_idle_gate_bounded_and_self_describing(monkeypatch):
    """r09 verdict item 2: the verified-idle gate must (a) pass through
    immediately on an idle machine, (b) wait BOUNDED on a contended one
    and record idle_gate=False so the record self-describes, (c) not
    crash or spin when /proc/loadavg is unreadable."""
    import bench

    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setenv("SPARK_GRAFT_IDLE_MAX_WAIT_SEC", "60")
    monkeypatch.setattr(bench, "_gate_gemm_sec", lambda: 0.02)

    monkeypatch.setattr(bench, "_read_load1", lambda: 0.2)
    g = bench._idle_gate()
    assert g == {
        "idle_gate": True, "load1_at_gate": 0.2, "gemm_at_gate": 0.02,
        "idle_wait_sec": 0.0,
    }

    monkeypatch.setattr(bench, "_read_load1", lambda: 5.0)
    g = bench._idle_gate()
    assert g == {
        "idle_gate": False, "load1_at_gate": 5.0, "gemm_at_gate": 0.02,
        "idle_wait_sec": 60.0,
    }

    # throttled-hypervisor class (r10 specimen): load1 idle but the
    # burst-compute axis degraded -> gate must NOT pass
    monkeypatch.setattr(bench, "_read_load1", lambda: 0.2)
    monkeypatch.setattr(bench, "_gate_gemm_sec", lambda: 0.33)
    g = bench._idle_gate()
    assert g["idle_gate"] is False and g["idle_wait_sec"] == 60.0

    # unreadable loadavg (non-Linux host), healthy GEMM: gate on the
    # GEMM axis alone instead of permanently failing (r10 ADVICE) —
    # load1_at_gate null so the record self-describes as single-axis
    monkeypatch.setattr(bench, "_read_load1", lambda: None)
    monkeypatch.setattr(bench, "_gate_gemm_sec", lambda: 0.02)
    g = bench._idle_gate()
    assert g["idle_gate"] is True and g["load1_at_gate"] is None
    assert g["idle_wait_sec"] == 0.0

    # unreadable loadavg AND degraded GEMM: still waits bounded and
    # fails the gate (the fallback must not turn the gate into a no-op)
    monkeypatch.setattr(bench, "_gate_gemm_sec", lambda: 0.33)
    g = bench._idle_gate()
    assert g["idle_gate"] is False and g["load1_at_gate"] is None
    assert g["idle_wait_sec"] == 60.0

    # non-multiple budget: idle_wait_sec reports the actual bounded
    # wait (100), not poll-count x poll (105)
    monkeypatch.setenv("SPARK_GRAFT_IDLE_MAX_WAIT_SEC", "100")
    monkeypatch.setattr(bench, "_read_load1", lambda: 5.0)
    monkeypatch.setattr(bench, "_gate_gemm_sec", lambda: 0.02)
    g = bench._idle_gate()
    assert g["idle_wait_sec"] == 100.0


def test_bench_sweep_retry_gates_and_keeps_min(monkeypatch):
    """r10 verdict item 1: the in-sweep gate must (a) pass a healthy
    sweep through on the first attempt, (b) retry a sweep whose END
    probe reads off-band (contention arriving DURING the sweep — the
    r10 official-record failure mode the pre-session gate cannot see),
    keeping the MIN total and stamping sweep_healthy from the kept
    attempt, (c) stay bounded when every attempt is contended and
    record sweep_healthy=false machine-readably."""
    import bench

    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_RETRIES", "2")
    # min_of=1 isolates the retry semantics; min-of-k is case (d)
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_MIN_OF", "1")
    # the sustained axis (r11 verdict item 2) defaults healthy here;
    # case (g) exercises it failing while every short axis is green
    monkeypatch.setattr(bench, "_sustained_probe_sec", lambda spark: 2.0)

    healthy = {"sched_sec": 0.18, "gemm_sec": 0.02}
    bad = {"sched_sec": 0.55, "gemm_sec": 0.02}

    # (a) healthy window: one attempt, no retry
    probes = iter([healthy, healthy])
    monkeypatch.setattr(bench, "_sweep_probe", lambda spark: next(probes))
    calls = []

    def sweep_ok():
        calls.append(1)
        return {"q": 1.0}, 1.0

    r = bench._sweep_with_retry(None, sweep_ok)
    assert len(calls) == 1
    assert r["sweep_healthy"] is True and r["sweep_attempts"] == 1
    assert r["total"] == 1.0
    assert r["sched_at_start"] == 0.18 and r["sched_at_end"] == 0.18

    # (b) contention arrives DURING attempt 1 (start healthy, end bad):
    # retry once, keep the faster healthy attempt
    seq = iter([healthy, bad,       # attempt 1: start, end
                healthy, healthy])  # attempt 2: start, end
    monkeypatch.setattr(bench, "_sweep_probe", lambda spark: next(seq))
    totals = iter([9.0, 2.0])

    def sweep_var():
        t = next(totals)
        return {"q": t}, t

    r = bench._sweep_with_retry(None, sweep_var)
    assert r["sweep_attempts"] == 2
    assert r["total"] == 2.0 and r["timings"] == {"q": 2.0}
    assert r["sweep_healthy"] is True
    assert [a["healthy"] for a in r["sweep_attempt_log"]] == [False, True]

    # (c) every window contended: bounded at 1+retries attempts, min
    # total kept, record self-describes as contended. The start gate's
    # bounded wait (SPARK_GRAFT_SCHED_MAX_WAIT_SEC) must also not spin.
    monkeypatch.setenv("SPARK_GRAFT_SCHED_MAX_WAIT_SEC", "30")
    monkeypatch.setattr(bench, "_sweep_probe", lambda spark: bad)
    totals3 = iter([5.0, 4.0, 6.0])

    def sweep_bad():
        t = next(totals3)
        return {"q": t}, t

    r = bench._sweep_with_retry(None, sweep_bad)
    assert r["sweep_attempts"] == 3
    assert r["total"] == 4.0
    assert r["sweep_healthy"] is False
    assert all(a["start_wait_sec"] == 30.0 for a in r["sweep_attempt_log"])

    # (d) min-over-k default (MIN_OF=2): even an all-healthy window
    # runs TWO gated sweeps and keeps the min — the probes are
    # necessary but not sufficient (the committed specimen class reads
    # every axis healthy while the sustained sweep runs 1.1-1.4x slow)
    monkeypatch.delenv("SPARK_GRAFT_SWEEP_MIN_OF", raising=False)
    monkeypatch.setattr(bench, "_sweep_probe", lambda spark: healthy)
    totals4 = iter([7.0, 3.0, 99.0])

    def sweep_two():
        return {"q": 1.0}, next(totals4)

    r = bench._sweep_with_retry(None, sweep_two)
    assert r["sweep_attempts"] == 2
    assert r["total"] == 3.0
    assert r["sweep_healthy"] is True

    # (e) a contended-but-faster attempt is kept (contention only ever
    # slows a sweep, so the min is valid) and the record still reads
    # healthy because another attempt verified a clean window at-or-
    # above the kept number
    # attempt 1: the 30 s bounded start gate polls 3x (all bad) and
    # the end probe reads bad too; attempt 2's window is clean
    calls = {"n": 0}

    def probe_mixed(spark):
        calls["n"] += 1
        return bad if calls["n"] <= 4 else healthy

    monkeypatch.setattr(bench, "_sweep_probe", probe_mixed)
    totals5 = iter([2.5, 3.5])

    def sweep_mixed():
        return {"q": 1.0}, next(totals5)

    r = bench._sweep_with_retry(None, sweep_mixed)
    assert r["sweep_attempts"] == 2
    assert r["total"] == 2.5
    assert r["sweep_healthy"] is True
    assert [a["healthy"] for a in r["sweep_attempt_log"]] == [False, True]

    # (f) wall budget: when attempt 1 already exceeds
    # SPARK_GRAFT_SWEEP_MAX_WALL_SEC, no second attempt starts — the
    # official record must land even on a uniformly slow host
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_MAX_WALL_SEC", "0")
    monkeypatch.setattr(bench, "_sweep_probe", lambda spark: healthy)

    def sweep_slow():
        return {"q": 50.0}, 50.0

    r = bench._sweep_with_retry(None, sweep_slow)
    assert r["sweep_attempts"] == 1
    assert r["total"] == 50.0
    assert r["sweep_healthy"] is True

    # (g) the r11-specimen class: EVERY short axis in-band while the
    # sustained axis reads throttled — the exact record that carried
    # sweep_healthy: true at 1.5x a healthy same-day reading must now
    # stamp false, with the readings in the attempt log
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_MAX_WALL_SEC", "1800")
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_MIN_OF", "1")
    monkeypatch.setenv("SPARK_GRAFT_SWEEP_RETRIES", "0")
    monkeypatch.setattr(bench, "_sweep_probe", lambda spark: healthy)
    monkeypatch.setattr(bench, "_sustained_probe_sec", lambda spark: 4.5)

    def sweep_throttled():
        return {"q": 90.0}, 90.0

    r = bench._sweep_with_retry(None, sweep_throttled)
    assert r["sweep_healthy"] is False
    assert r["sustained_at_start"] == 4.5
    assert r["sustained_at_end"] == 4.5
    assert r["sustained_band_sec"] == bench._sustained_band_sec()
    # and the band is env-overridable like the other axes
    monkeypatch.setenv("SPARK_GRAFT_SUSTAINED_BAND_SEC", "5.0")
    r = bench._sweep_with_retry(None, sweep_throttled)
    assert r["sweep_healthy"] is True


def test_bench_probe_healthy_band_edges(monkeypatch):
    """The scheduler band (0.30) and GEMM threshold (0.12) separate the
    committed history's healthy windows (sched 0.136-0.245, gemm
    0.015-0.056) from the contended ones (sched 0.32-0.77, gemm
    >= 0.17); both must be env-overridable."""
    import bench

    assert bench._probe_healthy({"sched_sec": 0.245, "gemm_sec": 0.056})
    assert not bench._probe_healthy({"sched_sec": 0.32, "gemm_sec": 0.02})
    assert not bench._probe_healthy({"sched_sec": 0.18, "gemm_sec": 0.17})
    monkeypatch.setenv("SPARK_GRAFT_SCHED_BAND_SEC", "0.10")
    assert not bench._probe_healthy({"sched_sec": 0.18, "gemm_sec": 0.02})


def test_bench_git_tree_stamp():
    """r10 verdict item 3: every bench record carries the measured git
    tree + dirty flag so cross-record A/Bs are machine-checkable; on a
    non-repo directory the stamp nulls out instead of crashing."""
    import tempfile

    import bench

    stamp = bench._git_tree(REPO)
    assert stamp["tree"] and len(stamp["tree"]) == 40
    assert stamp["dirty"] in (True, False)
    with tempfile.TemporaryDirectory() as d:
        assert bench._git_tree(d) == {"tree": None, "dirty": None}

    # r11 verdict item 5: the bench's own artifact appends must not
    # count as dirty (r11's official record carried dirty: true purely
    # from them); real source drift must, with the paths named
    import subprocess

    with tempfile.TemporaryDirectory() as d:
        subprocess.run(["git", "-C", d, "init", "-q"], check=True)
        subprocess.run(
            ["git", "-C", d, "-c", "user.email=t@t", "-c", "user.name=t",
             "commit", "-q", "--allow-empty", "-m", "init"],
            check=True,
        )
        with open(os.path.join(d, "BENCH_LOCAL.json"), "w") as fh:
            fh.write("{}\n")
        with open(os.path.join(d, "BENCH_LOCAL_HISTORY.jsonl"), "a") as fh:
            fh.write("{}\n")
        stamp = bench._git_tree(d)
        assert stamp["dirty"] is False and "dirty_files" not in stamp
        with open(os.path.join(d, "some_source.py"), "w") as fh:
            fh.write("x = 1\n")
        stamp = bench._git_tree(d)
        assert stamp["dirty"] is True
        assert stamp["dirty_files"] == ["some_source.py"]
        # a subdirectory file sharing an artifact basename is real
        # drift (exclusion is exact repo-root paths), and a staged
        # rename reports the NEW path, not a composite string
        os.makedirs(os.path.join(d, "sub"))
        with open(os.path.join(d, "sub", "BENCH_LOCAL.json"), "w") as fh:
            fh.write("{}\n")
        subprocess.run(["git", "-C", d, "add", "-A"], check=True)
        subprocess.run(
            ["git", "-C", d, "-c", "user.email=t@t", "-c", "user.name=t",
             "commit", "-q", "-m", "add"],
            check=True,
        )
        subprocess.run(
            ["git", "-C", d, "mv", "some_source.py", "renamed_source.py"],
            check=True,
        )
        with open(os.path.join(d, "sub", "BENCH_LOCAL.json"), "a") as fh:
            fh.write("{}\n")
        stamp = bench._git_tree(d)
        assert stamp["dirty"] is True
        assert sorted(stamp["dirty_files"]) == [
            "renamed_source.py", "sub/BENCH_LOCAL.json",
        ]


def test_survey_registry_coverage_line_matches_live_registry():
    """SURVEY.md §2 carries a machine-readable registry-coverage line;
    it must track the live registry so §2 can't silently drift from
    the code again (round-3 verdict ask)."""
    with open(os.path.join(REPO, "SURVEY.md")) as fh:
        doc = fh.read()
    m = re.search(r"registry-coverage: (\d+) queries, (\d+) oracle-checked", doc)
    assert m, "SURVEY.md registry-coverage line missing"
    reg = registry()
    n_oracle = sum(1 for s in reg.values() if s.oracle)
    assert int(m.group(1)) == len(reg), "update SURVEY.md registry-coverage line"
    assert int(m.group(2)) == n_oracle, "update SURVEY.md registry-coverage line"


def test_anchor_tags_name_their_production_twins():
    """r07 verdict item 4: the md5 oracle anchors keep COMPLETE band
    self-joins by design (DuckDB must replay them), so the registry
    tags them "anchor" and each anchor's description must name its
    capped production twin — the CLI list and scale_audit route users
    there instead of running an anchor on a saturated corpus."""
    reg = registry()
    anchors = [s for s in reg.values() if "anchor" in s.tags]
    assert {s.name for s in anchors} >= {
        "dedup_minhash_md5",
        "dedup_simhash_md5",
    }
    for s in anchors:
        twins = [
            m for m in reg
            if m != s.name and m in s.doc and "anchor" not in reg[m].tags
        ]
        assert twins, f"anchor {s.name} must name its production twin"
