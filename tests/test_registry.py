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
    # realistic shape (most queries under 1 s): the first tier fits,
    # so queries of 1 s or more print at 2 decimals, the rest at 1
    small = {n: (1.0 + i / 7.0 if i % 4 == 0 else 0.1 + (i % 9) / 10.0)
             + 0.0123 for i, n in enumerate(names)}
    out_small = dict(out, value=sum(small.values()), queries=small)
    line_small = bench._stdout_line(out_small, small)
    assert len(line_small) <= bench.STDOUT_BUDGET
    parsed_small = json.loads(line_small)
    assert parsed_small["queries"] == {
        n: round(t, 2 if t >= 1 else 1) for n, t in small.items()
    }
    assert sum(t >= 1 for t in small.values()) >= 15
    assert parsed_small["tree"] == out["tree"][:12]
    assert parsed_small["dirty"] is False
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


def test_bench_runs_two_sweeps_and_keeps_min():
    """Every bench run times exactly two full sweeps and reports the
    one with the lower total, whichever comes first; both totals stay
    in the full record so the first-sweep order effect is visible."""
    import bench

    for totals, kept in (([7.0, 3.0], 1), ([2.5, 3.5], 0)):
        calls = []

        def sweep():
            t = totals[len(calls)]
            calls.append(t)
            return {"q": t / 2}, t

        timings, total, sweep_totals = bench._best_sweep(sweep)
        assert len(calls) == 2
        assert total == totals[kept]
        assert timings == {"q": totals[kept] / 2}
        assert sweep_totals == totals


def test_bench_git_tree_stamp():
    """r10 verdict item 3: every bench record carries the measured git
    tree + dirty flag so cross-record A/Bs are machine-checkable; on a
    non-repo directory the stamp nulls out instead of crashing. The
    checkout case uses a repository made here, so the test passes in
    an exported copy of the source that is not itself a checkout."""
    import tempfile

    import bench

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
        stamp = bench._git_tree(d)
        assert stamp["tree"] and len(stamp["tree"]) == 40
        assert stamp["dirty"] in (True, False)
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
