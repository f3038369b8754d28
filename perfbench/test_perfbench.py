"""Tests for the benchmark itself: seeded inputs, span arithmetic, and
that one run prints every metric ``BENCHMARK.json`` names.

Run from the checkout root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import datagen, run, tracing

ROOT = Path(__file__).resolve().parents[1]


def _digests(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(Path(directory, name).read_bytes()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def _generate(base: Path, seed: int) -> tuple[dict, dict, dict]:
    tables, zone = str(base / "tables"), str(base / "zone")
    datagen.write_tables(tables, seed)
    truth = datagen.write_landing_zone(zone, tables, seed)
    return _digests(tables), _digests(zone), truth


def test_one_seed_gives_identical_inputs_and_two_seeds_differ(tmp_path):
    t1, z1, truth = _generate(tmp_path / "a", 7)
    t2, z2, again = _generate(tmp_path / "b", 7)
    t3, z3, _ = _generate(tmp_path / "c", 8)
    assert (t1, z1) == (t2, z2)
    assert t1 != t3 and z1 != z3
    assert truth["files"] == len(z1) == sum(f for _, f, _ in datagen.ZONE_LAYOUT)
    assert truth["valid_rows"] + truth["invalid_rows"] == truth["rows"]
    assert truth["invalid_rows"] > 0 and truth["valid_rows"] > 0
    assert truth["invalid_rows"] == again["invalid_rows"]
    assert len(truth["valid"]) == truth["valid_rows"]


def _zone_frames(zone: str):
    """Every file of the landing zone as a string-typed DataFrame."""
    import io
    import zipfile

    import pandas as pd

    from data_ingestion_tool_spark.xlsx_lite import parse_xlsx

    def from_zip(data: bytes):
        with zipfile.ZipFile(io.BytesIO(data)) as zf:
            for info in zf.infolist():
                member = zf.read(info)
                if info.filename.endswith(".zip"):
                    yield from from_zip(member)
                else:
                    yield pd.read_csv(io.BytesIO(member), dtype=str)

    for name in sorted(os.listdir(zone)):
        data = Path(zone, name).read_bytes()
        if name.endswith(".csv"):
            yield pd.read_csv(io.BytesIO(data), dtype=str)
        elif name.endswith(".json"):
            yield pd.DataFrame(json.loads(data)).astype(object)
        elif name.endswith(".xlsx"):
            yield parse_xlsx(data).astype(object)
        else:
            yield from from_zip(data)


def test_landing_zone_truth_counts_the_planted_faults(tmp_path):
    """The rows the truth calls invalid are exactly the rows, across
    every file of the zone, with a non-numeric quantity or a missing
    order key."""
    import pandas as pd

    tables, zone = str(tmp_path / "tables"), str(tmp_path / "zone")
    datagen.write_tables(tables, 3)
    truth = datagen.write_landing_zone(zone, tables, 3)
    rows = pd.concat(list(_zone_frames(zone)), ignore_index=True)
    assert len(rows) == truth["rows"]
    qty = pd.to_numeric(rows["l_quantity"], errors="coerce")
    bad = qty.isna() | rows["l_orderkey"].isna()
    assert int(bad.sum()) == truth["invalid_rows"]


def test_self_time_subtracts_the_union_of_children():
    t = tracing.Tracer.__new__(tracing.Tracer)
    t.spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "kid", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "kid", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "grandkid", "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert t.self_time("root") == pytest.approx(6.0)
    assert t.union("kid") == pytest.approx(4.0)
    assert t.total("kid") == pytest.approx(5.0)


def test_benchmark_json_names_exactly_the_metrics_a_run_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run._metric_table(trace=False)
    assert layer == run._metric_table(trace=True)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_one_run_prints_every_named_metric(trace):
    """One ingest_export run (the cheapest workload) in each mode: the
    last stdout line is the result, correct, with every metric."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_export",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == names
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    else:
        assert result["metrics"]["spark.jobs"]["value"] >= 1
        assert result["metrics"]["validate.invalid_share"]["value"] > 0
