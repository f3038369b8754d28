"""tools/ab.py: run order and arithmetic, against a stub runner."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import ab  # noqa: E402

#: wall_s by (checkout, seed); setup_s is 9 s less.
WALL = {
    ("a", 41): 10.0, ("b", 41): 8.0,
    ("a", 42): 12.0, ("b", 42): 9.0,
    ("a", 43): 11.0, ("b", 43): 12.0,
    ("a", 44): 14.0, ("b", 44): 7.0,
}


def _stub(calls, bad=()):
    def run(checkout, workload, seed):
        calls.append((checkout, workload, seed))
        wall = WALL[checkout, seed]
        return {
            "correct": (checkout, seed) not in bad,
            "metrics": {"wall_s": {"value": wall}, "setup_s": {"value": wall - 9}},
        }
    return run


def test_pairs_alternate_first_side_on_one_seed_each():
    calls, lines = [], []
    ok = ab.ab({"A": "a", "B": "b"}, "sql_analytics", 4, 41,
               run=_stub(calls), out=lines.append)
    assert ok
    assert calls == [
        ("a", "sql_analytics", 41), ("b", "sql_analytics", 41),
        ("b", "sql_analytics", 42), ("a", "sql_analytics", 42),
        ("a", "sql_analytics", 43), ("b", "sql_analytics", 43),
        ("b", "sql_analytics", 44), ("a", "sql_analytics", 44),
    ]
    assert lines[:4] == [
        "pair 1 seed 41 (AB): A 10.00 s, B 8.00 s, B/A 0.800",
        "pair 2 seed 42 (BA): A 12.00 s, B 9.00 s, B/A 0.750",
        "pair 3 seed 43 (AB): A 11.00 s, B 12.00 s, B/A 1.091",
        "pair 4 seed 44 (BA): A 14.00 s, B 7.00 s, B/A 0.500",
    ]
    assert lines[4] == "B faster in 3 of 4 pairs"
    # A wall 10, 11, 12, 14: median 11.5, inclusive quartiles 10.75 / 12.5
    assert "wall_s A: median 11.50 s, quartiles 10.75-12.50 s (4 runs)" in lines
    assert "wall_s B: median 8.50 s, quartiles 7.75-9.75 s (4 runs)" in lines
    assert "setup_s A: median 2.50 s, quartiles 1.75-3.50 s (4 runs)" in lines


def test_a_run_reading_incorrect_fails_the_comparison():
    calls, lines = [], []
    ok = ab.ab({"A": "a", "B": "b"}, "sql_analytics", 2, 41,
               run=_stub(calls, bad={("b", 42)}), out=lines.append)
    assert not ok
    assert len(calls) == 4
    assert "pair 2: side B read correct: false" in lines
    assert "B faster in 1 of 2 pairs" in lines
