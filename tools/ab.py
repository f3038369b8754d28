"""Alternated A/B of two checkouts on one perfbench workload.

    python3 tools/ab.py A_DIR B_DIR --workload sql_analytics --pairs 6 --seed 41

Pair ``i`` runs ``python3 perfbench/run.py --workload W --seed S+i
--seconds 5 --trace 0`` once in each checkout, one run at a time, both
runs of a pair on the same seed. The side that runs first alternates
from pair to pair (A B, B A, A B, ...), so a drift in host speed over
the session does not favour one side. Each run generates its inputs in
its own checkout, so the two sides never share files.

Prints one line per pair (both sides' ``wall_s`` and their B/A ratio),
then B's wins out of the pairs, and the median and quartiles of
``setup_s`` and ``wall_s`` on each side. Exits 1 when any run reads
``correct: false`` or fails to produce its result line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

METRICS = ("setup_s", "wall_s")


def run_perfbench(checkout: str, workload: str, seed: int) -> dict:
    """One untraced perfbench run in ``checkout``: its last stdout line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 0 and lines:
        try:
            return json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return {"correct": False, "metrics": {}}


def pair_order(i: int) -> tuple[str, str]:
    """Which side runs first in pair ``i`` (0-based)."""
    return ("A", "B") if i % 2 == 0 else ("B", "A")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def ab(checkouts: dict[str, str], workload: str, pairs: int, seed: int,
       run=run_perfbench, out=print) -> bool:
    """Run ``pairs`` alternated pairs and print the comparison; True
    when every run read ``correct: true``."""
    values = {side: {m: [] for m in METRICS} for side in checkouts}
    ok = True
    wins = 0
    for i in range(pairs):
        wall = {}
        for side in pair_order(i):
            result = run(checkouts[side], workload, seed + i)
            if not result.get("correct"):
                out(f"pair {i + 1}: side {side} read correct: false")
                ok = False
                continue
            for m in METRICS:
                values[side][m].append(result["metrics"][m]["value"])
            wall[side] = result["metrics"]["wall_s"]["value"]
        if len(wall) == 2:
            ratio = wall["B"] / wall["A"]
            wins += wall["B"] < wall["A"]
            out(f"pair {i + 1} seed {seed + i} ({''.join(pair_order(i))}): "
                f"A {wall['A']:.2f} s, B {wall['B']:.2f} s, B/A {ratio:.3f}")
    out(f"B faster in {wins} of {pairs} pairs")
    for m in METRICS:
        for side in ("A", "B"):
            if values[side][m]:
                q1, q2, q3 = quartiles(values[side][m])
                out(f"{m} {side}: median {q2:.2f} s, quartiles {q1:.2f}-{q3:.2f} s"
                    f" ({len(values[side][m])} runs)")
    return ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", help="checkout of side A (the parent)")
    ap.add_argument("b", help="checkout of side B (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=41,
                    help="seed of pair 1; pair i runs seed + i - 1")
    args = ap.parse_args(argv)
    checkouts = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    return 0 if ab(checkouts, args.workload, args.pairs, args.seed) else 1


if __name__ == "__main__":
    sys.exit(main())
