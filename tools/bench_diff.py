"""Compare two bench JSON lines (e.g. BENCH_r02.json vs BENCH_r03.json):

    python tools/bench_diff.py BENCH_r02.json BENCH_r03.json [--flag 1.3]

Prints per-query deltas for the shared set, the added/removed names,
and exits 1 when any shared query regressed beyond --flag (default
1.3×) — the guard the round workflow runs before trusting a "faster"
total that actually hides a regression under new entries.
"""

from __future__ import annotations

import argparse
import json
import sys


def load_doc(path: str) -> dict:
    """Accept either bench.py's raw one-line JSON or the round
    driver's BENCH_r{N}.json wrapper (result under 'parsed')."""
    with open(path) as fh:
        text = fh.read().strip()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        # bench.py output preceded by log noise: last line is the JSON
        doc = json.loads(text.splitlines()[-1])
    if "queries" not in doc and "parsed" in doc:
        doc = doc["parsed"]
    return doc


def load(path: str) -> dict[str, float]:
    return load_doc(path)["queries"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--flag", type=float, default=1.3,
                    help="regression ratio threshold (default 1.3)")
    args = ap.parse_args(argv)

    old_doc, new_doc = load_doc(args.old), load_doc(args.new)
    old, new = old_doc["queries"], new_doc["queries"]
    # Measured-tree stamps (round 11, r10 verdict item 3): records carry
    # the git sha they measured, so same-code/cross-code comparisons are
    # machine-checkable. Pre-r11 records print "unstamped".
    for side, doc in (("old", old_doc), ("new", new_doc)):
        tree = doc.get("tree")
        if tree:
            mark = " (dirty)" if doc.get("dirty") else ""
            print(f"{side} tree: {tree[:12]}{mark}")
        else:
            print(f"{side} tree: unstamped (pre-r11 record)")
    shared = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))

    regressions = []
    print(f"{'query':42s} {'old':>7s} {'new':>7s} {'ratio':>6s}")
    for name in sorted(shared, key=lambda n: -(new[n] / max(old[n], 1e-9))):
        ratio = new[name] / max(old[name], 1e-9)
        mark = " <-- REGRESSED" if ratio > args.flag else ""
        print(f"{name:42s} {old[name]:7.2f} {new[name]:7.2f} "
              f"{ratio:6.2f}{mark}")
        if ratio > args.flag:
            regressions.append(name)
    t_old = sum(old[n] for n in shared)
    t_new = sum(new[n] for n in shared)
    print(f"\nshared {len(shared)}: {t_old:.2f}s -> {t_new:.2f}s "
          f"({t_new / max(t_old, 1e-9):.2f}x)")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    if regressions:
        print(f"\n{len(regressions)} regression(s) beyond {args.flag}x",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
