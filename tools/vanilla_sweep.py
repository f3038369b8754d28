"""Full-registry oracle replay on a COMPLETELY VANILLA SparkSession —
the external harness's setup (no engine confs beyond master/shuffle
sizing), at any scale factor:

    python tools/vanilla_sweep.py [sf_dir] [--skip-slow] [--tz=Zone]

Runs every oracle-paired registry query against DuckDB on the same
parquet and prints one line per query plus a final tally. Exits 1 on
any mismatch. ``--skip-slow`` applies the same oracle-COST rule as
tests/test_oracle_parity.py: it leaves out every oracle that embeds
``DEDUP_NGRAM_JACCARD_SQL`` (the all-pairs 3-gram Jaccard CTE takes
~10+ min in DuckDB at sf0.1; its correctness is covered by the sf0.01
gate and one-off direct verification).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import SparkSession  # noqa: E402

from data_ingestion_tool_spark.operators import registry  # noqa: E402
from data_ingestion_tool_spark.operators.dedup import (  # noqa: E402
    DEDUP_NGRAM_JACCARD_SQL,
)
from tests.conftest import make_duck  # noqa: E402
from tests.parity import compare  # noqa: E402

def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    skip_slow = "--skip-slow" in sys.argv
    # --tz=Zone: run the WHOLE sweep on a session pinned to a foreign
    # timezone (the per-query tz test covers only the flagged subset;
    # this audits every oracle-paired query for session-dependence)
    tz = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--tz=")),
        None,
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    )
    if tz:
        builder = builder.config("spark.sql.session.timeZone", tz)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    names = [n for n, s in reg.items() if s.oracle is not None]
    slow = {
        n
        for n in names
        if skip_slow and DEDUP_NGRAM_JACCARD_SQL in reg[n].oracle
    }
    failures = []
    t0 = time.time()
    for name in sorted(names):
        if name in slow:
            print(f"SKIP  {name} (oracle cost; see test_oracle_parity)")
            continue
        con = make_duck(sf_dir)
        t = time.time()
        try:
            problems = compare(
                reg[name].builder(spark, sf_dir),
                con.execute(reg[name].oracle).df(),
            )
        except Exception as ex:  # noqa: BLE001
            problems = [f"error: {ex}"]
        finally:
            con.close()
        status = "ok" if not problems else "FAIL"
        print(f"{status:5s} {name} ({time.time() - t:.1f}s)")
        if problems:
            failures.append((name, problems))
    n_run = len(names) - len(slow)
    print(
        f"\n{n_run - len(failures)}/{n_run} green at {sf_dir} "
        f"in {time.time() - t0:.0f}s "
        f"(vanilla session{', tz=' + tz if tz else ''})"
    )
    for name, problems in failures:
        print(f"  {name}: {problems}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
