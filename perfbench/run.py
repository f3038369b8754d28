"""Layered benchmark for the engine.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 5 --trace 0

One process runs one workload on ``local[min(nproc, 4)]``: it generates
the seeded inputs, sets up the session (timed as ``setup_s``), runs an
untimed warm-up query, then timed passes over the workload's ops until
``--seconds`` have passed (at least one). Every op's output is checked
right after it, outside the timed region. With ``--trace 1`` the pass
runs with spans and a Spark job group per span, the spans are written
to ``.perfbench_work/traces/`` at exit, and the per-layer metrics are
reported instead of the end-to-end ones.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Everything the run writes -- inputs, warehouse, Spark scratch, temp
files -- lives under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

#: End-to-end metrics (untraced run), with units.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
}

#: Per-layer metrics (traced run), with units; ``op.<name>.s`` entries
#: for every query op are appended below.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.action_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.busy_share": "ratio",
    "spark.single_task_stage_share": "ratio",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.noncpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.failed_tasks": "count",
    "sources.download_s": "s",
    "sources.upload_s": "s",
    "sources.read_s": "s",
    "sources.read_jobs": "count",
    "sources.batches": "count",
    "validate.compile_s": "s",
    "validate.invalid_share": "ratio",
    "sinks.write_split_s": "s",
    "sinks.write_split_jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.audit_flush_s": "s",
    "sinks.export_excel_s": "s",
    "xlsx_lite.write_s": "s",
    "pipeline.ingest_s": "s",
    "pipeline.export_s": "s",
    "pipeline.ingest_self_s": "s",
    "pipeline.export_self_s": "s",
    "pipeline.stored_bytes_per_input_byte": "ratio",
    "jvm_peak_rss_mb": "MB",
    "trace.wall_s": "s",
}

WORKLOADS = ("sql_analytics", "corpus_pipeline", "ingest_export")

#: No timed pass starts after this many seconds of the run, so a run
#: ends well inside three minutes even on a slow host.
PASS_DEADLINE_S = 110.0


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def _isolate(run_dir: Path, cores: int) -> None:
    """Point every scratch location of the session and the pipelines
    at the run directory, and put the engine on the Python workers'
    path. Must run before pyspark or the engine is imported."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    for var in ("TEMP", "TMP", "TMPDIR"):
        os.environ[var] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _setup(run_dir: Path, cores: int, data_bytes: int):
    """Import the engine, build its session, run the first parquet
    action and fork the Python-worker pool. Returns the session and
    the two phase times."""
    start = time.perf_counter()
    from data_ingestion_tool_spark import get_spark

    java_opts = (
        f"-Djava.io.tmpdir={run_dir / 'tmp'} "
        f"-Dderby.system.home={run_dir / 'derby'}"
    )
    split = min(max(data_bytes // (cores * 2), 1 << 20), 128 << 20)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        warehouse_dir=str(run_dir / "warehouse"),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(split),
            "spark.local.dir": str(run_dir / "local"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    built = time.perf_counter()

    from data_ingestion_tool_spark.sources.tables import load_table

    load_table(spark, str(run_dir / "tables"), "lineitem").limit(1).collect()

    def _ident(batches):
        yield from batches

    (
        spark.range(cores).repartition(cores)
        .mapInPandas(_ident, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    warm = time.perf_counter()
    return spark, built - start, warm - built


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: do not leave it behind
            proc.kill()
            proc.wait()


def _log(state: dict, what: str) -> None:
    elapsed = time.perf_counter() - state["t_start"]
    print(f"perfbench: {elapsed:7.1f}s {what}", file=sys.stderr, flush=True)


def _datagen_tag() -> str:
    src = (ROOT / "perfbench" / "datagen.py").read_bytes()
    return hashlib.sha256(src).hexdigest()[:12]


def _timed_passes(wl, args, state, out) -> tuple[int, list[str]]:
    """Run passes until ``--seconds`` have passed (at least one);
    ``wall_s`` is the median pass."""
    attempted, failures, passes = 0, [], []
    t0 = time.perf_counter()
    while True:
        times, bad = wl.one_pass()
        attempted += len(times)
        failures += bad
        passes.append(sum(times.values()))
        now = time.perf_counter()
        if now - t0 >= args.seconds or now - state["t_start"] >= PASS_DEADLINE_S:
            break
    out["wall_s"] = statistics.median(passes)
    _log(state, f"{len(passes)} timed passes done; last pass: "
         + json.dumps({k: round(v, 3) for k, v in times.items()}))
    return attempted, failures


def _traced_pass(spark, wl, cores, out, state):
    from perfbench.tracing import Tracer, spark_counters

    tracer = Tracer(spark)
    start = time.perf_counter()
    with tracer.patched_pipeline():
        times, failures = wl.one_pass(tracer)
    wall = sum(times.values())
    _log(state, f"traced pass done in {time.perf_counter() - start:.1f}s")
    out.update(spark_counters(spark, tracer.jobs(), wall, cores))
    out["trace.wall_s"] = wall
    state["tracer"] = tracer
    return tracer, times, failures


def _run_queries(spark, names, args, run_dir, work, cores, out, state):
    from perfbench import checks
    from perfbench.workloads import ORACLE_TIMEOUT_S, QueryWorkload, seeded_order

    oracle = checks.Oracle(
        str(run_dir / "tables"), args.seed,
        str(work / "oracle-cache" / _datagen_tag()), ORACLE_TIMEOUT_S,
    )
    try:
        wl = QueryWorkload(spark, seeded_order(names, args.seed),
                           str(run_dir / "tables"), oracle)
        wl.warm_up()
        if not args.trace:
            return _timed_passes(wl, args, state, out)
        tracer, times, failures = _traced_pass(spark, wl, cores, out, state)
    finally:
        oracle.close()
    out["spark.plan_s"] = wl.plan_s
    out["operators.build_s"] = tracer.total("operators.build")
    out["operators.action_s"] = tracer.total("operators.action")
    out["operators.build_jobs"] = len(tracer.jobs(("operators.build",)))
    for name, secs in times.items():
        out[f"op.{name}.s"] = secs
    return len(times), failures


def _run_ingest(spark, args, run_dir, cores, out, state):
    from perfbench.workloads import IngestExport

    wl = IngestExport(spark, str(run_dir), args.seed)
    if not args.trace:
        return _timed_passes(wl, args, state, out)
    tracer, times, failures = _traced_pass(spark, wl, cores, out, state)
    s = wl.summary
    out["validate.invalid_share"] = s.get("invalid_rows", 0) / max(
        1, s.get("valid_rows", 0) + s.get("invalid_rows", 0))
    out["sources.download_s"] = tracer.union("sources.download")
    out["sources.upload_s"] = tracer.total("sources.upload")
    out["sources.read_s"] = tracer.total("sources.read_paths")
    out["sources.read_jobs"] = len(tracer.jobs(("sources.read_paths",)))
    out["sources.batches"] = sum(
        sp.get("batches", 0) for sp in tracer.named("sources.read_paths"))
    out["validate.compile_s"] = tracer.total("validate.validate_and_split")
    out["sinks.write_split_s"] = tracer.total("sinks.write_split")
    out["sinks.write_split_jobs"] = len(tracer.jobs(("sinks.write_split",)))
    out["sinks.files_written"] = wl.stored_files
    out["sinks.bytes_written"] = wl.stored_bytes
    out["sinks.audit_flush_s"] = tracer.total("sinks.audit_flush")
    out["sinks.export_excel_s"] = tracer.total("sinks.export_to_excel")
    out["xlsx_lite.write_s"] = tracer.total("xlsx_lite.write_xlsx")
    out["pipeline.ingest_s"] = tracer.total("pipeline.execute_ingest")
    out["pipeline.export_s"] = tracer.total("pipeline.execute_export")
    out["pipeline.ingest_self_s"] = tracer.self_time("pipeline.execute_ingest")
    out["pipeline.export_self_s"] = tracer.self_time("pipeline.execute_export")
    out["pipeline.stored_bytes_per_input_byte"] = (
        wl.stored_bytes / wl.truth["zone_bytes"])
    return len(times), failures


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    # the script's own directory would shadow stdlib names; import the
    # benchmark as a package from the checkout root instead
    sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != ROOT / "perfbench"]
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("data_ingestion_tool_spark") is None:
        print(f"perfbench: the engine package is not under {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench import datagen
    from perfbench.workloads import QUERY_WORKLOADS

    work = ROOT / ".perfbench_work"
    run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cores = _cores()
    _isolate(run_dir, cores)
    data_bytes = datagen.write_tables(str(run_dir / "tables"), args.seed)

    out: dict = {}
    state = {"t_start": t_start}
    spark = None
    try:
        spark, get_spark_s, warmup_s = _setup(run_dir, cores, data_bytes)
        out["setup_s"] = get_spark_s + warmup_s
        out["session.get_spark_s"] = get_spark_s
        out["session.warmup_s"] = warmup_s
        _log(state, "session ready")
        if args.workload in QUERY_WORKLOADS:
            attempted, failures = _run_queries(
                spark, QUERY_WORKLOADS[args.workload], args, run_dir, work,
                cores, out, state)
        else:
            attempted, failures = _run_ingest(
                spark, args, run_dir, cores, out, state)
        out["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        state["tracer"].write(
            str(work / "traces" / f"{args.workload}-seed{args.seed}.json"))
    for line in failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    metrics = _metric_table(bool(args.trace))
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {
            name: {"value": float(out.get(name, 0.0)), "unit": unit}
            for name, unit in metrics.items()
        },
    }
    print(json.dumps(result))
    return 0


def _metric_table(trace: bool) -> dict[str, str]:
    if not trace:
        return dict(END_TO_END)
    from perfbench.workloads import QUERY_WORKLOADS

    table = dict(PER_LAYER)
    for names in QUERY_WORKLOADS.values():
        for name in names:
            table[f"op.{name}.s"] = "s"
    return table


if __name__ == "__main__":
    sys.exit(main())
