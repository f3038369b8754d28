"""Python workers run the engine's executor kernels without importing
the package: a driver that has the repo on ``sys.path`` only — started
outside the repo, with no ``PYTHONPATH`` — must run every operator whose
``mapInPandas`` kernel references module-level functions."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Kernels that are, or call, module-level functions (the first seven
#: failed with ModuleNotFoundError on the workers when pickled by
#: reference), plus the top-k operators that call ``partial_topk``.
_OPS = (
    "bpe_fit_merges",
    "bpe_token_counts",
    "ann_ivf_topk",
    "media_decode_shapes",
    "media_resize_shapes",
    "media_audio_samples",
    "media_frame_sample",
    "ann_bruteforce_topk",
    "ann_filtered_topk",
    "ann_quantized_topk",
    "ann_ivf_exact_rerank",
)


def test_python_edge_ops_run_from_outside_the_repo(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from data_ingestion_tool_spark import get_spark
        from data_ingestion_tool_spark.operators import registry

        spark = get_spark("worker-path", master="local[2]", shuffle_partitions=4)
        spark.sparkContext.setLogLevel("ERROR")
        reg = registry()
        for name in {_OPS!r}:
            n = reg[name].builder(spark, {SF_SMOKE!r}).count()
            print(name, n, flush=True)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    counts = dict(
        line.split()
        for line in proc.stdout.splitlines()
        if line.split(" ", 1)[0] in _OPS
    )
    assert sorted(counts) == sorted(_OPS)
    assert all(int(n) > 0 for n in counts.values()), counts
