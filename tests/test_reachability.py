"""Reachability contract: every public top-level ``def``/``class`` in
the package is referenced by code the system runs — the package
itself, ``tools/``, ``bench.py``, ``perfbench/`` or the driver entry
``__spark_entry__.py`` — not only by tests. A reference is a ``Name``,
an ``Attribute`` or an import alias; a mention in a docstring or a
string does not count. Matching is by name, so a def shares the
references of any same-named def elsewhere. No Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_ingestion_tool_spark"

#: Public defs no runtime code references, each with its reason.
UNREACHED = {
    # the deployment connector, the only one that reaches the real
    # service (boxsdk is not installed here)
    ("sources/connector.py", "BoxConnector"),
    # reference implementations the tests compare the kernels against
    ("operators/text.py", "bpe_reference"),
    ("operators/text.py", "bpe_apply_reference"),
    # the media table's raw-file landing path
    ("operators/multimodal.py", "media_table_from_files"),
}


def _runtime_sources() -> list[Path]:
    files = [*PKG.rglob("*.py"), *(ROOT / "tools").rglob("*.py")]
    files += [p for p in (ROOT / "perfbench").rglob("*.py")
              if not p.name.startswith("test_")]
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _runtime_sources():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _public_defs() -> set[tuple[str, str]]:
    defs = set()
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                defs.add((rel, node.name))
    return defs


def test_every_public_def_has_a_runtime_reference():
    """A def that only tests reach fails here until it gains a caller
    the system runs or is deleted; an allowlisted def that gains a
    caller fails here until its stale entry is dropped."""
    referenced = _referenced_names()
    unreached = {d for d in _public_defs() if d[1] not in referenced}
    assert unreached == UNREACHED, (
        f"public defs only tests reach: {unreached - UNREACHED}; "
        f"stale allowlist entries: {UNREACHED - unreached}"
    )
