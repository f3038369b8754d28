"""ZIP expansion.

The reference extracts archives to a temp dir and recurses into every
contained file, nested ZIPs included (box_ingest.py:135-147). Here the
recursion is a worklist loop (no Python recursion limit on deeply
nested archives), and extraction happens on the driver, next to the
archive: ingest inputs arrive on local disk via the connector, stay
small (micro-files), and the extracted members feed one batched
``spark.read`` per format.
"""

from __future__ import annotations

import os
import zipfile


def expand_zips(paths: list[str]) -> list[str]:
    """Replace every .zip in ``paths`` with its (recursively) extracted
    member files; non-zip paths pass through unchanged.

    Each archive extracts into its OWN subdirectory
    (``<archive>.extracted``) and only that subdirectory is walked, so
    no member is enqueued twice."""
    out: list[str] = []
    worklist = list(paths)
    while worklist:
        path = worklist.pop(0)
        if not path.lower().endswith(".zip"):
            out.append(path)
            continue
        root = path + ".extracted"
        os.makedirs(root, exist_ok=True)
        with zipfile.ZipFile(path) as zf:
            zf.extractall(root)
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                worklist.append(os.path.join(dirpath, name))
    return out
