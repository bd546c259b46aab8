"""Digest of the package source, stamped into generated artifacts.

sha256 over the repo-relative path and bytes of every ``.py`` file under
``bigdata_weather_system_spark/``, in sorted path order, cut to 16 hex
digits (the same recipe as ``perfbench/harness.py``'s ``source_sha``).
An artifact is fresh when its stamp equals the digest of the tree it is
checked against (``tests/test_doc_drift.py``).
"""

from __future__ import annotations

import glob
import hashlib
import os

PACKAGE = "bigdata_weather_system_spark"


def source_digest(repo: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(repo, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, repo).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
