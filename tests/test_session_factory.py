"""One SparkSession factory: every session is built by ``session.get_spark``.

The only other place allowed to touch the session builder directly is
``scripts/run_extract_job.py``: under ``spark-submit`` the cluster's
``--conf`` values must win over the factory's local defaults.
"""

from __future__ import annotations

import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOWED = {os.path.join("rag_document_parser_spark", "session.py"),
           os.path.join("scripts", "run_extract_job.py")}
BUILDER = re.compile(r"SparkSession\s*\.\s*builder")


def test_session_builder_only_in_factory():
    paths = glob.glob(os.path.join(ROOT, "*.py")) + [
        p for d in ("rag_document_parser_spark", "scripts", "tests")
        for p in glob.glob(os.path.join(ROOT, d, "**", "*.py"),
                           recursive=True)]
    users = set()
    for path in paths:
        with open(path, encoding="utf-8") as f:
            if BUILDER.search(f.read()):
                users.add(os.path.relpath(path, ROOT))
    assert len(paths) > 100
    assert users == ALLOWED, sorted(users ^ ALLOWED)
