"""Every source file compiles with warnings promoted to errors.

An invalid string escape such as ``'\\s'`` in a non-raw literal is only a
DeprecationWarning under default filters but a SyntaxError under
``python -W error``; this keeps the tree importable in both modes.
"""

from __future__ import annotations

import glob
import os
import warnings

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sources_compile_with_warnings_as_errors():
    paths = [os.path.join(ROOT, "__spark_entry__.py")] + [
        p for d in ("rag_document_parser_spark", "scripts", "tests")
        for p in glob.glob(os.path.join(ROOT, d, "**", "*.py"),
                           recursive=True)]
    failures = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            src = f.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, path, "exec")
            except (SyntaxError, Warning) as e:
                failures.append(f"{os.path.relpath(path, ROOT)}: {e}")
    assert len(paths) > 100
    assert not failures, "\n".join(failures)
