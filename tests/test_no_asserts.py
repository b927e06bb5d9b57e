"""Engine invariants fail loudly under ``python -O``: tsf/, jobs/ and
__spark_entry__.py hold no ``assert`` statement (``-O`` strips them);
each check raises a named exception instead. numpy-only."""

import ast
from pathlib import Path

import numpy as np
import pytest

REPO = Path(__file__).resolve().parents[1]
SOURCES = (sorted(REPO.glob("tsf/**/*.py")) + sorted(REPO.glob("jobs/**/*.py"))
           + [REPO / "__spark_entry__.py"])


def test_no_assert_statements():
    found = [f"{p.relative_to(REPO)}:{node.lineno}"
             for p in SOURCES
             for node in ast.walk(ast.parse(p.read_text()))
             if isinstance(node, ast.Assert)]
    assert not found, f"assert statements (stripped by python -O): {found}"


def test_window_ctx_rejects_non_matrix():
    from tsf.kernels import WindowCtx
    with pytest.raises(ValueError, match="2-D"):
        WindowCtx(np.zeros(5), np.array([5]))
