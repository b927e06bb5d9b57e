"""Every module-level def/class in tsf/ and __spark_entry__.py is
referenced from some .py file of the repo (tests included): a helper
whose name appears nowhere but its own definition is dead code."""

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_every_module_level_definition_is_referenced():
    words, defs = Counter(), Counter()
    for p in REPO.rglob("*.py"):
        if ".git" not in p.parts:
            src = p.read_text()
            words.update(re.findall(r"\w+", src))
            defs.update(re.findall(r"\b(?:def|class)\s+(\w+)", src))
    dead = []
    for path in sorted(REPO.glob("tsf/*.py")) + [REPO / "__spark_entry__.py"]:
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and words[node.name] <= defs[node.name]):
                dead.append(f"{path.relative_to(REPO)}:{node.name}")
    assert not dead, f"unreferenced definitions: {dead}"
