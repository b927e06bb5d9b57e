"""Every module-level def/class in tsf/ and __spark_entry__.py is
referenced from the code of some .py file of the repo (tests included):
a helper whose name is used nowhere — a docstring or comment that
mentions it does not count — is dead code. And no module-level function
or string constant there is defined twice."""

import ast
from collections import Counter, defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SOURCES = sorted(REPO.glob("tsf/*.py")) + [REPO / "__spark_entry__.py"]


def _names_used(tree: ast.AST):
    """Identifiers the code uses: loaded or stored names, attribute
    names, and every dotted part of an imported name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")


def test_every_module_level_definition_is_referenced():
    used = Counter()
    for p in REPO.rglob("*.py"):
        if ".git" not in p.parts:
            used.update(_names_used(ast.parse(p.read_text())))
    dead = [f"{path.relative_to(REPO)}:{node.name}"
            for path in SOURCES
            for node in ast.parse(path.read_text()).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef))
            and not used[node.name]]
    assert not dead, f"unreferenced definitions: {dead}"


def _is_str(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def test_no_duplicate_module_level_definitions():
    """Two module-level functions with the same arguments and body once
    docstrings are stripped, or two equal module-level string constants
    longer than 20 characters, are one definition written twice: import
    the one instead."""
    seen = defaultdict(list)
    for path in SOURCES:
        for node in ast.parse(path.read_text()).body:
            where = f"{path.relative_to(REPO)}:{getattr(node, 'name', '')}"
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                body = node.body
                if isinstance(body[0], ast.Expr) and _is_str(body[0].value):
                    body = body[1:]
                seen[ast.dump(node.args)
                     + "".join(map(ast.dump, body))].append(where)
            elif (isinstance(node, (ast.Assign, ast.AnnAssign))
                  and _is_str(node.value) and len(node.value.value) > 20):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                seen[repr(node.value.value)].append(
                    where + ",".join(ast.unparse(t) for t in targets))
    dups = [v for v in seen.values() if len(v) > 1]
    assert not dups, f"defined more than once: {dups}"
