"""The concept dictionary reaches the driver through one function.

``concepts.prepare`` owns the dictionary's (concept_id, alias, sem_type)
projection and its collect; the linking index, the canonical map and the
digest that keys lineage resume are all built from its rows, so a caller
that prepares once reads the dictionary once. This walks the AST of the
library and the entry module and fails on any other function that
projects the dictionary's ``alias`` column with a ``select`` and also
pulls rows to the driver, itself or through a function of its module that
does. No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted((ROOT / "jamie_spark").glob("*.py")) + [
    ROOT / "__spark_entry__.py"
]
OWNER = ("concepts.py", "prepare")
COLLECTS = {"collect", "toLocalIterator", "toPandas", "toArrow"}


def _method_calls(fn: ast.FunctionDef, names: set[str]) -> list[ast.Call]:
    return [
        n for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in names
    ]


def _projects_alias(call: ast.Call) -> bool:
    return any(
        isinstance(n, ast.Constant) and n.value == "alias"
        for a in call.args
        for n in ast.walk(a)
    )


def _collectors(tree: ast.Module) -> set[str]:
    """Names of the module's functions that pull rows to the driver,
    themselves or through another function of the module they call."""
    fns = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    found: set[str] = set()
    while True:
        more = {
            fn.name for fn in fns
            if _method_calls(fn, COLLECTS) or any(
                isinstance(c, ast.Call)
                and isinstance(c.func, ast.Name)
                and c.func.id in found
                for c in ast.walk(fn)
            )
        }
        if more <= found:
            return found
        found |= more


def _readers(path: Path) -> list[tuple[str, str, int]]:
    """(file, function, line) of each function that projects the ``alias``
    column with a ``select`` and pulls rows to the driver."""
    tree = ast.parse(path.read_text())
    collectors = _collectors(tree)
    return [
        (path.name, fn.name, fn.lineno)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and fn.name in collectors
        and any(_projects_alias(c) for c in _method_calls(fn, {"select"}))
    ]


def test_dictionary_collect_only_in_prepare():
    readers = [r for path in FILES for r in _readers(path)]
    # the owner is found, so the walk cannot pass vacuously
    assert [r[:2] for r in readers if r[:2] == OWNER] == [OWNER]
    others = [f"{f}:{line} {name}" for f, name, line in readers
              if (f, name) != OWNER]
    assert not others, (
        "collect the concept dictionary through concepts.prepare: "
        + ", ".join(others)
    )
