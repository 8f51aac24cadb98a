"""The benchmark's call shapes still fit the library.

``perfbench/`` is frozen between benchmark changes and the tier-1 suite
never runs it, so an API change in ``jamie_spark`` could break it unseen.
This walks the AST of every ``perfbench`` module: each ``jamie_spark``
attribute it reads must exist, and each call it makes into ``jamie_spark``
must bind to the callee's signature with the same positional count and
keyword names. No Spark needed.
"""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"
FILES = sorted(PERFBENCH.glob("*.py"))


def _library_names(tree: ast.Module) -> dict[str, object]:
    """Local name -> the jamie_spark module or object it was imported as."""
    names: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "jamie_spark"
        ):
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if obj is None:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                names[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("jamie_spark"):
                    names[a.asname or a.name.split(".")[0]] = (
                        importlib.import_module(a.name.split(".")[0])
                    )
    return names


def _resolve(node: ast.expr, names: dict[str, object]):
    """The library object a ``name`` / ``name.attr...`` expression denotes,
    or None when it does not start at a jamie_spark import. Raises
    AttributeError for a missing attribute."""
    if isinstance(node, ast.Name):
        return names.get(node.id)
    if isinstance(node, ast.Attribute):
        base = _resolve(node.value, names)
        if base is None or not inspect.ismodule(base):
            return None
        return getattr(base, node.attr)
    return None


def test_perfbench_calls_bind_to_library():
    problems, n_calls = [], 0
    for path in FILES:
        tree = ast.parse(path.read_text())
        names = _library_names(tree)
        for node in ast.walk(tree):
            where = f"{path.name}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Attribute):
                try:
                    _resolve(node, names)
                except AttributeError as e:
                    problems.append(f"{where}: {e}")
            if not isinstance(node, ast.Call):
                continue
            try:
                fn = _resolve(node.func, names)
            except AttributeError:
                continue  # reported by the attribute check above
            if fn is None or not callable(fn):
                continue
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                continue  # *args / **kwargs: shape unknown statically
            n_calls += 1
            args = [None] * len(node.args)
            kwargs = {k.arg: None for k in node.keywords}
            try:
                inspect.signature(fn).bind(*args, **kwargs)
            except TypeError as e:
                problems.append(
                    f"{where}: {ast.unparse(node.func)}({len(args)} positional,"
                    f" keywords {sorted(kwargs)}): {e}"
                )
    # guard the walk itself: finding no library call would pass vacuously
    assert n_calls > 0, "no jamie_spark call found under perfbench/"
    assert not problems, "\n".join(problems)
