"""Frames are built and pinned through ``jamie_spark/frames.py`` only.

A ``spark.createDataFrame(list)`` frame plans as a ``Scan ExistingRDD`` and
runs Python worker tasks on every evaluation, which the plan gates that look
for ``Python`` in the plan string do not catch. A pin made outside
``frames.materialize`` has no ``frames.scope()`` lifetime. These walk the
AST of the library and the entry module and fail on any ``createDataFrame``
outside ``local_frame`` (``fixtures.py``, test-data generation, is left
out) and on any pin or release call outside ``frames.py``. No Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MODULES = sorted((ROOT / "jamie_spark").glob("*.py")) + [
    ROOT / "__spark_entry__.py"
]
FILES = [p for p in MODULES if p.name != "fixtures.py"]
PIN_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}


def _inside_local_frame(tree: ast.Module) -> set[int]:
    return {
        id(n)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
        for n in ast.walk(fn)
    }


def test_create_dataframe_only_in_local_frame():
    problems = []
    for path in FILES:
        tree = ast.parse(path.read_text())
        allowed = _inside_local_frame(tree)
        problems += [
            f"{path.relative_to(ROOT)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and n.attr == "createDataFrame"
            and id(n) not in allowed
        ]
    assert not problems, (
        "build driver-side tables with frames.local_frame, not "
        "createDataFrame: " + ", ".join(problems)
    )


def test_pins_and_releases_only_in_frames():
    problems = [
        f"{path.relative_to(ROOT)}:{n.lineno} {n.func.attr}"
        for path in MODULES
        if path.name != "frames.py"
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in PIN_CALLS
    ]
    assert not problems, (
        "pin frames with frames.materialize and release them with "
        "frames.scope: " + ", ".join(problems)
    )
