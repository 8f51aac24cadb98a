"""Every driver-built table goes through ``frames.local_frame``.

A ``spark.createDataFrame(list)`` frame plans as a ``Scan ExistingRDD`` and
runs Python worker tasks on every evaluation, which the plan gates that look
for ``Python`` in the plan string do not catch. This walks the AST of the
library (``fixtures.py``, test-data generation, is left out) and the entry
module and fails on any ``createDataFrame`` outside ``local_frame``. No
Spark needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FILES = [
    p for p in sorted((ROOT / "jamie_spark").glob("*.py"))
    if p.name != "fixtures.py"
] + [ROOT / "__spark_entry__.py"]


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
