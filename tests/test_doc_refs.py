"""Every backticked ``module.name`` in COVERAGE.md and README.md that names
a jamie_spark module resolves to an attribute of that module, so deleting
or renaming a function cannot leave a dangling name in the docs."""

import importlib
import pkgutil
import re
from pathlib import Path

import jamie_spark

ROOT = Path(__file__).resolve().parents[1]
DOCS = ["COVERAGE.md", "README.md"]
MODULES = {m.name for m in pkgutil.iter_modules(jamie_spark.__path__)}
FENCE = re.compile(r"^```.*?^```", re.S | re.M)
SPAN = re.compile(r"`([^`\n]+)`")
REF = re.compile(r"(?<![\w.])(?:jamie_spark\.)?([A-Za-z_]\w*)\.([A-Za-z_]\w*)")


def doc_refs():
    """[(doc, module, name)] for every module.name inside an inline code
    span; ``*.py`` file names are skipped."""
    refs = []
    for doc in DOCS:
        text = FENCE.sub("", (ROOT / doc).read_text(encoding="utf-8"))
        for span in SPAN.findall(text):
            for mod, name in REF.findall(span):
                if mod in MODULES and name != "py":
                    refs.append((doc, mod, name))
    return refs


def test_doc_module_refs_resolve():
    refs = doc_refs()
    assert len(refs) > 100  # the pattern still finds the docs' references
    dangling = [
        f"{doc}: {mod}.{name}"
        for doc, mod, name in refs
        if not hasattr(importlib.import_module(f"jamie_spark.{mod}"), name)
    ]
    assert dangling == []
