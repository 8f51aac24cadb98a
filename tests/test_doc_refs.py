"""Every backticked ``module.name`` in COVERAGE.md, README.md and the
docstrings of ``jamie_spark/*.py`` and ``__spark_entry__.py`` that names a
jamie_spark module resolves to an attribute of that module, so deleting or
renaming a function cannot leave a dangling name in the docs."""

import ast
import importlib
import pkgutil
import re
from pathlib import Path

import jamie_spark

ROOT = Path(__file__).resolve().parents[1]
DOCS = ["COVERAGE.md", "README.md"]
SOURCES = sorted((ROOT / "jamie_spark").glob("*.py")) + [
    ROOT / "__spark_entry__.py"
]
MODULES = {m.name for m in pkgutil.iter_modules(jamie_spark.__path__)}
FENCE = re.compile(r"^```.*?^```", re.S | re.M)
SPAN = re.compile(r"`([^`\n]+)`")
REF = re.compile(r"(?<![\w.])(?:jamie_spark\.)?([A-Za-z_]\w*)\.([A-Za-z_]\w*)")


def docstrings(path: Path) -> str:
    """The module, class and function docstrings of one source file."""
    tree = ast.parse(path.read_text(encoding="utf-8"))
    nodes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    return "\n".join(ast.get_docstring(n) or "" for n in nodes)


def doc_refs():
    """[(doc, module, name)] for every module.name inside an inline code
    span; ``*.py`` file names are skipped."""
    texts = [
        (doc, FENCE.sub("", (ROOT / doc).read_text(encoding="utf-8")))
        for doc in DOCS
    ] + [(str(p.relative_to(ROOT)), docstrings(p)) for p in SOURCES]
    refs = []
    for doc, text in texts:
        for span in SPAN.findall(text):
            for mod, name in REF.findall(span):
                if mod in MODULES and name != "py":
                    refs.append((doc, mod, name))
    return refs


def test_doc_module_refs_resolve():
    refs = doc_refs()
    # the pattern still finds the docs' references, docstrings included
    assert len(refs) > 100
    assert any(doc.endswith(".py") for doc, _, _ in refs)
    dangling = [
        f"{doc}: {mod}.{name}"
        for doc, mod, name in refs
        if not hasattr(importlib.import_module(f"jamie_spark.{mod}"), name)
    ]
    assert dangling == []
