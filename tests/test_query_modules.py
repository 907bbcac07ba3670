"""The query modules are leaves that import in one direction:
sources.pages <- queries <- {queries_ext, queries_ref}, and
queries_ref <- queries_web. Each imports first in a fresh interpreter, and
none defers a queries* import into a function body (the workaround an
import cycle forces). No Spark needed."""

from __future__ import annotations

import ast
import pathlib
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "ksana_corpus_builder_spark"
MODULES = ("queries", "queries_ext", "queries_ref", "queries_web")


@pytest.mark.parametrize("mod", MODULES[1:])
def test_query_module_imports_first(mod):
    r = subprocess.run(
        [sys.executable, "-c", f"import ksana_corpus_builder_spark.{mod}"],
        cwd=REPO, capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-2000:]


def _deferred_query_imports(src: str) -> list[int]:
    """Lines of `from .queries… import` / `from . import queries…` inside
    a function body."""
    found = set()
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if not isinstance(node, ast.ImportFrom):
                continue
            mods = ([node.module.rsplit(".", 1)[-1]] if node.module
                    else [a.name for a in node.names])
            if any(m.startswith("queries") for m in mods):
                found.add(node.lineno)
    return sorted(found)


def test_no_function_local_query_imports():
    offenders = [f"{m}.py:{i}" for m in MODULES
                 for i in _deferred_query_imports((PKG / f"{m}.py")
                                                  .read_text())]
    assert not offenders, f"deferred queries* imports: {offenders}"


def test_deferred_import_check_catches_both_forms():
    src = ("from .queries import a\n"
           "def f():\n"
           "    from .queries_ref import b\n"
           "    from . import queries\n"
           "    from .sources.pages import c\n")
    assert _deferred_query_imports(src) == [3, 4]


def test_each_query_registered_once():
    names = [n for n, _, _ in entrymod._REGISTRY]
    assert len(names) == len(set(names))
