"""One Python pass over documents runs the quality kernels: the fused
``_map_batches`` behind ``process`` / ``process_text_table``. The kernel
queries are projections of it, so their DuckDB twins check the production
path, and a query that needs several kernels crosses the Python boundary
once."""

from __future__ import annotations

import ast
import pathlib

import pytest

import __spark_entry__ as entrymod
from ksana_corpus_builder_spark.plans import quality_pipeline as qp

PKG = pathlib.Path(__file__).resolve().parent.parent / "ksana_corpus_builder_spark"
SF = "/root/testdata/sf0.001"
QS = entrymod.queries()

_PASS_QUERIES = ("keep_drop", "langid", "scrub", "scrub_rule_counts",
                 "ccnet_buckets", "scrub_phone_fixture", "quality_score",
                 "quality_report", "corpus_datacard", "rule_ablation")
_PASS_OUT = qp._columns(qp.TEXT_RESULT_SCHEMA)


def _map_in_pandas_nodes(df) -> list[str]:
    """The MapInPandas lines of ``df``'s plan as it ran: after execution
    the adaptive plan prints its final plan before the initial one."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    return [ln for ln in final.splitlines() if "MapInPandas" in ln]


@pytest.mark.parametrize("name", [*_PASS_QUERIES, "entry"])
def test_query_runs_the_fused_pass_once(spark, name):
    df = entrymod.entry(spark) if name == "entry" else QS[name](spark, SF)
    nodes = _map_in_pandas_nodes(df)
    assert len(nodes) == 1, nodes
    # the one node is the fused pass: it emits every kernel output
    out = nodes[0].split("[", 1)[1]
    missing = [c for c in _PASS_OUT if f" {c}#" not in f" {out}"]
    assert not missing, (missing, nodes[0])


# Inside the package the per-kernel entry points run only in the fused
# batch (plans/quality_pipeline.py) and the golden oracle that checks it.
_KERNELS = {"rules_hit_and_keep", "detect", "scrub_series",
            "perplexity_series"}
_KERNEL_CALLERS = {"plans/quality_pipeline.py", "oracle/golden.py"}


def _kernel_uses(src: str) -> list[int]:
    """Lines that call or pass on a kernel entry point, by bare name or as
    a module attribute."""
    found = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Attribute) and node.attr in _KERNELS:
            found.add(node.lineno)
        elif (isinstance(node, ast.Name) and node.id in _KERNELS
              and isinstance(node.ctx, ast.Load)):
            found.add(node.lineno)
    return sorted(found)


def test_kernels_run_only_in_the_fused_pass_and_the_oracle():
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        rel = p.relative_to(PKG).as_posix()
        if rel not in _KERNEL_CALLERS:
            offenders += [f"{rel}:{i}" for i in _kernel_uses(p.read_text())]
    assert not offenders, f"quality kernels run outside the fused pass: {offenders}"


def test_kernel_use_lint_catches_calls_and_references():
    src = ("from .functions.langid import detect\n"
           "def detect_all(t):\n"
           "    a = L.detect(t)\n"
           "    b = detect(t)\n"
           "    c = t.pipe(S.scrub_series)\n"
           "    d = Q.rules_hit_and_keep(t)['keep']\n"
           "    e = perplexity_series\n"
           "    lang_detected = t.detect_lang()\n"
           "    return a, b, c, d, e\n")
    assert _kernel_uses(src) == [3, 4, 5, 6, 7]
