"""Vectorization discipline (SURVEY §7 hard-part 5, BASELINE input_hint):
zero per-row Python UDFs in the engine — only pandas/Arrow batch kernels
(mapInPandas / pandas_udf) are allowed."""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "ksana_corpus_builder_spark"

# F.udf( / @udf — the row-at-a-time API
_SCALAR_UDF = re.compile(r"(?<![a-zA-Z_])udf\s*\(|@udf\b")


def test_no_row_at_a_time_udf():
    offenders = []
    for p in PKG.rglob("*.py"):
        src = p.read_text()
        if _SCALAR_UDF.search(src):
            offenders.append(str(p))
    assert not offenders, f"row-at-a-time UDFs found in {offenders}"


# Per-row Python iteration over batch columns inside hot-path kernels —
# `for x in pdf[...]`, `zip(pdf[...]`, `.iterrows()`. Parser kernels
# (functions/) iterate per DOCUMENT by design (state-machine parse has no
# vector form), so the lint covers the columnar-math operators where a
# loop means an unvectorized kernel — including the media header decoders
# (whole-batch np.frombuffer since round 3).
_ROW_LOOP = re.compile(r"for\s+[\w, ]+\s+in\s+(zip\(\s*pdf\[|pdf\[)|\.iterrows\(\)")
_ROW_LOOP_FILES = ("operators/ann.py", "operators/rangejoin.py",
                   "operators/dedup.py", "operators/skew.py",
                   "operators/tpos.py", "operators/postings.py",
                   "operators/bigram.py", "operators/media.py",
                   "tokenizer.py")


def test_no_per_row_loops_in_columnar_kernels():
    offenders = []
    for rel in _ROW_LOOP_FILES:
        p = PKG / rel
        if not p.exists():
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if _ROW_LOOP.search(line):
                offenders.append(f"{rel}:{i}")
    assert not offenders, f"per-row Python loops in columnar kernels: {offenders}"


# The text kernels the fused quality pass runs per Arrow batch derive every
# per-doc quantity from one batch buffer (wordstream.TextBatch), and the
# plan that runs them counts each task's lineage per batch. Inside
# their functions, flag `.map(lambda` and every loop or comprehension that
# does not iterate a module constant (the rule / language tables); a
# reviewed per-row loop — e.g. `subn` over the docs a scrub gate admits —
# carries a `# row-loop-ok:` marker on its line. Module-level code runs
# once per process and is not checked.
_KERNEL_FILES = ("functions/wordstream.py", "functions/quality.py",
                 "functions/scrub.py", "functions/langid.py",
                 "functions/text.py", "functions/perplexity.py",
                 "plans/quality_pipeline.py")
_MAP_LAMBDA = re.compile(r"\.map\(\s*lambda")
_ITER_HELPERS = {"enumerate", "range", "zip", "len", "reversed"}


def _iterates_constants(it: ast.expr) -> bool:
    """True when an iterable names only UPPER_CASE constants (and their
    attributes), literals and enumerate/range/zip/len — a loop over rules or
    languages, not rows."""
    for node in ast.walk(it):
        if isinstance(node, ast.Name) and not (
                node.id.lstrip("_").isupper() or node.id in _ITER_HELPERS):
            return False
    return True


def _kernel_row_loops(src: str) -> list[int]:
    lines = src.splitlines()
    flagged = []
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            iters = []
            if isinstance(node, (ast.For, ast.AsyncFor)):
                iters = [node.iter]
            elif isinstance(node, ast.comprehension):
                iters = [node.iter]
            if any(not _iterates_constants(it) for it in iters):
                flagged.append(node.iter.lineno)
        end = fn.end_lineno or fn.lineno
        flagged += [i for i in range(fn.lineno, end + 1)
                    if _MAP_LAMBDA.search(lines[i - 1])]
    return sorted(i for i in set(flagged)
                  if "# row-loop-ok:" not in lines[i - 1])


def test_no_per_row_loops_in_text_kernels():
    offenders = []
    for rel in _KERNEL_FILES:
        src = (PKG / rel).read_text()
        offenders += [f"{rel}:{i}" for i in _kernel_row_loops(src)]
    assert not offenders, f"per-row Python in batch text kernels: {offenders}"


def test_text_kernel_lint_catches_row_loops():
    src = (
        "X = [1]\n"
        "def f(s, d):\n"
        "    a = s.map(lambda v: v)\n"
        "    b = [len(v) for v in s]\n"
        "    for v in d['col']:\n"
        "        pass\n"
        "    for i, r in enumerate(X):\n"
        "        pass\n"
        "    for v in s:  # row-loop-ok: reviewed\n"
        "        pass\n"
        "    return {n: 0 for n in X}\n"
    )
    assert _kernel_row_loops(src) == [3, 4, 5]


def test_no_unmarked_collect_anywhere():
    # the engine must stay distributed; EVERY driver-side collect in
    # non-test code needs a `# collect-ok:` marker — a reviewed, BOUNDED
    # dim-sized collect (e.g. n_cells IVF centroids, one query vector),
    # never data-sized. Repo-wide, not just operators/ (CLAUDE.md
    # invariant; VERDICT r2 "Next round" #5).
    offenders = []
    for p in PKG.rglob("*.py"):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if ".collect()" in line and "# collect-ok:" not in line:
                offenders.append(f"{p.relative_to(PKG)}:{i}")
    assert not offenders, f"unmarked driver-side collect in {offenders}"
