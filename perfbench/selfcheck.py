"""Self-checks of the benchmark's own code (no Spark needed).

    python3 perfbench/selfcheck.py

- the generator is deterministic: the same seed gives the same input
  digest, another seed another one;
- generated documents are fixed points of text extraction, so feeding them
  to the golden oracle as html is exact;
- staging detects a drifted file and writes it again;
- the percentile, self-time and ledger arithmetic give known answers on
  fixed inputs.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stage  # noqa: E402
import tracing  # noqa: E402
from stage import Layout  # noqa: E402

SMALL = Layout("pages", files=3, rows=20)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok   {what}")


def check_generator() -> None:
    a = [gen.content_digest(SMALL.generate(7, i)) for i in range(SMALL.files)]
    b = [gen.content_digest(SMALL.generate(7, i)) for i in range(SMALL.files)]
    c = [gen.content_digest(SMALL.generate(8, i)) for i in range(SMALL.files)]
    check(a == b, "same seed, same content digests")
    check(not set(a) & set(c), "other seed, other content digests")
    check(len(set(a)) == len(a), "files of one seed differ from each other")
    d = gen.docs(7, 0, 200)
    check(d["text"].str.len().between(1, 2 * gen.DOC_CHARS).all()
          and not d["text"].str.contains(r"^ | $|  |[<>&\r\n\t]").any(),
          "documents are single-spaced plain text")


def check_docs_fixed_point() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from ksana_corpus_builder_spark.functions.text import extract_text
    d = gen.docs(3, 1, 500)
    check((extract_text(d["text"]) == d["text"]).all(),
          "documents are fixed points of extract_text")


def check_staging(tmp: str) -> None:
    d, cache = os.path.join(tmp, "stage"), os.path.join(tmp, "oracle")

    def staging(seed: int, out: str) -> stage.Staged:
        return stage.stage(SMALL, seed, out, workers=1, source_digest="",
                           cache_dir=cache)

    first = staging(7, d)
    check(first.restaged == SMALL.files, "first staging writes every file")
    again = staging(7, d)
    check(again.restaged == 0 and again.input_digest == first.input_digest,
          "restaging the same seed reuses every file")
    other = staging(8, os.path.join(tmp, "other"))
    check(other.input_digest != first.input_digest,
          "another seed gives another input digest")
    victim = first.paths()[1]
    with open(victim, "r+b") as f:  # flip one byte inside the file
        f.seek(os.path.getsize(victim) // 2)
        b = f.read(1)
        f.seek(-1, 1)
        f.write(bytes([b[0] ^ 0xFF]))
    drift = staging(7, d)
    check(drift.restaged == 1 and drift.entries[os.path.basename(victim)]["restaged"],
          "a drifted staged file is detected and restaged")
    check(stage.file_sha256(victim) == first.entries[os.path.basename(victim)]["sha256"],
          "the restaged file is byte-identical to the original staging")
    exp = stage.expectations(first)
    check(len(exp) == SMALL.files * SMALL.rows and exp["url"].is_unique,
          "the oracle's expectation covers every staged url once")


def check_arithmetic() -> None:
    v = list(range(1, 101))  # 1..100
    check(tracing.median(v) == 50.5 and tracing.median([3, 1, 2]) == 2,
          "median")
    check(tracing.tail(v) == (90, 90.0), "tail of 100 samples is p90")
    check(tracing.tail(list(range(1, 41))) == (30, 75.0),
          "tail of 40 samples is p75")
    check(tracing.tail([5.0, 1.0, 3.0]) == (5.0, 100.0),
          "tail of fewer than 20 samples is the maximum")

    S = tracing.Span
    root = S(0, "job", 0.0, 10.0, None, 1)
    spans = [root, S(1, "a", 1.0, 4.0, 0, 1), S(2, "b", 3.0, 6.0, 0, 1),
             S(3, "c", 8.0, 12.0, 0, 1), S(4, "a.x", 1.5, 2.0, 1, 1)]
    # children cover [1, 6] and [8, 10] of [0, 10]: 7 s covered
    check(math.isclose(tracing.self_time(root, spans), 3.0),
          "self time subtracts the union of child intervals")
    check(math.isclose(tracing.self_time(spans[1], spans), 2.5),
          "self time counts only direct children")

    led = tracing.ledger(job_s=10.0, job_docs=1000, floor_s=8.0, floor_docs=4000,
                         kernel_single_s=48.0, kernel_docs=4000, cpus=4,
                         write_s=12.0, write_docs=4000)
    check(math.isclose(led.floor_s, 2.0) and math.isclose(led.kernels_s, 3.0)
          and math.isclose(led.write_s, 3.0), "ledger lines scale pro rata")
    check(math.isclose(led.residual_s, 2.0)
          and math.isclose(led.residual_share, 0.2), "ledger residual")

    tr = tracing.Tracer(enabled=True)
    with tr.span("job", new_trace=True):
        with tr.span("inner"):
            pass
    with tr.span("job", new_trace=True):
        pass
    check([s.trace for s in tr.spans] == [1, 1, 2] and tr.spans[1].parent == 0,
          "spans of one job share a trace id and link to their parent")
    off = tracing.Tracer(enabled=False)
    with off.span("x"):
        pass
    check(off.spans == [], "a disabled tracer records nothing")


def main() -> int:
    check_generator()
    check_docs_fixed_point()
    check_arithmetic()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=os.path.join(HERE, ".work"))
    try:
        check_staging(tmp)
    finally:
        shutil.rmtree(tmp)
    print("all self-checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
