"""The package's zip re-read guard (``_skip_unchanged_zip_rereads``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
in a reused Python worker; before Python 3.13 every ``zipimporter`` then
re-reads its archive's directory. Importing the package in a reused
worker makes an unchanged archive skip that read. These tests pin the
mechanism in a plain interpreter, then its effect in real Spark workers
together with golden parity of a job whose workers run many tasks.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from collections import defaultdict

from ksana_corpus_builder_spark.oracle import golden
from ksana_corpus_builder_spark.plans import quality_pipeline as qp
from ksana_corpus_builder_spark.sources.pages import make_pages_pdf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GUARD_SCRIPT = textwrap.dedent("""
    import importlib, os, sys, tempfile, zipfile, zipimport

    reused = os.environ.get("SPARK_REUSE_WORKER") == "1"
    stock = zipimport.zipimporter.invalidate_caches
    z = os.path.join(tempfile.mkdtemp(), "mods.zip")
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("a.py", "A = 1\\n")
    sys.path.insert(0, z)
    import a

    import ksana_corpus_builder_spark as pkg
    guard = zipimport.zipimporter.invalidate_caches
    if not reused or sys.version_info >= (3, 13):
        assert guard is stock, guard
        print("stock")
        raise SystemExit(0)
    assert getattr(guard, "skips_unchanged", False), guard
    pkg._skip_unchanged_zip_rereads()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is guard

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == [], reads

    # rewrite the zip in place with a new module: one invalidation re-reads it
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("a.py", "A = 1\\n")
        f.writestr("b.py", "B = 2\\n")
    importlib.invalidate_caches()
    assert reads == [z], reads
    import b
    assert b.B == 2
    print("guarded")
""")


def _run_guard_script(reuse: bool) -> str:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    if reuse:
        env["SPARK_REUSE_WORKER"] = "1"
    env["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    out = subprocess.run([sys.executable, "-c", _GUARD_SCRIPT], env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_guard_skips_unchanged_zips_in_reused_worker():
    expect = "guarded" if sys.version_info < (3, 13) else "stock"
    assert _run_guard_script(reuse=True) == expect


def test_guard_not_installed_outside_reused_worker():
    assert _run_guard_script(reuse=False) == "stock"


def test_reused_workers_keep_parity_and_skip_rereads(spark):
    """A job with 3x more buckets than cores (each worker runs several
    tasks) matches the golden oracle; then every task after a worker's
    first finds the guard installed at task start and re-reads no zip."""
    pages = make_pages_pdf(480, seed=5)
    got = (qp.process(spark.createDataFrame(pages), buckets=24).toPandas()
           .sort_values("url").reset_index(drop=True))
    exp = golden.run(pages).sort_values("url").reset_index(drop=True)
    assert list(got["url"]) == list(exp["url"])
    assert (got["text"] == exp["scrubbed_text"]).all()
    assert (got["keep"] == exp["keep"]).all()

    def probe(batches):  # nested: shipped to the workers by value
        import importlib
        import os
        import time
        import zipimport

        import pandas as pd
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "skips_unchanged", False)
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        # as every function the engine ships does (and after measuring):
        # a worker that starts on this probe is guarded from its next task
        import ksana_corpus_builder_spark  # noqa: F401
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "t": [time.monotonic()],
                            "guarded": [guarded], "reads": [len(reads)]})

    if sys.version_info >= (3, 13):
        return
    rows = (spark.range(24, numPartitions=24)
            .mapInPandas(probe, "pid long, t double, guarded boolean, reads long")
            .toPandas())
    assert len(rows) == 24
    tasks = defaultdict(list)
    for r in rows.sort_values("t").itertuples():
        tasks[r.pid].append(r)
    assert any(len(ts) > 1 for ts in tasks.values()), "no worker was reused"
    for pid, ts in tasks.items():
        for r in ts[1:]:
            assert r.guarded and r.reads == 0, (pid, ts)
