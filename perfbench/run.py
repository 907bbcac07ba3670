"""The corpus-quality benchmark: the flagship job
``pages -> extract -> langid -> rules -> perplexity -> scrub ->
labels/scrubbed/metrics`` on seeded workloads.

Run from the repository root:

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 30 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

- ``pages_batch``: 40,000 generated html pages in 64 parquet files through
  ``quality_pipeline.process`` + ``write_outputs``.
- ``docs_short``: 80,000 pre-extracted ~300-char documents (doc_id, text)
  in 16 files through ``process_text_table(...).count()``.

A run is a closed loop: this one process submits each job after the
previous one finished, on ``local[nproc]``, and keeps submitting while a
job as long as the last one still fits in ``--seconds``. Before the loop it
stages the seed's inputs (verified by content digest, with the golden
oracle's expectation cached per file), starts the session and runs untimed
warm-up passes; after it, it checks every output url against the oracle.
With ``--trace 1`` the loop records spans and a layer sweep follows
(``layers.py``), which reports the per-layer metrics and the ledger and
writes the spans to ``perfbench/.work/spans/``.

Standard output: one line per metric, an environment record, a summary
JSON line, and last the result JSON line
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every job succeeded and every output matched the oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM = "ksana_corpus_builder_spark"
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import stage  # noqa: E402
import sysinfo  # noqa: E402
import tracing  # noqa: E402
from stage import Layout  # noqa: E402

WORKLOADS = {
    "pages_batch": Layout("pages", files=64, rows=625),
    "docs_short": Layout("docs", files=16, rows=5_000),
}


class Run:
    """One benchmark run: a session, a staged input, a closed loop."""

    def __init__(self, workload: str, staged: stage.Staged, cpus: int,
                 tracer: tracing.Tracer):
        from ksana_corpus_builder_spark.plans import quality_pipeline as qp
        self.qp = qp
        self.workload, self.layout = workload, staged.layout
        self.staged, self.cpus, self.tr = staged, cpus, tracer
        self.out = os.path.join(WORK, "out", workload)
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        self.spark = None

    # -- session ------------------------------------------------------------
    def start(self, cpus: int) -> float:
        from ksana_corpus_builder_spark.session import get_spark
        t0 = time.perf_counter()
        with self.tr.span("session.start", cpus=cpus):
            self.spark = get_spark(cpus=cpus, app_name="perfbench")
        return time.perf_counter() - t0

    def restart(self, cpus: int) -> float:
        """A new SparkContext with another master in the same JVM."""
        self.spark.stop()
        return self.start(cpus)

    def stop(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- jobs ---------------------------------------------------------------
    def read(self, paths: list[str] | None = None):
        return self.spark.read.parquet(*(paths or [self.staged.dir]))

    def rows(self, paths: list[str] | None) -> int:
        names = ([os.path.basename(p) for p in paths] if paths
                 else self.staged.names)
        return sum(self.staged.entries[n]["rows"] for n in names)

    def pages_job(self, paths: list[str] | None, out: str) -> None:
        with self.tr.span("quality_pipeline.process"):
            result = self.qp.process(self.read(paths))
        with self.tr.span("quality_pipeline.write_outputs"):
            self.qp.write_outputs(result, out)

    def docs_job(self, paths: list[str] | None) -> None:
        with self.tr.span("quality_pipeline.process_text_table"):
            self.qp.process_text_table(self.read(paths)).count()

    def docs_write(self, out: str) -> None:
        """process_text_table over the whole input, its checked columns
        written to ``out``."""
        with self.tr.span("quality_pipeline.process_text_table"):
            (self.qp.process_text_table(self.read())
             .select("doc_id", "keep", "text")
             .write.mode("overwrite").parquet(out))

    def job(self) -> None:
        """One job of the workload over its whole staged input."""
        if self.workload == "pages_batch":
            self.pages_job(None, self.out)
        else:
            self.docs_job(None)

    def warmup(self) -> float:
        """Untimed passes over a few files: the first job of a session
        pays for starting the Python workers and for compiling its plan
        and JIT code, whatever its size. The next jobs are still a little
        slower than later ones; on pages_batch the loop's median absorbs
        that rather than a full untimed pass, whose time the loop needs
        more. On docs_short the last pass writes the outputs that are
        checked, since its timed jobs only count."""
        t0 = time.perf_counter()
        with self.tr.span("session.warmup"):
            paths = self.staged.paths()
            if self.workload == "pages_batch":
                # 4 files: 4 partitions, so every core starts its worker
                self.pages_job(paths[:4], self.out + "-warm")
            else:
                self.docs_job(paths[:4])
                self.docs_write(os.path.join(self.out, "check"))
        return time.perf_counter() - t0

    def loop(self, seconds: float) -> tuple[list[float], int, int]:
        """Closed loop for ``seconds`` -> (walls of the jobs that
        succeeded, attempted, failed)."""
        walls: list[float] = []
        attempted = failed = 0
        t_start = time.perf_counter()
        while True:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tr.span("job", new_trace=True):
                    self.job()
            except Exception:  # a failed job is counted, the loop goes on
                traceback.print_exc()
                failed += 1
            else:
                walls.append(time.perf_counter() - t0)
            t1 = time.perf_counter()
            # submit the next job only if a job as long as the last one
            # still ends within the measured time
            if t1 - t_start + (t1 - t0) > seconds:
                return walls, attempted, failed

    def outputs(self) -> pd.DataFrame:
        """The outputs to check: (key, keep, scrubbed text) per document."""
        if self.workload == "pages_batch":
            lab = pq.read_table(os.path.join(self.out, "labels"),
                                columns=["url", "keep"]).to_pandas()
            txt = pq.read_table(os.path.join(self.out, "scrubbed"),
                                columns=["url", "text"]).to_pandas()
            return lab.merge(txt, on="url", how="outer")
        return pq.read_table(os.path.join(self.out, "check")).to_pandas()


def compare(exp: pd.DataFrame, got: pd.DataFrame, key: str) -> dict:
    """Outputs against the oracle over every key of either side."""
    from ksana_corpus_builder_spark.oracle import golden
    dups = int(got[key].duplicated().sum())
    m = exp.merge(got.drop_duplicates(key), on=key, how="outer",
                  suffixes=("_exp", "_got"), indicator=True)
    text_bad = (m["_merge"] != "both") | (m["text_exp"] != m["text_got"])
    f1 = golden.f1(m["keep_exp"].fillna(False).astype(bool),
                   m["keep_got"].fillna(False).astype(bool))
    h = hashlib.sha256()
    rows = got.sort_values(key)
    for k, keep, text in zip(rows[key], rows["keep"], rows["text"]):
        h.update(f"{k}\0{int(bool(keep))}\0{text}\0".encode("utf-8", "surrogatepass"))
    return {"keys": len(m), "keep_f1": f1,
            "text_mismatch_urls": int(text_bad.sum()) + dups,
            "output_digest": h.hexdigest()}


def metric(name: str, value: float, unit: str) -> dict:
    print(f"metric {name} = {value:.6g} {unit}")
    return {name: {"value": value, "unit": unit}}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, size the
    driver's memory to the machine, and let the Spark Python workers
    import the program."""
    for d in ("tmp", "spark-local", "spans"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, the launcher's too: temp files here, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = sysinfo.driver_mem()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PROGRAM)):
        print(f"perfbench: no {PROGRAM} package under {ROOT}", file=sys.stderr)
        return 2
    prepare_env()
    import pyarrow
    import pyspark

    import ksana_corpus_builder_spark  # noqa: F401  (fails loudly if broken)

    cpus = sysinfo.nproc()
    env = {"nproc": cpus, "loadavg_before": sysinfo.loadavg(),
           "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
           "python": sys.version.split()[0], "mem_total_mb": sysinfo.mem_total_mb(),
           "driver_mem": os.environ["SPARK_DRIVER_MEM"]}
    foreign = sysinfo.foreign_spark_jvms()
    if foreign:  # another Spark JVM would share the cores: do not time
        print(json.dumps({"env": env, "refused": f"other Spark JVMs running: {foreign}"}))
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    tr = tracing.Tracer(enabled=bool(args.trace))
    phases: dict[str, float] = {}

    @contextmanager
    def phase(name: str):
        t0 = time.perf_counter()
        yield
        phases[name] = round(time.perf_counter() - t0, 3)

    with phase("stage"):
        staged = stage.stage(
            WORKLOADS[args.workload], args.seed,
            os.path.join(WORK, "stage", args.workload), workers=cpus,
            source_digest=stage.tree_digest(os.path.join(ROOT, PROGRAM)),
            cache_dir=os.path.join(WORK, "oracle"))
    env.update(input_digest=staged.input_digest[:16], restaged=staged.restaged)
    run = Run(args.workload, staged, cpus, tr)
    try:
        # the sampler walks /proc every 0.1 s: only traced runs, which
        # report its peak, pay that load on the measured cores
        with sysinfo.PeakRss() if args.trace else nullcontext() as rss:
            start_s = run.start(cpus)
            warm_s = run.warmup()
            with phase("loop"):
                traced_before = tr.overhead
                walls, attempted, failed = run.loop(args.seconds)
                loop_trace_s = tr.overhead - traced_before
        if not walls:
            raise RuntimeError("no job succeeded")
        with phase("check"):
            check = compare(stage.expectations(staged),
                            run.outputs(), staged.layout.key)
        if check["text_mismatch_urls"] or check["keep_f1"] != 1.0:
            failed += 1  # the job whose outputs were checked
        print(f"  {len(walls)} jobs of {run.rows(None)} docs, walls (s): "
              + " ".join(f"{w:.3f}" for w in walls))
        e2e = metric("docs_per_sec", run.rows(None) / tracing.median(walls), "docs/s")
        e2e.update(metric("setup_s", start_s + warm_s, "s"))
        e2e.update(metric("keep_f1", check["keep_f1"], "ratio"))
        print(f"  text_mismatch_urls = {check['text_mismatch_urls']} of "
              f"{check['keys']} urls; error_rate = {failed}/{attempted}; "
              f"output_digest = {check['output_digest']}")
        metrics = e2e
        if args.trace:
            import layers
            with phase("sweep"):
                metrics = layers.sweep(run, walls, start_s, warm_s,
                                       rss.peak_mb, loop_trace_s, metric)
            path = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl")
            tr.write(path)
            print(f"  spans written to {os.path.relpath(path, ROOT)}")
    finally:
        with phase("stop"):
            run.stop()
            killed = sysinfo.reap()
    env.update(phases=phases, loadavg_after=sysinfo.loadavg(), killed=killed)
    print(json.dumps({"env": env}))
    print(json.dumps({"summary": {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "docs_per_sec": round(e2e["docs_per_sec"]["value"], 1),
        "setup_s": round(e2e["setup_s"]["value"], 3),
        "error_rate": round(failed / attempted, 6),
        "output_digest": check["output_digest"][:16]}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
