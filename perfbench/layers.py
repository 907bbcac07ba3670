"""The traced layer sweep: per-layer metrics and the ledger.

Runs after the timed loop of a ``--trace 1`` run, on the same session and
the same staged input. Every step is one call (or a few) into a public
function of the program, wrapped in a span; each metric is read from the
spans, so the spans file holds what the metrics were computed from.

Layers (modules of ``ksana_corpus_builder_spark``) and what each step
measures:

- ``session``: start and warm-up of the session and the peak resident
  memory of the process tree (from the run itself).
- ``sources``: an identity ``mapInPandas`` over exactly the columns the
  pipeline receives (scan + Arrow transfer both ways, no kernel), the
  Arrow size of those columns per document, the scan's partition count and
  its row skew.
- ``functions.*``: the bare kernels, single-threaded in this process, over
  the workload's own documents in its first quarter of files, cut into
  frames of an Arrow batch's size; the input properties and the rule and
  scrub hit counts come from the same documents.
- ``plans.quality_pipeline``: the pipeline counted without a write, the
  pipeline written, the derived tables re-read and written.
- ``streaming.incremental``: ``process_new`` over the first three staged
  files, one increment per call.
- ``scaling``: the batch job over that quarter on ``local[1]`` against
  ``local[nproc]``.
- ``trace``: the time the tracer spent recording spans during the loop.

The ledger decomposes the median job of the loop: the scan + Arrow floor,
the kernel chain (single-threaded time over the cores) and the write, each
scaled pro rata to the job's documents, and the residual none of them
explains.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

import tracing

ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch (session.py)
INCREMENTS = 3
# kernel spans, in the order the fused batch runs them
KERNELS = ("text.extract", "wordstream.build", "wordstream.char_stats",
           "quality.rules", "langid.detect", "scrub.scrub", "perplexity.score")


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def input_columns(kind: str) -> list[str]:
    """The columns the pipeline's mapInPandas receives: process() hands
    over the whole pages frame, process_text_table() selects two."""
    if kind == "pages":
        return ["url", "warc_ts", "html", "text", "lang"]
    return ["doc_id", "text"]


def sources(run, metric) -> dict:
    from pyspark.sql import functions as F
    tr, cols, m = run.tr, input_columns(run.layout.kind), {}

    def identity(batches):  # nested: shipped to the workers by value
        yield from batches

    with tr.span("sources.floor") as floor:
        df = run.read().select(*cols)
        df.mapInPandas(identity, schema=df.schema).count()
    m.update(metric("sources.floor_s", floor.seconds, "s"))
    nbytes = sum(pq.read_table(p, columns=cols).nbytes for p in run.staged.paths())
    m.update(metric("sources.arrow_bytes_per_doc", nbytes / run.rows(None), "B/doc"))
    with tr.span("sources.partitions"):
        df = run.read()
        parts = df.rdd.getNumPartitions()
        per = [r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    m.update(metric("sources.partitions", parts, "count"))
    m.update(metric("sources.rows_max_over_median", max(per) / tracing.median(per),
                    "ratio"))
    return m


def input_properties(pdf: pd.DataFrame, metric) -> dict:
    """Properties of the generated input that kernels branch on."""
    text = pdf["text"]
    m = metric("input.mean_chars", float(text.str.len().mean()), "chars")
    # scrub's per-rule gates start from a digit probe
    m.update(metric("input.digit_doc_share",
                    float(text.str.contains(r"[0-9]").mean()), "ratio"))
    # perplexity packs ascii text into one byte per character, CJK into two
    m.update(metric("input.nonascii_doc_share",
                    float(text.map(lambda t: not t.isascii()).mean()), "ratio"))
    raw = pdf["html"] if "html" in pdf else text.str.encode("utf-8")
    m.update(metric("input.bom_crlf_share", float(raw.map(
        lambda b: b.startswith(b"\xef\xbb\xbf") or b"\r\n" in b).mean()), "ratio"))
    return m


def quarter(run) -> list[str]:
    """The first quarter of the staged files: the kernel and scaling steps
    run on it to keep a traced run short."""
    return run.staged.paths()[: max(1, run.layout.files // 4)]


def kernels(run, metric) -> tuple[dict, float, int]:
    """Bare kernel chain, single-threaded, over the first quarter of the
    input -> (metrics, seconds of the chain the workload's job runs,
    documents)."""
    from ksana_corpus_builder_spark.functions import langid, quality, scrub, wordstream
    from ksana_corpus_builder_spark.functions.perplexity import perplexity_series
    from ksana_corpus_builder_spark.functions.text import extract_text
    tr, pages = run.tr, run.layout.kind == "pages"
    cols = ["html", "text"] if pages else ["text"]
    pdf = pd.concat([pq.read_table(p, columns=cols).to_pandas()
                     for p in quarter(run)], ignore_index=True)
    m = input_properties(pdf, metric)
    kept = changed = 0
    hits = dict.fromkeys(quality.RULE_NAMES, 0)
    scrub_hits = dict.fromkeys(scrub.SCRUB_RULE_NAMES, 0)
    for lo in range(0, len(pdf), ARROW_BATCH):
        frame = pdf.iloc[lo: lo + ARROW_BATCH]
        with tr.span("kernels.frame", new_trace=True, docs=len(frame)):
            with tr.span("text.extract"):
                text = extract_text(frame["html" if pages else "text"])
            if not pages:  # process_text_table runs no extract
                text = frame["text"].fillna("")
            with tr.span("wordstream.build"):
                words = text.str.split()
                stream = wordstream.build(words)
            with tr.span("wordstream.char_stats"):
                chars = wordstream.char_stats(text)
            with tr.span("quality.rules"):
                labels = quality.rules_hit_and_keep(text, words, stream, chars)
            with tr.span("langid.detect"):
                langid.detect(text, words, stream, chars)
            with tr.span("scrub.scrub"):
                sc = scrub.scrub_series(text)
            with tr.span("perplexity.score"):
                perplexity_series(text)
        kept += int(labels["keep"].sum())
        for rh in labels["rules_hit"]:
            for r in rh:
                hits[r] += 1
        for r in scrub_hits:
            scrub_hits[r] += int(sc[f"scrub_{r}"].sum())
        changed += int((sc["text"] != text).sum())
    n = len(pdf)
    chain = 0.0
    for name in KERNELS:
        s = tr.total(name)
        m.update(metric(name + "_s", s, "s"))
        if pages or name != "text.extract":
            chain += s
    m.update(metric("kernels.docs_per_sec_core", n / chain, "docs/s"))
    m.update(metric("quality.keep_ratio", kept / n, "ratio"))
    for r, c in hits.items():
        m.update(metric(f"quality.hits.{r}", c, "count"))
    for r, c in scrub_hits.items():
        m.update(metric(f"scrub.hits.{r}", c, "count"))
    m.update(metric("scrub.docs_changed_ratio", changed / n, "ratio"))
    return m, chain, n


def pipeline(run, metric) -> tuple[dict, dict]:
    """quality_pipeline over the whole staged input -> (metrics, timings)."""
    qp, tr, m = run.qp, run.tr, {}
    pages = run.layout.kind == "pages"
    plan = qp.process if pages else qp.process_text_table
    out = os.path.join(run.out, "layers")
    shutil.rmtree(out, ignore_errors=True)
    with tr.span("layers.process_count", new_trace=True) as count:
        plan(run.read()).count()
    with tr.span("layers.write_result", new_trace=True) as write:
        plan(run.read()).write.mode("overwrite").parquet(f"{out}/result")
    with tr.span("layers.derived_tables", new_trace=True) as derived:
        full = run.spark.read.parquet(f"{out}/result")
        if pages:
            labels, scrubbed = qp.labels(full), qp.scrubbed(full)
        else:  # the documents shape keys its rows by doc_id, not url
            labels = full.select("doc_id", "keep", "rules_hit",
                                 "lang_detected", "perplexity")
            scrubbed = full.select("doc_id", "text")
        labels.write.mode("overwrite").parquet(f"{out}/labels")
        scrubbed.write.mode("overwrite").parquet(f"{out}/scrubbed")
        qp.metrics(full).write.mode("overwrite").parquet(f"{out}/metrics")
    t = {"process": count.seconds, "write_result": write.seconds,
         "derived_tables": derived.seconds}
    for k, v in t.items():
        m.update(metric(f"quality_pipeline.{k}_s", v, "s"))
    m.update(metric("quality_pipeline.out_bytes_per_doc",
                    _du(out) / run.rows(None), "B/doc"))
    return m, t


def incremental(run, write_result_s: float, metric) -> dict:
    """process_new over the first INCREMENTS staged files, one increment
    per call. The fixed share is the part of an increment's time that its
    pro-rata share of the batch job (the pipeline written over the whole
    input) does not explain."""
    from ksana_corpus_builder_spark.streaming import incremental as inc
    batch = run.qp.process if run.layout.kind == "pages" else run.qp.process_text_table
    tr = run.tr
    src = os.path.join(run.out, "layers-increments-in")
    out = os.path.join(run.out, "layers-increments")
    os.makedirs(src)
    for p in run.staged.paths()[:INCREMENTS]:
        os.link(p, os.path.join(src, os.path.basename(p)))
    walls, lists, docs = [], [], []
    for _ in range(INCREMENTS):
        with tr.span("incremental.list_increments", new_trace=True) as ls:
            inc.list_increments(src)
        lists.append(ls.seconds)
        with tr.span("incremental.process_new", new_trace=True) as call:
            res = inc.process_new(run.spark, src, out,
                                  lambda df, _: batch(df), max_increments=1)
        walls.append(call.seconds)
        docs.append(res[0].n_rows)
    job = tracing.median(walls)
    pro_rata = write_result_s * tracing.median(docs) / run.rows(None)
    m = metric("incremental.job_s", job, "s")
    m.update(metric("incremental.fixed_share", (job - pro_rata) / job, "ratio"))
    m.update(metric("incremental.list_ms", 1000 * tracing.median(lists), "ms"))
    return m


def scaling(run, metric) -> dict:
    """Batch job over a quarter of the files, local[nproc] against
    local[1] in a new SparkContext of the same JVM. Runs last: it leaves
    the session on one core."""
    tr, paths = run.tr, quarter(run)
    out = os.path.join(run.out, "layers-scaling")

    def job(paths):
        if run.layout.kind == "pages":
            run.pages_job(paths, out)
        else:
            run.docs_job(paths)

    with tr.span("scaling.job", new_trace=True, cpus=run.cpus) as many:
        job(paths)
    run.restart(1)
    job(paths[:1])  # start the new context's Python worker
    with tr.span("scaling.job", new_trace=True, cpus=1) as one:
        job(paths)
    return metric("scaling.eff_1_to_4", one.seconds / (run.cpus * many.seconds),
                  "ratio")


def sweep(run, walls: list[float], start_s: float, warm_s: float,
          peak_rss_mb: float, loop_trace_s: float, metric) -> dict:
    """Every per-layer metric of this run's workload; prints the ledger."""
    m = metric("session.start_s", start_s, "s")
    m.update(metric("session.warmup_s", warm_s, "s"))
    # the process tree (JVM + Python workers) from session start to the
    # end of the loop
    m.update(metric("session.peak_rss_mb", peak_rss_mb, "MB"))
    m.update(sources(run, metric))
    km, chain_s, kdocs = kernels(run, metric)
    m.update(km)
    pm, t = pipeline(run, metric)
    m.update(pm)
    m.update(incremental(run, t["write_result"], metric))

    n = run.rows(None)
    # pages_batch writes the result and the derived tables; docs_short
    # only counts
    write_s = (t["write_result"] - t["process"] + t["derived_tables"]
               if run.workload == "pages_batch" else 0.0)
    led = tracing.ledger(job_s=tracing.median(walls), job_docs=n,
                         floor_s=m["sources.floor_s"]["value"], floor_docs=n,
                         kernel_single_s=chain_s, kernel_docs=kdocs,
                         cpus=run.cpus, write_s=write_s, write_docs=n)
    print("ledger of one job (s): " + ", ".join(
        f"{k} {v:.4g}" for k, v in led.lines().items()))
    m.update(metric("ledger.job_s", led.job_s, "s"))
    m.update(metric("ledger.residual_s", led.residual_s, "s"))
    m.update(metric("ledger.residual_share", led.residual_share, "ratio"))
    # the loop's wall time over what it would be without span bookkeeping
    m.update(metric("trace.overhead_ratio",
                    sum(walls) / (sum(walls) - loop_trace_s), "ratio"))
    m.update(scaling(run, metric))
    return m
