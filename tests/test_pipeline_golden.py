"""North-rule golden tests: the Spark pipeline vs the pure-pandas oracle.

- keep/drop F1 >= 0.99 (BASELINE.json)
- scrubbed text BYTE-IDENTICAL per url
- extraction byte-identical (pages.text column == extract_text(html))
- metrics table accounts for every document, one lineage row per task
- write_outputs is one job whose task-written tables read back as the
  projections of process(); a failed job or attempt commits nothing
"""

from __future__ import annotations

import io
import json
import os
import re
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ksana_corpus_builder_spark.functions import quality as Q
from ksana_corpus_builder_spark.functions import scrub as S
from ksana_corpus_builder_spark.oracle import golden
from ksana_corpus_builder_spark.plans import quality_pipeline as qp
from ksana_corpus_builder_spark.sources.pages import PAGES_SCHEMA, make_pages_pdf, pages_df

N = 200


@pytest.fixture(scope="module")
def pages_pdf():
    return make_pages_pdf(N, seed=42)


@pytest.fixture(scope="module")
def spark_result(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf)
    return qp.process(df, buckets=8).toPandas().sort_values("url").reset_index(drop=True)


@pytest.fixture(scope="module")
def oracle_result(pages_pdf):
    return golden.run(pages_pdf).sort_values("url").reset_index(drop=True)


def test_extraction_byte_identity(pages_pdf):
    # the input table's text column IS the extraction contract
    from ksana_corpus_builder_spark.functions.text import extract_text
    ext = extract_text(pages_pdf["html"])
    assert (ext == pages_pdf["text"]).all()


def test_scrubbed_byte_identity(spark_result, oracle_result):
    assert list(spark_result["url"]) == list(oracle_result["url"])
    mism = (spark_result["text"] != oracle_result["scrubbed_text"]).sum()
    assert mism == 0, f"{mism} urls differ"


def test_keep_f1(spark_result, oracle_result):
    f1 = golden.f1(oracle_result["keep"].astype(bool),
                   spark_result["keep"].astype(bool))
    assert f1 >= 0.99, f"F1={f1}"


def test_labels_have_drops_and_keeps(oracle_result):
    # fixture sanity: both classes present, rules fire
    keeps = int(oracle_result["keep"].sum())
    assert 0 < keeps < len(oracle_result)
    assert oracle_result["rules_hit"].map(len).sum() > 0


def test_langid_agreement(spark_result, oracle_result):
    assert (spark_result["lang_detected"] == oracle_result["lang_detected"]).all()


def test_perplexity_agreement(spark_result, oracle_result):
    a = spark_result["perplexity"].to_numpy()
    b = oracle_result["perplexity"].to_numpy()
    assert ((a == b) | (pd.isna(a) & pd.isna(b))).all()


def test_metrics_account_for_all_docs(spark, pages_pdf):
    df = spark.createDataFrame(pages_pdf)
    res = qp.process(df, buckets=8)
    m = qp.metrics(res, input_snapshot_id=7).toPandas()
    assert m["n_docs"].sum() == N
    assert (m["input_snapshot_id"] == 7).all()
    assert m["n_kept"].sum() <= N
    # rule hit counts aggregate to the oracle's totals
    orc = golden.run(pages_pdf)
    total_hits = int(orc["rules_hit"].map(len).sum())
    got_hits = int(sum(sum(d.values()) for d in m["rule_hit_counts"]))
    assert got_hits == total_hits


def test_write_outputs_runs_one_job_without_shuffle(spark, pages_pdf, tmp_path):
    """The kernel pass's tasks write result, labels and scrubbed; metrics
    and the run record come from the rows the tasks return: one job of one
    stage (no shuffle, no re-read)."""
    result = qp.process(spark.createDataFrame(pages_pdf))
    sc = spark.sparkContext
    sc.setJobGroup("write-outputs", "write_outputs")
    try:
        qp.write_outputs(result, str(tmp_path))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("write-outputs")
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1


def test_metrics_table_is_per_task_lineage(spark, pages_pdf, tmp_path):
    """write_outputs' metrics hold one row per task of the kernel pass,
    counted in that pass: bucket ids 0-7 with each bucket's docs, the
    schema the metrics() query gives a stored result, totals that match
    labels and the golden oracle, and no doubled row when the same
    process() result runs twice."""
    out = str(tmp_path)
    result = qp.process(spark.createDataFrame(pages_pdf), buckets=8)
    assert result.count() == N  # a first action over the same plan
    record = qp.write_outputs(result, out, snapshot_id=7)

    m = spark.read.parquet(f"{out}/metrics")
    stored = qp.metrics(spark.read.parquet(f"{out}/result"), input_snapshot_id=7)
    stored.write.parquet(f"{out}/metrics-query")
    assert m.schema == spark.read.parquet(f"{out}/metrics-query").schema

    got = m.toPandas().sort_values("partition_id").reset_index(drop=True)
    bucket = (spark.createDataFrame(pages_pdf)
              .groupBy(F.expr("pmod(hash(xxhash64(url)), 8)").alias("pid"))
              .count().toPandas().sort_values("pid"))
    assert got["partition_id"].tolist() == list(range(8))
    assert got["n_docs"].tolist() == bucket["count"].tolist()
    assert (got["input_snapshot_id"] == 7).all()

    lab = spark.read.parquet(f"{out}/labels").toPandas()
    assert got["n_docs"].sum() == len(lab) == N
    assert got["n_kept"].sum() == lab["keep"].sum()
    orc = golden.run(pages_pdf)
    hits = {r: sum(d[r] for d in got["rule_hit_counts"]) for r in Q.RULE_NAMES}
    assert hits == {r: int(orc["rules_hit"].map(lambda h: r in h).sum())
                    for r in Q.RULE_NAMES}
    scrub = {n: sum(d[n] for d in got["scrub_stats"]) for n in S.SCRUB_RULE_NAMES}
    assert scrub == {n: int(orc[f"scrub_{n}"].sum()) for n in S.SCRUB_RULE_NAMES}

    # the run record holds the same totals
    with open(f"{out}/_run.json") as f:
        assert json.load(f) == record
    assert record["input_snapshot_id"] == 7
    assert record["partitions"] == 8
    assert record["totals"] == {"docs": N, "kept": int(lab["keep"].sum()),
                                "rule_hits": hits, "scrub": scrub}
    rows = got["n_docs"]
    assert record["skew"]["rows_max_over_median"] == rows.max() / rows.median()
    assert record["skew"]["kernel_ns_max_over_median"] >= 1.0


def _check_stage_ns(kernel_ns: dict, extract: bool) -> None:
    """Every kernel stage ran (extract only on the html path) and the
    stages add up to at most the kernel ns they are part of."""
    stages = {k: v for k, v in kernel_ns.items() if k != "total"}
    assert list(stages) == list(qp.STAGES)
    assert sum(stages.values()) <= kernel_ns["total"]
    assert (stages["extract"] > 0) == extract
    assert all(v > 0 for k, v in stages.items() if k != "extract")


def test_run_record_times_each_kernel_stage(spark, pages_pdf, tmp_path):
    """The run record carries the kernel ns of each stage, summed from
    the per-batch timings in the tasks' lineage rows."""
    result = qp.process(spark.createDataFrame(pages_pdf), buckets=4)
    _check_stage_ns(qp.write_outputs(result, str(tmp_path))["kernel_ns"],
                    extract=True)


def test_text_table_runs_no_extract_stage():
    """A text batch's lineage counters: every doc counted, no extract ns,
    every other stage timed."""
    docs = pd.DataFrame({"doc_id": range(50),
                         "text": ["the cat sat on the mat"] * 50})
    out, row = qp._process_batch(docs, None, qp._columns(qp.TEXT_RESULT_SCHEMA))
    assert len(out) == row[0] == 50
    assert row[qp._KERNEL_NS] == 0  # the task loop adds the batch's total
    row[qp._KERNEL_NS] = row[qp._KERNEL_NS + 1:].sum()
    _check_stage_ns(qp._run_record(row[None, :], 0)["kernel_ns"], extract=False)


def test_plan_builds_register_no_accumulator(spark, pages_pdf):
    """Building a kernel-pass plan leaves nothing behind in the driver:
    no accumulator is registered per plan."""
    from pyspark import accumulators
    pages = spark.createDataFrame(pages_pdf)
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b"]}))
    before = len(accumulators._accumulatorRegistry)
    for _ in range(50):
        qp.process(pages, buckets=2)
        qp.process_text_table(docs)
    assert len(accumulators._accumulatorRegistry) == before


def test_write_outputs_needs_a_process_result(spark, pages_pdf, tmp_path):
    result = qp.process(spark.createDataFrame(pages_pdf))
    with pytest.raises(ValueError):
        qp.write_outputs(result.select("*"), str(tmp_path))


def test_distributed_generator_matches_pandas(spark, pages_pdf):
    got = pages_df(spark, N, seed=42).toPandas().sort_values("url").reset_index(drop=True)
    exp = pages_pdf.sort_values("url").reset_index(drop=True)
    assert (got["text"] == exp["text"]).all()
    assert (got["lang"] == exp["lang"]).all()


def test_pipeline_hooks_extra_rule(spark):
    """U2 lifecycle hooks: a plugged vectorized rule merges into
    rules_hit/keep inside the fused pass; stock hooks stay bit-identical."""
    from ksana_corpus_builder_spark.plans import quality_pipeline as qp
    from ksana_corpus_builder_spark.sources.pages import pages_df
    pages = pages_df(spark, 80)

    base = qp.process(pages).select("url", "keep", "rules_hit").collect()
    stock = qp.process(pages, hooks=qp.PipelineHooks()).select(
        "url", "keep", "rules_hit").collect()
    assert sorted((r.url, r.keep, list(r.rules_hit)) for r in base) == \
        sorted((r.url, r.keep, list(r.rules_hit)) for r in stock)

    hooks = qp.PipelineHooks(extra_rules={
        "has_the": lambda text: text.str.contains("the", regex=False)})
    out = qp.process(pages, hooks=hooks).select(
        "url", "keep", "rules_hit").collect()
    by_url = {r.url: r for r in out}
    base_by_url = {r.url: r for r in base}
    hit_any = False
    for url, r in by_url.items():
        b = base_by_url[url]
        if "has_the" in list(r.rules_hit):
            hit_any = True
            assert not r.keep
            assert list(r.rules_hit) == list(b.rules_hit) + ["has_the"]
        else:
            assert (r.keep, list(r.rules_hit)) == (b.keep, list(b.rules_hit))
    assert hit_any, "no page tripped the plugged rule - test data too clean"


def test_pipeline_hooks_on_batch_observer(spark):
    """on_batch runs on executors per Arrow batch - observable via a Spark
    accumulator, without touching the output."""
    from ksana_corpus_builder_spark.plans import quality_pipeline as qp
    from ksana_corpus_builder_spark.sources.pages import pages_df
    acc = spark.sparkContext.accumulator(0)

    def observe(pdf):
        acc.add(len(pdf))

    pages = pages_df(spark, 60)
    n = qp.process(pages, hooks=qp.PipelineHooks(on_batch=observe)).count()
    assert n == 60
    assert acc.value == 60


def test_text_table_hooks_parity(spark):
    """process_text_table honors the same hook contract as process()."""
    from ksana_corpus_builder_spark.plans import quality_pipeline as qp
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hooks = qp.PipelineHooks(extra_rules={
        "has_the": lambda text: text.str.contains("the", regex=False)})
    out = qp.process_text_table(docs, hooks=hooks) \
        .where("array_contains(rules_hit, 'has_the')")
    n = out.count()
    assert n > 0
    assert out.where("keep").count() == 0  # plugged rule forces drop


def test_process_scan_leaves_out_input_text(spark, tmp_path):
    """process() extracts ``html`` and never reads the staged ``text``, so
    the parquet scan must not read it either."""
    path = str(tmp_path / "pages")
    spark.createDataFrame(make_pages_pdf(40)).write.parquet(path)
    buf = io.StringIO()
    with redirect_stdout(buf):
        qp.process(spark.read.parquet(path), buckets=4).explain()
    scans = re.findall(r"ReadSchema: (\S+)", buf.getvalue())
    assert len(scans) == 1, buf.getvalue()
    assert "html:binary" in scans[0]
    assert "text:" not in scans[0], scans[0]


def _hostile_pages() -> pd.DataFrame:
    """Html that a crawl can hand the pipeline: invalid UTF-8 (an encoded
    surrogate, stray continuation and truncated sequences, a lone lead
    byte), null, empty and whitespace-only pages, a page past MAX_WORDS and
    one past MAX_LINE_LEN; then generated pages, 10,001 rows in all."""
    html = [
        b"<p>bad \xed\xa0\x80 surrogate</p>",
        b"<p>\xed\xa0\x80\xed\xb0\x80 pair of halves</p>",
        b"\xff\xfe<html><body><p>no bom</p></body></html>",
        b"<p>trunc\xe4\xb8</p><p>x\x80y\xc3(z</p>",
        b"<p>" + b"\xf0\x9f\x8e" * 40 + b"</p>",
        None, b"", b" ", b" \n\t\r\n  ", b"<p>   </p>\n",
        b"<p>" + b"ab " * 100_001 + b"</p>",  # past MAX_WORDS
        b"<p>" + b"word " * 1_000 + b"</p>",  # one line past MAX_LINE_LEN
    ]
    gen = make_pages_pdf(200, seed=11)
    html += [gen["html"].iloc[i % len(gen)] for i in range(10_001 - len(html))]
    n = len(html)
    return pd.DataFrame({
        "url": [f"http://hostile.example/{i:05d}" for i in range(n)],
        "warc_ts": pd.Timestamp("2024-03-01"),
        "html": html,
        "text": None,
        "lang": "en",
    })


def test_hostile_html_matches_golden(spark):
    """Hostile html through process() matches golden.run byte for byte;
    one partition of 10,001 rows crosses the Arrow boundary as two batches
    (maxRecordsPerBatch 10,000), the second with one row."""
    pages = _hostile_pages()
    df = spark.createDataFrame(
        pages, "url string, warc_ts timestamp, html binary, text string, lang string")
    batches = spark.sparkContext.accumulator(0)
    one_row = spark.sparkContext.accumulator(0)

    def observe(out):
        batches.add(1)
        one_row.add(int(len(out) == 1))

    hooks = qp.PipelineHooks(on_batch=observe)
    got = (qp.process(df, buckets=1, hooks=hooks).toPandas()
           .sort_values("url").reset_index(drop=True))
    assert (batches.value, one_row.value) == (2, 1)
    exp = golden.run(pages).sort_values("url").reset_index(drop=True)
    assert list(got["url"]) == list(exp["url"])
    cols = ["keep", "lang_detected"] + [c for c in exp.columns if c.startswith("scrub_")]
    for c in cols:
        assert (got[c] == exp[c]).all(), c
    assert (got["text"] == exp["scrubbed_text"]).all()
    assert list(map(list, got["rules_hit"])) == list(map(list, exp["rules_hit"]))
    a, b = got["perplexity"].to_numpy(), exp["perplexity"].to_numpy()
    assert ((a == b) | (pd.isna(a) & pd.isna(b))).all()


def _parity_pages() -> pd.DataFrame:
    """Generated pages and the first hostile rows (invalid UTF-8, null,
    empty and whitespace html, a page past MAX_WORDS), with warc_ts
    instants 7 minutes apart across a US daylight-saving switch."""
    pages = pd.concat([make_pages_pdf(N, seed=42), _hostile_pages().iloc[:12]],
                      ignore_index=True)
    pages["warc_ts"] = pd.date_range("2024-03-09 20:00", periods=len(pages),
                                     freq="7min", tz="UTC")
    return pages


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_written_tables_match_process(spark, tmp_path, tz):
    """The tables the kernel pass's tasks write read back in Spark with
    the schema and the rows of the matching projection of process(), in
    any session time zone; warc_ts holds the input's instants."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        pages = spark.createDataFrame(_parity_pages(), PAGES_SCHEMA)
        result = qp.process(pages, buckets=4)
        qp.write_outputs(result, str(tmp_path))
        expected = {"result": result, "labels": qp.labels(result),
                    "scrubbed": qp.scrubbed(result)}
        for table, exp in expected.items():
            got = spark.read.parquet(str(tmp_path / table))
            assert got.schema == exp.schema, table
            assert got.exceptAll(exp).isEmpty(), table
            assert exp.exceptAll(got).isEmpty(), table
        stamps = spark.read.parquet(str(tmp_path / "result")).select("url", "warc_ts")
        assert stamps.exceptAll(pages.select("url", "warc_ts")).isEmpty()
        assert stamps.count() == len(_parity_pages())
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_failed_write_keeps_the_previous_output(spark, pages_pdf, tmp_path):
    """A task that fails fails write_outputs, and nothing of the failed
    job is committed: the previous output in the same directory reads back
    unchanged, and no temporary files remain."""
    out = str(tmp_path)
    pages = spark.createDataFrame(pages_pdf)
    record = qp.write_outputs(qp.process(pages), out)
    tables = ("result", "labels", "scrubbed", "metrics")
    before = {t: spark.read.parquet(f"{out}/{t}").toPandas() for t in tables}
    files = {t: sorted(os.listdir(f"{out}/{t}")) for t in tables}

    def raise_in_task_0(out):  # nested: the workers unpickle it by value
        from pyspark import TaskContext
        if TaskContext.get().partitionId() == 0:
            raise RuntimeError("injected failure in task 0")

    failing = qp.process(pages, hooks=qp.PipelineHooks(on_batch=raise_in_task_0))
    with pytest.raises(Exception, match="injected failure in task 0"):
        qp.write_outputs(failing, out)

    assert not os.path.exists(f"{out}/_temporary")
    for t in tables:
        assert sorted(os.listdir(f"{out}/{t}")) == files[t], t
        got = spark.read.parquet(f"{out}/{t}").toPandas()
        pd.testing.assert_frame_equal(got, before[t])
    with open(f"{out}/_run.json") as f:
        assert json.load(f) == record


# A driver on local[2,2] (each task may run twice) whose on_batch hook
# fails the first attempt of task 0 while write_outputs runs.
_RETRY_CHILD = r"""
import sys
from pyspark import TaskContext
from ksana_corpus_builder_spark.plans import quality_pipeline as qp
from ksana_corpus_builder_spark.session import get_spark
from ksana_corpus_builder_spark.sources.pages import make_pages_pdf


def fail_first_attempt_of_task_0(out):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected failure of attempt 0")


spark = get_spark(cpus=2, extra_conf={"spark.master": "local[2,2]"})
pages = spark.createDataFrame(make_pages_pdf(int(sys.argv[2]), seed=3))
hooks = qp.PipelineHooks(on_batch=fail_first_attempt_of_task_0)
qp.write_outputs(qp.process(pages, hooks=hooks), sys.argv[1])
"""


def test_retried_task_commits_only_its_last_attempt(spark, tmp_path):
    """Task 0 fails once and is retried: the write succeeds, every url is
    written once, and task 0's committed file is its second attempt's."""
    import subprocess
    import sys
    out, n = str(tmp_path / "out"), 40
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_DRIVER_MEM": "1g",
           "SPARK_LOCAL_DIRS": str(tmp_path / "local")}
    child = subprocess.run([sys.executable, "-c", _RETRY_CHILD, out, str(n)],
                           env=env, capture_output=True, text=True, timeout=300)
    assert child.returncode == 0, child.stderr[-4000:]
    assert "injected failure of attempt 0" in child.stderr
    for table in ("result", "labels", "scrubbed"):
        parts = sorted(os.listdir(f"{out}/{table}"))
        assert parts == ["_SUCCESS", "part-00000-1.snappy.parquet",
                         "part-00001-0.snappy.parquet"], (table, parts)
        urls = spark.read.parquet(f"{out}/{table}").select("url")
        assert urls.count() == urls.distinct().count() == n, table
    assert not os.path.exists(f"{out}/_temporary")
    with open(f"{out}/_run.json") as f:
        assert json.load(f)["totals"]["docs"] == n


def test_write_outputs_of_an_empty_input(spark, pages_pdf, tmp_path):
    """No pages: every table is written and reads back empty, in its
    schema; the run record counts no docs."""
    out = str(tmp_path)
    result = qp.process(spark.createDataFrame(pages_pdf).limit(0))
    record = qp.write_outputs(result, out)
    assert record["totals"]["docs"] == 0
    for table, exp in {"result": result, "labels": qp.labels(result),
                       "scrubbed": qp.scrubbed(result)}.items():
        got = spark.read.parquet(f"{out}/{table}")
        assert got.schema == exp.schema, table
        assert got.isEmpty(), table
    assert spark.read.parquet(f"{out}/metrics").agg(F.sum("n_docs")).first()[0] in (0, None)
