"""Config-driven job invocation (the reference's <id>-corpus.json source,
S3): jobs/quality_filter_job.py --config merges JSON config under CLI
flags. Runs main() in-process against the shared test session."""

from __future__ import annotations

import json
import pathlib
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from ksana_corpus_builder_spark.sources.pages import make_pages_pdf

JOBS = pathlib.Path(__file__).resolve().parent.parent / "jobs"


def test_job_runs_from_config(spark, tmp_path, monkeypatch):
    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(pa.Table.from_pandas(make_pages_pdf(40)),
                   inp / "b0.parquet",
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    out = tmp_path / "out"
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({
        "input": str(inp), "output": str(out), "buckets": 2,
        "snapshot_id": 7,
    }))

    sys.path.insert(0, str(JOBS))
    import quality_filter_job as job

    monkeypatch.setattr(sys, "argv", ["job", "--config", str(cfg)])
    job.main()

    labels = spark.read.parquet(str(out / "labels"))
    assert labels.count() == 40
    metrics = spark.read.parquet(str(out / "metrics")).collect()
    assert all(r.input_snapshot_id == 7 for r in metrics)  # lineage carried


def test_job_config_cli_override(spark, tmp_path, monkeypatch):
    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(pa.Table.from_pandas(make_pages_pdf(10)),
                   inp / "b0.parquet",
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    cfg = tmp_path / "job.json"
    cfg.write_text(json.dumps({"input": str(tmp_path / "WRONG"),
                               "output": str(tmp_path / "o1")}))

    sys.path.insert(0, str(JOBS))
    import quality_filter_job as job

    out = tmp_path / "o2"
    monkeypatch.setattr(sys, "argv", [
        "job", "--config", str(cfg), "--input", str(inp),
        "--output", str(out)])  # flags beat config
    job.main()
    assert spark.read.parquet(str(out / "labels")).count() == 10


def test_job_reads_pages_without_an_inference_job(spark, tmp_path):
    """The job reads pages with their known schema: building the read
    runs no Spark job, where inferring the schema from the parquet
    footers runs one."""
    from ksana_corpus_builder_spark.sources.pages import PAGES_SCHEMA
    inp = tmp_path / "in"
    inp.mkdir()
    pq.write_table(pa.Table.from_pandas(make_pages_pdf(10)),
                   inp / "b0.parquet",
                   coerce_timestamps="us", allow_truncated_timestamps=True)
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "jobs"))
    import quality_filter_job as job

    sc = spark.sparkContext

    def jobs(group: str, build) -> int:
        """Spark jobs run while ``build()`` builds a read."""
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("read-pages", lambda: job.read_pages(spark, str(inp))) == 0
    assert jobs("read-inferred", lambda: spark.read.parquet(str(inp))) >= 1
    pages = job.read_pages(spark, str(inp))
    assert pages.schema == spark.createDataFrame([], PAGES_SCHEMA).schema
    assert pages.count() == 10
