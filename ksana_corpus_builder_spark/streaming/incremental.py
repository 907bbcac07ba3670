"""Manifest-based checkpoint/resume for batch increments.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". On a cluster this is Iceberg snapshot-increment reads
(`spark.read.format("iceberg").option("start-snapshot-id", ...)`); this
module implements the same contract over plain parquet directories so it
runs anywhere (the sandbox has no Iceberg runtime jar):

- an input "table" is a directory of parquet files; each file is an
  immutable increment (an Iceberg snapshot's data files);
- the checkpoint is a manifest directory of committed-increment markers,
  written ONLY AFTER the increment's output commit succeeds, so a crash
  between data write and marker write re-processes (output overwrite per
  increment keeps that idempotent — exactly-once effective semantics);
- `process_new` lists input files, subtracts the manifest (driver-side set
  difference on file names — metadata-sized, never data-sized), and runs
  the user's batch function only over new files.

Lineage: every increment's marker records its increment id, output path
and row count, the count observed during the output write itself (no
re-read) — the Spark re-imagination of the reference's buildMeta
provenance (index.js:293-318).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _safe_name(fn: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", fn)


@dataclass
class IncrementResult:
    increment: str
    n_rows: int
    out_path: str
    seconds: float


class Checkpoint:
    """Manifest of committed increments under `<dir>/_manifest/`."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.manifest_dir = os.path.join(out_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    def committed(self) -> set[str]:
        return {
            fn[:-5] for fn in os.listdir(self.manifest_dir)
            if fn.endswith(".json")
        }

    def read_marker(self, increment: str) -> dict:
        with open(os.path.join(self.manifest_dir,
                               _safe_name(increment) + ".json")) as f:
            return json.load(f)

    def commit(self, increment: str, info: dict) -> None:
        """Atomic: write temp then rename (POSIX rename is atomic)."""
        path = os.path.join(self.manifest_dir, _safe_name(increment) + ".json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(info, f)
        os.replace(tmp, path)


def list_increments(input_dir: str) -> list[str]:
    """Increment ids = parquet file names (sorted: deterministic order)."""
    return sorted(
        fn for fn in os.listdir(input_dir)
        if fn.endswith(".parquet") and not fn.startswith("_")
    )


def process_new(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    batch_fn: Callable[[DataFrame, str], DataFrame],
    max_increments: int | None = None,
) -> list[IncrementResult]:
    """Run `batch_fn(df, increment_id)` over each not-yet-committed
    increment; write its result to `<out_dir>/<increment>/`, then commit
    the marker. Returns one result per increment processed (possibly [])."""
    cp = Checkpoint(out_dir)
    done = cp.committed()
    todo = [f for f in list_increments(input_dir) if _safe_name(f) not in done]
    if max_increments is not None:
        todo = todo[:max_increments]
    results: list[IncrementResult] = []
    for inc in todo:
        t0 = time.perf_counter()
        df = spark.read.parquet(os.path.join(input_dir, inc))
        out = batch_fn(df, inc)
        out_path = os.path.join(out_dir, _safe_name(inc))
        # overwrite => re-running a crashed increment is idempotent
        written = Observation()
        (out.observe(written, F.count(F.lit(1)).alias("n_rows"))
         .write.mode("overwrite").parquet(out_path))
        n = written.get["n_rows"]
        sec = time.perf_counter() - t0
        cp.commit(inc, {"increment": inc, "n_rows": n,
                        "out_path": out_path, "seconds": round(sec, 3)})
        results.append(IncrementResult(inc, n, out_path, sec))
    return results


def resume_anti_join(result_so_far: DataFrame, full_input: DataFrame,
                     key: str = "url") -> DataFrame:
    """Row-level resume: the still-unprocessed subset of the input, via
    left_anti against already-written keys. Used when an increment itself
    died mid-write and outputs are append-only (the north-rule
    'anti-join against already-written urls' path). The join shuffles only
    (key) pairs; at scale both sides are bucketed by the same key so the
    anti-join is shuffle-free."""
    done = result_so_far.select(key)
    return full_input.join(done, key, "left_anti")
