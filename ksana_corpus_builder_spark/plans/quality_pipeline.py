"""The flagship end-to-end job: Common-Crawl-style pages -> labels +
scrubbed text + per-task lineage metrics + a run record.

Re-imagines the reference's E1 lifecycle (``index.js:477-516``:
config -> parse -> tokenize -> annotate -> finalize -> serialize) as one
declarative DataFrame plan:

    pages (url, warc_ts, html, text, lang)
      -> repartition by url-hash (bucketing stand-in; salts skewed hosts)
      -> ONE mapInPandas pass: extract + langid + quality rules +
         perplexity + scrub           (all vectorized kernels, Arrow batches)
      -> labels(url, keep, rules_hit, lang_detected, lang_score, perplexity)
      -> scrubbed(url, text)          (byte-identical to the golden oracle)
      -> metrics(partition_id, n_docs, n_kept, rule_hit_counts, scrub_stats)
                                      (one row per task of that pass)
      -> _run.json                    (totals, partition count, skew)

Design-for-scale notes:
- the per-document stage is a SINGLE Python pass (one Arrow round-trip, not
  five chained UDFs) — at 10^12 docs the Python boundary is the unit cost,
  so we cross it once;
- no driver-side collect anywhere; each task of the kernel pass counts its
  own lineage row while it runs (reference buildMeta, ``index.js:293-318``,
  becomes rows), so metrics need no second pass over the data;
- partitioning is explicit: ``repartition(spark_partition_id-free hash of
  url)`` — on Iceberg this is a bucket(url, N) write spec; skewed hosts are
  salted because the hash key is the full url, not the host;
- resumability: callers filter the input by Iceberg snapshot id / or
  anti-join against already-written urls (see streaming/incremental.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions import langid as L
from ..functions import quality as Q
from ..functions import scrub as S
from ..functions import wordstream as W
from ..functions.perplexity import perplexity_series
from ..functions.text import extract_text


@dataclass(frozen=True)
class PipelineHooks:
    """User-pluggable lifecycle hooks (U2/U1) — the Spark re-imagination of
    the reference's corpus handler registry + onopentag/onclosetag
    callbacks (index.js:477-516 lifecycle; setHandlers in parsepre.js):

    - ``extra_rules``: {rule_name: Series[str] -> Series[bool]} — extra
      vectorized quality rules, labelled by the same builder as the
      built-in rules (``quality.labels``: names appended after them in
      dict order, ``keep`` ANDed). Runs INSIDE the fused batch pass, so a
      plugged rule costs zero extra Python boundaries.
    - ``on_batch``: called with each result batch (post-kernel) — the
      custom-log-sink hook (U5); side effects only, the returned value is
      ignored. Runs on executors: use it for accumulators/logging, not
      driver state.

    Hooks must be picklable (defined at module top level) — they ship to
    executors inside the mapInPandas closure.
    """

    extra_rules: dict[str, Callable[[pd.Series], pd.Series]] = field(
        default_factory=dict)
    on_batch: Callable[[pd.DataFrame], None] | None = None

RESULT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "text string, keep boolean, rules_hit array<string>, "
    "lang_detected string, lang_score double, perplexity double, "
    + ", ".join(f"scrub_{n} long" for n in S.SCRUB_RULE_NAMES)
)
TEXT_RESULT_SCHEMA = (
    "doc_id long, text string, keep boolean, rules_hit array<string>, "
    "lang_detected string, perplexity double, "
    + ", ".join(f"scrub_{n} long" for n in S.SCRUB_RULE_NAMES)
)

# A task's lineage row, int64: docs, kept, docs hit per built-in rule,
# per-scrub-rule sums, then kernel ns; summed over the task's batches.
_HITS = slice(2, 2 + len(Q.RULE_NAMES))
_SCRUBS = slice(_HITS.stop, _HITS.stop + len(S.SCRUB_RULE_NAMES))
_KERNEL_NS = _SCRUBS.stop


def _columns(schema: str) -> list[str]:
    return [f.split()[0] for f in schema.split(",")]  # row-loop-ok: schema fields


def _process_batch(pdf: pd.DataFrame, hooks: PipelineHooks | None = None,
                   columns: list[str] = _columns(RESULT_SCHEMA)
                   ) -> tuple[pd.DataFrame, np.ndarray]:
    """One Arrow batch through every kernel, keyed by its input columns: a
    batch with ``html`` is extracted first, otherwise ``text`` is the
    document. ``columns`` picks the output: kernel outputs by name, any
    other name passes through from the input. Pure pandas — the same
    kernels as the golden oracle (oracle/golden.py), which is how
    byte-identity and F1=1.0 are achieved by construction and verified by
    test. Returns the output and the batch's lineage counters (a lineage
    row with 0 kernel ns)."""
    text = (extract_text(pdf["html"]) if "html" in pdf.columns
            else pdf["text"].fillna(""))
    # ONE code-unit buffer per batch; tokens, char classes, line stats and
    # the scrub gates all derive from it
    batch = W.TextBatch(text)
    stream, chars = batch.stream, batch.chars
    extra = hooks.extra_rules if hooks is not None else {}
    stats = Q.word_stats(text, None, stream, chars)
    flags = np.column_stack([Q.rule_flags(stats)[Q.RULE_NAMES].to_numpy(),
                             *(np.asarray(fn(text), bool)
                               for fn in extra.values())])  # row-loop-ok: plugged rules
    names = Q.RULE_NAMES + list(extra)
    keep, rules_hit = Q.labels(flags, names)
    lang = L.detect(text, None, stream, chars)
    scrubbed = S.scrub_series(text, batch)
    kernel = {
        "text": scrubbed["text"],
        "keep": keep,
        "rules_hit": rules_hit,
        "lang_detected": lang["lang_detected"],
        "lang_score": (lang["lang_hits"] / lang["n_words"].clip(lower=1)).astype("float64"),
        "perplexity": perplexity_series(text),
        **{f"scrub_{n}": scrubbed[f"scrub_{n}"] for n in S.SCRUB_RULE_NAMES},
    }
    out = pd.DataFrame({c: kernel[c] if c in kernel else pdf[c]
                        for c in columns})  # row-loop-ok: output columns
    if hooks is not None and hooks.on_batch is not None:
        hooks.on_batch(out)
    # docs hit per built-in rule name, once per doc as array_contains
    # counts them: a plugged rule of the same name counts toward it
    named = np.array(names)
    counts = np.array(
        [len(keep), keep.sum(),
         *(flags[:, named == r].any(axis=1).sum() for r in Q.RULE_NAMES),
         *(scrubbed[f"scrub_{n}"].sum() for n in S.SCRUB_RULE_NAMES), 0],
        np.int64)
    return out, counts


class _Lineage(AccumulatorParam):
    """Task partition id -> lineage row. A task that runs again (a retry,
    or another action over the same plan) replaces its row."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, rows: dict, more: dict) -> dict:
        rows.update(more)
        return rows


def _map_batches(df: DataFrame, schema: str,
                 hooks: PipelineHooks | None) -> DataFrame:
    """The ONE Python boundary: every non-empty Arrow batch of ``df``
    through :func:`_process_batch`, emitting ``schema``. Each task sums its
    batches' lineage counters and the ns spent in ``_process_batch``, and
    when its batches end adds ``{partition id: row}`` to an accumulator
    made here and kept on the returned DataFrame as ``_lineage``."""
    columns = _columns(schema)
    lineage = df.sparkSession.sparkContext.accumulator({}, _Lineage())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        row = np.zeros(_KERNEL_NS + 1, np.int64)
        for pdf in batches:  # row-loop-ok: one step per Arrow batch
            if len(pdf):
                t0 = time.perf_counter_ns()
                out, counts = _process_batch(pdf, hooks, columns)
                row += counts
                row[_KERNEL_NS] += time.perf_counter_ns() - t0
                yield out
        lineage.add({TaskContext.get().partitionId(): row})

    out = df.mapInPandas(run, schema=schema)
    out._lineage = lineage
    return out


def process(pages: DataFrame, buckets: int | None = None,
            hooks: PipelineHooks | None = None) -> DataFrame:
    """pages -> full result DataFrame (labels + scrubbed + scrub counters).

    ``buckets``: explicit url-hash partition count. None = keep the input
    partitioning (already bucketed Iceberg input at scale).
    ``hooks``: user lifecycle hooks (extra rules, per-batch observers) —
    None keeps the stock pipeline bit-identical.
    """
    # the batch extracts ``html`` and ignores an input ``text``: keep it
    # out of the scan and the Arrow transfer
    df = pages.drop("text") if "html" in pages.columns else pages
    if buckets:
        # url-hash bucketing: even distribution regardless of host skew
        df = df.repartition(buckets, F.xxhash64("url"))
    return _map_batches(df, RESULT_SCHEMA, hooks)


def process_text_table(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hooks: PipelineHooks | None = None) -> DataFrame:
    """Same fused single-pass kernel stage for a table whose text is already
    extracted (the `documents` testdata shape). One Python boundary.
    ``hooks`` behaves exactly as in :func:`process`."""
    return _map_batches(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text")),
        TEXT_RESULT_SCHEMA, hooks)


def labels(result: DataFrame) -> DataFrame:
    return result.select("url", "keep", "rules_hit", "lang_detected",
                         "lang_score", "perplexity")


def scrubbed(result: DataFrame) -> DataFrame:
    return result.select("url", "text")


def metrics(result: DataFrame, input_snapshot_id: int = 0) -> DataFrame:
    """Lineage rows of a *stored* result, as an ad-hoc query: grouped by
    the partitions of the scan that reads ``result``, not by the tasks
    that processed it (:func:`write_outputs` writes those). Same schema as
    the metrics table; aggregated map-side (partial agg on
    spark_partition_id, no meaningful shuffle)."""
    rule_counts = F.map_from_arrays(
        F.array(*[F.lit(r) for r in Q.RULE_NAMES]),
        F.array(*[
            F.sum(F.when(F.array_contains("rules_hit", r), 1).otherwise(0))
            for r in Q.RULE_NAMES
        ]),
    )
    scrub_stats = F.map_from_arrays(
        F.array(*[F.lit(n) for n in S.SCRUB_RULE_NAMES]),
        F.array(*[F.sum(F.col(f"scrub_{n}")) for n in S.SCRUB_RULE_NAMES]),
    )
    return (
        result.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.lit(input_snapshot_id).alias("input_snapshot_id"),
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            rule_counts.alias("rule_hit_counts"),
            scrub_stats.alias("scrub_stats"),
        )
    )


def _by_name(names: list[str], counts: np.ndarray) -> pa.MapArray:
    """One map per row of ``counts``: ``names[j] -> counts[:, j]``."""
    n, k = counts.shape
    return pa.MapArray.from_arrays(
        pa.array(np.arange(0, n * k + 1, k), pa.int32()),
        pa.array(names * n), pa.array(counts.ravel()))


def _write_metrics(pids: list[int], rows: np.ndarray, snapshot_id: int,
                   path: str) -> None:
    """The lineage rows as the metrics table, in the Spark schema that
    :func:`metrics` gives it (``lit`` types the snapshot id int or bigint)."""
    int32 = -2**31 <= snapshot_id < 2**31
    table = pa.table({
        "partition_id": pa.array(pids, pa.int32()),
        "input_snapshot_id": pa.array(np.full(len(pids), snapshot_id),
                                      pa.int32() if int32 else pa.int64()),
        "n_docs": rows[:, 0],
        "n_kept": rows[:, 1],
        "rule_hit_counts": _by_name(Q.RULE_NAMES, rows[:, _HITS]),
        "scrub_stats": _by_name(S.SCRUB_RULE_NAMES, rows[:, _SCRUBS]),
    })
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _max_over_median(v: np.ndarray) -> float | None:
    """Skew of one per-partition quantity; None when it is undefined."""
    med = np.median(v) if len(v) else 0
    return float(v.max() / med) if med > 0 else None


def _run_record(rows: np.ndarray, snapshot_id: int) -> dict:
    """The run record of a kernel pass from its lineage rows."""
    total = rows.sum(axis=0)
    return {
        "input_snapshot_id": snapshot_id,
        "totals": {
            "docs": int(total[0]),
            "kept": int(total[1]),
            "rule_hits": dict(zip(Q.RULE_NAMES, total[_HITS].tolist())),
            "scrub": dict(zip(S.SCRUB_RULE_NAMES, total[_SCRUBS].tolist())),
        },
        "partitions": len(rows),
        "skew": {
            "rows_max_over_median": _max_over_median(rows[:, 0]),
            "kernel_ns_max_over_median": _max_over_median(rows[:, _KERNEL_NS]),
        },
    }


def write_outputs(result: DataFrame, out_dir: str, snapshot_id: int = 0) -> dict:
    """Persist result, labels, scrubbed and metrics (parquet locally;
    Iceberg writeTo on a cluster) and the run record ``<out_dir>/_run.json``,
    which is returned. ``result`` is a DataFrame :func:`process` returned.

    Three Spark jobs, none with a shuffle: the kernel pass writes
    ``result``; ``labels`` and ``scrubbed`` are projections of it, re-read
    with its known schema (no inference job) and written concurrently.
    ``metrics`` holds the lineage rows the kernel pass's tasks counted, one
    per task, written from the driver with no job over the data."""
    lineage = getattr(result, "_lineage", None)
    if lineage is None:
        raise ValueError("write_outputs needs the DataFrame process() returned")
    result.write.mode("overwrite").parquet(f"{out_dir}/result")
    spark = result.sparkSession
    full = spark.read.schema(result.schema).parquet(f"{out_dir}/result")
    with ThreadPoolExecutor(1) as pool:
        labels_written = pool.submit(
            inheritable_thread_target(spark)(labels(full).write.mode("overwrite").parquet),
            f"{out_dir}/labels")
        scrubbed(full).write.mode("overwrite").parquet(f"{out_dir}/scrubbed")
        labels_written.result()
    by_pid = lineage.value
    pids = sorted(by_pid)
    rows = np.array([by_pid[p] for p in pids],  # row-loop-ok: one per task
                    np.int64).reshape(len(pids), _KERNEL_NS + 1)
    _write_metrics(pids, rows, snapshot_id, f"{out_dir}/metrics")
    record = _run_record(rows, snapshot_id)
    with open(os.path.join(out_dir, "_run.json"), "w") as f:
        json.dump(record, f, indent=1)
    return record
