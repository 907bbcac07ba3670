"""The flagship end-to-end job: Common-Crawl-style pages -> labels +
scrubbed text + per-partition lineage metrics.

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

Design-for-scale notes:
- the per-document stage is a SINGLE Python pass (one Arrow round-trip, not
  five chained UDFs) — at 10^12 docs the Python boundary is the unit cost,
  so we cross it once;
- no driver-side collect anywhere; metrics aggregate per partition inside
  the same pass (reference buildMeta, ``index.js:293-318``, becomes rows);
- partitioning is explicit: ``repartition(spark_partition_id-free hash of
  url)`` — on Iceberg this is a bucket(url, N) write spec; skewed hosts are
  salted because the hash key is the full url, not the host;
- resumability: callers filter the input by Iceberg snapshot id / or
  anti-join against already-written urls (see streaming/incremental.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _columns(schema: str) -> list[str]:
    return [f.split()[0] for f in schema.split(",")]


def _process_batch(pdf: pd.DataFrame, hooks: PipelineHooks | None = None,
                   columns: list[str] = _columns(RESULT_SCHEMA)) -> pd.DataFrame:
    """One Arrow batch through every kernel, keyed by its input columns: a
    batch with ``html`` is extracted first, otherwise ``text`` is the
    document. ``columns`` picks the output: kernel outputs by name, any
    other name passes through from the input. Pure pandas — the same
    kernels as the golden oracle (oracle/golden.py), which is how
    byte-identity and F1=1.0 are achieved by construction and verified by
    test."""
    text = (extract_text(pdf["html"]) if "html" in pdf.columns
            else pdf["text"].fillna(""))
    # ONE code-unit buffer per batch; tokens, char classes, line stats and
    # the scrub gates all derive from it
    batch = W.TextBatch(text)
    stream, chars = batch.stream, batch.chars
    extra = hooks.extra_rules if hooks is not None else {}
    flags = Q.rule_flags(Q.word_stats(text, None, stream, chars))
    keep, rules_hit = Q.labels(
        np.column_stack([flags[Q.RULE_NAMES].to_numpy(),
                         *(np.asarray(fn(text), bool)
                           for fn in extra.values())]),
        Q.RULE_NAMES + list(extra))
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
                        for c in columns})
    if hooks is not None and hooks.on_batch is not None:
        hooks.on_batch(out)
    return out


def _map_batches(df: DataFrame, schema: str,
                 hooks: PipelineHooks | None) -> DataFrame:
    """The ONE Python boundary: every non-empty Arrow batch of ``df``
    through :func:`_process_batch`, emitting ``schema``."""
    columns = _columns(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _process_batch(pdf, hooks, columns)

    return df.mapInPandas(run, schema=schema)


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
    """Per-partition lineage rows — the Spark buildMeta. Aggregated
    map-side (partial agg on spark_partition_id, no meaningful shuffle)."""
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


def write_outputs(result: DataFrame, out_dir: str, snapshot_id: int = 0) -> None:
    """Persist the three output tables (parquet locally; Iceberg writeTo on a
    cluster). result is written once and re-read for the cheap projections."""
    result.write.mode("overwrite").parquet(f"{out_dir}/result")
    spark = result.sparkSession
    full = spark.read.parquet(f"{out_dir}/result")
    labels(full).write.mode("overwrite").parquet(f"{out_dir}/labels")
    scrubbed(full).write.mode("overwrite").parquet(f"{out_dir}/scrubbed")
    metrics(full, snapshot_id).write.mode("overwrite").parquet(f"{out_dir}/metrics")
