"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship quality-filter labels over sf0.001 documents
queries()     -> every implemented operator from SURVEY.md §2
oracle_sql()  -> DuckDB twins, staged inputs written first

Each ksana_corpus_builder_spark/queries*.py module ends with a REGISTRY
table of (q_fn, twin SQL or None) rows; the query's name is the function's
name minus `q_`. This module assembles the driver surface from them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ksana_corpus_builder_spark import (queries_ext, queries_ref,
                                        queries_web)
from ksana_corpus_builder_spark import queries as queries_core
from ksana_corpus_builder_spark.sources.pages import (stage_jsonl,
                                                      stage_pages,
                                                      stage_stream_dedup)

_REGISTRY = [(fn.__name__.removeprefix("q_"), fn, sql)
             for mod in (queries_core, queries_ext, queries_ref, queries_web)
             for fn, sql in mod.REGISTRY]
ORACLE_SQL: dict[str, str] = {n: sql for n, _, sql in _REGISTRY
                             if sql is not None}

# The driver checks the first 50 queries; oracle-backed entries come first.
_DRIVER_WINDOW = [
    "bpe_merges", "bpe_vocab", "bpe_encode_docs", "pack_tokens",
    "bloom_dedup", "lm_train_score", "hll_distinct", "cms_heavy_hitters",
    "anchor_texts", "robots_filter",
    "dup_span_cut", "bpe_fertility", "crawl_schedule", "gopher_rules",
    "gopher_dup_lines", "normalized_dedup",
    "redirect_resolve", "token_budget_mix", "shard_manifest",
    "mojibake_flags", "hits_scores", "charset_sniff",
    "simhash_hamming_pairs", "label_prop_spam", "cdx_index",
    "gopher_ngram_gates", "zorder_layout",
    "rule_ablation", "dataset_diff", "refresh_priority",
    "contrastive_pairs", "pq_topk", "jsonl_ingest",
    "lang_confusion", "stupid_backoff", "host_reputation",
    "char_entropy",
    "keep_drop", "langid", "scrub", "ccnet_buckets",
    "scrub_rule_counts",
    "scrub_phone_fixture",
    "quality_score", "quality_report",
    "corpus_manifest",
    "corpus_datacard",
    "minhash_pairs", "simhash", "ccnet_buckets_approx",
]

_fns = {n: fn for n, fn, _ in _REGISTRY}
_rest = [n for n in _fns if n not in _DRIVER_WINDOW]
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    n: _fns[n] for n in _DRIVER_WINDOW
    + sorted(_rest, key=lambda n: n not in ORACLE_SQL)}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: keep/drop labels + langid over sf0.001 documents from one
    pass of the production kernels (plans/quality_pipeline)."""
    sf = "/root/testdata/sf0.001"
    return queries_core._labels_and_lang(spark, sf)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    # the twins over pages read the staged files their Spark queries write;
    # stage them here too, so an oracle evaluated first sees the same input
    stage_pages()
    stage_stream_dedup()
    stage_jsonl()
    return dict(ORACLE_SQL)
