"""Benchmark harness.

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints two JSON
lines: the per-query timings {"queries": {name: sec}}, then a final
headline line under 500 chars:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "docs_per_sec_quality_filter": ..., "n_queries": ..., "sf": ...,
   "cpus": ..., "runs_per_query": ..., "timing": ...}

--scaling: the north-rule cluster-size evidence. Stages a Common-Crawl-
shaped pages table (url, warc_ts, html, text, lang; SPARK_GRAFT_SCALE_N
pages, 64 parquet files) ONCE, then runs the identical full pipeline
(html extraction + langid + rules + perplexity + scrub) over the same
files at each level of SPARK_GRAFT_SCALE_CPUS (default 2,8,32) in fresh
subprocesses (new JVM each — master is immutable per JVM) and reports
docs/sec per level plus pairwise N->4N efficiencies (target >= 0.8,
BASELINE.md). All runs read the same splits (maxPartitionBytes pinned so
split count, like a real cluster scan, is cluster-size-independent).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = (
    "keep_drop", "langid", "scrub", "doc_stats", "posting_stats",
    "bigram_counts", "exact_dedup", "minhash_pairs", "simhash",
    "pricing_summary", "top_customers", "sessionize", "events_hourly",
    "asof_prev_error", "ann_topk", "embed_neardup", "token_types",
    "shipping_priority", "order_priority_count", "salted_source_agg",
    "posting_lists", "ivf_topk", "media_meta", "stream_hourly",
    "indexed_postings", "preparse_lines",
    # round-2 additions (suite grows 27 -> 35 incl. the flagship;
    # cross-round totals compare via BASELINE.md per-round notes)
    "reverse_links_resolved", "standoff_kfields", "a3_toc",
    "train_split", "context_chunks", "embed_neardup_lsh",
    "lsh_topk", "quantized_topk",
    # round-3 additions (suite 35 -> 44 incl. the flagship)
    "minhash_md5", "simhash_md5", "ivf_kmeans_topk", "media_features",
    "repetition_ngrams", "tfidf_topk", "ccnet_buckets", "text_embed_topk",
    "scrub_rule_counts",
    # round-4 additions (suite 44 -> 49 incl. the flagship)
    "tei_lines", "dedup_components", "media_pixels", "scrub_phone_fixture",
    "ccnet_buckets_approx", "line_dedup", "decontaminate", "url_dedup",
    "dup_spans", "dsir_weights", "domain_mix", "semdedup",
    "quality_classifier", "pagerank", "boilerplate_blocks",
    "cross_snapshot_dedup", "stream_dedup", "classifier_train",
    "url_filter", "intra_line_dedup", "c4_line_filter", "minhash_dedup",
    "corpus_manifest", "corpus_datacard", "cross_snapshot_minhash",
    "pack_sequences", "bpe_pair_counts",
    # round-5 additions (suite 73 -> 87 incl. the flagship)
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
    "contrastive_pairs", "pq_topk", "jsonl_ingest", "lang_confusion",
    "stupid_backoff", "host_reputation", "char_entropy",
)


def _count(df) -> int:
    return df.count()


def run_pipeline(spark, sf_dir: str) -> tuple[int, float]:
    """The flagship: fused single-pass quality filter over documents.
    The sf testdata is ONE small parquet file => one input split; spread it
    first (at 100 TB the scan has thousands of splits and this repartition
    disappears). CPUS//2 measured fastest at this tiny scale — beyond that
    per-task overhead outweighs parallelism on 5k docs."""
    from ksana_corpus_builder_spark.plans.quality_pipeline import process_text_table
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(max(8, CPUS // 2))
    t0 = time.perf_counter()
    n = process_text_table(docs).count()
    return n, time.perf_counter() - t0


SCALE_N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "40000"))
SCALE_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR",
                           f"/tmp/spark_graft_pages_n{SCALE_N}")
_SPLIT_CONF = {
    # pin split sizing so BOTH cluster sizes see the same input splits
    # (a real 100 TB scan's split count doesn't depend on executor count)
    "spark.sql.files.maxPartitionBytes": str(1 << 20),
    "spark.sql.files.openCostInBytes": str(1 << 20),
}


def _stage_pages() -> None:
    """Materialize the deterministic pages table once (64 parquet files)."""
    from ksana_corpus_builder_spark.session import get_spark
    from ksana_corpus_builder_spark.sources.pages import pages_df
    spark = get_spark(cpus=CPUS)
    pages_df(spark, SCALE_N, slices=64).write.mode("overwrite").parquet(SCALE_DIR)
    n = spark.read.parquet(SCALE_DIR).count()
    print(json.dumps({"staged": n, "dir": SCALE_DIR}))


def run_pages_pipeline(spark) -> tuple[int, float]:
    """The north-rule job: full html -> extract/langid/rules/ppl/scrub."""
    from ksana_corpus_builder_spark.plans.quality_pipeline import process
    pages = spark.read.parquet(SCALE_DIR)
    t0 = time.perf_counter()
    n = process(pages).count()
    return n, time.perf_counter() - t0


def main() -> None:
    if "--stage-pages" in sys.argv:
        _stage_pages()
        return

    if "--pipeline-only" in sys.argv:
        # subprocess entry for --scaling: one fresh JVM, prints n,sec
        from ksana_corpus_builder_spark.session import get_spark
        spark = get_spark(cpus=CPUS, extra_conf=_SPLIT_CONF)
        run_pages_pipeline(spark)  # warm (JIT, codegen, parquet footers)
        n, sec = run_pages_pipeline(spark)
        print(json.dumps({"n": n, "sec": sec}))
        return

    if "--scaling" in sys.argv:
        if not os.path.exists(os.path.join(SCALE_DIR, "_SUCCESS")):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--stage-pages"],
                env=dict(os.environ), check=True)
        levels = [int(x) for x in os.environ.get(
            "SPARK_GRAFT_SCALE_CPUS", "2,8,32").split(",")]
        out = {}
        for cpus in levels:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--pipeline-only"],
                env=env, capture_output=True, text=True, check=True)
            out[cpus] = json.loads(r.stdout.strip().splitlines()[-1])
        thr = {c: out[c]["n"] / out[c]["sec"] for c in levels}
        effs = {
            f"eff_{a}_to_{b}": round((thr[b] / thr[a]) / (b / a), 4)
            for a, b in zip(levels, levels[1:])
        }
        # the headline north-rule number: the first N -> 4N pair measured
        headline = next(iter(effs.values())) if effs else None
        print(json.dumps({
            "metric": "scaling_efficiency",
            "value": headline,
            "unit": "ratio",
            "efficiencies": effs,
            "docs_per_sec": {f"local{c}": round(thr[c], 1) for c in levels},
            "seconds": {f"local{c}": round(out[c]["sec"], 2) for c in levels},
            "n_docs": out[levels[-1]]["n"],
            "input": SCALE_DIR,
        }))
        return

    from __spark_entry__ import queries
    from ksana_corpus_builder_spark.session import get_spark
    spark = get_spark(cpus=CPUS)
    qs = queries()

    # warm-up: JVM JIT + parquet footers (excluded from timings)
    run_pipeline(spark, SF_DIR)

    timings: dict[str, float] = {}
    # best-of-N per query (N=3): ambient VM noise swings single runs +-30%,
    # so round-over-round per-query comparisons use the per-query minimum
    # (VERDICT r2 next-round #9); run count is recorded in the JSON line.
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    for name in HEADLINE:
        _count(qs[name](spark, SF_DIR))  # warm: codegen + analyzer JIT
        best = float("inf")
        for _ in range(runs_per_query):
            t0 = time.perf_counter()
            _count(qs[name](spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # flagship docs/s: measured LAST, in the fully-warmed JVM, best of 5.
    # C2 keeps compiling through the first ~5 pipeline runs (measured docs/s
    # climbs 9.6k -> 13.5k before stabilizing), and a 100 TB deployment runs
    # at steady state — cold-JVM numbers measure launch, not the pipeline.
    runs = [run_pipeline(spark, SF_DIR) for _ in range(5)]
    n_docs, pipe_sec = min(runs, key=lambda r: r[1])
    timings["quality_pipeline"] = round(pipe_sec, 3)

    total = round(sum(timings.values()), 3)
    # the per-query map is ~100 entries, too long for a tail-parsed result
    # line: print it first, and keep the final headline line compact
    print(json.dumps({"queries": timings}))
    print(json.dumps({
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "docs_per_sec_quality_filter": round(n_docs / pipe_sec, 1),
        "n_queries": len(timings),
        "sf": SF_DIR,
        "cpus": CPUS,
        "runs_per_query": runs_per_query,
        "timing": "best_of_runs",
    }))


if __name__ == "__main__":
    main()
