"""spark-submit entrypoint for the north-rule quality-filter job.

    spark-submit --py-files dist/ksana_corpus_builder_spark.zip \
        jobs/quality_filter_job.py \
        --input  <pages parquet/iceberg dir> \
        --output <output dir> \
        [--buckets 256] [--snapshot-id 0] [--incremental]

Reads pages (url, warc_ts, html, text, lang), runs the fused single-pass
kernel stage (extract + langid + rules + perplexity + scrub), writes the
full result plus labels / scrubbed projections of it, a metrics table of
per-processing-task lineage rows counted in that same pass, and the run
record ``<output>/_run.json`` (totals, partition count, skew), and prints
one JSON line with docs/sec (its doc count from the run record). With
--incremental, each input parquet file is treated as a committed-once
increment (streaming/incremental.py) so a re-run resumes from the
checkpoint manifest.

The package zip is built by `python tools/build_pyfiles.py`. On a cluster
substitute the parquet paths with Iceberg table identifiers — the plan is
identical (writeTo instead of write.parquet).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", default=None,
                    help="JSON config file; CLI flags override its keys "
                         "(the reference's <id>-corpus.json pattern)")
    ap.add_argument("--input")
    ap.add_argument("--output")
    ap.add_argument("--buckets", type=int, default=None,
                    help="url-hash repartition count (None = keep input)")
    ap.add_argument("--snapshot-id", type=int, default=None)
    ap.add_argument("--incremental", action="store_true")
    args = ap.parse_args()
    if args.config:
        with open(args.config) as f:
            cfg = json.load(f)
        for k in ("input", "output", "buckets", "snapshot_id"):
            if getattr(args, k) is None and k in cfg:
                setattr(args, k, cfg[k])
        if not args.incremental and cfg.get("incremental"):
            args.incremental = True
    if args.snapshot_id is None:
        args.snapshot_id = 0
    if not args.input or not args.output:
        ap.error("--input/--output required (via flags or --config)")

    spark = SparkSession.builder.appName("quality_filter_job").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from ksana_corpus_builder_spark.plans import quality_pipeline as qp

    t0 = time.perf_counter()
    if args.incremental:
        from ksana_corpus_builder_spark.streaming import incremental

        def batch_fn(df, inc):
            return qp.process(df, buckets=args.buckets)

        results = incremental.process_new(
            spark, args.input, args.output, batch_fn)
        n = sum(r.n_rows for r in results)
        print(json.dumps({
            "job": "quality_filter_incremental",
            "increments": [r.increment for r in results],
            "n_docs": n,
            "sec": round(time.perf_counter() - t0, 2),
        }))
        return

    pages = spark.read.parquet(args.input)
    result = qp.process(pages, buckets=args.buckets)
    n = qp.write_outputs(result, args.output,
                         snapshot_id=args.snapshot_id)["totals"]["docs"]
    sec = time.perf_counter() - t0
    print(json.dumps({
        "job": "quality_filter",
        "n_docs": n,
        "sec": round(sec, 2),
        "docs_per_sec": round(n / sec, 1),
    }))


if __name__ == "__main__":
    main()
