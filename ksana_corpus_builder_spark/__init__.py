"""ksana_corpus_builder_spark — a PySpark-native corpus quality engine.

A brand-new implementation (NOT a port) of the capabilities of
ksanaforge/ksana-corpus-builder, re-imagined Spark-first:

- the reference's per-document parse -> tokenize -> annotate -> index ->
  columnar-serialize dataflow becomes a declarative DataFrame pipeline with
  vectorized pandas/Arrow UDF kernels (zero per-row Python),
- its hand-rolled columnar KDB writer becomes Parquet/Iceberg,
- its mutable accumulators become groupBy/window aggregations,
- plus the web-scale quality layer the north rule asks for: language ID,
  perplexity scoring, Gopher/C4-style heuristic keep/drop rules,
  PII/toxicity scrubbing, dedup, similarity search, lineage + metrics.

Layout:
    session.py     SparkSession factory tuned for the target scale
    codec.py       packed positional address (kpos) codec
    tokenizer.py   vectorized tokenizer v2 semantics
    functions/     vectorized text/quality/langid/scrub/perplexity kernels
    operators/     tpos assignment, postings, bigrams, dedup, ANN, range join
    sources/       table loaders + deterministic synthetic pages
    plans/         end-to-end quality pipeline (labels/scrubbed/metrics)
    streaming/     incremental (snapshot-checkpointed) processing
    oracle/        pure-pandas golden oracle (no Spark) for fixture generation
"""

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` cheap in a reused Python worker.

    PySpark calls it at the start of every task, and before Python 3.13
    every ``zipimporter`` on the path (16 of them for pyspark.zip and the
    py4j zip) then re-reads its whole archive directory: ~0.3 s of worker
    CPU per task. The wrapper below re-reads an archive only when its
    ``(st_mtime_ns, st_size)`` differs from the stamp taken just before
    its last read (or cannot be taken); importers of an unchanged archive
    share that read. Installed once per process, and only in a reused
    worker (``SPARK_REUSE_WORKER``) on Python < 3.13, whose stock method
    is already lazy; the driver keeps stock ``zipimport``. Zips added to
    the path later get their own importers and are stamped on first use;
    a zip rewritten in place is re-read.
    """
    import os
    import sys
    import zipimport

    if not os.environ.get("SPARK_REUSE_WORKER") or sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "skips_unchanged", False):
        return
    last_read = {}  # archive -> (stamp taken before the read, its files)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == stamp:  # recorded stamps are never None
            self._files = seen[1]
            return
        stock(self)
        if stamp is not None and self._files:
            last_read[self.archive] = (stamp, self._files)

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the importers that already exist (one read per archive)
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


_skip_unchanged_zip_rereads()
