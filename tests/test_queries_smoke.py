"""Smoke: every queries() entry runs at sf0.001 and returns a stable schema.
(Full value-level oracle comparison: tools/check_oracle.py at sf0.01 and the
driver's own gate.)"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QS = entrymod.queries()


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"doc_id", "keep", "lang_detected"} <= set(df.columns)


@pytest.mark.parametrize("name", sorted(QS))
def test_query_runs(spark, name):
    df = QS[name](spark, SF)
    assert df.columns  # schema resolves
    df.limit(3).collect()  # executes


def test_oracle_keys_subset():
    assert set(entrymod.oracle_sql()) <= set(QS)


def test_classifier_train_golden_and_learns(spark):
    """The distributed 2-iteration batch perceptron matches a pure
    pandas/hashlib golden replay weight-for-weight, and it LEARNS: the
    misclassified count under w1 is below n_docs (w0=0 misclassifies
    everything), and w2's update only touches buckets of docs still
    misclassified under w1."""
    import hashlib
    from collections import Counter

    import pandas as pd

    df = QS["classifier_train"](spark, SF)
    got = {r.b: (r.w1, r.w2) for r in df.collect()}
    assert len(got) == 512

    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text", "n_chars"])
    B, THR = 512, 300
    per_doc = []  # (y, Counter{b: cnt})
    for _, row in docs.iterrows():
        y = 1 if row.n_chars >= THR else -1
        cnt = Counter(
            int(hashlib.md5(t.encode()).hexdigest()[:7], 16) % B
            for t in row.text.split(" ") if t != "")
        per_doc.append((y, cnt))
    w1 = Counter()
    for y, cnt in per_doc:
        for b, c in cnt.items():
            w1[b] += y * c
    mis = [(y, cnt) for y, cnt in per_doc
           if y * sum(c * w1[b] for b, c in cnt.items()) <= 0]
    w2 = Counter(w1)
    for y, cnt in mis:
        for b, c in cnt.items():
            w2[b] += y * c
    for b in range(B):
        assert got[b] == (w1[b], w2[b]), (b, got[b], (w1[b], w2[b]))
    # learnability: w1 already classifies some docs correctly
    assert 0 < len(mis) < len(per_doc)


def test_quality_classifier_feature_count_and_sign_rule(spark):
    """fastText-shape invariants: n_feats == 2*n_tok - 1 for docs with
    >= 2 tokens (unigrams + wordNgrams=2 bigrams, token multiplicity
    preserved), n_feats == n_tok below that; keep == (n_feats > 0 AND
    qc_score >= 0) — the integer sign rule that equals the sign of the
    mean-pooled linear score."""
    from pyspark.sql import functions as F
    df = QS["quality_classifier"](spark, SF)
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    d = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", F.size(toks).alias("n_tok")))
    rows = df.join(d, "doc_id").collect()
    assert rows
    for r in rows:
        expect = 2 * r.n_tok - 1 if r.n_tok >= 2 else r.n_tok
        assert r.n_feats == expect, r
        assert r.keep == (r.n_feats > 0 and r.qc_score >= 0), r


def test_stage_pages_idempotent_reuse_and_drift_restage():
    """stage_pages must REUSE a sentinel-valid stage (composition queries
    whose sub-stacks each stage — host_reputation joins three — would
    otherwise invalidate earlier DataFrames' captured file lists
    mid-plan) and must RESTAGE when the first or the last row drifts at
    matching cardinality, or when warc_ts is stored in a type Spark
    cannot read."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ksana_corpus_builder_spark.sources.pages import (STAGE_N,
                                                          STAGE_PATH,
                                                          stage_pages)

    def parts():
        return sorted(os.path.join(STAGE_PATH, f)
                      for f in os.listdir(STAGE_PATH)
                      if f.endswith(".parquet"))

    shutil.rmtree(STAGE_PATH, ignore_errors=True)
    assert stage_pages() == STAGE_PATH
    mtimes = {p: os.path.getmtime(p) for p in parts()}
    # second call: valid stage -> byte-identical reuse, no rewrite
    assert stage_pages() == STAGE_PATH
    assert {p: os.path.getmtime(p) for p in parts()} == mtimes

    def restage_after(drift_row, **write_kw):
        (part,) = parts()
        pdf = pq.read_table(part).to_pandas()
        if drift_row is not None:
            pdf.loc[pdf.index[drift_row], "text"] = "DRIFTED"
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       part, **write_kw)
        assert stage_pages() == STAGE_PATH
        return pq.read_table(parts()[0]).to_pandas()

    for row in (0, -1):  # content drift, same cardinality and types
        back = restage_after(row, use_deprecated_int96_timestamps=True)
        assert len(back) == STAGE_N
        assert back["text"].iloc[row] != "DRIFTED"
    # same content, warc_ts as TIMESTAMP(NANOS): Spark cannot read it
    restage_after(None)
    schema = pq.ParquetFile(parts()[0]).schema
    assert schema.column(schema.names.index("warc_ts")).physical_type \
        == "INT96"


def test_oracle_first_stage_is_spark_readable(spark):
    """oracle_sql() stages the pages before any Spark query has run, and
    the Spark queries then reuse that stage: it must read back in Spark
    with the pages schema and the generator's rows."""
    import shutil

    from ksana_corpus_builder_spark.sources.pages import (STAGE_N,
                                                          STAGE_PATH,
                                                          pages_df)

    shutil.rmtree(STAGE_PATH, ignore_errors=True)
    entrymod.oracle_sql()
    staged = spark.read.parquet(STAGE_PATH)
    assert staged.schema.simpleString() == (
        "struct<url:string,warc_ts:timestamp,html:binary,text:string,"
        "lang:string>")
    gen = pages_df(spark, STAGE_N)
    assert staged.exceptAll(gen).count() == 0
    assert gen.exceptAll(staged).count() == 0
    assert QS["pages_pipeline"](spark, SF).count() == STAGE_N
