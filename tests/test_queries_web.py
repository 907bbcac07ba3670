"""Invariant tests for the web-graph / cross-snapshot queries
(queries_web.py) — value parity itself is pinned by the DuckDB twins via
tools/check_oracle.py; these pin the ALGORITHMS against independent numpy/
pandas replays and the structural invariants the oracles can't state."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from ksana_corpus_builder_spark import queries_web as qw
from ksana_corpus_builder_spark.sources.pages import stage_pages

SF = "/root/testdata/sf0.001"


def test_pagerank_matches_numpy_replay(spark):
    """The distributed integer PageRank equals a straight-line numpy
    replay of the same recurrence (independent of both engines)."""
    out = {r.doc_id: r.pr for r in qw.q_pagerank(spark, SF).collect()}
    n = len(out)
    assert n > 0
    s = qw.pr_scale(n)
    assert s == qw._PR_S  # test-scale N keeps the full cap (values stable)
    r = np.full(n, s, dtype=np.int64)
    src = np.arange(n, dtype=np.int64)
    dsts = [(src * 73 + 11) % n, (src * 131 + 29) % n]
    for _ in range(qw._PR_ITERS):
        inbound = np.zeros(n, dtype=np.int64)
        for dst in dsts:
            np.add.at(inbound, dst, r // 2)
        r = (15 * s) // 100 + (17 * inbound) // 20
    for i in range(n):
        assert out[i] == r[i], (i, out[i], r[i])


def test_pagerank_mass_bounds(spark):
    """Every rank >= the damping base; floor division only loses mass, so
    total mass never exceeds N * S."""
    rows = qw.q_pagerank(spark, SF).collect()
    base = (15 * qw.pr_scale(len(rows))) // 100
    assert all(r.pr >= base for r in rows)
    assert sum(r.pr for r in rows) <= len(rows) * qw._PR_S


def test_pagerank_scale_adapts_past_int64_headroom(spark):
    """VERDICT r4 #4: at N = 2e9 nodes the OLD fixed scale overflows the
    17 * inbound-mass product under ANSI (throws); the adaptive scale
    keeps 17 * N * S <= 2^62 at ANY N, evaluated here on the worst-case
    mass bound in Spark itself."""
    import pytest

    from pyspark.sql import functions as F
    big_n = 2_000_000_000
    # cast matters: the real query's n comes from count() (already long);
    # a bare lit(2e9) is int32 and 17*n would overflow INT before the
    # long math under test even runs
    df = spark.range(1).select(F.lit(big_n).cast("long").alias("n"))
    # worst-case damping product: 17 * (N*S div 2) >= 17 * max inbound mass
    adaptive = df.select(F.expr(
        f"17 * ((n * ({qw._PR_S_EXPR})) div 2)").alias("x")).collect()
    assert adaptive[0].x == 17 * ((big_n * qw.pr_scale(big_n)) // 2)
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC"):
        df.select(F.expr(
            f"17 * ((n * {qw._PR_S}) div 2)").alias("x")).collect()
    # the formula agrees across all three spellings at the boundary
    for n in (1, 500, 5 * 10**8, 10**9, 10**12):
        got = spark.range(1).select(
            F.lit(n).cast("long").alias("n")).select(
            F.expr(qw._PR_S_EXPR).alias("s")).collect()[0].s
        assert got == qw.pr_scale(n)
        assert 17 * n * qw.pr_scale(n) <= 1 << 62 or qw.pr_scale(n) == 1


def test_boilerplate_blocks_pandas_replay(spark):
    """Block lexing + keep decisions + re-join equal a pure-Python replay
    over the same staged html bytes."""
    import re

    staged = stage_pages()
    pdf = pd.read_parquet(staged, columns=["url", "html"])
    got = {r.url: r for r in qw.q_boilerplate_blocks(spark, SF).collect()}
    assert len(got) == len(pdf)
    # no re.DOTALL: both engines' '.' excludes newlines, and the replay
    # must match the engines' regex semantics, not extend them (ADVICE r4)
    pat = re.compile(r"<p>(.*?)</p>")
    for url, html in zip(pdf["url"], pdf["html"]):
        blocks = pat.findall(bytes(html).decode("utf-8"))
        kept = [b for b in blocks if len(b) >= qw._BB_MIN_CHARS]
        joined = "\n".join(kept)
        g = got[url]
        assert g.n_blocks == len(blocks)
        assert g.n_kept == len(kept)
        assert g.main_chars == sum(len(b) for b in kept)
        assert g.content_md5 == hashlib.md5(joined.encode()).hexdigest()


def test_cross_snapshot_dedup_split_semantics(spark):
    """Re-crawl rows (id >= 2*OFF) are duplicates by construction; the
    genuinely-new rows are duplicates only on a real old-content hash hit
    (verified against a pandas replay of the old-snapshot hash set)."""
    d = pd.read_parquet(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    old_hashes = {hashlib.md5(t.encode()).hexdigest()
                  for t in d[d.doc_id % 3 != 2]["text"]}
    rows = qw.q_cross_snapshot_dedup(spark, SF).collect()
    n_new = (d.doc_id % 3 == 2).sum()
    n_recrawl = ((d.doc_id % 3 != 2) & (d.doc_id % 5 == 0)).sum()
    assert len(rows) == n_new + n_recrawl
    for r in rows:
        if r.new_id >= 2 * qw._XS_OFF:
            assert r.is_dup, r  # re-crawl of an old doc
        else:
            assert r.is_dup == (r.h in old_hashes), r


def test_stream_dedup_state_spans_batches(spark):
    """The staged input holds the duplicates in a SECOND file (later
    micro-batch at maxFilesPerTrigger=1); output = the distinct content
    hashes of the whole input, proving dedup state survived the batch
    boundary."""
    from ksana_corpus_builder_spark.sources.pages import (
        STREAM_DEDUP_N, stage_stream_dedup)
    staged = stage_stream_dedup()
    pdf = pd.read_parquet(staged, columns=["text"])
    assert len(pdf) == STREAM_DEDUP_N  # originals + re-crawl duplicates
    expect = {hashlib.md5(t.encode()).hexdigest() for t in pdf["text"]}
    got = {r.h for r in qw.q_stream_dedup(spark, SF).collect()}
    assert got == expect
    assert len(got) < STREAM_DEDUP_N  # something was actually deduped


def test_intra_line_dedup_invariants(spark):
    """Structural invariants of the within-page dedup: exactly one kept
    occurrence per distinct line (text_kept has NO repeated lines),
    n_lines = kept + dropped, every page drops >= 1 line (the derived
    in-page duplicate), and kept lines preserve first-occurrence order."""
    from ksana_corpus_builder_spark.queries_ref import q_intra_line_dedup
    rows = q_intra_line_dedup(spark, SF).collect()
    assert rows
    for r in rows:
        kept = r.text_kept.split("\n")
        assert len(kept) == len(set(kept)), r.url
        assert r.n_dropped >= 1, r.url
        assert len(kept) + r.n_dropped == r.n_lines, r.url


def test_intra_line_dedup_pandas_replay(spark):
    """Byte-exact pandas replay: first occurrence wins, order preserved."""
    from ksana_corpus_builder_spark.queries_ref import q_intra_line_dedup
    staged = stage_pages()
    got = {r.url: r for r in q_intra_line_dedup(spark, SF).collect()}
    pdf = pd.read_parquet(staged, columns=["url", "text"])
    for _, row in pdf.iterrows():
        lines = (row.text + "\n" + row.text.split("\n")[0]).split("\n")
        seen, kept = set(), []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        r = got[row.url]
        assert r.text_kept == "\n".join(kept), row.url
        assert r.n_lines == len(lines) and \
            r.n_dropped == len(lines) - len(kept), row.url


def test_c4_line_filter_pandas_replay(spark):
    """Byte-exact pandas/hashlib replay of the C4 line rules, including
    the md5-derived terminal punctuation; both predicate branches must
    fire somewhere in the corpus."""
    from ksana_corpus_builder_spark.queries_ref import q_c4_line_filter
    staged = stage_pages()
    got = {r.url: r for r in q_c4_line_filter(spark, SF).collect()}
    pdf = pd.read_parquet(staged, columns=["url", "text"])
    any_punct_fail = any_words_fail = False
    for _, row in pdf.iterrows():
        kept = []
        lines = row.text.split("\n")
        for ln in lines:
            b = int(hashlib.md5(ln.encode()).hexdigest()[:7], 16) % 3
            ln2 = ln + (".", "!", "")[b]
            ends = ln2[-1:] in (".", "!")
            enough = len([w for w in ln2.split(" ") if w]) >= 5
            if ends and enough:
                kept.append(ln2)
            any_punct_fail |= not ends
            any_words_fail |= ends and not enough
        r = got[row.url]
        assert r.text_kept == "\n".join(kept), row.url
        assert r.n_lines == len(lines)
        assert r.n_kept_lines == len(kept)
        assert r.page_keep == (len(kept) >= 3)
    assert any_punct_fail and any_words_fail  # both branches live


def test_pack_sequences_gap_free_packing(spark):
    """The packing is gap-free in doc-id order: each doc's offset equals
    the previous offset plus its token count (exclusive prefix sum), and
    bin/bin_pos are exactly the div/mod of the offset by the 256 cap."""
    from ksana_corpus_builder_spark.queries_ref import (_PACK_CAP,
                                                        q_pack_sequences)
    rows = sorted(q_pack_sequences(spark, SF).collect(),
                  key=lambda r: r.doc_id)
    assert rows
    expect = 0
    for r in rows:
        assert r.seq_offset == expect, (r.doc_id, r.seq_offset, expect)
        assert r.bin == r.seq_offset // _PACK_CAP
        assert r.bin_pos == r.seq_offset % _PACK_CAP
        expect += r.n_tok


def test_pack_tokens_reconstructs_corpus_stream(spark):
    """Concatenating the materialized bins in bin order reproduces the
    corpus token stream EXACTLY (docs in id order, tokens in order) — and
    because the packing is gap-free, every bin except the last holds
    exactly the 256-token cap."""
    from ksana_corpus_builder_spark.queries_ref import _PACK_CAP, q_pack_tokens
    d = pd.read_parquet(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    stream = []
    for _, row in d.sort_values("doc_id").iterrows():
        stream.extend(t for t in row["text"].split(" ") if t)
    rows = sorted(q_pack_tokens(spark, SF).collect(), key=lambda r: r.bin)
    assert [r.bin for r in rows] == list(range(len(rows)))
    got = []
    for r in rows[:-1]:
        assert r.n_tok == _PACK_CAP
        got.extend(r.tokens_str.split(" "))
    assert rows[-1].n_tok == len(rows[-1].tokens_str.split(" ")) <= _PACK_CAP
    got.extend(rows[-1].tokens_str.split(" "))
    assert got == stream


def _bpe_replay(word_freq: dict[str, int], iters: int):
    """Pure-python BPE trainer (Sennrich et al. 2016 §3): greedy
    left-to-right non-overlapping merge application — independent of both
    engines' string machinery."""
    words = {w: [list(w), f] for w, f in word_freq.items()}
    trace = []
    for it in range(1, iters + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words.values():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        mx = max(counts.values())
        best = min(p for p, c in counts.items() if c == mx)
        trace.append((it, dict(counts), best))
        for entry in words.values():
            syms = entry[0]
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms)
                        and (syms[i], syms[i + 1]) == best):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            entry[0] = out
    return trace, words


def test_bpe_merges_python_replay(spark):
    """The distributed iterated BPE trainer equals a pure-python replay:
    same pair counts, same argmax merge, same post-merge recounts, every
    iteration."""
    from collections import Counter

    from ksana_corpus_builder_spark.queries_ref import (_BPE_MERGE_ITERS,
                                                        q_bpe_merges)
    d = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    wf = Counter(t for txt in d["text"] for t in txt.split(" ") if t)
    trace, _ = _bpe_replay(dict(wf), _BPE_MERGE_ITERS)
    got = {}
    for r in q_bpe_merges(spark, SF).collect():
        got.setdefault(r.iter, {})[tuple(r.pair.split(" "))] = (
            r.cnt, r.is_merge)
    assert set(got) == set(range(1, _BPE_MERGE_ITERS + 1))
    for it, counts, best in trace:
        assert {p: c for p, (c, _) in got[it].items()} == counts, it
        merged = [p for p, (_, m) in got[it].items() if m]
        assert merged == [best], (it, merged, best)


def test_bpe_vocab_python_replay(spark):
    """The post-merge vocabulary equals the replay's final word states:
    per symbol, occurrence-weighted corpus frequency and the number of
    distinct dictionary words containing it."""
    from collections import Counter

    from ksana_corpus_builder_spark.queries_ref import (_BPE_MERGE_ITERS,
                                                        q_bpe_vocab)
    d = pd.read_parquet(f"{SF}/documents.parquet", columns=["text"])
    wf = Counter(t for txt in d["text"] for t in txt.split(" ") if t)
    _, words = _bpe_replay(dict(wf), _BPE_MERGE_ITERS)
    freq: dict[str, int] = {}
    n_words: dict[str, int] = {}
    for syms, f in words.values():
        for s in syms:
            freq[s] = freq.get(s, 0) + f
        for s in set(syms):
            n_words[s] = n_words.get(s, 0) + 1
    rows = q_bpe_vocab(spark, SF).collect()
    assert {r.token: r.freq for r in rows} == freq
    assert {r.token: r.n_words for r in rows} == n_words


def test_bpe_encode_docs_python_replay(spark):
    """Per-document subword sequence lengths under the trained merges
    equal the replay: n_subword_tokens = sum over the doc's words of the
    word's post-merge symbol count."""
    from collections import Counter

    from ksana_corpus_builder_spark.queries_ref import (_BPE_MERGE_ITERS,
                                                        q_bpe_encode_docs)
    d = pd.read_parquet(f"{SF}/documents.parquet",
                        columns=["doc_id", "text"])
    wf = Counter(t for txt in d["text"] for t in txt.split(" ") if t)
    _, words = _bpe_replay(dict(wf), _BPE_MERGE_ITERS)
    n_sub = {w: len(entry[0]) for w, entry in words.items()}
    rows = {r.doc_id: r for r in q_bpe_encode_docs(spark, SF).collect()}
    for _, row in d.iterrows():
        toks = [t for t in row["text"].split(" ") if t]
        if not toks:
            assert row["doc_id"] not in rows
            continue
        r = rows[row["doc_id"]]
        assert r.n_words == len(toks)
        assert r.n_subword_tokens == sum(n_sub[t] for t in toks)
        assert r.n_chars == sum(len(t) for t in toks)
        assert r.n_words <= r.n_subword_tokens <= r.n_chars


def test_bloom_dedup_no_false_negatives(spark):
    """The bloom filter's defining guarantee: every exact duplicate is a
    bloom hit (is_dup -> bloom_hit); and the exact flags replay
    cross_snapshot_dedup's split semantics (every simulated re-crawl row,
    new_id >= 2*offset, is a dup AND a hit)."""
    rows = qw.q_bloom_dedup(spark, SF).collect()
    assert len(rows) > 0
    assert all(r.bloom_hit for r in rows if r.is_dup)
    recrawls = [r for r in rows if r.new_id >= 2 * qw._XS_OFF]
    assert recrawls and all(r.is_dup and r.bloom_hit for r in recrawls)


def test_bloom_membership_tiny_filter_false_positives(spark):
    """At words=1 (32 filter bits) saturation forces false positives —
    the classical bloom trade-off the full-size query never shows at test
    scale — while false negatives stay impossible BY CONSTRUCTION at any
    size. Old = 40 distinct texts; new = 10 of those (must all hit) + 40
    unseen (some must collide at this saturation)."""
    from ksana_corpus_builder_spark.operators.dedup import bloom_membership
    old = spark.createDataFrame(
        [(i, f"seen text number {i}") for i in range(40)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(i, f"seen text number {i}") for i in range(10)]
        + [(100 + i, f"unseen text number {i}") for i in range(40)],
        "new_id long, text string")
    out = {r.new_id: r.bloom_hit
           for r in bloom_membership(old, new, words=1, k=2).collect()}
    assert all(out[i] for i in range(10))          # no false negatives
    assert any(out[100 + i] for i in range(40))    # saturation -> some fps


def test_bloom_dedup_python_replay(spark):
    """Bit-for-bit python replay of the filter build + probe (third
    spelling of the same integer arithmetic, independent of both
    engines)."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    m = qw._BLOOM_WORDS * 32
    old = docs[docs.doc_id % 3 != 2]

    def h12(text: str) -> tuple[int, int]:
        h = hashlib.md5(text.encode()).hexdigest()
        return int(h[:12], 16), int(h[12:24], 16)

    bits = set()
    for txt in old.text:
        h1, h2 = h12(txt)
        for i in range(qw._BLOOM_K):
            bits.add((h1 + i * h2) % m)
    expect = {}
    for row in old[old.doc_id % 5 == 0].itertuples():
        expect[row.doc_id + 2 * qw._XS_OFF] = row.text
    for row in docs[docs.doc_id % 3 == 2].itertuples():
        expect[row.doc_id + qw._XS_OFF] = row.text
    hits = {nid: all((h12(txt)[0] + i * h12(txt)[1]) % m in bits
                     for i in range(qw._BLOOM_K))
            for nid, txt in expect.items()}
    out = {r.new_id: r.bloom_hit for r in qw.q_bloom_dedup(spark, SF).collect()}
    assert out == hits


def test_lm_train_score_python_replay(spark):
    """Counter-based replay of the trained bigram LM: identical integer
    smoothing/quantization, independent of both engines."""
    from collections import Counter
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["doc_id", "text"]]
    grams = {row.doc_id: list(zip(t := [w for w in row.text.split(" ") if w],
                                  t[1:]))
             for row in docs.itertuples()}
    c12: Counter = Counter()
    for did, gs in grams.items():
        if did % 7 == 1:
            c12.update(gs)
    c1: Counter = Counter()
    for (w1, _), c in c12.items():
        c1[w1] += c
    v = len({w2 for _, w2 in c12})
    out = {r.doc_id: (r.n_bigrams, r.lm_score)
           for r in qw.q_lm_train_score(spark, SF).collect()}
    for did, gs in grams.items():
        if not gs:
            assert out[did] == (0, 0)
            continue
        qsum = sum((c12[g] + 1) * qw._LM_Q // (c1[g[0]] + v) for g in gs)
        assert out[did] == (len(gs), qsum // len(gs)), did


def test_lm_train_score_separates_training_text(spark):
    """Sanity: documents made of in-domain bigrams score far above docs
    of never-seen tokens (the model's purpose); unseen-everything docs get
    the uniform floor Q/(0+V)."""
    rows = qw.q_lm_train_score(spark, SF).collect()
    train_scores = [r.lm_score for r in rows
                    if r.doc_id % 7 == 1 and r.n_bigrams > 0]
    other = [r.lm_score for r in rows
             if r.doc_id % 7 != 1 and r.n_bigrams > 0]
    assert train_scores and other
    assert (sum(train_scores) / len(train_scores)
            > sum(other) / len(other))


def test_hll_distinct_python_replay(spark):
    """Register-for-register python replay of the hand-built HLL (third
    spelling of the integer arithmetic), plus the estimator-quality
    invariant the sketch exists for."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["text"]]
    m, rmax = qw._HLL_M, qw._HLL_RMAX
    regs = [0] * m
    hs = set()
    for txt in docs.text:
        h = int(hashlib.md5(txt.encode()).hexdigest()[:7], 16)
        hs.add(h)
        w = h // m
        rho = rmax if w == 0 else rmax - w.bit_length()
        b = h % m
        regs[b] = max(regs[b], rho)
    s_scaled = sum(1 << (rmax - r) for r in regs)
    est = qw._HLL_NUM // (s_scaled * 1_000_000)
    exact = len(hs)
    [row] = qw.q_hll_distinct(spark, SF).collect()
    assert (row.m, row.v0, row.s_scaled) == (m, regs.count(0), s_scaled)
    assert (row.est_raw, row.exact_distinct) == (est, exact)
    assert row.err_ppm == (est - exact) * 1_000_000 // exact
    # HLL standard error ~1.04/sqrt(m) = 6.5% at m=256; allow 4 sigma
    assert abs(row.err_ppm) < 260_000
    # mergeability — the property that makes HLL distribute: registers
    # of a union are the per-bucket max of the parts' registers, so
    # per-partition sketches combine losslessly (what the map-side
    # partial max IS in the Spark plan)
    half_a, half_b = [0] * m, [0] * m
    for j, txt in enumerate(docs.text):
        h = int(hashlib.md5(txt.encode()).hexdigest()[:7], 16)
        w = h // m
        rho = rmax if w == 0 else rmax - w.bit_length()
        part = half_a if j % 2 == 0 else half_b
        part[h % m] = max(part[h % m], rho)
    merged = [max(a, b) for a, b in zip(half_a, half_b)]
    assert merged == regs


def test_cms_heavy_hitters_python_replay(spark):
    """Counter-for-counter python replay of the count-min sketch, plus
    the one-sided-error guarantee (est >= exact, never under) for every
    reported heavy hitter."""
    from collections import Counter
    docs = pd.read_parquet(f"{SF}/documents.parquet")[["text"]]
    d_rows, w = qw._CMS_D, qw._CMS_W
    counters = [Counter() for _ in range(d_rows)]
    exact: Counter = Counter()
    cols = {}
    for txt in docs.text:
        for t in txt.split(" "):
            if not t:
                continue
            exact[t] += 1
            if t not in cols:
                h = hashlib.md5(t.encode()).hexdigest()
                h1, h2 = int(h[:12], 16), int(h[12:24], 16)
                cols[t] = [(h1 + r * h2) % w for r in range(d_rows)]
            for r, c in enumerate(cols[t]):
                counters[r][c] += 1
    expect = {t: (n, min(counters[r][c] for r, c in enumerate(cols[t])))
              for t, n in exact.items() if n >= qw._CMS_FLOOR}
    out = {r.token: (r.exact_cnt, r.cms_est, r.overshoot)
           for r in qw.q_cms_heavy_hitters(spark, SF).collect()}
    assert set(out) == set(expect)
    for t, (n, est) in expect.items():
        assert out[t] == (n, est, est - n), t
        assert est >= n  # one-sided error by construction


def test_anchor_texts_python_replay(spark):
    """Edge synthesis, per-target anchor counts, and the ranked top-k
    string equal a pure-Python replay over the documents table."""
    from collections import Counter

    pdf = pd.read_parquet(f"{SF}/documents.parquet",
                          columns=["doc_id", "text"])
    n = len(pdf)
    per: dict[int, Counter] = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        toks = [t for t in text.split(" ") if t != ""]
        if not toks:
            continue
        a1, a2 = toks[0], toks[1] if len(toks) > 1 else toks[0]
        d1 = (int(doc_id) * 73 + 11) % n
        d2 = ((int(doc_id) % 997) * (int(doc_id) % 983) + 7) % n
        per.setdefault(d1, Counter())[a1] += 1
        per.setdefault(d2, Counter())[a2] += 1
    got = {r.doc_id: r for r in qw.q_anchor_texts(spark, SF).collect()}
    assert set(got) == set(per)
    skewed = False
    for dst, cnts in per.items():
        g = got[dst]
        assert g.in_links == sum(cnts.values())
        assert g.n_anchors == len(cnts)
        top = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))
        assert g.top_anchors == "|".join(a for a, _ in top[:qw._AT_TOPK])
        skewed = skewed or g.in_links > 2
    # the quadratic family must actually skew (a permutation would make
    # every in_links exactly 2 and the ranking vacuous)
    assert skewed


def _robots_rules() -> dict[str, list[tuple[str, bool]]]:
    """Pure-Python twin of the deterministic per-host rule synthesis."""
    rules: dict[str, list[tuple[str, bool]]] = {}
    for hi in range(qw._RB_HOSTS):
        host = "bighost.example" if hi == 0 else f"host{hi}.example"
        rs = []
        for c in range(qw._RB_R1):
            rs.append((qw._RB_HEX[c], (hi + c) % 3 != 0))
        for c in range(0, qw._RB_R2 * 2, 2):
            rs.append((qw._RB_HEX[c] + qw._RB_HEX[(c * 7 + hi) % 16],
                       (hi + c) % 2 == 0))
        rules[host] = rs
    return rules


def test_robots_filter_longest_match_replay(spark):
    """Longest-prefix-match resolution (most specific rule wins, default
    allow) equals an explicit Python replay, and the fixture exercises
    the no-match, 1-char, and 2-char-override branches."""
    staged = stage_pages()
    pdf = pd.read_parquet(staged, columns=["url"])
    rules = _robots_rules()
    got = {r.url: r for r in qw.q_robots_filter(spark, SF).collect()}
    assert len(got) == len(set(pdf["url"]))
    seen_lens = set()
    for url in set(pdf["url"]):
        host, path = url.removeprefix("https://").split("/", 1)
        matches = [(p, a) for p, a in rules.get(host, [])
                   if path.startswith(p)]
        g = got[url]
        if not matches:
            assert (g.matched_prefix, g.matched_len, g.allowed) == \
                (None, 0, True), url
        else:
            p, a = max(matches, key=lambda r: len(r[0]))
            assert (g.matched_prefix, g.matched_len, g.allowed) == \
                (p, len(p), a), url
        seen_lens.add(g.matched_len)
    assert seen_lens == {0, 1, 2}


def test_dup_span_cut_python_replay(spark):
    """Keeper selection, interval union, and the byte-exact cleaned-text
    reconstruction all equal a pure-Python replay — and the fixture
    actually exercises the cut path (some page loses tokens) alongside
    untouched pages."""
    import re
    from collections import defaultdict

    from ksana_corpus_builder_spark.queries_ref import (_SPAN_S, _SPAN_W,
                                                        q_dup_span_cut)

    staged = stage_pages()
    pdf = pd.read_parquet(staged, columns=["url", "text"])
    toks_by_url = {}
    for url, text in zip(pdf["url"], pdf["text"]):
        toks = [t for t in re.sub(r"\s+", " ", text).split(" ") if t]
        if len(toks) >= _SPAN_W:
            toks_by_url[url] = toks
    inst = []
    for url, toks in toks_by_url.items():
        for i in range((len(toks) - _SPAN_W) // _SPAN_S + 1):
            s = i * _SPAN_S + 1
            w = hashlib.md5(
                " ".join(toks[s - 1:s - 1 + _SPAN_W]).encode()).hexdigest()
            inst.append((url, s, w))
    urls_by_w = defaultdict(set)
    for url, _, w in inst:
        urls_by_w[w].add(url)
    cut = defaultdict(list)
    for url, s, w in inst:
        us = urls_by_w[w]
        if len(us) >= 2 and url != min(us):
            cut[url].append((s, s + _SPAN_W - 1))
    expected = {}
    for url, toks in toks_by_url.items():
        islands: list[list[int]] = []
        for s, e in sorted(cut.get(url, [])):
            if islands and s <= islands[-1][1] + 1:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        covered = {p for s, e in islands for p in range(s, e + 1)}
        kept = [t for j, t in enumerate(toks, 1) if j not in covered]
        expected[url] = (len(toks), len(islands), len(covered),
                         len(toks) - len(covered),
                         hashlib.md5(" ".join(kept).encode()).hexdigest())
    got = {r.url: (r.total_tokens, r.n_islands, r.cut_tokens,
                   r.kept_tokens, r.cleaned_md5)
           for r in q_dup_span_cut(spark, SF).collect()}
    assert got == expected
    assert any(v[2] > 0 for v in expected.values())   # the cut path fires
    assert any(v[2] == 0 for v in expected.values())  # untouched pages too
    # one copy survives globally: every duplicated window's keeper page
    # is never cut on that window's account alone
    keepers = {min(us) for us in urls_by_w.values() if len(us) >= 2}
    assert keepers  # fixture has cross-page duplicate windows


def test_bpe_fertility_python_replay(spark):
    """Per-language fertility equals the pure-python BPE replay rolled up
    by the documents table's lang column, including the ppm integer
    quantization."""
    from collections import Counter

    from ksana_corpus_builder_spark.queries_ref import (_BPE_MERGE_ITERS,
                                                        q_bpe_fertility)
    d = pd.read_parquet(f"{SF}/documents.parquet", columns=["text", "lang"])
    wf = Counter(t for txt in d["text"] for t in txt.split(" ") if t)
    _, words = _bpe_replay(dict(wf), _BPE_MERGE_ITERS)
    n_sub = {w: len(syms) for w, (syms, _) in words.items()}
    agg: dict[str, list[int]] = {}
    for txt, lang in zip(d["text"], d["lang"]):
        for t in txt.split(" "):
            if t:
                a = agg.setdefault(lang, [0, 0, 0])
                a[0] += 1
                a[1] += n_sub[t]
                a[2] += len(t)
    rows = q_bpe_fertility(spark, SF).collect()
    assert len(rows) == len(agg)
    for r in rows:
        nw, ns, nc = agg[r.lang]
        assert (r.n_words, r.n_subword_tokens, r.n_chars) == (nw, ns, nc)
        assert r.fertility_ppm == ns * 1_000_000 // nw
        assert r.chars_per_token_ppm == nc * 1_000_000 // ns
        assert r.fertility_ppm >= 1_000_000  # a word is >= 1 subword


def test_crawl_schedule_politeness_replay(spark):
    """Slots, fetch offsets and makespans equal a python replay of the
    per-host priority queue, the politeness invariant holds (same-host
    fetches are exactly crawl_delay apart), and the generator's host skew
    shows up as bighost dominating the makespan."""
    staged = stage_pages()
    pdf = pd.read_parquet(staged, columns=["url"]).drop_duplicates()
    by_host: dict[str, list[tuple[int, str]]] = {}
    for url in pdf["url"]:
        host = url.removeprefix("https://").split("/", 1)[0]
        prio = int(hashlib.md5(url.encode()).hexdigest()[:7], 16)
        by_host.setdefault(host, []).append((-prio, url))
    expected = {}
    for host, q in by_host.items():
        delay = len(host) % 5 + 1
        q.sort()
        for slot, (_, url) in enumerate(q):
            expected[url] = (host, delay, slot, slot * delay,
                             (len(q) - 1) * delay)
    got = {r.url: (r.host, r.crawl_delay, r.slot, r.fetch_s,
                   r.host_makespan_s)
           for r in qw.q_crawl_schedule(spark, SF).collect()}
    assert got == expected
    makespans = {h: (len(q) - 1) * (len(h) % 5 + 1)
                 for h, q in by_host.items()}
    big = makespans.pop("bighost.example")
    assert big == max([big, *makespans.values()])  # skewed host dominates


def test_gopher_rules_pandas_replay(spark):
    """Byte-exact pandas/hashlib replay of the Gopher quality gates,
    including the md5-derived bullet/ellipsis/#tag decorations and the
    listy-page override; every rule must fail somewhere in the corpus
    (all fourteen branches live)."""
    import re
    from ksana_corpus_builder_spark.queries_ref import (
        _GOPHER_STOPS, q_gopher_rules)
    staged = stage_pages()
    got = {r.url: r for r in q_gopher_rules(spark, SF).collect()}
    pdf = pd.read_parquet(staged, columns=["url", "text"])
    assert len(got) == len(pdf)
    fails = {k: False for k in ("word_count", "mean_word_len",
                                "symbol_ratio", "bullet", "ellipsis",
                                "alpha", "stop_words")}

    def bucket(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)

    saw_listy = False
    for _, row in pdf.iterrows():
        listy = bucket(row.url) % 13 == 0
        saw_listy |= listy
        nl = nw = wl = al = sy = bul = ell = mask = 0
        for ln in row.text.split("\n"):
            if listy:
                ln2 = "• " + ln
            else:
                b = bucket(ln) % 7
                ln2 = ("• " + ln if b == 0 else
                       ln + "..." if b == 1 else
                       ln + " #tag" if b == 2 else ln)
            ws = [w for w in ln2.split(" ") if w]
            nl += 1
            nw += len(ws)
            wl += sum(len(w) for w in ws)
            al += sum(1 for w in ws if re.search("[a-z]", w))
            sy += sum(1 for w in ws if w.startswith("#") or "..." in w)
            for i, s in enumerate(_GOPHER_STOPS):
                if s in ws:
                    mask |= 1 << i
            bul += ln2.startswith("• ")
            ell += ln2.endswith("...")
        r = got[row.url]
        assert (r.n_lines, r.n_words, r.sum_word_len) == (nl, nw, wl)
        assert (r.n_alpha_words, r.n_symbol_words) == (al, sy)
        assert (r.n_bullet_lines, r.n_ellipsis_lines) == (bul, ell)
        assert r.n_stop_words == bin(mask).count("1") <= len(_GOPHER_STOPS)
        rules = {
            "word_count": 50 <= nw <= 100000,
            "mean_word_len": 3 * nw <= wl <= 10 * nw,
            "symbol_ratio": 10 * sy <= nw,
            "bullet": 10 * bul < 9 * nl,
            "ellipsis": 10 * ell < 3 * nl,
            "alpha": 5 * al >= 4 * nw,
            "stop_words": bin(mask).count("1") >= 2,
        }
        for k, v in rules.items():
            assert getattr(r, f"r_{k}") == v, (row.url, k)
            fails[k] |= not v
        assert r.keep == all(rules.values())
        if listy:
            assert not r.r_bullet  # every line bulleted -> 10*nl < 9*nl
    assert saw_listy and all(fails.values()), fails


def test_gopher_dup_lines_pandas_replay(spark):
    """Byte-exact pandas/hashlib replay of the Gopher line-repetition
    gates, including the md5-derived doubled-line "templated chrome"
    pages; both keep branches must fire."""
    from ksana_corpus_builder_spark.queries_ref import q_gopher_dup_lines
    staged = stage_pages()
    got = {r.url: r for r in q_gopher_dup_lines(spark, SF).collect()}
    pdf = pd.read_parquet(staged, columns=["url", "text"])
    assert len(got) == len(pdf)
    any_keep = any_drop = saw_dupy = False
    for _, row in pdf.iterrows():
        ls = row.text.split("\n")
        dupy = int(hashlib.md5(row.url.encode()).hexdigest()[:7], 16) % 11 == 0
        if dupy:
            ls = ls + ls
        saw_dupy |= dupy
        cnt: dict[str, int] = {}
        for ln in ls:
            cnt[ln] = cnt.get(ln, 0) + 1
        n = len(ls)
        nd = len(cnt)
        chars = sum(len(ln) for ln in ls)
        dup_chars = sum((c - 1) * len(ln) for ln, c in cnt.items())
        r = got[row.url]
        assert (r.n_lines, r.n_distinct_lines, r.dup_lines) == (n, nd, n - nd)
        assert (r.line_chars, r.dup_line_chars) == (chars, dup_chars)
        assert r.r_dup_lines == (10 * (n - nd) <= 3 * n)
        assert r.r_dup_line_chars == (5 * dup_chars <= chars)
        assert r.keep == (r.r_dup_lines and r.r_dup_line_chars)
        any_keep |= r.keep
        any_drop |= not r.keep
        if dupy:
            assert not r.keep  # doubling pushes both fractions past gate
    assert saw_dupy and any_keep and any_drop


def test_normalized_dedup_pandas_replay(spark):
    """Byte-exact pandas/re replay of the normalized near-exact dedup:
    same normalization, same md5 keys, same min-url keeper; dup groups
    must exist naturally (no derived input) and every group keeps
    exactly one page."""
    import re
    from ksana_corpus_builder_spark.queries_ref import q_normalized_dedup
    staged = stage_pages()
    got = {r.url: r for r in q_normalized_dedup(spark, SF).collect()}
    pdf = pd.read_parquet(staged, columns=["url", "text"])
    assert len(got) == len(pdf)
    groups: dict[str, list[str]] = {}
    for _, row in pdf.iterrows():
        norm = re.sub(" +", " ",
                      re.sub("[^a-z ]", " ", row.text.lower())).strip()
        key = (hashlib.md5(norm.encode()).hexdigest() if norm
               else hashlib.md5(f"u:{row.url}".encode()).hexdigest())
        groups.setdefault(key, []).append(row.url)
    saw_dup_group = False
    for key, urls in groups.items():
        keeper = min(urls)
        saw_dup_group |= len(urls) > 1
        for u in urls:
            r = got[u]
            assert r.norm_key == key
            assert r.group_size == len(urls)
            assert r.keeper == keeper
            assert r.is_dup == (u != keeper)
        assert sum(1 for u in urls if not got[u].is_dup) == 1
    assert saw_dup_group


def test_hits_matches_numpy_replay(spark):
    """The distributed integer HITS (max-norm half-steps) equals a
    straight-line numpy replay of the same recurrence."""
    rows = qw.q_hits_scores(spark, SF).collect()
    n = len(rows)
    assert n > 0
    s = qw.hits_scale(n)
    assert s == qw._HITS_S  # test-scale N keeps the full cap
    src = np.arange(n, dtype=np.int64)
    dsts = [(src * 73 + 11) % n, ((src % 997) * (src % 983) + 7) % n]
    h = np.full(n, s, dtype=np.int64)

    def norm(raw):
        q = max((int(raw.max()) + s - 1) // s, 1)
        return raw // q

    a = None
    for _ in range(qw._HITS_ITERS):
        araw = np.zeros(n, dtype=np.int64)
        for dst in dsts:
            np.add.at(araw, dst, h)
        a = norm(araw)
        hraw = np.zeros(n, dtype=np.int64)
        for dst in dsts:
            np.add.at(hraw, src, a[dst])
        h = norm(hraw)
    got = {r.doc_id: r for r in rows}
    for i in range(n):
        assert got[i].authority == a[i], (i, got[i].authority, a[i])
        assert got[i].hub == h[i], (i, got[i].hub, h[i])
    # the quadratic family skews in-degree (the affine one is a
    # permutation, so at small N every doc keeps >= 1 in-link):
    # authority and hub must genuinely diverge, and both max-normalized
    # vectors must actually reach a top score near S
    assert any(r.authority != r.hub for r in rows)
    assert max(r.authority for r in rows) > s // 2
    assert max(r.hub for r in rows) > s // 2


def test_hits_scale_safe_at_any_node_count(spark):
    """2*N*S <= 2^62 by construction at every N — the worst-case
    half-step sum can never overflow BIGINT under ANSI; formula agrees
    across Spark, SQL, and python spellings at the boundaries."""
    from pyspark.sql import functions as F
    for n in (1, 500, 10**6, 2 * 10**9, 10**12, 10**15):
        got = spark.range(1).select(
            F.lit(n).cast("long").alias("n")).select(
            F.expr(qw._HITS_S_EXPR).alias("s")).collect()[0].s
        assert got == qw.hits_scale(n)
        assert 2 * n * qw.hits_scale(n) <= 1 << 62 or qw.hits_scale(n) == 1


# ----------------------- round-5 final additions (invariant pins)


def test_simhash_hamming_pairs_invariants(spark):
    """Band-join candidates never corrupt the verify: every emitted pair
    has hamming <= the pigeonhole bound, ids are ordered and de-duped,
    and byte-identical documents (fingerprint-equal by construction)
    MUST surface as hamming-0 pairs — the recall floor the band split
    guarantees."""
    rows = qw.q_simhash_hamming_pairs(spark, SF).collect()
    seen = set()
    for r in rows:
        assert r.id_a < r.id_b
        assert 0 <= r.hamming <= qw._SH_MAXDIST
        assert (r.id_a, r.id_b) not in seen
        seen.add((r.id_a, r.id_b))
    docs = pd.read_parquet(f"{SF}/documents.parquet",
                           columns=["doc_id", "text"])
    docs = docs[docs["text"].str.split(" ").map(
        lambda t: any(x != "" for x in t))]
    by_text = docs.groupby("text")["doc_id"].apply(list)
    zero = {(a, b) for r in rows if r.hamming == 0
            for a, b in [(r.id_a, r.id_b)]}
    for ids in by_text:
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                assert (ids[i], ids[j]) in zero, (ids[i], ids[j])


def test_simhash_hamming_pairs_plan_build_runs_no_job(spark):
    """Building the query's DataFrame runs no job beyond the parquet
    schema read every `spark.read.parquet` makes: the fingerprint
    checkpoint is lazy, planned without AQE (which would run the
    repartition's shuffle stage at once), and fills on the first action."""
    from ksana_corpus_builder_spark.sources.tables import load
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")

    def jobs_while(group, build):
        sc.setJobGroup(group, "plan construction only")
        try:
            return build(), sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    _, read = jobs_while("documents-schema-read",
                         lambda: load(spark, SF, "documents"))
    df, built = jobs_while("simhash-hamming-plan-build",
                           lambda: qw.q_simhash_hamming_pairs(spark, SF))
    assert len(built) == len(read)
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
    assert df.count() > 0


def test_label_prop_seeds_clamped_and_votes_sane(spark):
    """Seeds never change label (the semi-supervised clamp); non-seed
    labels only ever take values a neighbor could have voted."""
    rows = qw.q_label_prop_spam(spark, SF).collect()
    assert len(rows) > 0
    names = {0: "unknown", 1: "ham", 2: "spam"}
    n_moved = 0
    for r in rows:
        if r.doc_id % 17 == 3:
            assert r.label == 2, r
        elif r.doc_id % 17 == 5:
            assert r.label == 1, r
        elif r.label != 0:
            n_moved += 1
        assert r.label_name == names[r.label]
    assert n_moved > 0  # propagation genuinely spread labels


def test_cdx_offsets_are_contiguous_and_digests_real(spark):
    """Per shard the records tile the file exactly: first offset 0, each
    next offset = previous offset + previous length; the digest is the
    real md5 of the raw payload bytes."""
    from ksana_corpus_builder_spark.sources.pages import STAGE_PATH
    rows = qw.q_cdx_index(spark, SF).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r.offset)
        at = 0
        for r in rs:
            assert r.offset == at, (shard, r.url, r.offset, at)
            at += r.length
    pages = pd.read_parquet(STAGE_PATH, columns=["url", "html"])
    digests = {r.url: r.digest for r in rows}
    for _, p in pages.head(25).iterrows():
        assert digests[p["url"]] == hashlib.md5(bytes(p["html"])).hexdigest()
    # and the declared framing is byte-accurate: header + payload + 4
    lengths = {r.url: r.length for r in rows}
    p0 = pages.iloc[0]
    hdr0 = (f"WARC/1.0\r\nWARC-Target-URI: {p0['url']}"
            f"\r\nContent-Length: {len(bytes(p0['html']))}\r\n\r\n")
    assert lengths[p0["url"]] == len(hdr0.encode()) + len(bytes(p0["html"])) + 4


def test_zorder_groups_are_disjoint_and_complete(spark):
    """File groups partition the z-key space in contiguous ranges, cover
    every staged page, and each group's min/max stats stay inside its
    declared key range (the skip-index soundness property)."""
    from ksana_corpus_builder_spark.sources.pages import STAGE_N
    rows = qw.q_zorder_layout(spark, SF).collect()
    assert sum(r.n_pages for r in rows) == STAGE_N
    for r in rows:
        lo, hi = r.file_group * qw._ZO_GROUP, (r.file_group + 1) * qw._ZO_GROUP
        assert lo <= r.z_min <= r.z_max < hi
        assert 0 <= r.host_min <= r.host_max < 1 << qw._ZO_HBITS
        assert 0 <= r.day_min <= r.day_max < 1 << qw._ZO_DBITS


def test_dataset_diff_statuses_follow_buckets(spark):
    """Every url's status is exactly what its derived md5 bucket
    dictates — all four branches live."""
    rows = qw.q_dataset_diff(spark, SF).collect()
    counts: dict[str, int] = {}
    for r in rows:
        counts[r.status] = counts.get(r.status, 0) + 1
        if r.url.endswith("/v2"):
            assert r.status == "added" and not r.in_old
            continue
        b = int(hashlib.md5(r.url.encode()).hexdigest()[0], 16) % 16
        if b in (0, 1):
            assert r.status == "removed" and not r.in_new
        elif b in (2, 3):
            assert r.status == "changed" and r.in_old and r.in_new
        else:
            assert r.status == "unchanged"
    assert set(counts) == {"added", "removed", "changed", "unchanged"}


def test_refresh_priority_tiers_consistent(spark):
    """Tier and interval follow the ppm thresholds exactly; host change
    counts re-aggregate the diff manifest."""
    diff = qw.q_dataset_diff(spark, SF).collect()
    per_host: dict[str, dict[str, int]] = {}
    for r in diff:
        host = r.url.split("https://")[1].split("/")[0]
        d = per_host.setdefault(host, {"n": 0, "chg": 0, "add": 0})
        d["n"] += 1
        if r.status == "changed":
            d["chg"] += 1
        if r.status == "added":
            d["add"] += 1
    rows = qw.q_refresh_priority(spark, SF).collect()
    assert {r.host for r in rows} == set(per_host)
    for r in rows:
        d = per_host[r.host]
        assert (r.n_urls, r.n_changed, r.n_added) == (d["n"], d["chg"], d["add"])
        assert r.change_ppm == ((d["chg"] + d["add"]) * 1_000_000) // d["n"]
        want = ("hot" if r.change_ppm >= qw._RP_HOT_PPM else
                "warm" if r.change_ppm >= qw._RP_WARM_PPM else "cold")
        assert r.tier == want
        assert r.interval_days == {"hot": 1, "warm": 7, "cold": 30}[r.tier]
