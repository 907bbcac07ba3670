"""wordstream kernels vs their reference implementations (pure pandas —
no Spark session needed). The golden/oracle gates already pin the composed
kernels; these pin the shared precomputes directly, including the unicode
edge cases (supplementary-plane clamp, NBSP/line-separator whitespace)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from ksana_corpus_builder_spark.functions import wordstream as W


_TRICKY = pd.Series([
    "",
    "a b\tc\n",
    "天 地 x 玄黃",          # NBSP is \s in unicode re
    "  \x1c\x1d",        # line/para separators + info seps
    "0123x9 42",
    "emoji \U0001f389 beyond bmp",  # supplementary plane -> clamp slot
    None,
    "  \n\n  ",
])


def test_char_stats_matches_regex_counts():
    cs = W.char_stats(_TRICKY)
    t = _TRICKY.fillna("")
    assert (cs.n_chars == t.str.len().to_numpy()).all()
    assert (cs.nonspace == t.str.count(r"\S").to_numpy()).all()
    assert (cs.cjk == t.str.count(r"[一-鿿]").to_numpy()).all()
    assert (cs.digits == t.str.count(r"[0-9]").to_numpy()).all()


def test_char_stats_empty_series():
    cs = W.char_stats(pd.Series([], dtype=object))
    assert len(cs.nonspace) == 0 and len(cs.cjk) == 0


def test_word_stream_stats_match_per_doc_reference():
    texts = pd.Series(["the the cat", "", "one", "a a a b b c",
                       "xx yy xx zz yy", None])
    words = texts.fillna("").str.split()
    st = W.build(words)
    # reference (the former per-document fold)
    ref = []
    for ws in words:
        ws = ws if isinstance(ws, list) else []
        lens = [len(w) for w in ws]
        ref.append((len(ws), sum(lens), len(set(ws)), max(lens, default=0)))
    ref = np.array(ref)
    assert (st.uniq_lens[st.codes] == st.tok_lens).all()
    assert (st.lens == ref[:, 0]).all()
    assert [st.tok_lens[a:a + n].sum() for a, n in zip(st.starts, st.lens)] \
        == list(ref[:, 1])
    assert (st.distinct_per_doc() == ref[:, 2]).all()
    assert (st.seg_max(st.tok_lens) == ref[:, 3]).all()


def test_count_where_unique_matches_membership():
    texts = pd.Series(["the cat the dog", "dog dog", ""])
    st = W.build(texts.str.split())
    mask = st.uniq_series.isin(("the", "dog")).to_numpy()
    got = st.count_where_unique(mask)
    assert list(got) == [3, 2, 0]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as hst

    @settings(max_examples=50, deadline=None)
    @given(hst.lists(hst.text(
        alphabet=hst.characters(codec="utf-8"), max_size=80), max_size=12))
    def test_char_stats_property(texts):
        """For ANY unicode input (including astral-plane codepoints that
        exercise the LUT clamp), char_stats must equal the per-document
        regex counts it replaced."""
        t = pd.Series(texts, dtype=object)
        cs = W.char_stats(t)
        assert (cs.nonspace == t.str.count(r"\S").to_numpy()).all()
        assert (cs.cjk == t.str.count(r"[一-鿿]").to_numpy()).all()
        assert (cs.digits == t.str.count(r"[0-9]").to_numpy()).all()

    @settings(max_examples=50, deadline=None)
    @given(hst.lists(hst.lists(hst.text(
        alphabet=hst.characters(codec="utf-8", exclude_categories=("Z", "C")),
        min_size=1, max_size=8), max_size=15), max_size=8))
    def test_word_stream_property(wordlists):
        """Per-doc (count, sum-len, distinct, max-len) from the factorized
        stream == the naive per-document fold, for arbitrary token lists."""
        words = pd.Series(wordlists, dtype=object)
        st = W.build(words)
        assert (st.uniq_lens[st.codes] == st.tok_lens).all()
        for i, ws in enumerate(wordlists):
            lens = [len(w) for w in ws]
            assert st.lens[i] == len(ws)
            assert list(st.tok_lens[st.starts[i]:][:len(ws)]) == lens
            assert st.distinct_per_doc()[i] == len(set(ws))
            assert st.seg_max(st.tok_lens)[i] == max(lens, default=0)
except ImportError:  # pragma: no cover - hypothesis ships in the container
    pass
