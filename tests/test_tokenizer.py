"""Tokenizer v2 semantics (reference contract from index.js:177-195,
inverted.js:33-73)."""

from __future__ import annotations

import pandas as pd

from ksana_corpus_builder_spark import tokenizer as tk


def types(text):
    return [t for _, t in tk.tokenize(text)]


def test_token_types():
    toks = tk.tokenize("Hello, 世界 42 naïve!")
    assert toks == [
        ("Hello", tk.LATIN), (",", tk.PUNC), (" ", tk.SPACE),
        ("世", tk.CJK), ("界", tk.CJK), (" ", tk.SPACE),
        ("42", tk.NUMBER), (" ", tk.SPACE),
        ("naïve", tk.LATIN), ("!", tk.PUNC),
    ]


def test_roundtrip_concat():
    s = "a b,c 世界 42\nx"
    assert "".join(t for t, _ in tk.tokenize(s)) == s


def test_normalize_latin():
    assert tk.normalize_latin("Naïve") == "naive"
    assert tk.normalize_latin("ÉLÈVE") == "eleve"


def test_indexable_space_consumes_no_tpos():
    # "a b" -> a at tpos 1, b at tpos 2 (space consumed nothing)
    out = tk.indexable_tokens("a b")
    assert out == [("a", 1, tk.LATIN), ("b", 2, tk.LATIN)]


def test_indexable_punc_consumes_tpos_not_indexed():
    # reference inverted.js:49-53 — PUNC/NUMBER advance tPos, not indexed
    out = tk.indexable_tokens("a,b")
    assert out == [("a", 1, tk.LATIN), ("b", 3, tk.LATIN)]


def test_indexable_remove_punc_preserves_adjacency():
    # reference inverted.js:40-45 — removed punc neither consumes tpos nor
    # breaks adjacency: （慈）悲 must still pair 慈悲
    out = tk.indexable_tokens("（慈）悲", remove_punc=True)
    assert out == [("慈", 1, tk.CJK), ("悲", 2, tk.CJK)]


def test_vectorized_matches_scalar():
    s = pd.Series(["Hello, 世界", "42 naïve"])
    assert list(tk.tokenize_series(s)) == [tk.tokenize(x) for x in s]


_KERNEL_SAMPLES = [
    "Hello, 世界 42 naïve!",
    "a,b c 7d（慈）悲\n\nnext line 'quoted' l'été",
    "", "   ", "123", "。。。", "ÉLÈVE's déjà-vu 3.14",
    "mixed 漢字and latin42, punct...!?",
]


def test_indexable_token_frame_matches_loop():
    """The batch extractall kernel must equal the reference-shaped loop
    token-for-token, position-for-position (both remove_punc modes)."""
    s = pd.Series(_KERNEL_SAMPLES)
    for rp in (False, True):
        f = tk.indexable_token_frame(s, remove_punc=rp)
        got = {
            r: [(t, p, ty) for t, p, ty in zip(
                f[f["row"] == r]["tok"], f[f["row"] == r]["pos"],
                f[f["row"] == r]["typ"])]
            for r in range(len(s))
        }
        want = {r: tk.indexable_tokens(s[r], remove_punc=rp)
                for r in range(len(s))}
        assert got == want, f"remove_punc={rp}"


def test_token_type_census_matches_loop():
    """Independent per-class run counts == walking the tokenizer
    alternation (classes are disjoint)."""
    s = pd.Series(_KERNEL_SAMPLES)
    c = tk.token_type_census(s)
    for i, text in enumerate(s):
        counts = {tk.SPACE: 0, tk.PUNC: 0, tk.LATIN: 0, tk.NUMBER: 0,
                  tk.CJK: 0}
        for _, typ in tk.tokenize(text):
            counts[typ] += 1
        assert (c.loc[i, "n_space"], c.loc[i, "n_punc"], c.loc[i, "n_latin"],
                c.loc[i, "n_number"], c.loc[i, "n_cjk"]) == (
            counts[tk.SPACE], counts[tk.PUNC], counts[tk.LATIN],
            counts[tk.NUMBER], counts[tk.CJK]), text


def test_bpe_ish_count():
    s = pd.Series(["hello world 42!", ""])
    # hello, world, 4, 2, ! -> 5
    assert list(tk.bpe_ish_token_count(s)) == [5, 0]


def test_extract_with_default_rules_is_identical():
    """U1 handler registry: DEFAULT_TAG_RULES must reproduce extract_text
    byte-for-byte over the full synthetic pages corpus."""
    import pandas as pd

    from ksana_corpus_builder_spark.functions import text as T
    from ksana_corpus_builder_spark.sources.pages import make_pages_pdf
    pages = make_pages_pdf(300, seed=7)
    a = T.extract_text(pages["html"])
    b = T.extract_batch(pages["html"], dict(T.DEFAULT_TAG_RULES)).texts
    assert (a == b).all()


def test_extract_custom_rules_change_behavior():
    import pandas as pd

    from ksana_corpus_builder_spark.functions import text as T
    html = pd.Series(["<html><body><p>keep</p><aside>noise</aside></body></html>"])
    default = T.extract_batch(html).texts
    custom = T.extract_batch(
        html, dict(T.DEFAULT_TAG_RULES, aside="drop")).texts
    assert "noise" in default.iloc[0]
    assert "noise" not in custom.iloc[0]
    assert "keep" in custom.iloc[0]
