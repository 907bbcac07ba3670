"""The batch buffer (wordstream.TextBatch) vs the per-document formulas it
replaced.

Every per-doc quantity the fused kernel chain takes from the buffer —
token stream, char classes, line stats, rule hits, langid, scrub gates —
is checked here against a plain per-document reference: the formulas the
kernels used before they moved onto the buffer, kept as test-only
equivalence oracles (as tests/test_properties.py keeps `_collapse_ws_regex`).
"""

from __future__ import annotations

import re
import sys

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from ksana_corpus_builder_spark.functions import langid as L
from ksana_corpus_builder_spark.functions import perplexity as P
from ksana_corpus_builder_spark.functions import quality as Q
from ksana_corpus_builder_spark.functions import scrub as S
from ksana_corpus_builder_spark.functions import wordstream as W

STAT_COLUMNS = ["n_chars", "n_words", "sum_word_len", "n_distinct_words",
                "stopword_hits", "max_word_len", "n_lines", "n_dup_lines",
                "max_line_len", "digit_chars"]


# --- per-document references ----------------------------------------------

def ref_word_stats(texts: pd.Series) -> pd.DataFrame:
    """The per-document quality stats, one Python pass per doc."""
    rows = []
    for doc in texts.fillna(""):
        words = doc.split()
        lens = [len(w) for w in words]
        lines = doc.split("\n")
        rows.append((
            len(doc), len(words), sum(lens), len(set(words)),
            sum(w in Q.STOPWORDS for w in words), max(lens, default=0),
            len(lines), len(lines) - len(set(lines)),
            max((len(x) for x in lines), default=0),
            len(re.findall(r"[0-9]", doc)),
        ))
    return pd.DataFrame(rows or None, columns=STAT_COLUMNS,
                        index=texts.index, dtype=np.int64)


def ref_rules_hit(stats: pd.DataFrame) -> list[list[str]]:
    flags = Q.rule_flags(stats)
    return [[r for r in Q.RULE_NAMES if flags[r].iloc[i]]
            for i in range(len(stats))]


def ref_detect(texts: pd.Series) -> list[tuple[str, int, int]]:
    """(lang_detected, lang_hits, n_words) per doc."""
    out = []
    for doc in texts.fillna(""):
        words = [w.lower() for w in doc.split()]
        hits = [sum(w in L.PROFILES[lang] for w in words) for lang in L.LANGS]
        best = max(range(len(L.LANGS)), key=lambda i: (hits[i], -i))
        lang, n_hits = (L.LANGS[best] if hits[best] else "und"), hits[best]
        cjk = len(re.findall(r"[一-鿿]", doc))
        if cjk * 2 > len(re.findall(r"\S", doc)):
            lang, n_hits = "zh", cjk
        out.append((lang, n_hits, len(words)))
    return out


def ref_scrub(texts: pd.Series) -> tuple[list[str], dict[str, list[int]]]:
    """The ordered rewrite with every rule run on every doc (no gates)."""
    vals = list(texts.fillna(""))
    counts = {}
    for name, pat, repl in S.SCRUB_RULES:
        counts[name] = []
        for i, v in enumerate(vals):
            vals[i], n = pat.subn(repl, v)
            counts[name].append(n)
    return vals, counts


# --- inputs -----------------------------------------------------------------

# Unicode whitespace beyond ASCII (U+0085 NEL, NBSP, U+1680, U+2028, U+3000,
# the \x1c-\x1f separators), astral chars, CJK, lone surrogates.
_ODD = ["\x85", "\xa0", "\u1680", "\u2028", "\u3000", "\x1c", "\x1d",
        "\x1e", "\x1f", "\U0001f389", "\U00020000", "\u5929", "\u5730",
        "\u7384", "\ud800", "\udfff", "\n", "\n\n", " ", "\t", "\r\n", "\x0b"]
_WORDS = ["the", "The", "THE", "a", "of", "le", "la", "der", "und", "y",
          "cat", "cat", "x", "42", "2024", "é", "naïve"]
_piece = hst.one_of(hst.sampled_from(_ODD), hst.sampled_from(_WORDS),
                    hst.text(max_size=4))
_doc = hst.one_of(
    hst.lists(_piece, max_size=40).map("".join),
    hst.none(),
    hst.just(""),
    hst.text(alphabet="\n", min_size=1, max_size=4),  # newline-only docs
)
_batch = hst.lists(_doc, max_size=10)


def _series(docs: list) -> pd.Series:
    # a non-default index: every kernel must keep the caller's
    return pd.Series(docs, dtype=object,
                     index=pd.RangeIndex(7, 7 + 3 * len(docs), 3))


def _check_batch(texts: pd.Series) -> None:
    want = ref_word_stats(texts)
    batch = W.TextBatch(texts)
    t = texts.fillna("")
    words = t.str.split()
    paths = {
        "fused": (batch.stream, batch.chars),
        "standalone": (None, None),
        "split+build": (W.build(words), W.char_stats(t)),
    }
    for path, (stream, chars) in paths.items():
        got = Q.word_stats(texts, None, stream, chars)
        pd.testing.assert_frame_equal(got[STAT_COLUMNS], want,
                                      check_dtype=False, obj=path)
        lab = Q.rules_hit_and_keep(texts, None, stream, chars)
        hits = ref_rules_hit(want)
        assert list(lab["rules_hit"]) == hits, path
        assert list(lab["keep"]) == [not h for h in hits], path
        assert lab.index.equals(texts.index)
        lang = L.detect(texts, None, stream, chars)
        assert list(zip(lang["lang_detected"], lang["lang_hits"],
                        lang["n_words"])) == ref_detect(texts), path
    cs = batch.chars
    assert list(cs.nonspace) == [len(re.findall(r"\S", d)) for d in t]
    assert list(cs.cjk) == [len(re.findall(r"[一-鿿]", d)) for d in t]
    sc = S.scrub_series(texts, batch)
    want_text, want_counts = ref_scrub(texts)
    assert list(sc["text"]) == want_text
    for name in S.SCRUB_RULE_NAMES:
        assert list(sc[f"scrub_{name}"]) == want_counts[name]


@settings(max_examples=200, deadline=None)
@given(_batch)
def test_batch_stats_match_per_doc_reference(docs):
    _check_batch(_series(docs))


def test_batch_edge_cases():
    for docs in ([], [None], ["", None, ""], ["\n", "\n\n\n", ""],
                 ["a\nb\na\n", "x x x", "  lead", "trail  "],
                 ["".join(_ODD) + " the cat"] * 3,
                 ["line\n" * 3 + "w" * 70, "\U0001f389 " * 30],
                 # pandas' string hash table conflates some of these
                 ["\U0001f389\ud800", "00\x80", "x", "\ud800", "\udfff"],
                 # ...and reads strings only up to a NUL
                 ["\x00", "\x00the", "a\x00b a\x00c", "x\n\x00\n\x00y"]):
        _check_batch(_series(docs))


def test_whitespace_lut_agrees_with_str_split_on_every_codepoint():
    """Token counts come from the \\s LUT over the buffer, tokens from
    str.split(): the two must agree on every codepoint."""
    lut = W._ws_lut()
    for c in range(sys.maxunicode + 1):
        splits = ("x" + chr(c) + "x").split() != ["x" + chr(c) + "x"]
        assert splits == bool(lut[min(c, 0xFFFF)]), hex(c)


def test_rule_hit_lists_are_not_shared():
    lab = Q.rules_hit_and_keep(pd.Series(["", "", "x y z"]))
    lists = list(lab["rules_hit"])
    assert lists[0] == lists[1]
    assert len({id(x) for x in lists}) == len(lists)
    lists[0].append("mutated")
    assert "mutated" not in lists[1]
    assert "mutated" not in Q.rules_hit_and_keep(
        pd.Series([""]))["rules_hit"].iloc[0]


def test_plugged_rules_label_like_built_ins():
    """Plugged rules go through the same hit-list builder as the built-in
    ones: their hit names follow the built-in list in dict order (a plugged
    rule reusing a built-in name appends a second entry), keep is the AND
    of all rules, and every row owns its list."""
    from ksana_corpus_builder_spark.plans import quality_pipeline as qp
    texts = ["", "the cat sat on the mat " * 5, "zzzz", "the zoo", ""]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    extra = {"too_short": lambda t: t.str.contains("z", regex=False),
             "has_the": lambda t: t.str.contains("the", regex=False)}
    out, _ = qp._process_batch(pdf, qp.PipelineHooks(extra_rules=extra),
                               ["doc_id", "keep", "rules_hit"])
    base = Q.rules_hit_and_keep(pdf["text"])
    plugged = [[n for n, fn in extra.items() if fn(pd.Series([t])).iloc[0]]
               for t in texts]
    assert [list(h) for h in out["rules_hit"]] == [
        b + p for b, p in zip(base["rules_hit"], plugged)]
    assert out["keep"].tolist() == [
        bool(k) and not p for k, p in zip(base["keep"], plugged)]
    assert out["rules_hit"].iloc[2].count("too_short") == 2
    assert out["rules_hit"].iloc[3][-2:] == ["too_short", "has_the"]
    assert len({id(h) for h in out["rules_hit"]}) == len(texts)


def test_labels_refuses_more_rules_than_mask_bits():
    with pytest.raises(ValueError):
        Q.labels(np.zeros((1, 65), bool), [str(i) for i in range(65)])


def test_lone_surrogates_run_through_golden_oracle():
    """A lone surrogate in a doc must not crash any kernel, standalone or
    through the oracle, and the stats must match the references."""
    from ksana_corpus_builder_spark.oracle import golden
    texts = pd.Series(["good \ud800 text here", "\udfff", "ok 🎉"])
    _check_batch(texts)
    pages = pd.DataFrame({
        "url": ["u0", "u1", "u2"],
        "warc_ts": pd.Timestamp("2024-01-01"),
        "html": ["<p>good \ud800 text here 123-45-6789</p>",
                 "<div>\udfff badword</div>", "<p>plain</p>"],
        "text": "", "lang": "en"})
    out = golden.run(pages)
    assert out["scrubbed_text"].tolist() == [
        "good \ud800 text here <SSN>", "\udfff <TOX>", "plain"]
    hits = ref_rules_hit(ref_word_stats(out["extracted_text"]))
    assert out["rules_hit"].tolist() == hits
    assert out["perplexity"].tolist() == [
        P._perplexity_one(t) for t in out["extracted_text"]]


# --- scrub gates ------------------------------------------------------------

def test_ignorecase_folds_onto_toxicity_gate_letters_are_ascii_only():
    """The toxicity gate looks for w/W o/O r/R d/D only; no other codepoint
    may fold onto those letters under re.IGNORECASE."""
    everything = "".join(map(chr, range(sys.maxunicode + 1)))
    for ch in "word":
        found = set(re.findall(ch, everything, re.IGNORECASE))
        assert found == {ch, ch.upper()}, (ch, found)


# pieces that build (near-)matches of every scrub rule, the IGNORECASE
# folds (long s, Kelvin sign, dotless i, dotted capital I) and the chars
# the gates anchor on
_SCRUB_PIECES = [
    "0", "1", "4", "5", "9", "12", "123", "4111", "555", "0142", "2671",
    "-", ".", " ", "(", ")", "+1 ", "@", "a", "b.cc", "x@y.com",
    "john.doe@example.com", "192.168.1.1", "10.0.0", "123-45-6789",
    "4111 1111 1111 1111", "4111-1111-1111-1111", "415-555-2671",
    "(212) 555-0142", "415.555.0142", "badword", "BadWord", "slurword",
    "vileword", "ſlurword", "vıleword", "vİleword",
    "badworK", "word", "WORD", "ſ", "K", "ı", "İ",
    "\n", "\xa0", "<", ">", "_",
]
_scrub_doc = hst.lists(hst.sampled_from(_SCRUB_PIECES), max_size=25).map(
    "".join)


@settings(max_examples=300, deadline=None)
@given(hst.lists(_scrub_doc, min_size=1, max_size=8))
def test_scrub_gates_are_sound(docs):
    """Each rule's gated doc set contains every doc its full pattern
    matches AFTER the earlier rules' rewrites — so gating on the original
    text skips only docs the rule could not change."""
    batch = W.TextBatch(pd.Series(docs, dtype=object))
    gates = S.gated_docs(batch)
    vals = list(docs)
    for name, pat, repl in S.SCRUB_RULES:
        gated = set(gates[name].tolist())
        for i, v in enumerate(vals):
            if pat.search(v):
                assert i in gated, (name, docs[i], v)
        vals = [pat.sub(repl, v) for v in vals]
    _check_batch(pd.Series(docs, dtype=object))


def test_scrub_gates_tightened_shapes():
    """Digits alone no longer open the phone / credit-card / ssn gates:
    each needs the shape its pattern must contain."""
    texts = pd.Series(["year 2024 and 555 items", "a-b 12-3 x",
                       "call 555 555 0142", "card 4111 1111 x",
                       "ssn 123-45-6789", "ipv4 1.2", "mail a@b"])
    g = S.gated_docs(W.TextBatch(texts))
    assert g["phone"].tolist() == [2]
    assert g["credit_card"].tolist() == [3]
    assert g["ssn"].tolist() == [4]
    assert g["ipv4"].tolist() == [5]
    assert g["email"].tolist() == [6]
