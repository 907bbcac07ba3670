"""Property-based tests (hypothesis) for the pure kernels — the reference
ships only two golden smoke tests (SURVEY §5); we add generative coverage
for the codec, tokenizer, and scrub invariants."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from ksana_corpus_builder_spark import codec, tokenizer

PAT = codec.DEFAULT_PATTERN

books = st.integers(min_value=1, max_value=(1 << PAT.bits[0]) - 1)
pages = st.integers(min_value=0, max_value=(1 << PAT.pagebits) - 1)
lines = st.integers(min_value=0, max_value=(1 << PAT.linebits) - 1)
chars = st.integers(min_value=0, max_value=PAT.maxchar)


@given(books, pages, lines, chars)
def test_kpos_pack_unpack_roundtrip(b, p, ln, c):
    assert codec.unpack(codec.pack(b, p, ln, c)) == (b, p, ln, c)


@given(books, pages, lines, chars)
def test_kpos_order_matches_tuple_order(b, p, ln, c):
    k1 = codec.pack(b, p, ln, c)
    k2 = codec.pack(b, p, ln, min(c + 1, PAT.maxchar))
    assert (k1 <= k2) == ((b, p, ln, c) <= (b, p, ln, min(c + 1, PAT.maxchar)))


@given(books, pages, lines, chars)
def test_kpos_stringify_parse_roundtrip(b, p, ln, c):
    # display format carries 2-digit line/char; constrain to displayable
    if ln > 98 or c > 99:
        return
    k = codec.pack(b, p, ln, c)
    assert codec.parse(codec.stringify(k)) == k


@given(st.text(max_size=300))
@settings(max_examples=200)
def test_tokenizer_lossless(text):
    """Concatenating all tokens reproduces the input exactly — the tokenizer
    is a partition of the string (no char lost or invented)."""
    toks = tokenizer.tokenize(text)
    assert "".join(t for t, _ in toks) == text


@given(st.text(max_size=300))
@settings(max_examples=200)
def test_tokenizer_types_total(text):
    for tok, typ in tokenizer.tokenize(text):
        assert typ in tokenizer.TYPE_NAMES
        assert len(tok) > 0


@given(st.text(max_size=200))
@settings(max_examples=100)
def test_scrub_counts_match_replacements(text):
    """Scrubbed text contains exactly as many placeholder tokens per rule
    as the reported hit count (placeholders are distinct per rule)."""
    import pandas as pd

    from ksana_corpus_builder_spark.functions import scrub as S
    out = S.scrub_series(pd.Series([text]))
    scrubbed = out["text"].iloc[0]
    for (name, _, repl) in S.SCRUB_RULES:
        n = int(out[f"scrub_{name}"].iloc[0])
        assert scrubbed.count(repl) >= n or n == 0


@given(st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=50))
@settings(max_examples=100)
def test_indexable_tokens_positions_monotone(chars_):
    text = "".join(chars_)
    toks = tokenizer.indexable_tokens(text)
    positions = [p for _, p, _ in toks]
    assert positions == sorted(positions)


@given(st.text(alphabet=st.characters(
    whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
    whitelist_characters="<>/=\"\n~#%^一二三頁段註釋卷品"), max_size=200))
@settings(max_examples=120, deadline=None)
def test_parsers_never_crash(content):
    """Fuzz: arbitrary junk (including half-open tags and CJK markers)
    must parse to SOME result on every parser family - errors are
    reported, never raised."""
    from ksana_corpus_builder_spark.functions.a3parse import parse_accelon3
    from ksana_corpus_builder_spark.functions.htllparse import parse_htll
    from ksana_corpus_builder_spark.functions.preparse import parse_pre
    from ksana_corpus_builder_spark.functions.teiparse import parse_tei
    parse_pre(content)
    parse_htll(content)
    parse_htll(content, columns=4)
    parse_accelon3(content)
    parse_tei(content)


@given(st.integers(1, 4000), st.integers(0, 300), st.integers(0, 3),
       st.integers(0, 500), st.integers(0, 800))
@settings(max_examples=200, deadline=None)
def test_codec_column_roundtrip_property(book, page, col, line, ch):
    from ksana_corpus_builder_spark import codec
    pat = codec.AddressPattern(column=4)
    # the display form is 2-digit line/ch (reference golden "1p3.0102-04"),
    # so the stringify<->parse inverse is defined for line+1 <= 99, ch <= 99
    line, ch = line % 99, ch % 100
    page = page % ((1 << pat.pagebits) // 4 - 1)
    k = codec.pack(book, pat.fold_page(page, col), line, ch, pat)
    assert codec.parse(codec.stringify(k, pat), pat) == k


def _collapse_ws_regex(s):
    """Steps 5-6 of the extract_text contract as the original three regex
    passes + strip: the oracle for the whole-batch ``text._collapse_ws``,
    which is the one production path, lone surrogates included."""
    s = s.str.replace(re.compile(r"[ \t\f\v]+"), " ", regex=True)
    s = s.str.replace(re.compile(r" *\n *"), "\n", regex=True)
    s = s.str.replace(re.compile(r"\n{3,}"), "\n\n", regex=True)
    return s.str.strip()


# "\ud83c" + "\udf89" are a lone high and a lone low surrogate: adjacent
# they must stay two chars (a uint16 buffer would decode them as one)
_WS_ALPHABET = st.sampled_from(
    [" ", "\t", "\n", "\f", "\v", "\xa0", "　", " ", "a", "b",
     "<", ">", "\U0001f600", "\ud83c", "\udf89"])


@given(st.lists(st.lists(_WS_ALPHABET, max_size=16).map("".join),
                max_size=8))
@settings(max_examples=300, deadline=None)
def test_collapse_ws_matches_regex_path(rows):
    """The numpy whitespace-collapse path is byte-identical to the three
    sequential regex passes + strip it replaces (extract_text contract
    steps 5-6), including non-ASCII whitespace that must survive the
    collapse untouched and only strip at the edges, and lone surrogates
    (inside a doc and across doc boundaries), which take the same path."""
    import pandas as pd

    from ksana_corpus_builder_spark.functions import text as T
    s = pd.Series(rows, dtype=object)
    got = T._collapse_ws(s)
    want = _collapse_ws_regex(s)
    assert got.tolist() == want.tolist()


@given(st.lists(st.text(
    alphabet=st.sampled_from(list("abZ9 .,İΣßé中")
                             + ["\U0001f600", "\ud83c", "\udf89"]),
    max_size=12), max_size=8))
@settings(max_examples=300, deadline=None)
def test_perplexity_batch_matches_per_doc(rows):
    """The whole-batch perplexity (one concatenated gather + cumsum
    segment sums) is bit-identical to the per-doc reference path,
    including case-expanding lowercases, lone surrogates and len<2 edge
    docs."""
    import pandas as pd

    from ksana_corpus_builder_spark.functions import perplexity as P
    s = pd.Series(rows, dtype=object)
    got = P.perplexity_series(s).tolist()
    want = [P._perplexity_one(t) for t in rows]
    assert got == want
