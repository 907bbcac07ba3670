"""Vectorized tokenizer (tokenizer v2 semantics).

The reference delegates to an external ``ksana-corpus/tokenizer`` whose
contract is fixed by its call sites: ``tokenize(str) -> [(text, _, type)]``
with types SPACE / PUNC / LATIN / NUMBER / CJK, where

- ``concreteToken[type]`` gates character-position advance
  (reference ``index.js:177-186``),
- SPACE resets bigram adjacency and consumes no token position
  (``inverted.js:33-38``),
- PUNC under ``removePunc`` is skipped WITHOUT resetting adjacency so
  punctuation-separated CJK bigrams still pair (``inverted.js:40-45``),
- PUNC/NUMBER (not removed) consume a token position but are not indexed
  (``inverted.js:49-53``),
- LATIN tokens are diacritics-stripped + lowercased before indexing
  (``inverted.js:46-48``).

Here tokenization is a single compiled regex applied per Arrow batch
(pd.Series in / out — zero per-row Python in the Spark path).
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pandas as pd

TOKENIZER_VERSION = 2

# token type codes (stable — stored in parquet)
SPACE, PUNC, LATIN, NUMBER, CJK = 0, 1, 2, 3, 4

TYPE_NAMES = {SPACE: "SPACE", PUNC: "PUNC", LATIN: "LATIN", NUMBER: "NUMBER", CJK: "CJK"}

# concrete tokens advance the character position within a line
CONCRETE = frozenset({PUNC, LATIN, NUMBER, CJK})

# LATIN covers ASCII letters plus Latin-1/Extended (diacritics handled later);
# CJK is one token per char (the reference indexes CJK per character —
# genbigram.js:20-23 counts single chars); NUMBER is a digit run.
_TOKEN_RE = re.compile(
    r"(?P<space>\s+)"
    r"|(?P<number>[0-9]+)"
    r"|(?P<latin>[A-Za-zÀ-ɏḀ-ỿ']+)"
    r"|(?P<cjk>[一-鿿])"
    r"|(?P<punc>.)",
    re.DOTALL,
)

_GROUP_TYPE = {"space": SPACE, "number": NUMBER, "latin": LATIN, "cjk": CJK, "punc": PUNC}


def tokenize(text: str) -> list[tuple[str, int]]:
    """One document -> [(token_text, type)]. Pure function, order-preserving."""
    out: list[tuple[str, int]] = []
    for m in _TOKEN_RE.finditer(text):
        out.append((m.group(0), _GROUP_TYPE[m.lastgroup]))
    return out


def tokenize_series(texts: pd.Series) -> pd.Series:
    """pd.Series[str] -> pd.Series[list[(tok, type)]] — Arrow-batch kernel."""
    return texts.map(lambda t: tokenize(t) if isinstance(t, str) else [])


_NFD_MARKS = re.compile(r"[̀-ͯ]")


def normalize_latin(tok: str) -> str:
    """Diacritics strip + lowercase (reference inverted.js:46-48)."""
    return _NFD_MARKS.sub("", unicodedata.normalize("NFD", tok)).lower()


def normalize_latin_series(toks: pd.Series) -> pd.Series:
    # vectorized: NFD-normalize then drop combining marks, lowercase
    norm = toks.map(lambda s: unicodedata.normalize("NFD", s) if isinstance(s, str) else s)
    return norm.str.replace(_NFD_MARKS, "", regex=True).str.lower()


def indexable_tokens(text: str, remove_punc: bool = False) -> list[tuple[str, int, int]]:
    """Reference putToken semantics in one pass:
    returns [(normalized_token, tpos, type)] for INDEXED tokens, where tpos is
    the local (per-document, 1-based) token position counter that PUNC/NUMBER
    consume but SPACE and removed-PUNC do not. Used by the oracle and tests;
    the Spark path reproduces the same with window functions (operators/tpos.py).
    """
    out = []
    tpos = 1
    for tok, typ in tokenize(text):
        if typ == SPACE:
            continue
        if typ == PUNC and remove_punc:
            continue  # no tpos consumed, adjacency preserved
        if typ in (PUNC, NUMBER):
            tpos += 1  # consumes a position, not indexed, resets adjacency
            continue
        tk = normalize_latin(tok) if typ == LATIN else tok
        out.append((tk, tpos, typ))
        tpos += 1
    return out


# groupless twin of _TOKEN_RE (findall with groups returns tuples; without
# them it returns the matched strings directly — much cheaper). MUST stay
# in lockstep with _TOKEN_RE's alternation; equality pinned by tests.
_TOKEN_RE_NOGROUP = re.compile(
    r"\s+|[0-9]+|[A-Za-zÀ-ɏḀ-ỿ']+|[一-鿿]|.", re.DOTALL)

# exactly the characters Python's str-mode \s matches (so first-char
# classification agrees with the regex alternation)
_WS_CODES = np.array(
    [9, 10, 11, 12, 13, 28, 29, 30, 31, 32, 0x85, 0xA0, 0x1680]
    + list(range(0x2000, 0x200B)) + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000],
    dtype=np.int32)


def token_frame(texts: pd.Series) -> pd.DataFrame:
    """Batch tokenizer: pd.Series[str] -> DataFrame(row, tok, typ) where
    `row` is the POSITIONAL index into `texts`. One findall pass (C regex)
    + explode; the token TYPE is recovered from the first character's
    codepoint (the alternation classes are disjoint, so the first char
    determines the class) — no per-row Python loop, same tokens as
    :func:`tokenize` (equality is pinned by tests/test_tokenizer.py)."""
    s = texts.fillna("").reset_index(drop=True)
    toks = s.str.findall(_TOKEN_RE_NOGROUP).explode().dropna()
    if not len(toks):
        return pd.DataFrame({"row": np.array([], dtype=np.int64),
                             "tok": np.array([], dtype=object),
                             "typ": np.array([], dtype=np.int64)})
    arr = toks.to_numpy()
    ch = np.array(arr, dtype="<U1").view(np.int32)  # first codepoint, one C pass
    is_num = (ch >= 48) & (ch <= 57)
    is_latin = (((ch >= 65) & (ch <= 90)) | ((ch >= 97) & (ch <= 122))
                | ((ch >= 0xC0) & (ch <= 0x24F))
                | ((ch >= 0x1E00) & (ch <= 0x1EFF)) | (ch == 39))
    is_cjk = (ch >= 0x4E00) & (ch <= 0x9FFF)
    is_space = np.isin(ch, _WS_CODES)
    typ = np.select([is_space, is_num, is_latin, is_cjk],
                    [SPACE, NUMBER, LATIN, CJK], default=PUNC)
    return pd.DataFrame({"row": toks.index.to_numpy(), "tok": arr,
                         "typ": typ})


def indexable_token_frame(texts: pd.Series,
                          remove_punc: bool = False) -> pd.DataFrame:
    """Vectorized :func:`indexable_tokens` over a whole batch:
    -> DataFrame(row, tok, pos, typ) of INDEXED tokens only, where pos is
    the per-document 1-based position counter (PUNC/NUMBER consume a slot,
    SPACE and removed-PUNC do not) computed as a grouped cumcount —
    per-batch C code, zero per-row Python. Equality with the reference-
    shaped loop kernel is asserted in tests."""
    f = token_frame(texts)
    typ = f["typ"].to_numpy()
    consume = typ != SPACE
    if remove_punc:
        consume &= typ != PUNC
    f = f[consume].copy()
    f["pos"] = (f.groupby("row").cumcount() + 1).astype("int64")
    out = f[(f["typ"] == LATIN) | (f["typ"] == CJK)].copy()
    lat = out["typ"] == LATIN
    if lat.any():
        out.loc[lat, "tok"] = normalize_latin_series(out.loc[lat, "tok"])
    return out[["row", "tok", "pos", "typ"]].reset_index(drop=True)


# token-type census classes: because the tokenizer's alternation is over
# DISJOINT character classes, counting maximal runs of each class
# independently is equivalent to walking the alternation (a run of one
# class can never be extended or split by another class winning first) —
# the equivalence is pinned against tokenize() in tests.
_SPACE_RUN = re.compile(r"\s+")
_NUM_RUN = re.compile(r"[0-9]+")
_LATIN_RUN = re.compile(r"[A-Za-zÀ-ɏḀ-ỿ']+")
_CJK_CHAR = re.compile(r"[一-鿿]")
_PUNC_CHAR = re.compile(r"[^\s0-9A-Za-zÀ-ɏḀ-ỿ'一-鿿]", re.DOTALL)


def token_type_census(texts: pd.Series) -> pd.DataFrame:
    """Per-document token counts by type, fully vectorized (five
    str.count passes per batch instead of a Python walk per token)."""
    s = texts.fillna("")
    return pd.DataFrame({
        "n_space": s.str.count(_SPACE_RUN).astype("int64").to_numpy(),
        "n_punc": s.str.count(_PUNC_CHAR).astype("int64").to_numpy(),
        "n_latin": s.str.count(_LATIN_RUN).astype("int64").to_numpy(),
        "n_number": s.str.count(_NUM_RUN).astype("int64").to_numpy(),
        "n_cjk": s.str.count(_CJK_CHAR).astype("int64").to_numpy(),
    })


# BPE-ish subword count: words + digit runs + punctuation marks, the cheap
# proxy for "how many tokens would a BPE tokenizer emit".
_BPE_RE = re.compile(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")


def bpe_ish_token_count(texts: pd.Series) -> pd.Series:
    return texts.fillna("").str.count(_BPE_RE).astype(np.int64)
