"""KenLM-style perplexity scoring — character-bigram LM, vectorized.

A real deployment loads a KenLM binary per executor; that library is not in
this container, so the model is a deterministic, embedded character-bigram
language model with add-one smoothing whose parameters derive from a fixed
seed corpus (below). The scoring math is the KenLM shape:

    log10 P(text) = sum_i log10 P(c_i | c_{i-1})
    perplexity    = 10 ** ( -log10 P / n_transitions )

Vectorized: texts are mapped to int codes, transitions looked up in a dense
(V+1)x(V+1) numpy matrix in one gather. Swap `_SEED_CORPUS` / the matrix for
a real model without touching callers.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyarrow as pa

from . import wordstream as W

_ALPHABET = "abcdefghijklmnopqrstuvwxyz .,0123456789"
_V = len(_ALPHABET) + 1  # +1 = OOV bucket
_CODE = {c: i for i, c in enumerate(_ALPHABET)}

_SEED_CORPUS = (
    "the quick brown fox jumps over the lazy dog. "
    "data processing at scale requires careful partitioning and shuffle "
    "management. the table contains rows and columns of values. "
    "a query plan is optimized before execution. language models assign "
    "probability to text, and perplexity measures how surprised the model "
    "is by a document. common crawl pages vary widely in quality."
)


def _build_matrix() -> np.ndarray:
    counts = np.ones((_V, _V), dtype=np.float64)  # add-one smoothing
    codes = [_CODE.get(c, _V - 1) for c in _SEED_CORPUS.lower()]
    for a, b in zip(codes, codes[1:]):  # row-loop-ok: import-time model build
        counts[a, b] += 1.0
    return np.log10(counts / counts.sum(axis=1, keepdims=True))


_LOGP = _build_matrix()

# Integer micro-log-probs: each transition scores an int64 (log10 P * 1e6,
# rounded once at model build). The per-document score is then an EXACT
# integer sum — independent of summation order, so numpy (pairwise), a SQL
# sequential list_sum, and distributed partial sums all agree bit-for-bit.
# That order-independence is exactly what a cross-engine oracle twin and a
# 1000-executor rollup both need; the float appears only once at the end
# (10 ** (-sum / (1e6 * n)), two exactly-representable integer inputs).
_LOGP_E6 = np.round(_LOGP * 1e6).astype(np.int64)
# the scores by flat pair index, plus a zero slot for the pairs that cross
# a doc boundary, as float64: every partial sum of a batch's integer scores
# stays far below 2**53, so a float64 sum is the exact int64 sum
_PAIR_SCORE = pa.array(np.append(_LOGP_E6.ravel(), 0).astype(np.float64))

# codepoint -> alphabet index LUT: one vectorized gather per document
# instead of one masked scan per alphabet character (39x fewer passes)
_LUT = np.full(0x110000, _V - 1, dtype=np.uint8)
for _ch, _i in _CODE.items():
    _LUT[ord(_ch)] = _i


@functools.cache
def _fold_lut() -> pa.Array:
    """Codepoint -> the alphabet index of its lowercase, i.e.
    ``_LUT[ord(chr(c).lower())]`` wherever that lowercase is one char.
    U+0130 'İ' is the one codepoint whose lowercase is two chars: it maps
    to OOV here, and docs that hold it are scored per doc. Built once per
    process by one str.lower over every codepoint."""
    low = W._every_char().replace("\u0130", "\x00").lower()
    assert len(low) == 0x110000  # one char per char (checked per codepoint in tests)
    return pa.array(_LUT[W._codepoints(low)])


def _perplexity_one(t: str) -> float:
    if not isinstance(t, str) or len(t) < 2:
        return float("inf")
    idx = _LUT[np.fromiter(map(ord, t.lower()), np.int64)]
    s = int(_LOGP_E6[idx[:-1], idx[1:]].sum())
    n = len(idx) - 1
    return float(10.0 ** (-s / (n * 1e6)))


def perplexity_series(texts: pd.Series,
                      batch: W.TextBatch | None = None) -> pd.Series:
    """pd.Series[str] -> pd.Series[float64] perplexity (lower = more fluent).

    Whole-batch over the code-unit buffer of ``texts`` (``batch``, the
    fused pipeline's, or a new wordstream.TextBatch): ONE gather of the
    case-folding LUT (lowercase, then alphabet index), ONE flat gather of
    the transition scores of adjacent pairs, whose pairs across a doc
    boundary point at a zero slot, and ONE segment sum per doc, exact in
    float64 — the same integer the per-doc path sums, so the
    resulting float is bit-identical (pinned vs _perplexity_one in
    tests/test_properties.py). str.lower maps one char to one char except
    for U+0130, so a doc's lowered length is its length and the per-doc
    path's gate (original length >= 2) and divisor (lowered transitions)
    agree; docs holding U+0130 take the per-doc path."""
    if batch is None:
        batch = W.TextBatch(texts)
    buf, offs, lens = batch.buf, batch.offs, batch.lens
    out = np.full(batch.n_docs, np.inf)
    ok = np.flatnonzero(lens >= 2)
    if ok.size:
        idx = W.gather(_fold_lut(), buf)
        pair = np.multiply(idx[:-1], _V, dtype=np.uint16)
        pair += idx[1:]
        cross = offs[1:-1]
        pair[cross[(cross > 0) & (cross < buf.size)] - 1] = _V * _V
        trans = W.gather(_PAIR_SCORE, pair)
        # each scored doc's segment runs to the next scored doc's start:
        # its own pairs, then only pairs across a boundary (zero)
        s = np.add.reduceat(trans, offs[ok])
        expo = (-s / ((lens[ok] - 1) * 1e6)).tolist()
        # CPython float.__pow__, not np.power — they differ by 1 ULP on some
        # inputs and the per-doc path (and golden oracle) uses the former
        out[ok] = [10.0 ** e for e in expo]  # row-loop-ok: CPython pow per doc
    if buf.dtype != np.uint8:
        dotted = np.unique(np.searchsorted(
            offs, np.flatnonzero(buf == 0x130), side="right") - 1)
        out[dotted] = [_perplexity_one(t) for t in batch.vals[dotted]]  # row-loop-ok: docs holding U+0130
    return pd.Series(out, index=batch.index)


def sql_parts() -> tuple[str, str, int]:
    """(alphabet list literal, flat V*V micro-log-prob matrix literal, V)
    for a DuckDB twin that replays the model exactly: code lookup via
    list_position (0 -> OOV bucket V-1), transition score =
    matrix[code_a * V + code_b + 1] (1-based list index), integer sum."""
    alpha = "[" + ", ".join(f"'{c}'" for c in _ALPHABET) + "]"
    mat = "[" + ", ".join(str(int(v)) for v in _LOGP_E6.ravel()) + "]"
    return alpha, mat, _V
