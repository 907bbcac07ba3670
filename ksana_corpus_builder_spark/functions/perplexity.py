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

import numpy as np
import pandas as pd

from .wordstream import TextBatch

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

# codepoint -> alphabet index LUT: one vectorized gather per document
# instead of one masked scan per alphabet character (39x fewer passes)
_LUT = np.full(0x110000, _V - 1, dtype=np.uint8)
for _ch, _i in _CODE.items():
    _LUT[ord(_ch)] = _i


def _perplexity_one(t: str) -> float:
    if not isinstance(t, str) or len(t) < 2:
        return float("inf")
    idx = _LUT[np.fromiter(map(ord, t.lower()), np.int64)]
    s = int(_LOGP_E6[idx[:-1], idx[1:]].sum())
    n = len(idx) - 1
    return float(10.0 ** (-s / (n * 1e6)))


def perplexity_series(texts: pd.Series) -> pd.Series:
    """pd.Series[str] -> pd.Series[float64] perplexity (lower = more fluent).

    Whole-batch: per-doc lowercase (C calls; str.lower is per-codepoint, so
    lowering before concatenation equals lowering each doc), ONE code-unit
    buffer of the lowered batch (wordstream.TextBatch; a lone surrogate is
    one OOV unit, as in the per-doc path) + LUT gather, ONE transition-score
    gather, then per-doc EXACT int64 sums as cumsum differences — the same
    integer the per-doc path sums, so the resulting float is bit-identical
    (pinned vs _perplexity_one in tests/test_properties.py). Transitions
    crossing doc boundaries are excluded by summing only each doc's
    interior [start, end-1) pair range."""
    n_rows = len(texts)
    if n_rows == 0:
        return pd.Series(np.empty(0, np.float64), index=texts.index)
    lowered = pd.Series(
        [t.lower() if isinstance(t, str) else ""
         for t in texts.to_numpy(dtype=object)],  # row-loop-ok: str.lower per doc
        dtype=object)
    batch = TextBatch(lowered)
    offs, lens = batch.offs, batch.lens
    idx = _LUT[batch.buf]
    if len(idx) < 2:
        return pd.Series(np.full(n_rows, np.inf), index=texts.index)
    trans = _LOGP_E6[idx[:-1], idx[1:]]
    tcum = np.zeros(len(trans) + 1, np.int64)
    np.cumsum(trans, out=tcum[1:])
    m = len(trans)  # tcum valid indices: 0..m
    starts = np.minimum(offs[:-1], m)
    ends = np.minimum(np.maximum(offs[1:] - 1, starts), m)
    s = tcum[ends] - tcum[starts]  # garbage for len<2 docs; masked below
    n_tr = lens - 1
    # the per-doc path gates on the ORIGINAL length (lowercasing can change
    # length: len('İ')==1 but len('İ'.lower())==2), then divides by the
    # LOWERED transition count — mirror both exactly (a non-str doc lowers
    # to "", so its n_tr < 1 whatever its length)
    ok = (texts.str.len() >= 2).to_numpy(bool, na_value=False) & (n_tr >= 1)
    out = np.full(n_rows, np.inf)
    expo = (-s[ok] / (n_tr[ok] * 1e6)).tolist()
    # CPython float.__pow__, not np.power — they differ by 1 ULP on some
    # inputs and the per-doc path (and golden oracle) uses the former
    out[ok] = [10.0 ** e for e in expo]  # row-loop-ok: CPython pow per doc
    return pd.Series(out, index=texts.index)


def sql_parts() -> tuple[str, str, int]:
    """(alphabet list literal, flat V*V micro-log-prob matrix literal, V)
    for a DuckDB twin that replays the model exactly: code lookup via
    list_position (0 -> OOV bucket V-1), transition score =
    matrix[code_a * V + code_b + 1] (1-based list index), integer sum."""
    alpha = "[" + ", ".join(f"'{c}'" for c in _ALPHABET) + "]"
    mat = "[" + ", ".join(str(int(v)) for v in _LOGP_E6.ravel()) + "]"
    return alpha, mat, _V
