"""Shared vectorized views over a batch of documents.

Everything the fused kernel chain needs per document derives from ONE
precompute per Arrow batch, :class:`TextBatch`: the batch's text encoded
once into a flat code-unit buffer with doc offsets. From it, lazily and at
most once each:

- :class:`CharStats` — per-document counts of regex character classes
  (\\s, CJK, [0-9]) as segment sums of masks over the buffer. \\s
  membership comes from a LUT built once per process by Python's `re`
  itself (exact regex semantics, so parity with `str.count(r"\\s")` and
  the SQL twins holds by construction); CJK/digits are range predicates.

- :class:`WordStream` — the factorized token stream: every word of every
  document from ONE `" ".join(batch).split()`, `pd.factorize`d once (one
  hash pass). Tokens per doc come from the \\s LUT over the buffer (token
  starts = non-space after space or doc start); `str.split()` and `re`'s
  \\s agree on every codepoint (pinned in tests), so the two counts add up.
  Per-token work then collapses to C-level gathers over the ~10x-smaller
  unique-word table, and per-document reductions become cumsum/bincount
  boundary arithmetic.

- :class:`LineStats` — n_lines / n_dup_lines / max_line_len from the
  newline count plus ONE `"\\n".join(...).split("\\n")` + factorize over
  the docs that have a newline at all.

- the digit-run / '.' / '-' / '@' / 'w'-position arrays the scrub
  kernel's gates look around (functions/scrub.py).

TextBatch is the only place a batch of text becomes a code-unit buffer:
the narrowest dtype that holds its codepoints (uint8 ascii, uint16 BMP,
else uint32 with `surrogatepass`, so a lone surrogate is one code unit and
the buffer decodes back to the same text; :meth:`TextBatch.decode`).
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd


@dataclass
class WordStream:
    n_docs: int
    lens: np.ndarray        # tokens per doc (int64, len n_docs)
    pos: np.ndarray         # doc index per token (len n_tokens)
    codes: np.ndarray       # unique-word code per token
    uniq: np.ndarray        # unique words (object)
    starts: np.ndarray      # token-stream start offset per doc

    @classmethod
    def from_tokens(cls, tokens: list[str], lens: np.ndarray,
                    hash_unsafe: bool) -> WordStream:
        """Flat token sequence + tokens per doc -> WordStream.
        ``hash_unsafe``: whether any token may hold a lone surrogate or NUL
        (see :func:`_factorize`)."""
        n = len(lens)
        codes, uniq = _factorize(tokens, hash_unsafe)
        starts = np.zeros(n, np.int64)
        if n:
            np.cumsum(lens[:-1], out=starts[1:])
        return cls(n_docs=n, lens=lens,
                   pos=np.repeat(np.arange(n, dtype=np.int64), lens),
                   codes=np.asarray(codes), uniq=np.asarray(uniq),
                   starts=starts)

    @cached_property
    def uniq_series(self) -> pd.Series:
        return pd.Series(self.uniq, dtype=object)

    @cached_property
    def uniq_lens(self) -> np.ndarray:
        return (self.uniq_series.str.len().to_numpy(dtype=np.int64)
                if len(self.uniq) else np.zeros(0, np.int64))

    def seg_sum(self, per_token: np.ndarray) -> np.ndarray:
        """Exact per-doc sums of a per-token array (cumsum boundary diff —
        zero-length-doc safe, unlike reduceat)."""
        cs = np.concatenate(([0], np.cumsum(per_token, dtype=np.int64)))
        ends = self.starts + self.lens
        return cs[ends] - cs[self.starts]

    def seg_max(self, per_token: np.ndarray, empty: int = 0) -> np.ndarray:
        """Per-doc max of a per-token array; `empty` for zero-token docs."""
        out = np.full(self.n_docs, empty, dtype=np.int64)
        ne = self.lens > 0
        if per_token.size and ne.any():
            # reduceat over the starts of NON-EMPTY docs: each reduces up to
            # the next listed start; empty docs in between contribute no
            # tokens, so each slice is exactly one doc's tokens
            out[ne] = np.maximum.reduceat(per_token, self.starts[ne])
        return out

    def count_where_unique(self, uniq_mask: np.ndarray) -> np.ndarray:
        """Per-doc count of tokens whose UNIQUE word satisfies the mask."""
        if not self.pos.size:
            return np.zeros(self.n_docs, np.int64)
        return np.bincount(self.pos[uniq_mask[self.codes]],
                           minlength=self.n_docs).astype(np.int64)

    def distinct_per_doc(self) -> np.ndarray:
        """Per-doc count of distinct words."""
        return _distinct_per_doc(self.pos, self.codes, len(self.uniq),
                                 self.n_docs)


def _factorize(values: list[str],
               hash_unsafe: bool) -> tuple[np.ndarray, np.ndarray]:
    """pd.factorize of a list of str -> (codes, uniques). pandas' string
    hash table can conflate strings that hold lone surrogates, and reads
    strings as NUL-terminated (so "\\x00" and "\\x00the" collide); when
    ``hash_unsafe`` is set their surrogatepass UTF-8 bytes are factorized
    instead (a rare per-value path)."""
    flat = np.array(values, dtype=object)
    if not flat.size:
        return np.zeros(0, np.int64), np.zeros(0, object)
    if not hash_unsafe:
        codes, uniq = pd.factorize(flat)
        return codes, np.asarray(uniq)
    codes, _ = pd.factorize(np.array(
        [v.encode("utf-8", "surrogatepass") for v in values],  # row-loop-ok: lone surrogates only
        dtype=object))
    return codes, flat[np.unique(codes, return_index=True)[1]]


def _distinct_per_doc(pos: np.ndarray, codes: np.ndarray, n_uniq: int,
                      n_docs: int) -> np.ndarray:
    """Per-doc count of distinct codes: one hash-unique over the
    `pos * n_uniq + code` keys (no sort), then a bincount of their docs."""
    if not pos.size:
        return np.zeros(n_docs, np.int64)
    keys = pd.unique(pos * n_uniq + codes)
    return np.bincount(keys // n_uniq, minlength=n_docs).astype(np.int64)


def build(words: pd.Series) -> WordStream:
    """words: Series[list[str]] (one entry per doc) -> WordStream."""
    lens = words.str.len().fillna(0).astype(np.int64).to_numpy()
    tokens = list(itertools.chain.from_iterable(words.dropna()))
    # the tokens' own buffer tells whether factorize must hash bytes
    batch = TextBatch(pd.Series(["".join(tokens)], dtype=object))
    return WordStream.from_tokens(tokens, lens, batch.hash_unsafe)


DIGITS = "0123456789"
_WS_RE = re.compile(r"\s")
_WS_LUT: np.ndarray | None = None


def _ws_lut() -> np.ndarray:
    """Lazily-built \\s membership LUT for the BMP (codepoints < 0x10000),
    decided by Python's `re` itself so semantics are exact by construction.
    No whitespace codepoint exists above the BMP (highest is U+3000), so
    supplementary codepoints clamp to a non-ws slot. One-time ~50 ms per
    process, then membership is a single gather per batch."""
    global _WS_LUT
    if _WS_LUT is None:
        lut = np.zeros(0x10000, dtype=bool)
        for c in range(0x10000):
            if _WS_RE.match(chr(c)):
                lut[c] = True
        assert not lut[0xFFFF]  # the clamp slot must be non-whitespace
        _WS_LUT = lut
    return _WS_LUT


@dataclass
class CharStats:
    """Per-document character-class counts, all from ONE buffer pass.
    ``batch`` is the TextBatch they came from, so a kernel handed only
    ``chars`` still shares every other view of the same buffer."""
    n_chars: np.ndarray
    nonspace: np.ndarray
    cjk: np.ndarray
    digits: np.ndarray
    batch: TextBatch


@dataclass
class LineStats:
    """Per-document line stats over `str.split("\\n")` lines."""
    n_lines: np.ndarray
    n_dup_lines: np.ndarray   # sum of (count-1) over repeated lines
    max_line_len: np.ndarray


def _encode(joined: str) -> tuple[np.ndarray, bool]:
    """str -> (narrowest code-unit buffer, whether it holds a lone
    surrogate). ascii -> uint8; BMP text that encodes strictly -> uint16
    (astral chars show as a surrogate-pair byte-length mismatch); anything
    else -> uint32 with surrogatepass. In every tier code units EQUAL
    codepoints, so masks and LUT gathers are dtype-agnostic while narrower
    buffers cut memory-bus traffic 4x/2x. Lone surrogates must not stay in
    uint16: an adjacent high+low pair would decode back as ONE astral char."""
    if joined.isascii():
        return np.frombuffer(joined.encode("ascii"), np.uint8), False
    try:
        b = joined.encode("utf-16-le")
    except UnicodeEncodeError:  # a lone surrogate
        surrogates = True
    else:
        if len(b) == 2 * len(joined):
            return np.frombuffer(b, np.uint16), False
        surrogates = False
    return (np.frombuffer(joined.encode("utf-32-le", "surrogatepass"),
                          np.uint32), surrogates)


_CODECS = {1: "ascii", 2: "utf-16-le", 4: "utf-32-le"}  # by unit itemsize


class TextBatch:
    """One batch of documents as ONE code-unit buffer with doc offsets.

    `buf[offs[i]:offs[i+1]]` are document i's codepoints, in the narrowest
    dtype that holds them (see :func:`_encode`). Every derived view is a
    cached property, computed on first use and then shared by all kernels.
    """

    def __init__(self, texts: pd.Series):
        self.vals = texts.fillna("").to_numpy(dtype=object)
        self.n_docs = n = len(self.vals)
        self.lens = np.fromiter(map(len, self.vals), np.int64, n)
        self.offs = np.zeros(n + 1, np.int64)
        np.cumsum(self.lens, out=self.offs[1:])
        self.buf, self.surrogates = _encode("".join(self.vals))
        self._nonempty = self.lens > 0

    @cached_property
    def hash_unsafe(self) -> bool:
        """Whether any token or line may hold a lone surrogate or NUL (see
        :func:`_factorize`); only batches that factorize pay the NUL scan."""
        return self.surrogates or bool((self.buf == 0).any())

    def decode(self, units: np.ndarray) -> str:
        """Code units of this batch's dtype (e.g. a masked copy of ``buf``)
        -> str, one char per unit."""
        return units.tobytes().decode(_CODECS[units.dtype.itemsize],
                                      "surrogatepass")

    def seg_sum(self, mask: np.ndarray) -> np.ndarray:
        """Per-doc sums of a per-code-unit mask: reduceat over NON-EMPTY doc
        starts with an int64 accumulator — empty docs occupy no buffer, so
        each slice is exactly one doc's code units."""
        out = np.zeros(self.n_docs, np.int64)
        if self.buf.size:
            out[self._nonempty] = np.add.reduceat(
                mask, self.offs[:-1][self._nonempty], dtype=np.int64)
        return out

    @cached_property
    def is_ws(self) -> np.ndarray:
        b = self.buf
        return _ws_lut()[np.minimum(b, 0xFFFF) if b.dtype == np.uint32 else b]

    @cached_property
    def is_digit(self) -> np.ndarray:
        return _is_any(self.buf, DIGITS)  # ASCII [0-9], regex-identical

    @cached_property
    def digit_run_at(self) -> np.ndarray:
        """Buffer positions where a maximal run of digits starts."""
        at = np.flatnonzero(self.is_digit)
        first = np.ones(at.size, bool)
        first[1:] = at[1:] != at[:-1] + 1
        return at[first]

    @cached_property
    def chars(self) -> CharStats:
        b = self.buf
        cjk = (b >= 0x4E00) & (b <= 0x9FFF) if b.dtype != np.uint8 else None
        return CharStats(
            n_chars=self.lens,
            nonspace=self.lens - self.seg_sum(self.is_ws),
            cjk=(self.seg_sum(cjk) if cjk is not None
                 else np.zeros(self.n_docs, np.int64)),
            digits=self.seg_sum(self.is_digit),
            batch=self)

    @cached_property
    def stream(self) -> WordStream:
        # a token starts at a non-space unit after a space or a doc start
        ws = self.is_ws
        start = ~ws
        start[1:] &= ws[:-1]
        first = self.offs[:-1][self._nonempty]
        start[first] = ~ws[first]
        lens = self.seg_sum(start)
        tokens = " ".join(self.vals).split()
        assert len(tokens) == int(lens.sum())
        return WordStream.from_tokens(tokens, lens, self.hash_unsafe)

    @cached_property
    def lines(self) -> LineStats:
        n_nl = self.seg_sum(self.buf == 10)
        n_lines = n_nl + 1
        n_dup = np.zeros(self.n_docs, np.int64)
        max_len = self.lens.copy()  # a doc without '\n' is one line
        multi = np.flatnonzero(n_nl)
        if multi.size:
            lines = "\n".join(self.vals[multi]).split("\n")
            codes, uniq = _factorize(lines, self.hash_unsafe)
            line_lens = pd.Series(uniq, dtype=object).str.len() \
                .to_numpy(np.int64)[codes]
            per_doc = n_lines[multi]
            starts = np.zeros(multi.size, np.int64)
            np.cumsum(per_doc[:-1], out=starts[1:])
            pos = np.repeat(np.arange(multi.size, dtype=np.int64), per_doc)
            n_dup[multi] = per_doc - _distinct_per_doc(
                pos, codes, len(uniq), multi.size)
            max_len[multi] = np.maximum.reduceat(line_lens, starts)
        return LineStats(n_lines, n_dup, max_len)

    def ascii_at(self, chars: str) -> np.ndarray:
        """Buffer positions holding any of the given ASCII chars."""
        return np.flatnonzero(_is_any(self.buf, chars))

    def docs_with(self, anchors: np.ndarray, at: int,
                  shape: tuple[str, ...]) -> np.ndarray:
        """Sorted doc indexes containing the fixed-length `shape` (one string
        of allowed ASCII chars per position), searched only around `anchors`
        — buffer positions already known to match `shape[at]`. The window
        must lie inside one doc."""
        s = anchors - at
        k = len(shape)
        s = s[(s >= 0) & (s + k <= self.buf.size)]
        for j, allowed in enumerate(shape):  # row-loop-ok: per shape position
            if j != at and s.size:
                s = s[_is_any(self.buf[s + j], allowed)]
        d = np.searchsorted(self.offs, s, side="right") - 1  # doc of each
        return np.unique(d[s + k <= self.offs[d + 1]])


def _is_any(units: np.ndarray, chars: str) -> np.ndarray:
    """Mask of the code units equal to any of the given ASCII chars."""
    if chars == DIGITS:
        return (units >= 0x30) & (units <= 0x39)
    return np.isin(units, np.frombuffer(chars.encode("ascii"), np.uint8))


def views(texts: pd.Series, stream: WordStream | None = None,
          chars: CharStats | None = None) -> tuple[WordStream, CharStats]:
    """The (stream, chars) pair a kernel needs: what the caller shares, the
    rest derived from ONE TextBatch (the one behind ``chars`` when given)."""
    batch = chars.batch if chars is not None else TextBatch(texts)
    return (batch.stream if stream is None else stream,
            batch.chars if chars is None else chars)


def char_stats(texts: pd.Series) -> CharStats:
    """Per-document \\s / CJK / [0-9] counts with exact `re` semantics,
    from one TextBatch (which the result carries as ``.batch``)."""
    return TextBatch(texts).chars

