"""Shared vectorized views over a batch of documents.

Everything the fused kernel chain needs per document derives from ONE
code-unit buffer per Arrow batch, :class:`TextBatch`: the batch's text as
a flat buffer with doc offsets. On the html path it is extract's own
buffer (functions/text.py encodes the pre-collapse text once, collapses
and strips it in the buffer and hands the result over with
:meth:`TextBatch.from_units`); on the text path, the input encoded once.
From it, lazily and at most once each:

- the class code of every unit (:attr:`TextBatch.cls`), ONE gather of a
  LUT over all codepoints: \\s (decided by Python's `re` itself, so parity
  with `str.count(r"\\s")` and the SQL twins holds by construction), the
  blanks extract collapses, newline, [0-9], CJK and the scrub anchors; and
  the sorted buffer positions of a class, counted per doc by ONE
  searchsorted of the doc offsets.

- :class:`CharStats` — per-document counts of \\s, CJK and [0-9].

- :class:`WordStream` — the factorized token stream, hashed from the
  buffer itself with no Python string per token: the \\s units are deleted,
  token lengths are the nonzero gaps between the \\s and doc cut points in
  that compacted buffer, and ONE Arrow `dictionary_encode` of it (as a
  large-binary array, one token per value) gives each token's code and the
  unique words, decoded once with a space between them and split on it.
  In every tier a code unit is one codepoint, so equal units mean equal
  strings: NUL and lone surrogates hash exactly by construction. Tokens
  per doc come from the runs of \\s positions (a doc's runs of non-\\s);
  `str.split()` and `re`'s \\s agree on every codepoint (pinned in tests),
  so the tokens are exactly `" ".join(batch).split()`. Per-token work then
  collapses to C-level gathers over the ~10x-smaller unique-word table,
  and per-document reductions become cumsum/bincount boundary arithmetic.

- :class:`LineStats` — n_lines / n_dup_lines / max_line_len from the
  runs between LF units (empty runs included, so the lines are exactly
  `str.split("\\n")`'s), hashed the way the tokens are: the LF units are
  deleted and ONE Arrow `dictionary_encode` of the runs gives each line's
  code. A batch with no LF skips it.

- the digit-run and anchor positions the scrub kernel's gates look around
  (functions/scrub.py), and the units perplexity scores.

TextBatch is the only place a batch of text becomes a code-unit buffer:
the narrowest dtype that holds its codepoints (uint8 ascii, uint16 BMP,
else uint32 with `surrogatepass`, so a lone surrogate is one code unit and
the buffer decodes back to the same text; :meth:`TextBatch.decode`).
Tokens and lines are hashed from its units by one helper,
:func:`_dictionary`; no Python string is made per token or per line.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc


@dataclass
class WordStream:
    n_docs: int
    lens: np.ndarray        # tokens per doc (int64, len n_docs)
    pos: np.ndarray         # doc index per token (len n_tokens)
    codes: np.ndarray       # unique-word code per token
    uniq: np.ndarray        # unique words (object), in first-seen order
    uniq_lens: np.ndarray   # chars per unique word
    tok_lens: np.ndarray    # chars per token
    starts: np.ndarray      # token-stream start offset per doc

    @cached_property
    def uniq_series(self) -> pd.Series:
        return pd.Series(self.uniq, dtype=object)

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


def _distinct_per_doc(pos: np.ndarray, codes: np.ndarray, n_uniq: int,
                      n_docs: int) -> np.ndarray:
    """Per-doc count of distinct codes: one hash-unique over the
    `pos * n_uniq + code` keys (no sort), then a bincount of their docs."""
    if not pos.size:
        return np.zeros(n_docs, np.int64)
    keys = pd.unique(pos * n_uniq + codes)
    return np.bincount(keys // n_uniq, minlength=n_docs).astype(np.int64)


def build(words: pd.Series) -> WordStream:
    """words: Series[list[str]] (one entry per doc, each a list of
    whitespace-free, non-empty tokens such as `str.split()` gives) ->
    WordStream: the stream of the batch of the docs they spell."""
    return TextBatch(words.map(" ".join, na_action="ignore")).stream


DIGITS = "0123456789"
_WS_RE = re.compile(r"\s")

# The class code of a code unit, one uint8 from ONE gather per batch
# (TextBatch.cls): bit 0 is \s; bit 1 marks the blanks that extract
# collapses (space, \t, \n, \v, \f; all \s); the bits above name the
# one class below that the unit belongs to, if any.
WS, BLANK = 0x01, 0x02
LF = WS | BLANK | 1 << 2
DIGIT = 2 << 2                     # [0-9]
CJK = 3 << 2                       # U+4E00-U+9FFF
# the chars the scrub gates anchor on (functions/scrub.py), a code each
ANCHORS = {"@": 4 << 2, ".": 5 << 2, "-": 6 << 2, "wW": 7 << 2}


@functools.cache
def _every_char() -> str:
    """Every codepoint, U+0000 to U+10FFFF, as one string (lone
    surrogates included): LUTs over codepoints are built from it by
    Python's own str methods and `re`, whole-string."""
    return np.arange(0x110000, dtype=np.uint32).tobytes().decode(
        "utf-32-le", "surrogatepass")


def _codepoints(s: str) -> np.ndarray:
    """The codepoints of ``s`` as uint32 (for building LUTs)."""
    return np.frombuffer(s.encode("utf-32-le", "surrogatepass"), np.uint32)


@functools.cache
def _class_lut() -> pa.Array:
    """Codepoint -> class code, built once per process (~30 ms). \\s is
    decided by `re` itself over every codepoint, so it is exact by
    construction (tests/test_batch_buffer.py checks every class over all
    codepoints)."""
    lut = np.zeros(0x110000, np.uint8)
    spaces = "".join(_WS_RE.findall(_every_char()))
    lut[_codepoints(spaces)] = WS
    lut[np.frombuffer(b" \t\n\v\f", np.uint8)] |= BLANK
    lut[10] = LF
    lut[0x30:0x3A] = DIGIT
    lut[0x4E00:0xA000] = CJK
    for chars, code in ANCHORS.items():
        lut[np.frombuffer(chars.encode("ascii"), np.uint8)] = code
    return pa.array(lut)


def gather(lut: pa.Array, units: np.ndarray) -> np.ndarray:
    """``lut[units]`` as a read-only array. Arrow's take is ~3x numpy's
    fancy indexing with uint16 indexes (no widening copy of the index)."""
    return pc.take(lut, pa.array(units)).to_numpy()


@dataclass
class CharStats:
    """Per-document character-class counts from the batch's class codes.
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


def _encode(joined: str) -> np.ndarray:
    """str -> its narrowest code-unit buffer. ascii -> uint8; BMP text that
    encodes strictly -> uint16 (astral chars show as a surrogate-pair
    byte-length mismatch); anything else, a lone surrogate included ->
    uint32 with surrogatepass. In every tier code units EQUAL codepoints, so
    masks, LUT gathers and hashes of units are dtype-agnostic while narrower
    buffers cut memory-bus traffic 4x/2x. Lone surrogates must not stay in
    uint16: an adjacent high+low pair would decode back as ONE astral char."""
    if joined.isascii():
        return np.frombuffer(joined.encode("ascii"), np.uint8)
    try:
        b = joined.encode("utf-16-le")
    except UnicodeEncodeError:  # a lone surrogate
        pass
    else:
        if len(b) == 2 * len(joined):
            return np.frombuffer(b, np.uint16)
    return np.frombuffer(joined.encode("utf-32-le", "surrogatepass"),
                         np.uint32)


def _runs(buf: np.ndarray, cut_at: np.ndarray,
          offs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (``buf`` less the units at the sorted positions ``cut_at``, the
    length of every run between those units and the doc edges ``offs``, in
    order, empty runs included: one more per doc than its cut units). Each
    cut unit and each doc edge cuts the compacted buffer at its position
    less the cut units before it; a run is the gap between sorted cut
    points (ties give the same gaps whichever side they sort on)."""
    cuts = np.concatenate((cut_at - np.arange(cut_at.size),
                           offs - np.searchsorted(cut_at, offs)))
    return np.delete(buf, cut_at), np.diff(np.sort(cuts, kind="stable"))


def _dictionary(units: np.ndarray,
                lens: np.ndarray) -> tuple[np.ndarray, pa.Array]:
    """ONE Arrow hash pass over the runs of ``units`` of lengths ``lens``
    (back to back), each run one large-binary value -> (code per run, the
    distinct runs in first-seen order). Equal units are equal strings in
    every tier, so NUL and lone surrogates hash exactly."""
    size = units.dtype.itemsize
    offs = np.zeros(lens.size + 1, np.int64)
    np.cumsum(lens * size, out=offs[1:])
    enc = pc.dictionary_encode(pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), lens.size,
        [None, pa.py_buffer(offs), pa.py_buffer(units)]))
    return enc.indices.to_numpy().astype(np.int64), enc.dictionary


_CODECS = {1: "ascii", 2: "utf-16-le", 4: "utf-32-le"}  # by unit itemsize


class TextBatch:
    """One batch of documents as ONE code-unit buffer with doc offsets.

    `buf[offs[i]:offs[i+1]]` are document i's codepoints, in the narrowest
    dtype that holds them (see :func:`_encode`). Every derived view is a
    cached property, computed on first use and then shared by all kernels.
    ``TextBatch(texts)`` encodes a Series; :meth:`from_units` takes a
    buffer made from another batch's (extract's collapse), whose strings
    ``vals`` are then decoded from it on first use.
    """

    def __init__(self, texts: pd.Series):
        vals = texts.fillna("").to_numpy(dtype=object)
        offs = np.zeros(len(vals) + 1, np.int64)
        np.cumsum(np.fromiter(map(len, vals), np.int64, len(vals)),
                  out=offs[1:])
        self._init(_encode("".join(vals)), offs, texts.index)
        self.vals = vals

    @classmethod
    def from_units(cls, buf: np.ndarray, offs: np.ndarray,
                   index: pd.Index) -> TextBatch:
        """The batch over ``buf`` (in the narrowest tier that holds its
        units, see :func:`_encode`) cut at ``offs``."""
        batch = cls.__new__(cls)
        batch._init(buf, offs, index)
        return batch

    def _init(self, buf: np.ndarray, offs: np.ndarray,
              index: pd.Index) -> None:
        self.buf, self.offs = buf, offs
        self.index = index
        self.n_docs = len(offs) - 1
        self.lens = np.diff(offs)
        self._nonempty = self.lens > 0
        self._where: dict[int, np.ndarray] = {}

    @cached_property
    def vals(self) -> np.ndarray:
        """The documents as str (object array): one decode of the buffer,
        then one slice per doc."""
        flat, o = self.decode(self.buf), self.offs.tolist()
        return np.fromiter((flat[a:b] for a, b in zip(o, o[1:])),  # row-loop-ok: one slice per doc
                           object, self.n_docs)

    @property
    def texts(self) -> pd.Series:
        return pd.Series(self.vals, index=self.index, dtype=object)

    def decode(self, units: np.ndarray) -> str:
        """Code units of this batch's dtype (e.g. a masked copy of ``buf``)
        -> str, one char per unit."""
        return units.tobytes().decode(_CODECS[units.dtype.itemsize],
                                      "surrogatepass")

    def count(self, at: np.ndarray) -> np.ndarray:
        """Per-doc number of the sorted buffer positions ``at``."""
        return np.diff(np.searchsorted(at, self.offs))

    @cached_property
    def cls(self) -> np.ndarray:
        """The class code of every code unit (read-only)."""
        return gather(_class_lut(), self.buf)

    def where(self, code: int) -> np.ndarray:
        """Sorted buffer positions of the units whose class code is
        ``code`` (cached per code)."""
        if code not in self._where:
            self._where[code] = np.flatnonzero(self.cls == code)
        return self._where[code]

    @cached_property
    def ws_at(self) -> np.ndarray:
        """Sorted buffer positions of the \\s units (~1/5 of the buffer in
        prose): whitespace, token and line work runs over these."""
        return np.flatnonzero((self.cls & WS).view(bool))

    def ws_index(self, pos: np.ndarray) -> np.ndarray:
        """Indexes into :attr:`ws_at` of the positions in ``pos`` that hold
        a \\s unit."""
        at = self.ws_at
        i = np.searchsorted(at, pos)
        ok = i < at.size
        i = i[ok]
        return i[at[i] == pos[ok]]

    @cached_property
    def ws_cont(self) -> np.ndarray:
        """Per \\s position: whether it continues a run of \\s, i.e. the
        unit before it is \\s of the same doc."""
        at = self.ws_at
        cont = np.zeros(at.size, bool)
        cont[1:] = at[1:] == at[:-1] + 1
        cont[self.ws_index(self.offs[:-1][self._nonempty])] = False
        return cont

    @cached_property
    def digit_run_at(self) -> np.ndarray:
        """Buffer positions where a maximal run of digits starts."""
        at = self.where(DIGIT)
        first = np.ones(at.size, bool)
        first[1:] = at[1:] != at[:-1] + 1
        return at[first]

    @cached_property
    def chars(self) -> CharStats:
        return CharStats(
            n_chars=self.lens,
            nonspace=self.lens - self.count(self.ws_at),
            cjk=(self.count(self.where(CJK)) if self.buf.dtype != np.uint8
                 else np.zeros(self.n_docs, np.int64)),
            digits=self.count(self.where(DIGIT)),
            batch=self)

    @cached_property
    def stream(self) -> WordStream:
        # a doc's tokens are its runs of non-\s: one more than its runs of
        # \s, less one per edge that is \s
        ne = self._nonempty
        cls, at, offs = self.cls, self.ws_at, self.offs
        lens = np.zeros(self.n_docs, np.int64)
        lens[ne] = (self.count(at[~self.ws_cont])[ne] + 1
                    - (cls[offs[:-1][ne]] & WS) - (cls[offs[1:][ne] - 1] & WS))
        # the tokens, back to back: the non-empty runs between \s units
        units, runs = _runs(self.buf, at, offs)
        tok_lens = runs[runs > 0]
        n_docs, n_tok = self.n_docs, tok_lens.size
        assert n_tok == int(lens.sum())
        starts = np.zeros(n_docs, np.int64)
        if n_docs:
            np.cumsum(lens[:-1], out=starts[1:])
        pos = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
        if not n_tok:
            return WordStream(n_docs, lens, pos, np.zeros(0, np.int64),
                              np.zeros(0, object), np.zeros(0, np.int64),
                              tok_lens, starts)
        codes, words = _dictionary(units, tok_lens)
        # the unique words' units, back to back: decoded once with a space
        # (never inside a token) between words, then split on it
        size = units.dtype.itemsize
        n_uniq = len(words)
        o = np.frombuffer(words.buffers()[1], np.int64, n_uniq + 1,
                          words.offset * 8) // size
        data = np.frombuffer(words.buffers()[2], units.dtype, o[-1] - o[0],
                             o[0] * size)
        uniq = np.array(self.decode(np.insert(data, o[1:-1] - o[0], 0x20))
                        .split(" "), object)
        return WordStream(n_docs, lens, pos, codes, uniq, np.diff(o),
                          tok_lens, starts)

    @cached_property
    def lines(self) -> LineStats:
        at = self.ws_at
        lf_at = at[self.cls[at] == LF]
        n_lines = self.count(lf_at) + 1
        if not lf_at.size:  # every doc is one line
            return LineStats(n_lines, np.zeros(self.n_docs, np.int64),
                             self.lens.copy())
        # a doc's lines are its runs between LF units, empty ones included
        # (str.split("\n")'s lines), hashed like the tokens
        units, line_lens = _runs(self.buf, lf_at, self.offs)
        codes, uniq = _dictionary(units, line_lens)
        starts = np.zeros(self.n_docs, np.int64)
        np.cumsum(n_lines[:-1], out=starts[1:])
        pos = np.repeat(np.arange(self.n_docs, dtype=np.int64), n_lines)
        return LineStats(n_lines, n_lines - _distinct_per_doc(
            pos, codes, len(uniq), self.n_docs),
            np.maximum.reduceat(line_lens, starts))

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
    """Mask of the code units equal to any of the given ASCII chars (for
    the few units around gate anchors)."""
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
