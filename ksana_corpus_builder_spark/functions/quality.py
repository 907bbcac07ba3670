"""Gopher/C4-style heuristic quality rules — vectorized.

Re-imagines the reference's per-document structural checks as corpus-quality
rules: long lines (``index.js:239-243``), disordered pages
(``index.js:251-268``), page gaps (``handlers.js:39-42``) become the
max-line-length / repetition / structure rules of a web-text filter. Like the
reference, rules REPORT rather than mutate (``longLines`` is collected, text
untouched) — we emit a ``rules_hit`` array + boolean ``keep``.

All rule predicates are INTEGER arithmetic (cross-multiplied ratios), so the
Spark built-in-function path, the pandas kernel, and the DuckDB oracle agree
bit-for-bit — no float thresholds anywhere.

Stats computed per document (over whitespace word tokens):
    n_chars, n_words, sum_word_len, n_distinct_words, stopword_hits,
    max_word_len, n_lines, n_dup_lines, max_line_len, digit_chars

Rules (name -> predicate on stats):
    too_short         n_words < MIN_WORDS
    too_long          n_words > MAX_WORDS
    mean_word_len     sum_word_len < 3*n_words  OR  sum_word_len > 10*n_words
    low_stopword      stopword_hits * 50 < n_words  (ratio < 0.02)
    low_ttr           n_distinct_words * 10 < n_words * 3  (TTR < 0.3)
    long_word         max_word_len > MAX_WORD_LEN
    dup_lines         n_dup_lines * 2 > n_lines  (over half the lines repeat)
    long_line         max_line_len > MAX_LINE_LEN  (reference maxchar check)
    digit_heavy       digit_chars * 2 > n_chars
keep = no rule hit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import wordstream

MIN_WORDS = 20
MAX_WORDS = 100_000
MIN_MEAN_WL_NUM = 3     # mean word len < 3   <=>  sum < 3*n
MAX_MEAN_WL_NUM = 10    # mean word len > 10  <=>  sum > 10*n
MAX_WORD_LEN = 60
MAX_LINE_LEN = 4000     # plays the reference addressPattern.maxchar role
RULE_NAMES = [
    "too_short", "too_long", "mean_word_len", "low_stopword", "low_ttr",
    "long_word", "dup_lines", "long_line", "digit_heavy",
]

# English function words; the driver's synthetic documents vocabulary
# includes 'the' and 'a'. Kept tiny + frozen: it is part of the contract.
STOPWORDS = (
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "for",
    "on", "as", "with", "was", "at", "by", "be", "this", "are", "or",
)


def word_stats(texts: pd.Series, words: pd.Series | None = None,
               stream=None, chars=None) -> pd.DataFrame:
    """Vectorized per-doc stats. ``stream`` (wordstream.WordStream) and
    ``chars`` (wordstream.CharStats) let the fused pipeline share ONE batch
    buffer across kernels; whatever is not passed derives from one
    wordstream.TextBatch (the one behind ``chars`` when given). ``words``
    (a per-doc split) is accepted for callers of the older signature and
    not needed: the split is derived from the buffer."""
    stream, chars = wordstream.views(texts, stream, chars)
    lines = chars.batch.lines
    # word-level stats over the shared factorized token stream: per-token
    # work is a C-level gather of the unique-word table, per-doc reductions
    # are boundary cumsum/bincount — no per-document Python loop. Tokens
    # are the maximal runs of non-\s, so their lengths sum to the doc's
    # non-\s count. Line stats come from the same buffer (newline counts +
    # one Arrow hash of the runs between newlines, as for the tokens).
    sw_mask = (stream.uniq_series.isin(STOPWORDS).to_numpy()
               if len(stream.uniq) else np.zeros(0, bool))
    return pd.DataFrame({
        "n_chars": chars.n_chars,
        "n_words": stream.lens,
        "sum_word_len": chars.nonspace,
        "n_distinct_words": stream.distinct_per_doc(),
        "stopword_hits": stream.count_where_unique(sw_mask),
        "max_word_len": stream.seg_max(stream.tok_lens),
        "n_lines": lines.n_lines,
        "n_dup_lines": lines.n_dup_lines,
        "max_line_len": lines.max_line_len,
        "digit_chars": chars.digits,
    }, index=texts.index)


def rule_flags(stats: pd.DataFrame) -> pd.DataFrame:
    """Integer-arithmetic rule predicates -> one bool column per rule."""
    s = stats
    return pd.DataFrame({
        "too_short": s.n_words < MIN_WORDS,
        "too_long": s.n_words > MAX_WORDS,
        "mean_word_len": (s.sum_word_len < MIN_MEAN_WL_NUM * s.n_words)
                         | (s.sum_word_len > MAX_MEAN_WL_NUM * s.n_words),
        "low_stopword": s.stopword_hits * 50 < s.n_words,
        "low_ttr": s.n_distinct_words * 10 < s.n_words * 3,
        "long_word": s.max_word_len > MAX_WORD_LEN,
        "dup_lines": s.n_dup_lines * 2 > s.n_lines,
        "long_line": s.max_line_len > MAX_LINE_LEN,
        "digit_heavy": s.digit_chars * 2 > s.n_chars,
    }, index=stats.index)


def labels(flags: np.ndarray,
           names: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Bool matrix of rule flags (one column per rule, named by position in
    ``names``) -> (keep, rules_hit): keep = no rule hit; rules_hit = the
    names of the hit columns in column order, a fresh list per row. The one
    hit-list builder for built-in and plugged rules: each row's flags pack
    into a 64-bit mask, one name list is built per DISTINCT mask, then
    gathered and copied per row (so no two rows share a mutable list)."""
    n_rules = flags.shape[1]
    if n_rules > 64:
        raise ValueError(f"{n_rules} rule columns; a row's hit bitmask "
                         "holds at most 64")
    bits = flags.astype(np.uint64) @ (np.uint64(1) << np.arange(
        n_rules, dtype=np.uint64))
    _, first, inverse = np.unique(bits, return_index=True,
                                  return_inverse=True)
    name_arr = np.array(names, dtype=object)
    hit_lists = np.fromiter(
        (name_arr[flags[i]].tolist() for i in first),  # row-loop-ok: one per distinct mask
        object, len(first))
    rules_hit = np.fromiter(map(list.copy, hit_lists[inverse]), object,
                            len(bits))
    return bits == 0, rules_hit


def rules_hit_and_keep(texts: pd.Series,
                       words: pd.Series | None = None,
                       stream=None, chars=None) -> pd.DataFrame:
    """text -> (keep: bool, rules_hit: list[str]) — the oracle's label kernel."""
    flags = rule_flags(word_stats(texts, words, stream, chars))
    keep, hits = labels(flags[RULE_NAMES].to_numpy(), RULE_NAMES)
    return pd.DataFrame({"keep": keep, "rules_hit": hits}, index=texts.index)
