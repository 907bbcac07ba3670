"""Language identification — fastText-style linear scorer, vectorized.

Public-knowledge design: a tiny stopword/character-class profile per
language (the classic n-gram/function-word heuristic). Deterministic
integer scoring so Spark / pandas / DuckDB agree exactly:

    score(lang) = number of word tokens in PROFILES[lang]
    cjk text: if CJK chars * 2 > total non-space chars -> 'zh'
    winner   = argmax score, ties broken by language code ascending;
               all-zero -> 'und'

``lang_score`` = hits/n_words, emitted as an exact int ratio pair too.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import wordstream

PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that",
           "for", "on", "with", "was", "this", "are", "be", "you", "not"),
    "fr": ("le", "la", "les", "de", "des", "et", "un", "une", "du", "que",
           "qui", "dans", "pour", "est", "pas", "vous", "au", "sur", "avec"),
    "es": ("el", "la", "los", "las", "de", "y", "que", "en", "un", "una",
           "por", "con", "para", "del", "se", "su", "es", "al", "como"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine",
           "den", "von", "zu", "im", "auf", "für", "sich", "des", "dem", "auch"),
}
LANGS = sorted(PROFILES)  # deterministic tie-break order

# profile word -> bitmask of the LANGS that list it (bit i: LANGS[i]); a
# token's languages are the bits of its lowercased word, 0 off-profile
_WORD_BITS = {w: sum(1 << i for i, lang in enumerate(LANGS)
                     if w in PROFILES[lang])
              for words in PROFILES.values() for w in words}
_PROFILE_WORDS = pd.Index(list(_WORD_BITS), dtype=object)
# the bits of each profile word, then 0 for get_indexer's -1 (no match)
_PROFILE_BITS = np.array([*_WORD_BITS.values(), 0], np.int64)
# bitmask -> one hit per language it holds
_INCIDENCE = (np.arange(1 << len(LANGS))[:, None]
              >> np.arange(len(LANGS)) & 1).astype(np.int64)


def detect(texts: pd.Series, words: pd.Series | None = None,
           stream=None, chars=None) -> pd.DataFrame:
    """-> DataFrame(lang_detected, lang_hits, n_words) — vectorized kernel.

    ``stream`` (wordstream.WordStream, a case-preserving split: lowercasing
    per unique word is provably identical to lower-then-split, whitespace
    being case-invariant) and ``chars`` (wordstream.CharStats) let the
    fused pipeline share ONE batch buffer with the quality-rules kernel;
    whatever is not passed derives from one wordstream.TextBatch.
    ``words`` (a per-doc split) is accepted for callers of the older
    signature and not needed.
    """
    t = texts.fillna("")
    stream, chars = wordstream.views(t, stream, chars)
    n_words = pd.Series(stream.lens, index=t.index)

    # Factorize-then-count (shared stream): lowercase + profile-match only
    # the UNIQUE words (~10x fewer than tokens), as ONE language bitmask
    # per unique word; gather the masks onto the tokens, count each doc's
    # tokens per mask with ONE bincount, and turn mask counts into
    # per-language hits through the mask -> languages incidence matrix
    # (mask 0, off-profile, holds no language).
    n_masks = len(_INCIDENCE)
    bits = _PROFILE_BITS[_PROFILE_WORDS.get_indexer(
        stream.uniq_series.str.lower())]
    per_mask = np.bincount(stream.pos * n_masks + bits[stream.codes],
                           minlength=len(t) * n_masks)
    hits = per_mask.reshape(len(t), n_masks) @ _INCIDENCE
    hits_df = pd.DataFrame(hits, columns=LANGS, index=t.index)

    # \s and CJK counts are segment sums over the batch buffer (exact re
    # semantics per codepoint) — the former per-document str.count(r"\S")
    # scan was the kernel's single largest cost.
    cjk = pd.Series(chars.cjk, index=t.index)
    nonspace = pd.Series(chars.nonspace, index=t.index)
    is_cjk = cjk * 2 > nonspace

    best = hits_df.idxmax(axis=1)            # ties -> first column = ascending code
    best_hits = hits_df.max(axis=1)
    lang = best.where(best_hits > 0, "und")
    lang = lang.mask(is_cjk, "zh")
    best_hits = best_hits.mask(is_cjk, cjk)

    return pd.DataFrame({
        "lang_detected": lang,
        "lang_hits": best_hits.astype(np.int64),
        "n_words": n_words,
    }, index=t.index)
