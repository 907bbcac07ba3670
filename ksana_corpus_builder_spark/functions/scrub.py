"""PII / toxicity scrubbing — ordered regex rewrite, vectorized.

The scrub is a fixed ORDERED list of (name, pattern, replacement); order is
part of the byte-identity contract (earlier rules see the original text,
later rules see prior replacements). Both the Spark pandas-UDF path and the
golden oracle call :func:`scrub_series`; per-rule hit counts feed the
metrics table (mirroring the reference's report-style accounting,
``index.js:293-318`` buildMeta).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from . import wordstream

# (name, compiled pattern, replacement) — ORDER MATTERS.
SCRUB_RULES: list[tuple[str, re.Pattern, str]] = [
    ("email", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
    ("ipv4", re.compile(r"\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\.){3}"
                        r"(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\b"), "<IP>"),
    ("ssn", re.compile(r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"), "<SSN>"),
    ("credit_card", re.compile(r"\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b"), "<CC>"),
    ("phone", re.compile(r"(?<![0-9])(?:\+?1[ .-])?\(?[0-9]{3}\)?[ .-][0-9]{3}[ .-][0-9]{4}"
                         r"(?![0-9])"), "<PHONE>"),
    # toxicity: tiny fixed lexicon, whole-word, case-insensitive
    ("toxicity", re.compile(r"\b(?:badword|slurword|vileword)\b", re.IGNORECASE), "<TOX>"),
]

SCRUB_RULE_NAMES = [name for name, _, _ in SCRUB_RULES]

# PER-RULE NECESSARY-condition gates, found over the batch buffer
# (wordstream.TextBatch) of the ORIGINAL text. Each gate is a fixed-length
# shape that every match of its rule must contain:
#   email        "@"
#   ipv4         digit "." digit          (octets may be 1 digit)
#   ssn          ddd-dd-dddd              (the whole pattern)
#   credit_card  dddd[ -]dddd[ -]dddd[ -]dddd  (the whole pattern)
#   phone        [ .-] ddd [ .-] dddd     (the pattern's mandatory tail)
#   toxicity     w o r d, either case     (every lexicon word ends so)
# A doc without its rule's shape cannot match, so the full-pattern subn
# runs only on gated docs; where the shape is the rule's whole fixed
# shape (ssn, credit_card), only a \b can still fail. Each shape is
# searched with numpy only around anchors (TextBatch.docs_with):
# positions of one of its rare chars (a class code each,
# wordstream.ANCHORS, so one compare finds them), or, for a digit that
# follows a non-digit in the shape, the starts of digit runs (every
# occurrence of the shape starts a run there) — never with a per-doc
# regex. Soundness across the ORDERED rewrite, i.e. gating on the
# original text although later rules see earlier replacements: every shape
# char is a digit, one of " .-@", or a letter of "word"; the replacement
# tokens (<EMAIL> <IP> <SSN> <CC> <PHONE> <TOX>) hold none of the former
# and never two of the latter in a row. So a shape occurrence in rewritten
# text touches no token, and as tokens are non-empty, its chars were
# adjacent in the original text too. Under IGNORECASE only w/W, o/O, r/R,
# d/D fold onto those letters (checked over all codepoints in
# tests/test_batch_buffer.py), so the toxicity shape is exact in ASCII.
_D = wordstream.DIGITS
# name -> (anchor index in the shape, shape)
_GATES: dict[str, tuple[int, tuple[str, ...]]] = {
    "email": (0, ("@",)),
    "ipv4": (1, (_D, ".", _D)),
    "ssn": (3, (_D, _D, _D, "-", _D, _D, "-", _D, _D, _D, _D)),
    "credit_card": (5, (_D, _D, _D, _D, " -", _D, _D, _D, _D, " -",
                        _D, _D, _D, _D, " -", _D, _D, _D, _D)),
    "phone": (1, (" .-", _D, _D, _D, " .-", _D, _D, _D, _D)),
    "toxicity": (0, ("wW", "oO", "rR", "dD")),
}


def gated_docs(batch: wordstream.TextBatch) -> dict[str, np.ndarray]:
    """rule name -> sorted indexes of the docs that pass its gate."""
    out = {}
    for name, (at, shape) in _GATES.items():
        anchors = (batch.digit_run_at if shape[at] == _D
                   else batch.where(wordstream.ANCHORS[shape[at]]))
        out[name] = batch.docs_with(anchors, at, shape)
    return out


def scrub_series(texts: pd.Series,
                 batch: wordstream.TextBatch | None = None) -> pd.DataFrame:
    """-> DataFrame(text=scrubbed, plus one int64 hit-count column per rule).

    One regex scan per rule per GATED doc: `Pattern.subn` returns
    (new_text, n_hits), so count+replace share the scan. ``batch`` (the
    wordstream.TextBatch over ``texts``) shares the fused pipeline's
    buffer with the gates."""
    if batch is None:
        batch = wordstream.TextBatch(texts)
    vals = batch.vals.copy()
    rows = gated_docs(batch)
    out = {f"scrub_{name}": np.zeros(len(vals), dtype=np.int64)
           for name, _, _ in SCRUB_RULES}
    for name, pat, repl in SCRUB_RULES:
        subn = pat.subn
        counts = out[f"scrub_{name}"]
        for i in rows[name].tolist():  # row-loop-ok: gated docs only
            vals[i], counts[i] = subn(repl, vals[i])
    return pd.DataFrame({"text": pd.Series(vals, index=texts.index), **out},
                        index=texts.index)
