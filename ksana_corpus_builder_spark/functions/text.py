"""Text normalization + HTML->text extraction kernels.

Re-imagines the reference's file-normalize + SAX-parse stages
(``parsexml.js:86-93`` BOM/CRLF normalize; ``parsepre.js:33-185`` markup
parse -> clean text; ``index.js:229-234`` makeLine newline stripping;
``romable.js:131-148`` trailing-blank trim) as vectorized pandas kernels.

The extraction contract is BYTE-IDENTITY per url between the Spark pipeline
and the golden oracle — both call these exact functions.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from .wordstream import TextBatch

_BOM = "﻿"
_CRLF = re.compile(r"\r\n?")


def normalize_raw(texts: pd.Series) -> pd.Series:
    """BOM strip + CRLF->LF + trim (reference parsexml.js:86-93)."""
    s = texts.fillna("")
    s = s.str.replace(_BOM, "", regex=False)
    s = s.str.replace(_CRLF, "\n", regex=True)
    return s.str.strip()


# --- HTML -> text ---------------------------------------------------------
# A deterministic, dependency-free extraction kernel. Order matters and is
# part of the byte-identity contract:
#   1. drop <script>/<style>/<!-- --> wholesale,
#   2. block-level close tags emit '\n',
#   3. strip remaining tags (reference tag-strip regex /<.+?>/g,
#      handlers.js:3,92),
#   4. decode the 5 core entities,
#   5. collapse runs of spaces/tabs per line, trim each line,
#   6. drop leading/trailing blank lines (reference makeLine + trailing-blank
#      trim), collapse 3+ newlines to 2.

_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_ANY_TAG = re.compile(r"<.+?>", re.DOTALL)  # reference handlers.js:3
_SPACES = re.compile(r"[ \t\f\v]+")
_LINE_EDGE = re.compile(r" *\n *")
_MULTI_NL = re.compile(r"\n{3,}")

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def _collapse_ws_regex(s: pd.Series) -> pd.Series:
    """Steps 5-6 of the contract as the original three regex passes + strip.
    Test oracle only (tests/test_properties.py): :func:`_collapse_ws` is the
    one production path, lone surrogates included."""
    s = s.str.replace(_SPACES, " ", regex=True)
    s = s.str.replace(_LINE_EDGE, "\n", regex=True)
    s = s.str.replace(_MULTI_NL, "\n\n", regex=True)
    return s.str.strip()


def _collapse_ws(texts: pd.Series) -> pd.Series:
    """Whitespace collapse (contract steps 5-6), whole-batch numpy.

    The three sequential regex passes ([ \\t\\f\\v]+ -> ' ', ' *\\n *' ->
    '\\n', \\n{3,} -> '\\n\\n') compose, per maximal run of the chars
    {space, tab, FF, VT, LF}, to: a run containing no LF collapses to one
    space; a run containing k LFs collapses to min(k, 2) newlines (every
    space subrun inside or at the edge of such a run borders an LF, so the
    line-edge pass deletes it). Runs never merge across the non-whitespace
    chars separating them, and other Unicode whitespace (NBSP, U+3000, ...)
    is untouched by all three passes — it splits runs exactly like any
    non-matched char, and only the final str.strip() removes it at the
    edges. That makes the passes a pure per-run rewrite, done here as mask
    algebra over the batch's code-unit buffer (wordstream.TextBatch;
    match-per-space regex scanning was ~6x the cost of this whole-batch
    form; equivalence is pinned by tests/test_properties.py against
    _collapse_ws_regex).
    """
    batch = TextBatch(texts)
    buf, offs, lens = batch.buf, batch.offs, batch.lens
    n = len(buf)
    if n == 0:  # the run masks below index [0] and [-1]
        return pd.Series([""] * len(texts), index=texts.index, dtype=object)

    is_nl = buf == 10
    is_ws = (buf == 32) | (buf == 9) | (buf == 12) | (buf == 11) | is_nl

    # run starts/ends, never crossing row boundaries
    prev_ws = np.empty(n, bool)
    prev_ws[0] = False
    prev_ws[1:] = is_ws[:-1]
    next_ws = np.empty(n, bool)
    next_ws[-1] = False
    next_ws[:-1] = is_ws[1:]
    at_row_start = np.zeros(n, bool)
    at_row_start[offs[:-1][lens > 0]] = True
    at_row_end = np.zeros(n, bool)
    at_row_end[offs[1:][lens > 0] - 1] = True
    start_mask = is_ws & (~prev_ws | at_row_start)
    end_mask = is_ws & (~next_ws | at_row_end)
    starts = np.flatnonzero(start_mask)
    ends = np.flatnonzero(end_mask)  # same count, pairwise inclusive

    # newlines per run via one cumsum (int32 is safe: n < 2^31 per batch)
    nl_cum = np.zeros(n + 1, np.int32)
    np.cumsum(is_nl, out=nl_cum[1:])
    k = nl_cum[ends + 1] - nl_cum[starts]

    out = buf.copy()
    keep = ~is_ws
    keep[starts] = True
    out[starts] = np.where(k == 0, 32, 10)
    two = starts[k >= 2] + 1  # run length >= k >= 2, stays in-run
    keep[two] = True
    out[two] = 10

    keep_cum = np.zeros(n + 1, np.int32)
    np.cumsum(keep, out=keep_cum[1:])
    new_offs = keep_cum[offs]
    flat = batch.decode(out[keep])
    res = pd.Series(
        [flat[new_offs[i]:new_offs[i + 1]]
         for i in range(batch.n_docs)],  # row-loop-ok: one slice per doc
        index=texts.index,
    )
    return res.str.strip()


# --- configurable handler registry (reference setHandlers, U1/U4) ---------
# The reference lets callers override per-tag open/close handlers
# (index.js:94-103, merge semantics parsexml.js:12-16). Here the registry
# is DATA consumed by the kernel, not code: tag -> action, where
#   "break"  emit a newline at the closing tag (block-level default),
#   "drop"   remove the element INCLUDING its content (script/style-like),
#   "strip"  remove the tags, keep the content (inline default).
# extract_text IS extract_text_with_rules under DEFAULT_TAG_RULES.

DEFAULT_TAG_RULES: dict[str, str] = dict(
    {t: "break" for t in ("p", "div", "li", "ul", "ol", "tr", "table",
                          "blockquote", "section", "article", "header",
                          "footer", "pre", "br", "hr",
                          "h1", "h2", "h3", "h4", "h5", "h6")},
    script="drop", style="drop",
)


def compile_rules(rules: dict[str, str]):
    """rules -> (drop_re, break_re) regex pair for the kernel."""
    drop = [t for t, a in rules.items() if a == "drop"]  # row-loop-ok: tag registry
    brk = [t for t, a in rules.items() if a == "break"]  # row-loop-ok: tag registry
    drop_re = (re.compile(r"<(%s)\b.*?</\1\s*>" % "|".join(drop),
                          re.DOTALL | re.IGNORECASE) if drop else None)
    # void elements (br, hr) break at the OPEN tag; others at the close tag
    voids = [t for t in brk if t in ("br", "hr")]  # row-loop-ok: tag registry
    closers = [t for t in brk if t not in ("br", "hr")]  # row-loop-ok: tag registry
    parts = []
    if closers:
        parts.append(r"</(?:%s)\s*>" % "|".join(closers))
    if voids:
        parts.append(r"<(?:%s)\s*/?>" % "|".join(voids))
    brk_re = re.compile("|".join(parts), re.IGNORECASE) if parts else None
    return drop_re, brk_re


_DEFAULT_RULES_RE = compile_rules(DEFAULT_TAG_RULES)


def extract_text_with_rules(htmls: pd.Series,
                            rules: dict[str, str] | None = None) -> pd.Series:
    """pd.Series[bytes|str html] -> pd.Series[str text] under a tag-rule
    registry; rules=None (or DEFAULT_TAG_RULES, compiled once at import)
    is :func:`extract_text`.

    Pass structure is deliberate: fusing the literal entity replaces or the
    whitespace passes into single regexes with callable replacements was
    MEASURED SLOWER (per-match Python callables cost more than extra
    C-level memchr scans) — keep the sequential constant-replacement form.
    """
    drop_re, brk_re = (_DEFAULT_RULES_RE
                       if not rules or rules is DEFAULT_TAG_RULES
                       else compile_rules(rules))
    s = htmls.map(lambda b: b.decode("utf-8", "replace")  # row-loop-ok: per-doc utf-8 decode
                  if isinstance(b, (bytes, bytearray)) else (b or ""))
    s = normalize_raw(s)
    if drop_re is not None:
        s = s.str.replace(drop_re, "", regex=True)
    s = s.str.replace(_COMMENT, "", regex=True)
    if brk_re is not None:
        s = s.str.replace(brk_re, "\n", regex=True)
    s = s.str.replace(_ANY_TAG, "", regex=True)
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    return _collapse_ws(s)


def extract_text(htmls: pd.Series) -> pd.Series:
    """The byte-identity extraction kernel: contract steps 1-6 above under
    DEFAULT_TAG_RULES."""
    return extract_text_with_rules(htmls)
