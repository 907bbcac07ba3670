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

from .wordstream import BLANK, LF, TextBatch

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

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


def _collapse_ws(texts: pd.Series) -> TextBatch:
    """Whitespace collapse and strip (contract steps 5-6) in the batch's
    code-unit buffer -> the batch of the result.

    The three sequential regex passes ([ \\t\\f\\v]+ -> ' ', ' *\\n *' ->
    '\\n', \\n{3,} -> '\\n\\n') compose, per maximal run of the blanks
    {space, tab, FF, VT, LF}, to: a run containing no LF collapses to one
    space; a run containing k LFs collapses to min(k, 2) newlines (every
    space subrun inside or at the edge of such a run borders an LF, so the
    line-edge pass deletes it). Runs never merge across the non-blank
    chars separating them, and other Unicode whitespace (NBSP, U+3000, ...)
    is untouched by all three passes — it splits runs exactly like any
    non-matched char. str.strip() then removes the \\s runs at each doc's
    edges; as the collapse maps \\s runs to \\s runs and leaves every
    other char, those are the edge \\s runs of the input. Only \\s units
    change, so the work runs over their sorted positions
    (TextBatch.ws_at), and the result is the buffer's kept units with each
    run's rewrite, in the narrowest tier that holds them. Equivalence is
    pinned against the regex passes, kept as the oracle
    `_collapse_ws_regex` in tests/test_properties.py.
    """
    batch = TextBatch(texts)
    at = batch.ws_at
    if not at.size:
        return batch
    code = batch.cls[at]
    blank = (code & BLANK) != 0
    cont = batch.ws_cont
    # the first unit of each run of blanks, and the LFs in the run (the
    # \s units up to the next run's head that are not in it are no LF)
    head = blank.copy()
    head[1:] &= ~(cont[1:] & blank[:-1])
    heads = np.flatnonzero(head)
    k = np.add.reduceat(code == LF, heads, dtype=np.int64)
    two = heads[k >= 2] + 1  # the run's second unit, kept as '\n'
    drop = blank & ~head
    drop[two] = False
    # str.strip(): the \s runs holding a doc's first or last unit go whole
    run = np.cumsum(~cont) - 1
    edge = np.zeros(run[-1] + 1, bool)
    ne = batch.lens > 0
    edge[run[batch.ws_index(batch.offs[:-1][ne])]] = True
    edge[run[batch.ws_index(batch.offs[1:][ne] - 1)]] = True
    drop |= edge[run]

    units = batch.buf.copy()
    units[at[heads]] = np.where(k == 0, 32, 10)
    units[at[two]] = 10
    gone = at[drop]
    units = np.delete(units, gone)
    if units.dtype == np.uint16 and units.max(initial=0) < 0x80:
        units = units.astype(np.uint8)  # its only wide chars were stripped
    return TextBatch.from_units(
        units, batch.offs - np.searchsorted(gone, batch.offs), texts.index)


# --- configurable handler registry (reference setHandlers, U1/U4) ---------
# The reference lets callers override per-tag open/close handlers
# (index.js:94-103, merge semantics parsexml.js:12-16). Here the registry
# is DATA consumed by the kernel, not code: tag -> action, where
#   "break"  emit a newline at the closing tag (block-level default),
#   "drop"   remove the element INCLUDING its content (script/style-like),
#   "strip"  remove the tags, keep the content (inline default).
# extract_text IS extract_batch under DEFAULT_TAG_RULES, as strings.

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


def extract_batch(htmls: pd.Series,
                  rules: dict[str, str] | None = None) -> TextBatch:
    """pd.Series[bytes|str html] -> the TextBatch of the extracted text
    under a tag-rule registry (rules=None: DEFAULT_TAG_RULES, compiled
    once at import). Its buffer is the one the fused pipeline's kernels
    share: the batch's only encode is of the pre-collapse text.

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
    return extract_batch(htmls).texts
