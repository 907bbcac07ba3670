"""Frozen, seeded input generator for the benchmark.

The benchmark owns its inputs: it does not call the program's own page
generator (``sources.pages.make_pages_pdf``), whose ``text`` column is
computed by the extraction kernel under measurement. A parent commit and a
change therefore read byte-identical inputs for the same seed.

The mix follows the program's synthetic pages: five languages (one of them
CJK, so about a fifth of the documents are non-ASCII), repetitive pages,
digit-heavy pages, absurdly long words, PII and toxicity snippets on about
a quarter of the pages, HTML comments and malformed tags, BOM + CRLF
encodings, and skewed hosts (one host owns about half the urls).

Every file's content depends only on (seed, kind, file index), so files can
be generated and verified one at a time. Nothing here may change once
baselines have been taken: a change to this file changes every input.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import pandas as pd

WORDS = {
    "en": ("the quick brown fox jumps over a lazy dog and the river runs to "
           "the sea with a light that is soft in the morning").split(),
    "fr": ("le chat noir dort sur la table et les enfants jouent dans le "
           "jardin avec une balle qui est pour vous").split(),
    "es": ("el perro corre por la calle y los ninos cantan una cancion en "
           "la plaza con su madre que es de aqui").split(),
    "de": ("der hund lauft durch die stadt und die kinder singen ein lied "
           "auf dem platz mit der mutter das ist auch gut").split(),
    "zh": list("天地玄黃宇宙洪荒日月盈昃辰宿列張寒來暑往秋收冬藏閏餘成歲律呂調陽"),
}
LANGS = ("en", "fr", "es", "de", "zh")
HOSTS = ["bighost.example"] * 10 + [f"host{i}.example" for i in range(1, 11)]
PII = (
    "contact me at john.doe@example.com for details",
    "call 555-867-5309 or (212) 555-0142 today",
    "server at 192.168.10.25 responded",
    "ssn 123-45-6789 leaked",
    "card 4111 1111 1111 1111 declined",
    "this badword sentence has a slurword in it",
)
BASE_TS = dt.datetime(2024, 3, 1)
DOC_CHARS = 300  # target length of a pre-extracted document


def _rng(seed: int, kind: str, index: int) -> random.Random:
    # str seeds hash through sha512: stable across processes and versions
    return random.Random(f"perfbench:{seed}:{kind}:{index}")


def _body(g: random.Random) -> tuple[str, str]:
    """One page body in plain text -> (lang, body)."""
    lang = LANGS[g.randrange(len(LANGS))]
    vocab = WORDS[lang]
    n = g.randrange(5, 400)
    words = g.choices(vocab, k=n)
    if g.random() < 0.15:  # repetitive page
        words = words[: max(3, n // 10)] * 10
    if g.random() < 0.10:  # digit heavy
        words += map(str, g.choices(range(10 ** 9), k=n))
    if g.random() < 0.08:  # absurd word
        words.append("x" * 80)
    body = ("" if lang == "zh" else " ").join(words)
    if g.random() < 0.25:  # PII / toxicity
        body += " " + PII[g.randrange(len(PII))]
    return lang, body


def _html(g: random.Random, body: str) -> bytes:
    html = ("<html><head><title>p</title><style>.x{color:red}</style>"
            "<script>var x=1;</script></head><body>")
    if g.random() < 0.2:
        html += "<!-- comment\nblock -->"
    html += "".join(f"<p>{body[j:j + 180]}</p>" for j in range(0, len(body), 180))
    if g.random() < 0.15:
        html += "<b></c>"  # malformed tag
    html += "&amp;done</body></html>"
    raw = html.encode("utf-8")
    if g.random() < 0.1:
        raw = b"\xef\xbb\xbf" + raw.replace(b"\n", b"\r\n")  # BOM + CRLF
    return raw


def pages(seed: int, index: int, n: int) -> pd.DataFrame:
    """File ``index`` of a pages table: n rows of
    (url, warc_ts, html, text, lang). ``text`` is the generator's own body
    text (what the page says), never an extraction result."""
    g = _rng(seed, "pages", index)
    rows = []
    for i in range(n):
        lang, body = _body(g)
        raw = _html(g, body)
        host = HOSTS[g.randrange(len(HOSTS))]
        url = f"https://{host}/s{seed}/f{index}/{i}"
        ts = BASE_TS + dt.timedelta(seconds=g.randrange(86400 * 30))
        claimed = lang if g.random() < 0.9 else LANGS[g.randrange(len(LANGS))]
        rows.append((url, ts, raw, body, claimed))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def _cut(body: str) -> list[str]:
    """Cut a body at spaces into pieces of about DOC_CHARS characters; runs
    longer than that (CJK text has no spaces) are sliced."""
    out, cur = [], ""
    for w in body.split(" "):
        while len(w) > DOC_CHARS:
            if cur:
                out.append(cur)
                cur = ""
            out.append(w[:DOC_CHARS])
            w = w[DOC_CHARS:]
        cur = f"{cur} {w}" if cur else w
        if len(cur) >= DOC_CHARS:
            out.append(cur)
            cur = ""
    if cur:
        out.append(cur)
    return [p for p in out if p]


def docs(seed: int, index: int, n: int) -> pd.DataFrame:
    """File ``index`` of a documents table: n rows of (doc_id, text), the
    same body distribution as :func:`pages` cut into ~DOC_CHARS-char
    single-line documents (already extracted: plain text, single spaces,
    no markup)."""
    g = _rng(seed, "docs", index)
    texts: list[str] = []
    while len(texts) < n:
        texts.extend(_cut(_body(g)[1]))
    base = index * n
    return pd.DataFrame({"doc_id": range(base, base + n), "text": texts[:n]})


def content_digest(pdf: pd.DataFrame) -> str:
    """sha256 over every cell of a generated frame, column by column, in row
    order: identifies content independently of the parquet encoding."""
    h = hashlib.sha256()
    for col in pdf.columns:
        h.update(col.encode() + b"\0")
        for v in pdf[col].tolist():
            if isinstance(v, bytes):
                h.update(v)
            else:
                h.update(str(v).encode("utf-8", "surrogatepass"))
            h.update(b"\0")
    return h.hexdigest()
