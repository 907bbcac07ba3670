"""Deterministic synthetic `pages` table — the north-rule input shape.

Schema (BASELINE.json input_hint):
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Pages are generated from a fixed seed with multilingual bodies, HTML
wrapping with the markup edge cases catalogued in FIXTURES.md §3 (CRLF/BOM,
script/style noise, malformed tags, entities), PII-bearing strings, toxicity
terms, repetitive/duplicated text, and skewed hosts (a few hosts own most
urls — exercises salting). `text` is defined as extract_text(html), so the
byte-identity invariant is exact by construction.

Generation is pandas-side for fixtures (small) and distributed via
``spark.range(n).mapInPandas`` for bench-scale tables — same kernel, so the
two agree row-for-row at any scale.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..functions.text import extract_text

_WORDS = {
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
_LANGS = ("en", "fr", "es", "de", "zh")
# skewed host distribution: host0 owns ~50% of urls (north-rule skew case)
_HOSTS = ["bighost.example"] * 10 + [f"host{i}.example" for i in range(1, 11)]

_PII_SNIPPETS = (
    "contact me at john.doe@example.com for details",
    "call 555-867-5309 or (212) 555-0142 today",
    "server at 192.168.10.25 responded",
    "ssn 123-45-6789 leaked",
    "card 4111 1111 1111 1111 declined",
    "this badword sentence has a slurword in it",
)


def _rng(seed: int) -> np.random.Generator:
    return np.random.default_rng(seed)


def make_pages_pdf(n: int, seed: int = 42, start_id: int = 0) -> pd.DataFrame:
    """Deterministic batch of pages [start_id, start_id+n). Safe to shard:
    row content depends only on (seed, row id)."""
    rows = []
    base_ts = dt.datetime(2024, 3, 1)
    for i in range(start_id, start_id + n):
        g = _rng(seed * 1_000_003 + i)
        lang = _LANGS[int(g.integers(0, len(_LANGS)))]
        words = _WORDS[lang]
        n_words = int(g.integers(5, 400))
        sep = "" if lang == "zh" else " "
        body_words = [words[int(g.integers(0, len(words)))] for _ in range(n_words)]
        # quality hazards
        if g.random() < 0.15:  # repetitive page
            body_words = body_words[: max(3, n_words // 10)] * 10
        if g.random() < 0.10:  # digit heavy
            body_words += [str(int(g.integers(0, 10 ** 9))) for _ in range(n_words)]
        if g.random() < 0.08:  # absurd word
            body_words.append("x" * 80)
        body = sep.join(body_words)
        if g.random() < 0.25:  # PII / toxicity
            body += " " + _PII_SNIPPETS[int(g.integers(0, len(_PII_SNIPPETS)))]
        paras = [body[j: j + 180] for j in range(0, len(body), 180)]
        html = "<html><head><title>p</title><style>.x{color:red}</style>"
        html += "<script>var x=1;</script></head><body>"
        if g.random() < 0.2:
            html += "<!-- comment\nblock -->"
        for p in paras:
            html += f"<p>{p}</p>"
        if g.random() < 0.15:
            html += "<b></c>"  # malformed tag (reference test1pre.xml case)
        html += "&amp;done</body></html>"
        raw = html.encode("utf-8")
        if g.random() < 0.1:
            raw = b"\xef\xbb\xbf" + raw.replace(b"\n", b"\r\n")  # BOM + CRLF
        host = _HOSTS[int(g.integers(0, len(_HOSTS)))]
        url = f"https://{host}/{hashlib.sha1(str(i).encode()).hexdigest()[:12]}"
        ts = base_ts + dt.timedelta(seconds=int(g.integers(0, 86400 * 30)))
        claimed = lang if g.random() < 0.9 else _LANGS[int(g.integers(0, len(_LANGS)))]
        rows.append((url, ts, raw, claimed))
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "lang"])
    pdf["text"] = extract_text(pdf["html"])
    # Oracle-parity guard (ADVICE r3): the DuckDB twins tokenize with
    # RE2 '\s' (ASCII [\t\n\f\r ]) while the kernels use Python '\s'
    # (full Unicode whitespace). Parity is sound only while generated
    # text contains no whitespace the two engines disagree on (\x0b,
    # NBSP, U+3000, ...) — pinned here at the generator, not assumed.
    bad = pdf["text"].str.contains(r"[^\S \t\n\r\f]", regex=True)
    assert not bad.any(), "generator emitted non-ASCII whitespace"
    return pdf[["url", "warc_ts", "html", "text", "lang"]]


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

# fixed staging path for oracle-twinned queries over pages: the Spark
# queries and their DuckDB twins read the same files (see stage_pages). The
# staged table always has STAGE_N rows regardless of sf, so any staged dir
# is valid for any oracle run.
STAGE_PATH = "/tmp/ksana_oracle_pages/current.parquet"
STAGE_N = 400


def pages_df(spark, n: int, seed: int = 42, slices: int | None = None):
    """Distributed deterministic generation: spark.range -> mapInPandas with
    the same per-id kernel — content identical to make_pages_pdf at any
    parallelism (content is a pure function of (seed, id))."""
    import pyspark.sql.functions as F  # noqa: N812

    def gen(batches):
        for b in batches:
            ids = b["id"].to_numpy()
            if len(ids) == 0:
                continue
            # ids are contiguous per-slice for spark.range; generate whole
            # runs at once (content is a pure function of (seed, id), so
            # sharding cannot change any row)
            runs, start = [], 0
            for j in range(1, len(ids) + 1):
                if j == len(ids) or ids[j] != ids[j - 1] + 1:
                    runs.append((int(ids[start]), j - start))
                    start = j
            yield pd.concat(
                [make_pages_pdf(cnt, seed=seed, start_id=s) for s, cnt in runs],
                ignore_index=True)

    rng = spark.range(0, n, 1, slices or spark.sparkContext.defaultParallelism)
    return rng.select(F.col("id")).mapInPandas(gen, schema=PAGES_SCHEMA)


# ---- staged inputs: pure pandas + pyarrow writers, one content sentinel


def _ends_match(n: int, ends: list, n_expected: int, last_id: int,
                key) -> bool:
    """The sentinel every stage is trusted by: `n_expected` rows, and the
    first and last stored rows (`ends`, already passed through `key`)
    equal to `key` of the generator's rows 0 and `last_id`, regenerated
    and compared byte for byte. A drift that keeps the cardinality is
    restaged, never reused by both engines."""
    exp = [key(make_pages_pdf(1, seed=42, start_id=i).iloc[0])
           for i in (0, last_id)]
    return n == n_expected and ends == exp


def _url_text(rec) -> tuple:
    return rec["url"], rec["text"]


def _parquet_stage_ok(path: str, n_expected: int, last_id: int,
                      ts_type: str) -> bool:
    """`_ends_match` over a parquet stage dir (row count from the footers,
    first row of the first part, last row of the last part), plus the
    physical type of `warc_ts`: a stage Spark cannot read is rewritten."""
    try:
        parts = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if f.endswith(".parquet"))
        files = [pq.ParquetFile(p) for p in parts]
        schema = files[0].schema
        ts = schema.column(schema.names.index("warc_ts")).physical_type
        head = files[0].read(columns=["url", "text"]).to_pylist()[0]
        tail = files[-1].read(columns=["url", "text"]).to_pylist()[-1]
    except Exception:  # missing/unreadable/partial stage -> restage
        return False
    n = sum(f.metadata.num_rows for f in files)
    return ts == ts_type and _ends_match(
        n, [_url_text(head), _url_text(tail)], n_expected, last_id,
        _url_text)


def _restage(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def stage_pages() -> str:
    """Stage the STAGE_N deterministic pages at STAGE_PATH and return it.
    Every query over pages reads the staged parquet, so its DuckDB twin
    sees byte-identical input via read_parquet on the same files, and an
    oracle evaluated before its Spark twin (`oracle_sql()` stages first)
    reads the same table. Pure pandas + pyarrow, so no SparkSession is
    needed. `warc_ts` is stored as INT96, the type Spark itself writes:
    Spark rejects the TIMESTAMP(NANOS) pyarrow writes by default.

    Idempotent: a stage that passes the sentinel is reused, not
    rewritten. A composition query whose sub-stacks each stage
    (host_reputation joins three) would otherwise replace the files
    under the earlier DataFrames' file lists mid-plan."""
    if _parquet_stage_ok(STAGE_PATH, STAGE_N, STAGE_N - 1, "INT96"):
        return STAGE_PATH
    _restage(STAGE_PATH)
    t = pa.Table.from_pandas(make_pages_pdf(STAGE_N, seed=42),
                             preserve_index=False)
    pq.write_table(t, os.path.join(STAGE_PATH, "part-00000.parquet"),
                   use_deprecated_int96_timestamps=True)
    return STAGE_PATH


# ---- stream-dedup staged input: pages + deterministic re-crawl duplicates

STREAM_DEDUP_PATH = "/tmp/ksana_stream_dedup/current.parquet"
STREAM_DEDUP_RECRAWL_STEP = 5  # every 5th page is re-crawled a day later
STREAM_DEDUP_N = STAGE_N + STAGE_N // STREAM_DEDUP_RECRAWL_STEP


def stage_stream_dedup() -> str:
    """Stage the stream-dedup input: the STAGE_N pages PLUS a second file
    of re-crawls (every 5th page, same url/html/text, warc_ts + 1 day) —
    the next dump re-fetching unchanged pages. Two part files so a
    maxFilesPerTrigger=1 stream sees the duplicates in a LATER micro-batch
    than the originals (cross-batch dedup state, not within-batch).

    Pure pandas + pyarrow, shared verbatim by the Spark query and
    `oracle_sql()`; a stale dir is checked by the stage sentinel (the last
    row is the re-crawl of the last re-crawled page)."""
    last_re = ((STAGE_N - 1) // STREAM_DEDUP_RECRAWL_STEP
               ) * STREAM_DEDUP_RECRAWL_STEP
    if _parquet_stage_ok(STREAM_DEDUP_PATH, STREAM_DEDUP_N, last_re,
                         "INT64"):
        return STREAM_DEDUP_PATH
    _restage(STREAM_DEDUP_PATH)
    base = make_pages_pdf(STAGE_N, seed=42)
    recrawl = base.iloc[::STREAM_DEDUP_RECRAWL_STEP].copy()
    recrawl["warc_ts"] = recrawl["warc_ts"] + pd.Timedelta(days=1)
    for pdf, part in ((base, "part-00000.parquet"),
                      (recrawl, "part-00001.parquet")):
        t = pa.Table.from_pandas(pdf, preserve_index=False)
        # pandas datetimes land as timestamp[ns]; Spark's parquet reader
        # rejects TIMESTAMP(NANOS) — store microseconds
        ts_us = pa.field("warc_ts", pa.timestamp("us"))
        t = t.cast(pa.schema([ts_us if f.name == "warc_ts" else f
                              for f in t.schema]))
        pq.write_table(t, os.path.join(STREAM_DEDUP_PATH, part))
    return STREAM_DEDUP_PATH


# ---- JSONL crawl-dump staged input (the Dolma/RedPajama wire format)

JSONL_PATH = "/tmp/ksana_jsonl/current.jsonl"


def stage_jsonl() -> str:
    """Stage the pages corpus as NEWLINE-DELIMITED JSON with the binary
    payload base64-encoded — the wire format public LLM corpora actually
    ship in (Dolma, RedPajama, FineWeb dumps are jsonl.gz; WARC payloads
    ride as base64 strings). Pure python/pandas (no SparkSession) so the
    Spark reader and the DuckDB read_json twin consume byte-identical
    files; a pre-existing stage is trusted only after the stage sentinel
    compares its first and last lines."""
    def _row(rec) -> str:
        return json.dumps({
            "url": rec["url"],
            "warc_ts": rec["warc_ts"].isoformat(),
            "html_b64": base64.b64encode(bytes(rec["html"])).decode(),
            "text": rec["text"],
            "lang": rec["lang"],
        }, ensure_ascii=True, separators=(",", ":"))

    if os.path.isfile(JSONL_PATH):
        with open(JSONL_PATH, encoding="utf-8") as f:
            lines = f.read().splitlines()
        if lines and _ends_match(len(lines), [lines[0], lines[-1]],
                                 STAGE_N, STAGE_N - 1, _row):
            return JSONL_PATH
    os.makedirs(os.path.dirname(JSONL_PATH), exist_ok=True)
    pdf = make_pages_pdf(STAGE_N, seed=42)
    with open(JSONL_PATH + ".tmp", "w", encoding="utf-8") as f:
        f.writelines(_row(rec) + "\n" for rec in pdf.to_dict("records"))
    os.replace(JSONL_PATH + ".tmp", JSONL_PATH)
    return JSONL_PATH
