"""The driver-facing query surface: every operator from SURVEY.md §2 as a
(spark_fn, duckdb_oracle_sql) pair over the testdata tables.

Cross-engine determinism rules (applied on BOTH sides):
- integers everywhere possible; ratios cross-multiplied, never float
  thresholds;
- decimal-cast sums (exact) -> cast to double at the end (deterministic);
- float expressions that must exist (cosine) rounded to 6 dp before
  compare/top-k, with an id tie-break in every ORDER BY ... LIMIT;
- every computed column aliased identically in Spark and SQL;
- all integer outputs cast to long (DuckDB aggregates return BIGINT).

SQL literals (stopword lists, thresholds, gap sizes) are generated from the
same Python constants the Spark kernels use, so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import langid as LG
from .functions import quality as Q
from .functions import scrub as SC
from .operators import ann, bigram, dedup, postings, rangejoin, tokens, tpos
from .plans import quality_pipeline as qp
from .sources.pages import STAGE_PATH as _PAGES_STAGE
from .sources.pages import stage_pages
from .sources.tables import load

# ---------------------------------------------------------------- helpers

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in Q.STOPWORDS) + "]"
_TOKS_SQL = "list_filter(string_split({col}, ' '), x -> x <> '')"


def _doc_tokens(spark: SparkSession, sf: str) -> DataFrame:
    return tokens.word_tokens(load(spark, sf, "documents"))


def _kernel_pass(spark: SparkSession, sf: str) -> DataFrame:
    """The documents through the fused kernel pass
    (plans/quality_pipeline.process_text_table): rules, langid, scrub and
    perplexity in one Python boundary. Every query of the kernels over
    documents is a projection of it."""
    return qp.process_text_table(load(spark, sf, "documents"))


def _labels_and_lang(spark: SparkSession, sf: str) -> DataFrame:
    """keep/drop labels and langid of every document from one kernel pass
    (the flagship entry rows)."""
    return _kernel_pass(spark, sf).select(
        "doc_id", "keep", F.concat_ws(",", "rules_hit").alias("rules_hit_str"),
        "lang_detected", "lang_hits", "n_words")


def _dec(col, scale: int = 4):
    return F.col(col).cast(f"decimal(38,{scale})") if isinstance(col, str) else col.cast(f"decimal(38,{scale})")


# ================================================================ documents
# -- q02: per-document integer stats (SURVEY §2.5 A1/A8/A9 analogues)

def q_doc_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    stop = F.array(*[F.lit(w) for w in Q.STOPWORDS])
    lens = F.transform(toks, F.length)
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.coalesce(F.aggregate(lens, F.lit(0).cast("long"),
                               lambda a, x: a + x), F.lit(0)).alias("sum_word_len"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_words"),
        F.size(F.filter(toks, lambda x: F.array_contains(stop, x))).cast("long")
        .alias("stopword_hits"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("long").alias("max_word_len"),
    )


_SQL_DOC_STATS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents)
SELECT doc_id,
  len(toks)::BIGINT AS n_words,
  coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT AS sum_word_len,
  len(list_distinct(toks))::BIGINT AS n_distinct_words,
  len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))::BIGINT AS stopword_hits,
  coalesce(list_max(list_transform(toks, x -> length(x))), 0)::BIGINT AS max_word_len
FROM t
"""

# -- q03: keep/drop labels projected from the fused kernel pass (north
#    rule), oracle recomputes every rule in pure SQL integer arithmetic.

def q_keep_drop(spark: SparkSession, sf: str) -> DataFrame:
    return _labels_and_lang(spark, sf).select("doc_id", "keep",
                                              "rules_hit_str")


def _keep_drop_sql(tbl: str = "documents", id_col: str = "doc_id",
                   toks: str | None = None) -> str:
    """keep/drop rule SQL, parameterized so the pages-pipeline twin can
    replay the SAME rules over the staged pages table with the pipeline's
    whitespace tokenization (default = documents table, ' '-split)."""
    toks = toks or _TOKS_SQL.format(col="text")
    return f"""
WITH t AS (
  SELECT {id_col}, text,
         {toks} AS toks,
         string_split(text, chr(10)) AS lines
  FROM {tbl}
), s AS (
  SELECT {id_col},
    length(text)::BIGINT AS n_chars,
    len(toks)::BIGINT AS n_words,
    coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT AS sum_word_len,
    len(list_distinct(toks))::BIGINT AS n_distinct_words,
    len(list_filter(toks, x -> list_contains({_STOP_SQL}, x)))::BIGINT AS stopword_hits,
    coalesce(list_max(list_transform(toks, x -> length(x))), 0)::BIGINT AS max_word_len,
    len(lines)::BIGINT AS n_lines,
    (len(lines) - len(list_distinct(lines)))::BIGINT AS n_dup_lines,
    coalesce(list_max(list_transform(lines, x -> length(x))), 0)::BIGINT AS max_line_len,
    length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS digit_chars
  FROM t
), r AS (
  SELECT {id_col},
    (n_words < {Q.MIN_WORDS}) AS too_short,
    (n_words > {Q.MAX_WORDS}) AS too_long,
    (sum_word_len < {Q.MIN_MEAN_WL_NUM} * n_words
     OR sum_word_len > {Q.MAX_MEAN_WL_NUM} * n_words) AS mean_word_len,
    (stopword_hits * 50 < n_words) AS low_stopword,
    (n_distinct_words * 10 < n_words * 3) AS low_ttr,
    (max_word_len > {Q.MAX_WORD_LEN}) AS long_word,
    (n_dup_lines * 2 > n_lines) AS dup_lines,
    (max_line_len > {Q.MAX_LINE_LEN}) AS long_line,
    (digit_chars * 2 > n_chars) AS digit_heavy
  FROM s
)
SELECT {id_col},
  NOT (too_short OR too_long OR mean_word_len OR low_stopword OR low_ttr
       OR long_word OR dup_lines OR long_line OR digit_heavy) AS keep,
  ltrim(
    (CASE WHEN too_short THEN ',too_short' ELSE '' END) ||
    (CASE WHEN too_long THEN ',too_long' ELSE '' END) ||
    (CASE WHEN mean_word_len THEN ',mean_word_len' ELSE '' END) ||
    (CASE WHEN low_stopword THEN ',low_stopword' ELSE '' END) ||
    (CASE WHEN low_ttr THEN ',low_ttr' ELSE '' END) ||
    (CASE WHEN long_word THEN ',long_word' ELSE '' END) ||
    (CASE WHEN dup_lines THEN ',dup_lines' ELSE '' END) ||
    (CASE WHEN long_line THEN ',long_line' ELSE '' END) ||
    (CASE WHEN digit_heavy THEN ',digit_heavy' ELSE '' END), ',') AS rules_hit_str
FROM r
"""


_SQL_KEEP_DROP = _keep_drop_sql()

# -- q19: language ID projected from the fused kernel pass; oracle = same
#    integer scoring in SQL (argmax, ties -> ascending lang code, zero ->
#    'und').

def q_langid(spark: SparkSession, sf: str) -> DataFrame:
    return _labels_and_lang(spark, sf).select("doc_id", "lang_detected",
                                              "lang_hits", "n_words")


def _langid_sql(tbl: str = "documents", id_col: str = "doc_id",
                toks: str | None = None) -> str:
    """langid scoring SQL, parameterized for the pages-pipeline twin
    (same argmax/tie/zero semantics over any (id, text) table)."""
    toks = toks or _TOKS_SQL.format(col="lower(text)")
    prof_sql = {
        lang: "[" + ", ".join(f"'{w}'" for w in LG.PROFILES[lang]) + "]"
        for lang in LG.LANGS
    }
    hits = ",\n    ".join(
        f"len(list_filter(toks, x -> list_contains({prof_sql[lg]}, x)))::BIGINT AS h_{lg}"
        for lg in LG.LANGS
    )
    # argmax with ties -> first in ascending code order (de,en,es,fr)
    order = LG.LANGS
    pick = "CASE "
    for i, lg in enumerate(order):
        conds = [f"h_{lg} >= h_{other}" for other in order[i + 1:]]
        cond = " AND ".join(conds) if conds else "TRUE"
        pick += f"WHEN {cond} THEN struct_pack(l := '{lg}', h := h_{lg}) "
    pick += "END"
    return f"""
WITH t AS (
  SELECT {id_col}, text, {toks} AS toks,
    length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))::BIGINT AS cjk,
    length(regexp_replace(text, '\\s', '', 'g'))::BIGINT AS nonspace
  FROM {tbl}
), h AS (
  SELECT {id_col}, toks, cjk, nonspace,
    {hits}
  FROM t
), p AS (
  SELECT {id_col}, toks, cjk, nonspace, ({pick}) AS best FROM h
)
SELECT {id_col},
  CASE WHEN cjk * 2 > nonspace THEN 'zh'
       WHEN best.h > 0 THEN best.l ELSE 'und' END AS lang_detected,
  (CASE WHEN cjk * 2 > nonspace THEN cjk ELSE best.h END)::BIGINT AS lang_hits,
  len(toks)::BIGINT AS n_words
FROM p
"""


# -- q20: scrub projected from the fused kernel pass; oracle mirrors the
#    RE2-compatible rules (the lookbehind phone rule cannot fire on this
#    vocabulary-only corpus — asserted in tests, not assumed).

def q_scrub(spark: SparkSession, sf: str) -> DataFrame:
    n_hits = sum(F.col(f"scrub_{n}") for n in SC.SCRUB_RULE_NAMES)
    return _kernel_pass(spark, sf).select(
        "doc_id", F.length("text").cast("long").alias("scrubbed_len"),
        n_hits.alias("n_hits"))


# RE2 versions of the scrub rule patterns, applied in the same order as
# the kernel. (name, full kernel rule name, pattern, replacement). The
# phone rule's lookbehind has no RE2 form and provably never fires on the
# vocabulary-only documents corpus (asserted kernel-side in
# tests/test_scrub.py), so the twins pin its count at zero.
_SCRUB_SQL_STEPS = [
    ("email", "email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "ipv4", r"\b(?:(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\.){3}"
     r"(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})\b", "<IP>"),
    ("ssn", "ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("cc", "credit_card", r"\b(?:[0-9]{4}[ -]){3}[0-9]{4}\b", "<CC>"),
    ("tox", "toxicity", r"(?i)\b(?:badword|slurword|vileword)\b", "<TOX>"),
]


def _scrub_sql() -> str:
    expr, hit_terms = "text", []
    for _, _, pat, repl in _SCRUB_SQL_STEPS:
        pat_sql = pat.replace("\\", "\\\\").replace("'", "''")
        hit_terms.append(f"len(regexp_extract_all({expr}, '{pat_sql}'))")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{repl}', 'g')"
    return f"""
SELECT doc_id,
  length({expr})::BIGINT AS scrubbed_len,
  ({' + '.join(hit_terms)})::BIGINT AS n_hits
FROM documents
"""


def q_scrub_rule_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-RULE scrub hit counts per document from the fused kernel pass —
    lineage-grade provenance (which rule fired where), value-oracled
    rule-by-rule instead of as the summed total q_scrub checks."""
    return _kernel_pass(spark, sf).select(
        "doc_id", F.length("text").cast("long").alias("scrubbed_len"),
        *(f"scrub_{n}" for n in SC.SCRUB_RULE_NAMES))


def _scrub_rule_counts_sql() -> str:
    expr, cols = "text", []
    for _, full, pat, repl in _SCRUB_SQL_STEPS:
        pat_sql = pat.replace("\\", "\\\\").replace("'", "''")
        cols.append(f"len(regexp_extract_all({expr}, '{pat_sql}'))::BIGINT"
                    f" AS scrub_{full}")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{repl}', 'g')"
    cols.append("0::BIGINT AS scrub_phone")  # see _SCRUB_SQL_STEPS note
    return f"""
SELECT doc_id,
  length({expr})::BIGINT AS scrubbed_len,
  {', '.join(cols)}
FROM documents
"""


# -- q04: global token counts (A1/A2 unigram analogue)

def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    return (_doc_tokens(spark, sf).groupBy("token")
            .agg(F.count("*").alias("cnt")).where(F.col("cnt") >= 10))


_SQL_TOKEN_COUNTS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t)
SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token HAVING count(*) >= 10
"""

# -- q05: posting stats over globally gapped tpos (W1 + A5/A6, the hard one)

def q_posting_stats(spark: SparkSession, sf: str) -> DataFrame:
    t = tpos.with_tpos(_doc_tokens(spark, sf))
    return postings.posting_stats(t)


_SQL_POSTING_STATS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token,
               unnest(range(1, len(toks) + 1)) AS pos FROM t),
docs AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
offs AS (SELECT doc_id,
  coalesce(sum(n_tok) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
  + {tpos.DOC_GAP} * (row_number() OVER (ORDER BY doc_id) - 1) AS off
  FROM docs),
wt AS (SELECT tok.doc_id, token, off + pos AS tpos
       FROM tok JOIN offs USING (doc_id))
SELECT token, count(*)::BIGINT AS posting_length,
       min(tpos)::BIGINT AS min_tpos, max(tpos)::BIGINT AS max_tpos
FROM wt GROUP BY token
"""

# -- q06: bigram adjacency counts (J2/A2, genbigram two-job pattern)

_BIGRAM_MIN = 5


def q_bigram_counts(spark: SparkSession, sf: str) -> DataFrame:
    return bigram.bigram_counts(_doc_tokens(spark, sf), minoccur=_BIGRAM_MIN)


_SQL_BIGRAM_COUNTS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token,
               unnest(range(1, len(toks) + 1)) AS pos FROM t),
pairs AS (
  SELECT doc_id, token,
         lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM tok)
SELECT prev || ' ' || token AS bigram, count(*)::BIGINT AS cnt
FROM pairs WHERE prev IS NOT NULL
GROUP BY 1 HAVING count(*) > {_BIGRAM_MIN}
"""

# -- q07: exact dedup hash groups (hash computed map-side)

def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (d.select(F.md5("text").alias("text_hash"))
            .groupBy("text_hash").agg(F.count("*").alias("n_docs")))


_SQL_EXACT_DEDUP = """
SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_docs
FROM documents GROUP BY 1
"""

# -- q08: n-gram Jaccard near-dup candidate pairs (integer threshold)

_JAC_NUM, _JAC_DEN = 1, 5  # jaccard >= 0.2 (tuned so sf0.01 yields rows)


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return (dedup.ngram_jaccard_pairs(d, n=3, threshold_num=_JAC_NUM,
                                      threshold_den=_JAC_DEN)
            .select(F.col("id_a").cast("long").alias("id_a"),
                    F.col("id_b").cast("long").alias("id_b"),
                    F.col("inter").cast("long").alias("inter"),
                    F.col("uni").cast("long").alias("uni")))


_SQL_NGRAM_JACCARD = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
    array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 3),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, inter::BIGINT AS inter,
       (sa.sz + sb.sz - inter)::BIGINT AS uni
FROM co JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE inter * {_JAC_DEN} >= (sa.sz + sb.sz - inter) * {_JAC_NUM}
"""

# ================================================================ events

def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("long")  # ntz -> ltz is identity in UTC
    gap = sec - F.lag(sec).over(w)
    x = e.withColumn("new_s", (gap.isNull() | (gap > 1800)).cast("long"))
    return x.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("new_s").alias("n_sessions"))


_SQL_SESSIONIZE = """
WITH x AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR date_diff('second',
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
         THEN 1 ELSE 0 END AS new_s
  FROM events)
SELECT user_id, count(*)::BIGINT AS n_events, sum(new_s)::BIGINT AS n_sessions
FROM x GROUP BY user_id
"""


def q_events_hourly(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return (e.groupBy(F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
                      "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(_dec("value", 2)).cast("double").alias("sum_value")))


_SQL_EVENTS_HOURLY = """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       count(*)::BIGINT AS n,
       CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_events_json(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (e.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum(k).alias("sum_k")))


_SQL_EVENTS_JSON = """
SELECT event_type, count(*)::BIGINT AS n,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k
FROM events GROUP BY 1
"""


def q_asof_prev_error(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    dims = (e.where(F.col("event_type") == "error")
            .select("user_id", "ts", F.col("event_id").alias("prev_error_id")))
    out = rangejoin.asof_join_window(
        e, dims, on="user_id", fact_key="ts", dim_key="ts",
        value_cols=["prev_error_id"])
    return out.select("event_id", "prev_error_id")


_SQL_ASOF_PREV_ERROR = """
SELECT event_id,
  last_value(CASE WHEN event_type = 'error' THEN event_id END IGNORE NULLS)
    OVER (PARTITION BY user_id
          ORDER BY ts, CASE WHEN event_type = 'error' THEN 0 ELSE 1 END
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_error_id
FROM events
"""


def q_field_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """A10: long-format store -> sorted struct-of-arrays (string-joined for
    cross-engine hash stability)."""
    e = load(spark, sf, "events")
    return (e.groupBy("user_id", "event_type")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list("event_id")))
                 .alias("ids_str"),
                 F.count("*").alias("n")))


_SQL_FIELD_PIVOT = """
SELECT user_id, event_type,
       string_agg(event_id, ',' ORDER BY event_id) AS ids_str,
       count(*)::BIGINT AS n
FROM events GROUP BY 1, 2
"""

# ================================================================ tpc-h-ish

def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    l = load(spark, sf, "lineitem").where(F.col("l_shipdate") <= "1998-09-01")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(38,4)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(38,4)") + _dec("l_tax"))
    # high-scale decimal sums (scale 8/12 products) are rounded to 2dp
    # decimal BEFORE the double cast: DuckDB's int128/10^12 conversion can
    # land 1 ulp away from Spark's correctly-rounded BigDecimal cast, but
    # a 2dp decimal converts identically in both engines.
    return (l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
        F.count("*").alias("count_order")))


_SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))
           * (CAST(1 AS DECIMAL(38,4)) - CAST(l_discount AS DECIMAL(38,4)))), 2) AS DOUBLE)
    AS sum_disc_price,
  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))
           * (CAST(1 AS DECIMAL(38,4)) - CAST(l_discount AS DECIMAL(38,4)))
           * (CAST(1 AS DECIMAL(38,4)) + CAST(l_tax AS DECIMAL(38,4)))), 2) AS DOUBLE)
    AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) / count(*) AS avg_qty,
  count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    n = load(spark, sf, "nation")
    rev = (o.groupBy("o_custkey")
           .agg(F.sum(_dec("o_totalprice", 2)).alias("revenue_d"),
                F.count("*").alias("n_orders")))
    j = (rev.join(c, rev.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    return (j.select(F.col("c_custkey").cast("long").alias("c_custkey"),
                     "c_name", "n_name",
                     F.col("revenue_d").cast("double").alias("revenue"),
                     "n_orders")
            .orderBy(F.desc("revenue_d"), "c_custkey").limit(10))


_SQL_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(38,2))) AS revenue_d,
         count(*)::BIGINT AS n_orders
  FROM orders GROUP BY 1)
SELECT c_custkey::BIGINT AS c_custkey, c_name, n_name,
       CAST(revenue_d AS DOUBLE) AS revenue, n_orders
FROM rev JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue_d DESC, c_custkey LIMIT 10
"""


def q_region_agg(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    j = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return j.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        F.sum(_dec("c_acctbal", 2)).cast("double").alias("sum_acctbal"))


_SQL_REGION_AGG = """
SELECT r_name, count(*)::BIGINT AS n_customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_cube_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    l = load(spark, sf, "lineitem")
    return (l.cube("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.sum(_dec("l_quantity")).cast("double").alias("sum_qty")))


_SQL_CUBE_LINEITEM = """
SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_top_orders_per_cust(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (o.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= 3)
            .select(F.col("o_custkey").cast("long").alias("o_custkey"),
                    "o_orderkey", F.col("rn").cast("long").alias("rn")))


_SQL_TOP_ORDERS_PER_CUST = """
SELECT o_custkey::BIGINT AS o_custkey, o_orderkey,
       rn::BIGINT AS rn
FROM (SELECT o_custkey, o_orderkey,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
"""


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    en = d.where(F.col("lang") == "en").select("source").distinct()
    zh = d.where(F.col("lang") == "zh").select("source").distinct()
    return en.exceptAll(zh)


_SQL_SET_OPS = """
SELECT DISTINCT source FROM documents WHERE lang = 'en'
EXCEPT
SELECT DISTINCT source FROM documents WHERE lang = 'zh'
"""

# ================================================================ embeddings

def q_ann_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    j = e.crossJoin(F.broadcast(q))
    sim = F.round(ann.cosine(F.col("embedding"), F.col("qe")), 6)
    return (j.select("vec_id", sim.alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_id").limit(10))


_SQL_ANN_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
p AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, unnest(qe)::DOUBLE AS y
      FROM embeddings, q),
s AS (SELECT vec_id,
        round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6) AS cos_sim
      FROM p GROUP BY vec_id)
SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
"""

# ================================================================ rows-only
# (not SQL-expressible: xxhash64-based sketches, the pages pipeline)

def q_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(d, k=32, bands=8)


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.simhash64(load(spark, sf, "documents"))


# whitespace tokenization (the fused pipeline shares ONE text.str.split()
# across kernels), vs the documents-table twins' single-space split
_WS_TOKS_SQL = "list_filter(regexp_split_to_array({col}, '\\s+'), x -> x <> '')"


def q_pages_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end north-rule pipeline on deterministic synthetic pages.

    The pages are STAGED to parquet first and the pipeline reads the staged
    table, so the DuckDB twin replays rules + langid + perplexity over the
    byte-identical input (text == extract_text(html) by generator
    construction). Output: hash-stable scalars (rules_hit string-joined,
    floats rounded to 6dp; perplexity's log-prob sum is integer-exact in
    the kernel, so the oracle reproduces it bit-for-bit).
    """
    from .plans import quality_pipeline as qp
    staged = spark.read.parquet(stage_pages())
    out = qp.labels(qp.process(staged, buckets=8))
    return out.select(
        "url", "keep",
        F.concat_ws(",", "rules_hit").alias("rules_hit_str"),
        "lang_detected",
        F.round("lang_score", 6).alias("lang_score"),
        F.round("perplexity", 6).alias("perplexity"))


def q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Claimed-vs-detected language confusion matrix — the metadata-audit
    artifact a multilingual corpus publishes before trusting upstream
    language tags (crawl metadata lies; the staged generator plants a
    ~10% claimed-language mismatch, so disagreement cells are genuinely
    populated): one row per (claimed, detected) pair with the page count
    and the agreement flag, detection by the SAME fused langid kernel
    the flagship runs.

    100 TB shape: the kernel pass is the fused Arrow map; the claimed
    tag joins back url-keyed (with bucketed-at-rest layout the join is
    Exchange-free); the matrix agg map-side combines to at most
    n_langs^2 rows."""
    from .plans import quality_pipeline as qp
    staged = spark.read.parquet(stage_pages())
    det = (qp.labels(qp.process(staged, buckets=8))
           .select("url", F.col("lang_detected").alias("detected")))
    j = (staged.select("url", F.col("lang").alias("claimed"))
         .join(det, "url"))
    return (j.select("claimed", "detected",
                     (F.col("claimed") == F.col("detected")).alias("agree"))
            .groupBy("claimed", "detected", "agree")
            .agg(F.count("*").cast("long").alias("n_pages")))


def _lang_confusion_sql() -> str:
    lg = _langid_sql("pages_in", "url", _WS_TOKS_SQL.format(col="lower(text)"))
    return f"""
WITH pages_in AS (
  SELECT url, text, lang FROM read_parquet('{_PAGES_STAGE}/*.parquet')
),
lg AS ({lg})
SELECT p.lang AS claimed, lg.lang_detected AS detected,
       (p.lang = lg.lang_detected) AS agree,
       count(*)::BIGINT AS n_pages
FROM pages_in p JOIN lg ON p.url = lg.url
GROUP BY 1, 2, 3
"""


def _perplexity_cte(tbl: str, id_col: str) -> str:
    """SQL subquery computing (id, perplexity rounded to 6dp) over
    tbl(id, text): the integer-exact char-bigram LM replay (see
    functions/perplexity.sql_parts) — shared by the pages-pipeline twin
    and the CCNet-style sharding twin."""
    from .functions import perplexity as PPX
    alpha, mat, v = PPX.sql_parts()
    return f"""
  SELECT {id_col},
    CASE WHEN length(text) < 2 THEN 'infinity'::DOUBLE ELSE
      round(power(10, -(list_sum(list_transform(range(1, len(codes)),
              i -> ({mat})[codes[i] * {v} + codes[i + 1] + 1]))::DOUBLE
            / ((len(codes) - 1) * 1000000.0))), 6)
    END AS perplexity
  FROM (
    SELECT {id_col}, text,
      list_transform(
        list_transform(string_split(lower(text), ''),
                       c -> list_position({alpha}, c)),
        p -> CASE WHEN p IS NULL OR p = 0 THEN {v - 1} ELSE p - 1 END) AS codes
    FROM {tbl})
"""


def _pages_pipeline_sql() -> str:
    """DuckDB twin of the full pipeline over the staged pages table:
    keep/drop rules + langid (whitespace tokenization, matching the fused
    kernel's shared split) + the integer-exact char-bigram perplexity."""
    kd = _keep_drop_sql("pages_in", "url", _WS_TOKS_SQL.format(col="text"))
    lg = _langid_sql("pages_in", "url", _WS_TOKS_SQL.format(col="lower(text)"))
    return f"""
WITH pages_in AS (
  SELECT url, text FROM read_parquet('{_PAGES_STAGE}/*.parquet')
),
kd AS ({kd}),
lg AS ({lg}),
px AS ({_perplexity_cte("pages_in", "url")})
SELECT kd.url, kd.keep, kd.rules_hit_str, lg.lang_detected,
  round(lg.lang_hits::DOUBLE / greatest(lg.n_words, 1), 6) AS lang_score,
  px.perplexity
FROM kd JOIN lg ON kd.url = lg.url JOIN px ON kd.url = px.url
"""


def q_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe LSH ANN. The hyperplanes are DETERMINISTIC (fixed LCG),
    so the oracle can replay bucketing, Hamming<=1 multiprobe, and the
    probed top-k entirely in SQL from the same plane constants."""
    e = load(spark, sf, "embeddings")
    qv = [row[0] for row in
          e.where(F.col("vec_id") == 0).select(F.explode("embedding"))
          .collect()]  # collect-ok: one query vector (dim rows)
    return ann.lsh_topk(e, qv, k=10, nbits=6)


def _lsh_topk_sql() -> str:
    # literal plane matrix from the SAME deterministic generator the Spark
    # path uses (repr round-trips doubles exactly on both engines)
    planes = ann._hyperplanes(dim=64, nbits=6)
    lits = "[" + ", ".join(
        "[" + ", ".join(repr(x) for x in row) + "]" for row in planes) + "]"
    return f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
pl AS (SELECT {lits} AS planes),
b AS (SELECT vec_id, emb,
        list_sum(list_transform(range(1, 7), i ->
          CASE WHEN round(list_sum(list_transform(range(1, 65),
                     j -> emb[j] * planes[i][j])), 6) > 0
               THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS bucket
      FROM e, pl),
q AS (SELECT bucket AS qb, emb AS qemb FROM b WHERE vec_id = 0),
cand AS (SELECT vec_id, emb, qemb FROM b, q
         WHERE bit_count(xor(bucket, qb)) <= 1),
p AS (SELECT vec_id, unnest(emb)::DOUBLE AS x, unnest(qemb)::DOUBLE AS y
      FROM cand),
s AS (SELECT vec_id,
        round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
          AS cos_sim
      FROM p GROUP BY vec_id)
SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
"""

# -------------------------------------------- CCNet-style shard manifest

def _ccnet_labels(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, lang_detected, n_words, perplexity) from the fused kernel
    pass — shared by the exact and approx bucket assigners."""
    return _kernel_pass(spark, sf).select("doc_id", "lang_detected",
                                          "n_words", "perplexity")


def ccnet_buckets_approx(spark: SparkSession, sf: str,
                         accuracy: int = 10000) -> DataFrame:
    """The 10^12-doc path for CCNet sharding: decile BOUNDARIES via
    percentile_approx per language (one map-side-combining agg producing a
    dim-sized row per language), broadcast back, and assignment by range
    predicate — NO per-language sort anywhere. percentile_approx is
    engine-specific (no DuckDB twin by design); per-doc decile agreement
    with the exact ntile assigner is asserted in tests.
    -> (doc_id, lang_detected, ppl_decile)."""
    lab = _ccnet_labels(spark, sf).withColumn(
        "p6", F.round("perplexity", 6))
    bounds = (lab.groupBy("lang_detected")
              .agg(F.percentile_approx(
                  "p6", [i / 10 for i in range(1, 10)],
                  accuracy).alias("bounds")))
    decile = F.lit(1) + F.aggregate(
        F.col("bounds"), F.lit(0),
        lambda acc, b: acc + F.when(F.col("p6") > b, 1).otherwise(0))
    return (lab.join(F.broadcast(bounds), "lang_detected")
            .select("doc_id", "lang_detected",
                    decile.cast("long").alias("ppl_decile")))


def q_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style corpus sharding (the public CCNet pipeline's layout):
    every document lands in a (language, perplexity-decile) bucket —
    langid from the fused kernel pass, deciles = ntile(10) PER LANGUAGE
    over the 6dp-rounded perplexity with a doc_id tie-break (a
    deterministic total order, so both engines assign identical tiles).
    Output is the shard manifest: per-bucket doc + token counts.

    Scale note: an exact per-language ntile is a per-partition sort; at
    10^12 docs the production variant is :func:`ccnet_buckets_approx`
    (percentile_approx boundaries + range-predicate assignment — same
    manifest, no sort; agreement asserted in tests). The exact form here
    is what the cross-engine oracle can pin."""
    lab = _ccnet_labels(spark, sf)
    w = Window.partitionBy("lang_detected").orderBy(
        F.round("perplexity", 6), "doc_id")
    return (lab.withColumn("ppl_decile", F.ntile(10).over(w))
            .groupBy("lang_detected", F.col("ppl_decile").cast("long")
                     .alias("ppl_decile"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_words").alias("n_words")))


def _ccnet_buckets_sql() -> str:
    return f"""
WITH lg AS ({_langid_sql()}),
px AS ({_perplexity_cte("documents", "doc_id")}),
j AS (SELECT lg.doc_id, lang_detected, n_words, perplexity
      FROM lg JOIN px ON lg.doc_id = px.doc_id),
b AS (SELECT *, ntile(10) OVER (PARTITION BY lang_detected
        ORDER BY round(perplexity, 6), doc_id) AS ppl_decile FROM j)
SELECT lang_detected, ppl_decile::BIGINT AS ppl_decile,
       count(*)::BIGINT AS n_docs, sum(n_words)::BIGINT AS n_words
FROM b GROUP BY 1, 2
"""


def q_corpus_datacard(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus DATACARD (the reporting artifact shipped with a training
    set): keep-rate / volume rollup over (lang, source) at every grouping
    level — per (lang, source), per lang, and the corpus total — with the
    quality keep coming from the flagship rules kernel. ROLLUP grouping
    levels are distinguished by the NULL markers (the cube_lineitem
    parity convention).

    100 TB shape: the label join is doc-keyed (co-located under the
    at-rest doc_id bucketing) and the rollup is one algebraic hash agg —
    Spark expands grouping sets BEFORE the map-side partial combine, so
    the shuffle carries a few rows per (grouping set x partition)."""
    d = load(spark, sf, "documents").select(
        "doc_id", "lang", "source", "n_chars")
    kd = q_keep_drop(spark, sf).select("doc_id", "keep")
    return (d.join(kd, "doc_id")
            .rollup("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("keep").cast("long")).alias("n_keep"),
                 F.sum("n_chars").alias("sum_chars")))


_SQL_CORPUS_DATACARD = f"""
WITH kd AS ({_SQL_KEEP_DROP}),
j AS (SELECT d.lang, d.source, d.n_chars, kd.keep
      FROM documents d JOIN kd ON d.doc_id = kd.doc_id)
SELECT lang, source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
       sum(n_chars)::BIGINT AS sum_chars
FROM j GROUP BY ROLLUP (lang, source)
"""


# -- rule ablation: per-rule marginal impact of the keep/drop gate set


def q_rule_ablation(spark: SparkSession, sf: str) -> DataFrame:
    """Per-rule ablation report over the fused keep/drop kernel — the
    "which gate is doing the work" diagnostic a pipeline owner reads
    before tuning thresholds: for every quality rule, how many documents
    hit it (n_hit), how many were dropped by it ALONE (n_sole_reason —
    the docs that would flip to keep if the rule were removed), and the
    counterfactual keep rate without it (integer ppm). Composes the
    SAME kernel labels the flagship emits, so the twin splices
    _SQL_KEEP_DROP in as a CTE (the quality_report discipline) and the
    per-rule arithmetic is exact in both engines.

    100 TB shape: the kernel pass is the fused mapInPandas map, grouped
    once by (rules_hit_str, keep) — a map-side combine to <= 2^9 x 2
    rows; the per-rule counts (explode bounded by <= 9 rules/doc) and the
    corpus-wide totals (a broadcast 1-row scalar) both read that one
    aggregate, so its exchange is reused and the kernels run once."""
    g = (q_keep_drop(spark, sf).groupBy("rules_hit_str", "keep")
         .agg(F.count("*").alias("n")))
    rules = F.split("rules_hit_str", ",")
    # the empty-list filter goes after the explode: on the grouping column
    # it would be pushed below the aggregate and the exchange not reused
    hits = (g.select(F.explode(rules).alias("rule"),
                     F.size(rules).alias("n_rules"), "n")
            .where(F.col("rule") != ""))
    tot = g.agg(F.sum("n").alias("n_docs"),
                F.sum(F.when(F.col("keep"), F.col("n")).otherwise(0))
                .alias("n_keep"))
    return (hits.crossJoin(F.broadcast(tot))
            .groupBy("rule", "n_docs", "n_keep")
            .agg(F.sum("n").alias("n_hit"),
                 F.sum(F.when(F.col("n_rules") == 1, F.col("n")).otherwise(0))
                 .alias("n_sole_reason"))
            .select("rule", F.col("n_hit").cast("long").alias("n_hit"),
                    F.col("n_sole_reason").cast("long")
                    .alias("n_sole_reason"),
                    F.expr("((n_keep + n_sole_reason) * 1000000)"
                           " div n_docs").cast("long")
                    .alias("keep_ppm_without")))


def _rule_ablation_sql() -> str:
    return f"""
WITH kd AS ({_SQL_KEEP_DROP}),
h AS (SELECT unnest(string_split(rules_hit_str, ',')) AS rule,
             len(string_split(rules_hit_str, ',')) AS n_rules
      FROM kd WHERE rules_hit_str <> ''),
tot AS (SELECT count(*) AS n_docs,
               sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep FROM kd)
SELECT rule, count(*)::BIGINT AS n_hit,
       sum(CASE WHEN n_rules = 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_sole_reason,
       ((n_keep + sum(CASE WHEN n_rules = 1 THEN 1 ELSE 0 END))
        * 1000000 // n_docs)::BIGINT AS keep_ppm_without
FROM h, tot GROUP BY rule, n_docs, n_keep
"""


# ================================================================ registry
# One row per query: (spark fn, DuckDB twin SQL, or None when rows-only).
# The query's name is the function's name minus `q_`. Each queries*
# module ends with such a table; __spark_entry__ assembles the driver
# surface from them.

REGISTRY = (
    (q_doc_stats, _SQL_DOC_STATS),
    (q_keep_drop, _SQL_KEEP_DROP),
    (q_langid, _langid_sql()),
    (q_scrub, _scrub_sql()),
    (q_token_counts, _SQL_TOKEN_COUNTS),
    (q_posting_stats, _SQL_POSTING_STATS),
    (q_bigram_counts, _SQL_BIGRAM_COUNTS),
    (q_exact_dedup, _SQL_EXACT_DEDUP),
    (q_ngram_jaccard, _SQL_NGRAM_JACCARD),
    (q_sessionize, _SQL_SESSIONIZE),
    (q_events_hourly, _SQL_EVENTS_HOURLY),
    (q_events_json, _SQL_EVENTS_JSON),
    (q_asof_prev_error, _SQL_ASOF_PREV_ERROR),
    (q_field_pivot, _SQL_FIELD_PIVOT),
    (q_pricing_summary, _SQL_PRICING_SUMMARY),
    (q_top_customers, _SQL_TOP_CUSTOMERS),
    (q_region_agg, _SQL_REGION_AGG),
    (q_cube_lineitem, _SQL_CUBE_LINEITEM),
    (q_corpus_datacard, _SQL_CORPUS_DATACARD),
    (q_top_orders_per_cust, _SQL_TOP_ORDERS_PER_CUST),
    (q_set_ops, _SQL_SET_OPS),
    (q_ann_topk, _SQL_ANN_TOPK),
    (q_ccnet_buckets, _ccnet_buckets_sql()),
    (q_scrub_rule_counts, _scrub_rule_counts_sql()),
    # xxhash64 sketches: DuckDB has no xxhash64, so rows-only; the md5
    # twins (minhash_md5 / simhash_md5) value-prove the algorithm
    (q_minhash_pairs, None),
    (q_simhash, None),
    (q_pages_pipeline, _pages_pipeline_sql()),
    (q_lang_confusion, _lang_confusion_sql()),
    (q_lsh_topk, _lsh_topk_sql()),
    (q_rule_ablation, _rule_ablation_sql()),
)
