"""Text-analysis operators over the `documents` table (SURVEY §2 #36-39):
corpus-profile language ID, heuristic quality scoring, token statistics,
and content fingerprinting.

Everything is built-in column functions (split / regexp / array ops) —
no Python UDFs anywhere, so the hot path stays inside whole-stage
codegen. Ratios are integer-derived doubles (deterministic across
engines); hashes are the portable md5 family. Terminal columns are
BIGINT/INT/DOUBLE/VARCHAR only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gdalos_spark.datamodel import footer_count, load, split_for_cpu
from gdalos_spark.functions import hashing
from gdalos_spark.functions.scalar_chain import LOG2_SCALE, atanh_series, spark_spellings
from gdalos_spark.operators.dedup import DOCSH_SQL, SHINGLES3_SQL, doc_shingles

# ---------------------------------------------------------------------------
# 36. text_language_id — n-gram/marker-word scoring vs the lang label
# ---------------------------------------------------------------------------

N_MARKERS = 20  # top tokens per language kept as that language's profile


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by corpus-learned marker words: build each language's
    profile (top-N tokens by term frequency, deterministic tiebreak),
    then score every document's distinct tokens against every profile and
    pick the argmax (ties -> alphabetically first language). Profiles are
    tiny (langs x N) and broadcast; the document side is scanned once.
    The synthetic corpus shares one vocabulary across langs, so accuracy
    is near-chance — the operator contract (profile -> score -> argmax)
    is what's exercised. Both corpus passes (profile term frequencies
    and per-document distinct tokens) tokenize from the scan, so a
    split-starved local layout serializes them on one task —
    split_for_cpu spreads the scan; wide scans pass through."""
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    tok_all = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    tf = tok_all.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("tf"))
    w_top = Window.partitionBy("lang").orderBy(F.desc("tf"), F.asc("tok"))
    markers = (
        tf.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= N_MARKERS)
        .select(F.col("lang").alias("marker_lang"), "tok")
    )
    doc_tok = docs.select("doc_id", "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    scores = (
        doc_tok.join(F.broadcast(markers), "tok")
        .groupBy("doc_id", "lang", "marker_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("marker_lang"))
    return (
        scores.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("marker_lang").alias("pred_lang"),
            F.col("score").cast("bigint").alias("score"),
            (F.col("marker_lang") == F.col("lang")).cast("int").alias("correct"),
        )
    )


TEXT_LANGUAGE_ID_SQL = f"""
WITH tok_all AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT lang, tok, COUNT(*) AS tf FROM tok_all GROUP BY 1, 2),
markers AS (
  SELECT lang AS marker_lang, tok
  FROM (SELECT lang, tok, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tf DESC, tok ASC) AS rk FROM tf)
  WHERE rk <= {N_MARKERS}
),
doc_tok AS (
  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents
),
scores AS (
  SELECT d.doc_id, d.lang, m.marker_lang, COUNT(*) AS score
  FROM doc_tok d JOIN markers m ON d.tok = m.tok
  GROUP BY 1, 2, 3
),
best AS (
  SELECT doc_id, lang, marker_lang, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, marker_lang ASC) AS rk
  FROM scores
)
SELECT doc_id, lang, marker_lang AS pred_lang, CAST(score AS BIGINT) AS score,
       CAST(marker_lang = lang AS INTEGER) AS correct
FROM best WHERE rk = 1
"""

# ---------------------------------------------------------------------------
# 37. text_quality_score — length/punct/stopword/digit heuristics
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score from integer-derived ratios: token count,
    stopword ratio, digit ratio, mean token length. Single scan, pure
    column expressions, one deterministic double at the end. The scan is
    re-split across cores first: documents parquet compresses so well
    that even a 500k-doc upscale arrives as ONE input split, and this
    string-heavy map runs on one core without it (measured 10.9s -> ~1s
    at the sf10 upscale; split_for_cpu skips the exchange whenever the
    scan already has splits — repartition itself is never a no-op)."""
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    d = docs.withColumn("t", F.split("text", " "))
    n_chars = F.length("text").cast("bigint")
    n_tokens = F.size("t").cast("bigint")
    n_stop = F.expr(f"size(filter(t, x -> x IN ({_STOP_IN})))").cast("bigint")
    n_digit = (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).cast("bigint")
    stop_ratio = n_stop / n_tokens.cast("double")
    digit_ratio = n_digit / n_chars.cast("double")
    avg_tok_len = (n_chars - n_tokens + 1) / n_tokens.cast("double")
    quality = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(64.0))
        * (F.lit(1.0) - digit_ratio)
        * (F.lit(0.25) + F.lit(0.75) * F.least(F.lit(1.0), stop_ratio * 5)),
        6,
    )
    return d.select(
        "doc_id",
        "lang",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(avg_tok_len, 6).alias("avg_token_len"),
        quality.alias("quality"),
    )


TEXT_QUALITY_SCORE_SQL = f"""
WITH d AS (SELECT *, string_split(text, ' ') AS t FROM documents),
m AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(t, x -> x IN ({_STOP_IN}))) AS BIGINT) AS n_stopwords,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit
  FROM d
)
SELECT doc_id, lang, n_chars, n_tokens, n_stopwords,
       ROUND(n_stopwords / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
       ROUND(n_digit / CAST(n_chars AS DOUBLE), 6) AS digit_ratio,
       ROUND((n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE), 6) AS avg_token_len,
       ROUND(LEAST(1.0, n_tokens / 64.0)
             * (1.0 - n_digit / CAST(n_chars AS DOUBLE))
             * (0.25 + 0.75 * LEAST(1.0, (n_stopwords / CAST(n_tokens AS DOUBLE)) * 5)), 6) AS quality
FROM m
"""

# ---------------------------------------------------------------------------
# 38. text_token_stats — whitespace + regex token counting
# ---------------------------------------------------------------------------

_RE_TOKEN = "[a-z0-9]+"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token statistics: whitespace tokens, regex (BPE-ish word/number
    run) tokens, distinct count, type-token ratio, max token length.
    Single scan, built-ins only."""
    docs = load(spark, sf_dir, "documents")
    d = docs.withColumn("t", F.split("text", " "))
    n_ws = F.size("t").cast("bigint")
    n_re = F.regexp_count("text", F.lit(_RE_TOKEN)).cast("bigint")
    n_distinct = F.size(F.array_distinct("t")).cast("bigint")
    max_len = F.array_max(F.transform(F.col("t"), lambda x: F.length(x))).cast("int")
    return d.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_re.alias("n_re_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(n_distinct / n_ws.cast("double"), 6).alias("type_token_ratio"),
        max_len.alias("max_token_len"),
    )


TEXT_TOKEN_STATS_SQL = f"""
WITH d AS (SELECT *, string_split(text, ' ') AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_RE_TOKEN}')) AS BIGINT) AS n_re_tokens,
       CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
       ROUND(len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 6) AS type_token_ratio,
       CAST(list_max(list_transform(t, x -> length(x))) AS INTEGER) AS max_token_len
FROM d
"""

# ---------------------------------------------------------------------------
# 39. doc_fingerprint — content hash + bottom-k shingle-hash sketch
# ---------------------------------------------------------------------------

SKETCH_K = 4


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: full-content md5 plus a bottom-k sketch of
    the rolling 3-gram shingle hashes (the k smallest 60-bit hashes,
    dash-joined ascending) — a compact signature that is stable under
    small edits, unlike the content hash. Entirely array ops on the
    document row: no explode, no window, no shuffle — a narrow
    map-only pipeline at small scale, and once per DISTINCT text behind
    the adaptive distinct-text collapse above COLLAPSE_MIN_DOCS (the
    sketch is a pure function of the text, so the collapse is
    result-identical; the md5 gram CPU was the measured 21 s cost at
    the replica-heavy sf10 upscale)."""
    from gdalos_spark.operators.dedup import collapse_by_text, shingles3

    # parallelize the per-doc md5 pipeline when the table arrives as one
    # input split (split-starved scans only; skipped when the scan is wide)
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")

    def build(d: DataFrame) -> DataFrame:
        hashes = F.array_sort(
            F.transform(
                F.array_distinct(shingles3(F.col("text"))),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            )
        )
        dd = d.select(
            "doc_id", F.md5("text").alias("content_hash"), hashes.alias("hs")
        )
        sketch = F.concat_ws(
            "-",
            F.transform(F.slice(F.col("hs"), 1, SKETCH_K), lambda x: x.cast("string")),
        )
        return dd.select(
            "doc_id",
            "content_hash",
            sketch.alias("fingerprint"),
            F.least(F.size("hs"), F.lit(SKETCH_K)).cast("int").alias("k_used"),
            F.size("hs").cast("bigint").alias("n_shingles"),
        )

    # every output column is a pure function of the text, so above
    # COLLAPSE_MIN_DOCS the per-doc pipeline runs once per DISTINCT text
    # behind the adaptive distinct-text collapse (result-identical)
    return collapse_by_text(docs, build, footer_count(sf_dir, "documents"))


DOC_FINGERPRINT_SQL = f"""
WITH hashed AS (
  SELECT doc_id, md5(text) AS content_hash,
         list_sort(list_transform(list_distinct({SHINGLES3_SQL}),
                   s -> CAST('0x' || substring(md5(s), 1, 15) AS BIGINT))) AS hs
  FROM (SELECT doc_id, text, string_split(COALESCE(text, ''), ' ') AS t
        FROM documents)
)
SELECT doc_id, content_hash,
       array_to_string(list_transform(hs[1:{SKETCH_K}], x -> CAST(x AS VARCHAR)), '-') AS fingerprint,
       CAST(LEAST(len(hs), {SKETCH_K}) AS INTEGER) AS k_used,
       CAST(len(hs) AS BIGINT) AS n_shingles
FROM hashed
"""


# ---------------------------------------------------------------------------
# 55. text_pii_flag — regex PII detection + redaction
# ---------------------------------------------------------------------------
#
# The synthetic corpus is plain word lists, so a deterministic fraction of
# docs is first AUGMENTED with derived contact strings (phone/email/IP
# built from doc_id arithmetic — identical derivation in both engines).
# The operator itself is the real thing: portable regex detection counts +
# ordered redaction passes, all JVM-side regexp functions (the patterns
# avoid lookaround so Java regex and DuckDB's RE2 agree).

PII_EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.-]+\.[a-z]+"
PII_PHONE_RE = r"555-[0-9]{4}"
PII_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _augmented_text() -> "F.Column":
    did = F.col("doc_id")
    phone = F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0"))
    email = F.concat(F.lit(" mail user"), (did % 97).cast("string"), F.lit("@example.com"))
    ip = F.concat(
        F.lit(" host 10."), (did % 223).cast("string"),
        F.lit("."), (did % 31).cast("string"),
        F.lit("."), (did % 254 + 1).cast("string"),
    )
    return F.concat(
        F.col("text"),
        F.when(did % 3 == 0, phone).otherwise(F.lit("")),
        F.when(did % 5 == 0, email).otherwise(F.lit("")),
        F.when(did % 7 == 0, ip).otherwise(F.lit("")),
    )


def text_pii_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan over the corpus: count emails / phone numbers / IPv4s and
    emit the md5 of the fully-redacted text (emails -> [EMAIL] first,
    then IPs -> [IP], then phones -> [PHONE]; that order means the IP
    pattern can't match digits inside an already-redacted email).
    Narrow projection, whole-stage codegen end to end; zero shuffles on
    any production-width scan (split_for_cpu passes wide scans through
    untouched — only the degenerate single-split local layout takes the
    one CPU re-spread, which this round measured at 5.1 s -> 0.8 s for
    the six regex passes at the sf10 single-file upscale)."""
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    aug = docs.select("doc_id", _augmented_text().alias("t"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL_RE, "[EMAIL]"),
            PII_IP_RE, "[IP]",
        ),
        PII_PHONE_RE, "[PHONE]",
    )
    n_email = F.regexp_count(F.col("t"), F.lit(PII_EMAIL_RE)).cast("bigint")
    n_phone = F.regexp_count(F.col("t"), F.lit(PII_PHONE_RE)).cast("bigint")
    n_ip = F.regexp_count(F.col("t"), F.lit(PII_IP_RE)).cast("bigint")
    return aug.select(
        "doc_id",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ip.alias("n_ip"),
        ((n_email + n_phone + n_ip) > 0).cast("int").alias("has_pii"),
        F.md5(red).alias("redacted_hash"),
    )


_AUG_SQL = """
text
|| CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
|| CASE WHEN doc_id % 5 = 0 THEN ' mail user' || CAST(doc_id % 97 AS VARCHAR) || '@example.com' ELSE '' END
|| CASE WHEN doc_id % 7 = 0 THEN ' host 10.' || CAST(doc_id % 223 AS VARCHAR) || '.' || CAST(doc_id % 31 AS VARCHAR) || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END
"""

TEXT_PII_FLAG_SQL = f"""
WITH aug AS (SELECT doc_id, ({_AUG_SQL}) AS t FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT) AS n_phone,
  CAST(len(regexp_extract_all(t, '{PII_IP_RE}')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) + len(regexp_extract_all(t, '{PII_PHONE_RE}'))
       + len(regexp_extract_all(t, '{PII_IP_RE}')) > 0 AS INTEGER) AS has_pii,
  md5(regexp_replace(regexp_replace(regexp_replace(t,
        '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
        '{PII_IP_RE}', '[IP]', 'g'),
        '{PII_PHONE_RE}', '[PHONE]', 'g')) AS redacted_hash
FROM aug
"""


# ---------------------------------------------------------------------------
# 72. text_rarity_score — corpus document-frequency rarity per document
#     (the two-pass IDF pattern: learn per-token document frequency from
#     the corpus itself, then score every document against it)
# ---------------------------------------------------------------------------


def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each document: how common its vocabulary is corpus-wide.
    Pass 1 builds the token -> document-frequency table (distinct tokens
    per doc, then count docs per token); pass 2 joins it back and
    aggregates mean/min df per document. Both passes shuffle on the token
    key with map-side partials — the df table is corpus-sized, so it is
    NEVER broadcast (unlike the tiny language profiles in #36); at 100 TB
    this is the standard distributed IDF build. All terminal math is
    exact-integer division to double. Avoids log() so both engines stay
    bit-identical; a true IDF would only add a monotone transform."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    df_tab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(df_tab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_toks"),
            F.sum("df").cast("bigint").alias("sum_df"),
            F.min("df").alias("min_df"),
        )
        .select(
            "doc_id",
            "n_distinct_toks",
            (F.col("sum_df").cast("double") / F.col("n_distinct_toks").cast("double")).alias("mean_df"),
            "min_df",
        )
    )


TEXT_RARITY_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS tok
  FROM documents
),
df_tab AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
SELECT doc_id, COUNT(*) AS n_distinct_toks,
       CAST(SUM(df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_df,
       MIN(df) AS min_df
FROM toks JOIN df_tab USING (tok)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# 93. text_ngram_topk — corpus-wide top-k word trigrams
# ---------------------------------------------------------------------------

NGRAM_N = 3
NGRAM_TOPK = 20


def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency analysis: the NGRAM_TOPK most frequent
    overlapping word trigrams with occurrence and document counts.
    Aggregation keys on the 60-bit md5 of the gram (fixed 8-byte compare
    instead of variable-length strings; the gram text rides along as
    min() — identical for all rows of a hash, so the agg stays
    deterministic), then TakeOrderedAndProject picks the top k with a
    per-partition partial limit — no global sort materializes. Ties
    break on gram text, so the cut at rank k is total-ordered and
    engine-independent."""
    # parallelize the gram pipeline when the table arrives as one input
    # split (cheap redistribution; no-op at real scale)
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    # words staged as a column: split() inside the transform lambda would
    # re-split the document once per gram index (O(words^2) per doc);
    # with >1 reference Catalyst keeps the non-cheap split materialized
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    gram_expr = (
        "CASE WHEN size(words) >= {n} THEN "
        "transform(sequence(0, size(words) - {n}), "
        "i -> concat_ws(' ', slice(words, i + 1, {n}))) "
        "ELSE array() END"
    ).format(n=NGRAM_N)
    grams = words.select("doc_id", F.explode(F.expr(gram_expr)).alias("gram"))
    # two sequential aggs instead of countDistinct: (h, doc_id) partials
    # combine map-side, avoiding the distinct-expand that doubles the
    # shuffled agg volume
    per_doc = (
        grams.select("doc_id", "gram", hashing.md5_int60(F.col("gram")).alias("h"))
        .groupBy("h", "doc_id")
        .agg(F.min("gram").alias("gram"), F.count(F.lit(1)).alias("n"))
    )
    counted = per_doc.groupBy("h").agg(
        F.min("gram").alias("gram"),
        F.sum("n").alias("n_occ"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        counted.select("gram", "n_occ", F.col("n_docs").cast("bigint").alias("n_docs"))
        .orderBy(F.desc("n_occ"), F.asc("gram"))
        .limit(NGRAM_TOPK)
    )


TEXT_NGRAM_TOPK_SQL = f"""
WITH w AS (SELECT doc_id, str_split(text, ' ') AS words FROM documents),
grams AS (
  SELECT doc_id, array_to_string(words[(i + 1):(i + {NGRAM_N})], ' ') AS gram
  FROM (
    SELECT doc_id, words,
           CAST(unnest(range(GREATEST(len(words) - {NGRAM_N} + 1, 0))) AS INTEGER) AS i
    FROM w
  )
)
SELECT gram, COUNT(*) AS n_occ, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM grams
GROUP BY gram
ORDER BY n_occ DESC, gram ASC
LIMIT {NGRAM_TOPK}
"""

# ---------------------------------------------------------------------------
# 99. text_repetition_score — Gopher-style repetition signals
# ---------------------------------------------------------------------------

# Thresholds follow the published Gopher repetition-removal rules
# (Rae et al. 2021, "Scaling Language Models: Methods, Analysis &
# Insights from Training Gopher", Appendix A1.1): a document is
# repetitive when the most frequent 2-gram covers > 20% of its
# characters, duplicated 3-grams cover > 18%, or the most frequent
# single token is > 30% of all tokens.
REP_TOP2_THRESH = 0.20
REP_DUP3_THRESH = 0.18
REP_TOPTOK_THRESH = 0.30


def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals for corpus filtering (the Gopher repetition
    rules): per document, the token-share of the most frequent token,
    the character-coverage of the most frequent word 2-gram, and the
    character-coverage of all duplicated (count >= 2) word 3-grams.

    Plan: one scan stages the split once, one explode emits 1/2/3-grams
    together (each prefixed with its order n), and the per-(doc, gram)
    count aggregates on the gram's 60-bit md5 so only integers shuffle —
    gram strings never leave the map side. A (doc, n) window picks the
    top gram per order (ties: longer gram, then smaller hash), then one
    conditional agg folds the three signals into a per-doc row joined
    back to the doc's token/char totals. Coverage uses overlapping-gram
    counts, so it is clamped at 1.0 (documented approximation; the
    thresholds are far below the clamp).

    All ratios are single IEEE divisions of integers (deterministic on
    both engines); terminals are BIGINT / DOUBLE / INT only.
    """
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    words = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.split(F.col("text"), " ").alias("words"),
    )
    totals = words.select("doc_id", "n_chars", F.size("words").cast("bigint").alias("n_tokens"))

    def gram_arr(n: int) -> str:
        if n == 1:
            return "transform(words, t -> concat('1 ', t))"
        return (
            "CASE WHEN size(words) >= {n} THEN "
            "transform(sequence(0, size(words) - {n}), "
            "i -> concat('{n} ', concat_ws(' ', slice(words, i + 1, {n})))) "
            "ELSE array() END"
        ).format(n=n)

    grams = words.select(
        "doc_id",
        F.explode(F.expr(f"concat({gram_arr(1)}, {gram_arr(2)}, {gram_arr(3)})")).alias("key"),
    ).select(
        "doc_id",
        F.substring("key", 1, 1).cast("int").alias("gn"),
        hashing.md5_int60(F.col("key")).alias("h"),
        (F.length("key") - 2).cast("bigint").alias("glen"),
    )
    counted = grams.groupBy("doc_id", "gn", "h").agg(
        F.min("glen").alias("glen"), F.count(F.lit(1)).alias("cnt")
    )
    w_top = Window.partitionBy("doc_id", "gn").orderBy(
        F.desc("cnt"), F.desc("glen"), F.asc("h")
    )
    ranked = counted.withColumn("rk", F.row_number().over(w_top))
    per_doc = ranked.groupBy("doc_id").agg(
        F.max(F.when((F.col("gn") == 1) & (F.col("rk") == 1), F.col("cnt"))).alias("top1_cnt"),
        F.max(F.when((F.col("gn") == 2) & (F.col("rk") == 1), F.col("cnt") * F.col("glen"))).alias("top2_cover"),
        F.sum(
            F.when((F.col("gn") == 3) & (F.col("cnt") >= 2), F.col("cnt") * F.col("glen")).otherwise(F.lit(0))
        ).alias("dup3_cover"),
    )
    j = totals.join(per_doc, "doc_id")
    top_tok_frac = F.col("top1_cnt").cast("double") / F.col("n_tokens").cast("double")
    top2_frac = F.least(
        F.lit(1.0), F.coalesce(F.col("top2_cover").cast("double") / F.col("n_chars").cast("double"), F.lit(0.0))
    )
    dup3_frac = F.least(F.lit(1.0), F.col("dup3_cover").cast("double") / F.col("n_chars").cast("double"))
    return j.select(
        "doc_id",
        "n_tokens",
        F.round(top_tok_frac, 6).alias("top_tok_frac"),
        F.round(top2_frac, 6).alias("top_2gram_frac"),
        F.round(dup3_frac, 6).alias("dup_3gram_frac"),
        (
            (top_tok_frac > REP_TOPTOK_THRESH)
            | (top2_frac > REP_TOP2_THRESH)
            | (dup3_frac > REP_DUP3_THRESH)
        ).cast("int").alias("repetitive"),
    )


def _repetition_sql() -> str:
    h = hashing.md5_int60_sql("key")
    return f"""
WITH w AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, str_split(text, ' ') AS words
  FROM documents
),
totals AS (SELECT doc_id, n_chars, CAST(len(words) AS BIGINT) AS n_tokens FROM w),
grams AS (
  SELECT doc_id,
         CAST(substring(key, 1, 1) AS INTEGER) AS gn,
         {h} AS h,
         CAST(length(key) - 2 AS BIGINT) AS glen
  FROM (
    SELECT doc_id, unnest(
      list_concat(
        list_transform(words, t -> '1 ' || t),
        list_concat(
          list_transform(range(GREATEST(len(words) - 1, 0)), i -> '2 ' || array_to_string(words[(i + 1):(i + 2)], ' ')),
          list_transform(range(GREATEST(len(words) - 2, 0)), i -> '3 ' || array_to_string(words[(i + 1):(i + 3)], ' '))
        )
      )
    ) AS key
    FROM w
  )
),
counted AS (
  SELECT doc_id, gn, h, MIN(glen) AS glen, COUNT(*) AS cnt
  FROM grams GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, gn ORDER BY cnt DESC, glen DESC, h ASC) AS rk
  FROM counted
),
per_doc AS (
  SELECT doc_id,
         MAX(CASE WHEN gn = 1 AND rk = 1 THEN cnt END) AS top1_cnt,
         MAX(CASE WHEN gn = 2 AND rk = 1 THEN cnt * glen END) AS top2_cover,
         SUM(CASE WHEN gn = 3 AND cnt >= 2 THEN cnt * glen ELSE 0 END) AS dup3_cover
  FROM ranked GROUP BY 1
)
SELECT t.doc_id, t.n_tokens,
       ROUND(CAST(top1_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS top_tok_frac,
       ROUND(LEAST(1.0, COALESCE(CAST(top2_cover AS DOUBLE) / CAST(n_chars AS DOUBLE), 0.0)), 6) AS top_2gram_frac,
       ROUND(LEAST(1.0, CAST(dup3_cover AS DOUBLE) / CAST(n_chars AS DOUBLE)), 6) AS dup_3gram_frac,
       CAST(
         (CAST(top1_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) > {REP_TOPTOK_THRESH})
         OR (LEAST(1.0, COALESCE(CAST(top2_cover AS DOUBLE) / CAST(n_chars AS DOUBLE), 0.0)) > {REP_TOP2_THRESH})
         OR (LEAST(1.0, CAST(dup3_cover AS DOUBLE) / CAST(n_chars AS DOUBLE)) > {REP_DUP3_THRESH})
       AS INTEGER) AS repetitive
FROM totals t JOIN per_doc p ON t.doc_id = p.doc_id
"""


TEXT_REPETITION_SCORE_SQL = _repetition_sql()


# ---------------------------------------------------------------------------
# 103. text_c4_filters — C4-style line-level corpus cleaning report
#     (Raffel et al. 2020 §2.2: keep lines with enough words / a stopword /
#     no blocklisted word; drop pages with too few clean lines or any
#     blocklisted hit). The reference's nearest analogue is its per-dataset
#     skip/filter bookkeeping (gdalos_util.py:69 do_skip_if_exists); the
#     line-filter mechanics are the LLM-pipeline extension.
# ---------------------------------------------------------------------------

C4_LINE_WORDS = 8     # synthetic corpus has no newlines: a "line" is a fixed
                      # 8-word segment, same convention as dedup_lines
C4_MIN_WORDS = 5      # C4: retain lines with at least N words
C4_MIN_KEPT = 3       # C4: drop pages with fewer than N clean lines
C4_STOPWORDS = ("the", "a")   # stand-in for C4's English stopword check
C4_BLOCKLIST = ("slow",)      # stand-in for the C4 word blocklist


def text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document C4 cleaning report: segment the text into fixed
    8-word lines, test each line against the three C4 line rules
    (>= C4_MIN_WORDS words; contains a stopword; no blocklisted word),
    and keep the document iff >= C4_MIN_KEPT lines survive and no line is
    blocklisted. The word lists here are tiny deterministic stand-ins for
    C4's real English stopword/blocklist tables — the plan is what
    matters: every rule is evaluated inside ONE projection with
    transform/aggregate array folds over the line index, so the operator
    is map-side only (zero shuffles on any production-width scan,
    embarrassingly parallel at 100 TB) and the document text never
    leaves the scan task. The degenerate single-split local layout
    takes split_for_cpu's one re-spread so the array folds parallelize
    (27.4 s -> ~1 s at the sf10 single-file upscale)."""
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    n_lines = f"CAST(ceil(size(words) / {C4_LINE_WORDS}.0) AS INT)"
    # one array of per-line rule codes: bit0 short, bit1 no-stopword,
    # bit2 blocklisted (a line can fail several rules at once)
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in C4_STOPWORDS) + ")"
    block_arr = "array(" + ", ".join(f"'{w}'" for w in C4_BLOCKLIST) + ")"
    line_codes = (
        f"transform(sequence(0, {n_lines} - 1), i -> "
        f"  CASE WHEN size(slice(words, i * {C4_LINE_WORDS} + 1, {C4_LINE_WORDS})) < {C4_MIN_WORDS} THEN 1 ELSE 0 END"
        f"  + CASE WHEN NOT arrays_overlap(slice(words, i * {C4_LINE_WORDS} + 1, {C4_LINE_WORDS}), {stop_arr}) THEN 2 ELSE 0 END"
        f"  + CASE WHEN arrays_overlap(slice(words, i * {C4_LINE_WORDS} + 1, {C4_LINE_WORDS}), {block_arr}) THEN 4 ELSE 0 END)"
    )
    coded = words.select("doc_id", F.expr(line_codes).alias("codes"))

    def _count(pred: str) -> F.Column:
        return F.expr(
            f"CAST(size(filter(codes, c -> {pred})) AS BIGINT)"
        )

    rep = coded.select(
        "doc_id",
        F.expr("CAST(size(codes) AS BIGINT)").alias("n_lines"),
        _count("c % 2 = 1").alias("n_short"),
        _count("(c div 2) % 2 = 1").alias("n_no_stopword"),
        _count("c >= 4").alias("n_blocked"),
        _count("c = 0").alias("n_kept"),
    )
    return rep.select(
        "doc_id", "n_lines", "n_short", "n_no_stopword", "n_blocked", "n_kept",
        (F.col("n_kept").cast("double") / F.col("n_lines").cast("double")).alias("kept_frac"),
        (
            (F.col("n_kept") >= C4_MIN_KEPT) & (F.col("n_blocked") == 0)
        ).cast("int").alias("keep_doc"),
    )


def _c4_sql() -> str:
    stop_arr = "[" + ", ".join(f"'{w}'" for w in C4_STOPWORDS) + "]"
    block_arr = "[" + ", ".join(f"'{w}'" for w in C4_BLOCKLIST) + "]"
    seg = f"words[(i * {C4_LINE_WORDS} + 1):(i * {C4_LINE_WORDS} + {C4_LINE_WORDS})]"
    return f"""
WITH w AS (SELECT doc_id, str_split(text, ' ') AS words FROM documents),
coded AS (
  SELECT doc_id,
         list_transform(range(CAST(ceil(len(words) / {C4_LINE_WORDS}.0) AS BIGINT)), i ->
           CASE WHEN len({seg}) < {C4_MIN_WORDS} THEN 1 ELSE 0 END
           + CASE WHEN NOT list_has_any({seg}, {stop_arr}) THEN 2 ELSE 0 END
           + CASE WHEN list_has_any({seg}, {block_arr}) THEN 4 ELSE 0 END) AS codes
  FROM w
),
rep AS (
  SELECT doc_id,
         CAST(len(codes) AS BIGINT) AS n_lines,
         CAST(len(list_filter(codes, c -> c % 2 = 1)) AS BIGINT) AS n_short,
         CAST(len(list_filter(codes, c -> (c // 2) % 2 = 1)) AS BIGINT) AS n_no_stopword,
         CAST(len(list_filter(codes, c -> c >= 4)) AS BIGINT) AS n_blocked,
         CAST(len(list_filter(codes, c -> c = 0)) AS BIGINT) AS n_kept
  FROM coded
)
SELECT doc_id, n_lines, n_short, n_no_stopword, n_blocked, n_kept,
       CAST(n_kept AS DOUBLE) / CAST(n_lines AS DOUBLE) AS kept_frac,
       CAST(CASE WHEN n_kept >= {C4_MIN_KEPT} AND n_blocked = 0 THEN 1 ELSE 0 END AS INTEGER) AS keep_doc
FROM rep
"""


TEXT_C4_FILTERS_SQL = _c4_sql()


# ---------------------------------------------------------------------------
# 108. text_unigram_logprob — unigram LM surprise (perplexity-proxy filter)
#     (the CCNet/KenLM-style quality gate: score each document by its mean
#     per-token -log2 p(token) under the corpus unigram model; high mean
#     bits = out-of-distribution text). log2 is engine-trig-free: the
#     integer bit length supplies the exponent exactly and an atanh Horner
#     polynomial (identical IEEE expression text on both engines, error
#     < 2e-8) supplies the mantissa — the same no-engine-libm discipline
#     as the polynomial sin/cos ops, because ln/log are NOT correctly
#     rounded and differ across libms.
# ---------------------------------------------------------------------------


def _log2_stages(x: str, shift: str) -> dict[str, str]:
    """Staged expression fragments computing log2(x) for an integer
    expression x >= 1: exponent from bit length, mantissa via
    log2(m) = (2/ln2) * atanh((m-1)/(m+1)) with a 7-term Horner series
    (z <= 1/3 so the truncation error is < 2e-8). `shift` is the
    engine-specific 1 << (bl) spelling over the staged column names."""
    return {
        "bl": f"(length(bin({x})) - 1)",
        "m": f"(CAST({x} AS DOUBLE) / CAST({shift} AS DOUBLE))",
        "z": "((m - 1.0) / (m + 1.0))",
        "z2": "(z * z)",
        "poly": atanh_series("z2"),
        "lg": f"(CAST(bl AS DOUBLE) + {LOG2_SCALE} * z * poly)",
    }


def _log2_col(df, x: str, out: str) -> "DataFrame":
    """Append column `out` = log2 of integer column `x` via staged
    projections (each stage a named column, so no multi-KB collapsed
    expression reaches the parser)."""
    _, shift = spark_spellings()
    s = _log2_stages(x, shift("bl"))
    df = df.withColumn("bl", F.expr(s["bl"]))
    df = df.withColumn("m", F.expr(s["m"]))
    df = df.withColumn("z", F.expr(s["z"]))
    df = df.withColumn("z2", F.expr(s["z2"]))
    df = df.withColumn("poly", F.expr(s["poly"]))
    df = df.withColumn(out, F.expr(s["lg"]))
    return df.drop("bl", "m", "z", "z2", "poly")


def _log2_lateral_sql(x: str, out: str) -> str:
    """One-SELECT log2 of an integer expression via DuckDB lateral column
    aliases — the same staged polynomial arithmetic as _log2_stages, but
    with stage aliases SUFFIXED by the output name: lateral aliases lose
    to real columns of the FROM relation on name conflicts, so
    re-exported stage columns from a previous log2 CTE would silently
    shadow the new stages and corrupt the value."""
    bl, m, z, z2, poly = (f"{k}_{out}" for k in ("bl", "m", "z", "z2", "poly"))
    return (
        f"(length(bin({x})) - 1) AS {bl}, "
        f"(CAST({x} AS DOUBLE) / CAST((CAST(1 AS BIGINT) << {bl}) AS DOUBLE)) AS {m}, "
        f"(({m} - 1.0) / ({m} + 1.0)) AS {z}, "
        f"({z} * {z}) AS {z2}, "
        f"{atanh_series(z2)} AS {poly}, "
        f"(CAST({bl} AS DOUBLE) + {LOG2_SCALE} * {z} * {poly}) AS {out}"
    )


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass unigram-LM scoring: (1) corpus term frequencies (one
    shuffle keyed on the token) plus the 1-row corpus total, broadcast;
    (2) every token occurrence joins its tf and accumulates
    -log2(tf/N) = log2(N) - log2(tf). Per-token bits are rounded once to
    1e-6 micro-units and summed as BIGINT, so the per-doc totals are
    exact under any aggregation order. The tf table is a real corpus-wide
    table JOINED (never broadcast — at 100 TB it's billions of rows, the
    same shape as text_rarity_score's df table); only the tiny N row is
    broadcast."""
    docs = load(spark, sf_dir, "documents")
    occ = (
        split_for_cpu(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    tf = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("n_total"))

    scored = occ.join(tf, "tok").crossJoin(F.broadcast(total))
    scored = _log2_col(scored, "n_total", "lg_n")
    scored = _log2_col(scored, "tf", "lg_tf")
    scored = scored.select(
        "doc_id",
        F.round((F.col("lg_n") - F.col("lg_tf")) * 1_000_000.0).cast("bigint").alias("bits_u"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bits_u").alias("bits_u"),
    )
    # no ROUND on the terminal doubles: both are correctly-rounded IEEE
    # divisions of exact integers, so they are engine-identical as-is,
    # whereas ROUND(x, 6) can land on an exact 7th-digit-5 tie where
    # Spark (shortest-repr HALF_UP) and DuckDB (binary) disagree
    return per_doc.select(
        "doc_id",
        "n_tokens",
        (F.col("bits_u").cast("double") / 1_000_000.0).alias("bits_total"),
        (
            F.col("bits_u").cast("double") / (F.col("n_tokens") * 1_000_000.0).cast("double")
        ).alias("mean_bits"),
    )


TEXT_UNIGRAM_LOGPROB_SQL = f"""
WITH occ AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT tok, COUNT(*) AS tf FROM occ GROUP BY tok),
total AS (SELECT SUM(tf) AS n_total FROM tf),
j AS (SELECT o.doc_id, t.tf, n_total FROM occ o JOIN tf t USING (tok) CROSS JOIN total),
lg AS (
  SELECT doc_id,
         {_log2_lateral_sql('n_total', 'lg_n')},
         {_log2_lateral_sql('tf', 'lg_tf')}
  FROM j
),
scored AS (
  SELECT doc_id, CAST(ROUND((lg_n - lg_tf) * 1000000.0) AS BIGINT) AS bits_u FROM lg
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(bits_u) AS bits_u FROM scored GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(bits_u AS DOUBLE) / 1000000.0 AS bits_total,
       CAST(bits_u AS DOUBLE) / CAST(n_tokens * 1000000.0 AS DOUBLE) AS mean_bits
FROM per_doc
"""


# ---------------------------------------------------------------------------
# 110. dsir_importance — DSIR-style importance weighting for data selection
#     (Xie et al. 2023: weight each raw document by how much more likely
#     its tokens are under the TARGET distribution than under the raw
#     corpus; sample high-weight docs to shift the mix toward the target)
# ---------------------------------------------------------------------------

DSIR_TARGET_SOURCE = "src0"  # the target slice whose distribution we want


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight in bits:
    log2 w(x) = sum_tokens [log2 p_target(tok) - log2 p_raw(tok)] with
    add-one smoothing over the shared vocabulary, where the target model
    is the unigram LM of the DSIR_TARGET_SOURCE slice and the raw model
    is the whole corpus. All four log2s per token are integer-argument
    polynomial log2s (no engine libm); per-token bits are micro-unit
    BIGINTs so document sums are exact under any aggregation order.
    Plan: one tf table per model (two aggs over the same exploded scan),
    1-row model-size table broadcast, candidate tokens equi-join the tf
    tables — the same two-pass shape as text_rarity_score, doubled.
    selected=1 marks docs whose mean per-token bits favor the target
    (the DSIR resampling step keeps these with high probability)."""
    docs = load(spark, sf_dir, "documents")
    occ = (
        split_for_cpu(docs, "doc_id")
        .select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
    )
    tf_r = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("tf_r"))
    tf_t = (
        occ.filter(F.col("source") == DSIR_TARGET_SOURCE)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf_t"))
    )
    sizes = (
        tf_r.join(tf_t, "tok", "left")
        .agg(
            F.sum("tf_r").alias("n_r"),
            F.sum(F.coalesce(F.col("tf_t"), F.lit(0))).alias("n_t"),
            F.count(F.lit(1)).alias("v"),
        )
    )
    j = (
        occ.join(tf_r, "tok")
        .join(tf_t, "tok", "left")
        .crossJoin(F.broadcast(sizes))
        .select(
            "doc_id",
            (F.coalesce(F.col("tf_t"), F.lit(0)) + 1).alias("a"),
            (F.col("n_t") + F.col("v")).alias("b"),
            (F.col("tf_r") + 1).alias("c"),
            (F.col("n_r") + F.col("v")).alias("d"),
        )
    )
    for x, out in (("a", "lg_a"), ("b", "lg_b"), ("c", "lg_c"), ("d", "lg_d")):
        j = _log2_col(j, x, out)
    scored = j.select(
        "doc_id",
        F.round(
            ((F.col("lg_a") - F.col("lg_b")) - (F.col("lg_c") - F.col("lg_d")))
            * 1_000_000.0
        ).cast("bigint").alias("bits_u"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("bits_u").alias("bits_u")
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            # unrounded for the same tie-avoidance reason as
            # text_unigram_logprob's terminal columns
            (F.col("bits_u").cast("double") / 1_000_000.0).alias("logw_bits"),
            (
                F.col("bits_u").cast("double")
                / (F.col("n_tokens") * 1_000_000.0).cast("double")
            ).alias("mean_logw_bits"),
            (F.col("bits_u") > 0).cast("int").alias("selected"),
        )
    )


def _dsir_sql() -> str:
    return f"""
WITH occ AS (
  SELECT doc_id, source, unnest(str_split(text, ' ')) AS tok FROM documents
),
tf_r AS (SELECT tok, COUNT(*) AS tf_r FROM occ GROUP BY tok),
tf_t AS (
  SELECT tok, COUNT(*) AS tf_t FROM occ
  WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY tok
),
sizes AS (
  SELECT SUM(r.tf_r) AS n_r, SUM(COALESCE(t.tf_t, 0)) AS n_t, COUNT(*) AS v
  FROM tf_r r LEFT JOIN tf_t t USING (tok)
),
j AS (
  SELECT o.doc_id,
         COALESCE(t.tf_t, 0) + 1 AS a,
         n_t + v AS b,
         r.tf_r + 1 AS c,
         n_r + v AS d
  FROM occ o JOIN tf_r r USING (tok) LEFT JOIN tf_t t USING (tok)
  CROSS JOIN sizes
),
la AS (SELECT doc_id, b, c, d, {_log2_lateral_sql('a', 'lg_a')} FROM j),
lb AS (SELECT doc_id, c, d, lg_a, {_log2_lateral_sql('b', 'lg_b')} FROM la),
lc AS (SELECT doc_id, d, lg_a, lg_b, {_log2_lateral_sql('c', 'lg_c')} FROM lb),
ld AS (SELECT doc_id, lg_a, lg_b, lg_c, {_log2_lateral_sql('d', 'lg_d')} FROM lc),
scored AS (
  SELECT doc_id,
         CAST(ROUND(((lg_a - lg_b) - (lg_c - lg_d)) * 1000000.0) AS BIGINT) AS bits_u
  FROM ld
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(bits_u) AS bits_u FROM scored GROUP BY doc_id
)
SELECT p.doc_id, d.source, p.n_tokens,
       CAST(p.bits_u AS DOUBLE) / 1000000.0 AS logw_bits,
       CAST(p.bits_u AS DOUBLE) / CAST(p.n_tokens * 1000000.0 AS DOUBLE) AS mean_logw_bits,
       CAST(CASE WHEN p.bits_u > 0 THEN 1 ELSE 0 END AS INTEGER) AS selected
FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
"""


TEXT_DSIR_IMPORTANCE_SQL = _dsir_sql()


# ---------------------------------------------------------------------------
# 117. text_bm25_topk — BM25 relevance ranking against a query term set
#     (the classic IR scoring function — Robertson/Sparck Jones; the
#     retrieval side of a data pipeline: rank corpus docs for a query)
# ---------------------------------------------------------------------------

BM25_QUERY = ("spark", "window", "join")
BM25_K1_X10 = 12  # k1 = 1.2, kept as integers so literals stay exact
BM25_B_X100 = 75  # b = 0.75
BM25_TOPK = 25


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k: score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).
    idf uses the exact odd-integer trick: (N−df+0.5)/(df+0.5) =
    (2N−2df+1)/(2df+1), both odd integers, so idf = lg2(2N−2df+1) −
    lg2(2df+1) comes from the engine-neutral polynomial log2 (log base
    only rescales scores — ranking is unchanged). The saturation term is
    one IEEE expression over exact integers (k1/b spelled as
    CAST(12 AS DOUBLE)/10 etc. — never bare decimal literals, which
    Spark parses as DECIMAL). Per-term scores round once to micro-units
    and sum as BIGINT; final ranking is (score_u DESC, doc_id) — an
    integer sort. Plan: doc tokens filtered to the tiny query set before
    any aggregation (the scan's data filter), df/sizes broadcast,
    TakeOrderedAndProject for the top-k."""
    docs = load(spark, sf_dir, "documents")
    occ = (
        split_for_cpu(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    dl = occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    sizes = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    qset = list(BM25_QUERY)
    qocc = occ.filter(F.col("tok").isin(qset))
    tf = qocc.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_t = qocc.select("doc_id", "tok").distinct().groupBy("tok").agg(
        F.count(F.lit(1)).alias("df")
    )
    j = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(sizes))
        .select(
            "doc_id", "tok", "tf",
            (F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1)).alias("idf_num"),
            (F.lit(2) * F.col("df") + F.lit(1)).alias("idf_den"),
            "dl", "n_docs", "total_len",
        )
    )
    j = _log2_col(j, "idf_num", "lg_num")
    j = _log2_col(j, "idf_den", "lg_den")
    sat = (
        "(CAST(tf AS DOUBLE) * (CAST({k1} AS DOUBLE) / 10.0 + 1.0)) / "
        "(CAST(tf AS DOUBLE) + (CAST({k1} AS DOUBLE) / 10.0) * "
        "(1.0 - CAST({b} AS DOUBLE) / 100.0 + (CAST({b} AS DOUBLE) / 100.0) * "
        "(CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total_len AS DOUBLE))))"
    ).format(k1=BM25_K1_X10, b=BM25_B_X100)
    scored = j.select(
        "doc_id",
        F.round(
            (F.col("lg_num") - F.col("lg_den")) * F.expr(sat) * 1_000_000.0
        ).cast("bigint").alias("score_u"),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("score_u").alias("score_u"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    w = Window.orderBy(F.desc("score_u"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "rank", "doc_id",
            (F.col("score_u").cast("double") / 1_000_000.0).alias("bm25"),
            F.col("n_terms_hit").cast("bigint").alias("n_terms_hit"),
        )
    )


def _bm25_sql() -> str:
    qlist = ", ".join(f"'{t}'" for t in BM25_QUERY)
    sat = (
        "(CAST(tf AS DOUBLE) * (CAST({k1} AS DOUBLE) / 10.0 + 1.0)) / "
        "(CAST(tf AS DOUBLE) + (CAST({k1} AS DOUBLE) / 10.0) * "
        "(1.0 - CAST({b} AS DOUBLE) / 100.0 + (CAST({b} AS DOUBLE) / 100.0) * "
        "(CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(total_len AS DOUBLE))))"
    ).format(k1=BM25_K1_X10, b=BM25_B_X100)
    return f"""
WITH occ AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM occ GROUP BY doc_id),
sizes AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
qocc AS (SELECT doc_id, tok FROM occ WHERE tok IN ({qlist})),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qocc GROUP BY doc_id, tok),
df_t AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM qocc GROUP BY tok),
j AS (
  SELECT t.doc_id, t.tok, t.tf,
         2 * n_docs - 2 * df + 1 AS idf_num,
         2 * df + 1 AS idf_den,
         dl.dl, n_docs, total_len
  FROM tf t JOIN df_t USING (tok) JOIN dl ON t.doc_id = dl.doc_id
  CROSS JOIN sizes
),
ln_ AS (SELECT doc_id, tok, tf, idf_den, dl, n_docs, total_len,
               {_log2_lateral_sql('idf_num', 'lg_num')} FROM j),
ld_ AS (SELECT doc_id, tok, tf, dl, n_docs, total_len, lg_num,
               {_log2_lateral_sql('idf_den', 'lg_den')} FROM ln_),
scored AS (
  SELECT doc_id,
         CAST(ROUND((lg_num - lg_den) * {sat} * 1000000.0) AS BIGINT) AS score_u
  FROM ld_
),
per_doc AS (
  SELECT doc_id, SUM(score_u) AS score_u, COUNT(*) AS n_terms_hit
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score_u, n_terms_hit,
         CAST(ROW_NUMBER() OVER (ORDER BY score_u DESC, doc_id) AS INTEGER) AS rank
  FROM per_doc
)
SELECT rank, doc_id,
       CAST(score_u AS DOUBLE) / 1000000.0 AS bm25,
       CAST(n_terms_hit AS BIGINT) AS n_terms_hit
FROM ranked WHERE rank <= {BM25_TOPK}
"""


TEXT_BM25_TOPK_SQL = _bm25_sql()


# ---------------------------------------------------------------------------
# doc_tfidf_topk — per-document top TF-IDF keyword extraction
# ---------------------------------------------------------------------------

TFIDF_TOPK = 5


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k keywords by tf·idf — the extraction every
    search/tagging pipeline runs. Shares text_rarity_score's two-pass
    df-table shape (corpus document frequencies JOINED, never
    broadcast); idf = log2((N+1)/(df+1)) comes from the polynomial
    log2 of the two integers (engine libm banned), the product rounds
    once to micro-units so ranking compares integers, and the per-doc
    window breaks ties (score desc, token asc) for a total order. The
    df join and the per-doc window use different keys — two shuffles,
    both unavoidable at any scale; only (doc_id, token-hash, integers)
    ever shuffle."""
    docs = load(spark, sf_dir, "documents")
    occ = (
        split_for_cpu(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    tf = occ.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    j = (
        tf.join(df_tbl, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("num", F.col("n_docs") + 1)
        .withColumn("den", F.col("df") + 1)
    )
    j = _log2_col(j, "num", "lg_num")
    j = _log2_col(j, "den", "lg_den")
    scored = j.select(
        "doc_id",
        "tok",
        "tf",
        F.col("df").cast("bigint").alias("df"),
        F.round(
            F.col("tf") * (F.col("lg_num") - F.col("lg_den")) * 1_000_000.0
        ).cast("bigint").alias("score_u"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_u"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select(
            "doc_id",
            "rk",
            "tok",
            "tf",
            "df",
            (F.col("score_u").cast("double") / 1_000_000.0).alias("tfidf"),
        )
        .orderBy("doc_id", "rk")
    )


def _tfidf_sql() -> str:
    return f"""
WITH occ AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM occ GROUP BY 1, 2),
dft AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
j AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dft.df,
         nd.n_docs + 1 AS num, dft.df + 1 AS den
  FROM tf JOIN dft USING (tok) CROSS JOIN nd
),
lg AS (
  SELECT doc_id, tok, tf, df,
         {_log2_lateral_sql('num', 'lg_num')},
         {_log2_lateral_sql('den', 'lg_den')}
  FROM j
),
scored AS (
  SELECT doc_id, tok, tf, CAST(df AS BIGINT) AS df,
         CAST(ROUND(tf * (lg_num - lg_den) * 1000000.0) AS BIGINT) AS score_u
  FROM lg
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_u DESC, tok) AS INTEGER) AS rk
  FROM scored
)
SELECT doc_id, rk, tok, tf, df,
       CAST(score_u AS DOUBLE) / 1000000.0 AS tfidf
FROM ranked WHERE rk <= {TFIDF_TOPK}
ORDER BY doc_id, rk
"""


DOC_TFIDF_TOPK_SQL = _tfidf_sql()


# ---------------------------------------------------------------------------
# corpus_language_balance — language mix + Shannon entropy
# ---------------------------------------------------------------------------


def corpus_language_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix report for corpus curation: per language, document
    and token shares, plus each language's Shannon-entropy contribution
    -p*log2(p) (their sum is the mix entropy — the diversity number a
    multilingual data recipe targets). p is a ratio of exact integers
    and log2(p) = log2(n_l) - log2(N) via the polynomial stages, so
    every double is engine-identical; the bounded per-language table is
    the only shuffle on a production-width scan (the tokenizing partial
    agg needs split_for_cpu's re-spread only on the degenerate
    single-split local layout)."""
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    tot = per_lang.agg(
        F.sum("n_docs").alias("total_docs"), F.sum("n_tokens").alias("total_tokens")
    )
    j = per_lang.crossJoin(F.broadcast(tot))
    j = _log2_col(j, "n_docs", "lg_n")
    j = _log2_col(j, "total_docs", "lg_t")
    share = F.col("n_docs").cast("double") / F.col("total_docs").cast("double")
    return j.select(
        "lang",
        "n_docs",
        "n_tokens",
        share.alias("doc_share"),
        (F.col("n_tokens").cast("double") / F.col("total_tokens").cast("double")).alias("token_share"),
        (share * (F.col("lg_t") - F.col("lg_n"))).alias("entropy_bits"),
    ).orderBy("lang")


def _lang_balance_sql() -> str:
    return f"""
WITH per_lang AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM per_lang),
j AS (SELECT per_lang.*, total_docs, total_tokens FROM per_lang CROSS JOIN tot),
lg AS (
  SELECT lang, n_docs, n_tokens, total_docs, total_tokens,
         {_log2_lateral_sql('n_docs', 'lg_n')},
         {_log2_lateral_sql('total_docs', 'lg_t')}
  FROM j
)
SELECT lang, n_docs, n_tokens,
       CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE) AS doc_share,
       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share,
       (CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)) * (lg_t - lg_n) AS entropy_bits
FROM lg
ORDER BY lang
"""


CORPUS_LANGUAGE_BALANCE_SQL = _lang_balance_sql()


# ---------------------------------------------------------------------------
# text_readability — Flesch-style readability from countable features
# ---------------------------------------------------------------------------


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability scoring from purely COUNTABLE features:
    words (split), sentences (terminal punctuation runs, min 1), and
    syllables approximated as vowel-group counts (the standard
    dictionary-free proxy) — every count an integer from one regexp
    pass, the score the classic linear formula of two exact ratios.
    Single scan, zero shuffles; the grade-band CASE classifies on the
    same double both engines computed identically. split_for_cpu
    spreads the regexp passes when the local scan is single-split; wide
    scans pass through with zero exchanges."""
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    words = F.size(F.split("text", " ")).cast("bigint")
    sents = F.greatest(
        F.lit(1).cast("bigint"),
        F.regexp_count("text", F.lit("[.!?]+")).cast("bigint"),
    )
    syll = F.greatest(
        words,  # every word has >= 1 syllable-proxy
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("bigint"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / words.cast("double"))
    )
    band = (
        F.when(score >= 60, "easy").when(score >= 30, "medium").otherwise("hard")
    )
    d = docs.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllables"),
        score.alias("flesch_score"),
    )
    return d.select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch_score",
        F.when(F.col("flesch_score") >= 60, "easy")
        .when(F.col("flesch_score") >= 30, "medium")
        .otherwise("hard")
        .alias("band"),
    )


TEXT_READABILITY_SQL = """
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
         GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT),
                  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)) AS n_syllables
  FROM documents
),
s AS (
  SELECT *, 206.835
            - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
            - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch_score
  FROM d
)
SELECT doc_id, n_words, n_sentences, n_syllables, flesch_score,
       CASE WHEN flesch_score >= 60 THEN 'easy'
            WHEN flesch_score >= 30 THEN 'medium'
            ELSE 'hard' END AS band
FROM s
"""


# ---------------------------------------------------------------------------
# text_normalize_dedup — canonicalization + duplicate-mass report
# ---------------------------------------------------------------------------


def text_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-mass report under text canonicalization
    (lowercase, every non-alphanumeric run collapsed to one space,
    trimmed) vs the raw text: the standard pre-pass that catches
    whitespace/punctuation-variant duplicates plain md5 dedup
    (dedup_exact) misses, reported as distinct-counts so the gate stays
    informative even on a corpus with no variant duplicates. Only 60-bit
    hashes shuffle; text never leaves the map side."""
    docs = load(spark, sf_dir, "documents")
    norm = F.expr("trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))")
    return (
        docs.select(
            "source",
            "n_chars",
            hashing.md5_int60(F.col("text")).alias("raw_key"),
            hashing.md5_int60(norm).alias("norm_key"),
            F.length(norm).cast("bigint").alias("norm_chars"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("raw_key").cast("bigint").alias("distinct_raw"),
            F.countDistinct("norm_key").cast("bigint").alias("distinct_norm"),
            (F.countDistinct("raw_key") - F.countDistinct("norm_key"))
            .cast("bigint")
            .alias("variant_dups"),
            F.sum("n_chars").cast("bigint").alias("chars_raw"),
            F.sum("norm_chars").cast("bigint").alias("chars_norm"),
        )
    )


_NORM_EXPR_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

TEXT_NORMALIZE_DEDUP_SQL = f"""
WITH n AS (
  SELECT source, n_chars,
         {hashing.md5_int60_sql("text")} AS raw_key,
         {hashing.md5_int60_sql(_NORM_EXPR_SQL)} AS norm_key,
         CAST(length({_NORM_EXPR_SQL}) AS BIGINT) AS norm_chars
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT raw_key) AS BIGINT) AS distinct_raw,
       CAST(COUNT(DISTINCT norm_key) AS BIGINT) AS distinct_norm,
       CAST(COUNT(DISTINCT raw_key) - COUNT(DISTINCT norm_key) AS BIGINT) AS variant_dups,
       CAST(SUM(n_chars) AS BIGINT) AS chars_raw,
       CAST(SUM(norm_chars) AS BIGINT) AS chars_norm
FROM n
GROUP BY source
"""


# ---------------------------------------------------------------------------
# langid_confusion_matrix — classifier evaluation against ground truth
# ---------------------------------------------------------------------------


def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation harness for the language-ID classifier: confusion
    matrix of predicted vs ground-truth language plus per-cell recall —
    the qualification table any heuristic classifier needs before it
    gates a corpus at scale. Reuses text_language_id's plan (one scan)
    and adds one tiny groupBy; recall is an exact integer ratio.

    Round-13 (guide §2.4): lang_total was a groupBy over ``cells``
    self-joined back on lang, which put the whole classifier subtree
    (two corpus tokenizations + the score window) in the plan TWICE —
    measured 30.0 s vs text_language_id's own 7.0 s at the sf10
    upscale. A sum window over partitionBy(lang) on the bounded
    langs x langs cells frame computes the identical total in one
    subtree (the window's bigint sum is the same F.sum the groupBy
    ran, so recall's double division is bit-identical)."""
    pred = text_language_id(spark, sf_dir).select("doc_id", "lang", "pred_lang")
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    lang_total = F.sum("n_docs").over(Window.partitionBy("lang"))
    return cells.select(
        "lang",
        "pred_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / lang_total).alias("recall"),
        (F.col("lang") == F.col("pred_lang")).alias("correct"),
    )


LANGID_CONFUSION_MATRIX_SQL = f"""
WITH pred AS (
  SELECT doc_id, lang, pred_lang FROM ({TEXT_LANGUAGE_ID_SQL})
),
cells AS (
  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
),
totals AS (SELECT lang, SUM(n_docs) AS lang_total FROM cells GROUP BY lang)
SELECT c.lang, c.pred_lang, c.n_docs,
       CAST(c.n_docs AS DOUBLE) / t.lang_total AS recall,
       c.lang = c.pred_lang AS correct
FROM cells c JOIN totals t ON c.lang = t.lang
"""


# ---------------------------------------------------------------------------
# source_vocab_overlap — corpus-source similarity matrix (vocab Jaccard)
# ---------------------------------------------------------------------------


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus sources — the matrix a
    data-mixing decision reads (near-identical sources are redundant;
    disjoint ones add coverage). Candidates come from the inverted
    token→sources index, so a token in k sources emits C(k,2) pairs with
    k bounded by the source count (never |vocab|²); only 60-bit hashes
    shuffle. Jaccard = inter / (|A| + |B| − inter), one exact integer
    division per pair."""
    docs = load(spark, sf_dir, "documents")
    tok = (
        split_for_cpu(docs, "doc_id")
        .select(
            "source",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("w"),
        )
        .select("source", hashing.md5_int60(F.col("w")).alias("h"))
        .distinct()
    )
    sizes = tok.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = tok.select(F.col("source").alias("sa"), "h")
    b = tok.select(F.col("source").alias("sb"), F.col("h").alias("hb"))
    inter = (
        a.join(b, (F.col("h") == F.col("hb")) & (F.col("sa") < F.col("sb")))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("source").alias("sa"), F.col("n").alias("na")), "sa")
        .join(sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb")), "sb")
        .select(
            "sa",
            "sb",
            "inter",
            "na",
            "nb",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


SOURCE_VOCAB_OVERLAP_SQL = f"""
WITH tok AS (
  SELECT DISTINCT source,
         {hashing.md5_int60_sql("t.w")} AS h
  FROM documents,
       LATERAL (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w) t
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY source),
inter AS (
  SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS inter
  FROM tok a JOIN tok b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa, sb, inter, ma.n AS na, mb.n AS nb,
       CAST(inter AS DOUBLE) / (ma.n + mb.n - inter) AS jaccard
FROM inter
JOIN sizes ma ON sa = ma.source
JOIN sizes mb ON sb = mb.source
"""


# ---------------------------------------------------------------------------
# trigram_entity_search — typo-tolerant entity lookup via a trigram index
# ---------------------------------------------------------------------------

TRIGRAM_QUERY = "bleu bolt"  # deliberate typo of 'blue bolt'
TRIGRAM_MIN_SHARED = 2
TRIGRAM_TOP_K = 10


def _trigrams(s: str) -> list[str]:
    """Host-side trigram set of the (padded) query literal — identical by
    construction to the engine-side derivation below."""
    p = f"  {s} "
    return sorted({p[i : i + 3] for i in range(len(p) - 2)})


def trigram_entity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity search, pg_trgm-style: part names are
    indexed as padded character trigrams; the (misspelled) query's
    trigram set is computed host-side and becomes a broadcast IN-list,
    so candidate generation is a map-side filter + one groupBy on the
    entity key — the inverted-index probe shape, never a scan-side
    Levenshtein. Candidates sharing >= TRIGRAM_MIN_SHARED trigrams are
    ranked by trigram Jaccard (exact integer ratio; ties on name, key).
    'bleu bolt' finds 'blue bolt' without any edit-distance call."""
    q = _trigrams(TRIGRAM_QUERY)
    q_list = ", ".join("'" + t.replace("'", "''") + "'" for t in q)
    parts = load(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("nm")
    )
    tg = parts.select(
        "p_partkey",
        "nm",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, length(concat('  ', nm, ' ')) - 2), "
                "i -> substring(concat('  ', nm, ' '), i, 3)))"
            )
        ).alias("t"),
    )
    n_tg = tg.groupBy("p_partkey").agg(F.count(F.lit(1)).alias("n_t"))
    inter = (
        tg.where(F.expr(f"t IN ({q_list})"))
        .groupBy("p_partkey", "nm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .where(F.col("shared") >= TRIGRAM_MIN_SHARED)
    )
    scored = inter.join(n_tg, "p_partkey").select(
        "p_partkey",
        F.col("nm").alias("p_name"),
        "shared",
        (
            F.col("shared").cast("double")
            / (F.col("n_t") + F.lit(len(q)) - F.col("shared"))
        ).alias("sim"),
    )
    w = Window.orderBy(F.desc("sim"), "p_name", "p_partkey")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TRIGRAM_TOP_K)
    )


def _trigram_search_sql() -> str:
    q = _trigrams(TRIGRAM_QUERY)
    q_list = ", ".join("'" + t.replace("'", "''") + "'" for t in q)
    return f"""
WITH parts AS (SELECT p_partkey, lower(p_name) AS nm FROM part),
tg AS (
  SELECT DISTINCT p_partkey, nm,
         substring('  ' || nm || ' ', CAST(i AS INTEGER), 3) AS t
  FROM parts,
       LATERAL (SELECT unnest(range(1, length('  ' || nm || ' ') - 1)) AS i)
),
n_tg AS (SELECT p_partkey, COUNT(*) AS n_t FROM tg GROUP BY 1),
inter AS (
  SELECT p_partkey, nm, CAST(COUNT(*) AS BIGINT) AS shared
  FROM tg WHERE t IN ({q_list})
  GROUP BY 1, 2
  HAVING COUNT(*) >= {TRIGRAM_MIN_SHARED}
),
scored AS (
  SELECT i.p_partkey, i.nm AS p_name, i.shared,
         CAST(i.shared AS DOUBLE) / (n.n_t + {len(q)} - i.shared) AS sim
  FROM inter i JOIN n_tg n ON i.p_partkey = n.p_partkey
)
SELECT p_partkey, p_name, shared, sim,
       CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, p_name, p_partkey) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {TRIGRAM_TOP_K}
"""


TRIGRAM_ENTITY_SEARCH_SQL = _trigram_search_sql()
