"""Vocabulary / token-statistics operators for the LLM-data pipeline.

The tokenizer-side of a training-data pipeline: the pair-count stage of a
BPE merge iteration, a Zipf rank-frequency fit (the sanity check that a
corpus looks like natural language), Count-Min-sketch heavy hitters (the
bounded-memory frequent-token path at 100 TB), a Bloom-filter token
blocklist probe (membership without a join), and a linear quality
classifier (the fasttext-style keep/drop gate).

Cross-engine discipline (shared with text.py): every hash is the portable
md5 family from functions/hashing.py, every log2 is the staged polynomial
(engine libm banned), every float the driver hashes is either a ratio /
product of exact integers evaluated with identical expression text on
both engines, or a division of micro-unit BIGINT sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gdalos_spark.datamodel import load, query_checkpoint, split_for_cpu
from gdalos_spark.functions import hashing
from gdalos_spark.operators.text import _STOP_IN, _log2_col, _log2_lateral_sql


# ---------------------------------------------------------------------------
# bpe_merge_step — the pair-count stage of one BPE training iteration
# ---------------------------------------------------------------------------

BPE_TOPK = 20


def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of byte-pair-encoding training, the distributed
    way: adjacent symbol-pair counts over the corpus, top candidates
    ranked. The count factors through the WORD-FREQUENCY table — pairs
    explode from each DISTINCT word once and weight by its corpus count,
    so the expensive explode runs on |vocab| rows, not |corpus tokens|
    (Sennrich et al. 2016 train on exactly this word-frequency dict).
    The argmax row of the output IS the merge the iteration would apply.

    Tokens are restricted to ASCII [a-z0-9]+ so per-character substring
    semantics cannot diverge between engines on multibyte input. Two
    shuffles total: word agg, pair agg; top-k via TakeOrderedAndProject
    with a total (count desc, pair) order."""
    docs = load(spark, sf_dir, "documents")
    words = (
        split_for_cpu(docs, "doc_id")
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("w")
        )
    )
    # agg keyed on the 60-bit hash so only integers shuffle; the word
    # text rides along as min() (identical for every row of a hash)
    wf = (
        words.select(hashing.md5_int60(F.col("w")).alias("h"), "w")
        .groupBy("h")
        .agg(F.min("w").alias("w"), F.count(F.lit(1)).alias("wn"))
    )
    pairs = wf.select(
        "w",
        "wn",
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN "
                "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair"),
    )
    # (pair, word) partial first so n_words is a plain count, not a
    # distinct-expand over the occurrence stream
    per_word = pairs.groupBy("pair", "w").agg(
        F.sum("wn").alias("n_occ"), F.count(F.lit(1)).alias("n_in_word")
    )
    return (
        per_word.groupBy("pair")
        .agg(
            F.sum("n_occ").alias("n_occ"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
        )
        .orderBy(F.desc("n_occ"), "pair")
        .limit(BPE_TOPK)
    )


BPE_MERGE_STEP_SQL = f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents
),
wf AS (SELECT w, COUNT(*) AS wn FROM words GROUP BY w),
pairs AS (
  SELECT w, wn, substring(w, CAST(i AS INTEGER), 2) AS pair
  FROM (SELECT w, wn, unnest(range(1, length(w))) AS i FROM wf)
)
SELECT pair, CAST(SUM(wn) AS BIGINT) AS n_occ,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
FROM pairs
GROUP BY pair
ORDER BY n_occ DESC, pair
LIMIT {BPE_TOPK}
"""


# ---------------------------------------------------------------------------
# zipf_law_report — rank-frequency power-law fit over the vocabulary
# ---------------------------------------------------------------------------

ZIPF_TOP = 1000


def zipf_law_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of log2(count) against log2(rank) over the top
    ZIPF_TOP vocabulary entries — natural text sits near slope -1; a
    corpus that doesn't is machine-generated, deduplicated wrong, or
    tokenized wrong. The top-k comes from TakeOrderedAndProject (partial
    per-partition top-k, no global sort); only then does a single-
    partition window assign ranks to the k surviving rows (k = 1000 —
    the window input is constant-bounded, not data-sized). log2 is the
    staged polynomial; per-row x, y, xy, x2, y2 are rounded once to
    micro-units and summed as BIGINT, so the five regression sums are
    exact under any aggregation order and the closed-form slope/
    intercept/r2 are identical IEEE expressions of identical inputs."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        split_for_cpu(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), "tok")
        .limit(ZIPF_TOP)
    )
    ranked = tf.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("tf"), "tok")).cast("bigint")
    )
    ranked = _log2_col(ranked, "rank", "x")
    ranked = _log2_col(ranked, "tf", "y")
    u = lambda c: F.round(c * 1_000_000.0).cast("bigint")  # noqa: E731
    sums = ranked.select(
        u(F.col("x")).alias("x_u"),
        u(F.col("y")).alias("y_u"),
        u(F.col("x") * F.col("y")).alias("xy_u"),
        u(F.col("x") * F.col("x")).alias("xx_u"),
        u(F.col("y") * F.col("y")).alias("yy_u"),
    ).agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.sum("x_u").alias("sx_u"),
        F.sum("y_u").alias("sy_u"),
        F.sum("xy_u").alias("sxy_u"),
        F.sum("xx_u").alias("sxx_u"),
        F.sum("yy_u").alias("syy_u"),
    )
    d = lambda c: F.col(c).cast("double") / 1_000_000.0  # noqa: E731
    n = F.col("n_ranks").cast("double")
    cov = n * d("sxy_u") - d("sx_u") * d("sy_u")
    varx = n * d("sxx_u") - d("sx_u") * d("sx_u")
    vary = n * d("syy_u") - d("sy_u") * d("sy_u")
    return sums.select(
        "n_ranks",
        (cov / varx).alias("slope"),
        ((d("sy_u") - (cov / varx) * d("sx_u")) / n).alias("intercept"),
        (cov * cov / (varx * vary)).alias("r2"),
    )


ZIPF_LAW_REPORT_SQL = f"""
WITH tf AS (
  SELECT tok, COUNT(*) AS tf
  FROM (SELECT unnest(str_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok ORDER BY tf DESC, tok LIMIT {ZIPF_TOP}
),
ranked AS (
  SELECT tf, CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rank
  FROM tf
),
lg AS (
  SELECT {_log2_lateral_sql('rank', 'x')}, {_log2_lateral_sql('tf', 'y')}
  FROM ranked
),
urows AS (
  SELECT CAST(ROUND(x * 1000000.0) AS BIGINT) AS x_u,
         CAST(ROUND(y * 1000000.0) AS BIGINT) AS y_u,
         CAST(ROUND(x * y * 1000000.0) AS BIGINT) AS xy_u,
         CAST(ROUND(x * x * 1000000.0) AS BIGINT) AS xx_u,
         CAST(ROUND(y * y * 1000000.0) AS BIGINT) AS yy_u
  FROM lg
),
sums AS (
  SELECT COUNT(*) AS n_ranks,
         CAST(SUM(x_u) AS BIGINT) AS sx_u, CAST(SUM(y_u) AS BIGINT) AS sy_u,
         CAST(SUM(xy_u) AS BIGINT) AS sxy_u, CAST(SUM(xx_u) AS BIGINT) AS sxx_u,
         CAST(SUM(yy_u) AS BIGINT) AS syy_u
  FROM urows
)
SELECT n_ranks,
       (CAST(n_ranks AS DOUBLE) * (CAST(sxy_u AS DOUBLE) / 1000000.0)
        - (CAST(sx_u AS DOUBLE) / 1000000.0) * (CAST(sy_u AS DOUBLE) / 1000000.0))
       / (CAST(n_ranks AS DOUBLE) * (CAST(sxx_u AS DOUBLE) / 1000000.0)
          - (CAST(sx_u AS DOUBLE) / 1000000.0) * (CAST(sx_u AS DOUBLE) / 1000000.0)) AS slope,
       ((CAST(sy_u AS DOUBLE) / 1000000.0)
        - ((CAST(n_ranks AS DOUBLE) * (CAST(sxy_u AS DOUBLE) / 1000000.0)
            - (CAST(sx_u AS DOUBLE) / 1000000.0) * (CAST(sy_u AS DOUBLE) / 1000000.0))
           / (CAST(n_ranks AS DOUBLE) * (CAST(sxx_u AS DOUBLE) / 1000000.0)
              - (CAST(sx_u AS DOUBLE) / 1000000.0) * (CAST(sx_u AS DOUBLE) / 1000000.0)))
          * (CAST(sx_u AS DOUBLE) / 1000000.0)) / CAST(n_ranks AS DOUBLE) AS intercept,
       ((CAST(n_ranks AS DOUBLE) * (CAST(sxy_u AS DOUBLE) / 1000000.0)
         - (CAST(sx_u AS DOUBLE) / 1000000.0) * (CAST(sy_u AS DOUBLE) / 1000000.0))
        * (CAST(n_ranks AS DOUBLE) * (CAST(sxy_u AS DOUBLE) / 1000000.0)
           - (CAST(sx_u AS DOUBLE) / 1000000.0) * (CAST(sy_u AS DOUBLE) / 1000000.0)))
       / ((CAST(n_ranks AS DOUBLE) * (CAST(sxx_u AS DOUBLE) / 1000000.0)
           - (CAST(sx_u AS DOUBLE) / 1000000.0) * (CAST(sx_u AS DOUBLE) / 1000000.0))
          * (CAST(n_ranks AS DOUBLE) * (CAST(syy_u AS DOUBLE) / 1000000.0)
             - (CAST(sy_u AS DOUBLE) / 1000000.0) * (CAST(sy_u AS DOUBLE) / 1000000.0))) AS r2
FROM sums
"""


# ---------------------------------------------------------------------------
# cms_heavy_hitters — Count-Min sketch frequent-token estimation
# ---------------------------------------------------------------------------

CMS_W = 256  # counters per row
CMS_D = 4  # hash rows
CMS_TOPK = 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) built
    distributively: every token's count lands in CMS_D counters chosen
    by the portable universal-hash family, the sketch is the d×w
    counter table (1024 cells — mergeable across 1000 executors by plain
    cell-wise sum, which IS the groupBy here). Estimates = min over the
    d cells, compared against true counts for the top-k tokens: the
    overcount column demonstrates the one-sided error bound (estimate >=
    truth, within eps*N with probability 1-delta). At 100 TB the sketch
    replaces the full vocabulary shuffle when only heavy hitters are
    needed; the true-count join here is the verification harness."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        split_for_cpu(docs, "doc_id")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("base", hashing.hash_base(F.col("tok")))
    )
    cells = tf.select(
        "tf",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        (hashing.perm_hash(F.col("base"), i) % CMS_W).alias("pos"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("cell.row_i", "cell.pos", "tf")
    sketch = cells.groupBy("row_i", "pos").agg(F.sum("tf").alias("counter"))
    top = tf.orderBy(F.desc("tf"), "tok").limit(CMS_TOPK)
    probes = top.select(
        "tok",
        "tf",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        (hashing.perm_hash(F.col("base"), i) % CMS_W).alias("pos"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("tok", "tf", "cell.row_i", "cell.pos")
    est = (
        probes.join(F.broadcast(sketch), ["row_i", "pos"])
        .groupBy("tok", "tf")
        .agg(F.min("counter").alias("cms_est"))
    )
    return est.select(
        "tok",
        F.col("tf").alias("true_count"),
        "cms_est",
        (F.col("cms_est") - F.col("tf")).alias("overcount"),
    ).orderBy(F.desc("true_count"), "tok")


def _cms_sql() -> str:
    pos = lambda i: f"({hashing.perm_hash_sql('base', i)}) % {CMS_W}"  # noqa: E731
    cell_rows = " UNION ALL ".join(
        f"SELECT tf, {i} AS row_i, {pos(i)} AS pos FROM tf" for i in range(CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT tok, tf, {i} AS row_i, {pos(i)} AS pos FROM top" for i in range(CMS_D)
    )
    return f"""
WITH occ AS (SELECT unnest(str_split(text, ' ')) AS tok FROM documents),
tf0 AS (SELECT tok, COUNT(*) AS tf FROM occ GROUP BY tok),
tf AS (SELECT tok, tf, {hashing.hash_base_sql('tok')} AS base FROM tf0),
cells AS ({cell_rows}),
sketch AS (SELECT row_i, pos, CAST(SUM(tf) AS BIGINT) AS counter FROM cells GROUP BY 1, 2),
top AS (SELECT tok, tf, base FROM tf ORDER BY tf DESC, tok LIMIT {CMS_TOPK}),
probes AS ({probe_rows}),
est AS (
  SELECT p.tok, p.tf, MIN(s.counter) AS cms_est
  FROM probes p JOIN sketch s ON p.row_i = s.row_i AND p.pos = s.pos
  GROUP BY 1, 2
)
SELECT tok, tf AS true_count, cms_est, cms_est - tf AS overcount
FROM est ORDER BY true_count DESC, tok
"""


CMS_HEAVY_HITTERS_SQL = _cms_sql()


# ---------------------------------------------------------------------------
# bloom_blocklist — Bloom-filter membership probe (blocklist without a join)
# ---------------------------------------------------------------------------

BLOOM_M = 8192  # filter bits
BLOOM_K = 3  # hash functions
BLOOM_BAN_MOD = 97  # docs with doc_id % MOD == 0 define the banned vocabulary


def bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter token blocklist: the banned vocabulary (every token
    of the doc_id % 97 == 0 docs) sets BLOOM_K bits each in an M-bit
    filter; every corpus token probes the filter. A token is flagged
    when ALL k bits are set — supersets the truth, never misses (the
    Bloom guarantee), and the per-source report counts the false
    positives explicitly, the measurement that sizes m/k for a real
    blocklist. The set-bits table (<= M rows) is broadcast — membership
    costs three broadcast-hash lookups and NO shuffle of the corpus
    tokens; truth (for the FP audit only) is one hash-key semi-join."""
    docs = load(spark, sf_dir, "documents")
    occ = (
        split_for_cpu(docs, "doc_id")
        .select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
        .withColumn("base", hashing.hash_base(F.col("tok")))
    )
    banned = (
        occ.filter(F.col("doc_id") % BLOOM_BAN_MOD == 0)
        .select("base")
        .distinct()
    )
    bits = (
        banned.select(
            F.explode(
                F.array(
                    *[
                        (hashing.perm_hash(F.col("base"), i) % BLOOM_M)
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    probe = occ
    for i in range(BLOOM_K):
        b = bits.withColumnRenamed("bit", f"b{i}")
        probe = probe.join(
            F.broadcast(b),
            hashing.perm_hash(F.col("base"), i) % BLOOM_M == F.col(f"b{i}"),
            "left",
        )
    flagged = F.lit(True)
    for i in range(BLOOM_K):
        flagged = flagged & F.col(f"b{i}").isNotNull()
    truth = banned.withColumnRenamed("base", "t_base")
    probe = probe.join(
        F.broadcast(truth), F.col("base") == F.col("t_base"), "left"
    ).select(
        "source",
        flagged.cast("int").alias("is_flagged"),
        F.col("t_base").isNotNull().cast("int").alias("is_banned"),
    )
    return (
        probe.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("is_flagged").cast("bigint").alias("n_flagged"),
            F.sum("is_banned").cast("bigint").alias("n_banned"),
            F.sum(
                F.when((F.col("is_flagged") == 1) & (F.col("is_banned") == 0), 1).otherwise(0)
            ).cast("bigint").alias("n_false_pos"),
        )
        .withColumn(
            "fp_rate",
            F.when(
                F.col("n_tokens") > F.col("n_banned"),
                F.col("n_false_pos").cast("double")
                / (F.col("n_tokens") - F.col("n_banned")).cast("double"),
            ).otherwise(F.lit(-1.0)),
        )
        .orderBy("source")
    )


def _bloom_sql() -> str:
    pos = lambda i: f"({hashing.perm_hash_sql('base', i)}) % {BLOOM_M}"  # noqa: E731
    bit_rows = " UNION ALL ".join(
        f"SELECT {pos(i)} AS bit FROM banned" for i in range(BLOOM_K)
    )
    in_bits = " AND ".join(f"{pos(i)} IN (SELECT bit FROM bits)" for i in range(BLOOM_K))
    return f"""
WITH occ AS (
  SELECT doc_id, source, unnest(str_split(text, ' ')) AS tok FROM documents
),
occh AS (SELECT doc_id, source, {hashing.hash_base_sql('tok')} AS base FROM occ),
banned AS (SELECT DISTINCT base FROM occh WHERE doc_id % {BLOOM_BAN_MOD} = 0),
bits AS (SELECT DISTINCT bit FROM ({bit_rows})),
probe AS (
  SELECT source,
         CASE WHEN {in_bits} THEN 1 ELSE 0 END AS is_flagged,
         CASE WHEN base IN (SELECT base FROM banned) THEN 1 ELSE 0 END AS is_banned
  FROM occh
)
SELECT source, COUNT(*) AS n_tokens,
       CAST(SUM(is_flagged) AS BIGINT) AS n_flagged,
       CAST(SUM(is_banned) AS BIGINT) AS n_banned,
       CAST(SUM(CASE WHEN is_flagged = 1 AND is_banned = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CASE WHEN COUNT(*) > SUM(is_banned)
            THEN CAST(SUM(CASE WHEN is_flagged = 1 AND is_banned = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) - SUM(is_banned) AS DOUBLE)
            ELSE -1.0
       END AS fp_rate
FROM probe
GROUP BY source
ORDER BY source
"""


BLOOM_BLOCKLIST_SQL = _bloom_sql()


# ---------------------------------------------------------------------------
# quality_classifier_score — linear (fasttext-style) keep/drop classifier
# ---------------------------------------------------------------------------

# Host-fixed model: weights over the 5 quality features. A real pipeline
# trains these offline (fasttext / logistic regression on wiki-vs-crawl
# labels) and ships them as constants exactly like this — inference is
# always a broadcast of fixed weights.
QC_W_NTOK = 0.004  # per token, saturating via min(n_tokens, 256)
QC_W_STOP = 2.5  # stopword ratio
QC_W_DIGIT = -4.0  # digit ratio
QC_W_AVGLEN = 0.15  # average token length
QC_W_UPPER = -1.5  # uppercase ratio
QC_BIAS = -1.2


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over integer-derived features: the
    keep/drop gate every production corpus runs (fasttext-style, but
    the features are the engine-side ones quality_score already
    extracts). score = w.x + b; the probability squash is the RATIONAL
    fast-sigmoid 0.5 + 0.5*s/(1+|s|) — exp() is engine libm and libm is
    banned, while abs/divide are IEEE-exact, so both engines emit
    bit-identical probabilities. Pure single-scan projection: zero
    shuffles, zero joins — at 100 TB this runs at parquet-scan speed."""
    docs = load(spark, sf_dir, "documents")
    d = docs.withColumn("t", F.split("text", " "))
    n_chars = F.length("text").cast("bigint")
    n_tokens = F.size("t").cast("bigint")
    n_stop = F.expr(f"size(filter(t, x -> x IN ({_STOP_IN})))").cast("bigint")
    n_digit = (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).cast("bigint")
    n_upper = (F.length("text") - F.length(F.regexp_replace("text", "[A-Z]", ""))).cast("bigint")
    score = (
        F.lit(QC_BIAS)
        + F.lit(QC_W_NTOK) * F.least(n_tokens, F.lit(256)).cast("double")
        + F.lit(QC_W_STOP) * (n_stop / n_tokens.cast("double"))
        + F.lit(QC_W_DIGIT) * (n_digit / n_chars.cast("double"))
        + F.lit(QC_W_AVGLEN) * ((n_chars - n_tokens + 1) / n_tokens.cast("double"))
        + F.lit(QC_W_UPPER) * (n_upper / n_chars.cast("double"))
    )
    out = d.select(
        "doc_id",
        "source",
        score.alias("score"),
    )
    return out.select(
        "doc_id",
        "source",
        "score",
        (F.lit(0.5) + F.lit(0.5) * F.col("score") / (F.lit(1.0) + F.abs("score"))).alias("prob"),
        (F.col("score") > 0).cast("int").alias("keep"),
    )


QUALITY_CLASSIFIER_SCORE_SQL = f"""
WITH d AS (SELECT *, string_split(text, ' ') AS t FROM documents),
m AS (
  SELECT doc_id, source,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(t, x -> x IN ({_STOP_IN}))) AS BIGINT) AS n_stop,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
         CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper
  FROM d
),
s AS (
  SELECT doc_id, source,
         {QC_BIAS}
         + {QC_W_NTOK} * CAST(LEAST(n_tokens, 256) AS DOUBLE)
         + {QC_W_STOP} * (n_stop / CAST(n_tokens AS DOUBLE))
         + {QC_W_DIGIT} * (n_digit / CAST(n_chars AS DOUBLE))
         + {QC_W_AVGLEN} * ((n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE))
         + {QC_W_UPPER} * (n_upper / CAST(n_chars AS DOUBLE)) AS score
  FROM m
)
SELECT doc_id, source, score,
       0.5 + 0.5 * score / (1.0 + ABS(score)) AS prob,
       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM s
"""


# ---------------------------------------------------------------------------
# heaps_law_report — vocabulary growth (Heaps' law) checkpoints
# ---------------------------------------------------------------------------

HEAPS_CHECKPOINTS = 10


def heaps_law_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: at 10 corpus checkpoints (doc-id
    deciles), cumulative token count and distinct-vocabulary size, plus
    the local growth exponent beta = dlog2(V)/dlog2(N) between
    consecutive checkpoints (natural text sits near 0.5). NO per-
    checkpoint fan-out: each token buckets to the checkpoint of its
    FIRST occurrence and each doc to its own, then two cumulative
    windows over the 10-row grid do the rest; log2 is the staged
    polynomial, betas are identical IEEE ratios of identical doubles."""
    docs = load(spark, sf_dir, "documents")
    occ = (
        split_for_cpu(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", hashing.md5_int60(F.col("tok")).alias("h"))
    )
    mx = docs.agg(F.max("doc_id").alias("max_id"))
    ck = lambda c: F.expr(  # noqa: E731  # ceil(c * K / max_id), integer
        f"(({c}) * {HEAPS_CHECKPOINTS} + max_id - 1) div max_id"
    )
    first = (
        occ.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(mx))
        .groupBy(ck("first_doc").alias("k"))
        .agg(F.count(F.lit(1)).alias("new_vocab"))
    )
    toks = (
        occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
        .crossJoin(F.broadcast(mx))
        .groupBy(ck("doc_id").alias("k"))
        .agg(F.sum("n_tok").alias("new_tokens"), F.count(F.lit(1)).alias("new_docs"))
    )
    grid = toks.join(first, "k", "left").select(
        "k",
        "new_docs",
        "new_tokens",
        F.coalesce("new_vocab", F.lit(0)).alias("new_vocab"),
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grid.select(
        F.col("k").cast("int").alias("checkpoint"),
        F.sum("new_docs").over(w).cast("bigint").alias("n_docs"),
        F.sum("new_tokens").over(w).cast("bigint").alias("n_tokens"),
        F.sum("new_vocab").over(w).cast("bigint").alias("vocab"),
    )
    cum = _log2_col(cum, "n_tokens", "lg_n")
    cum = _log2_col(cum, "vocab", "lg_v")
    wl = Window.orderBy("checkpoint")
    beta = (F.col("lg_v") - F.lag("lg_v").over(wl)) / (
        F.col("lg_n") - F.lag("lg_n").over(wl)
    )
    return cum.select(
        "checkpoint", "n_docs", "n_tokens", "vocab",
        F.coalesce(F.round(beta, 6), F.lit(-1.0)).alias("local_beta"),
    ).orderBy("checkpoint")


def _heaps_sql() -> str:
    k = HEAPS_CHECKPOINTS
    return f"""
WITH occ AS (
  SELECT doc_id, {hashing.md5_int60_sql('tok')} AS h
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)
),
mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
first AS (
  SELECT (MIN(doc_id) * {k} + (SELECT max_id FROM mx) - 1) // (SELECT max_id FROM mx) AS kk,
         COUNT(*) AS new_vocab
  FROM (SELECT h, MIN(doc_id) AS doc_id FROM occ GROUP BY h) f
  GROUP BY (f.doc_id * {k} + (SELECT max_id FROM mx) - 1) // (SELECT max_id FROM mx)
),
toks AS (
  SELECT (doc_id * {k} + (SELECT max_id FROM mx) - 1) // (SELECT max_id FROM mx) AS kk,
         CAST(SUM(n_tok) AS BIGINT) AS new_tokens, COUNT(*) AS new_docs
  FROM (SELECT doc_id, COUNT(*) AS n_tok FROM occ GROUP BY doc_id) d
  GROUP BY 1
),
grid AS (
  SELECT t.kk AS k, t.new_docs, t.new_tokens, COALESCE(f.new_vocab, 0) AS new_vocab
  FROM toks t LEFT JOIN first f ON t.kk = f.kk
),
cum AS (
  SELECT CAST(k AS INTEGER) AS checkpoint,
         CAST(SUM(new_docs) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_docs,
         CAST(SUM(new_tokens) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_tokens,
         CAST(SUM(new_vocab) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab
  FROM grid
),
lg AS (
  SELECT checkpoint, n_docs, n_tokens, vocab,
         {_log2_lateral_sql('n_tokens', 'lg_n')},
         {_log2_lateral_sql('vocab', 'lg_v')}
  FROM cum
)
SELECT checkpoint, n_docs, n_tokens, vocab,
       COALESCE(ROUND((lg_v - LAG(lg_v) OVER (ORDER BY checkpoint))
                      / (lg_n - LAG(lg_n) OVER (ORDER BY checkpoint)), 6), -1.0) AS local_beta
FROM lg
ORDER BY checkpoint
"""


HEAPS_LAW_REPORT_SQL = _heaps_sql()


# ---------------------------------------------------------------------------
# bpe_train_merges — k full iterations of BPE training (count -> argmax ->
# merge-apply), the loop bpe_merge_step is one step of
# ---------------------------------------------------------------------------

BPE_TRAIN_STEPS = 4


def _merge_apply_expr(col: str, a: str, b: str) -> str:
    """TRUE greedy left-to-right BPE merge of pair (a, b) over a
    space-joined symbol string, as a single string fold: append each
    symbol, but when the accumulated string's TRAILING symbol is `a` and
    the next symbol is `b`, append `b` with no separator (the trailing
    token becomes `ab`). The trailing-token test `acc LIKE '% a'` is
    space-anchored, so suffix collisions ('ba' vs 'a') cannot
    false-match. A replace()-based two-pass variant was rejected: on odd
    runs of a repeated symbol ('aaaaa', pair (a,a)) it merges
    alternating occurrences ([aa, a, aa]) where canonical BPE merges
    left-to-right ([aa, aa, a]) — found by exhaustive comparison against
    a reference Python implementation (tests pin this)."""
    return (
        f"aggregate(split({col}, ' '), CAST('' AS STRING), (acc, x) -> "
        f"CASE WHEN (acc = '{a}' OR acc LIKE '% {a}') AND x = '{b}' "
        f"THEN concat(acc, '{b}') "
        f"WHEN acc = '' THEN x ELSE concat(acc, ' ', x) END)"
    )


def _bpe_train_loop(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns (wf, merges) where wf is the
    word-frequency table AFTER BPE_TRAIN_STEPS merges (columns s, wn —
    s is the boundary-spaced symbol string) and merges the list of
    (step, sym_a, sym_b, n_occ) the loop chose."""
    docs = load(spark, sf_dir, "documents")
    words = (
        split_for_cpu(docs, "doc_id")
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("w")
        )
    )
    wf = query_checkpoint(
        words.select(hashing.md5_int60(F.col("w")).alias("h"), "w")
        .groupBy("h")
        .agg(F.min("w").alias("w"), F.count(F.lit(1)).alias("wn"))
        .select(
            F.expr("trim(regexp_replace(w, '(.)', '$1 '))").alias("s"),
            "wn",
        )
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, BPE_TRAIN_STEPS + 1):
        pairs = wf.select(
            "wn",
            F.explode(
                F.expr(
                    "CASE WHEN size(split(trim(s), ' ')) >= 2 THEN "
                    "transform(sequence(0, size(split(trim(s), ' ')) - 2), "
                    " i -> struct(element_at(split(trim(s), ' '), i + 1) AS a, "
                    "             element_at(split(trim(s), ' '), i + 2) AS b)) "
                    "ELSE array() END"
                )
            ).alias("p"),
        ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "wn")
        # deliberate driver-side 1-ROW collect: greedy BPE is an
        # iterative argmax — each round's winning pair must reach the
        # driver to parameterize the next round's merge expression
        # (exactly the unrolled-CTE structure of BPE_TRAIN_MERGES_SQL's
        # oracle, one m{step} CTE per round). Bounded: BPE_TRAIN_STEPS
        # rounds x one TakeOrderedAndProject row — never a data loop.
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("wn").cast("bigint").alias("n_occ"))
            .orderBy(F.desc("n_occ"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, n = best[0]["a"], best[0]["b"], int(best[0]["n_occ"])
        merges.append((step, a, b, n))
        wf = query_checkpoint(
            wf.select(F.expr(_merge_apply_expr("s", a, b)).alias("s"), "wn")
        )
    return wf, merges


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE_TRAIN_STEPS greedy merges of byte-pair-encoding training, the
    distributed loop (Sennrich et al. 2016): everything factors through
    the word-frequency table, so each iteration's pair count explodes
    |vocab| rows, not |corpus tokens|. A word is carried as a
    space-joined symbol string (`'h e l l o'`); one step =
    adjacent-pair weighted count (one shuffle), a ONE-ROW argmax fetch
    (count desc, then pair — total order, engine-identical), then the
    merge applied map-side via `_merge_apply_expr`. `query_checkpoint`
    cuts the growing lineage each round, exactly like the dedup_clusters
    CC loop. Output = the merge table the k steps produced, i.e. the
    tokenizer's first k vocabulary entries."""
    _, merges = _bpe_train_loop(spark, sf_dir)
    return spark.createDataFrame(
        merges, "step int, sym_a string, sym_b string, n_occ bigint"
    )


def bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization statistics AFTER applying the trained merges —
    the number a tokenizer team actually watches: how much the first k
    merges compress the corpus. One row: distinct words, char-level
    token count, BPE token count (both weighted by word frequency),
    distinct symbol vocabulary, and the exact compression ratio. All
    counts are BIGINT sums over the merged word-frequency table; the
    ratio is one double division of exact integers."""
    wf, _ = _bpe_train_loop(spark, sf_dir)
    syms = wf.select(
        "wn",
        F.expr("size(split(trim(s), ' '))").alias("n_syms"),
        F.expr("length(replace(trim(s), ' ', ''))").alias("n_chars"),
        F.expr("split(trim(s), ' ')").alias("sym_arr"),
    )
    stats = syms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.col("wn") * F.col("n_chars")).cast("bigint").alias("tokens_char"),
        F.sum(F.col("wn") * F.col("n_syms")).cast("bigint").alias("tokens_bpe"),
        (
            F.sum(F.col("wn") * F.col("n_chars")).cast("double")
            / F.sum(F.col("wn") * F.col("n_syms"))
        ).alias("compression"),
    )
    # distinct-symbol count distributes (explode -> hash agg); collect_list
    # of the vocabulary into one row would not
    vocab = syms.select(F.explode("sym_arr").alias("sym")).agg(
        F.countDistinct("sym").cast("bigint").alias("vocab_syms")
    )
    return stats.crossJoin(F.broadcast(vocab)).select(
        "n_words", "tokens_char", "tokens_bpe", "vocab_syms", "compression"
    )


def _bpe_train_sql() -> str:
    """The same k-step loop unrolled into chained CTEs for DuckDB."""
    parts = [
        """
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents
),
s0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS s, COUNT(*) AS wn
  FROM words GROUP BY w
)"""
    ]
    for i in range(1, BPE_TRAIN_STEPS + 1):
        parts.append(
            f""",
p{i} AS (
  SELECT syms[j + 1] AS a, syms[j + 2] AS b, wn
  FROM (SELECT string_split(trim(s), ' ') AS syms, wn,
               unnest(range(0, len(string_split(trim(s), ' ')) - 1)) AS j
        FROM s{i - 1})
),
best{i} AS (
  SELECT a, b, CAST(SUM(wn) AS BIGINT) AS n_occ
  FROM p{i} GROUP BY a, b ORDER BY n_occ DESC, a, b LIMIT 1
),
s{i} AS (
  -- LEFT JOIN ON TRUE: an empty best{i} must pass words through
  -- unchanged (the Spark loop breaks and keeps wf), not wipe the table
  SELECT CASE WHEN m.a IS NULL THEN t.s ELSE
           list_reduce(string_split(t.s, ' '),
             (acc, x) -> CASE WHEN (acc = m.a OR acc LIKE '% ' || m.a)
                               AND x = m.b
                         THEN acc || m.b ELSE acc || ' ' || x END)
         END AS s, t.wn
  FROM s{i - 1} t LEFT JOIN best{i} m ON TRUE
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, a AS sym_a, b AS sym_b, n_occ FROM best{i}"
        for i in range(1, BPE_TRAIN_STEPS + 1)
    )
    parts.append(f"\nSELECT CAST(step AS INTEGER) AS step, sym_a, sym_b, n_occ\nFROM ({selects}) ORDER BY step")
    return "".join(parts)


BPE_TRAIN_MERGES_SQL = _bpe_train_sql()


def _bpe_apply_sql() -> str:
    k = BPE_TRAIN_STEPS
    chain = _bpe_train_sql()
    # keep the CTE chain, swap the final SELECT for the stats query
    chain = chain[: chain.rindex("\nSELECT CAST(step AS INTEGER)")]
    return f"""{chain}
SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wn * length(replace(trim(s), ' ', ''))) AS BIGINT) AS tokens_char,
       CAST(SUM(wn * len(string_split(trim(s), ' '))) AS BIGINT) AS tokens_bpe,
       (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
        FROM (SELECT unnest(string_split(trim(s), ' ')) AS sym FROM s{k})) AS vocab_syms,
       CAST(SUM(wn * length(replace(trim(s), ' ', ''))) AS DOUBLE)
         / SUM(wn * len(string_split(trim(s), ' '))) AS compression
FROM s{k}
"""


BPE_APPLY_ENCODE_SQL = _bpe_apply_sql()
