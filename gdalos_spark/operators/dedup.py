"""Deduplication operators over the `documents` table (SURVEY §2 #28-32).

The scale-critical property of every near-dup operator here: candidate
pairs come from an EQUI-JOIN on a bucket key (shared rare shingle, LSH
band, simhash byte, hyperplane bucket) — never an all-pairs cross join.
At 100 TB the bucket join shuffles on the bucket key and AQE handles the
residual skew; per-bucket pair expansion is bounded by construction
(document-frequency caps / band width).

All hashing is the portable md5 family (functions/hashing.py) so the
DuckDB oracle reproduces results bit-for-bit. Terminal columns are
BIGINT/INT/DOUBLE/VARCHAR only (driver hash gate).

gdalos itself has no dedup surface; this family is the LLM-training-data
extension the brief makes first-class. The job-dedup idea in the reference
(skipping already-produced outputs, gdalos_trans.py overwrite checks) is
the moral ancestor of dedup_exact's hash-and-keep-first plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gdalos_spark.datamodel import (
    fixpoint,
    footer_count,
    load,
    publish_staged_dir,
    query_checkpoint,
    query_persist,
    scratch_dir,
    source_fingerprint,
    split_for_cpu,
)
from gdalos_spark.functions import hashing, vectors
from gdalos_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    P31,
    hash_base,
    hash_base_sql,
    perm_hash,
)

# ---------------------------------------------------------------------------
# shared shingling / tokenization (texts are single-space-joined words)
# ---------------------------------------------------------------------------


def tokens(col: Column) -> Column:
    return F.split(col, " ")


def shingles3(text_col: Column) -> Column:
    """Word 3-gram shingles as an array; docs under 3 tokens shingle to
    the whole text (so short/empty docs STILL get exactly one shingle and
    hence a minhash signature row — exact-dup short docs cluster through
    the signature-identical star like everyone else; pinned by
    test_short_doc_clustering). NULL text coalesces to '' so the Spark
    side agrees with the SQL twin (DuckDB's unnest(NULL) would otherwise
    drop the doc while Spark emits a NULL-signature row). Pure array ops
    — no explode until the caller asks."""
    text_col = F.coalesce(text_col, F.lit(""))
    t = tokens(text_col)
    n = F.size(t)
    sh = F.transform(
        F.sequence(F.lit(0), n - F.lit(3)),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i + 1), F.element_at(t, i + 2), F.element_at(t, i + 3)
        ),
    )
    return F.when(n >= 3, sh).otherwise(F.array(text_col))


# DuckDB mirror of the same derivation (t = string_split(text, ' '))
SHINGLES3_SQL = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) "
    "ELSE [array_to_string(t, ' ')] END"
)

# distinct (doc_id, lang, shingle) rows


def _docsh_sql(src: str = "documents") -> str:
    return f"""
  SELECT doc_id, lang, unnest(list_distinct({SHINGLES3_SQL})) AS shingle
  FROM (SELECT doc_id, lang, string_split(COALESCE(text, ''), ' ') AS t FROM {src})
"""


DOCSH_SQL = _docsh_sql()


def doc_shingles(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    # Re-spread before the explode: the shingle+md5 pipeline is
    # CPU-bound, and a small doc table may arrive as one input split —
    # without this every downstream hash runs on a single core. At real
    # scale the scan is already many splits and split_for_cpu skips the
    # exchange entirely (repartition is never free).
    if docs is None:
        docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(shingles3(F.col("text")))).alias("shingle")
    )


# ---------------------------------------------------------------------------
# 28. dedup_exact — md5 content hash, keep lowest doc_id
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by full-content md5, keep the smallest doc_id as
    canonical. One scan + one hash-agg shuffle on the digest — the only
    plan that works at 100 TB (no sort, no pairwise compare)."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_id"),
        F.max("doc_id").alias("max_id"),
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_id, MAX(doc_id) AS max_id
FROM documents GROUP BY 1
"""

# ---------------------------------------------------------------------------
# 29. dedup_ngram_jaccard — rare-shingle blocking + exact Jaccard on the
#     discriminative shingle sets
# ---------------------------------------------------------------------------

MAX_DF = 10  # shingles seen in more than MAX_DF docs are stop-shingles
MIN_JACCARD = 0.1


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard over discriminative shingles: drop shingles with
    document frequency > MAX_DF (stop-shingle removal — also the scale
    guard: each surviving shingle contributes at most C(MAX_DF,2) pairs),
    pair same-language docs sharing a shingle, and compute exact Jaccard
    over the rare-shingle sets. Candidate generation is an equi-join on
    the shingle — never O(n^2)."""
    # docsh persisted: the shingle explode is the dominant CPU at scale
    # and feeds both df_counts and the join probe (the containment-key
    # measurement: unpersisted 225.8 s -> 40.0 s at sf10).
    docsh = query_persist(doc_shingles(spark, sf_dir))
    rare = query_persist(docsh.join(
        docsh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= MAX_DF)),
        "shingle",
    ).select("doc_id", "lang", "shingle"))
    # rare-set size per doc (docs with no rare shingle can never pair)
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = rare.alias("a"), rare.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= MIN_JACCARD)
        .select("doc_a", "doc_b", F.col("shared").cast("bigint").alias("shared"), "jaccard")
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH docsh AS ({DOCSH_SQL}),
dfc AS (SELECT shingle, COUNT(*) AS df FROM docsh GROUP BY 1),
rare AS (
  SELECT d.doc_id, d.lang, d.shingle
  FROM docsh d JOIN dfc ON d.shingle = dfc.shingle
  WHERE dfc.df BETWEEN 2 AND {MAX_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM rare a JOIN rare b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
       shared / CAST(sa.sz + sb.sz - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared / CAST(sa.sz + sb.sz - shared AS DOUBLE) >= {MIN_JACCARD}
"""

# ---------------------------------------------------------------------------
# 30. dedup_minhash_lsh — 16 minhash perms, 4 bands x 4 rows, band-bucket
#     equi-join for candidates, signature-agreement estimate
# ---------------------------------------------------------------------------

N_PERM = 16
N_BANDS = 4
BAND_R = 4


def _signatures(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    n_hint: int | None = None,
    collapse: bool | None = None,
) -> DataFrame:
    """Per-doc minhash signature (doc_id, m0..m15). The shingle+md5 build
    is the measured CPU floor of the whole minhash family (198 s of the
    639 s dedup_clusters run at sf100), and it is a pure function of the
    text — so it runs behind the adaptive distinct-text collapse: replica
    corpora shingle each distinct text once. ``n_hint`` sizes the
    adaptive gate when the caller passes an explicit ``docs`` subset
    (parquet footers for full-corpus callers; omitted = direct plan, the
    safe choice for unknown-size batches)."""
    if docs is None:
        if n_hint is None:
            n_hint = footer_count(sf_dir, "documents")
        docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")

    def build(d: DataFrame) -> DataFrame:
        # materialize the md5 base once per (doc, shingle) row; the 16 perm
        # mins then reference the cheap column, not 16 md5 evaluations
        docsh = doc_shingles(spark, sf_dir, d).select(
            "doc_id", hash_base(F.col("shingle")).alias("hb")
        )
        return docsh.groupBy("doc_id").agg(
            *[F.min(perm_hash(F.col("hb"), i)).alias(f"m{i}") for i in range(N_PERM)]
        )

    return collapse_by_text(docs, build, n_hint or 0, collapse)


def _sig_sql() -> str:
    mins = ", ".join(
        f"MIN(({MINHASH_A[i]} * hb + {MINHASH_B[i]}) % {P31}) AS m{i}"
        for i in range(N_PERM)
    )
    return (
        f"SELECT doc_id, {mins} FROM "
        f"(SELECT doc_id, {hash_base_sql('shingle')} AS hb FROM docsh) GROUP BY doc_id"
    )


COLLAPSE_MIN_DOCS = 200_000  # below this the pair distinct is cheap regardless

# distinct-text collapse: engage only when >=5% of docs are exact replicas
TEXT_COLLAPSE_DISTINCT_FRAC = 0.95
# md5(NULL) is NULL in both engines; group NULL-text docs under a sentinel
# that can never collide with an md5 hex digest so the join-back stays an
# ordinary equi-join (no null-safe comparison in the shuffle key)
_TH_NULL = "\x00null"

def collapse_by_text(
    docs: DataFrame,
    build,
    n_src: int,
    collapse: bool | None = None,
) -> DataFrame:
    """Adaptive distinct-text collapse around a per-doc derivation that is
    a pure function of ``text``: exact-replica documents (ubiquitous in
    crawl corpora — and the dominant structure of the upscaled test
    corpora) pay the shingle+md5 CPU once per DISTINCT text instead of
    once per copy. ``build`` receives a subset of ``docs`` rows and must
    return one row per input doc keyed by ``doc_id`` with every other
    column depending on the text alone — identical text therefore implies
    an identical row, so re-attaching the representative's row to every
    group member is result-IDENTICAL to the direct computation (pinned by
    tests/test_text_collapse.py against the direct plan on a replica
    corpus).

    Physical shape: one cheap md5-per-doc pass groups docs by content
    hash (only (doc_id, th) rows shuffle — text never leaves the scan);
    the representative rows are selected by a semi-join on doc_id whose
    build side is just the distinct rep ids (AQE broadcasts it while it
    fits — ~8 B/distinct text); the heavy per-doc build then runs over
    distinct texts only, and two narrow joins fan the rows back out.

    Adaptive exactly like the signature-group collapse downstream:
    ``n_src`` below COLLAPSE_MIN_DOCS short-circuits to the direct plan
    with no job at all (the sf0.1 bench path), and above it one aggregate
    over the content-hash groups bails out when >=95% of texts are
    distinct (nothing to collapse — the extra joins would be pure
    overhead). ``collapse=True/False`` forces the choice (tests)."""
    if collapse is False or (collapse is None and n_src < COLLAPSE_MIN_DOCS):
        return build(docs)
    th_col = (
        F.when(F.col("text").isNull(), F.lit(_TH_NULL))
        .otherwise(F.md5("text"))
        .alias("th")
    )
    th = query_persist(docs.select("doc_id", th_col))
    tgroups = query_persist(
        th.groupBy("th")
        .agg(F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("k"))
    )
    if collapse is None:
        n_texts, n_docs = tgroups.agg(F.count(F.lit(1)), F.sum("k")).first()
        # zero groups -> SUM(k) is NULL: an over-estimated n_hint on a
        # filtered-empty subset must fall through to the direct plan, not
        # TypeError on float * None
        if not n_docs or n_texts >= TEXT_COLLAPSE_DISTINCT_FRAC * n_docs:
            th.unpersist()
            tgroups.unpersist()
            return build(docs)
    reps = docs.join(
        tgroups.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    rep_out = build(reps)
    payload = [c for c in rep_out.columns if c != "doc_id"]
    return (
        th.join(tgroups.select("th", "rep_id"), "th")
        .join(rep_out.withColumnRenamed("doc_id", "rep_id"), "rep_id")
        .select("doc_id", *payload)
    )


def _expand_group_pairs(
    gpairs: DataFrame, members: DataFrame, out_a: str, out_b: str, *payload: str
) -> DataFrame:
    """Expand deduplicated GROUP pairs (ga, gb, payload...) through a
    (gid, doc_id) member map into oriented doc pairs: cross-group pairs
    emit every member combination (least/greatest matches the direct
    band join's doc_id orientation); in-group pairs emit da < db only
    (no self pairs, no double emission). Shared by the minhash and
    simhash collapses so the expansion algebra lives once."""
    ma = members.select(F.col("gid").alias("ga"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("gid").alias("gb"), F.col("doc_id").alias("db"))
    return (
        gpairs.join(ma, "ga")
        .join(mb, "gb")
        .filter((F.col("ga") != F.col("gb")) | (F.col("da") < F.col("db")))
        .select(
            F.least("da", "db").alias(out_a),
            F.greatest("da", "db").alias(out_b),
            *payload,
        )
    )


def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """MinHash-LSH near-dup: per-doc 16-permutation minhash signature (one
    shuffle), band keys of 4 rows each, candidate pairs via equi-join on
    (band_id, band_key), estimated Jaccard = fraction of agreeing
    signature components. The band join IS the LSH trick — sub-quadratic
    by construction, shuffles only on band keys.

    Scale shape: the full signature ARRAY rides through the band join so
    est_jaccard is computed inline on the joined row — the alternative
    (distinct the candidate pairs, then equi-join the signature table
    twice) shuffles the pair set three times, and at the sf10 upscale's
    27M candidate pairs those joins dominated the whole operator
    (measured 90s -> 23s from this change). The band rows widen by 16
    ints, but band cardinality is |docs| x N_BANDS — orders of magnitude
    smaller than the pair volume on any near-dup-heavy corpus. A second
    payoff: downstream consumers that filter on est_jaccard (the
    dedup_clusters edge threshold) now push that filter BELOW the
    distinct, so sub-threshold pairs never shuffle at all.

    Signature-group collapse (round-8 rework; the dedup_embedding_cosine
    shape): the output pair LIST is inherently quadratic on a
    replica-heavy corpus (27.1M pairs at the sf10 upscale), but the
    DISTINCT does not have to see that volume. Both the band co-bucket
    condition and est_jaccard are pure functions of the two signatures,
    so the band join + distinct run over one row per DISTINCT signature
    (166k of 500k at sf10), signature-identical groups contribute one
    self pair at est = 16/16 = 1.0 (identical signatures co-bucket in
    every band by definition), and the deduplicated GROUP pairs then
    expand through the member map — orientation by least/greatest
    reproduces the a.doc_id < b.doc_id band-join orientation, and every
    emitted (doc_a, doc_b, est_jaccard) row is byte-identical to the
    uncollapsed join (the straightforward SQL twin gates it). The 27M-row
    distinct becomes a ~hundreds-of-k-row distinct; only the final
    expansion touches output-sized data, exactly once. Measured sf10:
    min-of-7 74.4s -> 46.3s back-to-back on the same host (BASELINE.md).

    The collapse is ADAPTIVE: its extra shuffles (group agg, member
    join, expansion joins) are pure overhead on a replica-free corpus,
    so one cheap aggregate over the persisted signature table picks the
    plan — >=95% distinct signatures means there is nothing to collapse
    and the direct band-join + pair-distinct runs instead (the sf0.1
    bench path). Both plans are result-identical, so the choice is a
    physical-plan decision exactly like AQE's. Below COLLAPSE_MIN_DOCS
    the pair distinct is cheap whatever the replica structure, so a
    metadata-only row count (parquet footers — no data scan) short-
    circuits straight to the direct plan without even building the
    signature stats; the stats job only runs at a scale where its cost
    is noise against the signature build it shares."""
    n_src = docs.count() if docs is not None else footer_count(sf_dir, "documents")
    if n_src < COLLAPSE_MIN_DOCS:
        return _minhash_pairs(spark, sf_dir, docs).distinct()
    sig = query_persist(_signatures(spark, sf_dir, docs, n_hint=n_src))
    mcols = [f"m{i}" for i in range(N_PERM)]
    groups = query_persist(sig.groupBy(*mcols).agg(
        F.min("doc_id").alias("gid"), F.count(F.lit(1)).alias("k")
    ))
    n_groups, n_docs = groups.agg(
        F.count(F.lit(1)), F.sum("k")
    ).first()  # one job: materializes the persisted sig + groups as it runs
    if n_groups >= 0.95 * n_docs:
        return _pairs_from_sig(sig).distinct()
    members = sig.join(groups.select("gid", *mcols), mcols).select("doc_id", "gid")
    reps = groups.select(F.col("gid").alias("doc_id"), *mcols)
    cross = (
        _pairs_from_sig(reps)
        .distinct()
        .select(
            F.col("doc_a").alias("ga"), F.col("doc_b").alias("gb"), "est_jaccard"
        )
    )
    selfp = groups.filter("k > 1").select(
        F.col("gid").alias("ga"),
        F.col("gid").alias("gb"),
        F.lit(1.0).alias("est_jaccard"),
    )
    return _expand_group_pairs(
        cross.union(selfp), members, "doc_a", "doc_b", "est_jaccard"
    )


def _minhash_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Raw (doc_a, doc_b, est_jaccard) candidate stream, NOT deduplicated
    across bands: a pair sharing several band keys appears once per band
    (with the identical est value — it depends only on the signatures).
    dedup_minhash_lsh applies the distinct for its pair-list contract;
    consumers that run their own dedup anyway (dedup_clusters' connected
    components, whose edge ingest is already a distinct) read the raw
    stream so the 27M-pair volume of a replica-heavy corpus crosses the
    network ONCE instead of three times."""
    return _pairs_from_sig(query_persist(_signatures(spark, sf_dir, docs)))


def _band_explode(df: DataFrame, *carry: str) -> DataFrame:
    """Explode a table carrying m0..m15 into one row per LSH band:
    (carry..., band_id, bkey). The ONE place the banding construction
    (band count, row width, key separator) lives — _pairs_from_sig,
    dedup_incremental_minhash, and the stored variant all call it, so
    the band keys of every LSH consumer stay in lockstep by
    construction."""
    band_structs = [
        F.struct(
            F.lit(j).alias("band_id"),
            F.concat_ws(
                "-", *[F.col(f"m{j * BAND_R + r}") for r in range(BAND_R)]
            ).alias("bkey"),
        )
        for j in range(N_BANDS)
    ]
    return df.select(*carry, F.explode(F.array(*band_structs)).alias("b")).select(
        *carry, F.col("b.band_id").alias("band_id"), F.col("b.bkey").alias("bkey")
    )


def _pairs_from_sig(sig: DataFrame) -> DataFrame:
    """Band join + inline est_jaccard over a (doc_id, m0..m15) signature
    table — the pair-generation half of the LSH pipeline, reusable over a
    reduced signature table (dedup_clusters collapses signature-identical
    docs first)."""
    bands = _band_explode(
        sig.select(
            "doc_id",
            F.array(*[F.col(f"m{i}") for i in range(N_PERM)]).alias("ms"),
            *[f"m{i}" for i in range(N_PERM)],
        ),
        "doc_id",
        "ms",
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("ms").alias("ms_a"), "band_id", "bkey"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("ms").alias("ms_b"), "band_id", "bkey"
    )
    agree = F.expr("size(filter(zip_with(ms_a, ms_b, (x, y) -> x = y), t -> t))")
    return (
        a.join(b, ["band_id", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", (agree / F.lit(float(N_PERM))).alias("est_jaccard")
        )
    )


def _minhash_sql(src: str = "documents") -> str:
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {j} AS band_id, concat_ws('-', {cols}) AS bkey FROM sig".format(
            j=j, cols=", ".join(f"m{j * BAND_R + r}" for r in range(BAND_R))
        )
        for j in range(N_BANDS)
    )
    agree = " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM))
    return f"""
WITH docsh AS ({_docsh_sql(src)}),
sig AS ({_sig_sql()}),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({agree}) / {float(N_PERM)} AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""


DEDUP_MINHASH_LSH_SQL = _minhash_sql()

# ---------------------------------------------------------------------------
# 31. dedup_simhash — 32-bit simhash over token hashes, byte-band
#     candidate grouping, hamming distance filter
# ---------------------------------------------------------------------------

SIM_BITS = 32
SIM_BYTES = 4
HAMMING_MAX = 6


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: per-doc 32-bit fingerprint (bit j set iff the
    sum of ±1 votes from shingle-hash bit j is positive), candidates =
    pairs sharing at least one of the 4 fingerprint bytes (equi-join on
    (byte_id, byte)), ranked by hamming distance. One agg shuffle to
    build fingerprints; the byte join is the hamming-band trick.
    Features are word 3-grams, not tokens — token sets are near-identical
    across same-vocabulary documents and would collapse the fingerprint."""
    n_src = footer_count(sf_dir, "documents")

    def build_fp(d: DataFrame) -> DataFrame:
        # materialize the 60-bit md5 hash once per (doc, shingle) row; the
        # 32 bit-vote sums then read the column instead of re-hashing
        doctok = doc_shingles(spark, sf_dir, d).select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
        hc = F.col("h")
        votes = doctok.groupBy("doc_id").agg(
            *[
                F.sum(
                    F.when(F.shiftright(hc, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                ).alias(f"s{j}")
                for j in range(SIM_BITS)
            ]
        )
        simhash = sum(
            F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(SIM_BITS)
        ).cast("bigint")
        return votes.select("doc_id", simhash.alias("simhash"))

    # both sides of the self-join reuse the per-doc fingerprint table;
    # the shingle+vote build runs once per DISTINCT text (adaptive)
    fp = query_persist(collapse_by_text(
        split_for_cpu(load(spark, sf_dir, "documents"), "doc_id"), build_fp, n_src
    ))

    def byte_pairs(t: DataFrame) -> DataFrame:
        """Byte-band self-join + inline hamming over any (doc_id,
        simhash) table — runs over raw docs on the direct path, over
        distinct-fingerprint reps on the collapsed path."""
        byte_structs = [
            F.struct(
                F.lit(bi).alias("byte_id"),
                F.shiftright(F.col("simhash"), 8 * bi)
                .bitwiseAND(F.lit(255))
                .alias("byte"),
            )
            for bi in range(SIM_BYTES)
        ]
        bands = t.select(
            "doc_id", "simhash", F.explode(F.array(*byte_structs)).alias("b")
        ).select(
            "doc_id", "simhash",
            F.col("b.byte_id").alias("byte_id"), F.col("b.byte").alias("byte"),
        )
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.byte_id") == F.col("b.byte_id"))
                & (F.col("a.byte") == F.col("b.byte"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .cast("int")
                .alias("hamming"),
            )
        )

    # adaptive fingerprint collapse (the dedup_minhash_lsh shape):
    # simhash is ROBUST to small edits, so on a replica-heavy corpus
    # whole near-dup cliques share one fingerprint and the byte-bucket
    # join is quadratic in clique size for nothing — hamming is a pure
    # function of the two fingerprints, so pair, filter, and DISTINCT
    # over distinct fingerprints only, then expand through the member
    # map. Identical fingerprints always share all four bytes and have
    # hamming 0, so in-group pairs are a constant-payload self pair.
    if n_src >= COLLAPSE_MIN_DOCS:
        groups = query_persist(fp.groupBy("simhash").agg(
            F.min("doc_id").alias("gid"), F.count(F.lit(1)).alias("k")
        ))
        n_groups, n_docs = groups.agg(F.count(F.lit(1)), F.sum("k")).first()
        if n_groups < 0.95 * n_docs:
            reps = groups.select(F.col("gid").alias("doc_id"), "simhash")
            cross = (
                byte_pairs(reps)
                .filter(F.col("hamming") <= HAMMING_MAX)  # below the distinct
                .distinct()
                .select(
                    F.col("doc_a").alias("ga"), F.col("doc_b").alias("gb"), "hamming"
                )
            )
            selfp = groups.filter("k > 1").select(
                F.col("gid").alias("ga"),
                F.col("gid").alias("gb"),
                F.lit(0).cast("int").alias("hamming"),
            )
            members = fp.join(groups.select("gid", "simhash"), "simhash").select(
                "doc_id", "gid"
            )
            return _expand_group_pairs(
                cross.union(selfp), members, "doc_a", "doc_b", "hamming"
            )
    # hamming is computed inline in the band join, so filtering BEFORE the
    # pair-distinct drops supra-threshold candidates (most co-bucketed pairs
    # at HAMMING_MAX) without paying the distinct shuffle for them
    return byte_pairs(fp).filter(F.col("hamming") <= HAMMING_MAX).distinct()


def _simhash_sql() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIM_BITS)
    )
    sim = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIM_BITS))
    bytes_sql = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {bi} AS byte_id, (simhash >> {8 * bi}) & 255 AS byte FROM fp"
        for bi in range(SIM_BYTES)
    )
    return f"""
WITH docsh AS ({DOCSH_SQL}),
doctok AS (SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h FROM docsh),
votes AS (SELECT doc_id, {votes} FROM doctok GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM votes),
bands AS ({bytes_sql})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.byte_id = b.byte_id AND a.byte = b.byte AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


DEDUP_SIMHASH_SQL = _simhash_sql()

# ---------------------------------------------------------------------------
# 32. dedup_embedding_cosine — sign-LSH bucketed exact-cosine near-dup
# ---------------------------------------------------------------------------

COS_TAU = 0.2


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: bucket every vector by the sign pattern of 8
    deterministic hyperplane projections (sign-LSH), then exact cosine
    only WITHIN buckets — candidate generation is an equi-join on the
    bucket id, never an all-pairs cross join. Dot products are ordered
    array folds, bit-identical across engines.

    Scale design — IDENTICAL-vector collapse before pairing (the
    dedup_clusters signature-collapse lesson applied to exact arrays):
    the sf10 upscale carries 100 byte-identical copies of each vector,
    so sign-LSH buckets hold thousands of members and the raw bucket
    self-join explodes to billions of pre-filter pairs (measured: ran
    for >15 min before being killed). Cosine and bucket are pure
    functions of the array, so the pair expression is evaluated ONCE per
    distinct-vector pair (including each group against itself) and the
    qualifying group pairs then EXPAND through the member lists — work
    becomes O(distinct²-per-bucket) + output size, and every emitted
    (vec_a, vec_b, bucket, cosine) row carries the byte-identical value
    the unreduced join would have computed."""
    emb = load(spark, sf_dir, "embeddings")
    # the double-cast array and the norm root are per-VECTOR quantities:
    # computing them once (instead of inside the pair expression) removes
    # two 64-element array allocations and two sqrts from every candidate
    # pair — value-identical (float->double is exact, sqrt is correctly
    # rounded either way)
    base = split_for_cpu(emb, "vec_id").select(
        "vec_id",
        vectors.emb_double(F.col("embedding")).alias("emb"),
        F.sqrt(vectors.norm2(F.col("embedding"))).alias("sn"),
        vectors.lsh_bucket(F.col("embedding")).alias("bucket"),
    )
    # group identical vectors: gid = min vec_id per distinct array (one
    # shuffle on the array; sn/bucket are functions of it and ride along)
    members = query_persist(base.withColumn(
        "gid", F.min("vec_id").over(Window.partitionBy("emb"))
    ))
    reps = members.filter(F.col("vec_id") == F.col("gid"))
    a = reps.select(
        F.col("gid").alias("ga"), F.col("emb").alias("emb_a"),
        F.col("sn").alias("sn_a"), "bucket",
    )
    b = reps.select(
        F.col("gid").alias("gb"), F.col("emb").alias("emb_b"),
        F.col("sn").alias("sn_b"), "bucket",
    )
    cos = F.round(
        vectors.dot(F.col("emb_a"), F.col("emb_b"))
        / (F.col("sn_a") * F.col("sn_b")),
        6,
    )
    # ga <= gb keeps the self pair: a group's in-group member pairs carry
    # the group-vs-itself cosine (the exact expression value, ~1.0)
    gpairs = (
        a.join(b, "bucket")
        .filter(F.col("ga") <= F.col("gb"))
        .select("ga", "gb", "bucket", cos.alias("cosine"))
        .filter(F.col("cosine") >= COS_TAU)
    )
    ma = members.select(F.col("gid").alias("ga"), F.col("vec_id").alias("va"))
    mb = members.select(F.col("gid").alias("gb"), F.col("vec_id").alias("vb"))
    # cross-group: every (member-of-A, member-of-B) combination is one
    # unordered pair, oriented by least/greatest; in-group: va < vb
    # avoids self-pairs and double emission
    return (
        gpairs.join(ma, "ga")
        .join(mb, "gb")
        .filter((F.col("ga") != F.col("gb")) | (F.col("va") < F.col("vb")))
        .select(
            F.least("va", "vb").alias("vec_a"),
            F.greatest("va", "vb").alias("vec_b"),
            "bucket",
            "cosine",
        )
    )


def _emb_cos_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    pair_dot = vectors.dot_sql("a.emb", "b.emb")
    return f"""
WITH base AS (
  SELECT vec_id, embedding AS emb, {n2} AS n2, {vectors.lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
       ROUND({pair_dot} / (sqrt(a.n2) * sqrt(b.n2)), 6) AS cosine
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND({pair_dot} / (sqrt(a.n2) * sqrt(b.n2)), 6) >= {COS_TAU}
"""


DEDUP_EMBEDDING_COSINE_SQL = _emb_cos_sql()

# ---------------------------------------------------------------------------
# 54. dedup_clusters — connected components over the duplicate-pair graph
# ---------------------------------------------------------------------------

CLUSTER_MIN_EST_JACCARD = 0.5
_CC_MAX_ROUNDS = 25


def _cc_alternating(pairs: DataFrame, max_rounds: int = _CC_MAX_ROUNDS):
    """Connected components via the alternating large-star/small-star
    algorithm (the MapReduce CC formulation that converges in O(log n)
    rounds regardless of component diameter — the property simple
    min-label propagation lacks on chain-shaped components).

    ``pairs`` is an undirected edge list (doc_a, doc_b) with
    doc_a < doc_b. Each round runs one large-star then one small-star
    step — both plain equi-join + groupBy-min plans — as one
    datamodel.fixpoint round: a lazy checkpoint keeps lineage flat and
    the convergence check (edge-set fixed point) is the round's one
    job. Checking only every second round was measured SLOWER (13.1s
    vs 10.8s on the sf1 upscale): detection lags up to two star
    rounds, and a star round costs far more than the convergence check
    it would save. At the fixed point the
    directed edges form stars: every non-root vertex points at its
    component's minimum vertex.

    Returns (root_map, rounds, converged): root_map is (node, root) for
    every non-root vertex in the graph.

    Round-12 optimization (guide §2.4 "remove shuffles outright"): each
    star step is a per-u minimum attached back to every (u, v) row —
    previously a groupBy + equi-join pair (agg exchange + join exchange +
    SMJ sorts), now ONE window over ``partitionBy(u)`` (one exchange +
    one sort — the sort SMJ paid anyway). Per round the plan drops from
    ~5 exchanges to 3 (large-window, small-window, small-distinct).
    Skew note: the window puts all rows of one u in
    one task, exactly like the join's hashpartitioning(u) did — no new
    hot-key exposure. Measured: sf0.1 CC 2.09s -> 1.10s (min of 4);
    13M-edge hostile graph (2k chains x 1k + 200 cliques x 300 + 20
    hubs x 100k, 11 rounds) inside the same 50-85s host band as the
    join formulation over two interleaved passes, labels identical.
    """
    wu = Window.partitionBy("u")
    wo = Window.partitionBy("u").orderBy("v")
    # directed large->small: (u, v) with u > v
    edges = query_checkpoint(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")).distinct(),
        eager=False,
    )

    def star_round(edges: DataFrame) -> DataFrame:
        # large-star: for each u, attach every strictly-larger neighbor to
        # m = min(neighborhood(u) + {u}); every undirected edge is emitted
        # by exactly one endpoint's neighborhood
        und = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # Round-13 (guide §2.4 "two operations keyed the same way can
        # share one exchange"): the large output's dedup used to be a
        # plain distinct — an exchange on (u, v) that the small-star
        # windows' partitionBy(u) could NOT reuse, so every round paid
        # exchange(u,v) + exchange(u). Hash-spreading by u FIRST
        # satisfies the (u, v) aggregation (u ⊆ {u, v}) AND both small
        # windows, collapsing the two exchanges into one — measured one
        # AQE stage-job fewer per round (79 -> 71 jobs over 8 rounds on
        # a 128k-edge chains+cliques+hubs graph, labels identical).
        # Trade, argued at scale: the explicit repartition forgoes the
        # distinct's map-side partial dedup, but the duplicate volume it
        # ships is bounded by und's own k^2 clique term that exchange 1
        # already carries every round, while a full exchange+agg per
        # round disappears.
        large = (
            und.withColumn("m", F.least(F.col("u"), F.min("v").over(wu)))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .repartition("u")
            .dropDuplicates()
        )
        # small-star: for each u, attach u and all its (smaller)
        # out-neighbors to m = min(out-neighbors); the (u, m) row is
        # emitted exactly once per u (row_number over the same window —
        # (u, v) rows are distinct so the ordering is deterministic)
        sm = large.select(
            "u",
            "v",
            F.min("v").over(wu).alias("m"),
            F.row_number().over(wo).alias("rn"),
        )
        return (
            sm.select(
                F.explode(
                    F.when(
                        F.col("rn") == 1,
                        F.array(
                            F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                            F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        ),
                    ).otherwise(
                        F.array(F.struct(F.col("v").alias("a"), F.col("m").alias("b")))
                    )
                ).alias("e")
            )
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def same_edges(prev: DataFrame, cur: DataFrame) -> bool:
        # edge-set fixed point in one aggregate over both (distinct)
        # sets: +1 per cur edge, -1 per prev edge, so an edge in only
        # one of them leaves a nonzero (u, v) group
        signed = cur.select("u", "v", F.lit(1).alias("s")).unionByName(
            prev.select("u", "v", F.lit(-1).alias("s"))
        )
        return (
            signed.groupBy("u", "v").agg(F.sum("s").alias("s"))
            .filter(F.col("s") != 0).count() == 0
        )

    edges, rounds, converged = fixpoint(edges, star_round, same_edges, max_rounds)
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("root")),
        rounds,
        converged,
    )


# below this many docs the pair set is small enough that the two-phase
# machinery (extra CC + broadcast relabel + persist) costs more fixed
# latency than it saves: +1.4s on the sf0.1 headline, and at 500k docs
# (27M pairs) the two arms measured within host noise of each other
# (54-86s band, both orderings observed in one session) — the clique
# quadratic only dominates well past that. 5M docs (708.7M pairs) is
# firmly two-phase territory: 960 -> 358s (BASELINE.md).
TWO_PHASE_MIN_DOCS = 1_000_000


def _cc_label_map(pairs: DataFrame, two_phase: bool):
    """Complete (node, root) label map over the pair graph, by either CC
    formulation — identical labels (unit-pinned), different physics:
    the single-phase alternating-star path for small pair sets, the
    contract-then-relabel path when the qualifying pair volume is
    quadratic in clique size."""
    if two_phase:
        return _cc_two_phase(pairs)
    root_map, _, converged = _cc_alternating(pairs)
    label_map = root_map.select(
        F.col("node"), F.col("root")
    ).union(
        root_map.select(F.col("root").alias("node"), F.col("root")).distinct()
    )
    return label_map, converged


def _cc_two_phase(pairs: DataFrame):
    """Exact connected components for edge streams whose DISTINCT pair
    volume is quadratic in clique size (the sf100 replica corpus:
    708.7M qualifying group pairs) — the contract-then-relabel
    formulation, built so the full pair stream is NEVER shuffled:

    * Phase 1 contracts every node to its MINIMUM neighbor — one
      groupBy whose MIN combines map-side, so the shuffle carries the
      node set, not the pair set — and runs the alternating-star CC on
      that forest (<= one edge per node).
    * Phase 2 relabels the original stream through the phase-1 labels
      with a BROADCAST join (node-set-sized build side — the quotient
      group count, orders of magnitude under the pair count; at an
      extreme node count drop the hint and pre-partition instead),
      keeps only the cross-component residue, and runs CC on its tiny
      distinct quotient.

    Phase-1 components refine the true ones (every min-neighbor edge is
    a real edge), so unquotienting phase 2 over them is exact; every
    label is the component minimum (a min of phase-1 minima). Returns
    (label_map, converged): label_map is a COMPLETE (node, root) map —
    roots map to themselves."""
    q = query_persist(pairs.select("doc_a", "doc_b"))
    und = q.union(
        q.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    e1 = (
        und.groupBy(F.col("doc_a").alias("u"))
        .agg(F.min("doc_b").alias("m"))
        .select(
            F.least("u", "m").alias("doc_a"),
            F.greatest("u", "m").alias("doc_b"),
        )
    )
    rm1, _, conv1 = _cc_alternating(e1)
    l1 = query_checkpoint(
        rm1.select(F.col("node").alias("n"), F.col("root").alias("r")).union(
            rm1.select(F.col("root").alias("n"), F.col("root").alias("r"))
            .distinct()
        )
    )
    resid = (
        q.join(
            F.broadcast(l1.select(F.col("n").alias("doc_a"), F.col("r").alias("ra"))),
            "doc_a",
        )
        .join(
            F.broadcast(l1.select(F.col("n").alias("doc_b"), F.col("r").alias("rb"))),
            "doc_b",
        )
        .filter(F.col("ra") != F.col("rb"))
        .select(
            F.least("ra", "rb").alias("doc_a"),
            F.greatest("ra", "rb").alias("doc_b"),
        )
    )
    rm2, _, conv2 = _cc_alternating(resid)
    q.unpersist()  # both CC ingests are checkpointed past the stream
    l2 = rm2.select(F.col("node").alias("r"), F.col("root").alias("r2"))
    label_map = (
        l1.join(l2, "r", "left")
        .select(
            F.col("n").alias("node"),
            F.coalesce("r2", "r").alias("root"),
        )
    )
    return label_map, conv1 and conv2


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: pair lists aren't actionable on their
    own — production dedup keeps ONE doc per connected component of the
    duplicate graph. Edges = exact-content pairs (same md5) UNION
    minhash-LSH pairs with est_jaccard >= 0.5; each doc in the graph gets
    cluster_id = min doc_id reachable from it, computed by the alternating
    large-star/small-star algorithm (_cc_alternating) — O(log n) rounds
    guaranteed even on pathological duplicate chains, vs the
    graph-diameter rounds simple label propagation needs.

    Output: (doc_id, cluster_id, cluster_size) for docs in >=1 pair.

    Scale design — collapse signature-identical docs BEFORE pairing (the
    fix for the measured sf10 pair-generation cost, where 500k docs in
    100-replica near-dup cliques generated 27M candidate pairs):
    est_jaccard and every band key are pure functions of the
    16-component minhash signature, so two signature-identical docs are
    always co-bucketed with est = 16/16 >= tau — an edge by definition,
    emitted as a STAR of k-1 edges to the group's min member
    (connectivity-identical to the k(k-1)/2 all-pairs join) — and a
    cross-group pair qualifies iff the group representatives' pair
    qualifies. The band join then runs over DISTINCT signatures only
    (166k of 500k at the sf10 upscale — a ~9x pair-volume cut). Exact
    (md5) duplicate pairs need no separate pass: identical text implies
    an identical signature, so every exact edge is inside a signature
    group's star. The collapse is result-IDENTICAL, not an
    approximation: every (doc_id, cluster_id, cluster_size) row matches
    the unreduced formulation bit-for-bit, which the SQL twin (same
    reduction) gates.
    """
    docs = load(spark, sf_dir, "documents")
    mcols = [f"m{i}" for i in range(N_PERM)]
    # Round-12 optimization (guide §2.4): srep/gk used to be a 16-col
    # groupBy producing a separate sgroups frame that was re-JOINED onto
    # sig on all 16 m-cols for the doc->group map — two doc-sized
    # exchanges plus SMJ sorts in the final assembly. One window over
    # partitionBy(m0..m15) computes both per-group values in a single
    # exchange+sort of sig, and the doc->group map is then a plain
    # column. The hot-partition profile is unchanged: the largest
    # replica group landed in one task under the join's
    # hashpartitioning(mcols) too. sig2 persists ONCE (sig alone was
    # persisted before, and sgroups separately — same bytes overall).
    wsig = Window.partitionBy(*mcols)
    sig2 = query_persist(
        _signatures(
            spark, sf_dir, split_for_cpu(docs, "doc_id"),
            n_hint=footer_count(sf_dir, "documents"),
        )
        .select(
            "doc_id",
            *mcols,
            F.min("doc_id").over(wsig).alias("srep"),
            F.count(F.lit(1)).over(wsig).alias("gk"),
        )
    )
    rep_sig = sig2.filter(F.col("doc_id") == F.col("srep")).select("doc_id", *mcols)
    # raw (non-distinct) candidate stream over distinct signatures only:
    # _cc_alternating's edge ingest is itself a distinct, so deduplicating
    # here would shuffle the pair volume twice for nothing
    near_pairs = (
        _pairs_from_sig(rep_sig)
        .filter(F.col("est_jaccard") >= CLUSTER_MIN_EST_JACCARD)
        .select("doc_a", "doc_b")
    )

    # Connected components run ENTIRELY on the signature-group QUOTIENT
    # graph (VERDICT r8 item 4): vertices are group reps, edges the
    # qualifying rep pairs. The member star edges (srep -> each
    # signature-identical doc) are connectivity-trivial — they attach a
    # doc to its group and nothing else — so carrying them through every
    # star round only multiplied the per-round edge volume by the
    # replica factor; instead doc labels are joined on from the group
    # map at the end. Result-IDENTICAL: the cluster root is the minimum
    # doc id of the component, every group's srep IS its minimum doc,
    # and the CC root is the minimum srep.
    label_map, converged = _cc_label_map(
        near_pairs, two_phase=footer_count(sf_dir, "documents") >= TWO_PHASE_MIN_DOCS
    )
    if not converged:  # pragma: no cover - needs >2^25-diameter data
        import warnings

        warnings.warn(
            "dedup_clusters: star compression exited without reaching the "
            "edge fixed point; cluster ids may be unconverged",
            stacklevel=2,
        )

    # group -> cluster label: CC'd groups take their component root;
    # groups in NO qualifying rep pair still form a cluster of their own
    # when they hold >=2 signature-identical docs (their in-group star
    # pairs exist in the unreduced graph). Singleton groups with no pair
    # are out — the contract is docs appearing in >=1 pair.
    # Round-12 optimization: the anti-join + union + inner-join ladder
    # (solo groups unioned under glabel, then expanded) is ONE left join
    # with the identical row semantics: a group with a CC label takes it,
    # a group with none and gk >= 2 labels itself, a pairless singleton
    # group drops out via the NULL filter.
    glabel = query_checkpoint(
        label_map.select(F.col("node").alias("srep"), F.col("root").alias("label"))
    )
    labels = (
        sig2.select("doc_id", "srep", "gk")
        .join(glabel, "srep", "left")
        .select(
            "doc_id",
            F.coalesce(
                "label", F.when(F.col("gk") >= 2, F.col("srep"))
            ).alias("label"),
        )
        .filter(F.col("label").isNotNull())
    )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
    )


def _clusters_sql() -> str:
    # same signature-level collapse as the DataFrame side:
    # signature-identical docs emit star edges + one signature into the
    # band pipeline (md5 duplicates are inside signature groups)
    mlist = ", ".join(f"m{i}" for i in range(N_PERM))
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {j} AS band_id, concat_ws('-', {cols}) AS bkey FROM repsig".format(
            j=j, cols=", ".join(f"m{j * BAND_R + r}" for r in range(BAND_R))
        )
        for j in range(N_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM)
    )
    return f"""
WITH RECURSIVE
docsh AS ({_docsh_sql("documents")}),
sig AS ({_sig_sql()}),
sgrp AS (SELECT {mlist}, MIN(doc_id) AS srep FROM sig GROUP BY {mlist}),
repsig AS (SELECT srep AS doc_id, {mlist} FROM sgrp),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT g.srep AS doc_a, s.doc_id AS doc_b
  FROM sig s JOIN sgrp g USING ({mlist})
  WHERE s.doc_id <> g.srep
  UNION
  SELECT doc_a, doc_b
  FROM cand
  JOIN repsig sa ON sa.doc_id = cand.doc_a
  JOIN repsig sb ON sb.doc_id = cand.doc_b
  WHERE ({agree}) / {float(N_PERM)} >= {CLUSTER_MIN_EST_JACCARD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(v, u) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.v, e.dst FROM reach JOIN edges e ON e.src = reach.u
),
labels AS (SELECT v, MIN(u) AS cluster_id FROM reach GROUP BY v)
SELECT v AS doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM labels
"""


DEDUP_CLUSTERS_SQL = _clusters_sql()


# ---------------------------------------------------------------------------
# 71. dedup_lines — segment-level (line/paragraph) dedup across the corpus
#     (the CCNet-style pipeline stage: drop repeated lines corpus-wide).
#     The synthetic corpus has no newlines, so a "line" is a fixed 8-word
#     segment — the plan is identical for real newline-split paragraphs.
# ---------------------------------------------------------------------------

SEG_WORDS = 8
# segment index fits well under this; packs (doc_id, seg_idx) into one
# BIGINT occurrence key so "earliest occurrence" is a single MIN
SEG_PACK = 1_000_000


def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-segment report per document: each doc is
    split into consecutive 8-word segments; a segment occurrence is a
    duplicate if the same segment text appeared earlier in the corpus
    (smaller doc_id, then smaller offset). Two shuffles, both on the
    60-bit md5 of the segment — long strings never cross the wire. At
    100 TB this is exactly the line-dedup shape: explode to segments,
    min-occurrence per hash, join back, per-doc re-aggregate; every stage
    is an equi-join/agg on the hash key with map-side partials."""
    # parallelize the segment pipeline when the table arrives as one
    # input split (cheap redistribution; no-op at real scale)
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    # words staged as a column: split() inside the transform lambda would
    # re-split the document once per segment index (O(words^2) per doc)
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    seg_expr = (
        f"transform(sequence(0, CAST(ceil(size(words) / {SEG_WORDS}.0) AS INT) - 1),"
        f" i -> concat_ws(' ', slice(words, i * {SEG_WORDS} + 1, {SEG_WORDS})))"
    )
    occ = words.select(
        "doc_id", F.posexplode(F.expr(seg_expr)).alias("seg_idx", "seg")
    ).select(
        "doc_id",
        "seg_idx",
        hashing.md5_int60(F.col("seg")).alias("h"),
        (F.col("doc_id") * SEG_PACK + F.col("seg_idx")).alias("occ_key"),
    )
    first = occ.groupBy("h").agg(F.min("occ_key").alias("first_key"))
    dup = occ.join(first, "h").select(
        "doc_id", (F.col("occ_key") > F.col("first_key")).cast("int").alias("is_dup")
    )
    return (
        dup.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("is_dup").cast("bigint").alias("n_dup_segments"),
        )
        .select(
            "doc_id",
            "n_segments",
            "n_dup_segments",
            (F.col("n_dup_segments").cast("double") / F.col("n_segments").cast("double")).alias("dup_frac"),
        )
    )


DEDUP_LINES_SQL = f"""
WITH w AS (SELECT doc_id, str_split(text, ' ') AS words FROM documents),
idx AS (
  SELECT doc_id, words, CAST(unnest(range(CAST(ceil(len(words) / {SEG_WORDS}.0) AS BIGINT))) AS INTEGER) AS seg_idx
  FROM w
),
occ AS (
  SELECT doc_id, seg_idx,
         {hashing.md5_int60_sql(f"array_to_string(words[(seg_idx * {SEG_WORDS} + 1):(seg_idx * {SEG_WORDS} + {SEG_WORDS})], ' ')")} AS h,
         doc_id * {SEG_PACK} + seg_idx AS occ_key
  FROM idx
),
first AS (SELECT h, MIN(occ_key) AS first_key FROM occ GROUP BY h),
dup AS (
  SELECT o.doc_id, CASE WHEN o.occ_key > f.first_key THEN 1 ELSE 0 END AS is_dup
  FROM occ o JOIN first f USING (h)
)
SELECT doc_id, COUNT(*) AS n_segments,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_segments,
       CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_frac
FROM dup GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# 104. semantic_dedup — SemDeDup cluster-scoped embedding dedup
#     (Abbas et al. 2023: k-means-cluster the embeddings, call members of
#     a cluster semantic duplicates when their cosine exceeds tau, keep
#     the member with the LOWEST cosine to the cluster centroid). The
#     kmeans_refine operator is the training step behind the clusters;
#     here the `label` column plays the converged assignment.
# ---------------------------------------------------------------------------

SEM_TAU = 0.2  # duplicate threshold within a cluster (synthetic embeddings
               # are near-orthogonal, so the workable range is low)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup report: for every vector, how many same-cluster semantic
    duplicates (cosine >= SEM_TAU) outrank it for the keeper slot —
    SemDeDup keeps the duplicate-group member FARTHEST from the cluster
    centroid (lowest cos_centroid; vec_id breaks ties), so is_dup=1 means
    some duplicate has a strictly better keeper claim. Candidate pairs
    come from an equi-join on the cluster id, never an all-pairs cross
    join: with production k-means (k ~ n/1000, the SemDeDup paper's
    regime) each cluster is a few thousand rows, so the pair stage is
    n*cluster_size, embarrassingly parallel across clusters at 100 TB.
    Centroid cosines are computed once (exact integer-unit centroid sums,
    broadcast join) and both the pair cosine and the keeper rule compare
    6-dp-rounded values — deterministic across engines."""
    from gdalos_spark.operators import similarity as sim

    cc = sim.centroid_similarity(spark, sf_dir)  # vec_id, label, cos_centroid
    emb = load(spark, sf_dir, "embeddings")
    # spread the probe side across the full core count BEFORE the pair
    # stage: the embeddings table often arrives as one input split, and
    # with the candidate side broadcast there is no shuffle left to
    # redistribute it — without this the 2.5M-pair fold at the sf1
    # upscale ran on one core (135s; 6.5s repartitioned). Cheap: slim
    # rows, no-op at real scale where the scan is already wide.
    base = split_for_cpu(
        emb.select(
            "vec_id",
            "label",
            vectors.emb_double(F.col("embedding")).alias("emb"),
            F.sqrt(vectors.norm2(F.col("embedding"))).alias("sn"),
        ),
        "vec_id",
    ).join(cc, ["vec_id", "label"])
    # Round-12 optimization: the adaptive identical-vector collapse (the
    # dedup_embedding_cosine / minhash / simhash shape, guide §2.3
    # "decide with small rows"). The pair predicate is a pure function
    # of the two (label, emb) GROUPS: sn and cos_centroid are functions
    # of (label, emb) — identical inputs give identical doubles — and
    # within a group cos(a, b) rounds to 1.0 >= tau, so a member's
    # better-duplicate count decomposes exactly into
    #   (its 0-based vec_id rank inside its own group)            [ties]
    #   + sum of |g| over qualifying groups with smaller cc       [bulk]
    #   + per-member count over qualifying groups with EQUAL cc   [rare]
    # and only the last term ever touches member x member volume —
    # restricted to distinct-vector groups whose 6-dp centroid cosines
    # collide. The full-catalog sf10 sweep caught the direct path at
    # 564 s (200k vectors with 2k distinct in 10 fixed labels -> ~2e9
    # full 64-dim cosine folds); collapsed, the group pair stage is
    # |groups|^2/|labels| and the rest is one window pass. Measured:
    # 564 -> 21.4 s noop (26x; row-identical to the direct plan at sf10,
    # 512.1 s same session). The same 95%-distinct stats gate as
    # dedup_minhash_lsh keeps replica-free corpora on the direct plan
    # (one narrow window pass of overhead decides), and below
    # COLLAPSE_MIN_DOCS the footer count short-circuits to the direct
    # plan with no stats job at all — the driver/bench dims never see
    # the collapse machinery.
    better = None
    n_src = footer_count(sf_dir, "embeddings")
    if n_src >= COLLAPSE_MIN_DOCS:
        wg = Window.partitionBy("label", "emb")
        wgo = Window.partitionBy("label", "emb").orderBy("vec_id")
        mem = query_persist(base.select(
            "vec_id", "label", "emb", "sn", "cos_centroid",
            F.min("vec_id").over(wg).alias("gid"),
            F.count(F.lit(1)).over(wg).alias("k"),
            F.row_number().over(wgo).alias("rk"),
        ))
        n_groups, n_rows = mem.agg(
            F.countDistinct("gid"), F.count(F.lit(1))
        ).first()
        if n_groups < 0.95 * n_rows:
            groups = mem.filter(F.col("vec_id") == F.col("gid"))
            ga = groups.select(
                F.col("gid").alias("gid_a"), F.col("label").alias("lbl"),
                F.col("emb").alias("emb_a"), F.col("sn").alias("sn_a"),
                F.col("cos_centroid").alias("cc_a"),
            )
            gb = groups.select(
                F.col("gid").alias("gid_b"), F.col("label").alias("lbl"),
                F.col("emb").alias("emb_b"), F.col("sn").alias("sn_b"),
                F.col("cos_centroid").alias("cc_b"), F.col("k").alias("k_b"),
            )
            gcos = F.round(
                vectors.dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("sn_a") * F.col("sn_b")),
                6,
            )
            qp = (
                ga.join(F.broadcast(gb), "lbl")
                .filter((F.col("gid_a") != F.col("gid_b")) & (gcos >= SEM_TAU))
                .select("gid_a", "gid_b", "cc_a", "cc_b", "k_b")
            )
            lesser = (
                qp.filter(F.col("cc_b") < F.col("cc_a"))
                .groupBy("gid_a")
                .agg(F.sum("k_b").alias("n_less"))
            )
            eqmem = (
                qp.filter(F.col("cc_b") == F.col("cc_a"))
                .select("gid_a", "gid_b")
                .join(
                    mem.select(
                        F.col("gid").alias("gid_b"), F.col("vec_id").alias("vec_b")
                    ),
                    "gid_b",
                )
                .select("gid_a", "vec_b")
            )
            eqcnt = (
                mem.select("vec_id", F.col("gid").alias("gid_a"))
                .join(eqmem, "gid_a")
                .filter(F.col("vec_b") < F.col("vec_id"))
                .groupBy("vec_id")
                .agg(F.count(F.lit(1)).alias("n_eq"))
            )
            better = (
                mem.select(
                    "vec_id", "gid",
                    (F.col("rk") - F.lit(1)).cast("bigint").alias("n_own"),
                )
                .join(lesser.withColumnRenamed("gid_a", "gid"), "gid", "left")
                .join(eqcnt, "vec_id", "left")
                .select(
                    "vec_id",
                    (
                        F.col("n_own")
                        + F.coalesce(F.col("n_less"), F.lit(0))
                        + F.coalesce(F.col("n_eq"), F.lit(0))
                    ).alias("n_better_dups"),
                )
                .filter(F.col("n_better_dups") > 0)
            )
        else:
            mem.unpersist()
    if better is None:
        base = query_persist(base)
        a = base.select(
            F.col("vec_id").alias("vec_a"), F.col("label").alias("lbl"),
            F.col("emb").alias("emb_a"), F.col("sn").alias("sn_a"),
            F.col("cos_centroid").alias("cc_a"),
        )
        b = base.select(
            F.col("vec_id").alias("vec_b"), F.col("label").alias("lbl"),
            F.col("emb").alias("emb_b"), F.col("sn").alias("sn_b"),
            F.col("cos_centroid").alias("cc_b"),
        )
        cos = F.round(vectors.dot(F.col("emb_a"), F.col("emb_b")) / (F.col("sn_a") * F.col("sn_b")), 6)
        # the candidate side is BROADCAST: an equi-join on a handful of
        # cluster ids caps parallelism at |clusters| under sort-merge (10
        # tasks on a 32-core host — measured 53s at the sf1 upscale) and
        # shuffles full vectors on both sides; the broadcast keeps the probe
        # scan at full width (6.5s same data). At production SemDeDup k
        # (~n/1000) the per-cluster side is small and this hint generalizes
        # to broadcasting the cluster's members. The cheap keeper-rule
        # predicate precedes the 64-dim cosine so most pairs never fold.
        better = a.join(F.broadcast(b), "lbl").filter(
            (F.col("vec_a") != F.col("vec_b"))
            & (
                (F.col("cc_b") < F.col("cc_a"))
                | ((F.col("cc_b") == F.col("cc_a")) & (F.col("vec_b") < F.col("vec_a")))
            )
            & (cos >= SEM_TAU)
        ).groupBy(F.col("vec_a").alias("vec_id")).agg(
            F.count(F.lit(1)).alias("n_better_dups")
        )
    return (
        cc.join(better, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            "cos_centroid",
            F.coalesce(F.col("n_better_dups"), F.lit(0)).cast("bigint").alias("n_better_dups"),
            (F.coalesce(F.col("n_better_dups"), F.lit(0)) > 0).cast("int").alias("is_dup"),
        )
    )


def _semantic_sql() -> str:
    from gdalos_spark.operators.similarity import CENTROID_SIMILARITY_SQL

    n2 = vectors.norm2_sql("embedding")
    pair_dot = vectors.dot_sql("a.emb", "b.emb")
    return f"""
WITH cs AS ({CENTROID_SIMILARITY_SQL}),
base AS (
  SELECT e.vec_id, e.label, e.embedding AS emb, sqrt({n2.replace('embedding', 'e.embedding')}) AS sn,
         cs.cos_centroid AS cc
  FROM embeddings e JOIN cs ON e.vec_id = cs.vec_id AND e.label = cs.label
),
better AS (
  SELECT a.vec_id, COUNT(*) AS n_better_dups
  FROM base a JOIN base b ON a.label = b.label AND a.vec_id <> b.vec_id
  WHERE ROUND({pair_dot} / (a.sn * b.sn), 6) >= {SEM_TAU}
    AND (b.cc < a.cc OR (b.cc = a.cc AND b.vec_id < a.vec_id))
  GROUP BY a.vec_id
)
SELECT cs.vec_id, cs.label, cs.cos_centroid,
       CAST(COALESCE(t.n_better_dups, 0) AS BIGINT) AS n_better_dups,
       CAST(CASE WHEN COALESCE(t.n_better_dups, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS is_dup
FROM cs LEFT JOIN better t ON cs.vec_id = t.vec_id
"""


SEMANTIC_DEDUP_SQL = _semantic_sql()


# ---------------------------------------------------------------------------
# dedup_substring — ExactSubstr-style duplicated-span detection
# ---------------------------------------------------------------------------

SUB_NGRAM = 8  # word-gram granularity of the span scan
SUB_SPAN_TOKENS = 50  # Lee et al. 2021 flag threshold (tokens)


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span report (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for every
    document, find maximal runs of overlapping word 8-grams that occur
    more than once in the corpus, and flag documents whose longest
    duplicated span reaches 50 tokens.

    The suffix-array of the paper is replaced by the shape Spark executes
    well: overlapping grams with their position, hashed to 60-bit md5
    ints (strings never shuffle), a self-frequency table (one hash-agg),
    and a gaps-and-islands window per document to merge consecutive
    duplicated positions into maximal spans — span_tokens = run + 7.

    At 100 TB: the gram table is the same persisted artifact the
    MinHash/contamination ops key on; the frequency agg and the
    position window each shuffle once, on the 60-bit key and doc_id
    respectively. Pair expansion never happens — frequency > 1 is a
    property of the gram, not of a pair join.
    """
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    gram_expr = (
        "CASE WHEN size(words) >= {n} THEN "
        "transform(sequence(0, size(words) - {n}), "
        "i -> concat_ws(' ', slice(words, i + 1, {n}))) "
        "ELSE array() END"
    ).format(n=SUB_NGRAM)
    grams = words.select(
        "doc_id", F.posexplode_outer(F.expr(gram_expr)).alias("pos", "gram")
    ).select("doc_id", "pos", hashing.md5_int60(F.col("gram")).alias("h"))
    freq = grams.filter(F.col("h").isNotNull()).groupBy("h").agg(
        F.count(F.lit(1)).alias("occ")
    )
    flagged = grams.join(
        freq.select(F.col("h").alias("fh"), "occ"), grams.h == F.col("fh"), "left"
    ).select(
        "doc_id",
        "pos",
        F.col("h").isNotNull().cast("int").alias("is_gram"),
        (F.coalesce(F.col("occ"), F.lit(0)) > 1).cast("int").alias("is_dup"),
    )
    from pyspark.sql.window import Window as _W

    dup = flagged.filter(F.col("is_dup") == 1)
    w = _W.partitionBy("doc_id").orderBy("pos")
    runs = (
        dup.withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("max_run"))
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.sum("is_gram").cast("bigint").alias("n_grams"),
        F.sum("is_dup").cast("bigint").alias("n_dup_grams"),
    )
    out = per_doc.join(runs, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.when(
            F.col("max_run").isNotNull(), F.col("max_run") + F.lit(SUB_NGRAM - 1)
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("longest_dup_span_tokens"),
        F.when(
            F.col("n_grams") > 0,
            F.col("n_dup_grams").cast("double") / F.col("n_grams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_gram_frac"),
    )
    return out.withColumn(
        "flagged",
        (F.col("longest_dup_span_tokens") >= SUB_SPAN_TOKENS).cast("int"),
    )


def _substring_sql() -> str:
    gram = f"array_to_string(words[(i + 1):(i + {SUB_NGRAM})], ' ')"
    return f"""
WITH w AS (SELECT doc_id, str_split(text, ' ') AS words FROM documents),
grams AS (
  SELECT doc_id, i AS pos, {hashing.md5_int60_sql(gram)} AS h
  FROM (
    SELECT doc_id, words,
           CAST(unnest(range(GREATEST(len(words) - {SUB_NGRAM} + 1, 0))) AS INTEGER) AS i
    FROM w
  )
),
freq AS (SELECT h, COUNT(*) AS occ FROM grams GROUP BY 1),
flagged AS (
  SELECT g.doc_id, g.pos, 1 AS is_gram,
         CASE WHEN f.occ > 1 THEN 1 ELSE 0 END AS is_dup
  FROM grams g JOIN freq f USING (h)
),
runs AS (
  SELECT doc_id, MAX(run_len) AS max_run FROM (
    SELECT doc_id, island, COUNT(*) AS run_len FROM (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM flagged WHERE is_dup = 1
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
per_doc AS (
  SELECT d.doc_id,
         CAST(COALESCE(SUM(is_gram), 0) AS BIGINT) AS n_grams,
         CAST(COALESCE(SUM(is_dup), 0) AS BIGINT) AS n_dup_grams
  FROM (SELECT doc_id FROM w) d
  LEFT JOIN flagged f ON d.doc_id = f.doc_id
  GROUP BY 1
)
SELECT p.doc_id, p.n_grams, p.n_dup_grams,
       CAST(CASE WHEN r.max_run IS NOT NULL THEN r.max_run + {SUB_NGRAM - 1}
                 ELSE 0 END AS BIGINT) AS longest_dup_span_tokens,
       CASE WHEN p.n_grams > 0
            THEN CAST(p.n_dup_grams AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
            ELSE 0.0 END AS dup_gram_frac,
       CAST(CASE WHEN CASE WHEN r.max_run IS NOT NULL THEN r.max_run + {SUB_NGRAM - 1} ELSE 0 END
                  >= {SUB_SPAN_TOKENS} THEN 1 ELSE 0 END AS INTEGER) AS flagged
FROM per_doc p LEFT JOIN runs r ON p.doc_id = r.doc_id
"""


DEDUP_SUBSTRING_SQL = _substring_sql()


# ---------------------------------------------------------------------------
# dedup_fuzzy_title — edit-distance near-dup pairs via pigeonhole blocking
# ---------------------------------------------------------------------------

FUZZY_PREFIX_LEN = 32  # the "title": first chars of the document
FUZZY_MAX_DIST = 3
FUZZY_BLOCK_CAP = 50  # max titles per block that emit pairs
FUZZY_PLANT_MOD = 10  # doc_id % MOD == 1 docs get a 1-edit copy of doc_id-1


def _fuzzy_titles_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Titles with DETERMINISTIC planted near-dups: every doc_id%MOD==1
    doc's title becomes its predecessor's title with the first char
    replaced — a distance-1 pair by construction (same augmentation
    precedent as text_pii_flag: the corpus is random word salad with no
    natural typo-level pairs, so the operator's recall is demonstrated
    on planted ones; the plant is an equi-join on doc_id-1)."""
    # project the 32-char title BEFORE repartitioning — shuffling the
    # full text column to then keep 32 chars of it is pure waste
    base = split_for_cpu(
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", F.substring("text", 1, FUZZY_PREFIX_LEN).alias("t0")),
        "doc_id",
    )
    prev = base.select(
        (F.col("doc_id") + 1).alias("nxt"), F.col("t0").alias("prev_t")
    )
    return (
        base.join(prev, F.col("doc_id") == F.col("nxt"), "left")
        .select(
            "doc_id",
            "source",
            F.when(
                (F.col("doc_id") % FUZZY_PLANT_MOD == 1) & F.col("prev_t").isNotNull(),
                F.concat(F.lit("Z"), F.substring("prev_t", 2, FUZZY_PREFIX_LEN - 1)),
            ).otherwise(F.col("t0")).alias("title"),
        )
    )


def dedup_fuzzy_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate detection on document titles — the
    fuzzy-match family the n-gram/minhash ops don't cover (they see set
    overlap; Levenshtein sees ORDERED typo-level edits, and both
    engines' classic DP implementations return the identical integer).

    Candidates come from PIGEONHOLE (PassJoin-style) blocking, never
    all-pairs: each title emits its two halves as block keys; one edit
    touches only one half, so every distance-1 pair shares the other
    half verbatim (guaranteed recall at d=1, high recall for clustered
    d<=3 edits — the standard bounded-recall tradeoff, stated rather
    than silent). The O(len²) distance runs only inside blocks, and the
    DF cap bounds any hot block (exact-dup clusters are the n-gram
    family's job). Output: distance histogram + example pair count per
    distance 1..FUZZY_MAX_DIST."""
    # persist: the block table feeds the cap filter AND both join sides
    # — without it the scan + plant join recomputes four times (same
    # materialize-the-signatures discipline as minhash/ngram)
    titles = _fuzzy_titles_spark(spark, sf_dir)
    half = FUZZY_PREFIX_LEN // 2
    blocks = query_persist(titles.select(
        "doc_id",
        "title",
        F.explode(
            F.array(
                F.concat(F.lit("1|"), F.substring("title", 1, half)),
                F.concat(F.lit("2|"), F.substring("title", half + 1, half)),
            )
        ).alias("blk"),
    ))
    ok = blocks.groupBy("blk").agg(F.count(F.lit(1)).alias("n_blk")).filter(
        F.col("n_blk") <= FUZZY_BLOCK_CAP
    )
    blocks = query_persist(blocks.join(ok.select("blk"), "blk", "left_semi"))
    a = blocks.select(
        F.col("blk").alias("blk_a"), F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"), F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
    )
    # score INSIDE the block join and filter before any dedup, so the
    # distinct shuffles only (ids, int) for the tiny survivor set —
    # never the title strings (a pair sharing both halves is an exact
    # dup, dist 0, dropped here anyway)
    # title_a != title_b INSIDE the join: exact-dup clusters (the
    # common case — replicated corpora) would otherwise run the O(len²)
    # DP on every within-cluster pair just to produce an excluded d=0
    pairs = (
        a.join(
            b,
            (F.col("blk_a") == F.col("blk_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.col("title_a") != F.col("title_b")),
        )
        .select(
            "doc_a", "doc_b", F.levenshtein("title_a", "title_b").alias("dist")
        )
        .filter((F.col("dist") <= FUZZY_MAX_DIST) & (F.col("dist") > 0))
        .distinct()
    )
    return (
        pairs.groupBy("dist")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("doc_a").cast("bigint").alias("example_doc"),
        )
        .orderBy("dist")
    )


DEDUP_FUZZY_TITLE_SQL = f"""
WITH base AS (
  SELECT doc_id, source, substring(text, 1, {FUZZY_PREFIX_LEN}) AS t0
  FROM documents
),
titles AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % {FUZZY_PLANT_MOD} = 1 AND p.t0 IS NOT NULL
              THEN 'Z' || substring(p.t0, 2, {FUZZY_PREFIX_LEN - 1})
              ELSE b.t0 END AS title
  FROM base b LEFT JOIN base p ON b.doc_id = p.doc_id + 1
),
blocks AS (
  SELECT doc_id, title, '1|' || substring(title, 1, {FUZZY_PREFIX_LEN // 2}) AS blk FROM titles
  UNION ALL
  SELECT doc_id, title, '2|' || substring(title, {FUZZY_PREFIX_LEN // 2 + 1}, {FUZZY_PREFIX_LEN // 2}) AS blk FROM titles
),
okb AS (SELECT blk FROM blocks GROUP BY blk HAVING COUNT(*) <= {FUZZY_BLOCK_CAP}),
bf AS (SELECT * FROM blocks WHERE blk IN (SELECT blk FROM okb)),
pairs AS (
  SELECT DISTINCT doc_a, doc_b, dist FROM (
    SELECT p.doc_id AS doc_a, q.doc_id AS doc_b,
           levenshtein(p.title, q.title) AS dist
    FROM bf p JOIN bf q
      ON p.blk = q.blk AND p.doc_id < q.doc_id AND p.title <> q.title
  ) x
  WHERE dist <= {FUZZY_MAX_DIST} AND dist > 0
)
SELECT dist, COUNT(*) AS n_pairs, CAST(MIN(doc_a) AS BIGINT) AS example_doc
FROM pairs
GROUP BY dist
ORDER BY dist
"""


# ---------------------------------------------------------------------------
# minhash_calibration — est_jaccard vs exact jaccard on the candidate pairs
# ---------------------------------------------------------------------------


def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QA harness for the MinHash estimator (the dedup twin of
    ann_recall_report): every LSH candidate pair's signature-agreement
    estimate is compared against its EXACT shingle Jaccard, bucketed by
    exact-jaccard decile with mean/max absolute error — the table that
    tells you whether 16 permutations are enough before trusting the
    0.5 threshold at 100 TB. Exact sets come from the shingle table
    SEMI-JOINED to the candidate docs first (only candidate docs'
    shingles move), the pair intersection is an equi-join on the
    shingle, and every error is rounded once to micro-units so bucket
    aggregates sum as integers.

    Plan choice (round-12): the exploded pair⋈shingle join materializes
    Σ_pairs |shingles(doc_a)| rows — 1.44e9 at the sf10 upscale (27.1M
    pairs x 53 shingles/doc), all shuffled again for the doc_b-side
    match; the sweep measured the key at 228.8 s while its pair source
    runs in ~6 s. When the documents table is small enough to broadcast
    as per-doc DISTINCT-shingle ARRAYS (footer row count — no scan),
    the same scored rows come from two broadcast hash joins plus a
    map-side ``size(array_intersect())``: the per-pair volume never
    exists, nothing wider than the 27M pair rows moves, and one
    broadcast exchange is reused by both sides. Equivalence is exact,
    not approximate: intersection/size of the distinct string arrays is
    the same integer arithmetic as the shingle equi-join + count, the
    INNER join's drop of zero-overlap candidate pairs is reproduced by
    the ``shared > 0`` filter, and est_jaccard rides the unique
    (doc_a, doc_b) pair rows unchanged. Above the gate the original
    equi-join plan runs — at true 100 TB the array table cannot
    broadcast and the exploded shuffle IS the honest distributed
    intersection."""
    if footer_count(sf_dir, "documents") <= CALIB_ARR_BROADCAST_MAX_DOCS:
        return _minhash_calibration_arrays(spark, sf_dir)
    return _minhash_calibration_join(spark, sf_dir)


def _minhash_calibration_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join calibration plan: candidate pairs joined to the
    exploded shingle table on both ends, intersection = the count of
    matched shingles."""
    # Persist the candidate set: it feeds cand_docs TWICE (both union
    # arms) and the shared-shingle join. (Measured wash at the sf10
    # upscale — 228.8 s unpersisted vs 241.4 s persisted: the wall is
    # the exploded join below, and dedup_minhash_lsh's internal sig
    # persist already kept the recompute cheap. Kept because three
    # consumers of a lazy 27M-row plan is recompute exposure that only
    # grows past the broadcast gate.)
    pairs = query_persist(
        dedup_minhash_lsh(spark, sf_dir)
        .select("doc_a", "doc_b", "est_jaccard")
    )
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = query_persist(
        doc_shingles(spark, sf_dir)
        .join(cand_docs, "doc_id", "left_semi")
        .select("doc_id", "shingle")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("b_doc"), F.col("shingle").alias("shingle_b"))
    shared = (
        pairs.join(a, "doc_a")
        .join(
            b,
            (F.col("doc_b") == F.col("b_doc")) & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b", "est_jaccard")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sza = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    scored = (
        shared.join(sza, "doc_a")
        .join(szb, "doc_b")
        .withColumn(
            "exact_j",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
        )
    )
    return _calibration_buckets(scored)


# Broadcasting the per-doc shingle-array table costs ~1.8 KB/doc on the
# heap (53 avg shingles x ~25-char strings at the sf10 upscale), so 1M
# docs is ~2 GB — comfortable under the bench's 16 GB driver, far past
# every driver/bench SF, and small against the exploded join it avoids.
CALIB_ARR_BROADCAST_MAX_DOCS = 1_000_000


def _minhash_calibration_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-array calibration plan: per-doc distinct shingle sets as
    arrays (the same sets doc_shingles explodes), candidate pairs joined
    to them on both ends through ONE reused broadcast, intersection and
    union sizes computed map-side. ``shared > 0`` mirrors the equi-join
    plan's INNER semantics (a candidate pair with no common shingle
    never reaches scored there either)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b", "est_jaccard")
    docs = split_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    arr = docs.select(
        "doc_id", F.array_distinct(shingles3(F.col("text"))).alias("shset")
    )
    scored = (
        pairs.join(
            F.broadcast(arr).select(
                F.col("doc_id").alias("doc_a"), F.col("shset").alias("sh_a")
            ),
            "doc_a",
        )
        .join(
            F.broadcast(arr).select(
                F.col("doc_id").alias("doc_b"), F.col("shset").alias("sh_b")
            ),
            "doc_b",
        )
        .select(
            "est_jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("shared"),
            F.size("sh_a").cast("bigint").alias("sz_a"),
            F.size("sh_b").cast("bigint").alias("sz_b"),
        )
        .filter(F.col("shared") > 0)
        .withColumn(
            "exact_j",
            F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")).cast("double"),
        )
    )
    return _calibration_buckets(scored)


def _calibration_buckets(scored: DataFrame) -> DataFrame:
    """Shared decile-bucketing tail of both calibration plans: micro-unit
    error + FLOOR-based decile (not a bare int cast: DuckDB CAST(double
    AS INT) rounds while Spark truncates — the decile edge would
    disagree), then the bucket aggregates."""
    scored = scored.withColumn(
        "err_u",
        F.abs(F.round((F.col("est_jaccard") - F.col("exact_j")) * 1_000_000.0)).cast("bigint"),
    ).withColumn("decile", F.least(F.lit(9), F.floor(F.col("exact_j") * 10).cast("int")))
    return (
        scored.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.sum("err_u").cast("double") / (F.count(F.lit(1)) * 1_000_000.0).cast("double")).alias("mean_abs_err"),
            (F.max("err_u").cast("double") / 1_000_000.0).alias("max_abs_err"),
        )
        .orderBy("decile")
    )


MINHASH_CALIBRATION_SQL_TMPL = """
WITH pairs AS ({minhash_pairs}),
cand AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs
  )
),
sh AS (
  SELECT DISTINCT d.doc_id, d.shingle
  FROM ({docsh}) d
  WHERE d.doc_id IN (SELECT doc_id FROM cand)
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
shared AS (
  SELECT p.doc_a, p.doc_b, p.est_jaccard, COUNT(*) AS shared
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT s.*,
         s.shared / CAST(sa.sz + sb.sz - s.shared AS DOUBLE) AS exact_j,
         CAST(ABS(ROUND((s.est_jaccard - s.shared / CAST(sa.sz + sb.sz - s.shared AS DOUBLE)) * 1000000.0)) AS BIGINT) AS err_u
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b
)
SELECT LEAST(9, CAST(FLOOR(exact_j * 10) AS INTEGER)) AS decile,
       COUNT(*) AS n_pairs,
       CAST(SUM(err_u) AS DOUBLE) / CAST(COUNT(*) * 1000000.0 AS DOUBLE) AS mean_abs_err,
       CAST(MAX(err_u) AS DOUBLE) / 1000000.0 AS max_abs_err
FROM scored
GROUP BY 1
ORDER BY decile
"""

MINHASH_CALIBRATION_SQL = MINHASH_CALIBRATION_SQL_TMPL.format(
    minhash_pairs=DEDUP_MINHASH_LSH_SQL, docsh=DOCSH_SQL
)


# ---------------------------------------------------------------------------
# dedup_cluster_histogram — duplicate-cluster size distribution
# ---------------------------------------------------------------------------


def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The summary a dedup run reports upward: how many duplicate
    clusters of each size exist, how many docs they hold, and how many
    deletions full dedup would perform (size - 1 per cluster). One
    tiny re-agg over dedup_clusters' output — the operator-composition
    pattern: the expensive CC result feeds multiple reports."""
    clusters = dedup_clusters(spark, sf_dir)
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.max("cluster_size").alias("size")
    )
    return (
        per_cluster.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            (F.col("size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
            ((F.col("size") - 1) * F.col("n_clusters")).cast("bigint").alias("n_deletions"),
        )
        .orderBy("cluster_size")
    )


DEDUP_CLUSTER_HISTOGRAM_SQL = """
WITH clusters AS ({clusters}),
per_cluster AS (SELECT cluster_id, MAX(cluster_size) AS size FROM clusters GROUP BY 1)
SELECT CAST(size AS BIGINT) AS cluster_size,
       COUNT(*) AS n_clusters,
       CAST(size * COUNT(*) AS BIGINT) AS n_docs,
       CAST((size - 1) * COUNT(*) AS BIGINT) AS n_deletions
FROM per_cluster
GROUP BY size
ORDER BY cluster_size
"""

DEDUP_CLUSTER_HISTOGRAM_SQL = DEDUP_CLUSTER_HISTOGRAM_SQL.format(
    clusters=DEDUP_CLUSTERS_SQL
)


# ---------------------------------------------------------------------------
# dedup_union_report — consensus across the three near-dup generators
# ---------------------------------------------------------------------------

UNION_MAX_HAMMING = 6
UNION_MIN_EST_JACCARD = 0.5


def dedup_union_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a production dedup pipeline actually ships: the UNION of the
    exact, minhash-LSH, and simhash candidate generators as one pair
    table with per-method flags and a vote count — the consensus signal
    the final drop decision thresholds on (2-of-3 beats any single
    method's false-positive profile). Each generator keeps its own
    sub-quadratic plan; the merge is a full-outer chain on the pair key,
    all sides already distinct and tiny relative to the corpus."""
    docs = load(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    a, b = hashed.alias("a"), hashed.alias("b")
    exact = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.lit(1).alias("exact"),
        )
    )
    mh = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard") >= UNION_MIN_EST_JACCARD)
        .select("doc_a", "doc_b", F.lit(1).alias("minhash"))
    )
    sh = (
        dedup_simhash(spark, sf_dir)
        .filter(F.col("hamming") <= UNION_MAX_HAMMING)
        .select("doc_a", "doc_b", F.lit(1).alias("simhash"))
    )
    j = (
        exact.join(mh, ["doc_a", "doc_b"], "full_outer")
        .join(sh, ["doc_a", "doc_b"], "full_outer")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("exact", F.lit(0)).alias("exact"),
            F.coalesce("minhash", F.lit(0)).alias("minhash"),
            F.coalesce("simhash", F.lit(0)).alias("simhash"),
        )
    )
    return j.withColumn(
        "votes",
        (F.col("exact") + F.col("minhash") + F.col("simhash")).cast("int"),
    )


DEDUP_UNION_REPORT_SQL = f"""
WITH exact AS (
  SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b, 1 AS exact
  FROM documents d1 JOIN documents d2
    ON md5(d1.text) = md5(d2.text) AND d1.doc_id < d2.doc_id
),
mh AS (
  SELECT doc_a, doc_b, 1 AS minhash
  FROM ({DEDUP_MINHASH_LSH_SQL}) WHERE est_jaccard >= {UNION_MIN_EST_JACCARD}
),
sh AS (
  SELECT doc_a, doc_b, 1 AS simhash
  FROM ({DEDUP_SIMHASH_SQL}) WHERE hamming <= {UNION_MAX_HAMMING}
),
j AS (
  SELECT COALESCE(exact.doc_a, mh.doc_a, sh.doc_a) AS doc_a,
         COALESCE(exact.doc_b, mh.doc_b, sh.doc_b) AS doc_b,
         COALESCE(exact, 0) AS exact,
         COALESCE(minhash, 0) AS minhash,
         COALESCE(simhash, 0) AS simhash
  FROM exact
  FULL OUTER JOIN mh ON exact.doc_a = mh.doc_a AND exact.doc_b = mh.doc_b
  FULL OUTER JOIN sh ON COALESCE(exact.doc_a, mh.doc_a) = sh.doc_a
                    AND COALESCE(exact.doc_b, mh.doc_b) = sh.doc_b
)
SELECT doc_a, doc_b, exact, minhash, simhash,
       CAST(exact + minhash + simhash AS INTEGER) AS votes
FROM j
"""


# ---------------------------------------------------------------------------
# dedup_incremental_minhash — delta batch deduped AGAINST the index, not
# against itself
# ---------------------------------------------------------------------------
#
# The production dedup shape: a daily crawl arrives and must be checked
# against the existing corpus. Re-pairing the whole corpus (what
# dedup_minhash_lsh does) is O(corpus) per day; the incremental form
# joins only new-batch band keys against the stored signature index, so
# per-day work is O(batch + matched buckets). Here the "index" is the
# 90% of documents with doc_id % 10 != 7 and the "new batch" is the rest
# — in production the index side is the persisted signature table
# (signatures are tiny: 16 ints/doc) and only the batch side re-shingles.

INC_BATCH_MOD = 10
INC_BATCH_REM = 7
INC_MIN_EST_JACCARD = 0.5


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per new-batch doc: the best near-dup match in the index (max
    estimated Jaccard, ties to the smallest index doc_id) or a 'new'
    verdict. Band keys restrict the join to new->index candidate pairs —
    no index-index or batch-batch pair is ever generated, and the
    duplicate candidate rows a shared multi-band pair produces collapse
    in the per-doc max aggregation (no distinct shuffle needed).

    Signature-identical collapse (the dedup_clusters lesson applied to
    the delta join): est_jaccard is a pure function of the two
    SIGNATURES, so the band join runs over one row per distinct
    signature GROUP (sf10 replica corpus: 166k groups for 500k docs,
    ~1000x fewer candidate pairs between replica cliques) and the best
    match expands back to batch members afterwards. A group holding both
    batch and index docs pairs with itself (est = 1.0 — exactly what
    the uncollapsed join computes for identical signatures), and the
    index-side tie representative is the group's min index doc_id, so
    every emitted value is byte-identical to the uncollapsed algebra
    (the sf0.01 oracle SQL stays the straightforward per-doc form)."""
    sig = _signatures(spark, sf_dir)
    ms = [F.col(f"m{i}") for i in range(N_PERM)]
    is_batch = (F.col("doc_id") % INC_BATCH_MOD) == INC_BATCH_REM
    docs = query_persist(sig.withColumn(
        "gid", F.min("doc_id").over(Window.partitionBy(*ms))
    ))
    groups = docs.groupBy("gid", *[f"m{i}" for i in range(N_PERM)]).agg(
        F.min(F.when(~is_batch, F.col("doc_id"))).alias("min_idx"),
        F.max(is_batch.cast("int")).alias("any_batch"),
    )
    bands = _band_explode(
        groups.select(
            "gid", "min_idx", "any_batch", F.array(*ms).alias("ms"),
            *[f"m{i}" for i in range(N_PERM)],
        ),
        "gid", "min_idx", "any_batch", "ms",
    )
    new_side = bands.filter(F.col("any_batch") == 1).select(
        F.col("gid").alias("new_gid"), F.col("ms").alias("ms_a"), "band_id", "bkey"
    )
    idx_side = bands.filter(F.col("min_idx").isNotNull()).select(
        F.col("min_idx").alias("idx_id"), F.col("ms").alias("ms_b"), "band_id", "bkey"
    )
    agree = F.expr("size(filter(zip_with(ms_a, ms_b, (x, y) -> x = y), t -> t))")
    best_per_group = (
        new_side.join(idx_side, ["band_id", "bkey"])
        .select("new_gid", "idx_id", (agree / F.lit(float(N_PERM))).alias("est"))
        .filter(F.col("est") >= INC_MIN_EST_JACCARD)
        .groupBy("new_gid")
        .agg(F.max(F.struct(F.col("est"), (-F.col("idx_id")).alias("neg"))).alias("best"))
        .select(
            "new_gid",
            (-F.col("best.neg")).alias("match_id"),
            F.col("best.est").alias("est_jaccard"),
        )
    )
    batch_docs = docs.filter(is_batch).select("doc_id", "gid")
    return (
        batch_docs.join(best_per_group, F.col("gid") == F.col("new_gid"), "left")
        .select(
            "doc_id",
            F.col("match_id").cast("bigint").alias("match_id"),
            "est_jaccard",
            F.when(F.col("match_id").isNotNull(), "duplicate").otherwise("new").alias("verdict"),
        )
        .orderBy("doc_id")
    )


def _inc_minhash_sql() -> str:
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {j} AS band_id, concat_ws('-', {cols}) AS bkey FROM sig".format(
            j=j, cols=", ".join(f"m{j * BAND_R + r}" for r in range(BAND_R))
        )
        for j in range(N_BANDS)
    )
    agree = " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM))
    return f"""
WITH docsh AS ({DOCSH_SQL}),
sig AS ({_sig_sql()}),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS idx_id
  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bkey = b.bkey
  WHERE a.doc_id % {INC_BATCH_MOD} = {INC_BATCH_REM}
    AND b.doc_id % {INC_BATCH_MOD} <> {INC_BATCH_REM}
),
scored AS (
  SELECT new_id, idx_id, ({agree}) / {float(N_PERM)} AS est
  FROM cand
  JOIN sig sa ON sa.doc_id = new_id
  JOIN sig sb ON sb.doc_id = idx_id
),
best AS (
  SELECT new_id, idx_id AS match_id, est AS est_jaccard,
         ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY est DESC, idx_id) AS rn
  FROM scored WHERE est >= {INC_MIN_EST_JACCARD}
)
SELECT s.doc_id,
       CAST(b.match_id AS BIGINT) AS match_id,
       b.est_jaccard,
       CASE WHEN b.match_id IS NOT NULL THEN 'duplicate' ELSE 'new' END AS verdict
FROM sig s
LEFT JOIN best b ON b.new_id = s.doc_id AND b.rn = 1
WHERE s.doc_id % {INC_BATCH_MOD} = {INC_BATCH_REM}
ORDER BY s.doc_id
"""


DEDUP_INCREMENTAL_MINHASH_SQL = _inc_minhash_sql()


# ---------------------------------------------------------------------------
# dedup_incremental_minhash_stored — the PRODUCTION shape of the delta
# dedup: index signatures come from a persisted store, not a recompute.
# ---------------------------------------------------------------------------


def _sig_store_dir(sf_dir: str) -> str:
    return scratch_dir("gdalos_sigstore", sf_dir)


def signature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted index-signature table: one parquet row per DISTINCT
    index-doc signature, carrying the group's min index doc_id (the tie
    representative the per-doc algebra elects anyway). Built ONCE per
    corpus fingerprint — this is the 77-96s one-time cost the sf10 study
    measured — then every recurring delta-dedup run is a parquet scan.
    At 100 TB this table is the dedup index a production pipeline owns
    as a first-class dataset (append new signatures after each batch);
    here the staging key is the documents.parquet fingerprint so the
    store rebuilds when the driver regenerates testdata."""

    def build(path: str) -> None:
        docs = load(spark, sf_dir, "documents").filter(
            (F.col("doc_id") % INC_BATCH_MOD) != INC_BATCH_REM
        )
        sig = _signatures(
            spark,
            sf_dir,
            split_for_cpu(docs, "doc_id"),
            # index side is ~90% of the corpus; footers size the gate
            n_hint=footer_count(sf_dir, "documents") * (INC_BATCH_MOD - 1) // INC_BATCH_MOD,
        )
        mcols = [f"m{i}" for i in range(N_PERM)]
        store = sig.groupBy(*mcols).agg(F.min("doc_id").alias("idx_id"))
        store.write.mode("overwrite").parquet(path)

    d = publish_staged_dir(
        build, _sig_store_dir(sf_dir),
        source_fingerprint(f"{sf_dir}/documents.parquet"),
    )
    return spark.read.parquet(d)


def dedup_incremental_minhash_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_incremental_minhash against the persisted signature STORE:
    only the new batch (10% of docs — the modulo filter evaluates right
    above the scan; parquet stats cannot skip on arithmetic) is
    shingled and minhashed; the index side is a parquet scan of
    ``signature_store``. This is the recurring-cost shape VERDICT r5
    asked to demonstrate — the measured sf10 cold cost of the inline
    variant is ~95% index-signature build, which the store amortizes to
    one ingest-time job.

    Result-identical to dedup_incremental_minhash (same oracle SQL):
    est_jaccard is a pure function of the signatures, distinct index
    signatures carry their min member id, and for equal est the min
    over candidate index docs IS the min over group representatives."""
    store = signature_store(spark, sf_dir)
    batch_docs = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % INC_BATCH_MOD) == INC_BATCH_REM
    )
    sig = _signatures(
        spark,
        sf_dir,
        split_for_cpu(batch_docs, "doc_id"),
        # the batch is 1/INC_BATCH_MOD of the corpus
        n_hint=footer_count(sf_dir, "documents") // INC_BATCH_MOD,
    )
    ms = [F.col(f"m{i}") for i in range(N_PERM)]
    mcols = [f"m{i}" for i in range(N_PERM)]
    # collapse batch docs to distinct signatures too (replica cliques)
    bdocs = query_persist(sig.withColumn(
        "gid", F.min("doc_id").over(Window.partitionBy(*ms))
    ))
    bgroups = bdocs.select("gid", *mcols).distinct()

    def bands_of(df: DataFrame, idcol: str) -> DataFrame:
        return _band_explode(
            df.select(F.col(idcol), F.array(*ms).alias(f"ms_{idcol}"), *mcols),
            idcol,
            f"ms_{idcol}",
        )

    new_side = bands_of(bgroups, "gid")
    idx_side = bands_of(store, "idx_id")
    agree = F.expr("size(filter(zip_with(ms_gid, ms_idx_id, (x, y) -> x = y), t -> t))")
    best = (
        new_side.join(idx_side, ["band_id", "bkey"])
        .select("gid", "idx_id", (agree / F.lit(float(N_PERM))).alias("est"))
        .filter(F.col("est") >= INC_MIN_EST_JACCARD)
        .groupBy("gid")
        .agg(F.max(F.struct(F.col("est"), (-F.col("idx_id")).alias("neg"))).alias("best"))
        .select(
            F.col("gid").alias("b_gid"),
            (-F.col("best.neg")).alias("match_id"),
            F.col("best.est").alias("est_jaccard"),
        )
    )
    return (
        bdocs.select("doc_id", "gid")
        .join(best, F.col("gid") == F.col("b_gid"), "left")
        .select(
            "doc_id",
            F.col("match_id").cast("bigint").alias("match_id"),
            "est_jaccard",
            F.when(F.col("match_id").isNotNull(), "duplicate")
            .otherwise("new")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_containment — asymmetric doc-in-doc detection (one-sided overlap)
#
# Jaccard misses the quote/wrapper case: a short doc fully embedded in a
# long one scores |A|/|B| ~ 0 even though the small doc is 100%
# contained. Containment C(A,B) = |A n B| / |A| is the standard fix
# (Broder's containment sketch; the dedup literature's "doc-in-doc").
# Same scale discipline as dedup_ngram_jaccard: stop-shingles (df >
# MAX_DF) leave the pairing universe, so each surviving shingle
# contributes at most C(MAX_DF, 2) candidate pairs — candidate
# generation stays an equi-join on the shingle, never O(n^2). The
# report is directional: for every unordered candidate pair the
# SMALLER rare-set side is the containee, and only pairs whose
# containment clears CONTAIN_TAU survive.
# ---------------------------------------------------------------------------

CONTAIN_TAU = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided containment over discriminative (rare) shingles: pair
    same-language docs sharing a rare shingle, compute shared / |small
    side|, keep pairs over CONTAIN_TAU. The exact integer division is
    emitted as one double (engine-identical by construction)."""
    # persist BOTH reused subtrees: docsh feeds df_counts AND the join
    # probe side — the shingle explode is the dominant CPU at scale
    # (~95 s over 500k docs at the sf10 upscale) and an unpersisted plan
    # runs it twice (and the rare set three more times through sizes +
    # both self-join sides; measured 225.8 s -> 40.0 s).
    docsh = query_persist(doc_shingles(spark, sf_dir))
    rare = query_persist(docsh.join(
        docsh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= MAX_DF)),
        "shingle",
    ).select("doc_id", "lang", "shingle"))
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = rare.alias("a"), rare.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    paired = (
        shared.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"),
            "doc_b",
        )
    )
    small_is_a = (F.col("sz_a") < F.col("sz_b")) | (
        (F.col("sz_a") == F.col("sz_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    containee = F.when(small_is_a, F.col("doc_a")).otherwise(F.col("doc_b"))
    container = F.when(small_is_a, F.col("doc_b")).otherwise(F.col("doc_a"))
    sz_small = F.when(small_is_a, F.col("sz_a")).otherwise(F.col("sz_b"))
    return (
        paired.select(
            containee.alias("containee"),
            container.alias("container"),
            F.col("shared").cast("bigint").alias("shared"),
            sz_small.cast("bigint").alias("sz_containee"),
            (F.col("shared") / sz_small.cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAIN_TAU)
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH docsh AS ({DOCSH_SQL}),
dfc AS (SELECT shingle, COUNT(*) AS df FROM docsh GROUP BY 1),
rare AS (
  SELECT d.doc_id, d.lang, d.shingle
  FROM docsh d JOIN dfc ON d.shingle = dfc.shingle
  WHERE dfc.df BETWEEN 2 AND {MAX_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM rare GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM rare a JOIN rare b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
paired AS (
  SELECT doc_a, doc_b, shared, sa.sz AS sz_a, sb.sz AS sz_b,
         (sa.sz < sb.sz OR (sa.sz = sb.sz AND doc_a < doc_b)) AS small_is_a
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT CASE WHEN small_is_a THEN doc_a ELSE doc_b END AS containee,
       CASE WHEN small_is_a THEN doc_b ELSE doc_a END AS container,
       CAST(shared AS BIGINT) AS shared,
       CAST(CASE WHEN small_is_a THEN sz_a ELSE sz_b END AS BIGINT) AS sz_containee,
       shared / CAST(CASE WHEN small_is_a THEN sz_a ELSE sz_b END AS DOUBLE) AS containment
FROM paired
WHERE shared / CAST(CASE WHEN small_is_a THEN sz_a ELSE sz_b END AS DOUBLE) >= {CONTAIN_TAU}
"""
