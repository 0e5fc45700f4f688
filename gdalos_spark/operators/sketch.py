"""Deterministic cardinality sketches: HyperLogLog and KMV distinct-count
estimators, built entirely from the portable md5 hash family so BOTH
engines compute bit-identical registers and estimates.

Why sketches are first-class at 100 TB: COUNT(DISTINCT high_cardinality)
shuffles every distinct key; an HLL shuffles 256 BIGINT registers per
group (mergeable across partitions, days, and clusters), and KMV ships k
integers. Production engines hide these behind approx_count_distinct —
which is NOT cross-engine deterministic (Spark's HLL++ and DuckDB's HLL
hash differently), so the oracle-gated versions here rebuild the sketch
from first principles:

    h        = md5-derived 60-bit integer of the counted key
    bucket   = h mod 256                  (m = 256 registers)
    w        = (h div 256) mod 2^32       (32-bit tail)
    rho      = 33 - bitlength(w)          (leading-zero rank, 1..33)
    register = max(rho) per bucket

The estimate avoids every source of cross-engine float divergence:
sum(2^-register) is computed as the EXACT integer S = sum(2^(33-reg))
(+ 2^33 per never-hit bucket), and the raw value is one IEEE division
of two exactly-represented numbers: alpha_m*m^2*2^33 / S — identical on
any IEEE-754 engine. The standard small-range correction (linear
counting when raw <= 2.5m and empty buckets exist) needs ln(m/V);
engine libm is banned (ln is not correctly rounded), so it reuses the
integer-argument polynomial log2 from text_unigram_logprob:
LC = m*ln2*(log2(m) - log2(V)) with log2(256) = 8 exact. No libm, no
float accumulation anywhere.

Counted entity: distinct (user_id, activity day) pairs per event_type —
the "daily active users per type" question at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gdalos_spark.datamodel import load
from gdalos_spark.functions import hashing

HLL_M = 256
# alpha_256 * m^2 * 2^33, precomputed host-side; both engines parse the
# same decimal literal to the same double.
_ALPHA_256 = 0.7213 / (1.0 + 1.079 / HLL_M)
HLL_NUM = repr(_ALPHA_256 * HLL_M * HLL_M * 2.0**33)
# m * ln(2) for the linear-counting branch, and its activation bound 2.5m
import math as _math

HLL_LN2M = repr(HLL_M * _math.log(2.0))
HLL_LC_BOUND = repr(2.5 * HLL_M)

KMV_K = 64
# (k-1) * 2^60 as an exactly-representable double literal
KMV_NUM = repr(float((KMV_K - 1) * 2**60))


def _keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h) with h the 60-bit hash of the user-day key."""
    ev = load(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    key = F.concat_ws("-", F.col("user_id"), day)
    return ev.select("event_type", hashing.md5_int60(key).alias("h"))


_KEYED_SQL = (
    "SELECT event_type, "
    + hashing.md5_int60_sql("(user_id || '-' || (epoch_us(ts) // 86400000000))")
    + " AS h FROM events"
)


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-256 distinct user-days per event_type, next to the exact count.

    ONE shuffle: keys group straight to (event_type, bucket); the
    per-bucket COUNT(DISTINCT h) rolls up to the exact total because a
    key's bucket is a function of the key. Register table = 256 rows per
    group — the thing that merges for free across 1000 executors.
    """
    keyed = _keyed(spark, sf_dir)
    reg = keyed.select(
        "event_type",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr("(h div 256) % 4294967296").alias("w"),
        "h",
    ).withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(33)).otherwise(
            F.lit(33) - F.length(F.expr("bin(w)"))
        ),
    )
    buckets = reg.groupBy("event_type", "bucket").agg(
        F.max("rho").alias("r"), F.countDistinct("h").alias("nd")
    )
    per_type = buckets.groupBy("event_type").agg(
        F.sum("nd").cast("bigint").alias("n_exact"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), 33 - r)"))
        .cast("bigint")
        .alias("s_present"),
        F.count(F.lit(1)).alias("nb"),
    )
    s = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("nb")) * F.lit(2**33).cast("bigint")
    ).alias("s")
    raw = per_type.select(
        "event_type",
        "n_exact",
        (F.lit(HLL_M) - F.col("nb")).cast("bigint").alias("v"),
        (F.lit(float(HLL_NUM)) / s.cast("double")).alias("hll_raw"),
    )
    # linear-counting branch: log2(V) via the shared polynomial (the CASE
    # below ignores its value when V = 0, where bin(0) makes it garbage —
    # deterministically the same garbage on both engines)
    from gdalos_spark.operators.text import _log2_col

    raw = _log2_col(raw, "greatest(v, 1)", "lg_v")
    est = F.when(
        (F.col("hll_raw") <= F.lit(float(HLL_LC_BOUND))) & (F.col("v") > 0),
        F.lit(float(HLL_LN2M)) * (F.lit(8.0) - F.col("lg_v")),
    ).otherwise(F.col("hll_raw"))
    out = raw.select(
        "event_type",
        "n_exact",
        F.col("v").alias("empty_buckets"),
        "hll_raw",
        est.alias("hll_estimate"),
    )
    return out.withColumn(
        "rel_err",
        (F.col("hll_estimate") - F.col("n_exact").cast("double"))
        / F.col("n_exact").cast("double"),
    )


def _hll_sql() -> str:
    from gdalos_spark.operators.text import _log2_lateral_sql

    return f"""
WITH keyed AS ({_KEYED_SQL}),
reg AS (
  SELECT event_type, h % {HLL_M} AS bucket,
         CASE WHEN (h // 256) % 4294967296 = 0 THEN 33
              ELSE 33 - length(bin((h // 256) % 4294967296)) END AS rho,
         h
  FROM keyed
),
buckets AS (
  SELECT event_type, bucket, MAX(rho) AS r, COUNT(DISTINCT h) AS nd
  FROM reg GROUP BY 1, 2
),
per_type AS (
  SELECT event_type,
         CAST(SUM(nd) AS BIGINT) AS n_exact,
         CAST(SUM(CAST(1 AS BIGINT) << (33 - r)) AS BIGINT) AS s_present,
         COUNT(*) AS nb
  FROM buckets GROUP BY 1
),
raw AS (
  SELECT event_type, n_exact,
         CAST({HLL_M} - nb AS BIGINT) AS v,
         {HLL_NUM} / CAST(s_present + ({HLL_M} - nb) * CAST(8589934592 AS BIGINT) AS DOUBLE)
           AS hll_raw
  FROM per_type
),
lg AS (
  SELECT event_type, n_exact, v, hll_raw,
         {_log2_lateral_sql("greatest(v, 1)", "lg_v")}
  FROM raw
),
est AS (
  SELECT event_type, n_exact, v AS empty_buckets, hll_raw,
         CASE WHEN hll_raw <= {HLL_LC_BOUND} AND v > 0
              THEN {HLL_LN2M} * (8.0 - lg_v)
              ELSE hll_raw END AS hll_estimate
  FROM lg
)
SELECT event_type, n_exact, empty_buckets, hll_raw, hll_estimate,
       (hll_estimate - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) AS rel_err
FROM est
"""


SKETCH_HLL_DISTINCT_SQL = _hll_sql()


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k minimum values, k=64) distinct user-days per event_type.

    The k smallest distinct hashes per group are an order statistic:
    estimate = (k-1) * 2^60 / h_k. Ships k integers per group instead of
    every distinct key. Degenerates to the exact count when a group has
    fewer than k distinct keys (estimate = n_exact by definition there).
    """
    keyed = _keyed(spark, sf_dir).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = keyed.withColumn("rn", F.row_number().over(w))
    stats = keyed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    kth = (
        ranked.filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("k_eff"))
    )
    out = stats.join(kth, "event_type")
    est = F.when(
        F.col("k_eff") < KMV_K, F.col("n_exact").cast("double")
    ).otherwise(F.lit(float(KMV_NUM)) / F.col("h_k").cast("double"))
    return out.select(
        "event_type",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        est.alias("kmv_estimate"),
    ).withColumn(
        "rel_err",
        (F.col("kmv_estimate") - F.col("n_exact").cast("double"))
        / F.col("n_exact").cast("double"),
    )


SKETCH_KMV_DISTINCT_SQL = f"""
WITH keyed AS (SELECT DISTINCT event_type, h FROM ({_KEYED_SQL})),
ranked AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM keyed
),
stats AS (SELECT event_type, COUNT(*) AS n_exact FROM keyed GROUP BY 1),
kth AS (
  SELECT event_type, MAX(h) AS h_k, COUNT(*) AS k_eff
  FROM ranked WHERE rn <= {KMV_K} GROUP BY 1
)
SELECT s.event_type, CAST(s.n_exact AS BIGINT) AS n_exact,
       CASE WHEN k.k_eff < {KMV_K} THEN CAST(s.n_exact AS DOUBLE)
            ELSE {KMV_NUM} / CAST(k.h_k AS DOUBLE) END AS kmv_estimate,
       (CASE WHEN k.k_eff < {KMV_K} THEN CAST(s.n_exact AS DOUBLE)
             ELSE {KMV_NUM} / CAST(k.h_k AS DOUBLE) END
        - CAST(s.n_exact AS DOUBLE)) / CAST(s.n_exact AS DOUBLE) AS rel_err
FROM stats s JOIN kth k USING (event_type)
"""


# ---------------------------------------------------------------------------
# sketch_kmv_jaccard — KMV set-operation estimates between groups
# ---------------------------------------------------------------------------


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard similarity between the user-day audiences of every pair of
    event types — estimated from KMV sketches, next to the exact value.

    The KMV theta-sketch trick: for a pair (A, B), keep the k smallest
    distinct hashes of A ∪ B; with K the k-th smallest, the fraction of
    those k that belong to BOTH sets is an unbiased Jaccard estimate.
    Set ops on sketches never touch the raw key space — at 100 TB the
    per-group sketches are k integers, and every pairwise similarity in
    a catalog of segments costs O(pairs * k), not O(pairs * |keys|).

    Fan-out is bounded by construction: a (type, h) row joins the
    |types|-1 pairs containing its type (equi-joins on the type columns,
    unioned), so candidate size is rows * (groups-1) — never quadratic
    in keys. The exact intersection/union ride along for the error
    report, same pattern as the other sketch ops.
    """
    keyed = _keyed(spark, sf_dir).distinct()
    types = keyed.select(F.col("event_type").alias("t")).distinct()
    pairs = (
        types.crossJoin(types.select(F.col("t").alias("t2")))
        .filter(F.col("t") < F.col("t2"))
        .select(F.col("t").alias("type_a"), F.col("t2").alias("type_b"))
    )
    side_a = keyed.join(
        pairs, keyed.event_type == pairs.type_a
    ).select("type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = keyed.join(
        pairs, keyed.event_type == pairs.type_b
    ).select("type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    member = (
        side_a.unionByName(side_b)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("h")
    ranked = member.withColumn("rn", F.row_number().over(w))
    out = ranked.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_inter"),
        F.sum(F.when(F.col("rn") <= KMV_K, 1).otherwise(0)).alias("k_eff"),
        F.sum(
            F.when((F.col("rn") <= KMV_K) & (F.col("in_a") * F.col("in_b") == 1), 1)
            .otherwise(0)
        ).alias("k_both"),
    )
    return out.select(
        "type_a",
        "type_b",
        "n_union",
        "n_inter",
        (F.col("n_inter").cast("double") / F.col("n_union").cast("double")).alias(
            "jaccard_exact"
        ),
        (F.col("k_both").cast("double") / F.col("k_eff").cast("double")).alias(
            "jaccard_kmv"
        ),
    ).withColumn("err", F.col("jaccard_kmv") - F.col("jaccard_exact"))


SKETCH_KMV_JACCARD_SQL = f"""
WITH keyed AS (SELECT DISTINCT event_type, h FROM ({_KEYED_SQL})),
types AS (SELECT DISTINCT event_type AS t FROM keyed),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b
  FROM types a JOIN types b ON a.t < b.t
),
member AS (
  SELECT type_a, type_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
    SELECT p.type_a, p.type_b, k.h, 1 AS in_a, 0 AS in_b
    FROM keyed k JOIN pairs p ON k.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, k.h, 0 AS in_a, 1 AS in_b
    FROM keyed k JOIN pairs p ON k.event_type = p.type_b
  ) GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
  FROM member
),
agg AS (
  SELECT type_a, type_b,
         CAST(COUNT(*) AS BIGINT) AS n_union,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter,
         SUM(CASE WHEN rn <= {KMV_K} THEN 1 ELSE 0 END) AS k_eff,
         SUM(CASE WHEN rn <= {KMV_K} AND in_a * in_b = 1 THEN 1 ELSE 0 END) AS k_both
  FROM ranked GROUP BY 1, 2
)
SELECT type_a, type_b, n_union, n_inter,
       CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_exact,
       CAST(k_both AS DOUBLE) / CAST(k_eff AS DOUBLE) AS jaccard_kmv,
       CAST(k_both AS DOUBLE) / CAST(k_eff AS DOUBLE)
         - CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS err
FROM agg
"""


# ---------------------------------------------------------------------------
# lsh_parameter_planner — MinHash-LSH (bands, rows) capture-probability
#     curves, the tuning table behind dedup_minhash_lsh's 4x4 choice
# ---------------------------------------------------------------------------

LSH_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows) with b*r = 16 perms
LSH_S_GRID = tuple(range(1, 20))  # jaccard grid s = 0.05 .. 0.95


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic table every MinHash deployment tunes from: for each
    (bands b, rows r) split of the permutation budget and each jaccard
    similarity s, the probability a pair lands in >=1 shared bucket:
    p = 1 - (1 - s^r)^b. Powers are INTEGER exponents, so they expand
    to repeated multiplication — no pow(), no exp/ln, bit-identical
    cross-engine. Pure projection over a 3x19 broadcast grid: zero
    shuffles, and the s50 threshold row ((1/b)^(1/r), the curve's
    midpoint — the only non-integer power) is intentionally reported as
    the bracketing grid cell instead, keeping the whole table exact.
    Corpus-independent but shipped with the engine because its output
    gates which (b, r) the dedup family runs at 100 TB."""
    configs = spark.createDataFrame(
        [(b, r) for b, r in LSH_CONFIGS], "bands int, rows int"
    )
    sgrid = spark.createDataFrame([(i,) for i in LSH_S_GRID], "s20 int")
    grid = configs.crossJoin(F.broadcast(sgrid))

    def ipow(base: "F.Column", exp: int) -> "F.Column":
        out = F.lit(1.0)
        for _ in range(exp):
            out = out * base
        return out

    s = F.col("s20").cast("double") / 20.0
    rows_map = {r for _, r in LSH_CONFIGS}
    sr = None
    for r in sorted(rows_map):
        term = ipow(s, r)
        sr = term if sr is None else F.when(F.col("rows") == r, ipow(s, r)).otherwise(sr)
    # (1 - s^r)^b with b from the config row — expand per distinct b
    miss = F.lit(1.0) - sr
    bands_map = sorted({b for b, _ in LSH_CONFIGS})
    pmiss = None
    for bnd in bands_map:
        term = ipow(miss, bnd)
        pmiss = term if pmiss is None else F.when(F.col("bands") == bnd, ipow(miss, bnd)).otherwise(pmiss)
    return grid.select(
        "bands",
        "rows",
        F.round(s, 2).alias("jaccard"),
        (F.lit(1.0) - pmiss).alias("p_capture"),
    ).orderBy("bands", "jaccard")


def _lsh_planner_sql() -> str:
    def ipow(base: str, exp: int) -> str:
        return "(" + " * ".join([base] * exp) + ")"

    cfg = " UNION ALL ".join(
        f"SELECT {b} AS bands, {r} AS rows" for b, r in LSH_CONFIGS
    )
    sr_cases = " ".join(
        f"WHEN rows = {r} THEN {ipow('s', r)}"
        for r in sorted({r for _, r in LSH_CONFIGS})
    )
    pm_cases = " ".join(
        f"WHEN bands = {b} THEN {ipow('miss', b)}"
        for b in sorted({b for b, _ in LSH_CONFIGS})
    )
    return f"""
WITH cfg AS ({cfg}),
sg AS (SELECT unnest(range(1, 20)) AS s20),
grid AS (SELECT bands, rows, CAST(s20 AS DOUBLE) / 20.0 AS s FROM cfg CROSS JOIN sg),
sr AS (SELECT bands, rows, s, CASE {sr_cases} END AS srv FROM grid),
pm AS (SELECT bands, rows, s, (1.0 - srv) AS miss FROM sr),
fin AS (SELECT bands, rows, s, CASE {pm_cases} END AS pmiss FROM pm)
SELECT CAST(bands AS INTEGER) AS bands, CAST(rows AS INTEGER) AS rows,
       ROUND(s, 2) AS jaccard, (1.0 - pmiss) AS p_capture
FROM fin
ORDER BY bands, jaccard
"""


LSH_PARAMETER_PLANNER_SQL = _lsh_planner_sql()
