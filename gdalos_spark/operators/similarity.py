"""Similarity-search operators over the `embeddings` table (SURVEY §2
#33-35): brute-force cosine top-k (oracle baseline), sign-LSH bucketed
top-k (the scale path), and per-label centroid similarity.

All float reductions are ordered array folds (functions/vectors.py) so
values are bit-identical to the DuckDB oracle; cosines are rounded to
6 dp BEFORE ranking so orderings agree across engines. Terminal columns
are BIGINT/INT/DOUBLE only.

The reference has no vector search; the nearest analogue is its AOI
dataset selection (gdalos_selector.py picks the best-resolution dataset
containing a point — a 1-NN by coverage). These operators are the
LLM-pipeline extension the brief makes first-class.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gdalos_spark.datamodel import load, query_checkpoint, query_persist, split_for_cpu
from gdalos_spark.functions import vectors

N_PROBES = 10  # probe set = vec_id < N_PROBES
TOP_K = 5


def _base(
    spark: SparkSession,
    sf_dir: str,
    with_bucket: bool = False,
    with_label: bool = False,
) -> DataFrame:
    # embeddings parquet compresses to ~1 input split even at a 200k-row
    # upscale; the per-row fold-cosine math is CPU-bound, so re-split
    # across cores first (no-op when the scan already has splits)
    emb = split_for_cpu(load(spark, sf_dir, "embeddings"), "vec_id")
    cols = [
        F.col("vec_id"),
        F.col("embedding").alias("emb"),
        vectors.norm2(F.col("embedding")).alias("n2"),
    ]
    if with_bucket:
        cols.append(vectors.lsh_bucket(F.col("embedding")).alias("bucket"))
    if with_label:
        cols.append(F.col("label"))
    return emb.select(*cols)


def _pair_cos() -> F.Column:
    return F.round(
        vectors.dot(vectors.emb_double(F.col("emb")), vectors.emb_double(F.col("p_emb")))
        / F.sqrt(F.col("n2") * F.col("p_n2")),
        6,
    )


# ---------------------------------------------------------------------------
# 33. ann_cosine_topk — brute-force baseline, broadcast probe set
# ---------------------------------------------------------------------------


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k against a broadcast probe set. The corpus scan
    never shuffles for scoring (BroadcastNestedLoopJoin against the tiny
    probe side); ranking is row_number over probe — Spark's
    WindowGroupLimit pushes the rank<=k filter into a per-partition
    partial top-k before the shuffle, so the plan is the declarative
    two-phase top-k."""
    base = _base(spark, sf_dir)
    probes = base.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p_emb"),
        F.col("n2").alias("p_n2"),
    )
    scored = (
        base.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", _pair_cos().alias("cosine"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


def _ann_sql(bucketed: bool) -> str:
    n2 = vectors.norm2_sql("embedding")
    cos = f"ROUND({vectors.dot_sql('c.emb', 'p.p_emb')} / sqrt(c.n2 * p.p_n2), 6)"
    bucket_col = f", {vectors.lsh_bucket_sql('embedding')} AS bucket" if bucketed else ""
    join = (
        "c.bucket = p.p_bucket AND c.vec_id <> p.probe_id"
        if bucketed
        else "c.vec_id <> p.probe_id"
    )
    p_bucket = ", bucket AS p_bucket" if bucketed else ""
    return f"""
WITH base AS (
  SELECT vec_id, embedding AS emb, {n2} AS n2{bucket_col}
  FROM embeddings
),
probes AS (
  SELECT vec_id AS probe_id, emb AS p_emb, n2 AS p_n2{p_bucket}
  FROM base WHERE vec_id < {N_PROBES}
),
scored AS (
  SELECT p.probe_id, c.vec_id, {cos} AS cosine
  FROM base c JOIN probes p ON {join}
),
ranked AS (
  SELECT probe_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


ANN_COSINE_TOPK_SQL = _ann_sql(bucketed=False)

# ---------------------------------------------------------------------------
# 34. ann_lsh_topk — sign-LSH bucketed top-k (the 100-TB path)
# ---------------------------------------------------------------------------


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's sign-LSH
    bucket, so the scored set is corpus/2^planes per probe instead of the
    whole corpus — the join is an equi-join on the bucket id. Recall is
    traded for a 2^planes fan-in reduction; rank semantics match the
    brute-force baseline within the bucket."""
    base = _base(spark, sf_dir, with_bucket=True)
    probes = base.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p_emb"),
        F.col("n2").alias("p_n2"),
        F.col("bucket").alias("p_bucket"),
    )
    scored = (
        base.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("p_bucket")) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select("probe_id", "vec_id", _pair_cos().alias("cosine"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


ANN_LSH_TOPK_SQL = _ann_sql(bucketed=True)

# ---------------------------------------------------------------------------
# 35. centroid_similarity — per-label centroid, cosine of each vector to
#     its own label's centroid
# ---------------------------------------------------------------------------

_SCALE = 1_000_000_000  # float -> integer nano-units for exact grouped sums


def centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass plan: (1) per-label centroid via EXACT integer sums —
    floats are scaled to nano-unit BIGINTs first, because grouped float
    addition is unordered and nondeterministic across engines; (2) each
    vector joins its label centroid (tiny, broadcast) and takes an
    ordered-fold cosine. At 100 TB pass 1 is one partial-agg shuffle on
    (label, pos) and pass 2 is a broadcast join — no re-shuffle of the
    vectors."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        "pos",
        F.round(F.col("v").cast("double") * _SCALE, 0).cast("bigint").alias("micro"),
    )
    cent_flat = flat.groupBy("label", "pos").agg(
        (F.sum("micro").cast("double") / (F.count(F.lit(1)) * F.lit(float(_SCALE)))).alias("c")
    )
    centroids = cent_flat.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cent")
    )
    base = emb.select(
        "vec_id", "label", F.col("embedding").alias("emb"),
        vectors.norm2(F.col("embedding")).alias("n2"),
    )
    joined = base.join(F.broadcast(centroids), "label")
    cos = F.round(
        vectors.dot(vectors.emb_double(F.col("emb")), F.col("cent"))
        / (F.sqrt(F.col("n2")) * F.sqrt(vectors.fold_sum(F.transform(F.col("cent"), lambda x: x * x)))),
        6,
    )
    return joined.select("vec_id", "label", cos.alias("cos_centroid"))


def _centroid_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    pair_dot = vectors.dot_sql("b.emb", "c.cent", dim=vectors.EMB_DIM)
    cent_n2 = vectors.norm2_sql("c.cent")
    return f"""
WITH flat AS (
  SELECT vec_id, label, pos,
         CAST(ROUND(CAST(embedding[pos] AS DOUBLE) * {_SCALE}, 0) AS BIGINT) AS micro
  FROM embeddings, (SELECT unnest(range(1, {vectors.EMB_DIM + 1})) AS pos)
),
cent_flat AS (
  SELECT label, pos,
         CAST(SUM(micro) AS DOUBLE) / (COUNT(*) * {float(_SCALE)}) AS c
  FROM flat GROUP BY label, pos
),
centroids AS (
  SELECT label, list(c ORDER BY pos) AS cent FROM cent_flat GROUP BY label
),
base AS (
  SELECT vec_id, label, embedding AS emb, {n2} AS n2 FROM embeddings
)
SELECT b.vec_id, b.label,
       ROUND({pair_dot} / (sqrt(b.n2) * sqrt({cent_n2})), 6) AS cos_centroid
FROM base b JOIN centroids c ON b.label = c.label
"""


CENTROID_SIMILARITY_SQL = _centroid_sql()

# ---------------------------------------------------------------------------
# 45. ann_ivf_topk — IVF: coarse-quantize by nearest centroid, probe the
#     nprobe nearest inverted lists
# ---------------------------------------------------------------------------

IVF_NPROBE = 2


def _emb_groups(spark: SparkSession, sf_dir: str):
    """THE shared identical-vector collapse for this module: ``gm`` is
    the narrow (vec_id, gid) membership map, ``reps`` one raw-array row
    per DISTINCT vector. Both are persisted, and every consumer builds
    the exact same plan, so Spark's plan-keyed cache computes the
    embedding-partition window once per query however many IVF/PQ
    operators it composes."""
    gmw = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.min("vec_id").over(Window.partitionBy("embedding")).alias("gid"),
        "embedding",
    )
    gm = query_persist(gmw.select("vec_id", "gid"))
    reps = query_persist(gmw.filter(F.col("vec_id") == F.col("gid")).select(
        "gid", "embedding"
    ))
    return gm, reps


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(list_id, cent): the coarse quantizer — per-label centroids from
    exact nano-unit integer per-dim sums (bit-identical across
    engines). Shared by the IVF candidate stage and the residual-PQ
    encoder."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label", "pos",
        F.round(F.col("v").cast("double") * _SCALE, 0).cast("bigint").alias("micro"),
    )
    cent_flat = flat.groupBy("label", "pos").agg(
        (F.sum("micro").cast("double") / (F.count(F.lit(1)) * F.lit(float(_SCALE)))).alias("c")
    )
    return cent_flat.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cent")
    ).select(F.col("label").alias("list_id"), "cent")


def _ivf_parts(spark: SparkSession, sf_dir: str):
    """The collapsed IVF building blocks — identical-vector collapse
    applied to the coarse quantizer (ccos/crank are pure functions of
    the embedding array, so centroid scoring and ranking run once per
    DISTINCT vector; replica corpora: 2000 of 200k):

    * ``gm``      — (vec_id, gid) membership map, gid = min vec_id of
      the identical-vector group;
    * ``reps``    — (gid, r_emb, r_n2) one full-width row per distinct
      vector (the only place raw arrays live);
    * ``crank_g`` — (gid, list_id, ccos, crank) per-group centroid
      ranking.
    """
    centroids = _ivf_centroids(spark, sf_dir)
    gm, groups = _emb_groups(spark, sf_dir)
    reps = groups.select(
        "gid",
        F.col("embedding").alias("r_emb"),
        vectors.norm2(F.col("embedding")).alias("r_n2"),
    )
    ccos = F.round(
        vectors.dot(vectors.emb_double(F.col("r_emb")), F.col("cent"))
        / (F.sqrt(F.col("r_n2")) * F.sqrt(vectors.fold_sum(F.transform(F.col("cent"), lambda x: x * x)))),
        6,
    )
    wg = Window.partitionBy("gid").orderBy(F.desc("ccos"), F.asc("list_id"))
    crank_g = (
        reps.crossJoin(F.broadcast(centroids))
        .select("gid", "list_id", ccos.alias("ccos"))
        .withColumn("crank", F.row_number().over(wg))
    )
    return gm, reps, crank_g


def _ivf_topk_impl(spark: SparkSession, sf_dir: str, massign: int) -> DataFrame:
    """Shared IVF search plan; `massign` = how many nearest lists each
    VECTOR is indexed under (1 = classic IVF; 2 = soft/multi-assignment,
    a 2x index that lifts the exact-in-list ceiling with NO search-time
    cost change — the probe still scans the same nprobe lists, and
    duplicate candidates collapse via one DISTINCT on the narrow
    (probe_id, gid, cosine) stream before ranking)."""
    gm, reps, crank_g = _ivf_parts(spark, sf_dir)
    crank_g = query_persist(crank_g)
    assign_g = crank_g.filter(F.col("crank") <= massign).select("gid", "list_id")
    probe_gids = gm.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("gid").alias("p_gid")
    )
    plists = (
        probe_gids.join(
            crank_g.filter(F.col("crank") <= IVF_NPROBE),
            probe_gids.p_gid == crank_g.gid,
        )
        .join(reps, "gid")
        .select(
            "probe_id",
            F.col("r_emb").alias("p_emb"),
            F.col("r_n2").alias("p_n2"),
            "list_id",
        )
    )
    pair_cos = F.round(
        vectors.dot(vectors.emb_double(F.col("r_emb")), vectors.emb_double(F.col("p_emb")))
        / F.sqrt(F.col("r_n2") * F.col("p_n2")),
        6,
    )
    # plists is bounded by N_PROBES * IVF_NPROBE rows — always broadcast.
    # reps is NOT hinted: on a replica-free corpus the distinct-vector set
    # is essentially the whole embeddings table (full raw arrays), and a
    # forced broadcast would OOM the driver at scale. Unhinted, the gid
    # equi-join shuffles only once and AQE still picks broadcast when the
    # rep set is genuinely small (ADVICE r5).
    cand_g = (
        assign_g.join(F.broadcast(plists), "list_id")
        .join(reps, "gid")
        .select("probe_id", "gid", pair_cos.alias("cosine"))
    )
    if massign > 1:
        cand_g = cand_g.distinct()
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand_g.join(gm, "gid")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", "cosine")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: the per-label centroids act as the coarse
    codebook; every vector lands in the inverted list of its nearest
    centroid (crank=1), and each probe searches its IVF_NPROBE nearest
    lists. Candidate generation is an equi-join on list_id — the scored
    set per probe is ~nprobe/|lists| of the corpus. All centroid and
    cosine math is the exact portable form used by centroid_similarity.

    Executes fully collapsed: pair cosines are computed once per
    (probe, distinct vector), and only the narrow (probe_id, gid,
    cosine) stream expands through the member map for ranking. The rep
    table (the ONLY full-width stream) is exchanged exactly once, by
    gid, for the candidate join — never broadcast-hinted, since on a
    replica-free corpus it is essentially the whole embeddings table
    (AQE still broadcasts small rep sets at runtime)."""
    return _ivf_topk_impl(spark, sf_dir, massign=1)


IVF_MASSIGN = 2  # soft-assignment arity of the multi-assignment arm


def ann_ivf_ma_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with 2-way multi-assignment: every vector is indexed under
    its IVF_MASSIGN nearest lists. The ann_recall_report numbers showed
    the single-assignment exact-in-list ceiling (~0.71) binds recall —
    not PQ quantization — so the fix is on the INDEX side: 2x index
    rows, zero extra search cost (same nprobe lists per probe)."""
    return _ivf_topk_impl(spark, sf_dir, massign=IVF_MASSIGN)


def _ivf_sql(massign: int = 1) -> str:
    n2 = vectors.norm2_sql("embedding")
    cent_dot = vectors.dot_sql("b.emb", "c.cent")
    cent_n2 = vectors.norm2_sql("c.cent")
    pair_cos = (
        f"ROUND({vectors.dot_sql('a.emb', 'p.p_emb')} / sqrt(a.n2 * p.p_n2), 6)"
    )
    assign_pred = "crank = 1" if massign == 1 else f"crank <= {massign}"
    cand_sel = "SELECT" if massign == 1 else "SELECT DISTINCT"
    return f"""
WITH flat AS (
  SELECT label, pos,
         CAST(ROUND(CAST(embedding[pos] AS DOUBLE) * {_SCALE}, 0) AS BIGINT) AS micro
  FROM embeddings, (SELECT unnest(range(1, {vectors.EMB_DIM + 1})) AS pos)
),
cent_flat AS (
  SELECT label, pos,
         CAST(SUM(micro) AS DOUBLE) / (COUNT(*) * {float(_SCALE)}) AS c
  FROM flat GROUP BY label, pos
),
centroids AS (
  SELECT label AS list_id, list(c ORDER BY pos) AS cent FROM cent_flat GROUP BY label
),
base AS (
  SELECT vec_id, embedding AS emb, {n2} AS n2 FROM embeddings
),
scored AS (
  SELECT b.vec_id, b.emb, b.n2, c.list_id,
         ROW_NUMBER() OVER (
           PARTITION BY b.vec_id
           ORDER BY ROUND({cent_dot} / (sqrt(b.n2) * sqrt({cent_n2})), 6) DESC, c.list_id ASC
         ) AS crank
  FROM base b CROSS JOIN centroids c
),
assign AS (SELECT vec_id, emb, n2, list_id FROM scored WHERE {assign_pred}),
plists AS (
  SELECT vec_id AS probe_id, emb AS p_emb, n2 AS p_n2, list_id
  FROM scored WHERE vec_id < {N_PROBES} AND crank <= {IVF_NPROBE}
),
cand AS (
  {cand_sel} p.probe_id, a.vec_id, {pair_cos} AS cosine
  FROM assign a JOIN plists p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.probe_id
),
ranked AS (
  SELECT probe_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM cand
)
SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


ANN_IVF_TOPK_SQL = _ivf_sql()

ANN_IVF_MA_TOPK_SQL = _ivf_sql(massign=IVF_MASSIGN)


# ---------------------------------------------------------------------------
# 61. ann_recall_report — recall@k of the approximate paths vs brute force
# ---------------------------------------------------------------------------


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard ANN quality report: per probe, what fraction of the
    brute-force top-k (ground truth) does each approximate method (sign-
    LSH bucket, IVF nprobe=2) return? recall@k = |approx ∩ truth| / k.
    The joins are on (probe_id, vec_id) — tiny result sets, trivially
    broadcast; this is the evaluation harness a pipeline runs on a
    sampled probe set before trusting the approximate path at 100 TB."""
    truth = ann_cosine_topk(spark, sf_dir).select("probe_id", "vec_id")
    reports = []
    for method, fn in (
        ("lsh", ann_lsh_topk),
        ("ivf", ann_ivf_topk),
        ("ivf_ma", ann_ivf_ma_topk),
        ("ivfpq", ann_ivfpq_topk),
        ("ivfpq_t", ann_ivfpq_trained_topk),
        ("ivfpq_r", ann_ivfpq_residual_topk),
    ):
        approx = fn(spark, sf_dir).select(
            "probe_id", "vec_id", F.lit(1).alias("hit")
        )
        joined = truth.join(approx, ["probe_id", "vec_id"], "left")
        rep = joined.groupBy("probe_id").agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        )
        reports.append(
            rep.select(
                F.lit(method).alias("method"),
                "probe_id",
                "n_truth",
                "n_hits",
                F.round(F.col("n_hits") / F.col("n_truth").cast("double"), 6).alias("recall"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _recall_one(method: str, sql: str) -> str:
    return f"""
SELECT '{method}' AS method, t.probe_id,
       COUNT(*) AS n_truth,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
FROM ({ANN_COSINE_TOPK_SQL}) t
LEFT JOIN ({sql}) a ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
GROUP BY t.probe_id"""


# the ivfpq arm is appended once ANN_IVFPQ_TOPK_SQL exists (end of module)
ANN_RECALL_REPORT_SQL = (
    _recall_one("lsh", ANN_LSH_TOPK_SQL)
    + "\nUNION ALL\n"
    + _recall_one("ivf", ANN_IVF_TOPK_SQL)
    + "\nUNION ALL\n"
    + _recall_one("ivf_ma", ANN_IVF_MA_TOPK_SQL)
)


# ---------------------------------------------------------------------------
# 85. embedding_quantize_int8 — scalar int8 quantization + error report
#     (the standard embedding-compression step before ANN at 100 TB:
#     4x smaller vectors, index fits in a quarter of the memory)
# ---------------------------------------------------------------------------


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|/127,
    q = clamp(round(x/scale)), with the reconstruction-error report that
    decides whether the compressed index is usable. Everything is
    per-row array math (ordered folds, selection max) — zero shuffles,
    embarrassingly parallel, bit-identical across engines; round() is
    away-from-zero on halves in both."""
    emb = load(spark, sf_dir, "embeddings")
    arr = vectors.emb_double(F.col("embedding"))
    df = emb.select("vec_id", arr.alias("arr"))
    amax = F.array_max(F.transform(F.col("arr"), lambda x: F.abs(x)))
    df = df.select("vec_id", "arr", amax.alias("amax"))
    scale = F.when(F.col("amax") == 0.0, F.lit(1.0)).otherwise(F.col("amax") / 127.0)
    df = df.select("vec_id", "arr", "amax", scale.alias("scale"))
    q = F.transform(
        F.col("arr"),
        lambda x: F.least(
            F.greatest(F.round(x / F.col("scale")), F.lit(-127.0)), F.lit(127.0)
        ),
    )
    df = df.select("vec_id", "arr", "amax", "scale", q.alias("q"))
    err2 = vectors.fold_sum(
        F.zip_with(
            F.col("arr"), F.col("q"),
            lambda x, qi: (x - qi * F.col("scale")) * (x - qi * F.col("scale")),
        )
    )
    n_sat = F.size(F.filter(F.col("q"), lambda qi: F.abs(qi) >= 127.0))
    nrm2 = vectors.fold_sum(F.transform(F.col("arr"), lambda x: x * x))
    df = df.select(
        "vec_id", "amax", "scale",
        err2.alias("err2"), nrm2.alias("nrm2"),
        n_sat.cast("bigint").alias("n_saturated"),
    )
    rel = F.when(F.col("nrm2") > 0.0, F.sqrt(F.col("err2") / F.col("nrm2"))).otherwise(F.lit(0.0))
    return df.select(
        "vec_id", "amax", "scale", "err2", "n_saturated", rel.alias("rel_err")
    )


_Q_EXPR = (
    "least(greatest(round(CAST(embedding[j] AS DOUBLE) / scale), -127.0), 127.0)"
)

EMBEDDING_QUANTIZE_INT8_SQL = f"""
WITH t1 AS (
  SELECT vec_id, embedding,
         list_max(list_transform(range(1, {vectors.EMB_DIM + 1}),
                  j -> abs(CAST(embedding[j] AS DOUBLE)))) AS amax
  FROM embeddings
),
t2 AS (
  SELECT vec_id, embedding, amax,
         CASE WHEN amax = 0.0 THEN 1.0 ELSE amax / 127.0 END AS scale
  FROM t1
),
t3 AS (
  SELECT vec_id, amax, scale,
         list_sum(list_transform(range(1, {vectors.EMB_DIM + 1}),
           j -> (CAST(embedding[j] AS DOUBLE) - {_Q_EXPR} * scale)
              * (CAST(embedding[j] AS DOUBLE) - {_Q_EXPR} * scale))) AS err2,
         list_sum(list_transform(range(1, {vectors.EMB_DIM + 1}),
           j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))) AS nrm2,
         CAST(list_sum(list_transform(range(1, {vectors.EMB_DIM + 1}),
           j -> CASE WHEN abs({_Q_EXPR}) >= 127.0 THEN 1 ELSE 0 END)) AS BIGINT) AS n_saturated
  FROM t2
)
SELECT vec_id, amax, scale, err2, n_saturated,
       CASE WHEN nrm2 > 0.0 THEN sqrt(err2 / nrm2) ELSE 0.0 END AS rel_err
FROM t3
"""


# ---------------------------------------------------------------------------
# 98. embedding_pq — product quantization codes + reconstruction report
# ---------------------------------------------------------------------------

PQ_M = 4  # subvectors
PQ_SUB = vectors.EMB_DIM // PQ_M  # dims per subvector (16)
PQ_K = 16  # codewords per subspace


def _pq_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sub_id, sx): every embedding cut into PQ_M 16-dim
    double-cast subvector slices."""
    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", vectors.emb_double(F.col("embedding")).alias("emb")
    )
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("sub_id"))
    return base.crossJoin(F.broadcast(subs)).select(
        "vec_id", "sub_id",
        F.slice(F.col("emb"), F.col("sub_id") * PQ_SUB + 1, PQ_SUB).alias("sx"),
    )


def _pq_codebook(sliced: DataFrame) -> DataFrame:
    """Deterministic codebook: the subvectors of the first PQ_K vectors
    (kmeans_refine is the training step that would refine these seeds)."""
    return sliced.filter(F.col("vec_id") < PQ_K).select(
        F.col("sub_id").alias("c_sub"),
        F.col("vec_id").cast("int").alias("code"),
        F.col("sx").alias("cx"),
    )


def _pq_best(spark: SparkSession, sf_dir: str, codebook: DataFrame | None = None) -> DataFrame:
    """Per (vec_id, sub_id): the argmin codeword assignment and its
    micro-unit squared distance — the stored PQ codes of the index.
    `codebook` defaults to the seeded one; pass `_pq_trained_codebook`
    to encode against the k-means-trained codewords.
    Micro-unit integers: the per-(vec, sub) distance is rounded once to
    1e-6 and summed as BIGINT downstream, so cross-subspace totals never
    sum raw doubles through an unordered groupBy.

    Identical-vector collapse (the dedup_embedding_cosine lesson applied
    to the encoder): the code assignment is a pure function of the
    embedding array, so the PQ_M x PQ_K distance folds run once per
    DISTINCT vector and the assignments expand back through the
    (vec_id -> gid) map — on the sf10 replica corpus that is 2000
    encoder evaluations instead of 200k (measured 41 -> 3s), with every
    emitted row byte-identical to the uncollapsed join."""
    sliced = _pq_sliced(spark, sf_dir)
    if codebook is None:
        codebook = _pq_codebook(sliced)
    gm, groups = _emb_groups(spark, sf_dir)
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("sub_id"))
    rep_sliced = (
        groups.select("gid", vectors.emb_double(F.col("embedding")).alias("emb"))
        .crossJoin(F.broadcast(subs))
        .select(
            "gid", "sub_id",
            F.slice(F.col("emb"), F.col("sub_id") * PQ_SUB + 1, PQ_SUB).alias("sx"),
        )
    )
    d2 = vectors.fold_sum(
        F.zip_with(F.col("sx"), F.col("cx"), lambda a, b: (a - b) * (a - b))
    )
    scored = rep_sliced.join(
        F.broadcast(codebook), rep_sliced.sub_id == codebook.c_sub
    ).select(
        "gid", "sub_id", "code",
        F.round(d2 * 1_000_000.0).cast("bigint").alias("d2u"),
    )
    w = Window.partitionBy("gid", "sub_id").orderBy(F.asc("d2u"), F.asc("code"))
    best_g = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") == 1)
    return gm.select("vec_id", "gid").join(best_g, "gid").select(
        "vec_id", "sub_id", "code", "d2u", "rnk"
    )


def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization, the memory-side half of a production ANN
    index (IVF gives the candidate lists, PQ compresses residents to
    M log2(K) bits): the 64-dim embedding splits into PQ_M 16-dim
    subvectors, each assigned its nearest of PQ_K codewords by exact L2.
    The codebook is deterministic — the subvectors of the first PQ_K
    vectors (a real pipeline k-means-trains it; assignment, storage, and
    reconstruction mechanics are identical). Plan: one M*K-row broadcast
    codebook join + one (vec, sub) window argmin + one per-vector
    re-agg; the embedding table is scanned once and never shuffled at
    full width — only (vec_id, sub_id, code, partial error) rows move.

    Output per vector: the M code ids, compressed bits, and relative
    reconstruction error ||x - q(x)||^2 / ||x||^2 (round 6).
    """
    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", vectors.emb_double(F.col("embedding")).alias("emb")
    )
    best = _pq_best(spark, sf_dir)
    norms = base.select("vec_id", vectors.fold_sum(
        F.transform(F.col("emb"), lambda x: x * x)
    ).alias("n2"))
    agg = best.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("sub_id") == i, F.col("code"))).cast("int").alias(f"code{i}")
            for i in range(PQ_M)
        ],
        F.sum("d2u").alias("err2u"),
    )
    return agg.join(norms, "vec_id").select(
        "vec_id", *[f"code{i}" for i in range(PQ_M)],
        F.lit(PQ_M * 4).cast("int").alias("code_bits"),
        F.round((F.col("err2u").cast("double") / 1_000_000.0) / F.col("n2"), 6).alias("rel_err"),
    )


def _pq_sql() -> str:
    sub_slice = f"list_transform(range(1, {PQ_SUB + 1}), j -> CAST(embedding[sub_id * {PQ_SUB} + j] AS DOUBLE))"
    d2 = (
        f"list_sum(list_transform(range(1, {PQ_SUB + 1}), "
        f"j -> (sx[j] - cx[j]) * (sx[j] - cx[j])))"
    )
    return f"""
WITH subs AS (SELECT CAST(range AS INTEGER) AS sub_id FROM range({PQ_M})),
sliced AS (
  SELECT vec_id, sub_id, {sub_slice} AS sx
  FROM embeddings CROSS JOIN subs
),
codebook AS (
  SELECT sub_id AS c_sub, CAST(vec_id AS INTEGER) AS code, sx AS cx
  FROM sliced WHERE vec_id < {PQ_K}
),
scored AS (
  SELECT vec_id, sub_id, code,
         CAST(ROUND({d2} * 1000000.0) AS BIGINT) AS d2u
  FROM sliced s JOIN codebook c ON s.sub_id = c.c_sub
),
best AS (
  SELECT vec_id, sub_id, code, d2u FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d2u ASC, code ASC) AS rnk
    FROM scored
  ) WHERE rnk = 1
),
norms AS (
  SELECT vec_id, {vectors.norm2_sql("embedding")} AS n2 FROM embeddings
),
agg AS (
  SELECT vec_id,
         {", ".join(f"CAST(MAX(CASE WHEN sub_id = {i} THEN code END) AS INTEGER) AS code{i}" for i in range(PQ_M))},
         SUM(d2u) AS err2u
  FROM best GROUP BY vec_id
)
SELECT a.vec_id, {", ".join(f"code{i}" for i in range(PQ_M))},
       CAST({PQ_M * 4} AS INTEGER) AS code_bits,
       ROUND((CAST(err2u AS DOUBLE) / 1000000.0) / n2, 6) AS rel_err
FROM agg a JOIN norms n ON a.vec_id = n.vec_id
"""


EMBEDDING_PQ_SQL = _pq_sql()

# ---------------------------------------------------------------------------
# 101. kmeans_refine — one exact Lloyd iteration (codebook training step)
# ---------------------------------------------------------------------------

KM_K = 8  # clusters


def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) iteration over the embeddings — the training
    step that produces the coarse/IVF centroids and PQ codebooks the ANN
    operators consume (a production pipeline runs this a few dozen times;
    each iteration is this exact plan). Seeds are the first KM_K vectors.

    Plan: assignment is a KM_K-row broadcast join + per-vector window
    argmin on the integer micro-unit distance (the embedding table is
    scanned once, never shuffled at full width); the update step
    posexplodes assigned vectors to (cluster, dim) rows and sums element
    micro-units as BIGINT — exact under any aggregation order, so the
    recomputed means are engine-identical without float-sum luck.

    Per cluster: member count, inertia (sum of member distances^2), and
    the L1 shift between seed and recomputed centroid — the convergence
    signal a driver loop would test.
    """
    base = load(spark, sf_dir, "embeddings").select(
        "vec_id", vectors.emb_double(F.col("embedding")).alias("emb")
    )
    cents = base.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("emb").alias("cx")
    )
    d2 = vectors.fold_sum(F.zip_with(F.col("emb"), F.col("cx"), lambda a, b: (a - b) * (a - b)))
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id", "emb", "cid", F.round(d2 * 1_000_000.0).cast("bigint").alias("d2u")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2u"), F.asc("cid"))
    assigned = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") == 1)
    # update step: exact BIGINT micro-unit sums per (cluster, dim)
    dims = assigned.select(
        "cid", "d2u", F.posexplode(F.col("emb")).alias("dim", "x")
    ).select("cid", "d2u", "dim", F.round(F.col("x") * 1_000_000.0).cast("bigint").alias("xu"))
    per_dim = dims.groupBy("cid", "dim").agg(
        F.sum("xu").alias("sum_xu"), F.count(F.lit(1)).alias("n")
    )
    old = cents.select(
        "cid", F.posexplode(F.col("cx")).alias("dim", "ox")
    ).select("cid", "dim", F.round(F.col("ox") * 1_000_000.0).cast("bigint").alias("oxu"))
    # n * |mean_new - old| in micro-units stays integer: |sum_xu - oxu*n|
    shift = per_dim.join(old, ["cid", "dim"]).groupBy("cid").agg(
        F.sum(F.abs(F.col("sum_xu") - F.col("oxu") * F.col("n"))).alias("shift_nu"),
        F.max("n").alias("n_members"),
    )
    inertia = assigned.groupBy("cid").agg(F.sum("d2u").alias("inertia_u"))
    return shift.join(inertia, "cid").select(
        F.col("cid").alias("cluster"),
        F.col("n_members").cast("bigint").alias("n_members"),
        F.round(F.col("inertia_u").cast("double") / 1_000_000.0, 6).alias("inertia"),
        F.round(
            F.col("shift_nu").cast("double") / (F.col("n_members") * 1_000_000.0), 6
        ).alias("shift_l1"),
    )


def _kmeans_sql() -> str:
    dim = vectors.EMB_DIM
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"j -> (CAST(emb[j] AS DOUBLE) - CAST(cx[j] AS DOUBLE)) * "
        f"(CAST(emb[j] AS DOUBLE) - CAST(cx[j] AS DOUBLE))))"
    )
    return f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
cents AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, emb AS cx FROM base WHERE vec_id < {KM_K}
),
scored AS (
  SELECT vec_id, emb, cid, CAST(ROUND({d2} * 1000000.0) AS BIGINT) AS d2u
  FROM base CROSS JOIN cents
),
assigned AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2u ASC, cid ASC) AS rnk
    FROM scored
  ) WHERE rnk = 1
),
dims AS (
  SELECT cid, d2u, CAST(j - 1 AS INTEGER) AS dim,
         CAST(ROUND(CAST(emb[j] AS DOUBLE) * 1000000.0) AS BIGINT) AS xu
  FROM assigned CROSS JOIN (SELECT CAST(range AS INTEGER) + 1 AS j FROM range({dim}))
),
per_dim AS (
  SELECT cid, dim, SUM(xu) AS sum_xu, COUNT(*) AS n FROM dims GROUP BY 1, 2
),
old AS (
  SELECT cid, CAST(j - 1 AS INTEGER) AS dim,
         CAST(ROUND(CAST(cx[j] AS DOUBLE) * 1000000.0) AS BIGINT) AS oxu
  FROM cents CROSS JOIN (SELECT CAST(range AS INTEGER) + 1 AS j FROM range({dim}))
),
shift AS (
  SELECT p.cid, SUM(ABS(p.sum_xu - o.oxu * p.n)) AS shift_nu, MAX(p.n) AS n_members
  FROM per_dim p JOIN old o ON p.cid = o.cid AND p.dim = o.dim
  GROUP BY 1
),
inertia AS (SELECT cid, SUM(d2u) AS inertia_u FROM assigned GROUP BY 1)
SELECT s.cid AS cluster,
       CAST(s.n_members AS BIGINT) AS n_members,
       ROUND(CAST(i.inertia_u AS DOUBLE) / 1000000.0, 6) AS inertia,
       ROUND(CAST(s.shift_nu AS DOUBLE) / (s.n_members * 1000000.0), 6) AS shift_l1
FROM shift s JOIN inertia i ON s.cid = i.cid
"""


KMEANS_REFINE_SQL = _kmeans_sql()


# ---------------------------------------------------------------------------
# kmeans_train — ITERATED Lloyd training (VERDICT r6 item 7): the loop a
#     production pipeline runs to produce the IVF/PQ codebooks, not just
#     one step of it.
# ---------------------------------------------------------------------------

KM_ROUNDS = 3


def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM_ROUNDS exact Lloyd iterations over the embeddings (seeds = the
    first KM_K vectors, the ones kmeans_refine takes one step from).
    Per round: broadcast the 8-row centroid table, argmin-assign on the
    micro-unit integer distance, recompute centroids from exact BIGINT
    per-dim micro sums — so every iterated centroid is the same double
    on both engines and the whole trajectory is hash-stable. Centroids
    are checkpointed between rounds (the pagerank_exact pattern):
    the lineage stays flat however many rounds run.

    Identical-vector collapse (the shared `_emb_groups` discipline):
    assignment is a pure function of the array, so distances run once
    per DISTINCT vector and counts/sums are weighted by group size —
    exact integer algebra, result-identical to the uncollapsed loop the
    SQL oracle runs.

    Output: (round, cluster, n_members, inertia) — the convergence
    table; inertia is non-increasing in round for every run."""
    gm, reps = _emb_groups(spark, sf_dir)
    kdf = gm.groupBy("gid").agg(F.count(F.lit(1)).alias("k"))
    base = query_persist(reps.join(kdf, "gid").select(
        "gid", vectors.emb_double(F.col("embedding")).alias("emb"), "k"
    ))
    cents = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < KM_K)
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            vectors.emb_double(F.col("embedding")).alias("cx"),
        )
    )
    d2 = vectors.fold_sum(
        F.zip_with(F.col("emb"), F.col("cx"), lambda a, b: (a - b) * (a - b))
    )
    rounds = []
    for r in range(1, KM_ROUNDS + 1):
        scored = base.crossJoin(F.broadcast(cents)).select(
            "gid", "emb", "k", "cid",
            F.round(d2 * 1_000_000.0).cast("bigint").alias("d2u"),
        )
        w = Window.partitionBy("gid").orderBy(F.asc("d2u"), F.asc("cid"))
        assigned = scored.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") == 1
        )
        # checkpoint the KM_K-row report so `base` can be released at
        # the end instead of staying pinned for the consumer's sake
        rounds.append(query_checkpoint(
            assigned.groupBy("cid").agg(
                F.sum("k").alias("n_members"),
                F.sum(F.col("d2u") * F.col("k")).alias("inertia_u"),
            ).select(
                F.lit(r).cast("int").alias("round"),
                F.col("cid").alias("cluster"),
                F.col("n_members").cast("bigint").alias("n_members"),
                F.round(F.col("inertia_u").cast("double") / 1_000_000.0, 6).alias(
                    "inertia"
                ),
            )
        ))
        if r < KM_ROUNDS:
            dims = assigned.select(
                "cid", "k", F.posexplode(F.col("emb")).alias("dim", "x")
            ).select(
                "cid", "k", "dim",
                F.round(F.col("x") * 1_000_000.0).cast("bigint").alias("xu"),
            )
            per_dim = dims.groupBy("cid", "dim").agg(
                F.sum(F.col("xu") * F.col("k")).alias("sum_xu"),
                F.sum("k").alias("n"),
            )
            cents = query_checkpoint(
                per_dim.select(
                    "cid", "dim",
                    (
                        (F.col("sum_xu").cast("double") / F.lit(1_000_000.0))
                        / F.col("n").cast("double")
                    ).alias("v"),
                )
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "v"))),
                        lambda s: s["v"],
                    ).alias("cx")
                )
            )
    base.unpersist()
    out = rounds[0]
    for rep in rounds[1:]:
        out = out.unionByName(rep)
    return out


def _kmeans_train_sql() -> str:
    dim = vectors.EMB_DIM
    d2 = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"j -> (emb[j] - cx[j]) * (emb[j] - cx[j])))"
    )
    parts = [f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
jdim AS (SELECT CAST(range AS INTEGER) + 1 AS j FROM range({dim})),
cents1 AS (
  SELECT CAST(vec_id AS INTEGER) AS cid, emb AS cx FROM base WHERE vec_id < {KM_K}
)"""]
    for r in range(1, KM_ROUNDS + 1):
        parts.append(f""",
scored{r} AS (
  SELECT b.vec_id, b.emb, c.cid, CAST(ROUND({d2} * 1000000.0) AS BIGINT) AS d2u
  FROM base b CROSS JOIN cents{r} c
),
assigned{r} AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2u ASC, cid ASC) AS rnk
    FROM scored{r}
  ) WHERE rnk = 1
),
rep{r} AS (
  SELECT CAST({r} AS INTEGER) AS round, cid AS cluster,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         ROUND(CAST(SUM(d2u) AS DOUBLE) / 1000000.0, 6) AS inertia
  FROM assigned{r} GROUP BY 2
)""")
        if r < KM_ROUNDS:
            parts.append(f""",
per_dim{r} AS (
  SELECT cid, CAST(j - 1 AS INTEGER) AS dim,
         SUM(CAST(ROUND(emb[j] * 1000000.0) AS BIGINT)) AS sum_xu,
         COUNT(*) AS n
  FROM assigned{r} CROSS JOIN jdim GROUP BY 1, 2
),
cents{r + 1} AS (
  SELECT cid, list(v ORDER BY dim) AS cx
  FROM (
    SELECT cid, dim,
           (CAST(sum_xu AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS v
    FROM per_dim{r}
  ) GROUP BY cid
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM rep{r}" for r in range(1, KM_ROUNDS + 1)
    )
    parts.append(f"\n{union}")
    return "".join(parts)


KMEANS_TRAIN_SQL = _kmeans_train_sql()


# ---------------------------------------------------------------------------
# 105. ann_ivfpq_topk — IVF candidate lists scanned with PQ asymmetric
#     distance (ADC): the production ANN combination (Jegou et al. 2011).
#     IVF bounds WHICH vectors are scored; PQ bounds WHAT is read to score
#     them — the scan touches only (vec_id, list_id, M codes), never the
#     full vectors, which is what makes a 100-TB index memory-feasible.
# ---------------------------------------------------------------------------


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k by IVF + PQ/ADC: probes search their IVF_NPROBE
    nearest inverted lists (equi-join on list_id, same candidate set as
    ann_ivf_topk), but candidates are scored from their stored PQ codes
    instead of their raw vectors. Each probe precomputes its ADC table —
    the exact squared distance from each of its PQ_M subvectors to each
    of the PQ_K codewords (M*K*n_probes rows, broadcast) — and a
    candidate's distance is the sum of M table lookups keyed on its
    stored codes. Per-(probe,sub) distances are rounded once to 1e-6
    micro-units, so the cross-subspace sum is a BIGINT and the ranking
    (adc_u ASC, vec_id ASC) is a pure integer sort — deterministic on
    both engines with no float-order luck. At scale: codes co-live with
    the list assignment in the index (one table, partitioned by
    list_id), so candidate scoring is one broadcast-hash lookup per
    sub — the inverted lists are scanned once, 16 bytes of codes per
    row, zero full-vector reads outside probe-side prep."""
    adc = _adc_scores(spark, sf_dir)
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_u"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "probe_id", "vec_id",
            F.round(F.col("adc_u").cast("double") / 1_000_000.0, 6).alias("adc_dist2"),
            "rank",
        )
    )


def _adc_scores(
    spark: SparkSession, sf_dir: str, codebook: DataFrame | None = None
) -> DataFrame:
    """(probe_id, vec_id, adc_u): every IVF candidate's compressed-domain
    distance — the shared stage 1 of ann_ivfpq_topk (which ranks it
    top-k) and ann_ivfpq_rerank (which shortlists top-R for the exact
    stage). Built narrow from _ivf_parts: the (vec_id, list_id, crank)
    table never touches the rep arrays, so no full-width row is joined
    or persisted in the PQ path. `codebook` defaults to the seeded one
    (pass the trained codebook for the ivfpq_t path)."""
    gm, reps, crank_g = _ivf_parts(spark, sf_dir)
    scored = query_persist(
        gm.join(crank_g, "gid").select("vec_id", "list_id", "crank")
    )
    assign = scored.filter(F.col("crank") == 1).select("vec_id", "list_id")
    plists = (
        scored.filter((F.col("vec_id") < N_PROBES) & (F.col("crank") <= IVF_NPROBE))
        .select(F.col("vec_id").alias("probe_id"), F.col("list_id"))
    )
    # probe-side ADC tables: slice probes, score against the broadcast
    # codebook exactly as the encoder did
    sliced = _pq_sliced(spark, sf_dir)
    if codebook is None:
        codebook = _pq_codebook(sliced)
    psub = sliced.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("sub_id"), F.col("sx").alias("px")
    )
    pd2 = vectors.fold_sum(
        F.zip_with(F.col("px"), F.col("cx"), lambda a, b: (a - b) * (a - b))
    )
    dtab = psub.join(F.broadcast(codebook), psub.sub_id == codebook.c_sub).select(
        "probe_id", "sub_id", "code",
        F.round(pd2 * 1_000_000.0).cast("bigint").alias("pd2u"),
    )
    codes = _pq_best(spark, sf_dir, codebook).select("vec_id", "sub_id", "code")
    cand = (
        assign.join(F.broadcast(plists), "list_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
    )
    pair_sub = cand.join(codes, "vec_id").join(
        F.broadcast(dtab), ["probe_id", "sub_id", "code"]
    )
    return pair_sub.groupBy("probe_id", "vec_id").agg(F.sum("pd2u").alias("adc_u"))


PQ_TRAIN_ROUNDS = 2


def _pq_trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-TRAINED PQ codebooks (VERDICT r6 item 7): PQ_TRAIN_ROUNDS
    Lloyd rounds per subspace, seeded from the first-PQ_K subvectors the
    seeded path uses — so the comparison in ann_recall_report isolates
    exactly what training buys. Same exactness discipline as
    kmeans_train: argmin on micro-unit integer distances, codeword
    update from exact BIGINT per-dim micro sums, identical-vector
    collapse with group-size weights (result-identical to the
    uncollapsed loop the SQL oracle runs), query_checkpoint between
    rounds. A codeword that loses every member drops out — deterministic
    on both engines."""
    gm, reps = _emb_groups(spark, sf_dir)
    kdf = gm.groupBy("gid").agg(F.count(F.lit(1)).alias("k"))
    subs = spark.range(PQ_M).select(F.col("id").cast("int").alias("sub_id"))
    rep_sliced = query_persist(
        reps.join(kdf, "gid")
        .select("gid", vectors.emb_double(F.col("embedding")).alias("emb"), "k")
        .crossJoin(F.broadcast(subs))
        .select(
            "gid", "sub_id", "k",
            F.slice(F.col("emb"), F.col("sub_id") * PQ_SUB + 1, PQ_SUB).alias("sx"),
        )
    )
    cb = _pq_codebook(_pq_sliced(spark, sf_dir))
    d2 = vectors.fold_sum(
        F.zip_with(F.col("sx"), F.col("cx"), lambda a, b: (a - b) * (a - b))
    )
    for _ in range(PQ_TRAIN_ROUNDS):
        scored = rep_sliced.join(
            F.broadcast(cb), rep_sliced.sub_id == cb.c_sub
        ).select(
            "gid", "sub_id", "k", "sx", "code",
            F.round(d2 * 1_000_000.0).cast("bigint").alias("d2u"),
        )
        w = Window.partitionBy("gid", "sub_id").orderBy(F.asc("d2u"), F.asc("code"))
        assigned = scored.withColumn("rnk", F.row_number().over(w)).filter(
            F.col("rnk") == 1
        )
        dims = assigned.select(
            "sub_id", "code", "k", F.posexplode(F.col("sx")).alias("dim", "x")
        ).select(
            "sub_id", "code", "k", "dim",
            F.round(F.col("x") * 1_000_000.0).cast("bigint").alias("xu"),
        )
        per_dim = dims.groupBy("sub_id", "code", "dim").agg(
            F.sum(F.col("xu") * F.col("k")).alias("sum_xu"),
            F.sum("k").alias("n"),
        )
        cb = query_checkpoint(
            per_dim.select(
                "sub_id", "code", "dim",
                (
                    (F.col("sum_xu").cast("double") / F.lit(1_000_000.0))
                    / F.col("n").cast("double")
                ).alias("v"),
            )
            .groupBy("sub_id", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda s: s["v"],
                ).alias("cx")
            )
            .select(F.col("sub_id").alias("c_sub"), "code", "cx")
        )
    # the final checkpoint truncated the lineage, so the rep slices can
    # be released instead of staying pinned for the session
    rep_sliced.unpersist()
    return cb


def ann_ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivfpq_topk with the k-means-TRAINED PQ codebook: identical
    candidate generation and ADC mechanics, only the codewords differ —
    the measurement ann_recall_report uses to show what codebook
    training buys over the seeded baseline."""
    adc = _adc_scores(spark, sf_dir, _pq_trained_codebook(spark, sf_dir))
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_u"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "probe_id", "vec_id",
            F.round(F.col("adc_u").cast("double") / 1_000_000.0, 6).alias("adc_dist2"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# ann_ivfpq_residual_topk — residual (IVF-centered) PQ at a recall-tuned
#     operating point (VERDICT r8 item 5)
# ---------------------------------------------------------------------------

# The recall-tuned index parameters, chosen ON the ann_recall_report
# harness (the measurement loop a production deployment runs before
# trusting an index): nprobe=5, M=32 two-dim subquantizers, K=128
# codewords — 32 bytes/vector, an 8x compression that holds mean
# recall@5 ≈ 0.63 at 100 probes on this corpus where the 4-bit seeded
# index sat at 0.11 (BASELINE.md). The synthetic embeddings are
# near-uniform (residual stddev ≈ raw stddev), which is the WORST case
# for PQ — real embedding manifolds quantize far better at the same
# bit budget.
RES_NPROBE = 5
RES_PQ_M = 32
RES_PQ_SUB = vectors.EMB_DIM // RES_PQ_M  # dims per subvector (2)
RES_PQ_K = 128
RES_TRAIN_ROUNDS = 2
# Lloyd training runs on a bounded deterministic sample (vec_id <
# RES_TRAIN_CAP) — the production IVF-PQ shape: train the codebooks on a
# fixed-size sample, encode the full corpus. Below the cap (sf0.001/
# sf0.01) the sample IS the corpus, so certified results are unchanged;
# at sf0.1 it cuts the two training passes 5x, and at 100 TB it is what
# makes training O(1) while the encode pass stays the only full scan.
RES_TRAIN_CAP = 4096


def _res_d2() -> F.Column:
    """(rx1-cx1)^2 + (rx2-cx2)^2 on SCALAR columns — RES_PQ_SUB is 2, so
    the subvector never needs to exist as an array in the hot join: the
    explicit arithmetic stays inside whole-stage codegen where the
    zip_with/fold pair ran as interpreted higher-order functions (the
    measured bulk of the key's 21s at sf0.1). One addition, so the float
    order is trivially engine-identical."""
    d1 = F.col("rx1") - F.col("cx1")
    d2 = F.col("rx2") - F.col("cx2")
    return d1 * d1 + d2 * d2


def _res_sliced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(gid, list_id, k, sub_id, rx): residual subvector slices per
    DISTINCT vector — residual = embedding - centroid of its assigned
    coarse list (the IVF-centered encoding every production IVF-PQ
    index stores), with the group weight k for collapsed training."""
    gm, reps, crank_g = _ivf_parts(spark, sf_dir)
    assign_g = crank_g.filter(F.col("crank") == 1).select("gid", "list_id")
    kdf = gm.groupBy("gid").agg(F.count(F.lit(1)).alias("k"))
    res = (
        reps.join(assign_g, "gid")
        .join(F.broadcast(_ivf_centroids(spark, sf_dir)), "list_id")
        .join(kdf, "gid")
        .select(
            "gid", "list_id", "k",
            F.zip_with(
                vectors.emb_double(F.col("r_emb")), F.col("cent"),
                lambda a, b: a - b,
            ).alias("res"),
        )
    )
    subs = spark.range(RES_PQ_M).select(F.col("id").cast("int").alias("sub_id"))
    return res.crossJoin(F.broadcast(subs)).select(
        "gid", "list_id", "k", "sub_id",
        F.element_at(F.col("res"), F.col("sub_id") * RES_PQ_SUB + 1).alias("rx1"),
        F.element_at(F.col("res"), F.col("sub_id") * RES_PQ_SUB + 2).alias("rx2"),
    )


def _res_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-trained RESIDUAL codebooks: RES_TRAIN_ROUNDS Lloyd rounds
    per 2-dim subspace over the residual slices, seeded from the first
    RES_PQ_K vectors' residuals. Same exactness discipline as
    _pq_trained_codebook (micro-int argmin, exact BIGINT codeword sums,
    group-size weights, query_checkpoint per round); at 100 TB the
    training input is a bounded sample, the assignment pass is the
    full scan."""
    gm, _, _ = _ivf_parts(spark, sf_dir)
    sl = _res_sliced(spark, sf_dir)
    cb = (
        gm.filter(F.col("vec_id") < RES_PQ_K)
        .join(sl, "gid")
        .select(
            F.col("sub_id").alias("c_sub"),
            F.col("vec_id").cast("int").alias("code"),
            F.col("rx1").alias("cx1"),
            F.col("rx2").alias("cx2"),
        )
    )
    # per-VEC training rows for the sampled prefix, weight 1 each (the
    # SQL twin trains per-vec over the same predicate)
    sl = query_persist(
        gm.filter(F.col("vec_id") < RES_TRAIN_CAP)
        .join(sl, "gid")
        .select(
            F.col("vec_id").alias("gid"), "sub_id",
            F.lit(1).alias("k"), "rx1", "rx2",
        )
    )
    for _ in range(RES_TRAIN_ROUNDS):
        scored = sl.join(F.broadcast(cb), sl.sub_id == cb.c_sub).select(
            "gid", "sub_id", "k", "rx1", "rx2", "code",
            F.round(_res_d2() * 1_000_000.0).cast("bigint").alias("d2u"),
        )
        # argmin as a min_by AGG, not a sort window: the K-candidate
        # fan-out combines map-side instead of sorting |groups|*M*K rows
        # (the (d2u, code) ordering struct keeps the tie-break total)
        assigned = (
            scored.groupBy("gid", "sub_id")
            .agg(
                F.min_by(
                    F.struct("code", "k", "rx1", "rx2"), F.struct("d2u", "code")
                ).alias("best")
            )
            .select(
                "gid", "sub_id",
                F.col("best.code").alias("code"),
                F.col("best.k").alias("k"),
                F.col("best.rx1").alias("rx1"),
                F.col("best.rx2").alias("rx2"),
            )
        )
        per = assigned.select(
            "sub_id", "code", "k",
            F.round(F.col("rx1") * 1_000_000.0).cast("bigint").alias("x1u"),
            F.round(F.col("rx2") * 1_000_000.0).cast("bigint").alias("x2u"),
        ).groupBy("sub_id", "code").agg(
            F.sum(F.col("x1u") * F.col("k")).alias("s1"),
            F.sum(F.col("x2u") * F.col("k")).alias("s2"),
            F.sum("k").alias("n"),
        )
        cb = query_checkpoint(
            per.select(
                F.col("sub_id").alias("c_sub"),
                "code",
                ((F.col("s1").cast("double") / F.lit(1_000_000.0))
                 / F.col("n").cast("double")).alias("cx1"),
                ((F.col("s2").cast("double") / F.lit(1_000_000.0))
                 / F.col("n").cast("double")).alias("cx2"),
            )
        )
    sl.unpersist()
    return cb


def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + residual PQ at the recall-tuned operating point: candidates
    come from the RES_NPROBE nearest coarse lists, and both the stored
    codes and the probe's ADC tables quantize RESIDUALS against the
    probed list's centroid — so the subquantizers only carry the
    within-list displacement, the standard IVFADC formulation (Jégou
    et al. 2011). The ADC table is per (probe, probed list): 32x128
    two-dim distances, rounded once to micro-ints so the
    cross-subspace sum is a BIGINT and ranking is a pure integer sort.
    At scale the mechanics match ann_ivfpq_topk: codes live with the
    list assignment, inverted lists scan at 32 B/row, the probe-side
    prep is the only full-vector math."""
    gm, reps, crank_g = _ivf_parts(spark, sf_dir)
    scored = query_persist(gm.join(crank_g, "gid").select("vec_id", "list_id", "crank"))
    assign = scored.filter(F.col("crank") == 1).select("vec_id", "list_id")
    plists = scored.filter(
        (F.col("vec_id") < N_PROBES) & (F.col("crank") <= RES_NPROBE)
    ).select(F.col("vec_id").alias("probe_id"), "list_id")

    cb = _res_codebook(spark, sf_dir)
    # stored codes: argmin per (distinct vector, sub), expanded by gid
    sl = _res_sliced(spark, sf_dir)
    cscored = sl.join(F.broadcast(cb), sl.sub_id == cb.c_sub).select(
        "gid", "sub_id", "code",
        F.round(_res_d2() * 1_000_000.0).cast("bigint").alias("d2u"),
    )
    # same min_by-agg argmin as training: map-side combine over the
    # 128-candidate fan-out instead of a sort window
    codes_g = cscored.groupBy("gid", "sub_id").agg(
        F.min_by("code", F.struct("d2u", "code")).alias("code")
    )
    codes = gm.join(codes_g, "gid").select("vec_id", "sub_id", "code")

    # probe-side ADC tables, one per (probe, probed list): the probe's
    # residual is taken against THAT list's centroid
    pbase = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < N_PROBES
    ).select(
        F.col("vec_id").alias("probe_id"),
        vectors.emb_double(F.col("embedding")).alias("p_emb"),
    )
    subs = spark.range(RES_PQ_M).select(F.col("id").cast("int").alias("sub_id"))
    psub = (
        plists.join(pbase, "probe_id")
        .join(F.broadcast(_ivf_centroids(spark, sf_dir)), "list_id")
        .select(
            "probe_id", "list_id",
            F.zip_with(F.col("p_emb"), F.col("cent"), lambda a, b: a - b).alias("pres"),
        )
        .crossJoin(F.broadcast(subs))
        .select(
            "probe_id", "list_id", "sub_id",
            F.element_at(F.col("pres"), F.col("sub_id") * RES_PQ_SUB + 1).alias("rx1"),
            F.element_at(F.col("pres"), F.col("sub_id") * RES_PQ_SUB + 2).alias("rx2"),
        )
    )
    dtab = psub.join(F.broadcast(cb), psub.sub_id == cb.c_sub).select(
        "probe_id", "list_id", "sub_id", "code",
        F.round(_res_d2() * 1_000_000.0).cast("bigint").alias("pd2u"),
    )

    cand = (
        assign.join(F.broadcast(plists), "list_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "list_id", "vec_id")
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(dtab), ["probe_id", "list_id", "sub_id", "code"])
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("pd2u").alias("adc_u"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.asc("adc_u"), F.asc("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "probe_id", "vec_id",
            F.round(F.col("adc_u").cast("double") / 1_000_000.0, 6).alias("adc_dist2"),
            "rank",
        )
    )


_RES_D2_SQL = "((rx1 - cx1) * (rx1 - cx1) + (rx2 - cx2) * (rx2 - cx2))"


def _res_train_ctes() -> str:
    """Unrolled residual-PQ Lloyd rounds (uncollapsed per-vec twin of
    _res_codebook — weights are implicit in the row multiplicity).
    Scalar rx1/rx2 columns mirror the Spark side's codegen-friendly
    shape; the single-addition d2 keeps float order engine-identical."""
    parts = [f""",
rcb0 AS (
  SELECT sub_id AS c_sub, CAST(vec_id AS INTEGER) AS code,
         rx1 AS cx1, rx2 AS cx2
  FROM rsliced WHERE vec_id < {RES_PQ_K}
),
rtrain AS (SELECT * FROM rsliced WHERE vec_id < {RES_TRAIN_CAP})"""]
    for r in range(1, RES_TRAIN_ROUNDS + 1):
        parts.append(f""",
rcs{r} AS (
  SELECT s.vec_id, s.sub_id, c.code, s.rx1, s.rx2,
         CAST(ROUND({_RES_D2_SQL} * 1000000.0) AS BIGINT) AS d2u
  FROM rtrain s JOIN rcb{r - 1} c ON s.sub_id = c.c_sub
),
rca{r} AS (
  SELECT vec_id, sub_id, code, rx1, rx2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d2u ASC, code ASC) AS rnk
    FROM rcs{r}
  ) WHERE rnk = 1
),
rcpd{r} AS (
  SELECT sub_id, code,
         SUM(CAST(ROUND(rx1 * 1000000.0) AS BIGINT)) AS s1,
         SUM(CAST(ROUND(rx2 * 1000000.0) AS BIGINT)) AS s2,
         COUNT(*) AS n
  FROM rca{r} GROUP BY 1, 2
),
rcb{r} AS (
  SELECT sub_id AS c_sub, code,
         (CAST(s1 AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS cx1,
         (CAST(s2 AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS cx2
  FROM rcpd{r}
)""")
    return "".join(parts)


def _ivfpq_residual_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    cent_dot = vectors.dot_sql("b.emb", "c.cent")
    cent_n2 = vectors.norm2_sql("c.cent")
    d2 = _RES_D2_SQL
    fcb = f"rcb{RES_TRAIN_ROUNDS}"
    return f"""
WITH flat AS (
  SELECT label, pos,
         CAST(ROUND(CAST(embedding[pos] AS DOUBLE) * {_SCALE}, 0) AS BIGINT) AS micro
  FROM embeddings, (SELECT unnest(range(1, {vectors.EMB_DIM + 1})) AS pos)
),
cent_flat AS (
  SELECT label, pos,
         CAST(SUM(micro) AS DOUBLE) / (COUNT(*) * {float(_SCALE)}) AS c
  FROM flat GROUP BY label, pos
),
centroids AS (
  SELECT label AS list_id, list(c ORDER BY pos) AS cent FROM cent_flat GROUP BY label
),
vbase AS (
  SELECT vec_id, embedding AS emb, {n2} AS n2 FROM embeddings
),
cscored AS (
  SELECT b.vec_id, c.list_id,
         ROW_NUMBER() OVER (
           PARTITION BY b.vec_id
           ORDER BY ROUND({cent_dot} / (sqrt(b.n2) * sqrt({cent_n2})), 6) DESC, c.list_id ASC
         ) AS crank
  FROM vbase b CROSS JOIN centroids c
),
assign AS (SELECT vec_id, list_id FROM cscored WHERE crank = 1),
plists AS (
  SELECT vec_id AS probe_id, list_id FROM cscored
  WHERE vec_id < {N_PROBES} AND crank <= {RES_NPROBE}
),
rsubs AS (SELECT CAST(range AS INTEGER) AS sub_id FROM range({RES_PQ_M})),
vres AS (
  SELECT b.vec_id, a.list_id,
         list_transform(range(1, {vectors.EMB_DIM + 1}),
                        j -> CAST(b.emb[j] AS DOUBLE) - c.cent[j]) AS res
  FROM vbase b
  JOIN assign a ON a.vec_id = b.vec_id
  JOIN centroids c ON c.list_id = a.list_id
),
rsliced AS (
  SELECT vec_id, list_id, sub_id,
         res[sub_id * {RES_PQ_SUB} + 1] AS rx1,
         res[sub_id * {RES_PQ_SUB} + 2] AS rx2
  FROM vres CROSS JOIN rsubs
){_res_train_ctes()},
rcod_scored AS (
  SELECT vec_id, sub_id, code,
         CAST(ROUND({d2} * 1000000.0) AS BIGINT) AS d2u
  FROM rsliced s JOIN {fcb} c ON s.sub_id = c.c_sub
),
rcodes AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d2u ASC, code ASC) AS rnk
    FROM rcod_scored
  ) WHERE rnk = 1
),
pres AS (
  SELECT p.probe_id, p.list_id,
         list_transform(range(1, {vectors.EMB_DIM + 1}),
                        j -> CAST(b.emb[j] AS DOUBLE) - c.cent[j]) AS res
  FROM plists p
  JOIN vbase b ON b.vec_id = p.probe_id
  JOIN centroids c ON c.list_id = p.list_id
),
psub AS (
  SELECT probe_id, list_id, sub_id,
         res[sub_id * {RES_PQ_SUB} + 1] AS rx1,
         res[sub_id * {RES_PQ_SUB} + 2] AS rx2
  FROM pres CROSS JOIN rsubs
),
dtab AS (
  SELECT probe_id, list_id, c.c_sub AS sub_id, c.code,
         CAST(ROUND({d2} * 1000000.0) AS BIGINT) AS pd2u
  FROM psub s JOIN {fcb} c ON s.sub_id = c.c_sub
),
cand AS (
  SELECT p.probe_id, p.list_id, a.vec_id
  FROM assign a JOIN plists p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.probe_id
),
adc AS (
  SELECT cd.probe_id, cd.vec_id, SUM(t.pd2u) AS adc_u
  FROM cand cd
  JOIN rcodes k ON k.vec_id = cd.vec_id
  JOIN dtab t ON t.probe_id = cd.probe_id AND t.list_id = cd.list_id
             AND t.sub_id = k.sub_id AND t.code = k.code
  GROUP BY cd.probe_id, cd.vec_id
),
ranked AS (
  SELECT probe_id, vec_id, adc_u,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_u ASC, vec_id ASC) AS INTEGER) AS rank
  FROM adc
)
SELECT probe_id, vec_id,
       ROUND(CAST(adc_u AS DOUBLE) / 1000000.0, 6) AS adc_dist2, rank
FROM ranked WHERE rank <= {TOP_K}
"""


ANN_IVFPQ_RESIDUAL_TOPK_SQL = _ivfpq_residual_sql()


# ---------------------------------------------------------------------------
# ann_ivfpq_rerank — the production two-stage search: PQ shortlist,
#     exact rerank
# ---------------------------------------------------------------------------

RERANK_R = 20  # shortlist size fed to the exact stage


def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the shape every production vector store runs:
    stage 1 shortlists RERANK_R candidates per probe by compressed-domain
    ADC distance (16 bytes/candidate — ann_ivfpq_topk's scoring), stage 2
    re-scores ONLY the shortlist against the full-precision vectors and
    re-ranks by exact cosine. The expensive exact math touches
    R*n_probes rows instead of the corpus, which is why rerank recovers
    most of brute-force recall at a fraction of its cost; at 100 TB the
    full vectors are fetched for the shortlist alone (a keyed join
    against the vector store), never scanned."""
    adc = _adc_scores(spark, sf_dir)
    w1 = Window.partitionBy("probe_id").orderBy(F.asc("adc_u"), F.asc("vec_id"))
    short = (
        adc.withColumn("adc_rank", F.row_number().over(w1).cast("int"))
        .filter(F.col("adc_rank") <= RERANK_R)
        .select("probe_id", "vec_id", "adc_rank")
    )
    base = _base(spark, sf_dir)
    probes = base.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p_emb"),
        F.col("n2").alias("p_n2"),
    )
    rescored = (
        short.join(base, "vec_id")
        .join(F.broadcast(probes), "probe_id")
        .select("probe_id", "vec_id", "adc_rank", _pair_cos().alias("cosine"))
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "vec_id", "cosine", "adc_rank", "rank")
    )


def _pq_train_ctes() -> str:
    """The unrolled k-means training rounds as SQL CTEs: cb0 = the
    seeded codebook, each round assigns (argmin over d2u, code tiebreak)
    and recomputes codewords from exact micro-int per-dim sums — the
    uncollapsed twin of `_pq_trained_codebook`."""
    d2 = "list_sum(list_transform(range(1, %d), j -> (sx[j] - cx[j]) * (sx[j] - cx[j])))" % (PQ_SUB + 1)
    parts = [f""",
cb0 AS (SELECT c_sub, code, cx FROM codebook),
cjdim AS (SELECT CAST(range AS INTEGER) + 1 AS j FROM range({PQ_SUB}))"""]
    for r in range(1, PQ_TRAIN_ROUNDS + 1):
        parts.append(f""",
cs{r} AS (
  SELECT s.vec_id, s.sub_id, c.code, s.sx,
         CAST(ROUND({d2} * 1000000.0) AS BIGINT) AS d2u
  FROM sliced s JOIN cb{r - 1} c ON s.sub_id = c.c_sub
),
ca{r} AS (
  SELECT vec_id, sub_id, code, sx FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d2u ASC, code ASC) AS rnk
    FROM cs{r}
  ) WHERE rnk = 1
),
cpd{r} AS (
  SELECT sub_id, code, CAST(j - 1 AS INTEGER) AS dim,
         SUM(CAST(ROUND(sx[j] * 1000000.0) AS BIGINT)) AS sum_xu,
         COUNT(*) AS n
  FROM ca{r} CROSS JOIN cjdim GROUP BY 1, 2, 3
),
cb{r} AS (
  SELECT sub_id AS c_sub, code, list(v ORDER BY dim) AS cx
  FROM (
    SELECT sub_id, code, dim,
           (CAST(sum_xu AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE) AS v
    FROM cpd{r}
  ) GROUP BY 1, 2
)""")
    return "".join(parts)


def _ivfpq_sql(limit: int = TOP_K, trained: bool = False) -> str:
    n2 = vectors.norm2_sql("embedding")
    cent_dot = vectors.dot_sql("b.emb", "c.cent")
    cent_n2 = vectors.norm2_sql("c.cent")
    sub_slice = f"list_transform(range(1, {PQ_SUB + 1}), j -> CAST(embedding[sub_id * {PQ_SUB} + j] AS DOUBLE))"
    d2 = "list_sum(list_transform(range(1, %d), j -> (sx[j] - cx[j]) * (sx[j] - cx[j])))" % (PQ_SUB + 1)
    pd2 = "list_sum(list_transform(range(1, %d), j -> (px[j] - cx[j]) * (px[j] - cx[j])))" % (PQ_SUB + 1)
    train = _pq_train_ctes() if trained else ""
    cb = f"cb{PQ_TRAIN_ROUNDS}" if trained else "codebook"
    return f"""
WITH flat AS (
  SELECT label, pos,
         CAST(ROUND(CAST(embedding[pos] AS DOUBLE) * {_SCALE}, 0) AS BIGINT) AS micro
  FROM embeddings, (SELECT unnest(range(1, {vectors.EMB_DIM + 1})) AS pos)
),
cent_flat AS (
  SELECT label, pos,
         CAST(SUM(micro) AS DOUBLE) / (COUNT(*) * {float(_SCALE)}) AS c
  FROM flat GROUP BY label, pos
),
centroids AS (
  SELECT label AS list_id, list(c ORDER BY pos) AS cent FROM cent_flat GROUP BY label
),
vbase AS (
  SELECT vec_id, embedding AS emb, {n2} AS n2 FROM embeddings
),
cscored AS (
  SELECT b.vec_id, c.list_id,
         ROW_NUMBER() OVER (
           PARTITION BY b.vec_id
           ORDER BY ROUND({cent_dot} / (sqrt(b.n2) * sqrt({cent_n2})), 6) DESC, c.list_id ASC
         ) AS crank
  FROM vbase b CROSS JOIN centroids c
),
assign AS (SELECT vec_id, list_id FROM cscored WHERE crank = 1),
plists AS (
  SELECT vec_id AS probe_id, list_id FROM cscored
  WHERE vec_id < {N_PROBES} AND crank <= {IVF_NPROBE}
),
subs AS (SELECT CAST(range AS INTEGER) AS sub_id FROM range({PQ_M})),
sliced AS (
  SELECT vec_id, sub_id, {sub_slice} AS sx
  FROM embeddings CROSS JOIN subs
),
codebook AS (
  SELECT sub_id AS c_sub, CAST(vec_id AS INTEGER) AS code, sx AS cx
  FROM sliced WHERE vec_id < {PQ_K}
){train},
cod_scored AS (
  SELECT vec_id, sub_id, code,
         CAST(ROUND({d2} * 1000000.0) AS BIGINT) AS d2u
  FROM sliced s JOIN {cb} c ON s.sub_id = c.c_sub
),
codes AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_id
                                 ORDER BY d2u ASC, code ASC) AS rnk
    FROM cod_scored
  ) WHERE rnk = 1
),
psub AS (
  SELECT vec_id AS probe_id, sub_id, sx AS px FROM sliced WHERE vec_id < {N_PROBES}
),
dtab AS (
  SELECT probe_id, c.c_sub AS sub_id, c.code,
         CAST(ROUND({pd2} * 1000000.0) AS BIGINT) AS pd2u
  FROM psub p JOIN {cb} c ON p.sub_id = c.c_sub
),
cand AS (
  SELECT p.probe_id, a.vec_id
  FROM assign a JOIN plists p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.probe_id
),
adc AS (
  SELECT cd.probe_id, cd.vec_id, SUM(t.pd2u) AS adc_u
  FROM cand cd
  JOIN codes k ON k.vec_id = cd.vec_id
  JOIN dtab t ON t.probe_id = cd.probe_id AND t.sub_id = k.sub_id AND t.code = k.code
  GROUP BY cd.probe_id, cd.vec_id
),
ranked AS (
  SELECT probe_id, vec_id, adc_u,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adc_u ASC, vec_id ASC) AS INTEGER) AS rank
  FROM adc
)
SELECT probe_id, vec_id,
       ROUND(CAST(adc_u AS DOUBLE) / 1000000.0, 6) AS adc_dist2, rank
FROM ranked WHERE rank <= {limit}
"""


ANN_IVFPQ_TOPK_SQL = _ivfpq_sql()


def _ivfpq_rerank_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    cos = f"ROUND({vectors.dot_sql('c.emb', 'p.emb')} / sqrt(c.n2 * p.n2), 6)"
    inner = _ivfpq_sql(limit=RERANK_R).strip()
    return f"""
WITH short AS ({inner}),
vb AS (SELECT vec_id, embedding AS emb, {n2} AS n2 FROM embeddings),
rescored AS (
  SELECT s.probe_id, s.vec_id, s.rank AS adc_rank, {cos} AS cosine
  FROM short s
  JOIN vb c ON c.vec_id = s.vec_id
  JOIN vb p ON p.vec_id = s.probe_id
),
rr AS (
  SELECT probe_id, vec_id, cosine, adc_rank,
         CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
  FROM rescored
)
SELECT probe_id, vec_id, cosine, adc_rank, rank FROM rr WHERE rank <= {TOP_K}
"""


ANN_IVFPQ_RERANK_SQL = _ivfpq_rerank_sql()

ANN_IVFPQ_TRAINED_TOPK_SQL = _ivfpq_sql(trained=True)

ANN_RECALL_REPORT_SQL = (
    ANN_RECALL_REPORT_SQL
    + "\nUNION ALL\n"
    + _recall_one("ivfpq", ANN_IVFPQ_TOPK_SQL)
    + "\nUNION ALL\n"
    + _recall_one("ivfpq_t", ANN_IVFPQ_TRAINED_TOPK_SQL)
    + "\nUNION ALL\n"
    + _recall_one("ivfpq_r", ANN_IVFPQ_RESIDUAL_TOPK_SQL)
)


# ---------------------------------------------------------------------------
# embedding_matryoshka — truncated-dimension retrieval quality report
#     (Kusupati et al. 2022, Matryoshka Representation Learning: serve
#     the first M dims of a D-dim embedding and measure what top-k
#     retrieval loses — the dimension-vs-recall tradeoff every
#     vector-store deployment tunes)
# ---------------------------------------------------------------------------

MRL_DIM = 16  # truncated prefix dimension (full = vectors.EMB_DIM = 64)


def embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-probe top-k overlap between full-dimension cosine retrieval
    and first-MRL_DIM-prefix retrieval: the truncated index costs 1/4
    the bytes and this report says what that buys back. Both rankings
    come from ONE broadcast-probe scored pass (the prefix dot is a
    sub-fold of the same arrays — no second scan), ranked by two
    windows over the same probe partitioning; the overlap join is on
    (probe, vec). Cosines are ordered-fold doubles rounded once — the
    established exact cross-engine idiom; ranks break ties on vec_id so
    the cut at k is total-ordered."""
    pref_n2 = vectors.fold_sum(
        F.transform(
            F.slice(F.col("embedding"), 1, MRL_DIM),
            lambda x: x.cast("double") * x.cast("double"),
        )
    )
    # re-spread the single-split scan before the CPU-bound broadcast-probe
    # fold (the _base/split_for_cpu discipline — this op bypasses _base
    # for its extra prefix-norm column and had kept the raw scan)
    base = split_for_cpu(load(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id",
        F.col("embedding").alias("emb"),
        vectors.norm2(F.col("embedding")).alias("n2"),
        pref_n2.alias("m2"),
    )
    probes = base.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p_emb"),
        F.col("n2").alias("p_n2"),
        F.col("m2").alias("p_m2"),
    )
    full_dot = vectors.dot(
        vectors.emb_double(F.col("emb")), vectors.emb_double(F.col("p_emb"))
    )
    pref_dot = vectors.fold_sum(
        F.zip_with(
            F.slice(F.col("emb"), 1, MRL_DIM),
            F.slice(F.col("p_emb"), 1, MRL_DIM),
            lambda x, y: x.cast("double") * y.cast("double"),
        )
    )
    scored = base.join(
        F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
    ).select(
        "probe_id",
        "vec_id",
        F.round(full_dot / F.sqrt(F.col("n2") * F.col("p_n2")), 6).alias("cos_full"),
        F.round(pref_dot / F.sqrt(F.col("m2") * F.col("p_m2")), 6).alias("cos_trunc"),
    )
    wf = Window.partitionBy("probe_id").orderBy(F.desc("cos_full"), F.asc("vec_id"))
    wt = Window.partitionBy("probe_id").orderBy(F.desc("cos_trunc"), F.asc("vec_id"))
    ranked = scored.select(
        "probe_id",
        "vec_id",
        F.row_number().over(wf).alias("rk_full"),
        F.row_number().over(wt).alias("rk_trunc"),
    )
    return (
        ranked.filter((F.col("rk_full") <= TOP_K) | (F.col("rk_trunc") <= TOP_K))
        .groupBy("probe_id")
        .agg(
            F.sum(
                ((F.col("rk_full") <= TOP_K) & (F.col("rk_trunc") <= TOP_K)).cast("int")
            ).cast("bigint").alias("n_overlap"),
        )
        .select(
            "probe_id",
            F.lit(TOP_K).cast("int").alias("k"),
            "n_overlap",
            (F.col("n_overlap").cast("double") / TOP_K).alias("recall_at_k"),
        )
        .orderBy("probe_id")
    )


def _matryoshka_sql() -> str:
    full_dot = vectors.dot_sql("c.emb", "p.p_emb")
    pref_dot = vectors.dot_sql("c.emb", "p.p_emb", dim=MRL_DIM)
    n2 = vectors.norm2_sql("embedding")
    m2 = vectors.norm2_sql("embedding", dim=MRL_DIM)
    return f"""
WITH base AS (
  SELECT vec_id, embedding AS emb, {n2} AS n2, {m2} AS m2 FROM embeddings
),
probes AS (
  SELECT vec_id AS probe_id, emb AS p_emb, n2 AS p_n2, m2 AS p_m2
  FROM base WHERE vec_id < {N_PROBES}
),
scored AS (
  SELECT p.probe_id, c.vec_id,
         ROUND({full_dot} / sqrt(c.n2 * p.p_n2), 6) AS cos_full,
         ROUND({pref_dot} / sqrt(c.m2 * p.p_m2), 6) AS cos_trunc
  FROM base c JOIN probes p ON c.vec_id <> p.probe_id
),
ranked AS (
  SELECT probe_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_full DESC, vec_id) AS rk_full,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_trunc DESC, vec_id) AS rk_trunc
  FROM scored
)
SELECT probe_id, CAST({TOP_K} AS INTEGER) AS k,
       CAST(SUM(CASE WHEN rk_full <= {TOP_K} AND rk_trunc <= {TOP_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN rk_full <= {TOP_K} AND rk_trunc <= {TOP_K} THEN 1 ELSE 0 END) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM ranked
WHERE rk_full <= {TOP_K} OR rk_trunc <= {TOP_K}
GROUP BY probe_id
ORDER BY probe_id
"""


EMBEDDING_MATRYOSHKA_SQL = _matryoshka_sql()


# ---------------------------------------------------------------------------
# embedding_centroid_drift — distribution drift between two data halves
# ---------------------------------------------------------------------------


def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus deterministically in two
    (vec_id parity — in production: last week vs this week), build both
    halves' per-label centroids from exact nano-unit sums, and report
    the cosine between the halves' centroids per label — the number a
    drift alarm watches. The cosine folds over the (label, pos) FLAT
    table: per-position component products are rounded once to 1e-12
    units and summed as BIGINT, so no unordered float addition exists
    anywhere in the plan (the same discipline as centroid_similarity,
    extended to the centroid-vs-centroid product)."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        "half",
        "pos",
        F.round(F.col("v").cast("double") * _SCALE, 0).cast("bigint").alias("micro"),
    )
    cent = flat.groupBy("label", "half", "pos").agg(
        (F.sum("micro").cast("double") / (F.count(F.lit(1)) * F.lit(float(_SCALE)))).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )
    even = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("ce"), F.col("n").alias("n_even")
    )
    odd = cent.filter(F.col("half") == 1).select(
        F.col("label").alias("lbl"), F.col("pos").alias("p2"),
        F.col("c").alias("co"), F.col("n").alias("n_odd"),
    )
    j = even.join(
        odd, (F.col("label") == F.col("lbl")) & (F.col("pos") == F.col("p2"))
    )
    u = lambda c: F.round(c * 1_000_000_000_000.0).cast("bigint")  # noqa: E731
    sums = j.groupBy("label").agg(
        F.max("n_even").cast("bigint").alias("n_even"),
        F.max("n_odd").cast("bigint").alias("n_odd"),
        F.sum(u(F.col("ce") * F.col("co"))).alias("dot_u"),
        F.sum(u(F.col("ce") * F.col("ce"))).alias("ee_u"),
        F.sum(u(F.col("co") * F.col("co"))).alias("oo_u"),
    )
    cos = F.col("dot_u").cast("double") / F.sqrt(
        F.col("ee_u").cast("double") * F.col("oo_u").cast("double")
    )
    return sums.select(
        "label", "n_even", "n_odd", F.round(cos, 6).alias("centroid_cosine")
    ).orderBy("label")


EMBEDDING_CENTROID_DRIFT_SQL = f"""
WITH flat AS (
  SELECT label, CAST(vec_id % 2 AS INTEGER) AS half, pos,
         CAST(ROUND(CAST(embedding[pos] AS DOUBLE) * {_SCALE}, 0) AS BIGINT) AS micro
  FROM embeddings, (SELECT unnest(range(1, {vectors.EMB_DIM + 1})) AS pos)
),
cent AS (
  SELECT label, half, pos,
         CAST(SUM(micro) AS DOUBLE) / (COUNT(*) * {float(_SCALE)}) AS c,
         COUNT(*) AS n
  FROM flat GROUP BY 1, 2, 3
),
j AS (
  SELECT e.label, e.pos, e.c AS ce, o.c AS co, e.n AS n_even, o.n AS n_odd
  FROM cent e JOIN cent o
    ON e.label = o.label AND e.pos = o.pos AND e.half = 0 AND o.half = 1
),
sums AS (
  SELECT label,
         CAST(MAX(n_even) AS BIGINT) AS n_even,
         CAST(MAX(n_odd) AS BIGINT) AS n_odd,
         CAST(SUM(CAST(ROUND(ce * co * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dot_u,
         CAST(SUM(CAST(ROUND(ce * ce * 1000000000000.0) AS BIGINT)) AS BIGINT) AS ee_u,
         CAST(SUM(CAST(ROUND(co * co * 1000000000000.0) AS BIGINT)) AS BIGINT) AS oo_u
  FROM j GROUP BY 1
)
SELECT label, n_even, n_odd,
       ROUND(CAST(dot_u AS DOUBLE) / SQRT(CAST(ee_u AS DOUBLE) * CAST(oo_u AS DOUBLE)), 6) AS centroid_cosine
FROM sums
ORDER BY label
"""


# ---------------------------------------------------------------------------
# embedding_power_iteration — one exact step toward the top principal axis
# ---------------------------------------------------------------------------

# deterministic host-side start vector (small ints, fixed forever)
_PI_V0 = [((j * 37) % 19) - 9 for j in range(vectors.EMB_DIM)]
_PI_NORM0 = sum(v * v for v in _PI_V0) ** 0.5


def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's top principal axis:
    w = A^T (A v0) for a fixed integer start vector — the training step
    behind PCA whitening and spectral embeddings, next to kmeans_refine
    in the 'distributed ML steps' family. Every reduction follows the
    micro-unit discipline: per-vector projections s_i and per-position
    accumulations round once to 1e-6 and sum as BIGINT, so the result
    is partitioning- and engine-independent; the final normalization
    and Rayleigh-style magnitude estimate are identical IEEE
    expressions. Two bounded shuffles (per-vector, then per-position —
    64 rows)."""
    flat = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select("vec_id", (F.col("pos") + 1).alias("pos"), F.col("x").cast("double").alias("x"))
    v0 = spark.createDataFrame(
        [(j + 1, float(v)) for j, v in enumerate(_PI_V0)], "pos int, v double"
    )
    proj = (
        flat.join(F.broadcast(v0), "pos")
        .groupBy("vec_id")
        .agg(F.sum(F.round(F.col("x") * F.col("v") * 1_000_000.0).cast("bigint")).alias("s_u"))
        .select("vec_id", (F.col("s_u").cast("double") / 1_000_000.0).alias("s"))
    )
    w_tbl = (
        flat.join(proj, "vec_id")
        .groupBy("pos")
        .agg(F.sum(F.round(F.col("s") * F.col("x") * 1_000_000.0).cast("bigint")).alias("w_u"))
        .select("pos", (F.col("w_u").cast("double") / 1_000_000.0).alias("w"))
    )
    norm = w_tbl.agg(
        (
            F.sqrt(
                F.sum(F.round(F.col("w") * F.col("w") * 1_000_000.0).cast("bigint")).cast("double")
                / 1_000_000.0
            )
        ).alias("norm_w")
    )
    return (
        w_tbl.crossJoin(F.broadcast(norm))
        .select(
            F.col("pos").cast("int").alias("pos"),
            "w",
            (F.col("w") / F.col("norm_w")).alias("component"),
            (F.col("norm_w") / F.lit(_PI_NORM0)).alias("magnitude_est"),
        )
        .orderBy("pos")
    )


def _power_iter_sql() -> str:
    v0 = ", ".join(f"({j + 1}, {float(v)})" for j, v in enumerate(_PI_V0))
    return f"""
WITH flat AS (
  SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest(range(1, {vectors.EMB_DIM + 1})) AS pos)
),
v0(pos, v) AS (VALUES {v0}),
proj AS (
  SELECT vec_id,
         CAST(SUM(CAST(ROUND(x * v * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS s
  FROM flat JOIN v0 USING (pos)
  GROUP BY vec_id
),
w_tbl AS (
  SELECT pos,
         CAST(SUM(CAST(ROUND(s * x * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS w
  FROM flat JOIN proj USING (vec_id)
  GROUP BY pos
),
nrm AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(w * w * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0) AS norm_w
  FROM w_tbl
)
SELECT CAST(pos AS INTEGER) AS pos, w,
       w / nrm.norm_w AS component,
       nrm.norm_w / {_PI_NORM0} AS magnitude_est
FROM w_tbl CROSS JOIN nrm
ORDER BY pos
"""


EMBEDDING_POWER_ITERATION_SQL = _power_iter_sql()


# ---------------------------------------------------------------------------
# contrastive_pair_mining — positive + hard-negative mining per probe
# ---------------------------------------------------------------------------

CONTRASTIVE_PROBES = 20


def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-learning pair mining, the pipeline that feeds triplet
    /InfoNCE training: for each probe, the most-similar SAME-label
    candidate (positive) and the most-similar DIFFERENT-label candidate
    (hard negative) drawn from the probe's sign-LSH bucket — the same
    sub-quadratic candidate generation as ann_lsh_topk, so at 100 TB
    mining cost is corpus/2^planes per probe, never all-pairs. Ties
    break (cosine desc, vec_id asc); probes missing either side are
    dropped (stated contract). margin = pos_cos - neg_cos is the number
    curriculum schedulers threshold on."""
    base = _base(spark, sf_dir, with_bucket=True, with_label=True)
    probes = base.filter(F.col("vec_id") < CONTRASTIVE_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("emb").alias("p_emb"),
        F.col("n2").alias("p_n2"),
        F.col("bucket").alias("p_bucket"),
        F.col("label").alias("p_label"),
    )
    scored = (
        base.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("p_bucket"))
            & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            "p_label",
            "vec_id",
            "label",
            _pair_cos().alias("cosine"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    pos = (
        scored.where(F.col("label") == F.col("p_label"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "probe_id",
            F.col("vec_id").alias("pos_id"),
            F.col("cosine").alias("pos_cos"),
        )
    )
    neg = (
        scored.where(F.col("label") != F.col("p_label"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "probe_id",
            F.col("vec_id").alias("neg_id"),
            F.col("cosine").alias("neg_cos"),
        )
    )
    return pos.join(neg, "probe_id").select(
        "probe_id", "pos_id", "pos_cos", "neg_id", "neg_cos",
        (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
    )


def _contrastive_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    cos = f"ROUND({vectors.dot_sql('c.emb', 'p.p_emb')} / sqrt(c.n2 * p.p_n2), 6)"
    return f"""
WITH base AS (
  SELECT vec_id, label, embedding AS emb, {n2} AS n2,
         {vectors.lsh_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id AS probe_id, emb AS p_emb, n2 AS p_n2,
         bucket AS p_bucket, label AS p_label
  FROM base WHERE vec_id < {CONTRASTIVE_PROBES}
),
scored AS (
  SELECT p.probe_id, p.p_label, c.vec_id, c.label, {cos} AS cosine
  FROM base c JOIN probes p
    ON c.bucket = p.p_bucket AND c.vec_id <> p.probe_id
),
pos AS (
  SELECT probe_id, vec_id AS pos_id, cosine AS pos_cos
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored WHERE label = p_label)
  WHERE rk = 1
),
neg AS (
  SELECT probe_id, vec_id AS neg_id, cosine AS neg_cos
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored WHERE label <> p_label)
  WHERE rk = 1
)
SELECT pos.probe_id, pos_id, pos_cos, neg_id, neg_cos,
       pos_cos - neg_cos AS margin
FROM pos JOIN neg ON pos.probe_id = neg.probe_id
"""


CONTRASTIVE_PAIR_MINING_SQL = _contrastive_sql()


# ---------------------------------------------------------------------------
# embedding_norm_outliers — embedding-table QA report
# ---------------------------------------------------------------------------


def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health QA: per label, the squared-norm distribution and
    the count of 3-sigma norm outliers (dead/exploded vectors — the rows
    an ingest gate quarantines before training). The outlier test is the
    EXACT integer inequality (n·x − Σx)² > 9·(n·Σx² − (Σx)²) over
    micro-scaled norms in DECIMAL(38,0) — no float mean/std ever
    materializes, so the verdict is partitioning- and engine-exact.
    Plan: one partial-agg shuffle for the per-label moments, one
    broadcast join back, one re-agg — vectors shuffle once."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        F.round(vectors.norm2(F.col("embedding")) * 1_000_000, 0)
        .cast("bigint")
        .alias("x"),
    )
    st = x.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("q"),
    )
    j = x.join(F.broadcast(st), "label")
    d = F.col("n_vecs").cast("decimal(38,0)") * F.col("x") - F.col("s")
    rhs = (
        F.lit(9).cast("decimal(38,0)")
        * (
            F.col("n_vecs").cast("decimal(38,0)") * F.col("q")
            - F.col("s").cast("decimal(38,0)") * F.col("s")
        )
    )
    out = (
        j.select("label", (d * d > rhs).alias("is_out"))
        .groupBy("label")
        .agg(F.sum(F.when(F.col("is_out"), 1).otherwise(0)).cast("bigint").alias("n_outliers"))
    )
    return st.join(out, "label").select(
        "label",
        "n_vecs",
        (F.col("s").cast("double") / 1_000_000.0 / F.col("n_vecs")).alias("mean_n2"),
        "n_outliers",
    )


def _norm_outliers_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    return f"""
WITH x AS (
  SELECT label, CAST(ROUND({n2} * 1000000, 0) AS BIGINT) AS x FROM embeddings
),
st AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, SUM(x) AS s,
         SUM(CAST(x AS DECIMAL(38,0)) * x) AS q
  FROM x GROUP BY label
),
j AS (
  SELECT x.label,
         (CAST(n_vecs AS DECIMAL(38,0)) * x - s)
           * (CAST(n_vecs AS DECIMAL(38,0)) * x - s)
         > CAST(9 AS DECIMAL(38,0))
           * (CAST(n_vecs AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s)
           AS is_out
  FROM x JOIN st ON x.label = st.label
),
o AS (
  SELECT label, CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM j GROUP BY label
)
SELECT st.label, n_vecs,
       CAST(s AS DOUBLE) / 1000000.0 / n_vecs AS mean_n2,
       n_outliers
FROM st JOIN o ON st.label = o.label
"""


EMBEDDING_NORM_OUTLIERS_SQL = _norm_outliers_sql()


# ---------------------------------------------------------------------------
# multivector_maxsim — ColBERT-style late-interaction retrieval
# ---------------------------------------------------------------------------

MAXSIM_VECS_PER_DOC = 4
MAXSIM_PROBE_DOCS = 3
MAXSIM_TOP_K = 5


def multivector_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) retrieval baseline: consecutive
    groups of MAXSIM_VECS_PER_DOC vectors form one multi-vector doc;
    score(q, d) = Σ over query vectors of max over doc vectors of
    cosine. The probe docs broadcast (a handful of vectors), the corpus
    scan never shuffles for scoring, and the two-level reduce (max per
    query vector, then sum) is two grouped aggregations on the SAME
    (probe_doc, cand_doc) key — one shuffle. This is the exact-score
    ground truth the bucketed paths (ann_lsh/ivf shapes) are qualified
    against, mirroring ann_cosine_topk's role for single vectors."""
    base = _base(spark, sf_dir).select(
        F.expr(f"vec_id div {MAXSIM_VECS_PER_DOC}").cast("bigint").alias("doc_key"),
        "vec_id",
        "emb",
        "n2",
    )
    probes = base.filter(F.col("doc_key") < MAXSIM_PROBE_DOCS).select(
        F.col("doc_key").alias("q_doc"),
        F.col("vec_id").alias("q_vec"),
        F.col("emb").alias("p_emb"),
        F.col("n2").alias("p_n2"),
    )
    scored = base.join(
        F.broadcast(probes), F.col("doc_key") != F.col("q_doc")
    ).select(
        "q_doc",
        "q_vec",
        F.col("doc_key").alias("cand_doc"),
        _pair_cos().alias("cosine"),
    )
    per_qvec = scored.groupBy("q_doc", "cand_doc", "q_vec").agg(
        F.max("cosine").alias("best")
    )
    maxsim = per_qvec.groupBy("q_doc", "cand_doc").agg(
        F.round(F.sum("best"), 6).alias("maxsim")
    )
    w = Window.partitionBy("q_doc").orderBy(F.desc("maxsim"), F.asc("cand_doc"))
    return (
        maxsim.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= MAXSIM_TOP_K)
    )


def _maxsim_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    cos = f"ROUND({vectors.dot_sql('c.emb', 'p.p_emb')} / sqrt(c.n2 * p.p_n2), 6)"
    return f"""
WITH base AS (
  SELECT CAST(vec_id // {MAXSIM_VECS_PER_DOC} AS BIGINT) AS doc_key,
         vec_id, embedding AS emb, {n2} AS n2
  FROM embeddings
),
probes AS (
  SELECT doc_key AS q_doc, vec_id AS q_vec, emb AS p_emb, n2 AS p_n2
  FROM base WHERE doc_key < {MAXSIM_PROBE_DOCS}
),
scored AS (
  SELECT p.q_doc, p.q_vec, c.doc_key AS cand_doc, {cos} AS cosine
  FROM base c JOIN probes p ON c.doc_key <> p.q_doc
),
per_qvec AS (
  SELECT q_doc, cand_doc, q_vec, MAX(cosine) AS best
  FROM scored GROUP BY 1, 2, 3
),
maxsim AS (
  SELECT q_doc, cand_doc, ROUND(SUM(best), 6) AS maxsim
  FROM per_qvec GROUP BY 1, 2
)
SELECT q_doc, cand_doc, maxsim,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_doc
                               ORDER BY maxsim DESC, cand_doc) AS INTEGER) AS rank
FROM maxsim
QUALIFY rank <= {MAXSIM_TOP_K}
"""


MULTIVECTOR_MAXSIM_SQL = _maxsim_sql()


# ---------------------------------------------------------------------------
# embedding_knn_graph — k-nearest-neighbor graph over the corpus (LSH-
# bucketed, identical-vector collapsed)
# ---------------------------------------------------------------------------
#
# The substrate for SemDeDup-style clustering, label propagation, and
# graph-based coreset selection: every vector's k most-similar neighbors
# as an edge list. Candidates come from the sign-LSH bucket equi-join
# (never all-pairs); nodes are the DISTINCT vectors — byte-identical
# embeddings collapse to their min-vec_id representative with the
# multiplicity carried, because on a replica-heavy corpus (the sf10
# upscale: 100 copies of each vector) the raw bucket self-join explodes
# quadratically while the collapsed graph is identical information.

KNN_K = 5


def embedding_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges (src_id, dst_id, rank, cosine, src_n, dst_n) with rank =
    1..k per src over candidates sharing the src's LSH bucket; ties
    break to the smaller dst. One shuffle groups identical arrays, one
    equi-join on the bucket id, and the rank<=k filter runs as a
    WindowGroupLimit partial top-k before the final sort."""
    grouped = _knn_grouped(spark, sf_dir)
    a = grouped.select(
        F.col("gid").alias("src_id"), F.col("n_members").alias("src_n"),
        F.col("emb").alias("emb_a"), F.col("sn").alias("sn_a"), "bucket",
    )
    b = grouped.select(
        F.col("gid").alias("dst_id"), F.col("n_members").alias("dst_n"),
        F.col("emb").alias("emb_b"), F.col("sn").alias("sn_b"), "bucket",
    )
    cos = F.round(
        vectors.dot(F.col("emb_a"), F.col("emb_b")) / (F.col("sn_a") * F.col("sn_b")), 6
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "src_n", "dst_id", "dst_n", cos.alias("cosine"))
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("dst_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= KNN_K)
        .select("src_id", "dst_id", "rank", "cosine", "src_n", "dst_n")
        .orderBy("src_id", "rank")
    )


def _knn_graph_sql() -> str:
    n2 = vectors.norm2_sql("embedding")
    return f"""
WITH grouped AS (
  SELECT MIN(vec_id) AS gid, CAST(COUNT(*) AS BIGINT) AS n_members,
         embedding AS emb,
         sqrt({n2}) AS sn,
         {vectors.lsh_bucket_sql("embedding")} AS bucket
  FROM embeddings
  GROUP BY embedding
),
scored AS (
  SELECT a.gid AS src_id, a.n_members AS src_n,
         b.gid AS dst_id, b.n_members AS dst_n,
         ROUND({vectors.dot_sql("a.emb", "b.emb")} / (a.sn * b.sn), 6) AS cosine
  FROM grouped a JOIN grouped b
    ON a.bucket = b.bucket AND a.gid <> b.gid
),
ranked AS (
  SELECT src_id, dst_id, cosine, src_n, dst_n,
         CAST(ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cosine DESC, dst_id) AS INTEGER) AS rank
  FROM scored
)
SELECT src_id, dst_id, rank, cosine, src_n, dst_n
FROM ranked WHERE rank <= {KNN_K}
ORDER BY src_id, rank
"""


EMBEDDING_KNN_GRAPH_SQL = _knn_graph_sql()


# ---------------------------------------------------------------------------
# embedding_label_propagation — semi-supervised label spreading over the
# kNN graph (weak supervision for training data)
# ---------------------------------------------------------------------------
#
# The standard trick for labeling a corpus from a small seed set: keep
# the 20% of nodes whose label is trusted fixed, and for LP_ROUNDS
# synchronous rounds every other node takes the majority label of its k
# nearest neighbors (ties to the smallest label id). Fixed rounds +
# integer counts + deterministic tie-break = a finite CTE chain oracle,
# the pagerank_exact pattern applied to the LLM side of the house.

LP_ROUNDS = 3
LP_SEED_MOD = 5  # gid % 5 == 0 -> trusted seed label


def _knn_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(gid, n_members, emb, sn, bucket): one row per DISTINCT embedding
    with the per-group attributes the kNN graph and label propagation
    both need — ONE aggregation over the corpus, shared (label
    propagation previously repeated the identical groupBy to rebuild
    its node set)."""
    emb = split_for_cpu(load(spark, sf_dir, "embeddings"), "vec_id")
    return (
        emb.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .select(
            "gid",
            "n_members",
            vectors.emb_double(F.col("embedding")).alias("emb"),
            F.sqrt(vectors.norm2(F.col("embedding"))).alias("sn"),
            vectors.lsh_bucket(F.col("embedding")).alias("bucket"),
        )
    )


def _knn_edges(spark: SparkSession, sf_dir: str):
    """(src_id, dst_id) edges of embedding_knn_graph plus the node set
    with each representative's own label — shared by the propagation
    rounds below."""
    edges = embedding_knn_graph(spark, sf_dir).select("src_id", "dst_id")
    emb = load(spark, sf_dir, "embeddings")
    nodes = _knn_grouped(spark, sf_dir).join(
        emb.select(F.col("vec_id").alias("gid"), F.col("label").cast("int").alias("true_label")),
        "gid",
    ).select("gid", "n_members", "true_label")
    return edges, nodes


def embedding_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per node: the propagated label after LP_ROUNDS majority rounds,
    whether it was a seed, and whether propagation recovered the held-out
    true label — the evaluation every weak-supervision pipeline runs
    before trusting spread labels.

    Plan: the edge list and seed set build once (kNN graph machinery,
    identical-vector collapse included); each round is ONE join of edges
    to current labels and ONE (node, label) count agg with an argmax
    fold — two shuffles per round, the scalable label-propagation shape.
    query_checkpoint cuts lineage between rounds as in pagerank_exact."""
    edges, nodes = _knn_edges(spark, sf_dir)
    edges = query_persist(edges)
    nodes = query_persist(nodes)
    is_seed = (F.col("gid") % LP_SEED_MOD) == 0
    cur = nodes.select(
        "gid",
        F.when(is_seed, F.col("true_label")).alias("label"),
    )
    for _ in range(LP_ROUNDS):
        votes = (
            edges.join(cur.withColumnRenamed("gid", "dst_id"), "dst_id")
            .filter(F.col("label").isNotNull())
            .groupBy(F.col("src_id").alias("gid"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("gid")
            .agg(F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("best"))
            .select("gid", (-F.col("best.neg")).cast("int").alias("vote"))
        )
        cur = query_checkpoint(
            nodes.select("gid", F.when(is_seed, F.col("true_label")).alias("seed_label"))
            .join(cur.select("gid", F.col("label").alias("prev")), "gid")
            .join(votes, "gid", "left")
            .select(
                "gid",
                F.coalesce(F.col("seed_label"), F.col("vote"), F.col("prev")).alias("label"),
            ),
            eager=False,
        )
    return (
        nodes.join(cur, "gid")
        .select(
            "gid",
            "n_members",
            F.when(is_seed, 1).otherwise(0).cast("int").alias("is_seed"),
            F.col("label").cast("int").alias("label"),
            F.when(~is_seed & F.col("label").isNotNull(),
                   (F.col("label") == F.col("true_label")).cast("int"))
            .alias("recovered"),
        )
        .orderBy("gid")
    )


def _label_prop_sql() -> str:
    rounds = []
    prev = "l0"
    for i in range(1, LP_ROUNDS + 1):
        rounds.append(
            f"""v{i} AS (
  SELECT e.src_id AS gid, c.label, COUNT(*) AS n
  FROM edges e JOIN {prev} c ON e.dst_id = c.gid
  WHERE c.label IS NOT NULL
  GROUP BY 1, 2
),
b{i} AS (
  SELECT gid, label AS vote,
         ROW_NUMBER() OVER (PARTITION BY gid ORDER BY n DESC, label) AS rn
  FROM v{i}
),
l{i} AS (
  SELECT n.gid,
         COALESCE(CASE WHEN n.gid % {LP_SEED_MOD} = 0 THEN n.true_label END,
                  b.vote, c.label) AS label
  FROM nodes n
  JOIN {prev} c ON c.gid = n.gid
  LEFT JOIN b{i} b ON b.gid = n.gid AND b.rn = 1
)"""
        )
        prev = f"l{i}"
    chain = ",\n".join(rounds)
    knn = EMBEDDING_KNN_GRAPH_SQL.strip().rstrip(";")
    return f"""
WITH edges AS (SELECT src_id, dst_id FROM ({knn})),
nodes AS (
  SELECT g.gid, g.n_members, CAST(e.label AS INTEGER) AS true_label
  FROM (SELECT MIN(vec_id) AS gid, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM embeddings GROUP BY embedding) g
  JOIN embeddings e ON e.vec_id = g.gid
),
l0 AS (
  SELECT gid, CASE WHEN gid % {LP_SEED_MOD} = 0 THEN true_label END AS label
  FROM nodes
),
{chain}
SELECT n.gid, n.n_members,
       CAST(CASE WHEN n.gid % {LP_SEED_MOD} = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_seed,
       CAST(c.label AS INTEGER) AS label,
       CASE WHEN n.gid % {LP_SEED_MOD} <> 0 AND c.label IS NOT NULL
            THEN CAST(c.label = n.true_label AS INTEGER) END AS recovered
FROM nodes n JOIN {prev} c ON c.gid = n.gid
ORDER BY n.gid
"""


EMBEDDING_LABEL_PROPAGATION_SQL = _label_prop_sql()


# ---------------------------------------------------------------------------
# embedding_random_projection — Johnson-Lindenstrauss sketch + the
# distance-preservation report that decides whether the sketch is usable
# (the dimensionality-reduction primitive next to int8/PQ compression:
# JL reduces DIMS where PQ reduces BYTES; Achlioptas 2001 shows +-1 sign
# matrices suffice, which is what makes the projection exactly
# cross-engine reproducible here).
# ---------------------------------------------------------------------------

JL_K = 16           # target dimensionality
JL_PAIR_PROBES = 50  # probe vectors for the pairwise preservation report


def _jl_sign(i: int, j: int) -> float:
    """+-1 sign of projection row i at input dim j — same deterministic
    integer scramble family as the LSH plane weights."""
    return 1.0 - 2.0 * (
        ((1 + i * vectors.EMB_DIM + j) * vectors._W_MUL) % vectors._W_MOD % 2
    )


def _jl_project(arr):
    """k ordered-fold dot products against host-literal sign rows,
    scaled by 1/sqrt(k) (host-precomputed double literal)."""
    inv = 1.0 / _math.sqrt(JL_K)
    rows = [
        F.array(*[F.lit(_jl_sign(i, j)) for j in range(vectors.EMB_DIM)])
        for i in range(JL_K)
    ]
    return F.array(*[(vectors.dot(arr, rows[i]) * F.lit(inv)) for i in range(JL_K)])


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64 -> JL_K dims with the pairwise
    distance-preservation report over the probe set: for every probe
    pair, the original and projected squared distances and their ratio
    (E[ratio] = 1; spread ~ sqrt(2/k)). The projection is a per-row
    ordered fold (zero shuffles, embarrassingly parallel); the report
    joins only the tiny probe set against itself."""
    base = load(spark, sf_dir, "embeddings")
    probes = base.filter(F.col("vec_id") < JL_PAIR_PROBES).select(
        "vec_id",
        vectors.emb_double(F.col("embedding")).alias("arr"),
    )
    proj = probes.select("vec_id", "arr", _jl_project(F.col("arr")).alias("jl"))
    a = proj.select(
        F.col("vec_id").alias("vec_a"),
        F.col("arr").alias("arr_a"),
        F.col("jl").alias("jl_a"),
    )
    b = proj.select(
        F.col("vec_id").alias("vec_b"),
        F.col("arr").alias("arr_b"),
        F.col("jl").alias("jl_b"),
    )
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    d2o = vectors.fold_sum(
        F.zip_with(F.col("arr_a"), F.col("arr_b"), lambda x, y: (x - y) * (x - y))
    )
    d2p = vectors.fold_sum(
        F.zip_with(F.col("jl_a"), F.col("jl_b"), lambda x, y: (x - y) * (x - y))
    )
    out = pairs.select(
        "vec_a", "vec_b", d2o.alias("d2_orig"), d2p.alias("d2_proj")
    )
    return out.filter(F.col("d2_orig") > 0.0).select(
        "vec_a", "vec_b", "d2_orig", "d2_proj",
        (F.col("d2_proj") / F.col("d2_orig")).alias("ratio"),
    )


def _jl_sql() -> str:
    inv = repr(1.0 / _math.sqrt(JL_K)) + "e0"
    dims = []
    for i in range(JL_K):
        terms = " + ".join(
            f"(CAST(embedding[{j + 1}] AS DOUBLE) * {_jl_sign(i, j)!r}e0)"
            for j in range(vectors.EMB_DIM)
        )
        dims.append(f"(({terms}) * {inv})")
    # NOTE: the Spark side folds LEFT-TO-RIGHT; the unrolled + chain above
    # is also left-associated in both parsers, so the sum order matches.
    jl_list = "list_value(" + ", ".join(dims) + ")"
    return f"""
WITH probes AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS arr,
         {jl_list} AS jl
  FROM embeddings WHERE vec_id < {JL_PAIR_PROBES}
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_sum(list_transform(range(1, {vectors.EMB_DIM + 1}),
                  j -> (a.arr[j] - b.arr[j]) * (a.arr[j] - b.arr[j]))) AS d2_orig,
         list_sum(list_transform(range(1, {JL_K + 1}),
                  j -> (a.jl[j] - b.jl[j]) * (a.jl[j] - b.jl[j]))) AS d2_proj
  FROM probes a JOIN probes b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, d2_orig, d2_proj, d2_proj / d2_orig AS ratio
FROM pairs WHERE d2_orig > 0.0
"""


EMBEDDING_RANDOM_PROJECTION_SQL = _jl_sql()
