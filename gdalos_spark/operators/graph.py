"""Graph analytics over a join-derived co-supply graph.

gdalos' scheduler walks a job-dependency DAG (WHATDO.md:13-14 "sort jobs
by expected size then by dependency"); at warehouse scale the same engine
primitives support graph analytics proper. The graph here is derived,
not synthetic: vertices are suppliers, and an undirected edge joins two
suppliers that shipped the same part on the same day (competitors) — a
DF-capped blocked equi-join construction, so |E| is bounded by
C(cap,2) x blocks, never quadratic in suppliers.

Both operators stay in exact integer arithmetic end to end, so the
DuckDB oracle gates them value-exact:
- triangle counting is the canonical two-join pattern (edge ⋈ edge on
  the shared vertex, semi-join the closing edge) with the a<b<c
  canonical ordering so each triangle counts once;
- PageRank runs a FIXED number of exact integer iterations: ranks are
  micro-units (BIGINT), contributions use integer division (the
  sub-micro-unit remainder truncates, deterministically on both
  engines), damping 0.85 is the exact rational 85/100 in integer
  arithmetic. No float ever enters the fixpoint, so the result is
  independent of aggregation order AND engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdalos_spark.datamodel import (
    fixpoint,
    load,
    query_checkpoint,
    query_persist,
    total_unchanged,
)


EDGE_GROUP_CAP = 20  # max suppliers per (part, day) block that emit pairs


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct undirected competitor edges (a < b): two suppliers who
    shipped the SAME PART on the SAME DAY. Blocking on (part, day) is
    the same DF-capped candidate discipline as the dedup family: a
    block with more than EDGE_GROUP_CAP suppliers emits no pairs (a
    hub block is promotional noise, and the cap bounds the fan-out at
    C(cap,2) per block however large the corpus — the coarser
    per-order co-supply relation goes near-complete at scale and would
    make any exact triangle count Ω(n³))."""
    # l_shipdate scans as TIMESTAMP_NTZ; CAST to DATE is pure wall-clock
    # there (no session-zone shift), and unix_date is the exact day index
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.expr("unix_date(CAST(l_shipdate AS DATE))").cast("bigint").alias("d"),
            "l_suppkey",
        )
        .distinct()
    )
    ok = li.groupBy("l_partkey", "d").agg(F.count(F.lit(1)).alias("n_blk")).filter(
        F.col("n_blk") <= EDGE_GROUP_CAP
    )
    li = li.join(ok.select("l_partkey", "d"), ["l_partkey", "d"], "left_semi")
    a = li.select(F.col("l_partkey").alias("p"), F.col("d").alias("dd"), F.col("l_suppkey").alias("a"))
    b = li.select(F.col("l_partkey").alias("p2"), F.col("d").alias("dd2"), F.col("l_suppkey").alias("b"))
    return (
        a.join(
            b,
            (F.col("p") == F.col("p2"))
            & (F.col("dd") == F.col("dd2"))
            & (F.col("a") < F.col("b")),
        )
        .select("a", "b")
        .distinct()
    )


_EDGES_SQL = f"""
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM (SELECT DISTINCT l_partkey, CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400 AS d, l_suppkey FROM lineitem) x
  JOIN (SELECT DISTINCT l_partkey, CAST(FLOOR(epoch(l_shipdate)) AS BIGINT) // 86400 AS d, l_suppkey FROM lineitem) y
    ON x.l_partkey = y.l_partkey AND x.d = y.d AND x.l_suppkey < y.l_suppkey
  WHERE (SELECT COUNT(DISTINCT z.l_suppkey) FROM lineitem z
         WHERE z.l_partkey = x.l_partkey
           AND CAST(FLOOR(epoch(z.l_shipdate)) AS BIGINT) // 86400 = x.d) <= {EDGE_GROUP_CAP}
"""


# ---------------------------------------------------------------------------
# supplier_triangles — distributed triangle counting
# ---------------------------------------------------------------------------


def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-supply graph: wedges from E ⋈ E on the
    middle vertex (a<b from the first edge, b<c from the second keeps
    every triangle exactly once), closed by a LEFT SEMI join against E —
    the standard two-shuffle distributed triangle pattern (at 100 TB the
    degree-ordered orientation bounds the wedge fan-out by the smaller
    endpoint's degree). Output: global triangle/wedge counts and the
    closure ratio, the clustering signal."""
    e = query_persist(_edges(spark, sf_dir))
    n_edges = e.count()
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    wedges = e.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    # Round-13 (guide §2.1/§5): count wedges and closed wedges in ONE pass.
    # The old shape ran wedges.count() and then a LEFT SEMI tri.count() —
    # the E⋈E wedge join (the expensive stage: |wedges| >> |E|) executed
    # twice. Because e is DISTINCT on (a, b), the closing edge matches a
    # wedge at most once, so a LEFT join + count(closed) is row-for-row
    # the semi-join count while sharing the single wedge pass.
    closing = e.select(
        F.col("a").alias("ca"), F.col("b").alias("cb"), F.lit(1).alias("closed")
    )
    counts = (
        wedges.join(
            closing,
            (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cb")),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.count("closed").alias("n_tri"),
        )
        .first()
    )
    n_wedges = counts["n_wedges"]
    n_tri = counts["n_tri"]
    return spark.createDataFrame(
        [(n_edges, n_wedges, n_tri, (3.0 * n_tri) / n_wedges if n_wedges else -1.0)],
        "n_edges bigint, n_wedges bigint, n_triangles bigint, closure_ratio double",
    )


SUPPLIER_TRIANGLES_SQL = f"""
WITH e AS ({_EDGES_SQL}),
wedges AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1 JOIN e e2 ON e1.b = e2.a
),
tri AS (
  SELECT w.a FROM wedges w
  WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)
),
counts AS (
  SELECT (SELECT COUNT(*) FROM e) AS n_edges,
         (SELECT COUNT(*) FROM wedges) AS n_wedges,
         (SELECT COUNT(*) FROM tri) AS n_triangles
)
SELECT n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN (3.0 * n_triangles) / n_wedges ELSE -1.0 END AS closure_ratio
FROM counts
"""


# ---------------------------------------------------------------------------
# pagerank_exact — fixed-iteration integer PageRank
# ---------------------------------------------------------------------------

PR_ITERS = 2
PR_INIT_U = 1_000_000  # initial rank per node, micro-units
PR_TOPK = 25


def pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR_ITERS exact power iterations over the (undirected, so
    symmetrized) co-supply graph. Everything stays BIGINT micro-units:
    each node's outgoing contribution is rank div degree (integer
    division; the sub-micro-unit remainder truncates identically on
    both engines — deterministic, at most deg micro-units per node per
    round), and damping is the exact rational
    (15*INIT + 85*inflow) div 100. Aggregation-order
    independence is free because only integers are summed; the fixed
    iteration count makes the oracle a finite CTE chain, not a
    fixpoint. Per iteration: one degree-join, one target-key shuffle —
    the same two-exchange round as large-scale PageRank, with
    query_checkpoint cutting lineage between rounds."""
    e = _edges(spark, sf_dir)
    # Round-12 optimization (guide §5 caching): sym is consumed by the
    # degree agg AND by every power iteration, and un-persisted each
    # consumer re-ran the whole edge derivation (lineitem distinct +
    # blocked self-join + distinct — the expensive part of the operator).
    # Invisible at sf0.1 (~1 s edge build) but 3 recomputations ~50 s
    # each at sf10: the full-catalog sweep caught the key at 156.5 s;
    # persisting sym once drops it to the single edge-build floor.
    sym = query_persist(e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    deg = query_persist(sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg")))
    ranks = deg.select("a", F.lit(PR_INIT_U).cast("bigint").alias("rank_u"))
    for _ in range(PR_ITERS):
        contrib = (
            sym.join(ranks, "a")
            .join(deg, "a")
            .select(
                F.col("b").alias("node"),
                F.expr("rank_u div deg").alias("c_u"),
            )
        )
        inflow = contrib.groupBy("node").agg(F.sum("c_u").alias("in_u"))
        ranks = (
            deg.select("a")
            .join(inflow, deg.a == inflow.node, "left")
            .select(
                "a",
                F.expr(
                    f"(15 * CAST({PR_INIT_U} AS BIGINT)"
                    " + 85 * coalesce(in_u, CAST(0 AS BIGINT))) div 100"
                ).alias("rank_u"),
            )
        )
        ranks = query_checkpoint(ranks, eager=False)
    out = ranks.join(deg, "a").select(
        F.col("a").alias("suppkey"),
        F.col("deg").cast("bigint").alias("degree"),
        (F.col("rank_u").cast("double") / 1_000_000.0).alias("rank"),
    )
    return out.orderBy(F.desc("rank"), "suppkey").limit(PR_TOPK)


def _pagerank_sql() -> str:
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(
            f"""r{i} AS (
  SELECT d.a,
         (15 * CAST({PR_INIT_U} AS BIGINT)
          + 85 * COALESCE((SELECT CAST(SUM(r.rank_u // d2.deg) AS BIGINT)
                           FROM sym s JOIN {prev} r ON s.a = r.a
                           JOIN deg d2 ON s.a = d2.a
                           WHERE s.b = d.a), CAST(0 AS BIGINT))) // 100 AS rank_u
  FROM deg d
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH e AS ({_EDGES_SQL}),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg AS (SELECT a, COUNT(*) AS deg FROM sym GROUP BY a),
r0 AS (SELECT a, CAST({PR_INIT_U} AS BIGINT) AS rank_u FROM deg),
{chain}
SELECT d.a AS suppkey, CAST(d.deg AS BIGINT) AS degree,
       CAST(r.rank_u AS DOUBLE) / 1000000.0 AS rank
FROM {prev} r JOIN deg d ON r.a = d.a
ORDER BY rank DESC, suppkey
LIMIT {PR_TOPK}
"""


PAGERANK_EXACT_SQL = _pagerank_sql()


# ---------------------------------------------------------------------------
# supplier_kcore — k-core decomposition by fixed-round peeling
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 8


def supplier_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the competitor graph: iteratively peel vertices with
    degree < KCORE_K until stable — the standard dense-substructure
    detector (community cores, spam rings, influence backbones). Each
    peel round is one degree groupBy + one semi-join edge filter, capped
    at KCORE_ROUNDS so both engines execute the identical schedule, with
    a convergence early-exit once a round removes nothing (a fixed point
    — the oracle's remaining fixed rounds are provably no-ops). Output:
    surviving vertices with their final in-core degree."""
    edges = _edges(spark, sf_dir)
    und = query_checkpoint(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
    )

    def peel(und: DataFrame) -> DataFrame:
        deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= KCORE_K).select("u")
        return und.join(keep, "u", "left_semi").join(
            keep.withColumnRenamed("u", "v"), "v", "left_semi"
        )

    # a round that removes no edge (peeling only shrinks the set, so an
    # unchanged count) is a fixed point: stopping there keeps the
    # oracle's fixed-8-round result bit-identical
    und, _, _ = fixpoint(und, peel, total_unchanged(F.lit(1)), KCORE_ROUNDS)
    return (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .select(F.col("u").alias("s_suppkey"), "core_degree")
    )


def _kcore_sql() -> str:
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # peel round references the previous one twice — unmaterialized,
    # the edge scan re-expands 2^rounds times (observed as a
    # too-many-open-files explosion at 8 rounds)
    parts = [f"""
WITH e AS MATERIALIZED ({_EDGES_SQL}),
u0 AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e
  UNION ALL SELECT b AS u, a AS v FROM e
)"""]
    for i in range(1, KCORE_ROUNDS + 1):
        parts.append(f""",
k{i} AS MATERIALIZED (
  SELECT u FROM u{i - 1} GROUP BY u HAVING COUNT(*) >= {KCORE_K}
),
u{i} AS MATERIALIZED (
  SELECT t.u, t.v FROM u{i - 1} t
  SEMI JOIN k{i} a ON t.u = a.u
  SEMI JOIN k{i} b ON t.v = b.u
)""")
    parts.append(f"""
SELECT u AS s_suppkey, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM u{KCORE_ROUNDS}
GROUP BY u
""")
    return "".join(parts)


SUPPLIER_KCORE_SQL = _kcore_sql()
