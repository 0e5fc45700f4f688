"""Relational engine core.

gdalos is at heart a batch-job engine: it plans a list of jobs, sizes them,
sorts by expected output size, and runs them with dependencies
(/root/reference/WHATDO.md "sort jobs by expected size then by dependency").
A distributed engine needs the same primitives as first-class relational
operators: scan→filter→project→aggregate→join→sort→limit→window. These
queries exercise each of them on the TPC-H-ish testdata.

All money aggregates run in DECIMAL so results are bit-exact against the
DuckDB oracle (double sums are order-dependent; decimal sums are not).

Terminal-type rule (driver hash gate): every output column is BIGINT, INT,
DOUBLE, or VARCHAR on BOTH engines. Decimal sums stay exact internally and
are cast to DOUBLE only at the very end (sums here are < 2^53 when scaled,
so the cast is exact); DuckDB HUGEINT window/conditional sums are cast to
BIGINT; timestamps are formatted to ISO strings. Spark's decimal widening
(sum(decimal(18,2)) -> decimal(28,2)) differs from DuckDB's (-> 38,2), so a
decimal terminal hashes differently even when values are equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gdalos_spark.datamodel import epoch_micros, load


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the flagship scan→agg pipeline.

    Plan shape at scale: single parquet scan with column pruning +
    shipdate pushdown, partial (map-side) aggregation, one shuffle on the
    two low-cardinality group keys.

    2-dp money columns are summed as exact integer CENTS (BIGINT) —
    ~2.4x faster than decimal aggregation in whole-stage codegen, still
    bit-exact (ROUND(x*100) is exact for 2-dp values; the sums stay
    under 2^53 even at TPC-H sf100k). Only sum_disc_price keeps the
    DECIMAL path: its cents-product sum could overflow int64 at 100 TB.
    """
    li = load(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c).cast("double") * 100, 0).cast("bigint")  # noqa: E731
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents("l_quantity")).cast("double") / 100.0).alias("sum_qty"),
            (F.sum(cents("l_extendedprice")).cast("double") / 100.0).alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast(
                    "decimal(28,4)"
                )
            ).cast("double").alias("sum_disc_price"),
            cnt.alias("count_order"),
            # exact integer sum -> double, / 100 / count: bit-identical
            (F.sum(cents("l_quantity")).cast("double") / 100.0 / cnt).alias("avg_qty"),
            (F.sum(cents("l_discount")).cast("double") / 100.0 / cnt).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
  CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
  COUNT(*) AS count_order,
  CAST(SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(ROUND(CAST(l_discount AS DOUBLE) * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-style: customer ⋈ orders ⋈ lineitem, top revenue orders.

    customer is small relative to lineitem → explicit broadcast; the
    orders⋈lineitem join shuffles on orderkey (AQE coalesces).
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15"))
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
    if _custkey_large_regime(
        spark, sf_dir, "orders", CUSTKEY_BROADCAST_MAX_ROWS * 10,
        "orders", "lineitem",
    ):
        # large regime (bucketed layout staged): a fact-sized frame must
        # not broadcast. customer is filter-only here (no customer column
        # survives), so the custkey edge is a SEMI join against the key
        # projection — 8 B/row build side, AQE broadcasts it while it
        # fits and the orders scan keeps its bucketed layout either way;
        # the orderkey SMJ below is then exchange-free on BOTH sides.
        # Identical to the inner join because c_custkey is unique.
        enriched = orders.join(
            cust.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "leftsemi",
        )
    else:
        # small / unstaged regime: ship the filtered, customer-joined
        # orders to every task — the lineitem side then never leaves its
        # scan layout (2x faster than the SMJ tree on plain parquet,
        # BASELINE.md sf100 A/B)
        enriched = F.broadcast(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        )
    return (
        li.join(enriched, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("rev"))
        .orderBy(F.desc("rev"), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            F.col("rev").cast("double").alias("revenue"),
        )
    )


TOP_ORDERS_SQL = """
SELECT
  l_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  o_orderpriority,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# Above this many customer rows — AND only when the bucketed fact
# layout is actually staged — the Q3/Q5 custkey edge abandons fact-sized
# broadcasts: a 100-TB-scale frame cannot ship to every executor, so the
# plan pre-joins customer into a NARROW orders frame first (custkey SMJ,
# exchange-free on the bucketed customer side), then hits lineitem on
# the orderkey edge where the bucketed layout removes the big shuffle.
# The fat orders⋈lineitem intermediate never shuffles on custkey under
# this shape. Result-identical (decimal sums are order-insensitive).
# Both halves of the gate are measured, not guessed (BASELINE.md sf100
# A/B): WITHOUT the layout the broadcast tree wins locally by 2x
# (region_volume 229 vs 373 s — the narrow shape just adds shuffles),
# so plain layouts keep it at every size; WITH the layout the narrow
# shape is wall-parity locally (88 vs 81 s) while deleting the
# 240 MB-per-executor customer broadcast and the fact exchange — the
# costs that dominate on a real cluster.
CUSTKEY_BROADCAST_MAX_ROWS = 1_000_000


def _custkey_large_regime(
    spark: SparkSession,
    sf_dir: str,
    count_table: str,
    threshold: int,
    *attach_tables: str,
) -> bool:
    """True only when the corpus is past ``threshold`` AND every staged
    table the narrow shape's win depends on is actually attached — a
    partially-staged source dir (one fact staged, the other skipped)
    must keep the broadcast tree, which is 2x faster on plain layouts
    (BASELINE.md sf100 A/B)."""
    from gdalos_spark.datamodel import footer_count
    from gdalos_spark.sources import bucketed

    return footer_count(sf_dir, count_table) > threshold and all(
        bucketed.attach(spark, sf_dir, t) is not None for t in attach_tables
    )


def region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style 5-way join: revenue by nation within a region.

    nation/region/supplier broadcast. customer broadcasts below
    CUSTKEY_BROADCAST_MAX_ROWS; above it (parquet-footer count, no job)
    the custkey edge runs as an SMJ of two NARROW projections BEFORE the
    lineitem join, so the fat fact intermediate never shuffles on
    custkey and nothing dim-sized broadcasts.
    """
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
    if _custkey_large_regime(
        spark, sf_dir, "customer", CUSTKEY_BROADCAST_MAX_ROWS,
        "customer", "orders", "lineitem",
    ):
        # narrow custkey edge first: (o_orderkey, c_nationkey) is all the
        # downstream plan needs from the customer side
        enriched = orders.select("o_orderkey", "o_custkey").join(
            cust.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        ).select("o_orderkey", "c_nationkey")
        joined = li.join(enriched, li.l_orderkey == F.col("o_orderkey"))
    else:
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
    return (
        joined
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter((F.col("r_name") == "ASIA") & (F.col("c_nationkey") == sup.s_nationkey))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


REGION_VOLUME_SQL = """
SELECT
  n_name,
  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle gap) per user.

    Classic streaming-adjacent op done as two windows: lag(ts) per user →
    new-session flag → running sum = session id. One shuffle on user_id,
    both windows share the partitioning.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(w).cast("bigint"))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
           OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, value,
    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event_type — the batch twin of the
    Structured Streaming operator in gdalos_spark.streaming.events."""
    ev = load(spark, sf_dir, "events")
    hour = (F.floor(F.col("ts").cast("long") / 3600) * 3600).cast("long").alias("window_start")
    return (
        ev.groupBy(hour, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


EVENTS_WINDOWED_AGG_SQL = """
SELECT
  CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""

# ---------------------------------------------------------------------------
# 48. skewed_agg_salted — explicit two-phase salted aggregation
# ---------------------------------------------------------------------------

N_SALTS = 16


def skewed_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-user aggregation: phase 1 groups on
    (user_id, salt = event_id % N_SALTS) so a hot user's rows spread over
    N_SALTS reducers; phase 2 merges the partials on user_id, moving at
    most N_SALTS rows per user. Result is identical to the direct
    groupBy (the oracle IS the direct groupBy) — this is the salting
    pattern for skew that AQE's skew-join handling does not cover for
    aggregations. Decimal partials keep the merge exact."""
    ev = load(spark, sf_dir, "events")
    phase1 = (
        ev.groupBy("user_id", (F.col("event_id") % N_SALTS).alias("salt"))
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("pv"),
        )
    )
    return (
        phase1.groupBy("user_id")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.sum("pv").cast("double").alias("total_value"),
        )
    )


SKEWED_AGG_SALTED_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# 64. order_priority_counts — EXISTS semi-join (TPC-H Q4 shape)
# ---------------------------------------------------------------------------

LATE_DAYS = 30


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority counts over orders having at least one late lineitem
    (shipped > 30 days after the order date) — the TPC-H Q4 plan shape:
    a LEFT SEMI join (EXISTS), which Spark executes without duplicating
    or materializing the probe side, then a tiny groupBy on priority.
    The semi-join shuffles both sides on o_orderkey once; at 100 TB AQE
    picks shuffled-hash vs sort-merge per partition size."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORDER_PRIORITY_COUNTS_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY
)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 65. customer_order_distribution — outer-join histogram (TPC-H Q13 shape)
# ---------------------------------------------------------------------------


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders-per-customer INCLUDING zero-order customers
    — the TPC-H Q13 double-aggregate: left outer join customer->orders,
    count per customer (nulls count 0), then histogram the counts. Two
    shuffles (per-customer count, then the tiny histogram agg); the
    outer join preserves every customer row, which an inner-join
    histogram would silently drop."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
)
SELECT CAST(c_count AS BIGINT) AS c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 76. promo_revenue — conditional-ratio aggregate over a broadcast dim join
#     (TPC-H Q14 shape; first use of the `part` table)
# ---------------------------------------------------------------------------


def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from PROMO-type parts. Revenue is exact
    integer cents x (100 - discount%) so the conditional sums are
    BIGINT-exact in both engines; the final ratio is one double division
    of exact integers. part is a dimension -> broadcast; lineitem never
    shuffles for the join, then one groupBy on ~month keys with map-side
    partials."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("int").alias("ym"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("rev"),
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return (
        j.groupBy("ym")
        .agg(
            F.sum("rev").alias("total_rev"),
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(F.lit(0))).alias("promo_rev"),
        )
        .select(
            "ym",
            F.col("total_rev").cast("bigint").alias("total_rev"),
            F.col("promo_rev").cast("bigint").alias("promo_rev"),
            (F.lit(100.0) * F.col("promo_rev").cast("double") / F.col("total_rev").cast("double")).alias("promo_pct"),
        )
    )


PROMO_REVENUE_SQL = """
WITH li AS (
  SELECT l_partkey,
         CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER) AS ym,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev
  FROM lineitem
)
SELECT ym,
       CAST(SUM(rev) AS BIGINT) AS total_rev,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS BIGINT) AS promo_rev,
       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS promo_pct
FROM li JOIN part ON l_partkey = p_partkey
GROUP BY ym
"""


# ---------------------------------------------------------------------------
# 77. large_orders — HAVING-filtered agg joined back (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

LARGE_QTY = 220.0  # ~3% of orders qualify -> the join-back set is genuinely broadcastable


def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total lineitem quantity exceeds the threshold, with
    order details. The Q18 scale trick: the HAVING output is a tiny key
    set, so the join BACK to orders broadcasts it — the orders scan never
    shuffles. Quantity sums are exact decimal, cast to double at the
    terminal."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("decimal(18,2)").alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").alias("sum_qty"))
        .filter(F.col("sum_qty") > LARGE_QTY)
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


LARGE_ORDERS_SQL = f"""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {LARGE_QTY}
)
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(sum_qty AS DOUBLE) AS sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
"""


# ---------------------------------------------------------------------------
# 78. running_totals — window frames: cumulative + moving aggregates
# ---------------------------------------------------------------------------


def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation monthly revenue with a cumulative total, a 3-month
    moving sum, and the month's revenue rank — the window-frame family
    (UNBOUNDED PRECEDING and ROWS 2 PRECEDING) over exact integer cents.
    customer is broadcast; one shuffle for the monthly agg, one window
    shuffle on the nation key. Month counts per nation are bounded, so
    window partitions stay small at any corpus scale."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int").alias("ym"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    monthly = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "ym")
        .agg(F.sum("cents").alias("rev_cents"))
    )
    w_cum = Window.partitionBy("c_nationkey").orderBy("ym").rowsBetween(Window.unboundedPreceding, 0)
    w_mov = Window.partitionBy("c_nationkey").orderBy("ym").rowsBetween(-2, 0)
    w_rank = Window.partitionBy("c_nationkey").orderBy(F.desc("rev_cents"), F.asc("ym"))
    return monthly.select(
        F.col("c_nationkey").cast("int").alias("nation"),
        "ym",
        F.col("rev_cents").cast("bigint").alias("rev_cents"),
        F.sum("rev_cents").over(w_cum).cast("bigint").alias("cum_cents"),
        F.sum("rev_cents").over(w_mov).cast("bigint").alias("mov3_cents"),
        F.row_number().over(w_rank).alias("month_rank"),
    )


RUNNING_TOTALS_SQL = """
WITH monthly AS (
  SELECT CAST(c_nationkey AS INTEGER) AS nation,
         CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
)
SELECT nation, ym, CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(SUM(rev_cents) OVER (PARTITION BY nation ORDER BY ym
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
       CAST(SUM(rev_cents) OVER (PARTITION BY nation ORDER BY ym
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov3_cents,
       ROW_NUMBER() OVER (PARTITION BY nation ORDER BY rev_cents DESC, ym ASC) AS month_rank
FROM monthly
"""


# ---------------------------------------------------------------------------
# 81. events_json_extract — semi-structured JSON property extraction
# ---------------------------------------------------------------------------


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the integer property from the events' JSON `props` column
    and aggregate it per event type — the semi-structured path every
    event pipeline needs. JSON parsing stays JVM-side (get_json_object);
    one groupBy on the tiny type key with map-side partials; the mean is
    an exact-integer double division."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .select(
            "event_type", "n",
            F.col("sum_k").cast("bigint").alias("sum_k"),
            "min_k", "max_k",
            (F.col("sum_k").cast("double") / F.col("n").cast("double")).alias("mean_k"),
        )
    )


EVENTS_JSON_EXTRACT_SQL = """
WITH e AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k, MAX(k) AS max_k,
       CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_k
FROM e GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# 82. pricing_rollup — ROLLUP grouping sets over the pricing flags
# ---------------------------------------------------------------------------


def pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pricing summary at every grouping level at once —
    (flag, status), (flag), and grand total — via ROLLUP. Spark plans
    one Expand + single shuffle (not three scans); NULL group markers
    are replaced with 'ALL' so both engines' rollup rows align. Sums are
    exact integer cents."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.sum("q").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


PRICING_ROLLUP_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
       COALESCE(l_linestatus, 'ALL') AS lstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# ---------------------------------------------------------------------------
# 83. events_type_pivot — pivot the event-type dimension into columns
# ---------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts pivoted to one column per event type — the
    DataFrame .pivot() API with an explicit value list (never the
    implicit distinct scan, which adds a blocking job at scale). Spark
    compiles this to one conditional aggregate — same single shuffle as
    the oracle's CASE sums."""
    ev = load(spark, sf_dir, "events")
    # the UTC calendar day of the epoch micros, so no session time zone
    # can move an event across midnight
    day = (
        F.date_from_unix_date(F.floor(epoch_micros(ev) / 86_400_000_000))
        .cast("string")
        .alias("day")
    )
    out = (
        ev.select(day, "event_type")
        .groupBy("day")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("day")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES
    ]
    return out.select(*cols)


EVENTS_TYPE_PIVOT_SQL = f"""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       {", ".join(f"CAST(COUNT(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}" for t in EVENT_TYPES)}
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 84. job_schedule_order — the gdalos batch scheduler as a query
#    ref: /root/reference/WHATDO.md:13-14 — "make a list of jobs to
#         perform, with dependencies and (expected) output size; sort
#         jobs by expected size then by dependency": overview jobs
#         depend on their base job; run order is dependency level first,
#         then expected size descending.
# ---------------------------------------------------------------------------

OVR_LEVELS = 3  # each base raster job spawns 3 overview jobs


def job_schedule_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a job table (one base translate job per nation, sized by
    that nation's order volume, plus its overview jobs at 1/4^k the
    size), then emit the reference's execution order: dependency level
    ascending (a base must finish before its overviews), expected size
    descending within a level. Sizes are exact cents; one tiny window
    over the job catalog — scheduling metadata is small at any data
    scale."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("cents").alias("size0"))
    )
    lvl = spark.range(OVR_LEVELS + 1).select(F.col("id").cast("int").alias("lvl"))
    jobs = base.crossJoin(F.broadcast(lvl)).select(
        F.col("c_nationkey").cast("int").alias("nation"),
        "lvl",
        F.concat(
            F.lit("job_n"), F.col("c_nationkey").cast("string"),
            F.lit("_l"), F.col("lvl").cast("string"),
        ).alias("job_id"),
        # floor() first: Spark's double->BIGINT cast truncates but DuckDB's
        # rounds, so the cast itself must only ever see integral doubles
        F.floor(F.col("size0") / F.pow(F.lit(4.0), F.col("lvl").cast("double"))).cast("bigint").alias("est_size"),
    )
    w = Window.orderBy(F.asc("lvl"), F.desc("est_size"), F.asc("nation"))
    return jobs.select(
        "job_id", "nation", "lvl", "est_size",
        F.row_number().over(w).alias("run_order"),
    )


JOB_SCHEDULE_ORDER_SQL = f"""
WITH base AS (
  SELECT CAST(c_nationkey AS INTEGER) AS nation,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS size0
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
),
lvl AS (SELECT CAST(range AS INTEGER) AS lvl FROM range({OVR_LEVELS + 1})),
jobs AS (
  SELECT nation, lvl,
         'job_n' || CAST(nation AS VARCHAR) || '_l' || CAST(lvl AS VARCHAR) AS job_id,
         CAST(floor(CAST(size0 AS DOUBLE) / power(4.0, CAST(lvl AS DOUBLE))) AS BIGINT) AS est_size
  FROM base CROSS JOIN lvl
)
SELECT job_id, nation, lvl, est_size,
       ROW_NUMBER() OVER (ORDER BY lvl ASC, est_size DESC, nation ASC) AS run_order
FROM jobs
"""


# ---------------------------------------------------------------------------
# 90. job_skip_overwrite — batch overwrite/skip bookkeeping
#    ref: gdalos_util.py:69 do_skip_if_exists (output exists & !overwrite ->
#         skip; exists & overwrite -> delete then regenerate; else run),
#         called from gdalos_trans.py:747/:1078/:1227 before every
#         translate/overview/info job. At 100 TB this is the idempotent-
#         write contract: the "existing outputs" catalog is a table, the
#         skip list is an ANTI-join against it, and regenerated outputs
#         must be written to a temp location and committed atomically
#         (the reference's cog 2-step at gdalos_trans.py:91/:328 is the
#         same write-then-rename protocol).
# ---------------------------------------------------------------------------


def job_skip_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-job action resolution over the same nation x level job catalog
    job_schedule_order derives: a deterministic existing-outputs table
    (nation table x levels, every 3rd output present) is LEFT-joined to
    the catalog; action = skip / overwrite / run per do_skip_if_exists,
    and run_order is a conditional running count so skipped jobs never
    occupy a slot. Catalog-sized data -> the existing-outputs side is
    always broadcastable; the plan is one broadcast join + one window."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    base = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("cents").alias("size0"))
    )
    lvl = spark.range(OVR_LEVELS + 1).select(F.col("id").cast("int").alias("lvl"))
    jobs = base.crossJoin(F.broadcast(lvl)).select(
        F.col("c_nationkey").cast("int").alias("nation"),
        "lvl",
        F.concat(
            F.lit("job_n"), F.col("c_nationkey").cast("string"),
            F.lit("_l"), F.col("lvl").cast("string"),
        ).alias("job_id"),
        F.floor(F.col("size0") / F.pow(F.lit(4.0), F.col("lvl").cast("double"))).cast("bigint").alias("est_size"),
    )
    # existing-outputs catalog: derived from the nation dim so it is a
    # real second table, not a column trick; every 3rd (nation, lvl)
    nations = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("e_nation")
    )
    existing = (
        nations.crossJoin(F.broadcast(lvl.select(F.col("lvl").alias("e_lvl"))))
        .filter((F.col("e_nation") + F.col("e_lvl")) % 3 == 0)
    )
    joined = jobs.join(
        F.broadcast(existing),
        (jobs.nation == existing.e_nation) & (jobs.lvl == existing.e_lvl),
        "left",
    )
    exists_f = F.col("e_nation").isNotNull().cast("int")
    overwrite_f = (F.col("nation") % 2 == 0).cast("int")
    action = (
        F.when((exists_f == 1) & (overwrite_f == 0), "skip")
        .when((exists_f == 1) & (overwrite_f == 1), "overwrite")
        .otherwise("run")
    )
    resolved = joined.select(
        "job_id", "nation", "lvl", "est_size",
        exists_f.alias("out_exists"),
        overwrite_f.alias("overwrite"),
        action.alias("action"),
    )
    w = (
        Window.orderBy(F.asc("lvl"), F.desc("est_size"), F.asc("nation"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    actionable = (F.col("action") != "skip").cast("bigint")
    return resolved.select(
        "job_id", "nation", "lvl", "est_size", "out_exists", "overwrite", "action",
        (F.sum(actionable).over(w) * actionable).alias("run_order"),
    )


JOB_SKIP_OVERWRITE_SQL = f"""
WITH base AS (
  SELECT CAST(c_nationkey AS INTEGER) AS nation,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS size0
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
),
lvl AS (SELECT CAST(range AS INTEGER) AS lvl FROM range({OVR_LEVELS + 1})),
jobs AS (
  SELECT nation, lvl,
         'job_n' || CAST(nation AS VARCHAR) || '_l' || CAST(lvl AS VARCHAR) AS job_id,
         CAST(floor(CAST(size0 AS DOUBLE) / power(4.0, CAST(lvl AS DOUBLE))) AS BIGINT) AS est_size
  FROM base CROSS JOIN lvl
),
existing AS (
  SELECT CAST(n_nationkey AS INTEGER) AS e_nation, lvl AS e_lvl
  FROM nation CROSS JOIN lvl
  WHERE (n_nationkey + lvl) % 3 = 0
),
resolved AS (
  SELECT job_id, nation, lvl, est_size,
         CAST(e_nation IS NOT NULL AS INTEGER) AS out_exists,
         CAST(nation % 2 = 0 AS INTEGER) AS overwrite,
         CASE WHEN e_nation IS NOT NULL AND nation % 2 <> 0 THEN 'skip'
              WHEN e_nation IS NOT NULL THEN 'overwrite'
              ELSE 'run' END AS action
  FROM jobs LEFT JOIN existing ON nation = e_nation AND lvl = e_lvl
)
SELECT job_id, nation, lvl, est_size, out_exists, overwrite, action,
       CAST(SUM(CASE WHEN action <> 'skip' THEN 1 ELSE 0 END)
         OVER (ORDER BY lvl ASC, est_size DESC, nation ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         * CASE WHEN action <> 'skip' THEN 1 ELSE 0 END AS BIGINT) AS run_order
FROM resolved
"""


# ---------------------------------------------------------------------------
# 113. disjunctive_revenue — TPC-H Q19 shape: OR-of-AND predicate bands
#     across a fact⋈dim join (the classic test of disjunctive predicate
#     handling: the engine must evaluate the disjunction post-join
#     without expanding to a union of three scans)
# ---------------------------------------------------------------------------

Q19_ARMS = (
    ("Brand#1", 1, 5, 1, 11),
    ("Brand#2", 1, 10, 10, 20),
    ("Brand#3", 1, 15, 20, 30),
)


def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19-style disjunctive revenue: three (brand, size-band,
    quantity-band) arms OR-ed across the lineitem⋈part join. The dim is
    broadcast; Catalyst keeps ONE scan of each table and evaluates the
    disjunction as a single post-join filter (no 3-way union of scans),
    while the common `p_size >= 1` conjunct and the partkey join key
    still push to the scans. Revenue is an exact integer-cents sum
    reported per arm plus the total row — the oracle is the same CASE
    bucketing."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)") * 100
            * (F.lit(100) - (F.col("l_discount").cast("decimal(18,2)") * 100))
        ).cast("bigint").alias("rev_microcents"),
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm_cases = [
        (
            (F.col("p_brand") == b)
            & F.col("p_size").between(s0, s1)
            & F.col("qty").between(q0, q1)
        )
        for (b, s0, s1, q0, q1) in Q19_ARMS
    ]
    joined = li.join(
        F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey")
    ).filter(arm_cases[0] | arm_cases[1] | arm_cases[2])
    arm = (
        F.when(arm_cases[0], 1).when(arm_cases[1], 2).otherwise(3)
    )
    # ROLLUP emits the per-arm rows AND the grand total from ONE pass
    # over the join (a union-with-reaggregate would re-execute the join
    # subtree); the NULL super-aggregate marker folds to arm=0
    per = joined.select(arm.alias("arm"), "rev_microcents").rollup("arm").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("rev_microcents").alias("rev_u"),
    )
    return per.select(
        F.coalesce(F.col("arm"), F.lit(0)).cast("int").alias("arm"),
        F.col("n_items").cast("bigint").alias("n_items"),
        (F.col("rev_u").cast("double") / 1_000_000.0).alias("revenue"),
    )


def _q19_sql() -> str:
    def arm_pred(b, s0, s1, q0, q1):
        return (
            f"(p_brand = '{b}' AND p_size BETWEEN {s0} AND {s1}"
            f" AND qty BETWEEN {q0} AND {q1})"
        )

    arms = [arm_pred(*a) for a in Q19_ARMS]
    return f"""
WITH li AS (
  SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
              * (100 - CAST(l_discount AS DECIMAL(18,2)) * 100) AS BIGINT) AS rev_microcents
  FROM lineitem
),
joined AS (
  SELECT CASE WHEN {arms[0]} THEN 1 WHEN {arms[1]} THEN 2 ELSE 3 END AS arm,
         rev_microcents
  FROM li JOIN part ON l_partkey = p_partkey
  WHERE {arms[0]} OR {arms[1]} OR {arms[2]}
),
per_arm AS (
  SELECT arm, COUNT(*) AS n_items, SUM(rev_microcents) AS rev_u
  FROM joined GROUP BY ROLLUP(arm)
)
SELECT CAST(COALESCE(arm, 0) AS INTEGER) AS arm, CAST(n_items AS BIGINT) AS n_items,
       CAST(rev_u AS DOUBLE) / 1000000.0 AS revenue
FROM per_arm
"""


DISJUNCTIVE_REVENUE_SQL = _q19_sql()


# ---------------------------------------------------------------------------
# 115. events_funnel — ordered multi-step conversion funnel
#     (the standard product-analytics query: per user, earliest signup,
#     then earliest click AFTER it, then earliest purchase after that;
#     stage reached + step latencies)
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ("signup", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel: step k's timestamp is the MIN event time
    of its type that falls AFTER step k-1's timestamp — three
    conditional-min aggregations, each a groupBy on user_id, chained by
    equi-joins on user_id. At scale all three aggs and joins share the
    user_id partitioning, so the chain is one shuffle followed by
    co-partitioned stages; no windows over whole-user event lists are
    materialized. Unreached steps report -1; stage counts how many steps
    completed."""
    ev = load(spark, sf_dir, "events")
    us = F.expr(
        "unix_micros(ts)"
    ).cast("bigint")
    base = ev.select("user_id", "event_type", us.alias("us"))
    s1 = (
        base.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id").agg(F.min("us").alias("t1"))
    )
    s2 = (
        base.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id").agg(F.min("us").alias("t2"))
    )
    s3 = (
        base.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(F.col("us") > F.col("t2"))
        .groupBy("user_id").agg(F.min("us").alias("t3"))
    )
    out = (
        s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
    )
    stage = (
        F.lit(1)
        + F.when(F.col("t2").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t3").isNotNull(), 1).otherwise(0)
    )
    return out.select(
        "user_id",
        (F.col("t1") / 1_000_000).cast("bigint").alias("t1_sec"),
        F.coalesce((F.col("t2") / 1_000_000).cast("bigint"), F.lit(-1)).alias("t2_sec"),
        F.coalesce((F.col("t3") / 1_000_000).cast("bigint"), F.lit(-1)).alias("t3_sec"),
        stage.cast("int").alias("stage"),
    )


EVENTS_FUNNEL_SQL = f"""
WITH base AS (
  SELECT user_id, event_type, CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us FROM events
),
s1 AS (
  SELECT user_id, MIN(us) AS t1 FROM base
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
s2 AS (
  SELECT b.user_id, MIN(us) AS t2 FROM base b JOIN s1 USING (user_id)
  WHERE b.event_type = '{FUNNEL_STEPS[1]}' AND b.us > s1.t1 GROUP BY b.user_id
),
s3 AS (
  SELECT b.user_id, MIN(us) AS t3 FROM base b JOIN s2 USING (user_id)
  WHERE b.event_type = '{FUNNEL_STEPS[2]}' AND b.us > s2.t2 GROUP BY b.user_id
)
SELECT s1.user_id,
       CAST(t1 // 1000000 AS BIGINT) AS t1_sec,
       CAST(COALESCE(t2 // 1000000, -1) AS BIGINT) AS t2_sec,
       CAST(COALESCE(t3 // 1000000, -1) AS BIGINT) AS t3_sec,
       CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS stage
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


# ---------------------------------------------------------------------------
# 119. events_retention — cohort retention matrix
#     (the standard growth-analytics rollup: users grouped by first-seen
#     week, activity counted per week offset)
# ---------------------------------------------------------------------------


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: each user's cohort is the ISO week-bucket of
    their first event; for every (cohort, week offset) the matrix counts
    distinct active users. Two aggs: first-seen per user (groupBy user),
    then distinct users per (cohort, offset) — both shuffle on bounded
    keys; weeks are integer epoch-week buckets so everything is exact
    integer math."""
    ev = load(spark, sf_dir, "events")
    wk = (F.expr("unix_micros(ts)") / F.lit(604_800_000_000)).cast("bigint")
    base = ev.select("user_id", wk.alias("wk"))
    first = base.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = base.join(first, "user_id").select(
        "user_id", "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("offset_wk")
    )
    cohort_sizes = first.groupBy("cohort_wk").agg(
        F.countDistinct("user_id").alias("cohort_n")
    )
    cells = joined.groupBy("cohort_wk", "offset_wk").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    return cells.join(cohort_sizes, "cohort_wk").select(
        "cohort_wk", "offset_wk",
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("cohort_n").cast("bigint").alias("cohort_n"),
        (F.col("n_active").cast("double") / F.col("cohort_n").cast("double")).alias("retention"),
    )


EVENTS_RETENTION_SQL = """
WITH base AS (
  SELECT user_id, CAST((epoch_ns(ts) // 1000) // 604800000000 AS BIGINT) AS wk
  FROM events
),
first AS (SELECT user_id, MIN(wk) AS cohort_wk FROM base GROUP BY user_id),
joined AS (
  SELECT b.user_id, f.cohort_wk, b.wk - f.cohort_wk AS offset_wk
  FROM base b JOIN first f USING (user_id)
),
cohort_sizes AS (
  SELECT cohort_wk, COUNT(DISTINCT user_id) AS cohort_n FROM first GROUP BY cohort_wk
),
cells AS (
  SELECT cohort_wk, offset_wk, COUNT(DISTINCT user_id) AS n_active
  FROM joined GROUP BY cohort_wk, offset_wk
)
SELECT c.cohort_wk, c.offset_wk,
       CAST(c.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_n AS BIGINT) AS cohort_n,
       CAST(c.n_active AS DOUBLE) / CAST(s.cohort_n AS DOUBLE) AS retention
FROM cells c JOIN cohort_sizes s USING (cohort_wk)
"""


# ---------------------------------------------------------------------------
# late_supplier_blame — TPC-H Q21 shape (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

LATE_CUTOFF = "2000-07-01"
BLAME_TOPK = 25


def late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely to blame for late multi-supplier orders (the
    TPC-H Q21 plan shape: one fact scan driving a LEFT SEMI *and* a LEFT
    ANTI self-join, then a broadcast dim join).

    late = shipped on/after LATE_CUTOFF (the testdata lineitem carries
    only l_shipdate). A supplier is blamed for a lineitem when some OTHER
    supplier also contributed to the order (semi) and NO other supplier
    was late on it (anti). Both correlated subqueries become self-joins
    on l_orderkey — the fact shuffles on its natural key once, reused by
    both joins; supplier is broadcast.
    """
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    late = li.filter(F.col("l_shipdate") >= F.lit(LATE_CUTOFF)).select(
        "l_orderkey", "l_suppkey"
    )
    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    )
    late_others = li.filter(F.col("l_shipdate") >= F.lit(LATE_CUTOFF)).select(
        F.col("l_orderkey").alias("lo_key"), F.col("l_suppkey").alias("lo_supp")
    )
    blamed = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o_key"))
            & (F.col("l_suppkey") != F.col("o_supp")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("lo_key"))
            & (F.col("l_suppkey") != F.col("lo_supp")),
            "left_anti",
        )
    )
    return (
        blamed.join(F.broadcast(sup), blamed.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(BLAME_TOPK)
    )


LATE_SUPPLIER_BLAME_SQL = f"""
SELECT s.s_name, COUNT(*) AS numwait
FROM lineitem l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE l1.l_shipdate >= TIMESTAMP '{LATE_CUTOFF} 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate >= TIMESTAMP '{LATE_CUTOFF} 00:00:00'
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT {BLAME_TOPK}
"""


# ---------------------------------------------------------------------------
# idle_customer_balance — TPC-H Q22 shape (anti-join + scalar subquery)
# ---------------------------------------------------------------------------


IDLE_SINCE = "2000-01-01"


def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no RECENT orders (none since
    IDLE_SINCE), grouped by nation — the TPC-H Q22 shape: scalar
    aggregate subquery + LEFT ANTI join.

    The positive-balance average is compared WITHOUT any float: balances
    become exact cents, and c_cents * n > total_cents cross-multiplies
    the average away — the 1-row (total, n) aggregate is broadcast via a
    crossJoin, the orders anti-join shuffles on the customer key. At
    scale the anti-join is the only data-sized shuffle.
    """
    cust = load(spark, sf_dir, "customer").withColumn(
        "c_cents", F.round(F.col("c_acctbal").cast("double") * 100, 0).cast("bigint")
    )
    avg_row = (
        cust.filter(F.col("c_cents") > 0)
        .agg(
            F.sum("c_cents").cast("bigint").alias("total_cents"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(IDLE_SINCE))
        .select(F.col("o_custkey").alias("ok"))
    )
    rich = cust.crossJoin(F.broadcast(avg_row)).filter(
        F.col("c_cents") * F.col("n_pos") > F.col("total_cents")
    )
    idle = rich.join(orders, rich.c_custkey == F.col("ok"), "left_anti")
    return (
        idle.groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("c_cents").cast("double") / F.lit(100.0)).alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


IDLE_CUSTOMER_BALANCE_SQL = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(CAST(c_acctbal AS DOUBLE) * 100, 0) AS BIGINT) AS c_cents
  FROM customer
),
avg_row AS (
  SELECT CAST(SUM(c_cents) AS BIGINT) AS total_cents, COUNT(*) AS n_pos
  FROM c WHERE c_cents > 0
)
SELECT CAST(c.c_nationkey AS INTEGER) AS nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(c.c_cents) AS DOUBLE) / 100.0 AS totacctbal
FROM c, avg_row
WHERE c.c_cents * avg_row.n_pos > avg_row.total_cents
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '{IDLE_SINCE} 00:00:00')
GROUP BY 1
ORDER BY nationkey
"""


# ---------------------------------------------------------------------------
# quantile_report — exact distributed quantiles (sort-based)
# ---------------------------------------------------------------------------


def quantile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event value per event_type, plus min/max/count
    — percentile_disc semantics (value at rank ceil(p*n)) computed with
    NO engine percentile function: engines disagree on interpolation, so
    the rank arithmetic is explicit integers ((n*p + 99) div 100) and
    the picked value is carried untouched.

    Plan: one shuffle on event_type, one window sort within the group,
    conditional agg folds the three rank hits into columns. This is the
    sort-based exact path — at 100 TB the same semantics come from
    range-partitioned sort (quantiles of quantile-partition boundaries),
    and the approximate path is a t-digest/GK sketch, which is NOT
    cross-engine deterministic and therefore not oracle-gated here.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select("event_type", "value", "event_id").select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # rank_p = ceil(n*p/100) in pure integers: (n*p + 99) div 100
    r = lambda p: F.expr(f"(n * {p} + 99) div 100")  # noqa: E731
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.max(F.when(F.col("rn") == r(50), F.col("value"))).alias("p50"),
        F.max(F.when(F.col("rn") == r(90), F.col("value"))).alias("p90"),
        F.max(F.when(F.col("rn") == r(99), F.col("value"))).alias("p99"),
    ).orderBy("event_type")


QUANTILE_REPORT_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
       MAX(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90,
       MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# TPC-H plan-shape completion (round 4): Q6, Q7, Q8, Q9, Q10, Q11, Q15,
# Q16, Q17, Q2, Q20 analogs on the available columns (the testdata has no
# partsupp / shipmode / commitdate, so the stock-keeping queries are
# adapted to lineitem-derived equivalents with the SAME physical plan
# shape). Reference relevance: gdalos' scheduler sizes and orders batch
# jobs (WHATDO.md:13-14); these are the canonical scan/join/agg shapes a
# its jobs compile to on a warehouse engine.
# ---------------------------------------------------------------------------


def _rev_microcents() -> "F.Column":
    """extendedprice*(1-discount) as exact integer microcents (1e-6 $):
    price_cents(1e-2$) * (100 - disc_pct) -> 1e-4$ per unit ... scaled by
    100 more below. Shared idiom with disjunctive_revenue."""
    return (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
        * (F.lit(100) - F.col("l_discount").cast("decimal(18,2)") * 100)
    ).cast("bigint")


_REV_U_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100"
    " * (100 - CAST(l_discount AS DECIMAL(18,2)) * 100) AS BIGINT)"
)


Q6_YEAR = 1996


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: pure scan-filter-aggregate, zero joins, zero shuffles
    past the partial agg. revenue = extendedprice*discount over one
    shipdate year, a discount band and a quantity cap — the query whose
    entire cost is how many parquet row groups the pushed-down filters
    let the scan skip. At 100 TB this is THE predicate-pushdown/
    partition-pruning showcase (ship_year partition column -> one
    partition read).

    Exact math: discount percent is an integer 0..10 (the data is 2-dp),
    so price_cents * disc_pct is an exact BIGINT microcents sum."""
    li = load(spark, sf_dir, "lineitem")
    d = (F.col("l_discount").cast("decimal(18,2)") * 100).cast("bigint")
    f = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(f"{Q6_YEAR}-01-01"))
            & (F.col("l_shipdate") < F.lit(f"{Q6_YEAR + 1}-01-01"))
            & (F.col("l_quantity").cast("decimal(18,2)") < 24)
        )
        .withColumn("disc_pct", d)
        .filter(F.col("disc_pct").between(5, 7))
    )
    rev_u = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100 * F.col("disc_pct")
    ).cast("bigint")
    return f.agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(rev_u).cast("double") / 1_000_000.0).alias("revenue"),
    )


FORECAST_REVENUE_SQL = f"""
WITH f AS (
  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_pct,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q6_YEAR}-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q6_YEAR + 1}-01-01 00:00:00'
    AND CAST(l_quantity AS DECIMAL(18,2)) < 24
)
SELECT COUNT(*) AS n_items,
       CAST(SUM(CAST(price * 100 * disc_pct AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
FROM f WHERE disc_pct BETWEEN 5 AND 7
"""


Q7_NATIONS = ("NATION_1", "NATION_2")


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: the two-sided nation-pair trade volume. The fact joins
    orders on its natural key (one shuffle each), while BOTH nation
    restrictions are pushed below the big joins: supplier and customer
    are pre-filtered through a broadcast of the 2-row nation slice, so
    the orderkey/custkey shuffles move only pair-relevant rows — at
    100 TB that filter-below-join placement is the difference between
    shuffling 2/25ths of the fact and all of it."""
    a, b = Q7_NATIONS
    nat = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(a, b))
    sup = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    ).select("l_orderkey", "l_suppkey", F.year("l_shipdate").alias("l_year"),
             _rev_microcents().alias("rev_u"))
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("rev_u").cast("double") / 1_000_000.0).alias("revenue"))
        .withColumn("l_year", F.col("l_year").cast("int"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


NATION_TRADE_VOLUME_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
       CAST(SUM({_REV_U_SQL.replace("l_", "l.l_")}) AS DOUBLE) / 1000000.0 AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND sn.n_name IN ('{Q7_NATIONS[0]}', '{Q7_NATIONS[1]}')
  AND cn.n_name IN ('{Q7_NATIONS[0]}', '{Q7_NATIONS[1]}')
  AND sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


Q8_NATION = "NATION_3"
Q8_REGION = "ASIA"
Q8_TYPE = "ECONOMY"


def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's market for one part
    type, per order year. The share is a conditional ratio of two exact
    microcents sums folded into ONE aggregation (no second scan), with
    the float division happening once per year row at the very end.
    part/nation/region dims broadcast; the customer-side region
    restriction prunes the orders->customer join input."""
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    rnat = nat.join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(rnat.select("n_nationkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    pt = load(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE).select("p_partkey")
    sup = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", _rev_microcents().alias("rev_u")
    ).join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    agg = j.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.sum("rev_u").alias("total_u"),
        F.sum(F.when(F.col("supp_nation") == Q8_NATION, F.col("rev_u")).otherwise(F.lit(0))).alias("nat_u"),
    )
    return agg.select(
        "o_year",
        (F.col("total_u").cast("double") / 1_000_000.0).alias("total_revenue"),
        (F.col("nat_u").cast("double") / 1_000_000.0).alias("nation_revenue"),
        (F.col("nat_u").cast("double") / F.col("total_u").cast("double")).alias("mkt_share"),
    ).orderBy("o_year")


MARKET_SHARE_SQL = f"""
WITH j AS (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
         {_REV_U_SQL.replace("l_", "l.l_")} AS rev_u,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '{Q8_TYPE}'
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE EXISTS (
    SELECT 1 FROM customer c JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN region r ON cn.n_regionkey = r.r_regionkey
    WHERE c.c_custkey = o.o_custkey AND r.r_name = '{Q8_REGION}'
  )
),
agg AS (
  SELECT o_year, CAST(SUM(rev_u) AS BIGINT) AS total_u,
         CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}' THEN rev_u ELSE 0 END) AS BIGINT) AS nat_u
  FROM j GROUP BY 1
)
SELECT o_year,
       CAST(total_u AS DOUBLE) / 1000000.0 AS total_revenue,
       CAST(nat_u AS DOUBLE) / 1000000.0 AS nation_revenue,
       CAST(nat_u AS DOUBLE) / CAST(total_u AS DOUBLE) AS mkt_share
FROM agg ORDER BY o_year
"""


PROFIT_NAME_WORD = "widget"


def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit by supplier nation x order year for parts whose
    name contains a word. Without a partsupp table the supply cost is
    the deterministic proxy 10% of p_retailprice per unit; profit =
    revenue - cost stays exact: both sides are integer microcents
    (retail_cents * qty_hundredths * 10 == 0.1*retail*qty in 1e-6 $).
    part and supplier->nation broadcast; the one big shuffle is
    lineitem->orders on orderkey."""
    pt = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(PROFIT_NAME_WORD))
        .select(
            "p_partkey",
            (F.col("p_retailprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("retail_cents"),
        )
    )
    sup = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        _rev_microcents().alias("rev_u"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").alias("qty_h"),
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    j = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    profit_u = F.col("rev_u") - F.col("retail_cents") * F.col("qty_h") * 10
    return (
        j.groupBy("nation", F.col("o_year").cast("int").alias("o_year"))
        .agg((F.sum(profit_u).cast("double") / 1_000_000.0).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


PRODUCT_PROFIT_SQL = f"""
SELECT n.n_name AS nation,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM({_REV_U_SQL.replace("l_", "l.l_")}
                - CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  * CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * 10
       ) AS DOUBLE) / 1000000.0 AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%{PROFIT_NAME_WORD}%'
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


Q10_QUARTER = ("1997-01-01", "1997-04-01")
Q10_TOPK = 20


def returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returned items per customer for one
    order quarter, top 20. orders carries the pushed-down quarter
    filter, lineitem the returnflag filter; the join runs fact->orders
    on orderkey then a customer join on custkey (both real shuffles at
    scale — the quarter filter is what keeps them small), nation
    broadcast, TakeOrderedAndProject for the limit."""
    lo, hi = Q10_QUARTER
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", _rev_microcents().alias("rev_u")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi))
    ).select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg((F.sum("rev_u").cast("double") / 1_000_000.0).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(Q10_TOPK)
    )


RETURNED_ITEM_LOSSES_SQL = f"""
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name AS nation,
       CAST(SUM({_REV_U_SQL.replace("l_", "l.l_")}) AS DOUBLE) / 1000000.0 AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '{Q10_QUARTER[0]} 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '{Q10_QUARTER[1]} 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c.c_custkey
LIMIT {Q10_TOPK}
"""


Q11_NATIONS = ("NATION_4", "NATION_5")
Q11_MULT = 2  # keep parts with value > MULT x the average part value


def important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: per-part traded value restricted to two supplier
    nations, keeping parts whose value exceeds Q11_MULT x the AVERAGE
    part value — TPC-H's fixed fraction (0.0001/SF) is scale-dependent
    and empties the result as the catalog grows, while the
    above-average form selects a stable slice at every SF. The scalar
    subquery is a 1-row (total, n_parts) aggregate broadcast via
    crossJoin and the threshold compares exact integers cross-multiplied
    (value_u * n_parts > MULT * total_u) — no float ever gates a row.
    The per-part agg and the total reuse ONE filtered projection; at
    100 TB the only data-sized shuffle is the partkey agg."""
    nat = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*Q11_NATIONS))
    sup = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", _rev_microcents().alias("rev_u"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("rev_u").alias("value_u"))
    total = per_part.agg(
        F.sum("value_u").alias("total_u"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_u") * F.col("n_parts") > Q11_MULT * F.col("total_u"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("value_u").cast("double") / 1_000_000.0).alias("value"),
        )
        .orderBy(F.desc("value"), "partkey")
    )


IMPORTANT_PART_SHARE_SQL = f"""
WITH li AS (
  SELECT l_partkey, {_REV_U_SQL} AS rev_u
  FROM lineitem
  WHERE EXISTS (
    SELECT 1 FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey = lineitem.l_suppkey
      AND n.n_name IN ('{Q11_NATIONS[0]}', '{Q11_NATIONS[1]}')
  )
),
per_part AS (
  SELECT l_partkey, CAST(SUM(rev_u) AS BIGINT) AS value_u FROM li GROUP BY 1
),
total AS (SELECT CAST(SUM(value_u) AS BIGINT) AS total_u, COUNT(*) AS n_parts FROM per_part)
SELECT l_partkey AS partkey, CAST(value_u AS DOUBLE) / 1000000.0 AS value
FROM per_part, total
WHERE value_u * n_parts > {Q11_MULT} * total_u
ORDER BY value DESC, partkey
"""


Q15_QUARTER = ("1996-01-01", "1996-04-01")


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the revenue view + scalar-max equality. Per-supplier
    quarter revenue aggregates once; the max is a 1-row broadcast and
    the winner test is EXACT integer equality on microcents (the
    classic Q15 float-equality trap disappears when the comparison
    never leaves integers). Ties all surface, ordered by suppkey."""
    lo, hi = Q15_QUARTER
    rev = (
        load(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") < F.lit(hi)))
        .select("l_suppkey", _rev_microcents().alias("rev_u"))
        .groupBy("l_suppkey")
        .agg(F.sum("rev_u").alias("total_u"))
    )
    mx = rev.agg(F.max("total_u").alias("max_u"))
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_u") == F.col("max_u"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("suppkey"),
            "s_name",
            (F.col("total_u").cast("double") / 1_000_000.0).alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


TOP_SUPPLIER_REVENUE_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, CAST(SUM({_REV_U_SQL}) AS BIGINT) AS total_u
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q15_QUARTER[0]} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q15_QUARTER[1]} 00:00:00'
  GROUP BY 1
)
SELECT CAST(s.s_suppkey AS BIGINT) AS suppkey, s.s_name,
       CAST(rev.total_u AS DOUBLE) / 1000000.0 AS total_revenue
FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_u = (SELECT MAX(total_u) FROM rev)
ORDER BY suppkey
"""


Q16_EXCL_BRAND = "Brand#1"
Q16_EXCL_TYPE = "PROMO"
Q16_SIZES = (1, 4, 9, 14, 19, 23, 36, 45)
Q16_TOPK = 40
Q16_COMPLAINT_BAL = 500.0  # suppliers below this acctbal are excluded


def part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part attribute triple,
    with a NOT-IN supplier blocklist becoming a LEFT ANTI join. The
    (brand, type, size) filters push to the broadcast part dim; the
    distinct count rides the (attrs, suppkey) pre-distinct so the final
    agg shuffles unique pairs only — the two-shuffle shape that survives
    a fact 1000x the dim."""
    excluded = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < Q16_COMPLAINT_BAL)
        .select(F.col("s_suppkey").alias("x_suppkey"))
    )
    pt = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & (~F.col("p_type").startswith(Q16_EXCL_TYPE))
        & (F.col("p_size").isin(*Q16_SIZES))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    pairs = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excluded), F.col("l_suppkey") == F.col("x_suppkey"), "left_anti")
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(Q16_TOPK)
    )


PART_SUPPLIER_VARIETY_SQL = f"""
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
  AND p.p_type NOT LIKE '{Q16_EXCL_TYPE}%'
  AND p.p_size IN ({", ".join(str(s) for s in Q16_SIZES)})
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < {Q16_COMPLAINT_BAL}
  )
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT {Q16_TOPK}
"""


Q17_BRAND = "Brand#2"


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: yearly revenue hit from small-quantity orders — the
    correlated per-part average becomes a partkey aggregate joined back
    to the fact. The 20%-of-average gate is integer cross-multiplied
    (qty_h * 5 * n < sum_qty_h: 0.2 == 1/5, so no float, no rounding
    drift between engines). The brand filter lives on the broadcast
    part dim and prunes BOTH the agg input and the join-back."""
    pt = load(spark, sf_dir, "part").filter(F.col("p_brand") == Q17_BRAND).select("p_partkey")
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").alias("qty_h"),
            (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").alias("price_cents"),
        )
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("qty_h").alias("sum_qty_h"), F.count(F.lit(1)).alias("n")
    )
    small = li.join(per_part, F.col("l_partkey") == F.col("pk")).filter(
        F.col("qty_h") * 5 * F.col("n") < F.col("sum_qty_h")
    )
    return small.agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum("price_cents").cast("double") / 100.0 / 7.0).alias("avg_yearly"),
    )


SMALL_QUANTITY_REVENUE_SQL = f"""
WITH li AS (
  SELECT l_partkey,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_h,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
  FROM lineitem
  WHERE EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = lineitem.l_partkey
                AND p.p_brand = '{Q17_BRAND}')
),
per_part AS (
  SELECT l_partkey AS pk, CAST(SUM(qty_h) AS BIGINT) AS sum_qty_h, COUNT(*) AS n
  FROM li GROUP BY 1
)
SELECT COUNT(*) AS n_items,
       CAST(SUM(price_cents) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
FROM li JOIN per_part ON li.l_partkey = per_part.pk
WHERE qty_h * 5 * n < sum_qty_h
"""


Q2_SIZE = 15
Q2_REGION = "EUROPE"
Q2_TOPK = 100


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each part of one size, the region-local supplier
    with the minimum offer. Without partsupp the offer is MIN
    extendedprice-cents over that (part, supplier)'s lineitems — exact
    integers, so the correlated MIN subquery becomes a rank-1 window
    over the (part, supplier) aggregate with a total (offer, suppkey)
    order (deterministic ties). Dims broadcast; the only data shuffle
    is the (part,supp) agg, which the window then reuses WITHOUT a
    second exchange (same partitioning key prefix)."""
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    nat = load(spark, sf_dir, "nation").join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    sup = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
    pt = load(spark, sf_dir, "part").filter(F.col("p_size") == Q2_SIZE).select(
        "p_partkey", "p_name"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").alias("price_cents"),
    )
    offers = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "p_name", "l_suppkey", "s_name", "nation")
        .agg(F.min("price_cents").alias("offer_cents"))
    )
    w = Window.partitionBy("p_partkey").orderBy("offer_cents", "l_suppkey")
    best = offers.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return best.select(
        F.col("p_partkey").alias("partkey"),
        "p_name",
        F.col("l_suppkey").cast("bigint").alias("suppkey"),
        "s_name",
        "nation",
        (F.col("offer_cents").cast("double") / 100.0).alias("offer_price"),
    ).orderBy(F.desc("offer_price"), "partkey").limit(Q2_TOPK)


MIN_COST_SUPPLIER_SQL = f"""
WITH offers AS (
  SELECT p.p_partkey, p.p_name, l.l_suppkey, s.s_name, n.n_name AS nation,
         CAST(MIN(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS offer_cents
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size = {Q2_SIZE}
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = '{Q2_REGION}'
  GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY offer_cents, l_suppkey) AS rk
  FROM offers
)
SELECT p_partkey AS partkey, p_name, CAST(l_suppkey AS BIGINT) AS suppkey,
       s_name, nation, CAST(offer_cents AS DOUBLE) / 100.0 AS offer_price
FROM ranked WHERE rk = 1
ORDER BY offer_price DESC, partkey
LIMIT {Q2_TOPK}
"""


Q20_YEAR = 1997
Q20_NAME_WORD = "bolt"


def excess_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: the nested semi-join chain. A supplier is an "excess
    shipper" when, for some part whose name contains the word, their
    {Q20_YEAR} shipped quantity exceeds half of ALL suppliers' shipped
    quantity of that part that year (the partsupp availqty>half-demand
    test re-expressed on shipments). Both quantities come from ONE
    (part, supplier) aggregate — the per-part total is a window sum over
    it, not a second scan — and the half test cross-multiplies integers
    (qty_h * 2 > total_h). The supplier list then LEFT SEMI joins, and
    the nation dim decorates at the end."""
    pt = load(spark, sf_dir, "part").filter(
        F.col("p_name").contains(Q20_NAME_WORD)
    ).select("p_partkey")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(f"{Q20_YEAR}-01-01"))
            & (F.col("l_shipdate") < F.lit(f"{Q20_YEAR + 1}-01-01"))
        )
        .select(
            "l_partkey", "l_suppkey",
            (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").alias("qty_h"),
        )
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("qty_h").alias("qty_h"))
    w = Window.partitionBy("l_partkey")
    excess = per_ps.withColumn("total_h", F.sum("qty_h").over(w)).filter(
        F.col("qty_h") * 2 > F.col("total_h")
    )
    winners = excess.select(F.col("l_suppkey").alias("wk")).distinct()
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        sup.join(winners, F.col("s_suppkey") == F.col("wk"), "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").cast("bigint").alias("suppkey"),
            "s_name",
            F.col("n_name").alias("nation"),
        )
        .orderBy("suppkey")
    )


EXCESS_SHIPPER_SQL = f"""
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_h
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{Q20_YEAR}-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '{Q20_YEAR + 1}-01-01 00:00:00'
    AND EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = lineitem.l_partkey
                AND p.p_name LIKE '%{Q20_NAME_WORD}%')
),
per_ps AS (
  SELECT l_partkey, l_suppkey, CAST(SUM(qty_h) AS BIGINT) AS qty_h
  FROM li GROUP BY 1, 2
),
excess AS (
  SELECT l_suppkey FROM (
    SELECT l_suppkey, qty_h,
           CAST(SUM(qty_h) OVER (PARTITION BY l_partkey) AS BIGINT) AS total_h
    FROM per_ps
  ) WHERE qty_h * 2 > total_h
)
SELECT CAST(s.s_suppkey AS BIGINT) AS suppkey, s.s_name, n.n_name AS nation
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM excess)
ORDER BY suppkey
"""


Q12_YEAR = 1997
Q12_FLAGS = ("A", "R")  # the two "ship mode" stand-in classes audited


def shipmode_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — the last of the 22 TPC-H plan shapes: a fact->orders
    equi-join feeding a two-class conditional aggregate. The testdata
    has no l_shipmode, so the audited classes are the two return flags;
    the high/low split is order priority 1-2 vs 3-5, exactly Q12's
    CASE-sum pair. The year filter pushes to the lineitem scan; orders
    project only (orderkey, priority) so the shuffle carries two
    columns."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(f"{Q12_YEAR}-01-01"))
        & (F.col("l_shipdate") < F.lit(f"{Q12_YEAR + 1}-01-01"))
        & F.col("l_returnflag").isin(*Q12_FLAGS)
    ).select("l_orderkey", "l_returnflag")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("flag")
    )


SHIPMODE_PRIORITY_COUNTS_SQL = f"""
SELECT l.l_returnflag AS flag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '{Q12_YEAR}-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '{Q12_YEAR + 1}-01-01 00:00:00'
  AND l.l_returnflag IN ('{Q12_FLAGS[0]}', '{Q12_FLAGS[1]}')
GROUP BY 1
ORDER BY flag
"""


# ---------------------------------------------------------------------------
# merge_upsert_plan — MERGE INTO (upsert) action planning
# ---------------------------------------------------------------------------

MERGE_QUARTER = ("1997-01-01", "1997-04-01")
MERGE_NEW_STRIDE = 10_000_000  # surrogate keys for the insert arm


def merge_upsert_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse MERGE INTO, as a plan: a staged batch (per-customer
    order totals for one quarter, with every 7th key remapped to a new
    surrogate — the insert arm) FULL OUTER joins the target snapshot on
    the key, and each row resolves to exactly one action: update
    (matched), insert (staged only), keep (target only). The report
    aggregates rows and exact-cents balance deltas per action — the
    numbers a writer commits to its transaction log. One shuffle per
    side on the merge key; at 100 TB the target side's shuffle is
    avoided entirely when the table is bucketed by the key (see
    tests/test_bucketed.py for the exchange-free proof of that layout)."""
    lo, hi = MERGE_QUARTER
    target = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("t_key"),
        F.round(F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint").alias("t_cents"),
    )
    staged = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(hi)))
        .select(
            F.when(
                F.col("o_custkey") % 7 == 0,
                F.col("o_custkey") + MERGE_NEW_STRIDE,
            ).otherwise(F.col("o_custkey")).alias("s_key"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("delta_cents"),
        )
        .groupBy("s_key")
        .agg(F.sum("delta_cents").alias("delta_cents"))
    )
    j = target.join(staged, F.col("t_key") == F.col("s_key"), "full_outer")
    action = (
        F.when(F.col("t_key").isNotNull() & F.col("s_key").isNotNull(), "update")
        .when(F.col("s_key").isNotNull(), "insert")
        .otherwise("keep")
    )
    return (
        j.select(
            action.alias("action"),
            F.coalesce("t_cents", F.lit(0)).alias("t_cents"),
            F.coalesce("delta_cents", F.lit(0)).alias("delta_cents"),
        )
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum("t_cents").cast("double") / 100.0).alias("old_balance"),
            (F.sum("delta_cents").cast("double") / 100.0).alias("applied_delta"),
            (F.sum(F.col("t_cents") + F.col("delta_cents")).cast("double") / 100.0).alias("new_balance"),
        )
        .orderBy("action")
    )


MERGE_UPSERT_PLAN_SQL = f"""
WITH target AS (
  SELECT c_custkey AS t_key,
         CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT) AS t_cents
  FROM customer
),
staged AS (
  SELECT CASE WHEN o_custkey % 7 = 0 THEN o_custkey + {MERGE_NEW_STRIDE}
              ELSE o_custkey END AS s_key,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS delta_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{MERGE_QUARTER[0]} 00:00:00'
    AND o_orderdate <  TIMESTAMP '{MERGE_QUARTER[1]} 00:00:00'
  GROUP BY 1
),
j AS (
  SELECT CASE WHEN t_key IS NOT NULL AND s_key IS NOT NULL THEN 'update'
              WHEN s_key IS NOT NULL THEN 'insert'
              ELSE 'keep' END AS action,
         COALESCE(t_cents, 0) AS t_cents,
         COALESCE(delta_cents, 0) AS delta_cents
  FROM target FULL OUTER JOIN staged ON t_key = s_key
)
SELECT action, COUNT(*) AS n_rows,
       CAST(SUM(t_cents) AS DOUBLE) / 100.0 AS old_balance,
       CAST(SUM(delta_cents) AS DOUBLE) / 100.0 AS applied_delta,
       CAST(SUM(t_cents + delta_cents) AS DOUBLE) / 100.0 AS new_balance
FROM j
GROUP BY action
ORDER BY action
"""


# ---------------------------------------------------------------------------
# pricing_cube — CUBE grouping sets (all 8 subtotal combinations, one pass)
# ---------------------------------------------------------------------------


def pricing_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus, ship year): all 2^3 subtotal
    combinations from ONE Expand + one shuffle (a union of 8 groupBys
    would scan the fact 8 times). NULL super-aggregate markers fold to
    'ALL' / -1 so the driver's hash sees no NULLs — same discipline as
    pricing_rollup, completing the grouping-sets pair."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.year("l_shipdate").alias("ship_year"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").alias("qty_h"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").alias("price_cents"),
    )
    return (
        li.cube("l_returnflag", "l_linestatus", "ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (F.sum("qty_h").cast("double") / 100.0).alias("sum_qty"),
            (F.sum("price_cents").cast("double") / 100.0).alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            F.coalesce(F.col("ship_year").cast("int"), F.lit(-1)).alias("ship_year"),
            "n_items",
            "sum_qty",
            "sum_price",
        )
        .orderBy("flag", "status", "ship_year")
    )


PRICING_CUBE_SQL = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS ship_year,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_h,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
  FROM lineitem
)
SELECT COALESCE(l_returnflag, 'ALL') AS flag,
       COALESCE(l_linestatus, 'ALL') AS status,
       COALESCE(ship_year, -1) AS ship_year,
       COUNT(*) AS n_items,
       CAST(SUM(qty_h) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(SUM(price_cents) AS DOUBLE) / 100.0 AS sum_price
FROM li
GROUP BY CUBE(l_returnflag, l_linestatus, ship_year)
ORDER BY flag, status, ship_year
"""


# ---------------------------------------------------------------------------
# events_anomaly_zscore — per-type z-score outlier report
# ---------------------------------------------------------------------------

ZSCORE_THRESH = 3.0


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score anomaly detection per event_type — the
    monitoring query every event pipeline runs. Mean and variance come
    from exact integer-cents sums (sum, sum-of-squares as BIGINT —
    value <= ~500 so cents² sums stay far under 2^63 even at 10^9
    rows/type), so both engines derive the IDENTICAL doubles; sqrt is
    IEEE-correctly-rounded and thus safe (unlike ln/exp). The anomaly
    count and the max |z| per type come from one conditional re-agg
    over the same (type) partitioning — two shuffles total, both on
    the bounded type key."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("v_c"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_c").alias("s1"),
        F.sum(F.col("v_c") * F.col("v_c")).alias("s2"),
    )
    n = F.col("n").cast("double")
    mean_c = F.col("s1").cast("double") / n
    var_c2 = (F.col("s2").cast("double") - (F.col("s1").cast("double") * F.col("s1").cast("double")) / n) / n
    stats = stats.withColumn("mean_c", mean_c).withColumn("sd_c", F.sqrt(var_c2))
    z = (F.col("v_c").cast("double") - F.col("mean_c")) / F.col("sd_c")
    scored = ev.join(F.broadcast(stats), "event_type").withColumn("z", z)
    return (
        scored.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            (F.max("mean_c") / 100.0).alias("mean_value"),
            (F.max("sd_c") / 100.0).alias("sd_value"),
            F.sum((F.abs("z") > ZSCORE_THRESH).cast("int")).cast("bigint").alias("n_anomalies"),
            F.max(F.abs("z")).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


EVENTS_ANOMALY_ZSCORE_SQL = f"""
WITH ev AS (
  SELECT event_type,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v_c
  FROM events
),
stats AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(v_c) AS BIGINT) AS s1,
         CAST(SUM(v_c * v_c) AS BIGINT) AS s2
  FROM ev GROUP BY 1
),
st2 AS (
  SELECT event_type, n,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
         SQRT((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sd_c
  FROM stats
),
scored AS (
  SELECT ev.event_type, st2.n, st2.mean_c, st2.sd_c,
         (CAST(ev.v_c AS DOUBLE) - st2.mean_c) / st2.sd_c AS z
  FROM ev JOIN st2 ON ev.event_type = st2.event_type
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(mean_c) / 100.0 AS mean_value,
       MAX(sd_c) / 100.0 AS sd_value,
       CAST(SUM(CASE WHEN ABS(z) > {ZSCORE_THRESH} THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
       MAX(ABS(z)) AS max_abs_z
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# events_markov_transitions — first-order behavior transition matrix
# ---------------------------------------------------------------------------


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    lag(event_type) over the (user, time) order gives the (from, to)
    stream, one bounded-key agg counts it, and the row-stochastic
    probabilities divide exact integers per from-state (the same
    window partitioning carries both the count and its row total, so
    the matrix normalizes without a second shuffle). The session-start
    pseudo-state '_START' keeps the matrix proper."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stream = ev.select(
        F.coalesce(F.lag("event_type").over(w), F.lit("_START")).alias("from_type"),
        F.col("event_type").alias("to_type"),
    )
    counts = stream.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return (
        counts.withColumn("row_total", F.sum("n").over(wrow))
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("row_total").cast("double")).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


EVENTS_MARKOV_TRANSITIONS_SQL = """
WITH stream AS (
  SELECT COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                  '_START') AS from_type,
         event_type AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n FROM stream GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
FROM counts
ORDER BY from_type, to_type
"""


# ---------------------------------------------------------------------------
# customer_rfm_scores — RFM segmentation (recency/frequency/monetary)
# ---------------------------------------------------------------------------

RFM_BUCKETS = 5


def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM customer segmentation: per customer, days since last
    order (vs the corpus max date — no wall clock, so the result is
    reproducible), order count, and exact-cents lifetime value; each
    dimension quintiled with ntile(5) over a TOTAL order (tie-break on
    custkey — ANSI ntile is deterministic given a total order, so both
    engines emit identical buckets). One orders scan, one custkey agg;
    each quintile is reconstructed from an exact DISTRIBUTED rank
    (functions.ranking: histogram-offset decomposition + ntile_from_rank
    — every dimension's values have a broadcastable max, so the bucket
    ids are monotone along each ordering) instead of three
    single-partition window sorts of the customer-sized aggregate —
    bit-identical tiles, no serial pass at any scale.
    Output counts per (r, f, m) segment cell."""
    # o_orderdate scans as TIMESTAMP_NTZ (no BIGINT cast); the zone-free
    # day index is unix_date over the wall-clock DATE
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("bigint").alias("day"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("cents").alias("monetary_cents"),
    )
    mx = per_cust.agg(
        F.max("last_day").alias("max_day"),
        F.min("last_day").alias("min_day"),
        F.max("frequency").alias("max_f"),
        F.max("monetary_cents").alias("max_m"),
    )
    scored = per_cust.crossJoin(F.broadcast(mx)).withColumn(
        "recency_days", F.col("max_day") - F.col("last_day")
    )
    from gdalos_spark.functions.ranking import exact_global_rank, ntile_from_rank

    B = 1024
    # bucket ids monotone along each dimension's ordering (descending
    # orders bucket on max-value so the id still ascends with the rank)
    rmax = F.col("max_day") - F.col("min_day") + 1
    s = exact_global_rank(
        scored, F.col("recency_days") * B / rmax,
        ["recency_days", "o_custkey"], rn="rk_r", n="n_r",
    )
    s = exact_global_rank(
        s, (F.col("max_f") - F.col("frequency")) * B / (F.col("max_f") + 1),
        [F.desc("frequency"), "o_custkey"], rn="rk_f", n="n_f",
    )
    s = exact_global_rank(
        s, (F.col("max_m") - F.col("monetary_cents")) * B / (F.col("max_m") + 1),
        [F.desc("monetary_cents"), "o_custkey"], rn="rk_m", n="n_m",
    )
    rfm = s.select(
        ntile_from_rank(F.col("rk_r"), F.col("n_r"), RFM_BUCKETS).alias("r"),
        ntile_from_rank(F.col("rk_f"), F.col("n_f"), RFM_BUCKETS).alias("f"),
        ntile_from_rank(F.col("rk_m"), F.col("n_m"), RFM_BUCKETS).alias("m"),
        "monetary_cents",
    )
    return (
        rfm.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("monetary_cents").cast("double") / 100.0).alias("segment_value"),
        )
        .orderBy("r", "f", "m")
    )


CUSTOMER_RFM_SCORES_SQL = f"""
WITH o AS (
  SELECT o_custkey, CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS day,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders
),
per_cust AS (
  SELECT o_custkey, MAX(day) AS last_day, COUNT(*) AS frequency,
         CAST(SUM(cents) AS BIGINT) AS monetary_cents
  FROM o GROUP BY 1
),
mx AS (SELECT MAX(last_day) AS max_day FROM per_cust),
scored AS (
  SELECT p.*, mx.max_day - p.last_day AS recency_days
  FROM per_cust p CROSS JOIN mx
),
rfm AS (
  SELECT NTILE({RFM_BUCKETS}) OVER (ORDER BY recency_days, o_custkey) AS r,
         NTILE({RFM_BUCKETS}) OVER (ORDER BY frequency DESC, o_custkey) AS f,
         NTILE({RFM_BUCKETS}) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m,
         monetary_cents
  FROM scored
)
SELECT r, f, m, COUNT(*) AS n_customers,
       CAST(SUM(monetary_cents) AS DOUBLE) / 100.0 AS segment_value
FROM rfm
GROUP BY 1, 2, 3
ORDER BY r, f, m
"""


# ---------------------------------------------------------------------------
# events_pmi_pairs — pointwise mutual information of event-type pairs
# ---------------------------------------------------------------------------


def events_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI of unordered event-type pairs co-occurring within the same
    (user, day) context — the association measure behind co-occurrence
    embeddings and market-basket lift. Contexts come from one distinct
    projection; pairs from a capped self-join per context (event-type
    cardinality is bounded, so the fan-out is C(|types|,2) per context
    at worst). pmi = log2(n_pair * n_ctx / (n_a * n_b)) evaluates the
    polynomial log2 on the two exact integer operands (numerator and
    denominator products stay under 2^63 at any realistic context
    count); both engines emit identical doubles."""
    from gdalos_spark.operators.text import _log2_col

    ev = load(spark, sf_dir, "events")
    # load() normalizes events.ts to TIMESTAMP, so the BIGINT cast is
    # epoch seconds (same idiom as events_sessionize)
    ctx = ev.select(
        "user_id",
        F.expr("CAST(ts AS LONG) div 86400").alias("day"),
        "event_type",
    ).distinct().persist()
    nctx = ctx.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("n_ctx")
    )
    marg = ctx.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ctx.select("user_id", "day", F.col("event_type").alias("ta"))
    b = ctx.select(
        F.col("user_id").alias("u2"), F.col("day").alias("d2"),
        F.col("event_type").alias("tb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("user_id") == F.col("u2"))
            & (F.col("day") == F.col("d2"))
            & (F.col("ta") < F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ma = marg.select(F.col("event_type").alias("ta"), F.col("n_t").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("tb"), F.col("n_t").alias("n_b"))
    j = (
        pairs.join(F.broadcast(ma), "ta")
        .join(F.broadcast(mb), "tb")
        .crossJoin(F.broadcast(nctx))
        .withColumn("num", F.col("n_pair") * F.col("n_ctx"))
        .withColumn("den", F.col("n_a") * F.col("n_b"))
    )
    spark_shift = lambda bl: f"shiftleft(CAST(1 AS BIGINT), {bl})"  # noqa: E731
    j = _log2_col(j, "num", "lg_num", spark_shift)
    j = _log2_col(j, "den", "lg_den", spark_shift)
    return j.select(
        "ta",
        "tb",
        "n_pair",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(F.col("lg_num") - F.col("lg_den"), 6).alias("pmi"),
    ).orderBy("ta", "tb")


def _pmi_sql() -> str:
    from gdalos_spark.operators.text import _log2_lateral_sql

    return f"""
WITH ctx AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
         event_type
  FROM events
),
nctx AS (SELECT COUNT(*) AS n_ctx FROM (SELECT DISTINCT user_id, day FROM ctx)),
marg AS (SELECT event_type, COUNT(*) AS n_t FROM ctx GROUP BY 1),
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb, COUNT(*) AS n_pair
  FROM ctx a JOIN ctx b
    ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
  GROUP BY 1, 2
),
j AS (
  SELECT p.ta, p.tb, p.n_pair,
         CAST(ma.n_t AS BIGINT) AS n_a, CAST(mb.n_t AS BIGINT) AS n_b,
         CAST(p.n_pair AS BIGINT) * nctx.n_ctx AS num,
         CAST(ma.n_t AS BIGINT) * CAST(mb.n_t AS BIGINT) AS den
  FROM pairs p
  JOIN marg ma ON p.ta = ma.event_type
  JOIN marg mb ON p.tb = mb.event_type
  CROSS JOIN nctx
),
lg AS (
  SELECT ta, tb, n_pair, n_a, n_b,
         {_log2_lateral_sql('num', 'lg_num')},
         {_log2_lateral_sql('den', 'lg_den')}
  FROM j
)
SELECT ta, tb, n_pair, n_a, n_b, ROUND(lg_num - lg_den, 6) AS pmi
FROM lg
ORDER BY ta, tb
"""


EVENTS_PMI_PAIRS_SQL = _pmi_sql()


# ---------------------------------------------------------------------------
# parts_abc_pareto — ABC (Pareto) revenue classification
# ---------------------------------------------------------------------------

ABC_A_PCT = 80
ABC_B_PCT = 95


def parts_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, class A =
    the head covering the first 80% of cumulative revenue, B to 95%,
    C the tail — the Pareto cut every supply-chain report draws. The
    cumulative sum runs over exact microcents with a total (revenue
    desc, partkey) order, and the class gates cross-multiply integers
    (cum * 100 <= pct * total). The running sum comes from the
    histogram-offset decomposition (functions.ranking: per-bucket sums
    broadcast as offsets + a per-bucket window, bucketed on descending
    revenue against the broadcast max) — bit-identical to a global-sort
    cumsum with no single-partition pass, so the PART aggregate never
    serializes at any scale. Report: per class, part count + revenue
    share."""
    from gdalos_spark.functions.ranking import exact_global_cumsum

    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", _rev_microcents().alias("rev_u")
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("rev_u").alias("rev_u"))
    total = per_part.agg(
        F.sum("rev_u").alias("total_u"), F.max("rev_u").alias("max_u")
    )
    ranked = exact_global_cumsum(
        per_part.crossJoin(F.broadcast(total)),
        (F.col("max_u") - F.col("rev_u")) * 1024 / (F.col("max_u") + 1),
        [F.desc("rev_u"), "l_partkey"],
        "rev_u",
        out="cum_u",
    )
    cls = (
        F.when(F.col("cum_u") * 100 <= ABC_A_PCT * F.col("total_u"), "A")
        .when(F.col("cum_u") * 100 <= ABC_B_PCT * F.col("total_u"), "B")
        .otherwise("C")
    )
    return (
        ranked.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.sum("rev_u").cast("double") / 1_000_000.0).alias("class_revenue"),
            (
                F.sum("rev_u").cast("double") / F.max("total_u").cast("double")
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


PARTS_ABC_PARETO_SQL = f"""
WITH per_part AS (
  SELECT l_partkey, CAST(SUM({_REV_U_SQL}) AS BIGINT) AS rev_u
  FROM lineitem GROUP BY 1
),
total AS (SELECT CAST(SUM(rev_u) AS BIGINT) AS total_u FROM per_part),
ranked AS (
  SELECT p.*, total_u,
         CAST(SUM(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_u
  FROM per_part p CROSS JOIN total
),
classed AS (
  SELECT *, CASE WHEN cum_u * 100 <= {ABC_A_PCT} * total_u THEN 'A'
                 WHEN cum_u * 100 <= {ABC_B_PCT} * total_u THEN 'B'
                 ELSE 'C' END AS abc_class
  FROM ranked
)
SELECT abc_class, COUNT(*) AS n_parts,
       CAST(SUM(rev_u) AS DOUBLE) / 1000000.0 AS class_revenue,
       CAST(SUM(rev_u) AS DOUBLE) / CAST(MAX(total_u) AS DOUBLE) AS revenue_share
FROM classed
GROUP BY 1
ORDER BY abc_class
"""


# ---------------------------------------------------------------------------
# events_interarrival_burstiness — inter-arrival gap statistics per type
# ---------------------------------------------------------------------------


def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per event type: mean gap, coefficient
    of variation, and the burstiness index (CV-1)/(CV+1) in [-1, 1]
    (Goh & Barabasi 2008) — Poisson traffic sits at 0, bursty traffic
    positive. Gaps come from one lag() over the (type, time)
    partitioning in whole seconds; mean and variance derive from exact
    BIGINT gap sums (gaps < 1e6 s, squares < 1e12, sums safely inside
    2^63), so both engines emit identical doubles; sqrt is IEEE-safe."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("ts").cast("long").alias("ts_s")
    )
    w = Window.partitionBy("event_type").orderBy("ts_s", "event_id")
    gaps = ev.withColumn("gap", F.col("ts_s") - F.lag("ts_s").over(w)).filter(
        F.col("gap").isNotNull()
    )
    stats = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).alias("s2"),
    )
    n = F.col("n_gaps").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (F.col("s2").cast("double") - (F.col("s1").cast("double") * F.col("s1").cast("double")) / n) / n
    cv = F.sqrt(var) / mean
    return stats.select(
        "event_type",
        "n_gaps",
        mean.alias("mean_gap_s"),
        cv.alias("cv"),
        ((cv - 1.0) / (cv + 1.0)).alias("burstiness"),
    ).orderBy("event_type")


EVENTS_INTERARRIVAL_BURSTINESS_SQL = """
WITH ev AS (
  SELECT event_type, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
  FROM events
),
gaps AS (
  SELECT event_type,
         ts_s - LAG(ts_s) OVER (PARTITION BY event_type ORDER BY ts_s, event_id) AS gap
  FROM ev
  QUALIFY gap IS NOT NULL
),
stats AS (
  SELECT event_type, COUNT(*) AS n_gaps,
         CAST(SUM(gap) AS BIGINT) AS s1,
         CAST(SUM(gap * gap) AS BIGINT) AS s2
  FROM gaps GROUP BY 1
)
SELECT event_type, n_gaps,
       CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean_gap_s,
       SQRT((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE))
       / (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS cv,
       (SQRT((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE))
        / (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)) - 1.0)
       / (SQRT((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps AS DOUBLE))
          / (CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE)) + 1.0) AS burstiness
FROM stats
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# discount_elasticity — per-brand quantity-vs-discount regression
# ---------------------------------------------------------------------------


def discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand least-squares slope of quantity on discount percent —
    the pricing team's elasticity read. Unlike the Zipf fit, BOTH
    regressors are exact integers (discount percent 0..10, quantity in
    hundredths), so all five regression sums are plain BIGINT sums with
    no rounding stage at all; slope/intercept/r2 are closed-form
    doubles of exact operands. One brand-keyed agg after the broadcast
    part join — a single data shuffle."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_discount").cast("decimal(18,2)") * 100).cast("bigint").alias("x"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").alias("y"),
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
    sums = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    varx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    return sums.select(
        "p_brand",
        "n",
        # slope in qty-hundredths per discount-percent; /100 -> units/pct
        (cov / varx / 100.0).alias("slope_qty_per_pct"),
        ((F.col("sy").cast("double") - (cov / varx) * F.col("sx").cast("double")) / n / 100.0).alias("intercept_qty"),
    ).orderBy("p_brand")


DISCOUNT_ELASTICITY_SQL = """
WITH li AS (
  SELECT l_partkey,
         CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
  FROM lineitem
),
j AS (SELECT p.p_brand, li.x, li.y FROM li JOIN part p ON li.l_partkey = p.p_partkey),
sums AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM j GROUP BY 1
)
SELECT p_brand, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0 AS slope_qty_per_pct,
       (CAST(sy AS DOUBLE)
        - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0 AS intercept_qty
FROM sums
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# orders_cohort_ltv — cohort lifetime-value matrix
# ---------------------------------------------------------------------------


def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix — the revenue twin of events_retention: each
    customer joins the cohort of their FIRST order's year, and every
    order contributes exact cents to (cohort_year, age = order_year -
    cohort_year). Two aggs over one orders scan (per-customer first
    year, then the matrix) joined on the customer key; cumulative LTV
    per cohort is a window over the bounded (cohort, age) grid. All
    money integer until the terminal divide."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    first = o.groupBy(F.col("o_custkey").alias("ck")).agg(F.min("yr").alias("cohort"))
    j = o.join(first, F.col("o_custkey") == F.col("ck"))
    cell = j.groupBy(
        F.col("cohort").cast("int").alias("cohort_year"),
        (F.col("yr") - F.col("cohort")).cast("int").alias("age_years"),
    ).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("cents"),
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("age_years")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        "cohort_year",
        "age_years",
        "n_customers",
        "n_orders",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (F.sum("cents").over(w).cast("double") / 100.0).alias("cumulative_revenue"),
    ).orderBy("cohort_year", "age_years")


ORDERS_COHORT_LTV_SQL = """
WITH o AS (
  SELECT o_custkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders
),
first AS (SELECT o_custkey AS ck, MIN(yr) AS cohort FROM o GROUP BY 1),
j AS (SELECT o.*, f.cohort FROM o JOIN first f ON o.o_custkey = f.ck),
cell AS (
  SELECT CAST(cohort AS INTEGER) AS cohort_year,
         CAST(yr - cohort AS INTEGER) AS age_years,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         COUNT(*) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM j GROUP BY 1, 2
)
SELECT cohort_year, age_years, n_customers, n_orders,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(cents) OVER (PARTITION BY cohort_year ORDER BY age_years
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS cumulative_revenue
FROM cell
ORDER BY cohort_year, age_years
"""


# ---------------------------------------------------------------------------
# join_skew_report — join-key skew diagnosis (the meta-operator)
# ---------------------------------------------------------------------------

SKEW_TOPK = 5


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis for the fact table's join keys — the measurement
    that decides whether a join needs salting/AQE skew handling BEFORE
    it melts a stage (the meta-operator behind skewed_agg_salted). For
    each candidate key of lineitem: distinct keys, max/mean row-count
    ratio (the skew factor), the top key's share, and the share of the
    heaviest SKEW_TOPK keys. One agg per key column over the same scan;
    the per-key tables are bounded by key cardinality; top-k shares
    from TakeOrdered-style window cuts on the count."""
    li = load(spark, sf_dir, "lineitem")
    out = []
    for keycol in ("l_orderkey", "l_partkey", "l_suppkey"):
        per_key = li.groupBy(F.col(keycol).alias("k")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.orderBy(F.desc("cnt"), "k")
        ranked = per_key.withColumn("rk", F.row_number().over(w))
        stats = ranked.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("n_rows"),
            F.max("cnt").alias("max_cnt"),
            F.sum(F.when(F.col("rk") <= SKEW_TOPK, F.col("cnt")).otherwise(0)).alias("topk_cnt"),
        ).select(
            F.lit(keycol).alias("join_key"),
            "n_keys",
            "n_rows",
            "max_cnt",
            (F.col("max_cnt") * F.col("n_keys")).cast("double").alias("_num"),
            F.col("n_rows").cast("double").alias("_den"),
            "topk_cnt",
        )
        out.append(
            stats.select(
                "join_key",
                "n_keys",
                "n_rows",
                F.col("max_cnt").cast("bigint").alias("max_rows_per_key"),
                (F.col("_num") / F.col("_den")).alias("skew_factor"),
                (F.col("topk_cnt").cast("double") / F.col("_den")).alias("topk_share"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    return res.orderBy("join_key")


JOIN_SKEW_REPORT_SQL = f"""
WITH keys AS (
  SELECT 'l_orderkey' AS join_key, l_orderkey AS k FROM lineitem
  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
),
per_key AS (
  SELECT join_key, k, COUNT(*) AS cnt FROM keys GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY join_key ORDER BY cnt DESC, k) AS rk
  FROM per_key
)
SELECT join_key,
       COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(cnt) AS BIGINT) AS max_rows_per_key,
       CAST(MAX(cnt) * COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS skew_factor,
       CAST(SUM(CASE WHEN rk <= {SKEW_TOPK} THEN cnt ELSE 0 END) AS DOUBLE)
       / CAST(SUM(cnt) AS DOUBLE) AS topk_share
FROM ranked
GROUP BY join_key
ORDER BY join_key
"""


# ---------------------------------------------------------------------------
# events_user_gini — activity-inequality (Gini) report
# ---------------------------------------------------------------------------


def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the inequality number
    that says whether 'active users' means everyone or five whales (the
    distribution-level companion of join_skew_report). From the sorted
    per-user counts: G = (2 * sum(i * c_i)) / (n * sum(c)) - (n + 1)/n,
    every sum an exact BIGINT over the BOUNDED user aggregate (the rank
    runs on |users| rows, not |events|, via the histogram-offset
    decomposition — no single-partition sort); the two divisions
    happen once in double. Also reports the top-decile share, integer
    cross-multiplied (rank * 10 > 9 * n)."""
    from gdalos_spark.functions.ranking import exact_global_rank

    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    mx = per_user.agg(F.max("cnt").alias("max_cnt"))
    ranked = exact_global_rank(
        per_user.crossJoin(F.broadcast(mx)),
        F.col("cnt") * 1024 / (F.col("max_cnt") + 1),
        ["cnt", "user_id"],
        rn="i",
        n="n_all",
    ).withColumn("i", F.col("i").cast("bigint"))
    return (
        ranked.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cnt").alias("n_events"),
            F.sum(F.col("i") * F.col("cnt")).alias("ic"),
            F.sum(
                F.when(F.col("i") * 10 > 9 * F.col("n_all"), F.col("cnt")).otherwise(0)
            ).alias("top_decile_cnt"),
        )
        .select(
            "n_users",
            "n_events",
            (
                (F.lit(2.0) * F.col("ic").cast("double"))
                / (F.col("n_users").cast("double") * F.col("n_events").cast("double"))
                - (F.col("n_users") + 1).cast("double") / F.col("n_users").cast("double")
            ).alias("gini"),
            (F.col("top_decile_cnt").cast("double") / F.col("n_events").cast("double")).alias("top_decile_share"),
        )
    )


EVENTS_USER_GINI_SQL = """
WITH per_user AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cnt, user_id) AS BIGINT) AS i,
         COUNT(*) OVER () AS n_all
  FROM per_user
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       (2.0 * CAST(SUM(i * cnt) AS DOUBLE))
       / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
       - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS gini,
       CAST(SUM(CASE WHEN i * 10 > 9 * n_all THEN cnt ELSE 0 END) AS DOUBLE)
       / CAST(SUM(cnt) AS DOUBLE) AS top_decile_share
FROM ranked
"""


# ---------------------------------------------------------------------------
# basket_lift_pairs — market-basket association lift on co-ordered parts
# ---------------------------------------------------------------------------

BASKET_CAP = 10  # orders with more distinct parts emit no pairs
BASKET_TOPK = 20
BASKET_MIN_SUPPORT = 2


def basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis: lift = P(a,b) / (P(a) P(b)) for part
    pairs co-occurring in the same order, top-k by lift. The pair join
    is DF-capped per order (same discipline as the graph edges: a cap-C
    basket emits at most C(C,2) pairs however big the corpus), marginals
    come from one distinct (order, part) projection, and the lift is a
    single division of exact integer products
    (n_ab * n_orders / (n_a * n_b)) evaluated once in double. Support
    floor keeps noise pairs out; ties break on the part pair."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ok = op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nb")).filter(
        F.col("nb") <= BASKET_CAP
    )
    op_c = op.join(ok.select("l_orderkey"), "l_orderkey", "left_semi").persist()
    n_orders = op_c.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    marg = op_c.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a = op_c.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = op_c.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, (F.col("l_orderkey") == F.col("o2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    ma = marg.select(F.col("l_partkey").alias("pa"), F.col("n_p").alias("n_a"))
    mb = marg.select(F.col("l_partkey").alias("pb"), F.col("n_p").alias("n_b"))
    j = (
        pairs.join(ma, "pa")
        .join(mb, "pb")
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (F.col("n_ab") * F.col("n_orders")).cast("double") / (
        F.col("n_a") * F.col("n_b")
    ).cast("double")
    return (
        j.select("pa", "pb", "n_ab",
                 F.col("n_a").cast("bigint").alias("n_a"),
                 F.col("n_b").cast("bigint").alias("n_b"),
                 lift.alias("lift"))
        .orderBy(F.desc("lift"), "pa", "pb")
        .limit(BASKET_TOPK)
    )


BASKET_LIFT_PAIRS_SQL = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ok AS (SELECT l_orderkey FROM op GROUP BY 1 HAVING COUNT(*) <= {BASKET_CAP}),
op_c AS (SELECT * FROM op WHERE l_orderkey IN (SELECT l_orderkey FROM ok)),
n_ord AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op_c),
marg AS (SELECT l_partkey, COUNT(*) AS n_p FROM op_c GROUP BY 1),
pairs AS (
  SELECT x.l_partkey AS pa, y.l_partkey AS pb, COUNT(*) AS n_ab
  FROM op_c x JOIN op_c y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.pa, p.pb, p.n_ab,
       CAST(ma.n_p AS BIGINT) AS n_a, CAST(mb.n_p AS BIGINT) AS n_b,
       CAST(p.n_ab * n_ord.n_orders AS DOUBLE) / CAST(ma.n_p * mb.n_p AS DOUBLE) AS lift
FROM pairs p
JOIN marg ma ON p.pa = ma.l_partkey
JOIN marg mb ON p.pb = mb.l_partkey
CROSS JOIN n_ord
ORDER BY lift DESC, pa, pb
LIMIT {BASKET_TOPK}
"""


# ---------------------------------------------------------------------------
# events_stickiness — DAU/WAU/MAU engagement ratios
# ---------------------------------------------------------------------------


def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics stickiness dashboard: distinct active users
    per day, per ISO-ish week (epoch-week), per month-bucket (epoch
    30-day), and the DAU/WAU, WAU/MAU ratios per week — computed from
    ONE distinct (user, day) projection re-bucketed three ways (days
    div 7, div 30), so the dedup work happens once. Ratios divide exact
    distinct counts; averages of DAU within the week divide exact sums.
    Output per epoch-week: avg_dau, wau, mau (of the containing month
    bucket), stickiness ratios."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("CAST(ts AS LONG) div 86400").alias("day")
    ).distinct().persist()
    dau = ev.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        ev.select(F.expr("day div 7").alias("wk"), "user_id")
        .distinct()
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    mau = (
        ev.select(F.expr("day div 30").alias("mo"), "user_id")
        .distinct()
        .groupBy("mo")
        .agg(F.count(F.lit(1)).alias("mau"))
    )
    wk_dau = dau.groupBy(F.expr("day div 7").alias("wk")).agg(
        F.sum("dau").alias("dau_sum"), F.count(F.lit(1)).alias("n_days")
    )
    j = (
        wk_dau.join(wau, "wk")
        .withColumn("mo", F.expr("(wk * 7) div 30"))
        .join(mau, "mo")
    )
    return j.select(
        F.col("wk").cast("bigint").alias("epoch_week"),
        (F.col("dau_sum").cast("double") / F.col("n_days").cast("double")).alias("avg_dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.col("mau").cast("bigint").alias("mau"),
        (
            F.col("dau_sum").cast("double")
            / (F.col("n_days") * F.col("wau")).cast("double")
        ).alias("dau_wau_stickiness"),
        (F.col("wau").cast("double") / F.col("mau").cast("double")).alias("wau_mau_ratio"),
    ).orderBy("epoch_week")


EVENTS_STICKINESS_SQL = """
WITH ev AS (
  SELECT DISTINCT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
dau AS (SELECT day, COUNT(*) AS dau FROM ev GROUP BY 1),
wau AS (
  SELECT wk, COUNT(*) AS wau FROM (
    SELECT DISTINCT day // 7 AS wk, user_id FROM ev
  ) GROUP BY 1
),
mau AS (
  SELECT mo, COUNT(*) AS mau FROM (
    SELECT DISTINCT day // 30 AS mo, user_id FROM ev
  ) GROUP BY 1
),
wk_dau AS (
  SELECT day // 7 AS wk, CAST(SUM(dau) AS BIGINT) AS dau_sum, COUNT(*) AS n_days
  FROM dau GROUP BY 1
)
SELECT CAST(w.wk AS BIGINT) AS epoch_week,
       CAST(dau_sum AS DOUBLE) / CAST(n_days AS DOUBLE) AS avg_dau,
       CAST(wau.wau AS BIGINT) AS wau,
       CAST(mau.mau AS BIGINT) AS mau,
       CAST(dau_sum AS DOUBLE) / CAST(n_days * wau.wau AS DOUBLE) AS dau_wau_stickiness,
       CAST(wau.wau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS wau_mau_ratio
FROM wk_dau w
JOIN wau ON w.wk = wau.wk
JOIN mau ON (w.wk * 7) // 30 = mau.mo
ORDER BY epoch_week
"""


# ---------------------------------------------------------------------------
# events_mad_outliers — median-absolute-deviation robust outlier report
# ---------------------------------------------------------------------------


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: MAD (median absolute
    deviation) instead of the z-score's variance, so a few extreme
    values cannot mask themselves by inflating sigma. Both medians use
    the explicit integer-rank pick (percentile_disc semantics, the
    quantile_report discipline — engines disagree on interpolated
    percentiles), values stay integer cents throughout, and the outlier
    gate |x - med| > 3 * MAD compares plain integers. Two sort passes
    over the same event_type partitioning; the final agg counts
    outliers and keeps the extreme example."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("v_c"),
    )
    w1 = Window.partitionBy("event_type").orderBy("v_c", "event_id")
    n1 = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(w1)).withColumn(
        "n", F.count(F.lit(1)).over(n1)
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n * 50 + 99) div 100")
    ).select(F.col("event_type").alias("et"), F.col("v_c").alias("med_c"))
    dev = ev.join(F.broadcast(med), ev.event_type == F.col("et")).withColumn(
        "adev", F.abs(F.col("v_c") - F.col("med_c"))
    )
    w2 = Window.partitionBy("event_type").orderBy("adev", "event_id")
    ranked2 = dev.withColumn("rn2", F.row_number().over(w2)).withColumn(
        "n", F.count(F.lit(1)).over(n1)
    )
    mad = ranked2.filter(
        F.col("rn2") == F.expr("(n * 50 + 99) div 100")
    ).select(F.col("event_type").alias("et2"), F.col("adev").alias("mad_c"))
    scored = dev.join(F.broadcast(mad), dev.event_type == F.col("et2")).withColumn(
        "is_out", (F.col("adev") > 3 * F.col("mad_c")).cast("int")
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("med_c").cast("double") / 100.0).alias("median_value"),
            (F.max("mad_c").cast("double") / 100.0).alias("mad"),
            F.sum("is_out").cast("bigint").alias("n_outliers"),
            (F.max(F.when(F.col("is_out") == 1, F.col("adev"))).cast("double") / 100.0).alias("max_abs_dev"),
        )
        .withColumn("max_abs_dev", F.coalesce("max_abs_dev", F.lit(-1.0)))
        .orderBy("event_type")
    )


EVENTS_MAD_OUTLIERS_SQL = """
WITH ev AS (
  SELECT event_type, event_id,
         CAST(ROUND(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS v_c
  FROM events
),
r1 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v_c, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
med AS (SELECT event_type AS et, v_c AS med_c FROM r1 WHERE rn = (n * 50 + 99) // 100),
dev AS (
  SELECT ev.*, med.med_c, ABS(ev.v_c - med.med_c) AS adev
  FROM ev JOIN med ON ev.event_type = med.et
),
r2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn2,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (SELECT event_type AS et2, adev AS mad_c FROM r2 WHERE rn2 = (n * 50 + 99) // 100),
scored AS (
  SELECT dev.*, mad.mad_c,
         CASE WHEN dev.adev > 3 * mad.mad_c THEN 1 ELSE 0 END AS is_out
  FROM dev JOIN mad ON dev.event_type = mad.et2
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(MAX(med_c) AS DOUBLE) / 100.0 AS median_value,
       CAST(MAX(mad_c) AS DOUBLE) / 100.0 AS mad,
       CAST(SUM(is_out) AS BIGINT) AS n_outliers,
       COALESCE(CAST(MAX(CASE WHEN is_out = 1 THEN adev END) AS DOUBLE) / 100.0, -1.0) AS max_abs_dev
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# supplier_share_hhi — market-concentration (Herfindahl) index per brand
# ---------------------------------------------------------------------------


def supplier_share_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier shares within each
    brand's traded volume: HHI = sum_i (q_i/Q)^2 = sum(q_i^2) / Q^2 —
    ONE division of exact integers (quantity-hundredths sums; squares
    of per-supplier sums stay far under 2^63), so the whole index is
    engine-identical with no per-share float. Two aggs over one
    partitioning chain (brand+supplier, then brand); effective supplier
    count 1/HHI rides along."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").alias("qty_h"),
    )
    pt = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per_supp = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("qty_h").alias("q"))
    )
    agg = per_supp.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").alias("total_q"),
        F.sum(F.col("q") * F.col("q")).alias("sum_q2"),
    )
    hhi = F.col("sum_q2").cast("double") / (
        F.col("total_q").cast("double") * F.col("total_q").cast("double")
    )
    return agg.select(
        "p_brand",
        F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
        hhi.alias("hhi"),
        (F.lit(1.0) / hhi).alias("effective_suppliers"),
    ).orderBy("p_brand")


SUPPLIER_SHARE_HHI_SQL = """
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_h
  FROM lineitem
),
per_supp AS (
  SELECT p.p_brand, li.l_suppkey, CAST(SUM(li.qty_h) AS BIGINT) AS q
  FROM li JOIN part p ON li.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
agg AS (
  SELECT p_brand, COUNT(*) AS n_suppliers,
         CAST(SUM(q) AS BIGINT) AS total_q,
         CAST(SUM(q * q) AS BIGINT) AS sum_q2
  FROM per_supp GROUP BY 1
)
SELECT p_brand, CAST(n_suppliers AS BIGINT) AS n_suppliers,
       CAST(sum_q2 AS DOUBLE) / (CAST(total_q AS DOUBLE) * CAST(total_q AS DOUBLE)) AS hhi,
       1.0 / (CAST(sum_q2 AS DOUBLE) / (CAST(total_q AS DOUBLE) * CAST(total_q AS DOUBLE))) AS effective_suppliers
FROM agg
ORDER BY p_brand
"""


# ---------------------------------------------------------------------------
# events_type_entropy — behavioral entropy per user
# ---------------------------------------------------------------------------


def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral entropy over the event-type distribution —
    the personalization feature that separates single-purpose users
    from explorers. H = log2(n) - (1/n) * sum(c_t * log2(c_t)) needs
    only log2 of INTEGER counts (the polynomial stages), and the inner
    sum rounds each c*log2(c) term once to micro-units so the per-user
    totals are exact under any order. Two aggs over one (user, type)
    partitioning chain."""
    from gdalos_spark.operators.text import _log2_col

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    per_ut = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    spark_shift = lambda bl: f"shiftleft(CAST(1 AS BIGINT), {bl})"  # noqa: E731
    per_ut = _log2_col(per_ut, "c", "lg_c", spark_shift)
    per_user = per_ut.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.round(F.col("c") * F.col("lg_c") * 1_000_000.0).cast("bigint")
        ).alias("clc_u"),
    )
    per_user = _log2_col(per_user, "n", "lg_n", spark_shift)
    return per_user.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("n_types").cast("bigint").alias("n_types"),
        F.round(
            F.col("lg_n")
            - F.col("clc_u").cast("double") / (F.col("n") * 1_000_000).cast("double"),
            6,
        ).alias("entropy_bits"),
    ).orderBy("user_id")


def _type_entropy_sql() -> str:
    from gdalos_spark.operators.text import _log2_lateral_sql

    return f"""
WITH per_ut AS (
  SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
),
lg1 AS (
  SELECT user_id, c, {_log2_lateral_sql('c', 'lg_c')} FROM per_ut
),
per_user AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_types,
         CAST(SUM(CAST(ROUND(c * lg_c * 1000000.0) AS BIGINT)) AS BIGINT) AS clc_u
  FROM lg1 GROUP BY 1
),
lg2 AS (
  SELECT user_id, n, n_types, clc_u, {_log2_lateral_sql('n', 'lg_n')} FROM per_user
)
SELECT user_id, n AS n_events, CAST(n_types AS BIGINT) AS n_types,
       ROUND(lg_n - CAST(clc_u AS DOUBLE) / CAST(n * 1000000 AS DOUBLE), 6) AS entropy_bits
FROM lg2
ORDER BY user_id
"""


EVENTS_TYPE_ENTROPY_SQL = _type_entropy_sql()


# ---------------------------------------------------------------------------
# orders_yoy_growth — month-level year-over-year revenue growth
# ---------------------------------------------------------------------------


def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-level year-over-year growth — the first chart on every
    revenue dashboard: per (year, month), exact-cents revenue and order
    count, joined to the SAME month a year earlier by a 12-row lag over
    the (month-index) order (one bounded window, no self-join). Growth
    is one division of exact integers; months without a prior year emit
    the -1 sentinel rather than NULL."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("cents"),
    )
    per_month = o.groupBy("yr", "mo").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("cents")
    ).withColumn("midx", F.col("yr") * 12 + F.col("mo"))
    w = Window.orderBy("midx")
    j = per_month.withColumn("prev_cents", F.lag("cents", 12).over(w)).withColumn(
        "prev_midx", F.lag("midx", 12).over(w)
    )
    valid_prev = F.col("prev_midx") == F.col("midx") - 12
    growth = F.when(
        valid_prev & (F.col("prev_cents") > 0),
        (F.col("cents") - F.col("prev_cents")).cast("double")
        / F.col("prev_cents").cast("double"),
    ).otherwise(F.lit(-1.0))
    return j.select(
        F.col("yr").cast("int").alias("yr"),
        F.col("mo").cast("int").alias("mo"),
        "n_orders",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        growth.alias("yoy_growth"),
    ).orderBy("yr", "mo")


ORDERS_YOY_GROWTH_SQL = """
WITH o AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS mo,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders
),
per_month AS (
  SELECT yr, mo, COUNT(*) AS n_orders, CAST(SUM(cents) AS BIGINT) AS cents,
         yr * 12 + mo AS midx
  FROM o GROUP BY 1, 2
),
j AS (
  SELECT *, LAG(cents, 12) OVER (ORDER BY midx) AS prev_cents,
         LAG(midx, 12) OVER (ORDER BY midx) AS prev_midx
  FROM per_month
)
SELECT yr, mo, n_orders,
       CAST(cents AS DOUBLE) / 100.0 AS revenue,
       CASE WHEN prev_midx = midx - 12 AND prev_cents > 0
            THEN CAST(cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE)
            ELSE -1.0 END AS yoy_growth
FROM j
ORDER BY yr, mo
"""


# ---------------------------------------------------------------------------
# events_survival_curve — empirical user-lifetime survival
# ---------------------------------------------------------------------------

SURVIVAL_MAX_WEEKS = 12


def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical survival curve of user lifetimes: S(k) = fraction of
    users whose observed activity span (last day - first day) reaches
    at least k weeks. Lifetimes come from one (user) agg; each user
    buckets to their TERMINAL week, and the survival counts are a
    reverse cumulative window over the bounded week grid (the same
    no-fan-out trick as the Heaps checkpoints). All integers until the
    terminal fraction."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("CAST(ts AS LONG) div 86400").alias("day")
    )
    spans = ev.groupBy("user_id").agg(
        F.expr("(max(day) - min(day)) div 7").alias("wk_raw")
    ).select(
        F.least(F.lit(SURVIVAL_MAX_WEEKS).cast("bigint"), F.col("wk_raw")).alias("wk")
    )
    per_wk = spans.groupBy("wk").agg(F.count(F.lit(1)).alias("n_ending"))
    grid = spark.range(0, SURVIVAL_MAX_WEEKS + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    j = grid.join(per_wk, grid.k == per_wk.wk, "left").select(
        "k", F.coalesce("n_ending", F.lit(0)).alias("n_ending")
    )
    w = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = j.agg(F.sum("n_ending").alias("n_users"))
    return (
        j.withColumn("n_surviving", F.sum("n_ending").over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("int").alias("weeks"),
            F.col("n_surviving").cast("bigint").alias("n_surviving"),
            "n_users",
            (F.col("n_surviving").cast("double") / F.col("n_users").cast("double")).alias("survival"),
        )
        .orderBy("weeks")
    )


EVENTS_SURVIVAL_CURVE_SQL = f"""
WITH ev AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events
),
spans AS (
  SELECT LEAST(CAST({SURVIVAL_MAX_WEEKS} AS BIGINT),
               CAST((MAX(day) - MIN(day)) // 7 AS BIGINT)) AS wk
  FROM ev GROUP BY user_id
),
per_wk AS (SELECT wk, COUNT(*) AS n_ending FROM spans GROUP BY 1),
grid AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, {SURVIVAL_MAX_WEEKS} + 1)),
j AS (
  SELECT g.k, COALESCE(p.n_ending, 0) AS n_ending
  FROM grid g LEFT JOIN per_wk p ON g.k = p.wk
),
tot AS (SELECT CAST(SUM(n_ending) AS BIGINT) AS n_users FROM j)
SELECT CAST(k AS INTEGER) AS weeks,
       CAST(SUM(n_ending) OVER (ORDER BY k DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_surviving,
       tot.n_users,
       CAST(SUM(n_ending) OVER (ORDER BY k DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       / CAST(tot.n_users AS DOUBLE) AS survival
FROM j CROSS JOIN tot
ORDER BY weeks
"""


# ---------------------------------------------------------------------------
# events_daily_autocorr — lag-1 autocorrelation of the daily volume series
# ---------------------------------------------------------------------------


def events_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event counts per type — the
    quick seasonality/momentum read on a volume series. Counts are
    exact integers, the (x_t, x_{t-1}) pairs come from one lag over
    the bounded (type, day) grid, and Pearson r is the closed form
    over five exact BIGINT sums (the discount-elasticity discipline
    applied to a time series)."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.expr("CAST(ts AS LONG) div 86400").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.withColumn("prev_c", F.lag("c").over(w)).withColumn(
        "prev_day", F.lag("day").over(w)
    ).filter(F.col("prev_day") == F.col("day") - 1)
    sums = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("sx"),
        F.sum("prev_c").alias("sy"),
        F.sum(F.col("c") * F.col("prev_c")).alias("sxy"),
        F.sum(F.col("c") * F.col("c")).alias("sxx"),
        F.sum(F.col("prev_c") * F.col("prev_c")).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        (cov / F.sqrt(vx * vy)).alias("lag1_autocorr"),
    ).orderBy("event_type")


EVENTS_DAILY_AUTOCORR_SQL = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day FROM events
),
daily AS (SELECT event_type, day, COUNT(*) AS c FROM ev GROUP BY 1, 2),
pairs AS (
  SELECT event_type, c,
         LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS prev_c,
         LAG(day) OVER (PARTITION BY event_type ORDER BY day) AS prev_day,
         day
  FROM daily
  QUALIFY prev_day = day - 1
),
sums AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(prev_c) AS BIGINT) AS sy,
         CAST(SUM(c * prev_c) AS BIGINT) AS sxy,
         CAST(SUM(c * c) AS BIGINT) AS sxx,
         CAST(SUM(prev_c * prev_c) AS BIGINT) AS syy
  FROM pairs GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS lag1_autocorr
FROM sums
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# snapshot_diff — lakehouse table-diff / CDC audit between two versions
# ---------------------------------------------------------------------------


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two snapshots of the orders table (v1 =
    keys not divisible by 97; v2 = keys not divisible by 89, with every
    13th price bumped) classified added / removed / changed / unchanged —
    the audit any incremental lakehouse pipeline runs after a MERGE.
    Shape: one full-outer shuffle join on the snapshot key (bucketed
    snapshots make it exchange-free — sources/bucketed.py); comparing a
    single price column here stands in for the row-hash compare a wide
    table would use. Deltas are exact BIGINT cents (ROUND before CAST:
    the doubles are decimal cents, so x*100 lands within 1e-6 of an
    integer and ROUND collapses the engines' cast-rounding divergence)."""
    o = load(spark, sf_dir, "orders")
    v1 = o.where(F.expr("o_orderkey % 97 <> 0")).select(
        F.col("o_orderkey").alias("k1"),
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("p1"),
    )
    v2 = o.where(F.expr("o_orderkey % 89 <> 0")).select(
        F.col("o_orderkey").alias("k2"),
        F.expr(
            "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)"
            " + CASE WHEN o_orderkey % 13 = 0 THEN 100 ELSE 0 END"
        ).alias("p2"),
    )
    j = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    cls = (
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            cls.alias("change_class"),
            (F.coalesce("p2", F.lit(0)) - F.coalesce("p1", F.lit(0))).alias("dc"),
        )
        .groupBy("change_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("dc").cast("bigint").alias("delta_cents"),
        )
    )


SNAPSHOT_DIFF_SQL = """
WITH v1 AS (
  SELECT o_orderkey AS k1, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS p1
  FROM orders WHERE o_orderkey % 97 <> 0
),
v2 AS (
  SELECT o_orderkey AS k2,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
         + CASE WHEN o_orderkey % 13 = 0 THEN 100 ELSE 0 END AS p2
  FROM orders WHERE o_orderkey % 89 <> 0
),
j AS (SELECT * FROM v1 FULL OUTER JOIN v2 ON k1 = k2)
SELECT CASE WHEN k1 IS NULL THEN 'added'
            WHEN k2 IS NULL THEN 'removed'
            WHEN p1 <> p2 THEN 'changed'
            ELSE 'unchanged' END AS change_class,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(COALESCE(p2, 0) - COALESCE(p1, 0)) AS BIGINT) AS delta_cents
FROM j
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# parts_skyline — Pareto-front (skyline) query via windows, not self-join
# ---------------------------------------------------------------------------


def parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of the part catalog: parts where no other part is both
    cheaper-or-equal AND larger-or-equal (strict in at least one of
    price/size) — the classic multi-criteria "best offers" operator.
    The naive formulation is an O(n^2) dominance self-join; the
    scalable one is a global sort + two window maxima:

      m1 = max(size) among STRICTLY cheaper parts   (RANGE .. 1 PRECEDING
           over integer CENTS — on the raw DOUBLE price "1 PRECEDING"
           would skip parts cheaper by < 1.00 and leak dominated rows)
      m2 = max(size) among same-price parts          (PARTITION BY price)

    dominated  <=>  m1 >= size  OR  m2 > size.  The prefix max m1 uses
    the histogram-offset decomposition (the functions.ranking pattern,
    here with MAX as the monoid): max over strictly-lower price buckets
    (a tiny broadcast table) combined with the within-bucket range
    window — bit-identical to the single-partition running max, with
    every price bucket processed in parallel. No pairwise work
    anywhere."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.expr("CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)").alias("pc"),
    )
    mx = p.agg(F.max("pc").alias("max_pc"))
    keyed = p.crossJoin(F.broadcast(mx)).withColumn(
        "__bk", (F.col("pc") * 1024 / (F.col("max_pc") + 1)).cast("bigint")
    )
    # strictly-lower-bucket max: same pc -> same bucket, so a lower
    # bucket id implies a strictly lower price
    gmax = keyed.groupBy("__bk").agg(F.max("p_size").alias("__gm"))
    offs = gmax.select(
        "__bk",
        F.max("__gm")
        .over(Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1))
        .alias("__om"),
    )
    w1 = (
        Window.partitionBy("__bk")
        .orderBy("pc")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w2 = Window.partitionBy("pc")
    return (
        keyed.join(F.broadcast(offs), "__bk")
        # greatest() skips nulls: null only when NO strictly cheaper part
        # exists anywhere — the same contract as the global range window
        .withColumn("m1", F.greatest(F.col("__om"), F.max("p_size").over(w1)))
        .withColumn("m2", F.max("p_size").over(w2))
        .where(
            ~(
                (F.col("m1").isNotNull() & (F.col("m1") >= F.col("p_size")))
                | (F.col("m2") > F.col("p_size"))
            )
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


PARTS_SKYLINE_SQL = """
WITH c AS (
  SELECT p_partkey, p_retailprice, p_size,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS pc
  FROM part
),
w AS (
  SELECT p_partkey, p_retailprice, p_size,
         MAX(p_size) OVER (ORDER BY pc
                           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
         MAX(p_size) OVER (PARTITION BY pc) AS m2
  FROM c
)
SELECT p_partkey, p_retailprice, p_size
FROM w
WHERE NOT ((m1 IS NOT NULL AND m1 >= p_size) OR m2 > p_size)
"""


# ---------------------------------------------------------------------------
# bloom_join_prune — runtime-filter (Bloom) semi-join reduction audit
# ---------------------------------------------------------------------------

BJP_M = 4096  # filter bits
BJP_K = 3  # hash probes
BJP_NATION = 3  # the small side: suppliers of one nation


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join pruning, measured: a Bloom filter built from
    the small join side (suppliers of one nation) pre-filters lineitem
    BEFORE the shuffle join — the pattern engines call runtime filter /
    dynamic semi-join reduction, here with the engine-portable md5 hash
    family so both engines compute the identical filter. The set-bits
    table (<= BJP_M rows) broadcasts; membership is BJP_K broadcast
    lookups, so the fact table never shuffles to be pruned. Output is
    the sizing report: pass-rate and false-positive rate, the numbers
    that justify (or kill) the filter at 100 TB."""
    from gdalos_spark.functions import hashing

    li = load(spark, sf_dir, "lineitem").select("l_suppkey")
    supp = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == BJP_NATION)
        .select(hashing.hash_base(F.col("s_suppkey").cast("string")).alias("base"))
        .distinct()
    )
    bits = supp.select(
        F.explode(
            F.array(
                *[
                    (hashing.perm_hash(F.col("base"), i) % BJP_M)
                    for i in range(BJP_K)
                ]
            )
        ).alias("bit")
    ).distinct()
    probe = li.withColumn(
        "base", hashing.hash_base(F.col("l_suppkey").cast("string"))
    )
    for i in range(BJP_K):
        b = bits.withColumnRenamed("bit", f"b{i}")
        probe = probe.join(
            F.broadcast(b),
            hashing.perm_hash(F.col("base"), i) % BJP_M == F.col(f"b{i}"),
            "left",
        )
    passed = F.lit(True)
    for i in range(BJP_K):
        passed = passed & F.col(f"b{i}").isNotNull()
    truth = supp.withColumnRenamed("base", "t_base")
    flagged = probe.withColumn("bloom_pass", passed).join(
        F.broadcast(truth), F.col("base") == F.col("t_base"), "left"
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_total"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("rows_pass_bloom"),
        F.sum(F.when(F.col("t_base").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("rows_true_semi"),
        F.sum(
            F.when(F.col("bloom_pass") & F.col("t_base").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("false_positives"),
        (
            F.sum(
                F.when(F.col("bloom_pass") & F.col("t_base").isNull(), 1).otherwise(
                    0
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("fp_rate"),
    )


def _bloom_join_sql() -> str:
    from gdalos_spark.functions import hashing

    base_s = hashing.hash_base_sql("CAST(s_suppkey AS VARCHAR)")
    base_l = hashing.hash_base_sql("CAST(l_suppkey AS VARCHAR)")
    probes = " AND ".join(
        f"({hashing.perm_hash_sql('p.base', i)} % {BJP_M}) IN (SELECT bit FROM bits)"
        for i in range(BJP_K)
    )
    bit_rows = " UNION ALL ".join(
        f"SELECT ({hashing.perm_hash_sql('base', i)} % {BJP_M}) AS bit FROM supp"
        for i in range(BJP_K)
    )
    return f"""
WITH supp AS (
  SELECT DISTINCT {base_s} AS base FROM supplier WHERE s_nationkey = {BJP_NATION}
),
bits AS (SELECT DISTINCT bit FROM ({bit_rows})),
p AS (SELECT {base_l} AS base FROM lineitem),
f AS (
  SELECT base,
         ({probes}) AS bloom_pass,
         base IN (SELECT base FROM supp) AS is_true
  FROM p
)
SELECT CAST(COUNT(*) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS rows_pass_bloom,
       CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS rows_true_semi,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS fp_rate
FROM f
"""


BLOOM_JOIN_PRUNE_SQL = _bloom_join_sql()


# ---------------------------------------------------------------------------
# events_funnel_windowed — funnel with a per-step conversion window
# ---------------------------------------------------------------------------

FUNNEL_GAP_US = 3_600_000_000  # 1 h conversion window per step


def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics funnel with a CONVERSION WINDOW: step k
    counts only if it happens after step k-1 AND within FUNNEL_GAP_US of
    it — the definition every funnel dashboard actually uses (unbounded
    funnels overcount stale conversions). Same single-shuffle chain as
    events_funnel (conditional-min aggs joined on user_id); the output
    is the 3-row funnel report with exact integer step-to-step
    conversion ratios (step 1 reports the -1 sentinel, the repo's
    unreached/undefined convention — never NULL in a gated terminal)."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", F.expr("unix_micros(ts)").cast("bigint").alias("us")
    )
    s1 = (
        base.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        base.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter((F.col("us") > F.col("t1")) & (F.col("us") <= F.col("t1") + FUNNEL_GAP_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        base.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter((F.col("us") > F.col("t2")) & (F.col("us") <= F.col("t2") + FUNNEL_GAP_US))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    counts = (
        s1.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
        .crossJoin(F.broadcast(s2.agg(F.count(F.lit(1)).cast("bigint").alias("n2"))))
        .crossJoin(F.broadcast(s3.agg(F.count(F.lit(1)).cast("bigint").alias("n3"))))
    )
    return counts.select(
        F.explode(
            F.expr(
                f"array("
                f"struct(1 AS step, '{FUNNEL_STEPS[0]}' AS event_type, n1 AS n_users, CAST(-1.0 AS DOUBLE) AS conv_from_prev),"
                f"struct(2 AS step, '{FUNNEL_STEPS[1]}' AS event_type, n2 AS n_users, CASE WHEN n1 = 0 THEN CAST(-1.0 AS DOUBLE) ELSE CAST(n2 AS DOUBLE) / n1 END AS conv_from_prev),"
                f"struct(3 AS step, '{FUNNEL_STEPS[2]}' AS event_type, n3 AS n_users, CASE WHEN n2 = 0 THEN CAST(-1.0 AS DOUBLE) ELSE CAST(n3 AS DOUBLE) / n2 END AS conv_from_prev))"
            )
        ).alias("r")
    ).select("r.step", "r.event_type", "r.n_users", "r.conv_from_prev")


EVENTS_FUNNEL_WINDOWED_SQL = f"""
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts) AS us
  FROM events
),
s1 AS (
  SELECT user_id, MIN(us) AS t1 FROM base
  WHERE event_type = '{{s0}}' GROUP BY user_id
),
s2 AS (
  SELECT b.user_id, MIN(us) AS t2 FROM base b JOIN s1 USING (user_id)
  WHERE b.event_type = '{{s1}}' AND b.us > t1 AND b.us <= t1 + {FUNNEL_GAP_US}
  GROUP BY b.user_id
),
s3 AS (
  SELECT b.user_id, MIN(us) AS t3 FROM base b JOIN s2 USING (user_id)
  WHERE b.event_type = '{{s2}}' AND b.us > t2 AND b.us <= t2 + {FUNNEL_GAP_US}
  GROUP BY b.user_id
),
c AS (
  SELECT (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2,
         (SELECT COUNT(*) FROM s3) AS n3
)
SELECT 1 AS step, '{{s0}}' AS event_type, CAST(n1 AS BIGINT) AS n_users,
       CAST(-1.0 AS DOUBLE) AS conv_from_prev FROM c
UNION ALL
SELECT 2, '{{s1}}', CAST(n2 AS BIGINT), CASE WHEN n1 = 0 THEN -1.0 ELSE CAST(n2 AS DOUBLE) / n1 END FROM c
UNION ALL
SELECT 3, '{{s2}}', CAST(n3 AS BIGINT), CASE WHEN n2 = 0 THEN -1.0 ELSE CAST(n3 AS DOUBLE) / n2 END FROM c
"""
EVENTS_FUNNEL_WINDOWED_SQL = EVENTS_FUNNEL_WINDOWED_SQL.format(
    s0=FUNNEL_STEPS[0], s1=FUNNEL_STEPS[1], s2=FUNNEL_STEPS[2]
)


# ---------------------------------------------------------------------------
# incremental_agg_update — incremental view maintenance by partial-agg merge
# ---------------------------------------------------------------------------

IVM_CUTOFF = "1997-01-01"


def incremental_agg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, the lakehouse way: the pricing
    rollup is maintained as BASE (shipped before IVM_CUTOFF) merged with
    DELTA (shipped on/after) using the partial-aggregate algebra —
    sums add, counts add, min/max combine — instead of a full recompute.
    The output carries both the merged and the recomputed values with a
    `consistent` flag per group, so the op IS its own audit. At 100 TB
    the delta is a partition-pruned scan (PushedFilters on the date) and
    the merge is a tiny agg-state join — the full-recompute column here
    exists only to prove the algebra."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)")

    def rollup(df):
        return df.groupBy("l_returnflag").agg(
            F.sum(cents).alias("rev_c"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max(cents).alias("mx"),
        )

    base = rollup(li.where(F.col("l_shipdate") < IVM_CUTOFF))
    delta = rollup(li.where(F.col("l_shipdate") >= IVM_CUTOFF))
    merged = (
        base.select(
            "l_returnflag",
            F.col("rev_c").alias("b_rev"),
            F.col("n").alias("b_n"),
            F.col("mx").alias("b_mx"),
        )
        .join(
            delta.select(
                "l_returnflag",
                F.col("rev_c").alias("d_rev"),
                F.col("n").alias("d_n"),
                F.col("mx").alias("d_mx"),
            ),
            "l_returnflag",
            "full_outer",
        )
        .select(
            "l_returnflag",
            (F.coalesce("b_rev", F.lit(0)) + F.coalesce("d_rev", F.lit(0))).alias(
                "merged_rev_c"
            ),
            (F.coalesce("b_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias(
                "merged_n"
            ),
            F.greatest(
                F.coalesce("b_mx", F.lit(-1)), F.coalesce("d_mx", F.lit(-1))
            ).alias("merged_mx"),
        )
    )
    full = rollup(li).select(
        "l_returnflag",
        F.col("rev_c").alias("full_rev_c"),
        F.col("n").alias("full_n"),
        F.col("mx").alias("full_mx"),
    )
    return merged.join(full, "l_returnflag").select(
        "l_returnflag",
        "merged_rev_c",
        "merged_n",
        "merged_mx",
        (
            (F.col("merged_rev_c") == F.col("full_rev_c"))
            & (F.col("merged_n") == F.col("full_n"))
            & (F.col("merged_mx") == F.col("full_mx"))
        ).alias("consistent"),
    )


INCREMENTAL_AGG_UPDATE_SQL = f"""
WITH li AS (
  SELECT l_returnflag, l_shipdate,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS c
  FROM lineitem
),
base AS (
  SELECT l_returnflag, SUM(c) AS rev_c, CAST(COUNT(*) AS BIGINT) AS n, MAX(c) AS mx
  FROM li WHERE l_shipdate < TIMESTAMP '{IVM_CUTOFF}' GROUP BY 1
),
delta AS (
  SELECT l_returnflag, SUM(c) AS rev_c, CAST(COUNT(*) AS BIGINT) AS n, MAX(c) AS mx
  FROM li WHERE l_shipdate >= TIMESTAMP '{IVM_CUTOFF}' GROUP BY 1
),
merged AS (
  SELECT COALESCE(b.l_returnflag, d.l_returnflag) AS l_returnflag,
         CAST(COALESCE(b.rev_c, 0) + COALESCE(d.rev_c, 0) AS BIGINT) AS merged_rev_c,
         COALESCE(b.n, 0) + COALESCE(d.n, 0) AS merged_n,
         GREATEST(COALESCE(b.mx, -1), COALESCE(d.mx, -1)) AS merged_mx
  FROM base b FULL OUTER JOIN delta d ON b.l_returnflag = d.l_returnflag
),
fullr AS (
  SELECT l_returnflag, SUM(c) AS full_rev_c, CAST(COUNT(*) AS BIGINT) AS full_n,
         MAX(c) AS full_mx
  FROM li GROUP BY 1
)
SELECT m.l_returnflag, merged_rev_c, merged_n, merged_mx,
       (merged_rev_c = full_rev_c AND merged_n = full_n AND merged_mx = full_mx)
         AS consistent
FROM merged m JOIN fullr f ON m.l_returnflag = f.l_returnflag
"""


# ---------------------------------------------------------------------------
# zonemap_prune_report — data-skipping (zone map) effectiveness audit
# ---------------------------------------------------------------------------

ZONEMAP_FILES = 64
ZONEMAP_PRED_FROM = "1996-01-01"
ZONEMAP_PRED_TO = "1996-12-31"


def zonemap_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (per-file min/max) data skipping, simulated and audited:
    lineitem is assigned to ZONEMAP_FILES synthetic files by orderkey
    range (the natural ingest order), each file records its shipdate
    min/max, and a one-year predicate is tested against the maps. The
    report counts prunable files and the row fraction actually scanned —
    the number that says whether the table's sort/cluster order serves
    the workload (orderkey order correlates weakly with shipdate, so
    skipping is poor: the motivation for z-order re-clustering,
    raster_zorder_index's subject). One groupBy + a 1-row summary."""
    li = load(spark, sf_dir, "lineitem")
    mk = li.agg(F.max("l_orderkey").alias("mk"))
    files = (
        li.crossJoin(F.broadcast(mk))
        .select(
            F.expr(f"CAST(l_orderkey * {ZONEMAP_FILES} div (mk + 1) AS INT)").alias(
                "file_id"
            ),
            "l_shipdate",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_shipdate").alias("mn"),
            F.max("l_shipdate").alias("mx"),
        )
    )
    hit = (F.col("mx") >= ZONEMAP_PRED_FROM) & (F.col("mn") <= ZONEMAP_PRED_TO)
    return files.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.when(hit, 0).otherwise(1)).cast("bigint").alias("files_pruned"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned"),
        F.sum("n_rows").cast("bigint").alias("rows_total"),
        (
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("double")
            / F.sum("n_rows")
        ).alias("scan_fraction"),
    )


ZONEMAP_PRUNE_REPORT_SQL = f"""
WITH mk AS (SELECT MAX(l_orderkey) AS mk FROM lineitem),
files AS (
  SELECT CAST(l_orderkey * {ZONEMAP_FILES} // (mk + 1) AS INTEGER) AS file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx
  FROM lineitem, mk
  GROUP BY 1
),
f AS (
  SELECT *, (mx >= TIMESTAMP '{ZONEMAP_PRED_FROM}'
             AND mn <= TIMESTAMP '{ZONEMAP_PRED_TO}') AS hit
  FROM files
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS files_pruned,
       CAST(SUM(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN hit THEN n_rows ELSE 0 END) AS DOUBLE) / SUM(n_rows)
         AS scan_fraction
FROM f
"""


# ---------------------------------------------------------------------------
# user_activity_streaks — gaps-and-islands consecutive-day streaks
# ---------------------------------------------------------------------------


def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the gaps-and-islands
    shape: distinct active days, then the island key day − row_number()
    (constant within a consecutive run, strictly decreasing across
    gaps), one groupBy per island, one per user. Two shuffles total,
    both on user_id-prefixed keys, so at scale the second and third agg
    reuse the first exchange's partitioning. All integers (epoch
    days)."""
    ev = load(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("grp"),
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.max("day").alias("last_day"),
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.max("last_day").alias("last_active_day"),
    )


USER_ACTIVITY_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len, MAX(day) AS last_day
  FROM islands GROUP BY 1, 2
)
SELECT user_id, MAX(len) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       MAX(last_day) AS last_active_day
FROM streaks
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# item_item_similarity — collaborative-filtering item-item cosine top-k
# ---------------------------------------------------------------------------

II_TOP_K = 5
II_MIN_CO = 2


def item_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: cosine
    similarity between parts as binary basket vectors —
    sim(a,b) = co(a,b) / sqrt(n_a · n_b) — top-k neighbors per part.
    Same DF-capped pair generation as basket_lift_pairs (a cap-C basket
    emits at most C(C,2) pairs regardless of corpus size); the cosine is
    ROUND(co / sqrt(n_a·n_b), 6) where the sqrt argument is an exact
    integer product, so the double is engine-identical. This is THE
    batch-precompute behind 'customers also bought' at any scale."""
    op = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    ok = op.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("nb")).filter(
        F.col("nb") <= BASKET_CAP
    )
    op_c = op.join(ok.select("l_orderkey"), "l_orderkey", "left_semi").persist()
    marg = op_c.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_p"))
    a = op_c.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = op_c.select(F.col("l_orderkey").alias("o2"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, (F.col("l_orderkey") == F.col("o2")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= II_MIN_CO)
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("pb").alias("pa"), F.col("pa").alias("pb"), "co"
        )
    )
    j = (
        sym.join(marg.select(F.col("l_partkey").alias("pa"), F.col("n_p").alias("n_a")), "pa")
        .join(marg.select(F.col("l_partkey").alias("pb"), F.col("n_p").alias("n_b")), "pb")
        .select(
            "pa",
            "pb",
            "co",
            F.round(
                F.col("co") / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.desc("cosine"), F.asc("pb"))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= II_TOP_K)
        .select(
            F.col("pa").alias("part"),
            F.col("pb").alias("neighbor"),
            "co",
            "cosine",
            "rank",
        )
    )


ITEM_ITEM_SIMILARITY_SQL = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ok AS (
  SELECT l_orderkey FROM op GROUP BY l_orderkey HAVING COUNT(*) <= {BASKET_CAP}
),
op_c AS (SELECT op.* FROM op SEMI JOIN ok ON op.l_orderkey = ok.l_orderkey),
marg AS (SELECT l_partkey, COUNT(*) AS n_p FROM op_c GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(COUNT(*) AS BIGINT) AS co
  FROM op_c a JOIN op_c b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {II_MIN_CO}
),
sym AS (
  SELECT pa, pb, co FROM pairs
  UNION ALL SELECT pb, pa, co FROM pairs
),
j AS (
  SELECT s.pa, s.pb, s.co,
         ROUND(s.co / sqrt(CAST(ma.n_p * mb.n_p AS DOUBLE)), 6) AS cosine
  FROM sym s
  JOIN marg ma ON s.pa = ma.l_partkey
  JOIN marg mb ON s.pb = mb.l_partkey
)
SELECT pa AS part, pb AS neighbor, co, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY pa ORDER BY cosine DESC, pb) AS INTEGER) AS rank
FROM j
QUALIFY rank <= {II_TOP_K}
"""


# ---------------------------------------------------------------------------
# layout_advisor_report — candidate sort/cluster layouts scored by skipping
# ---------------------------------------------------------------------------


def _zorder10_sql(a: str, b: str, div_op: str = "div") -> str:
    """Bit-interleave two 10-bit bucket expressions (Morton/Z-order).
    Each bit is extracted with integer division + mod and placed with a
    multiply-by-power-of-two constant — plain arithmetic with no
    shift/AND precedence surprises (DuckDB parses `x & 1 << n` as
    `x & (1 << n)`). ``div_op`` selects the engine's integer-division
    token (Spark `div`, DuckDB `//`); operands are non-negative so the
    two agree."""
    terms = []
    for i in range(10):
        terms.append(f"((({a}) {div_op} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({b}) {div_op} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


LAYOUT_EXACT_MAX_ROWS = 10_000_000  # sf1 stays exact; sf10+ delegates


def layout_advisor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which physical layout serves the workload: the zone-map skipping
    audit (zonemap_prune_report) evaluated over THREE candidate orders —
    natural ingest (orderkey), shipdate-sorted, and a Morton/Z-order
    interleave of (day, orderkey) buckets — against the same one-year
    predicate. The report ranks layouts by true scan fraction, the
    number a table-maintenance job acts on. Z-ordering serves BOTH the
    date predicate and key lookups — the classic multi-dimensional
    compromise this report quantifies.

    Scale shape: the exact global rank each layout needs is computed
    WITHOUT a global sort. Every layout key has a known integer domain,
    so rank = (rows in lower histogram buckets) + (rank within my
    bucket): one tiny 1024-bucket count aggregate (broadcast back as
    offsets) plus a per-bucket window — all 1024 partitions sort in
    parallel. Because the bucket id is monotone in the key and the sort
    key (key, l_orderkey, l_linenumber) is a TOTAL order, the ranks —
    and therefore every file boundary — are bit-identical to the
    single-partition ROW_NUMBER the SQL twin runs.

    Above LAYOUT_EXACT_MAX_ROWS fact rows (parquet-footer count, no
    job) the exact variant DELEGATES to layout_advisor_sampled — the
    recurring-maintenance shape (VERDICT r6 perf: 116 s vs 26.7 s at
    sf10, identical layout ranking, scan_fraction within one
    file-width, test-pinned). The exact three-pass rank stays the
    small-table / one-off-audit path."""
    from gdalos_spark.datamodel import footer_count

    if footer_count(sf_dir, "lineitem") > LAYOUT_EXACT_MAX_ROWS:
        return layout_advisor_sampled(spark, sf_dir)
    # l_shipdate scans as TIMESTAMP_NTZ — day arithmetic must be
    # zone-free DATE math (the events.ts lesson, datamodel.epoch_micros)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')"
        ).cast("bigint").alias("day"),
    )
    mk = li.agg(
        F.max("l_orderkey").alias("mk"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    # Round-13, measured and REJECTED (guide §1.1): persisting `base` for
    # its six consumers (2 per layout) was a wash at the sf10 upscale —
    # warm min-of-3 12.1 s unpersisted vs 11.4 s persisted (host band),
    # cold 19.9 vs 16.5 — because the scan + bucket arithmetic is cheap
    # next to the three per-layout in-bucket rank window sorts that ARE
    # the exact-rank contract. Left unpersisted so the 100 TB path never
    # materializes a fact-wide cache for a ~0 gain.
    base = li.crossJoin(F.broadcast(mk)).select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "mk",
        F.expr("CAST((day - d0) * 1023 div (d1 - d0 + 1) AS BIGINT)").alias("db"),
        F.expr("CAST(l_orderkey * 1023 div (mk + 1) AS BIGINT)").alias("kb"),
    )
    # (key expression, bucket-domain size) per layout: db/kb are 10-bit,
    # so the composed keys have static domains; the natural key's domain
    # is the broadcast max orderkey
    rank_buckets = 1024
    layouts = {
        "natural_orderkey": (F.expr("l_orderkey"), F.expr("mk + 1")),
        "shipdate_sorted": (F.expr("db * 2048 + kb"), F.lit(1023 * 2048 + 1024)),
        "zorder_day_key": (F.expr(_zorder10_sql("db", "kb")), F.lit(1 << 20)),
    }
    reports = []
    for name, (key, domain) in layouts.items():
        # (l_orderkey, l_linenumber) is the lineitem PK — the trailing
        # tiebreakers make the sort a TOTAL order, so file boundaries are
        # bit-for-bit deterministic across engines and partitionings
        keyed = base.select(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            key.alias("k"),
            (key * rank_buckets / domain).cast("bigint").alias("bk"),
        )
        counts = keyed.groupBy("bk").agg(F.count(F.lit(1)).alias("c"))
        # <= 1024 rows: the cumulative offsets and the grand total are a
        # tiny window over the histogram, broadcast back to the fact
        offs = counts.select(
            "bk",
            F.coalesce(
                F.sum("c").over(
                    Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("off"),
            F.sum("c").over(Window.partitionBy()).alias("n"),
        )
        wloc = Window.partitionBy("bk").orderBy("k", "l_orderkey", "l_linenumber")
        files = (
            keyed.join(F.broadcast(offs), "bk")
            .select(
                "l_shipdate",
                (F.col("off") + F.row_number().over(wloc)).alias("rn"),
                "n",
            )
            .select(
                F.expr(f"CAST((rn - 1) * {ZONEMAP_FILES} div n AS INT)").alias(
                    "file_id"
                ),
                "l_shipdate",
            )
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.min("l_shipdate").alias("mn"),
                F.max("l_shipdate").alias("mx"),
            )
        )
        hit = (F.col("mx") >= ZONEMAP_PRED_FROM) & (F.col("mn") <= ZONEMAP_PRED_TO)
        reports.append(
            files.agg(
                F.lit(name).alias("layout"),
                F.count(F.lit(1)).cast("bigint").alias("n_files"),
                F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("files_scanned"),
                (
                    F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("double")
                    / F.sum("n_rows")
                ).alias("scan_fraction"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _layout_sql() -> str:
    z = _zorder10_sql("db", "kb", div_op="//")
    blocks = []
    for name, key in (
        ("natural_orderkey", "l_orderkey"),
        ("shipdate_sorted", "db * 2048 + kb"),
        ("zorder_day_key", z),
    ):
        blocks.append(f"""
SELECT '{name}' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(SUM(CASE WHEN hit THEN n_rows ELSE 0 END) AS DOUBLE) / SUM(n_rows)
         AS scan_fraction
FROM (
  SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         (MAX(l_shipdate) >= TIMESTAMP '{ZONEMAP_PRED_FROM}'
          AND MIN(l_shipdate) <= TIMESTAMP '{ZONEMAP_PRED_TO}') AS hit
  FROM (
    SELECT l_shipdate,
           CAST((ROW_NUMBER() OVER (ORDER BY {key}, l_orderkey, l_linenumber) - 1)
                * {ZONEMAP_FILES} // COUNT(*) OVER () AS INTEGER) AS file_id
    FROM base
  )
  GROUP BY file_id
)""")
    union = " UNION ALL ".join(blocks)
    return f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_shipdate,
         CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day
  FROM lineitem
),
mk AS (SELECT MAX(l_orderkey) AS mk, MIN(day) AS d0, MAX(day) AS d1 FROM li),
base AS (
  SELECT l_orderkey, l_linenumber, l_shipdate,
         CAST((day - d0) * 1023 // (d1 - d0 + 1) AS BIGINT) AS db,
         CAST(l_orderkey * 1023 // (mk + 1) AS BIGINT) AS kb
  FROM li, mk
)
{union}
"""


LAYOUT_ADVISOR_REPORT_SQL = _layout_sql()


# ---------------------------------------------------------------------------
# layout_advisor_sampled — the SCALE path of the layout advisor: sampled
# file boundaries + ONE pass over the fact, instead of three exact
# ranked passes (VERDICT r5 flagged the exact variant as weak for a
# recurring job at sf10+).
# ---------------------------------------------------------------------------

LAYOUT_SAMPLE_MOD = 64  # ~1/64 deterministic sample; scale with the fact
                        # so the sample stays executor-bounded at 100 TB


def layout_advisor_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """layout_advisor_report with SAMPLED file boundaries — the shape a
    recurring table-maintenance job runs at 100 TB:

    * a deterministic md5-hash sample (pk-hash % LAYOUT_SAMPLE_MOD == 0
      — portable, so the twin SQL reproduces it bit-for-bit; no rand())
      estimates the ZONEMAP_FILES-quantile boundaries. Sorting the sample
      on one partition is the standard boundary-estimation shape —
      Spark's own RangePartitioner does exactly this with a collected
      sample — and the sample size is mod-controlled, not fact-sized;
    * ONE pass over the fact assigns each row its file for ALL THREE
      layouts at once (broadcast boundary arrays + a size/filter fold),
      exploding to narrow (layout, file_id, shipdate) rows — a single
      shuffle of 3n skinny rows replaces three full ranked window
      passes. No global sort of the fact, per-layout or otherwise.

    Output schema matches the exact advisor, so consumers can diff the
    two; boundary sampling error only moves rows between ADJACENT files,
    so scan_fraction stays within a file-width of the exact report
    (test-pinned). Deterministic sampling keeps the key fully
    oracle-gated — stronger than the t-digest-style "document the
    approximation" fallback."""
    from gdalos_spark.functions import hashing
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.expr(
            "datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')"
        ).cast("bigint").alias("day"),
    )
    mk = li.agg(
        F.max("l_orderkey").alias("mk"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    zexpr = _zorder10_sql("db", "kb")
    keyed = (
        li.crossJoin(F.broadcast(mk))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            F.expr("CAST((day - d0) * 1023 div (d1 - d0 + 1) AS BIGINT)").alias("db"),
            F.expr("CAST(l_orderkey * 1023 div (mk + 1) AS BIGINT)").alias("kb"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            F.col("l_orderkey").alias("k_nat"),
            F.expr("db * 2048 + kb").alias("k_ship"),
            F.expr(zexpr).alias("k_z"),
            (
                hashing.hash_base(
                    F.concat_ws("-", "l_orderkey", "l_linenumber")
                ) % LAYOUT_SAMPLE_MOD
                == 0
            ).alias("in_sample"),
        )
    )
    sample = keyed.filter("in_sample").persist()
    from gdalos_spark.datamodel import register_query_caches

    register_query_caches(sample)

    def boundaries(col: str) -> DataFrame:
        w = Window.orderBy(col, "l_orderkey", "l_linenumber")
        s = sample.select(
            F.col(col).alias("k"),
            (F.row_number().over(w) - 1).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("ns"),
        )
        return (
            s.select("k", F.expr(f"rn * {ZONEMAP_FILES} div ns").alias("f"))
            .filter("f > 0")
            .groupBy("f")
            .agg(F.min("k").alias("b"))
            .agg(F.array_sort(F.collect_list("b")).alias(f"barr_{col}"))
        )

    barrs = (
        boundaries("k_nat")
        .crossJoin(boundaries("k_ship"))
        .crossJoin(boundaries("k_z"))
    )
    stack = F.array(
        *[
            F.struct(
                F.lit(name).alias("layout"),
                F.expr(f"size(filter(barr_{c}, x -> x <= {c}))")
                .cast("int")
                .alias("file_id"),
            )
            for name, c in (
                ("natural_orderkey", "k_nat"),
                ("shipdate_sorted", "k_ship"),
                ("zorder_day_key", "k_z"),
            )
        ]
    )
    files = (
        keyed.crossJoin(F.broadcast(barrs))
        .select("l_shipdate", F.explode(stack).alias("lf"))
        .select("lf.layout", "lf.file_id", "l_shipdate")
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("l_shipdate").alias("mn"),
            F.max("l_shipdate").alias("mx"),
        )
    )
    hit = (F.col("mx") >= ZONEMAP_PRED_FROM) & (F.col("mn") <= ZONEMAP_PRED_TO)
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("files_scanned"),
            (
                F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("double")
                / F.sum("n_rows")
            ).alias("scan_fraction"),
        )
        .orderBy("layout")
    )


def _layout_sampled_sql() -> str:
    from gdalos_spark.functions.hashing import hash_base_sql

    z = _zorder10_sql("db", "kb", div_op="//")
    h = hash_base_sql(
        "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"
    )
    blocks = []
    for name, key in (
        ("natural_orderkey", "k_nat"),
        ("shipdate_sorted", "k_ship"),
        ("zorder_day_key", "k_z"),
    ):
        blocks.append(f"""
SELECT '{name}' AS layout, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
       CAST(SUM(CASE WHEN hit THEN n_rows ELSE 0 END) AS DOUBLE) / SUM(n_rows)
         AS scan_fraction
FROM (
  SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
         (MAX(l_shipdate) >= TIMESTAMP '{ZONEMAP_PRED_FROM}'
          AND MIN(l_shipdate) <= TIMESTAMP '{ZONEMAP_PRED_TO}') AS hit
  FROM (
    SELECT k.l_shipdate,
           len(list_filter(b.arr_{name}, x -> x <= k.{key})) AS file_id
    FROM keyed k, barrs b
  )
  GROUP BY file_id
)""")
    bnd_ctes = []
    for name, key in (
        ("natural_orderkey", "k_nat"),
        ("shipdate_sorted", "k_ship"),
        ("zorder_day_key", "k_z"),
    ):
        bnd_ctes.append(f"""
bnd_{name} AS (
  SELECT MIN(k) AS b, (rn * {ZONEMAP_FILES} // ns) AS f
  FROM (
    SELECT {key} AS k,
           ROW_NUMBER() OVER (ORDER BY {key}, l_orderkey, l_linenumber) - 1 AS rn,
           COUNT(*) OVER () AS ns
    FROM keyed WHERE in_sample
  )
  GROUP BY f HAVING f > 0
)""")
    arr_sel = ",\n       ".join(
        f"(SELECT list(b ORDER BY b) FROM bnd_{n}) AS arr_{n}"
        for n in ("natural_orderkey", "shipdate_sorted", "zorder_day_key")
    )
    union = " UNION ALL ".join(blocks)
    return f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_shipdate,
         CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS day
  FROM lineitem
),
mk AS (SELECT MAX(l_orderkey) AS mk, MIN(day) AS d0, MAX(day) AS d1 FROM li),
pre AS (
  SELECT l_orderkey, l_linenumber, l_shipdate,
         CAST((day - d0) * 1023 // (d1 - d0 + 1) AS BIGINT) AS db,
         CAST(l_orderkey * 1023 // (mk + 1) AS BIGINT) AS kb
  FROM li, mk
),
keyed AS (
  SELECT l_orderkey, l_linenumber, l_shipdate,
         l_orderkey AS k_nat,
         db * 2048 + kb AS k_ship,
         {z} AS k_z,
         ({h}) % {LAYOUT_SAMPLE_MOD} = 0 AS in_sample
  FROM pre
),
{",".join(bnd_ctes)},
barrs AS (SELECT {arr_sel})
SELECT * FROM ({union}) ORDER BY layout
"""


LAYOUT_ADVISOR_SAMPLED_SQL = _layout_sampled_sql()


# the oracle delegates at the SAME footer-row threshold as the engine
# key, so queries()/oracle_sql() agree at EVERY scale, not just the
# certification SFs — the WHERE gates are scalar, so DuckDB evaluates
# only the selected branch's aggregates over matching rows
LAYOUT_ADVISOR_REPORT_SQL = f"""
WITH nrows AS (SELECT COUNT(*) AS c FROM lineitem)
SELECT * FROM ({LAYOUT_ADVISOR_REPORT_SQL}) exact_side
WHERE (SELECT c FROM nrows) <= {LAYOUT_EXACT_MAX_ROWS}
UNION ALL
SELECT * FROM ({LAYOUT_ADVISOR_SAMPLED_SQL}) sampled_side
WHERE (SELECT c FROM nrows) > {LAYOUT_EXACT_MAX_ROWS}
"""


# ---------------------------------------------------------------------------
# markov_stationary — stationary distribution of the behavior chain
#    (the fixpoint the transition matrix exists for: long-run fraction
#     of time in each state; same integer-micro-unit power-iteration
#     discipline as the exact PageRank in graph.py — engine float sums
#     never touch the iterate)
# ---------------------------------------------------------------------------

MARKOV_POWER_ROUNDS = 20
_MK_MICRO = 1_000_000


def markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type chain by
    MARKOV_POWER_ROUNDS integer power iterations: pi'[b] = sum_a
    (pi[a] * n[a,b]) div rowsum[a], every term floored in micro-units —
    deterministic and order-free (integer adds), identical in the
    unrolled-CTE oracle. The '_START' pseudo-state is excluded (the
    chain runs over real events). Each round is one broadcast-sized
    join + one groupBy over the k x k count matrix: at a 10^6-state
    chain (page graphs) the SAME plan shape runs distributed, which is
    why the iterate is a DataFrame loop and not a driver-side matrix.
    Floor-dropped mass (< k micro per round) is the documented
    contract, not renormalized."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stream = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = (
        stream.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "row_total", F.sum("n").over(Window.partitionBy("from_type"))
        )
        .localCheckpoint()
    )
    k = counts.select("from_type").distinct().count()
    pi = (
        counts.select(F.col("from_type").alias("state"))
        .distinct()
        .select("state", F.lit(_MK_MICRO // k).cast("bigint").alias("micro"))
        .localCheckpoint()
    )
    for _ in range(MARKOV_POWER_ROUNDS):
        pi = (
            counts.join(pi, counts.from_type == pi.state)
            .select(
                F.col("to_type").alias("state"),
                F.expr("(micro * n) div row_total").alias("term"),
            )
            .groupBy("state")
            .agg(F.sum("term").cast("bigint").alias("micro"))
            .localCheckpoint()
        )
    return pi.select(
        "state",
        F.col("micro").alias("pi_micro"),
        (F.col("micro").cast("double") / F.lit(float(_MK_MICRO))).alias("pi"),
    ).orderBy("state")


def _markov_stationary_sql() -> str:
    rounds = []
    prev = "pi0"
    for r in range(1, MARKOV_POWER_ROUNDS + 1):
        cur = f"pi{r}"
        rounds.append(
            f"""{cur} AS MATERIALIZED (
  SELECT c.to_type AS state,
         CAST(SUM((p.micro * c.n) // c.row_total) AS BIGINT) AS micro
  FROM counts c JOIN {prev} p ON p.state = c.from_type
  GROUP BY 1
)"""
        )
        prev = cur
    body = ",\n".join(rounds)
    return f"""
WITH stream AS (
  SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
counts AS MATERIALIZED (
  SELECT from_type, to_type, COUNT(*) AS n,
         SUM(COUNT(*)) OVER (PARTITION BY from_type) AS row_total
  FROM stream WHERE from_type IS NOT NULL GROUP BY 1, 2
),
k AS (SELECT COUNT(DISTINCT from_type) AS k FROM counts),
pi0 AS MATERIALIZED (
  SELECT DISTINCT from_type AS state,
         CAST({_MK_MICRO} // (SELECT k FROM k) AS BIGINT) AS micro
  FROM counts
),
{body}
SELECT state,
       micro AS pi_micro,
       CAST(micro AS DOUBLE) / {float(_MK_MICRO)!r}e0 AS pi
FROM {prev}
ORDER BY state
"""


MARKOV_STATIONARY_SQL = _markov_stationary_sql()
