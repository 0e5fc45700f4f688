"""Physical-plan assertions: the 100-TB design claims, executable.

Each test pins a scale-critical property of an operator's plan so a
regression fails here instead of melting a cluster: broadcasts stay
broadcasts, filters reach the scan, candidate generation never degrades
to a cartesian product, top-k uses WindowGroupLimit's partial limit."""

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from gdalos_spark.datamodel import load
from gdalos_spark.plans.asserts import (
    assert_broadcast_join,
    assert_in_plan,
    assert_no_cartesian,
    assert_not_in_plan,
    assert_pushed_filter,
    assert_whole_stage_codegen,
    explain_str,
)
from gdalos_spark.session import scoped_conf
from tests.conftest import SF_DIR

# 64 KiB scan splits: a many-file input plans one scan task per file
SMALL_SPLITS = {
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.files.openCostInBytes": "65536",
}


def q(spark, key):
    return entrymod.queries()[key](spark, SF_DIR)


def test_pricing_summary_pushes_shipdate(spark):
    assert_pushed_filter(q(spark, "pricing_summary"), "l_shipdate")


def test_scan_prunes_columns(spark):
    """Column pruning: a 2-column projection must not read all 16
    lineitem columns."""
    df = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    plan = assert_in_plan(df, "ReadSchema")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_shipdate" not in read_schema


def test_region_volume_broadcasts_dims(spark):
    plan = assert_broadcast_join(q(spark, "region_volume"))
    assert_no_cartesian(q(spark, "region_volume"))


def test_top_orders_broadcasts(spark):
    assert_broadcast_join(q(spark, "top_orders"))


def test_pixel_lookup_broadcast_build_side_is_points(spark):
    """The round-1 bug: a broadcast hint on the preserved side of an
    outer join silently degrades to a full shuffle. The fixed plan must
    contain a BroadcastHashJoin (points as build side) and no sort-merge
    join of the raster."""
    plan = assert_broadcast_join(q(spark, "pixel_lookup"))
    assert "SortMergeJoin" not in plan


def test_dedup_candidates_never_cartesian(spark):
    for key in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
                "dedup_embedding_cosine"):
        assert_no_cartesian(q(spark, key))
        assert_not_in_plan(q(spark, key), "BroadcastNestedLoopJoin")


def test_ann_topk_uses_window_group_limit(spark):
    assert_in_plan(q(spark, "ann_cosine_topk"), "WindowGroupLimit")


@pytest.mark.slow
def test_no_python_udfs_in_sql_operators(spark):
    """Every oracle-checked operator stays JVM-side: no BatchEvalPython
    (row UDF) or ArrowEvalPython stages anywhere."""
    for key in entrymod.oracle_sql():
        if key == "streaming_event_counts":
            continue  # materialized via a streaming query, not a lazy plan
        assert_not_in_plan(q(spark, key), "BatchEvalPython", "ArrowEvalPython")


def test_whole_stage_codegen_covers_pricing_summary(spark):
    # AQE defers codegen planning to execution; disable it to inspect
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        assert_whole_stage_codegen(q(spark, "pricing_summary"))


def test_hillshade_stencil_is_single_pass(spark):
    # fused stencil: ONE dem derivation feeding a broadcast 9-row offset
    # expansion + one groupBy — no join back, no 8 self-joins (formatted
    # explain mentions each scan twice: tree node + detail)
    plan = assert_in_plan(q(spark, "raster_hillshade"), "BroadcastNestedLoopJoin")
    assert plan.count("Scan parquet") <= 2
    assert "CartesianProduct" not in plan


def test_corpus_filter_single_fused_plan(spark):
    assert_no_cartesian(q(spark, "corpus_filter"))
    assert_not_in_plan(q(spark, "corpus_filter"), "BatchEvalPython", "ArrowEvalPython")


def test_salted_agg_two_phase(spark):
    from gdalos_spark.plans.asserts import explain_str

    plan = explain_str(q(spark, "skewed_agg_salted"))
    # two distinct hash aggregations: (user_id, salt) then (user_id)
    assert plan.count("HashAggregate") >= 4  # partial+final per phase


def test_gdaldem_stencils_are_broadcast_joins(spark):
    for key in ("raster_slope_percent", "raster_terrain_ruggedness"):
        # fused single-pass stencil: broadcast 9-row offset expansion only,
        # one dem derivation, NOT a cartesian shuffle or 8 self-joins
        plan = assert_in_plan(q(spark, key), "BroadcastNestedLoopJoin")
        assert plan.count("Scan parquet") <= 2
        assert "CartesianProduct" not in plan


def test_order_priority_is_semi_join(spark):
    plan = assert_in_plan(q(spark, "order_priority_counts"), "LeftSemi")
    assert "CartesianProduct" not in plan


def test_large_orders_broadcasts_having_set(spark):
    """Q18 shape: the HAVING-filtered key set must broadcast so the
    orders scan never shuffles for the join back."""
    plan = assert_in_plan(q(spark, "large_orders"), "BroadcastHashJoin")
    assert "SortMergeJoin" not in plan


def test_promo_revenue_broadcasts_part(spark):
    plan = assert_in_plan(q(spark, "promo_revenue"), "BroadcastHashJoin")
    assert "CartesianProduct" not in plan


def test_line_dedup_is_equi_join_on_hash(spark):
    """Segment dedup must join on the md5 key — never a cartesian, and
    no long-string shuffle keys."""
    plan = assert_in_plan(q(spark, "dedup_lines"), "Join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rarity_df_join_is_equi(spark):
    plan = assert_in_plan(q(spark, "text_rarity_score"), "Join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantize_has_no_shuffle(spark):
    """Per-row array math: the int8 quantization plan must contain no
    exchange at all."""
    plan = q(spark, "embedding_quantize_int8")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_calc_multi_single_shuffle(spark):
    """k-raster lettered calc: the union of k letter inputs must reduce
    through exactly ONE hash exchange (no per-raster pre-aggregation
    shuffles, no joins), regardless of k."""
    import re

    from gdalos_spark.plans.asserts import explain_str

    df = q(spark, "raster_calc_multi")
    plan = explain_str(df, "simple")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Union" in plan


def test_geo_distance_no_shuffle_small_pushdown(spark):
    """Polynomial haversine is a pure projection chain: zero exchanges,
    and the endpoint-coincidence filter (not the collapsed multi-KB
    haversine expression) is what reaches the scan's data filter."""
    from gdalos_spark.plans.asserts import explain_str

    df = q(spark, "geo_distance")
    plan = explain_str(df, "simple")
    assert "Exchange" not in plan
    scan = [ln for ln in plan.splitlines() if "DataFilters" in ln]
    assert scan and "SQRT" not in scan[0], "haversine leaked into the scan filter"


def test_round3_candidate_joins_stay_equi(spark):
    """Contamination, p2p LOS, and PQ must never degrade to cartesian
    or nested-loop joins; PQ's codebook and p2p's pair/step tables are
    broadcasts."""
    for key in ("benchmark_contamination", "point_to_point_los", "embedding_pq"):
        df = q(spark, key)
        assert_no_cartesian(df)
        assert_not_in_plan(df, "BroadcastNestedLoopJoin" if key == "benchmark_contamination" else "__never__")
    assert_broadcast_join(q(spark, "embedding_pq"))
    assert_broadcast_join(q(spark, "point_to_point_los"))


def test_c4_filters_has_no_shuffle(spark, tmp_path):
    """Line-rule evaluation is one projection chain: zero exchanges on a
    production-width scan (split_for_cpu passes it through untouched).
    The starved single-split local layout instead takes exactly the one
    doc_id re-spread so the array folds parallelize."""
    import os

    from gdalos_spark.operators.text import text_c4_filters

    starved = text_c4_filters(spark, SF_DIR)
    plan = starved._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(doc_id") == 1

    wide_sf = str(tmp_path / "wide_sf")
    os.makedirs(wide_sf)
    load(spark, SF_DIR, "documents").repartition(8).write.parquet(
        f"{wide_sf}/documents.parquet"
    )
    with scoped_conf(spark, SMALL_SPLITS):
        plan = (
            text_c4_filters(spark, wide_sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "Exchange" not in plan


def test_round4_candidate_joins_stay_equi(spark):
    """SemDeDup pairs come from the cluster equi-join and IVF+PQ scoring
    from broadcast lookups — never a cartesian product."""
    for key in ("semantic_dedup", "ann_ivfpq_topk"):
        df = q(spark, key)
        assert_no_cartesian(df)
    assert_broadcast_join(q(spark, "ann_ivfpq_topk"))


def test_q19_single_pass_rollup(spark):
    """Disjunctive arms must not expand to a union of scans: one Expand
    (rollup) node, broadcast dim join, no cartesian."""
    df = q(spark, "disjunctive_revenue")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert "Union" not in plan
    assert_no_cartesian(df)
    assert_broadcast_join(df)


def test_export_shards_single_shuffle(spark):
    """Shard manifest: exactly one hash exchange (on the shard id)."""
    import re

    from gdalos_spark.plans.asserts import explain_str

    plan = explain_str(q(spark, "export_jsonl_shards"), "simple")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_asof_join_is_single_shuffle_window(spark):
    """The as-of join must be the union+window shape: exactly one
    Exchange (on user_id) and NO join operator at all — the state is
    carried by a running window, never by a range join that could
    degenerate to BNLJ."""
    df = q(spark, "asof_join_enrich")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # conftest pins a fresh empty bucketed root for the suite, so the
    # plain-scan plan deterministically has exactly one exchange (the
    # bucketed opt-in zero-exchange shape is pinned in test_bucketed.py)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert_not_in_plan(df, "BroadcastNestedLoopJoin", "CartesianProduct",
                       "SortMergeJoin", "BroadcastHashJoin")


def test_interval_range_join_is_equi_join(spark):
    """The range join must run as a bucketed equi-join (hash/sort-merge
    on (user, bucket)), never a nested-loop over the raw range bound."""
    df = q(spark, "interval_range_join")
    assert_no_cartesian(df)
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")


def test_q21_q22_shapes(spark):
    """Q21: both correlated EXISTS become semi/anti joins, supplier dim
    broadcast. Q22: anti-join on orders, 1-row aggregate broadcast."""
    assert_no_cartesian(q(spark, "late_supplier_blame"))
    assert_not_in_plan(q(spark, "late_supplier_blame"), "BroadcastNestedLoopJoin")
    assert_broadcast_join(q(spark, "late_supplier_blame"))
    # Q22's scalar-average compare is a 1-ROW broadcast (the accepted
    # bounded-build BNLJ shape); the data-sized orders anti-join must
    # still be a hash join.
    plan = assert_broadcast_join(q(spark, "idle_customer_balance"))
    assert "LeftAnti" in plan, plan
    assert_no_cartesian(q(spark, "idle_customer_balance"))


def test_bilinear_resample_no_cartesian(spark):
    assert_no_cartesian(q(spark, "raster_resample_bilinear"))
    assert_not_in_plan(q(spark, "raster_resample_bilinear"),
                       "BroadcastNestedLoopJoin")


def test_hll_sketch_single_data_shuffle(spark):
    """The HLL sketch at 100 TB: one data-sized shuffle (the partial-
    deduped (type, bucket, h) pass feeding the exact-count comparison
    column), then register-table-sized rollups only ((type, bucket) =
    256 rows/group, then type). Pure HLL without the exact column would
    be a single map-side-combined shuffle; the bound here pins that no
    ADDITIONAL data-sized exchange (join, resort) sneaks in."""
    df = q(spark, "sketch_hll_distinct")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "Join" not in plan, plan


def test_tpch_shapes_stay_equi_and_broadcast(spark):
    """Round-4 TPC-H completion: every adapted shape keeps its claimed
    physical form — no cartesian/BNLJ anywhere (the 1-row scalar
    broadcasts in Q11/Q15 are BNLJ by construction, so they assert
    broadcast-ness instead), dims broadcast in the join-heavy ones."""
    for key in ("nation_trade_volume", "market_share", "product_profit",
                "returned_item_losses", "part_supplier_variety",
                "small_quantity_revenue", "min_cost_supplier",
                "excess_shipper"):
        assert_no_cartesian(q(spark, key))
        assert_not_in_plan(q(spark, key), "CartesianProduct")
    for key in ("nation_trade_volume", "market_share", "product_profit",
                "returned_item_losses", "min_cost_supplier"):
        assert_broadcast_join(q(spark, key))
    # the scalar-subquery queries broadcast their 1-row aggregate
    for key in ("important_part_share", "top_supplier_revenue"):
        assert_in_plan(q(spark, key), "Broadcast")


def test_forecast_revenue_pushes_filters_no_join(spark):
    """Q6 is THE pushdown query: shipdate bounds reach the scan and the
    plan has no join at all."""
    df = q(spark, "forecast_revenue")
    assert_pushed_filter(df, "l_shipdate")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_vocab_family_shapes(spark):
    """BPE/Zipf/CMS/Bloom: candidate and membership work stays
    equi/broadcast, the classifier is join-free and shuffle-free."""
    for key in ("bpe_merge_step", "zipf_law_report", "cms_heavy_hitters",
                "bloom_blocklist"):
        assert_no_cartesian(q(spark, key))
    # Bloom membership = broadcast hash lookups, never a shuffle of occ
    assert_broadcast_join(q(spark, "bloom_blocklist"))
    plan = q(spark, "quality_classifier_score")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_graph_ops_no_cartesian(spark):
    """Edge derivation is a blocked equi-join; wedges and closure are
    equi/semi joins; PageRank rounds are equi-joins — nothing may
    degrade to a cartesian or BNLJ however dense the data."""
    assert_no_cartesian(q(spark, "pagerank_exact"))
    assert_not_in_plan(q(spark, "pagerank_exact"), "BroadcastNestedLoopJoin")


def test_session_batch3_shapes(spark):
    """Late round-4 additions keep their shapes: no cartesian anywhere,
    basket/knn candidate joins equi, shaded relief broadcast-palette."""
    for key in ("basket_lift_pairs", "spatial_knn_join", "raster_shaded_relief",
                "orders_cohort_ltv", "customer_rfm_scores", "minhash_calibration"):
        assert_no_cartesian(q(spark, key))
    assert_broadcast_join(q(spark, "raster_shaded_relief"))


@pytest.mark.slow
def test_no_cartesian_product_anywhere(spark):
    """The global scale invariant: NO operator in the entire catalog may
    plan a CartesianProduct. Every legitimate all-pairs construct in the
    library is a broadcast of a bounded side (1-row aggregates, offset
    stencils, probe sets) which plans as BroadcastNestedLoopJoin — an
    unbounded CartesianProduct anywhere is a 100-TB outage. Streaming
    keys are skipped (their plans materialize through the sink, and
    their batch twins are covered)."""
    skip = {k for k in entrymod.queries() if k.startswith("streaming_")}
    skip |= {"multimodal_decode", "multimodal_frames"}  # pandas stages
    for key, fn in entrymod.queries().items():
        if key in skip:
            continue
        assert_no_cartesian(fn(spark, SF_DIR))


def test_round5_plan_shapes(spark):
    """Round-5 scale pins: the Bloom prune keeps the fact scan
    shuffle-free up to its final 1-row agg (broadcast lookups only);
    the skyline plans one global sort and no join at all; zonal stats
    joins the two rasters without a broadcast-nested-loop fallback; the
    interpolated palette is pure map-side (single exchange for the grid
    agg, whole-stage codegen)."""
    bloom = q(spark, "bloom_join_prune")
    plan = assert_broadcast_join(bloom)
    assert "SortMergeJoin" not in plan
    assert_no_cartesian(bloom)

    # skyline's prefix max now uses the histogram-offset decomposition:
    # the only joins are BROADCASTS of the <=1025-row bucket tables (the
    # max-pc scalar and the per-bucket offsets) — no shuffled join, no
    # single-partition sort of the part table
    sky = q(spark, "parts_skyline")
    assert_no_cartesian(sky)
    plan = explain_str(sky)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    assert_no_cartesian(q(spark, "raster_zonal_stats"))

    ci = q(spark, "raster_color_interp")
    plan = assert_not_in_plan(ci, "Join")
    # the palette CASE must not widen the scan: only the 4 grid-derivation
    # columns of lineitem are read
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_quantity" in rs and "l_extendedprice" not in rs


def test_dbscan_candidates_only_meet_on_cells(spark):
    """DBSCAN's pair generation must never plan a cartesian product of
    the point table against itself — pairs meet only via the cell key
    (bounded 9-cell fan-out) or bounded broadcasts (offsets, eps2)."""
    from gdalos_spark.plans.asserts import explain_str

    df = q(spark, "dbscan_grid_clusters")
    plan = explain_str(df)
    assert "CartesianProduct" not in plan


def test_split_for_cpu_gates_on_scan_parallelism(spark):
    """The CPU re-spread is conditional: a split-starved scan gets hash-
    spread to the session parallelism, while an already-wide input passes
    through IDENTICALLY (no exchange — repartition itself is never a
    no-op, so the gate is what keeps the 100-TB path shuffle-free)."""
    from gdalos_spark.datamodel import split_for_cpu

    docs = load(spark, SF_DIR, "documents")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert docs.rdd.getNumPartitions() < n_part  # the starved local layout
    assert split_for_cpu(docs, "doc_id").rdd.getNumPartitions() == n_part
    wide = docs.repartition(n_part, "doc_id")
    assert split_for_cpu(wide, "doc_id") is wide


def test_text_quality_zero_exchange_on_wide_scan(spark, tmp_path):
    """On a production-shaped input (many splits) text_quality_score is a
    pure map: ZERO exchanges anywhere in the physical plan."""
    import os

    from gdalos_spark.operators.text import text_quality_score

    wide_sf = str(tmp_path / "wide_sf")
    os.makedirs(wide_sf)
    load(spark, SF_DIR, "documents").repartition(8).write.parquet(
        f"{wide_sf}/documents.parquet"
    )
    with scoped_conf(spark, SMALL_SPLITS):
        plan = (
            text_quality_score(spark, wide_sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "Exchange" not in plan


def test_round8_plan_shapes(spark):
    """Round-8 scale pins. GeoTIFF ingest: one groupBy exchange feeds the
    scene encoder, payloads never shuffle again, and the decode stage is
    Arrow-batched (no row-at-a-time BatchEvalPython). Grid-mode viewshed:
    the parameter grid is a broadcast, the LOS window is the only wide
    shuffle, no cartesian fan-out. Sampled layout advisor: no global
    (partition-less) sort of the fact — the only Window sorts run on the
    md5-hash sample — and the boundary arrays arrive by broadcast."""
    from gdalos_spark.plans.asserts import explain_str

    tiff = q(spark, "raster_ingest_tiff")
    plan = explain_str(tiff, "simple")
    assert "BatchEvalPython" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1  # one encode stage
    assert plan.count("MapInPandas") == 1            # one decode stage
    assert_no_cartesian(tiff)

    sweep = q(spark, "viewshed_grid_sweep")
    plan = explain_str(sweep)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    adv = q(spark, "layout_advisor_sampled")
    plan = explain_str(adv)
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    # every Sort with a global ordering must sit above the SAMPLE filter
    # (the in_sample hash predicate), never over the raw fact: the plan
    # contains no partition-less Sort feeding a fact-sized window
    import re

    sorts = [ln for ln in plan.splitlines() if re.search(r"\bSort \[", ln)]
    # the boundary windows sort on (k, l_orderkey, l_linenumber) only —
    # any sort mentioning l_shipdate would be a fact-wide ordering
    assert all("l_shipdate" not in ln for ln in sorts), sorts


def test_stored_dedup_reads_store_not_corpus(spark):
    """The recurring-path promise made executable: the stored delta
    dedup's plan scans the persisted signature store (parquet under
    gdalos_sigstore) and restricts the documents scan to the batch —
    the index side's text is never re-shingled."""
    from gdalos_spark.operators.dedup import signature_store
    from gdalos_spark.plans.asserts import explain_str

    signature_store(spark, SF_DIR)  # ensure staged
    df = q(spark, "dedup_incremental_minhash_stored")
    plan = explain_str(df)
    assert "gdalos_sigstore" in plan  # the store scan is in the plan
    # exactly one documents scan (the batch side); the index signatures
    # come from the store, not a second corpus pass
    assert plan.count("documents.parquet") == 1
