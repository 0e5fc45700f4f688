"""User-facing API mirroring the reference's public entry points.

A gdalos user drives the reference through a handful of functions —
`gdalos_trans`, `gdalos_info`, `los_calc`, `viewshed_calc`, combine,
scale, color-relief, gdal2xyz, point sampling. This module exposes the
same vocabulary over the distributed engine so switching is a matter of
passing DataFrames instead of dataset paths. A verb is a reference name
for one `__spark_entry__.queries()` key and runs that function, so it
returns the same lazy DataFrame and starts at the same query boundary:
the persists of the previous query are released first
(datamodel.query_persist).

Reference mapping (further file:line citations in the operator
docstrings each verb carries):
  gdalos_trans      gdalos_trans.py:82   -> crop / warp / overview / scale
  gdalos_info       gdalos_trans.py:1220 -> raster_info / raster_histogram
  gdalos_combine    calc/gdalos_combine.py -> combine count/max/unique
  los_calc          viewshed/viewshed_calc.py:636 -> viewshed_los
  viewshed_calc     viewshed/viewshed_calc.py:113 -> viewshed_observer_count
  calc_fsl          viewshed/viewshed_calc.py:627 -> free_space_loss
  gdal2xyz          gdal2xyz.py          -> raster_to_xyz
  gdal_to_czml      calc/gdal_to_czml.py:18 -> raster_to_czml
  get_pixel         calc/get_pixel_from_raster.py -> pixel_lookup
  make_partitions   partitions.py        -> raster_partition_stats
  DataSetSelector   gdalos_selector.py   -> extent_selector
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from __spark_entry__ import queries


class GdalosSpark:
    """Session-bound facade: ``eng = GdalosSpark(spark, sf_dir)`` then
    ``eng.info()``, ``eng.los()``, ``eng.dedup_minhash()`` ... — the
    reference's verbs over the distributed engine."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def _run(self, key: str) -> DataFrame:
        return queries()[key](self.spark, self.sf_dir)

    def register_views(self) -> None:
        """Register every testdata table as a temp view so users can run
        plain ``spark.sql(...)`` against the same data the operator
        library reads — the SQL front door next to the verb API."""
        from gdalos_spark.datamodel import TABLES, load

        for name in TABLES:
            load(self.spark, self.sf_dir, name).createOrReplaceTempView(name)

    # --- open_ds family: foreign FILES from disk (gdalos_util.py) -----
    def open_raster(self, *paths: str) -> DataFrame:
        """Ingest real GeoTIFF files (any flavor the IFD walker
        supports: LZW/deflate/PackBits, all sample types, multi-band,
        either byte order) into a distributed pixel frame — the
        reference's open_ds for .tif paths. Files decode on the
        executors; the path manifest is the only driver-side state."""
        from gdalos_spark.sources import geotiff

        return geotiff.foreign_tiff_pixels(self.spark, list(paths))

    def open_vector(self, *paths: str) -> DataFrame:
        """Ingest real OGR layers (.shp / .gml) into a per-vertex
        feature frame — the reference's ogr open for its rasterize
        inputs (rasterize/gdalos_rasterize.py)."""
        from gdalos_spark.sources import vector as vector_src

        return vector_src.vector_layer_features(self.spark, list(paths))

    def to_cog(self, path: str, overwrite: bool = False):
        """Write the whole DEM as ONE Cloud-Optimized GeoTIFF (full-res
        + overview IFDs, atomic temp+rename commit, skip-if-exists) —
        the reference's gdalos_trans output product."""
        from gdalos_spark.sources.geotiff import write_cog_file

        return write_cog_file(self.spark, self.sf_dir, path, overwrite)

    # --- verbs that select one of several keys -------------------------
    def los(self, refraction: bool = False) -> DataFrame:
        return self._run("viewshed_los_refraction" if refraction else "viewshed_los")

    def ann(self, method: str = "brute") -> DataFrame:
        key = {
            "brute": "ann_cosine_topk",
            "lsh": "ann_lsh_topk",
            "ivf": "ann_ivf_topk",
            "ivfpq": "ann_ivfpq_topk",
        }[method]
        return self._run(key)

    def funnel(self, windowed: bool = True) -> DataFrame:
        """Conversion funnel (1h conversion window by default)."""
        return self._run("events_funnel_windowed" if windowed else "events_funnel")

    def ohlc(self, streaming: bool = False) -> DataFrame:
        """Hypertable-style OHLC bars (batch or continuous aggregate)."""
        return self._run("streaming_ohlc_bars" if streaming else "events_ohlc_bars")

    def tpch(self, n: int) -> DataFrame:
        """Run the TPC-H Q{n} plan-shape analog (all 22 covered)."""
        key = {
            1: "pricing_summary", 2: "min_cost_supplier", 3: "top_orders",
            4: "order_priority_counts", 5: "region_volume",
            6: "forecast_revenue", 7: "nation_trade_volume",
            8: "market_share", 9: "product_profit",
            10: "returned_item_losses", 11: "important_part_share",
            12: "shipmode_priority_counts", 13: "customer_order_distribution",
            14: "promo_revenue", 15: "top_supplier_revenue",
            16: "part_supplier_variety", 17: "small_quantity_revenue",
            18: "large_orders", 19: "disjunctive_revenue",
            20: "excess_shipper", 21: "late_supplier_blame",
            22: "idle_customer_balance",
        }[n]
        return self._run(key)


# Every other verb: the reference name -> its queries() key.
_VERBS: dict[str, str] = {
    "crop": "raster_crop",
    "warp": "raster_warp_affine",
    "reproject": "crs_reproject_utm",
    "overviews": "raster_overview",
    "overviews_discrete": "raster_overview_mode",
    "scale": "raster_scale",
    "color_relief": "raster_color_relief",
    "info": "raster_info",
    "histogram": "raster_histogram",
    "partition_stats": "raster_partition_stats",
    "calc": "raster_calc_expr",
    "combine_count": "raster_combine_count",
    "combine_max": "raster_combine_max",
    "combine_unique": "raster_combine_unique",
    "mosaic": "raster_mosaic",
    "rasterize": "rasterize_points",
    "viewshed_combine": "viewshed_combine_modes",
    "jpeg_features": "multimodal_jpeg_features",
    "viewshed": "viewshed_observer_count",
    "free_space_loss": "free_space_loss",
    "utm_convergence": "utm_zone_convergence",
    "to_xyz": "raster_to_xyz",
    "to_czml": "raster_to_czml",
    "sample_points": "pixel_lookup",
    "select_datasets": "extent_selector",
    "dedup_exact": "dedup_exact",
    "dedup_minhash": "dedup_minhash_lsh",
    "dedup_simhash": "dedup_simhash",
    "dedup_jaccard": "dedup_ngram_jaccard",
    "dedup_embeddings": "dedup_embedding_cosine",
    "centroids": "centroid_similarity",
    "language_id": "text_language_id",
    "quality": "text_quality_score",
    "token_stats": "text_token_stats",
    "fingerprints": "doc_fingerprint",
    "decode_media": "multimodal_decode",
    "sample_frames": "multimodal_frames",
    "stream_event_counts": "streaming_event_counts",
    "stream_sessions": "streaming_sessionize",
    "sessionize": "events_sessionize",
    "crop_cutline": "raster_cutline",
    "discrete_updown": "raster_discrete_updown",
    "warp_resolution": "transform_resolution",
    "overview_select": "overview_level_select",
    "empty_raster": "empty_raster_generate",
    "los_range": "viewshed_los_range",
    "normalize_azimuths": "azimuth_normalize",
    "coord_precision": "coord_precision_report",
    "dedup_lines": "dedup_lines",
    "rarity": "text_rarity_score",
    "stream_enrich": "streaming_enrich_join",
    "geodesic_distance": "geo_distance",
    "calc_multi": "raster_calc_multi",
    "polygonize": "viewshed_polygonize",
    "contour_polygons": "viewshed_contour_polygons",
    "resolve_jobs": "job_skip_overwrite",
    "decontaminate": "benchmark_contamination",
    "mix_sample": "corpus_mix_sample",
    "top_ngrams": "text_ngram_topk",
    "map_scales": "map_scale_zoom",
    "sector_rings": "sector_ring_points",
    "los_links": "point_to_point_los",
    "quantize_pq": "embedding_pq",
    "repetition": "text_repetition_score",
    "pack_sequences": "sequence_packing",
    "kmeans_step": "kmeans_refine",
    "zorder_layout": "raster_zorder_index",
    "c4_filters": "text_c4_filters",
    "dedup_semantic": "semantic_dedup",
    "ann_recall": "ann_recall_report",
    "stream_attribution": "streaming_stream_join",
    "proximity": "raster_proximity",
    "perplexity": "text_unigram_logprob",
    "curate": "corpus_curation_report",
    "dsir_weights": "dsir_importance",
    "sieve": "raster_sieve",
    "export_shards": "export_jsonl_shards",
    "disjunctive_revenue": "disjunctive_revenue",
    "stream_sessions_native": "streaming_session_window",
    "media_manifest": "multimodal_manifest",
    "bm25": "text_bm25_topk",
    "audit_split": "split_leakage_report",
    "retention": "events_retention",
    "flow_direction": "raster_flow_direction",
    "asof_enrich": "asof_join_enrich",
    "range_attribution": "interval_range_join",
    "distinct_hll": "sketch_hll_distinct",
    "distinct_kmv": "sketch_kmv_distinct",
    "dedup_spans": "dedup_substring",
    "blame_late_suppliers": "late_supplier_blame",
    "idle_customers": "idle_customer_balance",
    "resample_bilinear": "raster_resample_bilinear",
    "quantiles": "quantile_report",
    "audience_jaccard": "sketch_kmv_jaccard",
    "flow_path_length": "raster_flow_path_length",
    "bpe_pairs": "bpe_merge_step",
    "zipf": "zipf_law_report",
    "heavy_hitters": "cms_heavy_hitters",
    "blocklist_probe": "bloom_blocklist",
    "classify_quality": "quality_classifier_score",
    "focal_median": "raster_focal_median",
    "stream_leaderboard": "streaming_tumbling_topk",
    "scd2": "scd2_apply",
    "merge_plan": "merge_upsert_plan",
    "cube": "pricing_cube",
    "geohash": "geohash_bucket",
    "media_dedup": "multimodal_dedup",
    "media_shards": "multimodal_shard_plan",
    "anomalies": "events_anomaly_zscore",
    "triangles": "supplier_triangles",
    "pagerank": "pagerank_exact",
    "matryoshka_report": "embedding_matryoshka",
    "keywords": "doc_tfidf_topk",
    "markov": "events_markov_transitions",
    "rfm": "customer_rfm_scores",
    "pmi": "events_pmi_pairs",
    "dedup_fuzzy": "dedup_fuzzy_title",
    "twap": "events_time_weighted_avg",
    "bpe_train": "bpe_train_merges",
    "color_relief_interp": "raster_color_interp",
    "dedup_normalized": "text_normalize_dedup",
    "k_anonymity": "k_anonymity_report",
    "snapshot_diff": "snapshot_diff",
    "dbscan": "dbscan_grid_clusters",
    "resize_media": "multimodal_resize",
    "audio_features": "multimodal_audio_features",
    "bpe_encode_stats": "bpe_apply_encode",
    "skyline": "parts_skyline",
    "mine_contrastive_pairs": "contrastive_pair_mining",
    "quality_ablation": "quality_ablation_report",
    "zonal_stats": "raster_zonal_stats",
    "bloom_prune": "bloom_join_prune",
    "embedding_qa": "embedding_norm_outliers",
    "integrity_audit": "referential_integrity_report",
    "dedup_consensus": "dedup_union_report",
    "incremental_refresh": "incremental_agg_update",
    "zonemap_audit": "zonemap_prune_report",
    "maxsim": "multivector_maxsim",
    "activity_streaks": "user_activity_streaks",
    "attribute_conversions": "attribution_last_touch",
    "langid_eval": "langid_confusion_matrix",
    "morphology_open": "raster_morphology_open",
    "sample_gif_frames": "multimodal_gif_frames",
    "resample_events": "events_resample_interpolate",
    "assign_splits": "corpus_split_assign",
    "dedup_incremental": "dedup_incremental_minhash",
    "knn_graph": "embedding_knn_graph",
    "stream_watermark_audit": "streaming_watermark_audit",
    "propagate_labels": "embedding_label_propagation",
    "ingest_csv": "csv_ingest_audit",
    "stream_to_parquet": "streaming_parquet_sink",
    "stream_upsert": "streaming_upsert_sink",
    "seasonal_decompose": "events_seasonal_decompose",
    "ann_rerank": "ann_ivfpq_rerank",
    "ingest_jsonl": "jsonl_ingest_audit",
}


def _verb(name: str, key: str, doc: str | None) -> Callable[[GdalosSpark], DataFrame]:
    def verb(self: GdalosSpark) -> DataFrame:
        return self._run(key)

    verb.__name__, verb.__qualname__, verb.__doc__ = name, f"GdalosSpark.{name}", doc
    return verb


_OPS = queries()
for _name, _key in _VERBS.items():
    setattr(GdalosSpark, _name, _verb(_name, _key, _OPS[_key].__doc__))
