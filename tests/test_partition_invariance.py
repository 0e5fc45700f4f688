"""Aggregation-order independence, tested for real: the float-heaviest
operators re-run under a deliberately different layout (5 shuffle
partitions, 128 KiB input splits) must still match the DuckDB oracle
value-for-value. Any hidden unordered float reduction would
shift values with the partitioning and fail here — this is the
executable form of the 'no unordered float addition' claim every
docstring makes."""
from __future__ import annotations

from contextlib import nullcontext

import pytest

import __spark_entry__ as entrymod
from gdalos_spark.session import scoped_conf
from gdalos_spark.streaming.events import LAST_STATE_METRICS
from tests.conftest import SF_DIR
from tools.drive_values import oracle_mismatch

INVARIANCE_KEYS = [
    "text_unigram_logprob",
    "embedding_centroid_drift",
    "events_type_entropy",
    "raster_contour_segments",
    # round-5 float-bearing additions: norm outliers (integer inequality
    # must hold under any layout), maxsim (sum-of-max over rounded
    # cosines), zonal stats (DECIMAL(38) variance), item-item cosine
    "embedding_norm_outliers",
    "multivector_maxsim",
    "raster_zonal_stats",
    "item_item_similarity",
    # round-6 additions: the Redfearn easting/northing doubles must land
    # in the same 1 km cell under any layout; the combine modes are pure
    # integers but ride a window whose frame order must not depend on
    # partitioning; dedup_clusters pins the signature-collapse rebuild
    "crs_reproject_utm",
    "viewshed_combine_modes",
    "dedup_clusters",
    # round-7 additions: the resampler's interpolation divide must see
    # the same bracketing events under any layout; the incremental dedup
    # pins the signature-identical collapse; the kNN graph and label
    # propagation pin rounded-cosine ranking and majority votes across
    # partitionings
    "events_resample_interpolate",
    "dedup_incremental_minhash",
    "embedding_knn_graph",
    "embedding_label_propagation",
    # round-8 additions: GeoTIFF pixels must reassemble identically from
    # any scene/partition layout; the grid sweep's LOS windows and
    # vis_fraction doubles must not depend on partitioning; the sampled
    # advisor's boundary ranks come from a single deterministic sample
    # however the fact is split; the stored delta dedup pins the
    # store-read path; the watermark dedup's staged batches must produce
    # the same emissions whatever the executor layout
    "raster_ingest_tiff",
    "viewshed_grid_sweep",
    "layout_advisor_sampled",
    "dedup_incremental_minhash_stored",
    "streaming_dedup_watermark",
    # the stream-stream join's buffered-state path (range buckets, RocksDB
    # provider) must match the oracle with its state split across tasks
    "streaming_stream_join",
    # round-9 additions: the COG manifest's per-level aggregates must
    # reassemble identically from any scene layout; the jpeg/h264
    # manifests pin the Arrow-batch tiling/bitstream walks; kmeans_train
    # pins the iterated micro-int centroid trajectory (every round's
    # doubles must be layout-independent); the trained ADC ranking pins
    # the per-subspace training + integer distance sort
    "cog_write_manifest",
    "multimodal_jpeg_manifest",
    "multimodal_h264_features",
    "kmeans_train",
    "ann_ivfpq_trained_topk",
    # round-11 additions: the conic/azimuthal warp doubles must land in
    # the same 1 km cell under any layout; the direct-problem asin
    # series rides pure projections; the JL ordered folds are the
    # textbook case this sweep exists for; the IDW/fill integer weight
    # sums are order-free by construction (asserted here, not assumed);
    # the hydrology fixpoints iterate joins whose per-round results
    # must not depend on partitioning; containment pins the rare-set
    # pair counts
    "crs_reproject_aea",
    "crs_reproject_lcc",
    "geodesic_destination",
    "embedding_random_projection",
    "raster_grid_idw",
    "raster_fill_nodata",
    "raster_flow_accumulation",
    "raster_stream_order",
    "dedup_containment",
    "markov_stationary",
    # round-12 additions: the downsample pair — average's ratio-of-sums
    # (w*cents / w) must see the same exact-integer numerator and
    # denominator under any layout; nearest is a pure projection whose
    # join must not lose or duplicate rows however the scan is split
    "raster_resample_average",
    "raster_resample_nearest",
    # the two LOS primitives at their simplest callers: the fixed
    # observer's radial-sweep window and the link profile's sampler
    # and DEM join must not depend on the layout either
    "viewshed_los",
    "terrain_profile",
    # the raster stencil's fold: the focal median's collect_list order
    # (sort_array must make it layout-free) and the flow direction's
    # max(struct) tie-break must not move with the partitioning
    "raster_focal_median",
    "raster_flow_direction",
]


@pytest.fixture(scope="module")
def skewed_spark(spark):
    """Mutate the session's RUNTIME partitioning (getOrCreate would
    silently reuse the existing session and ignore builder confs):
    5 shuffle partitions + 128 KiB splits reshapes every exchange and
    scan, which is exactly the lever that exposes unordered float
    reductions. Restored afterwards. Streams size their state
    partitions from the source bytes (1 for the test data), so the
    streaming keys also get 1-byte AQE partition sizes, which clamps
    their state at the 5 shuffle partitions (`_stream_layout`)."""
    with scoped_conf(spark, {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.files.maxPartitionBytes": "131072",
    }):
        yield spark


def _stream_layout(spark, key):
    """For a streaming key, 1-byte AQE partition sizes around the query
    call, so its state partitions clamp at spark.sql.shuffle.partitions."""
    if not key.startswith("streaming_"):
        return nullcontext()
    LAST_STATE_METRICS.clear()
    return scoped_conf(spark, {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    })


@pytest.mark.parametrize("key", INVARIANCE_KEYS)
def test_values_survive_repartitioning(skewed_spark, ducks, key):
    with _stream_layout(skewed_spark, key):
        sdf = entrymod.queries()[key](skewed_spark, SF_DIR)
    if key.startswith("streaming_"):
        parts = {r["n_partitions"] for v in LAST_STATE_METRICS.values() for r in v}
        assert parts == {5}, f"{key}: state ran at {parts} partitions"
    bad = oracle_mismatch(
        sdf.columns, sdf.schema, sdf.collect(), ducks, entrymod.oracle_sql()[key]
    )
    assert bad is None, f"{key}: values shifted under different partitioning: {bad}"
