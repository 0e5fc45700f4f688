"""Smoke test for the reference-parity API facade."""

import pytest

from gdalos_spark.api import GdalosSpark
from tests.conftest import SF_DIR


@pytest.mark.slow
def test_facade_covers_reference_verbs(spark):
    eng = GdalosSpark(spark, SF_DIR)
    # lazy construction only — every verb must build a valid plan
    verbs = [
        eng.crop, eng.warp, eng.overviews, eng.overviews_discrete, eng.scale,
        eng.color_relief, eng.info, eng.histogram, eng.partition_stats,
        eng.calc, eng.combine_count, eng.combine_max, eng.combine_unique,
        eng.mosaic, eng.rasterize, eng.los, eng.viewshed, eng.free_space_loss,
        eng.utm_convergence, eng.to_xyz, eng.to_czml, eng.sample_points,
        eng.select_datasets, eng.dedup_exact, eng.dedup_minhash,
        eng.dedup_simhash, eng.dedup_jaccard, eng.dedup_embeddings,
        eng.centroids, eng.language_id, eng.quality, eng.token_stats,
        eng.fingerprints, eng.decode_media, eng.sample_frames, eng.sessionize,
    ]
    for verb in verbs:
        df = verb()
        assert df.columns  # plan resolved
    assert eng.los(refraction=True).columns
    for method in ("brute", "lsh", "ivf"):
        assert eng.ann(method=method).columns
    # one representative executes end-to-end
    assert eng.info().count() > 0


@pytest.mark.slow
def test_round3_facade_verbs(spark):
    """Every round-3 facade verb returns a non-empty lazy DataFrame."""
    from gdalos_spark.api import GdalosSpark
    from tests.conftest import SF_DIR

    eng = GdalosSpark(spark, SF_DIR)
    for verb in (
        "geodesic_distance", "calc_multi", "polygonize", "contour_polygons",
        "resolve_jobs", "decontaminate", "mix_sample", "top_ngrams",
        "map_scales", "sector_rings", "los_links", "quantize_pq",
    ):
        assert getattr(eng, verb)().count() > 0, verb


@pytest.mark.slow
def test_round4_facade_verbs(spark):
    """Every round-4 facade verb returns a non-empty DataFrame."""
    from gdalos_spark.api import GdalosSpark
    from tests.conftest import SF_DIR

    eng = GdalosSpark(spark, SF_DIR)
    for verb in (
        "c4_filters", "dedup_semantic", "ann_recall", "stream_attribution",
        "proximity", "perplexity", "curate",
    ):
        assert getattr(eng, verb)().count() > 0, verb
    assert eng.ann("ivfpq").count() > 0


def test_register_views_enables_plain_sql(spark):
    from gdalos_spark.api import GdalosSpark
    from tests.conftest import SF_DIR

    GdalosSpark(spark, SF_DIR).register_views()
    row = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).collect()[0]
    assert row.n > 0
    # events view carries the normalized zone-stable timestamp
    assert spark.sql("SELECT MIN(ts) AS t FROM events").collect()[0].t is not None


def test_round5_facade_verbs(spark):
    """Every round-5 facade verb returns a non-empty DataFrame."""
    from gdalos_spark.api import GdalosSpark
    from tests.conftest import SF_DIR

    eng = GdalosSpark(spark, SF_DIR)
    for verb in (
        "asof_enrich", "range_attribution", "distinct_hll", "distinct_kmv",
        "dedup_spans", "blame_late_suppliers", "idle_customers",
        "resample_bilinear",
    ):
        assert getattr(eng, verb)().count() > 0, verb


def test_asof_enrich_semantics(spark):
    """Every purchase row appears exactly once; any attributed click is
    strictly the latest at-or-before click by the same user."""
    from gdalos_spark.api import GdalosSpark
    from tests.conftest import SF_DIR
    from gdalos_spark.datamodel import load
    from pyspark.sql import functions as F

    out = GdalosSpark(spark, SF_DIR).asof_enrich()
    ev = load(spark, SF_DIR, "events")
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert out.count() == n_purch
    bad_order = out.filter(
        (F.col("click_event_id") != -1) & (F.col("gap_us") < 0)
    ).count()
    assert bad_order == 0
    # spot-check one user end-to-end against a local replay
    rows = out.filter(F.col("user_id") == 7).collect()
    local = ev.filter(F.col("user_id") == 7).select(
        "event_id", "event_type", F.unix_micros("ts").alias("us")
    ).collect()
    clicks = sorted((r.us, r.event_id) for r in local if r.event_type == "click")
    for r in rows:
        prior = [c for c in clicks if c[0] <= r.purchase_ts_us]
        want = prior[-1][1] if prior else -1
        assert r.click_event_id == want


def test_hll_and_kmv_estimates_close(spark):
    """Sketches are estimators: both must land within 15% of exact on
    every group (HLL-256 stderr ~6.5%, KMV-64 ~12.5%)."""
    from gdalos_spark.api import GdalosSpark
    from tests.conftest import SF_DIR

    eng = GdalosSpark(spark, SF_DIR)
    for row in eng.distinct_hll().collect():
        assert abs(row.rel_err) < 0.15, row
    for row in eng.distinct_kmv().collect():
        assert abs(row.rel_err) < 0.35, row


def test_quantile_flowpath_jaccard_verbs(spark):
    from gdalos_spark.api import GdalosSpark
    from tests.conftest import SF_DIR
    from pyspark.sql import functions as F

    eng = GdalosSpark(spark, SF_DIR)
    qr = eng.quantiles().collect()
    assert len(qr) > 0
    for r in qr:
        assert r.min_value <= r.p50 <= r.p90 <= r.p99 <= r.max_value, r
    aj = eng.audience_jaccard().collect()
    assert len(aj) == 10  # C(5,2) event-type pairs
    for r in aj:
        assert 0.0 <= r.jaccard_exact <= 1.0 and 0.0 <= r.jaccard_kmv <= 1.0

    fp = eng.flow_path_length()
    rows = fp.count()
    assert rows > 0
    # every terminal must be a pit or a domain-edge cell, and a path of
    # length 0 must be its own terminal
    self_term = fp.filter(
        (F.col("path_steps") == 0)
        & ((F.col("px") != F.col("term_x")) | (F.col("py") != F.col("term_y")))
    ).count()
    assert self_term == 0


def test_bench_conf_grid_adaptive_partitions(monkeypatch):
    """The AQE initialPartitionNum is derived from the DEM cell count
    (constant ~2^18 cells per initial partition, round-12): omitted at the
    driver's 64x64 dims so the bench session matches the recorded
    contract, present and scale-proportional at big grids, capped at
    4096. The dims are datamodel's validated SPARK_GRAFT_GRID_W/H."""
    from gdalos_spark import datamodel
    from gdalos_spark.session import conf

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    monkeypatch.setattr(datamodel, "GRID_W", 64)
    monkeypatch.setattr(datamodel, "GRID_H", 64)
    assert key not in conf("32")
    monkeypatch.setattr(datamodel, "GRID_W", 8192)
    monkeypatch.setattr(datamodel, "GRID_H", 8192)
    assert conf("32")[key] == "256"
    monkeypatch.setattr(datamodel, "GRID_W", 65536)
    monkeypatch.setattr(datamodel, "GRID_H", 65536)
    assert conf("32")[key] == "4096"
    # base shuffle partitions are untouched by the knob (they cap the
    # stream state and bucket counts that AQE cannot coalesce)
    assert conf("32")["spark.sql.shuffle.partitions"] == "32"


def test_suite_session_is_the_bench_session(spark):
    """The suite runs the bench's session: every `conf(cpus)` key is set
    to its value, except the shuffle partitions the suite overrides and
    the driver memory."""
    from gdalos_spark.session import conf

    expected = conf(spark.sparkContext.defaultParallelism)
    for k in ("spark.sql.shuffle.partitions", "spark.driver.memory"):
        del expected[k]
    assert {k: spark.conf.get(k, None) for k in expected} == expected


def test_query_persist_is_the_only_persist():
    """Every engine persist goes through datamodel.query_persist and
    every local checkpoint through datamodel.query_checkpoint, so the
    release at the query boundary (__spark_entry__.queries()) frees all
    of them: the one `.persist(`/`.cache(` call in gdalos_spark/ is the
    one inside query_persist, and the one `.localCheckpoint(` call the
    one inside query_checkpoint. Likewise every streaming query starts
    through streaming/events.py's `_run_streams`, the one `.trigger(`
    call."""
    import ast
    import pathlib

    import gdalos_spark

    root = pathlib.Path(gdalos_spark.__file__).parent
    trees = {
        path.relative_to(root).as_posix(): ast.parse(path.read_text())
        for path in sorted(root.rglob("*.py"))
    }
    for attrs, helper_path, helper_name in (
        (("persist", "cache"), "datamodel.py", "query_persist"),
        (("localCheckpoint",), "datamodel.py", "query_checkpoint"),
        (("trigger",), "streaming/events.py", "_run_streams"),
    ):
        calls = [
            (path, node.lineno)
            for path, tree in trees.items()
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in attrs
        ]
        helper = next(
            n for n in ast.walk(trees[helper_path])
            if isinstance(n, ast.FunctionDef) and n.name == helper_name
        )
        assert len(calls) == 1, calls
        assert calls[0][0] == helper_path
        assert helper.lineno <= calls[0][1] <= helper.end_lineno


def test_sources_open_only_through_the_catalog():
    """Every source table opens through datamodel (`source_table`, one
    catalog table per path and fingerprint): outside datamodel.py no
    `read.parquet(` names a `{sf_dir}/<table>.parquet` source, whether
    spelled inline or through a local bound to such a path."""
    import ast
    import pathlib

    import gdalos_spark

    def is_source(node) -> bool:
        return (
            isinstance(node, ast.JoinedStr)
            and isinstance(node.values[0], ast.FormattedValue)
            and isinstance(node.values[0].value, ast.Name)
            and node.values[0].value.id == "sf_dir"
            and isinstance(node.values[-1], ast.Constant)
            and str(node.values[-1].value).endswith(".parquet")
        )

    root = pathlib.Path(gdalos_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "datamodel.py":
            continue
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            bound = {
                t.id
                for n in ast.walk(fn)
                if isinstance(n, ast.Assign) and is_source(n.value)
                for t in n.targets
                if isinstance(t, ast.Name)
            }
            found += [
                (rel, n.lineno)
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "parquet"
                and isinstance(n.func.value, ast.Attribute)
                and n.func.value.attr == "read"
                and n.args
                and (is_source(n.args[0])
                     or isinstance(n.args[0], ast.Name) and n.args[0].id in bound)
            ]
    assert found == [], found


def test_stale_frame_fails_after_the_next_query(spark):
    """A returned frame is readable until the next query starts: its
    checkpoints are freed there, so reading pagerank_exact's frame after
    another key started fails naming the freed checkpoint block."""
    import __spark_entry__ as E
    from gdalos_spark.datamodel import release_query_caches

    qs = E.queries()
    ranks = qs["pagerank_exact"](spark, SF_DIR)
    assert ranks.collect()
    qs["pricing_summary"](spark, SF_DIR)
    try:
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            ranks.collect()
    finally:
        release_query_caches()


# The facade's public names, as they were when every verb was a
# hand-written method; `cli list` prints them minus register_views, plus
# trans.
_FACADE_NAMES = """
    activity_streaks ann ann_recall ann_rerank anomalies asof_enrich
    assign_splits attribute_conversions audience_jaccard audio_features
    audit_split blame_late_suppliers blocklist_probe bloom_prune bm25
    bpe_encode_stats bpe_pairs bpe_train c4_filters calc calc_multi
    centroids classify_quality color_relief color_relief_interp
    combine_count combine_max combine_unique contour_polygons
    coord_precision crop crop_cutline cube curate dbscan decode_media
    decontaminate dedup_consensus dedup_embeddings dedup_exact
    dedup_fuzzy dedup_incremental dedup_jaccard dedup_lines
    dedup_minhash dedup_normalized dedup_semantic dedup_simhash
    dedup_spans discrete_updown disjunctive_revenue distinct_hll
    distinct_kmv dsir_weights embedding_qa empty_raster export_shards
    fingerprints flow_direction flow_path_length focal_median
    free_space_loss funnel geodesic_distance geohash heavy_hitters
    histogram idle_customers incremental_refresh info ingest_csv
    ingest_jsonl integrity_audit jpeg_features k_anonymity keywords
    kmeans_step knn_graph langid_eval language_id los los_links
    los_range map_scales markov matryoshka_report maxsim media_dedup
    media_manifest media_shards merge_plan mine_contrastive_pairs
    mix_sample morphology_open mosaic normalize_azimuths ohlc
    open_raster open_vector overview_select overviews overviews_discrete
    pack_sequences pagerank partition_stats perplexity pmi polygonize
    propagate_labels proximity quality quality_ablation quantiles
    quantize_pq range_attribution rarity rasterize register_views
    repetition reproject resample_bilinear resample_events resize_media
    resolve_jobs retention rfm sample_frames sample_gif_frames
    sample_points scale scd2 seasonal_decompose sector_rings
    select_datasets sessionize sieve skyline snapshot_diff
    stream_attribution stream_enrich stream_event_counts
    stream_leaderboard stream_sessions stream_sessions_native
    stream_to_parquet stream_upsert stream_watermark_audit to_cog
    to_czml to_xyz token_stats top_ngrams tpch triangles twap
    utm_convergence viewshed viewshed_combine warp warp_resolution zipf
    zonal_stats zonemap_audit zorder_layout
""".split()


def test_facade_verbs_are_query_keys():
    """Every verb reaches its operator through a queries() key: the
    table's keys and every key a selector verb picks exist in the
    catalog, each table verb runs its own key, and the public names are
    the same set as before the table."""
    import __spark_entry__ as E
    from gdalos_spark import api

    class Recorder(GdalosSpark):
        def _run(self, key):
            return key

    eng = Recorder(None, None)
    selected = {
        eng.los(), eng.los(refraction=True), eng.funnel(), eng.funnel(windowed=False),
        eng.ohlc(), eng.ohlc(streaming=True),
        *(eng.ann(m) for m in ("brute", "lsh", "ivf", "ivfpq")),
        *(eng.tpch(n) for n in range(1, 23)),
    }
    assert len(selected) == 32
    keys = set(E.queries())
    assert selected <= keys, selected - keys
    assert set(api._VERBS.values()) <= keys, set(api._VERBS.values()) - keys
    for verb, key in api._VERBS.items():
        assert getattr(eng, verb)() == key, verb
    public = sorted(n for n in vars(GdalosSpark) if not n.startswith("_"))
    assert public == sorted(_FACADE_NAMES)


def test_facade_call_starts_at_the_query_boundary(spark):
    """A facade verb frees what the previous query persisted before it
    builds, like a queries() call: once dedup_fuzzy builds, every frame
    pmi persisted is unpersisted."""
    from gdalos_spark import datamodel

    eng = GdalosSpark(spark, SF_DIR)
    eng.pmi().write.format("noop").mode("overwrite").save()
    first = list(datamodel._QUERY_CACHES)
    assert first
    eng.dedup_fuzzy().write.format("noop").mode("overwrite").save()
    try:
        for df in first:
            level = df.storageLevel
            assert not (level.useMemory or level.useDisk), level
    finally:
        datamodel.release_query_caches()


def test_bench_smoke_passes(spark):
    """The bench pre-flight must load every table cleanly — this is the
    guard against the round-3 failure mode (a parquet physical-type change
    crashing the whole bench in warmup)."""
    import bench

    assert bench.smoke() == 0


def test_cli_verbs_and_trans_paths(spark, tmp_path):
    """The argv front-end (reference scripts/gdalos_trans.py parity):
    verb dispatch, the -t_srs/-extent trans branches, parquet output with
    the skip-unless-overwrite contract, and the verb listing."""
    from gdalos_spark import cli

    sf = SF_DIR
    assert cli.main(["cli", "list"], spark=spark) == 0
    assert cli.main(["cli", "info", sf, "-quiet"], spark=spark) == 0
    out = str(tmp_path / "warp.parquet")
    assert cli.main(["cli", "trans", sf, "-t_srs", "utm", "-o", out, "-quiet"],
                    spark=spark) == 0
    import glob

    assert glob.glob(out + "/*.parquet")
    # existing output without -overwrite is skipped, with it rewritten
    assert cli.main(["cli", "trans", sf, "-t_srs", "utm", "-o", out, "-quiet"],
                    spark=spark) == 0
    assert cli.main(["cli", "trans", sf, "-extent", "10", "30", "10", "30",
                     "-o", out, "-overwrite", "-quiet"], spark=spark) == 0


def test_sweep_out_of_family_flagging(tmp_path, monkeypatch):
    """sf10_sweep auto-adjudication (round-13): a key is flagged for a
    fresh-JVM re-run only when its wall is >3x its committed-baseline
    wall AFTER host normalization — a uniformly slower host flags
    nothing, a single 10x-out key is caught."""
    import importlib.util
    import json as _json
    import os

    spec = importlib.util.spec_from_file_location(
        "sf10_sweep", os.path.join(os.path.dirname(__file__), "..", "tools", "sf10_sweep.py")
    )
    sw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sw)
    with open(os.path.join(os.path.dirname(__file__), "..", "sf10_sweep.json")) as f:
        base = _json.load(f)["keys"]
    # a uniformly 4x-slower host: no flags
    uniform = {k: {"sec": round(v["sec"] * 4, 2)} for k, v in base.items() if "error" not in v}
    assert sw._flag_out_of_family(uniform) == []
    # same host, one key 5x out of family (and above the 30s floor)
    out = dict(uniform)
    out["radio_itm_loss"] = {"sec": base["radio_itm_loss"]["sec"] * 4 * 5}
    assert sw._flag_out_of_family(out) == ["radio_itm_loss"]
    # sub-30s walls are never flagged (stage-floor noise, not scale bugs)
    tiny = dict(uniform)
    tiny["dedup_exact"] = {"sec": 25.0}
    assert "dedup_exact" not in sw._flag_out_of_family(tiny)
