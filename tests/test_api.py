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
    4096."""
    from gdalos_spark.session import conf

    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    monkeypatch.delenv("SPARK_GRAFT_GRID_W", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_GRID_H", raising=False)
    assert key not in conf("32")
    monkeypatch.setenv("SPARK_GRAFT_GRID_W", "8192")
    assert conf("32")[key] == "256"
    monkeypatch.setenv("SPARK_GRAFT_GRID_W", "65536")
    monkeypatch.setenv("SPARK_GRAFT_GRID_H", "65536")
    assert conf("32")[key] == "4096"
    # base shuffle partitions are untouched by the knob (split_for_cpu
    # derives its explicit repartition width from them)
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


def test_append_query_caches_batch_semantics(spark):
    """append_query_caches (round-12: minhash_calibration's pairs persist)
    must extend the current batch WITHOUT releasing the callee's persists,
    and the next register_query_caches must free the whole batch."""
    from gdalos_spark import datamodel as dm

    a = spark.range(3).persist()
    b = spark.range(4).persist()
    c = spark.range(5)
    a.count(), b.count()
    dm.register_query_caches(a)
    dm.append_query_caches(b)
    # the callee's persist survives the append
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    assert dm._QUERY_CACHES == [a, b]
    # the NEXT query's registration frees the whole composite batch
    dm.register_query_caches(c)
    assert not a.storageLevel.useMemory and not b.storageLevel.useMemory
    dm.release_query_caches()


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
