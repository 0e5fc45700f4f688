"""Vector-layer ingest: the pure-stdlib ESRI Shapefile codec, the GML
reader (including the reference's real sample layer at
/root/reference/data/shp/comb_poly.gml), and the two oracle-gated
ingest operators."""

from __future__ import annotations

import os

import pytest

from gdalos_spark.sources import vector as V
from tests.conftest import assert_record_matches_oracle

GML_SAMPLE = "/root/reference/data/shp/comb_poly.gml"


def test_shp_point_round_trip():
    shapes = [("point", (3.5, -2.25)), ("point", (0.0, 100.0))]
    recs = V.shp_decode(V.shp_encode(shapes))
    assert [r["shape_type"] for r in recs] == [V.SHP_POINT, V.SHP_POINT]
    assert recs[0]["points"] == [(3.5, -2.25)]
    assert recs[1]["points"] == [(0.0, 100.0)]
    assert [r["rec_no"] for r in recs] == [1, 2]


def test_shp_polygon_round_trip():
    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
    inner = [(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (2.0, 2.0)]
    recs = V.shp_decode(V.shp_encode([("polygon", [outer, inner])]))
    assert len(recs) == 1
    assert recs[0]["shape_type"] == V.SHP_POLYGON
    assert recs[0]["parts"] == [0, 5]
    assert recs[0]["points"] == outer + inner


def test_shp_rejects_garbage():
    with pytest.raises(ValueError, match="file code"):
        V.shp_decode(b"\x00" * 128)


def test_gml_render_parse_round_trip():
    ring = [(100, 200), (300, 200), (300, 400), (100, 200)]
    text = V.gml_render("t", [(7, ring)])
    feats = V.gml_parse(text)
    assert len(feats) == 1
    assert feats[0]["fid"] == "t.7"
    assert feats[0]["geom_type"] == "Polygon"
    assert feats[0]["rings"][0] == [(float(x), float(y)) for x, y in ring]


@pytest.mark.skipif(not os.path.exists(GML_SAMPLE), reason="reference tree absent")
def test_reference_gml_sample_parses():
    """The reference's actual OGR-written sample layer parses end to
    end: one EPSG:4326 polygon, 5 ring vertices (closed), bbox matching
    the file's boundedBy envelope."""
    with open(GML_SAMPLE) as f:
        feats = V.gml_parse(f.read())
    assert len(feats) == 1
    (feat,) = feats
    assert feat["fid"] == "comb_poly.0"
    assert feat["geom_type"] == "Polygon"
    assert feat["srs"] == "EPSG:4326"
    ring = feat["rings"][0]
    assert len(ring) == 5
    assert ring[0] == ring[-1]  # closed
    xs = [x for x, _ in ring]
    ys = [y for _, y in ring]
    assert abs(min(xs) - 35.09942551535836) < 1e-9
    assert abs(max(xs) - 35.13428943344709) < 1e-9
    assert abs(min(ys) - 32.04549480546075) < 1e-9
    assert abs(max(ys) - 32.08511289419796) < 1e-9


def test_vector_ingest_shp_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "vector_ingest_shp")


def test_vector_ingest_gml_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "vector_ingest_gml")


@pytest.mark.skipif(not os.path.exists(GML_SAMPLE), reason="reference tree absent")
def test_open_vector_reads_reference_layer(spark):
    """api.open_vector over the reference's real GML layer: per-vertex
    rows with feature identity, parsed on the executors."""
    from gdalos_spark.api import GdalosSpark

    eng = GdalosSpark(spark, "/root/testdata/sf0.001")
    rows = eng.open_vector(GML_SAMPLE).collect()
    assert len(rows) == 5  # closed 5-vertex ring
    assert {r.feature_id for r in rows} == {"comb_poly.0"}
    assert {r.geom_type for r in rows} == {"Polygon"}
    assert [r.seq for r in sorted(rows, key=lambda r: r.seq)] == [0, 1, 2, 3, 4]
    xs = [r.x for r in rows]
    assert 35.09 < min(xs) < 35.10 and 35.13 < max(xs) < 35.14


def test_open_vector_reads_shp_file(spark, tmp_path):
    """A genuine .shp written to disk round-trips through the
    executor-side parse."""
    from gdalos_spark.api import GdalosSpark

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    p = tmp_path / "t.shp"
    p.write_bytes(V.shp_encode([("polygon", [ring]), ("point", (7.0, 8.0))]))
    eng = GdalosSpark(spark, "/root/testdata/sf0.001")
    rows = eng.open_vector(str(p)).collect()
    polys = [r for r in rows if r.geom_type == "Polygon"]
    pts = [r for r in rows if r.geom_type == "Point"]
    assert len(polys) == 4 and len(pts) == 1
    assert pts[0].x == 7.0 and pts[0].y == 8.0


def test_rasterize_vector_layer_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "rasterize_vector_layer")


def test_rasterize_vector_layer_plan_shape(spark):
    """The vector burn must be the bbox-pruned join shape: no cartesian
    product, edges/bbox broadcast, cells never broadcast."""
    from gdalos_spark.plans.asserts import assert_no_cartesian

    df = V.rasterize_vector_layer(spark, "/root/testdata/sf0.001")
    assert_no_cartesian(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan


@pytest.mark.slow
def test_rasterize_burn_arms_identical(spark):
    """The adaptive gate's two burn plans (bbox-pruned broadcast edges
    vs scanline row-key join) must be result-IDENTICAL on the same
    layer — both on the DEM grid and on a taller grid where the
    scanline sequence explode actually spans many rows."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"  # sf0.001's degenerate rings burn 0 cells
    a = sorted(
        map(tuple, V.rasterize_vector_layer(spark, sf, scanline=False).collect())
    )
    b = sorted(
        map(tuple, V.rasterize_vector_layer(spark, sf, scanline=True).collect())
    )
    assert a == b and a
    # tall-grid identity: 512 rows, synthetic 2k-point layer
    H = W = 512
    sup = spark.range(2000).select(
        F.col("id").alias("s_suppkey"), (F.col("id") % 25).cast("int").alias("s_nationkey")
    )
    edges, fbbox = V._ring_edges_bbox(sup, W, H)
    cells = spark.range(H * W).select(
        (F.col("id") % W).cast("int").alias("px"),
        (F.col("id") / W).cast("int").alias("py"),
        ((F.col("id") % W).cast("double") + 0.5).alias("cx"),
        ((F.col("id") / W).cast("int").cast("double") + 0.5).alias("cy"),
    )
    ta = sorted(map(tuple, V._burn_report(
        V._burn_crossings(cells, edges, fbbox, scanline=False)).collect()))
    tb = sorted(map(tuple, V._burn_report(
        V._burn_crossings(cells, edges, fbbox, scanline=True)).collect()))
    assert ta == tb and ta


def test_rasterize_scanline_plan_shape(spark):
    """The scanline arm joins on the row key — still no cartesian."""
    from gdalos_spark.plans.asserts import assert_no_cartesian

    df = V.rasterize_vector_layer(spark, "/root/testdata/sf0.001", scanline=True)
    assert_no_cartesian(df)


@pytest.mark.skipif(not os.path.exists(GML_SAMPLE), reason="reference tree absent")
def test_cli_open_verb_ingests_real_files(spark):
    """`gdalos_spark open <file>` dispatches by extension to the foreign
    ingest paths — the reference CLI's point-at-a-dataset shape."""
    from gdalos_spark.api import GdalosSpark
    from gdalos_spark.cli import _build_parser, _resolve

    eng = GdalosSpark(spark, "/root/testdata/sf0.001")
    parser = _build_parser()
    gml = _resolve(eng, parser.parse_args(["open", GML_SAMPLE]))
    assert gml.count() == 5
    srtm = "/root/reference/data/maps/srtm1_x35_y32.tif"
    if os.path.exists(srtm):
        df = _resolve(eng, parser.parse_args(["open", srtm]))
        assert df.count() == 361 * 361
    with pytest.raises(SystemExit):
        _resolve(eng, parser.parse_args(["open", "/tmp/nope.xyz"]))
