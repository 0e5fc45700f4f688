"""Oracle-parity tests for the raster core (SURVEY §2 #1-18)."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_matches_oracle, assert_record_matches_oracle

RASTER_KEYS = [
    "rasterize_points",
    "raster_crop",
    "raster_overview",
    "raster_overview_mode",
    "raster_calc_expr",
    "raster_combine_count",
    "raster_combine_max",
    "raster_combine_unique",
    "raster_scale",
    "raster_color_relief",
    "raster_to_xyz",
    "pixel_lookup",
    "raster_mosaic",
    "raster_info",
    "raster_histogram",
    "raster_warp_affine",
    "raster_partition_stats",
    "extent_selector",
]


@pytest.mark.parametrize("key", RASTER_KEYS)
def test_raster_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_raster_hillshade_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_hillshade")


@pytest.mark.parametrize(
    "key",
    [
        "raster_slope_percent",
        "raster_aspect_sector",
        "raster_terrain_ruggedness",
        "raster_discrete_updown",
        "raster_overview_pyramid",
        "raster_cutline",
        "transform_resolution",
        "overview_level_select",
        "empty_raster_generate",
        "raster_nodata_rewrite",
    ],
)
def test_gdaldem_family_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


@pytest.mark.parametrize(
    "key", ["raster_to_czml", "raster_to_json", "viewshed_sector", "extent_intersection"]
)
def test_export_and_sector_match_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_cutline_nodata_semantics(spark):
    """Outside-polygon cells carry dstNodata (-32768), inside cells carry
    elevation; the concave cutline must leave both kinds inside the bbox."""
    from pyspark.sql import functions as F

    df = entrymod.queries()["raster_cutline"](spark, SF_DIR).cache()
    n_in = df.filter("inside = 1").count()
    n_out = df.filter("inside = 0").count()
    assert n_in > 0 and n_out > 0
    assert df.filter("(inside = 0) != (val = -32768.0)").count() == 0
    df.unpersist()


def test_raster_zorder_index_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_zorder_index")


def test_raster_zorder_tiles_are_aligned_blocks(spark):
    """Every Morton tile is an axis-aligned 16x16 block: bounds span at
    most 16 cells per axis and the bbox area equals the cell count when
    the tile is full — the locality property the layout exists for."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["raster_zorder_index"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.max_px - r.min_px <= 15
        assert r.max_py - r.min_py <= 15
        assert (r.min_px // 16) == (r.max_px // 16)
        assert (r.min_py // 16) == (r.max_py // 16)
        assert r.n_cells <= 256


def test_raster_proximity_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_proximity")


def test_raster_proximity_semantics(spark):
    """Targets are distance 0 from themselves; non-targets with a target
    in the window report a positive d2 bounded by the window diagonal."""
    import __spark_entry__ as E
    from gdalos_spark.operators.raster import PROX_RADIUS
    from tests.conftest import SF_DIR

    rows = E.queries()["raster_proximity"](spark, SF_DIR).collect()
    assert rows
    lim = 2 * PROX_RADIUS * PROX_RADIUS
    for r in rows:
        if r.is_target:
            assert r.nearest_d2 == 0
        else:
            assert r.nearest_d2 == -1 or 0 < r.nearest_d2 <= lim


def test_raster_sieve_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_sieve")


def test_raster_sieve_regions_are_consistent(spark):
    """Region ids partition the grid; every member of a region shares its
    class, and region_size equals the member count."""
    import collections

    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    rows = E.queries()["raster_sieve"](spark, SF_DIR).collect()
    by_region = collections.defaultdict(list)
    for r in rows:
        by_region[r.region_id].append(r)
    for members in by_region.values():
        assert len({m.cls for m in members}) == 1
        assert all(m.region_size == len(members) for m in members)


def test_raster_flow_direction_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_flow_direction")


def test_raster_flow_direction_codes_valid(spark):
    import __spark_entry__ as E
    from tests.conftest import SF_DIR

    valid = {0, 1, 2, 4, 8, 16, 32, 64, 128}
    for r in E.queries()["raster_flow_direction"](spark, SF_DIR).collect():
        assert r.flow_dir in valid
        if r.flow_dir == 0:
            assert r.scaled_drop <= 0
        else:
            assert r.scaled_drop > 0


def test_vrt_overview_mosaic(spark, ducks):
    """gdalos_vrt.py:99 composition: finer member wins inside its
    extent, the full-extent member fills the rest, every value the
    exact block average at the member's own selected level."""
    from gdalos_spark.operators.raster import (
        VRT_B_EXTENT_PX,
        VRT_OUT_RES,
        VRT_B_RES,
        vrt_overview_mosaic,
    )
    import __spark_entry__ as entrymod
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(
        spark, ducks, vrt_overview_mosaic,
        entrymod.oracle_sql()["vrt_overview_mosaic"],
    )
    rows = {(r.qx, r.qy): r for r in vrt_overview_mosaic(spark, SF_DIR).collect()}
    b_cells = VRT_B_EXTENT_PX // (VRT_OUT_RES // VRT_B_RES)
    # inside B's extent the finer member must win wherever it has data
    assert any(r.source == "B" for r in rows.values())
    for (qx, qy), r in rows.items():
        if r.source == "B":
            assert qx < b_cells and qy < b_cells


def test_stencil_has_one_home():
    """Every grid-neighbourhood key reaches its neighbours through one
    offset fan-out and one fold: in operators/raster.py the cell-to-
    target offset arithmetic (`px ± dx`), the broadcast cross join of an
    offset table and the SQL `CROSS JOIN` of an offsets CTE sit only in
    `_stencil` / `_stencil_sql`, and the 3x3 box is spelled only by
    `_box`. The two gather keys are the exception: fill_nodata and
    grid_idw equi-join each offset to a second frame instead of folding
    the grid onto itself."""
    import ast
    import pathlib
    import re

    from gdalos_spark.operators import raster

    text = pathlib.Path(raster.__file__).read_text()
    tree = ast.parse(text)
    homes = [n for n in tree.body if isinstance(n, (ast.FunctionDef, ast.Assign))]

    def owner(lineno: int) -> str | None:
        """The module-level function or assignment holding `lineno`."""
        for d in homes:
            if d.lineno <= lineno <= d.end_lineno:
                return d.name if isinstance(d, ast.FunctionDef) else d.targets[0].id
        return None

    def col(node, names) -> bool:
        """`node` is F.col(<one of names>)."""
        return isinstance(node, ast.Call) and ast.unparse(node) in {f"F.col('{n}')" for n in names}

    spark_sites = {
        owner(n.lineno) for n in ast.walk(tree)
        if isinstance(n, ast.BinOp) and col(n.left, ("px", "py")) and col(n.right, ("dx", "dy"))
    } | {
        owner(n.lineno) for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "crossJoin"
        and ast.unparse(n.args[0]) in ("F.broadcast(offsets)", "F.broadcast(table)")
    }
    assert spark_sites == {"_stencil", "raster_fill_nodata", "raster_grid_idw"}, spark_sites

    lines = text.splitlines()
    sql_sites = {
        owner(i + 1)
        for i, line in enumerate(lines)
        if re.search(r"CROSS JOIN \w*offs|\bSELECT px [-+] dx\b|p[xy] [-+] o\.d[xy]\b", line)
    }
    assert sql_sites == {"_stencil_sql", "RASTER_FILL_NODATA_SQL", "RASTER_GRID_IDW_SQL"}, sql_sites
    assert "for dx in (-1, 0, 1)" not in text
