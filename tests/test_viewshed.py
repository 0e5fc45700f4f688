"""Oracle-parity + semantic tests for viewshed/geo (SURVEY §2 #19-22)."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_record_matches_oracle

VIEWSHED_KEYS = [
    "viewshed_los",
    "viewshed_observer_count",
    "free_space_loss",
    "utm_zone_convergence",
    "viewshed_los_refraction",
    "viewshed_sector",
    "coord_precision_report",
    "viewshed_los_range",
    "azimuth_normalize",
    "proj_string_parse",
    "radio_path_report",
]


@pytest.mark.parametrize("key", VIEWSHED_KEYS)
def test_viewshed_matches_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_los_first_cell_on_ray_visible(spark):
    """The closest cell on every ray has nothing to occlude it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = entrymod.queries()["viewshed_los"](spark, SF_DIR)
    w = Window.partitionBy("ray").orderBy("dist", "px", "py")
    first = df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    assert first.filter(F.col("visible") == 0).count() == 0


def test_observer_count_bounds(spark):
    from pyspark.sql import functions as F

    df = entrymod.queries()["viewshed_observer_count"](spark, SF_DIR)
    bad = df.filter((F.col("n_visible") < 0) | (F.col("n_visible") > F.col("n_obs")))
    assert bad.count() == 0


def test_geo_distance_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "geo_distance")


def test_geo_distance_tracks_libm_haversine(spark):
    """The polynomial haversine must agree with the float-libm haversine
    to sub-micrometer at these ranges (the series truncation bound)."""
    import math

    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    R = 6371008.7714150598
    rows = entrymod.queries()["geo_distance"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        f1, f2 = math.radians(r.lat1), math.radians(r.lat2)
        h = (
            math.sin((f2 - f1) / 2) ** 2
            + math.cos(f1) * math.cos(f2) * math.sin(math.radians(r.lon2 - r.lon1) / 2) ** 2
        )
        ref = 2 * R * math.asin(math.sqrt(h))
        assert abs(ref - r.geo_dist_m) < 1e-5


def test_viewshed_polygonize_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "viewshed_polygonize")


def test_viewshed_polygonize_covers_all_visible_cells(spark):
    """Rectangle regions must partition the visible set exactly: cell
    count sum equals the number of visible LOS cells, and no two
    rectangles overlap."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    vis = {
        (r.px, r.py)
        for r in entrymod.queries()["viewshed_los"](spark, SF_DIR).collect()
        if r.visible == 1
    }
    rects = entrymod.queries()["viewshed_polygonize"](spark, SF_DIR).collect()
    covered = []
    for r in rects:
        for x in range(r.x0, r.x1 + 1):
            for y in range(r.y0, r.y1 + 1):
                covered.append((x, y))
    assert len(covered) == len(set(covered)) == len(vis)
    assert set(covered) == vis
    assert sum(r.n_cells for r in rects) == len(vis)


def test_round3_geo_additions_match_oracle(record, ducks):
    for key in ("viewshed_contour_polygons", "map_scale_zoom", "sector_ring_points"):
        assert_record_matches_oracle(record, ducks, key)


def test_sector_rings_close_and_track_libm(spark):
    """Every sampled sector ring starts and ends at its center, has
    ARC_POINT_COUNT+1 points, and the polynomial vertices agree with
    float-libm trig to < 1e-5 (series + rounding bound)."""
    import collections
    import math

    import __spark_entry__ as entrymod
    from gdalos_spark.operators.viewshed import ARC_POINT_COUNT
    from tests.conftest import SF_DIR

    az = {
        r.event_id: r
        for r in entrymod.queries()["azimuth_normalize"](spark, SF_DIR).collect()
    }
    rows = entrymod.queries()["sector_ring_points"](spark, SF_DIR).collect()
    rings = collections.defaultdict(list)
    for r in rows:
        rings[r.event_id].append(r)
    assert rings
    for ev, pts in rings.items():
        pts.sort(key=lambda r: r.point_idx)
        assert len(pts) == ARC_POINT_COUNT + 1
        assert (pts[0].x, pts[0].y) == (pts[-1].x, pts[-1].y)
        spec = az[ev]
        for p in pts:
            if p.kind != "arc":
                continue
            ang = spec.a_from_rad + (p.point_idx - 1) * (
                (spec.a_to_rad - spec.a_from_rad) / (ARC_POINT_COUNT - 2)
            )
            px = (ev * 7919 % 6400) / 100.0
            py = (ev * 104729 % 6400) / 100.0
            rr = 5.0 + ev % 7
            assert abs(px + rr * math.cos(ang) - p.x) < 1e-5
            assert abs(py + rr * math.sin(ang) - p.y) < 1e-5


def test_point_to_point_los_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "point_to_point_los")


def test_los_geometry_has_one_home():
    """Every viewshed key reaches the DEM through one radial sweep or
    one link profile: in operators/viewshed.py the running-max window
    (`rowsBetween`, and its SQL twin's `1 PRECEDING`) and the ray
    bucketing (`_ray_cols` / `_ray_sql`) sit only inside
    `_radial_los` / `_radial_los_sql`, the observer set becomes a frame
    through the one `createDataFrame` of `_observers`, and the midpoint
    sampling is spelled once per engine, inside `_link_profile` /
    `_link_profile_sql`."""
    import ast
    import pathlib
    import re

    from gdalos_spark.operators import viewshed

    path = pathlib.Path(viewshed.__file__)
    text = path.read_text()
    tree = ast.parse(text)
    defs = [n for n in tree.body if isinstance(n, ast.FunctionDef)]

    def owner(lineno: int) -> str | None:
        """The module-level function holding `lineno`."""
        return next((d.name for d in defs if d.lineno <= lineno <= d.end_lineno), None)

    calls = [
        (n.func.attr if isinstance(n.func, ast.Attribute) else n.func.id, n)
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, (ast.Attribute, ast.Name))
    ]
    homes = {
        "rowsBetween": "_radial_los",
        "_ray_cols": "_radial_los",
        "_ray_sql": "_radial_los_sql",
    }
    for name, home in homes.items():
        sites = [owner(n.lineno) for fn, n in calls if fn == name]
        assert sites == [home], (name, sites)
    obs_frames = [
        owner(n.lineno) for fn, n in calls
        if fn == "createDataFrame"
        and ("OBSERVERS" in ast.unparse(n) or owner(n.lineno) == "_observers")
    ]
    assert obs_frames == ["_observers"], obs_frames

    lines = text.splitlines()

    def sites(pattern: str) -> list[tuple[str | None, str]]:
        return sorted(
            (owner(i + 1), m.group(0))
            for i, line in enumerate(lines)
            for m in re.finditer(pattern, line)
        )

    assert [s for s, _ in sites(r"1 PRECEDING")] == ["_radial_los_sql"]
    mid = sites(r"\* (?:s\.)?i \+ \{n // 2\}\) (?:div|//) \{n\}")
    assert [(s, "div" in m) for s, m in mid] == [
        ("_link_profile", True), ("_link_profile_sql", False)
    ], mid
