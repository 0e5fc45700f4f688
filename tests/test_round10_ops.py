"""Round-10-session tests: ellipsoidal geodesic distance, polar
stereographic reprojection, and the stream-stream LEFT OUTER join."""

import math

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_record_matches_oracle


# --- geo_distance_ellipsoidal ---------------------------------------------


def _vincenty_m(lat1, lon1, lat2, lon2):
    """Pure-Python Vincenty inverse on WGS-84 (Vincenty 1975) — the
    sub-millimeter reference the Andoyer-Lambert series is pinned to."""
    a = 6378137.0
    f = 1 / 298.257223563
    b = (1 - f) * a
    L = math.radians(lon2 - lon1)
    U1 = math.atan((1 - f) * math.tan(math.radians(lat1)))
    U2 = math.atan((1 - f) * math.tan(math.radians(lat2)))
    sU1, cU1 = math.sin(U1), math.cos(U1)
    sU2, cU2 = math.sin(U2), math.cos(U2)
    lam = L
    for _ in range(200):
        sl, cl = math.sin(lam), math.cos(lam)
        ss = math.hypot(cU2 * sl, cU1 * sU2 - sU1 * cU2 * cl)
        if ss == 0:
            return 0.0
        cs = sU1 * sU2 + cU1 * cU2 * cl
        sig = math.atan2(ss, cs)
        sa = cU1 * cU2 * sl / ss
        c2a = 1 - sa * sa
        c2m = cs - 2 * sU1 * sU2 / c2a if c2a else 0.0
        C = f / 16 * c2a * (4 + f * (4 - 3 * c2a))
        lamp = lam
        lam = L + (1 - C) * f * sa * (
            sig + C * ss * (c2m + C * cs * (-1 + 2 * c2m * c2m))
        )
        if abs(lam - lamp) < 1e-13:
            break
    u2 = c2a * (a * a - b * b) / (b * b)
    A = 1 + u2 / 16384 * (4096 + u2 * (-768 + u2 * (320 - 175 * u2)))
    B = u2 / 1024 * (256 + u2 * (-128 + u2 * (74 - 47 * u2)))
    dsig = B * ss * (
        c2m
        + B / 4 * (
            cs * (-1 + 2 * c2m * c2m)
            - B / 6 * c2m * (-3 + 4 * ss * ss) * (-3 + 4 * c2m * c2m)
        )
    )
    return b * A * (sig - dsig)


def test_geo_ellipsoidal_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "geo_distance_ellipsoidal")


def test_geo_ellipsoidal_beats_sphere_vs_vincenty(spark):
    """The point of the key (VERDICT r09 Missing #1): the ellipsoidal
    series must land within tens of meters of the true geodesic where
    the spherical model errs by kilometers. Residual bound follows
    O(f^2) ~ 1e-5 relative at the <=4700 km link lengths the bounded
    endpoints produce."""
    rows = entrymod.queries()["geo_distance_ellipsoidal"](spark, SF_DIR).collect()
    assert rows
    worst_e = worst_s = 0.0
    for r in rows:
        true = _vincenty_m(r.lat1, r.lon1, r.lat2, r.lon2)
        worst_e = max(worst_e, abs(r.geodesic_dist_m - true))
        worst_s = max(worst_s, abs(r.sphere_dist_m - true))
        assert abs((r.geodesic_dist_m - r.sphere_dist_m) - r.delta_m) < 1e-5
    assert worst_e < 50.0, worst_e          # O(f^2) residual
    assert worst_s > 20.0 * worst_e, (worst_s, worst_e)  # the model gap is real


# --- crs_reproject_stere ----------------------------------------------------


def test_crs_stere_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "crs_reproject_stere")


def test_stere_series_tracks_libm_snyder(ducks):
    """The polynomial forward projection must agree with the libm
    Snyder 21-33/34 evaluation to sub-micrometer — the series are
    ulp-exact on this domain, not approximations."""
    from gdalos_spark.operators import raster as R

    a = 6378137.0
    e = math.sqrt(R._UTM_E2)
    k0, FE, FN = 0.994, 2000000.0, 2000000.0

    def snyder(lat_deg, lon_deg):
        phi, lam = math.radians(lat_deg), math.radians(lon_deg)
        t = math.tan(math.pi / 4 - phi / 2) * (
            (1 + e * math.sin(phi)) / (1 - e * math.sin(phi))
        ) ** (e / 2)
        rho = 2 * a * k0 * t / math.sqrt((1 + e) ** (1 + e) * (1 - e) ** (1 - e))
        return FE + rho * math.sin(lam), FN - rho * math.cos(lam)

    q = R._stere_chain().wrap_sql(
        "SELECT px, py, 1 AS elev FROM (SELECT unnest(range(0, 64, 7)) AS px),"
        " (SELECT unnest(range(0, 64, 7)) AS py)",
        keep=("px", "py", "easting", "northing"),
        inputs=("px", "py", "elev"),
    )
    for px, py, x, y in ducks.execute(
        f"SELECT px, py, easting, northing FROM ({q})"
    ).fetchall():
        X, Y = snyder(30.0 + py * 0.01, 30.0 + px * 0.01)
        assert abs(x - X) < 1e-6 and abs(y - Y) < 1e-6, (px, py)


# --- crs_reproject_lcc --------------------------------------------------


def test_crs_lcc_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "crs_reproject_lcc")


def test_lcc_series_tracks_libm_snyder(ducks):
    """The extent-anchored t^n expansion must agree with libm Snyder
    15-1..15-10 to sub-micrometer on the source extent."""
    from gdalos_spark.operators import raster as R

    a = 6378137.0
    e = math.sqrt(R._UTM_E2)
    p1, p2 = math.radians(30.0), math.radians(60.0)
    phi0, lam0 = math.radians(30.0), math.radians(30.0)
    FE = FN = 1000000.0
    m = lambda p: math.cos(p) / math.sqrt(1 - e * e * math.sin(p) ** 2)  # noqa: E731
    t = lambda p: math.tan(math.pi / 4 - p / 2) * (  # noqa: E731
        (1 + e * math.sin(p)) / (1 - e * math.sin(p))
    ) ** (e / 2)
    n = (math.log(m(p1)) - math.log(m(p2))) / (math.log(t(p1)) - math.log(t(p2)))
    Fc = m(p1) / (n * t(p1) ** n)
    rho0 = a * Fc * t(phi0) ** n

    def snyder(lat, lon):
        rho = a * Fc * t(math.radians(lat)) ** n
        g = n * (math.radians(lon) - lam0)
        return FE + rho * math.sin(g), FN + rho0 - rho * math.cos(g)

    q = R._lcc_chain().wrap_sql(
        "SELECT px, py, 1 AS elev FROM (SELECT unnest(range(0, 64, 7)) AS px),"
        " (SELECT unnest(range(0, 64, 7)) AS py)",
        keep=("px", "py", "easting", "northing"),
        inputs=("px", "py", "elev"),
    )
    for px, py, x, y in ducks.execute(
        f"SELECT px, py, easting, northing FROM ({q})"
    ).fetchall():
        X, Y = snyder(30.0 + py * 0.01, 30.0 + px * 0.01)
        assert abs(x - X) < 1e-6 and abs(y - Y) < 1e-6, (px, py)


# --- streaming_stream_outer_join --------------------------------------------


def test_streaming_outer_join_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "streaming_stream_outer_join")


def test_streaming_outer_join_semantics(spark, ducks):
    """Pins the outer-specific mechanics: every inner match appears, the
    null side is exactly the evictable unmatched clicks (min-of-both-
    sides watermark, ms floor), and tail clicks emit nothing."""
    from gdalos_spark.streaming.events import SSOJ_DELAY_H, SSOJ_RANGE_H

    rows = entrymod.queries()["streaming_stream_outer_join"](spark, SF_DIR).collect()
    nulls = {r.click_id for r in rows if r.buy_id == -1}
    matched = {r.click_id for r in rows if r.buy_id != -1}
    assert nulls and matched
    assert not (nulls & matched)  # a click either converted or didn't
    # gap_sec is within the horizon on matched rows, sentinel on nulls
    for r in rows:
        if r.buy_id != -1:
            assert 0 <= r.gap_sec <= SSOJ_RANGE_H * 3600
        else:
            assert r.gap_sec == -1
    # the watermark tail exists and is silent: unmatched clicks past the
    # eviction bound are absent from the output entirely
    wm_us = ducks.execute(
        f"""SELECT (FLOOR(LEAST(
              MAX(CASE WHEN event_type = 'click' THEN epoch_ns(ts) END),
              MAX(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END)
            ) // 1000 / 1000) - {SSOJ_DELAY_H * 3600 * 1000}) * 1000 FROM events"""
    ).fetchone()[0]
    tail = {
        r[0]
        for r in ducks.execute(
            f"""WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
            p AS (SELECT * FROM events WHERE event_type = 'purchase')
            SELECT c.event_id FROM c
            WHERE epoch_ns(c.ts) // 1000 + {SSOJ_RANGE_H * 3600 * 1000000} >= {wm_us}
              AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                              AND p.ts >= c.ts
                              AND p.ts <= c.ts + INTERVAL {SSOJ_RANGE_H} HOUR)"""
        ).fetchall()
    }
    assert tail, "corpus should leave unmatched clicks inside the watermark tail"
    assert not (tail & nulls) and not (tail & matched)
