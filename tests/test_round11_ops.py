"""Round-11-session tests: Albers equal-area warp, geodesic direct
problem, containment dedup, fill-nodata interpolation, and the
stream-stream FULL OUTER join."""

import math

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_record_matches_oracle


# --- crs_reproject_aea ------------------------------------------------------


def test_crs_aea_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "crs_reproject_aea")


def test_aea_series_tracks_libm_snyder(ducks):
    """The authalic-q series + IEEE sqrt forward must agree with libm
    Snyder 14-1..14-7 to sub-hundredth-of-a-micrometer on the extent."""
    from gdalos_spark.operators import raster as R

    a, e2, e = R._UTM_A, R._UTM_E2, math.sqrt(R._UTM_E2)

    def m(phi):
        return math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)

    def qf(phi):
        return (1 - e2) * (
            math.sin(phi) / (1 - e2 * math.sin(phi) ** 2)
            - (1 / (2 * e))
            * math.log((1 - e * math.sin(phi)) / (1 + e * math.sin(phi)))
        )

    p1, p2, phi0 = R._AEA_P1, R._AEA_P2, math.radians(30.0)
    n = (m(p1) ** 2 - m(p2) ** 2) / (qf(p2) - qf(p1))
    C = m(p1) ** 2 + n * qf(p1)
    rho0 = a * math.sqrt(C - n * qf(phi0)) / n

    def snyder(lat_deg, lon_deg):
        phi, lam = math.radians(lat_deg), math.radians(lon_deg - 30.0)
        rho = a * math.sqrt(C - n * qf(phi)) / n
        th = n * lam
        return 1e6 + rho * math.sin(th), 1e6 + rho0 - rho * math.cos(th)

    q = R._aea_chain().wrap_sql(
        "SELECT px, py, 1 AS elev FROM (SELECT unnest(range(0, 64, 7)) AS px),"
        " (SELECT unnest(range(0, 64, 7)) AS py)",
        keep=("px", "py", "easting", "northing"),
        inputs=("px", "py", "elev"),
    )
    for px, py, x, y in ducks.execute(
        f"SELECT px, py, easting, northing FROM ({q})"
    ).fetchall():
        X, Y = snyder(30.0 + py * 0.01, 30.0 + px * 0.01)
        assert abs(x - X) < 1e-7 and abs(y - Y) < 1e-7, (px, py)


def test_dbl_lit_survives_duckdb_decimal_cast(ducks):
    """Regression for the literal-parsing hazard _dbl_lit fixes: DuckDB's
    DECIMAL->DOUBLE cast of the bare literal is one ulp off the correct
    string->binary64 parse for this constant; the exponent spelling must
    land exactly."""
    from gdalos_spark.operators.raster import _dbl_lit

    c = 0.9933056200098587
    assert ducks.execute(f"SELECT {_dbl_lit(c)}").fetchone()[0] == c
    # the hazard is real: the bare-literal cast path disagrees
    assert ducks.execute(f"SELECT CAST({c!r} AS DOUBLE)").fetchone()[0] != c


def test_literal_audit_finds_no_hazard():
    """No oracle_sql() string carries a bare fractional literal whose
    DuckDB DECIMAL->DOUBLE cast misses the correct parse."""
    from tools import literal_audit

    assert literal_audit.main() == 0


# --- geodesic_destination ---------------------------------------------------


def test_geodesic_destination_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "geodesic_destination")


def test_destination_tracks_libm_direct(spark):
    """The polynomial direct solution must agree with the libm spherical
    direct formulas (asin/atan2) to ~1e-9 deg (~0.1 mm), and the
    inverse of the output must give back the input range."""
    from gdalos_spark.operators import viewshed as V

    R = V._DEST_R_M
    rows = entrymod.queries()["geodesic_destination"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        f1, a, s = math.radians(r.lat1), math.radians(r.az_deg), r.dist_m / R
        sf2 = math.sin(f1) * math.cos(s) + math.cos(f1) * math.sin(s) * math.cos(a)
        lat2 = math.degrees(math.asin(sf2))
        dl = math.degrees(
            math.atan2(
                math.sin(a) * math.sin(s) * math.cos(f1),
                math.cos(s) - math.sin(f1) * sf2,
            )
        )
        assert abs(r.lat2 - lat2) < 1e-8, r
        assert abs(r.lon2 - (r.lon1 + dl)) < 1e-8, r
        # inverse round-trip: haversine back to the emitted destination
        f2 = math.radians(r.lat2)
        dph = (f2 - f1) / 2
        dlh = math.radians(r.lon2 - r.lon1) / 2
        h = math.sqrt(
            math.sin(dph) ** 2 + math.cos(f1) * math.cos(f2) * math.sin(dlh) ** 2
        )
        back = 2 * R * math.asin(h)
        assert abs(back - r.dist_m) < 1e-3, r  # sub-millimeter closure


# --- dedup_containment ------------------------------------------------------


def test_dedup_containment_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "dedup_containment")


def test_containment_is_directional_and_thresholded(spark):
    from gdalos_spark.operators.dedup import CONTAIN_TAU

    rows = entrymod.queries()["dedup_containment"](spark, SF_DIR).collect()
    for r in rows:
        assert r.containment >= CONTAIN_TAU
        assert r.containee != r.container
        assert r.shared <= r.sz_containee
        assert r.containment == r.shared / float(r.sz_containee)


def test_containment_catches_what_jaccard_scores_low(spark):
    """The reason the key exists: a containment hit whose rare-set sizes
    are very different scores LOW on Jaccard. Verify the relationship
    holds on every emitted pair: jaccard <= containment by definition,
    with equality only when both sides have the same rare size."""
    rows = entrymod.queries()["dedup_containment"](spark, SF_DIR).collect()
    if not rows:  # corpus-dependent; the oracle test already gates values
        return
    for r in rows:
        # |A n B| / |A u B|  <=  |A n B| / |A|  (A the smaller side)
        assert r.shared / float(2 * r.sz_containee - r.shared) <= r.containment + 1e-12


# --- raster_fill_nodata -----------------------------------------------------


def test_fill_nodata_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_fill_nodata")


def test_fill_nodata_idw_weights_by_hand(spark):
    """Recompute one filled hole from the raw DEM in Python: IDW with
    integer weights 40/d^2 over unmasked Chebyshev-radius-2 neighbors."""
    from gdalos_spark.datamodel import dem_grid
    from gdalos_spark.operators.raster import (
        FILL_NDV,
        FILL_RADIUS,
        FILL_W_LCM,
        _FILL_MASK_MOD,
    )

    dem = {
        (r.px, r.py): float(r.elev)
        for r in dem_grid(spark, SF_DIR).collect()
    }

    def is_hole(px, py):
        return (px * 7919 + py * 104729) % _FILL_MASK_MOD == 0

    out = {
        (r.px, r.py): r
        for r in entrymod.queries()["raster_fill_nodata"](spark, SF_DIR).collect()
    }
    assert out
    checked_filled = checked_empty = 0
    for (px, py), r in out.items():
        assert is_hole(px, py)
        num = den = 0.0
        n = 0
        for dx in range(-FILL_RADIUS, FILL_RADIUS + 1):
            for dy in range(-FILL_RADIUS, FILL_RADIUS + 1):
                if dx == 0 and dy == 0:
                    continue
                key = (px + dx, py + dy)
                if key in dem and not is_hole(*key):
                    w = FILL_W_LCM // (dx * dx + dy * dy)
                    num += dem[key] * w
                    den += w
                    n += 1
        assert r.n_nbrs == n
        if n:
            assert abs(r.fill_val - num / den) < 1e-9, (px, py)
            assert r.true_val == dem[(px, py)]
            checked_filled += 1
        else:
            assert r.fill_val == FILL_NDV
            checked_empty += 1
    assert checked_filled > 0


# --- streaming_stream_full_outer_join ---------------------------------------


def test_stream_full_outer_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "streaming_stream_full_outer_join")


def test_stream_full_outer_has_both_null_tails(spark):
    """The full-outer key must actually emit BOTH unmatched sides (else
    it degenerates to the left-outer key). Its two arms' state metrics
    end up under the combined query name only."""
    from gdalos_spark.streaming.events import LAST_STATE_METRICS, SSFOJ_QUERY_NAME

    rows = entrymod.queries()["streaming_stream_full_outer_join"](
        spark, SF_DIR
    ).collect()
    kinds = {
        (r.click_id == -1, r.buy_id == -1) for r in rows
    }
    assert (False, False) in kinds     # matched pairs
    assert (False, True) in kinds      # unconverted clicks
    assert (True, False) in kinds      # orphan purchases
    assert {r["arm"] for r in LAST_STATE_METRICS[SSFOJ_QUERY_NAME]} == {"l", "r"}
    assert [n for n in LAST_STATE_METRICS if n.startswith(SSFOJ_QUERY_NAME)] == [
        SSFOJ_QUERY_NAME
    ]


# --- raster_flow_accumulation ------------------------------------------------


def test_flow_accumulation_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_flow_accumulation")


def test_flow_accumulation_conserves_path_steps(spark):
    """Cross-operator conservation: every landing counted by the
    accumulation is exactly one step of one cell's downstream walk, so
    sum(flow_acc) must equal sum(path_steps) from the pointer-jumping
    key. Sources (no parents) must carry zero accumulation."""
    acc = entrymod.queries()["raster_flow_accumulation"](spark, SF_DIR).collect()
    paths = entrymod.queries()["raster_flow_path_length"](spark, SF_DIR).collect()
    assert sum(r.flow_acc for r in acc) == sum(r.path_steps for r in paths)
    for r in acc:
        if r.n_parents == 0:
            assert r.flow_acc == 0
        else:
            assert r.flow_acc >= r.n_parents


# --- raster_grid_idw ---------------------------------------------------------


def test_grid_idw_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_grid_idw")


def test_grid_idw_by_hand(spark, ducks):
    """Recompute a handful of cells from the raw sampled points in
    Python: exact centi-cell distances, integerized weights, radius
    cut, NDV for empty neighborhoods."""
    from gdalos_spark.operators.raster import (
        IDW_NDV,
        IDW_RADIUS_CENTI,
        IDW_SAMPLE_MOD,
        IDW_W_SCALE,
    )

    pts = ducks.execute(
        f"""SELECT CAST(event_id * 7919 % 6400 AS BIGINT),
                   CAST(event_id * 104729 % 6400 AS BIGINT),
                   CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
            FROM events WHERE event_id % {IDW_SAMPLE_MOD} = 0"""
    ).fetchall()
    out = {
        (r.px, r.py): r
        for r in entrymod.queries()["raster_grid_idw"](spark, SF_DIR).collect()
    }
    assert len(out) == 64 * 64
    r2 = IDW_RADIUS_CENTI * IDW_RADIUS_CENTI
    n_filled = n_empty = 0
    for px in range(0, 64, 11):
        for py in range(0, 64, 11):
            cx, cy = px * 100 + 50, py * 100 + 50
            wsum = vsum = n = 0
            for xi, yi, vc in pts:
                d2 = (xi - cx) ** 2 + (yi - cy) ** 2
                if d2 <= r2:
                    w = IDW_W_SCALE if d2 == 0 else IDW_W_SCALE // d2
                    wsum += w
                    vsum += w * vc
                    n += 1
            r = out[(px, py)]
            assert r.n_pts == n, (px, py)
            if n:
                assert abs(r.idw_val - (vsum / wsum) / 100.0) < 1e-9
                n_filled += 1
            else:
                assert r.idw_val == IDW_NDV
                n_empty += 1
    assert n_filled > 0


# --- embedding_random_projection ---------------------------------------------


def test_random_projection_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "embedding_random_projection")


def test_random_projection_preserves_distances(spark):
    """The JL guarantee the report exists to check: with k=16 sign
    projections, pairwise distance ratios concentrate around 1
    (spread ~ sqrt(2/k) ~ 0.35). Assert the mean ratio is near 1 and
    the overwhelming majority of pairs fall inside a loose 3-sigma
    band — distribution-level, not per-pair (JL is probabilistic)."""
    rows = entrymod.queries()["embedding_random_projection"](spark, SF_DIR).collect()
    assert len(rows) == 50 * 49 // 2
    ratios = sorted(r.ratio for r in rows)
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.2, mean
    assert 0.5 < ratios[len(ratios) // 2] < 1.5  # median
    # the label-clustered synthetic corpus has a heavier right tail than
    # iid-Gaussian JL theory (correlated near-dup pairs with tiny
    # d2_orig) — the band is deliberately loose
    inside = sum(1 for x in ratios if 0.0 < x < 3.0)
    assert inside / len(ratios) > 0.90


def test_jl_sign_matrix_is_balanced():
    """Sanity on the deterministic sign scramble: each projection row
    must be reasonably balanced between +1 and -1 (a constant-sign row
    would make that output dim the vector mean, not a projection)."""
    from gdalos_spark.operators.similarity import JL_K, _jl_sign
    from gdalos_spark.functions.vectors import EMB_DIM

    for i in range(JL_K):
        pos = sum(1 for j in range(EMB_DIM) if _jl_sign(i, j) > 0)
        assert 16 <= pos <= 48, (i, pos)


# --- raster_stream_order -----------------------------------------------------


def test_stream_order_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_stream_order")


def test_stream_order_strahler_semantics(spark):
    """Recompute Strahler by topological iteration in Python from the
    flow field and compare cell-for-cell; also pin the classic Strahler
    bound (order k needs >= 2^(k-1) cells upstream) against the
    accumulation key."""
    fd = {
        (r.px, r.py): r.flow_dir
        for r in entrymod.queries()["raster_flow_direction"](spark, SF_DIR).collect()
    }
    from gdalos_spark.operators.raster import _D8

    step = {code: (dx, dy) for dx, dy, code in _D8}
    parents = {}
    for (px, py), d in fd.items():
        if d:
            t = (px + step[d][0], py + step[d][1])
            if t in fd:
                parents.setdefault(t, []).append((px, py))
    order = {c: 1 for c in fd}
    for _ in range(64):
        new = {}
        for c in fd:
            ps = parents.get(c)
            if not ps:
                new[c] = 1
            else:
                mx = max(order[p] for p in ps)
                k = sum(1 for p in ps if order[p] == mx)
                new[c] = mx + 1 if k >= 2 else mx
        if new == order:
            break
        order = new
    got = {
        (r.px, r.py): r
        for r in entrymod.queries()["raster_stream_order"](spark, SF_DIR).collect()
    }
    assert set(got) == set(fd)
    for c, r in got.items():
        assert r.strahler == order[c], (c, r.strahler, order[c])
        assert r.n_parents == len(parents.get(c, []))
    acc = {
        (r.px, r.py): r.flow_acc
        for r in entrymod.queries()["raster_flow_accumulation"](spark, SF_DIR).collect()
    }
    for c, r in got.items():
        assert 2 ** (r.strahler - 1) <= acc[c] + 1, c
    assert max(r.strahler for r in got.values()) >= 2  # channels actually merge


# --- markov_stationary -------------------------------------------------------


def test_markov_stationary_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "markov_stationary")


def test_markov_stationary_is_the_chain_fixpoint(spark):
    """Recompute the power iteration in Python ints from the transition
    counts and compare micro-for-micro; also sanity: the mass sums to
    ~1 (floor drop < k micro per round) and the iterate is (near) a
    fixpoint of one more application."""
    from gdalos_spark.operators.relational import (
        _MK_MICRO,
        MARKOV_POWER_ROUNDS,
    )

    trans = entrymod.queries()["events_markov_transitions"](spark, SF_DIR).collect()
    counts = {}
    row_total = {}
    for r in trans:
        if r.from_type == "_START":
            continue
        counts[(r.from_type, r.to_type)] = r.n
        row_total[r.from_type] = row_total.get(r.from_type, 0) + r.n
    states = sorted(row_total)
    pi = {s: _MK_MICRO // len(states) for s in states}
    for _ in range(MARKOV_POWER_ROUNDS):
        new = {}
        for (a, b), n in counts.items():
            new[b] = new.get(b, 0) + (pi.get(a, 0) * n) // row_total[a]
        pi = new
    got = {r.state: r for r in entrymod.queries()["markov_stationary"](spark, SF_DIR).collect()}
    assert set(got) == set(pi)
    for s in pi:
        assert got[s].pi_micro == pi[s], (s, got[s].pi_micro, pi[s])
    total = sum(r.pi_micro for r in got.values())
    drop_bound = MARKOV_POWER_ROUNDS * len(states) * len(states)
    assert _MK_MICRO - drop_bound <= total <= _MK_MICRO
    # near-fixpoint: one more application moves each state < 1e-3
    nxt = {}
    for (a, b), n in counts.items():
        nxt[b] = nxt.get(b, 0) + (pi.get(a, 0) * n) // row_total[a]
    for s in pi:
        assert abs(nxt.get(s, 0) - pi[s]) < 1e-3 * _MK_MICRO, s
