"""Round-12-session tests: the ITM (Longley-Rice) non-free-space loss
key, the scalar_chain transcendental bank it rides on, and the inverse
UTM (round-trip closure)."""

import math

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_record_matches_oracle


# --- scalar_chain primitives vs libm ---------------------------------------


def _eval_chain(ducks, build, inputs):
    """Evaluate a ScalarChain over literal input columns in DuckDB and
    return the final row as a dict."""
    from gdalos_spark.functions.literals import dbl_lit
    from gdalos_spark.functions.scalar_chain import ScalarChain, duckdb_spellings

    c = ScalarChain(*duckdb_spellings())
    build(c)
    cols = ", ".join(f"{dbl_lit(v)} AS {k}" for k, v in inputs.items())
    cur = ducks.execute(c.wrap_sql(f"SELECT {cols}"))
    names = [d[0] for d in cur.description]
    return dict(zip(names, cur.fetchone()))


def test_chain_ln_tracks_libm(ducks):
    for y in (1e-5, 0.02667, 0.9, 1.0, 2.718281828, 433.0, 5495.0, 1.4e6, 8.7e8):
        row = _eval_chain(ducks, lambda c: c.ln("y", "out"), {"y": y})
        # 1e9 integerization bounds the input quantization at 5e-10 abs
        assert abs(row["out"] - math.log(y)) < 6e-8 + 5e-10 / y, y


def test_chain_exp_neg_tracks_libm(ducks):
    for x in (0.0, 1e-9, 0.1, 0.6931, 1.0, 5.2, 10.0, 29.9):
        row = _eval_chain(ducks, lambda c: c.exp_neg("x", "out"), {"x": x})
        assert abs(row["out"] - math.exp(-x)) < 1e-11 * max(1.0, math.exp(-x) * 1e11 * 1e-9) + 4e-12, x


def test_chain_cbrt_tracks_libm(ducks):
    for u in (0.011, 1.0, 90.0, 2500.0, 1.3e5, 7.7e7, 3.7e8):
        row = _eval_chain(ducks, lambda c: c.cbrt("u", "out"), {"u": u})
        rel = abs(row["out"] - u ** (1.0 / 3.0)) / u ** (1.0 / 3.0)
        # dominated by the 1e-6 input integerization at small u
        assert rel < 6e-7 / min(u, 1e6) ** 0.33 + 1e-12, u


def test_chain_leveling_respects_dependencies():
    from gdalos_spark.functions.scalar_chain import ScalarChain, duckdb_spellings

    c = ScalarChain(*duckdb_spellings())
    c.add("a", "(x + 1)")
    c.add("b", "(x + 2)")  # independent of a -> same level
    c.add("d", "(a * b)")  # depends on both -> new level
    lv = c.levels()
    assert [n for n, _ in lv[0]] == ["a", "b"]
    assert [n for n, _ in lv[1]] == ["d"]


def test_chain_literal_tail_is_not_a_reference(spark, ducks):
    """`e0` is also the tail of every exponent-spelled literal (`1.0e0`);
    a definition named `e0` is still carried only once it exists, so
    both renderers bind it and agree on the rows."""
    from gdalos_spark.functions.scalar_chain import (
        ScalarChain,
        duckdb_spellings,
        spark_spellings,
    )

    def chain(spellings):
        c = ScalarChain(*spellings)
        c.add("x", "(a * 2.0e0)")
        c.add("y", "(x + 1.0e0)")
        c.add("e0", "(y * 3.0e0)")
        return c

    keep, inputs = ("k", "e0"), ("k", "a")
    duck = chain(duckdb_spellings()).wrap_sql(
        "SELECT * FROM (VALUES (1, 0.5e0), (2, 4.0e0)) t(k, a)", keep=keep, inputs=inputs
    )
    want = sorted(ducks.execute(duck).fetchall())
    assert want == [(1, 6.0), (2, 27.0)]
    src = spark.createDataFrame([(1, 0.5), (2, 4.0)], "k int, a double")
    got = chain(spark_spellings()).apply_spark(src, keep=keep, inputs=inputs)
    assert sorted(tuple(r) for r in got.select(*keep).collect()) == want


# --- crs_reproject_utm_inverse ----------------------------------------------


def test_utm_roundtrip_closure_submillimeter(spark):
    """forward ∘ inverse ≡ identity within the series truncation:
    < 5e-9 deg (~0.5 mm) on every cell of the zone-36 extent."""
    rows = entrymod.queries()["crs_reproject_utm_inverse"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert max(abs(r.err_lat_deg) for r in rows) < 5e-9
    assert max(abs(r.err_lon_deg) for r in rows) < 5e-9


def test_utm_inverse_tracks_libm_snyder(spark):
    """The polynomial-trig inverse must agree with a libm Snyder
    inverse on the projected points to ~1e-9 deg."""
    from gdalos_spark.operators import raster as R

    a, e2, ep2, k0, fe = R._UTM_A, R._UTM_E2, R._UTM_EP2, R._UTM_K0, R._UTM_FE
    e1 = R._UTM_E1
    cm = R.utm_central_meridian(R._utm_extent_zone(R._UTM_LON_0))

    def snyder_inverse(E, N):
        m = N / k0
        mu = m / (a * R._UTM_A0)
        phi1 = (
            mu
            + R._UTM_J2 * math.sin(2 * mu)
            + R._UTM_J4 * math.sin(4 * mu)
            + R._UTM_J6 * math.sin(6 * mu)
            + R._UTM_J8 * math.sin(8 * mu)
        )
        sf, cf = math.sin(phi1), math.cos(phi1)
        t1, c1 = math.tan(phi1), ep2 * cf * cf
        w1 = 1 - e2 * sf * sf
        n1 = a / math.sqrt(w1)
        r1 = a * (1 - e2) / (w1 * math.sqrt(w1))
        d = (E - fe) / (n1 * k0)
        T1 = t1 * t1
        phi = phi1 - (n1 * t1 / r1) * (
            d * d / 2
            - (5 + 3 * T1 + 10 * c1 - 4 * c1 * c1 - 9 * ep2) * d**4 / 24
            + (61 + 90 * T1 + 298 * c1 + 45 * T1 * T1 - 252 * ep2 - 3 * c1 * c1)
            * d**6 / 720
        )
        lam = (
            d
            - (1 + 2 * T1 + c1) * d**3 / 6
            + (5 - 2 * c1 + 28 * T1 - 3 * c1 * c1 + 8 * ep2 + 24 * T1 * T1)
            * d**5 / 120
        ) / cf
        return math.degrees(phi), cm + math.degrees(lam)

    rows = entrymod.queries()["crs_reproject_utm_inverse"](spark, SF_DIR).collect()
    for r in rows[::257]:
        lat_ref, lon_ref = snyder_inverse(r.easting, r.northing)
        assert abs(r.lat_rt - lat_ref) < 1e-9
        assert abs(r.lon_rt - lon_ref) < 1e-9


# --- radio_itm_loss ---------------------------------------------------------


def test_radio_itm_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "radio_itm_loss")


def _itm_libm_h0f(r, et):
    """libm twin of ITM's H0 frequency-gain table interpolation."""
    a = (25.0, 80.0, 177.0, 395.0, 705.0)
    b = (24.0, 45.0, 68.0, 80.0, 105.0)
    it = int(et)
    if it <= 0:
        it, q = 1, 0.0
    elif it >= 5:
        it, q = 5, 0.0
    else:
        q = et - it
    x = (1.0 / r) ** 2
    h0fv = 4.343 * math.log((a[it - 1] * x + b[it - 1]) * x + 1.0)
    if q != 0.0:
        h0fv = (1.0 - q) * h0fv + q * 4.343 * math.log((a[it] * x + b[it]) * x + 1.0)
    return h0fv


def _itm_libm_ahd(td):
    """libm twin of ITM's F(theta*d) scatter attenuation table."""
    if td <= 10e3:
        return 133.4 + 0.332e-3 * td - 4.343 * math.log(td)
    if td <= 70e3:
        return 104.6 + 0.212e-3 * td - 1.086 * math.log(td)
    return 71.8 + 0.157e-3 * td + 2.171 * math.log(td)


def _itm_libm(d_m, sm, dh, te1, te2, dl1, dl2, he1, he2):
    """Independent pure-libm twin of the full _itm_chain lrprop program
    (adiff line fit + two-ray LOS fit + ascat troposcatter line) —
    validates the polynomial/Newton machinery numerically, not just
    cross-engine equality. Follows NTIA ITM 1.2.2 lrprop/adiff/alos/
    ascat directly, including the a6-before-a5 call order ascat's h0s
    state makes observable. Returns (aref, dx, aes, ems)."""
    from gdalos_spark.operators import viewshed as V

    gme, wn, qk, hg = V._ITM_GME, V._ITM_WN, V._ITM_QK, V.ITM_HG
    zgnd = V._ITM_ZGND
    dls1, dls2 = math.sqrt(2 * he1 / gme), math.sqrt(2 * he2 / gme)
    dla, dlsa = dl1 + dl2, dls1 + dls2
    tha = max(te1 + te2, -(dla * gme))
    q0 = (1 - 0.8 * math.exp(-dlsa / 50e3)) * dh
    q1c = q0 * 0.78 * math.exp(-((q0 / 16.0) ** 0.25))
    afo = min(15.0, 2.171 * math.log(1 + 4.77e-4 * hg * hg * wn * q1c))
    wd1 = math.sqrt(1 + (he1 * he2 - hg * hg) / (hg * hg + 10.0))
    xd1 = dla + tha / gme

    def fht(x, pk):
        w = -math.log(pk)
        if x < 200.0:
            if pk < 1e-5 or x * w**3 > 5495.0:
                return (17.372 * math.log(x) - 117.0) if x > 1.0 else -117.0
            return 2.5e-5 * x * x / pk - 8.686 * w - 15.0
        f = 0.05751 * x - 4.343 * math.log(x)
        if x < 2000.0:
            wz = 0.0134 * x * math.exp(-0.005 * x)
            return (1 - wz) * f + wz * (17.372 * math.log(x) - 117.0)
        return f

    xht, aht = 0.0, 20.0
    for dlj, hej in ((dl1, he1), (dl2, he2)):
        a = 0.5 * dlj * dlj / hej
        wa = (a * wn) ** (1.0 / 3.0)
        pk = qk / wa
        qj = max((1.607 - pk) * 151.0 * wa * dlj / a, 1.0)
        xht += qj
        aht += fht(qj, pk)

    def aknfe(v2):
        if v2 < 5.76:
            return 6.02 + 9.11 * math.sqrt(v2) - 1.27 * v2
        return 12.953 + 4.343 * math.log(v2)

    def adiff(d):
        th, ds = tha + d * gme, d - dla
        qd = 0.0795775 * wn * ds * th * th
        adiffv = aknfe(qd * dl1 / (ds + dl1)) + aknfe(qd * dl2 / (ds + dl2))
        wa = ((ds / th) * wn) ** (1.0 / 3.0)
        pk = qk / wa
        qx = max((1.607 - pk) * 151.0 * wa * th + xht, 1.0)
        ar = 0.05751 * qx - 4.343 * math.log(qx) - aht
        qw = (wd1 + xd1 / d) * min((1 - 0.8 * math.exp(-d / 50e3)) * dh * wn, 6283.2)
        wd = 25.1 / (25.1 + math.sqrt(qw))
        return ar * wd + (1 - wd) * adiffv + afo

    xae = (wn * gme * gme) ** (-1.0 / 3.0)
    d3 = max(dlsa, dla + 1.3787 * xae)
    d4 = d3 + 2.7574 * xae
    a3, a4 = adiff(d3), adiff(d4)
    emd = (a4 - a3) / (d4 - d3)
    aed = a3 - emd * d3

    # --- ascat troposcatter line (computed for every link, as in the
    # chain): d6 evaluated BEFORE d5, h0s threading the two calls
    ad = dl1 - dl2
    rr = he2 / he1
    if ad < 0:
        ad, rr = -ad, 1.0 / rr
    ens = V.ITM_REFRACTIVITY
    etq = (5.67e-6 * ens - 2.32e-3) * ens + 0.031

    def ascat(d, h0s):
        th = te1 + te2 + d * gme
        r1 = 2.0 * wn * th * he1
        r2 = 2.0 * wn * th * he2
        if h0s > 15.0:
            h0 = h0s
        else:
            if r1 < 0.2 and r2 < 0.2:
                return 1001.0, h0s
            ss = (d - ad) / (d + ad)
            q = rr / ss
            ss = max(0.1, ss)
            q = min(max(0.1, q), 10.0)
            z0 = (d - ad) * (d + ad) * th * 0.25 / d
            temp = min(1.7, z0 / 8.0e3) ** 6
            et = (etq * math.exp(-temp) + 1.0) * z0 / 1.7556e3
            ett = max(et, 1.0)
            h0 = (_itm_libm_h0f(r1, ett) + _itm_libm_h0f(r2, ett)) / 2.0
            h0 += min(h0, (1.38 - math.log(ett)) * math.log(ss) * math.log(q) * 0.49)
            h0 = max(h0, 0.0)
            if et < 1.0:
                tt = (1.0 + 1.4142 / r1) * (1.0 + 1.4142 / r2)
                h0 = et * h0 + (1.0 - et) * 4.343 * math.log(
                    tt * tt * (r1 + r2) / (r1 + r2 + 2.8284)
                )
            if h0 > 15.0 and h0s >= 0.0:
                h0 = h0s
        tht = tha + d * gme
        return (
            _itm_libm_ahd(tht * d)
            + 4.343 * math.log(47.7 * wn * tht**4)
            - 0.1 * (ens - 301.0) * math.exp(-tht * d / 40e3)
            + h0,
            h0,
        )

    d6 = dla + 2.0 * V._ITM_DS
    d5 = dla + V._ITM_DS
    a6, h0s = ascat(d6, -15.0)
    a5, h0s = ascat(d5, h0s)
    ems0 = (a6 - a5) / V._ITM_DS
    if a5 < 1000.0 and abs(emd - ems0) > 1e-12:
        ems = ems0
        dx = max(dlsa, dla + V._ITM_DXLOG, (a5 - aed - ems0 * d5) / (emd - ems0))
        aes = (emd - ems) * dx + aed
    else:
        ems, aes, dx = emd, aed, 1.0e7

    if d_m >= dlsa:
        if d_m <= dx:
            return aed + emd * d_m, dx, aes, ems
        return aes + ems * d_m, dx, aes, ems

    wls = 0.021 / (0.021 + wn * dh / max(10e3, dlsa))
    qh = he1 + he2

    def alos(d):
        q = (1 - 0.8 * math.exp(-d / 50e3)) * dh
        s = 0.78 * q * math.exp(-((q / 16.0) ** 0.25))
        sps = qh / math.sqrt(d * d + qh * qh)
        r = (sps - zgnd) / (sps + zgnd) * math.exp(-min(10.0, wn * s * sps))
        q2 = abs(r) ** 2
        if q2 < 0.25 or q2 < sps:
            r = r * math.sqrt(sps / q2)
        alosv = emd * d + aed
        ph = wn * he1 * he2 * 2.0 / d
        if ph > 1.57:
            ph = 3.14 - 2.4649 / ph
        fld = complex(math.cos(ph), -math.sin(ph)) + r
        return (-4.343 * math.log(abs(fld) ** 2) - alosv) * wls + alosv

    d2 = dlsa
    a2 = aed + emd * d2
    d0 = 1.908 * wn * he1 * he2
    if aed >= 0:
        d0 = min(d0, 0.5 * dla)
        d1 = d0 + 0.25 * (dla - d0)
    else:
        d1 = max(-aed / emd, 0.25 * dla)
    a1 = alos(d1)
    wq = False
    ak1 = ak2 = 0.0
    if d0 < d1:
        a0 = alos(d0)
        q = math.log(d2 / d0)
        ak2 = max(
            0.0,
            ((d2 - d0) * (a1 - a0) - (d1 - d0) * (a2 - a0))
            / ((d2 - d0) * math.log(d1 / d0) - (d1 - d0) * q),
        )
        wq = aed >= 0 or ak2 > 0
        if wq:
            ak1 = (a2 - a0 - ak2 * q) / (d2 - d0)
            if ak1 < 0:
                ak1 = 0.0
                ak2 = max(a2 - a0, 0.0) / q
                if ak2 == 0:
                    ak1 = emd
    if not wq:
        ak1 = max(a2 - a1, 0.0) / (d2 - d1)
        ak2 = 0.0
        if ak1 == 0:
            ak1 = emd
    ael = a2 - ak1 * d2 - ak2 * math.log(d2)
    return max(ael + ak1 * d_m + ak2 * math.log(d_m), 0.0), dx, aes, ems


def test_radio_itm_aref_tracks_libm(ducks):
    """The gated aref_db / dx_m / aes_db values must agree with an
    independent libm evaluation of the same ITM program to ~1e-3 dB
    (bounded by the 1e-9/1e-6 integerization of the ln/cbrt inputs)."""
    from gdalos_spark.operators import viewshed as V

    sql = V.RADIO_ITM_LOSS_SQL
    start, end = sql.index("WITH dem AS"), sql.index("SELECT * FROM link")
    rows = ducks.execute(
        sql[start:end]
        + "SELECT d_m, sm, dh, te1, te2, dl1, dl2, he1, he2 FROM link"
    ).fetchall()
    assert rows
    gated = {
        (round(r[4], 6), round(r[5], 6)): (r[11], r[14], r[15])
        for r in ducks.execute(sql).fetchall()
    }
    checked = 0
    for d_m, sm, dh, te1, te2, dl1, dl2, he1, he2 in rows:
        ref, dx, aes, _ems = _itm_libm(d_m, sm, dh, te1, te2, dl1, dl2, he1, he2)
        got = gated.get((round(d_m, 6), round(dh, 6)))
        if got is None:
            continue  # two links sharing (d, dh) — skip ambiguous pins
        assert abs(got[0] - ref) < 1e-3, (d_m, dh, got[0], ref)
        # dx is meters at ~2.5e5 scale — compare relatively
        assert abs(got[1] - dx) < 1e-6 * max(abs(dx), 1.0), (d_m, got[1], dx)
        assert abs(got[2] - aes) < 1e-3, (d_m, got[2], aes)
        checked += 1
    assert checked >= 5


def test_radio_itm_scatter_regime_tracks_libm(ducks):
    """Drive the chain itself into the d > dx troposcatter regime with
    synthetic far links (the 9-km test geometry never leaves LOS) and
    pin regime pick + path loss against the libm twin."""
    from gdalos_spark.functions.scalar_chain import duckdb_spellings
    from gdalos_spark.operators import viewshed as V

    cases = [
        # (d_m, dh, te1, te2, dl1, dl2, he1, he2)
        (500e3, 40.0, -0.002, -0.001, 2000.0, 3000.0, 5.0, 7.0),
        (800e3, 90.0, 0.001, 0.002, 4000.0, 2500.0, 12.0, 3.0),
        (300e3, 15.0, -0.004, -0.003, 1500.0, 1500.0, 2.0, 2.0),
    ]
    c = V._itm_chain(*duckdb_spellings())
    saw_scatter = 0
    for d_m, dh, te1, te2, dl1, dl2, he1, he2 in cases:
        inner = (
            f"SELECT 1 AS c_custkey, 0 AS ox, 0 AS oy, 1 AS n_samples, "
            f"{d_m:.1f}e0 AS d_m, 1.0e0 AS sm, 0.0e0 AS zt, "
            f"{te1:e} AS te1, {te2:e} AS te2, {dh:.1f}e0 AS dh, "
            f"{dl1:.1f}e0 AS dl1, {dl2:.1f}e0 AS dl2, "
            f"{he1:.1f}e0 AS he1, {he2:.1f}e0 AS he2"
        )
        sql = c.wrap_sql(inner, keep=V._ITM_KEEP, inputs=V._ITM_IN)
        regime, aref, dx, aes, ems = ducks.execute(
            f"SELECT regime, aref, dx, aes, ems FROM ({sql})"
        ).fetchone()
        ref, rdx, raes, rems = _itm_libm(d_m, 1.0, dh, te1, te2, dl1, dl2, he1, he2)
        assert abs(aref - ref) < 1e-3, (d_m, aref, ref)
        assert abs(dx - rdx) < 1e-6 * max(abs(rdx), 1.0)
        assert abs(aes - raes) < 1e-3
        if d_m > rdx:
            assert regime == "scatter", (d_m, rdx, regime)
            saw_scatter += 1
    assert saw_scatter >= 2, "cases failed to reach the scatter regime"


def test_radio_itm_physics_sane(ducks):
    """Diffraction links lose more than free space; every loss is
    finite; the RadioBaseParams ride along verbatim."""
    rows = ducks.execute(entrymod.oracle_sql()["radio_itm_loss"]).fetchall()
    assert rows
    for r in rows:
        d = dict(zip("c_custkey ox oy n_samples dist_m dh_m dl1_m dl2_m theta_e1 theta_e2 regime aref_db fspl_db path_loss_db dx_m aes_db ems_db_per_m refractivity conductivity permittivity humidity".split(), r))
        assert d["path_loss_db"] >= d["fspl_db"] - 1e-12
        assert math.isfinite(d["aref_db"])
        assert d["regime"] in ("los", "diffraction", "scatter")
        assert (d["refractivity"], d["conductivity"], d["permittivity"], d["humidity"]) == (300.0, 0.03, 15.0, 10.0)
        assert d["dh_m"] >= 0
        # the scatter crossover always sits beyond the smooth-earth
        # horizon sum and the ahd log floor
        assert d["dx_m"] > 0 and math.isfinite(d["aes_db"])
        assert math.isfinite(d["ems_db_per_m"])
        if d["regime"] == "diffraction":
            assert d["aref_db"] > 0


# --- ovr_write_manifest ------------------------------------------------------


def test_ovr_write_manifest_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "ovr_write_manifest")


def test_ovr_pair_roundtrip_and_skip(spark, tmp_path):
    """The written pair decodes back to the COG's exact grids (base ==
    internal IFD0, sidecar levels == internal overview IFDs), reruns
    skip, and the sidecar is a valid standalone TIFF with reduced-
    resolution subfile IFDs and no geo tags."""
    from gdalos_spark.sources import geotiff as G

    out = str(tmp_path / "ovr")
    rows = {r["scene_id"]: r for r in G.write_ovr_scenes(spark, SF_DIR, out).collect()}
    assert rows and all(r["action"] == "written" for r in rows.values())
    again = {r["scene_id"]: r for r in G.write_ovr_scenes(spark, SF_DIR, out).collect()}
    assert all(r["action"] == "skipped" for r in again.values())

    cogs = {r["scene_id"]: r for r in G.write_cog_scenes(spark, SF_DIR, str(tmp_path / "cog")).collect()}
    for sid, r in rows.items():
        base_payload = open(r["path"], "rb").read()
        ovr_payload = open(r["path"] + ".ovr", "rb").read()
        cog_payload = open(cogs[sid]["path"], "rb").read()
        base_ifds = G._read_ifds(base_payload)
        ovr_ifds = G._read_ifds(ovr_payload)
        cog_ifds = G._read_ifds(cog_payload)
        assert len(base_ifds) == 1 and len(ovr_ifds) == G.OVERVIEW_LEVELS
        # base carries geometry; sidecar IFDs are subfile-marked, geo-free
        assert G._T_MODEL_SCALE in base_ifds[0]
        for tags in ovr_ifds:
            assert tags[G._T_SUBFILE_TYPE][0] == 1
            assert G._T_MODEL_SCALE not in tags
        # pixel-identical to the internal-overview COG, level by level
        import numpy as np

        assert np.array_equal(
            G._grid_from_tags(base_ifds[0], base_payload),
            G._grid_from_tags(cog_ifds[0], cog_payload),
        )
        for ot, ct in zip(ovr_ifds, cog_ifds[1:]):
            assert np.array_equal(
                G._grid_from_tags(ot, ovr_payload),
                G._grid_from_tags(ct, cog_payload),
            )


# --- raster_expand_rgb -------------------------------------------------------


def test_raster_expand_rgb_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_expand_rgb")


def test_raster_expand_rgb_consistent_with_color_relief(ducks):
    """Expanded channels must reassemble the exact AARRGGBB string
    raster_color_relief bins to, pixel for pixel."""
    rel = {
        (r[0], r[1]): r[4]
        for r in ducks.execute(entrymod.oracle_sql()["raster_color_relief"]).fetchall()
    }
    rows = ducks.execute(entrymod.oracle_sql()["raster_expand_rgb"]).fetchall()
    assert rows
    from gdalos_spark.operators.raster import PALETTE

    for px, py, idx, r, g, b, a in rows:
        assert f"{a:02X}{r:02X}{g:02X}{b:02X}" == rel[(px, py)]
        assert PALETTE[idx][1] == rel[(px, py)]


def test_raster_resample_mode_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_resample_mode")


def test_raster_resample_mode_semantics(ducks):
    """The winner really is the max-weight palette class per target
    (ties to the smallest index), recomputed independently from the
    average key's contrib weights and the expand_rgb class map."""
    from collections import defaultdict

    cls_of = {
        (r[0], r[1]): r[2]
        for r in ducks.execute(entrymod.oracle_sql()["raster_expand_rgb"]).fetchall()
    }
    votes: dict[tuple, dict] = defaultdict(lambda: defaultdict(int))
    # re-derive the exact thirds overlap weights per (target, source)
    n_t = max(r[0] for r in ducks.execute(
        entrymod.oracle_sql()["raster_resample_mode"]).fetchall()) + 1
    for tx in range(n_t):
        for ty in range(n_t):
            for dx in range(4):
                for dy in range(4):
                    cx, cy = (8 * tx) // 3 + dx, (8 * ty) // 3 + dy
                    wx = max(0, min(8 * tx + 8, 3 * cx + 3) - max(8 * tx, 3 * cx))
                    wy = max(0, min(8 * ty + 8, 3 * cy + 3) - max(8 * ty, 3 * cy))
                    if wx * wy and (cx, cy) in cls_of:
                        votes[(tx, ty)][cls_of[(cx, cy)]] += wx * wy
    got = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in ducks.execute(entrymod.oracle_sql()["raster_resample_mode"]).fetchall()
    }
    assert got
    for key, v in votes.items():
        best = min(sorted(v.items(), key=lambda kv: (-kv[1], kv[0]))[:1])
        cls, w = best
        assert got[key] == (cls, w, len(v)), (key, got[key], best)
    assert set(got) == set(votes)


# --- resample kernel family: cross-engine gates ------------------------------
# The Spark plans are SEPARABLE two-pass convolutions while the DuckDB
# oracles are the direct 2-D weighted joins, so this parametrized gate is
# also the standing proof that the separable factorization is value-exact
# (the code-review follow-up to the round-12 rewrite, which had left the
# rewritten kernels with no cross-engine test while they sat outside the
# certified front window).

import pytest


@pytest.mark.parametrize(
    "key",
    [
        "raster_resample_bilinear",
        "raster_resample_cubic",
        "raster_resample_cubicspline",
        "raster_resample_lanczos",
        "raster_resample_average",
        "raster_resample_nearest",
    ],
)
def test_resample_kernels_match_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)
