"""Viewshed / line-of-sight / radio / UTM operators (SURVEY §2 #19-22).

The reference's largest subsystem (viewshed_calc.py — 1,114 lines around
`viewshed_calc`/`los_calc`) computes per-pixel visibility from observer
points over a DEM. The distributed re-expression: every DEM cell is
assigned to a discretized sight ray from the observer (pure INTEGER
octant+slope bucketing — no atan2, whose last-ULP behavior differs
between engines), and visibility is a running-max window over the
elevation-angle tangent ordered by distance along the ray. One shuffle
on the ray key; rays are independent, so at 100 TB the window
parallelizes across (observer, ray) partitions and never needs the whole
DEM on one node.

Every LOS key reaches the DEM through one of two primitives, each with
an SQL twin that spells the same expressions for the DuckDB oracle:

* the radial sweep, `_radial_los` / `_radial_los_sql`: the DEM fanned
  out over an observer set (the fixed OBS_X/OBS_Y observer or a
  broadcast observer frame / `obs` VALUES CTE), every cell bucketed onto
  its ray and scored by its tangent, and the one running-max window per
  (observer, ray). Returns `(*carry, px, py, ray, d2, tan_angle,
  visible)`.
* the link profile, `_los_links` / `_los_links_sql` and `_link_profile`
  / `_link_profile_sql`: observers x sampled customer targets minus the
  coincident pairs, `(c_custkey, tx, ty, ox, oy)`; then every link
  sampled at the integer midpoints of steps lo..hi and equi-joined to
  the DEM, returning the link columns plus `(i, px, py, z)`.

The observer set is `_observers` (a frame) and `_observers_sql` (the
`obs` VALUES CTE).

Citations: los_calc viewshed_calc.py:636; multi-observer combine via
CalcOperation.count viewshed_calc.py:89; calc_free_space_loss
viewshed_calc.py:627 (20*(log10(d)+log10(f))-27.55, d meters / f MHz);
utm_convergence_old utm_convergence.py:18 (Δλ·sin(φ) approximation) and
get_zone_lon0 utm_convergence.py:13.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gdalos_spark.datamodel import (
    CUSTOMER_POINTS_SQL,
    DEM_GRID_SQL,
    EVENTS_POINTS_SQL,
    customer_points,
    dem_grid,
    events_points,
    load,
    query_persist,
)
from gdalos_spark.functions.scalar_chain import ScalarChain, duckdb_spellings, spark_spellings

# observer for single-observer LOS (#19): grid center, antenna at z=500
OBS_X, OBS_Y = 32, 32
OBS_Z = 500.0

# ray discretization: 8 octants x 33 slope buckets
SLOPE_BUCKETS = 32

# multi-observer set (#20)
OBSERVERS = ((16, 16), (16, 48), (48, 16), (48, 48), (32, 32))

# link profiles: N_LOS_STEPS segment samples per observer->target link,
# targets are the customer points with c_custkey % LOS_TARGET_MOD == 0
N_LOS_STEPS = 64
LOS_TARGET_MOD = 23


def _observers(spark: SparkSession, rows=OBSERVERS, schema: str = "ox int, oy int") -> DataFrame:
    """An observer set as a tiny local frame (callers broadcast it)."""
    return spark.createDataFrame(list(rows), schema)


def _observers_sql(rows=OBSERVERS, cols: str = "ox, oy") -> str:
    """The same observer set as the `obs` VALUES CTE."""
    return f"obs({cols}) AS (VALUES {', '.join(map(str, rows))})"


def _ray_cols(dx: Column, dy: Column) -> tuple[Column, Column]:
    """(ray_id, d2) from integer deltas — all-integer arithmetic."""
    adx, ady = F.abs(dx), F.abs(dy)
    octant = (
        F.when(dx >= 0, 0).otherwise(4)
        + F.when(dy >= 0, 0).otherwise(2)
        + F.when(adx >= ady, 0).otherwise(1)
    )
    slope = F.when(adx >= ady, (ady * SLOPE_BUCKETS).cast("bigint") / adx).otherwise(
        (adx * SLOPE_BUCKETS).cast("bigint") / ady
    )
    # integer division via floor is safe: operands are non-negative
    ray = (octant * (SLOPE_BUCKETS + 1) + F.floor(slope)).cast("int")
    return ray, (dx * dx + dy * dy).cast("bigint")


def _ray_sql(dx: str, dy: str) -> tuple[str, str]:
    adx, ady = f"abs({dx})", f"abs({dy})"
    octant = (
        f"(CASE WHEN {dx} >= 0 THEN 0 ELSE 4 END"
        f" + CASE WHEN {dy} >= 0 THEN 0 ELSE 2 END"
        f" + CASE WHEN {adx} >= {ady} THEN 0 ELSE 1 END)"
    )
    slope = (
        f"CASE WHEN {adx} >= {ady} THEN ({ady} * {SLOPE_BUCKETS}) // {adx} "
        f"ELSE ({adx} * {SLOPE_BUCKETS}) // {ady} END"
    )
    ray = f"CAST({octant} * {SLOPE_BUCKETS + 1} + {slope} AS INTEGER)"
    d2 = f"CAST({dx}*{dx} + {dy}*{dy} AS BIGINT)"
    return ray, d2


def _radial_los(
    g: DataFrame,
    obs: DataFrame | None = None,
    keys: tuple[str, ...] = (),
    carry: tuple[str, ...] | None = None,
    num: Callable[[Column], Column] = lambda d2: F.col("elev").cast("double") - OBS_Z,
    den: Callable[[Column], Column] = lambda d2: F.sqrt(d2.cast("double")),
    where: Callable[[Column, Column, Column], Column] | None = None,
) -> DataFrame:
    """The radial sweep: a cell is visible iff its elevation-angle
    tangent num/den (functions of the integer d2) is >= the running max
    of every cell closer on the same (observer, ray). `obs` None is the
    fixed OBS_X/OBS_Y observer; otherwise the DEM fans out map-side
    against the broadcast observer frame, whose `keys` partition the
    window next to the ray. `where(dx, dy, d2)` prunes cells before the
    window (radial rays: a pruned set stays exact when whole rays or
    whole ray tails go). Returns (*carry, px, py, ray, d2, tan_angle,
    visible); carry defaults to keys."""
    if obs is None:
        ox, oy = OBS_X, OBS_Y
        cells = g
    else:
        ox, oy = F.col("ox"), F.col("oy")
        cells = g.crossJoin(F.broadcast(obs))
    cells = cells.filter((F.col("px") != ox) | (F.col("py") != oy))
    dx, dy = F.col("px") - ox, F.col("py") - oy
    ray, d2 = _ray_cols(dx, dy)
    if where is not None:
        cells = cells.filter(where(dx, dy, d2))
    scored = cells.select(
        *(keys if carry is None else carry), "px", "py",
        ray.alias("ray"), d2.alias("d2"), (num(d2) / den(d2)).alias("tan_angle"),
    )
    w = Window.partitionBy(*keys, "ray").orderBy("d2", "px", "py").rowsBetween(
        Window.unboundedPreceding, -1
    )
    max_before = F.max("tan_angle").over(w)
    return scored.select(
        "*",
        F.when(max_before.isNull() | (F.col("tan_angle") >= max_before), 1)
        .otherwise(0)
        .alias("visible"),
    )


def _radial_los_sql(
    obs: str | None = None,
    keys: tuple[str, ...] = (),
    carry: tuple[str, ...] | None = None,
    num: Callable[[str], str] = lambda d2: f"(CAST(elev AS DOUBLE) - {OBS_Z})",
    den: Callable[[str], str] = lambda d2: f"sqrt(CAST({d2} AS DOUBLE))",
    where: Callable[[str, str, str], str] | None = None,
) -> str:
    """SQL twin of `_radial_los`: a SELECT over the `dem` CTE (crossed
    with the observer CTE named `obs`) returning the same columns."""
    ox, oy = (OBS_X, OBS_Y) if obs is None else ("ox", "oy")
    dx, dy = f"(px - {ox})", f"(py - {oy})"
    ray, d2 = _ray_sql(dx, dy)
    src = "dem" if obs is None else f"dem CROSS JOIN {obs}"
    pred = f"NOT (px = {ox} AND py = {oy})" + ("" if where is None else f" AND {where(dx, dy, d2)}")
    cols = "".join(f"{c}, " for c in (keys if carry is None else carry))
    return f"""
SELECT {cols}px, py, ray, d2, tan_angle,
       CAST(CASE WHEN mb IS NULL OR tan_angle >= mb THEN 1 ELSE 0 END AS INTEGER) AS visible
FROM (
  SELECT *, MAX(tan_angle) OVER (PARTITION BY {', '.join((*keys, 'ray'))} ORDER BY d2, px, py
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mb
  FROM (
    SELECT {cols}px, py, {ray} AS ray, {d2} AS d2, {num(d2)} / {den(d2)} AS tan_angle
    FROM {src} WHERE {pred}
  )
)"""


def _dem_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEM as (px, py, z) with z the DOUBLE elevation."""
    return dem_grid(spark, sf_dir).select("px", "py", F.col("elev").cast("double").alias("z"))


def _los_links(
    spark: SparkSession, sf_dir: str, observers=OBSERVERS, mod: int = LOS_TARGET_MOD
) -> DataFrame:
    """Observer->target links: every observer against the customer
    points with c_custkey % mod == 0 snapped to their cells, coincident
    pairs removed — (c_custkey, tx, ty, ox, oy). A broadcast of two tiny
    tables."""
    tgts = (
        customer_points(spark, sf_dir)
        .filter(F.col("c_custkey") % mod == 0)
        .select(
            "c_custkey",
            F.floor(F.col("cx")).cast("int").alias("tx"),
            F.floor(F.col("cy")).cast("int").alias("ty"),
        )
    )
    return tgts.crossJoin(F.broadcast(_observers(spark, observers))).filter(
        (F.col("ox") != F.col("tx")) | (F.col("oy") != F.col("ty"))
    )


def _los_links_sql(observers=OBSERVERS, mod: int = LOS_TARGET_MOD) -> str:
    """SQL twin of `_los_links`: the `pts`, `obs`, `tgts` and `links`
    CTEs (after a `dem` CTE)."""
    return f"""pts AS ({CUSTOMER_POINTS_SQL}),
{_observers_sql(observers)},
tgts AS (
  SELECT c_custkey, CAST(FLOOR(cx) AS INTEGER) AS tx, CAST(FLOOR(cy) AS INTEGER) AS ty
  FROM pts WHERE c_custkey % {mod} = 0
),
links AS (SELECT * FROM tgts CROSS JOIN obs WHERE NOT (ox = tx AND oy = ty))"""


def _link_profile(links: DataFrame, dem: DataFrame, lo: int, hi: int) -> DataFrame:
    """The link profile: every link (any frame with ox, oy, tx, ty)
    sampled at steps i = lo..hi of N_LOS_STEPS with pure integer
    rounding, cell_i = round((o*(N-i) + t*i) / N), spelled
    (o*(N-i) + t*i + N/2) div N so both engines floor-divide, then
    equi-joined to `dem` (px, py, z) on the sampled cell. Returns
    (px, py, *link columns, i, z); the step fan-out is a broadcast and
    the DEM join the only data join — at 100 TB one shuffle
    co-partitioned with the tiled raster layout."""
    n = N_LOS_STEPS
    steps = links.sparkSession.range(lo, hi + 1).select(F.col("id").cast("int").alias("i"))

    def mid(o: str, t: str) -> Column:
        return F.expr(f"({o} * ({n} - i) + {t} * i + {n // 2}) div {n}").cast("int")

    return (
        links.crossJoin(F.broadcast(steps))
        .select("*", mid("ox", "tx").alias("px"), mid("oy", "ty").alias("py"))
        .join(dem, ["px", "py"])
    )


def _link_profile_sql(links: str, lo: int, hi: int) -> str:
    """SQL twin of `_link_profile`: a SELECT over the CTE `links` and
    the `dem` CTE returning the link columns plus (i, px, py, z)."""
    n = N_LOS_STEPS

    def mid(o: str, t: str) -> str:
        return f"CAST((l.{o} * ({n} - s.i) + l.{t} * s.i + {n // 2}) // {n} AS INTEGER)"

    return f"""
SELECT l.*, s.i, dem.px, dem.py, CAST(dem.elev AS DOUBLE) AS z
FROM {links} l CROSS JOIN (SELECT CAST(range AS INTEGER) AS i FROM range({lo}, {hi + 1})) s
JOIN dem ON dem.px = {mid('ox', 'tx')} AND dem.py = {mid('oy', 'ty')}"""


# ---------------------------------------------------------------------------
# 19. viewshed_los — single-observer line-of-sight over the DEM grid
# ---------------------------------------------------------------------------


def viewshed_los(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOS: cell is visible iff its elevation-angle tangent is >= the
    running max of every cell closer on the same ray. tan = (z - z_obs)/d
    is monotone in the angle, so no trig is needed; d = sqrt(int) and the
    division are IEEE-deterministic. Window partitions by ray (264
    independent rays), orders by integer d2 with (px,py) tiebreak."""
    return _radial_los(dem_grid(spark, sf_dir)).select(
        "px", "py", "ray",
        F.sqrt(F.col("d2").cast("double")).alias("dist"),
        "tan_angle", "visible",
    )


VIEWSHED_LOS_SQL = f"""
WITH dem AS ({DEM_GRID_SQL})
SELECT px, py, ray, sqrt(CAST(d2 AS DOUBLE)) AS dist, tan_angle, visible
FROM ({_radial_los_sql()})
"""

# ---------------------------------------------------------------------------
# 20. viewshed_observer_count — per-cell count of observers with LOS
# ---------------------------------------------------------------------------


def viewshed_observer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-observer combine (CalcOperation.count): run the LOS window
    per (observer, ray) and count per cell how many observers see it.
    The observer table is a tiny broadcast dim; the DEM is scanned once
    and fans out x|observers| map-side. One window shuffle on
    (ox, oy, ray), one count shuffle on the cell."""
    vis = _radial_los(dem_grid(spark, sf_dir), _observers(spark), keys=("ox", "oy"))
    return vis.select("px", "py", "visible").groupBy("px", "py").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("visible").cast("bigint").alias("n_visible"),
    )


VIEWSHED_OBSERVER_COUNT_SQL = f"""
WITH dem AS ({DEM_GRID_SQL}),
{_observers_sql()}
SELECT px, py, COUNT(*) AS n_obs, CAST(SUM(visible) AS BIGINT) AS n_visible
FROM ({_radial_los_sql("obs", keys=("ox", "oy"))}) GROUP BY px, py
"""

# ---------------------------------------------------------------------------
# 21. free_space_loss — radio FSL per link
# ---------------------------------------------------------------------------

ANTENNA_X, ANTENNA_Y = 32.0, 32.0


def free_space_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FSPL = 20*(log10(d_m) + log10(f_MHz)) - 27.55 — the reference's
    exact formula (viewshed_calc.py:627). Links: customer points to a
    fixed antenna; distance in grid units scaled to meters, frequency
    derived per link. Pure scalar projection — no shuffle at all."""
    pts = customer_points(spark, sf_dir)
    dist_m = F.sqrt(
        (F.col("cx") - ANTENNA_X) * (F.col("cx") - ANTENNA_X)
        + (F.col("cy") - ANTENNA_Y) * (F.col("cy") - ANTENNA_Y)
    ) * 1000.0
    freq = (100 + (F.col("c_custkey") % 40) * 100).cast("double")
    fsl = 20.0 * (F.log10(dist_m) + F.log10(freq)) - 27.55
    return (
        pts.select(
            "c_custkey",
            dist_m.alias("dist_m"),
            freq.alias("freq_mhz"),
            F.round(fsl, 6).alias("fsl_db"),
        )
        .filter(F.col("dist_m") > 0)
    )


FREE_SPACE_LOSS_SQL = f"""
WITH pts AS ({CUSTOMER_POINTS_SQL}),
links AS (
  SELECT c_custkey,
         sqrt((cx - {ANTENNA_X})*(cx - {ANTENNA_X}) + (cy - {ANTENNA_Y})*(cy - {ANTENNA_Y})) * 1000.0 AS dist_m,
         CAST(100 + (c_custkey % 40) * 100 AS DOUBLE) AS freq_mhz
  FROM pts
)
SELECT c_custkey, dist_m, freq_mhz,
       ROUND(20.0 * (log10(dist_m) + log10(freq_mhz)) - 27.55, 6) AS fsl_db
FROM links WHERE dist_m > 0
"""

# ---------------------------------------------------------------------------
# 22. utm_zone_convergence — UTM zone + grid convergence approximation
# ---------------------------------------------------------------------------


def utm_zone_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM zone from longitude and the reference's arithmetic convergence
    approximation (utm_convergence_old): conv_deg = Δλ·sin(φ) with
    Δλ = lon - zone central meridian (get_zone_lon0: (zone-31)*6+3).
    Scalar projection; trig-derived output rounded to 6 dp to absorb
    engine last-ULP differences in sin()."""
    pts = customer_points(spark, sf_dir)
    lon = (F.col("c_custkey") * 17 % 36000) / 100.0 - 180.0
    lat = (F.col("c_custkey") * 23 % 16000) / 100.0 - 80.0
    zone = F.least(F.lit(60), (F.floor((lon + 180.0) / 6.0) + 1).cast("int"))
    lon0 = ((zone - 31) * 6 + 3).cast("double")
    conv = (lon - lon0) * F.sin(F.radians(lat))
    return pts.select(
        "c_custkey",
        lon.alias("lon"),
        lat.alias("lat"),
        zone.alias("zone"),
        lon0.alias("central_lon"),
        # + 0.0 folds IEEE -0.0 to 0.0 (engines round into signed zero
        # differently)
        (F.round(conv, 6) + 0.0).alias("convergence_deg"),
        F.when(lat >= 0, "N").otherwise("S").alias("hemisphere"),
    )


UTM_ZONE_CONVERGENCE_SQL = """
WITH pts AS (SELECT c_custkey,
  (c_custkey * 17 % 36000) / 100.0 - 180.0 AS lon,
  (c_custkey * 23 % 16000) / 100.0 - 80.0 AS lat
FROM customer),
z AS (
  SELECT c_custkey, lon, lat,
         LEAST(60, CAST(FLOOR((lon + 180.0) / 6.0) + 1 AS INTEGER)) AS zone
  FROM pts
)
SELECT c_custkey, lon, lat, zone,
       CAST((zone - 31) * 6 + 3 AS DOUBLE) AS central_lon,
       ROUND((lon - CAST((zone - 31) * 6 + 3 AS DOUBLE)) * sin(radians(lat)), 6) + 0.0 AS convergence_deg,
       CASE WHEN lat >= 0 THEN 'N' ELSE 'S' END AS hemisphere
FROM z
"""

# ---------------------------------------------------------------------------
# 46. viewshed_los_refraction — LOS with earth-curvature + atmospheric
#     refraction correction
# ---------------------------------------------------------------------------

REFRACTION_COEFF = 1.0 / 7.0  # atmospheric_refraction_coeff, viewshed_params.py:28
CURVE_COEFF = 1.0 - REFRACTION_COEFF  # gdal curve_coefficient (refraction_coeff.py:29)
SPHERE_DIAMETER_M = 2.0 * 6_378_137.0  # WGS84 semi-major axis * 2
CELL_M = 100.0  # grid cell edge in meters


def viewshed_los_refraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOS with the GDAL/talos earth-curvature + refraction correction
    (refraction_coeff.py:29): corrected height =
    z - cc * d^2 / sphere_diameter with cc = 1 - 1/7. Identical ray/
    window plan to viewshed_los; only the tangent numerator changes —
    d^2 in meters is exact integer*constant arithmetic, so the oracle
    stays bit-exact."""

    def d2m(d2: Column) -> Column:
        return d2.cast("double") * (CELL_M * CELL_M)

    return _radial_los(
        dem_grid(spark, sf_dir),
        num=lambda d2: (
            F.col("elev").cast("double") - F.lit(CURVE_COEFF) * d2m(d2) / F.lit(SPHERE_DIAMETER_M)
        ) - OBS_Z,
        den=lambda d2: F.sqrt(d2m(d2)),
    ).select(
        "px", "py", "ray",
        F.sqrt(d2m(F.col("d2"))).alias("dist_m"),
        "tan_angle", "visible",
    )


def _los_refraction_sql() -> str:
    def d2m(d2: str) -> str:
        return f"(CAST({d2} AS DOUBLE) * {CELL_M * CELL_M})"

    los = _radial_los_sql(
        num=lambda d2: f"((CAST(elev AS DOUBLE) - {CURVE_COEFF} * {d2m(d2)} / {SPHERE_DIAMETER_M}) - {OBS_Z})",
        den=lambda d2: f"sqrt({d2m(d2)})",
    )
    return f"""
WITH dem AS ({DEM_GRID_SQL})
SELECT px, py, ray, sqrt({d2m('d2')}) AS dist_m, tan_angle, visible
FROM ({los})
"""


VIEWSHED_LOS_REFRACTION_SQL = _los_refraction_sql()


# ---------------------------------------------------------------------------
# 57. viewshed_sector — azimuth-aperture LOS (h_aperture restriction)
# ---------------------------------------------------------------------------
#
# The reference restricts viewsheds to an azimuth sector via
# azimuth/h_aperture (viewshed_params.py:309-334; get_grid_azimuth
# applies the grid convergence). Engine trig would make the gated values
# engine-dependent, so the sector test is two INTEGER cross products
# against the boundary direction vectors: direction d=(dx,dy) lies in the
# sector [U1, U2] iff cross(U1,d) <= 0 AND cross(U2,d) >= 0 (sector
# < 180 deg, boundaries inclusive; the opposite cone fails both signs).

SECTOR_U1 = (1, 2)  # boundary nearer north (azimuth ~26.6 deg)
SECTOR_U2 = (2, 1)  # boundary nearer east  (azimuth ~63.4 deg)


def viewshed_sector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sector-restricted multi-observer viewshed: per observer, run the
    per-ray running-max LOS only over cells whose direction lies inside
    the azimuth sector, and report per-observer totals. Radial rays mean
    in-sector cells can only be occluded by in-sector cells, so filtering
    before the window is exact — and it prunes ~7/8 of the fan-out before
    the one window shuffle."""
    vis = _radial_los(
        dem_grid(spark, sf_dir), _observers(spark), keys=("ox", "oy"),
        where=lambda dx, dy, d2: (
            (SECTOR_U1[0] * dy - SECTOR_U1[1] * dx <= 0)
            & (SECTOR_U2[0] * dy - SECTOR_U2[1] * dx >= 0)
        ),
    )
    return vis.select("ox", "oy", "visible").groupBy("ox", "oy").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("visible").cast("bigint").alias("n_visible"),
        F.round(F.sum("visible") / F.count(F.lit(1)).cast("double"), 6).alias("visible_frac"),
    )


def _sector_sql() -> str:
    los = _radial_los_sql(
        "obs", keys=("ox", "oy"),
        where=lambda dx, dy, d2: (
            f"({SECTOR_U1[0]} * {dy} - {SECTOR_U1[1]} * {dx} <= 0"
            f" AND {SECTOR_U2[0]} * {dy} - {SECTOR_U2[1]} * {dx} >= 0)"
        ),
    )
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
{_observers_sql()}
SELECT ox, oy, COUNT(*) AS n_cells, CAST(SUM(visible) AS BIGINT) AS n_visible,
       ROUND(SUM(visible) / CAST(COUNT(*) AS DOUBLE), 6) AS visible_frac
FROM ({los}) GROUP BY ox, oy
"""


VIEWSHED_SECTOR_SQL = _sector_sql()


# ---------------------------------------------------------------------------
# 69. coord_precision_report — float32 vs float64 coordinate-error study
#    ref: coord_resolution_tester.py:42 calc_b — sweeps degree values,
#         stores each in float32 and float64, and reports the max
#         |f64 - f32| representation error per band and in meters (the
#         file's header derives ~2.38 m worst-case at the equator for
#         float32 lat/lon — the reason gdalos keeps coordinates f64).
# ---------------------------------------------------------------------------

# 2*pi*6378137/360 hardcoded so neither engine's pi() is in the hash path
DEG_TO_METER = 111319.49079327358
PRECISION_BAND_DEG = 8


def coord_precision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per 8-degree longitude band: how much error storing this band's
    coordinates as float32 would introduce, in degrees and meters.
    lon is derived from the events point cloud (x in [0,64) -> [-90,90));
    the error term is |lon - float64(float32(lon))| — both engines follow
    IEEE-754 round-to-nearest for the double->float cast, so the doubles
    are bit-identical. Map-side partial max/count, one shuffle on the
    25-ish band keys; scales as a plain full-scan agg."""
    pts = events_points(spark, sf_dir)
    lon = F.col("x") * 2.8125 - 90.0
    err = F.abs(lon - lon.cast("float").cast("double"))
    return (
        pts.select(
            F.floor(lon / PRECISION_BAND_DEG).cast("int").alias("band"),
            err.alias("err"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("err").alias("max_err_deg"),
            (F.max("err") * DEG_TO_METER).alias("max_err_m"),
        )
    )


COORD_PRECISION_REPORT_SQL = f"""
WITH pts AS ({EVENTS_POINTS_SQL}),
e AS (
  SELECT CAST(floor((x * 2.8125 - 90.0) / {PRECISION_BAND_DEG}) AS INTEGER) AS band,
         abs((x * 2.8125 - 90.0)
             - CAST(CAST(x * 2.8125 - 90.0 AS REAL) AS DOUBLE)) AS err
  FROM pts
)
SELECT band, COUNT(*) AS n, MAX(err) AS max_err_deg,
       MAX(err) * {DEG_TO_METER!r} AS max_err_m
FROM e GROUP BY band
"""


# ---------------------------------------------------------------------------
# 70. viewshed_los_range — per-ray LOS range (first obstruction distance)
#    ref: radio_params.py:14 RadioCalcType.LOSRange / :15 LOSVisRes — the
#         reference's los_calc (viewshed_calc.py:636) can emit, instead of
#         a boolean raster, the RANGE at which line of sight is lost.
# ---------------------------------------------------------------------------


def viewshed_los_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce the per-cell LOS raster to a per-ray range report: distance
    of the first blocked cell (the LOS range — beyond it the ray has at
    least one obstruction), visible-cell count, and the ray's full
    extent. Distances are sqrt(int) doubles and min/max/coalesce are pure
    selections, so values stay bit-identical to the oracle. One extra
    tiny shuffle on the 264 ray keys after the LOS window — at scale the
    agg is map-side-combined per (observer, ray) partition."""
    los = viewshed_los(spark, sf_dir)
    return (
        los.groupBy("ray")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("visible").cast("bigint").alias("n_visible"),
            F.min(F.when(F.col("visible") == 0, F.col("dist"))).alias("first_blocked"),
            F.max("dist").alias("max_dist"),
        )
        .select(
            "ray",
            "n_cells",
            "n_visible",
            F.coalesce("first_blocked", "max_dist").alias("los_range"),
            "max_dist",
        )
    )


VIEWSHED_LOS_RANGE_SQL = f"""
WITH los AS ({VIEWSHED_LOS_SQL})
SELECT ray, COUNT(*) AS n_cells, CAST(SUM(visible) AS BIGINT) AS n_visible,
       COALESCE(MIN(CASE WHEN visible = 0 THEN dist END), MAX(dist)) AS los_range,
       MAX(dist) AS max_dist
FROM los GROUP BY ray
"""


# ---------------------------------------------------------------------------
# 73. azimuth_normalize — talos angle-normalization family
#    ref: talos/geom_util.py:29 NormalizeAngle (two sequential range
#         corrections via Frac = x - trunc(x)), :49 NormalizeAngles
#         (end < start -> end + 360), :73 direction_and_aperture_from_az,
#         :60 GetFromToAngle (heading flip 90-dir, +-aperture/2 to
#         radians, from > to -> from - 2pi)
# ---------------------------------------------------------------------------

M_PI_180 = 0.017453292519943295  # talos/gen_consts.py, hardcoded literal
M_2PI = 6.283185307179586
FULL_CIRCLE_EPS = 1e-10


def _trunc(x: str) -> str:
    """Numeric trunc-toward-zero, portable: Spark's 1-arg trunc is
    date-only and DuckDB's double->BIGINT cast rounds instead of
    truncating, so spell it with floor/ceil."""
    return f"(CASE WHEN ({x}) >= 0 THEN floor({x}) ELSE ceil({x}) END)"


def _norm360(x: str) -> str:
    """NormalizeAngle(x, 360) as engine-portable SQL: the reference's two
    SEQUENTIAL ifs (a negative input can normalize to exactly 360.0 and
    then be caught by the second check) — mirrored bug-for-bug."""
    frac = f"(({x}) / 360.0 - {_trunc(f'({x}) / 360.0')})"
    r1 = f"(CASE WHEN ({x}) < 0 THEN ({frac} + 1.0) * 360.0 ELSE ({x}) END)"
    frac1 = f"(({r1}) / 360.0 - {_trunc(f'({r1}) / 360.0')})"
    return f"(CASE WHEN ({r1}) >= 360.0 THEN {frac1} * 360.0 ELSE ({r1}) END)"


def _az_chain() -> ScalarChain:
    """The GetFromToAngle program over raw event azimuths. Each step is
    a named column, so the expression text stays short (one composed
    expression re-expands every nested NormalizeAngle ~6x and overflows
    both parsers)."""
    c = ScalarChain(*spark_spellings())
    c.add("s_raw", "(CAST(value AS DOUBLE) * 7.3 - 500.0)")
    c.add("e_raw", "(CAST(value AS DOUBLE) * 2.9 - 100.0)")
    c.add("az_start", _norm360("s_raw"))
    # not "e0": the chain reads every exponent-spelled literal's e0 as a name
    c.add("az_e0", _norm360("e_raw"))
    c.add("az_end", "(CASE WHEN az_e0 < az_start THEN az_e0 + 360.0 ELSE az_e0 END)")
    c.add("direction", "((az_end + az_start) / 2.0)")
    c.add("aperture", "(az_end - az_start)")
    c.add("head", _norm360("(90.0 - direction)"))
    c.add("a_from0", f"({_norm360('(head - aperture * 0.5)')} * {M_PI_180!r})")
    c.add("a_to0", f"({_norm360('(head + aperture * 0.5)')} * {M_PI_180!r})")
    c.add(
        "a_from_rad",
        f"(CASE WHEN aperture >= 360.0 - {FULL_CIRCLE_EPS!r} THEN 0.0 "
        f"WHEN a_from0 > a_to0 THEN a_from0 - {M_2PI!r} ELSE a_from0 END)",
    )
    c.add(
        "a_to_rad",
        f"(CASE WHEN aperture >= 360.0 - {FULL_CIRCLE_EPS!r} THEN 0.0 ELSE a_to0 END)",
    )
    return c


_AZ_IN = ("event_id", "value")
_AZ_OUT = ("event_id", "az_start", "az_end", "direction", "aperture", "a_from_rad", "a_to_rad")


def azimuth_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize raw (start, end) azimuth pairs derived from the events
    stream and compute direction/aperture and the radian from/to pair the
    viewshed backend consumes. A chain of narrow projections — zero
    shuffles; Catalyst collapses the stages into one whole-stage-codegen
    projection. Every stage uses the IDENTICAL expression text as the
    oracle's CTE chain, so every double is bit-equal."""
    from gdalos_spark.datamodel import load as _load

    df = _load(spark, sf_dir, "events")
    return _az_chain().apply_spark(df, keep=_AZ_OUT, inputs=_AZ_IN).select(*_AZ_OUT)


def _azimuth_sql() -> str:
    q = _az_chain().wrap_sql(f"SELECT {', '.join(_AZ_IN)} FROM events", keep=_AZ_OUT, inputs=_AZ_IN)
    return f"SELECT {', '.join(_AZ_OUT)} FROM ({q}) AS t"


AZIMUTH_NORMALIZE_SQL = _azimuth_sql()


# ---------------------------------------------------------------------------
# 79. proj_string_parse — talos projection-token parsing
#    ref: talos_osr.py:33 parse_proj_string_and_zone (numeric -> epsg or
#         zone; '+...' passthrough; 'epsg...' -> '+init='; else UTM name),
#         :8 get_zone_from_name (suffix after last 'u'), :21
#         get_canonic_name ('e50'/'w84' + 'u'+zero-padded zone | 'geo'),
#         backports/osr_utm_util.py:52 proj_string_from_utm_zone
#         (latlong / utm integer zone / tmerc fractional zone), :9
#         get_utm_zone_center ((zone-30.5)*6 with +-360 wrap)
# ---------------------------------------------------------------------------

ED50_TOWGS84 = "-87,-98,-121"  # parse_proj_string_and_zone default


# stage 1: derive a deterministic token mix covering every parse branch
_PROJ_TOKEN = (
    "CASE CAST(c_custkey % 6 AS INT) "
    "WHEN 0 THEN concat('w84u', CAST(10 + c_custkey % 50 AS STRING)) "
    "WHEN 1 THEN concat('e50u', CAST(5 + c_custkey % 9 AS STRING)) "
    "WHEN 2 THEN concat('EPSG:', CAST(4000 + c_custkey % 700 AS STRING)) "
    "WHEN 3 THEN CAST(200 + c_custkey % 9000 AS STRING) "
    "WHEN 4 THEN '36.5' "
    "ELSE '+proj=latlong +datum=WGS84 +no_defs' END"
)

# stage 2 columns (all over `token`)
_PROJ_NUM = "try_cast(token AS DOUBLE)"
# suffix after the LAST 'u' of the lowered token (greedy .*), else '' -> 0
_PROJ_ZFN = "coalesce(try_cast(regexp_extract(lower(token), '.*u(.*)$', 1) AS DOUBLE), 0.0)"

# stage 3: resolved zone (NULL only for the numeric-epsg branch)
_PROJ_ZONE = (
    "CASE WHEN num IS NOT NULL AND num = floor(num) AND num > 100 THEN CAST(NULL AS DOUBLE) "
    "WHEN num IS NOT NULL THEN num ELSE zfn END"
)

# stage 4 helpers over (token, num, zone)
_PROJ_DATUM = (
    f"CASE WHEN substring(lower(token), 1, 1) = 'e' "
    f"THEN '+ellps=intl +towgs84={ED50_TOWGS84}' ELSE '+datum=WGS84' END"
)
_PROJ_CENTER = (
    "CASE WHEN (zone - 30.5) * 6.0 <= -180.0 THEN (zone - 30.5) * 6.0 + 360.0 "
    "WHEN (zone - 30.5) * 6.0 > 180.0 THEN (zone - 30.5) * 6.0 - 360.0 "
    "ELSE (zone - 30.5) * 6.0 END"
)
_PROJ_PJ = (
    "CASE "
    "WHEN num IS NOT NULL AND num = floor(num) AND num > 100 "
    "  THEN concat('+init=epsg:', CAST(CAST(num AS BIGINT) AS STRING)) "
    "WHEN substring(token, 1, 1) = '+' THEN token "
    "WHEN substring(lower(token), 1, 4) = 'epsg' THEN concat('+init=', token) "
    "WHEN zone = 0.0 THEN concat('+proj=latlong ', datum, ' +no_defs') "
    "WHEN zone = floor(zone) "
    "  THEN concat('+proj=utm +zone=', CAST(CAST(zone AS BIGINT) AS STRING), ' ', datum, ' +units=m +no_defs') "
    "ELSE concat('+proj=tmerc +k=0.9996 +lon_0=', CAST(center AS STRING), "
    "            ' +x_0=500000 ', datum, ' +units=m +no_defs') END"
)
_PROJ_ZSTR = (
    "CASE WHEN zone = floor(zone) THEN CAST(CAST(zone AS BIGINT) AS STRING) "
    "ELSE CAST(zone AS STRING) END"
)
_PROJ_CANONIC = (
    "concat(CASE WHEN substring(lower(token), 1, 1) = 'e' THEN 'e50' ELSE 'w84' END, "
    "CASE WHEN zone IS NULL OR zone = 0.0 THEN 'geo' "
    "ELSE concat('u', CASE WHEN zone < 10 THEN '0' ELSE '' END, zstr) END)"
)


def proj_string_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse every flavor of talos projection token (UTM names like
    'w84u36'/'e50u05', 'EPSG:n', bare epsg numbers, float zones, raw
    proj4 strings) into (zone, proj4 string, canonic name) — the exact
    decision tree of parse_proj_string_and_zone. Pure string/CASE
    projection, zero shuffles, whole-stage codegen; the oracle runs the
    IDENTICAL staged expressions."""
    from gdalos_spark.datamodel import load as _load

    c = _load(spark, sf_dir, "customer")
    df = c.select("c_custkey", F.expr(_PROJ_TOKEN).alias("token"))
    df = df.select(
        "c_custkey", "token",
        F.expr(_PROJ_NUM).alias("num"), F.expr(_PROJ_ZFN).alias("zfn"),
    )
    df = df.select(
        "c_custkey", "token", "num", F.expr(_PROJ_ZONE).alias("zone")
    )
    df = df.select(
        "c_custkey", "token", "num", "zone",
        F.expr(_PROJ_DATUM).alias("datum"), F.expr(_PROJ_CENTER).alias("center"),
        F.expr(_PROJ_ZSTR).alias("zstr"),
    )
    return df.select(
        "c_custkey",
        "token",
        "zone",
        F.expr(_PROJ_PJ).alias("pj_string"),
        F.expr(_PROJ_CANONIC).alias("canonic"),
    )


def _proj_sql() -> str:
    # DuckDB: CAST(x AS STRING) is Spark syntax; VARCHAR works in both?
    # Spark accepts STRING, DuckDB accepts VARCHAR — but both accept the
    # ANSI form CAST(x AS VARCHAR)? Spark does NOT. Keep the expression
    # text identical where it matters (arithmetic/CASE structure); string
    # type names differ only inside casts of INTEGER values whose textual
    # rendering is identical anyway.
    def duck(e: str) -> str:
        return e.replace(" AS STRING)", " AS VARCHAR)")

    return f"""
WITH t1 AS (SELECT c_custkey, {duck(_PROJ_TOKEN)} AS token FROM customer),
t2 AS (SELECT c_custkey, token, {_PROJ_NUM} AS num, {_PROJ_ZFN} AS zfn FROM t1),
t3 AS (SELECT c_custkey, token, num, {_PROJ_ZONE} AS zone FROM t2),
t4 AS (SELECT c_custkey, token, num, zone, {_PROJ_DATUM} AS datum,
              {_PROJ_CENTER} AS center, {duck(_PROJ_ZSTR)} AS zstr FROM t3)
SELECT c_custkey, token, zone, {duck(_PROJ_PJ)} AS pj_string,
       {_PROJ_CANONIC} AS canonic
FROM t4
"""


PROJ_STRING_PARSE_SQL = _proj_sql()


# ---------------------------------------------------------------------------
# 80. radio_path_report — LOS x free-space-loss composite
#    ref: radio_params.py:11 RadioCalcType (PathLoss :18, PowerReminder
#         :20, Mode :22), :70 power_diff = BroadcastPower - MinPower;
#         viewshed_calc.py:627 calc_free_space_loss. The talos radio
#         viewshed emits, per cell, path loss / remaining power / go-no-go
#         mode; with the external rfmodel absent, path loss = FSL.
# ---------------------------------------------------------------------------

RADIO_FREQ_MHZ = 433.0
RADIO_POWER_DIFF = 100.0  # radio_params.py:70 default


def radio_path_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per DEM cell around the LOS observer: path loss (FSL at the cell
    distance), remaining power (power_diff - loss), and radio mode
    (visible AND power remains). Rides the #19 LOS window — one ray
    shuffle, then a pure projection; log10 outputs are rounded to 6
    decimals so both engines' libm agree bit-for-bit."""
    los = viewshed_los(spark, sf_dir)
    dist_m = F.col("dist") * CELL_M
    fsl = F.round(
        20.0 * (F.log10(dist_m) + F.log10(F.lit(RADIO_FREQ_MHZ))) - 27.55, 6
    )
    return los.select(
        "px",
        "py",
        "visible",
        fsl.alias("path_loss_db"),
        F.round(F.lit(RADIO_POWER_DIFF) - fsl, 6).alias("power_rem_db"),
        ((F.col("visible") == 1) & (F.lit(RADIO_POWER_DIFF) - fsl >= 0))
        .cast("int")
        .alias("mode"),
    )


RADIO_PATH_REPORT_SQL = f"""
WITH los AS ({VIEWSHED_LOS_SQL}),
r AS (
  SELECT px, py, visible,
         round(20.0 * (log10(dist * {CELL_M!r}) + log10({RADIO_FREQ_MHZ!r})) - 27.55, 6) AS path_loss_db
  FROM los
)
SELECT px, py, visible, path_loss_db,
       round({RADIO_POWER_DIFF!r} - path_loss_db, 6) AS power_rem_db,
       CAST(visible = 1 AND {RADIO_POWER_DIFF!r} - path_loss_db >= 0 AS INTEGER) AS mode
FROM r
"""


# ---------------------------------------------------------------------------
# 87. geo_distance — geodesic observer->target distance on the globe
#    ref: calc_dist viewshed_calc.py:620 (pyproj Geod.inv on the WGS-84
#         ellipsoid, g_wgs84); feeds calc_free_space_loss
#         viewshed_calc.py:627 exactly as the reference pipes Geod
#         distances into FSPL.
#
# The reference calls pyproj's ellipsoidal inverse. Re-expressed for the
# cross-engine gate: great-circle haversine on the WGS-84 mean radius,
# with sin/cos/asin evaluated as POLYNOMIALS (Maclaurin / binomial asin
# series) instead of engine trig. Both engines parse the IDENTICAL
# expression text (same literals, same association), and IEEE +,*,/ and
# sqrt are correctly rounded in both — so every double is bit-equal by
# construction, not by rounding luck. Coordinates are derived bounded to
# [-15, 15) degrees, which keeps every series argument under 0.27 rad
# where the truncation error (<1e-11 rad, sub-millimeter at Earth scale)
# is far below the spherical-vs-ellipsoidal model difference (~0.3%).
# Pure scalar projection chain — zero shuffles, whole-stage codegen.
# ---------------------------------------------------------------------------

_GEO_RAD = 0.017453292519943295  # pi/180
_GEO_R_M = 6371008.7714150598  # WGS-84 mean radius (2a+b)/3, meters
# sin(x) = x * P(x^2); cos(x) = Q(x^2)   (Maclaurin, |x| <= 0.27 rad)
_GEO_SIN_C = [1.0, -1.0 / 6, 1.0 / 120, -1.0 / 5040, 1.0 / 362880, -1.0 / 39916800]
_GEO_COS_C = [1.0, -0.5, 1.0 / 24, -1.0 / 720, 1.0 / 40320, -1.0 / 3628800]
# asin(x) = x * S(x^2), S coeffs C(2n,n)/(4^n (2n+1)); x <= 0.37 here
_GEO_ASIN_C = [
    1.0, 1.0 / 6, 3.0 / 40, 15.0 / 336, 105.0 / 3456, 945.0 / 42240,
    10395.0 / 599040, 135135.0 / 9676800, 2027025.0 / 175472640,
]


# shared exponent-spelled literal/horner (functions/literals.py)
from gdalos_spark.functions.literals import dbl_lit as _geo_lit, horner as _geo_horner  # noqa: E402


# bounded synthetic endpoints: lon/lat in [-15, 15) degrees
_GEO_ENDPOINTS = (
    ("lon1", "(CAST(c_custkey * 7 % 30 AS DOUBLE) - 15.0 + 0.5)"),
    ("lat1", "(CAST(c_custkey * 13 % 30 AS DOUBLE) - 15.0 + 0.25)"),
    ("lon2", "(CAST(c_custkey * 11 % 30 AS DOUBLE) - 15.0 + 0.75)"),
    ("lat2", "(CAST(c_custkey * 17 % 30 AS DOUBLE) - 15.0 + 0.125)"),
)
_GEO_IDS = ("c_custkey", "lon1", "lat1", "lon2", "lat2")


def _geo_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic links with distinct endpoints. dist = 0 iff the
    endpoints coincide (the series sin is zero only at 0 on this bounded
    domain), so filtering on the endpoints BEFORE the distance program
    keeps the pushed-down predicate tiny instead of duplicating the
    collapsed haversine expression in the scan."""
    from gdalos_spark.datamodel import load as _load

    df = _load(spark, sf_dir, "customer").select(
        "c_custkey", *[F.expr(e).alias(n) for n, e in _GEO_ENDPOINTS]
    )
    return df.filter((F.col("lon1") != F.col("lon2")) | (F.col("lat1") != F.col("lat2")))


def _geo_links_sql() -> str:
    cols = ", ".join(f"{e} AS {n}" for n, e in _GEO_ENDPOINTS)
    return (
        f"SELECT * FROM (SELECT c_custkey, {cols} FROM customer) AS t0"
        " WHERE lon1 <> lon2 OR lat1 <> lat2"
    )


def _geo_chain() -> ScalarChain:
    """Polynomial haversine over the link endpoints -> geo_dist_m."""
    sin_p = lambda x, x2: f"({x} * {_geo_horner(x2, _GEO_SIN_C)})"  # noqa: E731
    cos_p = lambda x2: _geo_horner(x2, _GEO_COS_C)  # noqa: E731
    c = ScalarChain(*spark_spellings())
    c.add("f1", f"(lat1 * {_geo_lit(_GEO_RAD)})")
    c.add("f2", f"(lat2 * {_geo_lit(_GEO_RAD)})")
    c.add("dph", f"(((lat2 - lat1) * {_geo_lit(_GEO_RAD)}) * 0.5)")
    c.add("dlh", f"(((lon2 - lon1) * {_geo_lit(_GEO_RAD)}) * 0.5)")
    c.add("sdph", sin_p("dph", "(dph * dph)"))
    c.add("sdlh", sin_p("dlh", "(dlh * dlh)"))
    c.add("cf1", cos_p("(f1 * f1)"))
    c.add("cf2", cos_p("(f2 * f2)"))
    c.add("hx", "sqrt(((sdph * sdph) + (((cf1 * cf2)) * (sdlh * sdlh))))")
    c.add(
        "geo_dist_m",
        f"(({_geo_lit(2.0 * _GEO_R_M)}) * (hx * {_geo_horner('(hx * hx)', _GEO_ASIN_C)}))",
    )
    return c


GEO_FREQ_MHZ = 433.0  # fixed link frequency for the FSPL column


def geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic distance per synthetic link (observer/target endpoints
    derived from c_custkey) + the FSPL the reference computes from Geod
    distances (calc_dist viewshed_calc.py:620 -> calc_free_space_loss
    :627). Polynomial haversine — see module comment; the FSPL reuses the
    reference's 20*(log10(d)+log10(f))-27.55 with round(6) to absorb
    log10's last-ulp engine variance (the free_space_loss precedent)."""
    df = _geo_chain().apply_spark(
        _geo_links(spark, sf_dir), keep=(*_GEO_IDS, "geo_dist_m"), inputs=_GEO_IDS
    )
    fsl = 20.0 * (F.log10(F.col("geo_dist_m")) + F.log10(F.lit(GEO_FREQ_MHZ))) - 27.55
    return df.select(
        *_GEO_IDS,
        F.round("geo_dist_m", 6).alias("geo_dist_m"),
        F.round(fsl, 6).alias("fsl_db"),
    )


def _geo_distance_sql() -> str:
    q = _geo_chain().wrap_sql(_geo_links_sql(), keep=(*_GEO_IDS, "geo_dist_m"), inputs=_GEO_IDS)
    return f"""
SELECT c_custkey, lon1, lat1, lon2, lat2,
       ROUND(geo_dist_m, 6) AS geo_dist_m,
       ROUND(20.0 * (log10(geo_dist_m) + log10({GEO_FREQ_MHZ!r})) - 27.55, 6) AS fsl_db
FROM ({q}) AS t
"""


GEO_DISTANCE_SQL = _geo_distance_sql()


# ---------------------------------------------------------------------------
# geo_distance_ellipsoidal — the reference's ACTUAL distance model.
#    ref: viewshed_calc.py:620 calc_dist uses pyproj Geod.inv on WGS-84
#         (ellipsoidal), not a sphere; gdalos link budgets (calc_fsl at
#         :627) therefore differ from the spherical haversine by up to
#         ~0.5% (tens-to-hundreds of meters on long radio links).
#
# Re-expressed without an iterative solver: the Andoyer-Lambert first-
# order-in-flattening geodesic (Andoyer 1950; the classical closed-form
# approximation aviation/geodesy used before Vincenty), whose residual
# vs the true geodesic is O(f^2) ~ 1e-5 relative — three orders below
# the spherical model error it removes (pinned vs a pure-Python Vincenty
# in tests/test_geo_ellipsoidal.py). The machinery is the haversine's:
# with F=(phi1+phi2)/2, G=(phi1-phi2)/2, L=dlon/2,
#   S = sin^2 G cos^2 L + cos^2 F sin^2 L     (= haversine's hx^2)
#   C = cos^2 G cos^2 L + sin^2 F sin^2 L     (S + C = 1)
#   omega = asin(sqrt(S)),  R3 = sqrt(S*C)/omega
#   d = 2*a*omega * (1 + f*(H1 sin^2F cos^2G - H2 cos^2F sin^2G)),
#   H1 = (3*R3 - 1)/(2*C),  H2 = (3*R3 + 1)/(2*S)
# All trig is the SAME polynomial sin/cos/asin bank as geo_distance
# (arguments stay under 0.37 rad on the bounded [-15, 15) degree
# endpoints), so both engines evaluate the identical IEEE expression
# text — bit-equal by construction. Pure scalar projection chain: zero
# shuffles, whole-stage codegen, embarrassingly parallel at 100 TB.
# ---------------------------------------------------------------------------

_GEOD_A_M = 6378137.0  # WGS-84 semi-major axis
_GEOD_F = 0.0033528106647474805  # WGS-84 flattening 1/298.257223563


def _geo_ellipsoidal_chain() -> ScalarChain:
    """Andoyer-Lambert over the link endpoints -> (sphere_dist_m,
    geodesic_dist_m)."""
    sin_p = lambda x, x2: f"({x} * {_geo_horner(x2, _GEO_SIN_C)})"  # noqa: E731
    cos_p = lambda x2: _geo_horner(x2, _GEO_COS_C)  # noqa: E731
    c = ScalarChain(*spark_spellings())
    c.add("fm", f"(((lat1 + lat2) * {_geo_lit(_GEO_RAD)}) * 0.5)")
    c.add("gm", f"(((lat1 - lat2) * {_geo_lit(_GEO_RAD)}) * 0.5)")
    c.add("lh", f"(((lon2 - lon1) * {_geo_lit(_GEO_RAD)}) * 0.5)")
    c.add("sfm", sin_p("fm", "(fm * fm)"))
    c.add("cfm", cos_p("(fm * fm)"))
    c.add("sgm", sin_p("gm", "(gm * gm)"))
    c.add("cgm", cos_p("(gm * gm)"))
    c.add("slh", sin_p("lh", "(lh * lh)"))
    c.add("clh", cos_p("(lh * lh)"))
    c.add("s2f", "(sfm * sfm)")
    c.add("c2f", "(cfm * cfm)")
    c.add("s2g", "(sgm * sgm)")
    c.add("c2g", "(cgm * cgm)")
    c.add("bigs", "(((sgm * sgm) * (clh * clh)) + ((cfm * cfm) * (slh * slh)))")
    c.add("bigc", "(((cgm * cgm) * (clh * clh)) + ((sfm * sfm) * (slh * slh)))")
    c.add("omega", f"(sqrt(bigs) * {_geo_horner('bigs', _GEO_ASIN_C)})")
    c.add("r3", "(sqrt((bigs * bigc)) / omega)")
    c.add("sphere_dist_m", f"(({_geo_lit(2.0 * _GEO_R_M)}) * omega)")
    c.add(
        "geodesic_dist_m",
        f"((({_geo_lit(2.0 * _GEOD_A_M)}) * omega) * (1.0 + ({_geo_lit(_GEOD_F)} * "
        "(((((3.0 * r3) - 1.0) / (2.0 * bigc)) * (s2f * c2g)) - "
        "((((3.0 * r3) + 1.0) / (2.0 * bigs)) * (c2f * s2g))))))",
    )
    return c


_GEOD_KEEP = (*_GEO_IDS, "sphere_dist_m", "geodesic_dist_m")


def geo_distance_ellipsoidal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WGS-84 ellipsoidal link distance (Andoyer-Lambert first order in
    flattening — the closed-form stand-in for the reference's pyproj
    Geod.inv, viewshed_calc.py:620) next to the spherical haversine,
    with the model delta per link reported the way coord_precision_report
    reports float error. Same bounded synthetic endpoints as
    geo_distance; zero shuffles."""
    df = _geo_ellipsoidal_chain().apply_spark(
        _geo_links(spark, sf_dir), keep=_GEOD_KEEP, inputs=_GEO_IDS
    )
    return df.select(
        *_GEO_IDS,
        F.round("sphere_dist_m", 6).alias("sphere_dist_m"),
        F.round("geodesic_dist_m", 6).alias("geodesic_dist_m"),
        F.round(F.col("geodesic_dist_m") - F.col("sphere_dist_m"), 6).alias("delta_m"),
    )


def _geo_ellipsoidal_sql() -> str:
    q = _geo_ellipsoidal_chain().wrap_sql(_geo_links_sql(), keep=_GEOD_KEEP, inputs=_GEO_IDS)
    return f"""
SELECT c_custkey, lon1, lat1, lon2, lat2,
       ROUND(sphere_dist_m, 6) AS sphere_dist_m,
       ROUND(geodesic_dist_m, 6) AS geodesic_dist_m,
       ROUND(geodesic_dist_m - sphere_dist_m, 6) AS delta_m
FROM ({q}) AS t
"""


GEO_ELLIPSOIDAL_SQL = _geo_ellipsoidal_sql()


# ---------------------------------------------------------------------------
# 95. map_scale_zoom — web-map scale denominator per zoom level
#    ref: scale_calc.py:4 calc_dot_pitch (physical pixel size of a
#         24" 1920x1080 display) and :16 calc_scale
#         (perimeter / (pixels_at_zoom * dot_pitch), web-mercator
#         pixels_at_zoom0=256, earth_r=6378137).
#
# Host-side precomputes dot pitch and the WGS-84 equatorial perimeter
# (the reference's math.* calls); the per-zoom table is pure integer
# powers + one double division, identical expression text on both
# engines. Catalog-sized — zero shuffles.
# ---------------------------------------------------------------------------

import cmath as _cm
import math as _m

_SCALE_DIAG_IN = 24
_SCALE_W_PX, _SCALE_H_PX = 1920, 1080
_SCALE_DOT_PITCH = _m.sqrt(
    (_SCALE_DIAG_IN * 0.0254) ** 2 / (_SCALE_W_PX**2 + _SCALE_H_PX**2)
)
_SCALE_PERIMETER = 2 * _m.pi * 6378137
_SCALE_PX0 = 256
MAX_ZOOM = 20


def map_scale_zoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-map scale denominators per zoom (scale_calc.py)."""
    z = spark.range(MAX_ZOOM + 1).select(F.col("id").cast("int").alias("zoom"))
    pixels = (F.lit(_SCALE_PX0).cast("bigint") * F.pow(F.lit(2.0), F.col("zoom").cast("double")).cast("bigint")).alias("pixels_at_zoom")
    scale = F.lit(_SCALE_PERIMETER) / (F.col("pixels_at_zoom").cast("double") * F.lit(_SCALE_DOT_PITCH))
    return z.select("zoom", pixels).select(
        "zoom", "pixels_at_zoom",
        F.round(scale, 6).alias("scale"),
        F.round(scale).cast("bigint").alias("map_scale"),
    )


MAP_SCALE_ZOOM_SQL = f"""
WITH z AS (SELECT CAST(range AS INTEGER) AS zoom FROM range({MAX_ZOOM + 1})),
px AS (
  SELECT zoom,
         CAST({_SCALE_PX0} AS BIGINT) * CAST(power(2.0, CAST(zoom AS DOUBLE)) AS BIGINT) AS pixels_at_zoom
  FROM z
)
SELECT zoom, pixels_at_zoom,
       ROUND({_SCALE_PERIMETER!r} / (CAST(pixels_at_zoom AS DOUBLE) * {_SCALE_DOT_PITCH!r}), 6) AS scale,
       CAST(ROUND({_SCALE_PERIMETER!r} / (CAST(pixels_at_zoom AS DOUBLE) * {_SCALE_DOT_PITCH!r})) AS BIGINT) AS map_scale
FROM px
"""


# ---------------------------------------------------------------------------
# 96. sector_ring_points — sector polygon ring vertices (PolygonizeSector)
#    ref: talos/geom_arc.py:9 PolygonizeSector (ring = center point, then
#         PointCount-1 arc vertices at angle I*Factor + AFromRad with
#         Factor = (ATo-AFrom)/(PointCount-2), then the closing center
#         point; x = px + rx*cos, y = py + ry*sin at Theta=0),
#         talos/math0.py SinCos. Sector from/to radians come from the
#         SAME GetFromToAngle chain azimuth_normalize mirrors.
#
# Trig is polynomial like geo_distance, but arc angles span [-2pi, 2pi],
# so each angle is range-reduced to [-pi, pi) with one floor(), HALVED
# into the polynomials' high-precision domain [-pi/2, pi/2), and
# reconstructed with the double-angle identities sin=2*s*c,
# cos=1-2*s^2 — every step is IEEE +,*,floor with identical literals on
# both engines, so ring vertices are bit-exact. Pure projection over a
# tiny broadcast index table: zero data shuffles beyond the sector scan.
# ---------------------------------------------------------------------------

ARC_POINT_COUNT = 50
ARC_SECTOR_MOD = 997  # event_id % 997 == 0 -> the sampled sector specs
M_PI = 3.141592653589793
# sin(x) = x * P(x^2) through x^15; cos(x) = Q(x^2) through x^14
_ARC_SIN_C = [
    1.0, -1.0 / 6, 1.0 / 120, -1.0 / 5040, 1.0 / 362880,
    -1.0 / 39916800, 1.0 / 6227020800, -1.0 / 1307674368000,
]
_ARC_COS_C = [
    1.0, -0.5, 1.0 / 24, -1.0 / 720, 1.0 / 40320,
    -1.0 / 3628800, 1.0 / 479001600, -1.0 / 87178291200,
]


def _arc_chain() -> ScalarChain:
    """Ring vertex program over (event_id, point_idx, a_from_rad,
    a_to_rad) -> kind, center (px, py), radius r and sin/cos of the
    vertex angle."""
    pc = ARC_POINT_COUNT
    c = ScalarChain(*spark_spellings())
    c.add("kind", f"(CASE WHEN point_idx = 0 OR point_idx = {pc} THEN 'center' ELSE 'arc' END)")
    c.add("px", "((event_id * 7919 % 6400) / 100.0)")
    c.add("py", "((event_id * 104729 % 6400) / 100.0)")
    c.add("r", "(5.0 + CAST(event_id % 7 AS DOUBLE))")
    c.add("angle", f"(a_from_rad + (point_idx - 1) * ((a_to_rad - a_from_rad) / {pc - 2}.0))")
    c.add("half", f"((angle - {_geo_lit(M_2PI)} * floor((angle + {_geo_lit(M_PI)}) / {_geo_lit(M_2PI)})) * 0.5)")
    c.add("sh", f"(half * {_geo_horner('(half * half)', _ARC_SIN_C)})")
    c.add("ch", _geo_horner("(half * half)", _ARC_COS_C))
    c.add("sin_t", "(2.0 * (sh * ch))")
    c.add("cos_t", "(1.0 - 2.0 * (sh * sh))")
    return c


_ARC_IN = ("event_id", "a_from_rad", "a_to_rad", "point_idx")
_ARC_KEEP = ("event_id", "point_idx", "kind", "px", "py", "r", "sin_t", "cos_t")


def sector_ring_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ring vertices for every sampled sector spec (event_id %
    ARC_SECTOR_MOD == 0): point 0 and point ARC_POINT_COUNT are the
    sector center, points 1..ARC_POINT_COUNT-1 sweep the arc exactly as
    PolygonizeSector (talos/geom_arc.py:9) does at Theta=0 (the reference
    default). Centers and radii derive from event arithmetic (the
    events_points mapping); from/to radians from the azimuth_normalize
    chain."""
    specs = (
        azimuth_normalize(spark, sf_dir)
        .filter(F.col("event_id") % ARC_SECTOR_MOD == 0)
        .select("event_id", "a_from_rad", "a_to_rad")
    )
    idx = spark.range(ARC_POINT_COUNT + 1).select(
        F.col("id").cast("int").alias("point_idx")
    )
    df = _arc_chain().apply_spark(
        specs.crossJoin(F.broadcast(idx)), keep=_ARC_KEEP, inputs=_ARC_IN
    )
    x = F.when(F.col("kind") == "center", F.col("px")).otherwise(
        F.col("px") + F.col("r") * F.col("cos_t")
    )
    y = F.when(F.col("kind") == "center", F.col("py")).otherwise(
        F.col("py") + F.col("r") * F.col("sin_t")
    )
    return df.select(
        "event_id", "point_idx", "kind",
        F.round(x, 6).alias("x"),
        F.round(y, 6).alias("y"),
    )


def _sector_ring_sql() -> str:
    specs = (
        f"SELECT event_id, a_from_rad, a_to_rad, point_idx FROM"
        f" (SELECT event_id, a_from_rad, a_to_rad FROM ({AZIMUTH_NORMALIZE_SQL}) az"
        f" WHERE event_id % {ARC_SECTOR_MOD} = 0)"
        f" CROSS JOIN (SELECT CAST(range AS INTEGER) AS point_idx"
        f" FROM range({ARC_POINT_COUNT + 1})) ix"
    )
    q = _arc_chain().wrap_sql(specs, keep=_ARC_KEEP, inputs=_ARC_IN)
    return f"""
SELECT event_id, point_idx, kind,
       ROUND(CASE WHEN kind = 'center' THEN px ELSE px + r * cos_t END, 6) AS x,
       ROUND(CASE WHEN kind = 'center' THEN py ELSE py + r * sin_t END, 6) AS y
FROM ({q}) AS t
"""


SECTOR_RING_POINTS_SQL = _sector_ring_sql()


# ---------------------------------------------------------------------------
# 97. point_to_point_los — multi-point observer->target LOS verdicts
#    ref: viewshed_calc.py:636 los_calc with MultiPointParams (ox/oy/oz vs
#         tx/ty/tz arrays -> per-pair visibility), the API the reference's
#         radio tools call for link planning. Re-expression: each
#         (observer, target) pair samples N_LOS_STEPS points along the
#         segment with pure integer rounding, joins the DEM once on the
#         cell key, and reduces per pair: blocked iff any interior
#         sample's elevation tangent reaches the target's tangent.
#         Pair x step fan-out is a broadcast of two tiny tables; the only
#         data join is the equi-join against the DEM — at 100 TB that is
#         one shuffle co-partitioned with the tiled raster layout.
# ---------------------------------------------------------------------------


def point_to_point_los(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-point observer->target LOS verdicts (los_calc)."""
    n = N_LOS_STEPS
    scored = _link_profile(_los_links(spark, sf_dir), _dem_z(spark, sf_dir), 1, n).select(
        "c_custkey", "ox", "oy", "tx", "ty", "i",
        ((F.col("z") - OBS_Z) / F.col("i").cast("double")).alias("tan_i"),
    )
    # Round-12 note: a window-max formulation of tan_t (one exchange
    # instead of the join-back) was A/B'd and REJECTED — the i == n
    # filter pushes below the DEM join, so the "second computation" of
    # `scored` is links-sized, the join runs as a sort-free shuffled
    # hash join, and the window arm's full sort of the profile stream
    # measured slightly SLOWER at both sf0.1 (2.5 vs 2.6s) and sf10
    # (11.9 vs 13.3s). The join-back is the better plan at scale.
    tgt_tan = scored.filter(F.col("i") == n).select(
        "c_custkey", "ox", "oy",
        F.col("tan_i").alias("tan_t"),
    )
    joined = scored.filter(F.col("i") < n).join(tgt_tan, ["c_custkey", "ox", "oy"])
    blocked_i = F.when(F.col("tan_i") >= F.col("tan_t"), F.col("i"))
    return (
        joined.groupBy("c_custkey", "ox", "oy", "tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.min(blocked_i).alias("first_block"),
        )
        .select(
            "c_custkey", "ox", "oy", "tx", "ty", "n_samples",
            F.col("first_block").isNull().cast("int").alias("visible"),
            F.coalesce(F.col("first_block"), F.lit(0)).cast("int").alias("first_block_step"),
        )
    )


def _p2p_los_sql() -> str:
    n = N_LOS_STEPS
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
{_los_links_sql()},
scored AS (
  SELECT c_custkey, ox, oy, tx, ty, i, (z - {OBS_Z}) / CAST(i AS DOUBLE) AS tan_i
  FROM ({_link_profile_sql("links", 1, n)})
),
tgt_tan AS (
  SELECT c_custkey, ox, oy, tan_i AS tan_t FROM scored WHERE i = {n}
)
SELECT s.c_custkey, s.ox, s.oy, s.tx, s.ty,
       COUNT(*) AS n_samples,
       CAST(MIN(CASE WHEN s.tan_i >= t.tan_t THEN s.i END) IS NULL AS INTEGER) AS visible,
       CAST(COALESCE(MIN(CASE WHEN s.tan_i >= t.tan_t THEN s.i END), 0) AS INTEGER) AS first_block_step
FROM scored s JOIN tgt_tan t USING (c_custkey, ox, oy)
WHERE s.i < {n}
GROUP BY s.c_custkey, s.ox, s.oy, s.tx, s.ty
"""


POINT_TO_POINT_LOS_SQL = _p2p_los_sql()


# ---------------------------------------------------------------------------
# geohash_bucket — base-32 geohash encoding + spatial bucketing
#    (the string-keyed sibling of raster_zorder_index's Morton tiles: the
#    bucketing key geo-joins and location indexes use; same bit
#    interleave, different serialization)
# ---------------------------------------------------------------------------

GEOHASH_PRECISION = 4  # chars -> 20 bits = 10 lon + 10 lat
_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_morton(xi: str, yi: str, intdiv: str) -> str:
    """20-bit interleaved code from two 10-bit integer expressions; bit
    extraction is pure div/mod so the text is engine-portable modulo the
    integer-division spelling ('div' vs '//')."""
    terms = []
    for b in range(10):
        terms.append(f"((({xi}) {intdiv} {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"((({yi}) {intdiv} {1 << b}) % 2) * {1 << (2 * b)}")
    return "(" + " + ".join(terms) + ")"


def _geohash_chars(morton: str, intdiv: str) -> str:
    """Concat the 4 base-32 chars from 5-bit groups of the 20-bit code."""
    parts = [
        f"substring('{_GEOHASH_ALPHABET}', "
        f"CAST((({morton}) {intdiv} {1 << (15 - 5 * k)}) % 32 AS INTEGER) + 1, 1)"
        for k in range(GEOHASH_PRECISION)
    ]
    return "(" + " || ".join(parts) + ")"


def geohash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-encode the event point cloud and aggregate per bucket —
    the spatial bucketing that turns a proximity join into an equi-join
    on a string key (neighbors share prefixes; coarser = drop chars, so
    a multi-resolution index is substring aggregation away). The 10-bit
    quantization runs on the UNDERLYING integers (event_id*PRIME mod
    6400 scaled by 1024/6400) so no float touches the bucket decision;
    the per-bucket x/y bounds prove containment (bucket side = 0.0625
    units) exactly like the Morton tile test. One scan, one groupBy."""
    pts = events_points(spark, sf_dir)
    xi = "CAST((event_id * 7919 % 6400) * 1024 div 6400 AS BIGINT)"
    yi = "CAST((event_id * 104729 % 6400) * 1024 div 6400 AS BIGINT)"
    morton = _geohash_morton(xi, yi, "div")
    gh = _geohash_chars(morton, "div")
    enc = pts.withColumn("geohash", F.expr(gh))
    return (
        enc.groupBy("geohash")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
            (F.sum("v").cast("double")).alias("value_sum"),
        )
        .orderBy("geohash")
    )


def _geohash_sql() -> str:
    xi = "CAST((event_id * 7919 % 6400) * 1024 // 6400 AS BIGINT)"
    yi = "CAST((event_id * 104729 % 6400) * 1024 // 6400 AS BIGINT)"
    morton = _geohash_morton(xi, yi, "//")
    gh = _geohash_chars(morton, "//")
    return f"""
WITH pts AS ({EVENTS_POINTS_SQL}),
enc AS (SELECT pts.*, {gh} AS geohash FROM pts)
SELECT geohash, COUNT(*) AS n_points,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y,
       CAST(SUM(v) AS DOUBLE) AS value_sum
FROM enc
GROUP BY geohash
ORDER BY geohash
"""


GEOHASH_BUCKET_SQL = _geohash_sql()


# ---------------------------------------------------------------------------
# spatial_knn_join — nearest-neighbor join via grid-cell blocking
#    (the join geohash_bucket's cells exist for: each probe meets only the
#    9 cells around it, never the whole point cloud)
# ---------------------------------------------------------------------------

KNN_CELL_BITS = 7  # 128x128 grid over the 64-unit extent -> 0.5-unit cells


def spatial_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest event for every customer probe point, as a blocked
    equi-join: both sides land on a 32x32 integer grid, each probe
    explodes to its 3x3 neighbor cells (9 rows — constant fan-out), and
    candidates meet ONLY via the (cx, cy) cell key. The winner per probe
    is a window argmin on the EXACT squared distance computed from the
    underlying integer coordinates (xi in 0..6399 — d2 is a BIGINT, so
    the comparison never touches a float; ties break on event_id). A
    probe whose 3x3 window holds no event reports event_id -1 — the
    bounded-radius contract stated, not silently dropped. At 100 TB
    this is THE spatial-join shape: shuffle on cells, never all-pairs.
    Cell size is the one tuning knob — it must track point density
    (measured here: the 32x32 grid put ~1000 events/cell at the sf1
    upscale and the candidate join hit 1.3e9 rows, 78s; 128x128 cells
    cut it to 4s — at 100 TB you pick cells so the expected occupancy
    stays O(10), exactly like choosing an IVF list count)."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 17 % 6400).alias("pxi"),
        (F.col("c_custkey") * 23 % 6400).alias("pyi"),
    )
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") * 7919 % 6400).alias("exi"),
        (F.col("event_id") * 104729 % 6400).alias("eyi"),
    )
    # Round-12 optimization (the identical-collapse discipline, guide
    # §2.3 "shuffle keys and metadata instead of payloads"): both point
    # derivations are 6400-PERIODIC in their key (k*c % 6400 repeats
    # every 6400 ids), so however large the corpus there are at most
    # 6400 distinct probe points and 6400 distinct event points. d2 and
    # the (d2, event_id) argmin are pure functions of the POINT pair —
    # co-located events all tie on d2 and row_number's event_id
    # tie-break always picks the minimum id, so collapsing events to
    # (point, min event_id) and probes to distinct points, running the
    # identical 3x3 cell join on the collapsed frames, and mapping
    # customers back through their (pxi, pyi) reproduces every output
    # row byte-for-byte (SQL twin unchanged and still gates it).
    # The candidate join drops from |probes| x cell-occupancy (8e9 rows
    # at sf10: 13.5M probe-cells x ~600 events/cell — 365.9 s in the
    # full-catalog sweep) to at most 6400 x 9 x occupancy-of-distinct
    # (~21k rows at ANY scale); the per-scale work is one map-side-
    # partial-agg pass over each table. Measured: 365.9 -> 4.6 s.
    ev_pts = ev.groupBy("exi", "eyi").agg(F.min("event_id").alias("event_id"))
    probe_pts = cust.select("pxi", "pyi").distinct()
    shift = 6400 // (1 << KNN_CELL_BITS)  # integer units per cell = 200
    ev_cells = ev_pts.select(
        "event_id", "exi", "eyi",
        F.expr(f"exi div {shift}").alias("cx"),
        F.expr(f"eyi div {shift}").alias("cy"),
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    probes = probe_pts.crossJoin(F.broadcast(offsets)).select(
        "pxi", "pyi",
        (F.expr(f"pxi div {shift}") + F.col("dx")).alias("cx"),
        (F.expr(f"pyi div {shift}") + F.col("dy")).alias("cy"),
    )
    cand = probes.join(ev_cells, ["cx", "cy"]).select(
        "pxi", "pyi", "event_id",
        (
            (F.col("exi") - F.col("pxi")) * (F.col("exi") - F.col("pxi"))
            + (F.col("eyi") - F.col("pyi")) * (F.col("eyi") - F.col("pyi"))
        ).alias("d2"),
    )
    w = Window.partitionBy("pxi", "pyi").orderBy("d2", "event_id")
    best = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "pxi", "pyi",
            F.col("event_id").alias("nearest_event"),
            (F.sqrt(F.col("d2").cast("double")) / 100.0).alias("distance"),
        )
    )
    return (
        cust.join(F.broadcast(best), ["pxi", "pyi"], "left")
        .select(
            "c_custkey",
            F.coalesce("nearest_event", F.lit(-1)).alias("nearest_event"),
            F.coalesce("distance", F.lit(-1.0)).alias("distance"),
        )
        .orderBy("c_custkey")
    )


SPATIAL_KNN_JOIN_SQL = f"""
WITH cust AS (
  SELECT c_custkey, c_custkey * 17 % 6400 AS pxi, c_custkey * 23 % 6400 AS pyi
  FROM customer
),
ev AS (
  SELECT event_id, event_id * 7919 % 6400 AS exi, event_id * 104729 % 6400 AS eyi
  FROM events
),
ev_cells AS (
  SELECT *, exi // {6400 // (1 << KNN_CELL_BITS)} AS cx,
            eyi // {6400 // (1 << KNN_CELL_BITS)} AS cy
  FROM ev
),
probes AS (
  SELECT c_custkey, pxi, pyi,
         pxi // {6400 // (1 << KNN_CELL_BITS)} + dx.dx AS cx,
         pyi // {6400 // (1 << KNN_CELL_BITS)} + dy.dy AS cy
  FROM cust,
       (SELECT unnest([-1, 0, 1]) AS dx) dx,
       (SELECT unnest([-1, 0, 1]) AS dy) dy
),
cand AS (
  SELECT p.c_custkey, p.pxi, p.pyi, e.event_id,
         (e.exi - p.pxi) * (e.exi - p.pxi) + (e.eyi - p.pyi) * (e.eyi - p.pyi) AS d2
  FROM probes p JOIN ev_cells e ON p.cx = e.cx AND p.cy = e.cy
),
best AS (
  SELECT c_custkey, event_id AS nearest_event, SQRT(CAST(d2 AS DOUBLE)) / 100.0 AS distance,
         ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY d2, event_id) AS rk
  FROM cand
)
SELECT c.c_custkey,
       COALESCE(b.nearest_event, -1) AS nearest_event,
       COALESCE(b.distance, -1.0) AS distance
FROM cust c LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (c_custkey)
ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# fresnel_clearance — first-Fresnel-zone clearance per radio link
#    ref: the radio stack gdalos drives (radio_params.py frequencies /
#    PathLoss modes); Fresnel clearance is the link-budget check next to
#    FSL — a link can be LOS-visible yet fail the 60% clearance rule
# ---------------------------------------------------------------------------

FRESNEL_LAMBDA = 0.03  # wavelength in grid units (host constant)
FRESNEL_RULE = 0.6  # the classic 60%-of-r1 clearance rule


def fresnel_clearance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-Fresnel-zone clearance for every observer->target link of
    the p2p set: along the same integer-sampled segment as
    point_to_point_los, clearance_i = (straight line from observer
    height to target height) - terrain, and the Fresnel radius
    r1_i = sqrt(lambda * step * i * (n-i) / n) (the d1 d2 / d form with
    the per-link step length factored out). A link is radio-clean only
    when min(clearance/r1) >= 0.6 — strictly stronger than LOS
    visibility, which is exactly what the report shows. All doubles are
    identical IEEE expressions of exact integers; sqrt is safe; the min
    is order-free."""
    n = N_LOS_STEPS
    links = _los_links(spark, sf_dir)
    g = _dem_z(spark, sf_dir)
    scored = _link_profile(links, g, 1, n - 1)
    # target terrain height (the endpoint cell) per link
    tz = links.join(
        g.select(F.col("px").alias("tx"), F.col("py").alias("ty"), F.col("z").alias("z_t")),
        ["tx", "ty"],
    ).select("c_custkey", "ox", "oy", "z_t")
    j = scored.join(tz, ["c_custkey", "ox", "oy"])
    dist = F.sqrt(
        ((F.col("tx") - F.col("ox")) * (F.col("tx") - F.col("ox"))
         + (F.col("ty") - F.col("oy")) * (F.col("ty") - F.col("oy"))).cast("double")
    )
    step_len = dist / F.lit(float(n))
    line_h = F.lit(float(OBS_Z)) + (F.col("z_t") - F.lit(float(OBS_Z))) * (
        F.col("i").cast("double") / F.lit(float(n))
    )
    clearance = line_h - F.col("z")
    r1 = F.sqrt(
        F.lit(FRESNEL_LAMBDA) * step_len
        * (F.col("i") * (n - F.col("i"))).cast("double") / F.lit(float(n))
    )
    ratio = clearance / r1
    return (
        j.groupBy("c_custkey", "ox", "oy")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.min(ratio), 6).alias("min_ratio"),
            F.sum((ratio < FRESNEL_RULE).cast("int")).cast("bigint").alias("n_intrusions"),
        )
        .withColumn("fresnel_ok", (F.col("n_intrusions") == 0).cast("int"))
        .orderBy("c_custkey", "ox", "oy")
    )


def _fresnel_sql() -> str:
    n = N_LOS_STEPS
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
{_los_links_sql()},
tz AS (
  SELECT l.c_custkey, l.ox, l.oy, CAST(dem.elev AS DOUBLE) AS z_t
  FROM links l JOIN dem ON dem.px = l.tx AND dem.py = l.ty
),
j AS (
  SELECT s.c_custkey, s.ox, s.oy, s.tx, s.ty, s.i, s.z, tz.z_t
  FROM ({_link_profile_sql("links", 1, n - 1)}) s
  JOIN tz ON tz.c_custkey = s.c_custkey AND tz.ox = s.ox AND tz.oy = s.oy
),
scored AS (
  SELECT c_custkey, ox, oy,
         (({OBS_Z} + (z_t - {OBS_Z}) * (CAST(i AS DOUBLE) / {float(n)})) - z)
         / SQRT({FRESNEL_LAMBDA} * (SQRT(CAST((tx - ox) * (tx - ox) + (ty - oy) * (ty - oy) AS DOUBLE)) / {float(n)})
                * CAST(i * ({n} - i) AS DOUBLE) / {float(n)}) AS ratio
  FROM j
)
SELECT c_custkey, ox, oy, COUNT(*) AS n_samples,
       ROUND(MIN(ratio), 6) AS min_ratio,
       CAST(SUM(CASE WHEN ratio < {FRESNEL_RULE} THEN 1 ELSE 0 END) AS BIGINT) AS n_intrusions,
       CAST(CASE WHEN SUM(CASE WHEN ratio < {FRESNEL_RULE} THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS INTEGER) AS fresnel_ok
FROM scored
GROUP BY 1, 2, 3
ORDER BY c_custkey, ox, oy
"""


FRESNEL_CLEARANCE_SQL = _fresnel_sql()


# ---------------------------------------------------------------------------
# viewshed_greedy_observers — greedy max-coverage observer placement
#    ref: the planning question the reference's multi-observer viewshed
#    (viewshed_calc CalcOperation.count) feeds into: WHICH observers
#    cover most terrain — classic greedy submodular set cover
# ---------------------------------------------------------------------------

GREEDY_ROUNDS = 2


def _vis_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(observer, cell) visibility pairs — the per-observer LOS fan that
    viewshed_observer_count aggregates, kept un-aggregated."""
    vis = _radial_los(dem_grid(spark, sf_dir), _observers(spark), keys=("ox", "oy"))
    return vis.filter(F.col("visible") == 1).select("ox", "oy", "px", "py")


def viewshed_greedy_observers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage observer placement (the 1-1/e-optimal
    classic): round 1 picks the observer seeing the most cells, round 2
    the one adding the most cells NOT already covered — the iterative
    submodular pattern Spark has no operator for, expressed as
    argmax-agg + anti-join per round (the same bounded-round discipline
    as the CC/PageRank loops; the visibility fan is computed ONCE and
    persisted). Ties break on (ox, oy), so the pick is total-ordered.
    Output per round: the chosen observer, its own coverage, its
    marginal gain, and the cumulative union size."""
    vis = query_persist(_vis_pairs(spark, sf_dir))
    counts = vis.groupBy("ox", "oy").agg(F.count(F.lit(1)).alias("cov"))
    w = Window.orderBy(F.desc("cov"), "ox", "oy")
    best1 = counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    b1 = best1.select(
        F.col("ox").alias("b_ox"), F.col("oy").alias("b_oy"), F.col("cov").alias("cov1")
    )
    covered1 = vis.join(
        F.broadcast(b1), (F.col("ox") == F.col("b_ox")) & (F.col("oy") == F.col("b_oy"))
    ).select("px", "py")
    remaining = vis.join(covered1, ["px", "py"], "left_anti")
    marg = remaining.groupBy("ox", "oy").agg(F.count(F.lit(1)).alias("marginal"))
    best2 = (
        marg.withColumn("rk", F.row_number().over(Window.orderBy(F.desc("marginal"), "ox", "oy")))
        .filter(F.col("rk") == 1)
    )
    r1 = best1.select(
        F.lit(1).alias("round"),
        "ox", "oy",
        F.col("cov").cast("bigint").alias("own_coverage"),
        F.col("cov").cast("bigint").alias("marginal_gain"),
        F.col("cov").cast("bigint").alias("cumulative_coverage"),
    )
    r2 = (
        best2.join(F.broadcast(counts.select(F.col("ox").alias("c_ox"), F.col("oy").alias("c_oy"), "cov")),
                   (F.col("ox") == F.col("c_ox")) & (F.col("oy") == F.col("c_oy")))
        .crossJoin(F.broadcast(b1.select("cov1")))
        .select(
            F.lit(2).alias("round"),
            "ox", "oy",
            F.col("cov").cast("bigint").alias("own_coverage"),
            F.col("marginal").cast("bigint").alias("marginal_gain"),
            (F.col("cov1") + F.col("marginal")).cast("bigint").alias("cumulative_coverage"),
        )
    )
    return r1.union(r2).orderBy("round")


def _greedy_sql() -> str:
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
{_observers_sql()},
vis AS (
  SELECT ox, oy, px, py FROM ({_radial_los_sql("obs", keys=("ox", "oy"))}) WHERE visible = 1
),
counts AS (SELECT ox, oy, COUNT(*) AS cov FROM vis GROUP BY 1, 2),
best1 AS (SELECT * FROM counts ORDER BY cov DESC, ox, oy LIMIT 1),
covered1 AS (
  SELECT DISTINCT v.px, v.py FROM vis v JOIN best1 b ON v.ox = b.ox AND v.oy = b.oy
),
remaining AS (
  SELECT v.* FROM vis v
  WHERE NOT EXISTS (SELECT 1 FROM covered1 c WHERE c.px = v.px AND c.py = v.py)
),
marg AS (SELECT ox, oy, COUNT(*) AS marginal FROM remaining GROUP BY 1, 2),
best2 AS (SELECT * FROM marg ORDER BY marginal DESC, ox, oy LIMIT 1)
SELECT 1 AS round, ox, oy,
       CAST(cov AS BIGINT) AS own_coverage,
       CAST(cov AS BIGINT) AS marginal_gain,
       CAST(cov AS BIGINT) AS cumulative_coverage
FROM best1
UNION ALL
SELECT 2, b2.ox, b2.oy,
       CAST(c.cov AS BIGINT),
       CAST(b2.marginal AS BIGINT),
       CAST(b1.cov + b2.marginal AS BIGINT)
FROM best2 b2
JOIN counts c ON c.ox = b2.ox AND c.oy = b2.oy
CROSS JOIN best1 b1
ORDER BY round
"""


VIEWSHED_GREEDY_OBSERVERS_SQL = _greedy_sql()


# ---------------------------------------------------------------------------
# terrain_profile — elevation profile along observer->target segments
#    ref: the profile tool next to los_calc — same sampling, the full
#    elevation series instead of the boolean
# ---------------------------------------------------------------------------

PROFILE_TARGET_MOD = 400  # denser target subset than the LOS links


def terrain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elevation profile along each observer->target segment: the same
    integer midpoint sampling as point_to_point_los, but emitting the
    whole series — per step, the terrain height, the straight sight
    line's height, and the clearance — plus the per-step grade from a
    lag window over the (link, step) order. What a profile popup
    renders; one DEM equi-join, one window, no trig."""
    n = N_LOS_STEPS
    j = _link_profile(
        _los_links(spark, sf_dir, OBSERVERS[:2], PROFILE_TARGET_MOD), _dem_z(spark, sf_dir), 0, n
    ).select("c_custkey", "ox", "oy", "i", "z")
    endz = j.filter(F.col("i") == n).select(
        "c_custkey", "ox", "oy", F.col("z").alias("z_t")
    )
    jj = j.join(endz, ["c_custkey", "ox", "oy"])
    line_h = F.lit(float(OBS_Z)) + (F.col("z_t") - F.lit(float(OBS_Z))) * (
        F.col("i").cast("double") / F.lit(float(n))
    )
    w = Window.partitionBy("c_custkey", "ox", "oy").orderBy("i")
    out = jj.select(
        "c_custkey", "ox", "oy", "i", "z",
        line_h.alias("sight_h"),
        (line_h - F.col("z")).alias("clearance"),
    ).withColumn("grade", F.col("z") - F.lag("z").over(w))
    return out.select(
        "c_custkey", "ox", "oy", "i", "z", "sight_h", "clearance",
        F.coalesce("grade", F.lit(0.0)).alias("grade"),
    ).orderBy("c_custkey", "ox", "oy", "i")


def _profile_sql() -> str:
    n = N_LOS_STEPS
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
{_los_links_sql(OBSERVERS[:2], PROFILE_TARGET_MOD)},
j AS (SELECT c_custkey, ox, oy, i, z FROM ({_link_profile_sql("links", 0, n)})),
endz AS (SELECT c_custkey, ox, oy, z AS z_t FROM j WHERE i = {n}),
jj AS (
  SELECT j.*, endz.z_t,
         {OBS_Z} + (endz.z_t - {OBS_Z}) * (CAST(j.i AS DOUBLE) / {float(n)}) AS sight_h
  FROM j JOIN endz USING (c_custkey, ox, oy)
)
SELECT c_custkey, ox, oy, i, z, sight_h, sight_h - z AS clearance,
       COALESCE(z - LAG(z) OVER (PARTITION BY c_custkey, ox, oy ORDER BY i), 0.0) AS grade
FROM jj
ORDER BY c_custkey, ox, oy, i
"""


TERRAIN_PROFILE_SQL = _profile_sql()


# ---------------------------------------------------------------------------
# dbscan_grid_clusters — density-based spatial clustering, grid-blocked
# ---------------------------------------------------------------------------

# eps^2 * n ~= 2 * area / pi -> every point expects ~2 eps-neighbors at any
# scale factor (subcritical for continuum percolation, so components stay
# small and the oracle's transitive closure stays cheap); clamped at the
# 3x3-cell coverage bound eps <= DBSCAN_CELL.
DBSCAN_C = 26_075_000
DBSCAN_MIN_PTS = 4
DBSCAN_CELL = 200


def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over a hash-scattered point cloud, the distributed way:
    candidate pairs meet ONLY through a 32x32 cell equi-join (constant
    9-cell fan-out per point, never all-pairs), core points are the
    >= DBSCAN_MIN_PTS eps-neighbor rows of one groupBy, clusters are
    connected components of the core-core eps-graph via the alternating
    large-star/small-star loop shared with dedup_clusters, and border
    points deterministically take the MINIMUM core-neighbor cluster
    (classic DBSCAN's first-come assignment is scan-order-dependent —
    useless under a correctness gate). eps scales with observed density
    (eps2 = DBSCAN_C/n from the parquet FOOTER count — the same number
    the cell edge below derives from, so the two can never diverge), so
    the neighborhood load stays O(1) per point at every scale factor.

    The GRID CELL edge adapts with eps (the smallest c with c^2 >=
    eps2, from the parquet footer count — the custkey-gate input
    class): a static 200-px cell at 1M points held ~977 points per
    cell while eps had shrunk to ~5, so the 9-cell equi-join evaluated
    ~9e9 candidate pairs (measured 1989 s at the sf10 upscale — found
    by the round-11 full-catalog sf10 sweep); with c ~ eps the per-cell
    occupancy is O(eps^2 * density) = O(1) and the candidate volume is
    O(n). Result-IDENTICAL by construction: the exact distance
    predicate is unchanged and c >= eps keeps every eps-ball inside the
    3x3 stencil — the cell size only bounds the candidate SUPERSET (the
    DuckDB oracle keeps the static cell and must agree value-for-value,
    which the driver gate checks).

    Output: one row per cluster (cluster_id = min event_id) plus the
    noise row (cluster_id = -1, count in n_points). Coordinates come
    from md5 so they scatter uniformly — the lattice the multiplicative
    derivation produces collapses DBSCAN into one giant component."""
    import math

    from gdalos_spark.datamodel import footer_count
    from gdalos_spark.functions import hashing
    from gdalos_spark.operators.dedup import _cc_alternating

    ev = load(spark, sf_dir, "events")
    p = ev.select(
        "event_id",
        (hashing.md5_int60(F.concat(F.lit("x"), F.col("event_id").cast("string"))) % 6400).alias("xi"),
        (hashing.md5_int60(F.concat(F.lit("y"), F.col("event_id").cast("string"))) % 6400).alias("yi"),
    )
    # eps2 and the cell edge BOTH derive from the footer count of the
    # plain parquet files (ADVICE r11: the former runtime count(1) agg
    # could read a stale bucketed copy and diverge from the host-side
    # cell, silently dropping true neighbor pairs when cell < eps).
    # The oracle keeps count(*) — DuckDB reads the same plain files the
    # footer count walks, so the two counts are equal by construction.
    n_pts = max(1, footer_count(sf_dir, "events"))
    eps2_host = max(1, min(DBSCAN_C // n_pts, DBSCAN_CELL * DBSCAN_CELL))
    cell = min(DBSCAN_CELL, math.isqrt(eps2_host - 1) + 1)
    assert cell * cell >= eps2_host, (cell, eps2_host)
    pc = p.select(
        "event_id", "xi", "yi",
        F.expr(f"xi div {cell}").alias("cx"),
        F.expr(f"yi div {cell}").alias("cy"),
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx int, dy int"
    )
    probes = pc.crossJoin(F.broadcast(offsets)).select(
        F.col("event_id").alias("ea"),
        F.col("xi").alias("axi"),
        F.col("yi").alias("ayi"),
        (F.col("cx") + F.col("dx")).alias("cx"),
        (F.col("cy") + F.col("dy")).alias("cy"),
    )
    right = pc.select(
        F.col("event_id").alias("eb"),
        F.col("xi").alias("bxi"),
        F.col("yi").alias("byi"),
        "cx", "cy",
    )
    cand = (
        probes.join(right, ["cx", "cy"])
        .where(
            (F.col("eb") != F.col("ea"))
            & (
                (F.col("axi") - F.col("bxi")) * (F.col("axi") - F.col("bxi"))
                + (F.col("ayi") - F.col("byi")) * (F.col("ayi") - F.col("byi"))
                <= F.lit(eps2_host)
            )
        )
        .select("ea", "eb")
    )
    cand = query_persist(cand)
    ncnt = cand.groupBy("ea").agg(F.count(F.lit(1)).alias("n"))
    core = ncnt.where(F.col("n") >= DBSCAN_MIN_PTS).select(
        F.col("ea").alias("event_id")
    )
    core_edges = (
        cand.join(core.withColumnRenamed("event_id", "ea"), "ea")
        .join(core.withColumnRenamed("event_id", "eb"), "eb")
        .where(F.col("ea") < F.col("eb"))
        .select(F.col("ea").alias("doc_a"), F.col("eb").alias("doc_b"))
    )
    root_map, _, _ = _cc_alternating(core_edges)
    clab = core.join(
        root_map, core.event_id == root_map.node, "left"
    ).select(
        "event_id", F.coalesce(F.col("root"), F.col("event_id")).alias("cluster_id")
    )
    blab = (
        cand.join(core.withColumnRenamed("event_id", "ea"), "ea", "left_anti")
        .join(
            clab.select(F.col("event_id").alias("eb"), "cluster_id"), "eb"
        )
        .groupBy("ea")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select(F.col("ea").alias("event_id"), "cluster_id")
    )
    cls = clab.select("event_id", "cluster_id", F.lit("core").alias("klass")).unionByName(
        blab.select("event_id", "cluster_id", F.lit("border").alias("klass"))
    )
    agg = cls.groupBy("cluster_id").agg(
        F.sum(F.when(F.col("klass") == "core", 1).otherwise(0))
        .cast("bigint")
        .alias("n_core"),
        F.sum(F.when(F.col("klass") == "border", 1).otherwise(0))
        .cast("bigint")
        .alias("n_border"),
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
    )
    noise = (
        p.join(cls, "event_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .select(
            F.lit(-1).cast("bigint").alias("cluster_id"),
            F.lit(0).cast("bigint").alias("n_core"),
            F.lit(0).cast("bigint").alias("n_border"),
            "n_points",
        )
    )
    return agg.unionByName(noise)


DBSCAN_GRID_CLUSTERS_SQL = f"""
WITH RECURSIVE p AS (
  SELECT event_id,
    CAST('0x' || substring(md5('x' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 6400 AS xi,
    CAST('0x' || substring(md5('y' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 6400 AS yi
  FROM events
),
par AS (SELECT LEAST({DBSCAN_C} // COUNT(*), {DBSCAN_CELL * DBSCAN_CELL}) AS eps2 FROM p),
pc AS (SELECT event_id, xi, yi, xi // {DBSCAN_CELL} AS cx, yi // {DBSCAN_CELL} AS cy FROM p),
probes AS (
  SELECT event_id, xi, yi, cx + dx AS cx, cy + dy AS cy
  FROM pc, (SELECT unnest(range(-1, 2)) AS dx), (SELECT unnest(range(-1, 2)) AS dy)
),
cand AS (
  SELECT a.event_id AS ea, b.event_id AS eb
  FROM probes a JOIN pc b ON a.cx = b.cx AND a.cy = b.cy, par
  WHERE b.event_id <> a.event_id
    AND (a.xi-b.xi)*(a.xi-b.xi)+(a.yi-b.yi)*(a.yi-b.yi) <= par.eps2
),
nc AS (SELECT ea AS event_id, COUNT(*) AS n FROM cand GROUP BY 1),
core AS (SELECT event_id FROM nc WHERE n >= {DBSCAN_MIN_PTS}),
ce AS (
  SELECT c.ea AS src, c.eb AS dst FROM cand c
  JOIN core x ON c.ea = x.event_id JOIN core y ON c.eb = y.event_id
),
reach(v, u) AS (
  SELECT event_id, event_id FROM core
  UNION
  SELECT reach.v, e.dst FROM reach JOIN ce e ON e.src = reach.u
),
clab AS (SELECT v AS event_id, MIN(u) AS cluster_id FROM reach GROUP BY v),
blab AS (
  SELECT c.ea AS event_id, MIN(cl.cluster_id) AS cluster_id
  FROM cand c JOIN clab cl ON c.eb = cl.event_id
  WHERE c.ea NOT IN (SELECT event_id FROM core)
  GROUP BY 1
),
cls AS (
  SELECT event_id, cluster_id, 'core' AS klass FROM clab
  UNION ALL SELECT event_id, cluster_id, 'border' FROM blab
),
agg AS (
  SELECT cluster_id,
         CAST(COUNT(*) FILTER (klass = 'core') AS BIGINT) AS n_core,
         CAST(COUNT(*) FILTER (klass = 'border') AS BIGINT) AS n_border,
         CAST(COUNT(*) AS BIGINT) AS n_points
  FROM cls GROUP BY 1
)
SELECT cluster_id, n_core, n_border, n_points FROM agg
UNION ALL
SELECT -1, 0, 0, (SELECT COUNT(*) FROM p) - (SELECT COUNT(*) FROM cls)
"""


# ---------------------------------------------------------------------------
# 236. viewshed_combine_modes — the remaining CalcOperation combine modes
#    ref: viewshed/viewshed_calc.py:63 CalcOperation (max/min/count/
#         count_z/unique), :1008 los_operation, and the per-mode combine
#         functions calc/gdalos_combine.py:13 vs_max, :22 vs_min,
#         :31 vs_count, :42 vs_count_z (NDV-aware count), :58 vs_unique
#         (254 = multiple observers, 255 = none); status codes + combine
#         constants from viewshed/viewshed_params.py:13-26.
#
# Each observer's LOS fan is the standard per-(observer, ray) running-max
# window (viewshed_observer_count's plan); every cell then carries the
# reference's status code per observer — st_seen(5) when visible,
# st_hidden(2) when occluded, st_nodata(0) beyond that observer's range
# (the NDV case vs_count_z exists for) — and ONE per-cell aggregation
# emits all five combine modes at once. Pure integer codes end-to-end,
# so the oracle is bit-exact by construction. Scale shape: the observer
# table is a broadcast dim, the DEM fans out map-side, one window
# shuffle on (obs_id, ray) + one cell agg — identical to the certified
# observer-count plan, just with a wider combine.
# ---------------------------------------------------------------------------

ST_SEEN = 5       # viewshed_params.py:13 st_seen
ST_HIDDEN = 2     # viewshed_params.py:16 st_hidden
ST_NODATA = 0     # viewshed_params.py:18 st_nodata (out of range)
VS_THRESH = 3     # viewshed_params.py:21 viewshed_thresh = st_hidbut
COMB_NDV = 255    # viewshed_params.py:25 viewshed_comb_ndv
COMB_MULTI = 254  # viewshed_params.py:26 viewshed_comb_multi_val
# per-observer range (grid units): R_i = 18 + 6*i leaves the far corners
# outside EVERY observer's range, exercising vs_count_z's all-NDV branch
COMB_RANGES = tuple(18 + 6 * i for i in range(len(OBSERVERS)))
# the combine observer set: (obs_id, ox, oy, r2) with r2 = R_i^2
COMB_OBSERVERS = tuple((i, x, y, r * r) for i, ((x, y), r) in enumerate(zip(OBSERVERS, COMB_RANGES)))


def viewshed_combine_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four remaining CalcOperation combine modes
    (viewshed_calc.py:63, gdalos_combine.py) over the multi-observer LOS
    fan (max / min / count_z / unique; count is the certified
    viewshed_observer_count). Per cell: the max and min status
    among in-range observers (COMB_NDV when none is in range), the
    NDV-aware visible count (vs_count_z: COMB_NDV where all observers
    are out of range), and the unique-observer index (vs_unique:
    obs_id when exactly one observer sees the cell, COMB_MULTI when
    several do, COMB_NDV when none does)."""
    scored = _radial_los(
        dem_grid(spark, sf_dir),
        _observers(spark, COMB_OBSERVERS, "obs_id int, ox int, oy int, r2 int"),
        keys=("obs_id",), carry=("obs_id", "r2"),
    )
    v = (
        F.when(F.col("d2") > F.col("r2"), ST_NODATA)
        .when(F.col("visible") == 1, ST_SEEN)
        .otherwise(ST_HIDDEN)
    )
    coded = scored.select("px", "py", "obs_id", v.alias("v"))
    n_nonndv = F.sum((F.col("v") != ST_NODATA).cast("int"))
    n_vis = F.sum((F.col("v") > VS_THRESH).cast("int"))
    return (
        coded.groupBy("px", "py")
        .agg(
            F.when(n_nonndv == 0, COMB_NDV)
            .otherwise(F.max(F.when(F.col("v") != ST_NODATA, F.col("v"))))
            .cast("int")
            .alias("comb_max"),
            F.when(n_nonndv == 0, COMB_NDV)
            .otherwise(F.min(F.when(F.col("v") != ST_NODATA, F.col("v"))))
            .cast("int")
            .alias("comb_min"),
            F.when(n_nonndv == 0, COMB_NDV).otherwise(n_vis).cast("int").alias("comb_count_z"),
            F.when(n_vis == 0, COMB_NDV)
            .when(n_vis > 1, COMB_MULTI)
            .otherwise(F.min(F.when(F.col("v") > VS_THRESH, F.col("obs_id"))))
            .cast("int")
            .alias("comb_unique"),
        )
    )


def _combine_modes_sql() -> str:
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
{_observers_sql(COMB_OBSERVERS, "obs_id, ox, oy, r2")},
coded AS (
  SELECT px, py, obs_id,
         CASE WHEN d2 > r2 THEN {ST_NODATA}
              WHEN visible = 1 THEN {ST_SEEN}
              ELSE {ST_HIDDEN} END AS v
  FROM ({_radial_los_sql("obs", keys=("obs_id",), carry=("obs_id", "r2"))})
)
SELECT px, py,
       CAST(CASE WHEN SUM(CASE WHEN v <> {ST_NODATA} THEN 1 ELSE 0 END) = 0 THEN {COMB_NDV}
                 ELSE MAX(CASE WHEN v <> {ST_NODATA} THEN v END) END AS INTEGER) AS comb_max,
       CAST(CASE WHEN SUM(CASE WHEN v <> {ST_NODATA} THEN 1 ELSE 0 END) = 0 THEN {COMB_NDV}
                 ELSE MIN(CASE WHEN v <> {ST_NODATA} THEN v END) END AS INTEGER) AS comb_min,
       CAST(CASE WHEN SUM(CASE WHEN v <> {ST_NODATA} THEN 1 ELSE 0 END) = 0 THEN {COMB_NDV}
                 ELSE SUM(CASE WHEN v > {VS_THRESH} THEN 1 ELSE 0 END) END AS INTEGER) AS comb_count_z,
       CAST(CASE WHEN SUM(CASE WHEN v > {VS_THRESH} THEN 1 ELSE 0 END) = 0 THEN {COMB_NDV}
                 WHEN SUM(CASE WHEN v > {VS_THRESH} THEN 1 ELSE 0 END) > 1 THEN {COMB_MULTI}
                 ELSE MIN(CASE WHEN v > {VS_THRESH} THEN obs_id END) END AS INTEGER) AS comb_unique
FROM coded GROUP BY px, py
"""


VIEWSHED_COMBINE_MODES_SQL = _combine_modes_sql()


# ---------------------------------------------------------------------------
# viewshed_grid_sweep — the reference's GRID-MODE viewshed API
# (viewshed/viewshed_grid_params.py ViewshedGridParams.get_array(): a
# base observer expanded into a (2j+1)^2 grid offset by `interval`,
# each cell a named viewshed run, then combined). The Spark shape: the
# parameter grid is DERIVED declaratively (sequence x sequence — the
# get_array() double loop as a relational expression, never a driver
# list), broadcast against one DEM scan bounded by max_r, and the
# per-observer report is the many-viewshed summary the grid driver
# (viewshed_grid_gdal.py / viewshed_grid_talos.py) materializes.
# ---------------------------------------------------------------------------

GRID_BASE_X, GRID_BASE_Y = 32, 32
GRID_J = 1            # grid_range = -j..j  ->  (2j+1)^2 = 9 observers
GRID_INTERVAL = 8     # ref: interval = max_r / (r_fact * 2)
GRID_MAX_R2 = 400     # max_r = 20 px, compared in squared space


def viewshed_grid_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter-grid viewshed sweep: 9 observers derived from the base
    point by the reference's grid expansion, each running the exact
    integer-ray LOS (same semantics as viewshed_observer_count) over the
    DEM restricted to its max_r radius. One DEM scan fans out x9 against
    the broadcast grid; one window shuffle on (observer, ray); one
    per-observer aggregate. Output: (oname, ox, oy, n_in_range,
    n_visible, vis_fraction) — the summary table the reference's grid
    driver writes one raster per row for.

    Scale: the grid dim is O((2j+1)^2) rows — always broadcast; the
    radius predicate bounds the fan-out to pi*max_r^2 cells per observer
    however large the DEM, and on the tiled layout it prunes tiles at
    the scan."""
    g = dem_grid(spark, sf_dir)
    ij = F.sequence(F.lit(-GRID_J), F.lit(GRID_J))
    obs = (
        spark.range(1)
        .select(F.explode(ij).alias("i"))
        .select("i", F.explode(ij).alias("j"))
        .select(
            F.concat_ws("_", F.col("i"), F.col("j")).alias("oname"),
            (F.lit(GRID_BASE_X) + F.col("i") * GRID_INTERVAL).cast("int").alias("ox"),
            (F.lit(GRID_BASE_Y) + F.col("j") * GRID_INTERVAL).cast("int").alias("oy"),
        )
    )
    vis = _radial_los(
        g, obs, keys=("oname",), carry=("oname", "ox", "oy"),
        where=lambda dx, dy, d2: d2 <= GRID_MAX_R2,
    ).select("oname", "ox", "oy", "visible")
    return (
        vis.groupBy("oname", "ox", "oy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_in_range"),
            F.sum("visible").cast("bigint").alias("n_visible"),
            (F.sum("visible").cast("double") / F.count(F.lit(1))).alias("vis_fraction"),
        )
        .orderBy("oname")
    )


def _grid_sweep_sql() -> str:
    los = _radial_los_sql(
        "obs", keys=("oname",), carry=("oname", "ox", "oy"),
        where=lambda dx, dy, d2: f"{d2} <= {GRID_MAX_R2}",
    )
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
obs AS (
  SELECT CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR) AS oname,
         CAST({GRID_BASE_X} + i * {GRID_INTERVAL} AS INTEGER) AS ox,
         CAST({GRID_BASE_Y} + j * {GRID_INTERVAL} AS INTEGER) AS oy
  FROM (SELECT unnest(range(-{GRID_J}, {GRID_J} + 1)) AS i),
       (SELECT unnest(range(-{GRID_J}, {GRID_J} + 1)) AS j)
),
vis AS ({los})
SELECT oname, ox, oy, CAST(COUNT(*) AS BIGINT) AS n_in_range,
       CAST(SUM(visible) AS BIGINT) AS n_visible,
       CAST(SUM(visible) AS DOUBLE) / COUNT(*) AS vis_fraction
FROM vis GROUP BY oname, ox, oy
ORDER BY oname
"""


VIEWSHED_GRID_SWEEP_SQL = _grid_sweep_sql()


# ---------------------------------------------------------------------------
# geodesic_destination — the geodesic DIRECT problem (observer + azimuth
# + range -> target point), the geographic-CRS twin of the reference's
# fwd mode.
#    ref: viewshed_params.py:204 calc_fwd (fwd viewshed derives target
#         points tx = ox + cos(a)*ground_r, ty = oy + sin(a)*ground_r —
#         planar, valid in a projected CRS); viewshed_calc.py:620
#         calc_dist wraps pyproj Geod for the INVERSE problem. On a
#         4326 dataset the honest fwd is the spherical direct solution,
#         computed here.
#
# Bit-stable like geo_distance: sin/cos of the azimuth via the
# range-reduce/halve/double-angle scheme (sector_ring_points), sin/cos
# of latitude and angular range via direct Maclaurin polys (both are
# bounded small), cos(lat2) via IEEE sqrt, and BOTH output angles
# recovered through the odd asin series on arguments <= 0.02 rad —
# no engine trig anywhere. Pure scalar projection chain: zero shuffles,
# whole-stage codegen end to end.
# ---------------------------------------------------------------------------

_DEST_R_M = _GEO_R_M          # same WGS-84 mean radius as geo_distance
_DEST_MAX_R_M = 100000.0      # range bound: sigma <= 100 km / R ~ 0.0157


def _dest_chain() -> ScalarChain:
    """Spherical direct problem over c_custkey -> (lat2, lon2)."""
    sin8 = lambda x, x2: f"({x} * {_geo_horner(x2, _ARC_SIN_C)})"  # noqa: E731
    cos8 = lambda x2: _geo_horner(x2, _ARC_COS_C)  # noqa: E731
    asin9 = lambda x, x2: f"({x} * {_geo_horner(x2, _GEO_ASIN_C)})"  # noqa: E731
    c = ScalarChain(*spark_spellings())
    # bounded synthetic observer + fwd spec: lon/lat in [-15, 15),
    # azimuth in [0, 360) tenths, range in [1, 100] km
    c.add("lon1", "(CAST(c_custkey * 7 % 30 AS DOUBLE) - 15.0 + 0.5)")
    c.add("lat1", "(CAST(c_custkey * 13 % 30 AS DOUBLE) - 15.0 + 0.25)")
    c.add("az_deg", "(CAST(c_custkey * 29 % 3600 AS DOUBLE) / 10.0)")
    c.add("dist_m", "(1000.0 + CAST(c_custkey * 37 % 99001 AS DOUBLE))")
    c.add("alp", f"(az_deg * {_geo_lit(_GEO_RAD)})")
    c.add("f1", f"(lat1 * {_geo_lit(_GEO_RAD)})")
    c.add("sg", f"(dist_m / {_geo_lit(_DEST_R_M)})")
    # azimuth range-reduced to [-pi, pi) then halved (arc scheme)
    c.add("ah", f"((alp - {_geo_lit(M_2PI)} * floor((alp + {_geo_lit(M_PI)}) / {_geo_lit(M_2PI)})) * 0.5)")
    c.add("sah", sin8("ah", "(ah * ah)"))
    c.add("cah", cos8("(ah * ah)"))
    c.add("sa", "(2.0 * (sah * cah))")  # sin(azimuth)
    c.add("ca", "(1.0 - 2.0 * (sah * sah))")  # cos(azimuth)
    c.add("sf1", sin8("f1", "(f1 * f1)"))  # sin(lat1), |f1| <= 0.262
    c.add("cf1", cos8("(f1 * f1)"))
    c.add("ss", sin8("sg", "(sg * sg)"))  # sin(sigma), sigma <= 0.0157
    c.add("cs", cos8("(sg * sg)"))
    c.add("sf2", "((sf1 * cs) + ((cf1 * ss) * ca))")  # sin(lat2)
    c.add("cf2", "sqrt(1.0 - (sf2 * sf2))")  # |lat2| < 90
    # delta-lat via sin(f2-f1); delta-lon via the spherical sine rule
    # sin(dlam) = sin(az) sin(sigma) / cos(lat2) — both arguments <=
    # sigma, deep inside the asin series domain
    c.add("sd", "((sf2 * cf1) - (cf2 * sf1))")
    c.add("sl", "((sa * ss) / cf2)")
    c.add("lat2", f"(lat1 + ({asin9('sd', '(sd * sd)')} / {_geo_lit(_GEO_RAD)}))")
    c.add("lon2", f"(lon1 + ({asin9('sl', '(sl * sl)')} / {_geo_lit(_GEO_RAD)}))")
    return c


_DEST_IDS = ("c_custkey", "lon1", "lat1", "az_deg", "dist_m")
_DEST_KEEP = (*_DEST_IDS, "lat2", "lon2")


def geodesic_destination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical direct geodesic per synthetic fwd spec (observer,
    azimuth, range derived from c_custkey): the destination point the
    reference's fwd viewshed needs in geographic coordinates
    (viewshed_params.py:204 calc_fwd). Polynomial trig + asin series —
    see module comment; ROUND(9) (~0.1 mm) absorbs nothing cross-engine
    (text-identical) but pins a stable display precision."""
    from gdalos_spark.datamodel import load as _load

    df = _dest_chain().apply_spark(
        _load(spark, sf_dir, "customer"), keep=_DEST_KEEP, inputs=("c_custkey",)
    )
    return df.select(
        *_DEST_IDS,
        F.round("lat2", 9).alias("lat2"),
        F.round("lon2", 9).alias("lon2"),
    )


def _geodesic_destination_sql() -> str:
    q = _dest_chain().wrap_sql("SELECT c_custkey FROM customer", keep=_DEST_KEEP, inputs=("c_custkey",))
    return f"""
SELECT c_custkey, lon1, lat1, az_deg, dist_m,
       ROUND(lat2, 9) AS lat2,
       ROUND(lon2, 9) AS lon2
FROM ({q}) AS t
"""


GEODESIC_DESTINATION_SQL = _geodesic_destination_sql()


# ---------------------------------------------------------------------------
# radio_itm_loss — ITM (Longley-Rice) point-to-point non-free-space loss
#    ref: viewshed/radio_params.py:18 RadioCalcType.NonFreeSpaceLoss — the
#         one RadioCalcType the repo did not cover; radio_params.py:45-52
#         RadioBaseParams(refractivity, conductivity, permittivity,
#         humidity) with DefaultRadioBaseParams(300.0, 0.03, 15.0, 10.0)
#         at :53. The reference defers the actual propagation model to
#         the talos DLL, so this is an independent implementation of the
#         PUBLIC NTIA Irregular Terrain Model (Hufford, "The ITS
#         Irregular Terrain Model, version 1.2.2: The Algorithm"), not a
#         port of any reference code.
#
# Scope: the p2p reference attenuation through ALL THREE lrprop
# regimes — LOS, diffraction, and troposcatter (ascat: the H0
# scatter-efficiency blend, the F(theta*d) table, the refractivity exp
# term, fitted into the (aes, ems) line with the dx crossover; the
# scatter line is computed for every link exactly as lrprop does and
# gated via the dx_m/aes_db/ems_db_per_m output columns even where the
# 9-km test links never reach d > dx) — over the SAME integer-sampled
# DEM profiles as point_to_point_los:
#   * qlrps scenario setup runs HOST-SIDE from RadioBaseParams exactly as
#     ITM does once per scenario: effective earth curvature
#     gme = 157e-9 * (1 - 0.04665*exp(Ns/179.3)) and the surface transfer
#     impedance zgnd = sqrt((eps_r + j*376.62*sigma/wn) - 1) (horizontal
#     polarity), embedded as exponent-spelled double literals. Humidity
#     is carried in the output but unused — exactly how the reference
#     forwards it to the DLL.
#   * hzns horizon scan per link end from the profile: elevation angle
#     over the effective-earth bulge th = (z - z_end)/d - gme*d/2, the
#     max over interior samples, its distance as the horizon distance.
#   * dh terrain irregularity = interdecile range of the interior
#     profile elevations (ranked positions 1+(M-1)//10 and M-(M-1)//10
#     over the M present samples, deterministic (z, i) ordering — the
#     sparse small-SF DEM drops cells, so M varies per link).
#   * adiff: double knife-edge (aknfe) + smooth-earth (fht) attenuation
#     blended by the ITM weighting, plus the clutter term afo — fitted
#     through lrprop's two abscissae d3/d4 into the diffraction line
#     aed + emd*d that IS the diffraction-range aref.
#   * alos: lrprop's two-ray LOS blend — the complex ground reflection
#     over zgnd, the two-ray phase, the wls weighting against the
#     diffraction line — probed at lrprop's d0/d1 and fitted into
#     (ael, ak1, ak2); LOS-range aref = max(ael + ak1*d + ak2*ln d, 0).
#     regime = lrprop's literal branch d < dlsa.
# Every transcendental is an engine-identical polynomial/Newton form
# from functions/scalar_chain.py (ln via integer bit-length + atanh
# series, exp via base-2 range reduction + Maclaurin, cbrt via Newton) —
# no engine libm touches any gated value. ITM's kwx parameter-range
# error flags are stood in for by greatest(...) clamps at the same
# boundaries (q >= 1 before each ln), so degenerate geometry stays
# finite and deterministic instead of NaN.
#
# Plan shape: tiny link table (|customers|/23 x 5 observers) crossJoin a
# 63-row step table, equi-join the DEM on the sampled cell — the same
# bounded fan-out as point_to_point_los — one groupBy + one window for
# the per-link reductions, then a pure scalar projection chain with
# zero further shuffles. The full lrprop program is ~350 columns, past
# the JVM's 64KB codegen method cap, so Spark falls back to interpreted
# projection for this stage — measured irrelevant at link-table
# cardinality (the profile join dominates); at 100 TB the link table is
# what scales and the projection stays embarrassingly parallel.
# ---------------------------------------------------------------------------

ITM_REFRACTIVITY = 300.0  # RadioBaseParams defaults, radio_params.py:53
ITM_CONDUCTIVITY = 0.03
ITM_PERMITTIVITY = 15.0
ITM_HUMIDITY = 10.0
ITM_HG = 10.0  # structural antenna height (m) for the afo/wd1 terms
_ITM_WN = RADIO_FREQ_MHZ / 47.7  # ITM wave number, 1/m
_ITM_GME = 157e-9 * (1.0 - 0.04665 * _m.exp(ITM_REFRACTIVITY / 179.3))
_ITM_QK = 0.2667357184806571  # 1/|zgnd|, host cmath: sqrt(15+1.2446j - 1)
_ITM_FSPL_C = 8.685889638065035  # 20/ln(10)
_ITM_FSPL_K = 25.17975792706731  # 20*log10(433 MHz) - 27.55
# surface transfer impedance zgnd (horizontal polarity) — host cmath,
# qlrps: sqrt(complex(eps_r, 376.62*sigma/wn) - 1); _ITM_QK == 1/|zgnd|
_ITM_ZGND = _cm.sqrt(complex(ITM_PERMITTIVITY, 376.62 * ITM_CONDUCTIVITY / _ITM_WN) - 1.0)
# lrprop's diffraction-line abscissa scale xae = (wn * gme^2)^(-1/3)
_ITM_XAE = (_ITM_WN * _ITM_GME * _ITM_GME) ** (-1.0 / 3.0)
# troposcatter scenario constants (ascat / the lrprop wscat section):
# the 200 km probe spacing, the dx log floor dla + 0.3*xae*ln(47.7*wn),
# and etq = (5.67e-6*Ns - 2.32e-3)*Ns + 0.031 from the refractivity
_ITM_DS = 200e3
_ITM_DXLOG = 0.3 * _ITM_XAE * _m.log(47.7 * _ITM_WN)
_ITM_ETQ = (5.67e-6 * ITM_REFRACTIVITY - 2.32e-3) * ITM_REFRACTIVITY + 0.031


def _itm_chain(intdiv: str, shift) -> ScalarChain:
    """The shared adiff scalar program over the link-level inputs
    (d_m, sm, dh, te1, te2, dl1, dl2, he1, he2, zt): identical text in
    both engines except the injected div/shift spellings."""
    from gdalos_spark.functions.literals import dbl_lit as L

    gme, wn, qk, hg = L(_ITM_GME), L(_ITM_WN), L(_ITM_QK), L(ITM_HG)
    c = ScalarChain(intdiv, shift)
    c.add("dls1", f"sqrt(2.0e0 * he1 / {gme})")
    c.add("dls2", f"sqrt(2.0e0 * he2 / {gme})")
    c.add("dla", "(dl1 + dl2)")
    c.add("dlsa", "(dls1 + dls2)")
    c.add("tha", f"greatest(te1 + te2, -(dla * {gme}))")
    # clutter term afo (ITM adiff setup)
    c.exp_neg(f"(dlsa * {L(1.0 / 50e3)})", "e_dlsa")
    c.add("q0", "((1.0e0 - 0.8e0 * e_dlsa) * dh)")
    c.add("fr4", "sqrt(sqrt(q0 / 16.0e0))")
    c.exp_neg("fr4", "e_fr4")
    c.add("q1c", "(q0 * 0.78e0 * e_fr4)")
    c.ln(f"(1.0e0 + {L(4.77e-4 * ITM_HG * ITM_HG)} * {wn} * q1c)", "ln_afo")
    c.add("afo", "least(15.0e0, 2.171e0 * ln_afo)")
    # weighting setup
    c.add("wd1", f"sqrt(1.0e0 + (he1 * he2 - {L(ITM_HG * ITM_HG)}) / {L(ITM_HG * ITM_HG + 10.0)})")
    c.add("xd1", f"(dla + tha / {gme})")
    # per-terminal smooth-earth height-gain setup (fht at xht)
    for j in (1, 2):
        c.add(f"a{j}", f"(0.5e0 * dl{j} * dl{j} / he{j})")
        c.cbrt(f"(a{j} * {wn})", f"wa{j}")
        c.add(f"pk{j}", f"({qk} / wa{j})")
        # >= 1 clamp: ITM's kwx range guard; keeps the ln branch finite
        c.add(f"q{j}j", f"greatest((1.607e0 - pk{j}) * 151.0e0 * wa{j} * dl{j} / a{j}, 1.0e0)")
        c.ln(f"pk{j}", f"lnpk{j}")
        c.ln(f"q{j}j", f"lnx{j}")
        c.add(f"w{j}", f"(0.0e0 - lnpk{j})")
        c.exp_neg(f"least(0.005e0 * q{j}j, 30.0e0)", f"ex{j}")
        c.add(f"wz{j}", f"(0.0134e0 * q{j}j * ex{j})")
        c.add(
            f"fht{j}",
            f"(CASE WHEN q{j}j < 200.0e0 THEN "
            f"(CASE WHEN pk{j} < 1.0e-5 OR q{j}j * w{j} * w{j} * w{j} > 5495.0e0 THEN "
            f"(CASE WHEN q{j}j > 1.0e0 THEN 17.372e0 * lnx{j} - 117.0e0 ELSE -117.0e0 END) "
            f"ELSE 2.5e-5 * q{j}j * q{j}j / pk{j} - 8.686e0 * w{j} - 15.0e0 END) "
            f"ELSE (CASE WHEN q{j}j < 2000.0e0 THEN "
            f"(1.0e0 - wz{j}) * (0.05751e0 * q{j}j - 4.343e0 * lnx{j}) + wz{j} * (17.372e0 * lnx{j} - 117.0e0) "
            f"ELSE 0.05751e0 * q{j}j - 4.343e0 * lnx{j} END) END)",
        )
    c.add("xht", "(q1j + q2j)")
    c.add("aht", "(20.0e0 + fht1 + fht2)")

    # --- lrprop diffraction line: adiff evaluated at the two ITM fit
    # abscissae d3/d4, then aref(diffraction-range d) = aed + emd*d
    c.add("d3", f"greatest(dlsa, dla + {L(1.3787 * _ITM_XAE)})")
    c.add("d4", f"(d3 + {L(2.7574 * _ITM_XAE)})")
    _itm_adiff_at(c, "3", gme, wn, qk, L)
    _itm_adiff_at(c, "4", gme, wn, qk, L)
    c.add("emd", "((adiff_4 - adiff_3) / (d4 - d3))")
    c.add("aed", "(adiff_3 - emd * d3)")

    # --- lrprop LOS coefficients: alos (two-ray over zgnd) at the ITM
    # probe distances d0/d1, the (ael, ak1, ak2) fit, aref(LOS d) =
    # max(ael + ak1*d + ak2*ln d, 0)
    c.add("wls", f"(0.021e0 / (0.021e0 + {wn} * dh / greatest(1.0e4, dlsa)))")
    c.add("qh", "(he1 + he2)")
    c.add("d0r", f"(1.908e0 * {wn} * he1 * he2)")
    c.add("d0l", "(CASE WHEN aed >= 0.0e0 THEN least(d0r, 0.5e0 * dla) ELSE d0r END)")
    c.add(
        "d1l",
        "(CASE WHEN aed >= 0.0e0 THEN (d0l + 0.25e0 * (dla - d0l)) "
        "ELSE greatest((0.0e0 - aed) / greatest(emd, 1.0e-12), 0.25e0 * dla) END)",
    )
    _itm_alos_at(c, "0", "d0l", wn, L)
    _itm_alos_at(c, "1", "d1l", wn, L)
    c.add("a2l", "(aed + emd * dlsa)")
    c.ln("d0l", "lnd0")
    c.ln("d1l", "lnd1")
    c.ln("dlsa", "lnd2")
    c.add("qlog", "(lnd2 - lnd0)")
    c.add("l10", "(lnd1 - lnd0)")
    c.add("ak2den", "((dlsa - d0l) * l10 - (d1l - d0l) * qlog)")
    # the d0<d1 gate is ITM's; the |den| guard keeps degenerate geometry
    # finite and engine-identical (kwx-clamp convention)
    c.add(
        "ak2a",
        "(CASE WHEN d0l < d1l AND abs(ak2den) > 1.0e-9 THEN "
        "greatest(0.0e0, ((dlsa - d0l) * (alos_1 - alos_0)"
        " - (d1l - d0l) * (a2l - alos_0)) / ak2den) ELSE 0.0e0 END)",
    )
    c.add(
        "wq",
        "(CASE WHEN d0l < d1l AND (aed >= 0.0e0 OR ak2a > 0.0e0) THEN 1 ELSE 0 END)",
    )
    c.add("ak1a", "((a2l - alos_0 - ak2a * qlog) / (dlsa - d0l))")
    c.add("ak2b", "(greatest(a2l - alos_0, 0.0e0) / greatest(qlog, 1.0e-12))")
    c.add("dim21", "(greatest(a2l - alos_1, 0.0e0) / greatest(dlsa - d1l, 1.0e-9))")
    c.add(
        "ak1",
        "(CASE WHEN wq = 1 THEN (CASE WHEN ak1a < 0.0e0 THEN "
        "(CASE WHEN ak2b = 0.0e0 THEN emd ELSE 0.0e0 END) ELSE ak1a END) "
        "ELSE (CASE WHEN dim21 = 0.0e0 THEN emd ELSE dim21 END) END)",
    )
    c.add(
        "ak2",
        "(CASE WHEN wq = 1 THEN (CASE WHEN ak1a < 0.0e0 THEN ak2b ELSE ak2a END) "
        "ELSE 0.0e0 END)",
    )
    c.add("ael", "(a2l - ak1 * dlsa - ak2 * lnd2)")

    # --- lrprop troposcatter line: ascat (ITM section 4, the d > dx
    # regime) evaluated at the two ITM probe distances d5/d6 = dla +
    # 200/400 km — IN THAT CALL ORDER (lrprop computes a6 BEFORE a5;
    # ascat's h0s state couples the two evaluations, so the order is
    # observable) — then the (aes, ems) fit and the dx crossover.
    c.add("ad_s", "abs(dl1 - dl2)")
    c.add("rr_s", "(CASE WHEN dl1 < dl2 THEN he1 / he2 ELSE he2 / he1 END)")
    c.add("d6", f"(dla + {L(2.0 * _ITM_DS)})")
    c.add("d5", f"(dla + {L(_ITM_DS)})")
    _itm_ascat_at(c, "6", gme, wn, L, prev=None)
    _itm_ascat_at(c, "5", gme, wn, L, prev=("inv_s6", "h0_s6"))
    c.add("ems0", f"((a_s6 - a_s5) / {L(_ITM_DS)})")
    # wsc gates the fit on lrprop's a5 < 1000 validity check; the
    # |emd-ems| guard keeps the dx division finite when the two lines
    # are parallel (kwx-clamp convention — the reference divides raw
    # and the 0*inf would poison aes with NaN)
    c.add(
        "wsc",
        "(CASE WHEN a_s5 < 1000.0e0 AND abs(emd - ems0) > 1.0e-12 "
        "THEN 1 ELSE 0 END)",
    )
    c.add("ems", "(CASE WHEN wsc = 1 THEN ems0 ELSE emd END)")
    c.add(
        "dx",
        f"(CASE WHEN wsc = 1 THEN greatest(dlsa, greatest(dla + {L(_ITM_DXLOG)}, "
        "(a_s5 - aed - ems0 * d5) / (emd - ems0))) ELSE 1.0e7 END)",
    )
    c.add("aes", "(CASE WHEN wsc = 1 THEN (emd - ems) * dx + aed ELSE aed END)")

    # --- regime pick (lrprop's literal branches), FSPL, total
    c.ln("d_m", "ln_d")
    c.add("alos_fit", "greatest(ael + ak1 * d_m + ak2 * ln_d, 0.0e0)")
    c.add(
        "aref",
        "(CASE WHEN d_m < dlsa THEN alos_fit "
        "WHEN d_m <= dx THEN (aed + emd * d_m) "
        "ELSE (aes + ems * d_m) END)",
    )
    c.add("fspl", f"({L(_ITM_FSPL_C)} * ln_d + {L(_ITM_FSPL_K)})")
    c.add("ploss", "(fspl + greatest(0.0e0, aref))")
    c.add(
        "regime",
        "(CASE WHEN d_m < dlsa THEN 'los' "
        "WHEN d_m <= dx THEN 'diffraction' ELSE 'scatter' END)",
    )
    return c


def _itm_adiff_at(c: ScalarChain, t: str, gme: str, wn: str, qk: str, L) -> None:
    """ITM adiff(d) at the distance column d{t}: double knife-edge +
    smooth-earth blend over the setup columns (tha, dla, dl1/2, xht,
    aht, afo, wd1, xd1, dh) — the same program the round-11 chain
    evaluated once at de, now tagged so lrprop can fit its diffraction
    line through adiff(d3) and adiff(d4)."""
    c.add(f"th_{t}", f"(tha + d{t} * {gme})")
    c.add(f"ds_{t}", f"(d{t} - dla)")
    c.add(f"qd_{t}", f"(0.0795775e0 * {wn} * ds_{t} * th_{t} * th_{t})")
    for j in (1, 2):
        c.add(f"v2{j}_{t}", f"(qd_{t} * dl{j} / (ds_{t} + dl{j}))")
        c.ln(f"v2{j}_{t}", f"lnv2{j}_{t}")
        c.add(
            f"ak{j}_{t}",
            f"(CASE WHEN v2{j}_{t} < 5.76e0 THEN 6.02e0 + 9.11e0 * sqrt(v2{j}_{t}) - 1.27e0 * v2{j}_{t} "
            f"ELSE 12.953e0 + 4.343e0 * lnv2{j}_{t} END)",
        )
    c.add(f"adiffv_{t}", f"(ak1_{t} + ak2_{t})")
    c.add(f"ax_{t}", f"(ds_{t} / th_{t})")
    c.cbrt(f"(ax_{t} * {wn})", f"wa_{t}")
    c.add(f"pk_{t}", f"({qk} / wa_{t})")
    c.add(f"qx_{t}", f"greatest((1.607e0 - pk_{t}) * 151.0e0 * wa_{t} * th_{t} + xht, 1.0e0)")
    c.ln(f"qx_{t}", f"lnqx_{t}")
    c.add(f"ar_{t}", f"(0.05751e0 * qx_{t} - 4.343e0 * lnqx_{t} - aht)")
    c.exp_neg(f"(d{t} * {L(1.0 / 50e3)})", f"e_de_{t}")
    c.add(
        f"qw_{t}",
        f"((wd1 + xd1 / d{t}) * least((1.0e0 - 0.8e0 * e_de_{t}) * dh * {wn}, 6283.2e0))",
    )
    c.add(f"wd_{t}", f"(25.1e0 / (25.1e0 + sqrt(qw_{t})))")
    c.add(f"adiff_{t}", f"(ar_{t} * wd_{t} + (1.0e0 - wd_{t}) * adiffv_{t} + afo)")


def _itm_h0f(c: ScalarChain, tag: str, r: str, ett: str, L) -> str:
    """ITM's frequency-gain function H0(r, et) (NTIA memo eq. 6.6.x /
    itm h0f): table nodes a/b indexed by the integer part of et with
    linear interpolation between nodes; x = (1/r)^2. The >= 1 table
    argument means the ln clamp never engages for valid geometry; tiny
    |r| saturates at ln's cap identically in both engines."""
    c.add(f"x_{tag}", f"(1.0e0 / ({r} * {r}))")
    c.add(
        f"it_{tag}",
        f"least(CAST(floor(least({ett}, 1.0e9)) AS INTEGER), 5)",
    )
    c.add(
        f"qi_{tag}",
        f"(CASE WHEN {ett} < 5.0e0 THEN {ett} - CAST(it_{tag} AS DOUBLE) ELSE 0.0e0 END)",
    )
    alo = (
        f"(CASE it_{tag} WHEN 1 THEN 25.0e0 WHEN 2 THEN 80.0e0 "
        f"WHEN 3 THEN 177.0e0 WHEN 4 THEN 395.0e0 ELSE 705.0e0 END)"
    )
    blo = (
        f"(CASE it_{tag} WHEN 1 THEN 24.0e0 WHEN 2 THEN 45.0e0 "
        f"WHEN 3 THEN 68.0e0 WHEN 4 THEN 80.0e0 ELSE 105.0e0 END)"
    )
    ahi = (
        f"(CASE it_{tag} WHEN 1 THEN 80.0e0 WHEN 2 THEN 177.0e0 "
        f"WHEN 3 THEN 395.0e0 ELSE 705.0e0 END)"
    )
    bhi = (
        f"(CASE it_{tag} WHEN 1 THEN 45.0e0 WHEN 2 THEN 68.0e0 "
        f"WHEN 3 THEN 80.0e0 ELSE 105.0e0 END)"
    )
    c.add(f"glo_{tag}", f"(({alo} * x_{tag} + {blo}) * x_{tag} + 1.0e0)")
    c.add(f"ghi_{tag}", f"(({ahi} * x_{tag} + {bhi}) * x_{tag} + 1.0e0)")
    c.ln(f"glo_{tag}", f"lnlo_{tag}")
    c.ln(f"ghi_{tag}", f"lnhi_{tag}")
    return c.add(
        f"h0f_{tag}",
        f"(4.343e0 * ((1.0e0 - qi_{tag}) * lnlo_{tag} + qi_{tag} * lnhi_{tag}))",
    )


def _itm_ascat_at(c: ScalarChain, t: str, gme: str, wn: str, L, prev) -> None:
    """ITM ascat(d) at the distance column d{t} (NTIA memo section 4 /
    itm ascat): the H0 scatter-efficiency blend over (r1, r2), the
    F(theta*d) attenuation table ahd, and the refractivity exp term.
    ascat keeps mutable state h0s between calls — lrprop evaluates d6
    FIRST, then d5 with h0s = h0(d6) — so `prev` threads the earlier
    call's (invalid-flag, h0) columns into this one's entry/clamp
    branches exactly as the statics do:
      * entry: if the previous call was valid and its h0 > 15, reuse it
        outright (the whole compute branch, including the r1/r2 < 0.2
        invalid return, is skipped);
      * clamp: a freshly computed h0 > 15 falls back to the previous h0
        when that one exists and is >= 0."""
    s = f"_s{t}"
    d = f"d{t}"
    c.add(f"thr{s}", f"(te1 + te2 + {d} * {gme})")
    c.add(f"r1{s}", f"(2.0e0 * {wn} * thr{s} * he1)")
    c.add(f"r2{s}", f"(2.0e0 * {wn} * thr{s} * he2)")
    c.add(
        f"inv{s}",
        f"(CASE WHEN r1{s} < 0.2e0 AND r2{s} < 0.2e0 THEN 1 ELSE 0 END)",
    )
    # q = rr/ss uses the UNCLAMPED ss (the reference clamps ss after
    # forming the ratio)
    c.add(f"ss0{s}", f"(({d} - ad_s) / ({d} + ad_s))")
    c.add(f"qq0{s}", f"(rr_s / ss0{s})")
    c.add(f"ssc{s}", f"greatest(0.1e0, ss0{s})")
    c.add(f"qqc{s}", f"least(greatest(0.1e0, qq0{s}), 10.0e0)")
    c.add(f"z0{s}", f"(({d} - ad_s) * ({d} + ad_s) * thr{s} * 0.25e0 / {d})")
    c.add(f"tm{s}", f"least(1.7e0, z0{s} / 8.0e3)")
    c.add(f"tm6{s}", f"(tm{s} * tm{s} * tm{s} * tm{s} * tm{s} * tm{s})")
    c.exp_neg(f"tm6{s}", f"etm{s}")
    c.add(f"et{s}", f"(({L(_ITM_ETQ)} * etm{s} + 1.0e0) * z0{s} / 1.7556e3)")
    c.add(f"ett{s}", f"greatest(et{s}, 1.0e0)")
    _itm_h0f(c, f"h1{s}", f"r1{s}", f"ett{s}", L)
    _itm_h0f(c, f"h2{s}", f"r2{s}", f"ett{s}", L)
    c.add(f"h0a{s}", f"((h0f_h1{s} + h0f_h2{s}) / 2.0e0)")
    c.ln(f"ett{s}", f"lnett{s}")
    c.ln(f"ssc{s}", f"lnss{s}")
    c.ln(f"qqc{s}", f"lnqq{s}")
    c.add(
        f"h0b{s}",
        f"(h0a{s} + least(h0a{s}, (1.38e0 - lnett{s}) * lnss{s} * lnqq{s} * 0.49e0))",
    )
    c.add(f"h0c{s}", f"greatest(h0b{s}, 0.0e0)")
    c.add(f"tt{s}", f"((1.0e0 + 1.4142e0 / r1{s}) * (1.0e0 + 1.4142e0 / r2{s}))")
    c.add(
        f"ta{s}",
        f"(tt{s} * tt{s} * (r1{s} + r2{s}) / (r1{s} + r2{s} + 2.8284e0))",
    )
    c.ln(f"ta{s}", f"lntt{s}")
    c.add(
        f"h0d{s}",
        f"(CASE WHEN et{s} < 1.0e0 THEN "
        f"et{s} * h0c{s} + (1.0e0 - et{s}) * 4.343e0 * lntt{s} "
        f"ELSE h0c{s} END)",
    )
    if prev is None:
        # first call (d6): h0s starts at -15, so the entry reuse and the
        # > 15 clamp can never fire
        c.add(f"h0{s}", f"h0d{s}")
        c.add(f"invx{s}", f"inv{s}")
    else:
        inv_p, h0_p = prev
        c.add(
            f"skip{s}",
            f"(CASE WHEN {inv_p} = 0 AND {h0_p} > 15.0e0 THEN 1 ELSE 0 END)",
        )
        c.add(
            f"h0{s}",
            f"(CASE WHEN skip{s} = 1 THEN {h0_p} "
            f"WHEN h0d{s} > 15.0e0 AND {inv_p} = 0 AND {h0_p} >= 0.0e0 THEN {h0_p} "
            f"ELSE h0d{s} END)",
        )
        c.add(f"invx{s}", f"(CASE WHEN skip{s} = 1 THEN 0 ELSE inv{s} END)")
    # scatter attenuation line at the smooth angle th = tha + d*gme
    c.add(f"tht{s}", f"(tha + {d} * {gme})")
    c.add(f"td{s}", f"(tht{s} * {d})")
    c.ln(f"td{s}", f"lntd{s}")
    c.add(
        f"ahd{s}",
        f"(CASE WHEN td{s} <= 1.0e4 THEN 133.4e0 + 0.332e-3 * td{s} - 4.343e0 * lntd{s} "
        f"WHEN td{s} <= 7.0e4 THEN 104.6e0 + 0.212e-3 * td{s} - 1.086e0 * lntd{s} "
        f"ELSE 71.8e0 + 0.157e-3 * td{s} + 2.171e0 * lntd{s} END)",
    )
    c.add(f"t4{s}", f"(tht{s} * tht{s} * tht{s} * tht{s})")
    c.ln(f"({L(47.7 * _ITM_WN)} * t4{s})", f"lnw4{s}", scale=1e12)
    c.exp_neg(f"(td{s} / 4.0e4)", f"e40{s}")
    c.add(
        f"a{s}",
        f"(CASE WHEN invx{s} = 1 THEN 1001.0e0 ELSE "
        f"ahd{s} + 4.343e0 * lnw4{s} - ({L(0.1 * (ITM_REFRACTIVITY - 301.0))}) * e40{s} + h0{s} END)",
    )


# Maclaurin sine bank (odd, 6 terms, |x| <= pi/2 => err < 6e-8) — the
# proven _GEO_SIN_C coefficients from the geodesic family below.
_ITM_SIN_C = [1.0, -1.0 / 6, 1.0 / 120, -1.0 / 5040, 1.0 / 362880, -1.0 / 39916800]


def _itm_alos_at(c: ScalarChain, t: str, dcol: str, wn: str, L) -> None:
    """ITM alos(d) at the distance column: the two-ray field
    |exp(-j*ph) + R| over the complex surface impedance zgnd (host
    constants; the complex ratio (sps - zgnd)/(sps + zgnd) is
    rationalized into real/imag columns), blended with the diffraction
    line by wls. sin/cos are the Maclaurin bank after range reduction
    to [-pi/2, pi/2] (ITM caps the phase at 3.14 via q = 3.14 -
    2.4649/q, so the reduction is a single fold)."""
    from gdalos_spark.functions.literals import horner as _h

    zr, zi = _ITM_ZGND.real, _ITM_ZGND.imag
    c.exp_neg(f"({dcol} * {L(1.0 / 50e3)})", f"ea_{t}")
    c.add(f"qa_{t}", f"((1.0e0 - 0.8e0 * ea_{t}) * dh)")
    c.add(f"fr4a_{t}", f"sqrt(sqrt(qa_{t} / 16.0e0))")
    c.exp_neg(f"fr4a_{t}", f"efr_{t}")
    c.add(f"sa_{t}", f"(0.78e0 * qa_{t} * efr_{t})")
    c.add(f"sps_{t}", f"(qh / sqrt({dcol} * {dcol} + qh * qh))")
    c.add(
        f"rden_{t}",
        f"((sps_{t} + {L(zr)}) * (sps_{t} + {L(zr)}) + {L(zi * zi)})",
    )
    c.add(f"rre0_{t}", f"((sps_{t} * sps_{t} - {L(zr * zr + zi * zi)}) / rden_{t})")
    c.add(f"rim0_{t}", f"((0.0e0 - {L(2.0 * zi)}) * sps_{t} / rden_{t})")
    c.exp_neg(f"least({wn} * sa_{t} * sps_{t}, 10.0e0)", f"esc_{t}")
    c.add(f"rq_{t}", f"((rre0_{t} * rre0_{t} + rim0_{t} * rim0_{t}) * esc_{t} * esc_{t})")
    c.add(
        f"rsc_{t}",
        f"(esc_{t} * (CASE WHEN rq_{t} < 0.25e0 OR rq_{t} < sps_{t} "
        f"THEN sqrt(sps_{t} / greatest(rq_{t}, 1.0e-12)) ELSE 1.0e0 END))",
    )
    c.add(f"rre_{t}", f"(rre0_{t} * rsc_{t})")
    c.add(f"rim_{t}", f"(rim0_{t} * rsc_{t})")
    c.add(f"ph0_{t}", f"({wn} * he1 * he2 * 2.0e0 / {dcol})")
    c.add(
        f"ph_{t}",
        f"(CASE WHEN ph0_{t} > 1.57e0 THEN (3.14e0 - 2.4649e0 / ph0_{t}) ELSE ph0_{t} END)",
    )
    c.add(f"cu_{t}", f"({L(_m.pi / 2)} - ph_{t})")
    c.add(f"cph_{t}", f"(cu_{t} * {_h(f'(cu_{t} * cu_{t})', _ITM_SIN_C)})")
    c.add(f"su_{t}", f"least(ph_{t}, {L(_m.pi)} - ph_{t})")
    c.add(f"sph_{t}", f"(su_{t} * {_h(f'(su_{t} * su_{t})', _ITM_SIN_C)})")
    c.add(
        f"abq_{t}",
        f"((cph_{t} + rre_{t}) * (cph_{t} + rre_{t})"
        f" + (rim_{t} - sph_{t}) * (rim_{t} - sph_{t}))",
    )
    c.ln(f"abq_{t}", f"lnabq_{t}", scale=1e12)
    c.add(
        f"alos_{t}",
        f"((((0.0e0 - 4.343e0) * lnabq_{t}) - (emd * {dcol} + aed)) * wls"
        f" + (emd * {dcol} + aed))",
    )


_ITM_OUT = (
    "c_custkey", "ox", "oy", "n_samples", "dist_m", "dh_m", "dl1_m",
    "dl2_m", "theta_e1", "theta_e2", "regime", "aref_db", "fspl_db",
    "path_loss_db", "dx_m", "aes_db", "ems_db_per_m", "refractivity",
    "conductivity", "permittivity", "humidity",
)
# liveness sets for the chain renderers: what the final projections read
# (keep) and what the `link` frame provides (inputs). With ~600 chain
# columns over ~490 levels, un-pruned rendering carries every column
# through every level — wide enough to OOM DuckDB — so both engines
# render the pruned plan (identical text both sides, as always).
_ITM_KEEP = (
    "c_custkey", "ox", "oy", "n_samples", "d_m", "dh", "dl1", "dl2",
    "te1", "te2", "regime", "aref", "fspl", "ploss", "dx", "aes", "ems",
)
_ITM_IN = (
    "c_custkey", "ox", "oy", "d_m", "sm", "zt", "te1", "te2",
    "n_samples", "dh", "dl1", "dl2", "he1", "he2",
)


def radio_itm_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITM p2p non-free-space loss per p2p link — see the block comment
    above for the model scope and the reference citations."""
    from gdalos_spark.functions.literals import dbl_lit as L

    n = N_LOS_STEPS
    g = _dem_z(spark, sf_dir)
    base = (
        _los_links(spark, sf_dir)
        .withColumn(
            "d2i",
            (F.col("tx") - F.col("ox")) * (F.col("tx") - F.col("ox"))
            + (F.col("ty") - F.col("oy")) * (F.col("ty") - F.col("oy")),
        )
        .withColumn("d_m", F.expr(f"sqrt(CAST(d2i AS DOUBLE)) * {L(CELL_M)}"))
        .withColumn("sm", F.expr(f"d_m / {L(float(n))}"))
        .join(
            g.select(F.col("px").alias("tx"), F.col("py").alias("ty"), F.col("z").alias("z_t")),
            ["tx", "ty"],
        )
        .withColumn("zt", F.expr(f"(z_t + {L(ITM_HG)})"))
    )
    ps = (
        _link_profile(base, g, 1, n - 1)
        .withColumn("d1", F.expr(f"(CAST(i AS DOUBLE) * sm)"))
        .withColumn("d2", F.expr(f"(CAST({n} - i AS DOUBLE) * sm)"))
        .withColumn("th1", F.expr(f"((z - {L(OBS_Z)}) / d1 - {L(_ITM_GME)} * d1 * 0.5e0)"))
        .withColumn("th2", F.expr(f"((z - zt) / d2 - {L(_ITM_GME)} * d2 * 0.5e0)"))
        .select("c_custkey", "ox", "oy", "i", "z", "th1", "th2")
    )
    key = ["c_custkey", "ox", "oy"]
    # Round-12 optimization (guide §2.4): te/decile/horizon statistics
    # all derive from the SAME per-link profile rows, but each used to
    # be a separate consumer of the un-persisted `ps` — the max/count
    # agg, the rank window joined back to it, the decile self-join, and
    # two te-filter joins — FIVE recomputations of the links x steps x
    # DEM profile join (20M rows at sf10), each with its own exchange.
    # One window computes te1/te2/n_samples/rn in a single
    # exchange+sort, and the same-key groupBy that follows needs NO
    # second exchange (the window output is already hash-partitioned by
    # the link key). Every formula is textually identical — max/count/
    # integer-sum are order-free and the rank selections pick the same
    # rows — so every gated value is unchanged (re-driven VALUES-EXACT).
    # Interdecile positions still derive from the PER-LINK sample count:
    # the sparse small-SF DEM drops profile cells (the same n_samples
    # variance point_to_point_los reports), so fixed ranks 7/57 would
    # silently drop whole links.
    wl = Window.partitionBy(*key)
    wlo = Window.partitionBy(*key).orderBy("z", "i")
    ps2 = (
        ps.withColumn("te1", F.max("th1").over(wl))
        .withColumn("te2", F.max("th2").over(wl))
        .withColumn("n_samples", F.count(F.lit(1)).over(wl))
        .withColumn("rn", F.row_number().over(wlo))
    )
    stats = ps2.groupBy(*key).agg(
        F.max("te1").alias("te1"),
        F.max("te2").alias("te2"),
        F.max("n_samples").alias("n_samples"),
        F.expr("SUM(CAST(floor(z * 100.0e0 + 0.5e0) AS BIGINT))").alias("zc"),
        F.max(F.expr("CASE WHEN rn = 1 + (n_samples - 1) div 10 THEN z END")).alias("z_lo"),
        F.max(F.expr("CASE WHEN rn = n_samples - (n_samples - 1) div 10 THEN z END")).alias("z_hi"),
        F.min(F.expr("CASE WHEN th1 = te1 THEN i END")).alias("i1"),
        F.max(F.expr("CASE WHEN th2 = te2 THEN i END")).alias("i2"),
    )
    link = (
        base.select(*key, "d_m", "sm", "zt")
        .join(stats, key)
        .withColumn("dh", F.expr("(z_hi - z_lo)"))
        .withColumn("dl1", F.expr("(CAST(i1 AS DOUBLE) * sm)"))
        .withColumn("dl2", F.expr(f"(CAST({n} - i2 AS DOUBLE) * sm)"))
        .withColumn("zbar", F.expr("(CAST(zc AS DOUBLE) / (CAST(n_samples AS DOUBLE) * 100.0e0))"))
        .withColumn("he1", F.expr(f"greatest(1.0e0, {L(OBS_Z)} - zbar)"))
        .withColumn("he2", F.expr("greatest(1.0e0, zt - zbar)"))
    )
    # Both engines render the chain PRUNED (keep/inputs liveness) —
    # per-column expression text stays byte-identical; only which
    # columns each level carries differs per engine:
    #   * Spark additionally cuts the plan every 40 levels (segment):
    #     past ~300 stacked projections the JVM stack overflows, in
    #     Catalyst analysis when the levels are wide and in codegen's
    #     consume() recursion when they are narrow, and 40-level
    #     segments additionally COMPILE under Janino's method limits —
    #     measured at sf0.1: segment 40/80/150 = 23.3/29.1/47.6 s
    #     (150 spends minutes in failed compile attempts before the
    #     interpreted fallback; 40 runs compiled). The checkpointed
    #     cut is link-cardinality rows — free at any scale.
    #   * DuckDB renders the input CTE AS MATERIALIZED so the whole
    #     chain runs single-threaded off a sub-morsel scan: with 32
    #     threads each instantiating per-level executor state, the
    #     >=128 KB chunk allocations overran the kernel's default
    #     65530 vm.max_map_count (spurious OOM) — and the
    #     single-thread plan is also ~10x faster at this cardinality.
    out = _itm_chain(*spark_spellings()).apply_spark(
        link, keep=_ITM_KEEP, inputs=_ITM_IN, segment=40
    )
    return out.select(
        "c_custkey", "ox", "oy", "n_samples",
        F.col("d_m").alias("dist_m"),
        F.col("dh").alias("dh_m"),
        F.col("dl1").alias("dl1_m"),
        F.col("dl2").alias("dl2_m"),
        F.col("te1").alias("theta_e1"),
        F.col("te2").alias("theta_e2"),
        "regime",
        F.col("aref").alias("aref_db"),
        F.col("fspl").alias("fspl_db"),
        F.col("ploss").alias("path_loss_db"),
        F.col("dx").alias("dx_m"),
        F.col("aes").alias("aes_db"),
        F.col("ems").alias("ems_db_per_m"),
        F.expr(f"{L(ITM_REFRACTIVITY)}").alias("refractivity"),
        F.expr(f"{L(ITM_CONDUCTIVITY)}").alias("conductivity"),
        F.expr(f"{L(ITM_PERMITTIVITY)}").alias("permittivity"),
        F.expr(f"{L(ITM_HUMIDITY)}").alias("humidity"),
    )


def _radio_itm_sql() -> str:
    from gdalos_spark.functions.literals import dbl_lit as L

    n = N_LOS_STEPS
    link = f"""
WITH dem AS ({DEM_GRID_SQL}),
{_los_links_sql()},
base AS (
  SELECT l.c_custkey, l.ox, l.oy, l.tx, l.ty,
         sqrt(CAST(l.d2i AS DOUBLE)) * {L(CELL_M)} AS d_m,
         sqrt(CAST(l.d2i AS DOUBLE)) * {L(CELL_M)} / {L(float(n))} AS sm,
         (CAST(dem.elev AS DOUBLE) + {L(ITM_HG)}) AS zt
  FROM (SELECT *, (tx-ox)*(tx-ox) + (ty-oy)*(ty-oy) AS d2i FROM links) l
  JOIN dem ON dem.px = l.tx AND dem.py = l.ty
),
ps AS (
  SELECT c_custkey, ox, oy, i, z,
         ((z - {L(OBS_Z)}) / (CAST(i AS DOUBLE) * sm) - {L(_ITM_GME)} * (CAST(i AS DOUBLE) * sm) * 0.5e0) AS th1,
         ((z - zt) / (CAST({n} - i AS DOUBLE) * sm) - {L(_ITM_GME)} * (CAST({n} - i AS DOUBLE) * sm) * 0.5e0) AS th2
  FROM ({_link_profile_sql("base", 1, n - 1)})
),
agg AS (
  SELECT c_custkey, ox, oy, max(th1) AS te1, max(th2) AS te2,
         COUNT(*) AS n_samples,
         SUM(CAST(floor(z * 100.0e0 + 0.5e0) AS BIGINT)) AS zc
  FROM ps GROUP BY c_custkey, ox, oy
),
rk AS (
  SELECT r.c_custkey, r.ox, r.oy, r.z, r.rn, agg.n_samples
  FROM (
    SELECT c_custkey, ox, oy, z,
           ROW_NUMBER() OVER (PARTITION BY c_custkey, ox, oy ORDER BY z, i) AS rn
    FROM ps
  ) r JOIN agg USING (c_custkey, ox, oy)
),
dec AS (
  SELECT lo.c_custkey, lo.ox, lo.oy, (hi.z - lo.z) AS dh
  FROM (SELECT * FROM rk WHERE rn = 1 + (n_samples - 1) // 10) lo
  JOIN (SELECT * FROM rk WHERE rn = n_samples - (n_samples - 1) // 10) hi
    USING (c_custkey, ox, oy)
),
h1 AS (
  SELECT ps.c_custkey, ps.ox, ps.oy, MIN(ps.i) AS i1
  FROM ps JOIN agg USING (c_custkey, ox, oy)
  WHERE ps.th1 = agg.te1 GROUP BY ps.c_custkey, ps.ox, ps.oy
),
h2 AS (
  SELECT ps.c_custkey, ps.ox, ps.oy, MAX(ps.i) AS i2
  FROM ps JOIN agg USING (c_custkey, ox, oy)
  WHERE ps.th2 = agg.te2 GROUP BY ps.c_custkey, ps.ox, ps.oy
),
link AS (
  SELECT b.c_custkey, b.ox, b.oy, b.d_m, b.sm, b.zt,
         agg.te1, agg.te2, agg.n_samples,
         dec.dh,
         (CAST(h1.i1 AS DOUBLE) * b.sm) AS dl1,
         (CAST({n} - h2.i2 AS DOUBLE) * b.sm) AS dl2,
         greatest(1.0e0, {L(OBS_Z)} - (CAST(agg.zc AS DOUBLE) / (CAST(agg.n_samples AS DOUBLE) * 100.0e0))) AS he1,
         greatest(1.0e0, b.zt - (CAST(agg.zc AS DOUBLE) / (CAST(agg.n_samples AS DOUBLE) * 100.0e0))) AS he2
  FROM base b
  JOIN agg USING (c_custkey, ox, oy)
  JOIN dec USING (c_custkey, ox, oy)
  JOIN h1 USING (c_custkey, ox, oy)
  JOIN h2 USING (c_custkey, ox, oy)
)
SELECT * FROM link
"""
    chained = _itm_chain(*duckdb_spellings()).wrap_sql(
        link, keep=_ITM_KEEP, inputs=_ITM_IN
    )
    return f"""
SELECT c_custkey, ox, oy, n_samples,
       d_m AS dist_m, dh AS dh_m, dl1 AS dl1_m, dl2 AS dl2_m,
       te1 AS theta_e1, te2 AS theta_e2, regime,
       aref AS aref_db, fspl AS fspl_db, ploss AS path_loss_db,
       dx AS dx_m, aes AS aes_db, ems AS ems_db_per_m,
       {L(ITM_REFRACTIVITY)} AS refractivity,
       {L(ITM_CONDUCTIVITY)} AS conductivity,
       {L(ITM_PERMITTIVITY)} AS permittivity,
       {L(ITM_HUMIDITY)} AS humidity
FROM ({chained})
"""


RADIO_ITM_LOSS_SQL = _radio_itm_sql()
