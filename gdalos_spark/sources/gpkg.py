"""GeoPackage tile write — the reference's `gpkg` output format, pure stdlib.

The reference enumerates GeoPackage as a first-class output
(/root/reference/src/gdalos/gdalos_types.py:52-56 GdalOutputFormat.gpkg,
threaded through gdalos_trans.py's of= handling to GDAL's GPKG raster
driver). A GeoPackage is an SQLite database with the `gpkg_*` metadata
tables and one tile-pyramid table of PNG blobs — buildable with the
stdlib `sqlite3` module, no GDAL needed.

Spark-first shape (mirrors sources/geotiff.write_cog_scenes): one
`.gpkg` file PER SCENE, written ON THE EXECUTORS inside the same
applyInPandas group that already holds the scene's cells — a 100-TB
archive writes millions of scene packages in parallel with no driver
involvement, each with the temp-file + atomic-rename commit and the
skip-unless-overwrite protocol of gdalos_trans.py:91/:328.

Contents per package: zoom 1 = full resolution (2x2 tiles of 16x16),
zoom 0 = one 2x floor-average overview tile; tiles are REAL 16-bit
grayscale PNGs (filter 0, zlib, the same chunk grammar multimodal's
decoder speaks). Sample mapping is the documented integer contract
v16 = elev_cents // div (65535 = nodata), where div is the smallest
power-of-two multiple of GPKG_DIV that keeps the band maximum below the
sentinel (_gpkg_div_for — GDAL's 16-bit scale-factor pick; div = 16 at
every driver SF, and grows with data scale so the writer cannot
overflow at an upscale). Every stored sample is exact integer
arithmetic from lineitem and the manifest's read-back aggregates are
reproducible by the DuckDB oracle in closed form — the same
encode -> file -> decode hash gate as cog_write_manifest.
"""

from __future__ import annotations

import os
import sqlite3
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdalos_spark.datamodel import (
    DEM_GRID_SQL,
    GRID_W,
    commit_file,
    dem_grid,
    scene_out_dir,
)
from gdalos_spark.sources.geotiff import LAT0, LON0, PIX, SCENE

GPKG_TILE = 16          # tile_width = tile_height
GPKG_DIV = 16           # MINIMUM divisor: stored sample = elev_cents // div
GPKG_NODATA16 = 65535   # u16 nodata sentinel
GPKG_APP_ID = 0x47504B47  # 'GPKG'
GPKG_USER_VERSION = 10300  # GeoPackage 1.3
_TILES_TABLE = "elev"
_LAST_CHANGE = "2000-01-01T00:00:00.000Z"  # deterministic metadata


def _png16_encode(grid) -> bytes:
    """16-bit grayscale PNG, filter 0 on every row (big-endian samples)."""
    import numpy as np

    h, w = grid.shape
    raw = b"".join(
        b"\x00" + np.ascontiguousarray(row).astype(">u2").tobytes() for row in grid
    )

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def _png16_decode(payload: bytes):
    """Inverse of _png16_encode (filter-0 rows only — ours)."""
    import numpy as np

    assert payload[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos, idat, w, h = 8, b"", 0, 0
    while pos < len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if ctype == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", body[:10])
            if depth != 16 or color != 0:
                raise NotImplementedError("gpkg reader: 16-bit gray only")
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = 1 + 2 * w
    rows = []
    for y in range(h):
        row = raw[y * stride : (y + 1) * stride]
        if row[0] != 0:
            raise NotImplementedError("gpkg reader: filter-0 rows only")
        rows.append(np.frombuffer(row[1:], dtype=">u2"))
    return np.vstack(rows).astype("int64")


def _gpkg_div_for(max_cents: int) -> int:
    """Smallest power-of-two multiple of GPKG_DIV that keeps every
    stored sample strictly below the u16 nodata sentinel. GDAL picks a
    scale factor the same way when narrowing to 16-bit storage; found
    by the sf10 upscale, where elev sums overflow the fixed /16 band.
    Pure function of the band maximum, so both the executor-side writer
    and the SQL oracle derive the identical divisor. Bounded at the
    oracle dv CTE's k < 32 search cap (ADVICE r11): past the cap the
    oracle's MIN goes NULL, so fail loudly HERE at the same boundary
    instead of silently diverging — unreachable for elevation data
    (needs max_cents >= 16 * 2^31 * 65535)."""
    d = GPKG_DIV
    while max_cents // d >= GPKG_NODATA16:
        d *= 2
        if d >= GPKG_DIV << 32:
            raise OverflowError(
                f"band max {max_cents} needs divisor past the oracle's "
                f"k<32 search bound"
            )
    return d


def _scene_tiles(pdf, div: int = GPKG_DIV):
    """(scene-local z1 tile grids, z0 overview tile grid) as int64
    numpy arrays with GPKG_NODATA16 holes, from a scene's cell rows."""
    import numpy as np

    sid = int(pdf["scene_id"].iloc[0])
    sy, sx = divmod(sid, GRID_W // SCENE)
    ox, oy = sx * SCENE, sy * SCENE
    cents = pdf["elev_cents"].to_numpy()
    v16 = cents // div
    if (v16 >= GPKG_NODATA16).any() or (v16 < 0).any():
        raise OverflowError(
            "stored sample out of u16 range (or collides with the nodata "
            "sentinel); _gpkg_div_for should have prevented this"
        )
    full = np.full((SCENE, SCENE), GPKG_NODATA16, dtype="int64")
    full[pdf["py"].to_numpy() - oy, pdf["px"].to_numpy() - ox] = v16
    n = SCENE // GPKG_TILE
    z1 = {
        (tc, tr): full[
            tr * GPKG_TILE : (tr + 1) * GPKG_TILE,
            tc * GPKG_TILE : (tc + 1) * GPKG_TILE,
        ]
        for tc in range(n)
        for tr in range(n)
    }
    # z0: 2x floor-average over present cells, empty block -> nodata
    ov = np.full((GPKG_TILE, GPKG_TILE), GPKG_NODATA16, dtype="int64")
    for byy in range(GPKG_TILE):
        for bxx in range(GPKG_TILE):
            block = full[2 * byy : 2 * byy + 2, 2 * bxx : 2 * bxx + 2]
            present = block[block != GPKG_NODATA16]
            if present.size:
                ov[byy, bxx] = present.sum() // present.size
    return sid, ox, oy, z1, ov


def _write_gpkg_file(path: str, sid: int, ox: int, oy: int, z1, ov) -> None:
    """Assemble one scene GeoPackage at `path` (sqlite opens an existing
    empty file as an empty database, so `commit_file`'s temp file works
    as is)."""
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute(f"PRAGMA application_id = {GPKG_APP_ID}")
        cur.execute(f"PRAGMA user_version = {GPKG_USER_VERSION}")
        cur.execute(
            "CREATE TABLE gpkg_spatial_ref_sys ("
            "srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY, "
            "organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, "
            "definition TEXT NOT NULL, description TEXT)"
        )
        cur.executemany(
            "INSERT INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
            [
                ("WGS 84 geodetic", 4326, "EPSG", 4326,
                 'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",'
                 '6378137,298.257223563]],PRIMEM["Greenwich",0],'
                 'UNIT["degree",0.0174532925199433]]',
                 "longitude/latitude on WGS 84"),
                ("Undefined cartesian SRS", -1, "NONE", -1, "undefined",
                 "undefined cartesian coordinate reference system"),
                ("Undefined geographic SRS", 0, "NONE", 0, "undefined",
                 "undefined geographic coordinate reference system"),
            ],
        )
        min_x = LON0 + ox * PIX
        max_x = min_x + SCENE * PIX
        max_y = LAT0 - oy * PIX
        min_y = max_y - SCENE * PIX
        cur.execute(
            "CREATE TABLE gpkg_contents ("
            "table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL, "
            "identifier TEXT UNIQUE, description TEXT DEFAULT '', "
            "last_change DATETIME NOT NULL, min_x DOUBLE, min_y DOUBLE, "
            "max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)"
        )
        cur.execute(
            "INSERT INTO gpkg_contents VALUES (?,?,?,?,?,?,?,?,?,?)",
            (_TILES_TABLE, "tiles", f"scene {sid}", "gdalos_spark DEM scene",
             _LAST_CHANGE, min_x, min_y, max_x, max_y, 4326),
        )
        cur.execute(
            "CREATE TABLE gpkg_tile_matrix_set ("
            "table_name TEXT NOT NULL PRIMARY KEY, srs_id INTEGER NOT NULL, "
            "min_x DOUBLE NOT NULL, min_y DOUBLE NOT NULL, "
            "max_x DOUBLE NOT NULL, max_y DOUBLE NOT NULL)"
        )
        cur.execute(
            "INSERT INTO gpkg_tile_matrix_set VALUES (?,?,?,?,?,?)",
            (_TILES_TABLE, 4326, min_x, min_y, max_x, max_y),
        )
        cur.execute(
            "CREATE TABLE gpkg_tile_matrix ("
            "table_name TEXT NOT NULL, zoom_level INTEGER NOT NULL, "
            "matrix_width INTEGER NOT NULL, matrix_height INTEGER NOT NULL, "
            "tile_width INTEGER NOT NULL, tile_height INTEGER NOT NULL, "
            "pixel_x_size DOUBLE NOT NULL, pixel_y_size DOUBLE NOT NULL, "
            "PRIMARY KEY (table_name, zoom_level))"
        )
        n = SCENE // GPKG_TILE
        cur.executemany(
            "INSERT INTO gpkg_tile_matrix VALUES (?,?,?,?,?,?,?,?)",
            [
                (_TILES_TABLE, 0, 1, 1, GPKG_TILE, GPKG_TILE, 2 * PIX, 2 * PIX),
                (_TILES_TABLE, 1, n, n, GPKG_TILE, GPKG_TILE, PIX, PIX),
            ],
        )
        cur.execute(
            f"CREATE TABLE {_TILES_TABLE} ("
            "id INTEGER PRIMARY KEY AUTOINCREMENT, "
            "zoom_level INTEGER NOT NULL, tile_column INTEGER NOT NULL, "
            "tile_row INTEGER NOT NULL, tile_data BLOB NOT NULL, "
            "UNIQUE (zoom_level, tile_column, tile_row))"
        )
        rows = [(0, 0, 0, _png16_encode(ov))]
        rows += [
            (1, tc, tr, _png16_encode(g))
            for (tc, tr), g in sorted(z1.items())
        ]
        cur.executemany(
            f"INSERT INTO {_TILES_TABLE} "
            "(zoom_level, tile_column, tile_row, tile_data) VALUES (?,?,?,?)",
            rows,
        )
        con.commit()
    finally:
        con.close()


def write_gpkg_scenes(
    spark: SparkSession, sf_dir: str, out_dir: str, overwrite: bool = False
) -> DataFrame:
    """One .gpkg per scene, written executor-side with temp+rename
    commit and skip-unless-overwrite. Output (scene_id, path, action,
    n_bytes) rows are emitted only after the rename."""
    g = dem_grid(spark, sf_dir).select(
        "px", "py",
        (F.col("elev") * 100).cast("long").alias("elev_cents"),
        ((F.col("py") / SCENE).cast("int") * (GRID_W // SCENE)
         + (F.col("px") / SCENE).cast("int")).alias("scene_id"),
    )
    # band-level divisor: a 1-row broadcast joined onto every scene
    # (NOT a driver-side first() — ADVICE r11: an eager agg at
    # DataFrame-construction time breaks lazy plan audits / dry runs).
    # The expression is _gpkg_div_for verbatim under the oracle's k<32
    # bound: the smallest power-of-two multiple of GPKG_DIV keeping
    # max(elev_cents)//d below the u16 nodata sentinel.
    dv = g.agg(F.max("elev_cents").alias("m")).select(
        F.expr(
            f"array_min(filter(transform(sequence(0, 31), "
            f"k -> cast({GPKG_DIV} as bigint) * shiftleft(cast(1 as bigint), k)), "
            f"d -> coalesce(m, cast(0 as bigint)) div d < {GPKG_NODATA16}))"
        ).alias("div")  # BIGINT: k=27..31 divisors exceed INT32
    )
    g = g.crossJoin(F.broadcast(dv))

    def encode(pdf):
        import pandas as pd

        os.makedirs(out_dir, exist_ok=True)
        if pd.isna(pdf["div"].iloc[0]):
            # empty filter result = no k<32 divisor fits — the same
            # boundary _gpkg_div_for raises at; fail loudly instead of
            # int(NaN) crashing with an unrelated message
            raise OverflowError(
                "band max needs divisor past the oracle's k<32 search bound"
            )
        div = int(pdf["div"].iloc[0])
        sid, ox, oy, z1, ov = _scene_tiles(pdf, div)
        final = os.path.join(out_dir, f"scene_{sid:05d}.gpkg")
        if os.path.exists(final) and not overwrite:
            action = "skipped"
        else:
            commit_file(
                final, lambda tmp: _write_gpkg_file(tmp, sid, ox, oy, z1, ov)
            )
            action = "written"
        return pd.DataFrame(
            {"scene_id": [sid], "path": [final], "action": [action],
             "n_bytes": [os.path.getsize(final)], "div": [div]}
        )

    return g.groupBy("scene_id").applyInPandas(
        encode,
        schema="scene_id int, path string, action string, n_bytes bigint, "
        "div int",
    )


def gpkg_write_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the scene GeoPackages, then READ THE WRITTEN FILES BACK
    with sqlite3 + the PNG decoder and report per-scene structure +
    exact aggregates of every stored sample — all recomputable by the
    SQL oracle straight from lineitem (v16 = cents // div is
    integer-exact with div derived identically on both sides; the z0
    overview is the per-block floor-average of present samples). The
    decode stage consumes the writer's output rows, so each file is
    committed before it is re-opened."""
    written = write_gpkg_scenes(
        spark, sf_dir, scene_out_dir(sf_dir, "GDALOS_GPKG_ROOT", "/tmp/gdalos_gpkg")
    )

    def stats(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for sid, path, dv in zip(pdf["scene_id"], pdf["path"], pdf["div"]):
                con = sqlite3.connect(path)
                try:
                    cur = con.cursor()
                    (app_id,) = cur.execute("PRAGMA application_id").fetchone()
                    (srs_id,) = cur.execute(
                        "SELECT srs_id FROM gpkg_contents"
                    ).fetchone()
                    min_x, max_y = cur.execute(
                        "SELECT min_x, max_y FROM gpkg_tile_matrix_set"
                    ).fetchone()
                    (n_levels,) = cur.execute(
                        "SELECT COUNT(*) FROM gpkg_tile_matrix"
                    ).fetchone()
                    tiles = cur.execute(
                        f"SELECT zoom_level, tile_data FROM {_TILES_TABLE}"
                    ).fetchall()
                finally:
                    con.close()
                agg = {0: [0, 0], 1: [0, 0]}
                mn, mx = None, None
                n_z1 = 0
                for zl, blob in tiles:
                    grid = _png16_decode(bytes(blob))
                    present = grid[grid != GPKG_NODATA16]
                    agg[zl][0] += int(present.size)
                    agg[zl][1] += int(present.sum())
                    if zl == 1:
                        n_z1 += 1
                        if present.size:
                            lo, hi = int(present.min()), int(present.max())
                            mn = lo if mn is None else min(mn, lo)
                            mx = hi if mx is None else max(mx, hi)
                rows.append([
                    int(sid), int(app_id == GPKG_APP_ID), int(srs_id),
                    float(min_x), float(max_y), int(n_levels), n_z1,
                    int(dv), agg[1][0], agg[1][1], mn, mx,
                    agg[0][0], agg[0][1],
                ])
            yield pd.DataFrame(
                rows,
                columns=[
                    "scene_id", "app_id_ok", "srs_id", "min_x", "max_y",
                    "n_levels", "n_tiles", "div", "px_count", "sum_v16",
                    "min_v16", "max_v16", "ov_count", "ov_sum",
                ],
            )

    return written.mapInPandas(
        stats,
        schema="scene_id int, app_id_ok int, srs_id int, min_x double, "
        "max_y double, n_levels int, n_tiles int, div int, "
        "px_count bigint, sum_v16 bigint, min_v16 bigint, "
        "max_v16 bigint, ov_count bigint, ov_sum bigint",
    )


GPKG_WRITE_MANIFEST_SQL = f"""
WITH dem AS ({DEM_GRID_SQL}),
dv AS (
  -- the writer's _gpkg_div_for: smallest power-of-two multiple of the
  -- minimum divisor keeping max(elev_cents)//d below the u16 sentinel
  SELECT MIN({GPKG_DIV} * (CAST(1 AS BIGINT) << k)) AS d
  FROM range(0, 32) t(k),
       (SELECT MAX(CAST(elev * 100 AS BIGINT)) AS m FROM dem) mx
  WHERE m // ({GPKG_DIV} * (CAST(1 AS BIGINT) << k)) < {GPKG_NODATA16}
),
base AS (
  SELECT CAST((py // {SCENE}) * {GRID_W // SCENE} + (px // {SCENE}) AS INTEGER) AS scene_id,
         px % {SCENE} AS lx, py % {SCENE} AS ly,
         CAST(elev * 100 AS BIGINT) // (SELECT d FROM dv) AS v
  FROM dem
),
ov AS (
  SELECT scene_id, lx // 2 AS ox, ly // 2 AS oy,
         CAST(SUM(v) // COUNT(*) AS BIGINT) AS v
  FROM base GROUP BY 1, 2, 3
),
b AS (
  SELECT scene_id, COUNT(*) AS px_count, SUM(v) AS sum_v16,
         MIN(v) AS min_v16, MAX(v) AS max_v16
  FROM base GROUP BY 1
),
o AS (SELECT scene_id, COUNT(*) AS ov_count, SUM(v) AS ov_sum FROM ov GROUP BY 1)
SELECT b.scene_id,
       1 AS app_id_ok,
       4326 AS srs_id,
       ({LON0!r}e0 + ((b.scene_id % {GRID_W // SCENE}) * {SCENE}) * {PIX!r}e0) AS min_x,
       ({LAT0!r}e0 - ((b.scene_id // {GRID_W // SCENE}) * {SCENE}) * {PIX!r}e0) AS max_y,
       2 AS n_levels,
       {(SCENE // GPKG_TILE) * (SCENE // GPKG_TILE)} AS n_tiles,
       CAST((SELECT d FROM dv) AS INTEGER) AS div,
       CAST(px_count AS BIGINT) AS px_count,
       CAST(sum_v16 AS BIGINT) AS sum_v16,
       CAST(min_v16 AS BIGINT) AS min_v16,
       CAST(max_v16 AS BIGINT) AS max_v16,
       CAST(ov_count AS BIGINT) AS ov_count,
       CAST(ov_sum AS BIGINT) AS ov_sum
FROM b JOIN o ON o.scene_id = b.scene_id
"""
