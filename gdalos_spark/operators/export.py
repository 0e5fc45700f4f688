"""Export formatting operators — raster -> styled CZML/JSON document
records (SURVEY §2 #42).

The reference renders a whole raster to one CZML Rectangle packet with a
base64 PNG material (calc/gdal_to_czml.py:18 `gdal_to_czml`: extent ->
wsenDegrees, PNG via a /vsimem buffer; calc/gdal_to_json.py is the
point-record sibling). A 100-TB raster can't be one packet: the
distributed re-expression emits ONE PACKET PER TILE — each tile's
geo-extent, cell stats, and palette color form a self-contained
Rectangle packet, plus the document preamble row. Packets are built with
pure string concatenation over DECIMAL-formatted coordinates so the
DuckDB oracle reproduces the JSON byte-for-byte (float->string
formatting is engine-specific; decimal->string is not). The PNG material
itself is a codec concern (stubbed the same way as multimodal decode);
the packet structure, extents, and styling are real.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdalos_spark.datamodel import DEM_GRID_SQL, dem_grid, load
from gdalos_spark.functions import palette
from gdalos_spark.operators.raster import GT, PALETTE

TILE = 16


def _dec(col: F.Column) -> F.Column:
    return col.cast("decimal(12,4)").cast("string")


def raster_to_czml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile packets: groupBy tile -> extent corners through the
    geotransform -> palette color of the mean elevation -> JSON packet
    string. One shuffle on the tile key; packet assembly is pure string
    projection (whole-stage codegen)."""
    g = dem_grid(spark, sf_dir)
    tiles = (
        g.groupBy(
            F.floor(F.col("px") / TILE).cast("int").alias("tile_x"),
            F.floor(F.col("py") / TILE).cast("int").alias("tile_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.max(F.col("elev").cast("double")).alias("max_elev"),
            (F.sum("elev").cast("double") / F.count(F.lit(1))).alias("mean_elev"),
        )
    )
    west = F.lit(GT[0]) + (F.col("tile_x") * TILE) * GT[1]
    east = F.lit(GT[0]) + ((F.col("tile_x") + 1) * TILE) * GT[1]
    north = F.lit(GT[2]) + (F.col("tile_y") * TILE) * GT[3]
    south = F.lit(GT[2]) + ((F.col("tile_y") + 1) * TILE) * GT[3]
    rgba = palette.bin_case(PALETTE, F.col("mean_elev"))
    packet_id = F.concat_ws("_", F.lit("tile"), F.col("tile_x"), F.col("tile_y"))
    czml = F.concat(
        F.lit('{"id":"'), packet_id,
        F.lit('","rectangle":{"coordinates":{"wsenDegrees":['),
        _dec(west), F.lit(","), _dec(south), F.lit(","), _dec(east), F.lit(","), _dec(north),
        F.lit(']},"fill":true,"material":{"solidColor":{"color":"'), rgba,
        F.lit('"}}},"n_cells":'), F.col("n_cells").cast("string"), F.lit("}"),
    )
    packets = tiles.select(
        packet_id.alias("packet_id"),
        F.lit("rect").alias("kind"),
        west.alias("west"), south.alias("south"), east.alias("east"), north.alias("north"),
        F.col("n_cells"),
        F.col("max_elev"),
        czml.alias("czml"),
    )
    preamble = spark.range(1).select(
        F.lit("document").alias("packet_id"),
        F.lit("preamble").alias("kind"),
        F.lit(None).cast("double").alias("west"),
        F.lit(None).cast("double").alias("south"),
        F.lit(None).cast("double").alias("east"),
        F.lit(None).cast("double").alias("north"),
        F.lit(None).cast("bigint").alias("n_cells"),
        F.lit(None).cast("double").alias("max_elev"),
        F.lit('{"id":"document","name":"czml","version":"1.0"}').alias("czml"),
    )
    return packets.unionByName(preamble)


def _czml_sql() -> str:
    west = f"CAST({GT[0]} AS DOUBLE) + (tile_x * {TILE}) * CAST({GT[1]} AS DOUBLE)"
    east = f"CAST({GT[0]} AS DOUBLE) + ((tile_x + 1) * {TILE}) * CAST({GT[1]} AS DOUBLE)"
    north = f"CAST({GT[2]} AS DOUBLE) + (tile_y * {TILE}) * CAST({GT[3]} AS DOUBLE)"
    south = f"CAST({GT[2]} AS DOUBLE) + ((tile_y + 1) * {TILE}) * CAST({GT[3]} AS DOUBLE)"
    rgba = palette.bin_case_sql(PALETTE, "mean_elev")

    def dec(e: str) -> str:
        return f"CAST(CAST({e} AS DECIMAL(12,4)) AS VARCHAR)"

    return f"""
WITH dem AS ({DEM_GRID_SQL}),
tiles AS (
  SELECT CAST(FLOOR(px / {TILE}) AS INTEGER) AS tile_x, CAST(FLOOR(py / {TILE}) AS INTEGER) AS tile_y,
         COUNT(*) AS n_cells,
         MAX(CAST(elev AS DOUBLE)) AS max_elev,
         CAST(SUM(elev) AS DOUBLE) / COUNT(*) AS mean_elev
  FROM dem GROUP BY 1, 2
)
SELECT concat_ws('_', 'tile', tile_x, tile_y) AS packet_id,
       'rect' AS kind,
       {west} AS west, {south} AS south, {east} AS east, {north} AS north,
       n_cells, max_elev,
       '{{"id":"' || concat_ws('_', 'tile', tile_x, tile_y)
       || '","rectangle":{{"coordinates":{{"wsenDegrees":['
       || {dec(west)} || ',' || {dec(south)} || ',' || {dec(east)} || ',' || {dec(north)}
       || ']}},"fill":true,"material":{{"solidColor":{{"color":"' || {rgba}
       || '"}}}}}},"n_cells":' || CAST(n_cells AS VARCHAR) || '}}' AS czml
FROM tiles
UNION ALL
SELECT 'document', 'preamble', NULL, NULL, NULL, NULL, NULL, NULL,
       '{{"id":"document","name":"czml","version":"1.0"}}'
"""


RASTER_TO_CZML_SQL = _czml_sql()


# ---------------------------------------------------------------------------
# 58. raster_to_json — per-tile JSON raster documents
#    ref: calc/gdal_to_json.py:5 gdal_to_json (bbox + gt + size + data +
#         ndv dict for the whole raster)
# ---------------------------------------------------------------------------

JSON_NDV = -32768


def raster_to_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_to_json re-expressed per tile: the reference serializes ONE
    dict {bbox, gt, size, data, ndv} for a whole raster; at scale each
    tile becomes one self-contained JSON record with its own bbox and
    row-major data array. Values serialize as integer cents (exact
    decimal -> string; float formatting is engine-specific, int is not).
    One tile-key shuffle; the JSON assembly is pure string projection."""
    g = dem_grid(spark, sf_dir)
    cents = (F.col("elev") * 100).cast("bigint")
    tiles = (
        g.select(
            F.floor(F.col("px") / TILE).cast("int").alias("tile_x"),
            F.floor(F.col("py") / TILE).cast("int").alias("tile_y"),
            "px", "py", cents.alias("cents"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sort_array(F.collect_list(F.struct("py", "px", "cents"))).alias("cells"),
        )
    )
    minx = F.lit(GT[0]) + (F.col("tile_x") * TILE) * GT[1]
    maxx = F.lit(GT[0]) + ((F.col("tile_x") + 1) * TILE) * GT[1]
    maxy = F.lit(GT[2]) + (F.col("tile_y") * TILE) * GT[3]
    miny = F.lit(GT[2]) + ((F.col("tile_y") + 1) * TILE) * GT[3]
    data = F.array_join(
        F.transform(F.col("cells"), lambda c: c.getField("cents").cast("string")), ","
    )
    doc = F.concat(
        F.lit('{"bbox":['),
        _dec(miny), F.lit(","), _dec(minx), F.lit(","), _dec(maxy), F.lit(","), _dec(maxx),
        F.lit(f'],"size":[{TILE},{TILE}],"ndv":{JSON_NDV},"data_cents":['),
        data, F.lit("]}"),
    )
    return tiles.select(
        "tile_x", "tile_y", "n_cells",
        F.md5(doc).alias("doc_hash"),
        doc.alias("json_doc"),
    )


def _json_sql() -> str:
    minx = f"CAST({GT[0]} AS DOUBLE) + (tile_x * {TILE}) * CAST({GT[1]} AS DOUBLE)"
    maxx = f"CAST({GT[0]} AS DOUBLE) + ((tile_x + 1) * {TILE}) * CAST({GT[1]} AS DOUBLE)"
    maxy = f"CAST({GT[2]} AS DOUBLE) + (tile_y * {TILE}) * CAST({GT[3]} AS DOUBLE)"
    miny = f"CAST({GT[2]} AS DOUBLE) + ((tile_y + 1) * {TILE}) * CAST({GT[3]} AS DOUBLE)"

    def dec(e: str) -> str:
        return f"CAST(CAST({e} AS DECIMAL(12,4)) AS VARCHAR)"

    doc = (
        f"'{{\"bbox\":[' || {dec(miny)} || ',' || {dec(minx)} || ',' || {dec(maxy)} || ',' || {dec(maxx)}"
        f" || '],\"size\":[{TILE},{TILE}],\"ndv\":{JSON_NDV},\"data_cents\":['"
        f" || array_to_string(list(CAST(CAST(elev * 100 AS BIGINT) AS VARCHAR) ORDER BY py, px), ',')"
        f" || ']}}'"
    )
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
tiles AS (
  SELECT CAST(FLOOR(px / {TILE}) AS INTEGER) AS tile_x,
         CAST(FLOOR(py / {TILE}) AS INTEGER) AS tile_y,
         COUNT(*) AS n_cells,
         {doc} AS json_doc
  FROM dem GROUP BY 1, 2
)
SELECT tile_x, tile_y, n_cells, md5(json_doc) AS doc_hash, json_doc
FROM tiles
"""


RASTER_TO_JSON_SQL = _json_sql()


# ---------------------------------------------------------------------------
# 89. viewshed_polygonize — visible-region polygon merge + polygon CZML
#    ref: viewshed_calc.py:148 polygon_to_np (reads back the polygonized
#         viewshed layer as vertex arrays) and :577 poly_to_czml (emits one
#         CZML polygon per contiguous same-value region, colored by the
#         result palette). The reference polygonizes with ogr; the
#         distributed re-expression merges adjacent visible cells with two
#         gaps-and-islands window passes: consecutive visible px per row ->
#         horizontal runs, then rows with IDENTICAL (x0, x1) runs stacked
#         on consecutive py -> rectangle regions. Every step is integer
#         window/groupBy arithmetic (bit-portable), and the packet JSON is
#         built from DECIMAL-formatted coordinates like raster_to_czml.
#         Data shrinks at every stage (cells -> runs -> rects), so the
#         extra window shuffles operate on ever-smaller keysets.
# ---------------------------------------------------------------------------

VIS_COLOR = "#00ff00c0"  # polygon fill for visible regions (single res=1)


def viewshed_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visible-region polygon CZML (viewshed_calc.py:148/:577)."""
    from pyspark.sql.window import Window

    from gdalos_spark.operators.viewshed import viewshed_los

    vis = viewshed_los(spark, sf_dir).filter(F.col("visible") == 1).select("px", "py")

    # pass 1: horizontal runs of consecutive visible cells per row
    wrow = Window.partitionBy("py").orderBy("px")
    brk = F.when(
        F.lag("px").over(wrow).isNull() | (F.col("px") - F.lag("px").over(wrow) > 1), 1
    ).otherwise(0)
    runs = (
        vis.withColumn("brk", brk)
        .withColumn("run_id", F.sum("brk").over(wrow.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("py", "run_id")
        .agg(F.min("px").alias("x0"), F.max("px").alias("x1"))
    )

    # pass 2: stack identical runs on consecutive rows into rectangles
    wcol = Window.partitionBy("x0", "x1").orderBy("py")
    brk2 = F.when(
        F.lag("py").over(wcol).isNull() | (F.col("py") - F.lag("py").over(wcol) > 1), 1
    ).otherwise(0)
    rects = (
        runs.withColumn("brk", brk2)
        .withColumn("rect_id", F.sum("brk").over(wcol.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("x0", "x1", "rect_id")
        .agg(F.min("py").alias("y0"), F.max("py").alias("y1"))
    )

    west = F.lit(GT[0]) + F.col("x0") * GT[1]
    east = F.lit(GT[0]) + (F.col("x1") + 1) * GT[1]
    north = F.lit(GT[2]) + F.col("y0") * GT[3]
    south = F.lit(GT[2]) + (F.col("y1") + 1) * GT[3]
    n_cells = ((F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)).cast("bigint")
    poly_id = F.concat_ws("_", F.lit("vs"), F.col("x0"), F.col("x1"), F.col("y0"), F.col("y1"))
    ring = F.concat(
        _dec(west), F.lit(","), _dec(south), F.lit(",0,"),
        _dec(east), F.lit(","), _dec(south), F.lit(",0,"),
        _dec(east), F.lit(","), _dec(north), F.lit(",0,"),
        _dec(west), F.lit(","), _dec(north), F.lit(",0"),
    )
    czml = F.concat(
        F.lit('{"id":"'), poly_id,
        F.lit('","polygon":{"positions":{"cartographicDegrees":['), ring,
        F.lit(']},"material":{"solidColor":{"color":"'), F.lit(VIS_COLOR),
        F.lit('"}}},"n_cells":'), n_cells.cast("string"), F.lit("}"),
    )
    return rects.select(
        poly_id.alias("poly_id"),
        F.col("x0").cast("int").alias("x0"), F.col("x1").cast("int").alias("x1"),
        F.col("y0").cast("int").alias("y0"), F.col("y1").cast("int").alias("y1"),
        n_cells.alias("n_cells"),
        west.alias("west"), south.alias("south"), east.alias("east"), north.alias("north"),
        czml.alias("czml"),
    )


def _vs_poly_sql() -> str:
    from gdalos_spark.operators.viewshed import VIEWSHED_LOS_SQL

    west = f"CAST({GT[0]} AS DOUBLE) + x0 * CAST({GT[1]} AS DOUBLE)"
    east = f"CAST({GT[0]} AS DOUBLE) + (x1 + 1) * CAST({GT[1]} AS DOUBLE)"
    north = f"CAST({GT[2]} AS DOUBLE) + y0 * CAST({GT[3]} AS DOUBLE)"
    south = f"CAST({GT[2]} AS DOUBLE) + (y1 + 1) * CAST({GT[3]} AS DOUBLE)"

    def dec(e: str) -> str:
        return f"CAST(CAST({e} AS DECIMAL(12,4)) AS VARCHAR)"

    ring = (
        f"{dec(west)} || ',' || {dec(south)} || ',0,' || {dec(east)} || ',' || {dec(south)}"
        f" || ',0,' || {dec(east)} || ',' || {dec(north)} || ',0,' || {dec(west)} || ',' || {dec(north)} || ',0'"
    )
    return f"""
WITH los AS ({VIEWSHED_LOS_SQL}),
vis AS (SELECT px, py FROM los WHERE visible = 1),
marked AS (
  SELECT px, py,
         CASE WHEN LAG(px) OVER (PARTITION BY py ORDER BY px) IS NULL
                OR px - LAG(px) OVER (PARTITION BY py ORDER BY px) > 1
              THEN 1 ELSE 0 END AS brk
  FROM vis
),
runs0 AS (
  SELECT px, py,
         SUM(brk) OVER (PARTITION BY py ORDER BY px
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM marked
),
runs AS (
  SELECT py, run_id, MIN(px) AS x0, MAX(px) AS x1 FROM runs0 GROUP BY py, run_id
),
marked2 AS (
  SELECT py, x0, x1,
         CASE WHEN LAG(py) OVER (PARTITION BY x0, x1 ORDER BY py) IS NULL
                OR py - LAG(py) OVER (PARTITION BY x0, x1 ORDER BY py) > 1
              THEN 1 ELSE 0 END AS brk
  FROM runs
),
runs2 AS (
  SELECT py, x0, x1,
         SUM(brk) OVER (PARTITION BY x0, x1 ORDER BY py
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rect_id
  FROM marked2
),
rects AS (
  SELECT x0, x1, rect_id, MIN(py) AS y0, MAX(py) AS y1 FROM runs2 GROUP BY x0, x1, rect_id
)
SELECT concat_ws('_', 'vs', x0, x1, y0, y1) AS poly_id,
       CAST(x0 AS INTEGER) AS x0, CAST(x1 AS INTEGER) AS x1,
       CAST(y0 AS INTEGER) AS y0, CAST(y1 AS INTEGER) AS y1,
       CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS BIGINT) AS n_cells,
       {west} AS west, {south} AS south, {east} AS east, {north} AS north,
       '{{"id":"' || concat_ws('_', 'vs', x0, x1, y0, y1)
       || '","polygon":{{"positions":{{"cartographicDegrees":[' || {ring}
       || ']}},"material":{{"solidColor":{{"color":"{VIS_COLOR}"}}}}}},"n_cells":'
       || CAST(CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS BIGINT) AS VARCHAR) || '}}' AS czml
FROM rects
"""


VIEWSHED_POLYGONIZE_SQL = _vs_poly_sql()


# ---------------------------------------------------------------------------
# 94. viewshed_contour_polygons — per-class (contour) polygon export
#    ref: viewshed_calc.py:89 CalcOperation.count produces the 0..N
#         observer-count raster; :577 poly_to_czml emits one colored
#         polygon per contiguous same-value region (color looked up from
#         the result palette via ordered_dict_get :560). Same two-pass
#         gaps-and-islands merge as viewshed_polygonize, with the class
#         value joining the partition keys — so each observer-count level
#         gets its own rectangle set and palette color, the distributed
#         equivalent of the reference's contour-interval polygon layers.
# ---------------------------------------------------------------------------

# observer-count palette, index = n_visible (talos-style opaque ramp)
CONTOUR_COLORS = (
    "#00000000", "#2c7bb680", "#abd9e980", "#ffffbf80", "#fdae6180", "#d7191c80",
)


def viewshed_contour_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-observer-count contour polygons with palette colors."""
    from pyspark.sql.window import Window

    from gdalos_spark.operators.viewshed import viewshed_observer_count

    counts = (
        viewshed_observer_count(spark, sf_dir)
        .filter(F.col("n_visible") > 0)
        .select("px", "py", F.col("n_visible").cast("int").alias("vclass"))
    )

    wrow = Window.partitionBy("vclass", "py").orderBy("px")
    brk = F.when(
        F.lag("px").over(wrow).isNull() | (F.col("px") - F.lag("px").over(wrow) > 1), 1
    ).otherwise(0)
    runs = (
        counts.withColumn("brk", brk)
        .withColumn("run_id", F.sum("brk").over(wrow.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("vclass", "py", "run_id")
        .agg(F.min("px").alias("x0"), F.max("px").alias("x1"))
    )
    wcol = Window.partitionBy("vclass", "x0", "x1").orderBy("py")
    brk2 = F.when(
        F.lag("py").over(wcol).isNull() | (F.col("py") - F.lag("py").over(wcol) > 1), 1
    ).otherwise(0)
    rects = (
        runs.withColumn("brk", brk2)
        .withColumn("rect_id", F.sum("brk").over(wcol.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("vclass", "x0", "x1", "rect_id")
        .agg(F.min("py").alias("y0"), F.max("py").alias("y1"))
    )

    color = F.col("vclass")
    color_case = F.when(color == 1, CONTOUR_COLORS[1])
    for i in range(2, len(CONTOUR_COLORS)):
        color_case = color_case.when(color == i, CONTOUR_COLORS[i])
    color_case = color_case.otherwise(CONTOUR_COLORS[-1])

    west = F.lit(GT[0]) + F.col("x0") * GT[1]
    east = F.lit(GT[0]) + (F.col("x1") + 1) * GT[1]
    north = F.lit(GT[2]) + F.col("y0") * GT[3]
    south = F.lit(GT[2]) + (F.col("y1") + 1) * GT[3]
    n_cells = ((F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)).cast("bigint")
    poly_id = F.concat_ws(
        "_", F.lit("vc"), F.col("vclass"), F.col("x0"), F.col("x1"), F.col("y0"), F.col("y1")
    )
    ring = F.concat(
        _dec(west), F.lit(","), _dec(south), F.lit(",0,"),
        _dec(east), F.lit(","), _dec(south), F.lit(",0,"),
        _dec(east), F.lit(","), _dec(north), F.lit(",0,"),
        _dec(west), F.lit(","), _dec(north), F.lit(",0"),
    )
    czml = F.concat(
        F.lit('{"id":"'), poly_id,
        F.lit('","polygon":{"positions":{"cartographicDegrees":['), ring,
        F.lit(']},"material":{"solidColor":{"color":"'), color_case,
        F.lit('"}}},"n_cells":'), n_cells.cast("string"), F.lit("}"),
    )
    return rects.select(
        poly_id.alias("poly_id"),
        F.col("vclass"),
        F.col("x0").cast("int").alias("x0"), F.col("x1").cast("int").alias("x1"),
        F.col("y0").cast("int").alias("y0"), F.col("y1").cast("int").alias("y1"),
        n_cells.alias("n_cells"),
        color_case.alias("color"),
        czml.alias("czml"),
    )


def _vs_contour_sql() -> str:
    from gdalos_spark.operators.viewshed import VIEWSHED_OBSERVER_COUNT_SQL

    west = f"CAST({GT[0]} AS DOUBLE) + x0 * CAST({GT[1]} AS DOUBLE)"
    east = f"CAST({GT[0]} AS DOUBLE) + (x1 + 1) * CAST({GT[1]} AS DOUBLE)"
    north = f"CAST({GT[2]} AS DOUBLE) + y0 * CAST({GT[3]} AS DOUBLE)"
    south = f"CAST({GT[2]} AS DOUBLE) + (y1 + 1) * CAST({GT[3]} AS DOUBLE)"

    def dec(e: str) -> str:
        return f"CAST(CAST({e} AS DECIMAL(12,4)) AS VARCHAR)"

    whens = " ".join(
        f"WHEN vclass = {i} THEN '{CONTOUR_COLORS[i]}'"
        for i in range(1, len(CONTOUR_COLORS))
    )
    color = f"(CASE {whens} ELSE '{CONTOUR_COLORS[-1]}' END)"
    ring = (
        f"{dec(west)} || ',' || {dec(south)} || ',0,' || {dec(east)} || ',' || {dec(south)}"
        f" || ',0,' || {dec(east)} || ',' || {dec(north)} || ',0,' || {dec(west)} || ',' || {dec(north)} || ',0'"
    )
    return f"""
WITH oc AS ({VIEWSHED_OBSERVER_COUNT_SQL}),
counts AS (
  SELECT px, py, CAST(n_visible AS INTEGER) AS vclass FROM oc WHERE n_visible > 0
),
marked AS (
  SELECT vclass, px, py,
         CASE WHEN LAG(px) OVER (PARTITION BY vclass, py ORDER BY px) IS NULL
                OR px - LAG(px) OVER (PARTITION BY vclass, py ORDER BY px) > 1
              THEN 1 ELSE 0 END AS brk
  FROM counts
),
runs0 AS (
  SELECT vclass, px, py,
         SUM(brk) OVER (PARTITION BY vclass, py ORDER BY px
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM marked
),
runs AS (
  SELECT vclass, py, run_id, MIN(px) AS x0, MAX(px) AS x1
  FROM runs0 GROUP BY vclass, py, run_id
),
marked2 AS (
  SELECT vclass, py, x0, x1,
         CASE WHEN LAG(py) OVER (PARTITION BY vclass, x0, x1 ORDER BY py) IS NULL
                OR py - LAG(py) OVER (PARTITION BY vclass, x0, x1 ORDER BY py) > 1
              THEN 1 ELSE 0 END AS brk
  FROM runs
),
runs2 AS (
  SELECT vclass, py, x0, x1,
         SUM(brk) OVER (PARTITION BY vclass, x0, x1 ORDER BY py
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rect_id
  FROM marked2
),
rects AS (
  SELECT vclass, x0, x1, rect_id, MIN(py) AS y0, MAX(py) AS y1
  FROM runs2 GROUP BY vclass, x0, x1, rect_id
)
SELECT concat_ws('_', 'vc', vclass, x0, x1, y0, y1) AS poly_id,
       vclass,
       CAST(x0 AS INTEGER) AS x0, CAST(x1 AS INTEGER) AS x1,
       CAST(y0 AS INTEGER) AS y0, CAST(y1 AS INTEGER) AS y1,
       CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS BIGINT) AS n_cells,
       {color} AS color,
       '{{"id":"' || concat_ws('_', 'vc', vclass, x0, x1, y0, y1)
       || '","polygon":{{"positions":{{"cartographicDegrees":[' || {ring}
       || ']}},"material":{{"solidColor":{{"color":"' || {color}
       || '"}}}}}},"n_cells":' || CAST(CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS BIGINT) AS VARCHAR) || '}}' AS czml
FROM rects
"""


VIEWSHED_CONTOUR_POLYGONS_SQL = _vs_contour_sql()


# ---------------------------------------------------------------------------
# 112. export_jsonl_shards — training-shard JSONL export plan
#     (the sink side of the curation pipeline: deterministic shard
#     assignment + per-shard JSONL manifest, the step that materializes
#     tokenizer-ready shards at 100 TB)
# ---------------------------------------------------------------------------

EXPORT_N_SHARDS = 8


def export_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-export manifest: every document is assigned a shard by md5
    bucket (reproducible — rerunning the export writes identical
    shards, the idempotent-write property job_skip_overwrite's commit
    protocol needs), serialized to a JSONL record built by PURE STRING
    CONCATENATION of integer/enum fields (engine-neutral, unlike
    to_json whose spacing/key-order is engine-specific), and each
    shard reports line count, byte count, and the md5 digest of its
    doc_id-ordered content — exactly what a writer commits next to the
    shard file for integrity checks. One shuffle on the shard id; the
    digest aggregation is an ordered array fold so the manifest is
    deterministic under any partitioning."""
    from gdalos_spark.functions import hashing

    docs = load(spark, sf_dir, "documents")
    line = F.concat(
        F.lit('{"doc_id":'), F.col("doc_id"),
        F.lit(',"source":"'), F.col("source"),
        F.lit('","lang":"'), F.col("lang"),
        F.lit('","n_chars":'), F.col("n_chars"), F.lit("}"),
    )
    assigned = docs.select(
        "doc_id",
        (hashing.md5_int60(F.col("doc_id").cast("string")) % EXPORT_N_SHARDS)
        .cast("int").alias("shard"),
        line.alias("line"),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "line"))),
                lambda s: s["line"],
            ),
        ).alias("content"),
    )
    return per_shard.select(
        "shard",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


def _jsonl_sql() -> str:
    from gdalos_spark.functions import hashing

    h = hashing.md5_int60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH assigned AS (
  SELECT doc_id,
         CAST({h} % {EXPORT_N_SHARDS} AS INTEGER) AS shard,
         '{{"doc_id":' || doc_id || ',"source":"' || source ||
         '","lang":"' || lang || '","n_chars":' || n_chars || '}}' AS line
  FROM documents
),
per_shard AS (
  SELECT shard, COUNT(*) AS n_lines,
         string_agg(line, chr(10) ORDER BY doc_id) AS content
  FROM assigned GROUP BY shard
)
SELECT shard, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(length(content) AS BIGINT) AS n_bytes,
       md5(content) AS content_md5
FROM per_shard
"""


EXPORT_JSONL_SHARDS_SQL = _jsonl_sql()
