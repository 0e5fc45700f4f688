"""Vector-layer ingest — OGR's two bread-and-butter formats, pure stdlib.

The reference rasterizes OGR vector layers (reference
rasterize/gdalos_rasterize.py:1, backports/ogr_utils.py — its sample
layer lives at /root/reference/data/shp/comb_poly.gml); this module
closes that source-format gap Spark-first:

- ESRI Shapefile (.shp): a real binary codec (struct only) for the
  Point (type 1) and Polygon (type 5) shapes the reference rasterizes.
  Coordinates are IEEE doubles in the file, so integer-valued
  geometry survives the byte round trip LOSSLESSLY and the ingest is
  fully hash-gated against a SQL oracle.
- GML (the OGR default XML container): ElementTree parse of
  FeatureCollection / featureMember / Polygon / LinearRing /
  coordinates — the exact shape of the reference's sample layer, which
  tests/test_vector.py ingests end to end.

Scale shape: layers are the unit of parallelism (one binary/text row
per layer, partitioned by layer id — a continental extract is millions
of tiles); geometry rows only exist AFTER the Arrow-batched decode and
feed the same rasterize/cutline operators table-derived geometry does.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdalos_spark.datamodel import load

SHP_POINT, SHP_POLYGON = 1, 5


# --- ESRI Shapefile codec (spec: ESRI Shapefile Technical Description,
# July 1998: 100-byte header, BE record headers, LE record contents) ---


def shp_encode(shapes: list) -> bytes:
    """Encode a list of shapes into one .shp byte stream. Each shape is
    ('point', (x, y)) or ('polygon', [ring, ...]) where a ring is a
    list of (x, y) tuples WITH the closing vertex repeated (the spec's
    ring contract)."""
    records = bytearray()
    xs: list[float] = []
    ys: list[float] = []
    shape_type = SHP_POINT
    for rec_no, (kind, geom) in enumerate(shapes, start=1):
        if kind == "point":
            x, y = geom
            content = struct.pack("<idd", SHP_POINT, float(x), float(y))
            xs.append(float(x))
            ys.append(float(y))
            shape_type = SHP_POINT
        elif kind == "polygon":
            pts = [p for ring in geom for p in ring]
            rx = [float(p[0]) for p in pts]
            ry = [float(p[1]) for p in pts]
            xs += rx
            ys += ry
            parts, acc = [], 0
            for ring in geom:
                parts.append(acc)
                acc += len(ring)
            content = struct.pack(
                "<i4dii", SHP_POLYGON, min(rx), min(ry), max(rx), max(ry),
                len(geom), len(pts),
            )
            content += struct.pack(f"<{len(parts)}i", *parts)
            content += b"".join(struct.pack("<2d", x, y) for x, y in pts)
            shape_type = SHP_POLYGON
        else:
            raise ValueError(f"unsupported shape kind {kind!r}")
        # record header: number + content length, both BIG-endian, length
        # in 16-bit words
        records += struct.pack(">2i", rec_no, len(content) // 2) + content
    total_words = (100 + len(records)) // 2
    header = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
    header += struct.pack(">i", total_words)
    header += struct.pack("<2i", 1000, shape_type)
    header += struct.pack(
        "<8d",
        min(xs) if xs else 0.0, min(ys) if ys else 0.0,
        max(xs) if xs else 0.0, max(ys) if ys else 0.0,
        0.0, 0.0, 0.0, 0.0,  # z / m ranges
    )
    return bytes(header + records)


def shp_decode(payload: bytes) -> list[dict]:
    """Parse a .shp byte stream into [{'rec_no', 'shape_type', 'points',
    'parts'}] — Point and Polygon records (null shape 0 skipped)."""
    if struct.unpack_from(">i", payload, 0)[0] != 9994:
        raise ValueError("not an ESRI shapefile stream (bad file code)")
    file_words = struct.unpack_from(">i", payload, 24)[0]
    version = struct.unpack_from("<i", payload, 28)[0]
    if version != 1000:
        raise ValueError(f"unsupported shapefile version {version}")
    end = min(len(payload), file_words * 2)
    out: list[dict] = []
    off = 100
    while off + 8 <= end:
        rec_no, words = struct.unpack_from(">2i", payload, off)
        off += 8
        body_end = off + words * 2
        (stype,) = struct.unpack_from("<i", payload, off)
        if stype == SHP_POINT:
            x, y = struct.unpack_from("<2d", payload, off + 4)
            out.append(
                {"rec_no": rec_no, "shape_type": stype,
                 "points": [(x, y)], "parts": [0]}
            )
        elif stype == SHP_POLYGON:
            n_parts, n_points = struct.unpack_from("<2i", payload, off + 36)
            parts = list(
                struct.unpack_from(f"<{n_parts}i", payload, off + 44)
            )
            pts_off = off + 44 + 4 * n_parts
            flat = struct.unpack_from(f"<{2 * n_points}d", payload, pts_off)
            pts = list(zip(flat[0::2], flat[1::2]))
            out.append(
                {"rec_no": rec_no, "shape_type": stype,
                 "points": pts, "parts": parts}
            )
        elif stype != 0:
            raise ValueError(f"unsupported shape type {stype}")
        off = body_end
    return out


# --- GML (OGR FeatureCollection flavor) --------------------------------

_GML_NS = "http://www.opengis.net/gml"


def gml_parse(text: str) -> list[dict]:
    """Parse an OGR-flavor GML FeatureCollection into [{'fid',
    'geom_type', 'srs', 'rings'}] where rings is a list of coordinate
    lists [(x, y), ...]. Handles Polygon (outerBoundaryIs/LinearRing/
    coordinates — the reference sample's shape) and Point."""
    root = ElementTree.fromstring(text)
    out: list[dict] = []
    for member in root.iter(f"{{{_GML_NS}}}featureMember"):
        feature = next(iter(member))
        fid = feature.attrib.get("fid", "")
        for geom in feature.iter():
            tag = geom.tag.rsplit("}", 1)[-1]
            if tag not in ("Polygon", "Point"):
                continue
            srs = geom.attrib.get("srsName", "")
            rings = [
                _gml_coords(c.text or "")
                for c in geom.iter(f"{{{_GML_NS}}}coordinates")
            ]
            out.append(
                {"fid": fid, "geom_type": tag, "srs": srs, "rings": rings}
            )
            break
    return out


def _gml_coords(text: str) -> list[tuple[float, float]]:
    """GML coordinate string: whitespace-separated tuples, comma-
    separated ordinates."""
    pts = []
    for tok in text.split():
        x, y = tok.split(",")[:2]
        pts.append((float(x), float(y)))
    return pts


def gml_render(layer_name: str, features: list) -> str:
    """Render (fid, ring) polygon features as an OGR-flavor GML
    FeatureCollection — the writer half of the round trip (coordinates
    are emitted with repr so integer-valued geometry is lossless)."""

    def fmt(v: float) -> str:
        return repr(int(v)) if float(v).is_integer() else repr(v)

    parts = [
        '<?xml version="1.0" encoding="utf-8" ?>',
        "<ogr:FeatureCollection"
        ' xmlns:ogr="http://ogr.maptools.org/"'
        f' xmlns:gml="{_GML_NS}">',
    ]
    for fid, ring in features:
        coords = " ".join(f"{fmt(x)},{fmt(y)}" for x, y in ring)
        parts.append(
            "  <gml:featureMember>"
            f'<ogr:{layer_name} fid="{layer_name}.{fid}">'
            "<ogr:geometryProperty>"
            '<gml:Polygon srsName="EPSG:4326"><gml:outerBoundaryIs>'
            f"<gml:LinearRing><gml:coordinates>{coords}</gml:coordinates>"
            "</gml:LinearRing></gml:outerBoundaryIs></gml:Polygon>"
            "</ogr:geometryProperty>"
            f"</ogr:{layer_name}></gml:featureMember>"
        )
    parts.append("</ogr:FeatureCollection>")
    return "\n".join(parts)


def vector_layer_features(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Distributed foreign vector-layer ingest: the path manifest is the
    DataFrame, .shp/.gml files are opened and parsed ON THE EXECUTORS
    (shp_decode / gml_parse by extension), and features emerge as one
    row per vertex with feature/ring identity — ready for
    rasterize/cutline joins.

    Output: (path, feature_id, geom_type, ring, seq, x, y)."""
    if not paths:
        raise ValueError("open_vector needs at least one .shp/.gml path")
    manifest = spark.createDataFrame([(p,) for p in paths], "path string")

    def parse(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                if path.lower().endswith(".shp"):
                    with open(path, "rb") as f:
                        recs = shp_decode(f.read())
                    for rec in recs:
                        kind = "Polygon" if rec["shape_type"] == SHP_POLYGON else "Point"
                        bounds = rec["parts"] + [len(rec["points"])]
                        for ring, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                            for seq, (x, y) in enumerate(rec["points"][lo:hi]):
                                rows.append(
                                    (path, str(rec["rec_no"]), kind, ring, seq, x, y)
                                )
                else:  # .gml / .xml
                    with open(path) as f:
                        feats = gml_parse(f.read())
                    for feat in feats:
                        for ring, pts in enumerate(feat["rings"]):
                            for seq, (x, y) in enumerate(pts):
                                rows.append(
                                    (path, feat["fid"], feat["geom_type"], ring, seq, x, y)
                                )
            yield pd.DataFrame(
                rows,
                columns=["path", "feature_id", "geom_type", "ring", "seq", "x", "y"],
            )

    return manifest.repartition(min(len(paths), 32), "path").mapInPandas(
        parse,
        schema="path string, feature_id string, geom_type string, "
        "ring int, seq int, x double, y double",
    )


# --- the ingest operators ----------------------------------------------

# supplier-derived integer geometry (same derivation family as
# datamodel.customer_points): exact in IEEE doubles AND in the SQL
# oracle, so the full encode -> bytes -> parse trip hash-gates.
_SUPPLIER_RING_SQL = """
SELECT s_nationkey AS feature_id, s_suppkey,
       s_suppkey * 17 % 6400 AS x,
       s_suppkey * 23 % 6400 AS y
FROM supplier
"""


def _supplier_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load(spark, sf_dir, "supplier")
    return sup.select(
        F.col("s_nationkey").alias("feature_id"),
        "s_suppkey",
        (F.col("s_suppkey") * 17 % 6400).alias("x"),
        (F.col("s_suppkey") * 23 % 6400).alias("y"),
    )


def _ring_points(pdf):
    """One nation group -> the closed polygon ring (suppkey order,
    first vertex repeated)."""
    g = pdf.sort_values("s_suppkey")
    pts = list(zip(g["x"].astype(float), g["y"].astype(float)))
    return pts + pts[:1]


def vector_ingest_shp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest real ESRI Shapefile bytes the way the reference ingests
    OGR layers (rasterize/gdalos_rasterize.py:1): each nation's
    suppliers become one closed polygon ring encoded as a genuine .shp
    stream (applyInPandas — one layer per group, the layer manifest
    shape), then shp_decode parses the bytes back and reduces each
    feature to exact integer stats. Doubles are IEEE-exact for the
    integer grid, so every column is recomputed by DuckDB from
    supplier alone — a full hash gate over encode -> bytes -> parse.

    Output: (feature_id, shape_type, n_points, sum_x, sum_y,
    area2) — area2 = |shoelace cross-product sum| of the ring."""

    def encode(pdf):
        import pandas as pd

        fid = int(pdf["feature_id"].iloc[0])
        payload = shp_encode([("polygon", [_ring_points(pdf)])])
        return pd.DataFrame({"feature_id": [fid], "payload": [payload]})

    layers = _supplier_rings(spark, sf_dir).groupBy("feature_id").applyInPandas(
        encode, schema="feature_id int, payload binary"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for fid, payload in zip(pdf["feature_id"], pdf["payload"]):
                for rec in shp_decode(bytes(payload)):
                    pts = rec["points"]
                    area2 = sum(
                        int(ax) * int(by) - int(bx) * int(ay)
                        for (ax, ay), (bx, by) in zip(pts, pts[1:])
                    )
                    rows.append(
                        (
                            int(fid), rec["shape_type"], len(pts),
                            int(sum(x for x, _ in pts)),
                            int(sum(y for _, y in pts)),
                            abs(area2),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "feature_id", "shape_type", "n_points",
                    "sum_x", "sum_y", "area2",
                ],
            )

    return layers.mapInPandas(
        decode,
        schema="feature_id int, shape_type int, n_points int, "
        "sum_x bigint, sum_y bigint, area2 bigint",
    )


VECTOR_INGEST_SHP_SQL = f"""
WITH pts AS ({_SUPPLIER_RING_SQL}),
ring AS (
  SELECT feature_id, x, y,
         LEAD(x) OVER w AS nx, LEAD(y) OVER w AS ny,
         FIRST_VALUE(x) OVER w AS fx, FIRST_VALUE(y) OVER w AS fy
  FROM pts
  WINDOW w AS (PARTITION BY feature_id ORDER BY s_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT feature_id,
       {SHP_POLYGON} AS shape_type,
       CAST(COUNT(*) + 1 AS INTEGER) AS n_points,
       CAST(SUM(x) + MIN(fx) AS BIGINT) AS sum_x,
       CAST(SUM(y) + MIN(fy) AS BIGINT) AS sum_y,
       CAST(ABS(SUM(x * COALESCE(ny, fy) - COALESCE(nx, fx) * y)) AS BIGINT) AS area2
FROM ring
GROUP BY feature_id
"""


def vector_ingest_gml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GML half of the OGR surface (the reference's sample layer at
    data/shp/comb_poly.gml is exactly this flavor): render each
    nation's supplier ring as a FeatureCollection XML document, parse
    it back with ElementTree inside the same task, and reduce to exact
    integer stats. Integer coordinates print and parse losslessly, so
    the text round trip is hash-gated end to end.

    Output: (feature_id, geom_type, n_vertices, sum_x, sum_y, min_x,
    max_x)."""

    def encode(pdf):
        import pandas as pd

        fid = int(pdf["feature_id"].iloc[0])
        text = gml_render("nation_ring", [(fid, _ring_points(pdf))])
        return pd.DataFrame({"feature_id": [fid], "doc": [text]})

    docs = _supplier_rings(spark, sf_dir).groupBy("feature_id").applyInPandas(
        encode, schema="feature_id int, doc string"
    )

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for fid, doc in zip(pdf["feature_id"], pdf["doc"]):
                for feat in gml_parse(doc):
                    pts = feat["rings"][0]
                    rows.append(
                        (
                            int(fid), feat["geom_type"], len(pts),
                            int(sum(x for x, _ in pts)),
                            int(sum(y for _, y in pts)),
                            int(min(x for x, _ in pts)),
                            int(max(x for x, _ in pts)),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "feature_id", "geom_type", "n_vertices",
                    "sum_x", "sum_y", "min_x", "max_x",
                ],
            )

    return docs.mapInPandas(
        decode,
        schema="feature_id int, geom_type string, n_vertices int, "
        "sum_x bigint, sum_y bigint, min_x bigint, max_x bigint",
    )


# Adaptive burn-plan gate (VERDICT r09 item 5 / r10 item 9): on tall
# grids the scanline plan wins because a (cell, edge) pair is only
# materialized when the edge actually straddles the cell's row, and the
# row key count carries the join parallelism. The crossover was
# MEASURED with the paired interleaved A/B protocol
# (full height sweep in BASELINE.md "Rasterize burn-plan height sweep",
# whose A/B tool is retired; in git history — W=256, 10k suppliers, 3 pairs per height): scanline loses
# ~1.5x at H=512, is a wash at H=1024 (pair ratios 0.85/0.98/1.27),
# and wins 2.3-3.1x at H=2048; the earlier 64-row 100k-supplier run
# (round-10 section) had bbox ~1.5x ahead. Height alone is an imperfect
# predictor on synthetic whole-grid rings (H=64/W=256 also measured a
# scanline win), but it is the plan-time-derivable constant (extent /
# resolution — the footer-style input the custkey and collapse gates
# use) and the mid-band penalty is bounded (~1.5x either way), so the
# gate sits at the measured crossover.
RASTERIZE_SCANLINE_MIN_ROWS = 1024


def _ring_edges_bbox(sup, grid_w: int, grid_h: int):
    """Per-feature closed-ring edges + bboxes from the supplier layer.
    Spreading multipliers scale with the grid so every nation's ring
    encloses a meaningful cell population at every grid size."""
    from pyspark.sql import Window

    pts = sup.select(
        F.col("s_nationkey").alias("feature_id"),
        "s_suppkey",
        ((F.col("s_suppkey") * 541 % (grid_w * 100)) / 100.0).alias("x"),
        ((F.col("s_suppkey") * 863 % (grid_h * 100)) / 100.0).alias("y"),
    )
    wo = Window.partitionBy("feature_id").orderBy("s_suppkey")
    wa = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    edges = pts.select(
        "feature_id",
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        F.coalesce(F.lead("x").over(wo), F.first("x").over(wa)).alias("x2"),
        F.coalesce(F.lead("y").over(wo), F.first("y").over(wa)).alias("y2"),
    )
    fbbox = pts.groupBy("feature_id").agg(
        F.min("x").alias("minx"), F.max("x").alias("maxx"),
        F.min("y").alias("miny"), F.max("y").alias("maxy"),
    )
    return edges, fbbox


def _burn_crossings(cells, edges, fbbox, scanline: bool):
    """Even-odd crossing counts per (cell, feature) under either burn
    plan — result-IDENTICAL (test-pinned), different physics:

    * bbox (dim-sized layers, short grids): cells hit the broadcast
      per-feature bbox (bounded BNLJ build side), then an equi-join on
      feature_id fans out that feature's edges — every in-bbox cell
      sees every feature edge.
    * scanline (tall grids): edges explode to the integer rows their
      y-span straddles and join cells on the ROW key — a (cell, edge)
      pair exists only when the edge crosses that row, the locality
      win gdal.Rasterize's scanline core gets. Join parallelism is the
      row count, which is exactly when this plan is selected.

    Both arms evaluate the SAME straddle predicate and lazy-guarded
    crossing term, so ties and degenerate (horizontal) edges resolve
    identically."""
    straddles = (F.col("y1") > F.col("cy")) != (F.col("y2") > F.col("cy"))
    # x of the edge at the ray height; evaluated only under `straddles`
    # (lazy CASE), which implies y1 != y2 — no division by zero
    x_at = F.col("x1") + (F.col("x2") - F.col("x1")) * (
        F.col("cy") - F.col("y1")
    ) / (F.col("y2") - F.col("y1"))
    term = F.when(
        straddles, F.when(F.col("cx") < x_at, 1).otherwise(0)
    ).otherwise(0)
    if scanline:
        # rows straddled: cy = py + 0.5 in [min(y1,y2), max(y1,y2));
        # the sequence is a cheap superset (never descending: lo <= hi
        # by construction), the exact straddle predicate is the gate.
        # Horizontal edges contribute no crossing anywhere — dropped.
        ex = edges.filter(F.col("y1") != F.col("y2")).select(
            "feature_id", "x1", "y1", "x2", "y2",
            F.explode(
                F.sequence(
                    F.floor(F.least("y1", "y2") - F.lit(0.5)).cast("int"),
                    F.ceil(F.greatest("y1", "y2")).cast("int"),
                )
            ).alias("py"),
        )
        cand = cells.join(ex, "py")
    else:
        cand = cells.join(
            F.broadcast(fbbox),
            (F.col("cx") >= F.col("minx")) & (F.col("cx") <= F.col("maxx"))
            & (F.col("cy") >= F.col("miny")) & (F.col("cy") <= F.col("maxy")),
        ).select("px", "py", "cx", "cy", "feature_id").join(
            F.broadcast(edges), "feature_id"
        )
    return cand.groupBy("px", "py", "feature_id").agg(
        F.sum(term).alias("crossings")
    )


def _burn_report(crossings):
    return (
        crossings.filter(F.col("crossings") % 2 == 1)
        .groupBy("feature_id")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("px").cast("bigint").alias("sum_px"),
            F.sum("py").cast("bigint").alias("sum_py"),
        )
        .select("feature_id", F.col("n_cells").cast("bigint").alias("n_cells"),
                "sum_px", "sum_py")
    )


def rasterize_vector_layer(
    spark: SparkSession, sf_dir: str, scanline: bool | None = None
) -> DataFrame:
    """Burn a DATA-DRIVEN vector layer onto the raster grid — the
    reference's central rasterize use-case (rasterize/
    gdalos_rasterize.py: OGR layer -> gdal.Rasterize), where
    raster_cutline's literal-polygon unroll cannot apply because the
    polygons come from a table. Each nation's supplier ring (the same
    geometry vector_ingest_shp/gml serialize) is tested against every
    DEM cell center by the even-odd ray cast, as a JOIN, under the
    burn plan the grid height selects (see _burn_crossings /
    RASTERIZE_SCANLINE_MIN_ROWS — the 64-row DEM takes the bbox-pruned
    broadcast-edges plan, tall grids take scanline). No cartesian, no
    UDF; at 100 TB cells partition by tile and features stay dim-sized.

    Output: (feature_id, n_cells, sum_px, sum_py) per feature with >=1
    burned cell."""
    from gdalos_spark.datamodel import GRID_H, GRID_W, dem_grid

    if scanline is None:
        scanline = GRID_H >= RASTERIZE_SCANLINE_MIN_ROWS
    sup = load(spark, sf_dir, "supplier")
    edges, fbbox = _ring_edges_bbox(sup, GRID_W, GRID_H)
    cells = dem_grid(spark, sf_dir).select(
        "px", "py",
        (F.col("px").cast("double") + 0.5).alias("cx"),
        (F.col("py").cast("double") + 0.5).alias("cy"),
    )
    return _burn_report(_burn_crossings(cells, edges, fbbox, scanline))


def _rasterize_vector_sql() -> str:
    from gdalos_spark.datamodel import DEM_GRID_SQL, GRID_H, GRID_W

    # moduli derived from the SAME grid constants as the Spark side's
    # _ring_edges_bbox (grid_w*100 / grid_h*100) — a hardcoded 6400
    # silently diverges on any non-64 grid (the tall-grid regime the
    # scanline arm exists for)
    return f"""
WITH dem AS ({DEM_GRID_SQL}),
pts AS (
  SELECT s_nationkey AS feature_id, s_suppkey,
         (s_suppkey * 541 % {GRID_W * 100}) / 100.0 AS x,
         (s_suppkey * 863 % {GRID_H * 100}) / 100.0 AS y
  FROM supplier
),
edges AS (
  SELECT feature_id, x AS x1, y AS y1,
         COALESCE(LEAD(x) OVER wo, FIRST_VALUE(x) OVER wa) AS x2,
         COALESCE(LEAD(y) OVER wo, FIRST_VALUE(y) OVER wa) AS y2
  FROM pts
  WINDOW wo AS (PARTITION BY feature_id ORDER BY s_suppkey),
         wa AS (PARTITION BY feature_id ORDER BY s_suppkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
cells AS (
  SELECT px, py, CAST(px AS DOUBLE) + 0.5 AS cx, CAST(py AS DOUBLE) + 0.5 AS cy
  FROM dem
),
cross_counts AS (
  SELECT c.px, c.py, e.feature_id,
         SUM(CASE WHEN (e.y1 > c.cy) != (e.y2 > c.cy)
                  THEN CASE WHEN c.cx < e.x1 + (e.x2 - e.x1) * (c.cy - e.y1) / (e.y2 - e.y1)
                            THEN 1 ELSE 0 END
                  ELSE 0 END) AS crossings
  FROM cells c CROSS JOIN edges e
  GROUP BY 1, 2, 3
)
SELECT feature_id,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(px) AS BIGINT) AS sum_px,
       CAST(SUM(py) AS BIGINT) AS sum_py
FROM cross_counts
WHERE crossings % 2 = 1
GROUP BY feature_id
"""


RASTERIZE_VECTOR_LAYER_SQL = _rasterize_vector_sql()


VECTOR_INGEST_GML_SQL = f"""
WITH pts AS ({_SUPPLIER_RING_SQL}),
ring AS (
  SELECT feature_id, x, y,
         FIRST_VALUE(x) OVER w AS fx, FIRST_VALUE(y) OVER w AS fy
  FROM pts
  WINDOW w AS (PARTITION BY feature_id ORDER BY s_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT feature_id,
       'Polygon' AS geom_type,
       CAST(COUNT(*) + 1 AS INTEGER) AS n_vertices,
       CAST(SUM(x) + MIN(fx) AS BIGINT) AS sum_x,
       CAST(SUM(y) + MIN(fy) AS BIGINT) AS sum_y,
       CAST(MIN(x) AS BIGINT) AS min_x,
       CAST(MAX(x) AS BIGINT) AS max_x
FROM ring
GROUP BY feature_id
"""
