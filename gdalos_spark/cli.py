"""Batch command-line front-end — the distributed twin of the reference's
argv driver (scripts/gdalos_trans.py:1 -> gdalos_trans.py:1237 main(),
gdalos_main.py). The reference CLI parses gdal_translate-style flags and
dispatches one translate/warp job per input; this one parses the same
vocabulary (-o, -of, -overwrite, -quiet, -extent, -t_srs, @response-files)
and dispatches any verb of the `GdalosSpark` facade as one lazy Spark job.

    python -m gdalos_spark.cli info /root/testdata/sf0.001
    python -m gdalos_spark.cli trans sf_dir -extent 10 30 10 30 -o out.parquet
    python -m gdalos_spark.cli trans sf_dir -t_srs utm -o out.parquet -overwrite
    python -m gdalos_spark.cli viewshed sf_dir -o vs.parquet -of parquet

Verbs are resolved against the facade by name (`info`, `crop`, `warp`,
`viewshed`, `los`, `dedup_minhash`, ...), so CLI coverage tracks the API
surface with zero per-verb glue. `trans` mirrors the reference's flag
semantics: -extent/-projwin selects the crop path, -t_srs the
reprojection path (gdalos_trans.py:82 chooses warp vs translate the same
way), bare -srcwin the pixel-window crop.

Scale note: the CLI only ever *declares* a plan and hands it to one
DataFrame action (count or write) — there is no driver-side row loop, so
a verb behaves identically on local[32] and a 1000-executor cluster.
"""

from __future__ import annotations

import sys
from argparse import ArgumentParser

from pyspark.sql import DataFrame, SparkSession

from gdalos_spark.session import get_spark

_WRITE_FORMATS = ("parquet", "csv", "json", "gtiff")


def _build_parser() -> ArgumentParser:
    # fromfile_prefix_chars mirrors the reference's @response-file support
    # (gdalos_trans.py:1238)
    p = ArgumentParser(prog="gdalos_spark", fromfile_prefix_chars="@")
    p.add_argument("verb", help="facade verb (info, trans, crop, warp, viewshed, ...) or 'list'")
    p.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001",
                   help="table directory (default /root/testdata/sf0.001)")
    p.add_argument("-o", dest="out_filename", metavar="filename",
                   help="output path; omit to print a row count + sample")
    p.add_argument("-of", dest="of", default="parquet", choices=_WRITE_FORMATS,
                   help="output format (default parquet)")
    p.add_argument("-overwrite", dest="overwrite", action="store_true",
                   help="overwrite the output if it already exists")
    p.add_argument("-quiet", dest="quiet", action="store_true",
                   help="suppress progress messages")
    p.add_argument("-extent", dest="extent", type=float, nargs=4,
                   metavar=("min_x", "max_x", "min_y", "max_y"),
                   help="crop to georeferenced extent corners")
    p.add_argument("-projwin", dest="projwin", type=float, nargs=4,
                   metavar=("ulx", "uly", "lrx", "lry"),
                   help="crop corners in ul/lr order (reference alias of -extent)")
    p.add_argument("-srcwin", dest="srcwin", type=float, nargs=4,
                   metavar=("xoff", "yoff", "xsize", "ysize"),
                   help="pixel/line source subwindow")
    p.add_argument("-t_srs", dest="warp_srs", metavar="srs_def",
                   help="target spatial reference ('utm' -> ellipsoidal UTM regrid)")
    p.add_argument("--cpus", default="8", help="local worker threads (default 8)")
    return p


def _resolve(eng, args) -> DataFrame:
    from gdalos_spark.operators import raster

    if args.verb == "open":
        # the reference CLI's primary positional IS a dataset path
        # (gdalos_trans <in.tif>); here `open <file>` ingests a real
        # foreign file — GeoTIFF (any flavor the IFD walker supports) or
        # OGR layer — into a distributed frame, decoded on the executors
        path = args.sf_dir
        low = path.lower()
        if low.endswith((".tif", ".tiff")):
            return eng.open_raster(path)
        if low.endswith((".shp", ".gml", ".xml")):
            return eng.open_vector(path)
        raise SystemExit(f"don't know how to open {path!r} (.tif/.shp/.gml)")
    if args.verb == "trans":
        # gdalos_trans flag semantics (gdalos_trans.py:82): a target SRS
        # selects the warp path; an extent selects the crop path; a
        # srcwin the pixel-window path; otherwise plain translate ==
        # the affine warp
        if args.warp_srs:
            # the reference's -t_srs takes talos tokens like 'w84u36' /
            # 'u33' (parse_proj_string_and_zone); an explicit zone in the
            # token overrides the extent-derived zone, bare 'utm'/'w84u'
            # keeps the derivation
            import re as _re

            m = _re.search(r"u\s*(\d+)", args.warp_srs.lower())
            zone = int(m.group(1)) if m else None
            return raster.crs_reproject_utm(eng.spark, eng.sf_dir, zone=zone)
        # thread the parsed window into the crop predicate (ADVICE r5:
        # these used to parse and drop, silently cropping to the fixed
        # built-in extent whatever the user asked for). -extent/-projwin
        # are GEOREFERENCED in the reference/GDAL, so they go through the
        # (LON0, LAT0, PIX) north-up geotransform to pixel space (ADVICE
        # r6: they used to be applied raw as px/py bounds, so realistic
        # lon/lat windows cropped to nothing); -srcwin stays pixel/line,
        # as in gdal_translate.
        from gdalos_spark.sources.geotiff import LAT0, LON0, PIX

        def geo_window(min_x, max_x, min_y, max_y):
            return (
                (min_x - LON0) / PIX, (max_x - LON0) / PIX,
                (LAT0 - max_y) / PIX, (LAT0 - min_y) / PIX,
            )

        if args.extent:
            return raster.raster_crop(eng.spark, eng.sf_dir, geo_window(*args.extent))
        if args.projwin:
            ulx, uly, lrx, lry = args.projwin
            return raster.raster_crop(
                eng.spark, eng.sf_dir,
                geo_window(min(ulx, lrx), max(ulx, lrx), min(uly, lry), max(uly, lry)),
            )
        if args.srcwin:
            xoff, yoff, xsize, ysize = args.srcwin
            return raster.raster_crop(
                eng.spark, eng.sf_dir,
                (xoff, xoff + xsize - 1, yoff, yoff + ysize - 1),
            )
        return raster.raster_warp_affine(eng.spark, eng.sf_dir)
    fn = getattr(eng, args.verb, None)
    if fn is None or args.verb.startswith("_") or not callable(fn):
        raise SystemExit(f"unknown verb {args.verb!r} — try 'list'")
    return fn()


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    argv = sys.argv if argv is None else argv
    parser = _build_parser()
    if len(argv) == 1:
        parser.print_help()
        return 1
    args = parser.parse_args(argv[1:])

    from gdalos_spark.api import GdalosSpark

    if args.verb == "list":
        for name in sorted(vars(GdalosSpark).keys()):
            if not name.startswith("_") and name != "register_views":
                print(name)
        print("trans")
        return 0

    if spark is None:
        spark = get_spark("gdalos_spark-cli", args.cpus)
    eng = GdalosSpark(spark, args.sf_dir)

    if args.of == "gtiff":
        # the reference's core product: one COG file (gdalos_trans
        # GTiff/COG driver) — the skip/overwrite protocol lives in the
        # writer itself (atomic temp+rename)
        if not args.out_filename:
            raise SystemExit("-of gtiff requires -o <filename>")
        from gdalos_spark.sources.geotiff import write_cog_file

        row = write_cog_file(
            spark, args.sf_dir, args.out_filename, overwrite=args.overwrite
        )
        if not args.quiet:
            print(f"{row['action']}: {row['path']} ({row['n_bytes']} bytes)")
        return 0

    df = _resolve(eng, args)

    if args.out_filename:
        import os

        # the reference skips existing outputs unless -overwrite
        # (gdalos_trans overwrite flag; job_skip_overwrite models it)
        if os.path.exists(args.out_filename) and not args.overwrite:
            if not args.quiet:
                print(f"skip: {args.out_filename} exists (use -overwrite)")
            return 0
        writer = df.write.mode("overwrite" if args.overwrite else "errorifexists")
        getattr(writer, args.of)(args.out_filename)
        if not args.quiet:
            print(f"wrote {args.out_filename} [{args.of}]")
    else:
        n = df.count()
        if not args.quiet:
            print(f"{args.verb}: {n} rows")
            for row in df.limit(5).collect():
                print(dict(row.asDict()))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
