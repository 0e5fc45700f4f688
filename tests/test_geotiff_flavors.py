"""Real-world TIFF flavor breadth: LZW/PackBits codecs (spec-pinned),
Predictor=2, uint8/int16/uint16/float32/float64, multi-band chunky, both
byte orders — and the decode of an actual GDAL-written raster from the
reference tree (/root/reference/data/maps/srtm1_x35_y32.tif), the file
class gdalos_util.py open_ds ingests daily."""

from __future__ import annotations

import os

import numpy as np
import pytest

from gdalos_spark.sources import geotiff as G
from tests.conftest import assert_record_matches_oracle

SRTM = "/root/reference/data/maps/srtm1_x35_y32.tif"


def test_lzw_spec_vector():
    """TIFF 6.0 §13 worked example: 7 7 7 8 8 7 7 6 must encode to the
    code sequence Clear 7 258 8 8 258 6 EOI."""
    data = bytes([7, 7, 7, 8, 8, 7, 7, 6])
    enc = G._lzw_encode(data)
    assert G._lzw_decode(enc) == data
    codes, acc, bits, width, nc = [], 0, 0, 9, 258
    for b in enc:
        acc = (acc << 8) | b
        bits += 8
        while bits >= width:
            c = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            codes.append(c)
            if c == 256:
                nc = 258
            elif c != 257:
                nc += 1
            if nc == (1 << width) - 1 and width < 12:
                width += 1
            if c == 257:
                bits = 0
                break
    assert codes == [256, 7, 258, 8, 8, 258, 6, 257]


@pytest.mark.slow
def test_lzw_width_boundaries_and_clear():
    """Round trips crossing the 9->10->11->12 early-change boundaries
    and the table-full Clear reset."""
    rng = np.random.default_rng(42)
    for size in (1000, 5000, 60000, 200000):
        raw = rng.integers(0, 40, size=size, dtype=np.uint8).tobytes()
        assert G._lzw_decode(G._lzw_encode(raw)) == raw
    raw = rng.integers(0, 256, size=100_000, dtype=np.uint8).tobytes()
    assert G._lzw_decode(G._lzw_encode(raw)) == raw


def test_lzw_final_eoi_on_bump_boundary():
    """libtiff/GDAL never mirror the decoder's table add for the FINAL
    data code, so their EOI can sit at the OLD width exactly when the
    decoder's table add lands on a width-bump boundary (round-9 ADVICE:
    incompressible 254-byte payloads hit it at 9 bits). Exact-boundary
    round trips, with and without the expected-length terminator."""
    # the reported repro: every table add is fresh, bump lands after EOI
    data = bytes((i * 7) % 251 for i in range(254))
    assert G._lzw_decode(G._lzw_encode(data)) == data
    assert G._lzw_decode(G._lzw_encode(data), need=len(data)) == data
    # sweep the 9-bit boundary densely plus the 10/11/12-bit thresholds
    rng = np.random.default_rng(9)
    sizes = list(range(248, 262)) + [
        505, 506, 507, 508,            # 9->10 for fresh-miss streams
        760, 761, 762, 763, 764, 765,  # 10->11 neighborhoods
        1784, 1785, 1786, 1787, 1788,  # 11->12
        3830, 3831, 3832, 3833, 3834,  # table-full Clear boundary
    ]
    for n in sizes:
        raw = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        assert G._lzw_decode(G._lzw_encode(raw)) == raw, n
        assert G._lzw_decode(G._lzw_encode(raw), need=n) == raw, n


def test_flavor_two_band_inline_externs():
    """spp=2 puts BitsPerSample/SampleFormat (2 SHORTs = 4 bytes) exactly
    at the inline-value limit: the writer must store them IN the value
    word, not extern them (round-9 ADVICE — readers never follow an
    offset for a <=4-byte payload)."""
    a = (np.arange(32 * 20 * 2).reshape(32, 20, 2) % 251).astype("u2")
    for bo in ("<", ">"):
        for comp in (G._COMP_NONE, G._COMP_LZW, G._COMP_DEFLATE, G._COMP_PACKBITS):
            payload = G._encode_flavor_tiff(a, comp=comp, bo=bo)
            g = G._grid_from_tags(G._read_ifd(payload), payload)
            assert g.shape == (32, 20, 2), (bo, comp)
            assert (np.asarray(g, dtype="u2") == a).all(), (bo, comp)


def test_fp_predictor3_round_trips():
    """TIFF TechNote 3 floating-point predictor: MSB-first byte-plane
    split + stride-spp byte differencing, per scanline. Round trips for
    f32/f64, 1 and 3 bands, both byte orders, every codec."""
    rng = np.random.default_rng(3)
    for dt in ("f4", "f8"):
        for spp in (1, 3):
            a = (rng.standard_normal((32, 20, spp)) * 1e3).astype(dt)
            if spp == 1:
                a = a[:, :, 0]
            for bo in ("<", ">"):
                for comp in (G._COMP_NONE, G._COMP_LZW, G._COMP_DEFLATE, G._COMP_PACKBITS):
                    payload = G._encode_flavor_tiff(a, comp=comp, predictor=3, bo=bo)
                    g = G._grid_from_tags(G._read_ifd(payload), payload)
                    got = np.asarray(g, dtype=dt)
                    assert got.shape == a.shape, (dt, spp, bo, comp)
                    assert (got == a).all(), (dt, spp, bo, comp)
    # predictor/sample-kind mismatches fail loudly both directions
    with pytest.raises(ValueError):
        G._encode_flavor_tiff(np.zeros((4, 4), dtype="i2"), predictor=3)
    with pytest.raises(ValueError):
        G._encode_flavor_tiff(np.zeros((4, 4), dtype="f4"), predictor=2)


def test_packbits_edges():
    rng = np.random.default_rng(7)
    cases = [
        b"", b"x", b"\x00" * 1000, bytes(range(256)) * 4, b"ababab" * 100,
        rng.integers(0, 4, 5000, dtype=np.uint8).tobytes(),
    ]
    for raw in cases:
        assert G._packbits_decode(G._packbits_encode(raw)) == raw


def test_flavor_round_trips():
    """Every (dtype, compression, predictor, byte order) cell the reader
    claims to support survives a lossless encode -> decode trip,
    including odd (non-strip-multiple) dimensions."""
    rng = np.random.default_rng(7)
    cases = [
        (rng.integers(0, 256, (32, 32), dtype=np.uint8), G._COMP_PACKBITS, 1, "<"),
        (rng.integers(-16384, 16384, (32, 32)).astype(np.int16), G._COMP_DEFLATE, 2, "<"),
        (rng.integers(0, 65536, (32, 32)).astype(np.uint16), G._COMP_LZW, 1, "<"),
        (rng.integers(0, 65536, (32, 32)).astype(np.float32), G._COMP_NONE, 1, ">"),
        (rng.integers(0, 256, (32, 32, 3), dtype=np.uint8), G._COMP_LZW, 2, "<"),
        (rng.integers(0, 256, (31, 29), dtype=np.uint8), G._COMP_LZW, 2, "<"),
        (rng.integers(0, 2**31, (20, 20)).astype(np.uint32), G._COMP_DEFLATE, 1, ">"),
        (rng.standard_normal((16, 16)).astype(np.float64), G._COMP_DEFLATE, 1, "<"),
        (rng.integers(-128, 128, (16, 16)).astype(np.int8), G._COMP_PACKBITS, 2, "<"),
        # BE x Predictor-2: the diff ufunc silently dropped the byte
        # order before round 9's review (code-review finding)
        (rng.integers(0, 65536, (24, 24)).astype(np.uint16), G._COMP_DEFLATE, 2, ">"),
        (rng.integers(-30000, 30000, (16, 16)).astype(np.int16), G._COMP_LZW, 2, ">"),
    ]
    for i, (arr, comp, pred, bo) in enumerate(cases):
        payload = G._encode_flavor_tiff(arr, comp, pred, bo=bo)
        back = G._grid_from_tags(G._read_ifd(payload), payload)
        assert back.shape == arr.shape, i
        assert back.dtype.kind == arr.dtype.kind, i
        assert back.dtype.itemsize == arr.dtype.itemsize, i
        assert np.array_equal(back, arr), f"flavor case {i} not lossless"


def test_unsupported_layouts_raise():
    arr = np.zeros((8, 8), dtype=np.uint8)
    payload = G._encode_flavor_tiff(arr, G._COMP_NONE)
    tags = dict(G._read_ifd(payload))
    tags[G._T_COMPRESSION] = (3,)  # CCITT G3 — out of scope
    with pytest.raises(ValueError, match="compression"):
        G._grid_from_tags(tags, payload)
    tags = dict(G._read_ifd(payload))
    tags[G._T_BPS] = (12,)  # packed 12-bit — out of scope
    with pytest.raises(ValueError, match="sample layout"):
        G._grid_from_tags(tags, payload)


@pytest.mark.skipif(not os.path.exists(SRTM), reason="reference tree absent")
def test_reference_srtm_decodes():
    """The reference's own sample raster (int16, deflate, 256x256 tiles,
    GDAL-written) decodes end to end: dimensions, sample type,
    geotransform (1 arc-second), EPSG, and plausible terrain values."""
    grid, (olon, olat, sx, sy), epsg = G.open_tiff_file(SRTM)
    assert grid.shape == (361, 361)
    assert grid.dtype == np.int16
    assert epsg == 4326
    assert abs(sx - 1 / 3600) < 1e-12 and abs(sy - 1 / 3600) < 1e-12
    # srtm1_x35_y32: a 361x361 cutout anchored near (35.0 E, 32.1 N)
    assert abs(olon - 35.0) < 0.01 and abs(olat - 32.1) < 0.01
    # Jordan-valley terrain: all samples populated, 0 < elev <= 600 m
    assert int(grid.min()) > 0 and int(grid.max()) <= 600
    assert 200 < float(grid.mean()) < 400


def test_flavors_query_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_ingest_tiff_flavors")


@pytest.mark.skipif(not os.path.exists(SRTM), reason="reference tree absent")
def test_open_raster_reads_reference_file(spark):
    """api.open_raster over the reference's real GDAL-written SRTM tile:
    executor-side decode, per-pixel geo coordinates from the embedded
    geotransform, stats matching the direct open_tiff_file path."""
    from pyspark.sql import functions as F

    from gdalos_spark.api import GdalosSpark

    eng = GdalosSpark(spark, "/root/testdata/sf0.001")
    df = eng.open_raster(SRTM)
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("val").alias("lo"), F.max("val").alias("hi"),
        F.min("lon").alias("wlon"), F.max("lat").alias("nlat"),
    ).first()
    grid, (olon, olat, sx, sy), _ = G.open_tiff_file(SRTM)
    assert agg.n == 361 * 361
    assert agg.lo == float(grid.min()) and agg.hi == float(grid.max())
    assert abs(agg.wlon - (olon + 0.5 * sx)) < 1e-12
    assert abs(agg.nlat - (olat - 0.5 * sy)) < 1e-12


def test_flavor_writer_emits_sorted_ifd():
    """TIFF 6.0 requires ascending tag order in the directory; the
    Predictor entry must not break it (strict readers reject)."""
    import struct

    payload = G._encode_flavor_tiff(
        np.zeros((8, 8), dtype=np.uint8), G._COMP_LZW, predictor=2
    )
    (n,) = struct.unpack_from("<H", payload, 8)
    tags = [struct.unpack_from("<H", payload, 10 + i * 12)[0] for i in range(n)]
    assert tags == sorted(tags), tags
    assert G._T_PREDICTOR in tags


def test_open_tiff_without_geotransform_raises(tmp_path):
    """A plain (non-geo) TIFF must fail loudly by name, not KeyError."""
    import struct

    payload = G._encode_flavor_tiff(np.zeros((8, 8), dtype=np.uint8))
    # strip the geo tags by rebuilding the IFD without them: cheaper —
    # decode path only; just blank the tag ids so the reader skips them
    bad = bytearray(payload)
    (n,) = struct.unpack_from("<H", bad, 8)
    for i in range(n):
        tag = struct.unpack_from("<H", bad, 10 + i * 12)[0]
        if tag in (G._T_MODEL_SCALE, G._T_MODEL_TIEPOINT, G._T_GEOKEYS):
            struct.pack_into("<H", bad, 10 + i * 12, 65000 + i)
    p = tmp_path / "plain.tif"
    p.write_bytes(bytes(bad))
    with pytest.raises(ValueError, match="no geotransform"):
        G.open_tiff_file(str(p))


def test_foreign_ingest_rejects_empty_manifest(spark):
    with pytest.raises(ValueError, match="at least one"):
        G.foreign_tiff_pixels(spark, [])
    from gdalos_spark.sources import vector as V

    with pytest.raises(ValueError, match="at least one"):
        V.vector_layer_features(spark, [])
