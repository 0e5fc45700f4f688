"""Round-8-session tests: ADVICE-r5 regressions and the new operators."""

import os

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, assert_matches_oracle, assert_record_matches_oracle


def _write_docs(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "n_chars": pa.array(
                [len(r[1] or "") for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_short_doc_clustering(spark, tmp_path):
    """ADVICE r5 claimed docs with <3 tokens get no signature and so
    exact short-dup pairs silently vanish from dedup_clusters. The
    shingles3 whole-text fallback means they DO get signatures; this
    pins that exact duplicates of 1-, 2-token, and empty docs cluster
    (signature-identical star), including with NULL text coalesced."""
    from gdalos_spark.operators.dedup import dedup_clusters

    d = _write_docs(
        tmp_path,
        [
            (1, "hi"),
            (2, "hi"),
            (3, "one two"),
            (4, "one two"),
            (5, ""),
            (6, ""),
            (7, None),
            (8, "completely unrelated longer document with many distinct words"),
        ],
    )
    rows = {r.doc_id: r for r in dedup_clusters(spark, d).collect()}
    assert rows[1].cluster_id == rows[2].cluster_id and rows[1].cluster_size >= 2
    assert rows[3].cluster_id == rows[4].cluster_id and rows[3].cluster_size >= 2
    # empty text and NULL text both coalesce to the '' whole-text shingle
    empties = {rows[i].cluster_id for i in (5, 6, 7)}
    assert len(empties) == 1 and rows[5].cluster_size == 3
    # the unrelated doc shares no pair -> absent from the pair graph
    assert 8 not in rows
    # the two distinct short clusters are distinct
    assert rows[1].cluster_id != rows[3].cluster_id != rows[5].cluster_id


def test_geotiff_codec_roundtrip():
    """Byte-level GeoTIFF codec contract: tiled/deflate encode -> IFD
    walk -> identical pixels + geotransform + EPSG; the stripped
    uncompressed variant exercises the decoder's second layout path."""
    import numpy as np

    from gdalos_spark.sources.geotiff import (
        NODATA,
        _decode_geotiff,
        _encode_geotiff,
        _encode_strip_geotiff,
    )

    rng = np.random.RandomState(7)
    grid = rng.randint(-(10**6), 10**6, size=(32, 32)).astype("<i4")
    grid[3, 5] = NODATA  # holes survive the trip
    for enc in (_encode_geotiff, _encode_strip_geotiff):
        payload = enc(grid, -170.0, 58.5)
        out, (olon, olat, sx, sy), epsg = _decode_geotiff(payload)
        assert (out == grid).all()
        assert (olon, olat, sx, sy) == (-170.0, 58.5, 0.5, 0.5)
        assert epsg == 4326
    # non-multiple-of-tile height pads and unpads cleanly (tiled path)
    odd = rng.randint(0, 100, size=(19, 32)).astype("<i4")
    payload = _encode_geotiff(odd, 0.0, 0.0)
    out, _, _ = _decode_geotiff(payload)
    assert (out == odd).all()


def test_geotiff_decoder_rejects_malformed_streams():
    """A foreign-byte ingest path must fail loudly, not emit garbage:
    wrong magic, unsupported sample layouts, missing offsets, and
    out-of-range pixel values at encode time all raise with a message
    naming the problem."""
    import struct

    import numpy as np
    import pytest as _pytest

    from gdalos_spark.sources.geotiff import (
        NODATA,
        _decode_geotiff,
        _encode_geotiff,
    )

    grid = np.arange(64, dtype="<i4").reshape(8, 8)
    good = _encode_geotiff(grid, 0.0, 0.0)

    with _pytest.raises(ValueError, match="not a TIFF"):
        _decode_geotiff(b"XX\x00\x2a" + good[4:])  # bad magic
    # big-endian magic is now a SUPPORTED byte order (flavor breadth,
    # r9) — but stapling it onto a little-endian body must still fail
    # loudly (insane big-endian offsets), never emit garbage pixels
    with _pytest.raises(Exception):
        _decode_geotiff(b"MM\x00\x2a" + good[4:])
    with _pytest.raises(ValueError, match="does not match declared sample"):
        # flip BitsPerSample (tag 258, SHORT) to 16 in the IFD: int16 is
        # a supported layout since r9, but the int32-sized blocks
        # contradict it — the size check must refuse to reinterpret
        bad = bytearray(good)
        n = struct.unpack_from("<H", bad, 8)[0]
        for i in range(n):
            tag = struct.unpack_from("<H", bad, 10 + i * 12)[0]
            if tag == 258:
                struct.pack_into("<I", bad, 10 + i * 12 + 8, 16)
        _decode_geotiff(bytes(bad))
    with _pytest.raises(ValueError, match="sample layout"):
        # 12-bit packed samples stay out of scope and raise by name
        bad = bytearray(good)
        for i in range(n):
            tag = struct.unpack_from("<H", bad, 10 + i * 12)[0]
            if tag == 258:
                struct.pack_into("<I", bad, 10 + i * 12 + 8, 12)
        _decode_geotiff(bytes(bad))
    # int64 values outside int32 range are rejected at ENCODE time
    with _pytest.raises(OverflowError):
        _encode_geotiff(np.full((8, 8), 2**31, dtype="int64"), 0.0, 0.0)
    with _pytest.raises(OverflowError):
        _encode_geotiff(np.full((8, 8), NODATA - 1, dtype="int64"), 0.0, 0.0)
    # truncated body: the tile offsets point past the end -> zlib error
    with _pytest.raises(Exception):
        _decode_geotiff(good[: len(good) // 2])


def test_geotiff_ingest_to_tiled_layout(spark, tmp_path):
    """End-to-end ingest: scene GeoTIFFs -> decoded pixels -> the
    tile-partitioned parquet layout, with partition pruning intact and
    pixel values matching the DEM source exactly."""
    from pyspark.sql import functions as F

    from gdalos_spark.datamodel import dem_grid
    from gdalos_spark.sources.geotiff import ingest_tiff_to_tiled
    from gdalos_spark.sources.tiled import crop_tiled, read_tiled

    path = str(tmp_path / "tiff_tiled")
    ingest_tiff_to_tiled(spark, SF_DIR, path)
    tiled_df = read_tiled(spark, path)
    src = {
        (r.px, r.py): r.cents
        for r in dem_grid(spark, SF_DIR)
        .select("px", "py", (F.col("elev") * 100).cast("long").alias("cents"))
        .collect()
    }
    got = {(r.px, r.py): r.elev for r in tiled_df.collect()}
    assert got == src
    crop = crop_tiled(tiled_df, 0, 15, 0, 15)
    assert "PartitionFilters: [" in crop._jdf.queryExecution().executedPlan().toString() or \
        crop.count() == sum(1 for (x, y) in src if x <= 15 and y <= 15)


def test_raster_ingest_tiff_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "raster_ingest_tiff")


def test_sig_store_matches_inline_and_reuses(spark):
    """The persisted-signature-store variant returns byte-identical rows
    to the inline recompute (the production shape: index signatures are
    a parquet scan, only the batch is shingled), and the second call
    reuses the staged store without rebuilding."""
    import os

    from gdalos_spark.operators.dedup import (
        _sig_store_dir,
        dedup_incremental_minhash,
        dedup_incremental_minhash_stored,
    )

    inline = dedup_incremental_minhash(spark, SF_DIR).collect()
    stored = dedup_incremental_minhash_stored(spark, SF_DIR).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in stored]
    marker = os.path.join(_sig_store_dir(SF_DIR), "_STAGED")
    mtime = os.path.getmtime(marker)
    again = dedup_incremental_minhash_stored(spark, SF_DIR).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in stored]
    assert os.path.getmtime(marker) == mtime  # no rebuild on the warm path


def test_streaming_dedup_watermark_semantics(spark, ducks):
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark):
    oracle parity, plus the two behaviors that distinguish it from plain
    dropDuplicates — keys RE-EMIT after their state is evicted by the
    watermark, and duplicates under live state are dropped."""
    from collections import Counter

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["streaming_dedup_watermark"],
        entrymod.oracle_sql()["streaming_dedup_watermark"],
    )
    rows = entrymod.queries()["streaming_dedup_watermark"](spark, SF_DIR).collect()
    per_key = Counter((r.user_id, r.event_type) for r in rows)
    assert max(per_key.values()) >= 2  # eviction -> re-emission happened
    # some batch-2/3 duplicates were held by live state (fewer emissions
    # than staged non-straggler rows)
    import os

    import pyarrow.parquet as pq

    from gdalos_spark.streaming.events import _stage_dedup_wm_batches

    staged = _stage_dedup_wm_batches(spark, SF_DIR)
    n_staged = sum(
        pq.read_table(os.path.join(staged, f)).num_rows
        for f in os.listdir(staged)
        if f.endswith(".parquet")
    )
    assert len(rows) < n_staged


def test_mp3_header_walk_roundtrip(spark):
    """Synthesized MPEG-1 Layer III streams round-trip through the
    header walk: frame count, padded frame lengths, ID3v2 skip, ID3v1
    stop, VBR detection, and duration arithmetic all recovered from the
    headers alone; corrupt sync raises."""
    import pytest as _pytest

    from gdalos_spark.operators.multimodal import (
        _MP3_RATES,
        _encode_mp3_frames,
        _mp3_header_walk,
        multimodal_mp3_features,
    )

    payload = b"some deterministic document text"
    stream = _encode_mp3_frames(payload)
    meta = _mp3_header_walk(stream)
    assert meta["n_frames"] == 4 + (len(payload) % 13)
    assert meta["sample_rate"] == _MP3_RATES[payload[0] % 3]
    assert meta["has_id3v2"] and meta["is_vbr"]
    assert meta["duration_ms"] == meta["n_frames"] * 1152 * 1000 // meta["sample_rate"]
    # constant-bitrate stream: every byte equal -> one bitrate -> not VBR
    cbr = _mp3_header_walk(_encode_mp3_frames(b"\x07" * 40))
    assert not cbr["is_vbr"]
    # zeroing a frame-header sync byte (found via the walk itself, so it
    # is guaranteed to be a header, not body) loses sync
    meta1 = _mp3_header_walk(stream)
    hdr_pos = len(stream) - 128  # start of ID3v1; walk back one frame
    # recompute the second frame's header offset from the walk arithmetic
    pos = 10 + 32  # ID3v2 header + body
    kbps = (stream[pos + 2] >> 4) & 0xF
    pad = (stream[pos + 2] >> 1) & 1
    from gdalos_spark.operators.multimodal import _MP3_BITRATES

    pos2 = pos + (144_000 * _MP3_BITRATES[kbps]) // meta1["sample_rate"] + pad
    assert stream[pos2] == 0xFF  # second frame header, by construction
    broken = stream[:pos2] + b"\x00" + stream[pos2 + 1 :]
    with _pytest.raises(ValueError):
        _mp3_header_walk(broken)
    rows = multimodal_mp3_features(spark, SF_DIR).collect()
    assert len(rows) > 0 and all(r.n_frames >= 4 and r.sample_rate in _MP3_RATES for r in rows)


def test_layout_advisor_sampled_agrees_with_exact(spark, ducks):
    """The sampled-boundary advisor is oracle-gated (deterministic md5
    sample) AND close to the exact three-pass report: boundary error
    only moves rows between adjacent files, so scan_fraction differs by
    at most a couple of file-widths, and the layout RANKING — the thing
    the advisor exists to decide — matches."""
    from gdalos_spark.operators.relational import (
        layout_advisor_report,
        layout_advisor_sampled,
    )

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["layout_advisor_sampled"],
        entrymod.oracle_sql()["layout_advisor_sampled"],
    )
    exact = {r.layout: r for r in layout_advisor_report(spark, SF_DIR).collect()}
    samp = {r.layout: r for r in layout_advisor_sampled(spark, SF_DIR).collect()}
    assert set(exact) == set(samp) == {
        "natural_orderkey", "shipdate_sorted", "zorder_day_key",
    }
    for name in exact:
        assert abs(exact[name].scan_fraction - samp[name].scan_fraction) < 0.08
    rank = lambda d: sorted(d, key=lambda n: d[n].scan_fraction)  # noqa: E731
    assert rank(exact) == rank(samp)


def test_viewshed_grid_sweep(spark, ducks):
    """Grid-mode viewshed (reference ViewshedGridParams.get_array()):
    oracle parity plus the grid shape — 9 named observers at the
    interval offsets, each with a bounded in-range cell count and a
    sane visibility fraction."""
    from gdalos_spark.operators.viewshed import (
        GRID_BASE_X,
        GRID_INTERVAL,
        viewshed_grid_sweep,
    )

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["viewshed_grid_sweep"],
        entrymod.oracle_sql()["viewshed_grid_sweep"],
    )
    rows = {r.oname: r for r in viewshed_grid_sweep(spark, SF_DIR).collect()}
    assert len(rows) == 9
    assert rows["0_0"].ox == GRID_BASE_X
    assert rows["-1_1"].ox == GRID_BASE_X - GRID_INTERVAL
    for r in rows.values():
        assert 0 < r.n_visible <= r.n_in_range
        assert 0.0 < r.vis_fraction <= 1.0


def test_minhash_lsh_collapse_matches_direct(spark, tmp_path, monkeypatch):
    """The adaptive signature-group collapse is unreachable at oracle
    scales (COLLAPSE_MIN_DOCS short-circuits them), so pin its algebra
    directly: on a replica-heavy corpus, the collapsed plan's pair list
    is byte-identical to the direct band-join + distinct — including
    in-group self pairs (est=1.0), cross-group expansion, and the
    least/greatest orientation."""
    from gdalos_spark.operators import dedup as D

    rows = []
    did = 0
    for i in range(8):
        base = f"doc {i} alpha beta gamma delta epsilon zeta eta theta iota"
        for _ in range(12):  # 12 exact replicas -> one signature group
            rows.append((did, base))
            did += 1
        rows.append((did, base + " extra"))  # near-dup variant
        did += 1
    d = _write_docs(tmp_path, rows)
    direct = sorted(
        tuple(r) for r in D._minhash_pairs(spark, d).distinct().collect()
    )
    sim_direct = sorted(tuple(r) for r in D.dedup_simhash(spark, d).collect())
    monkeypatch.setattr(D, "COLLAPSE_MIN_DOCS", 0)
    collapsed = sorted(tuple(r) for r in D.dedup_minhash_lsh(spark, d).collect())
    assert len(direct) > 100  # the replica cliques really are quadratic
    assert collapsed == direct
    # same pin for the simhash fingerprint collapse
    sim_collapsed = sorted(tuple(r) for r in D.dedup_simhash(spark, d).collect())
    assert len(sim_direct) > 100
    assert sim_collapsed == sim_direct


def test_minhash_calibration_arrays_matches_equijoin(spark, tmp_path):
    """Round-12: the broadcast-array calibration plan (size of
    array_intersect, shared>0 filter) must be row-identical to the
    exploded shingle equi-join plan — including the INNER-join drop of
    zero-overlap candidate pairs and the decile-edge FLOOR arithmetic.
    Both plan functions run directly on a corpus with replica cliques
    AND near-dup variants (non-trivial exact_j)."""
    from gdalos_spark.operators import dedup as D

    rows, did = [], 0
    for i in range(6):
        base = f"doc {i} alpha beta gamma delta epsilon zeta eta theta iota"
        for _ in range(8):
            rows.append((did, base))
            did += 1
        rows.append((did, base + " extra tail words"))
        did += 1
    d = _write_docs(tmp_path, rows)
    arrays = sorted(tuple(r) for r in D._minhash_calibration_arrays(spark, d).collect())
    equijoin = sorted(tuple(r) for r in D._minhash_calibration_join(spark, d).collect())
    assert arrays and arrays == equijoin


def test_cli_trans_extent_threads_into_crop(spark):
    """ADVICE r5: -extent/-projwin/-srcwin used to parse-and-drop. Now
    the window reaches the crop predicate: a sub-window of the default
    CROP yields strictly fewer rows, and every surviving pixel is inside
    the requested window; -projwin (ul/lr order) and -srcwin
    (offset+size) map to the same predicate."""
    from gdalos_spark.cli import _build_parser, _resolve
    from gdalos_spark.api import GdalosSpark
    from gdalos_spark.operators.raster import raster_crop

    eng = GdalosSpark(spark, SF_DIR)
    parser = _build_parser()

    def resolve(*flags):
        return _resolve(eng, parser.parse_args(["trans", SF_DIR, *flags]))

    full = raster_crop(spark, SF_DIR).count()
    # GEO window (ADVICE r6: -extent/-projwin are georeferenced): on the
    # (-180, 60, 0.5 deg) north-up grid, lon [-170, -167.5] x lat [50, 55]
    # is the pixel window [20, 25] x [10, 20]
    sub = resolve("-extent", "-170", "-167.5", "50", "55")
    rows = sub.collect()
    assert 0 < len(rows) < full
    assert all(20 <= r.px <= 25 and 10 <= r.py <= 20 for r in rows)
    # projwin gives ul/lr corners -> same window as the extent above
    assert resolve("-projwin", "-170", "55", "-167.5", "50").count() == len(rows)
    # srcwin stays PIXEL/line, as in gdal_translate:
    # [20,25]x[10,20] == offset (20,10) size (6,11)
    assert resolve("-srcwin", "20", "10", "6", "11").count() == len(rows)
