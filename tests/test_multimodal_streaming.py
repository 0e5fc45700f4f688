"""Tests for multimodal decode (#40, rows-only) and structured
streaming (#41, full oracle parity via its batch twin)."""

import pytest

import __spark_entry__ as entrymod
from gdalos_spark.session import scoped_conf
from gdalos_spark.streaming import events
from tests.conftest import SF_DIR, assert_matches_oracle, assert_record_matches_oracle


def test_multimodal_decode_contract(spark):
    df = entrymod.queries()["multimodal_decode"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "doc_id", "media_type", "byte_len", "feat_mean", "n_frames", "width", "height",
    ]
    for r in rows:
        assert r.media_type in ("image", "audio", "video")
        assert r.byte_len > 0
        # payloads are lowercase ascii text + spaces: mean byte in (32, 127)
        assert 32.0 < r.feat_mean < 127.0
        assert r.n_frames == r.byte_len // 1024 + 1


def test_multimodal_real_codec_uncompressed_formats():
    """_decode_real genuinely decodes the codec-library-free formats:
    PPM, 24-bit BMP, 16-bit PCM WAV — verified against hand-built
    payloads; compressed formats still raise NotImplementedError."""
    import struct

    import numpy as np
    import pytest

    from gdalos_spark.operators.multimodal import _decode_real

    # P6 PPM, 2x2, pixel values 0..11
    ppm = b"P6\n# c\n2 2\n255\n" + bytes(range(12))
    d = _decode_real(ppm, "image")
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("pnm", 2, 2, 3)
    assert d["feat_mean"] == float(np.arange(12).mean())

    # 24-bit BI_RGB BMP, 2x2 (rows padded to 4 bytes: stride 8)
    px = bytes(range(6)) + b"\x00\x00" + bytes(range(6, 12)) + b"\x00\x00"
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px), 0, 0, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 14 + 40)
    d = _decode_real(head + info + px, "image")
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("bmp", 2, 2, 3)
    assert d["feat_mean"] == float(np.arange(12).mean())

    # 16-bit PCM WAV, mono, samples [-2, 3]
    samples = np.array([-2, 3], dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(samples)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples
    )
    d = _decode_real(wav, "audio")
    assert (d["kind"], d["channels"], d["n_samples"]) == ("wav", 1, 2)
    assert d["feat_mean"] == 2.5  # mean |amplitude|

    with pytest.raises(NotImplementedError):
        _decode_real(b"\xff\xd8\xff\xe0jpeg-ish", "image")


@pytest.mark.parametrize(
    "key", ["streaming_event_counts", "streaming_sliding_counts"]
)
def test_streaming_matches_batch_oracle(record, ducks, key):
    assert_record_matches_oracle(record, ducks, key)


def test_streaming_equals_batch_twin(spark):
    stream = entrymod.queries()["streaming_event_counts"](spark, SF_DIR)
    batch = entrymod.queries()["events_windowed_agg"](spark, SF_DIR)
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_stateful_sessionize_emits_closed_sessions(spark):
    """The stateful stream emits exactly the batch sessions minus each
    user's final (still-open-in-state) session, with identical counts
    and values."""
    stream = entrymod.queries()["streaming_sessionize"](spark, SF_DIR).collect()
    batch = entrymod.queries()["events_sessionize"](spark, SF_DIR).collect()
    last_session = {}
    for r in batch:
        last_session[r.user_id] = max(last_session.get(r.user_id, 0), r.session_id)
    expected = {
        (r.user_id, r.session_id, r.n_events, round(r.session_value, 2))
        for r in batch
        if r.session_id != last_session[r.user_id]
    }
    got = {
        (r.user_id, r.session_id, r.n_events, round(r.session_value, 2)) for r in stream
    }
    assert len(got) > 0
    assert got == expected


def test_state_partitions_rule_bounds(spark):
    """The source-bytes sizing rule at its bounds: an empty source runs
    one state task, a huge one clamps at spark.sql.shuffle.partitions."""
    from gdalos_spark.datamodel import coalesced_partitions

    assert coalesced_partitions(spark, 0) == 1
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert coalesced_partitions(spark, 1 << 50) == cap


def test_state_partitions_rule_follows_aqe_confs(spark):
    """The sizing follows the session's coalescing confs as AQE does:
    coalescing off keeps the cap; minPartitionNum, else
    defaultParallelism, bounds the per-partition target while
    parallelismFirst is on, and only the advisory size when it is off."""
    from gdalos_spark.datamodel import coalesced_partitions

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    mb = 1 << 20
    for k in ("spark.sql.adaptive.enabled",
              "spark.sql.adaptive.coalescePartitions.enabled"):
        with scoped_conf(spark, {k: "false"}):
            assert coalesced_partitions(spark, 0) == cap
    sizes = {
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    }
    with scoped_conf(spark, sizes):
        par = spark.sparkContext.defaultParallelism
        # 64 MB per core stays under the advisory size: one per core
        assert coalesced_partitions(spark, 64 * mb * par) == min(cap, par)
        with scoped_conf(
            spark, {"spark.sql.adaptive.coalescePartitions.minPartitionNum": "3"}
        ):
            assert coalesced_partitions(spark, 30 * mb) == min(cap, 3)
        with scoped_conf(
            spark, {"spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"}
        ):
            assert coalesced_partitions(spark, 30 * mb) == 1
            assert coalesced_partitions(spark, 130 * mb) == min(cap, 3)


def _cusum_partitions(spark, ducks):
    from gdalos_spark.streaming.events import CUSUM_QUERY_NAME, LAST_STATE_METRICS

    assert_matches_oracle(
        spark,
        ducks,
        entrymod.queries()["streaming_cusum"],
        entrymod.oracle_sql()["streaming_cusum"],
    )
    rows = LAST_STATE_METRICS[CUSUM_QUERY_NAME]
    assert rows
    return {r["n_partitions"] for r in rows}


def test_small_stateful_stream_runs_one_state_partition(spark, ducks):
    """A stateful key over the tiny test source is sized to ONE state
    partition (not the session's shuffle partitions), matches its
    oracle, and leaves the session's partition count untouched."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert _cusum_partitions(spark, ducks) == {1}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stateful_stream_clamps_at_shuffle_partitions(spark, ducks):
    """With tiny AQE partition sizes in the session the same key sizes
    past the cap, clamps at spark.sql.shuffle.partitions, and still
    matches its oracle: the multi-partition state path stays covered."""
    tiny = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1b",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
    }
    with scoped_conf(spark, tiny):
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert cap > 1
        assert _cusum_partitions(spark, ducks) == {cap}


def test_full_outer_timeout_stops_both_arms(spark, monkeypatch):
    """A timeout while awaiting the two-query full-outer join raises and
    stops BOTH arms: no streaming query is left running."""
    from gdalos_spark.streaming.events import streaming_stream_full_outer_join

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TIMEOUT_S", "0.01")
    with pytest.raises(TimeoutError):
        streaming_stream_full_outer_join(spark, SF_DIR)
    assert spark.streams.active == []


# every memory sink each key runs: one per query (two arms for the
# full-outer join)
_SINK_NAMES = {
    "streaming_watermark_audit": [events.WATERMARK_QUERY_NAME],
    "streaming_dedup_watermark": [events.DWM_QUERY_NAME],
    "streaming_event_counts": [events.QUERY_NAME],
    "streaming_cusum": [events.CUSUM_QUERY_NAME],
    "streaming_stream_full_outer_join": [
        f"{events.SSFOJ_QUERY_NAME}_l", f"{events.SSFOJ_QUERY_NAME}_r"
    ],
}


@pytest.mark.parametrize("key", list(_SINK_NAMES))
def test_watermark_stream_leaves_no_checkpoint(spark, monkeypatch, tmp_path, key):
    """Each run checkpoints into a fresh dir under the tempfile root and
    removes it when the stream ends, and drops its sinks' temp views:
    two runs return identical rows, no checkpoint dir stays behind, no
    sink name resolves, and the returned frame is what holds the sink's
    rows (the first run's frame still collects them after the second
    run replaced its sinks)."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    frames, runs = [], []
    for _ in range(2):
        frames.append(entrymod.queries()[key](spark, SF_DIR))
        assert not [n for n in _SINK_NAMES[key] if spark.catalog.tableExists(n)]
        runs.append(sorted(frames[-1].collect()))
    assert runs[0] and runs[0] == runs[1]
    assert sorted(frames[0].collect()) == runs[0]
    assert not [p.name for p in tmp_path.iterdir() if "ckpt" in p.name]


def test_failed_memory_stream_leaves_nothing(spark, monkeypatch, tmp_path):
    """A memory-sink key whose batch fails raises, stops its query,
    removes its checkpoint from the tempfile root, drops its sink's temp
    view, and leaves no Spark `temporary-*` checkpoint under the JVM's
    java.io.tmpdir."""
    import os
    import tempfile

    def broken_state_fn(key, pdfs, state):
        raise RuntimeError("cusum batch failed")

    jvm_tmp = spark._jvm.java.lang.System.getProperty("java.io.tmpdir")

    def spark_temp_ckpts():
        return {n for n in os.listdir(jvm_tmp) if n.startswith("temporary-")}

    before = spark_temp_ckpts()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(events, "_cusum_state_fn", broken_state_fn)
    with pytest.raises(Exception, match="cusum batch failed"):
        entrymod.queries()["streaming_cusum"](spark, SF_DIR)
    assert spark.streams.active == []
    assert not [p.name for p in tmp_path.iterdir() if "ckpt" in p.name]
    assert spark_temp_ckpts() <= before
    assert not spark.catalog.tableExists(events.CUSUM_QUERY_NAME)


def test_range_buckets_hold_invariant_before_1970(spark):
    """The stream-stream joins' truncating `div` bucket: for any pair a
    range-width W apart or less, the later time's bucket is the earlier
    one's or the next — also for pre-1970 (negative) epoch times, where
    the bucket around 0 is 2W wide. Pairs straddle 0 and -W, and sit at
    the exact range ends."""
    from pyspark.sql import functions as F

    from gdalos_spark.streaming.events import SSJOIN_RANGE_H, _bucket_sql

    w = SSJOIN_RANGE_H * 3600 * 1_000_000
    pairs = []  # (earlier, later) epoch micros with later - earlier <= W
    for anchor in (0, -w, -2 * w, w):
        for off in (-w - 1, -w, -w + 1, -1, 0, 1, w - 1, w, w + 1):
            p_us = anchor + off
            for gap in (0, 1, w // 2, w - 1, w):
                pairs.append((p_us - gap, p_us))
    assert any(c < 0 < p for c, p in pairs) and any(c < -w < p for c, p in pairs)
    df = spark.createDataFrame(pairs, "c_us long, p_us long").select(
        F.timestamp_micros("c_us").alias("c_ts"), F.timestamp_micros("p_us").alias("p_ts")
    )
    got = df.select(
        F.expr(_bucket_sql("c_ts", w)).alias("cb"),
        F.expr(_bucket_sql("p_ts", w)).alias("pb"),
    ).collect()
    for r in got:
        # cb ∈ {pb-1, pb} (purchase replicas) <=> pb ∈ {cb, cb+1} (ahead replicas)
        assert r.pb - r.cb in (0, 1), r


def test_multimodal_frames_sampling(spark):
    df = entrymod.queries()["multimodal_frames"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.frame_idx % 2 == 0  # every-other-frame sampling
        assert r.frame_offset == r.frame_idx * 256
        assert 0 < r.frame_bytes <= 256


def test_streaming_pyramid_and_dedup_match_oracle(record, ducks):
    for key in ("raster_overview_pyramid", "streaming_dedup"):
        assert_record_matches_oracle(record, ducks, key)


def test_streaming_enrich_join_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "streaming_enrich_join")


def test_streaming_stream_join_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "streaming_stream_join")


def test_streaming_session_window_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "streaming_session_window")


def test_multimodal_manifest_matches_oracle(record, ducks):
    assert_record_matches_oracle(record, ducks, "multimodal_manifest")


def test_multimodal_manifest_partitions_the_lake(spark):
    """Every media row lands in exactly one manifest group and totals
    reconcile with the underlying table."""
    import __spark_entry__ as E
    from gdalos_spark.operators.multimodal import media_table
    from tests.conftest import SF_DIR

    rows = E.queries()["multimodal_manifest"](spark, SF_DIR).collect()
    n = media_table(spark, SF_DIR).count()
    assert sum(r.n_items for r in rows) == n
    for r in rows:
        assert r.min_bytes <= r.max_bytes
        assert r.min_bytes * r.n_items <= r.total_bytes <= r.max_bytes * r.n_items


def test_decode_real_png_roundtrip():
    """_decode_real handles a REAL compressed format: PNG built here
    with stdlib zlib/struct (RGB, all-filter-0 rows plus an up-filtered
    row), decoded back to exact pixel statistics."""
    import struct
    import zlib

    import numpy as np

    from gdalos_spark.operators.multimodal import _decode_real

    w, h, ch = 3, 2, 3
    pixels = np.arange(w * h * ch, dtype=np.uint8).reshape(h, w * ch)
    # row 0: filter 0 (none); row 1: filter 2 (up) -> stores the delta
    raw = b"\x00" + pixels[0].tobytes() + b"\x02" + (
        (pixels[1].astype(np.int32) - pixels[0].astype(np.int32)) & 0xFF
    ).astype(np.uint8).tobytes()

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    d = _decode_real(png, "image")
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("png", w, h, ch)
    assert d["n_samples"] == w * h
    assert abs(d["feat_mean"] - float(pixels.mean())) < 1e-9


def test_decode_real_png_paeth_and_sub_filters():
    """The sequential filters (sub=1, paeth=4) reconstruct exactly."""
    import struct
    import zlib

    import numpy as np

    from gdalos_spark.operators.multimodal import _decode_real

    w, h, ch = 4, 2, 1  # grayscale
    pixels = np.array([[10, 30, 60, 100], [20, 45, 80, 130]], dtype=np.uint8)
    # row 0: sub filter (delta vs left pixel)
    r0 = np.zeros(w, np.uint8)
    r0[0] = pixels[0][0]
    for x in range(1, w):
        r0[x] = (int(pixels[0][x]) - int(pixels[0][x - 1])) & 0xFF
    # row 1: paeth (predictor of left/up/up-left)
    r1 = np.zeros(w, np.uint8)
    for x in range(w):
        a = int(pixels[1][x - 1]) if x else 0
        b = int(pixels[0][x])
        c = int(pixels[0][x - 1]) if x else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        r1[x] = (int(pixels[1][x]) - pred) & 0xFF
    raw = b"\x01" + r0.tobytes() + b"\x04" + r1.tobytes()

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    d = _decode_real(png, "image")
    assert d["kind"] == "png" and d["channels"] == 1
    assert abs(d["feat_mean"] - float(pixels.mean())) < 1e-9


def test_decode_real_gif_lzw_roundtrip():
    """_decode_real decodes GIF's LZW for real: the test LZW-ENCODES a
    pixel grid (mirroring the decoder's width-growth schedule) and the
    decoder must reproduce the exact palette-mapped mean."""
    import struct

    import numpy as np

    from gdalos_spark.operators.multimodal import _decode_real

    w, h = 5, 3
    idx = np.array(
        [[0, 1, 2, 3, 0], [1, 1, 2, 2, 3], [3, 2, 1, 0, 0]], dtype=np.uint8
    )
    palette = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    min_code = 2
    clear, end = 1 << min_code, (1 << min_code) + 1

    # minimal LZW encoder with the same table/width schedule as a decoder
    codes = [clear]
    table = {bytes([i]): i for i in range(1 << min_code)}
    next_code = end + 1
    prev = b""
    for p in idx.flatten().tobytes():
        cur = prev + bytes([p])
        if cur in table:
            prev = cur
        else:
            codes.append(table[prev])
            if next_code < 4096:
                table[cur] = next_code
                next_code += 1
            prev = bytes([p])
    codes.append(table[prev])
    codes.append(end)

    # bit-pack with width growing when the DECODER's table would fill:
    # decoder table size tracks next_code-? — emit width per the same rule
    out = bytearray()
    acc = nbits = 0
    width = min_code + 1
    dec_size = (1 << min_code) + 2
    first_after_clear = True
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if c == clear:
            dec_size = (1 << min_code) + 2
            width = min_code + 1
            first_after_clear = True
        elif c != end:
            # the decoder only ADDS a table entry from the 2nd code after
            # a clear (it needs a previous string) — mirror that exactly
            if first_after_clear:
                first_after_clear = False
            else:
                dec_size += 1
                if dec_size == (1 << width) and width < 12:
                    width += 1
    if nbits:
        out.append(acc & 0xFF)

    gct_bits = 1  # 2^(1+1) = 4 colors
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | gct_bits, 0, 0)
        + palette.tobytes()
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([min_code])
        + bytes([len(out)]) + bytes(out) + b"\x00"
        + b"\x3b"
    )
    d = _decode_real(gif, "image")
    assert (d["kind"], d["width"], d["height"], d["channels"]) == ("gif", w, h, 3)
    assert abs(d["feat_mean"] - float(palette[idx].mean())) < 1e-9


def test_multimodal_resize_roundtrip_exact():
    """The encode -> decode -> nearest-neighbor loop, pinned on a known
    4x2 image resampled to 16x16: every output pixel must equal the
    input pixel at (i*h//16, j*w//16)."""
    import numpy as np

    from gdalos_spark.operators.multimodal import (
        RESIZE_OUT,
        _decode_ppm_pixels,
        _encode_ppm,
    )

    body = bytes(range(4 * 2 * 3))
    px = _decode_ppm_pixels(_encode_ppm(4, 2, body))
    assert px.shape == (2, 4, 3)
    assert px.tobytes() == body  # lossless round trip
    k = RESIZE_OUT
    yi = (np.arange(k) * 2) // k
    xi = (np.arange(k) * 4) // k
    out = px[yi][:, xi]
    for i in range(k):
        for j in range(k):
            assert (out[i, j] == px[(i * 2) // k, (j * 4) // k]).all()


def test_multimodal_resize_operator(spark):
    df = entrymod.queries()["multimodal_resize"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.out_w == r.out_h == 16
        assert 0 <= r.mean_out <= 255
        # px_sum must equal mean_out * 16*16*3 (same pixels)
        assert abs(r.px_sum - r.mean_out * 16 * 16 * 3) < 1.0


def test_multimodal_audio_features_known_signal():
    """WAV round trip pinned on a square wave: RMS = amplitude, one zero
    crossing per half period."""
    import numpy as np

    from gdalos_spark.operators.multimodal import _decode_real, _encode_wav

    amp = 1000
    sig = np.tile(np.array([amp] * 4 + [-amp] * 4, dtype=np.int16), 32)
    wav = _encode_wav(sig)
    meta = _decode_real(wav, "audio")
    assert meta["kind"] == "wav"
    assert meta["n_samples"] == len(sig)
    assert meta["channels"] == 1
    s = np.frombuffer(wav[len(wav) - 2 * len(sig):], dtype="<i2")
    assert (s == sig).all()


def test_multimodal_audio_features_operator(spark):
    df = entrymod.queries()["multimodal_audio_features"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_samples == 2048
        assert 0 < r.peak <= 32768
        assert 0.0 < r.rms <= 32768.0
        assert 0 <= r.zero_crossings < 2048


def test_gif_animation_roundtrip_exact():
    """Multi-frame GIF: encode 3 known frames, decode all 3, require
    pixel-exact equality (LZW + container walk are lossless)."""
    import numpy as np

    from gdalos_spark.operators.multimodal import (
        _decode_gif_frames,
        _encode_gif_animation,
    )

    rng = [(i * 7 + j * 3 + k) % 4 for k in range(3) for i in range(6) for j in range(5)]
    frames = [
        np.array(rng[k * 30 : (k + 1) * 30], dtype=np.uint8).reshape(6, 5)
        for k in range(3)
    ]
    palette = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    gif = _encode_gif_animation(frames, palette)
    dec, pal = _decode_gif_frames(gif)
    assert len(dec) == 3
    for a, b in zip(frames, dec):
        assert (a == b).all()
    assert (pal[: len(palette)] == palette).all()


def test_gif_frames_operator(spark):
    df = entrymod.queries()["multimodal_gif_frames"](spark, SF_DIR)
    rows = df.collect()
    assert len(rows) > 0
    by_doc = {}
    for r in rows:
        assert r.frame_idx % 2 == 0
        assert 0.0 <= r.rgb_mean <= 255.0
        assert r.n_frames in (2, 4, 6)
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc, idxs in by_doc.items():
        assert len(idxs) == len(set(idxs))


def test_jpeg_codec_roundtrip_precision():
    """The pure-numpy JFIF codec is a real quality-50 baseline JPEG:
    flat images round-trip within DC-quantization error, smooth images
    within a few levels, and the stream carries genuine JFIF markers the
    decoder re-parses (it never trusts the encoder's tables)."""
    import numpy as np

    from gdalos_spark.operators.multimodal import (
        _decode_jpeg_gray,
        _decode_real,
        _encode_jpeg_gray,
    )

    flat = np.full((32, 24), 77, dtype=np.float64)
    blob = _encode_jpeg_gray(flat)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in blob
    dec, h, w = _decode_jpeg_gray(blob)
    assert (h, w) == (32, 24)
    assert np.abs(dec.astype(int) - 77).max() <= 1

    yy, xx = np.mgrid[0:48, 0:64]
    smooth = np.clip(128 + 60 * np.cos(yy / 10.0) * np.sin(xx / 12.0), 0, 255)
    dec2, h2, w2 = _decode_jpeg_gray(_encode_jpeg_gray(smooth))
    assert (h2, w2) == (48, 64)
    assert np.abs(dec2.astype(float) - smooth).max() <= 8  # Q50 bound

    # the generic dispatch now recognizes JPEG magic
    meta = _decode_real(_encode_jpeg_gray(flat), "image")
    assert meta["kind"] == "jpeg" and meta["n_samples"] == 32 * 24


def test_jpeg_features_operator(spark):
    """Every document row survives the full encode->decode loop; streams
    are valid (positive size), error bounded by 8-bit range, dims fixed."""
    from gdalos_spark.operators.multimodal import (
        JPEG_H,
        JPEG_W,
        multimodal_jpeg_features,
    )

    rows = multimodal_jpeg_features(spark, SF_DIR).collect()
    assert len(rows) >= 1
    for r in rows:
        assert (r.width, r.height) == (JPEG_W, JPEG_H)
        assert r.jpeg_bytes > 0
        assert 0 <= r.max_err <= 255
        assert 0.0 <= r.px_mean_in <= 255.0 and 0.0 <= r.px_mean_out <= 255.0


def test_jpeg_codec_properties():
    """Hypothesis sweep of the JFIF codec: any flat image of any
    dimension round-trips within DC-quantization error (+-1 level), the
    stream always carries valid SOI/EOI framing, and decode is total on
    everything encode emits (no size/alignment edge crashes)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gdalos_spark.operators.multimodal import (
        _decode_jpeg_gray,
        _encode_jpeg_gray,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=0, max_value=255),
    )
    def check(h, w, v):
        img = np.full((h, w), v, dtype=np.float64)
        blob = _encode_jpeg_gray(img)
        assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
        dec, dh, dw = _decode_jpeg_gray(blob)
        assert (dh, dw) == (h, w)
        assert np.abs(dec.astype(int) - v).max() <= 1

    check()
