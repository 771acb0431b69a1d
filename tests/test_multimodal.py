"""Unit tests for the multimodal mapInPandas operators (decode stubs)."""

from __future__ import annotations

import hashlib

import pytest

from lms_etl_pipeline_spark.operators import multimodal as mm


@pytest.fixture()
def payloads(spark):
    df = spark.createDataFrame([(1, "abcd" * 100), (2, ""), (3, "z")], "doc_id BIGINT, text STRING")
    return mm.with_payload(df)


def test_image_features_fake_decode(spark, payloads):
    rows = {r.id: r for r in mm.decode_image_features(payloads).collect()}
    assert rows[1].payload_bytes == 400
    assert rows[1].pseudo_width == 400 % 509 and rows[1].pseudo_height == 400 % 293
    assert rows[1].payload_md5 == hashlib.md5(b"abcd" * 100).hexdigest()
    assert abs(rows[1].mean_byte - (sum(b"abcd") / 4)) < 1e-9
    assert rows[2].payload_bytes == 0 and rows[2].mean_byte is None


def test_image_decode_rejects_unknown_mode(payloads):
    with pytest.raises(ValueError):
        mm.decode_image_features(payloads, decode="whatever")


def _ppm(w, h, px_bytes, magic=b"P6", header_comment=False):
    comment = b"# a netpbm comment\n" if header_comment else b""
    return magic + b"\n" + comment + b"%d %d\n255\n" % (w, h) + px_bytes


def test_image_real_decode_p6_p5_and_corrupt(spark):
    """REAL netpbm decode by pure byte arithmetic — true dims +
    per-channel means for P6/P5, NULL-featured rows (never task failure)
    for anything else."""
    red_green = _ppm(2, 1, bytes([255, 0, 0, 0, 255, 0]), header_comment=True)
    gray = _ppm(2, 2, bytes([0, 100, 200, 255]), magic=b"P5")
    truncated = _ppm(4, 4, b"\x00" * 5)  # needs 48 pixel bytes, has 5
    df = spark.createDataFrame(
        [(1, red_green), (2, gray), (3, truncated), (4, b"not an image")],
        "id BIGINT, payload BINARY",
    )
    rows = {r.id: r for r in mm.decode_image_features(df, decode="real").collect()}
    assert (rows[1].width, rows[1].height) == (2, 1)
    assert (rows[1].mean_r, rows[1].mean_g, rows[1].mean_b) == (127.5, 127.5, 0.0)
    # grayscale broadcasts to all three channels
    assert (rows[2].width, rows[2].height) == (2, 2)
    expected = (0 + 100 + 200 + 255) / 4
    assert rows[2].mean_r == rows[2].mean_g == rows[2].mean_b == expected
    for bad in (3, 4):
        assert rows[bad].width is None and rows[bad].mean_b is None


def test_image_real_and_fake_share_plumbing(spark):
    """Differential pin: the SAME payload runs through
    both featurizers — the fake path sees the container bytes (length,
    md5), the real path sees the decoded pixels; ids line up 1:1."""
    img = _ppm(3, 2, bytes(range(18)))
    df = spark.createDataFrame([(7, img)], "id BIGINT, payload BINARY")
    fake = mm.decode_image_features(df).collect()[0]
    real = mm.decode_image_features(df, decode="real").collect()[0]
    assert fake.id == real.id == 7
    assert fake.payload_bytes == len(img)
    import numpy as np

    px = np.frombuffer(bytes(range(18)), dtype=np.uint8).reshape(2, 3, 3)
    assert real.mean_r == px[:, :, 0].mean()
    assert real.mean_b == px[:, :, 2].mean()


def test_frame_sample_fanout_and_cap(spark):
    df = spark.createDataFrame(
        [(1, "x" * 2500), (2, "y" * 10), (3, "")], "doc_id BIGINT, text STRING"
    )
    out = mm.sample_frames(mm.with_payload(df), frame_size=256, max_frames=8).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r.id, []).append(r)
    # 2500 bytes => ceil = 10 frames, capped at 8
    assert len(by_id[1]) == 8
    assert [r.frame_bytes for r in sorted(by_id[1], key=lambda r: r.frame_idx)][:2] == [256, 256]
    assert len(by_id[2]) == 1 and by_id[2][0].frame_bytes == 10
    assert 3 not in by_id  # empty payload -> zero frames


def test_audio_features(spark, payloads):
    rows = {r.id: r for r in mm.decode_audio_features(payloads).collect()}
    assert rows[1].pseudo_duration_s == 400 / 32000.0
    b = b"abcd"
    expected_rms = (sum(x * x for x in b) / 4) ** 0.5
    assert abs(rows[1].rms_byte - expected_rms) < 1e-9


def test_resize_stride_subsample(spark):
    df = spark.createDataFrame([(1, "ab" * 2048), (2, "xy")], "doc_id BIGINT, text STRING")
    rows = {r.id: r for r in mm.resize_images(mm.with_payload(df), target_bytes=1024).collect()}
    assert rows[1].orig_bytes == 4096
    assert rows[1].resized_bytes == 1024
    assert bytes(rows[1].payload) == (b"ab" * 2048)[::4][:1024]
    assert rows[2].resized_bytes == 2  # already smaller than target

def test_resize_real_nearest_neighbor_exact(spark):
    """TRUE nearest-neighbor resize of a decoded netpbm image,
    re-encoded as P6 — exact floor index map (dst*src)//dst_len, verified
    pixel-for-pixel, plus decode-roundtrip of the output payload."""
    import numpy as np

    # 4x4 image whose pixel (r,c) encodes its coordinates: value r*16+c
    src = np.zeros((4, 4, 3), dtype=np.uint8)
    for r in range(4):
        for c in range(4):
            src[r, c] = (r * 16 + c, r, c)
    df = spark.createDataFrame(
        [(1, mm.encode_ppm(src)), (2, b"junk")], "id BIGINT, payload BINARY"
    )
    rows = {
        r.id: r
        for r in mm.resize_images(df, decode="real", target_wh=(2, 2)).collect()
    }
    parsed = mm.parse_netpbm(bytes(rows[1].payload))
    assert parsed is not None
    w, h, px = parsed
    assert (w, h) == (2, 2)
    # floor map: dst 0 -> src 0, dst 1 -> src (1*4)//2 = 2
    assert (px == src[[0, 2]][:, [0, 2]]).all()
    assert rows[1].resized_bytes == len(bytes(rows[1].payload))
    assert rows[2].payload is None and rows[2].resized_bytes is None
    with pytest.raises(ValueError):
        mm.resize_images(df, decode="real", target_wh=(0, 2))


def test_wav_real_decode_all_widths_and_corrupt(spark, tmp_path):
    """REAL WAV/PCM decode via the stdlib wave module — 8-bit
    (unsigned, zero-centered by -128), 16-bit stereo, and 32-bit payloads,
    RMS pinned against a pure-Python reference; corrupt bytes yield a
    NULL-featured row."""
    import io
    import struct
    import wave as wavemod

    def make_wav(sampwidth, channels, rate, samples):
        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(sampwidth)
            w.setframerate(rate)
            fmt = {1: "B", 2: "<h", 4: "<i"}[sampwidth]
            w.writeframes(b"".join(struct.pack(fmt, s) for s in samples))
        return buf.getvalue()

    s16 = [1000, -1000, 32767, -32768]  # stereo: 2 frames
    s8 = [0, 128, 255]  # unsigned; centered: -128, 0, 127
    s32 = [2**30, -(2**30)]
    df = spark.createDataFrame(
        [
            (1, make_wav(2, 2, 44100, s16)),
            (2, make_wav(1, 1, 8000, s8)),
            (3, make_wav(4, 1, 16000, s32)),
            (4, b"RIFFgarbage"),
        ],
        "id BIGINT, payload BINARY",
    )
    rows = {r.id: r for r in mm.decode_audio_features(df, decode="real").collect()}

    def rms(vals):
        return (sum(v * v for v in vals) / len(vals)) ** 0.5

    assert (rows[1].sample_rate, rows[1].n_channels, rows[1].n_samples) == (44100, 2, 2)
    assert rows[1].duration_s == 2 / 44100
    assert abs(rows[1].rms - rms(s16)) < 1e-9
    assert (rows[2].sample_rate, rows[2].n_channels, rows[2].n_samples) == (8000, 1, 3)
    assert abs(rows[2].rms - rms([v - 128 for v in s8])) < 1e-9
    assert abs(rows[3].rms - rms(s32)) < 1e-6
    assert rows[4].sample_rate is None and rows[4].rms is None


def test_map_in_arrow_zero_copy_batch_transform(spark):
    """mapInArrow: the lowest-overhead Python surface — RecordBatch in,
    RecordBatch out, no pandas materialization.  The right tool when the
    Python side is itself Arrow-native (tokenizers, image codecs reading
    Arrow buffers)."""
    import pyarrow as pa

    df = spark.createDataFrame(
        [(1, b"abc"), (2, b"defg"), (3, b"")], "id LONG, payload BINARY"
    )

    def add_len(batches):
        for batch in batches:
            n = pa.compute.binary_length(batch.column(1))
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), n], ["id", "payload", "n_bytes"]
            )

    out = df.mapInArrow(add_len, "id LONG, payload BINARY, n_bytes INT").collect()
    assert sorted((r.id, r.n_bytes) for r in out) == [(1, 3), (2, 4), (3, 0)]


def test_y4m_round_trip_c420_exact():
    """encode_y4m -> parse_y4m reproduces every plane byte bit-for-bit,
    and the rational NTSC frame rate survives the header round trip."""
    import numpy as np

    rng = np.random.default_rng(7)
    frames = [
        (
            rng.integers(0, 256, (4, 8), dtype=np.uint8),
            rng.integers(0, 256, (2, 4), dtype=np.uint8),
            rng.integers(0, 256, (2, 4), dtype=np.uint8),
        )
        for _ in range(3)
    ]
    payload = mm.encode_y4m(frames, 8, 4, fps=(30000, 1001))
    w, h, fn, fd, cs, got = mm.parse_y4m(payload)
    assert (w, h, fn, fd, cs) == (8, 4, 30000, 1001, "420jpeg")
    assert len(got) == 3
    for (y, u, v), (gy, gu, gv) in zip(frames, got):
        assert (y == gy).all() and (u == gu).all() and (v == gv).all()


def test_y4m_mono_422_444_plane_layouts():
    """Chroma subsampling arithmetic per colorspace tag: mono has no
    chroma, 422 halves width only, 444 is full-resolution chroma."""
    import numpy as np

    y = np.arange(32, dtype=np.uint8).reshape(4, 8)
    mono = mm.encode_y4m([(y, None, None)], 8, 4)
    w, h, _, _, cs, frames = mm.parse_y4m(mono)
    assert cs == "mono" and frames[0][1] is None and (frames[0][0] == y).all()

    for tag, cshape in ((b"422", (4, 4)), (b"444", (4, 8))):
        c = np.full(cshape, 9, dtype=np.uint8)
        payload = (
            b"YUV4MPEG2 W8 H4 F25:1 C" + tag + b"\n"
            + b"FRAME\n" + y.tobytes() + c.tobytes() + c.tobytes()
        )
        _, _, fn, fd, cs, frames = mm.parse_y4m(payload)
        assert (fn, fd, cs) == (25, 1, tag.decode())
        assert frames[0][1].shape == cshape and (frames[0][0] == y).all()


def test_y4m_rejects_corrupt_and_caps_frames():
    """Bad magic, truncated frame data, odd 4:2:0 geometry, unknown
    colorspace, and a stray non-FRAME marker all yield None (never a
    raise); max_frames stops the parse early on long streams."""
    import numpy as np

    y = np.zeros((4, 8), dtype=np.uint8)
    u = np.zeros((2, 4), dtype=np.uint8)
    good = mm.encode_y4m([(y, u, u)] * 5, 8, 4)
    assert mm.parse_y4m(b"RIFF" + good[4:]) is None
    assert mm.parse_y4m(good[:-1]) is None  # truncated last frame
    assert mm.parse_y4m(b"YUV4MPEG2 W7 H4 F25:1 C420\nFRAME\n" + b"\0" * 50) is None
    assert mm.parse_y4m(b"YUV4MPEG2 W8 H4 F25:1 Cnv12\nFRAME\n" + b"\0" * 48) is None
    assert mm.parse_y4m(b"YUV4MPEG2 W8 H4 F25:1\nXRAME\n" + b"\0" * 48) is None
    assert mm.parse_y4m(b"YUV4MPEG2 W8 H4 F0:1 C420\n") is None
    capped = mm.parse_y4m(good, max_frames=2)
    assert len(capped[5]) == 2 and len(mm.parse_y4m(good)[5]) == 5
    # the FRAME magic must be followed by '\n' or a
    # space-prefixed param list — a fused marker like b"FRAMExyz\n" is a
    # corrupt stream, not a frame header
    mono = b"YUV4MPEG2 W8 H4 Cmono F25:1\n"
    assert mm.parse_y4m(mono + b"FRAMExyz\n" + b"\0" * 32) is None
    withparam = mm.parse_y4m(mono + b"FRAME Xfoo\n" + b"\0" * 32)
    assert withparam is not None and len(withparam[5]) == 1
    assert mm.parse_y4m(mono + b"FRAME" ) is None  # marker at EOF, no sep


def test_y4m_header_defaults_and_ignored_tags():
    """No C tag -> 420jpeg default; I/A/X tags are legal and ignored."""
    import numpy as np

    y = np.full((2, 2), 5, dtype=np.uint8)
    c = np.full((1, 1), 7, dtype=np.uint8)
    payload = (
        b"YUV4MPEG2 W2 H2 F24:1 It A16:9 Xyscss=420\n"
        + b"FRAME\n" + y.tobytes() + c.tobytes() + c.tobytes()
    )
    w, h, fn, fd, cs, frames = mm.parse_y4m(payload)
    assert (w, h, fn, fd, cs) == (2, 2, 24, 1, "420jpeg")
    assert frames[0][1][0, 0] == 7
