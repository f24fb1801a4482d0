"""Real-codec video path (round-11, verdict item 6 — the last [EXT] corner).

``frame_sample(fake=False)`` and ``decode_features(fake=False)`` on video
rows decode actual payload bytes via the builtin pure-stdlib AVI kernel
(``avi_decode`` — strict RIFF walk, avih/strh/strf cross-checks,
uncompressed 24-bit BI_RGB frames), completing the kernel trio (PNG round
9, WAV round 10, AVI round 11). Tests build real AVI payloads with the
stdlib writer ``codec_encoders.avi_encode``; sampled frames come back as
standalone PNGs and are cross-checked pixel-exact through ``png_decode``,
so the full video -> frame -> image pipeline runs end-to-end in every
environment — no codec libraries involved.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from codec_encoders import ASSET_SCHEMA, avi_encode

from hubverse_transform_spark.operators.multimodal import (
    avi_decode,
    decode_features,
    frame_sample,
    png_decode,
)


def _frames(n: int, w: int, h: int, seed: int = 7) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, (h, w * 3), dtype=np.uint8) for _ in range(n)]


def test_avi_encode_decode_roundtrip():
    frames = _frames(5, 6, 4)
    payload = avi_encode(frames, us_per_frame=40_000, width=6, height=4)
    w, h, uspf, out = avi_decode(payload)
    assert (w, h, uspf) == (6, 4, 40_000)
    assert len(out) == 5
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


def test_avi_roundtrip_padded_stride():
    """Odd widths exercise the DIB 4-byte row padding (w=3 -> 9-byte rows
    stored in a 12-byte stride)."""
    frames = _frames(2, 3, 2, seed=11)
    payload = avi_encode(frames, us_per_frame=1_000_000, width=3, height=2)
    _, _, _, out = avi_decode(payload)
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)


def test_avi_decode_top_down_negative_height():
    """Negative biHeight in strf means top-down row order (no flip). Patch
    the encoded header and pre-flip the stored rows; the decoded pixels
    must come back identical."""
    frames = _frames(1, 4, 3, seed=13)
    payload = bytearray(avi_encode(frames, us_per_frame=50_000, width=4, height=3))
    idx = payload.index(b"strf")
    # strf body: biSize(4) biWidth(4) then biHeight at offset 8
    struct.pack_into("<i", payload, idx + 8 + 8, -3)
    # stored rows are bottom-up BGR; with top-down declared, reverse them
    midx = payload.index(b"00db")
    stride = 4 * 3  # w*3 = 12, already a 4-byte multiple
    body = payload[midx + 8 : midx + 8 + stride * 3]
    rows = [bytes(body[i * stride : (i + 1) * stride]) for i in range(3)]
    payload[midx + 8 : midx + 8 + stride * 3] = b"".join(reversed(rows))
    _, _, _, out = avi_decode(bytes(payload))
    assert np.array_equal(out[0], frames[0])


def test_avi_decode_strictness():
    frames = _frames(3, 4, 4)
    payload = avi_encode(frames, us_per_frame=33_333, width=4, height=4)
    # not an AVI
    with pytest.raises(ValueError, match="signature"):
        avi_decode(b"RIFF\x10\x00\x00\x00WAVEdata")
    # truncation
    with pytest.raises(ValueError, match="truncated|exceeds"):
        avi_decode(payload[: len(payload) - 9])
    # compressed frames rejected
    with pytest.raises(ValueError, match="00dc"):
        avi_decode(payload.replace(b"00db", b"00dc", 1))
    # non-video stream type
    with pytest.raises(ValueError, match="vids"):
        avi_decode(payload.replace(b"vids", b"auds", 1))
    # frame-count mismatch: bump avih dwTotalFrames
    bad = bytearray(payload)
    aidx = bad.index(b"avih")
    struct.pack_into("<I", bad, aidx + 8 + 16, 99)
    with pytest.raises(ValueError, match="frame count"):
        avi_decode(bytes(bad))
    # geometry mismatch between avih and strf
    bad = bytearray(payload)
    struct.pack_into("<I", bad, aidx + 8 + 32, 9)  # avih dwWidth
    with pytest.raises(ValueError, match="geometry"):
        avi_decode(bytes(bad))
    # 8-bit / compressed bitmap rejected
    bad = bytearray(payload)
    sidx = bad.index(b"strf")
    struct.pack_into("<H", bad, sidx + 8 + 14, 8)  # biBitCount
    with pytest.raises(ValueError, match="BI_RGB|24-bit"):
        avi_decode(bytes(bad))
    # duplicate header chunks quarantine (same contract as wav_decode)
    hidx = payload.index(b"avih")
    avih_chunk = payload[hidx : hidx + 8 + 56]
    dup = bytearray(payload)
    # splice a second avih right after the first, fixing LIST/RIFF sizes is
    # deliberately skipped — the walker hits the duplicate before any size
    # check can object, and either error is a correct quarantine
    dup[hidx + 8 + 56 : hidx + 8 + 56] = avih_chunk
    with pytest.raises(ValueError):
        avi_decode(bytes(dup))


@pytest.fixture()
def video_assets(spark):
    # 10 frames at 25 fps (40ms per frame) -> 400ms of video
    frames = _frames(10, 5, 4, seed=3)
    payload = avi_encode(frames, us_per_frame=40_000, width=5, height=4)
    rows = [
        (1, "video", "video/x-msvideo", bytearray(payload), 5, 4, 400),
        (2, "video", None, None, None, None, None),  # null payload -> no rows
    ]
    return spark.createDataFrame(rows, ASSET_SCHEMA), frames


def test_real_frame_sample(spark, video_assets):
    """fake=False samples one frame per every_ms of video time, selects the
    frame whose interval contains the timestamp, and emits it as a
    standalone PNG whose pixels equal the source frame exactly."""
    assets, frames = video_assets
    out = sorted(
        frame_sample(assets, every_ms=150, fake=False).collect(),
        key=lambda r: r["frame_idx"],
    )
    # 400ms at 150ms sampling -> ts 0, 150, 300 -> source frames 0, 3, 7
    assert [r["asset_id"] for r in out] == [1, 1, 1]
    assert [r["ts_ms"] for r in out] == [0, 150, 300]
    for r, src in zip(out, (0, 3, 7)):
        w, h, mode, px = png_decode(bytes(r["frame"]))
        assert (w, h, mode) == (5, 4, "rgb")
        assert np.array_equal(px, frames[src])


def test_real_frame_sample_clamps_to_last_frame(spark):
    """A sample timestamp landing past the last frame start (integer-ms
    duration rounding) clamps to the final frame instead of indexing out of
    range: 3 frames at 33,333us = 99ms -> every_ms=98 samples ts 0 and 98;
    98ms sits in frame floor(98000/33333)=2, the last frame."""
    frames = _frames(3, 2, 2, seed=5)
    payload = avi_encode(frames, us_per_frame=33_333, width=2, height=2)
    df = spark.createDataFrame(
        [(4, "video", "video/x-msvideo", bytearray(payload), 2, 2, 99)], ASSET_SCHEMA
    )
    out = sorted(
        frame_sample(df, every_ms=98, fake=False).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["ts_ms"] for r in out] == [0, 98]
    _, _, _, px = png_decode(bytes(out[1]["frame"]))
    assert np.array_equal(px, frames[2])


def test_real_frame_sample_submillisecond_video_emits_frame_zero(spark):
    """A valid video whose total duration is under 1ms (1 frame at
    us_per_frame < 1000) still emits the ts=0 sample instead of silently
    producing zero rows (ADVICE r11)."""
    frames = _frames(1, 2, 2, seed=9)
    payload = avi_encode(frames, us_per_frame=500, width=2, height=2)
    df = spark.createDataFrame(
        [(8, "video", "video/x-msvideo", bytearray(payload), 2, 2, 0)], ASSET_SCHEMA
    )
    out = frame_sample(df, every_ms=100, fake=False).collect()
    assert [(r["asset_id"], r["frame_idx"], r["ts_ms"]) for r in out] == [(8, 0, 0)]
    _, _, _, px = png_decode(bytes(out[0]["frame"]))
    assert np.array_equal(px, frames[0])


def test_real_video_feature_string(spark, video_assets):
    assets, _ = video_assets
    out = {r["asset_id"]: r["feature"] for r in decode_features(assets, fake=False).collect()}
    assert out[1] == "video:5x4:10f:40000us"
    assert out[2] == "empty"


def test_real_video_corrupt_payload_fails_in_frame_sample(spark):
    rows = [(7, "video", "video/x-msvideo", bytearray(b"RIFF\x08\x00\x00\x00AVI junk"), 2, 2, 10)]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    with pytest.raises(Exception, match="video decode failed"):
        frame_sample(df, every_ms=10, fake=False).collect()


# --- property-based round-trip (pure kernel, no Spark) ---

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=9),
        h=st.integers(min_value=1, max_value=7),
        n=st.integers(min_value=0, max_value=6),
        uspf=st.integers(min_value=1, max_value=2_000_000),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_avi_roundtrip_property(w, h, n, uspf, seed):
        """Any geometry (including odd widths that exercise stride padding
        and the zero-frame container) round-trips pixel-exact."""
        rng = np.random.default_rng(seed)
        frames = [rng.integers(0, 256, (h, w * 3), dtype=np.uint8) for _ in range(n)]
        payload = avi_encode(frames, us_per_frame=uspf, width=w, height=h)
        rw, rh, ruspf, out = avi_decode(payload)
        assert (rw, rh, ruspf) == (w, h, uspf)
        assert len(out) == n
        for a, b in zip(frames, out):
            assert np.array_equal(a, b)
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass
