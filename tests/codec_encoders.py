"""Stdlib WAV and AVI writers that build test fixtures for the package's
``wav_decode`` / ``avi_decode`` kernels (each round-trips bit-exactly
through its decoder), and the asset schema the multimodal tests build
their input frames with."""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hubverse_transform_spark.operators.multimodal import _WAV_PCM_DTYPES

#: canonical multimodal asset schema: payload + typed metadata
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),  # image | audio | video
        StructField("mime_type", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


def wav_encode(samples, *, sample_rate: int, bits: int = 16, n_channels: int = 1) -> bytes:
    """Minimal stdlib WAV writer: integer-PCM, little-endian, ``samples`` an
    integer array of interleaved signed amplitudes (length divisible by
    ``n_channels``). The inverse of ``wav_decode`` (round-trips bit-exactly
    on the sample side)."""
    import struct

    import numpy as np

    if bits not in _WAV_PCM_DTYPES:
        raise ValueError(f"wav_encode supports bits {sorted(_WAV_PCM_DTYPES)}, got {bits}")
    arr = np.asarray(samples, dtype=np.int64)
    if arr.size % n_channels != 0:
        raise ValueError("wav_encode: sample count not divisible by channel count")
    if bits == 8:
        arr = arr + 128  # signed amplitude -> unsigned storage
    pcm = arr.astype(_WAV_PCM_DTYPES[bits]).tobytes()
    width = bits // 8
    block_align = n_channels * width
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align, block_align, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm
    if len(pcm) & 1:
        chunks += b"\x00"  # RIFF word alignment pad (not part of data size)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks



def avi_encode(frames, *, us_per_frame: int, width: int, height: int) -> bytes:
    """Minimal stdlib AVI writer: single-stream uncompressed 24-bit BI_RGB,
    ``frames`` a sequence of uint8[height, width*3] top-down RGB arrays.
    The inverse of ``avi_decode`` (round-trips bit-exactly on the pixel
    side); stores the standard bottom-up padded BGR DIB rows."""
    import struct

    import numpy as np

    if us_per_frame < 1:
        raise ValueError("avi_encode: us_per_frame must be >= 1")
    stride = ((width * 3 + 3) // 4) * 4
    frame_chunks = b""
    for f in frames:
        arr = np.asarray(f, dtype=np.uint8)
        if arr.shape != (height, width * 3):
            raise ValueError(
                f"avi_encode: frame shape {arr.shape} != ({height}, {width * 3})"
            )
        rgb = arr.reshape(height, width, 3)
        bgr = rgb[:, :, ::-1][::-1]  # RGB top-down -> BGR bottom-up
        padded = np.zeros((height, stride), dtype=np.uint8)
        padded[:, : width * 3] = bgr.reshape(height, width * 3)
        body = padded.tobytes()
        frame_chunks += b"00db" + struct.pack("<I", len(body)) + body

    n = len(frames)
    avih = struct.pack(
        "<10I16x", us_per_frame, 0, 0, 0, n, 0, 1, stride * height, width, height
    )
    strh = struct.pack(
        "<4s4sIHH8I4H",
        b"vids", b"DIB ", 0, 0, 0, 0,
        us_per_frame, 1_000_000,  # dwScale/dwRate: rate/scale = fps
        0, n, stride * height, 0, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height, 0, 0, 0, 0
    )

    def chunk(t: bytes, body: bytes) -> bytes:
        return t + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)
    movi = lst(b"movi", frame_chunks)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body
