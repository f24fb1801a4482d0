"""Multimodal column plumbing [EXT]: image/audio/video as opaque binary
columns with typed metadata.

ALL THREE decode paths are fully wired and ALWAYS runnable — no codec
libraries required: ``fake=False`` decodes real payload bytes. Images via
Pillow when the executor can import it (any format), else via the builtin
pure-stdlib PNG kernel (``png_decode``: chunk CRC verification, IDAT
inflate, full scanline unfilter); video via the builtin pure-stdlib AVI
kernel (``avi_decode``: strict RIFF walk, header cross-checks,
uncompressed 24-bit BI_RGB frames — the one AVI flavor expressible without
entropy coders; compressed codecs would need native libraries and
quarantine with ValueError); audio via the builtin pure-stdlib WAV/PCM
kernel (``wav_decode``: strict RIFF walk, fmt validation, data-chunk
geometry
check). Corrupt payloads raise ValueError (quarantine) in every real
path. Everything Spark-side is real and tested: the Arrow-batched
``mapInPandas`` plumbing and the batch shapes.

Scale notes: binary payloads dominate row size, so decoding is a map-side
``mapInPandas`` stage on the input's own partitioning that emits only the
small feature columns, and each Arrow batch bounds how many payloads an
executor holds at once.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("modality", StringType(), False),
        StructField("byte_len", LongType(), True),
        StructField("feature", StringType(), True),
    ]
)


def decode_features(assets: DataFrame, *, fake: bool = False) -> DataFrame:
    """Extract per-asset features from binary payloads via ``mapInPandas``.

    Arrow streams column batches into pandas; each batch yields one output
    frame — the UDF never holds more than a batch of payloads in memory.
    With ``fake=False`` image payloads genuinely decode (Pillow, else the
    builtin PNG kernel), audio via the builtin WAV kernel, and video via
    the builtin AVI kernel; only an unknown modality raises
    NotImplementedError inside the executor.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # fake mode stays self-contained (pandas/hashlib only); the real
        # path references _real_image_decoder, so executors need the
        # package importable — true in local mode and on any cluster the
        # package is deployed to
        import hashlib

        import pandas as _pd

        def fake_decode(payload, modality):
            if payload is None:
                return "empty"
            return f"{modality}:{hashlib.md5(payload).hexdigest()[:12]}"

        # Pillow when importable, else the builtin PNG kernel — always set
        real = None if fake else _real_image_decoder()

        for pdf in batches:
            decode = fake_decode if fake else real
            out = _pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "byte_len": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                    "feature": [
                        decode(b, m)
                        for b, m in zip(pdf["payload"], pdf["modality"])
                    ],
                }
            )
            yield out

    return assets.mapInPandas(run, FEATURE_SCHEMA)


#: PNG color types -> (channels, Pillow-equivalent lowercase mode)
_PNG_COLOR_TYPES = {0: (1, "l"), 2: (3, "rgb"), 3: (1, "p"), 4: (2, "la"), 6: (4, "rgba")}


def png_decode(data: bytes):
    """Pure-stdlib PNG decode: (width, height, mode, pixels uint8[h, w*ch]).

    A REAL decode, not a header peek — chunk CRCs are verified, the IDAT
    stream is inflated, and every scanline is unfiltered (filters 0-4 per
    the PNG spec), so a corrupt or truncated payload raises ValueError
    (quarantine, never silently pass). Supports 8-bit non-interlaced
    images, every color type. None/Sub/Up rows unfilter vectorized
    (numpy wrap-add / per-channel modular cumsum); Average/Paeth rows fall
    back to a per-byte loop (inherently sequential left-dependencies) —
    correct for any producer's output, sized for validation kernels; bulk
    decode at scale should prefer the Pillow path when available."""
    import struct
    import zlib

    import numpy as np

    if len(data) < 8 or bytes(data[:8]) != b"\x89PNG\r\n\x1a\n":
        raise ValueError("image decode failed: not a PNG signature")
    pos = 8
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    seen_iend = False
    while pos + 12 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = bytes(data[pos + 4 : pos + 8])
        chunk = bytes(data[pos + 8 : pos + 8 + ln])
        if len(chunk) != ln or pos + 12 + ln > len(data):
            raise ValueError("image decode failed: truncated PNG chunk")
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(ctype + chunk) & 0xFFFFFFFF != crc:
            raise ValueError("image decode failed: PNG chunk CRC mismatch")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + ln
    if width is None or not seen_iend or not idat:
        raise ValueError("image decode failed: missing IHDR/IDAT/IEND")
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_COLOR_TYPES:
        raise ValueError(
            "image decode failed: builtin kernel supports 8-bit "
            f"non-interlaced PNG (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace})"
        )
    channels, mode = _PNG_COLOR_TYPES[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"image decode failed: IDAT inflate: {exc}") from exc
    stride = width * channels
    if len(raw) != height * (1 + stride):
        raise ValueError("image decode failed: scanline length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    o = 0
    for y in range(height):
        f = raw[o]
        line = np.frombuffer(raw, np.uint8, stride, o + 1).copy()
        o += 1 + stride
        if f == 0:  # None
            cur = line
        elif f == 1:  # Sub: per-channel modular prefix sum
            cur = line.reshape(-1, bpp).cumsum(axis=0, dtype=np.uint8).reshape(-1)
        elif f == 2:  # Up
            cur = line + prev
        elif f == 3:  # Average (left-sequential)
            cur = line
            for i in range(stride):
                left = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(line[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth (left-sequential)
            cur = line
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(line[i]) + pr) & 0xFF
        else:
            raise ValueError(f"image decode failed: unknown PNG filter {f}")
        out[y] = cur
        prev = cur
    return int(width), int(height), mode, out


def _real_image_decoder():
    """Executor-side real image decode kernel.

    Returned callable maps (payload, modality) -> feature string: images
    decode to ``image:<width>x<height>:<mode>`` from the actual bytes —
    via Pillow when the executor can import it (any format Pillow reads),
    else via the builtin pure-stdlib PNG kernel (``png_decode``: CRC
    check, IDAT inflate, full scanline unfilter); audio payloads decode to
    ``audio:<rate>hz:<ch>ch:<bits>bit:<frames>f`` via the builtin
    pure-stdlib WAV kernel (``wav_decode``); video payloads decode to
    ``video:<w>x<h>:<frames>f:<us_per_frame>us`` via the builtin
    pure-stdlib AVI kernel (``avi_decode``) — all three real paths are
    runnable even in codec-less containers. An unparseable payload raises
    ValueError rather than silently degrading — a corrupt blob in a
    curation pipeline should quarantine, not pass."""
    try:
        import io

        from PIL import Image
    except ImportError:
        Image = None

    def decode(payload, modality):
        if payload is None:
            return "empty"
        if modality == "audio":
            rate, ch, bits, samples = wav_decode(bytes(payload))
            return f"audio:{rate}hz:{ch}ch:{bits}bit:{samples.size // ch}f"
        if modality == "video":
            w, h, uspf, frames = avi_decode(bytes(payload))
            return f"video:{w}x{h}:{len(frames)}f:{uspf}us"
        if modality != "image":
            raise NotImplementedError(
                f"real decode wired for image/audio/video only "
                f"(got modality={modality!r})"
            )
        if Image is not None:
            with Image.open(io.BytesIO(bytes(payload))) as img:
                return f"image:{img.width}x{img.height}:{img.mode.lower()}"
        w, h, mode, _px = png_decode(bytes(payload))
        return f"image:{w}x{h}:{mode}"

    return decode


#: lowercase mode -> (channels, PNG color type) for the stdlib encoder
_PNG_ENCODE_MODES = {"l": (1, 0), "rgb": (3, 2), "la": (2, 4), "rgba": (4, 6)}


def png_encode(px, mode: str) -> bytes:
    """Minimal stdlib PNG writer: 8-bit non-interlaced, filter-0 rows,
    ``px`` a uint8 array of shape (height, width*channels). The inverse of
    ``png_decode`` (which round-trips it bit-exactly on the pixel side)."""
    import struct
    import zlib

    if mode not in _PNG_ENCODE_MODES:
        raise ValueError(f"png_encode supports modes {sorted(_PNG_ENCODE_MODES)}, got {mode!r}")
    channels, ctype = _PNG_ENCODE_MODES[mode]
    h, stride = px.shape
    w = stride // channels

    def chunk(t: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + t
            + body
            + struct.pack(">I", zlib.crc32(t + body) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


#: PCM sample widths the builtin WAV kernel handles: bits -> numpy dtype
_WAV_PCM_DTYPES = {8: "u1", 16: "<i2", 32: "<i4"}


def wav_decode(data: bytes):
    """Pure-stdlib WAV/PCM decode: (sample_rate, n_channels, bits,
    samples int64[n_frames * n_channels] centered at 0).

    A REAL decode, not a header peek — the RIFF container is walked chunk
    by chunk with size validation, the ``fmt `` chunk is parsed and checked
    for integer-PCM consistency (format tag 1, block-align and byte-rate
    arithmetic must agree with channels × width), and the ``data`` chunk
    must hold a whole number of frames — so a corrupt or truncated payload
    raises ValueError (quarantine, never silently pass). Mirrors the PNG
    kernel (``png_decode``) pattern: stdlib ``struct`` + numpy only, no
    codec libraries. Supports 8-bit unsigned / 16-bit / 32-bit signed
    little-endian integer PCM, any channel count; 8-bit samples are
    re-centered (-128) so every width yields signed amplitudes around 0.
    """
    import struct

    import numpy as np

    if len(data) < 12 or bytes(data[:4]) != b"RIFF" or bytes(data[8:12]) != b"WAVE":
        raise ValueError("audio decode failed: not a RIFF/WAVE signature")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size + 8 > len(data):
        raise ValueError("audio decode failed: RIFF size exceeds payload")
    pos = 12
    fmt = None
    pcm = None
    while pos + 8 <= len(data):
        ctype = bytes(data[pos : pos + 4])
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = bytes(data[pos + 8 : pos + 8 + ln])
        if len(body) != ln:
            raise ValueError("audio decode failed: truncated WAV chunk")
        if ctype == b"fmt ":
            if fmt is not None:
                # last-wins would decode a malformed two-fmt payload without
                # quarantine — strict-quarantine contract says reject it
                raise ValueError("audio decode failed: duplicate fmt chunk")
            if ln < 16:
                raise ValueError("audio decode failed: fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif ctype == b"data":
            if pcm is not None:
                raise ValueError("audio decode failed: duplicate data chunk")
            pcm = body
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("audio decode failed: missing fmt/data chunk")
    audio_format, n_channels, sample_rate, byte_rate, block_align, bits = fmt
    if audio_format != 1:
        raise ValueError(
            f"audio decode failed: builtin kernel supports integer PCM "
            f"(format 1), got format {audio_format}"
        )
    if bits not in _WAV_PCM_DTYPES or n_channels < 1 or sample_rate < 1:
        raise ValueError(
            f"audio decode failed: unsupported geometry (bits={bits}, "
            f"channels={n_channels}, rate={sample_rate})"
        )
    width = bits // 8
    if block_align != n_channels * width or byte_rate != sample_rate * block_align:
        raise ValueError("audio decode failed: fmt chunk arithmetic inconsistent")
    if len(pcm) % block_align != 0:
        raise ValueError("audio decode failed: data chunk is not whole frames")
    samples = np.frombuffer(pcm, dtype=_WAV_PCM_DTYPES[bits]).astype(np.int64)
    if bits == 8:
        samples = samples - 128  # unsigned storage -> signed amplitude
    return int(sample_rate), int(n_channels), int(bits), samples


def avi_decode(data: bytes):
    """Pure-stdlib AVI decode: (width, height, us_per_frame,
    frames list of uint8[h, w*3] top-down RGB arrays).

    The video member of the builtin-kernel trio (PNG round 9, WAV round 10,
    AVI round 11 — same pattern: stdlib ``struct`` + numpy, strict
    validation, ValueError quarantine on malformed payloads, no codec
    libraries). A REAL decode of the only AVI flavor expressible without
    entropy coders: single-stream uncompressed 24-bit BI_RGB DIB frames
    (``00db`` chunks). The RIFF container is walked chunk by chunk with size
    validation; ``avih``/``strh``/``strf`` are parsed and cross-checked
    (stream type ``vids``, BI_RGB compression, geometry agreement between
    the main and stream headers, frame-count agreement between the headers
    and the ``movi`` body, row stride arithmetic); bottom-up padded BGR
    rows are flipped and reordered to top-down RGB. Duplicate headers,
    extra streams, truncated chunks, and wrong-sized frames all raise.
    """
    import struct

    import numpy as np

    if len(data) < 12 or bytes(data[:4]) != b"RIFF" or bytes(data[8:12]) != b"AVI ":
        raise ValueError("video decode failed: not a RIFF/AVI signature")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size + 8 > len(data):
        raise ValueError("video decode failed: RIFF size exceeds payload")

    avih = None
    strh = None
    strf = None
    raw_frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int, in_movi: bool) -> None:
        # Iterative depth-first walk with an explicit segment stack: a
        # malformed payload nesting thousands of LIST chunks must raise
        # ValueError (or parse), never RecursionError — the quarantine
        # contract admits exactly one exception class.
        nonlocal avih, strh, strf
        stack: list[tuple[int, int, bool]] = [(pos, end, in_movi)]
        while stack:
            pos, end, in_movi = stack.pop()
            while pos + 8 <= end:
                ctype = bytes(buf[pos : pos + 4])
                (ln,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
                if pos + 8 + ln > end:
                    raise ValueError("video decode failed: truncated AVI chunk")
                if ctype == b"LIST":
                    if ln < 4:
                        raise ValueError("video decode failed: LIST chunk too short")
                    # Resume the rest of this segment after the LIST body —
                    # same chunk order as the recursive formulation.
                    stack.append((pos + 8 + ln + (ln & 1), end, in_movi))
                    in_movi = bytes(buf[pos + 8 : pos + 12]) == b"movi"
                    end = pos + 8 + ln
                    pos = pos + 12
                    continue
                body = bytes(buf[pos + 8 : pos + 8 + ln])
                if ctype == b"avih":
                    if avih is not None:
                        raise ValueError("video decode failed: duplicate avih chunk")
                    if ln < 40:
                        raise ValueError("video decode failed: avih chunk too short")
                    avih = struct.unpack("<10I", body[:40])
                elif ctype == b"strh":
                    if strh is not None:
                        raise ValueError(
                            "video decode failed: builtin kernel supports a "
                            "single video stream, got a second strh"
                        )
                    if ln < 48:
                        raise ValueError("video decode failed: strh chunk too short")
                    strh = struct.unpack("<4s4sIHH8I", body[:48])
                elif ctype == b"strf":
                    if strf is not None:
                        raise ValueError("video decode failed: duplicate strf chunk")
                    if ln < 40:
                        raise ValueError("video decode failed: strf chunk too short")
                    strf = struct.unpack("<IiiHHIIiiII", body[:40])
                elif ctype == b"00db":
                    if not in_movi:
                        raise ValueError("video decode failed: frame chunk outside movi")
                    raw_frames.append(body)
                elif ctype == b"00dc":
                    raise ValueError(
                        "video decode failed: builtin kernel supports "
                        "uncompressed 00db frames, got compressed 00dc"
                    )
                pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned

    walk(data, 12, min(len(data), riff_size + 8), False)
    if avih is None or strh is None or strf is None:
        raise ValueError("video decode failed: missing avih/strh/strf header")
    us_per_frame, _, _, _, total_frames, _, n_streams, _, width, height = avih
    if us_per_frame < 1:
        raise ValueError("video decode failed: zero frame duration")
    if n_streams != 1:
        raise ValueError(
            f"video decode failed: builtin kernel supports exactly one "
            f"stream, header declares {n_streams}"
        )
    fcc_type = strh[0]
    if fcc_type != b"vids":
        raise ValueError(
            f"video decode failed: stream type {fcc_type!r} is not 'vids'"
        )
    # <4s4sIHH8I fields: type, handler, flags, priority, language,
    # initial_frames, scale, rate, start, length (index 9), ...
    strh_length = strh[9]
    (_, bi_w, bi_h, bi_planes, bi_bits, bi_comp) = strf[:6]
    if bi_comp != 0 or bi_bits != 24 or bi_planes != 1:
        raise ValueError(
            f"video decode failed: builtin kernel supports 24-bit BI_RGB "
            f"(got bits={bi_bits}, compression={bi_comp}, planes={bi_planes})"
        )
    if bi_w != width or abs(bi_h) != height or width < 1 or height < 1:
        raise ValueError(
            "video decode failed: avih/strf geometry disagrees "
            f"({width}x{height} vs {bi_w}x{bi_h})"
        )
    if len(raw_frames) != total_frames or strh_length != total_frames:
        raise ValueError(
            f"video decode failed: frame count disagrees (movi has "
            f"{len(raw_frames)}, avih declares {total_frames}, strh "
            f"declares {strh_length})"
        )
    stride = ((width * 3 + 3) // 4) * 4  # DIB rows pad to 4-byte boundary
    frames = []
    for i, raw in enumerate(raw_frames):
        if len(raw) != stride * height:
            raise ValueError(
                f"video decode failed: frame {i} is {len(raw)} bytes, "
                f"expected {stride * height} for {width}x{height}x24"
            )
        grid = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
        bgr = grid[:, : width * 3].reshape(height, width, 3)
        if bi_h > 0:  # positive biHeight = bottom-up row order
            bgr = bgr[::-1]
        rgb = bgr[:, :, ::-1]  # BGR storage -> RGB API
        frames.append(np.ascontiguousarray(rgb.reshape(height, width * 3)))
    return int(width), int(height), int(us_per_frame), frames


def frame_sample(assets: DataFrame, *, every_ms: int, fake: bool = False) -> DataFrame:
    """Video frame sampling: one output row per sampled frame (1->N explode
    inside the UDF).

    Real mode (``fake=False``) genuinely decodes: the payload is parsed by
    the builtin pure-stdlib AVI kernel (``avi_decode`` — strict RIFF walk,
    header cross-checks, uncompressed 24-bit BI_RGB frames; corrupt
    payloads raise ValueError and quarantine the task's row, the same
    contract as the PNG and WAV kernels), one frame is selected per
    ``every_ms`` of video time (the frame whose interval contains the
    sample timestamp, i.e. floor(ts / frame_duration)), and each sampled
    frame is re-encoded as a standalone PNG via the sibling stdlib writer
    (``png_encode``) — so downstream image operators (``decode_features``,
    the PNG kernel) can consume the ``frame`` payloads directly. Fake mode
    fabricates frame ids from duration metadata with NULL payloads
    (deterministic, for plumbing tests against arbitrary blobs).

    Output: (asset_id, frame_idx = sample index, ts_ms = sample timestamp,
    frame = PNG bytes or NULL in fake mode).
    """
    out_schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("ts_ms", LongType(), False),
            StructField("frame", BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for _, r in pdf.iterrows():
                if fake:
                    dur = int(r["duration_ms"] or 0)
                    for i, ts in enumerate(range(0, dur, every_ms)):
                        rows.append(
                            {"asset_id": r["asset_id"], "frame_idx": i, "ts_ms": ts, "frame": None}
                        )
                    continue
                payload = r["payload"]
                if payload is None:
                    continue
                _w, _h, uspf, frames = avi_decode(bytes(payload))
                dur = len(frames) * uspf // 1000  # whole-ms video duration
                if frames:
                    # Sub-millisecond videos (e.g. one frame at
                    # us_per_frame < 1000) still yield the ts=0 sample.
                    dur = max(1, dur)
                for i, ts in enumerate(range(0, dur, every_ms)):
                    src = min(ts * 1000 // uspf, len(frames) - 1)
                    rows.append(
                        {
                            "asset_id": r["asset_id"],
                            "frame_idx": i,
                            "ts_ms": ts,
                            "frame": bytearray(png_encode(frames[src], "rgb")),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return assets.mapInPandas(run, out_schema)
