"""Quarantine-contract fuzz for the three builtin codec kernels.

The multimodal real paths promise: a malformed payload raises ValueError
(row quarantine), never any other exception type — a struct.error,
IndexError, or numpy broadcast error escaping a kernel would crash the
executor task with an unhandled error class instead of quarantining the
row. This seeded, deterministic fuzz hammers each kernel three ways:

  * every 4-byte little-endian field at stride-2 offsets overwritten with
    six adversarial values (0, 1, INT32_MAX, UINT32_MAX, payload length,
    2^31) — the class that flushes out size-arithmetic overflows,
  * every truncation length,
  * seeded random blobs.

A round-11 offline run of the unbounded variant (every offset, 12k random
mutations per kernel) found zero escapes; this bounded version keeps that
contract pinned in the suite at ~seconds of runtime.
"""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest
from codec_encoders import avi_encode, wav_encode

from hubverse_transform_spark.operators.multimodal import (
    avi_decode,
    png_decode,
    png_encode,
    wav_decode,
)

ADVERSARIAL = (0, 1, 0x7FFFFFFF, 0xFFFFFFFF, 0x80000000)


def _payloads():
    frames = [np.arange(36, dtype=np.uint8).reshape(3, 12) for _ in range(2)]
    return [
        ("avi", avi_encode(frames, us_per_frame=40_000, width=4, height=3), avi_decode),
        ("wav", wav_encode(np.arange(64, dtype=np.int64), sample_rate=8000, bits=16, n_channels=2), wav_decode),
        ("png", png_encode(np.arange(24, dtype=np.uint8).reshape(2, 12), "rgb"), png_decode),
    ]


def _assert_only_valueerror(name, fn, payload_bytes):
    try:
        fn(bytes(payload_bytes))
    except ValueError:
        pass
    except Exception as e:  # noqa: BLE001 - the contract under test
        pytest.fail(
            f"{name} kernel leaked {type(e).__name__} instead of ValueError "
            f"on malformed payload: {e}"
        )


@pytest.mark.parametrize("name,payload,fn", _payloads(), ids=lambda p: p if isinstance(p, str) else "")
def test_field_overwrites_only_raise_valueerror(name, payload, fn):
    for off in range(0, len(payload) - 4, 2):
        for val in ADVERSARIAL + (len(payload),):
            b = bytearray(payload)
            struct.pack_into("<I", b, off, val & 0xFFFFFFFF)
            _assert_only_valueerror(name, fn, b)


@pytest.mark.parametrize("name,payload,fn", _payloads(), ids=lambda p: p if isinstance(p, str) else "")
def test_truncations_only_raise_valueerror(name, payload, fn):
    for cut in range(len(payload)):
        _assert_only_valueerror(name, fn, payload[:cut])


def test_deeply_nested_lists_do_not_recurse():
    """An adversarial AVI nesting thousands of LIST chunks must stay inside
    the ValueError-only contract — the round-11 recursive walk raised
    RecursionError here (ADVICE r11); the walk is now an explicit stack."""
    depth = 5000
    inner = b""
    for _ in range(depth):
        body = b"xxxx" + inner
        inner = b"LIST" + struct.pack("<I", len(body)) + body
    payload = b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner
    with pytest.raises(ValueError):
        avi_decode(payload)
    # Same nesting wrapped around a VALID file body: parses clean, because
    # depth is bounded only by payload size, not the Python stack.
    frames = [np.arange(36, dtype=np.uint8).reshape(3, 12)]
    good = avi_encode(frames, us_per_frame=40_000, width=4, height=3)
    core = good[12:]  # headers+movi chunks of a well-formed file
    for _ in range(depth):
        body = b"xxxx" + core
        core = b"LIST" + struct.pack("<I", len(body)) + body
    wrapped = b"RIFF" + struct.pack("<I", 4 + len(core)) + b"AVI " + core
    w, h, uspf, out = avi_decode(wrapped)
    assert (w, h, uspf, len(out)) == (4, 3, 40_000, 1)
    assert (out[0] == frames[0]).all()


@pytest.mark.parametrize("name,payload,fn", _payloads(), ids=lambda p: p if isinstance(p, str) else "")
def test_random_mutations_only_raise_valueerror(name, payload, fn):
    rng = random.Random(0xC0DEC)
    for _ in range(600):
        b = bytearray(payload)
        for _ in range(rng.randint(1, 8)):
            op = rng.random()
            if op < 0.5:
                b[rng.randrange(len(b))] = rng.randrange(256)
            elif op < 0.75 and len(b) > 16:
                del b[rng.randrange(len(b))]
            else:
                b.insert(rng.randrange(len(b)), rng.randrange(256))
        _assert_only_valueerror(name, fn, b)
    for _ in range(400):
        _assert_only_valueerror(
            name, fn, bytes(rng.randrange(256) for _ in range(rng.randrange(0, 160)))
        )
