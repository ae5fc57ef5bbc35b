"""Round-8: decode_jpeg_batch must be element-identical per image to
decode_jpeg — the fused flagship's jpeg leg decodes through it, and the
driver's jpeg-path query values depend on the decoded pixels."""

from __future__ import annotations

import numpy as np
import pytest

import h3ronpy_spark.sources.jpeg as J
from h3ronpy_spark.sources.jpeg import (
    LOCKSTEP_MIN_LANES,
    decode_jpeg,
    decode_jpeg_batch,
    encode_jpeg,
    encode_jpeg_progressive,
    jpeg_codec_batch,
)


def _same(a: np.ndarray, b: np.ndarray) -> bool:
    return a.dtype == b.dtype and a.shape == b.shape and np.array_equal(a, b)


@pytest.fixture
def lanes(monkeypatch):
    """The lane count of every _entropy_decode_gray_lockstep call."""
    seen: list = []
    real = J._entropy_decode_gray_lockstep

    def spy(datas, *args):
        seen.append(len(datas))
        return real(datas, *args)

    monkeypatch.setattr(J, "_entropy_decode_gray_lockstep", spy)
    return seen


def test_batch_identical_corpus(lanes):
    from h3ronpy_spark.sources.images import gen_images_jpeg_pdf

    pdf = gen_images_jpeg_pdf(np.arange(400, dtype=np.int64))
    blobs = pdf["bytes"].tolist()
    ref = [decode_jpeg(b) for b in blobs]
    for chunk in (400, 64, 7):  # incl. uneven multi-chunk splits
        lanes.clear()
        got = decode_jpeg_batch(blobs, chunk=chunk)
        assert all(_same(a, b) for a, b in zip(ref, got))
        # ceil(400 / chunk) balanced chunks: no few-lane tail
        assert len(lanes) == -(-400 // chunk) and sum(lanes) == 400
        assert max(lanes) - min(lanes) <= 1


def test_batch_identical_edge_cases(lanes):
    rng = np.random.default_rng(5)
    bands = [
        np.zeros((8, 8), np.uint8),                    # all-zero DC only
        np.full((9, 17), 255, np.uint8),               # constant, padded
        np.arange(256, dtype=np.uint8).reshape(16, 16),
        rng.integers(0, 256, (64, 64)).astype(np.uint8),  # dense ACs
        np.eye(24, 40, dtype=np.uint8) * 255,          # long zero runs (ZRL)
        rng.integers(0, 2, (33, 63)).astype(np.uint8) * 255,
        rng.integers(0, 256, (7, 200)).astype(np.uint8),  # wide strip
        rng.integers(0, 256, (200, 7)).astype(np.uint8),  # tall strip
    ]
    # mixed qualities in ONE batch: distinct quantization tables force
    # the per-table-set grouping path
    blobs = [
        encode_jpeg(b, q) for b in bands for q in (93, 75, 25, 5)
    ]
    ref = [decode_jpeg(b) for b in blobs]
    got = decode_jpeg_batch(blobs, chunk=5)
    assert all(_same(a, b) for a, b in zip(ref, got))
    assert lanes and sum(lanes) == len(blobs)


def test_batch_mixed_fastpath_and_fallback(lanes):
    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    rgb = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    blobs = [
        encode_jpeg(gray, 90),                      # fast path
        encode_jpeg_progressive(gray, 90),          # scalar: SOF2
        encode_jpeg(rgb, 90),                       # scalar: 3 components
        encode_jpeg(rgb, 90, subsampling="420"),    # scalar: sampling
        encode_jpeg(gray, 40),                      # fast path, other table set
    ]
    ref = [decode_jpeg(b) for b in blobs]
    got = decode_jpeg_batch(blobs)
    assert all(_same(a, b) for a, b in zip(ref, got))
    assert lanes == [1, 1]  # one lane per table set


def test_batch_malformed_raises_like_scalar():
    gray = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = encode_jpeg(gray, 90)
    # header truncation (dies in the marker walk) and entropy-segment
    # truncation (parses fine, overdraws in the lockstep loop -> bad ->
    # scalar fallback raises): both must raise the scalar path's error
    for cut in (len(good) // 2, len(good) - 6):
        truncated = good[:cut]
        try:
            decode_jpeg(truncated)
            scalar_err = None
        except Exception as e:  # noqa: BLE001 - capture exact type
            scalar_err = type(e)
        assert scalar_err is not None
        with pytest.raises(scalar_err):
            decode_jpeg_batch([good, truncated])
        # a batch below LOCKSTEP_MIN_LANES takes the scalar path
        with pytest.raises(scalar_err):
            jpeg_codec_batch([good, truncated], [8, 8], [8, 8], "jpeg")
    assert decode_jpeg_batch([]) == []
    assert _same(decode_jpeg_batch([good])[0], decode_jpeg(good))


def _all_ones_stream(nblocks: int, nbytes: int) -> bytes:
    """A 8 x (8 * nblocks) gray baseline stream whose one-bit Huffman
    codes make every all-ones bit string valid: DC "1" is size 0, AC "1"
    is EOB, so each block is two 1-bits.  The entropy segment holds
    `nbytes` 0xFF bytes (4 blocks each); the remaining blocks can only
    come from the reader's 0xFF overdraw pad, which never runs into an
    invalid code."""
    import struct

    def seg(marker, body):
        return b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body

    bits = bytes([2] + [0] * 15)
    return (
        b"\xff\xd8"
        + seg(0xDB, b"\x00" + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 8 * nblocks, 1) + b"\x01\x11\x00")
        + seg(0xC4, b"\x00" + bits + b"\x01\x00" + b"\x10" + bits + b"\x01\x00")
        + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00")
        + b"\xff\x00" * nbytes
        + b"\xff\xd9"
    )


@pytest.mark.parametrize(
    "nblocks,nbytes",
    # the scalar reader decodes at most 32 * ((nbytes + 8) // 4) - 32
    # bits: 32 blocks for 4 or 5 data bytes
    [(32, 4), (33, 4), (40, 4), (48, 4), (32, 5), (34, 5), (36, 5)],
)
def test_batch_overdraw_bound_matches_scalar(nblocks, nbytes, lanes):
    blob = _all_ones_stream(nblocks, nbytes)
    try:
        want = decode_jpeg(blob)
    except ValueError:
        want = None
    assert (want is None) == (nblocks > 32)
    if want is None:
        with pytest.raises(ValueError):
            decode_jpeg_batch([blob])
    else:
        assert _same(decode_jpeg_batch([blob])[0], want)
    assert lanes == [1]


def test_decode_images_with_batch_and_override(lanes):
    _check_decode_images_with(48, lanes)


@pytest.mark.parametrize(
    "n",
    [1, LOCKSTEP_MIN_LANES - 1, LOCKSTEP_MIN_LANES, LOCKSTEP_MIN_LANES + 1],
)
def test_decode_images_with_lane_counts(n, lanes):
    _check_decode_images_with(n, lanes)


def _check_decode_images_with(n, lanes):
    from h3ronpy_spark.sources.images import (
        batch_codec_snapshot,
        codec_snapshot,
        decode_image_with,
        decode_images_with,
        gen_images_jpeg_pdf,
    )
    from h3ronpy_spark.sources.jpeg import register_jpeg_codec

    register_jpeg_codec()
    codecs = codec_snapshot()
    batch = batch_codec_snapshot()
    pdf = gen_images_jpeg_pdf(np.arange(n, dtype=np.int64))
    blobs = pdf["bytes"].tolist()
    ws = pdf["w"].tolist()
    hs = pdf["h"].tolist()
    fmts = pdf["fmt"].tolist()
    ref = [
        decode_image_with(codecs, blobs[i], ws[i], hs[i], fmts[i])
        for i in range(len(blobs))
    ]
    got = decode_images_with(codecs, batch, blobs, ws, hs, fmts)
    assert len(got) == n and all(_same(a, b) for a, b in zip(ref, got))
    # the lockstep decoder runs from LOCKSTEP_MIN_LANES images on
    assert sum(lanes) == (n if n >= LOCKSTEP_MIN_LANES else 0)

    # an override replaces the per-image fn -> batch path must disable
    calls = []

    def counting(blob, w, h, fmt):
        calls.append(1)
        return codecs["jpeg"](blob, w, h, fmt)

    over = dict(codecs)
    over["jpeg"] = counting
    got2 = decode_images_with(over, batch, blobs, ws, hs, fmts)
    assert len(calls) == len(blobs)
    assert all(_same(a, b) for a, b in zip(ref, got2))
