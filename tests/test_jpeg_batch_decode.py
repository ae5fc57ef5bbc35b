"""decode_images_with, the row decoder of the flagship's image kernel,
must return per row exactly what decode_jpeg / decode_image_with return
for that row, including raising the scalar decoder's errors; the
driver's jpeg-path query values depend on the decoded pixels."""

from __future__ import annotations

import numpy as np
import pytest

from h3ronpy_spark.sources.images import (
    codec_snapshot,
    decode_image_with,
    decode_images_with,
    gen_images_jpeg_pdf,
)
from h3ronpy_spark.sources.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
    register_jpeg_codec,
)


def _same(a: np.ndarray, b: np.ndarray) -> bool:
    return a.dtype == b.dtype and a.shape == b.shape and np.array_equal(a, b)


def _decode_rows(blobs):
    """decode_images_with over JPEG rows, geometry read from decode_jpeg."""
    register_jpeg_codec()
    shapes = [decode_jpeg(b).shape for b in blobs]
    return decode_images_with(
        codec_snapshot(), {}, blobs, [s[1] for s in shapes],
        [s[0] for s in shapes], ["jpeg"] * len(blobs),
    )


def test_batch_identical_corpus():
    pdf = gen_images_jpeg_pdf(np.arange(400, dtype=np.int64))
    blobs = pdf["bytes"].tolist()
    ref = [decode_jpeg(b) for b in blobs]
    register_jpeg_codec()
    got = decode_images_with(
        codec_snapshot(), {}, blobs, pdf["w"].tolist(), pdf["h"].tolist(),
        pdf["fmt"].tolist(),
    )
    assert len(got) == 400 and all(_same(a, b) for a, b in zip(ref, got))


def test_batch_identical_edge_cases():
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
    # mixed qualities (distinct quantization tables) in one call
    blobs = [
        encode_jpeg(b, q) for b in bands for q in (93, 75, 25, 5)
    ]
    ref = [decode_jpeg(b) for b in blobs]
    got = _decode_rows(blobs)
    assert all(_same(a, b) for a, b in zip(ref, got))


def test_batch_mixed_fastpath_and_fallback():
    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    rgb = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    blobs = [
        encode_jpeg(gray, 90),                      # baseline gray
        encode_jpeg_progressive(gray, 90),          # SOF2
        encode_jpeg(rgb, 90),                       # 3 components
        encode_jpeg(rgb, 90, subsampling="420"),    # chroma sampling
        encode_jpeg(gray, 40),                      # other table set
    ]
    ref = [decode_jpeg(b) for b in blobs]
    got = _decode_rows(blobs)
    assert all(_same(a, b) for a, b in zip(ref, got))


def test_batch_malformed_raises_like_scalar():
    gray = np.arange(64, dtype=np.uint8).reshape(8, 8)
    good = encode_jpeg(gray, 90)
    register_jpeg_codec()
    codecs = codec_snapshot()
    # header truncation (dies in the marker walk) and entropy-segment
    # truncation (parses fine, overdraws the scan): both must raise the
    # scalar decoder's error through the row decoder
    for cut in (len(good) // 2, len(good) - 6):
        truncated = good[:cut]
        try:
            decode_jpeg(truncated)
            scalar_err = None
        except Exception as e:  # noqa: BLE001 - capture exact type
            scalar_err = type(e)
        assert scalar_err is not None
        with pytest.raises(scalar_err):
            decode_images_with(codecs, {}, [good, truncated], [8, 8],
                               [8, 8], ["jpeg", "jpeg"])
    assert decode_images_with(codecs, {}, [], [], [], []) == []
    assert _same(_decode_rows([good])[0], decode_jpeg(good))


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
def test_batch_overdraw_bound_matches_scalar(nblocks, nbytes):
    blob = _all_ones_stream(nblocks, nbytes)
    register_jpeg_codec()
    rows = (codec_snapshot(), {}, [blob], [8 * nblocks], [8], ["jpeg"])
    if nblocks > 32:
        with pytest.raises(ValueError):
            decode_jpeg(blob)
        with pytest.raises(ValueError):
            decode_images_with(*rows)
    else:
        want = decode_jpeg(blob)
        assert want.shape == (8, 8 * nblocks)
        assert _same(decode_images_with(*rows)[0], want)


def test_decode_images_with_batch_and_override():
    register_jpeg_codec()
    codecs = codec_snapshot()
    pdf = gen_images_jpeg_pdf(np.arange(48, dtype=np.int64))
    blobs = pdf["bytes"].tolist()
    ws = pdf["w"].tolist()
    hs = pdf["h"].tolist()
    fmts = pdf["fmt"].tolist()
    ref = [
        decode_image_with(codecs, blobs[i], ws[i], hs[i], fmts[i])
        for i in range(len(blobs))
    ]
    got = decode_images_with(codecs, {}, blobs, ws, hs, fmts)
    assert len(got) == 48 and all(_same(a, b) for a, b in zip(ref, got))

    # an override replaces the per-image fn: called once per row
    calls = []

    def counting(blob, w, h, fmt):
        calls.append(1)
        return codecs["jpeg"](blob, w, h, fmt)

    over = dict(codecs)
    over["jpeg"] = counting
    got2 = decode_images_with(over, {}, blobs, ws, hs, fmts)
    assert len(calls) == len(blobs)
    assert all(_same(a, b) for a, b in zip(ref, got2))
