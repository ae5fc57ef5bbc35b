"""Round-8: encode_jpeg_batch_gray must be byte-identical per image to
encode_jpeg — the corpus generators now use it, and every declared
JPEG-path query value depends on those bytes."""

from __future__ import annotations

import numpy as np
import pytest

import h3ronpy_spark.sources.jpeg as J
from h3ronpy_spark.sources.jpeg import (
    ENCODE_GROUP,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_batch_gray,
)


def _serial_jpeg(band: np.ndarray, quality: int) -> bytes:
    """encode_jpeg's greyscale stream rebuilt from np.pad(mode="edge")
    block extraction and the serial _BitWriter oracle."""
    q_lum, _ = J._quality_tables(quality)
    h, w = band.shape
    comp = np.pad(band.astype(np.float64), ((0, -h % 8), (0, -w % 8)),
                  mode="edge")
    blocks = (
        comp.reshape(comp.shape[0] // 8, 8, comp.shape[1] // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    coef = J._D @ (blocks - 128.0) @ J._D.T
    qz = np.round(coef / q_lum).astype(np.int32).reshape(-1, 64)
    writer = J._BitWriter()
    J._encode_component_blocks(qz[:, J._ZIGZAG], writer, J._ENC_DC[0],
                               J._ENC_AC[0], 0)
    return J._gray_header(h, w, q_lum) + writer.flush() + b"\xff\xd9"


def _corpus_bands(n: int) -> list:
    from h3ronpy_spark.sources.images import gen_images_pdf

    pdf = gen_images_pdf(np.arange(n, dtype=np.int64))
    return [
        np.frombuffer(b, np.uint8).reshape(h, w)
        for b, w, h in zip(pdf["bytes"], pdf["w"], pdf["h"])
    ]


def _check_corpus(n: int) -> None:
    bands = _corpus_bands(n)
    for q in (93, 75, 50):
        ref = [encode_jpeg(b, q) for b in bands]
        got = encode_jpeg_batch_gray(bands, q)
        assert len(got) == n
        assert all(a == b for a, b in zip(ref, got))
    assert got == [_serial_jpeg(b, 50) for b in bands]


def test_batch_identical_corpus():
    _check_corpus(400)


# group boundaries: one past one group, and one past 4 and 8 groups
@pytest.mark.parametrize("n", [ENCODE_GROUP + 1, 257, 513])
def test_batch_identical_across_groups(n):
    _check_corpus(n)


def test_batch_identical_edge_cases():
    rng = np.random.default_rng(5)
    bands = [
        np.zeros((8, 8), np.uint8),                    # all-zero DC only
        np.full((9, 17), 255, np.uint8),               # constant, padded
        np.arange(256, dtype=np.uint8).reshape(16, 16),
        rng.integers(0, 256, (64, 64)).astype(np.uint8),  # dense ACs
        np.eye(24, 40, dtype=np.uint8) * 255,          # long zero runs (ZRL)
        rng.integers(0, 2, (33, 63)).astype(np.uint8) * 255,
        np.full((1, 1), 7, np.uint8),                  # 1x1, one block
        np.tile(np.arange(64, dtype=np.uint8) * 4, (64, 1)),  # 64x64 ramp
        # 64x64 checkerboard: ~10% of its quality-100 scan bytes are
        # 0xFF, each stuffed with a 0x00
        (np.indices((64, 64)).sum(0) % 2 * 255).astype(np.uint8),
    ]
    for q in (93, 25, 5, 1, 100):
        ref = [encode_jpeg(b, q) for b in bands]
        got = encode_jpeg_batch_gray(bands, q)
        assert all(a == b for a, b in zip(ref, got))
        assert got == [_serial_jpeg(b, q) for b in bands]
    checker = encode_jpeg_batch_gray(bands[-1:], 100)[0]
    assert checker.count(b"\xff\x00") > 200
    # and the streams decode back
    for b, blob in zip(bands, encode_jpeg_batch_gray(bands, 93)):
        assert decode_jpeg(blob).shape == b.shape


def test_batch_empty_and_single():
    assert encode_jpeg_batch_gray([]) == []
    for empty in (np.zeros((0, 5), np.uint8), np.zeros((3, 0), np.uint8)):
        with pytest.raises(ValueError):
            encode_jpeg(empty)
        with pytest.raises(ValueError):
            encode_jpeg_batch_gray([empty])
    b = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert encode_jpeg_batch_gray([b], 80)[0] == encode_jpeg(b, 80)
