"""The caption, geometry and geotransform formulas of the synthetic
image corpus, pinned to literal values: every image table, tile_images
and both flagship paths derive captions, sizes and georeference from
these helpers, and the fused flagship decides which images to generate
from geometry_of_ids alone, so a drift in any of them changes every
rollup."""

from __future__ import annotations

import numpy as np
import pytest

from h3ronpy_spark.sources.images import (
    caption_of_ids,
    gen_images_pdf,
    gen_images_typed_pdf,
    geometry_of_ids,
    phash_of_ids,
    transforms_of_phash,
)

IDS = np.array([0, 123456789, 2**40 + 7], dtype=np.int64)
CAPTIONS = {
    42: ["caption-000000000000-9a07c40b",
         "caption-000123456789-5d9052b4",
         "caption-1099511627783-0393b827"],
    7: ["caption-000000000000-102ecf73",
        "caption-000123456789-fdab7cb0",
        "caption-1099511627783-fe694069"],
}


@pytest.mark.parametrize("seed", [42, 7])
def test_caption_of_ids_literal(seed):
    assert caption_of_ids(IDS, seed) == CAPTIONS[seed]
    assert list(gen_images_pdf(IDS, seed)["caption"]) == CAPTIONS[seed]
    assert (list(gen_images_typed_pdf(IDS, "raw_f32", seed)["caption"])
            == CAPTIONS[seed])

# (phash column, w, h) per seed.  Seed 42's ids 0 and 2**40 + 7 and
# seed 7's ids 123456789 and 2**40 + 7 have the splitmix64 sign bit set,
# so the column value differs from the raw phash there.
GEOMETRY = {
    42: ([8152469300490781707, 1878545532072252084, 4533058112329070631],
         [45, 29, 51], [31, 32, 29]),
    7: ([1311325525161987955, 6255809214513118384, 2600243505291411561],
        [62, 22, 39], [32, 54, 62]),
}


@pytest.mark.parametrize("seed", [42, 7])
def test_geometry_of_ids_literal(seed):
    phash, w, h = geometry_of_ids(IDS, seed)
    assert (phash.dtype, w.dtype, h.dtype) == (np.int64, np.int32, np.int32)
    assert (phash.tolist(), w.tolist(), h.tolist()) == GEOMETRY[seed]
    # the sign bit is cleared, never the low bits georef_of_phash reads
    raw = phash_of_ids(IDS, seed).view(np.int64)
    assert (raw < 0).any()
    assert (phash == raw & np.int64(0x7FFFFFFFFFFFFFFF)).all()


@pytest.mark.parametrize("seed", [42, 7])
def test_geometry_of_ids_is_the_table_columns(seed):
    ids = np.concatenate([np.arange(3000, dtype=np.int64), IDS])
    phash, w, h = geometry_of_ids(ids, seed)
    for pdf in (gen_images_pdf(ids, seed),
                gen_images_typed_pdf(ids, "raw_u16", seed)):
        assert (pdf["phash"].to_numpy() == phash).all()
        assert (pdf["w"].to_numpy() == w).all()
        assert (pdf["h"].to_numpy() == h).all()


def test_transforms_of_phash_literal():
    # the table's phash column: the splitmix64 phash with the sign bit
    # cleared
    ph = phash_of_ids(np.array([123456789]), 42).view(np.int64)
    ph &= np.int64(0x7FFFFFFFFFFFFFFF)
    tfs = transforms_of_phash(ph)
    assert tfs.shape == (1, 6)
    assert tfs[0].tolist() == [0.001, 0.0, 42.613699999999994, 0.0,
                               -0.001, 70.20840000000001]
    assert transforms_of_phash(ph[:0]).shape == (0, 6)
