"""The caption and geotransform formulas of the synthetic image corpus,
pinned to literal values: every image table, tile_images and both
flagship paths derive captions and georeference from these two helpers,
so a drift in either changes every rollup."""

from __future__ import annotations

import numpy as np
import pytest

from h3ronpy_spark.sources.images import (
    caption_of_ids,
    gen_images_pdf,
    gen_images_typed_pdf,
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
