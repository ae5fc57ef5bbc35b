"""Round-8 gate for the rasters_to_cells_batch restructure: the new
kernel (axial dedupe + constant-face projection + fijk-direct centroid
decode) must produce BYTE-IDENTICAL (img, value, cell) rows — including
order — to the round-7 algorithm on every corpus the driver can see:

  * the 60k-image raw8 bench corpus (flagship / flagship_png pixels),
  * the decoded-JPEG twin of those pixels (flagship_jpeg pixels),
  * the h3_tiling oracle corpus (300 images, seed 42, res 9),
  * the h3_tiling_f64 oracle corpus (150 f64 images, NaN nodata),
  * face-straddling and rotated-geotransform synthetic batches.

Run:  python tools/validate_rasterh3.py          (~2-4 min)
"""

from __future__ import annotations

import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

import numpy as np

from h3ronpy_spark.h3core.rasterh3 import rasters_to_cells_batch
from tests.test_rasterh3_v2 import _reference_round7


def check(name, bands, tfs, res, nodata):
    ref = _reference_round7(bands, tfs, res, nodata)
    new = rasters_to_cells_batch(bands, tfs, res, nodata)
    ok = all(np.array_equal(r, n) for r, n in zip(ref, new))
    print(f"{name:40s} rows={new[2].size:8d}  {'OK' if ok else 'MISMATCH'}")
    if not ok:
        sys.exit(1)


def main():
    from h3ronpy_spark.sources.images import (
        gen_images_jpeg_pdf,
        gen_images_pdf,
        gen_images_typed_pdf,
        transforms_of_phash,
    )
    from h3ronpy_spark.sources.jpeg import decode_jpeg

    # 60k bench corpus in 6k chunks, raw8 pixels
    for c0 in range(0, 60000, 6000):
        ids = np.arange(c0, c0 + 6000, dtype=np.int64)
        pdf = gen_images_pdf(ids)
        bands = [
            np.frombuffer(b, np.uint8).reshape(h, w)
            for b, w, h in zip(pdf["bytes"], pdf["w"], pdf["h"])
        ]
        tfs = transforms_of_phash(pdf["phash"].to_numpy(np.int64))
        check(f"bench raw8 ids {c0}..{c0+6000}", bands, tfs, 9, 0)

    # decoded-JPEG twin pixels (lossy -> different values than raw8)
    for c0 in range(0, 60000, 12000):
        ids = np.arange(c0, c0 + 12000, dtype=np.int64)
        pdf = gen_images_jpeg_pdf(ids)
        bands = [decode_jpeg(b) for b in pdf["bytes"]]
        tfs = transforms_of_phash(pdf["phash"].to_numpy(np.int64))
        check(f"bench jpeg ids {c0}..{c0+12000}", bands, tfs, 9, 0)

    # h3_tiling oracle corpus (300 images seed 42, res 9)
    pdf = gen_images_pdf(np.arange(300, dtype=np.int64))  # seed 42 ids 0..300
    bands = [
        np.frombuffer(b, np.uint8).reshape(h, w)
        for b, w, h in zip(pdf["bytes"], pdf["w"], pdf["h"])
    ]
    tfs = transforms_of_phash(pdf["phash"].to_numpy(np.int64))
    check("h3_tiling oracle corpus (300)", bands, tfs, 9, 0)

    # h3_tiling_f64 oracle corpus (150 f64 seed 11, NaN nodata)
    pdf = gen_images_typed_pdf(np.arange(150, dtype=np.int64), "raw_f64",
                               seed=11)
    bands = [
        np.frombuffer(b, np.float64).reshape(h, w)
        for b, w, h in zip(pdf["bytes"], pdf["w"], pdf["h"])
    ]
    tfs = transforms_of_phash(pdf["phash"].to_numpy(np.int64))
    check("h3_tiling_f64 oracle corpus (150)", bands, tfs, 9,
          float("nan"))

    # adversarial: face straddling, rotated, coarse res
    rng = np.random.default_rng(7)
    bands = []
    tfs = np.zeros((1000, 6))
    for i in range(1000):
        h, w = int(rng.integers(16, 65)), int(rng.integers(16, 65))
        band = rng.integers(0, 256, (h, w)).astype(np.uint8)
        band[0, :] = 0
        bands.append(band)
        tfs[i] = (0.02, 0.0, rng.uniform(-179, 177), 0.0, -0.02,
                  rng.uniform(-84, 85))
    check("face-straddling res6 (1000)", bands, tfs, 6, 0)
    bands = []
    tfs = np.zeros((200, 6))
    for i in range(200):
        bands.append(rng.integers(1, 256, (30, 40)).astype(np.uint8))
        tfs[i] = (0.001, 0.0002, rng.uniform(-170, 170), 0.0001, -0.001,
                  rng.uniform(-80, 80))
    check("rotated transforms (200)", bands, tfs, 9, 0)
    print("ALL IDENTICAL")


if __name__ == "__main__":
    main()
