"""Single-core cost of the JPEG codec kernels by batch size.

Times, in microseconds per image, on the perfbench tile_join_jpeg image
corpus (gen_images_jpeg_pdf at that workload's image seed):

  * encode_jpeg_batch_gray, the batch encoder the corpus generator runs;
  * decode_jpeg, the decoder, called once per image;

at batch sizes 1, 8, 32, 128, 256 and 1024.  A batch of b images is a
run of b consecutive corpus images; successive repeats take successive
runs, so small batches are timed over many different images.  Each cell
is the median over repeats that together cover at least 0.3 s.  Single
timings on a shared host swing by tens of percent: compare several
seeds before reading a change into one table.

Run:  python tools/codec_layers.py [--seed 1]   (~10-30 s)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")
sys.path.insert(0, __file__.rsplit("/", 2)[0])

import numpy as np

from h3ronpy_spark.sources import jpeg as J
from h3ronpy_spark.sources.images import gen_images_jpeg_pdf, gen_images_pdf
from perfbench.workloads import TileJoinJpeg

SIZES = (1, 8, 32, 128, 256, 1024)
MIN_SECONDS = 0.3


def per_image_us(fn, items, b):
    """Median µs/image of fn(batch) over successive b-image runs of
    `items`, repeated until MIN_SECONDS have passed (at least 3 runs)."""
    times = []
    spent = 0.0
    r = 0
    while len(times) < 3 or spent < MIN_SECONDS:
        lo = (r * b) % (len(items) - b + 1)
        batch = items[lo : lo + b]
        t0 = time.perf_counter()
        fn(batch)
        dt = time.perf_counter() - t0
        times.append(dt)
        spent += dt
        r += 1
    return float(np.median(times)) / b * 1e6


def decode_each(blobs):
    return [J.decode_jpeg(b) for b in blobs]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1,
                    help="perfbench run seed the corpus derives from")
    args = ap.parse_args()
    image_seed = TileJoinJpeg(args.seed).image_seed
    ids = np.arange(max(SIZES), dtype=np.int64)
    raw = gen_images_pdf(ids, image_seed)
    bands = [
        np.frombuffer(b, np.uint8).reshape(h, w)
        for b, w, h in zip(raw["bytes"], raw["w"], raw["h"])
    ]
    blobs = gen_images_jpeg_pdf(ids, image_seed)["bytes"].tolist()
    decode_each(blobs[:8])  # build the cached Huffman LUTs

    print(f"perfbench tile_join_jpeg corpus, seed {args.seed} "
          f"(image seed {image_seed}), single core, µs/image")
    print(f"{'batch':>6s} {'encode_batch':>13s} {'decode_jpeg':>12s}")
    for b in SIZES:
        enc = per_image_us(J.encode_jpeg_batch_gray, bands, b)
        dec = per_image_us(decode_each, blobs, b)
        print(f"{b:6d} {enc:13.1f} {dec:12.1f}")


if __name__ == "__main__":
    main()
