"""Single-core cost of the JPEG codec kernels by batch size.

Times, in microseconds per image, on the perfbench tile_join_jpeg image
corpus (gen_images_jpeg_pdf at that workload's image seed):

  * encode_jpeg_batch_gray, the batch encoder the corpus generator runs;
  * decode_jpeg_batch, the lockstep batch decoder;
  * decode_jpeg, the scalar decoder, called once per image;

at batch sizes 1, 8, 32, 128, 256 and 1024.  A batch of b images is a
run of b consecutive corpus images; successive repeats take successive
runs, so small batches are timed over many different images.  Each cell
is the median over repeats that together cover at least 0.3 s.

Then it prints the decode crossover: the smallest batch size, on a finer
ladder between the two sizes that bracket it, from which the lockstep
decoder costs no more per image than the scalar one.  Single timings on
a shared host swing by tens of percent, so the table and the crossover
are measured over several rounds, and the median crossover of the rounds
is the figure that sets sources.jpeg.LOCKSTEP_MIN_LANES: jpeg_codec_batch
decodes a smaller batch image by image.

Run:  python tools/codec_layers.py [--seed 1] [--rounds 3]   (~10-30 s per round)
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


def scalar(blobs):
    return [J.decode_jpeg(b) for b in blobs]


def crossover(blobs, lo, hi):
    """Smallest batch size in (lo, hi] on a 16-step ladder from which the
    lockstep decoder's µs/image is no more than the scalar decoder's."""
    for b in np.unique(np.linspace(lo, hi, 17).round().astype(int))[1:]:
        lock = per_image_us(J.decode_jpeg_batch, blobs, int(b))
        one = per_image_us(scalar, blobs, int(b))
        print(f"  b={int(b):5d}  lockstep {lock:8.1f}  scalar {one:8.1f}")
        if lock <= one:
            return int(b)
    return None


def one_round(bands, blobs):
    """Print the µs/image table; return the refined crossover (None when
    the lockstep decoder never catches up) and the 1024-image row."""
    print(f"{'batch':>6s} {'encode_batch':>13s} {'decode_batch':>13s} "
          f"{'decode_jpeg':>12s}")
    rows = []
    for b in SIZES:
        enc = per_image_us(J.encode_jpeg_batch_gray, bands, b)
        lock = per_image_us(J.decode_jpeg_batch, blobs, b)
        one = per_image_us(scalar, blobs, b)
        rows.append((b, lock, one))
        print(f"{b:6d} {enc:13.1f} {lock:13.1f} {one:12.1f}")

    below = [b for b, lock, one in rows if lock > one]
    above = [b for b, lock, one in rows if lock <= one]
    if not above:
        print(f"crossover: none up to {max(SIZES)} images")
        return None, rows[-1]
    hi = min(above)
    lo = max([b for b in below if b < hi], default=0)
    print(f"refining the crossover between {lo} and {hi}:")
    x = crossover(blobs, lo, hi)
    print(f"crossover: {x} images")
    return x, rows[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1,
                    help="perfbench run seed the corpus derives from")
    ap.add_argument("--rounds", type=int, default=3,
                    help="measurement rounds the median crossover is taken over")
    args = ap.parse_args()
    image_seed = TileJoinJpeg(args.seed).image_seed
    ids = np.arange(max(SIZES), dtype=np.int64)
    raw = gen_images_pdf(ids, image_seed)
    bands = [
        np.frombuffer(b, np.uint8).reshape(h, w)
        for b, w, h in zip(raw["bytes"], raw["w"], raw["h"])
    ]
    blobs = gen_images_jpeg_pdf(ids, image_seed)["bytes"].tolist()
    J.decode_jpeg_batch(blobs[:8])  # build the cached Huffman LUTs

    print(f"perfbench tile_join_jpeg corpus, seed {args.seed} "
          f"(image seed {image_seed}), single core, µs/image")
    found = []
    wide = []
    for r in range(args.rounds):
        print(f"round {r + 1}/{args.rounds}")
        x, (_b, lock, one) = one_round(bands, blobs)
        found.append(x)
        wide.append(f"{lock:.0f}/{one:.0f}")
    widest = max(SIZES)
    print(f"crossovers: {found}")
    print(f"lockstep/scalar µs/image at {widest} per round: {', '.join(wide)}")
    # a round without a crossover counts as above every measured size
    xs = sorted(widest + 1 if x is None else x for x in found)
    print(f"median crossover: {xs[len(xs) // 2]} images "
          f"(LOCKSTEP_MIN_LANES is {J.LOCKSTEP_MIN_LANES})")


if __name__ == "__main__":
    main()
