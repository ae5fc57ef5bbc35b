"""Deterministic synthetic image+caption table (the north-star input).

Schema per BASELINE.json input_hint:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash long)

Generation is seeded and row-local (splitmix64 of the row id), so any
subset of rows regenerates identically on any executor — the property that
makes resume-from-checkpoint and cross-run comparisons exact.  Georeference
is pinned by FIXTURES.md F1:
  lat = (phash mod 1_700_000)/1e4 - 85
  lng = ((phash >> 20) mod 3_600_000)/1e4 - 180
with a fixed 0.001-degree pixel size, giving each image a GDAL-style
geotransform.  fmt is "raw8": raw row-major uint8, single band (the
container has no image codecs; the decode step is exact, so the
PSNR >= 40 dB invariant holds trivially and is still asserted).
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PIXEL_DEG = 0.001
# the image generators draw both sides from [16, MAX_SIDE_PX]
MAX_SIDE_PX = 64

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix (public-domain splitmix64 constants)."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def phash_of_ids(ids: np.ndarray, seed: int = 42) -> np.ndarray:
    mix = np.uint64((seed * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF)
    return splitmix64(ids.astype(np.uint64) ^ mix)


def georef_of_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pinned phash -> (lat, lng) degrees mapping (FIXTURES.md F1)."""
    u = phash.astype(np.uint64)
    lat = (u % np.uint64(1_700_000)).astype(np.float64) / 1e4 - 85.0
    lng = ((u >> np.uint64(20)) % np.uint64(3_600_000)).astype(np.float64) / 1e4 - 180.0
    return lat, lng


def transforms_of_phash(phash: np.ndarray) -> np.ndarray:
    """(n, 6) affine geotransforms (a, b, c, d, e, f) of the images with
    these phashes: north-up PIXEL_DEG pixels whose top-left corner is
    georef_of_phash's (lng, lat)."""
    lat, lng = georef_of_phash(phash)
    tfs = np.zeros((len(lat), 6))
    tfs[:, 0] = PIXEL_DEG
    tfs[:, 2] = lng
    tfs[:, 4] = -PIXEL_DEG
    tfs[:, 5] = lat
    return tfs


def geometry_of_ids(
    ids: np.ndarray, seed: int = 42
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(phash, w, h) of the images with these ids: the table's phash
    column (int64, the splitmix64 phash with the sign bit cleared, which
    georef_of_phash reads) and the int32 sides, each drawn from
    [16, MAX_SIDE_PX].  A pure function of id and seed, so a reader can
    decide an image's footprint without generating its payload."""
    ph = phash_of_ids(np.asarray(ids, dtype=np.int64), seed)
    w = (16 + (ph % np.uint64(MAX_SIDE_PX - 15))).astype(np.int32)
    h = (16 + ((ph >> np.uint64(8)) % np.uint64(MAX_SIDE_PX - 15))).astype(np.int32)
    return ph.view(np.int64) & np.int64(0x7FFFFFFFFFFFFFFF), w, h


def caption_of_ids(ids: np.ndarray, seed: int = 42) -> list[str]:
    """The caption of each image id: a pure function of id + phash."""
    ph = phash_of_ids(np.asarray(ids, dtype=np.int64), seed)
    return [
        f"caption-{int(i):012d}-{int(p) & 0xFFFFFFFF:08x}"
        for i, p in zip(ids, ph)
    ]


def gen_images_pdf(ids: np.ndarray, seed: int = 42) -> pd.DataFrame:
    """Generate the image rows for the given int64 ids (row-local)."""
    ids = np.asarray(ids, dtype=np.int64)
    # the pixels read the raw phash; the phash column has its sign bit
    # cleared (geometry_of_ids)
    ph = phash_of_ids(ids, seed)
    phash, w, h = geometry_of_ids(ids, seed)
    blobs = []
    for i in range(len(ids)):
        # deterministic pixel grid: value = (x*3 + y*7 + phash) & 0xFF,
        # with a nodata (0) border to exercise nodata filtering
        hh, ww = int(h[i]), int(w[i])
        x = np.arange(ww, dtype=np.uint64)
        y = np.arange(hh, dtype=np.uint64)[:, None]
        band = ((x * np.uint64(3) + y * np.uint64(7) + ph[i]) % np.uint64(255) + np.uint64(1)).astype(np.uint8)
        band[0, :] = 0
        band[:, 0] = 0
        blobs.append(band.tobytes())
    return pd.DataFrame(
        {
            "image_id": [f"img{int(i):012d}" for i in ids],
            "bytes": blobs,
            "w": w,
            "h": h,
            "fmt": "raw8",
            "caption": caption_of_ids(ids, seed),
            "phash": phash,
        }
    )


def _default_parts(spark: SparkSession, n: int) -> int:
    """Size-aware partitioning: ~32+ images per task (the pandas-UDF
    runner costs ~40 ms/task, so fanning a 300-row table to 32 tasks
    triples its wall time), capped at the session parallelism.  Large
    scans pass an explicit count (flagship uses 256)."""
    return max(1, min(spark.sparkContext.defaultParallelism, n // 32))


def synth_images(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic images table: one generation task per
    partition; at 10^12-image scale this is the Iceberg scan stand-in."""
    parts = partitions or _default_parts(spark, n)
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_images_pdf(b["id"].to_numpy(), seed)

    return base.mapInPandas(gen, IMAGES_SCHEMA)


def gen_images_png_pdf(
    ids: np.ndarray, seed: int = 42, filter_type: int | None = 2
) -> pd.DataFrame:
    """gen_images_pdf with PNG-compressed payloads: identical pixels,
    geometry, caption and phash — only `bytes` (zlib/PNG stream) and
    `fmt` differ, so every query over this table must return exactly
    what the raw8 table returns (VERDICT r05 item 2: the real
    compressed codec exercised under load).  filter_type=2 (Up) keeps
    the decoder on its vectorized unfilter path, like a real encoder's
    common choice; None cycles all five filters."""
    from .png import encode_png

    pdf = gen_images_pdf(ids, seed)
    pdf["bytes"] = [
        encode_png(
            np.frombuffer(b, np.uint8).reshape(hh, ww),
            filter_type=filter_type,
        )
        for b, ww, hh in zip(pdf["bytes"], pdf["w"], pdf["h"])
    ]
    pdf["fmt"] = "png"
    return pdf


def synth_images_png(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    partitions: int | None = None,
    filter_type: int | None = 2,
) -> DataFrame:
    """Distributed deterministic PNG images table (fmt='png').  Callers
    must register_png_codec() before building decode-consuming plans."""
    parts = partitions or _default_parts(spark, n)
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_images_png_pdf(b["id"].to_numpy(), seed, filter_type)

    return base.mapInPandas(gen, IMAGES_SCHEMA)


def gen_images_jpeg_pdf(
    ids: np.ndarray, seed: int = 42, quality: int = 93
) -> pd.DataFrame:
    """gen_images_pdf with baseline-JPEG payloads (round 6).  JPEG is
    LOSSY: unlike the PNG twin, decoded pixels differ from raw8 within
    the north-rule PSNR >= 40 dB envelope (pinned at quality 93 for
    this corpus: q93 is the lowest standard-table quality whose worst
    corpus image clears 40 dB — q90 leaves an 11/200 tail at 38-40 dB), so parity gates compare by PSNR, not bit-identity.
    Deterministic: same encoder, same bytes, every run/executor."""
    from .jpeg import encode_jpeg_batch_gray

    pdf = gen_images_pdf(ids, seed)
    # batched encoder: byte-identical to per-image
    # encode_jpeg(band, quality) — pinned by test — with the gather,
    # DCT, quantization and entropy stages run once per 64-image group
    pdf["bytes"] = encode_jpeg_batch_gray(
        [
            np.frombuffer(b, np.uint8).reshape(hh, ww)
            for b, ww, hh in zip(pdf["bytes"], pdf["w"], pdf["h"])
        ],
        quality,
    )
    pdf["fmt"] = "jpeg"
    return pdf


def synth_images_jpeg(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    partitions: int | None = None,
    quality: int = 93,
) -> DataFrame:
    """Distributed deterministic JPEG images table (fmt='jpeg').  Callers
    must register_jpeg_codec() before building decode-consuming plans."""
    parts = partitions or _default_parts(spark, n)
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_images_jpeg_pdf(b["id"].to_numpy(), seed, quality)

    return base.mapInPandas(gen, IMAGES_SCHEMA)


def synth_captions(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """(image_id, caption) ONLY — the column-pruned projection of the
    images table (caption_of_ids; no pixel generation), the stand-in
    for a column-pruned scan of two string columns.  Tests join it to
    rebuild the reference flagship plan.  Let `partitions` default: the
    generator is ~90 ms of Python for 60k rows, so the table belongs in
    one task wave (the ~40 ms/task pandas-runner cost noted at
    _default_parts)."""
    parts = partitions or _default_parts(spark, n)
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    "image_id": [f"img{int(i):012d}" for i in ids],
                    "caption": caption_of_ids(ids, seed),
                }
            )

    return base.mapInPandas(gen, "image_id string, caption string")


# raw (uncompressed, row-major, little-endian) band dtypes — the same
# value-type breadth the reference converts (h3ronpy/src/raster.rs:210-219:
# {u,i}{8,16,32,64}, f32, f64)
RAW_DTYPES = {
    "raw8": np.uint8,
    "raw_u8": np.uint8,
    "raw_i8": np.int8,
    "raw_u16": np.uint16,
    "raw_i16": np.int16,
    "raw_u32": np.uint32,
    "raw_i32": np.int32,
    "raw_u64": np.uint64,
    "raw_i64": np.int64,
    "raw_f32": np.float32,
    "raw_f64": np.float64,
}


# Pluggable codec registry (round-4, VERDICT r03 item 5): a real
# deployment registers libjpeg/libpng/ffmpeg-backed decoders here and
# every operator built on decode_image (tile_images, image features,
# frame sampling) picks them up without modification.  A codec is
# fn(blob, w, h, fmt) -> (h, w[, c]) ndarray.
#
# Distribution: executor Python workers import this module fresh, so a
# registry mutated only on the driver would be invisible to them.  The
# decode-consuming operators therefore capture `codec_snapshot()` into
# their UDF closures at PLAN-BUILD time — cloudpickle ships the decoder
# functions by value (or by module reference when they live in an
# installed package), so driver-side register_codec() calls reach every
# executor with no extra deployment step.
_CODECS: dict = {}


def register_codec(fmt: str, decode_fn) -> None:
    """Register (or replace) a decoder for `fmt`.  decode_fn(blob, w, h,
    fmt) must return a numpy array of shape (h, w) or (h, w, channels)."""
    _CODECS[fmt] = decode_fn


def unregister_codec(fmt: str) -> None:
    _CODECS.pop(fmt, None)


def codec_snapshot() -> dict:
    """The current registry, for capture into a UDF closure (see the
    registry note above)."""
    return dict(_CODECS)


@contextlib.contextmanager
def codecs_overridden(override: dict | None):
    """Register `override` ({fmt: decode_fn}) for the body of the with
    block, then restore each overridden fmt to its previous codec (or
    to unregistered), also when the body raises."""
    prev = codec_snapshot()
    try:
        for fmt, fn in (override or {}).items():
            register_codec(fmt, fn)
        yield
    finally:
        for fmt in override or {}:
            if fmt in prev:
                register_codec(fmt, prev[fmt])
            else:
                unregister_codec(fmt)


def batch_codec_snapshot() -> dict:
    """{}: kept only for perfbench's decode probe (ROADMAP L removes it)."""
    return {}


def decode_images_with(codecs: dict, _ignored, blobs, ws, hs, fmts) -> list:
    """decode_image_with per row; `_ignored` stays only for perfbench's
    decode probe (ROADMAP L removes it)."""
    return [
        decode_image_with(codecs, b, int(w), int(h), f)
        for b, w, h, f in zip(blobs, ws, hs, fmts)
    ]


def _decode_raw(blob: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    a = np.frombuffer(blob, dtype=np.dtype(RAW_DTYPES[fmt]).newbyteorder("<"))
    return a.reshape(int(h), int(w))


def decode_image_with(
    codecs: dict, blob: bytes, w: int, h: int, fmt: str,
    orient: bool = False,
) -> np.ndarray:
    """decode_image against an explicit codec table (a closure-captured
    `codec_snapshot()`), so registrations made on the driver apply on
    executors.

    orient=True additionally applies the EXIF orientation tag (JPEG
    payloads only) so the result is DISPLAY pixels — the convention a
    training-data pipeline wants (PIL exif_transpose parity).  Stored
    pixels (codec parity with libjpeg/GDAL) are the default."""
    fn = codecs.get(fmt)
    if fn is not None:
        arr = fn(blob, w, h, fmt)
    elif fmt in RAW_DTYPES:
        arr = _decode_raw(blob, w, h, fmt)
    else:
        raise NotImplementedError(
            f"codec {fmt!r} not registered and not available in this "
            "environment; register_codec(fmt, fn) plugs a real decoder "
            "in, raw* formats are the deterministic stand-in"
        )
    if orient and fmt == "jpeg":
        from .jpeg import apply_exif_orientation, exif_orientation

        o = exif_orientation(blob)
        if o and o != 1:
            arr = apply_exif_orientation(arr, o)
    return arr


def decode_image(blob: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode the image payload to a (h, w) array of the fmt's dtype.

    raw* formats are exact (row-major little-endian) and built in; any
    other fmt dispatches through the `register_codec` registry.  The
    repo ships pure-Python registry codecs for png, jpeg (baseline +
    progressive, CMYK/YCCK, EXIF), gif (incl. animation sampling),
    tiff/geotiff (strips + tiles, LZW/Deflate/PackBits), bmp (incl.
    RLE8), ico, and pnm — see sources/<fmt>.py, each with a
    register_<fmt>_codec() one-liner.  Formats without a registered
    decoder (e.g. webp/avif, which need a native library) raise a
    clear error instead."""
    return decode_image_with(_CODECS, blob, w, h, fmt)


def gen_images_typed_pdf(
    ids: np.ndarray, fmt: str, seed: int = 42
) -> pd.DataFrame:
    """Typed-band variant of gen_images_pdf: same geometry/georef, pixel
    values in the fmt's dtype; float bands carry a NaN nodata border
    (matching the reference's OrderedFloat/NaN raster semantics,
    h3ronpy/src/raster.rs:186-219), integer bands a 0 border."""
    dt = np.dtype(RAW_DTYPES[fmt])
    ids = np.asarray(ids, dtype=np.int64)
    ph = phash_of_ids(ids, seed)
    phash, w, h = geometry_of_ids(ids, seed)
    blobs = []
    for i in range(len(ids)):
        hh, ww = int(h[i]), int(w[i])
        x = np.arange(ww, dtype=np.uint64)
        y = np.arange(hh, dtype=np.uint64)[:, None]
        raw = ((x * np.uint64(3) + y * np.uint64(7) + ph[i]) % np.uint64(255)
               + np.uint64(1))
        if dt.kind == "f":
            band = (raw.astype(np.float64) / 8.0).astype(dt)
            band[0, :] = np.nan
            band[:, 0] = np.nan
        else:
            band = raw.astype(dt)
            band[0, :] = 0
            band[:, 0] = 0
        blobs.append(band.astype(dt.newbyteorder("<")).tobytes())
    return pd.DataFrame(
        {
            "image_id": [f"img{int(i):012d}" for i in ids],
            "bytes": blobs,
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caption_of_ids(ids, seed),
            "phash": phash,
        }
    )


def synth_images_typed(
    spark: SparkSession,
    n: int,
    fmt: str = "raw_f64",
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic typed-band images table."""
    parts = partitions or _default_parts(spark, n)
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield gen_images_typed_pdf(b["id"].to_numpy(), fmt, seed)

    return base.mapInPandas(gen, IMAGES_SCHEMA)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf for exact match)."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)
