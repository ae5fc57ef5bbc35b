"""Image -> H3 tile conversion (the raster_to_dataframe operator on Spark).

Each image row is one work unit inside mapInPandas (the reference tiles a
single raster across a rayon thread pool, h3ronpy/src/raster.rs:126-130;
here parallelism is across *rows/partitions*, which is what scales to
10^12 images on a cluster).  Output: one row per H3 cell whose centroid
falls in a non-nodata pixel: (image_id, cell, px_value, caption).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..sources.images import (
    codec_snapshot,
    decode_image_with,
    transforms_of_phash,
)

# Spark value type per requested tile value kind; the reference converts
# rasters of {u,i}{8,16,32,64}, f32, f64 (h3ronpy/src/raster.rs:210-219) —
# Spark has three numeric widths that losslessly hold them
_VALUE_TYPES = {
    "int": (T.IntegerType(), np.int32),
    "bigint": (T.LongType(), np.int64),
    "double": (T.DoubleType(), np.float64),
}


def tiles_schema(value_type: str = "int") -> T.StructType:
    spark_t, _ = _VALUE_TYPES[value_type]
    return T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("cell", T.LongType(), False),
            T.StructField("px_value", spark_t, False),
            T.StructField("caption", T.StringType(), False),
        ]
    )


TILES_SCHEMA = tiles_schema("int")


def tile_images(
    images: DataFrame,
    res: int,
    nodata=0,
    value_type: str = "int",
) -> DataFrame:
    """images (input_hint schema) -> tiles at H3 `res`.

    value_type: "int" (default; holds {u,i}{8,16} and i32 bands),
    "bigint" ({u,i}32/i64), or "double" (f32/f64 — pass nodata=float('nan')
    for NaN-nodata rasters; NaN pixels are dropped like the reference's
    OrderedFloat NaN handling)."""
    if value_type not in _VALUE_TYPES:
        raise ValueError(f"value_type must be one of {sorted(_VALUE_TYPES)}")
    _, np_t = _VALUE_TYPES[value_type]
    codecs = codec_snapshot()  # plan-build capture: rides the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..h3core.rasterh3 import rasters_to_cells_batch

        for b in batches:
            blobs = b["bytes"].tolist()
            wcol = b["w"].to_numpy(np.int64)
            hcol = b["h"].to_numpy(np.int64)
            fmts = b["fmt"].tolist()
            bands = [
                decode_image_with(
                    codecs, blobs[i], int(wcol[i]), int(hcol[i]), fmts[i]
                )
                for i in range(len(b))
            ]
            tfs = transforms_of_phash(b["phash"].to_numpy(np.int64))
            img_idx, vals, cells = rasters_to_cells_batch(
                bands, tfs, res, nodata_value=nodata
            )
            ids = b["image_id"].to_numpy(dtype=object)
            caps = b["caption"].to_numpy(dtype=object)
            yield pd.DataFrame(
                {
                    "image_id": ids[img_idx],
                    "cell": cells,
                    "px_value": vals.astype(np_t),
                    "caption": caps[img_idx],
                }
            )

    return images.mapInPandas(run, tiles_schema(value_type))
