"""Temporal median compositing — the cloud-free mosaic (e.g. the
Landsat/Sentinel "best available pixel" products): for each pixel of a
tile, the median of its valid observations across dates, skipping
masked (cloud/shadow/nodata) samples per pixel.

Median choice: the LOWER median (sorted_valid[(k-1)//2]) — integer-
exact and deterministic, no interpolated half values, so digests pin
the result bit-for-bit (GDAL's median pixel-function makes the same
choice for even counts of integer data).

Plan shape: one groupBy(tile) that ships each tile's date stack to a
single task, then a fully vectorized numpy kernel (sort along the time
axis with invalids pushed to +inf, take_along_axis at the per-pixel
rank). An exact median is a HOLISTIC aggregate — it cannot partially
combine the way sums do — so the stack shuffle is the honest plan; its
volume is #dates x tile bytes, keyed by tile, embarrassingly parallel
across the millions of tiles of a 100 TB archive. (For u8/u16 data a
mergeable per-pixel histogram (256/65536 bins) would restore map-side
combining at a 256x memory factor — worth it only when one tile's
stack exceeds task memory; documented, not implemented.)

Output is one summary row per tile (counts + integer moments + an md5
digest of the composite array) — the rows-only driver contract of the
other pixel kernels; the pytest pins the kernel against a scalar
per-pixel replica.
"""
from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

STACK_SCHEMA = StructType([
    StructField("tile_id", LongType(), False),
    StructField("t", IntegerType(), False),       # date index
    StructField("h", IntegerType(), False),
    StructField("w", IntegerType(), False),
    StructField("px", BinaryType(), False),       # int16 LE, C order
    StructField("valid", BinaryType(), False),    # uint8, 1 = valid
])

COMPOSITE_NODATA = -9999

OUT_SCHEMA = StructType([
    StructField("tile_id", LongType(), False),
    StructField("n_dates", IntegerType(), False),
    StructField("n_px", LongType(), False),
    StructField("n_composited", LongType(), False),  # pixels with >=1 valid
    StructField("sum_median", LongType(), False),    # over composited px
    StructField("composite_digest", StringType(), False),
])


def median_composite(stack: DataFrame) -> DataFrame:
    """STACK_SCHEMA rows (one per tile+date) -> OUT_SCHEMA per-tile
    composite summary. Pixels with zero valid observations emit
    COMPOSITE_NODATA and are excluded from the moments."""

    def compose(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tile = int(key[0])
        pdf = pdf.sort_values("t")
        hh, ww = int(pdf.iloc[0]["h"]), int(pdf.iloc[0]["w"])
        px = np.stack([
            np.frombuffer(r["px"], dtype="<i2").reshape(hh, ww)
            for _, r in pdf.iterrows()
        ]).astype(np.int32)
        valid = np.stack([
            np.frombuffer(r["valid"], dtype=np.uint8).reshape(hh, ww)
            for _, r in pdf.iterrows()
        ]).astype(bool)

        big = np.int32(np.iinfo(np.int16).max) + 1
        vals = np.where(valid, px, big)
        vals.sort(axis=0)                      # invalids sink to the end
        k = valid.sum(axis=0)
        idx = np.maximum(k - 1, 0) // 2        # lower median rank
        med = np.take_along_axis(vals, idx[None, :, :], axis=0)[0]
        med = np.where(k > 0, med, COMPOSITE_NODATA).astype(np.int16)

        composited = int((k > 0).sum())
        return pd.DataFrame({
            "tile_id": [tile],
            "n_dates": [int(len(pdf))],
            "n_px": [int(hh * ww)],
            "n_composited": [composited],
            "sum_median": [int(med[k > 0].astype(np.int64).sum())],
            "composite_digest": [hashlib.md5(med.tobytes()).hexdigest()],
        })

    return stack.groupBy("tile_id").applyInPandas(compose, schema=OUT_SCHEMA)
