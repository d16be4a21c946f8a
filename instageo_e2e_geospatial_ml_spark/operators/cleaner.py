"""Chip-table cleaning operators (reference instageo/data/data_cleaner.py).

Operate on the chip table produced by operators.chips (binary pixel
payloads) via mapInPandas — one pass, no regrouping:

  * no-data ratio drop (R12, data_cleaner.py:117-140): drop chips whose
    share of no-data pixels (any/all across bands) exceeds a threshold;
  * label buffering (R13, data_cleaner.py:143-200): dilate valid seg
    pixels by a square window, then re-invalidate where the chip itself is
    all-no-data;
  * label limiting (R14, data_cleaner.py:203-268): keep only seg pixels at
    the exact observation locations (undo the stamping window).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs
from .chips import SEG_NDV


def _decode_chip(r) -> np.ndarray:
    return codecs.decode(
        bytes(r["chip"]), int(r["chip_size"]), int(r["chip_size"]), int(r["n_bands"]),
        r["chip_fmt"],
    )


def _decode_seg(r) -> np.ndarray:
    cs = int(r["chip_size"])
    return np.frombuffer(bytes(r["seg"]), dtype="<i2").reshape(cs, cs)


def nodata_ratio(chip: np.ndarray, ndv: float, strategy: str = "any") -> float:
    """R12: share of pixels that are no-data in ANY band ('any') or ALL
    bands ('all') — reference data_cleaner.py:117-140."""
    nd = chip == ndv
    collapsed = nd.any(axis=0) if strategy == "any" else nd.all(axis=0)
    return float(collapsed.mean())


def dilate_labels(seg: np.ndarray, window: int) -> np.ndarray:
    """R13 kernel: each labeled pixel stamps its label into a
    (2w+1)² neighborhood (later pixels win, matching the stamping order of
    the original rasterizer)."""
    out = seg.copy()
    h, w = seg.shape
    rows, cols = np.nonzero(seg != SEG_NDV)
    offsets = np.arange(-window, window + 1)
    orow, ocol = np.meshgrid(offsets, offsets)
    rr = np.clip(rows[:, None, None] + orow, 0, h - 1)
    cc = np.clip(cols[:, None, None] + ocol, 0, w - 1)
    vals = np.repeat(seg[rows, cols], orow.size)
    out[rr.ravel(), cc.ravel()] = vals
    return out


def clean_chip_table(
    chips: DataFrame,
    max_nodata_ratio: float | None = 0.5,
    buffer_window: int = 0,
) -> DataFrame:
    """R12 (+ optional R13) over the chip table; returns the table with a
    recomputed seg payload, n_label_px and nodata_ratio columns, rows
    above the threshold dropped."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    fields = list(chips.schema.fields)
    if "nodata_ratio" not in chips.columns:
        # fresh StructType — StructType.add would mutate the input
        # DataFrame's cached schema object
        fields = fields + [StructField("nodata_ratio", DoubleType())]
    schema = StructType(fields)

    out_cols = [f.name for f in schema.fields]

    def clean(it):
        for pdf in it:
            keep_rows = []
            for _, r in pdf.iterrows():
                chip = _decode_chip(r)
                ratio = nodata_ratio(chip, 0, "any")
                if max_nodata_ratio is not None and ratio > max_nodata_ratio:
                    continue
                row = dict(r)
                if buffer_window > 0:
                    seg = dilate_labels(_decode_seg(r), buffer_window)
                    # re-invalidate where the chip has no data in all bands
                    all_nd = (chip == 0).all(axis=0)
                    seg = np.where(all_nd, SEG_NDV, seg)
                    row["seg"] = seg.astype("<i2").tobytes()
                    row["n_label_px"] = int((seg != SEG_NDV).sum())
                row["nodata_ratio"] = ratio
                keep_rows.append(row)
            yield pd.DataFrame(keep_rows, columns=out_cols)

    return chips.mapInPandas(clean, schema)


def mask_label_with_chip(
    chip: np.ndarray,
    seg: np.ndarray,
    bands_per_step: int = 6,
) -> tuple[np.ndarray, bool]:
    """R15 consumer-side QA (reference model/dataloader.py:753-781):
    take the FIRST band of each timestep (stride bands_per_step), a pixel
    is valid only if non-ndv in all of them; labels at invalid pixels →
    NaN; returns (masked float label array, all_nan flag)."""
    num_steps = max(1, chip.shape[0] // bands_per_step)
    stacked = chip[[bands_per_step * i for i in range(num_steps)]]
    valid = (stacked != 0).all(axis=0)
    label = seg.astype(np.float64)
    label[seg == SEG_NDV] = np.nan
    label[~valid] = np.nan
    return label, bool(np.all(np.isnan(label)))


def consumer_qa_filter(chips: DataFrame, bands_per_step: int = 6) -> DataFrame:
    """Drop chip rows whose R15-masked label is all-NaN (one Arrow pass)."""

    def qa(it):
        for pdf in it:
            keep = []
            for i, r in pdf.iterrows():
                chip = _decode_chip(r)
                seg = _decode_seg(r)
                _m, all_nan = mask_label_with_chip(chip, seg, bands_per_step)
                if not all_nan:
                    keep.append(i)
            yield pdf.loc[keep]

    return chips.mapInPandas(qa, chips.schema)


def limit_labels_to_observations(
    records: DataFrame, images: DataFrame, **extract_kwargs
) -> DataFrame:
    """R14: keep labels only at the exact observation pixels (reference
    data_cleaner.py:203-268) — semantically a re-rasterization with
    window_size=0, so it reuses the extraction operator (idempotent,
    checkpoint-resumable) rather than a second stateful pass over stamped
    windows."""
    from .chips import extract_chips

    extract_kwargs["window_size"] = 0
    return extract_chips(records, images, **extract_kwargs)
