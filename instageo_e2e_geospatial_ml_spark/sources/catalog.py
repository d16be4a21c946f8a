"""Granule-catalog operators: the STAC-search equivalent (S7) and band
nameplate mapping (P8).

The reference queries a remote STAC API with (collections, datetime range,
bbox, cloud-cover ceiling, datetime-asc sort) plus rate limiting
(stac_utils.py:320-389). Here the catalog is a table, so the search is a
pure Catalyst filter — pushdown-able, no rate limits, and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# HLS band nameplate (reference settings.py:117-150): collection-specific
# names → common names
HLS_BAND_RENAME = {
    "B02": "blue",
    "B03": "green",
    "B04": "red",
    "B8A": "nir narrow",
    "B11": "swir 1",
    "B12": "swir 2",
    "Fmask": "fmask",
}


def search_granules(
    catalog: DataFrame,
    min_date=None,
    max_date=None,
    bbox: tuple[float, float, float, float] | None = None,
    max_cloud_cover: float | None = None,
    tile_ids: list[str] | None = None,
) -> DataFrame:
    """S7: filter the granule catalog like a STAC search.

    bbox intersects test uses the footprint bbox columns; datetime range is
    inclusive; results sorted datetime-asc (the order J2's tie-break
    depends on).
    """
    out = catalog
    if min_date is not None:
        out = out.filter(F.col("ts") >= F.lit(min_date))
    if max_date is not None:
        out = out.filter(F.col("ts") <= F.lit(max_date))
    if max_cloud_cover is not None:
        out = out.filter(F.col("cloud_cover") <= F.lit(max_cloud_cover))
    if tile_ids:
        out = out.filter(F.col("tile_id").isin(tile_ids))
    if bbox is not None:
        minx, miny, maxx, maxy = bbox
        out = out.filter(
            (F.col("fp_maxx") >= minx)
            & (F.col("fp_minx") <= maxx)
            & (F.col("fp_maxy") >= miny)
            & (F.col("fp_miny") <= maxy)
        )
    return out.orderBy("ts", "granule_id")


def common_band_name(band: Column | str) -> Column:
    """P8: collection band id → common name (HLS_BAND_RENAME) via a
    literal map expression."""
    c = F.col(band) if isinstance(band, str) else band
    pairs = []
    for k, v in HLS_BAND_RENAME.items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.coalesce(F.create_map(*pairs)[c], c)
