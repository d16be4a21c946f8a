"""Per-tile spatio-temporal search-window aggregation (A1).

Reference semantics (instageo/data/data_pipeline.py:306-327 `get_tile_info`,
stac_utils.py:241-274 geometry variant): group observations by tile, take
min/max of the expanded query dates and the lon/lat bounding box, widen the
date range by the tolerance, push max to end-of-day, format as
'%Y-%m-%dT%H:%M:%S' strings.

Spark: one groupBy over (already expanded) rows — partial aggregation makes
this a map-side combine + tiny shuffle regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dates import fmt_iso, widen_tolerance


def tile_info(
    obs: DataFrame,
    tile_col: str = "mgrs_tile_id",
    x: str = "x",
    y: str = "y",
    date_col: str = "date",
    num_steps: int = 3,
    temporal_step: int = 5,
    tolerance_days: int = 5,
) -> DataFrame:
    """obs → (tile_id, min_date, max_date, lon_min, lon_max, lat_min, lat_max).

    The expanded query dates per row are {date − i·step, i = 0..num_steps−1}
    — a fixed monotone shift — so min/max over the ×num_steps explode equal
    min(date) − (num_steps−1)·step / max(date) computed WITHOUT the explode
    (guide §2.3: don't multiply rows the aggregate immediately collapses;
    the q03 oracle's `min(l_shipdate) − INTERVAL 15 DAY` is this identity).
    """
    agg = obs.select(tile_col, x, y, date_col).groupBy(
        F.col(tile_col).alias("tile_id")
    ).agg(
        F.timestamp_add(
            "DAY",
            F.lit(-(num_steps - 1) * temporal_step).cast("int"),
            F.min(date_col),
        ).alias("min_date"),
        F.max(date_col).alias("max_date"),
        F.min(x).alias("lon_min"),
        F.max(x).alias("lon_max"),
        F.min(y).alias("lat_min"),
        F.max(y).alias("lat_max"),
    )
    agg = widen_tolerance(agg, "min_date", "max_date", tolerance_days=tolerance_days)
    return agg.withColumn("min_date", fmt_iso("min_date")).withColumn(
        "max_date", fmt_iso("max_date")
    )
