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


def tile_info(obs: DataFrame) -> DataFrame:
    """obs → (tile_id, min_date, max_date, lon_min, lon_max, lat_min, lat_max).

    The expanded query dates per row are {date − i·5 days, i = 0..2} (3
    steps of 5 days) — a fixed monotone shift — so min/max over the ×3
    explode equal min(date) − 10 days / max(date) computed WITHOUT the explode
    (guide §2.3: don't multiply rows the aggregate immediately collapses;
    the q03 oracle's `min(l_shipdate) − INTERVAL 15 DAY` is this identity).
    """
    agg = obs.select("mgrs_tile_id", "x", "y", "date").groupBy(
        F.col("mgrs_tile_id").alias("tile_id")
    ).agg(
        F.timestamp_add(
            "DAY",
            F.lit(-10).cast("int"),
            F.min("date"),
        ).alias("min_date"),
        F.max("date").alias("max_date"),
        F.min("x").alias("lon_min"),
        F.max("x").alias("lon_max"),
        F.min("y").alias("lat_min"),
        F.max("y").alias("lat_max"),
    )
    agg = widen_tolerance(agg)
    return agg.withColumn("min_date", fmt_iso("min_date")).withColumn(
        "max_date", fmt_iso("max_date")
    )
