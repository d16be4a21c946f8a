"""R10: chip-grid polygon generation from bboxes (reference
geo_utils.py:166-265 create_grid_polygons).

Given bbox rows, emit one row per complete chip cell covering the bbox:
cell extents stepped by `chip_deg` in each axis, ranges computed with
ceil and clamped to the valid lon/lat domain. Pure column expressions
(sequence × sequence explode) — identical closed form in ANSI SQL, so the
operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_polygons(bboxes: DataFrame, chip_deg: float) -> DataFrame:
    """bboxes(id, minx, miny, maxx, maxy) → one row per chip cell:
    (… , ix, iy, cell_minx, cell_miny, cell_maxx, cell_maxy)."""
    nx = F.ceil((F.col("maxx") - F.col("minx")) / F.lit(chip_deg))
    ny = F.ceil((F.col("maxy") - F.col("miny")) / F.lit(chip_deg))
    out = (
        bboxes.withColumn("ix", F.explode(F.sequence(F.lit(0), F.greatest(nx - 1, F.lit(0)))))
        .withColumn("iy", F.explode(F.sequence(F.lit(0), F.greatest(ny - 1, F.lit(0)))))
        .withColumn("cell_minx", F.col("minx") + F.col("ix") * F.lit(chip_deg))
        .withColumn("cell_miny", F.col("miny") + F.col("iy") * F.lit(chip_deg))
        .withColumn("cell_maxx", F.col("cell_minx") + F.lit(chip_deg))
        .withColumn("cell_maxy", F.col("cell_miny") + F.lit(chip_deg))
    )
    # drop cells beyond the valid domain (reference shrinks ranges > 180/90)
    return out.filter(
        (F.col("cell_maxx") <= 180.0) & (F.col("cell_maxy") <= 90.0)
    )
