"""Python UDTFs (Spark 4 table functions) — the §2.10 "UDTF-like" surface
as REAL UDTFs.

The engine's production path expresses row-expansion with JVM-side
sequence×explode (operators/gridgen.py — the scale path, whole-stage
codegen); this module provides the same semantics as a registered table
function for users who compose pipelines in SQL:

    SELECT * FROM grid_chips(TABLE(bboxes), 0.5)

Kept semantically identical to grid_polygons (one row per complete chip
cell, ceil ranges, 180/90 domain clamp) so either form can back R10.
"""

from __future__ import annotations

import math

from pyspark.sql.functions import udtf


@udtf(
    returnType=(
        "bbox_id bigint, ix int, iy int, "
        "cell_minx double, cell_miny double, cell_maxx double, cell_maxy double"
    )
)
class GridChips:
    """Expand one bbox row into its chip-cell rows (grid_polygons twin)."""

    def eval(self, row, chip_deg):  # noqa: D102
        # TABLE(...) input arrives as one Row argument + trailing scalars
        bbox_id, minx, miny, maxx, maxy = (
            row["bbox_id"], row["minx"], row["miny"], row["maxx"], row["maxy"]
        )
        chip_deg = float(chip_deg)  # SQL literals arrive as Decimal
        nx = max(int(math.ceil((maxx - minx) / chip_deg)), 1)
        ny = max(int(math.ceil((maxy - miny) / chip_deg)), 1)
        for ix in range(nx):
            cminx = minx + ix * chip_deg
            cmaxx = cminx + chip_deg
            if cmaxx > 180.0:
                continue
            for iy in range(ny):
                cminy = miny + iy * chip_deg
                cmaxy = cminy + chip_deg
                if cmaxy > 90.0:
                    continue
                yield bbox_id, ix, iy, cminx, cminy, cmaxx, cmaxy


def register_udtfs(spark) -> None:
    """Register the table functions for SQL use."""
    spark.udtf.register("grid_chips", GridChips)
