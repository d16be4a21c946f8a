"""Inverse-distance-weighted (IDW) spatial interpolation — Shepard 1968,
the workhorse gridding method for scattered geospatial observations
(rainfall gauges -> surface, spot samples -> raster band).

Estimate at grid node g from samples within radius R:

    est(g) = sum_i w_i * v_i / sum_i w_i,   w_i = 1 / d(g, i)^2

Engine-exact integer form: coordinates are integer units, d2 is the
exact squared euclidean distance, and the weight is w = SCALE div
max(d2, 1) — the d2 = 0 clamp folds an exact-hit sample in with the
largest representable weight instead of a divide-by-zero special case.
Numerator and denominator are then plain bigint sums (commutative:
shuffle order cannot change them, unlike float IDW) and the estimate is
one floor division at the end, so a second engine reproduces every
output bit.

Neighborhood discovery is the cell-ring pattern (same as knn.py): bucket
samples into R-sized cells, explode each grid node to its 3x3 cell ring,
EQUI-join on the cell id, then filter d2 <= R^2 exactly. No cross join,
no inequality join — the shuffle is keyed and the ring size is a
constant 9, so the plan is two hash joins regardless of data volume.
Sample-density skew lands in the groupBy(node) partial aggregation,
which combines map-side.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IDW_SCALE = 1_000_000_000  # weight of an exact-hit (d2 clamped to 1)


def idw_interpolate(samples: DataFrame, grid: DataFrame, radius: int) -> DataFrame:
    """samples (int coords + int value) x grid nodes -> per-node IDW
    estimate over the exact <= radius disc: (gx, gy, n_samples, sum_w,
    est). Nodes with no sample in range are omitted (inner semantics).
    """
    r2 = radius * radius
    s = samples.select(
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
        F.col("val").cast("long").alias("val"),
    ).withColumns({
        "cellx": F.floor(F.col("px") / radius),
        "celly": F.floor(F.col("py") / radius),
    })
    offs = F.broadcast(
        grid.sparkSession.createDataFrame(
            [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
            "dx long, dy long",
        )
    )
    g = (
        grid.select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
        )
        .crossJoin(offs)
        .select(
            "gx", "gy",
            (F.floor(F.col("gx") / radius) + F.col("dx")).alias("cellx"),
            (F.floor(F.col("gy") / radius) + F.col("dy")).alias("celly"),
        )
    )
    d2 = (F.col("px") - F.col("gx")) * (F.col("px") - F.col("gx")) + (
        F.col("py") - F.col("gy")
    ) * (F.col("py") - F.col("gy"))
    w = F.expr(f"{IDW_SCALE} div greatest(d2, 1L)")
    return (
        g.join(s, ["cellx", "celly"])
        .withColumn("d2", d2)
        .filter(F.col("d2") <= r2)
        .withColumn("w", w)
        .groupBy("gx", "gy")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("w").alias("sum_w"),
            F.sum(F.col("w") * F.col("val")).alias("sum_wv"),
        )
        .select(
            "gx", "gy", "n_samples", "sum_w",
            F.expr("sum_wv div sum_w").alias("est"),
        )
    )
