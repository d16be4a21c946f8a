"""Geographically-coherent train/val/test splitting (reference data_splitter.py).

Implemented Spark-first:
  * group observations by a spatial key (MGRS tile or grid cell — the
    reference's connected-components/KMeans stage reduces to a grouping key);
  * A9: per-group size + mean year (data_splitter.py:736-742);
  * W4/A8: greedy cumulative packing — groups ordered by avg_year desc are
    assigned to test until the target fraction is reached, then val, then
    train (data_splitter.py:729-810) — expressed as a running
    `sum() over (order by ...)` window, not a driver loop.

The cumulative window runs over the per-group table (#groups rows, tiny),
so the single-partition window is safe at any observation scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_stats(obs: DataFrame, group_col: str) -> DataFrame:
    return obs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.avg("year").alias("avg_year"),
    )


def greedy_split_assign(
    groups: DataFrame,
    group_col: str,
    test_frac: float = 0.1,
    val_frac: float = 0.1,
) -> DataFrame:
    """Assign each group to train/val/test by cumulative size packing,
    most-recent (avg_year desc) groups first. Deterministic: ties broken by
    group key."""
    w = Window.orderBy(F.col("avg_year").desc(), F.col(group_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = groups.agg(F.sum("group_size")).collect()[0][0] or 0
    cum = groups.withColumn("cum_size", F.sum("group_size").over(w))
    return cum.withColumn(
        "split",
        F.when(F.col("cum_size") <= F.lit(test_frac * total), F.lit("test"))
        .when(F.col("cum_size") <= F.lit((test_frac + val_frac) * total), F.lit("val"))
        .otherwise(F.lit("train")),
    )


def split_dataset(
    obs: DataFrame,
    test_frac: float = 0.1,
    val_frac: float = 0.1,
) -> DataFrame:
    """obs + `split` column via geographic group packing (J6: membership
    join back — a broadcast of the tiny group table)."""
    assign = greedy_split_assign(
        group_stats(obs, "mgrs_tile_id"), "mgrs_tile_id", test_frac, val_frac
    ).select("mgrs_tile_id", "split")
    return obs.join(F.broadcast(assign), "mgrs_tile_id", "left")
