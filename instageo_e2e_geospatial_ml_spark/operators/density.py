"""Tile assignment + density (min_count) filter.

Reference semantics (instageo/data/data_pipeline.py:352-382 `get_tiles`):
assign each observation an MGRS tile id, count observations per tile, keep
only rows whose tile has >= min_count observations.

Spark design: the count-join form the reference uses (groupBy.count +
broadcast join back) and the window form are both provided; the window form
avoids a second scan, the join form avoids a full-data shuffle when the
tile dimension is tiny — at 10^12 rows the groupBy.count side aggregates
map-side to ~#tiles rows and broadcasts, so the big table is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import mgrs_udf


def assign_tiles(obs: DataFrame) -> DataFrame:
    """Add the MGRS precision-0 tile id column `mgrs_tile_id` (vectorized
    UDF), unless obs already carries it."""
    if "mgrs_tile_id" in obs.columns:
        return obs
    return obs.withColumn("mgrs_tile_id", mgrs_udf(F.col("x"), F.col("y")))


def density_filter(
    obs: DataFrame,
    min_count: int,
    key: str = "mgrs_tile_id",
    use_window: bool = False,
    keep_counts: bool = True,
) -> DataFrame:
    """Keep rows whose `key` group has >= min_count rows.

    join form (default, mirrors reference data_pipeline.py:378-380): partial
    (map-side) aggregation → tiny per-tile counts → broadcast hash join, so
    the fact table is never shuffled. window form shuffles the full table by
    `key` — only preferable when a same-key shuffle is reused downstream.
    """
    if use_window:
        w = Window.partitionBy(key)
        out = obs.withColumn("counts", F.count(F.lit(1)).over(w))
    else:
        counts = obs.groupBy(key).agg(F.count(F.lit(1)).alias("counts"))
        out = obs.join(F.broadcast(counts), key, "left")
    out = out.filter(F.col("counts") >= F.lit(min_count))
    return out if keep_counts else out.drop("counts")


_DB_OFF = 1 << 20  # coordinate offset so negative cells stay positive
_DB_K = 1 << 21    # cell-key stride


def grid_dbscan(points: DataFrame, cell_size: int = 64, min_pts: int = 50) -> DataFrame:
    """Grid DBSCAN (the GriDBSCAN / CLIQUE cell-density family): cluster
    DENSE CELLS — cells holding >= min_pts points — by 8-neighborhood
    connectivity. Returns one row per dense cell: (cell_x, cell_y,
    n_points, cluster_id) with cluster_id = min cell key in the
    component; points in sparse cells are noise (not emitted).

    This is the scalable DBSCAN surrogate: point-level DBSCAN needs an
    eps-radius neighbor join over every point, while the grid form
    aggregates points once (map-side partials -> #cells rows) and runs
    all remaining work on the CELL table, which is smaller than the
    input by the mean cell occupancy. Connectivity reuses
    dedup.dedup_clusters' pointer-jumping components (O(log diameter)
    rounds), so a continent-sized dense blob converges without a
    driver-side loop. Edges come from an 8-offset explode + equi-join on
    neighbor key — never a spatial theta join; self-edges keep isolated
    dense cells as their own single-cell clusters.
    """
    from .dedup import dedup_clusters

    cx = F.floor(F.col("px") / F.lit(cell_size)).cast("long")
    cy = F.floor(F.col("py") / F.lit(cell_size)).cast("long")
    cells = (
        points.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .filter(F.col("n_points") >= min_pts)
        .withColumn(
            "key", (F.col("cx") + _DB_OFF) * F.lit(_DB_K) + F.col("cy") + _DB_OFF
        )
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    off = points.sparkSession.createDataFrame(offsets, "dx long, dy long")
    nbr = (
        cells.select("cx", "cy", "key")
        .join(F.broadcast(off))
        .select(
            "key",
            ((F.col("cx") + F.col("dx") + _DB_OFF) * F.lit(_DB_K)
             + F.col("cy") + F.col("dy") + _DB_OFF).alias("nkey"),
        )
    )
    edges = nbr.join(
        cells.select(F.col("key").alias("nkey")), "nkey"
    ).select(F.col("key").alias("doc_a"), F.col("nkey").alias("doc_b"))
    self_edges = cells.select(
        F.col("key").alias("doc_a"), F.col("key").alias("doc_b")
    )
    comp = dedup_clusters(edges.unionByName(self_edges))
    return (
        cells.join(comp.withColumnRenamed("doc_id", "key"), "key")
        .select("cx", "cy", "n_points", F.col("cluster_id"))
    )
