"""Geographic split strategies (reference instageo/data/data_splitter.py).

Strategy cascade (data_splitter.py:953-1039): KMeans over standardized
tile lat/lon → haversine connected components (≤ threshold km BFS) → year
groups → random split. Group assignment + greedy packing run in Spark
(operators.split); the strategy step itself clusters the TILE table —
thousands of rows at planetary scale — so it runs as seeded numpy on the
aggregated per-tile table (a broadcastable dimension), never on raw
observations.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import mgrs_udf
from .split import greedy_split_assign, group_stats


def _standardize(m: np.ndarray) -> np.ndarray:
    mu = m.mean(axis=0)
    sd = m.std(axis=0)
    sd[sd == 0] = 1.0
    return (m - mu) / sd


def kmeans_lloyd(pts: np.ndarray, n_clusters: int) -> np.ndarray:
    """Seeded Lloyd iterations (sklearn absent): deterministic k-means++-
    style init from a fixed RNG, L2 assignment, mean update."""
    rng = np.random.default_rng(42)
    n = len(pts)
    k = min(n_clusters, n)
    centers = pts[rng.choice(n, 1)]
    while len(centers) < k:
        d2 = ((pts[:, None, :] - centers[None]) ** 2).sum(-1).min(1)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers = np.vstack([centers, pts[rng.choice(n, p=probs)]])
    for _ in range(50):
        assign = ((pts[:, None, :] - centers[None]) ** 2).sum(-1).argmin(1)
        new = np.array(
            [pts[assign == j].mean(0) if (assign == j).any() else centers[j] for j in range(k)]
        )
        if np.allclose(new, centers):
            break
        centers = new
    return ((pts[:, None, :] - centers[None]) ** 2).sum(-1).argmin(1)


def connected_components_haversine(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Union-find over the ≤ 400 km haversine graph (reference
    data_splitter.py:181-260 BFS components)."""
    n = len(lat)
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    rlat, rlon = np.radians(lat), np.radians(lon)
    for i in range(n):
        dlat = rlat - rlat[i]
        dlon = rlon - rlon[i]
        a = np.sin(dlat / 2) ** 2 + np.cos(rlat[i]) * np.cos(rlat) * np.sin(dlon / 2) ** 2
        d = 2 * 6371.0 * np.arcsin(np.sqrt(np.clip(a, 0, 1)))
        for j in np.nonzero(d <= 400.0)[0]:
            ra, rb = find(i), find(int(j))
            if ra != rb:
                parent[ra] = rb
    return np.array([find(i) for i in range(n)])


def split_by_strategy(
    obs: DataFrame,
    strategy: str = "kmeans",
    test_frac: float = 0.1,
    val_frac: float = 0.1,
) -> DataFrame:
    """obs + `split` column; groups defined by the chosen strategy.

    'kmeans' / 'components': cluster the per-tile centroid table (tiny,
    collected + broadcast back); 'year': group by year; 'tile': one group
    per tile (degenerate case = operators.split.split_dataset). Tiles come
    from `mgrs_tile_id`, assigned from (x, y) when obs lacks it.
    """
    tile_col = "mgrs_tile_id"
    if tile_col not in obs.columns:
        obs = obs.withColumn(tile_col, mgrs_udf(F.col("x"), F.col("y")))

    if strategy == "year":
        group_col = "year"
        grouped = obs.withColumn("_group", F.col("year").cast("string"))
    elif strategy == "tile":
        grouped = obs.withColumn("_group", F.col(tile_col))
    elif strategy in ("kmeans", "components"):
        tiles = (
            obs.groupBy(tile_col)
            .agg(F.avg("x").alias("lon"), F.avg("y").alias("lat"))
            .toPandas()
            .sort_values(tile_col)
            .reset_index(drop=True)
        )
        pts = tiles[["lat", "lon"]].to_numpy(np.float64)
        if strategy == "kmeans":
            labels = kmeans_lloyd(_standardize(pts), 8)
        else:
            labels = connected_components_haversine(pts[:, 0], pts[:, 1])
        tiles["_group"] = [f"{strategy}_{int(g)}" for g in labels]
        lookup = obs.sparkSession.createDataFrame(tiles[[tile_col, "_group"]])
        grouped = obs.join(F.broadcast(lookup), tile_col, "left")
    else:
        raise ValueError(strategy)

    assign = greedy_split_assign(
        group_stats(grouped, "_group"), "_group", test_frac, val_frac
    ).select("_group", "split")
    return grouped.join(F.broadcast(assign), "_group", "left").drop("_group")
