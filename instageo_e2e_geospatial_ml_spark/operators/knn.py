"""J9: kNN lookup via k-ring cell expansion + window-ranked distance.

Not present in the reference (required by the north rule): H3-style kNN —
expand each query point's grid cell into its k-ring, equi-join candidate
points bucketed by cell, filter by radius, rank by distance.

Correctness guarantee: with ring k and cell size s, every point within
radius r ≤ k·s of the query is covered — so "k nearest within radius r"
is EXACT (verified against a brute-force oracle). Distances use squared
euclidean degrees by default (pure +,* arithmetic → bit-identical across
engines); haversine_km available for geographic ranking.

Scale: the ring explode multiplies the query side by (2k+1)² — keep k small
and res matched to the radius; candidate side is shuffled once on cell id,
queries are typically the small side → broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import cell_of


def _ring_cells(cell: Column, k: int, res: int) -> Column:
    """All cells within Chebyshev distance k, as a pure column expression."""
    n = 1 << res
    base = F.lit(res).cast("long") * F.lit(1 << 58)
    cx = cell % F.lit(1 << 29)
    cy = F.shiftright(cell, 29) % F.lit(1 << 29)
    dxs = F.sequence(F.lit(-k), F.lit(k))
    dys = F.sequence(F.lit(-k), F.lit(k))
    return F.flatten(
        F.transform(
            F.filter(dys, lambda dy: (cy + dy >= 0) & (cy + dy < n)),
            lambda dy: F.transform(
                F.filter(dxs, lambda dx: (cx + dx >= 0) & (cx + dx < 2 * n)),
                lambda dx: base + (cy + dy) * F.lit(1 << 29) + (cx + dx),
            ),
        )
    )


def sq_euclid_deg(qx: Column, qy: Column, px: Column, py: Column) -> Column:
    dx = qx - px
    dy = qy - py
    return dx * dx + dy * dy


def haversine_km(qx: Column, qy: Column, px: Column, py: Column) -> Column:
    """Great-circle distance (km) — the metric the reference's splitter uses
    (data_splitter.py:181-260 haversine ≤ 400 km components)."""
    r = 6371.0
    lat1, lat2 = F.radians(qy), F.radians(py)
    dlat = lat2 - lat1
    dlon = F.radians(px) - F.radians(qx)
    a = F.sin(dlat / 2) ** 2 + F.cos(lat1) * F.cos(lat2) * F.sin(dlon / 2) ** 2
    return F.lit(2.0 * r) * F.asin(F.sqrt(a))


def _radius_pairs(
    queries: DataFrame,
    points: DataFrame,
    radius_deg: float,
    res: int | None,
    qx: str,
    qy: str,
    px: str,
    py: str,
    metric: str,
    broadcast_queries: bool,
) -> DataFrame:
    """Shared candidate machinery: ring-covered cell equi-join + exact
    radius refine → (qid, pid, dist) pairs within radius."""
    if res is None:
        res = 0
        while 180.0 / (1 << (res + 1)) >= radius_deg and res < 15:
            res += 1
    ring = 1  # cell size ≥ radius ⇒ ring-1 covers every point within radius

    q = queries.withColumn("_qcell", cell_of(qx, qy, res)).withColumn(
        "cell", F.explode(_ring_cells(F.col("_qcell"), ring, res))
    )
    if broadcast_queries:
        q = F.broadcast(q)
    # the candidate join + exact refine is compute-heavy per point row; a
    # few-row-group local scan would otherwise run it in 1-6 tasks
    # (guide §2.5 input skew — no-op when the scan is already spread)
    from ..functions.text import spread_input

    p = spread_input(points).withColumn("cell", cell_of(px, py, res))
    j = q.join(p, "cell", "inner")
    if metric == "sq_euclid":
        dist = sq_euclid_deg(F.col(qx), F.col(qy), F.col(px), F.col(py))
        rfilter = dist <= F.lit(radius_deg * radius_deg)
    elif metric == "haversine":
        dist = haversine_km(F.col(qx), F.col(qy), F.col(px), F.col(py))
        rfilter = dist <= F.lit(radius_deg)  # here radius is km
    else:
        raise ValueError(metric)
    return j.withColumn("dist", dist).filter(rfilter)


def distance_join(
    queries: DataFrame,
    points: DataFrame,
    radius_deg: float,
    res: int | None = None,
    qid: str = "qid",
    pid: str = "pid",
    qx: str = "qx",
    qy: str = "qy",
    px: str = "x",
    py: str = "y",
    metric: str = "sq_euclid",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Spatial range join (the ST_DWithin shape): ALL (query, point)
    pairs within radius → (qid, pid, dist). Exact — the ring-covered cell
    bucketing is a superset prefilter, the distance refine is exact
    arithmetic. No window, so nothing ranks: output size is the true
    match count, and the plan is scan → broadcast/equi-join → filter."""
    return _radius_pairs(
        queries, points, radius_deg, res, qx, qy, px, py,
        metric, broadcast_queries,
    ).select(qid, pid, "dist")


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k_neighbors: int,
    radius_deg: float,
    res: int | None = None,
    qid: str = "qid",
    pid: str = "pid",
    qx: str = "qx",
    qy: str = "qy",
    px: str = "x",
    py: str = "y",
    metric: str = "sq_euclid",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact k-nearest-within-radius join.

    Returns (qid, pid, dist, rank) with rank ∈ [1, k_neighbors] ordered by
    (dist asc, pid asc). res is auto-picked so one ring covers the radius.
    """
    j = _radius_pairs(
        queries, points, radius_deg, res, qx, qy, px, py,
        metric, broadcast_queries,
    )
    w = Window.partitionBy(qid).orderBy(F.col("dist").asc(), F.col(pid).asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k_neighbors))
        .select(qid, pid, "dist", "rank")
    )


def knn_label_audit(
    points: DataFrame,
    k_neighbors: int,
    radius_deg: float,
    res: int | None = None,
    pid: str = "pid",
    px: str = "x",
    py: str = "y",
    label_col: str = "label",
) -> DataFrame:
    """Label-noise audit by neighborhood disagreement (the Confident-
    Learning-style screen an ML-data pipeline runs before training):
    for every labeled point, its k nearest OTHER labeled points within
    `radius_deg`, and how many of them disagree with its label. A
    point whose neighborhood majority disagrees (2·n_disagree >
    n_nbrs) is a mislabel suspect; isolated points (no neighbor in
    radius) are reported with n_nbrs = 0, not flagged — isolation is
    not evidence of mislabeling.

    Emits (pid, label, n_nbrs, n_disagree, suspect). Exact: the same
    cell-ring prefilter + exact-distance refine as knn_join, self
    pairs excluded BEFORE ranking so they never consume a neighbor
    slot; (dist, pid) ordering makes ranks deterministic.
    """
    q = points.select(
        F.col(pid).alias("qid"),
        F.col(px).alias("qx"),
        F.col(py).alias("qy"),
        F.col(label_col).alias("qlabel"),
    )
    p = points.select(
        F.col(pid).alias("nid"),
        F.col(px).alias("nx"),
        F.col(py).alias("ny"),
        F.col(label_col).alias("nlabel"),
    )
    # _radius_pairs preserves input columns, so both labels ride along
    # the candidate pairs — no label re-join needed
    pairs = _radius_pairs(
        q, p, radius_deg, res, "qx", "qy", "nx", "ny", "sq_euclid", True,
    ).filter(F.col("qid") != F.col("nid"))
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid").asc())
    top = pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k_neighbors
    )
    agg = top.groupBy("qid", "qlabel").agg(
        F.count(F.lit(1)).alias("n_nbrs"),
        F.sum(
            (F.col("nlabel") != F.col("qlabel")).cast("long")
        ).alias("n_disagree"),
    )
    out = points.select(
        F.col(pid).alias("qid"), F.col(label_col).alias("qlabel")
    ).join(agg.select("qid", "n_nbrs", "n_disagree"), "qid", "left")
    return out.select(
        F.col("qid").alias(pid),
        F.col("qlabel").alias("label"),
        F.coalesce("n_nbrs", F.lit(0)).alias("n_nbrs"),
        F.coalesce("n_disagree", F.lit(0)).alias("n_disagree"),
        (
            F.coalesce("n_disagree", F.lit(0)) * 2
            > F.coalesce("n_nbrs", F.lit(0))
        ).cast("int").alias("suspect"),
    )
