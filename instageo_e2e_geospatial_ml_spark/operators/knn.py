"""J9: kNN lookup via k-ring cell expansion + window-ranked distance.

Not present in the reference (required by the north rule): H3-style kNN —
expand each query point's grid cell into its k-ring, equi-join candidate
points bucketed by cell, filter by radius, rank by distance.

Correctness guarantee: with ring k and cell size s, every point within
radius r ≤ k·s of the query is covered — so "k nearest within radius r"
is EXACT (verified against a brute-force oracle). Distances are squared
euclidean degrees (pure +,* arithmetic → bit-identical across engines).

Scale: the ring explode multiplies the query side by (2k+1)² — keep k small
and res matched to the radius; queries are the small side by contract and
broadcast to the point scan, so the point side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import cell_id, cell_of
from ..grid import Y_SHIFT


def _ring_cells(cell: Column, k: int, res: int) -> Column:
    """All cells within Chebyshev distance k, as a pure column expression."""
    n = 1 << res
    cx = cell % F.lit(1 << Y_SHIFT)
    cy = F.shiftright(cell, Y_SHIFT) % F.lit(1 << Y_SHIFT)
    dxs = F.sequence(F.lit(-k), F.lit(k))
    dys = F.sequence(F.lit(-k), F.lit(k))
    return F.flatten(
        F.transform(
            F.filter(dys, lambda dy: (cy + dy >= 0) & (cy + dy < n)),
            lambda dy: F.transform(
                F.filter(dxs, lambda dx: (cx + dx >= 0) & (cx + dx < 2 * n)),
                lambda dx: cell_id(res, cy + dy, cx + dx),
            ),
        )
    )


def sq_euclid_deg(qx: Column, qy: Column, px: Column, py: Column) -> Column:
    dx = qx - px
    dy = qy - py
    return dx * dx + dy * dy


def _radius_pairs(
    queries: DataFrame,
    points: DataFrame,
    radius_deg: float,
    qx: str,
    qy: str,
    px: str,
    py: str,
) -> DataFrame:
    """Shared candidate machinery: ring-covered cell equi-join against the
    broadcast query side + exact radius refine → (qid, pid, dist) pairs
    within radius, dist the squared euclidean distance in degrees. The
    cell resolution is the finest whose cell size covers the radius."""
    res = 0
    while 180.0 / (1 << (res + 1)) >= radius_deg and res < 15:
        res += 1
    ring = 1  # cell size ≥ radius ⇒ ring-1 covers every point within radius

    q = F.broadcast(
        queries.withColumn("_qcell", cell_of(qx, qy, res)).withColumn(
            "cell", F.explode(_ring_cells(F.col("_qcell"), ring, res))
        )
    )
    # the candidate join + exact refine is compute-heavy per point row; a
    # few-row-group local scan would otherwise run it in 1-6 tasks
    # (guide §2.5 input skew — no-op when the scan is already spread)
    from ..functions.text import spread_input

    p = spread_input(points).withColumn("cell", cell_of(px, py, res))
    j = q.join(p, "cell", "inner")
    dist = sq_euclid_deg(F.col(qx), F.col(qy), F.col(px), F.col(py))
    return j.withColumn("dist", dist).filter(dist <= F.lit(radius_deg * radius_deg))


def distance_join(
    queries: DataFrame,
    points: DataFrame,
    radius_deg: float,
) -> DataFrame:
    """Spatial range join (the ST_DWithin shape): ALL (query, point)
    pairs within radius → (qid, pid, dist), dist squared degrees. Exact —
    the ring-covered cell bucketing is a superset prefilter, the distance
    refine is exact arithmetic. No window, so nothing ranks: output size
    is the true match count, and the plan is scan → broadcast/equi-join →
    filter."""
    return _radius_pairs(queries, points, radius_deg, "qx", "qy", "x", "y").select(
        "qid", "pid", "dist"
    )


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k_neighbors: int,
    radius_deg: float,
    pid: str = "pid",
) -> DataFrame:
    """Exact k-nearest-within-radius join.

    Returns (qid, pid, dist, rank) with rank ∈ [1, k_neighbors] ordered by
    (dist asc, pid asc), dist squared degrees. res is auto-picked so one
    ring covers the radius.
    """
    j = _radius_pairs(queries, points, radius_deg, "qx", "qy", "x", "y")
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col(pid).asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(k_neighbors))
        .select("qid", pid, "dist", "rank")
    )


def knn_label_audit(
    points: DataFrame,
    k_neighbors: int,
    radius_deg: float,
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
        F.col("pid").alias("qid"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        F.col("label").alias("qlabel"),
    )
    p = points.select(
        F.col("pid").alias("nid"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        F.col("label").alias("nlabel"),
    )
    # _radius_pairs preserves input columns, so both labels ride along
    # the candidate pairs — no label re-join needed
    pairs = _radius_pairs(
        q, p, radius_deg, "qx", "qy", "nx", "ny"
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
        F.col("pid").alias("qid"), F.col("label").alias("qlabel")
    ).join(agg.select("qid", "n_nbrs", "n_disagree"), "qid", "left")
    return out.select(
        F.col("qid").alias("pid"),
        F.col("qlabel").alias("label"),
        F.coalesce("n_nbrs", F.lit(0)).alias("n_nbrs"),
        F.coalesce("n_disagree", F.lit(0)).alias("n_disagree"),
        (
            F.coalesce("n_disagree", F.lit(0)) * 2
            > F.coalesce("n_nbrs", F.lit(0))
        ).cast("int").alias("suspect"),
    )
