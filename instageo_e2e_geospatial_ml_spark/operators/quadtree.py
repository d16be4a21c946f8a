"""Adaptive quadtree aggregation — the vector-tile / adaptive-binning
decomposition (Samet 1984): subdivide a cell while it holds more than
`cap` points, emit the leaves. The result is the familiar "big empty
tiles, small dense tiles" map: constant detail per tile regardless of
density skew.

Closed-form selection (no recursion needed): a depth-d cell is an
output leaf iff

    count(cell) <= cap  AND  (d == 0 OR count(parent) > cap)

plus the depth-limit overflow rule: a max-depth cell with count > cap
emits anyway (flagged), since it cannot split further. This turns the
recursive definition into pure joins — the engine-friendly form.

Plan shape: ONE groupBy over the raw points at max depth, then a
pyramid reduction — each coarser level aggregates the PREVIOUS LEVEL'S
COUNTS (4 children -> 1 parent, coordinates halve), so levels cost
O(cells), not O(points), and the raw data is scanned exactly once.
Selection joins each level to its parent level on the halved
coordinates — equi-joins on integer keys throughout. At 100 TB the
single raw-data aggregation dominates; everything above it is
cell-count sized.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def adaptive_quadtree(
    points: DataFrame,
    extent_bits: int,
    max_depth: int,
    cap: int,
) -> DataFrame:
    """points with integer coords in [0, 2^extent_bits) -> adaptive
    leaves (depth, cx, cy, n_points, overflow). Cell coords at depth d
    are the coordinate's top d bits (cx = px >> (extent_bits - d))."""
    leaf_shift = extent_bits - max_depth
    counts = [None] * (max_depth + 1)
    counts[max_depth] = (
        points.select(
            F.shiftrightunsigned(F.col("px").cast("long"), leaf_shift).alias("cx"),
            F.shiftrightunsigned(F.col("py").cast("long"), leaf_shift).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    for d in range(max_depth - 1, -1, -1):
        counts[d] = (
            counts[d + 1]
            .groupBy(
                F.shiftrightunsigned(F.col("cx"), 1).alias("cx"),
                F.shiftrightunsigned(F.col("cy"), 1).alias("cy"),
            )
            .agg(F.sum("n").alias("n"))
        )
    outs = []
    for d in range(max_depth + 1):
        c = counts[d]
        if d == 0:
            sel = c.filter(
                (F.col("n") <= cap) | F.lit(max_depth == 0)
            )
        else:
            parent = counts[d - 1].select(
                F.col("cx").alias("pcx"),
                F.col("cy").alias("pcy"),
                F.col("n").alias("pn"),
            )
            c = c.join(
                parent,
                (F.shiftrightunsigned(F.col("cx"), 1) == F.col("pcx"))
                & (F.shiftrightunsigned(F.col("cy"), 1) == F.col("pcy")),
            ).filter(F.col("pn") > cap)
            sel = c.filter(
                (F.col("n") <= cap) | F.lit(d == max_depth)
            )
        outs.append(
            sel.select(
                F.lit(d).alias("depth"),
                "cx",
                "cy",
                F.col("n").alias("n_points"),
                (F.col("n") > cap).alias("overflow"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def adaptive_quadtree_sql(
    pts_sql: str,
    extent_bits: int,
    max_depth: int,
    cap: int,
) -> str:
    """The identical computation as a DuckDB CTE chain (oracle twin).
    `pts_sql` must select integer columns px, py."""
    leaf_shift = extent_bits - max_depth
    parts = [
        f"WITH c{max_depth} AS (SELECT px >> {leaf_shift} AS cx, "
        f"py >> {leaf_shift} AS cy, count(*) AS n "
        f"FROM ({pts_sql}) GROUP BY 1, 2)"
    ]
    for d in range(max_depth - 1, -1, -1):
        parts.append(
            f"c{d} AS (SELECT cx >> 1 AS cx, cy >> 1 AS cy, "
            f"CAST(sum(n) AS BIGINT) AS n FROM c{d + 1} GROUP BY 1, 2)"
        )
    sels = []
    for d in range(max_depth + 1):
        flag = f"n > {cap} AS overflow"
        if d == 0:
            cond = "TRUE" if max_depth == 0 else f"n <= {cap}"
            sels.append(
                f"SELECT {d} AS depth, cx, cy, n AS n_points, {flag} "
                f"FROM c0 WHERE {cond}"
            )
        else:
            cond = "TRUE" if d == max_depth else f"c.n <= {cap}"
            sels.append(
                f"SELECT {d} AS depth, c.cx, c.cy, c.n AS n_points, "
                f"c.n > {cap} AS overflow "
                f"FROM c{d} c JOIN c{d - 1} p "
                f"ON p.cx = c.cx >> 1 AND p.cy = c.cy >> 1 "
                f"WHERE p.n > {cap} AND {cond}"
            )
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sels)
