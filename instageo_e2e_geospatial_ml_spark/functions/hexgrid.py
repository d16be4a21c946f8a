"""Hexagonal spatial binning (H3-style axial cells, flat math).

The north-star pipeline names H3/S2 cell encoding as a first-class
primitive (BASELINE.json north_star). The engine already carries MGRS,
geohash, Z-order, Hilbert and quadtree cells; this adds the hexagon
family: equal-area-ish bins whose neighbors are all edge-adjacent (no
corner-touching diagonals), the shape Uber's H3 popularized for
density and flow aggregation. Real H3 projects onto an icosahedron;
this is the planar axial-lattice core of it — a pointy-top hex grid of
circumradius `size` degrees over (lon, lat), which is exactly what a
per-AOI density rollup needs and keeps every operation inside the
+ * / round / abs / compare set that Spark and DuckDB evaluate
bit-identically (no trig, no logs — the parity rule that rules out
slippy-map y-tiles).

Pointy-top axial transform (Red Blob Games' canonical formulation):
    qf = (sqrt(3)/3 * x - 1/3 * y) / size
    rf = (2/3 * y) / size
then cube rounding: round all three cube coords (x=q, z=r, y=-q-r)
and re-derive the one with the largest rounding error from the other
two, so the integer coords still sum to zero — the standard exact
point-in-hex assignment.

Every constant is written as an exact double literal used verbatim on
both engines; both sides execute the identical op order, so the
(hq, hr) cells — and even the double cell centers — hash equal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SQRT3_OVER_3 = 0.5773502691896257
ONE_THIRD = 0.3333333333333333
TWO_THIRDS = 0.6666666666666666
SQRT3 = 1.7320508075688772


def hex_cell(lon: Column, lat: Column, size: float) -> tuple[Column, Column]:
    """Axial hex coordinates (hq, hr) as bigint columns."""
    qf = (F.lit(SQRT3_OVER_3) * lon - F.lit(ONE_THIRD) * lat) / F.lit(size)
    rf = (F.lit(TWO_THIRDS) * lat) / F.lit(size)
    yf = -qf - rf
    rq = F.round(qf, 0)
    rr = F.round(rf, 0)
    ry = F.round(yf, 0)
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    dy = F.abs(ry - yf)
    fix_q = (dq > dy) & (dq > dr)
    fix_r = ~fix_q & (dy <= dr)
    hq = F.when(fix_q, -ry - rr).otherwise(rq).cast("long")
    hr = F.when(fix_r, -rq - ry).otherwise(rr).cast("long")
    return hq, hr


def hex_center(hq: Column, hr: Column, size: float) -> tuple[Column, Column]:
    """Cell center (lon, lat) from axial coords — the inverse
    transform's exact double form."""
    cx = F.lit(size) * (F.lit(SQRT3) * hq.cast("double") + F.lit(SQRT3) / 2 * hr.cast("double"))
    cy = F.lit(size) * 1.5 * hr.cast("double")
    return cx, cy


def hex_density(
    df: DataFrame, lon_col: str, lat_col: str, size: float, min_count: int = 1
) -> DataFrame:
    """Per-hex-cell point counts with cell centers: the H3-rollup
    shape. One map-side-combinable groupBy on (hq, hr) — the same
    plan as the square-cell q01 density, hexagon semantics."""
    hq, hr = hex_cell(F.col(lon_col), F.col(lat_col), size)
    agg = (
        df.select(hq.alias("hq"), hr.alias("hr"))
        .groupBy("hq", "hr")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .filter(F.col("n_points") >= min_count)
    )
    cx, cy = hex_center(F.col("hq"), F.col("hr"), size)
    return agg.select(
        "hq", "hr", "n_points", cx.alias("center_lon"), cy.alias("center_lat")
    )


def hex_cell_sql(lon_expr: str, lat_expr: str, size: float) -> tuple[str, str]:
    """(hq_sql, hr_sql) — the identical expressions for DuckDB."""
    qf = f"(({SQRT3_OVER_3!r} * {lon_expr} - {ONE_THIRD!r} * {lat_expr}) / {size!r})"
    rf = f"(({TWO_THIRDS!r} * {lat_expr}) / {size!r})"
    yf = f"(-{qf} - {rf})"
    rq, rr, ry = f"round({qf})", f"round({rf})", f"round({yf})"
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    dy = f"abs({ry} - {yf})"
    fix_q = f"({dq} > {dy} AND {dq} > {dr})"
    fix_r = f"(NOT {fix_q} AND {dy} <= {dr})"
    hq = f"CAST(CASE WHEN {fix_q} THEN -{ry} - {rr} ELSE {rq} END AS BIGINT)"
    hr = f"CAST(CASE WHEN {fix_r} THEN -{rq} - {ry} ELSE {rr} END AS BIGINT)"
    return hq, hr


def hex_density_sql(
    points_sql: str,
    lon_expr: str,
    lat_expr: str,
    size: float,
    min_count: int = 1,
) -> str:
    """DuckDB oracle twin of hex_density (identical op order
    throughout, including the double cell centers)."""
    hq, hr = hex_cell_sql(lon_expr, lat_expr, size)
    return f"""
WITH cells AS (
  SELECT {hq} AS hq, {hr} AS hr FROM ({points_sql})
),
agg AS (
  SELECT hq, hr, count(*) AS n_points FROM cells
  GROUP BY hq, hr HAVING count(*) >= {min_count}
)
SELECT hq, hr, n_points,
       {size!r} * ({SQRT3!r} * CAST(hq AS DOUBLE)
         + {SQRT3!r} / 2 * CAST(hr AS DOUBLE)) AS center_lon,
       {size!r} * 1.5 * CAST(hr AS DOUBLE) AS center_lat
FROM agg
"""


# pointy-top axial neighbor offsets (the 6 edge-adjacent hexes)
HEX_NEIGHBOR_OFFSETS = ((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1))


def hex_focal_sum(cells: DataFrame) -> DataFrame:
    """Focal (neighborhood) smoothing on a hex grid: for every occupied
    cell, the sum of its value and its 6 edge-adjacent neighbors'
    values, plus the occupied-neighbor count — the hexagonal focal
    mean numerator/denominator (hot-spot smoothing without the square
    grid's corner-neighbor asymmetry; the q85 Moran pattern on the
    q132 lattice).

    Plan: each occupied cell scatters its value to itself + 6 neighbor
    coordinates via a 7-row explode (volume 7x cells, never pairwise),
    one groupBy on the target cell, then an inner join back to the
    occupied set so focal values exist only where data does. All
    integer; offsets are a literal array, no dimension table needed.
    """
    offs = F.array(
        *[
            F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
            for dq, dr in ((0, 0),) + HEX_NEIGHBOR_OFFSETS
        ]
    )
    scat = cells.select(
        F.col("hq"), F.col("hr"), F.col("n_points").alias("v"),
        F.explode(offs).alias("o"),
    ).select(
        (F.col("hq") + F.col("o.dq")).alias("tq"),
        (F.col("hr") + F.col("o.dr")).alias("tr"),
        "v",
        ((F.col("o.dq") == 0) & (F.col("o.dr") == 0)).cast("long").alias("_self"),
    )
    agg = scat.groupBy("tq", "tr").agg(
        F.sum("v").alias("focal_sum"),
        (F.count(F.lit(1)) - F.sum("_self")).alias("n_occupied_neighbors"),
    )
    return (
        cells.join(
            agg,
            (cells["hq"] == agg["tq"]) & (cells["hr"] == agg["tr"]),
        )
        .select(
            "hq", "hr", F.col("n_points"),
            "focal_sum", "n_occupied_neighbors",
        )
    )


def hex_focal_sum_sql(cells_sql: str) -> str:
    """DuckDB twin of hex_focal_sum over (hq, hr, n_points)."""
    offs = ", ".join(f"({dq}, {dr})" for dq, dr in ((0, 0),) + HEX_NEIGHBOR_OFFSETS)
    return f"""
WITH cells AS MATERIALIZED ({cells_sql}),
offs AS (SELECT * FROM (VALUES {offs}) AS o(dq, dr)),
scat AS (
  SELECT c.hq + o.dq AS tq, c.hr + o.dr AS tr, c.n_points AS v,
         CASE WHEN o.dq = 0 AND o.dr = 0 THEN 1 ELSE 0 END AS is_self
  FROM cells c CROSS JOIN offs o
),
agg AS (
  SELECT tq, tr, CAST(sum(v) AS BIGINT) AS focal_sum,
         CAST(count(*) - sum(is_self) AS BIGINT) AS n_occupied_neighbors
  FROM scat GROUP BY tq, tr
)
SELECT c.hq, c.hr, c.n_points, a.focal_sum, a.n_occupied_neighbors
FROM cells c JOIN agg a ON c.hq = a.tq AND c.hr = a.tr
"""
