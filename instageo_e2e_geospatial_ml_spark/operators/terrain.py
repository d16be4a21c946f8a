"""Distributed terrain derivatives (slope / aspect / hillshade) with
halo exchange — the `gdaldem`-family raster analysis, tiled for a
cluster.

Reference context: the reference treats rasters as whole in-memory
arrays (rasterio windows in `instageo/data/hls_utils.py`); a 100 TB DEM
does not fit that model. The Spark-first shape is the classic stencil
decomposition: the mosaic is a table of (tx, ty, h, w, int DEM block)
tiles, and the 3x3 Horn stencil needs ONE pixel of neighbor context at
every tile edge. Shipping whole neighbor tiles would multiply shuffle
volume 9x; instead each tile emits its 8 boundary strips/corners keyed
by the neighbor that needs them (a "halo exchange"), so the shuffle
carries only the 1-pixel perimeter — O(perimeter), not O(area). After a
single groupBy(tx, ty) the kernel sees an (h+2) x (w+2) padded array
and every interior AND cross-tile-edge pixel computes exactly as it
would on the undivided mosaic (the pytest proves digest equality vs a
whole-mosaic numpy replica). Mosaic-boundary pixels (no neighbor
exists) replicate the edge row/col, GDAL's `-compute_edges` behavior.

Math (Horn 1981, "Hill shading and the reflectance map", Proc. IEEE
69(1); the gdaldem/ESRI formulation):

    dz/dx = ((c + 2f + i) - (a + 2d + g)) / (8 * xres)
    dz/dy = ((g + 2h + i) - (a + 2b + c)) / (8 * yres)
    slope  = atan(z_factor * hypot(dz/dx, dz/dy))
    aspect = atan2(dz/dy, -dz/dx), mapped to compass-from-north
    shade  = 255 * (cos(zenith) cos(slope)
                    + sin(zenith) sin(slope) cos(azimuth - aspect))

with zenith = 90deg - altitude, azimuth measured in the math frame
(360 - az + 90). Negative shade clamps to 0; output rounds to uint8
like gdaldem.

Output is one row per tile: exact integer pixel aggregates (sum of
1e4-quantized slope degrees, aspect octant counts, hillshade histogram
moments) plus an md5 digest of the hillshade block — any single-pixel
regression flips the digest.
"""
from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

TILE_SCHEMA = StructType([
    StructField("tx", IntegerType(), False),
    StructField("ty", IntegerType(), False),
    StructField("h", IntegerType(), False),
    StructField("w", IntegerType(), False),
    StructField("dem", BinaryType(), False),  # int32 little-endian, C order
])

_HALO_SCHEMA = StructType([
    StructField("tx", IntegerType(), False),
    StructField("ty", IntegerType(), False),
    StructField("kind", StringType(), False),   # core|n|s|e|w|ne|nw|se|sw
    StructField("h", IntegerType(), True),
    StructField("w", IntegerType(), True),
    StructField("payload", BinaryType(), False),
])

OUT_SCHEMA = StructType([
    StructField("tx", IntegerType(), False),
    StructField("ty", IntegerType(), False),
    StructField("n_px", LongType(), False),
    StructField("sum_slope_q4", LongType(), False),   # sum of round(slope_deg*1e4)
    StructField("max_slope_q4", LongType(), False),
    StructField("sum_shade", LongType(), False),      # sum of uint8 hillshade
    StructField("aspect_octants", StringType(), False),  # 8 csv counts, N first
    StructField("shade_digest", StringType(), False),
])


def horn_kernel(padded: np.ndarray, xres: float = 1.0, yres: float = 1.0):
    """(h+2, w+2) float64 padded DEM -> (slope_deg, aspect_deg, shade u8)
    for the h x w interior. Pure numpy; shared verbatim by the operator
    and the whole-mosaic test replica, so the distributed path is
    validated purely on its halo/tiling plumbing."""
    p = padded
    a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
    d, f = p[1:-1, :-2], p[1:-1, 2:]
    g, hh, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * xres)
    dzdy = ((g + 2 * hh + i) - (a + 2 * b + c)) / (8.0 * yres)
    slope = np.arctan(np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    # sun at altitude 45°, azimuth 315° (the GDAL hillshade defaults)
    zen = np.deg2rad(90.0 - 45.0)
    az = np.deg2rad(360.0 - 315.0 + 90.0)
    shade = 255.0 * (
        np.cos(zen) * np.cos(slope)
        + np.sin(zen) * np.sin(slope) * np.cos(az - aspect)
    )
    shade_u8 = np.where(shade < 0, 0.0, shade).round().astype(np.uint8)
    slope_deg = np.rad2deg(slope)
    # compass aspect (degrees clockwise from north); flat cells -> -1
    compass = (90.0 - np.rad2deg(aspect)) % 360.0
    flat = (dzdx == 0) & (dzdy == 0)
    compass = np.where(flat, -1.0, compass)
    return slope_deg, compass, shade_u8


def terrain_derivatives(
    tiles: DataFrame,
    xres: float = 1.0,
    yres: float = 1.0,
) -> DataFrame:
    """TILE_SCHEMA mosaic table -> OUT_SCHEMA per-tile terrain summary,
    halo-exchange exact at tile boundaries (see module docstring)."""

    def emit_halos(it):
        for pdf in it:
            rows = {k: [] for k in ("tx", "ty", "kind", "h", "w", "payload")}

            def put(tx, ty, kind, hh, ww, payload):
                rows["tx"].append(tx); rows["ty"].append(ty)
                rows["kind"].append(kind)
                rows["h"].append(hh); rows["w"].append(ww)
                rows["payload"].append(payload)

            for _, r in pdf.iterrows():
                hgt, wid = int(r["h"]), int(r["w"])
                dem = np.frombuffer(r["dem"], dtype="<i4").reshape(hgt, wid)
                tx, ty = int(r["tx"]), int(r["ty"])
                put(tx, ty, "core", hgt, wid, r["dem"])
                # strips named by the RECEIVER's view: our bottom row is
                # the northern halo of the tile below (ty+1), etc.
                put(tx, ty + 1, "n", 1, wid, dem[-1:, :].tobytes())
                put(tx, ty - 1, "s", 1, wid, dem[:1, :].tobytes())
                put(tx + 1, ty, "w", hgt, 1, dem[:, -1:].tobytes())
                put(tx - 1, ty, "e", hgt, 1, dem[:, :1].tobytes())
                put(tx + 1, ty + 1, "nw", 1, 1, dem[-1:, -1:].tobytes())
                put(tx - 1, ty + 1, "ne", 1, 1, dem[-1:, :1].tobytes())
                put(tx + 1, ty - 1, "sw", 1, 1, dem[:1, -1:].tobytes())
                put(tx - 1, ty - 1, "se", 1, 1, dem[:1, :1].tobytes())
            yield pd.DataFrame(rows)

    def assemble(key, pdf):
        tx, ty = int(key[0]), int(key[1])
        parts = {r["kind"]: r for _, r in pdf.iterrows()}
        if "core" not in parts:  # halo sent to a tile that doesn't exist
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in OUT_SCHEMA}
            )
        core = parts["core"]
        hgt, wid = int(core["h"]), int(core["w"])
        dem = (
            np.frombuffer(core["payload"], dtype="<i4")
            .reshape(hgt, wid).astype(np.float64)
        )
        pad = np.empty((hgt + 2, wid + 2), dtype=np.float64)
        pad[1:-1, 1:-1] = dem

        def strip(kind, shape):
            r = parts.get(kind)
            if r is None:
                return None
            return np.frombuffer(r["payload"], dtype="<i4").reshape(shape)

        n = strip("n", (1, wid)); s = strip("s", (1, wid))
        e = strip("e", (hgt, 1)); w = strip("w", (hgt, 1))
        # mosaic edge -> replicate (GDAL -compute_edges)
        pad[0, 1:-1] = n[0] if n is not None else dem[0]
        pad[-1, 1:-1] = s[0] if s is not None else dem[-1]
        pad[1:-1, 0] = w[:, 0] if w is not None else dem[:, 0]
        pad[1:-1, -1] = e[:, 0] if e is not None else dem[:, -1]

        def corner(kind, via_row, via_col):
            r = parts.get(kind)
            if r is not None:
                return float(np.frombuffer(r["payload"], dtype="<i4")[0])
            return float(pad[via_row, via_col])  # replicate nearest edge

        pad[0, 0] = corner("nw", 0, 1) if n is not None else pad[1, 0]
        pad[0, -1] = corner("ne", 0, -2) if n is not None else pad[1, -1]
        pad[-1, 0] = corner("sw", -1, 1) if s is not None else pad[-2, 0]
        pad[-1, -1] = corner("se", -1, -2) if s is not None else pad[-2, -1]

        slope_deg, compass, shade = horn_kernel(pad, xres, yres)
        slope_q4 = np.round(slope_deg * 1e4).astype(np.int64)
        octs = np.where(
            compass < 0, -1, ((compass + 22.5) % 360.0 / 45.0).astype(np.int64)
        )
        oct_counts = [int((octs == k).sum()) for k in range(8)]
        return pd.DataFrame({
            "tx": [tx], "ty": [ty],
            "n_px": [int(slope_q4.size)],
            "sum_slope_q4": [int(slope_q4.sum())],
            "max_slope_q4": [int(slope_q4.max())],
            "sum_shade": [int(shade.astype(np.int64).sum())],
            "aspect_octants": [",".join(map(str, oct_counts))],
            "shade_digest": [hashlib.md5(shade.tobytes()).hexdigest()],
        })

    halos = tiles.mapInPandas(emit_halos, schema=_HALO_SCHEMA)
    return halos.groupBy("tx", "ty").applyInPandas(assemble, schema=OUT_SCHEMA)


def d8_flow(
    cells: DataFrame,
    rounds: int = 8,
) -> DataFrame:
    """D8 flow direction + fixed-horizon flow accumulation — the
    hydrology primitives behind watershed delineation and stream-order
    maps (gdaldem/r.watershed family), on a relational (x, y, elev)
    grid rather than tiles so the stencil is pure Catalyst joins.

    Direction: each cell flows to the steepest-DESCENT neighbor of its 8
    (D8). Steepness = drop/distance; diagonals divide by √2 — compared
    exactly as 2·drop_card² vs drop_diag² (cross-multiplied squares of
    positive drops: no sqrt, no float). Ties break to the SMALLEST
    direction code (1=E, 2=SE, 3=S, ... 8=NE clockwise); cells with no
    strictly-lower neighbor are pits/flats (dir 0).

    Accumulation: acc_0 = 1 everywhere; acc_{k+1}(v) = 1 + Σ acc_k(u)
    over cells u flowing into v — after k rounds acc counts the
    upstream cells within k hops, and once `rounds` >= the longest flow
    path it equals the classic D8 contributing-cell count. The fixed
    horizon is the DEFINED output (the sssp_int fixed-round contract —
    engine-exact, oracle = unrolled CTE chain).

    Scale: the direction stencil is 8 equi-joins on shifted integer
    keys (one shuffle each, or one shuffle total after AQE reuses the
    exchange); each accumulation round is one join + one aggregate on
    the flow edge list. Grid size bounds everything; no windows, no
    Python."""
    grid = d8_direction(cells)
    c = cells.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    # fixed-round accumulation over the flow edges
    edges = grid.filter(F.col("flow_dir") > 0).select(
        F.col("x").alias("ux"), F.col("y").alias("uy"),
        F.col("tox").alias("x"), F.col("toy").alias("y"),
    )
    acc = c.select("x", "y", F.lit(1).cast("long").alias("acc"))
    for _ in range(rounds):
        inflow = (
            edges.join(
                acc.select(
                    F.col("x").alias("ux"), F.col("y").alias("uy"),
                    F.col("acc").alias("uacc"),
                ),
                ["ux", "uy"],
            )
            .groupBy("x", "y")
            .agg(F.sum("uacc").alias("inflow"))
        )
        acc = (
            c.select("x", "y")
            .join(inflow, ["x", "y"], "left")
            .select(
                "x", "y",
                (F.lit(1) + F.coalesce("inflow", F.lit(0))).alias("acc"),
            )
        )
    return grid.select("x", "y", "flow_dir").join(
        acc, ["x", "y"]
    ).select("x", "y", "flow_dir", "acc")


def d8_direction(cells: DataFrame) -> DataFrame:
    """The D8 direction stencil alone: (x, y, flow_dir, tox, toy) with
    tox/toy NULL at pits — the shared front half of d8_flow and
    watershed_labels (see d8_flow's docstring for the exact-steepness
    rule)."""
    c = cells.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("elev").cast("long").alias("elev"),
    )
    # 8 neighbors: code 1..8 clockwise from East; diag flag for the
    # sqrt(2) distance
    dirs = [
        (1, 1, 0, 0), (2, 1, 1, 1), (3, 0, 1, 0), (4, -1, 1, 1),
        (5, -1, 0, 0), (6, -1, -1, 1), (7, 0, -1, 0), (8, 1, -1, 1),
    ]
    spark = cells.sparkSession
    ddf = spark.createDataFrame(
        dirs, "dcode int, dx int, dy int, diag int"
    )
    nb = (
        c.crossJoin(F.broadcast(ddf))
        .select(
            "x", "y", "elev", "dcode", "diag",
            (F.col("x") + F.col("dx")).alias("nx"),
            (F.col("y") + F.col("dy")).alias("ny"),
        )
        .join(
            c.select(
                F.col("x").alias("nx"),
                F.col("y").alias("ny"),
                F.col("elev").alias("nelev"),
            ),
            ["nx", "ny"],
        )
        .filter(F.col("nelev") < F.col("elev"))
        .select(
            "x", "y", "dcode", "nx", "ny",
            (F.col("elev") - F.col("nelev")).alias("dz"),
            "diag",
        )
    )
    # steepness rank key: 2*drop^2 for cardinal, drop^2 for diagonal
    # (both sides of drop_c/1 > drop_d/sqrt2 squared x2); min-struct of
    # (-steep, dcode) = argmax steep with smallest-code tie-break
    steep = F.when(
        F.col("diag") == 0, 2 * F.col("dz") * F.col("dz")
    ).otherwise(F.col("dz") * F.col("dz"))
    best = (
        nb.select(
            "x", "y",
            F.struct(
                (-steep).alias("ns"),
                F.col("dcode").cast("long").alias("dcode"),
                F.col("nx").alias("tox"),
                F.col("ny").alias("toy"),
            ).alias("s"),
        )
        .groupBy("x", "y")
        .agg(F.min("s").alias("s"))
        .select(
            "x", "y", F.col("s.dcode").alias("flow_dir"),
            F.col("s.tox").alias("tox"), F.col("s.toy").alias("toy"),
        )
    )
    return c.join(best, ["x", "y"], "left").select(
        "x", "y",
        F.coalesce("flow_dir", F.lit(0)).alias("flow_dir"),
        "tox", "toy",
    )


def d8_direction_sql(cells_sql: str) -> str:
    """DuckDB twin of d8_direction — a standalone SELECT of the grid
    table (x, y, flow_dir, tox, toy), reusing d8_flow_sql's CTE text."""
    ctes = _d8_grid_ctes(cells_sql)
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT x, y, flow_dir, tox, toy FROM grid"
    )


def _d8_grid_ctes(cells_sql: str) -> list[str]:
    return [
        f"c AS MATERIALIZED (SELECT CAST(x AS BIGINT) AS x,"
        f" CAST(y AS BIGINT) AS y, CAST(elev AS BIGINT) AS elev"
        f" FROM ({cells_sql}))",
        "dirs(dcode, dx, dy, diag) AS (VALUES (1,1,0,0),(2,1,1,1),"
        "(3,0,1,0),(4,-1,1,1),(5,-1,0,0),(6,-1,-1,1),(7,0,-1,0),"
        "(8,1,-1,1))",
        """nb AS MATERIALIZED (
  SELECT c.x, c.y, d.dcode, n.x AS nx, n.y AS ny,
         c.elev - n.elev AS dz, d.diag
  FROM c CROSS JOIN dirs d
  JOIN c n ON n.x = c.x + d.dx AND n.y = c.y + d.dy
  WHERE n.elev < c.elev)""",
        """best AS MATERIALIZED (
  SELECT x, y, dcode AS flow_dir, nx AS tox, ny AS toy FROM (
    SELECT *, row_number() OVER (PARTITION BY x, y ORDER BY
      -(CASE WHEN diag = 0 THEN 2 * dz * dz
             ELSE dz * dz END) ASC, dcode ASC) AS rn
    FROM nb) WHERE rn = 1)""",
        """grid AS MATERIALIZED (
  SELECT c.x, c.y, COALESCE(b.flow_dir, 0) AS flow_dir, b.tox, b.toy
  FROM c LEFT JOIN best b ON c.x = b.x AND c.y = b.y)""",
    ]


def d8_flow_sql(cells_sql: str) -> str:
    """DuckDB twin of d8_flow."""
    ctes = _d8_grid_ctes(cells_sql) + [
        """e AS MATERIALIZED (SELECT x AS ux, y AS uy, tox AS x,
  toy AS y FROM grid WHERE flow_dir > 0)""",
        "a0 AS MATERIALIZED (SELECT x, y, CAST(1 AS BIGINT) AS acc FROM c)",
    ]
    for k in range(1, 9):
        ctes.append(
            f"""a{k} AS MATERIALIZED (
  SELECT c.x, c.y, 1 + COALESCE(i.inflow, 0) AS acc
  FROM c LEFT JOIN (
    SELECT e.x, e.y, CAST(sum(p.acc) AS BIGINT) AS inflow
    FROM e JOIN a{k-1} p ON p.x = e.ux AND p.y = e.uy
    GROUP BY e.x, e.y) i ON c.x = i.x AND c.y = i.y)"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT g.x, g.y, CAST(g.flow_dir AS BIGINT) AS flow_dir,"
        " a.acc FROM grid g JOIN a8 a"
        f" ON g.x = a.x AND g.y = a.y"
    )


def watershed_labels(
    cells: DataFrame,
    doubling_rounds: int = 6,
) -> DataFrame:
    """Watershed/basin delineation on the D8 flow forest: every cell is
    labeled with the pit (flow_dir 0 terminal) its water ultimately
    reaches — the r.watershed basin map. Input is d8_flow-shaped
    (x, y, flow_dir, tox, toy nullable); output (x, y, basin_x,
    basin_y, basin_id = basin_x·2^32 + basin_y).

    POINTER DOUBLING, not per-hop walking: each round replaces every
    cell's successor with its successor's successor, so after k rounds
    a cell points 2^k hops downstream — paths up to 2^doubling_rounds
    hops resolve in `doubling_rounds` self-joins (64 hops at the
    default 6), the O(log path) trick flow forests share with
    dedup_clusters' label propagation. Pits self-loop, making the
    iteration idempotent at the terminal.

    Scale: each round is ONE equi-join of the pointer table with itself
    on the successor key — no windows, no driver state; the table never
    grows (one row per cell)."""
    ptr = cells.select(
        "x", "y",
        F.coalesce("tox", F.col("x")).alias("nx"),
        F.coalesce("toy", F.col("y")).alias("ny"),
    )
    for _ in range(doubling_rounds):
        nxt = ptr.select(
            F.col("x").alias("nx"),
            F.col("y").alias("ny"),
            F.col("nx").alias("nnx"),
            F.col("ny").alias("nny"),
        )
        ptr = ptr.join(nxt, ["nx", "ny"]).select(
            "x", "y",
            F.col("nnx").alias("nx"),
            F.col("nny").alias("ny"),
        )
    return ptr.select(
        "x", "y",
        F.col("nx").alias("basin_x"),
        F.col("ny").alias("basin_y"),
        (F.col("nx") * F.lit(1 << 32) + F.col("ny")).alias("basin_id"),
    )


def watershed_labels_sql(grid_sql: str) -> str:
    """DuckDB twin of watershed_labels — `grid_sql` must yield
    (x, y, flow_dir, tox, toy) like d8_flow_sql's `grid` CTE."""
    ctes = [
        f"""p0 AS MATERIALIZED (
  SELECT x, y, coalesce(tox, x) AS nx, coalesce(toy, y) AS ny
  FROM ({grid_sql}))"""
    ]
    for k in range(1, 7):
        ctes.append(
            f"""p{k} AS MATERIALIZED (
  SELECT a.x, a.y, b.nx, b.ny
  FROM p{k-1} a JOIN p{k-1} b ON a.nx = b.x AND a.ny = b.y)"""
        )
    last = "p6"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT x, y, nx AS basin_x, ny AS basin_y,"
        f" nx * {1 << 32} + ny AS basin_id FROM {last}"
    )


def viewshed(
    cells: DataFrame,
    ox: int,
    oy: int,
    observer_height: int = 2,
) -> DataFrame:
    """Observer viewshed over an (x, y, elev) grid — the line-of-sight
    raster analysis (gdal_viewshed / r.viewshed): a target cell is
    VISIBLE when no intermediate cell on the discrete sight line rises
    above the ray from the observer's eye to the target's top.

    Integer-exact formulation: the sight line to a target at L∞
    distance s is sampled at i = 1..s−1 with the DEFINED lattice
    x_i = ox + (2·dx·i + s) div (2s) (floor division — identical in
    Spark DIV and DuckDB //, so the sample set is engine-exact even for
    negative deltas), and the blocking test cross-multiplies the ray
    interpolation by s:  s·elev(x_i,y_i) > s·eye + i·(elev_t − eye)
    ⇒ blocked — no division, no float. Output one row per target:
    (x, y, dist_linf, visible, n_blockers).

    Scale: targets explode to at most s−1 samples each (Σ ≈ grid·radius
    rows), then ONE equi-join back to the grid on the sampled cell and
    one aggregate per target — scan → explode → join → agg, all keyed;
    tile the grid + halo (terrain_derivatives' pattern) when the radius
    exceeds a partition."""
    c = cells.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("elev").cast("long").alias("elev"),
    )
    obs = c.filter(
        (F.col("x") == ox) & (F.col("y") == oy)
    ).select((F.col("elev") + observer_height).alias("eye"))
    t = (
        c.crossJoin(F.broadcast(obs))
        .withColumn("dx", F.col("x") - F.lit(ox))
        .withColumn("dy", F.col("y") - F.lit(oy))
        .withColumn(
            "s", F.greatest(F.abs(F.col("dx")), F.abs(F.col("dy")))
        )
    )
    near = t.filter(F.col("s") <= 1).select(
        "x", "y", F.col("s").alias("dist_linf"),
        F.lit(1).cast("long").alias("visible"),
        F.lit(0).cast("long").alias("n_blockers"),
    )
    far = t.filter(F.col("s") > 1)
    samples = far.select(
        "x", "y", "elev", "eye", "dx", "dy", "s",
        F.explode(
            F.sequence(F.lit(1), F.col("s") - 1)
        ).alias("i"),
    ).select(
        "x", "y", "elev", "eye", "s", "i",
        F.expr(f"{ox} + (2 * dx * i + s) DIV (2 * s)").alias("sx"),
        F.expr(f"{oy} + (2 * dy * i + s) DIV (2 * s)").alias("sy"),
    )
    joined = samples.join(
        c.select(
            F.col("x").alias("sx"), F.col("y").alias("sy"),
            F.col("elev").alias("selev"),
        ),
        ["sx", "sy"],
    )
    blocked = joined.select(
        "x", "y",
        (
            F.col("s") * F.col("selev")
            > F.col("s") * F.col("eye")
            + F.col("i") * (F.col("elev") - F.col("eye"))
        ).cast("int").alias("blk"),
    ).groupBy("x", "y").agg(F.sum("blk").alias("n_blockers"))
    farout = (
        far.select("x", "y", F.col("s").alias("dist_linf"))
        .join(blocked, ["x", "y"], "left")
        .select(
            "x", "y", "dist_linf",
            (F.coalesce("n_blockers", F.lit(0)) == 0)
            .cast("long").alias("visible"),
            F.coalesce("n_blockers", F.lit(0)).cast("long").alias(
                "n_blockers"
            ),
        )
    )
    return near.unionByName(farout)


def viewshed_sql(
    cells_sql: str, ox: int, oy: int, observer_height: int = 2
) -> str:
    """DuckDB twin of viewshed."""
    return f"""
WITH c AS (SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
                  CAST(elev AS BIGINT) AS elev FROM ({cells_sql})),
obs AS (SELECT elev + {observer_height} AS eye FROM c
        WHERE x = {ox} AND y = {oy}),
t AS (
  SELECT c.x, c.y, c.elev, o.eye, c.x - {ox} AS dx, c.y - {oy} AS dy,
         greatest(abs(c.x - {ox}), abs(c.y - {oy})) AS s
  FROM c CROSS JOIN obs o
),
near AS (
  SELECT x, y, s AS dist_linf, CAST(1 AS BIGINT) AS visible,
         CAST(0 AS BIGINT) AS n_blockers
  FROM t WHERE s <= 1
),
samples AS (
  SELECT x, y, elev, eye, s,
         unnest(generate_series(1, s - 1)) AS i, dx, dy
  FROM t WHERE s > 1
),
pts AS (
  SELECT x, y, elev, eye, s, i,
         {ox} + (2 * dx * i + s) // (2 * s) AS sx,
         {oy} + (2 * dy * i + s) // (2 * s) AS sy
  FROM samples
),
blocked AS (
  SELECT p.x, p.y,
         CAST(sum(CASE WHEN p.s * g.elev >
           p.s * p.eye + p.i * (p.elev - p.eye) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_blockers
  FROM pts p JOIN c g ON g.x = p.sx AND g.y = p.sy
  GROUP BY p.x, p.y
)
SELECT x, y, dist_linf, visible, n_blockers FROM near
UNION ALL
SELECT f.x, f.y, f.s AS dist_linf,
       CAST(CASE WHEN coalesce(b.n_blockers, 0) = 0 THEN 1 ELSE 0 END
         AS BIGINT) AS visible,
       coalesce(b.n_blockers, 0) AS n_blockers
FROM t f LEFT JOIN blocked b ON f.x = b.x AND f.y = b.y
WHERE f.s > 1
"""
