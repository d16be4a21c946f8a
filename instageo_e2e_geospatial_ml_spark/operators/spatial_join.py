"""J1: point-in-polygon spatial join (observations × granule footprints).

Reference semantics (instageo/data/stac_utils.py:116-154
`dispatch_candidate_items` + hls_utils.py:173-210): for each observation
point, the list of granules whose footprint polygon contains it; points with
no match get an empty list.

Spark-first design (replaces geopandas STRtree sjoin):
  1. bucket each footprint by the grid cells its bbox covers (explode —
     distributed, no driver loop);
  2. equi-join observations to the broadcast buckets on cell id — this is
     the coarse index, and the fact table never shuffles; a bbox test
     prunes the candidates;
  3. exact refine: an even-odd ray cast over the ring's edges, written as
     one Catalyst higher-order expression (`aggregate` over the vertex
     indices), so convex and concave footprints alike refine in the JVM
     with no Python worker (pip_join(exact=False) stops at the bbox test);
  4. group matches back per observation (array_sort for deterministic
     candidate order — J2's tie-break depends on it).

At 10^12-obs scale: the granule catalog (≤ millions of rows after cell
explode) broadcasts; step 2 is a map-side hash join with zero shuffle of the
fact side; the only wide exchange is the per-observation regroup in step 4,
which is keyed by obs_id and benefits from AQE coalescing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.geo import cell_id, cell_of

DEFAULT_PIP_RES = 7  # cell size 180/2^7 = 1.40625° ≥ one MGRS tile footprint


def _ray_cast_inside(px: Column, py: Column, xs: Column, ys: Column) -> Column:
    """Even-odd ray cast of point (px, py) against ring (xs, ys), as one
    Catalyst expression (an `aggregate` over the vertex indices; no Python
    worker, no Arrow IPC). Each edge runs the numpy ray cast's operations
    in the same order: skip an edge with y1 == y2 (so no division by zero),
    test (y1 > py) != (y2 > py), then px < (x2 - x1) * (py - y1) / (y2 - y1)
    + x1. IEEE doubles on the JVM therefore give the numpy answer bit for
    bit, boundary points included, for open rings [v1..vn], closed rings
    [v1..vn, v1], convex and concave alike. A null or empty ring contains
    nothing."""
    n = F.size(xs)

    def _flip(inside, i):
        j = F.when(i == 1, n).otherwise(i - 1)  # edge v[j] -> v[i], v[n] -> v[1] first
        x1, y1 = F.element_at(xs, j), F.element_at(ys, j)
        x2, y2 = F.element_at(xs, i), F.element_at(ys, i)
        cross = F.when(
            y1 != y2,
            ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1),
        ).otherwise(F.lit(False))
        return inside != cross

    return F.when(
        n > 0, F.aggregate(F.sequence(F.lit(1), n), F.lit(False), _flip)
    ).otherwise(F.lit(False))


def bucket_polygons(catalog: DataFrame) -> DataFrame:
    """Explode each footprint into the grid cells its bbox covers.

    Pure column expressions (sequence × sequence cross) — no Python.
    """
    n = 1 << DEFAULT_PIP_RES

    def _clamp(c, hi):
        return F.least(F.greatest(c, F.lit(0)), F.lit(hi))

    # clamp like grid.cell_encode so boundary footprints bucket identically
    cx0 = _clamp(F.floor((F.col("fp_minx") + 180.0) * n / 180.0).cast("long"), 2 * n - 1)
    cx1 = _clamp(F.floor((F.col("fp_maxx") + 180.0) * n / 180.0).cast("long"), 2 * n - 1)
    cy0 = _clamp(F.floor((F.col("fp_miny") + 90.0) * n / 180.0).cast("long"), n - 1)
    cy1 = _clamp(F.floor((F.col("fp_maxy") + 90.0) * n / 180.0).cast("long"), n - 1)
    return (
        catalog.withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
        .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
        .withColumn("cell", cell_id(DEFAULT_PIP_RES, F.col("_cy"), F.col("_cx")))
        .drop("_cx", "_cy")
    )


def pip_join(
    obs: DataFrame,
    catalog: DataFrame,
    obs_id: str = "obs_id",
    exact: bool = True,
    expand_granules: bool = True,
) -> DataFrame:
    """(obs_id, granule_id) match pairs: observation point within footprint.

    The bucketed catalog (dim side) is broadcast to the point scan. exact
    selects the refine stage after the cell-bucket + bbox prune:
      True (default) — the even-odd ray cast (_ray_cast_inside), one
          Catalyst expression for every footprint, convex or concave: no
          Python worker, no Arrow IPC, and no job while the plan is built.
          Its answers equal the numpy ray cast's bit for bit, boundary
          points included.
      False — stop at the bbox test (footprints known to be rectangles).

    Footprint dedup: catalogs routinely carry MANY granules per identical
    footprint (every revisit of a tile shares its polygon — 240× for a
    daily 8-month HLS catalog). The containment test runs once per
    DISTINCT footprint and the granule list is re-attached afterwards by
    a broadcast equi-join on the footprint id, so exact-refine work is
    O(obs × distinct footprints), not O(obs × granules). Output pairs are
    identical.

    expand_granules=False returns (obs_id, _fp_id) matches WITHOUT the
    granule fan-out — for callers that fuse the fan-out with a later
    filter (the chip pipeline joins granules per footprint WITH the
    temporal-tolerance predicate, so the obs × all-revisits intermediate
    never crosses an exchange; see plans/pipeline.build_records). Pair
    with footprint_key() to key the granule side.
    """
    geom = list(FP_GEOM_COLS)
    with_fp = catalog.withColumn("_fp_id", _fp_identity())
    fp_granules = with_fp.select("_fp_id", "granule_id")
    cat = with_fp.select("_fp_id", *geom).distinct()

    buckets = F.broadcast(bucket_polygons(cat))
    # spread a few-row-group local scan before the broadcast join: the
    # candidate join + exact refine is per-point compute that a 1-6 task
    # scan would serialize (guide §2.5 input skew; no-op when the fact
    # side is already well-partitioned — the cluster case)
    from ..functions.text import spread_input

    pts = spread_input(obs).withColumn("cell", cell_of("x", "y", DEFAULT_PIP_RES))
    j = pts.join(buckets, "cell", "inner")
    # cheap bbox pre-filter always applies (prunes before the exact refine)
    j = j.filter(
        (F.col("x") >= F.col("fp_minx"))
        & (F.col("x") <= F.col("fp_maxx"))
        & (F.col("y") >= F.col("fp_miny"))
        & (F.col("y") <= F.col("fp_maxy"))
    )
    if exact:
        j = j.filter(
            _ray_cast_inside(F.col("x"), F.col("y"), F.col("fp_xs"), F.col("fp_ys"))
        )
    if not expand_granules:
        return j.select(obs_id, "_fp_id")
    # re-attach the granules sharing each matched footprint (broadcast —
    # the map is the dim side)
    out = j.select(obs_id, "_fp_id").join(F.broadcast(fp_granules), "_fp_id")
    return out.select(obs_id, "granule_id")


FP_GEOM_COLS = ["fp_minx", "fp_miny", "fp_maxx", "fp_maxy", "fp_xs", "fp_ys"]


def _fp_identity() -> Column:
    """128-bit footprint identity: a struct of two independently-salted
    xxhash64s over the geometry columns. 16 bytes per row (vs carrying the
    polygon arrays through every match exchange); the chance that two
    DISTINCT footprints collide — which would silently merge them and
    attach the wrong granules — is ~n²/2^129: even at 10^9 distinct
    footprints that is ~10^-21, far below any hardware error rate. A
    single xxhash64 (n²/2^65) would reach ~3% at 10^9 — not acceptable.
    """
    return F.struct(
        F.xxhash64(*FP_GEOM_COLS).alias("h1"),
        F.xxhash64(F.lit("fp-salt-2"), *FP_GEOM_COLS).alias("h2"),
    )


def footprint_key(catalog: DataFrame) -> DataFrame:
    """catalog + `_fp_id` column — the same footprint-identity key
    pip_join uses internally (128-bit salted-double-xxhash64 struct)."""
    return catalog.withColumn("_fp_id", _fp_identity())


def candidate_lists(matches: DataFrame, obs: DataFrame) -> DataFrame:
    """A3 + reindex-fill: per-observation sorted candidate array; empty array
    for observations with no match (reference stac_utils.py:148-153)."""
    agg = matches.groupBy("obs_id").agg(
        F.array_sort(F.collect_list("granule_id")).alias("candidate_items")
    )
    return (
        obs.select("obs_id")
        .join(agg, "obs_id", "left")
        .withColumn(
            "candidate_items",
            F.coalesce(F.col("candidate_items"), F.array().cast("array<string>")),
        )
    )


def bbox_join(
    a: DataFrame,
    b: DataFrame,
    cell_size: float,
    max_cells_per_rect: int = 4096,
    max_broadcast_rects: int = 100_000,
) -> DataFrame:
    """Rectangle-intersection (bbox overlap) join — the polygon⋈polygon
    counterpart of pip_join's point⋈polygon, and the 2-D analog of
    ranges.interval_join. Contract: `a` carries (a_minx, a_miny, a_maxx,
    a_maxy), `b` carries (b_minx, ...); any other columns pass through.
    A pair matches when the CLOSED boxes overlap (touching edges count):
    a_minx <= b_maxx AND b_minx <= a_maxx, same for y.

    Plan: grid-bucket both sides — each rect explodes to every
    (cell_size × cell_size) grid cell its bbox touches (two nested
    `sequence` explodes) — equi-join on (cx, cy), refine with the exact
    predicate. Dedup is structural, not a `distinct`: a pair is emitted
    only from its RESPONSIBILITY CELL, the cell containing the
    intersection's lower-left corner (floor(max(minx_a, minx_b)/cell),
    floor(max(miny_a, miny_b)/cell)) — a corner both rects cover, so
    exactly one joined cell passes the rx/ry equality (the reference-point
    technique from the SpatialHadoop / partitioned-spatial-join
    literature). No shuffle-dedup stage, no over-count.

    Oversize routing (same discipline as interval_join): a rect touching
    >= max_cells_per_rect cells skips the explode and joins through a
    broadcast theta branch instead — branch (a_over × b_all) plus branch
    (a_small × b_over), so every pair still arrives exactly once. Over-cap
    sides are counted first and > max_broadcast_rects raises (mis-sized
    cell_size must fail loudly, not OOM the driver at broadcast time).

    Scale: explode volume is Σ cells-touched ≈ area/cell² per rect — pick
    cell_size near the typical rect edge so rects touch O(1..4) cells; the
    equi-join shuffles on cell id, so spatially skewed data lands hot
    cells on single tasks (salt via skew.py or shrink cell_size if one
    cell dominates).
    """
    overlap = (
        (F.col("a_minx") <= F.col("b_maxx"))
        & (F.col("b_minx") <= F.col("a_maxx"))
        & (F.col("a_miny") <= F.col("b_maxy"))
        & (F.col("b_miny") <= F.col("a_maxy"))
    )

    def cells(df: DataFrame, p: str) -> tuple[DataFrame, DataFrame]:
        c0x = F.floor(F.col(f"{p}_minx") / F.lit(cell_size))
        c1x = F.floor(F.col(f"{p}_maxx") / F.lit(cell_size))
        c0y = F.floor(F.col(f"{p}_miny") / F.lit(cell_size))
        c1y = F.floor(F.col(f"{p}_maxy") / F.lit(cell_size))
        df = df.withColumn("_nc", (c1x - c0x + 1) * (c1y - c0y + 1))
        small, over = df.filter(
            F.col("_nc") < max_cells_per_rect
        ).drop("_nc"), df.filter(F.col("_nc") >= max_cells_per_rect).drop("_nc")
        bucketed = small.withColumn(
            "_cx", F.explode(F.sequence(c0x, c1x))
        ).withColumn("_cy", F.explode(F.sequence(c0y, c1y)))
        return bucketed, over

    a_cells, a_over = cells(a, "a")
    b_cells, b_over = cells(b, "b")

    rx = F.floor(F.greatest("a_minx", "b_minx") / F.lit(cell_size))
    ry = F.floor(F.greatest("a_miny", "b_miny") / F.lit(cell_size))
    out = (
        a_cells.join(b_cells, ["_cx", "_cy"])
        .filter(overlap & (F.col("_cx") == rx) & (F.col("_cy") == ry))
        .drop("_cx", "_cy")
    )

    a_nc = (
        F.floor(F.col("a_maxx") / F.lit(cell_size))
        - F.floor(F.col("a_minx") / F.lit(cell_size))
        + 1
    ) * (
        F.floor(F.col("a_maxy") / F.lit(cell_size))
        - F.floor(F.col("a_miny") / F.lit(cell_size))
        + 1
    )
    a_small = a.filter(a_nc < max_cells_per_rect)
    for side, name in ((a_over, "a"), (b_over, "b")):
        n = side.limit(max_broadcast_rects + 1).count()
        if n > max_broadcast_rects:
            raise ValueError(
                f"more than {max_broadcast_rects} '{name}' rects touch >= "
                f"{max_cells_per_rect} cells of size {cell_size} — coarsen "
                "cell_size toward the typical rect edge (or raise the caps) "
                "so over-cap rects are pathological-few."
            )
    theta_a = F.broadcast(a_over).join(b, overlap, "inner")
    theta_b = a_small.join(F.broadcast(b_over), overlap, "inner")
    return out.unionByName(theta_a).unionByName(theta_b)


def _orient(px, py, qx, qy, rx, ry) -> Column:
    """sign of the cross product (q-p) x (r-p): +1 left turn, -1 right
    turn, 0 collinear — exact in bigint (coords up to ~2^30 are safe)."""
    return F.signum(
        (qx - px) * (ry - py) - (qy - py) * (rx - px)
    ).cast("int")


def _on_segment(px, py, qx, qy, rx, ry) -> Column:
    """Given r collinear with segment pq: is r within pq's bbox?"""
    return (
        (F.least(px, qx) <= rx)
        & (rx <= F.greatest(px, qx))
        & (F.least(py, qy) <= ry)
        & (ry <= F.greatest(py, qy))
    )


def segment_intersect_join(a: DataFrame, b: DataFrame, cell_size: float) -> DataFrame:
    """Line-segment intersection join: pairs (a, b) whose CLOSED segments
    share at least one point — proper crossings, endpoint touches, and
    collinear overlaps alike (CLRS 33.1's direction/on-segment test, all
    integer cross products, zero float).

    Contract: `a` carries (a_x1, a_y1, a_x2, a_y2), `b` carries (b_x1,
    ...); other columns pass through. Plan: segment bboxes feed
    bbox_join (grid bucketing + responsibility-cell dedup + oversize
    broadcast routing — bbox overlap is necessary for intersection, so
    no pair is lost), then the exact orientation predicate refines.
    Refinement happens where the candidate was emitted — exactly once
    per pair — so the output needs no dedup either.
    """
    aa = a.withColumns(
        {
            "a_minx": F.least("a_x1", "a_x2"),
            "a_maxx": F.greatest("a_x1", "a_x2"),
            "a_miny": F.least("a_y1", "a_y2"),
            "a_maxy": F.greatest("a_y1", "a_y2"),
        }
    )
    bb = b.withColumns(
        {
            "b_minx": F.least("b_x1", "b_x2"),
            "b_maxx": F.greatest("b_x1", "b_x2"),
            "b_miny": F.least("b_y1", "b_y2"),
            "b_maxy": F.greatest("b_y1", "b_y2"),
        }
    )
    cand = bbox_join(
        aa, bb, cell_size,
        max_cells_per_rect=4096,
        max_broadcast_rects=100_000,
    )
    ax1, ay1 = F.col("a_x1"), F.col("a_y1")
    ax2, ay2 = F.col("a_x2"), F.col("a_y2")
    bx1, by1 = F.col("b_x1"), F.col("b_y1")
    bx2, by2 = F.col("b_x2"), F.col("b_y2")
    d1 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = _orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    touch = (
        ((d1 == 0) & _on_segment(bx1, by1, bx2, by2, ax1, ay1))
        | ((d2 == 0) & _on_segment(bx1, by1, bx2, by2, ax2, ay2))
        | ((d3 == 0) & _on_segment(ax1, ay1, ax2, ay2, bx1, by1))
        | ((d4 == 0) & _on_segment(ax1, ay1, ax2, ay2, bx2, by2))
    )
    return cand.filter(proper | touch).drop(
        "a_minx", "a_miny", "a_maxx", "a_maxy",
        "b_minx", "b_miny", "b_maxx", "b_maxy",
    )
