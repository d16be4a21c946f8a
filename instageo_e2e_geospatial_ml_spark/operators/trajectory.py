"""Trajectory (GPS track) segmentation: split each entity's ordered ping
stream into trips at physically implausible hops — the standard GPS
cleaning pass before map-matching or mobility analysis.

A new trip starts at a ping whose hop from the previous ping either
  * exceeds the speed gate: dist/dt > vmax  ⇔  d² > vmax²·dt²
    (squared/cross-multiplied so the test is pure integer — no sqrt, no
    float, and dt = 0 with any displacement is correctly an instant
    teleport), or
  * follows a dead gap: dt > max_gap_s (the sessionization rule, same as
    streaming/sessions.py but composed with the kinematic gate).

Plan shape: one lag window per entity ordered by (ts, ping id) — the
per-key sort is the unit of parallelism, identical to sessionize_batch —
then trip_id = running sum of break flags over the same window. Two
window functions over ONE partitioning/ordering → a single sort, no
extra shuffle. Per-entity data volume bounds the task, not total volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def segment_trips(
    pings: DataFrame,
    order_tiebreak: str,
    vmax: int = 30,
    max_gap_s: int = 1800,
) -> DataFrame:
    """pings + (trip_id, hop_d2, hop_dt_s, is_break): trip_id is 1-based
    per user; hop_* are NULL on each user's first ping. Coordinates are
    integer planar units (meters); vmax in units/second. Pings order by
    (ts, order_tiebreak)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col(order_tiebreak).asc()
    )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    dx = F.col("px") - F.lag("px").over(w)
    dy = F.col("py") - F.lag("py").over(w)
    out = (
        pings.withColumn("_tus", tus)
        .withColumn("_ltus", F.lag("_tus").over(w))
        .withColumn("hop_dt_s", F.expr("(_tus - _ltus) div 1000000"))
        .withColumn("hop_d2", dx * dx + dy * dy)
        .withColumn(
            "is_break",
            F.when(F.col("hop_dt_s").isNull(), F.lit(True))  # first ping
            .when(F.col("hop_dt_s") > max_gap_s, F.lit(True))
            .when(
                F.col("hop_d2")
                > F.lit(int(vmax) * int(vmax))
                * F.col("hop_dt_s")
                * F.col("hop_dt_s"),
                F.lit(True),
            )
            .otherwise(F.lit(False)),
        )
        .withColumn(
            "trip_id",
            F.sum(F.col("is_break").cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .drop("_tus", "_ltus")
    )
    return out


def stay_points(pings: DataFrame, cell: int, min_dwell_s: int) -> DataFrame:
    """Stay-point (dwell) detection, grid-quantized: a stay is a
    maximal run of consecutive pings (per entity, time order) inside
    one `cell`-sized grid square, kept when its dwell time reaches
    `min_dwell_s` — the home/work/POI-visit primitive of mobility
    analysis (Li et al. 2008 define the radius-threshold form; the
    sequential seed-scan there is inherently order-dependent and
    non-relational, so this operator pins the grid-quantized variant,
    which is exact, engine-independent, and what production systems
    ship at scale).

    Emits (user, stay_id, cell_x, cell_y, t_start_us, t_end_us,
    dwell_us, n_pings, sum_x, sum_y): the centroid is the exact
    rational (sum_x/n, sum_y/n) — numerators kept integer.

    Plan: floor-div cell encode (pure integer), one lag over
    (user | ts, tiebreak) to flag cell changes, a running sum over the
    SAME window for stay ids (one sort, no extra shuffle — the
    segment_trips shape), then a map-side-combinable groupBy.
    """
    u, t = F.col("user_id"), F.col("ts_us").cast("long")
    cx = F.floor(F.col("px").cast("long") / cell).cast("long")
    cy = F.floor(F.col("py").cast("long") / cell).cast("long")
    d = pings.select(
        u.alias("user_id"), t.alias("t_us"),
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
        cx.alias("cx"), cy.alias("cy"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "px", "py")
    brk = (
        F.lag("cx").over(w).isNull()
        | (F.lag("cx").over(w) != F.col("cx"))
        | (F.lag("cy").over(w) != F.col("cy"))
    ).cast("long")
    seg = d.withColumn(
        "stay_id",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        seg.groupBy("user_id", "stay_id")
        .agg(
            F.first("cx").alias("cell_x"),
            F.first("cy").alias("cell_y"),
            F.min("t_us").alias("t_start_us"),
            F.max("t_us").alias("t_end_us"),
            (F.max("t_us") - F.min("t_us")).alias("dwell_us"),
            F.count(F.lit(1)).alias("n_pings"),
            F.sum("px").alias("sum_x"),
            F.sum("py").alias("sum_y"),
        )
        .filter(F.col("dwell_us") >= min_dwell_s * 1_000_000)
    )


def stay_points_sql(pings_sql: str, cell: int, min_dwell_s: int) -> str:
    """DuckDB twin of stay_points over (user_id, ts_us, px, py).
    NOTE: Spark floor(bigint/cell) is double division then floor —
    replicated as floor(CAST(px AS DOUBLE) / cell) for bit parity
    (exact for |px| < 2^52). first(cx) is well-defined because cx is
    constant within a stay — replicated as min(cx)."""
    return f"""
WITH p AS (
  SELECT user_id, CAST(ts_us AS BIGINT) AS t_us,
         CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
         CAST(floor(CAST(px AS DOUBLE) / {cell}) AS BIGINT) AS cx,
         CAST(floor(CAST(py AS DOUBLE) / {cell}) AS BIGINT) AS cy
  FROM ({pings_sql})
),
f AS (
  SELECT *, CASE WHEN lag(cx) OVER w IS NULL
                   OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
            THEN 1 ELSE 0 END AS brk
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t_us, px, py)
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t_us, px, py
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stay_id
  FROM f
)
SELECT user_id, CAST(stay_id AS BIGINT) AS stay_id,
       min(cx) AS cell_x, min(cy) AS cell_y,
       min(t_us) AS t_start_us, max(t_us) AS t_end_us,
       max(t_us) - min(t_us) AS dwell_us,
       CAST(count(*) AS BIGINT) AS n_pings,
       CAST(sum(px) AS BIGINT) AS sum_x, CAST(sum(py) AS BIGINT) AS sum_y
FROM s GROUP BY user_id, stay_id
HAVING max(t_us) - min(t_us) >= {min_dwell_s} * CAST(1000000 AS BIGINT)
"""


def od_flows(stays: DataFrame) -> DataFrame:
    """Origin-destination flow matrix from per-entity stay sequences:
    each consecutive stay pair (in time order) contributes one trip
    from its origin cell to its destination cell; flows aggregate
    trip counts and total transit time (gap between leaving the
    origin and entering the destination — nonnegative by
    construction since stays are disjoint maximal runs).

    The OD matrix is THE mobility-analysis product (commute matrices,
    migration flows, tile-to-tile demand). Composes over stay_points
    output; self-transitions (A -> A, a user returning to the same
    cell) are real flows and are kept.

    Plan: one lead window per entity over the stay sequence — stays
    per entity are few (windows over post-aggregated data), then a
    map-side-combinable groupBy on the 4-part (from, to) cell key.
    """
    from pyspark.sql import Window

    cx, cy = "cell_x", "cell_y"
    w = Window.partitionBy("user_id").orderBy("t_start_us")
    nxt = stays.select(
        F.col("user_id").alias("user_id"),
        F.col(cx).alias("from_x"),
        F.col(cy).alias("from_y"),
        F.col("t_end_us").alias("leave_us"),
        F.lead(F.col(cx)).over(w).alias("to_x"),
        F.lead(F.col(cy)).over(w).alias("to_y"),
        F.lead(F.col("t_start_us")).over(w).alias("enter_us"),
    ).filter(F.col("to_x").isNotNull())
    return nxt.groupBy("from_x", "from_y", "to_x", "to_y").agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.sum(F.col("enter_us") - F.col("leave_us")).alias("transit_us_total"),
    )


def od_flows_sql(stays_sql: str) -> str:
    """DuckDB twin of od_flows over stay_points_sql output."""
    return f"""
WITH st AS MATERIALIZED ({stays_sql}),
tr AS (
  SELECT user_id, cell_x AS from_x, cell_y AS from_y, t_end_us AS leave_us,
         lead(cell_x) OVER w AS to_x, lead(cell_y) OVER w AS to_y,
         lead(t_start_us) OVER w AS enter_us
  FROM st WINDOW w AS (PARTITION BY user_id ORDER BY t_start_us)
)
SELECT from_x, from_y, to_x, to_y,
       CAST(count(*) AS BIGINT) AS n_trips,
       CAST(sum(enter_us - leave_us) AS BIGINT) AS transit_us_total
FROM tr WHERE to_x IS NOT NULL
GROUP BY from_x, from_y, to_x, to_y
"""


def hausdorff_join(points: DataFrame, threshold: int) -> DataFrame:
    """Trajectory-similarity join: all track pairs whose discrete
    Hausdorff distance is <= threshold, with the exact squared distance.

    H(A,B) = max(h(A,B), h(B,A)), h(A,B) = max_{a in A} min_{b in B}
    d(a,b) — the standard symmetric set distance for GPS-track /
    shape matching. Everything is integer: coordinates are integer
    units, distances stay squared (h2 = H^2), and the gate is
    h2 <= threshold^2, so a second engine reproduces every bit.

    Scale shape: candidate pairs come from a LOSSLESS bbox prefilter —
    H(A,B) <= T forces every A-point within T of bbox(B) and vice
    versa, hence |min_x(A) - min_x(B)| <= T (same for the other three
    bbox edges). Min-corner cells at cell size T therefore differ by
    <= 1, so candidates are a 3x3 cell-ring EQUI-join on the tiny
    per-track bbox table (one row per track; the knn.py pattern — no
    cross join). The exact refine joins each candidate pair back to its
    points: cost Σ|A|·|B| over candidates only, quadratic in TRACK
    LENGTH, not corpus size — cap/resample track length upstream
    (operators/simplify.py) as any real matcher does. The oracle twin
    is the unfiltered brute force over all pairs, so a green hash is a
    machine-checked proof the prefilter dropped nothing.
    """
    t2 = threshold * threshold
    pts = points.select(
        F.col("track_id").cast("long").alias("tid"),
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
    )
    bbox = pts.groupBy("tid").agg(
        F.min("px").alias("mnx"),
        F.max("px").alias("mxx"),
        F.min("py").alias("mny"),
        F.max("py").alias("mxy"),
    )
    cell = bbox.select(
        "*",
        F.expr(f"mnx div {threshold}").alias("cx"),
        F.expr(f"mny div {threshold}").alias("cy"),
    )
    a = cell.select([F.col(c).alias(f"a_{c}") for c in cell.columns])
    ring = a.withColumn(
        "dx", F.explode(F.sequence(F.lit(-1), F.lit(1)))
    ).withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
    b = cell.select([F.col(c).alias(f"b_{c}") for c in cell.columns])
    cand = (
        ring.join(
            b,
            (F.col("a_cx") + F.col("dx") == F.col("b_cx"))
            & (F.col("a_cy") + F.col("dy") == F.col("b_cy")),
        )
        .filter(F.col("a_tid") < F.col("b_tid"))
        .filter(
            # mutual bbox nesting within T: necessary for H <= T
            (F.col("a_mnx") >= F.col("b_mnx") - threshold)
            & (F.col("a_mxx") <= F.col("b_mxx") + threshold)
            & (F.col("a_mny") >= F.col("b_mny") - threshold)
            & (F.col("a_mxy") <= F.col("b_mxy") + threshold)
            & (F.col("b_mnx") >= F.col("a_mnx") - threshold)
            & (F.col("b_mxx") <= F.col("a_mxx") + threshold)
            & (F.col("b_mny") >= F.col("a_mny") - threshold)
            & (F.col("b_mxy") <= F.col("a_mxy") + threshold)
        )
        .select("a_tid", "b_tid")
    )
    # both directions through one generic directed pass
    dirs = cand.select(
        F.col("a_tid").alias("src"), F.col("b_tid").alias("dst")
    ).unionByName(
        cand.select(F.col("b_tid").alias("src"), F.col("a_tid").alias("dst"))
    )
    sp = pts.select(
        F.col("tid").alias("src"),
        F.col("px").alias("sx"),
        F.col("py").alias("sy"),
    )
    dp = pts.select(
        F.col("tid").alias("dst"),
        F.col("px").alias("dx_"),
        F.col("py").alias("dy_"),
    )
    d2 = (F.col("sx") - F.col("dx_")) * (F.col("sx") - F.col("dx_")) + (
        F.col("sy") - F.col("dy_")
    ) * (F.col("sy") - F.col("dy_"))
    directed = (
        dirs.join(sp, "src")
        .join(dp, "dst")
        .groupBy("src", "dst", "sx", "sy")
        .agg(F.min(d2).alias("md"))
        .groupBy("src", "dst")
        .agg(F.max("md").alias("h"))
    )
    return (
        directed.select(
            F.least("src", "dst").alias("a_id"),
            F.greatest("src", "dst").alias("b_id"),
            "h",
        )
        .groupBy("a_id", "b_id")
        .agg(F.max("h").alias("h2"))
        .filter(F.col("h2") <= t2)
    )


def hausdorff_join_sql(points_sql: str, threshold: int) -> str:
    """DuckDB twin: brute force over ALL track pairs (no prefilter) —
    hash equality with the operator proves prefilter losslessness."""
    t2 = threshold * threshold
    return f"""
WITH p AS MATERIALIZED (
  SELECT CAST(track_id AS BIGINT) AS tid, CAST(px AS BIGINT) AS px,
         CAST(py AS BIGINT) AS py FROM ({points_sql})
),
ids AS (SELECT DISTINCT tid FROM p),
pairs AS MATERIALIZED (
  SELECT a.tid AS a_id, b.tid AS b_id FROM ids a JOIN ids b ON a.tid < b.tid
),
dirs AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM pairs
),
directed AS (
  SELECT src, dst, max(md) AS h FROM (
    SELECT d.src, d.dst, sa.px, sa.py,
           min((sa.px - sb.px) * (sa.px - sb.px)
             + (sa.py - sb.py) * (sa.py - sb.py)) AS md
    FROM dirs d JOIN p sa ON sa.tid = d.src JOIN p sb ON sb.tid = d.dst
    GROUP BY d.src, d.dst, sa.px, sa.py
  ) GROUP BY src, dst
)
SELECT least(src, dst) AS a_id, greatest(src, dst) AS b_id,
       CAST(max(h) AS BIGINT) AS h2
FROM directed GROUP BY least(src, dst), greatest(src, dst)
HAVING max(h) <= {t2}
"""


def map_match_segments(points: DataFrame, route: list[tuple[int, int]]) -> DataFrame:
    """Linear referencing / nearest-segment map matching: snap every
    integer-coordinate point to its closest segment of the reference
    polyline `route` — (pid, seg_idx, d2_scaled, t_scaled) where
    t_scaled = floor(1e6·t) is the clamped along-segment parameter
    (chainage fraction) and d2_scaled = floor(1e6·d²) the squared
    point-to-segment distance. The matching rule is DEFINED on the
    quantized distance with seg_idx as tie-break, so the assignment is
    a deterministic pure function of the input (engine-exact — both
    sides quantize identically before the argmin).

    Geometry is exact until the single final floor: with w = p - a and
    d = b - a, the interior squared distance is cross(w,d)²/|d|² and the
    endpoint cases are decided by the INTEGER comparisons dot ≤ 0 /
    dot ≥ |d|² — no sqrt, no float. Callers keep coordinates small
    enough that 1e6·cross² fits int64 (|coord| ≲ 400 at scale 1e6).

    Scale: the route is a broadcast literal of |segments| rows — the
    plan is scan → broadcast nested-loop over a constant-size side →
    one min(struct) aggregate per point. No shuffle beyond the final
    per-point aggregate; at 1000 executors this is a map-side pipeline.
    Long routes should be pre-bucketed by coarse cell (the
    operators/knn.py cell-ring pattern) before the refine — this
    operator is the exact refine stage."""
    scale = 1_000_000
    segs = [
        (i, ax, ay, bx, by)
        for i, ((ax, ay), (bx, by)) in enumerate(
            zip(route[:-1], route[1:])
        )
    ]
    spark = points.sparkSession
    seg_df = spark.createDataFrame(
        segs, "seg_idx int, ax long, ay long, bx long, by long"
    )
    p = points.select(
        F.col("pid"),
        F.col("px").cast("long").alias("px"),
        F.col("py").cast("long").alias("py"),
    )
    j = p.crossJoin(F.broadcast(seg_df))
    wx = F.col("px") - F.col("ax")
    wy = F.col("py") - F.col("ay")
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    dot = wx * dx + wy * dy
    len2 = dx * dx + dy * dy
    cross = wx * dy - wy * dx
    ex = F.col("px") - F.col("bx")
    ey = F.col("py") - F.col("by")
    sc = F.lit(scale)
    d2s = (
        F.when(dot <= 0, sc * (wx * wx + wy * wy))
        .when(dot >= len2, sc * (ex * ex + ey * ey))
        .otherwise(F.expr(f"({scale} * ((py-ay)*(bx-ax)-(px-ax)*(by-ay))"
                          f" * ((py-ay)*(bx-ax)-(px-ax)*(by-ay)))"
                          f" DIV ((bx-ax)*(bx-ax)+(by-ay)*(by-ay))"))
    )
    ts = (
        F.when(dot <= 0, F.lit(0))
        .when(dot >= len2, sc)
        .otherwise(F.expr(f"({scale} * ((px-ax)*(bx-ax)+(py-ay)*(by-ay)))"
                          f" DIV ((bx-ax)*(bx-ax)+(by-ay)*(by-ay))"))
    )
    scored = j.select(
        "pid",
        F.struct(
            d2s.cast("long").alias("d2_scaled"),
            F.col("seg_idx").cast("long").alias("seg_idx"),
            ts.cast("long").alias("t_scaled"),
        ).alias("s"),
    )
    best = scored.groupBy("pid").agg(F.min("s").alias("s"))
    return best.select(
        "pid",
        F.col("s.seg_idx").alias("seg_idx"),
        F.col("s.d2_scaled").alias("d2_scaled"),
        F.col("s.t_scaled").alias("t_scaled"),
    )


def map_match_segments_sql(points_sql: str, route: list[tuple[int, int]]) -> str:
    """DuckDB twin of map_match_segments (argmin via row_number over the
    same (d2_scaled, seg_idx) order)."""
    seg_rows = ", ".join(
        f"({i}, {ax}, {ay}, {bx}, {by})"
        for i, ((ax, ay), (bx, by)) in enumerate(
            zip(route[:-1], route[1:])
        )
    )
    return f"""
WITH segs(seg_idx, ax, ay, bx, by) AS (VALUES {seg_rows}),
pts AS (
  SELECT pid, CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py
  FROM ({points_sql})
),
scored AS (
  SELECT p.pid, s.seg_idx,
    CASE
      WHEN (p.px-s.ax)*(s.bx-s.ax)+(p.py-s.ay)*(s.by-s.ay) <= 0
        THEN 1000000 * ((p.px-s.ax)*(p.px-s.ax)+(p.py-s.ay)*(p.py-s.ay))
      WHEN (p.px-s.ax)*(s.bx-s.ax)+(p.py-s.ay)*(s.by-s.ay)
           >= (s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay)
        THEN 1000000 * ((p.px-s.bx)*(p.px-s.bx)+(p.py-s.by)*(p.py-s.by))
      ELSE (1000000 * ((p.py-s.ay)*(s.bx-s.ax)-(p.px-s.ax)*(s.by-s.ay))
                    * ((p.py-s.ay)*(s.bx-s.ax)-(p.px-s.ax)*(s.by-s.ay)))
           // ((s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay))
    END AS d2_scaled,
    CASE
      WHEN (p.px-s.ax)*(s.bx-s.ax)+(p.py-s.ay)*(s.by-s.ay) <= 0 THEN 0
      WHEN (p.px-s.ax)*(s.bx-s.ax)+(p.py-s.ay)*(s.by-s.ay)
           >= (s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay)
        THEN 1000000
      ELSE (1000000 * ((p.px-s.ax)*(s.bx-s.ax)+(p.py-s.ay)*(s.by-s.ay)))
           // ((s.bx-s.ax)*(s.bx-s.ax)+(s.by-s.ay)*(s.by-s.ay))
    END AS t_scaled
  FROM pts p CROSS JOIN segs s
),
rnk AS (
  SELECT pid, seg_idx, d2_scaled, t_scaled,
         row_number() OVER (PARTITION BY pid
           ORDER BY d2_scaled, seg_idx) AS rn
  FROM scored
)
SELECT pid, CAST(seg_idx AS BIGINT) AS seg_idx,
       CAST(d2_scaled AS BIGINT) AS d2_scaled,
       CAST(t_scaled AS BIGINT) AS t_scaled
FROM rnk WHERE rn = 1
"""


def heading_profile(pings: DataFrame) -> DataFrame:
    """Per-entity heading distribution over consecutive integer-grid
    pings — the movement-direction analytic (commute axes, migration
    bearing) WITHOUT atan2: the hop (dx, dy) maps to one of 8 compass
    octants by pure integer sign/magnitude comparisons (|dx| vs |dy|
    splits at the 45° diagonals; equality IS the diagonal sector;
    zero-hop pings are counted separately as 'stay'). Deterministic
    and engine-exact by construction.

    Output per entity: n_hops, stay, e, ne, n, nw, w, sw, s, se, and
    dominant = the max-count octant name (ties → compass order E..SE,
    portable argmax via the greatest-of chain). One lag window per
    entity on (ts) + one aggregate — the segment_trips plan shape."""
    # (ts, id) total order — a ts tie alone would be engine-ambiguous
    w = Window.partitionBy("uid").orderBy(F.col("tus").asc(), F.col("eid").asc())
    dx = F.col("px") - F.lag("px").over(w)
    dy = F.col("py") - F.lag("py").over(w)
    hops = pings.select(
        F.col("uid").alias("uid"), dx.alias("dx"), dy.alias("dy")
    ).filter(F.col("dx").isNotNull())
    ax, ay = F.abs(F.col("dx")), F.abs(F.col("dy"))
    oct_ = (
        F.when((F.col("dx") == 0) & (F.col("dy") == 0), "stay")
        .when((ax > ay) & (F.col("dx") > 0), "e")
        .when((ax > ay) & (F.col("dx") < 0), "w")
        .when((ay > ax) & (F.col("dy") > 0), "n")
        .when((ay > ax) & (F.col("dy") < 0), "s")
        .when((F.col("dx") > 0) & (F.col("dy") > 0), "ne")
        .when((F.col("dx") < 0) & (F.col("dy") > 0), "nw")
        .when((F.col("dx") > 0) & (F.col("dy") < 0), "se")
        .otherwise("sw")
    )
    names = ["stay", "e", "ne", "n", "nw", "w", "sw", "s", "se"]
    agg = hops.select("uid", oct_.alias("o")).groupBy("uid").agg(
        F.count(F.lit(1)).alias("n_hops"),
        *[
            F.sum(F.when(F.col("o") == nm, 1).otherwise(0)).alias(nm)
            for nm in names
        ],
    )
    compass = ["e", "ne", "n", "nw", "w", "sw", "s", "se"]
    # portable argmax with compass-order tie-break: fold max over the
    # fixed column list, then pick the FIRST name attaining it
    mx = F.greatest(*[F.col(nm) for nm in compass])
    dom = None
    for nm in reversed(compass):
        dom = (
            F.when(F.col(nm) == mx, F.lit(nm))
            if dom is None
            else F.when(F.col(nm) == mx, F.lit(nm)).otherwise(dom)
        )
    return agg.select(
        "uid", "n_hops", *names, dom.alias("dominant")
    )


def heading_profile_sql(pings_sql: str) -> str:
    """DuckDB twin of heading_profile (`pings_sql` yields uid, tus,
    eid, px, py)."""
    names = ["stay", "e", "ne", "n", "nw", "w", "sw", "s", "se"]
    sums = ",\n  ".join(
        f"CAST(sum(CASE WHEN o = '{nm}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {nm}"
        for nm in names
    )
    compass = ["e", "ne", "n", "nw", "w", "sw", "s", "se"]
    mx = "greatest(" + ", ".join(compass) + ")"
    dom = "CASE "
    for nm in compass:
        dom += f"WHEN {nm} = {mx} THEN '{nm}' "
    dom += "END"
    return f"""
WITH hops AS (
  SELECT uid,
         px - lag(px) OVER (PARTITION BY uid ORDER BY tus, eid) AS dx,
         py - lag(py) OVER (PARTITION BY uid ORDER BY tus, eid) AS dy
  FROM ({pings_sql})
),
named AS (
  SELECT uid,
    CASE
      WHEN dx = 0 AND dy = 0 THEN 'stay'
      WHEN abs(dx) > abs(dy) AND dx > 0 THEN 'e'
      WHEN abs(dx) > abs(dy) AND dx < 0 THEN 'w'
      WHEN abs(dy) > abs(dx) AND dy > 0 THEN 'n'
      WHEN abs(dy) > abs(dx) AND dy < 0 THEN 's'
      WHEN dx > 0 AND dy > 0 THEN 'ne'
      WHEN dx < 0 AND dy > 0 THEN 'nw'
      WHEN dx > 0 AND dy < 0 THEN 'se'
      ELSE 'sw'
    END AS o
  FROM hops WHERE dx IS NOT NULL
),
agg AS (
  SELECT uid, CAST(count(*) AS BIGINT) AS n_hops,
  {sums}
  FROM named GROUP BY uid
)
SELECT uid, n_hops, {", ".join(names)}, {dom} AS dominant
FROM agg
"""


def impossible_travel(pings: DataFrame, vmax: int) -> DataFrame:
    """Impossible-travel detection — the account-security primitive
    (two logins whose implied speed exceeds any real journey): per key,
    consecutive hops ordered by time, flagged when

        dist² > vmax² · dt_s²        (dt_s > 0)
        dist² > 0                    (dt_s = 0: teleport)

    The squared comparison keeps it pure integer (no sqrt, no
    division): dist² in grid-unit², dt in whole seconds (dt_s =
    dt_us div 1e6), vmax in units/second. Callers size the grid so
    dist²·1 and vmax²·dt_s² fit int64 (a month of seconds squared is
    ~7e12 — vmax up to ~1e3 is safe).

    One lag window per key (the sessionize shuffle), one filterless
    aggregate. Output per key: (u, n_hops, n_impossible,
    max_dist2_flagged or NULL).
    """
    w = Window.partitionBy("u").orderBy(
        F.col("tus").asc(), F.col("x").asc(), F.col("y").asc()
    )
    hops = pings.select(
        F.col("u").alias("u"),
        F.col("tus").alias("tus"),
        F.col("x").alias("x"),
        F.col("y").alias("y"),
        F.lag("tus").over(w).alias("ptus"),
        F.lag("x").over(w).alias("px"),
        F.lag("y").over(w).alias("py"),
    ).filter(F.col("ptus").isNotNull())
    hops = hops.select(
        "u",
        F.expr("(x - px) * (x - px) + (y - py) * (y - py)").alias("d2"),
        F.expr("(tus - ptus) div 1000000").alias("dt_s"),
    ).select(
        "u",
        "d2",
        (
            F.when(F.col("dt_s") > 0,
                   F.col("d2") > F.lit(vmax * vmax) * F.col("dt_s") * F.col("dt_s"))
            .otherwise(F.col("d2") > 0)
        ).cast("long").alias("flag"),
    )
    return hops.groupBy("u").agg(
        F.count(F.lit(1)).alias("n_hops"),
        F.sum("flag").alias("n_impossible"),
        F.max(F.when(F.col("flag") == 1, F.col("d2"))).alias(
            "max_dist2_flagged"
        ),
    )


def impossible_travel_sql(
    pings_sql: str, vmax: int
) -> str:
    """DuckDB twin of impossible_travel (`pings_sql` yields
    u, tus, x, y)."""
    return f"""
WITH hops AS (
  SELECT u, tus, x, y,
         lag(tus) OVER w AS ptus, lag(x) OVER w AS px,
         lag(y) OVER w AS py
  FROM ({pings_sql})
  WINDOW w AS (PARTITION BY u ORDER BY tus ASC, x ASC, y ASC)
),
d AS (
  SELECT u,
         (x - px) * (x - px) + (y - py) * (y - py) AS d2,
         (tus - ptus) // 1000000 AS dt_s
  FROM hops WHERE ptus IS NOT NULL
),
f AS (
  SELECT u, d2,
         CASE WHEN dt_s > 0 THEN
           CASE WHEN d2 > {vmax * vmax} * dt_s * dt_s THEN 1 ELSE 0 END
         ELSE CASE WHEN d2 > 0 THEN 1 ELSE 0 END END AS flag
  FROM d
)
SELECT u, CAST(count(*) AS BIGINT) AS n_hops,
       CAST(sum(flag) AS BIGINT) AS n_impossible,
       CAST(max(CASE WHEN flag = 1 THEN d2 END) AS BIGINT)
         AS max_dist2_flagged
FROM f GROUP BY 1
"""
