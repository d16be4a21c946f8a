"""Exact area of a union of axis-aligned rectangles, per group — the
classic computational-geometry sweep (Bentley 1977) re-expressed as
relational operators so it distributes.

The sweep's two ingredients map cleanly onto DataFrame ops:

1. **Coordinate compression** → the distinct x boundaries of a group's
   rectangles, turned into half-open slabs [xs, xe) by one lead()
   window per group (2·n boundaries per group — window input is
   boundary-count sized, not data sized).
2. **Slab coverage** → a point-in-interval join (slab start xs against
   rect [x1, x2)): because xe is the NEXT boundary after xs and x2 is
   itself a boundary, xs ∈ [x1, x2) already implies the whole slab lies
   inside the rectangle — so the join predicate is exactly the
   bucketed point-in-interval rewrite operators/ranges.py uses:
   explode each rectangle to the fixed-width x-buckets it covers,
   equi-join slabs by bucket(xs), refine x1 <= xs < x2. No
   nested-loop join, shuffles key on (group, bucket).
3. **Y-interval merge per slab** → gaps-and-islands: order a slab's
   covering rectangles by y1, island starts where y1 exceeds the
   running max of preceding y2 (classic interval-merge as one window
   pass), then per-island length = max(y2) - min(y1). All integer.

Area = Σ_slabs covered_y(slab) · (xe - xs). Everything is exact bigint
arithmetic — the same computation runs verbatim in DuckDB for the
oracle twin.

Scale: shuffles are keyed on (group, x-bucket) and (group, slab) — both
fine-grained; the per-slab window sorts only that slab's covering
rectangles. A rectangle spanning many buckets explodes to
width/bucket_width rows; callers pick bucket_width near the typical
rectangle width (the interval_join sizing rule). Degenerate rectangles
(x1 >= x2 or y1 >= y2) contribute no area and are dropped up front.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rect_union_area(rects: DataFrame, bucket_width: int = 256) -> DataFrame:
    """Per-group exact union area of half-open integer rectangles
    [x1, x2) × [y1, y2). Returns (grp, n_rects, n_slabs, area)."""
    g = F.col("grp")
    r = rects.filter((F.col("x1") < F.col("x2")) & (F.col("y1") < F.col("y2")))
    n_rects = r.groupBy("grp").agg(F.count(F.lit(1)).alias("n_rects"))

    bounds = (
        r.select(g, F.col("x1").alias("xb"))
        .unionByName(r.select(g, F.col("x2").alias("xb")))
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("xb")
    slabs = (
        bounds.withColumn("xe", F.lead("xb").over(w))
        .filter(F.col("xe").isNotNull())
        .select(g, F.col("xb").alias("xs"), "xe")
    )

    # bucketed point-in-interval join: slab start xs vs rect [x1, x2)
    bw = bucket_width
    rb = r.select(
        g,
        F.col("x1").alias("rx1"),
        F.col("x2").alias("rx2"),
        F.col("y1").alias("ry1"),
        F.col("y2").alias("ry2"),
        F.explode(
            F.sequence(F.floor(F.col("x1") / bw), F.floor((F.col("x2") - 1) / bw))
        ).alias("bkt"),
    )
    sb = slabs.withColumn("bkt", F.floor(F.col("xs") / bw))
    pairs = sb.join(rb, ["grp", "bkt"]).filter(
        (F.col("rx1") <= F.col("xs")) & (F.col("xs") < F.col("rx2"))
    )

    # gaps-and-islands y-merge per (group, slab)
    ws = Window.partitionBy("grp", "xs").orderBy(
        F.col("ry1").asc(), F.col("ry2").desc()
    )
    run_max = F.max("ry2").over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = pairs.withColumn(
        "new_island",
        F.when(
            run_max.isNull() | (F.col("ry1") > run_max), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("new_island").over(ws))
    covered = (
        flagged.groupBy("grp", "xs", "xe", "island")
        .agg((F.max("ry2") - F.min("ry1")).alias("ylen"))
        .groupBy("grp", "xs", "xe")
        .agg(F.sum("ylen").alias("ycov"))
    )
    area = covered.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_slabs"),
        F.sum(F.col("ycov") * (F.col("xe") - F.col("xs"))).alias("area"),
    )
    return n_rects.join(area, "grp", "left").select(
        g,
        "n_rects",
        F.coalesce(F.col("n_slabs"), F.lit(0)).cast("long").alias("n_slabs"),
        F.coalesce(F.col("area"), F.lit(0)).cast("long").alias("area"),
    )


def rect_union_area_sql(rects_sql: str) -> str:
    """The identical sweep as DuckDB SQL (oracle twin). `rects_sql` must
    select (grp, x1, y1, x2, y2) integer columns."""
    gc = "grp"
    return f"""
WITH r AS (
  SELECT * FROM ({rects_sql}) WHERE x1 < x2 AND y1 < y2
),
nr AS (SELECT {gc}, CAST(count(*) AS BIGINT) AS n_rects FROM r GROUP BY 1),
bounds AS (
  SELECT DISTINCT {gc}, xb FROM (
    SELECT {gc}, x1 AS xb FROM r UNION ALL SELECT {gc}, x2 AS xb FROM r
  )
),
slabs AS (
  SELECT {gc}, xb AS xs,
         lead(xb) OVER (PARTITION BY {gc} ORDER BY xb) AS xe
  FROM bounds
),
pairs AS (
  SELECT s.{gc}, s.xs, s.xe, r.y1 AS ry1, r.y2 AS ry2
  FROM slabs s JOIN r ON r.{gc} = s.{gc}
   AND r.x1 <= s.xs AND s.xs < r.x2
  WHERE s.xe IS NOT NULL
),
flagged AS (
  SELECT *,
    CASE WHEN max(ry2) OVER
           (PARTITION BY {gc}, xs ORDER BY ry1 ASC, ry2 DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
         OR ry1 > max(ry2) OVER
           (PARTITION BY {gc}, xs ORDER BY ry1 ASC, ry2 DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM pairs
),
islanded AS (
  SELECT *, sum(new_island) OVER
    (PARTITION BY {gc}, xs ORDER BY ry1 ASC, ry2 DESC) AS island
  FROM flagged
),
cov AS (
  SELECT {gc}, xs, xe, CAST(sum(ylen) AS BIGINT) AS ycov FROM (
    SELECT {gc}, xs, xe, island, max(ry2) - min(ry1) AS ylen
    FROM islanded GROUP BY {gc}, xs, xe, island
  ) GROUP BY {gc}, xs, xe
),
ar AS (
  SELECT {gc}, CAST(count(*) AS BIGINT) AS n_slabs,
         CAST(sum(ycov * (xe - xs)) AS BIGINT) AS area
  FROM cov GROUP BY 1
)
SELECT nr.{gc}, nr.n_rects,
       CAST(coalesce(ar.n_slabs, 0) AS BIGINT) AS n_slabs,
       CAST(coalesce(ar.area, 0) AS BIGINT) AS area
FROM nr LEFT JOIN ar ON nr.{gc} = ar.{gc}
"""


def convex_hull(points: DataFrame) -> DataFrame:
    """Per-group convex hull of integer points: Andrew's monotone chain
    (1979), COLLINEAR BOUNDARY POINTS KEPT (pop only on strict clockwise
    turns), one applyInPandas per group — hulls are per-entity
    (trajectory, cluster, footprint), so the group is the natural work
    unit and the chain is O(n log n) in the group's size, numpy-sorted.

    Returns one row per hull vertex: (group, vx, vy, n_hull, area2)
    where area2 = 2x the hull area via the shoelace sum over the cyclic
    chain (exact bigint; 0 for degenerate collinear groups).

    The oracle twin (convex_hull_sql) uses a DIFFERENT algorithm — the
    O(n^3) extreme-edge characterization over integer orientation
    predicates — so agreement is a genuine cross-check, not a shared
    implementation. A 2-distinct-point group yields both directed
    edges in the twin (the NOT EXISTS is vacuous) and agrees with the
    chain; a 1-distinct-point group has no edges, so the twin emits it
    through an explicit singleton branch to match the chain's
    (point, n_hull=1, area2=0) row."""
    import pandas as pd

    out_schema = (
        "grp string, vx long, vy long, n_hull long, area2 long"
    )

    def chain(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        grp = pdf["grp"].iloc[0]
        pts = np.unique(
            pdf[["x", "y"]].to_numpy(dtype=np.int64), axis=0
        )  # lexicographic sort + dedup
        n = len(pts)
        if n == 0:
            return pd.DataFrame(columns=["grp", "vx", "vy", "n_hull", "area2"])

        def cross(o, a, b):
            return int(
                (a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0])
            )

        def half(seq):
            h = []
            for p in seq:
                while len(h) >= 2 and cross(h[-2], h[-1], p) < 0:
                    h.pop()
                h.append(tuple(p))
            return h

        if n == 1:
            verts, area2 = [tuple(pts[0])], 0
        else:
            lower = half(pts)
            upper = half(pts[::-1])
            ring = lower[:-1] + upper[:-1]
            area2 = sum(
                ring[i][0] * ring[(i + 1) % len(ring)][1]
                - ring[(i + 1) % len(ring)][0] * ring[i][1]
                for i in range(len(ring))
            )
            seen, verts = set(), []
            for v in ring:
                if v not in seen:
                    seen.add(v)
                    verts.append(v)
        return pd.DataFrame(
            {
                "grp": [grp] * len(verts),
                "vx": [v[0] for v in verts],
                "vy": [v[1] for v in verts],
                "n_hull": [len(verts)] * len(verts),
                "area2": [area2] * len(verts),
            }
        )

    return points.groupBy("grp").applyInPandas(chain, out_schema)


def convex_hull_sql(pts_sql: str) -> str:
    """Extreme-edge oracle: directed pair (a, b) is a CCW hull edge iff
    every other point c is strictly left (cross > 0) or collinear but
    NOT strictly inside segment [a, b] (dot(c-a, c-b) >= 0). Hull
    vertices = distinct edge sources; 2*area = sum of ax*by - bx*ay
    over the directed edges (shoelace needs only the cyclic edge SET,
    never the order). Degenerate all-collinear groups emit both
    directions of each adjacent pair, whose shoelace terms cancel to
    the same area2 = 0 the chain reports."""
    gc = "grp"
    return f"""
WITH p AS (SELECT DISTINCT {gc}, x, y FROM ({pts_sql})),
e AS (
  SELECT a.{gc}, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by2
  FROM p a JOIN p b
    ON a.{gc} = b.{gc} AND (a.x <> b.x OR a.y <> b.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM p c
    WHERE c.{gc} = a.{gc}
      AND (c.x <> a.x OR c.y <> a.y)
      AND (c.x <> b.x OR c.y <> b.y)
      AND (
        (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) < 0
        OR (
          (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0
          AND (c.x - a.x) * (c.x - b.x) + (c.y - a.y) * (c.y - b.y) < 0
        )
      )
  )
),
ar AS (
  SELECT {gc}, CAST(sum(ax * by2 - bx * ay) AS BIGINT) AS area2
  FROM e GROUP BY 1
),
v AS (SELECT DISTINCT {gc}, ax AS vx, ay AS vy FROM e),
nv AS (SELECT {gc}, CAST(count(*) AS BIGINT) AS n_hull FROM v GROUP BY 1),
singletons AS (
  SELECT {gc}, min(x) AS vx, min(y) AS vy,
         CAST(1 AS BIGINT) AS n_hull, CAST(0 AS BIGINT) AS area2
  FROM p GROUP BY {gc} HAVING count(*) = 1
)
SELECT v.{gc}, v.vx, v.vy, nv.n_hull, ar.area2
FROM v JOIN nv ON v.{gc} = nv.{gc} JOIN ar ON v.{gc} = ar.{gc}
UNION ALL
SELECT {gc}, vx, vy, n_hull, area2 FROM singletons
"""


def polygon_metrics(vertices: DataFrame) -> DataFrame:
    """Per-polygon shoelace metrics over an ordered integer vertex ring
    (poly_id, seq, x, y): signed twice-area, exact centroid NUMERATORS
    (the centroid is (cx_num, cy_num) / (3 * area2) — kept rational so
    every output stays a bit-exact BIGINT), vertex count, and bbox.
    Works for any ring the caller supplies — shoelace is well-defined
    (as the signed sum) even on non-simple rings; geometric meaning
    (positive = counter-clockwise) holds for simple ones.

        area2  = Σ (x_i·y_{i+1} − x_{i+1}·y_i)
        cx_num = Σ (x_i + x_{i+1})·(x_i·y_{i+1} − x_{i+1}·y_i)
        cy_num = Σ (y_i + y_{i+1})·(x_i·y_{i+1} − x_{i+1}·y_i)

    Plan: one lead() window per ring (partitioned by polygon — no
    global window; a ring's vertices are one entity's data, the q124
    argument), wrap-around closed by coalescing lead with the ring's
    first vertex via first_value over the same window frame, then a
    map-side-combinable sum. One Exchange keyed on poly_id shared by
    the window and the agg.
    """
    from pyspark.sql import Window

    p, s = F.col("poly_id"), F.col("seq")
    x, y = F.col("x").cast("long"), F.col("y").cast("long")
    w = Window.partitionBy(p).orderBy(s)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    xn = F.coalesce(F.lead(x).over(w), F.first(x).over(wall))
    yn = F.coalesce(F.lead(y).over(w), F.first(y).over(wall))
    cross = x * yn - xn * y
    terms = vertices.select(
        p.alias("poly_id"),
        x.alias("x"),
        y.alias("y"),
        cross.alias("cr"),
        ((x + xn) * cross).alias("cxt"),
        ((y + yn) * cross).alias("cyt"),
    )
    return terms.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum("cr").alias("area2"),
        F.sum("cxt").alias("cx_num"),
        F.sum("cyt").alias("cy_num"),
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )


def polygon_metrics_sql(vertices_sql: str) -> str:
    """DuckDB twin of polygon_metrics — identical window + aggregate
    over (poly_id, seq, x, y)."""
    return f"""
WITH v AS (
  SELECT poly_id, seq, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM ({vertices_sql})
),
e AS (
  SELECT poly_id, x, y,
         COALESCE(lead(x) OVER w, first_value(x) OVER w2) AS xn,
         COALESCE(lead(y) OVER w, first_value(y) OVER w2) AS yn
  FROM v
  WINDOW w AS (PARTITION BY poly_id ORDER BY seq),
         w2 AS (PARTITION BY poly_id ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT poly_id,
       CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(x * yn - xn * y) AS BIGINT) AS area2,
       CAST(sum((x + xn) * (x * yn - xn * y)) AS BIGINT) AS cx_num,
       CAST(sum((y + yn) * (x * yn - xn * y)) AS BIGINT) AS cy_num,
       CAST(min(x) AS BIGINT) AS xmin, CAST(max(x) AS BIGINT) AS xmax,
       CAST(min(y) AS BIGINT) AS ymin, CAST(max(y) AS BIGINT) AS ymax
FROM e GROUP BY poly_id
"""


def areal_interpolate(
    src: DataFrame,
    dst: DataFrame,
    cell_size: float = 64.0,
) -> DataFrame:
    """Area-weighted areal interpolation — redistributing a count from
    one zone system onto another (census tracts → grid cells, admin
    units → watersheds): each source zone's value is split across the
    target zones it overlaps, proportional to overlap area. The
    standard GIS dasymetric baseline.

    Contract: src carries (sid, a_minx, a_miny, a_maxx, a_maxy, val) —
    integer rect corners + integer value; dst carries (tid, b_minx,
    ...). Each overlapping (sid, tid) pair contributes
    floor(1000 · val · overlap_area / src_area); the output is one row
    per target zone: (tid, alloc_scaled, n_src). The floor-per-pair rule
    is the DEFINED semantics (a pure integer function of the input —
    engine-exact; the un-floored total differs by < n_src/1000).
    Overlap areas use HALF-OPEN boxes (max-min edges, touching rects
    share zero area) while candidate pairing uses bbox_join's closed
    test — the zero-area touches drop out of the weighted sum naturally.

    Scale: candidate pairs come from operators/spatial_join.bbox_join
    (grid-bucketed equi-join, responsibility-cell dedup — no distinct,
    no cross join); the re-aggregation shuffles the pair table once on
    tid. Zone tables are typically dimension-sized; the plan never
    materializes anything bigger than the overlap pair list."""
    from .spatial_join import bbox_join

    pairs = bbox_join(
        src.select(
            "sid", "val", "a_minx", "a_miny", "a_maxx", "a_maxy"
        ),
        dst.select("tid", "b_minx", "b_miny", "b_maxx", "b_maxy"),
        cell_size=cell_size,
    )
    ow = F.greatest(
        F.lit(0),
        F.least("a_maxx", "b_maxx") - F.greatest("a_minx", "b_minx"),
    )
    oh = F.greatest(
        F.lit(0),
        F.least("a_maxy", "b_maxy") - F.greatest("a_miny", "b_miny"),
    )
    contrib = pairs.select(
        "tid",
        (ow * oh).alias("ov"),
        (
            (F.col("a_maxx") - F.col("a_minx"))
            * (F.col("a_maxy") - F.col("a_miny"))
        ).alias("sa"),
        "val",
    ).filter(F.col("ov") > 0)
    return (
        contrib.select("tid", F.expr("(1000 * val * ov) DIV sa").alias("c"))
        .groupBy("tid")
        .agg(
            F.sum("c").alias("alloc_scaled"),
            F.count(F.lit(1)).alias("n_src"),
        )
    )


def areal_interpolate_sql(src_sql: str, dst_sql: str) -> str:
    """DuckDB twin of areal_interpolate (brute-force theta join — the
    oracle also proves the bucketed candidate set is lossless)."""
    return f"""
WITH s AS ({src_sql}), d AS ({dst_sql}),
pairs AS (
  SELECT d.tid,
         (least(s.a_maxx, d.b_maxx) - greatest(s.a_minx, d.b_minx)) *
         (least(s.a_maxy, d.b_maxy) - greatest(s.a_miny, d.b_miny)) AS ov,
         (s.a_maxx - s.a_minx) * (s.a_maxy - s.a_miny) AS sa,
         s.val
  FROM s JOIN d
    ON s.a_minx <= d.b_maxx AND d.b_minx <= s.a_maxx
   AND s.a_miny <= d.b_maxy AND d.b_miny <= s.a_maxy
  WHERE (least(s.a_maxx, d.b_maxx) - greatest(s.a_minx, d.b_minx)) > 0
    AND (least(s.a_maxy, d.b_maxy) - greatest(s.a_miny, d.b_miny)) > 0
)
SELECT tid, CAST(sum((1000 * val * ov) // sa) AS BIGINT)
         AS alloc_scaled,
       CAST(count(*) AS BIGINT) AS n_src
FROM pairs GROUP BY tid
"""


def rings_to_wkt(vertices: DataFrame) -> DataFrame:
    """Vertex table → OGC WKT 'POLYGON ((x y, ...))' per polygon — the
    text interchange every GIS tool reads. The ring is emitted in seq
    order and explicitly CLOSED (first vertex re-appended when the
    input ring is open), per the OGC simple-features spec. Integer
    coordinates keep the string a pure function of the input.

    Plan: one per-polygon sorted collect (the sessionization unit-of-
    parallelism contract) + string concat — no windows, no Python."""
    v = vertices.select(
        F.col("poly_id"),
        F.col("seq"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    agg = v.groupBy("poly_id").agg(
        F.array_sort(
            F.collect_list(F.struct("seq", "x", "y"))
        ).alias("ring")
    )
    pt = lambda s: F.concat_ws(
        " ", s["x"].cast("string"), s["y"].cast("string")
    )
    first = F.element_at(F.col("ring"), 1)
    last = F.element_at(F.col("ring"), -1)
    closed = (first["x"] == last["x"]) & (first["y"] == last["y"])
    body = F.array_join(
        F.transform(F.col("ring"), pt), ", "
    )
    body_closed = F.when(closed, body).otherwise(
        F.concat(body, F.lit(", "), pt(first))
    )
    return agg.select(
        "poly_id",
        F.concat(
            F.lit("POLYGON (("), body_closed, F.lit("))")
        ).alias("wkt"),
        F.size("ring").cast("long").alias("n_src_pts"),
    )


def rings_to_wkt_sql(vertices_sql: str) -> str:
    """DuckDB twin of rings_to_wkt."""
    return f"""
WITH v AS (
  SELECT poly_id, seq, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM ({vertices_sql})
),
agg AS (
  SELECT poly_id,
    string_agg(CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR),
               ', ' ORDER BY seq) AS body,
    CAST(count(*) AS BIGINT) AS n_src_pts,
    min_by(CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR), seq)
      AS first_pt,
    max_by(CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR), seq)
      AS last_pt
  FROM v GROUP BY poly_id
)
SELECT poly_id,
  'POLYGON ((' ||
  CASE WHEN first_pt = last_pt THEN body
       ELSE body || ', ' || first_pt END
  || '))' AS wkt,
  n_src_pts
FROM agg
"""


def wkt_to_metrics(wkts: DataFrame) -> DataFrame:
    """WKT 'POLYGON ((...))' → parsed metrics (poly_id, n_pts, area2,
    min_x, max_y bbox corners) — the ingest direction, all JVM regex +
    higher-order array functions: coordinate pairs come from
    regexp_extract_all('(-?\\d+) (-?\\d+)'), the shoelace runs over the
    parsed array with aggregate() — integer-exact end to end, no UDF.

    Together with rings_to_wkt this pins the emit/parse round-trip in
    one engine-exact query (q194)."""
    pairs = F.expr("regexp_extract_all(wkt, '(-?\\\\d+) (-?\\\\d+)', 0)")
    parsed = wkts.select(
        F.col("poly_id"),
        F.transform(
            pairs,
            lambda s: F.struct(
                F.split(s, " ")[0].cast("long").alias("x"),
                F.split(s, " ")[1].cast("long").alias("y"),
            ),
        ).alias("pts"),
    )
    n = F.size("pts")
    idx = F.sequence(F.lit(1), n - 1)
    shoelace_sum = F.aggregate(
        idx,
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + (
            F.element_at(F.col("pts"), i)["x"]
            * F.element_at(F.col("pts"), i + 1)["y"]
            - F.element_at(F.col("pts"), i + 1)["x"]
            * F.element_at(F.col("pts"), i)["y"]
        ),
    )
    xs = F.transform(F.col("pts"), lambda s: s["x"])
    ys = F.transform(F.col("pts"), lambda s: s["y"])
    return parsed.select(
        "poly_id",
        n.cast("long").alias("n_pts"),
        shoelace_sum.alias("area2"),
        F.array_min(xs).alias("min_x"),
        F.array_max(xs).alias("max_x"),
        F.array_min(ys).alias("min_y"),
        F.array_max(ys).alias("max_y"),
    )


def wkt_to_metrics_sql(wkts_sql: str) -> str:
    """DuckDB twin of wkt_to_metrics (two-step generate_series for
    per-element position — the engine's standard ordinality pattern)."""
    return f"""
WITH parsed AS (
  SELECT poly_id,
         regexp_extract_all(wkt, '(-?\\d+) (-?\\d+)') AS prs
  FROM ({wkts_sql})
),
pos AS (
  SELECT poly_id, prs, unnest(generate_series(1, len(prs))) AS i
  FROM parsed
),
pts AS (
  SELECT poly_id, i,
         CAST(string_split(prs[i], ' ')[1] AS BIGINT) AS x,
         CAST(string_split(prs[i], ' ')[2] AS BIGINT) AS y,
         len(prs) AS n
  FROM pos
),
shoe AS (
  SELECT a.poly_id, a.n,
         CAST(sum(a.x * b.y - b.x * a.y) AS BIGINT) AS area2
  FROM pts a JOIN pts b ON a.poly_id = b.poly_id AND b.i = a.i + 1
  GROUP BY a.poly_id, a.n
),
box AS (
  SELECT poly_id, min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM pts GROUP BY poly_id
)
SELECT s.poly_id, CAST(s.n AS BIGINT) AS n_pts, s.area2,
       b.min_x, b.max_x, b.min_y, b.max_y
FROM shoe s JOIN box b ON s.poly_id = b.poly_id
"""
