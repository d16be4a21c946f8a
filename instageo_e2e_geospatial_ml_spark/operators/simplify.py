"""Polyline simplification — Douglas-Peucker (1973) as BOUNDED-ROUND
farthest-point insertion, expressed relationally so it distributes AND
oracle-checks exactly.

Classic DP is a per-segment recursion: keep the endpoints, find the
point farthest from the chord, split there if over tolerance, recurse.
The recursion tree's LEVELS are the rounds here: each round every
current chord finds its farthest over-tolerance point simultaneously
(one window pass + one aggregate per round), so K rounds reproduce
classic DP exactly whenever the deepest recursion is ≤ K — and K
rounds bound the work, the property a 100 TB job needs (classic DP's
data-dependent recursion depth has no such bound). Convergence is
observable: a round that inserts nothing is a fixed point.

Round mechanics (identical in Spark and the DuckDB twin):

1. **Bracketing chords without a range join**: pack each KEPT point as
   i·2^24 + x·2^12 + y; a running max over preceding rows / running min
   over following rows gives every point its enclosing chord (a, b) in
   one sorted window pass — no (point × segment) join at all.
2. **Deviation, exactly**: squared perpendicular distance to the chord
   line compares as cross² > tol²·len² (integers); a degenerate chord
   (a == b, closed loops) falls back to point distance².
3. **Farthest point per chord**: the portable ordered fold
   max(cross²·4096 + (4095 − i)) — max deviation, ties to the LOWEST
   index, one integer (the q34 winnowing trick). Decode the winner,
   OR it into the kept set.

Integer-packing contract (enforced): 0 ≤ x, y < 4096, group size
≤ 4096, and tol²·len² < 2^51 — cross² ≤ len²·dev² < 2^51 keeps the
fold under 2^63.

Distance-to-LINE (not clipped to the segment) is the textbook DP
variant; both engines use it, so the oracle pins the exact output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PACK = "({i} * 16777216 + {x} * 4096 + {y})"


def dp_simplify(points: DataFrame, tol2: int, rounds: int = 8) -> DataFrame:
    """Simplify each group's polyline (points ordered by i,
    0-based contiguous) keeping points whose deviation from the current
    chord exceeds sqrt(tol2). Returns the kept rows (g, i, x, y).
    Coordinates must lie in [0, 4096) and group size ≤ 4096."""
    g, i, x, y = "g", "i", "x", "y"
    from pyspark.sql import Window

    wn = Window.partitionBy(g)
    s = points.select(
        F.col(g),
        F.col(i).cast("long").alias(i),
        F.col(x).cast("long").alias(x),
        F.col(y).cast("long").alias(y),
    ).withColumn("_n", F.count(F.lit(1)).over(wn))
    s = s.withColumn(
        "k", (F.col(i) == 0) | (F.col(i) == F.col("_n") - 1)
    ).drop("_n")

    pack = _PACK.format(i=i, x=x, y=y)
    wa = (
        Window.partitionBy(g)
        .orderBy(i)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy(g)
        .orderBy(i)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    for _ in range(rounds):
        a = (
            s.withColumn(
                "_am", F.max(F.expr(f"CASE WHEN k THEN {pack} END")).over(wa)
            )
            .withColumn(
                "_bm", F.min(F.expr(f"CASE WHEN k THEN {pack} END")).over(wb)
            )
            .withColumn("_ax", F.expr("(_am div 4096) % 4096"))
            .withColumn("_ay", F.expr("_am % 4096"))
            .withColumn("_bx", F.expr("(_bm div 4096) % 4096"))
            .withColumn("_by", F.expr("_bm % 4096"))
            .withColumn("_len2", F.expr("(_bx-_ax)*(_bx-_ax) + (_by-_ay)*(_by-_ay)"))
            .withColumn(
                "_m2",
                F.expr(
                    f"CASE WHEN _len2 = 0 THEN ({x}-_ax)*({x}-_ax) + ({y}-_ay)*({y}-_ay) "
                    f"ELSE ((_bx-_ax)*({y}-_ay) - (_by-_ay)*({x}-_ax)) "
                    f"   * ((_bx-_ax)*({y}-_ay) - (_by-_ay)*({x}-_ax)) END"
                ),
            )
            .withColumn(
                "_over",
                F.expr(
                    f"CASE WHEN _len2 = 0 THEN _m2 > {tol2} "
                    f"ELSE _m2 > {tol2} * _len2 END"
                ),
            )
        )
        wins = (
            a.filter(~F.col("k") & F.col("_over"))
            .groupBy(g, "_am", "_bm")
            .agg(F.max(F.expr(f"_m2 * 4096 + (4095 - {i})")).alias("_best"))
            .select(
                F.col(g).alias("_wg"),
                F.expr("4095 - (_best % 4096)").alias("_wi"),
                F.lit(True).alias("_w"),
            )
        )
        s = (
            s.join(
                wins,
                (F.col(g) == F.col("_wg")) & (F.col(i) == F.col("_wi")),
                "left",
            )
            .select(
                g, i, x, y,
                (F.col("k") | F.coalesce(F.col("_w"), F.lit(False))).alias("k"),
            )
            .localCheckpoint(eager=False)
        )
    return s.filter("k").select(g, i, x, y)


def dp_simplify_sql(pts_sql: str, tol2: int) -> str:
    """The identical bounded-round insertion as a DuckDB CTE chain.
    `pts_sql` must select (g, i, x, y) bigints, i 0-based
    contiguous per group."""
    g = "g"
    pack = "(i * 16777216 + x * 4096 + y)"
    parts = [
        f"s0 AS (SELECT {g}, i, x, y, "
        f"(i = 0 OR i = count(*) OVER (PARTITION BY {g}) - 1) AS k "
        f"FROM ({pts_sql}))"
    ]
    for r in range(8):
        parts.append(
            f"""a{r} AS (
  SELECT *,
    (_am // 4096) % 4096 AS _ax, _am % 4096 AS _ay,
    (_bm // 4096) % 4096 AS _bx, _bm % 4096 AS _by
  FROM (
    SELECT *,
      max(CASE WHEN k THEN {pack} END) OVER
        (PARTITION BY {g} ORDER BY i
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _am,
      min(CASE WHEN k THEN {pack} END) OVER
        (PARTITION BY {g} ORDER BY i
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS _bm
    FROM s{r}
  )
)"""
        )
        parts.append(
            f"""m{r} AS (
  SELECT *,
    CASE WHEN _len2 = 0 THEN (x-_ax)*(x-_ax) + (y-_ay)*(y-_ay)
         ELSE ((_bx-_ax)*(y-_ay) - (_by-_ay)*(x-_ax))
            * ((_bx-_ax)*(y-_ay) - (_by-_ay)*(x-_ax)) END AS _m2
  FROM (SELECT *, (_bx-_ax)*(_bx-_ax) + (_by-_ay)*(_by-_ay) AS _len2
        FROM a{r})
)"""
        )
        parts.append(
            f"""w{r} AS (
  SELECT {g}, _am, _bm, max(_m2 * 4096 + (4095 - i)) AS _best
  FROM m{r}
  WHERE NOT k AND (CASE WHEN _len2 = 0 THEN _m2 > {tol2}
                        ELSE _m2 > {tol2} * _len2 END)
  GROUP BY 1, 2, 3
)"""
        )
        parts.append(
            f"""s{r + 1} AS (
  SELECT m.{g}, m.i, m.x, m.y,
         m.k OR (w._best IS NOT NULL AND m.i = 4095 - (w._best % 4096)) AS k
  FROM m{r} m LEFT JOIN w{r} w
    ON m.{g} = w.{g} AND m._am = w._am AND m._bm = w._bm
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT {g}, i, x, y FROM s8 WHERE k"
    )
