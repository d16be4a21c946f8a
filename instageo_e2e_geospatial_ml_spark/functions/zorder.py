"""Z-order (Morton) curve encoding — the space-filling-curve clustering
key that makes skew.write_clustered a 2-D spatial layout.

A single-column range clustering (cell id, packed row-major) gives tight
file ranges along ONE axis only: a query box short in x but tall in y
still touches many files. Interleaving the bits of the two quantized
coordinates (x15 y15 x14 y14 ... x0 y0) makes integer order follow the
Z curve, so any query bbox maps to a small number of contiguous Morton
ranges and parquet min/max stats prune both axes at once — the same
layout trick as Delta/Iceberg Z-ORDER table maintenance, expressed here
as a plain JVM column expression (zero Python in the hot path).

The interleave is the textbook magic-number spread (Morton 1966 /
"Bit Twiddling Hacks"): four mask-and-shift rounds widen a 16-bit int
to 32 bits with zeros between the data bits; x | (y << 1) interleaves.
All ops are bigint shift/and/or — bit-identical in Spark and DuckDB, so
the q74 oracle pins the exact key values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# spread masks for 16 -> 32 bit widening (shift amount, mask) per round
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def _spread16(c: Column) -> Column:
    for shift, mask in _SPREAD:
        # Column.bitwiseOR, not `|` — PySpark's `|` is boolean OR
        c = c.bitwiseOR(F.shiftleft(c, shift)).bitwiseAND(F.lit(mask))
    return c


def morton_key(x: Column | str, y: Column | str) -> Column:
    """Interleave two integer coordinates in [0, 65535] into their 32-bit
    Morton code (bigint column). Out-of-range inputs are masked to their
    low 16 bits — quantize FIRST; silent wraparound of unquantized values
    would scatter the layout, not break correctness of downstream filters
    (the key is a layout hint, never a join key)."""
    xc = (F.col(x) if isinstance(x, str) else x).bitwiseAND(F.lit(0xFFFF))
    yc = (F.col(y) if isinstance(y, str) else y).bitwiseAND(F.lit(0xFFFF))
    return _spread16(xc).bitwiseOR(F.shiftleft(_spread16(yc), 1)).alias("morton")


def morton_sql(x_expr: str, y_expr: str) -> str:
    """The identical computation as ANSI/DuckDB SQL (for oracle twins):
    returns an expression string over `x_expr`/`y_expr`."""

    def spread(e: str) -> str:
        for shift, mask in _SPREAD:
            e = f"((({e}) | (({e}) << {shift})) & {mask})"
        return e

    xs = spread(f"(({x_expr}) & 65535)")
    ys = spread(f"(({y_expr}) & 65535)")
    return f"({xs} | ({ys} << 1))"


# ---------------------------------------------------------------------------
# Geohash — the human-readable Z-order key (Niemeyer 2008, public domain
# algorithm): 15 bisection rounds per axis == floor-quantization to 15
# bits, interleaved lon-first from the MSB, base32-grouped 5 bits/char.
# Precision 6 (30 bits, ~1.2 km x 0.6 km cells) is exactly the 16-bit
# Morton spread above; the same magic-number rounds serve both keys.
# ---------------------------------------------------------------------------

_GH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash6(lon: Column | str, lat: Column | str) -> Column:
    """Precision-6 geohash string of (lon, lat) degrees, pure JVM column
    ops (quantize -> Morton interleave -> 6 base32 chars). Bisection
    identity: 15 rounds of halving [-90, 90] produce the same bits as
    floor((lat + 90) * 2^15 / 180), so the closed form is exact."""
    lonc = F.col(lon) if isinstance(lon, str) else lon
    latc = F.col(lat) if isinstance(lat, str) else lat
    lon_q = F.least(
        F.floor((lonc + F.lit(180.0)) * F.lit(32768.0) / F.lit(360.0)),
        F.lit(32767),
    )
    lat_q = F.least(
        F.floor((latc + F.lit(90.0)) * F.lit(32768.0) / F.lit(180.0)),
        F.lit(32767),
    )
    # lon occupies the MSB-side (odd-from-LSB) lanes: lon-first interleave
    gh = _spread16(lat_q).bitwiseOR(F.shiftleft(_spread16(lon_q), 1))
    alphabet = F.array(*[F.lit(c) for c in _GH32])
    parts = []
    for k in range(6):
        idx = F.shiftrightunsigned(gh, 30 - 5 * (k + 1)).bitwiseAND(F.lit(31))
        parts.append(F.element_at(alphabet, idx.cast("int") + 1))
    return F.concat(*parts)


def geohash6_sql(lon_expr: str, lat_expr: str) -> str:
    """The identical geohash-6 computation as DuckDB SQL (oracle twin)."""
    lon_q = f"least(CAST(floor((({lon_expr}) + 180.0) * 32768.0 / 360.0) AS BIGINT), 32767)"
    lat_q = f"least(CAST(floor((({lat_expr}) + 90.0) * 32768.0 / 180.0) AS BIGINT), 32767)"

    def spread(e: str) -> str:
        for shift, mask in _SPREAD:
            e = f"((({e}) | (({e}) << {shift})) & {mask})"
        return e

    gh = f"({spread(lat_q)} | ({spread(lon_q)} << 1))"
    chars = ", ".join(
        f"substring('{_GH32}', CAST((({gh}) >> {30 - 5 * (k + 1)}) & 31 AS INTEGER) + 1, 1)"
        for k in range(6)
    )
    return f"concat({chars})"


# ---------------------------------------------------------------------------
# Hilbert curve — the locality-optimal space-filling key (Hilbert 1891;
# xy2d recurrence per Wikipedia's public-domain C). Unlike the Z curve,
# every pair of consecutive keys is a grid NEIGHBOR (no Z-shaped jumps),
# so query boxes decompose into fewer, longer contiguous key ranges —
# the reason Iceberg/Delta offer Hilbert alongside Z-ORDER for layout.
#
# The recurrence is a fixed `bits`-level fold over quadrant digits with
# a reflect+swap rotation of the remaining coordinates. Each level is
# pure integer CASE/shift/add — bit-identical in Spark and DuckDB — and
# the chain is emitted as per-level projections (Spark) / CTEs (SQL),
# NOT one nested expression, so the tree stays linear in `bits`.
# ---------------------------------------------------------------------------


def hilbert_key(df, bits: int, x_col: str = "x", y_col: str = "y"):
    """Append the order-`bits` Hilbert key of integer coords in
    [0, 2^bits) as column `hilbert` (bigint). One projection per level; the
    working coords live in temp columns dropped at the end."""
    n = 1 << bits
    df = df.withColumn("__hx", F.col(x_col).cast("long")).withColumn(
        "__hy", F.col(y_col).cast("long")
    ).withColumn("__hd", F.lit(0).cast("long"))
    for k in range(bits - 1, -1, -1):
        s2 = 1 << (2 * k)  # s*s
        rx = F.shiftrightunsigned(F.col("__hx"), k).bitwiseAND(F.lit(1))
        ry = F.shiftrightunsigned(F.col("__hy"), k).bitwiseAND(F.lit(1))
        quad = (rx * 3).bitwiseXOR(ry)  # 00->0 01->1 11->2 10->3
        nx = (
            F.when(ry == 1, F.col("__hx"))
            .when(rx == 1, F.lit(n - 1) - F.col("__hy"))
            .otherwise(F.col("__hy"))
        )
        ny = (
            F.when(ry == 1, F.col("__hy"))
            .when(rx == 1, F.lit(n - 1) - F.col("__hx"))
            .otherwise(F.col("__hx"))
        )
        df = df.select(
            *[c for c in df.columns if c not in ("__hx", "__hy", "__hd")],
            nx.alias("__hx"),
            ny.alias("__hy"),
            (F.col("__hd") + quad * F.lit(s2)).alias("__hd"),
        )
    keep = [c for c in df.columns if c not in ("__hx", "__hy", "__hd")]
    return df.select(*keep, F.col("__hd").alias("hilbert"))


def hilbert_sql_cte(pts_sql: str, bits: int) -> str:
    """The identical per-level fold as a DuckDB CTE chain. `pts_sql`
    must select integer columns hx, hy. Returns a WITH body whose final
    SELECT yields (hilbert BIGINT)."""
    n = 1 << bits
    parts = [
        f"h{bits} AS (SELECT CAST(hx AS BIGINT) AS hx, "
        "CAST(hy AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd "
        f"FROM ({pts_sql}))"
    ]
    for k in range(bits - 1, -1, -1):
        s2 = 1 << (2 * k)
        rx = f"((hx >> {k}) & 1)"
        ry = f"((hy >> {k}) & 1)"
        quad = f"xor({rx} * 3, {ry})"
        parts.append(
            f"h{k} AS (SELECT "
            f"CASE WHEN {ry} = 1 THEN hx WHEN {rx} = 1 THEN {n - 1} - hy "
            f"ELSE hy END AS hx, "
            f"CASE WHEN {ry} = 1 THEN hy WHEN {rx} = 1 THEN {n - 1} - hx "
            f"ELSE hx END AS hy, "
            f"hd + {quad} * CAST({s2} AS BIGINT) AS hd "
            f"FROM h{k + 1})"
        )
    return (
        "WITH " + ",\n".join(parts) + "\nSELECT hd AS hilbert FROM h0"
    )


def hilbert_xy2d(bits: int, x: int, y: int) -> int:
    """Pure-Python scalar xy2d (the same recurrence hilbert_key
    evaluates columnar) — used by the range planner and tests."""
    n = 1 << bits
    d, s = 0, n >> 1
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def hilbert_ranges(
    bits: int,
    x0: int,
    y0: int,
    x1: int,
    y1: int,
    max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Minimal sorted disjoint Hilbert-key ranges covering the box
    [x0, x1] × [y0, y1] (inclusive, cell coords) — the read-side
    planner for Hilbert-clustered layouts: the returned [lo, hi]
    ranges become BETWEEN predicates that parquet min/max stats prune
    on. Driver-side pure Python (range lists are tiny, the O3-BFS
    precedent): quadrant descent using the fact that every aligned
    quadrant at depth L is CONTIGUOUS on the curve — exactly the block
    [d0, d0 + 4^(bits-L)) where d0 is any member key rounded down to
    the block size. Fully-contained quadrants emit whole blocks;
    straddling ones recurse; the final list coalesces adjacent ranges
    and, if still over max_ranges, merges the smallest gaps (which
    only ADDS keys — pruning stays correct, just looser)."""
    out: list[tuple[int, int]] = []

    def descend(level: int, qx: int, qy: int) -> None:
        size = 1 << (bits - level)  # cells per side of this quadrant
        cx0, cy0 = qx * size, qy * size
        cx1, cy1 = cx0 + size - 1, cy0 + size - 1
        if cx1 < x0 or cx0 > x1 or cy1 < y0 or cy0 > y1:
            return
        block = size * size
        if x0 <= cx0 and cx1 <= x1 and y0 <= cy0 and cy1 <= y1:
            d0 = hilbert_xy2d(bits, cx0, cy0) // block * block
            out.append((d0, d0 + block - 1))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                descend(level + 1, qx * 2 + dx, qy * 2 + dy)

    descend(0, 0, 0)
    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > max_ranges:
        # merge the pair with the smallest inter-range gap
        gi = min(
            range(len(merged) - 1),
            key=lambda i: merged[i + 1][0] - merged[i][1],
        )
        merged[gi][1] = merged[gi + 1][1]
        del merged[gi + 1]
    return [(lo, hi) for lo, hi in merged]
