"""Exact distribution statistics over groups.

group_percentiles is percentile_disc done portably: Spark's
`percentile`/`percentile_approx` and DuckDB's `quantile_cont` disagree
on interpolation (and approx sketches are seed-dependent), so a
cross-engine-exact percentile must be built from ranks — sort each
group, pick the element at rank ceil(p*n). Rank arithmetic stays in
integers ((num*n + den - 1) div num_den) — float ceil(0.2*5)=1.0000…2
is exactly the misround class that silently shifts a percentile by one
element. Equal values make row_number nondeterministic among ties, but
the VALUE at any rank of a sorted multiset is tie-order independent, so
the output is deterministic even though the row identity is not.

Scale: one window pass partitioned by the group key (each task sorts one
group's rows — groups are the unit of parallelism; a single pathological
mega-group wants a pre-aggregation to (group, value, count) first, which
preserves ranks and compresses duplicate-heavy columns), then a
broadcast join against the tiny fraction table. No global sort, no
driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    fractions: list[tuple[int, int]] = ((25, 100), (50, 100), (75, 100), (95, 100), (99, 100)),
) -> DataFrame:
    """Exact percentile_disc per group for each num/den fraction:
    (group_cols..., pct_num, pct_den, value) — the smallest value whose
    rank r satisfies r >= ceil(p * n)."""
    gb = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*gb).orderBy(F.col(value_col).asc())
    wn = Window.partitionBy(*gb)
    ranked = df.select(
        *gb,
        F.col(value_col),
    ).withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    fr = df.sparkSession.createDataFrame(
        [(int(a), int(b)) for a, b in fractions], "pct_num long, pct_den long"
    )
    target = F.greatest(
        F.lit(1),
        F.expr("(pct_num * _n + pct_den - 1) div pct_den"),
    )
    return (
        ranked.join(F.broadcast(fr))
        .filter(F.col("_rn") == target)
        .select(*gb, "pct_num", "pct_den", F.col(value_col).alias("value"))
    )


_KMV_SPACE = 1 << 40  # 10-hex-char (40-bit) hash space


def kmv_distinct_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 16,
) -> DataFrame:
    """K-minimum-values distinct-count sketch per group (Bar-Yossef et al.
    2002): keep the k smallest 40-bit md5 hashes of the group's DISTINCT
    values; the k-th minimum estimates distinct cardinality as
    (k-1) * SPACE / kth_min. Unlike HLL (whose register layout is
    engine-private), the KMV sketch CONTENT is a pure function of the
    data — md5 is the same everywhere — so sketch, threshold, and the
    integer-division estimate are all exactly reproducible in any ANSI
    engine (q79's DuckDB twin pins them).

    40-bit hashes keep (k-1) * SPACE inside bigint for any sane k; the
    estimate is exact n_seen while the group is under k distinct values.
    Plan: distinct (group, value) → one per-group window over hash order
    → head-k aggregate. The sketches themselves are mergeable (union the
    hash sets, re-take the k smallest) — the shuffle carries ≤ k rows
    per group either way.
    """
    gb = [F.col(c) for c in group_cols]
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(value_col).cast("string"), F.lit(":kmv"))),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(*gb).orderBy(F.col("_h").asc())
    sk = (
        df.select(*gb, F.col(value_col))
        .distinct()
        .withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*gb)
        .agg(
            F.count(F.lit(1)).alias("n_seen"),
            F.max("_h").alias("kth_hash"),
        )
    )
    est = F.when(F.col("n_seen") < k, F.col("n_seen")).otherwise(
        F.expr(f"(n_seen - 1) * {_KMV_SPACE} div kth_hash")
    )
    return sk.withColumn("est_distinct", est.cast("long"))


def kmv_set_relations(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 32,
) -> DataFrame:
    """Sketch ALGEBRA over per-group KMV sketches (theta-sketch style,
    Beyer et al. SIGMOD'07): for every unordered group pair (g1 < g2),
    estimate |A ∪ B| and |A ∩ B| from the two k-minimum-value sketches
    alone — the point of mergeable sketches: the pairwise stage never
    touches the raw data, only ≤ k hashes per group.

      union sketch  = k smallest of (sketch₁ ∪ sketch₂), θ = its max
      est_union     = (n_union - 1) * SPACE div θ   (n_union = k normally)
      est_inter     = n_common * est_union div n_union,
                      n_common = |sketch₁ ∩ sketch₂ ∩ {h ≤ θ}|

    Everything is md5-derived integers — engine-exact (q82's twin), no
    HLL-style private register layout. Group count G yields G(G-1)/2
    pairs of ≤ 2k-row unions: the pairwise stage is O(G²k) on sketches,
    independent of data volume.
    """
    gb = F.col(group_col)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(value_col).cast("string"), F.lit(":kmv"))),
            1,
            10,
        ),
        16,
        10,
    ).cast("long")
    wg = Window.partitionBy(group_col).orderBy(F.col("_h").asc())
    sk = (
        df.select(gb.alias(group_col), F.col(value_col))
        .distinct()
        .withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(wg))
        .filter(F.col("_rn") <= k)
        .select(group_col, "_h")
    )
    a = sk.select(F.col(group_col).alias("g1"), "_h")
    b = sk.select(F.col(group_col).alias("g2"), "_h")
    pairs = (
        a.select("g1").distinct()
        .join(b.select("g2").distinct())
        .filter(F.col("g1") < F.col("g2"))
    )
    # union sketch per pair: distinct hashes from either side, k smallest
    wu = Window.partitionBy("g1", "g2").orderBy(F.col("_h").asc())
    un = (
        pairs.join(a, "g1")
        .unionByName(pairs.join(b, "g2").select("g1", "g2", "_h"))
        .select("g1", "g2", "_h")
        .distinct()
        .withColumn("_rn", F.row_number().over(wu))
        .filter(F.col("_rn") <= k)
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("n_union"), F.max("_h").alias("theta"))
    )
    common = (
        a.join(b, "_h")
        .join(un, ["g1", "g2"])
        .filter(F.col("_h") <= F.col("theta"))
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        un.join(common, ["g1", "g2"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .withColumn(
            "est_union",
            F.when(F.col("n_union") < k, F.col("n_union")).otherwise(
                F.expr(f"(n_union - 1) * {_KMV_SPACE} div theta")
            ),
        )
        .withColumn(
            "est_inter", F.expr("n_common * est_union div n_union")
        )
    )
    return out.select(
        "g1", "g2", "n_union", "theta", "n_common", "est_union", "est_inter"
    )


def local_morans_i(
    df: DataFrame,
    x_col: str,
    y_col: str,
    val_col: str,
    queen: bool = True,
) -> DataFrame:
    """Local Moran's I (Anselin 1995 "LISA") over an integer-valued
    cell grid — the standard spatial-autocorrelation hotspot statistic
    (hot spot = high value ringed by high neighbors -> large positive
    I_i; spatial outlier -> negative).

        I_i = (z_i / m2) * sum_{j in nbr(i)} z_j,   z = x - mean,
        m2  = sum z^2 / N

    Exactness: deviations are rational (mean = S/N), so everything is
    computed on N-SCALED integers d_i = N*x_i - S:

        lisa_num = N * d_i * sum_nbr d_j     (== N^3 * z_i * sum z_j)
        den      = sum d_k^2                 (== N^2 * m2 * N)

    and I_i = lisa_num / den exactly; the emitted `lisa_q6` rounds the
    double quotient to 6 places with the same expression shape the SQL
    twin uses. Neighborhood is queen (8-adjacent) or rook (4) contiguity
    via an 8/4-offset explode + EQUI-join on the shifted key — never an
    inequality join, so the plan is a hash join that scales to any grid.
    The two global scalars (N, S) come from a 1-row aggregate cross
    join, kept broadcast-side by AQE — no driver collect.
    """
    cells = df.select(
        F.col(x_col).alias("cx").cast("long"),
        F.col(y_col).alias("cy").cast("long"),
        F.col(val_col).alias("val").cast("long"),
    )
    g = cells.crossJoin(
        F.broadcast(
            cells.agg(
                F.count(F.lit(1)).alias("n_cells"),
                F.sum("val").alias("s_val"),
            )
        )
    ).withColumn("d", F.col("n_cells") * F.col("val") - F.col("s_val"))

    offs = [
        (dx, dy)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if (dx, dy) != (0, 0) and (queen or dx * dy == 0)
    ]
    off_df = F.broadcast(
        g.sparkSession.createDataFrame(offs, "dx int, dy int")
    )
    nbr = (
        g.select("cx", "cy", F.col("d").alias("d_j"))
        .crossJoin(off_df)
        .select(
            (F.col("cx") + F.col("dx")).alias("cx"),
            (F.col("cy") + F.col("dy")).alias("cy"),
            "d_j",
        )
        .groupBy("cx", "cy")
        .agg(
            F.sum("d_j").alias("nbr_sum_d"),
            F.count(F.lit(1)).alias("n_nbrs"),
        )
    )
    den = F.broadcast(
        g.select((F.col("d") * F.col("d")).alias("d2")).agg(
            F.sum("d2").alias("den")
        )
    )
    out = (
        g.join(nbr, ["cx", "cy"], "inner")  # isolated cells have no I_i
        .crossJoin(den)
        .withColumn(
            "lisa_num", F.col("n_cells") * F.col("d") * F.col("nbr_sum_d")
        )
        .withColumn(
            "lisa_q6",
            F.round(F.col("lisa_num").cast("double") / F.col("den"), 6),
        )
    )
    return out.select(
        "cx", "cy", "val", F.col("d").alias("d_i"), "n_nbrs",
        "nbr_sum_d", "lisa_num", "den", "lisa_q6",
    )


def group_ols_trend(
    df: DataFrame,
    group_cols: list,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line — the time-series
    trend analytic (NDVI greening/browning per cell, per-tile
    degradation rates) in exact integer moments:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    Numerator and denominator are plain bigint sums (one partial-agg
    shuffle on the group key, map-side combinable, shuffle-order
    independent); the only float is the final 6-place-rounded quotient,
    emitted with the same expression shape the SQL twin uses, plus the
    intercept in the same num/den style. Degenerate groups (all x
    equal: den = 0) report NULL slope rather than dividing."""
    gx = F.col(x_col).cast("long")
    gy = F.col(y_col).cast("long")
    agg = (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(gx).alias("sx"),
            F.sum(gy).alias("sy"),
            F.sum(gx * gx).alias("sxx"),
            F.sum(gx * gy).alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        agg.withColumn("slope_num", num)
        .withColumn("slope_den", den)
        .withColumn(
            "slope_q6",
            F.when(
                F.col("slope_den") != 0,
                F.round(
                    F.col("slope_num").cast("double") / F.col("slope_den"), 6
                ),
            ),
        )
        .withColumn(
            # intercept = (Sy - slope*Sx)/n = (Sy*den - num*Sx)/(n*den)
            "intercept_q6",
            F.when(
                F.col("slope_den") != 0,
                F.round(
                    (
                        F.col("sy") * F.col("slope_den")
                        - F.col("slope_num") * F.col("sx")
                    ).cast("double")
                    / (F.col("n") * F.col("slope_den")),
                    6,
                ),
            ),
        )
    )


def mad_outliers(df: DataFrame, group_cols: list, value_col: str) -> DataFrame:
    """Robust per-group outlier detection by median absolute deviation
    (the MAD rule, Hampel 1974): flag y when

        |y - median(y)| * 1 > 3 * MAD,
        MAD = median(|y - median(y)|)

    Both medians are the exact LOWER median (rank (n+1) div 2 — the
    same integer-rank discipline as group_percentiles), deviations are
    exact integers, and the flag is a cross-multiplied integer
    comparison — no float anywhere, so the oracle matches bit for bit.
    A zero MAD (over half the group identical) flags every deviating
    row, the standard degenerate-MAD convention.

    Returns per-group summary: (group..., n, med, mad, n_outliers,
    max_adev). Two window passes on the group key (value order, then
    deviation order) + one aggregate — three shuffles total, each
    partial-combining where possible."""
    gb = [F.col(c) for c in group_cols]

    def lower_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(*gb).orderBy(F.col(col).asc())
        wn = Window.partitionBy(*gb)
        return (
            frame.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wn))
            .filter(F.col("_rn") == F.expr("(_n + 1) div 2"))
            .select(*gb, F.col(col).alias(out))
        )

    base = df.select(*gb, F.col(value_col).cast("long").alias("y"))
    med = lower_median(base, "y", "med")
    dev = base.join(med, [c for c in group_cols]).withColumn(
        "adev", F.abs(F.col("y") - F.col("med"))
    )
    mad = lower_median(dev, "adev", "mad")
    return (
        dev.join(mad, [c for c in group_cols])
        .groupBy(*gb)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            # the k = 3/1 MAD threshold kept as a ratio of integers
            F.sum(
                (F.col("adev") * 1 > 3 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
            F.max("adev").alias("max_adev"),
        )
    )


def hll_registers(
    df: DataFrame,
    key_col: str,
    p: int = 9,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007): md5-derived
    60-bit hash, low p bits pick the register, rho = leading-zero count
    of the remaining w = 60 - p bits + 1, one max per register. The
    sketch CONTENT is engine-exact (unlike a float estimate), so an
    oracle can pin every register.

    Plan: hash + register/rho are pure JVM column ops; one groupBy
    (register[, groups]) max — a single shuffle on a uniformly-hashed
    key, the textbook distributed-sketch shape (merge = elementwise max,
    so partial aggregation does the heavy lifting map-side)."""
    w = 60 - p
    gcols = list(group_cols or [])
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    idx = h.bitwiseAND(F.lit((1 << p) - 1))
    rem = F.shiftrightunsigned(h, p)
    # bitlen(rem) = length(bin(rem)) for rem > 0; rho = w - bitlen + 1
    rho = F.when(rem == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(rem))
    )
    return (
        df.select(*gcols, idx.alias("reg"), rho.alias("rho"))
        .groupBy(*gcols, "reg")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_sql(table_sql: str, key_expr: str, group_exprs: str = "") -> str:
    """The identical register computation as DuckDB SQL (oracle twin).
    `group_exprs` is a comma-prefixed passthrough list (e.g. ", grp")."""
    p = 9
    w = 60 - p
    h = f"CAST('0x' || substring(md5(CAST({key_expr} AS VARCHAR)), 1, 15) AS BIGINT)"
    return (
        f"SELECT{group_exprs[1:] + ',' if group_exprs else ''} "
        f"({h}) & {(1 << p) - 1} AS reg, "
        f"CAST(max(CASE WHEN ({h}) >> {p} = 0 THEN {w + 1} "
        f"ELSE {w + 1} - length(bin(({h}) >> {p})) END) AS BIGINT) AS rho_max "
        f"FROM ({table_sql}) "
        f"GROUP BY {'ALL' if group_exprs else 'reg'}"
    )


def cms_build(df: DataFrame, key_col: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005): 4
    independent md5-salted hash rows x 256 counters, each counter the
    exact sum of arrivals hashing to it. Sketch CONTENT is
    deterministic integers — an oracle can pin every (row, bucket,
    count) cell, and the point estimate (min over rows, always >= the
    true count) is integer-exact too.

    Plan: explode each key to its 4 (row, bucket) cells JVM-side
    (posexplode over an md5-per-salt array — no Python), one groupBy.
    Merge of two sketches = cellwise sum, so partial aggregation
    happens map-side; at 100 TB the shuffle carries at most
    4*256*partitions pre-merged cells, not data rows."""
    h = F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"cms{d}:"), F.col(key_col).cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .bitwiseAND(F.lit(255))
            for d in range(4)
        ]
    )
    return (
        df.select(F.posexplode(h).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_sql(table_sql: str, key_expr: str) -> str:
    """The identical sketch build as DuckDB SQL (oracle twin)."""
    rows = " UNION ALL ".join(
        f"SELECT {d} AS row, "
        f"CAST('0x' || substring(md5('cms{d}:' || CAST({key_expr} AS VARCHAR)), 1, 15) AS BIGINT) "
        f"& 255 AS bucket FROM ({table_sql})"
        for d in range(4)
    )
    return (
        f"SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt "
        f"FROM ({rows}) GROUP BY row, bucket"
    )


def skyline2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """2-D skyline (Pareto frontier, minimize both axes; Börzsönyi et
    al. ICDE'01): a point survives iff no other point is <= on both
    axes and < on at least one. In 2-D the frontier falls out of ONE
    sorted window pass — order by (x asc, y asc); a point is dominated
    iff the running min of y over the strict-x-prefix is <= its y, or
    an earlier point in its own x-tie shares... no: within equal x,
    (x, y_smaller) dominates (x, y_larger), so only the min-y point of
    each x survives the tie, and it survives overall iff every
    strictly-smaller x has min-y > y. Dedup exact duplicates first
    (identical points do not dominate each other — both stay).

    Scale: the window partitions by group; the global-frontier case
    (no group) wants a coarse-bucket two-phase refinement, but the
    dominance test is associative (frontier of frontiers = frontier),
    so: per-partition local frontier FIRST (mapInPandas-free — just
    the same window inside each partition id), then the tiny union
    re-runs the window. Here groups bound partitions, so the plain
    grouped window is the honest plan."""
    gcols = list(group_cols or [])
    from pyspark.sql import Window

    pts = df.select(*gcols, x_col, y_col).distinct()
    w = (
        Window.partitionBy(*gcols)
        .orderBy(F.col(x_col).asc(), F.col(y_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # running min of y over ALL preceding rows in (x asc, y asc) order:
    # a preceding row has smaller x, or equal x with smaller y — either
    # way, prev_min_y <= y means dominated (equal x + smaller y
    # dominates; smaller x + y' <= y dominates).
    out = pts.withColumn("_pm", F.min(F.col(y_col)).over(w))
    return out.filter(
        F.col("_pm").isNull() | (F.col("_pm") > F.col(y_col))
    ).drop("_pm")


def skyline2d_sql(
    table_sql: str,
    group_exprs: str,
    x_expr: str = "x",
    y_expr: str = "y",
) -> str:
    """The identical one-pass 2-D skyline per group as DuckDB SQL.
    NOTE: `group_exprs` is COMMA-PREFIXED (e.g. ", p_brand"), matching
    hll_sql's convention — unlike weighted_percentiles_sql, which
    takes a bare list."""
    groups = group_exprs[1:]
    return f"""
WITH ipts AS (
  SELECT DISTINCT{groups},
         {x_expr}, {y_expr}
  FROM ({table_sql})
),
m AS (
  SELECT *, min({y_expr}) OVER (PARTITION BY {groups} ORDER BY {x_expr} ASC, {y_expr} ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM ipts
)
SELECT {groups}, {x_expr}, {y_expr}
FROM m WHERE pm IS NULL OR pm > {y_expr}
"""


def largest_remainder(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    total_col: str,
    id_col: str,
) -> DataFrame:
    """Largest-remainder apportionment (Hamilton's method): split each
    group's integer `total` across its members proportionally to
    integer weights, so that shares are integers and SUM EXACTLY to the
    total — the invariant naive rounding breaks (allocating ad spend,
    distributing an order's discount over lines, seat apportionment).

      floor share   s_i = total * w_i div W
      remainder     r_i = total * w_i mod W  (the fractional part x W)
      leftover      L = total - sum(s_i)  (< group size)
      final         s_i + 1 for the L members with the largest r_i
                    (ties: smallest id — deterministic)

    One group window (rank by (r desc, id asc)) + one group sum: two
    shuffles on the group key, all integer. Zero-weight groups (W = 0)
    get NULL shares rather than a division crash."""
    from pyspark.sql import Window

    wn = Window.partitionBy(group_col)
    wr = Window.partitionBy(group_col).orderBy(
        F.col("_rem").desc(), F.col(id_col).asc()
    )
    base = (
        df.withColumn("_w", F.sum(weight_col).over(wn))
        .withColumn(
            "_s",
            F.when(
                F.col("_w") > 0,
                F.expr(f"{total_col} * {weight_col} div _w"),
            ),
        )
        .withColumn(
            "_rem",
            F.when(
                F.col("_w") > 0,
                F.expr(f"({total_col} * {weight_col}) % _w"),
            ).otherwise(F.lit(-1)),
        )
    )
    out = (
        base.withColumn("_fsum", F.sum("_s").over(wn))
        .withColumn("_rk", F.row_number().over(wr))
        .withColumn(
            "share",
            F.when(
                F.col("_w") > 0,
                F.col("_s")
                + F.when(
                    F.col("_rk") <= F.col(total_col) - F.col("_fsum"),
                    F.lit(1),
                ).otherwise(F.lit(0)),
            ),
        )
    )
    return out.select(group_col, id_col, weight_col, "share")


def largest_remainder_sql(
    table_sql: str,
    group_col: str,
    weight_col: str,
    total_col: str,
    id_col: str,
) -> str:
    """The identical apportionment as DuckDB SQL."""
    g, w, t, i = group_col, weight_col, total_col, id_col
    return f"""
WITH base AS (
  SELECT *, sum({w}) OVER (PARTITION BY {g}) AS _w FROM ({table_sql})
),
s AS (
  SELECT *,
    CASE WHEN _w > 0 THEN ({t} * {w}) // _w END AS _s,
    CASE WHEN _w > 0 THEN ({t} * {w}) % _w ELSE -1 END AS _rem
  FROM base
),
r AS (
  SELECT *,
    sum(_s) OVER (PARTITION BY {g}) AS _fsum,
    row_number() OVER (PARTITION BY {g} ORDER BY _rem DESC, {i} ASC) AS _rk
  FROM s
)
SELECT {g}, {i}, {w},
  CASE WHEN _w > 0 THEN
    _s + CASE WHEN _rk <= {t} - _fsum THEN 1 ELSE 0 END
  END AS share
FROM r
"""


def weighted_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    fractions: list[tuple[int, int]] = ((25, 100), (50, 100), (75, 100)),
) -> DataFrame:
    """Exact weighted percentile_disc per group: the smallest value
    whose cumulative weight reaches ceil(p * W) — group_percentiles
    with ranks replaced by running weight sums (revenue-weighted
    median, token-weighted quantile cut-offs). All comparisons are
    integer cross-multiplications; rows with non-positive weight are
    dropped (they carry no mass and would make cumsum non-monotone).

    Plan: one per-group sorted window for the running weight + one
    broadcast join against the fraction table; ties on value merge
    their mass before the comparison (pre-aggregate by value) so the
    result is tie-order independent."""
    from pyspark.sql import Window

    gb = [F.col(c) for c in group_cols]
    agg = (
        df.filter(F.col(weight_col) > 0)
        .groupBy(*gb, F.col(value_col).alias("_v"))
        .agg(F.sum(weight_col).alias("_wv"))
    )
    w = Window.partitionBy(*gb).orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wn = Window.partitionBy(*gb)
    cum = agg.withColumn("_cw", F.sum("_wv").over(w)).withColumn(
        "_tw", F.sum("_wv").over(wn)
    )
    fr = df.sparkSession.createDataFrame(
        [(int(a), int(b)) for a, b in fractions],
        "pct_num long, pct_den long",
    )
    # smallest value with cw*den >= num*W  <=>  first row where the
    # previous cumulative (cw - wv) hasn't reached the target yet
    hit = (
        cum.join(F.broadcast(fr))
        .filter(
            (F.col("_cw") * F.col("pct_den") >= F.col("pct_num") * F.col("_tw"))
            & (
                (F.col("_cw") - F.col("_wv")) * F.col("pct_den")
                < F.col("pct_num") * F.col("_tw")
            )
        )
    )
    return hit.select(
        *gb, "pct_num", "pct_den", F.col("_v").alias("value")
    )


def weighted_percentiles_sql(
    table_sql: str,
    group_exprs: str,
    value_expr: str,
    weight_expr: str,
) -> str:
    """The identical weighted percentile_disc as DuckDB SQL.
    `group_exprs` is a comma-separated list (no leading comma)."""
    g = group_exprs
    fr = " UNION ALL ".join(
        f"SELECT CAST({a} AS BIGINT) AS pct_num, CAST({b} AS BIGINT) AS pct_den"
        for a, b in ((25, 100), (50, 100), (75, 100))
    )
    return f"""
WITH agg AS (
  SELECT {g}, {value_expr} AS v, CAST(sum({weight_expr}) AS BIGINT) AS wv
  FROM ({table_sql}) WHERE {weight_expr} > 0 GROUP BY ALL
),
cum AS (
  SELECT *,
    CAST(sum(wv) OVER (PARTITION BY {g} ORDER BY v ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
    CAST(sum(wv) OVER (PARTITION BY {g}) AS BIGINT) AS tw
  FROM agg
),
fr AS ({fr})
SELECT {g}, pct_num, pct_den, v AS value
FROM cum, fr
WHERE cw * pct_den >= pct_num * tw
  AND (cw - wv) * pct_den < pct_num * tw
"""


def categorical_association(
    df: DataFrame,
    group_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Per-group 2x2 contingency statistics with EXACT rational
    arithmetic: chi-square as numerator/denominator bigints
    (chi2 = N*(ad-bc)^2 / (r1*r2*c1*c2)) plus the Gini impurity of the
    outcome as (N^2 - sum ni^2) over N^2 — the A/B-test significance
    scan and split-quality scoring done with zero float drift; the only
    float is one final rounded division. Cells come from one boolean
    aggregation pass (no pivot)."""
    a = F.sum(
        F.when((F.col(treat_col) == 1) & (F.col(outcome_col) == 1), 1).otherwise(0)
    )
    b = F.sum(
        F.when((F.col(treat_col) == 1) & (F.col(outcome_col) == 0), 1).otherwise(0)
    )
    c = F.sum(
        F.when((F.col(treat_col) == 0) & (F.col(outcome_col) == 1), 1).otherwise(0)
    )
    d = F.sum(
        F.when((F.col(treat_col) == 0) & (F.col(outcome_col) == 0), 1).otherwise(0)
    )
    out = df.groupBy(group_col).agg(
        a.alias("a"), b.alias("b"), c.alias("c"), d.alias("d")
    )
    out = (
        out.withColumn("n", F.expr("a + b + c + d"))
        .withColumn("chi2_num", F.expr("n * (a*d - b*c) * (a*d - b*c)"))
        .withColumn("chi2_den", F.expr("(a+b) * (c+d) * (a+c) * (b+d)"))
        .withColumn(
            "chi2_q6",
            F.when(
                F.col("chi2_den") > 0,
                F.round(
                    F.col("chi2_num").cast("double") / F.col("chi2_den"), 6
                ),
            ),
        )
        .withColumn("gini_num", F.expr("n*n - (a+c)*(a+c) - (b+d)*(b+d)"))
        .withColumn(
            "gini_q6",
            F.when(
                F.col("n") > 0,
                F.round(
                    F.col("gini_num").cast("double") / (F.col("n") * F.col("n")),
                    6,
                ),
            ),
        )
    )
    return out


def categorical_association_sql(
    table_sql: str, group_col: str, treat_expr: str, outcome_expr: str
) -> str:
    """The identical exact-rational contingency stats as DuckDB SQL."""
    g = group_col
    return f"""
WITH cells AS (
  SELECT {g},
    CAST(sum(CASE WHEN ({treat_expr}) = 1 AND ({outcome_expr}) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN ({treat_expr}) = 1 AND ({outcome_expr}) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN ({treat_expr}) = 0 AND ({outcome_expr}) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN ({treat_expr}) = 0 AND ({outcome_expr}) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM ({table_sql}) GROUP BY 1
)
SELECT {g}, a, b, c, d,
  a + b + c + d AS n,
  (a + b + c + d) * (a*d - b*c) * (a*d - b*c) AS chi2_num,
  (a+b) * (c+d) * (a+c) * (b+d) AS chi2_den,
  CASE WHEN (a+b) * (c+d) * (a+c) * (b+d) > 0 THEN
    round(CAST((a + b + c + d) * (a*d - b*c) * (a*d - b*c) AS DOUBLE)
          / ((a+b) * (c+d) * (a+c) * (b+d)), 6) END AS chi2_q6,
  (a+b+c+d)*(a+b+c+d) - (a+c)*(a+c) - (b+d)*(b+d) AS gini_num,
  CASE WHEN a + b + c + d > 0 THEN
    round(CAST((a+b+c+d)*(a+b+c+d) - (a+c)*(a+c) - (b+d)*(b+d) AS DOUBLE)
          / ((a+b+c+d)*(a+b+c+d)), 6) END AS gini_q6
FROM cells
"""


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    treat_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) per group with EXACT integer
    arithmetic: doubled midranks keep ties rational-free (midrank of a
    tie run [lo..hi] is (lo+hi)/2, so 2*midrank = lo+hi is an integer),
    and U is derived from the doubled rank sum:

      2*R1  = sum over treatment rows of (lo_i + hi_i)
      2*U1  = 2*R1 - n1*(n1+1)

    The z-statistic needs the tie-corrected variance — also exact as a
    rational: var_num/var_den with
      var = n1*n2/12 * ((N+1) - sum(t^3-t)/(N*(N-1)))
    folded to a single fraction; one rounded division at the end.

    Plan: per (group, value) tie-run aggregation (compresses duplicate
    mass), one sorted window for run boundaries, then one group
    aggregate — the same compress-then-window shape as
    weighted_percentiles."""
    from pyspark.sql import Window

    g = group_col
    runs = df.groupBy(g, F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_t"),
        F.sum(F.when(F.col(treat_col) == 1, 1).otherwise(0)).alias("_t1"),
    )
    w = (
        Window.partitionBy(g)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = runs.withColumn("_hi", F.sum("_t").over(w)).withColumn(
        "_lo", F.col("_hi") - F.col("_t") + 1
    )
    out = runs.groupBy(g).agg(
        F.sum("_t1").alias("n1"),
        F.sum(F.expr("_t - _t1")).alias("n2"),
        F.sum(F.expr("_t1 * (_lo + _hi)")).alias("r1x2"),
        F.sum(F.expr("_t * _t * _t - _t")).alias("tie3"),
    )
    return (
        out.withColumn("u1x2", F.expr("r1x2 - n1 * (n1 + 1)"))
        .withColumn(
            "z_q6",
            F.when(
                (F.col("n1") > 0)
                & (F.col("n2") > 0)
                & (
                    F.expr(
                        "n1 * n2 * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tie3)"
                    )
                    > 0
                ),
                F.round(
                    F.expr(
                        "(u1x2 - n1 * n2) / "
                        "(2 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12 "
                        " * ((n1 + n2 + 1) - CAST(tie3 AS DOUBLE) "
                        "    / ((n1 + n2) * (n1 + n2 - 1)))))"
                    ),
                    6,
                ),
            ),
        )
    )


def mann_whitney_u_sql(
    table_sql: str, group_col: str, treat_expr: str, value_expr: str
) -> str:
    """The identical exact rank-sum computation as DuckDB SQL (same
    float expression shape for the final z)."""
    g = group_col
    return f"""
WITH runs AS (
  SELECT {g}, {value_expr} AS v, CAST(count(*) AS BIGINT) AS t,
         CAST(sum(CASE WHEN ({treat_expr}) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1
  FROM ({table_sql}) GROUP BY 1, 2
),
b AS (
  SELECT *,
    CAST(sum(t) OVER (PARTITION BY {g} ORDER BY v ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hi
  FROM runs
),
agg AS (
  SELECT {g},
    CAST(sum(t1) AS BIGINT) AS n1,
    CAST(sum(t - t1) AS BIGINT) AS n2,
    CAST(sum(t1 * ((hi - t + 1) + hi)) AS BIGINT) AS r1x2,
    CAST(sum(t * t * t - t) AS BIGINT) AS tie3
  FROM b GROUP BY 1
)
SELECT {g}, n1, n2, r1x2, tie3,
  r1x2 - n1 * (n1 + 1) AS u1x2,
  CASE WHEN n1 > 0 AND n2 > 0
        AND n1 * n2 * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tie3) > 0
  THEN round(
    ((r1x2 - n1 * (n1 + 1)) - n1 * n2)
    / (2 * sqrt(CAST(n1 AS DOUBLE) * n2 / 12
        * ((n1 + n2 + 1) - CAST(tie3 AS DOUBLE)
           / ((n1 + n2) * (n1 + n2 - 1))))), 6) END AS z_q6
FROM agg
"""


def corr_matrix(
    df: DataFrame,
    group_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Pairwise Pearson correlations per group from EXACT integer
    moments (the q97 OLS convention): for each metric pair,
      num  = n*Sxy - Sx*Sy          (exact bigint)
      den1 = n*Sxx - Sx*Sx, den2 = n*Syy - Sy*Sy
      corr = num / sqrt(den1*den2)  (the only float, rounded to 6)
    One aggregation pass computes every sum and cross-product; the
    pair table then unpivots via a stack expression — no self-join, no
    second scan. Inputs must be pre-quantized integers scaled so
    n*Sxx stays under 2^63 (caller's contract, as in group_ols_trend).
    Zero-variance metrics yield NULL corr."""
    cols = list(value_cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    for x, y in pairs:
        aggs.append(F.sum(F.col(x) * F.col(y)).alias(f"p_{x}_{y}"))
    base = df.groupBy(group_col).agg(*aggs)
    stack_items = ", ".join(
        f"'{x}', '{y}', "
        f"n * p_{x}_{y} - s_{x} * s_{y}, "
        f"n * ss_{x} - s_{x} * s_{x}, "
        f"n * ss_{y} - s_{y} * s_{y}"
        for x, y in pairs
    )
    out = base.select(
        group_col,
        "n",
        F.expr(
            f"stack({len(pairs)}, {stack_items}) AS (m1, m2, num, den1, den2)"
        ),
    )
    return out.withColumn(
        "corr_q6",
        F.when(
            (F.col("den1") > 0) & (F.col("den2") > 0),
            F.round(
                F.col("num")
                / F.sqrt(F.col("den1").cast("double") * F.col("den2")),
                6,
            ),
        ),
    )


def corr_matrix_sql(
    table_sql: str, group_col: str, value_cols: list[str]
) -> str:
    """The identical exact-moment correlation matrix as DuckDB SQL."""
    g = group_col
    cols = list(value_cols)
    sums = ", ".join(
        f"CAST(sum({c}) AS BIGINT) AS s_{c}, "
        f"CAST(sum({c} * {c}) AS BIGINT) AS ss_{c}"
        for c in cols
    )
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    prods = ", ".join(
        f"CAST(sum({x} * {y}) AS BIGINT) AS p_{x}_{y}" for x, y in pairs
    )
    unions = " UNION ALL ".join(
        f"SELECT {g}, n, '{x}' AS m1, '{y}' AS m2, "
        f"n * p_{x}_{y} - s_{x} * s_{y} AS num, "
        f"n * ss_{x} - s_{x} * s_{x} AS den1, "
        f"n * ss_{y} - s_{y} * s_{y} AS den2 FROM base"
        for x, y in pairs
    )
    return f"""
WITH base AS (
  SELECT {g}, CAST(count(*) AS BIGINT) AS n, {sums}, {prods}
  FROM ({table_sql}) GROUP BY 1
),
u AS ({unions})
SELECT {g}, n, m1, m2, num, den1, den2,
  CASE WHEN den1 > 0 AND den2 > 0 THEN
    round(num / sqrt(CAST(den1 AS DOUBLE) * den2), 6) END AS corr_q6
FROM u
"""


def theil_sen_slope(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil-Sen robust slope per group: the median of all pairwise
    slopes (yj-yi)/(xj-xi) — the 29%-breakdown-point regression the
    OLS trend (q97) is fragile without. Exactness note: with integer
    coords bounded by B, two distinct pairwise slopes differ by at
    least 1/B^2, while double resolution at slope magnitudes <= B is
    ~B*2^-52 — so ORDERING slopes as doubles is exact for B <= ~10^6
    and the lower-median pick (deterministic ties by (dy, dx)) is
    engine-portable; the emitted median is the chosen element's exact
    (dy, dx) pair plus one rounded division.

    Plan: within-group pair self-join on (i < j) — O(n^2) pairs per
    group, the exact form (estimator definition); callers bound group
    size or pre-sample, the standard Theil-Sen scaling route. Pairs
    with equal x are skipped (vertical)."""
    from pyspark.sql import Window

    g = group_col
    a = df.select(
        F.col(g),
        F.col(x_col).alias("_xa"),
        F.col(y_col).alias("_ya"),
    )
    b = df.select(
        F.col(g),
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
    )
    pairs = (
        a.join(b, g)
        # strictly-increasing x both orders each unordered pair once
        # AND excludes vertical (equal-x) pairs in one condition
        .filter(F.col("_xa") < F.col("_xb"))
        .select(
            g,
            (F.col("_yb") - F.col("_ya")).alias("dy"),
            (F.col("_xb") - F.col("_xa")).alias("dx"),
        )
        .withColumn("slope", F.col("dy").cast("double") / F.col("dx"))
    )
    w = Window.partitionBy(g).orderBy(
        F.col("slope").asc(), F.col("dy").asc(), F.col("dx").asc()
    )
    wn = Window.partitionBy(g)
    ranked = pairs.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_np", F.count(F.lit(1)).over(wn)
    )
    med = ranked.filter(
        F.col("_rn") == F.expr("(_np + 1) div 2")
    )
    return med.select(
        g,
        F.col("_np").alias("n_pairs"),
        F.col("dy").alias("med_dy"),
        F.col("dx").alias("med_dx"),
        F.round(F.col("slope"), 6).alias("slope_q6"),
    )


def theil_sen_slope_sql(
    table_sql: str, group_col: str, x_expr: str, y_expr: str
) -> str:
    """The identical pairwise-median slope as DuckDB SQL."""
    g = group_col
    return f"""
WITH ipts AS (SELECT {g}, {x_expr} AS x, {y_expr} AS y FROM ({table_sql})),
pairs AS (
  SELECT a.{g}, b.y - a.y AS dy, b.x - a.x AS dx,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM ipts a JOIN ipts b
    ON a.{g} = b.{g} AND a.x < b.x
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY {g}
      ORDER BY slope ASC, dy ASC, dx ASC) AS rn,
    CAST(count(*) OVER (PARTITION BY {g}) AS BIGINT) AS np
  FROM pairs
)
SELECT {g}, np AS n_pairs, dy AS med_dy, dx AS med_dx,
       round(slope, 6) AS slope_q6
FROM r WHERE rn = (np + 1) // 2
"""


def isotonic_fit(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group isotonic (monotone nondecreasing) least-squares fit —
    the calibration-curve primitive (Platt/isotonic probability
    calibration, monotone dose-response): PAVA (pool adjacent
    violators) over x-sorted integer observations, block averages kept
    as exact Fractions until one final rounded division. x must be
    unique per group (pre-aggregate duplicates to their mean or sum —
    the caller decides the tie semantics).

    The oracle twin computes the SAME fit by a different theorem: the
    minimax formula fit_k = max_{i<=k} min_{j>=k} avg(y_i..y_j) over
    prefix sums (O(n^3) in SQL — oracle-scale only). Comparing
    averages as doubles is exact on the bounded integer domain
    (distinct rationals differ by >= 1/n^2, far above double
    resolution for n <= 10^3, |y| <= 10^6 — the Theil-Sen argument).
    Agreement of two different characterizations pins the operator.

    Plan: applyInPandas per group — a calibration curve is one
    model/segment's data, the natural work unit."""
    import pandas as pd

    g = group_col
    out_schema = f"{g} string, x long, y long, fit_q6 double"

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        from fractions import Fraction

        pdf = pdf.sort_values(x_col)
        ys = [int(v) for v in pdf[y_col]]
        # blocks of (sum, count); merge while the last violates order
        blocks: list[list[int]] = []
        for v in ys:
            blocks.append([v, 1])
            while (
                len(blocks) >= 2
                and blocks[-2][0] * blocks[-1][1]
                >= blocks[-1][0] * blocks[-2][1]
            ):
                s, c = blocks.pop()
                blocks[-1][0] += s
                blocks[-1][1] += c
        fits = []
        for s, c in blocks:
            f = Fraction(s, c)
            fits.extend([f] * c)
        return pd.DataFrame(
            {
                g: pdf[g].to_numpy(),
                "x": pdf[x_col].to_numpy(),
                "y": ys,
                "fit_q6": [round(float(f), 6) for f in fits],
            }
        )

    return df.select(g, x_col, y_col).groupBy(g).applyInPandas(
        pava, out_schema
    )


def isotonic_fit_sql(
    table_sql: str, group_col: str, x_expr: str, y_expr: str
) -> str:
    """The minimax-formula oracle (different algorithm than PAVA):
    fit_k = max over i<=k of (min over j>=k of avg(i..j))."""
    g = group_col
    return f"""
WITH ipts AS (
  SELECT {g}, {x_expr} AS x, {y_expr} AS y,
         row_number() OVER (PARTITION BY {g} ORDER BY {x_expr} ASC) AS k,
         CAST(sum({y_expr}) OVER (PARTITION BY {g} ORDER BY {x_expr} ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
  FROM ({table_sql})
),
seg AS (
  SELECT a.{g}, a.k AS i, b.k AS j,
         CAST(b.s - a.s + a.y AS DOUBLE) / (b.k - a.k + 1) AS avg_ij
  FROM ipts a JOIN ipts b ON a.{g} = b.{g} AND a.k <= b.k
),
inner_min AS (
  SELECT s.{g}, s.i, k.k,
         min(s.avg_ij) AS min_avg
  FROM seg s JOIN ipts k ON s.{g} = k.{g} AND s.i <= k.k AND k.k <= s.j
  GROUP BY 1, 2, 3
)
SELECT p.{g}, p.x, p.y,
       round(max(im.min_avg), 6) AS fit_q6
FROM ipts p JOIN inner_min im ON p.{g} = im.{g} AND p.k = im.k AND im.i <= p.k
GROUP BY 1, 2, 3
"""


def partial_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Mergeable sufficient statistics per group over an INTEGER value
    column: (n, s1=Σx, s2=Σx², vmin, vmax) — the partial-aggregation
    state every incremental warehouse rollup keeps (hourly partials →
    daily → monthly without rescanning raw data). All exact integers;
    mean = s1/n and the variance numerator n·s2 − s1² are derivable
    downstream with zero drift, which float mean/M2 states cannot
    promise under re-merging.
    """
    v = F.col(value_col).cast("long")
    return df.groupBy(*group_cols).agg(
        F.count(v).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )


def merge_partial_stats(
    partials: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Merge partial_stats states to a coarser grain by pure addition
    (min/max by min/max) — the state is a commutative monoid, so the
    merge is exact for ANY partition of the rows into partials. Emits
    the merged state plus the derived exact-rational moments:
    mean and variance emitted as integer (numerator, denominator)
    pairs: mean = s1/n, var = (n·s2 − s1²)/n² (population form).
    """
    m = partials.groupBy(*group_cols).agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )
    return m.select(
        *group_cols,
        "n", "s1", "s2", "vmin", "vmax",
        (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("var_num"),
        (F.col("n") * F.col("n")).alias("var_den"),
    )


def distribution_drift_tv(
    df: DataFrame,
    group_cols: list[str],
    bucket_col: str,
    period_col: str,
) -> DataFrame:
    """Feature-drift detection between two data windows as the exact
    total-variation distance — the monitoring gate that decides
    "retrain / investigate" when serving data shifts from the
    reference window. For bucketed feature values with reference
    counts c1_i (N1 total) and current counts c2_i (N2 total):

        TV = 1/2 · Σ_i |c1_i/N1 − c2_i/N2|
           = Σ_i |c1_i·N2 − c2_i·N1| / (2·N1·N2)

    — emitted as the exact integer pair (tv_num, tv_den), unlike PSI/
    KL whose logs force floats and engine-specific libm. Buckets
    present in only one window contribute their full mass (the
    missing side is 0) — no smoothing epsilon needed, another PSI
    wart avoided. `period_col` must hold 'ref' or 'cur'.

    Plan: one (group, bucket) aggregation with conditional sums, a
    per-group totals aggregation broadcast back by a group-keyed
    join, then one map-side-combinable final sum. All shuffles key on
    the group; bucket cardinality per group bounds nothing — it is
    aggregated away.
    """
    g = [F.col(c) for c in group_cols]
    per = df.groupBy(*g, F.col(bucket_col).alias("_b")).agg(
        F.sum((F.col(period_col) == "ref").cast("long")).alias("c1"),
        F.sum((F.col(period_col) == "cur").cast("long")).alias("c2"),
    )
    totals = per.groupBy(*group_cols).agg(
        F.sum("c1").alias("n_ref"), F.sum("c2").alias("n_cur")
    )
    j = per.join(totals, group_cols)
    return (
        j.groupBy(*group_cols)
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                F.abs(
                    F.col("c1") * F.col("n_cur") - F.col("c2") * F.col("n_ref")
                )
            ).alias("tv_num"),
        )
        .withColumn("tv_den", F.lit(2) * F.col("n_ref") * F.col("n_cur"))
    )


def distribution_drift_tv_sql(
    rows_sql: str, group_exprs: str, bucket_expr: str, period_expr: str
) -> str:
    """DuckDB twin of distribution_drift_tv. `group_exprs` is the
    comma-separated group column list (bare, not prefixed)."""
    ge = group_exprs
    return f"""
WITH rows_in AS ({rows_sql}),
per AS (
  SELECT {ge}, {bucket_expr} AS b,
         CAST(sum(CASE WHEN {period_expr} = 'ref' THEN 1 ELSE 0 END)
           AS BIGINT) AS c1,
         CAST(sum(CASE WHEN {period_expr} = 'cur' THEN 1 ELSE 0 END)
           AS BIGINT) AS c2
  FROM rows_in GROUP BY {ge}, {bucket_expr}
),
tot AS (
  SELECT {ge}, CAST(sum(c1) AS BIGINT) AS n_ref,
         CAST(sum(c2) AS BIGINT) AS n_cur
  FROM per GROUP BY {ge}
)
SELECT p.{ge.replace(', ', ', p.')}, min(t.n_ref) AS n_ref,
       min(t.n_cur) AS n_cur,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(abs(p.c1 * t.n_cur - p.c2 * t.n_ref)) AS BIGINT) AS tv_num,
       CAST(2 AS BIGINT) * min(t.n_ref) * min(t.n_cur) AS tv_den
FROM per p JOIN tot t USING ({ge})
GROUP BY p.{ge.replace(', ', ', p.')}
"""


def abc_classification(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Pareto / ABC contribution analysis per group — the 80/20 revenue
    report: items ranked by value desc (ties by item id), cumulative
    share classified A (first items reaching 80% of the group
    total), B (through 95%), C (tail). Class boundaries are exact
    integer cross-multiplications — cum·100 <= pct·total — never a
    float share (the q58/q151 thresholds rule); an item straddling
    the boundary is A when the cumulative INCLUDING it is still
    within 80% (the standard inclusive convention, so the first
    item is always A even at 100% concentration).

    One per-group window over value order (the group's item list is
    the unit of parallelism) computing rank + running sum, with the
    group total from the same partition — a single sort. Emits
    (group..., item, value, rank, cum_value, total_value, abc).
    """
    g = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*g).orderBy(
        F.col(value_col).desc(), F.col(item_col).asc()
    )
    wall = Window.partitionBy(*g)
    v = F.col(value_col).cast("long")
    d = df.select(*g, F.col(item_col).alias("item"), v.alias("value"))
    d = (
        d.withColumn("rank", F.row_number().over(
            Window.partitionBy(*g).orderBy(
                F.col("value").desc(), F.col("item").asc()
            )
        ))
        .withColumn(
            "cum_value",
            F.sum("value").over(
                Window.partitionBy(*g)
                .orderBy(F.col("value").desc(), F.col("item").asc())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("total_value", F.sum("value").over(wall))
    )
    abc = (
        F.when(F.col("cum_value") * 100 <= F.lit(80) * F.col("total_value"), "A")
        .when(
            F.col("cum_value") * 100 <= F.lit(95) * F.col("total_value"),
            "B",
        )
        .otherwise("C")
    )
    # first item is A even when it alone exceeds a_pct
    abc = F.when(F.col("rank") == 1, F.lit("A")).otherwise(abc)
    return d.withColumn("abc", abc)


def abc_classification_sql(rows_sql: str, group_exprs: str) -> str:
    """DuckDB twin of abc_classification over (group..., item,
    value)."""
    g = group_exprs
    return f"""
WITH d AS (
  SELECT {g}, item, CAST(value AS BIGINT) AS value FROM ({rows_sql})
),
r AS (
  SELECT {g}, item, value,
         row_number() OVER w AS rank,
         CAST(sum(value) OVER (PARTITION BY {g}
           ORDER BY value DESC, item ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_value,
         CAST(sum(value) OVER (PARTITION BY {g}) AS BIGINT) AS total_value
  FROM d WINDOW w AS (PARTITION BY {g} ORDER BY value DESC, item ASC)
)
SELECT {g}, item, value, CAST(rank AS BIGINT) AS rank, cum_value, total_value,
       CASE WHEN rank = 1 THEN 'A'
            WHEN cum_value * 100 <= 80 * total_value THEN 'A'
            WHEN cum_value * 100 <= 95 * total_value THEN 'B'
            ELSE 'C' END AS abc
FROM r
"""


def ks_two_sample(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    sample_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per group — the
    ordering-sensitive drift/test statistic TV (q151) cannot see
    (a uniform shift moves every bucket a little; KS catches the
    accumulated displacement): with samples 'a' (n_a total) and 'b',

        KS = max over values v of |F_a(v) − F_b(v)|
           = max |cum_a(v)·n_b − cum_b(v)·n_a| / (n_a·n_b)

    evaluated AFTER each distinct value (the ECDF is right-
    continuous; ties must be fully absorbed before comparing —
    evaluating mid-tie overstates the gap). Emitted as the exact
    integer pair (ks_num, ks_den) plus the smallest value attaining
    the supremum.

    Plan: per-(group, value) sample counts, one running-sum window
    over value order per group (a group's distinct-value list is the
    unit of parallelism — already aggregated, so far smaller than the
    rows), then the portable two-step argmax (peak + join back, the
    q144 rule). Every shuffle keys on the group.
    """
    g = [F.col(c) for c in group_cols]
    per = df.groupBy(*g, F.col(value_col).alias("v")).agg(
        F.sum((F.col(sample_col) == "a").cast("long")).alias("ca"),
        F.sum((F.col(sample_col) == "b").cast("long")).alias("cb"),
    )
    wv = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*group_cols)
    cum = per.select(
        *group_cols,
        "v",
        F.sum("ca").over(wv).alias("cum_a"),
        F.sum("cb").over(wv).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    ).withColumn(
        "dev",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")),
    )
    peak = cum.groupBy(*group_cols).agg(
        F.max("dev").alias("ks_num"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    at = (
        cum.join(
            peak.select(*group_cols, F.col("ks_num").alias("_pk")), group_cols
        )
        .filter(F.col("dev") == F.col("_pk"))
        .groupBy(*group_cols)
        .agg(F.min("v").alias("ks_at_value"))
    )
    return (
        peak.join(at, group_cols)
        .withColumn("ks_den", F.col("n_a") * F.col("n_b"))
        .select(*group_cols, "n_a", "n_b", "ks_num", "ks_den", "ks_at_value")
    )


def ks_two_sample_sql(rows_sql: str, group_col: str) -> str:
    """DuckDB twin of ks_two_sample over (group, v, sample) — single
    group column (the Spark operator takes a list; the twin generator
    keeps the join plumbing simple with one)."""
    g = group_col
    return f"""
WITH rows_in AS ({rows_sql}),
per AS (
  SELECT {g}, v,
         CAST(sum(CASE WHEN sample = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN sample = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM rows_in GROUP BY {g}, v
),
cum AS MATERIALIZED (
  SELECT {g}, v,
         CAST(sum(ca) OVER (PARTITION BY {g} ORDER BY v ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (PARTITION BY {g} ORDER BY v ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b,
         CAST(sum(ca) OVER (PARTITION BY {g}) AS BIGINT) AS n_a,
         CAST(sum(cb) OVER (PARTITION BY {g}) AS BIGINT) AS n_b
  FROM per
),
dev AS MATERIALIZED (
  SELECT *, abs(cum_a * n_b - cum_b * n_a) AS dev FROM cum
),
peak AS MATERIALIZED (
  SELECT {g}, max(dev) AS ks_num, min(n_a) AS n_a, min(n_b) AS n_b
  FROM dev GROUP BY {g}
),
at AS (
  SELECT d.{g}, min(d.v) AS ks_at_value
  FROM dev d JOIN peak p ON d.{g} = p.{g} AND d.dev = p.ks_num
  GROUP BY d.{g}
)
SELECT p.{g}, p.n_a, p.n_b, p.ks_num, p.n_a * p.n_b AS ks_den, a.ks_at_value
FROM peak p JOIN at a ON a.{g} = p.{g}
"""


def percent_rank_normalize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Rank-space feature normalization per group — the
    distribution-free scaling trick (quantile transform) that makes
    skewed features comparable across groups: each row gets its exact
    percent rank as the RATIONAL (rank − 1, n − 1) using RANK (ties
    share a rank, so equal values get equal features — row_number
    would split ties arbitrarily), plus the tie-group size. n = 1
    groups emit (0, 0) — flagged by pr_den = 0 rather than a forced
    0.5 float.

    One window pass per group (rank + count over the same partition,
    single sort). Emits (group..., id, value, pr_num, pr_den,
    n_ties).
    """
    g = [F.col(c) for c in group_cols]
    return df.select(
        *g,
        F.col(id_col).alias("id"),
        F.col(value_col).cast("long").alias("value"),
    ).select(
        *group_cols,
        "id",
        "value",
        (F.rank().over(
            Window.partitionBy(*group_cols).orderBy(F.col("value").asc())
        ) - 1).cast("long").alias("pr_num"),
        (F.count(F.lit(1)).over(
            Window.partitionBy(*group_cols)
        ) - 1).cast("long").alias("pr_den"),
        F.count(F.lit(1)).over(
            Window.partitionBy(*group_cols, F.col("value"))
        ).cast("long").alias("n_ties"),
    )


def percent_rank_normalize_sql(rows_sql: str, group_exprs: str) -> str:
    """DuckDB twin of percent_rank_normalize over (group..., id,
    value)."""
    g = group_exprs
    return f"""
WITH d AS (
  SELECT {g}, id, CAST(value AS BIGINT) AS value FROM ({rows_sql})
)
SELECT {g}, id, value,
       CAST(rank() OVER (PARTITION BY {g} ORDER BY value ASC) - 1
         AS BIGINT) AS pr_num,
       CAST(count(*) OVER (PARTITION BY {g}) - 1 AS BIGINT) AS pr_den,
       CAST(count(*) OVER (PARTITION BY {g}, value) AS BIGINT) AS n_ties
FROM d
"""


def trimmed_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    trim_pct: int = 5,
) -> DataFrame:
    """Trimmed and winsorized aggregation per group — the robust-mean
    family's workhorse (MAD flags outliers; trimming neutralizes
    them): drop the lowest and highest k = floor(n·p/100) values BY
    RANK (deterministic (value, id) order — rank-based trimming is
    well-defined under ties where threshold-based clipping is not),
    and also report the winsorized sum (clipped to the surviving
    min/max instead of dropped). All exact integers; means are the
    rationals (trim_sum, n − 2k) and (winsor_sum, n).

    One ranked window per group + one conditional aggregate over the
    same partition — a single sort. Emits (group..., n, k,
    trim_sum, trim_n, winsor_sum, vmin_kept, vmax_kept).
    """
    g = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*g).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    wall = Window.partitionBy(*g)
    d = df.select(
        *g,
        F.col(value_col).cast("long").alias("v"),
        F.col(id_col).alias("_id"),
    ).select(
        *group_cols,
        "v",
        F.row_number().over(
            Window.partitionBy(*group_cols).orderBy(
                F.col("v").asc(), F.col("_id").asc()
            )
        ).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*group_cols)).alias("_n"),
    )
    k = F.expr(f"(_n * {trim_pct}) div 100")
    kept = (F.col("_rn") > k) & (F.col("_rn") <= F.col("_n") - k)
    d = d.withColumn("_k", k).withColumn("_kept", kept.cast("long"))
    agg = d.groupBy(*group_cols).agg(
        F.first("_n").alias("n"),
        F.first("_k").alias("k"),
        F.sum(F.col("v") * F.col("_kept")).alias("trim_sum"),
        F.sum("_kept").alias("trim_n"),
        F.min(F.when(F.col("_kept") == 1, F.col("v"))).alias("vmin_kept"),
        F.max(F.when(F.col("_kept") == 1, F.col("v"))).alias("vmax_kept"),
    )
    return agg.withColumn(
        "winsor_sum",
        F.col("trim_sum")
        + F.col("k") * F.col("vmin_kept")
        + F.col("k") * F.col("vmax_kept"),
    )


def trimmed_stats_sql(rows_sql: str, group_exprs: str) -> str:
    """DuckDB twin of trimmed_stats over (group..., v, _id)."""
    g = group_exprs
    return f"""
WITH d AS (
  SELECT {g}, CAST(v AS BIGINT) AS v, _id,
         row_number() OVER (PARTITION BY {g} ORDER BY v ASC, _id ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY {g}) AS BIGINT) AS n
  FROM ({rows_sql})
),
m AS (
  SELECT *, (n * 5) // 100 AS k,
         CASE WHEN rn > (n * 5) // 100
               AND rn <= n - (n * 5) // 100
         THEN 1 ELSE 0 END AS kept
  FROM d
),
agg AS (
  SELECT {g}, min(n) AS n, min(k) AS k,
         CAST(sum(v * kept) AS BIGINT) AS trim_sum,
         CAST(sum(kept) AS BIGINT) AS trim_n,
         min(CASE WHEN kept = 1 THEN v END) AS vmin_kept,
         max(CASE WHEN kept = 1 THEN v END) AS vmax_kept
  FROM m GROUP BY {g}
)
SELECT {g}, n, k, trim_sum, trim_n, vmin_kept, vmax_kept,
       trim_sum + k * vmin_kept + k * vmax_kept AS winsor_sum
FROM agg
"""


def gini_coefficient(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Exact Gini coefficient per group — the concentration metric
    for hub-dominance audits (degree inequality of a link graph,
    revenue concentration, per-domain crawl share): for nonnegative
    values sorted ascending,

        G = Σ_i (2i − n − 1)·x_i  /  (n · Σ x)

    emitted as the integer pair (gini_num, gini_den); 0 = perfectly
    equal, (n−1)/n at full concentration. Ties are rank-order
    independent in the numerator? NO — but summing (2i−n−1)·x over a
    tie run of equal x is invariant to order WITHIN the run (the
    coefficients are consumed by equal values), so the result is
    deterministic without a tie-break. One ranked window + one
    aggregate, single sort per group.
    """
    g = [F.col(c) for c in group_cols]
    d = df.select(
        *g, F.col(value_col).cast("long").alias("v"), F.col(id_col).alias("_id")
    ).select(
        *group_cols,
        "v",
        F.row_number().over(
            Window.partitionBy(*group_cols).orderBy(
                F.col("v").asc(), F.col("_id").asc()
            )
        ).alias("_i"),
        F.count(F.lit(1)).over(Window.partitionBy(*group_cols)).alias("_n"),
    )
    return d.groupBy(*group_cols).agg(
        F.first("_n").alias("n"),
        F.sum("v").alias("total"),
        F.sum(
            (F.lit(2) * F.col("_i") - F.col("_n") - 1) * F.col("v")
        ).alias("gini_num"),
        (F.first("_n") * F.sum("v")).alias("gini_den"),
    )


def gini_coefficient_sql(rows_sql: str, group_exprs: str) -> str:
    """DuckDB twin of gini_coefficient over (group..., v, _id)."""
    g = group_exprs
    return f"""
WITH d AS (
  SELECT {g}, CAST(v AS BIGINT) AS v,
         row_number() OVER (PARTITION BY {g} ORDER BY v ASC, _id ASC) AS i,
         CAST(count(*) OVER (PARTITION BY {g}) AS BIGINT) AS n
  FROM ({rows_sql})
)
SELECT {g}, min(n) AS n, CAST(sum(v) AS BIGINT) AS total,
       CAST(sum((2 * i - n - 1) * v) AS BIGINT) AS gini_num,
       min(n) * CAST(sum(v) AS BIGINT) AS gini_den
FROM d GROUP BY {g}
"""


_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_audit(
    df: DataFrame, value_int_col: str
) -> DataFrame:
    """Benford's-law first-digit audit — the classic fraud / synthetic-
    data / unit-mixup detector for positive magnitude columns: the
    leading significant digit of naturally occurring multi-scale values
    follows P(d) = log10(1 + 1/d); flat or spiked digit histograms flag
    fabricated or truncated data.

    One row per digit 1-9: (digit, n, total, observed_ppm, expected_ppm,
    dev_ppm). The first digit comes from the DECIMAL STRING of the
    positive int64 value — exact, no log/pow float path — and the
    expected frequencies are fixed literal ppm constants, so every
    output column is a pure integer function of the input (engine-exact).
    Rows with value <= 0 are excluded (Benford is defined on positive
    magnitudes).

    Scale: one conditional-count aggregation (9 partial counters per
    task, map-side combined) — no shuffle beyond a 9-group agg."""
    pos = df.select(
        F.col(value_int_col).cast("long").alias("v")
    ).filter(F.col("v") > 0)
    d = pos.select(
        F.substring(F.col("v").cast("string"), 1, 1).cast("long").alias(
            "digit"
        )
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # complete the 1..9 support (a digit can be absent) from a literal
    digits = counts.sparkSession.range(1, 10).select(
        F.col("id").alias("digit")
    )
    full = digits.join(counts, "digit", "left").select(
        "digit", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    tot = full.agg(F.sum("n").alias("total"))
    exp = None
    for dg, ppm in _BENFORD_PPM.items():
        exp = (
            F.when(F.col("digit") == dg, F.lit(ppm))
            if exp is None
            else exp.when(F.col("digit") == dg, F.lit(ppm))
        )
    return (
        full.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            "total",
            F.expr("(1000000 * n) DIV total").alias("observed_ppm"),
            exp.cast("long").alias("expected_ppm"),
            (
                F.expr("(1000000 * n) DIV total") - exp.cast("long")
            ).alias("dev_ppm"),
        )
    )


def benford_audit_sql(rows_sql: str, value_int_expr: str) -> str:
    """DuckDB twin of benford_audit."""
    exp_case = "CASE " + " ".join(
        f"WHEN d.digit = {dg} THEN {ppm}"
        for dg, ppm in _BENFORD_PPM.items()
    ) + " END"
    return f"""
WITH pos AS (
  SELECT CAST({value_int_expr} AS BIGINT) AS v FROM ({rows_sql})
  WHERE {value_int_expr} > 0
),
counts AS (
  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(count(*) AS BIGINT) AS n
  FROM pos GROUP BY 1
),
d AS (
  SELECT g.digit, coalesce(c.n, 0) AS n
  FROM (SELECT unnest(generate_series(1, 9)) AS digit) g
  LEFT JOIN counts c ON g.digit = c.digit
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
SELECT d.digit, d.n, t.total,
       (1000000 * d.n) // t.total AS observed_ppm,
       CAST({exp_case} AS BIGINT) AS expected_ppm,
       (1000000 * d.n) // t.total - {exp_case} AS dev_ppm
FROM d CROSS JOIN tot t
"""


def spearman_moments(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Spearman rank correlation as EXACT integer moments — the robust
    (monotone-invariant, outlier-resistant) correlation q118's Pearson
    matrix cannot give. Values are replaced by tie-averaged ranks; to
    stay integral, ranks are DOUBLED: r2 = 2·rank_min + (ties − 1), the
    average rank ×2 (half-integer-free). Centered at the exact mean
    2·(n+1)/2 = n+1 (tie-averaging preserves the rank total, so the
    doubled-rank mean is exactly n+1), the output single row is
    (n, num, den_x, den_y) with num = Σ dx·dy, den_* = Σ d*² over
    d* = r2* − (n+1): rho = num/sqrt(den_x·den_y) — published as exact
    int64 moments (the q142/q159 mergeable-moments pattern; den_x·den_y
    would overflow int64, the consumer takes the sqrt) plus
    rho_ppm_sq = sign-carrying floor(1e6·num²/(den_x·den_y)) staged as
    ((1e6·num) div den_x · num) div den_y so every intermediate fits
    int64 for n ≲ 30k rows (den ~ n³/3; beyond that read the exact
    moments and skip the convenience column).

    Plan: two rank windows (one per column, each a single sort on its
    value — ties share the rank, so the window is by VALUE partitioning,
    not a global row sort... rank() over a global value order IS one
    global sort per column; for matrix-scale inputs pre-aggregate or
    sample) and one scalar aggregate. Inputs here are post-aggregate /
    bounded analytic tables — the same documented small-input contract
    as q163 percent_rank."""
    # rank() over value order = min rank; ties counted per value
    wx = Window.orderBy(F.col(x_col).asc())
    wy = Window.orderBy(F.col(y_col).asc())
    cx = Window.partitionBy(x_col)
    cy = Window.partitionBy(y_col)
    r = df.select(
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(cx) - 1)
        .cast("long")
        .alias("r2x"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(cy) - 1)
        .cast("long")
        .alias("r2y"),
    )
    nn = df.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    d = r.crossJoin(F.broadcast(nn)).select(
        (F.col("r2x") - (F.col("n_all") + 1)).alias("dx"),
        (F.col("r2y") - (F.col("n_all") + 1)).alias("dy"),
    )
    mom = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("dx") * F.col("dy")).alias("num"),
        F.sum(F.col("dx") * F.col("dx")).alias("den_x"),
        F.sum(F.col("dy") * F.col("dy")).alias("den_y"),
    )
    rho_sq = F.expr(
        "CASE WHEN den_x = 0 OR den_y = 0 THEN 0 ELSE "
        "CASE WHEN num < 0 THEN -1 ELSE 1 END * "
        "((((1000000 * abs(num)) DIV den_x) * abs(num)) DIV den_y) END"
    )
    return mom.select(
        "n",
        "num",
        "den_x",
        "den_y",
        rho_sq.cast("long").alias("rho_ppm_sq"),
    )


def spearman_moments_sql(rows_sql: str, x_expr: str, y_expr: str) -> str:
    """DuckDB twin of spearman_moments."""
    return f"""
WITH v AS (
  SELECT {x_expr} AS x, {y_expr} AS y FROM ({rows_sql})
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
r AS (
  SELECT
    2 * rank() OVER (ORDER BY x ASC)
      + count(*) OVER (PARTITION BY x) - 1 AS r2x,
    2 * rank() OVER (ORDER BY y ASC)
      + count(*) OVER (PARTITION BY y) - 1 AS r2y
  FROM v
),
d AS (
  SELECT CAST(r2x AS BIGINT) - (n + 1) AS dx,
         CAST(r2y AS BIGINT) - (n + 1) AS dy
  FROM r CROSS JOIN nn
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx * dy) AS BIGINT) AS num,
         CAST(sum(dx * dx) AS BIGINT) AS den_x,
         CAST(sum(dy * dy) AS BIGINT) AS den_y
  FROM d
)
SELECT n, num, den_x, den_y,
  CAST(CASE WHEN den_x = 0 OR den_y = 0 THEN 0 ELSE
    (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
    ((((1000000 * abs(num)) // den_x) * abs(num)) // den_y)
    END AS BIGINT) AS rho_ppm_sq
FROM mom
"""


def ripley_k_counts(points: DataFrame, r_sq_bands: list[int], area: int) -> DataFrame:
    """Ripley's K point-pattern statistic (spatial clustering vs CSR —
    the global companion of q85's local Moran): for each distance band
    r, K(r) = area · n_pairs(r) / (n·(n−1)) over ORDERED point pairs
    with 0 < d² ≤ r². K above πr² ⇒ clustering at that scale, below ⇒
    dispersion. One row per band: (band, r_sq, n_pairs, k_scaled =
    floor(1000·area·n_pairs / (n·(n−1)))) — all integer (squared radii,
    no sqrt; edge correction is deliberately omitted — the uncorrected
    raw-count estimator, documented).

    Scale: pairs come from operators/knn.distance_join's cell-ring
    bucketed self-join at the LARGEST band (superset prefilter + exact
    refine — never the n² cross join); bands then roll up from the one
    pair table with conditional sums (a single aggregate). n·(n−1)
    enters as an exact scalar from one count."""
    from .knn import distance_join

    import math

    p = points.select(
        F.col("pid"),
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
    )
    q = p.select(
        F.col("pid").alias("qid"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
    )
    # +0.5 keeps the float prefilter radius² strictly above the integer
    # max band, so no boundary pair is lost to sqrt/square rounding; the
    # per-band cuts below are exact integer comparisons on d²
    rmax = math.sqrt(max(r_sq_bands) + 0.5)
    pairs = distance_join(q, p, radius_deg=rmax).filter(F.col("qid") != F.col("pid"))
    counts = pairs.agg(
        *[
            F.sum(
                F.when(F.col("dist") <= F.lit(r2), 1).otherwise(0)
            ).alias(f"c{i}")
            for i, r2 in enumerate(r_sq_bands)
        ]
    )
    nn = p.agg(F.count(F.lit(1)).alias("n"))
    j = counts.crossJoin(nn)
    sel = []
    for i, r2 in enumerate(r_sq_bands):
        sel.append(
            j.select(
                F.lit(i).cast("long").alias("band"),
                F.lit(r2).cast("long").alias("r_sq"),
                F.col(f"c{i}").cast("long").alias("n_pairs"),
                F.expr(
                    f"({1000 * area} * c{i}) DIV (n * (n - 1))"
                ).alias("k_scaled"),
            )
        )
    out = sel[0]
    for s in sel[1:]:
        out = out.unionByName(s)
    return out


def ripley_k_counts_sql(
    pts_sql: str, r_sq_bands: list[int], area: int
) -> str:
    """DuckDB twin of ripley_k_counts (brute-force pair join — also
    proves the bucketed candidate set lossless at the largest band)."""
    rmax = max(r_sq_bands)
    band_rows = ", ".join(
        f"({i}, {r2})" for i, r2 in enumerate(r_sq_bands)
    )
    return f"""
WITH p AS (SELECT pid, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
           FROM ({pts_sql})),
pairs AS (
  SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
  FROM p a JOIN p b ON a.pid <> b.pid
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {rmax}
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p),
bands(band, r_sq) AS (VALUES {band_rows})
SELECT CAST(b.band AS BIGINT) AS band, CAST(b.r_sq AS BIGINT) AS r_sq,
       CAST(count(*) FILTER (WHERE pairs.d2 <= b.r_sq) AS BIGINT)
         AS n_pairs,
       (CAST({1000 * area} AS BIGINT) *
        CAST(count(*) FILTER (WHERE pairs.d2 <= b.r_sq) AS BIGINT))
       // (nn.n * (nn.n - 1)) AS k_scaled
FROM bands b CROSS JOIN nn LEFT JOIN pairs ON TRUE
GROUP BY b.band, b.r_sq, nn.n
"""


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    alpha_num: int = 10,
) -> DataFrame:
    """Split-conformal calibration (Vovk/Angelopoulos): from a
    calibration set of nonconformity scores, the prediction-set
    threshold is the k-th SMALLEST score with k = ceil((n+1)·(1−α)) —
    guaranteeing ≥ 1−α coverage on exchangeable data. α is passed as
    the exact rational alpha_num/100 so k = ceil((n+1)·(100−num)
    / den) stays integer: k = ((n+1)·(den−num) + den − 1) div den.

    Output one row: (n, k, q_hat, n_at_or_below) — q_hat the threshold
    score (int64), n_at_or_below its exact calibration coverage count
    (ties mean it can exceed k). If k > n (α too small for the sample)
    q_hat is NULL — the honest "no finite-sample guarantee" signal.

    Scale: NO global sort of raw scores — scores aggregate to (value,
    count) first, the threshold is selected on the value-distinct table
    by a running-count window (bounded by score NDV; pre-quantize
    continuous scores). The selection is count-based, not positional."""
    s = df.select(F.col(score_col).cast("long").alias("v"))
    per = s.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    nn = per.agg(
        F.sum("c").alias("n")
    )
    w = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # running count over the NDV-sized distinct-value table (documented
    # bounded-input global window, the q119/q175 contract)
    ranked = per.withColumn("cum", F.sum("c").over(w)).crossJoin(
        F.broadcast(nn)
    ).withColumn(
        "k",
        F.expr(f"((n + 1) * (100 - {alpha_num}) + 100 - 1) DIV 100"),
    )
    hit = (
        ranked.filter(F.col("cum") >= F.col("k"))
        .orderBy(F.col("v").asc())
        .limit(1)
        .select("n", "k", F.col("v").alias("q_hat"),
                F.col("cum").alias("n_at_or_below"))
    )
    empty_guard = ranked.groupBy("n", "k").agg(
        F.max("cum").alias("total")
    ).filter(F.col("k") > F.col("total")).select(
        "n", "k",
        F.lit(None).cast("long").alias("q_hat"),
        F.lit(None).cast("long").alias("n_at_or_below"),
    )
    return hit.unionByName(empty_guard)


def conformal_threshold_sql(rows_sql: str, score_expr: str) -> str:
    """DuckDB twin of conformal_threshold."""
    return f"""
WITH s AS (SELECT CAST({score_expr} AS BIGINT) AS v FROM ({rows_sql})),
per AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY v),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per),
ranked AS (
  SELECT per.v, per.c,
         CAST(sum(per.c) OVER (ORDER BY per.v ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         nn.n,
         ((nn.n + 1) * (100 - 10) + 100 - 1)
           // 100 AS k
  FROM per CROSS JOIN nn
),
hit AS (
  SELECT n, k, v AS q_hat, cum AS n_at_or_below
  FROM ranked WHERE cum >= k ORDER BY v ASC LIMIT 1
),
guard AS (
  SELECT n, k, CAST(NULL AS BIGINT) AS q_hat,
         CAST(NULL AS BIGINT) AS n_at_or_below
  FROM ranked GROUP BY n, k HAVING k > max(cum)
)
SELECT * FROM hit UNION ALL SELECT * FROM guard
"""


def diff_in_differences(
    df: DataFrame,
    treated_col: str,
    post_col: str,
    value_int_col: str,
) -> DataFrame:
    """2×2 difference-in-differences — the standard quasi-experimental
    effect estimate (did = (treated:post − treated:pre) − (control:post
    − control:pre)) over pre-quantized integer outcomes. One row out:
    per-cell exact (sum, n), per-cell mean_ppm = (1e6·sum) div n (the
    defined quantization), and did_ppm combined from the quantized
    means — a pure integer function of the input.

    Scale: ONE conditional aggregate (8 partial counters, map-side
    combined); no shuffle beyond the single-row agg."""
    t = F.col(treated_col).cast("int")
    p = F.col(post_col).cast("int")
    v = F.col(value_int_col).cast("long")
    cells = {}
    for ti in (0, 1):
        for pi in (0, 1):
            tag = f"{'t' if ti else 'c'}{'p' if pi else 'r'}"
            cond = (t == ti) & (p == pi)
            cells[f"s_{tag}"] = F.sum(
                F.when(cond, v).otherwise(0)
            ).alias(f"s_{tag}")
            cells[f"n_{tag}"] = F.sum(
                F.when(cond, 1).otherwise(0)
            ).alias(f"n_{tag}")
    agg = df.agg(*cells.values())
    m = lambda tag: F.expr(
        f"CASE WHEN n_{tag} = 0 THEN NULL"
        f" ELSE (1000000 * s_{tag}) DIV n_{tag} END"
    )
    return agg.select(
        *[F.col(c).cast("long").alias(c) for c in cells],
        m("tr").alias("mean_tr_ppm"),
        m("tp").alias("mean_tp_ppm"),
        m("cr").alias("mean_cr_ppm"),
        m("cp").alias("mean_cp_ppm"),
        (
            (m("tp") - m("tr")) - (m("cp") - m("cr"))
        ).alias("did_ppm"),
    )


def diff_in_differences_sql(
    rows_sql: str, treated_expr: str, post_expr: str, value_expr: str
) -> str:
    """DuckDB twin of diff_in_differences."""
    cells = []
    for ti in (0, 1):
        for pi in (0, 1):
            tag = f"{'t' if ti else 'c'}{'p' if pi else 'r'}"
            cond = f"({treated_expr}) = {ti} AND ({post_expr}) = {pi}"
            cells.append(
                f"CAST(sum(CASE WHEN {cond} THEN ({value_expr})"
                f" ELSE 0 END) AS BIGINT) AS s_{tag}"
            )
            cells.append(
                f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS n_{tag}"
            )
    sel = ",\n  ".join(cells)
    m = lambda tag: (
        f"(CASE WHEN n_{tag} = 0 THEN NULL"
        f" ELSE (1000000 * s_{tag}) // n_{tag} END)"
    )
    return f"""
WITH agg AS (SELECT {sel} FROM ({rows_sql}))
SELECT *,
  {m('tr')} AS mean_tr_ppm, {m('tp')} AS mean_tp_ppm,
  {m('cr')} AS mean_cr_ppm, {m('cp')} AS mean_cp_ppm,
  ({m('tp')} - {m('tr')}) - ({m('cp')} - {m('cr')}) AS did_ppm
FROM agg
"""


def bootstrap_mean_ci(
    df: DataFrame,
    value_int_col: str,
    key_col: str,
    n_resamples: int = 50,
) -> DataFrame:
    """Deterministic bootstrap confidence interval for the mean: B
    Poisson(1)-approximated resamples, each DEFINED by an md5 hash of
    (row key, resample index) — every row joins resample b with weight
    0/1/2 (P≈1/e, 1/e, the rest — the two-term integer approximation of
    the Poisson bootstrap, the streaming-friendly bootstrap used at
    scale where per-resample sampling-without-replacement is
    impossible). Rerun- and repartition-stable: the resample membership
    is a pure function of the data.

    Output one row: (n, mean_ppm, ci_lo_ppm, ci_hi_ppm, b) — the CI
    bounds are the lo/hi percentile resample means by EXACT rank over
    the B resample means (B is a constant, so the rank window is
    bounded input).

    Scale: ONE aggregate pass computes all B weighted sums (3B partial
    counters, map-side combined) — no per-resample shuffle, no data
    duplication."""
    v = F.col(value_int_col).cast("long")
    h = lambda b: F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(f":boot:{b}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    # two-term Poisson(1): P(w=0)=368/1000, P(w=1)=368/1000, else w=2
    w = lambda b: (
        F.when(h(b) < 368_000, F.lit(0))
        .when(h(b) < 736_000, F.lit(1))
        .otherwise(F.lit(2))
        .cast("long")
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s"),
    ]
    for b in range(n_resamples):
        aggs.append(F.sum(w(b) * v).alias(f"bs_{b}"))
        aggs.append(F.sum(w(b)).alias(f"bn_{b}"))
    one = df.agg(*aggs)
    means = [
        F.expr(
            f"CASE WHEN bn_{b} = 0 THEN NULL"
            f" ELSE (1000000 * bs_{b}) DIV bn_{b} END"
        )
        for b in range(n_resamples)
    ]
    arr = F.array_sort(F.array(*means))
    lo_i = max(1, (5 * n_resamples + 99) // 100)
    hi_i = max(1, (95 * n_resamples + 99) // 100)
    return one.select(
        "n",
        F.expr("(1000000 * s) DIV n").alias("mean_ppm"),
        F.element_at(arr, lo_i).alias("ci_lo_ppm"),
        F.element_at(arr, hi_i).alias("ci_hi_ppm"),
        F.lit(n_resamples).cast("long").alias("b"),
    )


def bootstrap_mean_ci_sql(rows_sql: str, value_expr: str, key_expr: str) -> str:
    """DuckDB twin of bootstrap_mean_ci."""
    n_resamples = 50
    def h(b):
        return (
            f"(CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)"
            f" || ':boot:{b}'), 1, 8)) AS BIGINT) % 1000000)"
        )

    def w(b):
        return (
            f"(CASE WHEN {h(b)} < 368000 THEN 0"
            f" WHEN {h(b)} < 736000 THEN 1 ELSE 2 END)"
        )

    cols = ["CAST(count(*) AS BIGINT) AS n",
            f"CAST(sum({value_expr}) AS BIGINT) AS s"]
    for b in range(n_resamples):
        cols.append(
            f"CAST(sum({w(b)} * ({value_expr})) AS BIGINT) AS bs_{b}"
        )
        cols.append(f"CAST(sum({w(b)}) AS BIGINT) AS bn_{b}")
    sel = ",\n  ".join(cols)
    means = ", ".join(
        f"CASE WHEN bn_{b} = 0 THEN NULL"
        f" ELSE (1000000 * bs_{b}) // bn_{b} END"
        for b in range(n_resamples)
    )
    lo_i = max(1, (5 * n_resamples + 99) // 100)
    hi_i = max(1, (95 * n_resamples + 99) // 100)
    return f"""
WITH agg AS (SELECT {sel} FROM ({rows_sql})),
arr AS (SELECT *, list_sort([{means}]) AS ms FROM agg)
SELECT n, (1000000 * s) // n AS mean_ppm,
       ms[{lo_i}] AS ci_lo_ppm, ms[{hi_i}] AS ci_hi_ppm,
       CAST({n_resamples} AS BIGINT) AS b
FROM arr
"""


def mann_kendall(
    df: DataFrame,
    key_col: str,
    t_col: str,
    value_int_col: str,
) -> DataFrame:
    """Mann-Kendall monotone-trend test per key — the standard
    nonparametric trend detector in hydrology/climatology (fits the
    NDVI/discharge time-series surface): S = Σ_{i<j} sign(x_j − x_i)
    over all time-ordered pairs, with n and the tie-correction inputs
    published so the consumer can form the variance. All integers:
    (key, n, s_stat, n_pos, n_neg, n_tie_pairs).

    Plan: a per-key pairwise self-join on the (bounded) per-key series
    — the hausdorff_join/q167 contract: per-key history is the unit of
    work, the join keys on `key` so nothing global ever materializes.
    For long series pre-aggregate to a coarser grain first."""
    b = df.select(
        F.col(key_col).alias("k"),
        F.col(t_col).cast("long").alias("t"),
        F.col(value_int_col).cast("long").alias("v"),
    )
    a = b.select("k", F.col("t").alias("ti"), F.col("v").alias("vi"))
    c = b.select("k", F.col("t").alias("tj"), F.col("v").alias("vj"))
    pairs = a.join(c, "k").filter(F.col("ti") < F.col("tj"))
    sgn = F.when(F.col("vj") > F.col("vi"), 1).when(
        F.col("vj") < F.col("vi"), -1
    ).otherwise(0)
    return (
        pairs.select("k", sgn.alias("sg"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("sg").alias("s_stat"),
            F.sum(F.when(F.col("sg") == 1, 1).otherwise(0)).alias(
                "n_pos"
            ),
            F.sum(F.when(F.col("sg") == -1, 1).otherwise(0)).alias(
                "n_neg"
            ),
            F.sum(F.when(F.col("sg") == 0, 1).otherwise(0)).alias(
                "n_tie_pairs"
            ),
        )
    )


def mann_kendall_sql(rows_sql: str) -> str:
    """DuckDB twin of mann_kendall (`rows_sql` yields k, t, v)."""
    return f"""
WITH b AS (SELECT k, CAST(t AS BIGINT) AS t, CAST(v AS BIGINT) AS v
           FROM ({rows_sql})),
pairs AS (
  SELECT a.k,
         CASE WHEN c.v > a.v THEN 1 WHEN c.v < a.v THEN -1 ELSE 0 END
           AS sg
  FROM b a JOIN b c ON a.k = c.k AND a.t < c.t
)
SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(sg) AS BIGINT) AS s_stat,
       CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
       CAST(sum(CASE WHEN sg = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tie_pairs
FROM pairs GROUP BY k
"""


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Inter-annotator agreement (Cohen's κ) as an EXACT rational — the
    label-quality gate for human-annotated training data: κ =
    (p_o − p_e)/(1 − p_e) with observed agreement p_o = agree/n and
    chance agreement p_e = Σ_c m_c·k_c / n² (m, k the raters' marginal
    counts). Clearing denominators: κ = (n·agree − S) / (n² − S) with
    S = Σ m_c·k_c — two exact int64s (kappa_num, kappa_den) plus
    kappa_ppm = (1e6·num) div den (den > 0 unless a rater is constant;
    NULL-guarded).

    Scale: one (a, b) confusion aggregate; marginals re-aggregate the
    confusion table (|labels|² rows). Nothing else touches the data."""
    conf = df.groupBy(
        F.col(rater_a_col).alias("a"), F.col(rater_b_col).alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    ma = conf.groupBy("a").agg(F.sum("c").alias("m"))
    mb = conf.groupBy("b").agg(F.sum("c").alias("k"))
    s = (
        ma.join(mb, ma["a"] == mb["b"])
        .agg(F.sum(F.col("m") * F.col("k")).alias("s"))
    )
    tot = conf.agg(
        F.sum("c").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c")).otherwise(0))
        .alias("agree"),
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .select(
            "n",
            "agree",
            F.coalesce("s", F.lit(0)).alias("s"),
        )
        .select(
            "n",
            "agree",
            (F.col("n") * F.col("agree") - F.col("s")).alias(
                "kappa_num"
            ),
            (F.col("n") * F.col("n") - F.col("s")).alias("kappa_den"),
            F.expr(
                "CASE WHEN n * n - s = 0 THEN NULL ELSE"
                " (1000000 * (n * agree - s)) DIV (n * n - s) END"
            ).alias("kappa_ppm"),
        )
    )


def cohens_kappa_sql(
    rows_sql: str, a_expr: str, b_expr: str
) -> str:
    """DuckDB twin of cohens_kappa."""
    return f"""
WITH conf AS (
  SELECT {a_expr} AS a, {b_expr} AS b, CAST(count(*) AS BIGINT) AS c
  FROM ({rows_sql}) GROUP BY 1, 2
),
ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS m FROM conf GROUP BY a),
mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS k FROM conf GROUP BY b),
sv AS (
  SELECT CAST(coalesce(sum(ma.m * mb.k), 0) AS BIGINT) AS s
  FROM ma JOIN mb ON ma.a = mb.b
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
           AS agree
  FROM conf
)
SELECT t.n, t.agree,
       t.n * t.agree - sv.s AS kappa_num,
       t.n * t.n - sv.s AS kappa_den,
       CASE WHEN t.n * t.n - sv.s = 0 THEN NULL
            ELSE (1000000 * (t.n * t.agree - sv.s))
                 // (t.n * t.n - sv.s) END AS kappa_ppm
FROM tot t CROSS JOIN sv
"""


def cuped_adjustment(exposures: DataFrame) -> DataFrame:
    """CUPED variance reduction (Deng et al. WSDM'13) — the industry
    experiment-analysis adjustment: regress the post-period metric on
    the pre-period covariate, theta = cov(pre, post) / var(pre), and
    compare arms on post − theta·(pre − mean(pre)).

    Engine-exact: all statistics are N-scaled integer moments (the
    q97 OLS trick — no division until the final ppm quantization):

        Sxx = n·Σpre² − (Σpre)²          Sxy = n·Σpre·post − Σpre·Σpost
        theta_ppm = Sxy·1e6 // Sxx       (truncating, both engines)
        adj_scaled(arm) = n·1e6·Σ_arm(post)
                          − theta_ppm·(n·Σ_arm(pre) − n_arm·Σpre)

    adj_scaled is n·1e6 times the arm's adjusted metric TOTAL — the
    downstream consumer divides once, outside the hash. Inputs are
    one row per user (pre-aggregate upstream); callers keep units
    coarse enough that n·Σpre² fits int64 (documented bound:
    n·max(pre)²·n ≤ 2^63 — dollars not cents at 100 M users).

    Output one row per arm: (arm, n_users, sum_pre, sum_post,
    theta_ppm, adj_scaled). Scale: one user-keyed aggregate feeding
    two scalar broadcasts — the same plan as a grouped mean.
    """
    g = exposures.groupBy("arm", "u").agg(
        F.sum("pre").cast("long").alias("pre"),
        F.sum("post").cast("long").alias("post"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("so"),
        F.sum(F.expr("pre * pre")).alias("spp"),
        F.sum(F.expr("pre * post")).alias("spo"),
    ).select(
        "n",
        "sp",
        "so",
        F.expr("n * spp - sp * sp").alias("sxx"),
        F.expr("n * spo - sp * so").alias("sxy"),
    ).select(
        "n",
        "sp",
        F.expr(
            "CASE WHEN sxx > 0 THEN sxy * 1000000 div sxx ELSE 0 END"
        ).alias("theta_ppm"),
    )
    arm = g.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("pre").alias("sum_pre"),
        F.sum("post").alias("sum_post"),
    )
    return arm.crossJoin(F.broadcast(tot)).select(
        F.col("arm"),
        "n_users",
        "sum_pre",
        "sum_post",
        "theta_ppm",
        F.expr(
            "n * 1000000 * sum_post"
            " - theta_ppm * (n * sum_pre - n_users * sp)"
        ).alias("adj_scaled"),
    )


def cuped_adjustment_sql(exposures_sql: str) -> str:
    """DuckDB twin of cuped_adjustment (`exposures_sql` yields
    arm, u, pre, post — pre/post integer units)."""
    return f"""
WITH g AS (
  SELECT arm, u, CAST(sum(pre) AS BIGINT) AS pre,
         CAST(sum(post) AS BIGINT) AS post
  FROM ({exposures_sql}) GROUP BY 1, 2
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(pre) AS BIGINT) AS sp,
         CAST(sum(post) AS BIGINT) AS so,
         CAST(sum(pre * pre) AS BIGINT) AS spp,
         CAST(sum(pre * post) AS BIGINT) AS spo
  FROM g
),
th AS (
  SELECT n, sp,
         CASE WHEN n * spp - sp * sp > 0 THEN
           (n * spo - sp * so) * 1000000 // (n * spp - sp * sp)
         ELSE 0 END AS theta_ppm
  FROM tot
),
arm AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(pre) AS BIGINT) AS sum_pre,
         CAST(sum(post) AS BIGINT) AS sum_post
  FROM g GROUP BY 1
)
SELECT arm.arm, arm.n_users, arm.sum_pre, arm.sum_post, th.theta_ppm,
       th.n * 1000000 * arm.sum_post
         - th.theta_ppm * (th.n * arm.sum_pre - arm.n_users * th.sp)
         AS adj_scaled
FROM arm CROSS JOIN th
"""
