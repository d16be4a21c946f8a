"""J2/J3: as-of temporal join with tolerance and deterministic tie-break.

Reference semantics (instageo/data/stac_utils.py:157-202 `find_closest_items`
+ 392-449 `find_best_items`): for each (observation, timestep query date),
among candidate granules whose |granule.ts − query_date| ≤ tolerance
(days·1440 + minutes, in minutes), pick the one with minimum cloud_cover,
ties broken by earliest ts (candidates arrive datetime-ascending). No
candidate within tolerance → null.

Spark: explode steps → equi-join candidates → range predicate →
`row_number() over (partition by obs,step order by cloud_cover, ts,
granule_id) = 1`, then LEFT join back so no-match rows keep nulls
(the reference's `[None]*len(dates)` shape).

J3 variant (s2_utils.py:508-587): order by (size desc, |Δt| asc) instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# asof_pick_keyed's fine time buckets per tolerance width
FINE_BUCKETS_PER_TOL = 16


def asof_pick(
    steps: DataFrame,
    candidates: DataFrame,
    granules: DataFrame,
    tolerance_days: int = 5,
    obs_id: str = "obs_id",
    order: str = "cloud_cover",
    keep_unmatched: bool = True,
    align_partitioning: bool = False,
    join_key: str = "granule_id",
    broadcast_granules: bool = False,
) -> DataFrame:
    """steps(obs_id, step, query_date) × candidates(obs_id, granule_id)
    × granules(granule_id, ts, cloud_cover, ...) → one row per (obs_id,
    step) with the picked granule_id (null when nothing within tolerance).

    order='cloud_cover' → J2 (min cloud, tie earliest ts);
    order='closest'     → J3-style (min |Δt|, tie asc ts).

    keep_unmatched=False skips the null-preserving join-back (the
    reference's [None]*len(dates) shape) — correct whenever the caller
    immediately applies the validity filter, saving one shuffle.
    align_partitioning=True repartitions candidates by obs_id before the
    rank window; HashPartitioning(obs_id) satisfies the (obs_id, step)
    clustering, so the window AND the downstream per-obs groupBy reuse
    that single exchange.

    join_key: the column joining candidates to granules. The default
    'granule_id' is the per-granule contract (J2 parity). Passing a
    coarser key (e.g. the footprint id from spatial_join.footprint_key,
    with candidates at footprint granularity) fuses the granule fan-out
    with the tolerance filter inside one broadcast-join stage — the
    obs × all-revisits intermediate never crosses an exchange. Set
    broadcast_granules=True when the granule side is the dim table.
    """
    tol_min = tolerance_days * 24 * 60
    g = F.broadcast(granules) if broadcast_granules else granules
    cand = steps.join(candidates, obs_id, "inner").join(g, join_key, "inner")
    # microsecond-exact tolerance (events may carry sub-second timestamps)
    dt_us = F.abs(
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(F.col("query_date").cast("timestamp"))
    )
    cand = cand.filter(dt_us <= F.lit(int(tol_min) * 60 * 1_000_000))
    dt_min = dt_us / F.lit(60e6)
    if align_partitioning:
        cand = cand.repartition(obs_id)
    if order == "cloud_cover":
        # reference treats missing cloud cover as WORST, not best:
        # item.properties.get('eo:cloud_cover', 100) — so nulls sort last
        ordering = [
            F.coalesce(F.col("cloud_cover"), F.lit(100.0)).asc(),
            F.col("ts").asc(),
            F.col("granule_id").asc(),
        ]
    elif order == "closest":
        ordering = [dt_min.asc(), F.col("ts").asc(), F.col("granule_id").asc()]
    else:
        raise ValueError(order)
    w = Window.partitionBy(obs_id, "step").orderBy(*ordering)
    picked = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(obs_id, "step", F.col("granule_id").alias("picked_granule"),
                "ts", "cloud_cover")
    )
    if not keep_unmatched:
        return picked
    return steps.join(picked, [obs_id, "step"], "left")


def asof_pick_keyed(
    steps: DataFrame,
    granules: DataFrame,
    tolerance_days: int = 5,
) -> DataFrame:
    """As-of pick where the candidate set is 'every granule sharing key `k`'
    — the J2 semantics of asof_pick(steps, obs ⋈ granules ON k, granules)
    WITHOUT materializing the quadratic (obs × granules-per-key) pair
    table (guide §2.3/§3: shuffle fewer bytes, never build an exploding
    join input the tolerance filter immediately discards).

    steps(obs_id, k, step, query_date) × granules(k, granule_id, ts,
    cloud_cover) → one row per (obs_id, step) with the picked granule
    (null when nothing within tolerance: a null-preserving join back to
    the steps, the reference's [None]*len(dates) shape).

    The pick order (cloud cover, then ts, then granule_id) does not depend
    on the query date, which allows a two-level decomposition:

      1. granules are ranked once per key by (coalesce(cloud, 100), ts,
         granule_id) — rank is then ONE LONG that totally orders the
         candidates, so every later pick is a min(long) in a codegen
         HashAggregate. (Measured: min(struct)/min_by plan SortAggregate
         — 57 s over the 51M-pair q05 feed at sf1.0 vs ~2 s for the
         min(long) form.)
      2. each granule lands in one FINE time bucket of width tol /
         FINE_BUCKETS_PER_TOL; per-(key, bucket) minimum ranks form a
         small summary table.
      3. a step's window [qd − tol, qd + tol] decomposes into fully-
         covered fine buckets (joined against the bucket-min summary — no
         per-granule rows at all) plus ≤ 2 partial edge buckets (joined
         against ranked granules with the exact µs bounds filter). The
         union is ~(FINE_BUCKETS_PER_TOL·2 + 2·granules-per-bucket) rows
         per step instead of every in-window granule — 8× fewer rows on
         the q05 sf1.0 shape — and collapses with min(rank).
      4. the winning rank joins back to its granule payload (two
         bounded joins on the picked rows only).

    Exactness: bucket math is integer µs; a fully-covered bucket's every
    granule satisfies the window bounds, edge buckets are refined with
    lo ≤ ts_us ≤ hi exactly, and each granule reaches a step's candidate
    set exactly once (full and edge bucket ranges are disjoint).

    Scale notes: the rank window partitions by `k` (candidate-key
    granularity, the operator's contract); a pathologically hot key can
    be range-split with functions/text.ranged_prefix (range buckets +
    broadcast offsets). The
    summary join is an equi-join on (key, bucket) — AQE broadcasts the
    summary side when it is genuinely small."""
    tol_us = tolerance_days * 24 * 60 * 60 * 1_000_000
    g_us = F.unix_micros(F.col("ts").cast("timestamp"))
    q_us = F.unix_micros(F.col("query_date").cast("timestamp"))
    w_us = max(1, tol_us // FINE_BUCKETS_PER_TOL)
    # missing cloud cover sorts WORST (reference get('eo:cloud_cover', 100))
    sort_key = F.coalesce(F.col("cloud_cover"), F.lit(100.0))
    ranked = granules.withColumn("_g_us", g_us).withColumn(
        "_fb", F.floor(F.col("_g_us") / F.lit(w_us))
    ).withColumn(
        "_r",
        F.row_number().over(
            Window.partitionBy("k").orderBy(
                sort_key.asc(), F.col("ts").asc(), F.col("granule_id").asc()
            )
        ),
    )
    summary = ranked.groupBy("k", "_fb").agg(F.min("_r").alias("_br"))

    s = steps.withColumn("_lo", q_us - F.lit(tol_us)).withColumn(
        "_hi", q_us + F.lit(tol_us)
    ).withColumn("_fb_lo", F.floor(F.col("_lo") / F.lit(w_us))).withColumn(
        "_fb_hi", F.floor(F.col("_hi") / F.lit(w_us))
    )
    full = s.withColumn(
        "_fb",
        F.explode(
            F.when(
                F.col("_fb_hi") - F.col("_fb_lo") >= 2,
                F.sequence(F.col("_fb_lo") + 1, F.col("_fb_hi") - 1),
            ).otherwise(F.array().cast("array<bigint>"))
        ),
    ).join(summary, ["k", "_fb"], "inner").select(
        "obs_id", "step", "k", F.col("_br").alias("_cr")
    )
    edge = s.withColumn(
        "_fb", F.explode(F.array_distinct(F.array("_fb_lo", "_fb_hi")))
    ).join(
        ranked.select("k", "_fb", "_g_us", "_r"), ["k", "_fb"], "inner"
    ).filter(
        (F.col("_g_us") >= F.col("_lo")) & (F.col("_g_us") <= F.col("_hi"))
    ).select("obs_id", "step", "k", F.col("_r").alias("_cr"))

    best = (
        full.unionByName(edge)
        .groupBy("obs_id", "step", "k")
        .agg(F.min("_cr").alias("_r"))
    )
    picked = best.join(
        ranked.select("k", "_r", "granule_id", "ts", "cloud_cover"),
        ["k", "_r"],
        "inner",
    ).select(
        "obs_id", "step", F.col("granule_id").alias("picked_granule"),
        "ts", "cloud_cover",
    )
    return steps.drop("k").join(picked, ["obs_id", "step"], "left")


def granule_sequence(picked: DataFrame) -> DataFrame:
    """Collapse per-step picks back to one row per observation with the
    step-ordered granule array + the `stac_items_str` grouping key
    (reference stac_utils.py:296-317: '_'.join of granule ids)."""
    agg = picked.groupBy("obs_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("step"), F.col("picked_granule")))
        ).alias("_s")
    )
    out = agg.withColumn(
        "granules", F.transform("_s", lambda s: s["picked_granule"])
    ).drop("_s")
    return out.withColumn("stac_items_str", F.concat_ws("_", "granules"))
