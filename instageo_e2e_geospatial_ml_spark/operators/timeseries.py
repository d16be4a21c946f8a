"""Regular-grid time-series repair: gap filling with last-observation-
carried-forward (LOCF) — the resample().ffill() of pandas, expressed as
engine-portable relational ops.

Three stages, all distributing on the series key:

1. **Slot aggregation**: collapse raw events to one row per (key, slot)
   (slot = integer epoch bucket). Any deterministic slot aggregate
   works; max keeps everything integer-exact.
2. **Grid densification**: explode sequence(min_slot, max_slot) per key
   — the missing slots appear as NULL-valued rows after a left join.
   The grid join is an equi-join on (key, slot); the explode volume is
   the series' span, the thing a caller already bounds by choosing the
   slot width.
3. **Forward fill**: the portable grouped-fill trick — a running
   count of non-NULL observations assigns every row the id of the most
   recent observation (count(val) OVER ... ROWS UNBOUNDED PRECEDING),
   then one max per (key, fill-group) broadcasts that observation's
   value over its gap run. Two window passes over the SAME
   (key x slot-order) sort — Spark executes them in one exchange+sort —
   and no IGNORE NULLS dependence (DuckDB and Spark both support it,
   but the count-trick is exact ANSI and keeps the oracle twin
   verbatim).

Leading gaps (before a key's first observation) stay NULL — LOCF has
nothing to carry — and are flagged, as is every filled row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gap_fill_locf(
    obs: DataFrame,
    key_col: str = "key",
    val_col: str = "val",
) -> DataFrame:
    """obs: at most one row per (key, slot), integer slots. Returns the
    dense grid (key, slot, val, filled, is_gap): one row for EVERY slot
    in [min_slot, max_slot] per key, `filled` = LOCF value (NULL only
    on leading gaps), `is_gap` = the row was absent from obs."""
    spans = obs.groupBy(key_col).agg(
        F.min("slot").alias("_lo"), F.max("slot").alias("_hi")
    )
    grid = spans.select(
        key_col,
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("slot"),
    )
    dense = grid.join(obs, [key_col, "slot"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dense = dense.withColumn("_fg", F.count(val_col).over(w))
    wg = Window.partitionBy(key_col, "_fg")
    return dense.select(
        key_col,
        "slot",
        val_col,
        F.max(val_col).over(wg).alias("filled"),
        F.col(val_col).isNull().alias("is_gap"),
    )


def gap_fill_locf_sql(obs_sql: str, key_col: str = "key", val_col: str = "val") -> str:
    """The identical densify + grouped-fill as DuckDB SQL."""
    k, s, v = key_col, "slot", val_col
    return f"""
WITH o AS ({obs_sql}),
spans AS (SELECT {k}, min({s}) AS lo, max({s}) AS hi FROM o GROUP BY 1),
grid AS (
  SELECT {k}, unnest(generate_series(lo, hi)) AS {s} FROM spans
),
dense AS (
  SELECT g.{k}, g.{s}, o.{v}
  FROM grid g LEFT JOIN o ON o.{k} = g.{k} AND o.{s} = g.{s}
),
fg AS (
  SELECT *, count({v}) OVER
    (PARTITION BY {k} ORDER BY {s}
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _fg
  FROM dense
)
SELECT {k}, {s}, {v},
       max({v}) OVER (PARTITION BY {k}, _fg) AS filled,
       {v} IS NULL AS is_gap
FROM fg
"""


def time_weighted_avg(
    obs: DataFrame,
    tiebreak_col: str,
    key_col: str = "key",
    ts_col: str = "ts_us",
    val_col: str = "val",
) -> DataFrame:
    """Time-weighted average (TWAP/telemetry duty-cycle): each
    observation's value holds until the next one, so the mean weights
    each value by its dwell time — sum(v*dt) / sum(dt) with dt from one
    lead() window, both sums exact bigints (num/den emitted alongside
    the one rounded float division). The final observation has no dwell
    interval and contributes nothing (standard last-interval-open
    convention); single-observation keys return NULL. tiebreak_col
    orders rows whose timestamps repeat within a key: tied rows have
    zero dwell so they contribute nothing themselves, but WHICH tied
    row pairs with the following interval must not depend on shuffle
    order."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    d = obs.withColumn("_nxt", F.lead(ts_col).over(w)).filter(
        F.col("_nxt").isNotNull()
    )
    out = d.groupBy(key_col).agg(
        F.sum(F.expr(f"{val_col} * (_nxt - {ts_col})")).alias("twap_num"),
        F.sum(F.expr(f"_nxt - {ts_col}")).alias("twap_den"),
        F.count(F.lit(1)).alias("n_intervals"),
    )
    return out.withColumn(
        "twap_q6",
        F.when(
            F.col("twap_den") > 0,
            F.round(
                F.col("twap_num").cast("double") / F.col("twap_den"), 6
            ),
        ),
    )


def time_weighted_avg_sql(
    obs_sql: str,
    tiebreak_col: str,
    key_col: str = "key",
    val_col: str = "val",
) -> str:
    """The identical dwell-time weighting as DuckDB SQL."""
    k, t, v = key_col, "ts_us", val_col
    return f"""
WITH d AS (
  SELECT *, lead({t}) OVER (PARTITION BY {k} ORDER BY {t} ASC, {tiebreak_col} ASC) AS nxt
  FROM ({obs_sql})
),
agg AS (
  SELECT {k},
    CAST(sum({v} * (nxt - {t})) AS BIGINT) AS twap_num,
    CAST(sum(nxt - {t}) AS BIGINT) AS twap_den,
    CAST(count(*) AS BIGINT) AS n_intervals
  FROM d WHERE nxt IS NOT NULL GROUP BY 1
)
SELECT {k}, twap_num, twap_den, n_intervals,
  CASE WHEN twap_den > 0 THEN
    round(CAST(twap_num AS DOUBLE) / twap_den, 6) END AS twap_q6
FROM agg
"""


def decayed_counts(
    obs: DataFrame,
    key_col: str = "key",
    val_col: str = "val",
    half_life_slots: int = 1,
) -> DataFrame:
    """Exponentially-decayed counters with EXACT integer arithmetic —
    the trending/ranking primitive (decay-weighted activity scores)
    done without a single float: with half-life h slots, an event of
    weight v observed `age` slots before the key's latest slot
    contributes to its SLOT's sum, and each slot's total decays as
    slot_sum >> (age div h) (power-of-2 decay) — slot-aggregated decay,
    the semantics an incremental job can maintain EXACTLY with bounded
    per-slot state (per-event shifts would not survive aggregation:
    (a+b) >> k != (a >> k) + (b >> k), so the event-level variant is
    not mergeable). Events older than
    62 half-lives contribute exactly 0 (the shift would
    underflow anyway) — which also documents the pruning rule a
    100 TB incremental job uses: state never needs events older than
    ~62 half-lives.

    Decayed-to-when? The per-key MAX slot (each key's own "now"), so
    the result is a pure function of the data — reproducible, oracle-
    pinnable — rather than of wall clock; shift the reference slot
    downstream by halving per elapsed half-life if a global "now" is
    needed.

    One (key, slot) pre-aggregation, one window pass for the per-key
    max slot, one final aggregate. Output:
    (key, last_slot, n_events, decayed)."""
    from pyspark.sql import Window

    wn = Window.partitionBy(key_col)
    h = int(half_life_slots)
    slots = obs.groupBy(key_col, "slot").agg(
        F.sum(val_col).alias("_sv"), F.count(F.lit(1)).alias("_ne")
    )
    d = slots.withColumn("_last", F.max("slot").over(wn)).withColumn(
        "_age_h", F.expr(f"(_last - slot) div {h}")
    )
    return (
        d.groupBy(key_col)
        .agg(
            F.max("_last").alias("last_slot"),
            F.sum("_ne").alias("n_events"),
            F.sum(
                F.when(
                    F.col("_age_h") <= 62,
                    F.expr("shiftright(_sv, CAST(_age_h AS INT))"),
                ).otherwise(F.lit(0))
            ).alias("decayed"),
        )
    )


def decayed_counts_sql(obs_sql: str, key_col: str = "key", val_col: str = "val") -> str:
    """The identical slot-aggregated integer-shift decay as DuckDB SQL."""
    k, s, v, h = key_col, "slot", val_col, 1
    return f"""
WITH sl AS (
  SELECT {k}, {s}, CAST(sum({v}) AS BIGINT) AS sv,
         CAST(count(*) AS BIGINT) AS ne
  FROM ({obs_sql}) GROUP BY 1, 2
),
d AS (
  SELECT *, max({s}) OVER (PARTITION BY {k}) AS last_slot,
         (max({s}) OVER (PARTITION BY {k}) - {s}) // {h} AS age_h
  FROM sl
)
SELECT {k}, CAST(max(last_slot) AS BIGINT) AS last_slot,
       CAST(sum(ne) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN age_h <= 62
                     THEN sv >> age_h ELSE 0 END) AS BIGINT) AS decayed
FROM d GROUP BY 1
"""


def rolling_time_stats(
    df: DataFrame,
    key_col: str,
    ts_us_col: str,
    value_col: str,
    window_s: int,
) -> DataFrame:
    """Trailing time-window aggregates per key — for every event, the
    count and sum of the key's events in the last `window_s` seconds
    INCLUDING the current instant (rate limiting, rolling spend,
    velocity features): a RANGE frame over the event-time axis, not a
    ROWS frame — irregular event spacing means "last N rows" and
    "last N seconds" differ, and fraud/ops features mean the latter.
    Ties in ts share the frame (RANGE includes all peers), so the
    result is deterministic even when event timestamps collide.

    One window per key (a key's events are the unit of parallelism; no
    global window) computing both aggregates over the same frame — a
    single sort. Integer ts and values -> engine-exact.
    """
    from pyspark.sql import Window

    t = F.col(ts_us_col).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(t)
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    return df.select(
        F.col(key_col),
        t.alias("ts_us"),
        F.col(value_col).cast("long").alias("v"),
    ).select(
        key_col,
        "ts_us",
        "v",
        F.count(F.lit(1)).over(w).alias("n_in_window"),
        F.sum("v").over(w).alias("sum_in_window"),
    )


def rolling_time_stats_sql(
    events_sql: str, key_col: str, window_s: int
) -> str:
    """DuckDB twin of rolling_time_stats over (key_col, ts_us, v);
    the key keeps its name so the column sets match."""
    us = window_s * 1_000_000
    k = key_col
    return f"""
WITH e AS (
  SELECT {k}, CAST(ts_us AS BIGINT) AS ts_us, CAST(v AS BIGINT) AS v
  FROM ({events_sql})
)
SELECT {k}, ts_us, v,
       CAST(count(*) OVER w AS BIGINT) AS n_in_window,
       CAST(sum(v) OVER w AS BIGINT) AS sum_in_window
FROM e
WINDOW w AS (PARTITION BY {k} ORDER BY ts_us
             RANGE BETWEEN {us} PRECEDING AND CURRENT ROW)
"""


def cusum_changepoint(
    df: DataFrame,
    key_col: str,
    t_col: str,
    value_col: str,
) -> DataFrame:
    """Offline change-point detection per key by the CUSUM statistic,
    kept EXACTLY in integers: for the key's series x_1..x_n in t
    order, the centered cusum at i is S_i − (i/n)·S_n; scaling by n
    gives the integer D_i = n·S_i − i·S_n, and the change point is
    the position maximizing |D_i| (the classic single-shift estimator
    — argmax of the centered cusum; ties resolve to the EARLIEST
    position). Emits (key, n, total, cp_t, cp_index, max_abs_dev)
    where max_abs_dev = max|D_i| — divide by n·n for the classical
    normalized statistic downstream; a flat series gives 0.

    Plan: one per-key window pass builds prefix sums (a key's series
    is the unit of parallelism), a tiny per-key aggregate takes
    max|D|, and an equi-join back picks the earliest argmax row —
    the portable argmax (no struct-ordering dependence, the q113
    family rule). Three stages, all keyed on `key`, one Exchange
    reused.
    """
    from pyspark.sql import Window

    k, t = F.col(key_col), F.col(t_col).cast("long")
    x = F.col(value_col).cast("long")
    w = Window.partitionBy(key_col).orderBy(t_col)
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base = df.select(k.alias("key"), t.alias("t"), x.alias("x"))
    pre = base.select(
        "key",
        "t",
        F.row_number().over(
            Window.partitionBy("key").orderBy("t")
        ).alias("i"),
        F.sum("x").over(
            Window.partitionBy("key").orderBy("t").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("s_i"),
        F.sum("x").over(
            Window.partitionBy("key").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
        F.count(F.lit(1)).over(
            Window.partitionBy("key").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    ).withColumn(
        "abs_dev",
        F.abs(F.col("n") * F.col("s_i") - F.col("i") * F.col("total")),
    )
    peak = pre.groupBy("key").agg(
        F.max("abs_dev").alias("max_abs_dev"),
        F.first("n").alias("n"),
        F.first("total").alias("total"),
    )
    cp = (
        pre.join(peak.select("key", "max_abs_dev"), "key")
        .filter(F.col("abs_dev") == F.col("max_abs_dev"))
        .groupBy("key")
        .agg(F.min("i").alias("cp_index"))
    )
    cpt = (
        pre.select("key", "i", "t")
        .join(cp, "key")
        .filter(F.col("i") == F.col("cp_index"))
        .select("key", F.col("t").alias("cp_t"), "cp_index")
    )
    return peak.join(cpt, "key").select(
        "key", "n", "total", "cp_t", "cp_index", "max_abs_dev"
    )


def cusum_changepoint_sql(series_sql: str) -> str:
    """DuckDB twin of cusum_changepoint over (key, t, x)."""
    return f"""
WITH base AS (
  SELECT key, CAST(t AS BIGINT) AS t, CAST(x AS BIGINT) AS x
  FROM ({series_sql})
),
pre AS MATERIALIZED (
  SELECT key, t,
         row_number() OVER (PARTITION BY key ORDER BY t) AS i,
         CAST(sum(x) OVER (PARTITION BY key ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_i,
         CAST(sum(x) OVER (PARTITION BY key) AS BIGINT) AS total,
         CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n
  FROM base
),
dev AS MATERIALIZED (
  SELECT *, abs(n * s_i - i * total) AS abs_dev FROM pre
),
peak AS MATERIALIZED (
  SELECT key, max(abs_dev) AS max_abs_dev, min(n) AS n, min(total) AS total
  FROM dev GROUP BY key
),
cp AS (
  SELECT d.key, min(d.i) AS cp_index
  FROM dev d JOIN peak p ON d.key = p.key AND d.abs_dev = p.max_abs_dev
  GROUP BY d.key
)
SELECT p.key, p.n, p.total, d.t AS cp_t,
       CAST(c.cp_index AS BIGINT) AS cp_index, p.max_abs_dev
FROM peak p
JOIN cp c ON c.key = p.key
JOIN dev d ON d.key = p.key AND d.i = c.cp_index
"""


def cadence_profile(
    events: DataFrame,
    key_col: str,
    ts_us_col: str,
    min_events: int = 3,
) -> DataFrame:
    """Inter-arrival cadence profile per key — the bot/scraper signal
    web curation runs before trusting engagement counts: humans arrive
    with bursty, high-variance gaps; schedulers and scrapers tick with
    near-constant ones. Per key with at least `min_events` events:
    n_gaps, gap sum/min/max, and the EXACT integer variance numerator
    var_num = n·Σd² − (Σd)² with var_den = n² (population variance of
    the gap series as a rational) — flag keys downstream with
    var_num · T_den < T_num · var_den · μ² style cross-multiplied
    thresholds, never a float CV.

    One lag window per key (single sort) then a map-side aggregate.
    Duplicate timestamps yield zero gaps — legitimate (batched client
    flushes) and visible in gap_min = 0 rather than silently dropped.
    Gaps are quantized to 1 s BEFORE squaring:
    a month-long gap in raw microseconds squares past bigint, and
    second-level cadence is the signal anyway.
    """
    from pyspark.sql import Window

    t = F.col(ts_us_col).cast("long")
    w = Window.partitionBy("key").orderBy("t")
    d = (
        events.select(F.col(key_col).alias("key"), t.alias("t"))
        .withColumn(
            "gap",
            F.expr("(t - lag(t) over (partition by key order by t))"),
        )
        .withColumn("gap", F.expr("gap div 1000000"))
        .filter(F.col("gap").isNotNull())
    )
    agg = d.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap").alias("gap_sum"),
        F.sum(F.col("gap") * F.col("gap")).alias("gap_sumsq"),
        F.min("gap").alias("gap_min"),
        F.max("gap").alias("gap_max"),
    )
    return agg.filter(F.col("n_gaps") >= min_events - 1).select(
        "key", "n_gaps", "gap_sum", "gap_min", "gap_max",
        (
            F.col("n_gaps") * F.col("gap_sumsq")
            - F.col("gap_sum") * F.col("gap_sum")
        ).alias("var_num"),
        (F.col("n_gaps") * F.col("n_gaps")).alias("var_den"),
    )


def cadence_profile_sql(events_sql: str, key_expr: str, min_events: int = 3) -> str:
    """DuckDB twin of cadence_profile over (key, ts_us)."""
    return f"""
WITH e AS (
  SELECT {key_expr} AS key, CAST(ts_us AS BIGINT) AS t FROM ({events_sql})
),
g AS (
  SELECT key, (t - lag(t) OVER (PARTITION BY key ORDER BY t))
           // 1000000 AS gap FROM e
),
agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap) AS BIGINT) AS gap_sum,
         CAST(sum(gap * gap) AS BIGINT) AS gap_sumsq,
         min(gap) AS gap_min, max(gap) AS gap_max
  FROM g WHERE gap IS NOT NULL GROUP BY key
)
SELECT key, n_gaps, gap_sum, gap_min, gap_max,
       n_gaps * gap_sumsq - gap_sum * gap_sum AS var_num,
       n_gaps * n_gaps AS var_den
FROM agg WHERE n_gaps >= {min_events - 1}
"""


def sliding_window_distinct(
    events: DataFrame,
    key_col: str,
    ts_us_col: str,
    id_col: str,
    window_slots: int,
    slot_us: int,
) -> DataFrame:
    """EXACT distinct-entity counts over sliding windows (hourly-slide,
    W-slot span — the 'distinct users last 3 h, every hour' gauge):
    each event belongs to exactly `window_slots` sliding windows, so
    it explodes to those window ids (volume x W, bounded and chosen by
    the caller) and one count(DISTINCT id) per (key, window) finishes
    it. The exact twin of what HLL sliding sketches approximate — at
    W <= ~24 the explode is cheaper than maintaining W overlapping
    sketches, and it is exactly mergeable with plain partial
    aggregation because the explode made windows independent.

    Window w covers slots [w − W + 1, w]; windows are emitted only
    when their LAST slot has arrived data (leading partial windows of
    the stream's warm-up are real; trailing empty ones do not exist).
    Output: (key, window_slot, window_start_us, n_events,
    n_distinct).
    """
    t = F.col(ts_us_col).cast("long")
    slot = F.expr(f"cast({ts_us_col} as bigint) div {slot_us}")
    d = events.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        slot.alias("_slot"),
    ).select(
        "key",
        "id",
        F.explode(
            F.sequence(F.col("_slot"), F.col("_slot") + (window_slots - 1))
        ).alias("window_slot"),
        F.col("_slot").alias("_orig"),
    )
    return (
        d.groupBy("key", "window_slot")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct(F.col("id")).alias("n_distinct"),
            F.max(
                (F.col("_orig") == F.col("window_slot")).cast("int")
            ).alias("_has_last"),
        )
        .filter(F.col("_has_last") == 1)
        .select(
            "key",
            "window_slot",
            (F.col("window_slot") * slot_us).alias("window_end_slot_start_us"),
            "n_events",
            "n_distinct",
        )
    )


def sliding_window_distinct_sql(
    events_sql: str,
    key_expr: str,
    id_expr: str,
    window_slots: int,
    slot_us: int,
) -> str:
    """DuckDB twin of sliding_window_distinct over (key, ts_us, id)."""
    return f"""
WITH e AS (
  SELECT {key_expr} AS key, {id_expr} AS id,
         CAST(ts_us AS BIGINT) // {slot_us} AS slot
  FROM ({events_sql})
),
x AS (
  SELECT key, id, slot,
         unnest(generate_series(slot, slot + {window_slots - 1})) AS window_slot
  FROM e
),
agg AS (
  SELECT key, window_slot,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT id) AS BIGINT) AS n_distinct,
         max(CASE WHEN slot = window_slot THEN 1 ELSE 0 END) AS has_last
  FROM x GROUP BY key, window_slot
)
SELECT key, window_slot,
       window_slot * CAST({slot_us} AS BIGINT) AS window_end_slot_start_us,
       n_events, n_distinct
FROM agg WHERE has_last = 1
"""


def lag_autocovariance(
    series: DataFrame,
    key_col: str,
    slot_col: str,
    value_col: str,
    lags: tuple = (1, 7),
) -> DataFrame:
    """Seasonality detection via EXACT lag autocovariance: for each
    key's regular series x_1..x_N (one value per slot; missing slots
    are genuinely absent pairs, not zeros) and each lag k, the
    N-squared-scaled centered numerator

        acov_k = Sum_t (N*x_t - S) * (N*x_{t+k} - S)      (S = Sum x)

    - every factor integer, so a strong weekly cycle shows as
    acov_7 >> acov_1 with zero float drift; normalize downstream by
    N^2 * n_pairs or compare lags by cross-multiplication. The
    classic periodicity probe without FFTs or float means.

    Plan: per-key totals (one agg), an equi-self-join on
    (key, slot + k) per lag over the SAME shuffle key, map-side sum.
    Each lag is one cheap join of the slot-aggregated series (already
    tiny relative to raw events). Emits
    (key, lag, n_pairs, acov_num, n, s).
    """
    base = series.select(
        F.col(key_col).alias("key"),
        F.col(slot_col).cast("long").alias("slot"),
        F.col(value_col).cast("long").alias("x"),
    )
    tot = base.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    b = base.join(tot, "key")
    outs = []
    for k in lags:
        lead = b.select(
            "key",
            (F.col("slot") - k).alias("slot"),
            F.col("x").alias("x_lead"),
        )
        pairs = b.join(lead, ["key", "slot"])
        outs.append(
            pairs.groupBy("key").agg(
                F.lit(int(k)).cast("long").alias("lag"),
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(
                    (F.col("n") * F.col("x") - F.col("s"))
                    * (F.col("n") * F.col("x_lead") - F.col("s"))
                ).alias("acov_num"),
                F.first("n").alias("n"),
                F.first("s").alias("s"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("key", "lag", "n_pairs", "acov_num", "n", "s")


def lag_autocovariance_sql(series_sql: str) -> str:
    """DuckDB twin of lag_autocovariance over (key, slot, x)."""
    parts = []
    for k in (1, 7):
        parts.append(f"""
SELECT b.key, CAST({int(k)} AS BIGINT) AS lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum((t.n * b.x - t.s) * (t.n * l.x - t.s)) AS BIGINT) AS acov_num,
       min(t.n) AS n, min(t.s) AS s
FROM b JOIN b l ON l.key = b.key AND l.slot = b.slot + {int(k)}
JOIN t ON t.key = b.key
GROUP BY b.key""")
    body = "\nUNION ALL\n".join(parts)
    return f"""
WITH base AS MATERIALIZED (
  SELECT key, CAST(slot AS BIGINT) AS slot, CAST(x AS BIGINT) AS x
  FROM ({series_sql})
),
t AS MATERIALIZED (
  SELECT key, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
  FROM base GROUP BY key
),
b AS MATERIALIZED (SELECT * FROM base)
{body}
"""


def arrival_disorder(
    events: DataFrame,
    key_col: str,
    arrival_col: str,
    event_ts_col: str,
    late_thresholds_us: tuple = (1_000_000, 60_000_000),
) -> DataFrame:
    """Out-of-order arrival profiling - the measurement that picks a
    streaming watermark delay: process each key's events in ARRIVAL
    order, track the running max event time (the stream's frontier),
    and measure how far behind the frontier each event lands
    (disorder = frontier - event_ts, 0 for in-order events). Emits
    per key: n_events, n_late (disorder > 0), the max disorder (the
    delay that would have lost nothing), and a count at each
    configured threshold (events a watermark of that delay would
    drop). All integers.

    One window per key over arrival order (running max via the
    1-PRECEDING frame so an event is compared to the frontier BEFORE
    itself - an event is never late against itself), then a map-side
    aggregate.
    """
    from pyspark.sql import Window

    t = F.col(event_ts_col).cast("long")
    d = events.select(
        F.col(key_col).alias("key"),
        F.col(arrival_col).cast("long").alias("arr"),
        t.alias("t"),
    )
    # ties on arr ordered by t: deterministic frame for colliding
    # arrival stamps (a tied earlier-t row never makes its peer late)
    w = (
        Window.partitionBy("key")
        .orderBy("arr", "t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "disorder",
        F.greatest(
            F.lit(0).cast("long"),
            F.coalesce(F.max("t").over(w) - F.col("t"), F.lit(0)),
        ),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum((F.col("disorder") > 0).cast("long")).alias("n_late"),
        F.max("disorder").alias("max_disorder_us"),
    ]
    for th in late_thresholds_us:
        aggs.append(
            F.sum((F.col("disorder") > th).cast("long")).alias(
                f"n_late_over_{th}"
            )
        )
    return d.groupBy("key").agg(*aggs)


def arrival_disorder_sql(events_sql: str) -> str:
    """DuckDB twin of arrival_disorder over (key, arr, t)."""
    ths = ", ".join(
        f"CAST(sum(CASE WHEN disorder > {th} THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_late_over_{th}"
        for th in (1_000_000, 60_000_000)
    )
    return f"""
WITH e AS (
  SELECT key, CAST(arr AS BIGINT) AS arr, CAST(t AS BIGINT) AS t
  FROM ({events_sql})
),
d AS (
  SELECT key,
         greatest(CAST(0 AS BIGINT), COALESCE(max(t) OVER (
           PARTITION BY key ORDER BY arr, t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - t, 0))
           AS disorder
  FROM e
)
SELECT key, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN disorder > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       max(disorder) AS max_disorder_us, {ths}
FROM d GROUP BY key
"""


def rolling_origin_folds(df: DataFrame, ts_col: str) -> DataFrame:
    """Rolling-origin (expanding-window) cross-validation folds — the
    only leakage-safe CV for time series (random K-fold trains on the
    future): the observed time span is cut into 4+1 equal
    intervals; fold k trains on everything before cut_k and tests on
    [cut_k, cut_{k+1}). Returns one row per fold: (fold, train_end_us,
    test_end_us, n_train, n_test) — the assignment plan a training
    pipeline joins back by timestamp range.

    Exact: cuts are integer microsecond arithmetic on the (min, max)
    span — cut_k = tmin + (span·k) div 5 — and counts are
    conditional sums against those integer cuts; the last interval's
    end is max+1 so the newest row always tests in the final fold.

    Scale: one (min, max) scalar aggregate + one conditional-sum
    aggregate over the data per fold set (folds unrolled into one
    aggregate projection — a single pass); nothing is shuffled by
    fold."""
    n_folds = 4
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    span = df.agg(
        F.min(us).alias("tmin"), F.max(us).alias("tmax")
    )
    rows = df.select(us.alias("tus")).crossJoin(F.broadcast(span))
    aggs = []
    for k in range(1, n_folds + 1):
        cut = f"(tmin + ((tmax - tmin) * {k}) DIV {n_folds + 1})"
        nxt = (
            f"(tmin + ((tmax - tmin) * {k + 1}) DIV {n_folds + 1})"
            if k < n_folds
            else "(tmax + 1)"
        )
        aggs += [
            F.expr(
                f"sum(CASE WHEN tus < {cut} THEN 1 ELSE 0 END)"
            ).alias(f"n_train_{k}"),
            F.expr(
                f"sum(CASE WHEN tus >= {cut} AND tus < {nxt}"
                f" THEN 1 ELSE 0 END)"
            ).alias(f"n_test_{k}"),
            F.expr(f"min({cut})").alias(f"train_end_{k}"),
            F.expr(f"min({nxt})").alias(f"test_end_{k}"),
        ]
    one = rows.agg(*aggs)
    sel = []
    for k in range(1, n_folds + 1):
        sel.append(
            one.select(
                F.lit(k).cast("long").alias("fold"),
                F.col(f"train_end_{k}").alias("train_end_us"),
                F.col(f"test_end_{k}").alias("test_end_us"),
                F.col(f"n_train_{k}").cast("long").alias("n_train"),
                F.col(f"n_test_{k}").cast("long").alias("n_test"),
            )
        )
    out = sel[0]
    for s in sel[1:]:
        out = out.unionByName(s)
    return out


def rolling_origin_folds_sql(rows_sql: str) -> str:
    """DuckDB twin of rolling_origin_folds (`rows_sql` must yield ts)."""
    n_folds = 4
    blocks = []
    for k in range(1, n_folds + 1):
        cut = f"(tmin + ((tmax - tmin) * {k}) // {n_folds + 1})"
        nxt = (
            f"(tmin + ((tmax - tmin) * {k + 1}) // {n_folds + 1})"
            if k < n_folds
            else "(tmax + 1)"
        )
        blocks.append(
            f"""SELECT {k} AS fold, {cut} AS train_end_us,
  {nxt} AS test_end_us,
  CAST(sum(CASE WHEN tus < {cut} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_train,
  CAST(sum(CASE WHEN tus >= {cut} AND tus < {nxt} THEN 1 ELSE 0 END)
    AS BIGINT) AS n_test
FROM rows_w GROUP BY tmin, tmax"""
        )
    union = "\nUNION ALL\n".join(blocks)
    return f"""
WITH r AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tus
           FROM ({rows_sql})),
span AS (SELECT min(tus) AS tmin, max(tus) AS tmax FROM r),
rows_w AS (SELECT r.tus, s.tmin, s.tmax FROM r CROSS JOIN span s)
SELECT CAST(fold AS BIGINT) AS fold, train_end_us, test_end_us,
       n_train, n_test
FROM ({union})
"""


def motif_signatures(events: DataFrame) -> DataFrame:
    """Repeated-shape (motif) mining, matrix-profile-lite: every length-5
    window of a key's value series is reduced to its DELTA-SIGN
    signature — 'u'p/'d'own/'f'lat per consecutive step — and equal
    signatures are counted. Recurring signatures expose periodic or
    templated behavior (retry storms, daily ramps, flatlined sensors)
    without any float distance: sign(Δ) of IEEE doubles is
    engine-exact, and the signature is a pure string key.

    Output per (key, sig): n occurrences, first_start_us of the
    earliest occurrence, rnk by (n DESC, sig ASC) within key.

    Plan: 4 LEAD columns over ONE per-key (ts, id) window order (a
    single sort), signature = concat of sign cases, then one aggregate
    — per-key history is the parallelism unit, the sessionization
    contract."""
    m = 5
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    base = events.select(
        F.col("event_type").alias("k"),
        tus.alias("tus"),
        F.col("event_id").alias("eid"),
        F.col("value").alias("v"),
    )
    w = Window.partitionBy("k").orderBy("tus", "eid")
    cols = [F.col("v")] + [
        F.lead("v", i).over(w).alias(f"v{i}") for i in range(1, m)
    ]
    led = base.select("k", "tus", *cols)
    sigs = []
    prev = F.col("v")
    for i in range(1, m):
        cur = F.col(f"v{i}")
        sigs.append(
            F.when(cur > prev, F.lit("u"))
            .when(cur < prev, F.lit("d"))
            .otherwise(F.lit("f"))
        )
        prev = cur
    sig = F.concat(*sigs)
    full = led.filter(F.col(f"v{m-1}").isNotNull()).select(
        "k", "tus", sig.alias("sig")
    )
    agg = full.groupBy("k", "sig").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("tus").alias("first_start_us"),
    )
    wr = Window.partitionBy("k").orderBy(
        F.col("n").desc(), F.col("sig").asc()
    )
    return agg.withColumn(
        "rnk", F.row_number().over(wr).cast("long")
    )


def motif_signatures_sql(events_sql: str) -> str:
    """DuckDB twin of motif_signatures."""
    m = 5
    leads = ",\n         ".join(
        f"lead(v, {i}) OVER w AS v{i}" for i in range(1, m)
    )
    cases = []
    prev = "v"
    for i in range(1, m):
        cases.append(
            f"CASE WHEN v{i} > {prev} THEN 'u'"
            f" WHEN v{i} < {prev} THEN 'd' ELSE 'f' END"
        )
        prev = f"v{i}"
    sig = " || ".join(cases)
    return f"""
WITH base AS (
  SELECT event_type AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
         event_id AS eid, value AS v
  FROM ({events_sql})
),
led AS (
  SELECT k, tus, v, {leads}
  FROM base
  WINDOW w AS (PARTITION BY k ORDER BY tus, eid)
),
sigs AS (
  SELECT k, tus, {sig} AS sig FROM led WHERE v{m-1} IS NOT NULL
),
agg AS (
  SELECT k, sig, CAST(count(*) AS BIGINT) AS n,
         min(tus) AS first_start_us
  FROM sigs GROUP BY 1, 2
)
SELECT k, sig, n, first_start_us,
       CAST(row_number() OVER (PARTITION BY k
         ORDER BY n DESC, sig ASC) AS BIGINT) AS rnk
FROM agg
"""


def seasonal_profile(events: DataFrame) -> DataFrame:
    """Seasonal-means decomposition (STL-lite, the dashboard staple):
    per (key, season-slot) the exact mean of a quantized outcome, plus
    the key's overall mean, published as exact integer ppm — seasonal
    effect = slot mean − overall mean. The slot is the hour of day of
    the UTC timestamp, computed identically in both engines.

    Output per (key, slot): (n, slot_mean_ppm, overall_mean_ppm,
    seasonal_ppm). One aggregate + a broadcast join of the per-key
    totals re-aggregated from the slot table — never a second pass."""
    tus = F.col("ts").cast("timestamp")
    slot = F.hour(tus).cast("long")
    v = F.floor(F.col("value") * 10000 + 0.5).cast("long")
    base = events.select(
        F.col("event_type").alias("k"), slot.alias("slot"), v.alias("v")
    )
    per_slot = base.groupBy("k", "slot").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    per_key = per_slot.groupBy("k").agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts")
    )
    return (
        per_slot.join(F.broadcast(per_key), "k")
        .select(
            "k", "slot", "n",
            F.expr("(1000000 * s) DIV n").alias("slot_mean_ppm"),
            F.expr("(1000000 * ts) DIV tn").alias("overall_mean_ppm"),
            (
                F.expr("(1000000 * s) DIV n")
                - F.expr("(1000000 * ts) DIV tn")
            ).alias("seasonal_ppm"),
        )
    )


def seasonal_profile_sql(events_sql: str) -> str:
    """DuckDB twin of seasonal_profile."""
    return f"""
WITH base AS (
  SELECT event_type AS k, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS slot,
         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v
  FROM ({events_sql})
),
per_slot AS (
  SELECT k, slot, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v) AS BIGINT) AS s
  FROM base GROUP BY 1, 2
),
per_key AS (
  SELECT k, CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts
  FROM per_slot GROUP BY 1
)
SELECT p.k, p.slot, p.n,
       (1000000 * p.s) // p.n AS slot_mean_ppm,
       (1000000 * g.ts) // g.tn AS overall_mean_ppm,
       (1000000 * p.s) // p.n - (1000000 * g.ts) // g.tn
         AS seasonal_ppm
FROM per_slot p JOIN per_key g ON p.k = g.k
"""


def ewma_anomaly(series: DataFrame, band: int = 3) -> DataFrame:
    """EWMA smoothing + residual anomaly flags, exact integer recurrence.

    The alerting primitive of every metrics pipeline (Holt's level
    equation / the EWMA control chart): smooth a per-key series with
    alpha = 1/2^4 and flag points whose deviation from the
    running level exceeds `band` value units. Floats make the fold
    engine-irreproducible, so state is held in SCALE=1024 fixed-point
    and the update is a floor division by a power of two:

        s_0 = v_0 * SCALE
        d_t = v_t * SCALE - s_{t-1}
        s_t = s_{t-1} + trunc(d_t / 2^4)
        anomaly_t = |d_t| >= band * SCALE        (t >= 1)

    trunc (round-toward-zero) is the one integer division BOTH engines
    agree on for signed operands (DuckDB `//` and Spark `div` truncate;
    Python `//` floors — the fold computes sign(d)*(|d|//2^k)
    explicitly). The recurrence is order-dependent state, not
    a window shape, so batch = per-key applyInPandas numpy fold (keys
    are the parallelism unit; a key's history must fit one task — the
    sessionize contract) and the oracle is a DuckDB RECURSIVE CTE
    stepping identical arithmetic (ewma_anomaly_sql).

    Returns (k, n, n_anomalies, level_final, max_abs_dev) with the
    level reported back in value units (floor(s_n / SCALE)).
    """
    import pandas as pd

    scale = 1024
    den = float(1 << 4)
    thresh = band * scale

    def fold(key, pdf):
        pdf = pdf.sort_values(["tus", "v"], kind="mergesort")
        vs = pdf["v"].astype("int64").to_numpy()
        s = int(vs[0]) * scale
        n_anom = 0
        max_dev = 0
        for v in vs[1:]:
            d = int(v) * scale - s
            ad = -d if d < 0 else d
            if ad > max_dev:
                max_dev = ad
            if ad >= thresh:
                n_anom += 1
            q = ad // (1 << 4)
            s += q if d >= 0 else -q
        return pd.DataFrame(
            {
                "k": [key[0]],
                "n": [len(vs)],
                "n_anomalies": [n_anom],
                "level_final": [s // scale],
                "max_abs_dev": [max_dev],
            }
        )

    _ = den
    return series.groupBy("k").applyInPandas(
        fold,
        "k string, n long, n_anomalies long, level_final long, "
        "max_abs_dev long",
    )


def ewma_anomaly_sql(series_sql: str, band: int = 3) -> str:
    """DuckDB twin of ewma_anomaly: the identical fixed-point recurrence
    as a RECURSIVE CTE over per-key row numbers (`series_sql` yields
    k, tus, v). DuckDB's // on BIGINT floors like Python's, and the
    2^4 divisor keeps every step exact."""
    scale = 1024
    div = 1 << 4
    thresh = band * scale
    return f"""
WITH RECURSIVE sv AS (
  SELECT k, CAST(v AS BIGINT) AS v,
         row_number() OVER (PARTITION BY k ORDER BY tus, v) AS rn,
         count(*) OVER (PARTITION BY k) AS n
  FROM ({series_sql})
),
walk(k, rn, n, s, n_anom, max_dev) AS (
  SELECT k, rn, n, v * {scale}, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  FROM sv WHERE rn = 1
  UNION ALL
  SELECT sv.k, sv.rn, sv.n,
         w.s + (sv.v * {scale} - w.s) // {div},
         w.n_anom + CASE WHEN abs(sv.v * {scale} - w.s) >= {thresh}
                         THEN 1 ELSE 0 END,
         greatest(w.max_dev, abs(sv.v * {scale} - w.s))
  FROM walk w JOIN sv ON sv.k = w.k AND sv.rn = w.rn + 1
)
SELECT k, CAST(n AS BIGINT) AS n,
       CAST(n_anom AS BIGINT) AS n_anomalies,
       CAST(s // {scale} AS BIGINT) AS level_final,
       CAST(max_dev AS BIGINT) AS max_abs_dev
FROM walk WHERE rn = n
"""
