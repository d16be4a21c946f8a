"""Temporal interval (range) join: events ⋈ intervals on ts ∈ [start, end).

Spark has no native band/range join; the naive theta join is a
BroadcastNestedLoopJoin (O(N·M) compares). This is the standard
time-bucketed rewrite: quantize the time axis into fixed buckets, explode
each interval to the buckets it covers, equi-join events (one bucket per
event) on bucket id, then refine with the exact predicate. Each event
lives in exactly one bucket, so a matching pair joins exactly once — no
dedup needed.

Scale notes: the equi-join broadcasts the bucketed interval side; cost
scales with interval_length / bucket_length, so pick
bucket_minutes near the typical interval length. A pathological interval
covering the whole axis would explode to every bucket —
max_buckets_per_interval is a ROUTING threshold, not a data filter:
over-cap intervals skip the explode and instead join through a broadcast
theta join (they are pathological-few by definition, so broadcasting them
is cheap), and the two branches union. No matching pair is ever dropped,
and each still joins exactly once (an interval is routed to exactly one
branch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    bucket_minutes: int = 60,
    max_buckets_per_interval: int = 1000,
    max_broadcast_intervals: int = 100_000,
) -> DataFrame:
    """events × intervals where start ≤ ts < end (half-open), exactly once
    per matching pair. Returns events' columns + intervals' columns.

    The bucketed interval side is broadcast to the event scan. Intervals
    spanning ≥ max_buckets_per_interval buckets join through a broadcast
    theta-join branch unioned with the bucketed branch. Correct for any
    width; costs one extra map-side pass over events (no shuffle — the
    over-cap side is broadcast, and an empty over-cap side produces
    nothing). The branch assumes over-cap intervals are pathological-FEW;
    a mis-set bucket_minutes (tiny buckets vs long-lived intervals) would
    silently route the whole interval table into the broadcast, so the
    over-cap side is counted first (one capped count job on the intervals
    table — the one eager step in this builder) and more than
    max_broadcast_intervals of them raises a descriptive error telling
    the caller to coarsen bucket_minutes / raise the cap instead of
    OOMing the driver at collect-broadcast time.
    """
    b_us = int(bucket_minutes) * 60 * 1_000_000
    ev_us = F.unix_micros(F.col("ts").cast("timestamp"))
    st_us = F.unix_micros(F.col("start").cast("timestamp"))
    en_us = F.unix_micros(F.col("end").cast("timestamp"))
    refine = (
        F.col("start").cast("timestamp") <= F.col("ts").cast("timestamp")
    ) & (F.col("ts").cast("timestamp") < F.col("end").cast("timestamp"))

    iv = intervals.withColumn("_b0", F.floor(st_us / F.lit(b_us))).withColumn(
        "_b1", F.floor(en_us / F.lit(b_us))
    )
    wide = (F.col("_b1") - F.col("_b0")) >= F.lit(max_buckets_per_interval)

    iv_b = F.broadcast(
        iv.filter(~wide)
        .withColumn("_bucket", F.explode(F.sequence("_b0", "_b1")))
        .drop("_b0", "_b1")
    )
    # spread a few-row-group local scan before the bucket join: the join +
    # refine fan-out is per-event compute the single scan task would
    # otherwise serialize (no-op when the scan is already spread)
    from ..functions.text import spread_input

    ev = spread_input(events).withColumn("_bucket", F.floor(ev_us / F.lit(b_us)))
    out = ev.join(iv_b, "_bucket").filter(refine).drop("_bucket")

    iv_w = iv.filter(wide).drop("_b0", "_b1")
    n_wide = iv_w.limit(max_broadcast_intervals + 1).count()
    if n_wide > max_broadcast_intervals:
        raise ValueError(
            f"more than {max_broadcast_intervals} intervals span >= "
            f"{max_buckets_per_interval} buckets of {bucket_minutes} min — "
            "the over-cap broadcast branch would hold (a sample of) the "
            "whole interval table. Coarsen bucket_minutes toward the "
            "typical interval length (or raise max_broadcast_intervals / "
            "max_buckets_per_interval) so over-cap intervals are "
            "pathological-few."
        )
    theta = events.join(F.broadcast(iv_w), refine, "inner")
    return out.unionByName(theta)


def peak_concurrency(intervals: DataFrame, key_cols: list[str]) -> DataFrame:
    """Maximum number of simultaneously-open intervals per key (peak
    concurrent sessions / connections / jobs — the capacity-planning
    aggregate), by the classic sweep line: each interval contributes
    (+1 at start, -1 at end), a running sum ordered by (time, delta)
    walks the timeline, and the answer is the max of that sum. Ends
    sort before starts at the same instant (delta asc), so back-to-back
    intervals [a,t) [t,b) never double-count — the half-open [start,
    end) convention. Emits (key..., peak_concurrency, n_intervals).

    Determinism: within one (time, delta) tie group every row carries
    the same sign, so the running max is invariant to tie order — the
    per-key result is exact even though row order inside ties is not.

    Scale: endpoints are generated by a 2-element posexplode (no self
    join); the one shuffle keys on (key...), the same key the window
    and the final agg share — Catalyst reuses a single Exchange. Peak
    load per task is the endpoint count of one key; keys here are
    (type, day)-grained, so no task sees the whole corpus. The final
    max is a map-side-combinable agg.
    """
    s, e = F.col("start_us").cast("long"), F.col("end_us").cast("long")
    pts = intervals.select(
        *key_cols,
        F.explode(
            F.array(
                F.struct(s.alias("t"), F.lit(1).alias("delta")),
                F.struct(e.alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("pt"),
    ).select(*key_cols, F.col("pt.t").alias("t"), F.col("pt.delta").alias("delta"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("t"), F.col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.withColumn("open_now", F.sum("delta").over(w))
    return run.groupBy(*key_cols).agg(
        F.max("open_now").cast("long").alias("peak_concurrency"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


def peak_concurrency_sql(intervals_sql: str, key_exprs: str) -> str:
    """The identical sweep as DuckDB SQL (oracle twin). `key_exprs` is
    the comma-separated key column list."""
    return f"""
WITH iv AS ({intervals_sql}),
pts AS (
  SELECT {key_exprs}, start_us AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT {key_exprs}, end_us AS t, -1 AS delta FROM iv
),
run AS (
  SELECT {key_exprs},
         sum(delta) OVER (PARTITION BY {key_exprs} ORDER BY t, delta
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now
  FROM pts
)
SELECT {key_exprs},
       CAST(max(open_now) AS BIGINT) AS peak_concurrency,
       CAST(count(*) / 2 AS BIGINT) AS n_intervals
FROM run GROUP BY {key_exprs}
"""


def coalesce_read_ranges(requests: DataFrame, max_gap: int) -> DataFrame:
    """Byte-range fetch planning for cloud-object reads (the COG /
    Parquet reader optimization GDAL ships as CPL_VSIL_CURL merging and
    Spark's Parquet reader as io.file.buffer coalescing): merge each
    file's requested (offset, length) ranges into fetch ranges,
    joining two requests when the gap between them is <= max_gap —
    paying up to max_gap wasted bytes beats paying another S3 GET's
    latency. At 100 TB the chip extractor (operators/chips.py) issues
    millions of tile-sized reads; this turns them into sequential
    sweeps per object.

    Classic sweep: per file in offset order, a request starts a new
    fetch range iff its offset exceeds the running max of previous
    request ends by more than max_gap (running max, not lag — an
    earlier long request can span several later short ones). Emits
    (file_id, range_id, fetch_start, fetch_end, n_requests,
    bytes_requested, bytes_fetched); bytes_requested double-counts
    overlapping requests (it is demand, not footprint).

    One window partitioned by file (a file's request list is the unit
    of work; no global window) + one groupBy on the same key — a
    single Exchange.
    """
    from pyspark.sql import Window

    fid = F.col("file_id")
    off = F.col("offset").cast("long")
    ln = F.col("length").cast("long")
    d = requests.select(
        fid.alias("file_id"), off.alias("off"), ln.alias("len"),
        (off + ln).alias("end"),
    )
    w = Window.partitionBy("file_id").orderBy("off", "end")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        prev_max_end.isNull() | (F.col("off") > prev_max_end + max_gap)
    ).cast("long")
    seg = d.withColumn(
        "range_id",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return seg.groupBy("file_id", "range_id").agg(
        F.min("off").alias("fetch_start"),
        F.max("end").alias("fetch_end"),
        F.count(F.lit(1)).alias("n_requests"),
        F.sum("len").alias("bytes_requested"),
        (F.max("end") - F.min("off")).alias("bytes_fetched"),
    )


def coalesce_read_ranges_sql(requests_sql: str, max_gap: int) -> str:
    """DuckDB twin of coalesce_read_ranges over
    (file_id, offset, length)."""
    return f"""
WITH d AS (
  SELECT file_id, CAST("offset" AS BIGINT) AS off,
         CAST(length AS BIGINT) AS len,
         CAST("offset" AS BIGINT) + CAST(length AS BIGINT) AS "end"
  FROM ({requests_sql})
),
f AS (
  SELECT *, max("end") OVER (PARTITION BY file_id ORDER BY off, "end"
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
  FROM d
),
g AS (
  SELECT *, CASE WHEN prev_max_end IS NULL
                   OR off > prev_max_end + {max_gap}
            THEN 1 ELSE 0 END AS brk
  FROM f
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY file_id ORDER BY off, "end"
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS range_id
  FROM g
)
SELECT file_id, CAST(range_id AS BIGINT) AS range_id,
       min(off) AS fetch_start, max("end") AS fetch_end,
       CAST(count(*) AS BIGINT) AS n_requests,
       CAST(sum(len) AS BIGINT) AS bytes_requested,
       max("end") - min(off) AS bytes_fetched
FROM s GROUP BY file_id, range_id
"""
