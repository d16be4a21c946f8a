"""Event sessionization: gap-based sessions as DataFrame algebra.

A session is a maximal run of events for one key where consecutive events
are ≤ `gap` apart (the classic gap-based sessionization the reference's RQ
job queue has no analogue for; a web-scale ingest pipeline needs it to
group observation bursts per tile).

`sessionize_batch` is pure DataFrame algebra: lag() gap flags → running
sum over the key window = session ordinal → one groupBy. Exactly
SQL-expressible (DuckDB oracle, registry query q31).

Scale notes: the window and the groupBy share one hash exchange on the
key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(events: DataFrame, gap_minutes: int = 360) -> DataFrame:
    """Sessions per event_type: (event_type, session_id, session_start,
    session_end, n_events, sum_value) — session_id is the per-key ordinal
    (1-based, by start time)."""
    gap_us = int(gap_minutes) * 60 * 1_000_000
    w = Window.partitionBy("event_type").orderBy(F.col("ts").asc())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = events.withColumn(
        "_new",
        F.when(
            us - F.lag(us).over(w) > F.lit(gap_us), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_sid", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)) + 1
    )
    return (
        flagged.groupBy("event_type", "_sid")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .withColumnRenamed("_sid", "session_id")
    )

