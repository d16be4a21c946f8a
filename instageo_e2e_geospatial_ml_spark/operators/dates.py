"""Date normalization + temporal-step expansion + tolerance widening.

Reference semantics:
  * P5 normalize (chip_creator.py:281-298): combine optional HH:MM:SS time
    column; optional shift-to-month-start via pandas `- MonthBegin(1)` —
    NOTE the quirk: a mid-month date maps to its own month start, but a
    date already on the 1st maps to the PREVIOUS month start. Replicated
    bug-for-bug (goldens depend on it).
  * W1 expansion (data_pipeline.py:299-305): per observation, num_steps
    query dates at date − i*temporal_step days, i = 0..num_steps−1.
  * W2 widening (data_pipeline.py:319-326): min/max date ± tolerance days;
    when there is no time-of-day information the max date is pushed to
    23:59:59 (string-formatted goldens, test_data_pipeline.py:133-141).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F


def normalize_dates(
    obs: DataFrame,
    time_col: str | None = None,
    shift_to_month_start: bool = False,
) -> DataFrame:
    """P5: date/time combine + MonthBegin shift."""
    d = F.to_timestamp(F.col("date"))
    if time_col is not None and time_col in obs.columns:
        t = F.col(time_col)
        if dict(obs.dtypes).get(time_col) in ("timestamp", "timestamp_ntz"):
            # CSV inference turns bare HH:MM:SS into a full timestamp
            t = F.date_format(t, "HH:mm:ss")
        d = F.to_timestamp(F.concat_ws(" ", F.date_format(d, "yyyy-MM-dd"), t))
    if shift_to_month_start:
        # pandas `- MonthBegin(1)`: day 1 → previous month start; else → own
        # month start (reference chip_creator.py:289-293, bug-for-bug)
        trunc = F.date_trunc("month", d)
        d = F.when(F.dayofmonth(d) == 1, F.add_months(trunc, -1)).otherwise(trunc)
    return obs.withColumn("date", d)


def expand_temporal_steps(
    obs: DataFrame,
    num_steps: int = 3,
    temporal_step: int = 5,
) -> DataFrame:
    """W1: query dates date - i*step for i in 0..num_steps, in long form
    with (step, query_date) via posexplode, the join-ready shape for the
    as-of granule pick (J2).
    """
    steps = F.transform(
        F.sequence(F.lit(0), F.lit(num_steps - 1)),
        lambda i: F.timestamp_add("DAY", (i * -temporal_step).cast("int"), F.col("date")),
    )
    return (
        obs.withColumn("query_dates", steps)
        .select("*", F.posexplode("query_dates").alias("step", "query_date"))
        .drop("query_dates")
    )


def widen_tolerance(df: DataFrame) -> DataFrame:
    """W2: min_date − tol, max_date + tol; max pushed to 23:59:59, as for
    observations with no time-of-day (reference data_pipeline.py:319-326)."""
    total_min = 5 * 24 * 60
    lo = F.timestamp_add("MINUTE", F.lit(-total_min), F.col("min_date"))
    hi = F.timestamp_add("MINUTE", F.lit(total_min), F.col("max_date"))
    hi = F.timestamp_add("SECOND", F.lit(24 * 3600 - 1), F.date_trunc("day", hi))
    return df.withColumn("min_date", lo).withColumn("max_date", hi)


def fmt_iso(col: Column | str) -> Column:
    """The reference's string date format '%Y-%m-%dT%H:%M:%S'
    (data_pipeline.py:322-326)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")


def next_business_day(
    df: DataFrame,
    ts_col: str,
    holidays: list[str],
) -> DataFrame:
    """Settlement-date calendar math: for each timestamp, the NEXT day
    (strictly later) that is neither a weekend nor a listed holiday —
    the T+1 rule of billing/settlement pipelines. Weekday arithmetic is
    pure epoch-day integers — dow = (epoch_day + 3) % 7 with Monday 0
    (1970-01-01 was a Thursday = 3) — identical in any engine, immune
    to locale/week-start configuration (Spark dayofweek and DuckDB
    dayofweek disagree on numbering; epoch math does not).

    Holidays are ISO dates resolved to epoch days at plan time and
    tested with a literal IN — the broadcast-dim-table shape for larger
    calendars. Two skip rounds handle holiday-then-weekend chains up to
    2 long (extend the chain for dense calendars; each round is one
    CASE, documented bound).

    Output: input columns + (epoch_day, nbd_epoch_day, nbd_date)."""
    import datetime as _dt

    hol = sorted(
        (_dt.date.fromisoformat(h) - _dt.date(1970, 1, 1)).days
        for h in holidays
    )
    hol_lit = ", ".join(str(d) for d in hol) or "-1"
    day = F.expr(
        f"unix_micros(CAST({ts_col} AS TIMESTAMP))"
        f" DIV {86400 * 1000000}"
    )
    base = df.withColumn("epoch_day", day)

    def skip(col_expr: str) -> str:
        # advance past Sat(5)/Sun(6) then past a holiday
        wk = (
            f"CASE WHEN (({col_expr}) + 3) % 7 = 5 THEN ({col_expr}) + 2 "
            f"WHEN (({col_expr}) + 3) % 7 = 6 THEN ({col_expr}) + 1 "
            f"ELSE ({col_expr}) END"
        )
        return (
            f"CASE WHEN ({wk}) IN ({hol_lit}) THEN ({wk}) + 1"
            f" ELSE ({wk}) END"
        )

    nbd = skip(skip("epoch_day + 1"))
    return base.withColumn(
        "nbd_epoch_day", F.expr(nbd).cast("long")
    ).withColumn(
        "nbd_date",
        F.date_format(
            F.expr("timestamp_seconds(nbd_epoch_day * 86400)"),
            "yyyy-MM-dd",
        ),
    )


def next_business_day_sql(
    rows_sql: str, ts_expr: str, holidays: list[str]
) -> str:
    """DuckDB twin of next_business_day."""
    import datetime as _dt

    hol = sorted(
        (_dt.date.fromisoformat(h) - _dt.date(1970, 1, 1)).days
        for h in holidays
    )
    hol_lit = ", ".join(str(d) for d in hol) or "-1"
    day = (
        f"(epoch_us(CAST({ts_expr} AS TIMESTAMP))"
        f" // {86400 * 1000000})"
    )

    def skip(col_expr: str) -> str:
        wk = (
            f"CASE WHEN (({col_expr}) + 3) % 7 = 5 THEN ({col_expr}) + 2 "
            f"WHEN (({col_expr}) + 3) % 7 = 6 THEN ({col_expr}) + 1 "
            f"ELSE ({col_expr}) END"
        )
        return (
            f"CASE WHEN ({wk}) IN ({hol_lit}) THEN ({wk}) + 1"
            f" ELSE ({wk}) END"
        )

    nbd = skip(skip(f"{day} + 1"))
    return f"""
SELECT *, CAST({day} AS BIGINT) AS epoch_day,
       CAST({nbd} AS BIGINT) AS nbd_epoch_day,
       strftime(to_timestamp(({nbd}) * 86400), '%Y-%m-%d') AS nbd_date
FROM ({rows_sql})
"""
