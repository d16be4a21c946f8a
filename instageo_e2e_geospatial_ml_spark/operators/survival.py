"""Kaplan-Meier survival estimation — churn/retention analysis as an
engine-exact operator.

The KM product Π (1 - d_i/n_i) is a float whose cross-engine value
depends on transcendental-function ulps (exp/ln) or product
association order, so this operator defines the estimator in FIXED
POINT: survival starts at SCALE = 10^6 and each event time applies

    s_k = s_{k-1} * (n_k - d_k) div n_k        (integer floor)

— an exact integer recurrence, deterministic everywhere, within
steps/SCALE of the real-valued product (each step floors away < 1
part in 10^6; a 10^4-step curve is still accurate to 1e-2 of a
percent). The per-step ingredients (n_at_risk, n_events, n_censored)
are emitted exactly too — they ARE the estimator's sufficient
statistics.

Semantics: right-censored data (duration, event flag). At each
distinct event time t (censor-only times produce no step): n_at_risk
= subjects with duration >= t, d = events at t; censored subjects
leave the risk set after their censoring time (standard KM: a subject
censored exactly at t IS still at risk at t).

Plan: one (group, time) aggregation; n_at_risk via a reversed
cumulative window over the per-time counts (suffix sums — no second
scan); the sequential fixed-point fold runs per group in
applyInPandas (a survival curve is one entity's timeline — the
natural work unit, steps_per_group-sized). The oracle twin replays
the identical fold as a DuckDB recursive CTE — different execution
machinery, same integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCALE = 1_000_000


def kaplan_meier(subjects: DataFrame) -> DataFrame:
    """Per-group KM curve over integer durations and 0/1 event flags.
    Returns one row per distinct EVENT time: (group, t, n_at_risk,
    n_events, n_censored, surv_fp) with surv_fp the 10^6-fixed-point
    survival after t. n_censored counts censorings AT t (informational;
    they affect later steps' n_at_risk only)."""
    import pandas as pd

    g = "grp"
    per_t = (
        subjects.groupBy(g, F.col("duration").alias("t"))
        .agg(
            F.sum(F.when(F.col("event") == 1, 1).otherwise(0)).alias("d"),
            F.sum(F.when(F.col("event") == 0, 1).otherwise(0)).alias("c"),
        )
    )
    from pyspark.sql import Window

    w_suffix = (
        Window.partitionBy(g)
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    risky = per_t.withColumn(
        "n_at_risk", F.sum(F.col("d") + F.col("c")).over(w_suffix)
    )

    out_schema = (
        f"{g} string, t long, n_at_risk long, n_events long, "
        "n_censored long, surv_fp long"
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        s = _SCALE
        rows = []
        for r in pdf.itertuples():
            if r.d == 0:
                continue  # censor-only time: no KM step
            s = s * (r.n_at_risk - r.d) // r.n_at_risk
            rows.append(
                (r[1], int(r.t), int(r.n_at_risk), int(r.d), int(r.c), s)
            )
        return pd.DataFrame(
            rows,
            columns=[
                g, "t", "n_at_risk", "n_events", "n_censored", "surv_fp",
            ],
        )

    return risky.groupBy(g).applyInPandas(fold, out_schema)


def kaplan_meier_sql(table_sql: str) -> str:
    """The identical fixed-point fold as a DuckDB recursive CTE: event
    times are rank-ordered per group and the recursion carries the
    integer survival through rank k -> k+1."""
    g = "grp"
    return f"""
WITH RECURSIVE per_t AS (
  SELECT {g}, duration AS t,
         CAST(sum(CASE WHEN event = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN event = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM ({table_sql}) GROUP BY 1, 2
),
risky AS (
  SELECT *, CAST(sum(d + c) OVER
    (PARTITION BY {g} ORDER BY t ASC
     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
    AS n_at_risk
  FROM per_t
),
steps AS (
  SELECT *, row_number() OVER (PARTITION BY {g} ORDER BY t ASC) AS rk
  FROM risky WHERE d > 0
),
walk({g}, t, n_at_risk, d, c, rk, surv_fp) AS (
  SELECT {g}, t, n_at_risk, d, c, rk,
         {_SCALE} * (n_at_risk - d) // n_at_risk
  FROM steps WHERE rk = 1
  UNION ALL
  SELECT s.{g}, s.t, s.n_at_risk, s.d, s.c, s.rk,
         w.surv_fp * (s.n_at_risk - s.d) // s.n_at_risk
  FROM steps s JOIN walk w ON s.{g} = w.{g} AND s.rk = w.rk + 1
)
SELECT {g}, t, n_at_risk, d AS n_events, c AS n_censored, surv_fp
FROM walk
"""
