"""Token-bucket rate limiting — batch replay of the exact admission
decision, all integer.

The token bucket (capacity B tokens, refill r tokens/second) is THE
admission policy of every API gateway and crawler politeness layer;
auditing a historical event stream against it ("which requests WOULD
have been throttled") is a genuinely sequential per-key recurrence:

    avail_i = min(B·1e6, tokens_{i-1} + (t_i − t_{i-1})·r)   [µtokens]
    admit_i = avail_i >= 1e6 ;  tokens_i = avail_i − 1e6·admit_i

Micro-tokens (1e-6 token) make the refill EXACT integer arithmetic:
r tokens/second ≡ r µtokens per µs, so refill = Δt_µs · r with no
division at all. The recurrence is order-dependent state — not a
window/aggregate shape — so the batch form runs as a per-key
applyInPandas fold (numpy-backed, the sessionize contract: per-key
history is the parallelism unit) and the oracle is a DuckDB RECURSIVE
CTE stepping the identical recurrence (registry query q209).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def token_bucket_admit(events: DataFrame, rate_per_s: int, burst: int) -> DataFrame:
    """Batch replay: per key, fold the bucket over (ts, id)-ordered
    arrivals → (k, n_arrivals, n_admitted, n_throttled,
    first_throttled_us or NULL)."""
    import pandas as pd

    cap = burst * 1_000_000
    cost = 1_000_000

    def fold(key, pdf):
        pdf = pdf.sort_values(["tus", "eid"], kind="mergesort")
        ts = pdf["tus"].astype("int64").to_numpy()
        tokens = cap
        last = None
        admitted = 0
        first_thr = None
        for t in ts:
            if last is not None:
                tokens = min(cap, tokens + (int(t) - last) * rate_per_s)
            last = int(t)
            if tokens >= cost:
                tokens -= cost
                admitted += 1
            elif first_thr is None:
                first_thr = int(t)
        return pd.DataFrame(
            {
                "k": [key[0]],
                "n_arrivals": [len(ts)],
                "n_admitted": [admitted],
                "n_throttled": [len(ts) - admitted],
                "first_throttled_us": [first_thr],
            }
        )

    return events.groupBy("k").applyInPandas(
        fold,
        "k string, n_arrivals long, n_admitted long, n_throttled long, "
        "first_throttled_us long",
    )


def token_bucket_admit_sql(
    events_sql: str, rate_per_s: int, burst: int
) -> str:
    """DuckDB twin: the identical recurrence as a RECURSIVE CTE over
    per-key arrival indexes (`events_sql` yields k, tus, eid)."""
    cap = burst * 1_000_000
    cost = 1_000_000
    return f"""
WITH RECURSIVE ev AS (
  SELECT k, CAST(tus AS BIGINT) AS tus,
         row_number() OVER (PARTITION BY k ORDER BY tus, eid) AS rn
  FROM ({events_sql})
),
walk(k, rn, tus, tokens, admitted) AS (
  SELECT k, rn, tus,
         CASE WHEN {cap} >= {cost} THEN {cap} - {cost}
              ELSE {cap} END,
         CASE WHEN {cap} >= {cost} THEN 1 ELSE 0 END
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.k, e.rn, e.tus,
    CASE WHEN least({cap}, w.tokens + (e.tus - w.tus) * {rate_per_s})
              >= {cost}
         THEN least({cap}, w.tokens + (e.tus - w.tus) * {rate_per_s})
              - {cost}
         ELSE least({cap}, w.tokens + (e.tus - w.tus) * {rate_per_s})
    END,
    CASE WHEN least({cap}, w.tokens + (e.tus - w.tus) * {rate_per_s})
              >= {cost}
         THEN 1 ELSE 0 END
  FROM ev e JOIN walk w ON e.k = w.k AND e.rn = w.rn + 1
)
SELECT k, CAST(count(*) AS BIGINT) AS n_arrivals,
       CAST(sum(admitted) AS BIGINT) AS n_admitted,
       CAST(count(*) - sum(admitted) AS BIGINT) AS n_throttled,
       min(CASE WHEN admitted = 0 THEN tus END) AS first_throttled_us
FROM walk GROUP BY k
"""

