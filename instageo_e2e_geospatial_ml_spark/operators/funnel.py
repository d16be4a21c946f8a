"""Ordered-funnel and cohort-retention analytics over event streams —
the two canonical product/behavior queries every event warehouse runs
(Amplitude/Mixpanel-style), expressed as pure relational plans.

`funnel_stages`: strict-order funnel. A user reaches stage k when an
event of step k's type exists STRICTLY after their stage-(k-1)
timestamp; the earliest such event is the stage timestamp (the
"first-touch" convention). The plan is a chain of filtered min-
aggregates, one per step: filter(type_k) -> join previous stage (on
user) -> keep later events -> min(ts). k steps = k hash aggregates on
the user key, no window over raw history, no UDF; each join's right
side is one row per qualifying user, so the chain narrows
monotonically — funnel depth bounds cost, not history length.

`cohort_retention`: users bucket into signup cohorts by their first
event week (an epoch-microsecond floor division — engine-exact
integers), then (cohort_week, week_offset) cells count distinct
active users. Two aggregates and a join, all on integer keys.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WEEK_US = 7 * 86400 * 1_000_000


def funnel_stages(events: DataFrame, steps: list[str]) -> DataFrame:
    """events -> one row per (user, reached stage): (user, stage,
    step_name, stage_ts_us). Stage numbering is 1-based; a user appears
    for every stage they reached (stage 1..k)."""
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select(
        F.col("user_id").alias("user"),
        F.col("event_type").alias("etype"),
        tus.alias("tus"),
    )
    stages = []
    prev = None
    for k, step in enumerate(steps, start=1):
        cur = ev.filter(F.col("etype") == step)
        if prev is not None:
            cur = cur.join(
                prev.select("user", F.col("stage_ts_us").alias("_prev_us")),
                "user",
            ).filter(F.col("tus") > F.col("_prev_us"))
        stage = cur.groupBy("user").agg(F.min("tus").alias("stage_ts_us"))
        stages.append(
            stage.select(
                "user",
                F.lit(k).alias("stage"),
                F.lit(step).alias("step_name"),
                "stage_ts_us",
            )
        )
        prev = stage
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


def funnel_summary(stage_rows: DataFrame) -> DataFrame:
    """funnel_stages output -> per-stage rollup: (stage, step_name,
    n_users, first_reach_us, last_reach_us)."""
    return (
        stage_rows.groupBy("stage", "step_name")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("stage_ts_us").alias("first_reach_us"),
            F.max("stage_ts_us").alias("last_reach_us"),
        )
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """events -> (cohort_week, week_offset, n_users): users grouped by
    first-seen epoch week, counted distinct in every later week they
    were active. Integer week ids = epoch_us div WEEK_US."""
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select(
        F.col("user_id").alias("user"), tus.alias("tus")
    ).select("user", F.expr(f"tus div {WEEK_US}").alias("week"))
    first = ev.groupBy("user").agg(F.min("week").alias("cohort_week"))
    active = ev.select("user", "week").distinct()
    return (
        active.join(first, "user")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def multi_touch_attribution(
    touches: DataFrame,
    conversions: DataFrame,
    lookback_s: int,
) -> DataFrame:
    """Multi-touch attribution: for every conversion, the marketing
    touches inside its lookback window, credited under the three
    standard models AT ONCE, all exact — no float credit splitting:
      linear: (credit_num=1, credit_den=n_touches) per touch row
      first : is_first = 1 on the earliest touch
      last  : is_last  = 1 on the latest touch
    Ties at the same instant resolve by (ts, channel, touch order) —
    deterministic under replay. Per-channel rollups stay exact when
    aggregated as fractions grouped by credit_den (or as the
    is_first/is_last counts), which is why credit ships as a rational,
    not a double. Conversions with zero in-window touches emit one
    row with NULL channel and n_touches = 0 (the unattributable
    budget line every report needs).

    Plan: equi-join on user + time-range filter (touch volume per
    user bounds the pair count), one per-conversion window for the
    first/last ranks — a conversion's touch set is small by
    construction (the lookback bounds it).
    """
    from pyspark.sql import Window

    t = touches.select(
        F.col("user_id").alias("u"),
        F.col("ts_us").cast("long").alias("touch_ts"),
        F.col("channel"),
    )
    c = conversions.select(
        F.col("user_id").alias("u"),
        F.col("ts_us").cast("long").alias("conv_ts"),
        F.col("conv_id"),
    )
    j = c.join(
        t,
        (c["u"] == t["u"])
        & (t["touch_ts"] <= c["conv_ts"])
        & (t["touch_ts"] >= c["conv_ts"] - lookback_s * 1_000_000),
        "left",
    ).select("conv_id", "conv_ts", "touch_ts", "channel")
    w = Window.partitionBy("conv_id")
    wf = w.orderBy(F.col("touch_ts").asc(), F.col("channel").asc())
    wl = w.orderBy(F.col("touch_ts").desc(), F.col("channel").desc())
    return j.select(
        "conv_id",
        "channel",
        "touch_ts",
        F.count("touch_ts").over(w).alias("n_touches"),
        F.when(F.col("touch_ts").isNotNull(), F.lit(1)).alias("credit_num"),
        F.when(
            F.col("touch_ts").isNotNull(), F.count("touch_ts").over(w)
        ).alias("credit_den"),
        (F.row_number().over(wf) == 1)
        .cast("int")
        .alias("is_first"),
        (F.row_number().over(wl) == 1)
        .cast("int")
        .alias("is_last"),
    ).withColumn(
        "is_first",
        F.when(F.col("touch_ts").isNull(), F.lit(0)).otherwise(F.col("is_first")),
    ).withColumn(
        "is_last",
        F.when(F.col("touch_ts").isNull(), F.lit(0)).otherwise(F.col("is_last")),
    )


def multi_touch_attribution_sql(
    touches_sql: str, conversions_sql: str, lookback_s: int
) -> str:
    """DuckDB twin of multi_touch_attribution."""
    us = lookback_s * 1_000_000
    return f"""
WITH t AS ({touches_sql}),
c AS ({conversions_sql}),
j AS MATERIALIZED (
  SELECT c.conv_id, c.conv_ts, t.touch_ts, t.channel
  FROM c LEFT JOIN t
    ON c.u = t.u AND t.touch_ts <= c.conv_ts
   AND t.touch_ts >= c.conv_ts - {us}
)
SELECT conv_id, channel, touch_ts,
  CAST(count(touch_ts) OVER w AS BIGINT) AS n_touches,
  CASE WHEN touch_ts IS NOT NULL THEN 1 END AS credit_num,
  CASE WHEN touch_ts IS NOT NULL
       THEN CAST(count(touch_ts) OVER w AS BIGINT) END AS credit_den,
  CASE WHEN touch_ts IS NULL THEN 0
       WHEN row_number() OVER (PARTITION BY conv_id
         ORDER BY touch_ts ASC, channel ASC) = 1 THEN 1 ELSE 0 END AS is_first,
  CASE WHEN touch_ts IS NULL THEN 0
       WHEN row_number() OVER (PARTITION BY conv_id
         ORDER BY touch_ts DESC, channel DESC) = 1 THEN 1 ELSE 0 END AS is_last
FROM j
WINDOW w AS (PARTITION BY conv_id)
"""


def windowed_funnel(events: DataFrame, steps: list[str], horizon_us: int) -> DataFrame:
    """ClickHouse-windowFunnel-style conversion: the deepest stage each
    user reaches with every step STRICTLY after the previous one and the
    WHOLE chain within `horizon_us` of the stage-1 anchor. Semantics are
    pinned to the greedy-earliest rule — the anchor is the user's FIRST
    step-1 event and each later stage takes its earliest qualifying
    event — so the result is a pure function of the input (a sliding
    anchor could convert more users but is not engine-exact; the greedy
    rule is the documented, reproducible convention here).

    One row per user who reached stage >= 1: (user, stage, anchor_us,
    last_us). Plan shape = funnel_stages' chain of per-step min
    aggregates (k steps = k hash aggs narrowed by the horizon filter),
    then one max(struct) per user — no windows over raw history, so
    cost is bounded by funnel depth, not history length."""
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("etype"),
        tus.alias("tus"),
    )
    s1 = (
        ev.filter(F.col("etype") == steps[0])
        .groupBy("u")
        .agg(F.min("tus").alias("anchor_us"))
    )
    prev = s1.select(
        "u", "anchor_us", F.col("anchor_us").alias("last_us"),
        F.lit(1).alias("stage"),
    )
    reached = [prev]
    for k, step in enumerate(steps[1:], start=2):
        nxt = (
            ev.filter(F.col("etype") == step)
            .join(prev.select("u", "anchor_us", "last_us"), "u")
            .filter(
                (F.col("tus") > F.col("last_us"))
                & (F.col("tus") <= F.col("anchor_us") + F.lit(horizon_us))
            )
            .groupBy("u", "anchor_us")
            .agg(F.min("tus").alias("last_us"))
        )
        prev = nxt.select(
            "u", "anchor_us", "last_us", F.lit(k).alias("stage")
        )
        reached.append(prev)
    allr = reached[0]
    for r in reached[1:]:
        allr = allr.unionByName(r)
    m = F.max(F.struct("stage", "anchor_us", "last_us")).alias("m")
    return (
        allr.groupBy("u")
        .agg(m)
        .select(
            "u",
            F.col("m.stage").cast("long").alias("stage"),
            F.col("m.anchor_us").alias("anchor_us"),
            F.col("m.last_us").alias("last_us"),
        )
    )


def windowed_funnel_sql(
    events_sql: str, steps: list[str], horizon_us: int
) -> str:
    """DuckDB twin of windowed_funnel (chain unrolled into CTEs)."""
    ctes = [
        f"ev AS (SELECT user_id AS u, event_type AS etype,\n"
        f"  epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM ({events_sql}))",
        f"s1 AS (SELECT u, min(tus) AS t1 FROM ev\n"
        f"  WHERE etype = '{steps[0]}' GROUP BY u)",
    ]
    for k in range(2, len(steps) + 1):
        prev = f"s{k-1}"
        ctes.append(
            f"s{k} AS (SELECT e.u, min(e.tus) AS t{k}\n"
            f"  FROM ev e JOIN {prev} p ON e.u = p.u\n"
            f"  JOIN s1 ON e.u = s1.u\n"
            f"  WHERE e.etype = '{steps[k-1]}' AND e.tus > p.t{k-1}\n"
            f"    AND e.tus <= s1.t1 + {horizon_us} GROUP BY e.u)"
        )
    n = len(steps)
    stage = "CASE " + " ".join(
        f"WHEN s{k}.t{k} IS NOT NULL THEN {k}"
        for k in range(n, 1, -1)
    ) + " ELSE 1 END"
    last = "coalesce(" + ", ".join(
        f"s{k}.t{k}" for k in range(n, 0, -1)
    ) + ")"
    joins = "\n".join(
        f"LEFT JOIN s{k} ON s1.u = s{k}.u" for k in range(2, n + 1)
    )
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT s1.u, CAST({stage} AS BIGINT) AS stage,
       s1.t1 AS anchor_us, {last} AS last_us
FROM s1
{joins}
"""


def event_pattern_matches(
    events: DataFrame,
    type_chars: dict[str, str],
    patterns: dict[str, str],
) -> DataFrame:
    """MATCH_RECOGNIZE-lite / CEP over batch history: encode each user's
    time-ordered event stream as a string of single-char symbols
    (`type_chars`: event_type -> char; unmapped types are dropped) and
    count the non-overlapping matches of each regex in `patterns` — the
    row-pattern-matching analytic (conversion paths 'vc+p', error bursts
    'eee+', abandonment 'vc+(?!p)', ...) without a MATCH_RECOGNIZE
    engine. Output: (u, seq_len, seq_md5, n_<name>... per pattern).

    Determinism: the symbol order is the unique (ts, event_id) total
    order, so the sequence string — and every count — is a pure function
    of the input. Patterns should stay in the lookahead-free ASCII
    subset shared by Java regex and RE2 if oracle parity matters.

    Scale: one sort_array(collect_list) per user — per-user state is the
    user's (bounded) history, the same contract as sessionization;
    unbounded histories should be sessionized first and matched per
    session. No window over raw rows, no driver collect."""
    c = None
    for etype, ch in sorted(type_chars.items()):
        c = (
            F.when(F.col("event_type") == etype, F.lit(ch))
            if c is None
            else c.when(F.col("event_type") == etype, F.lit(ch))
        )
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = events.select(
        F.col("user_id").alias("u"),
        tus.alias("tus"),
        F.col("event_id").alias("eid"),
        c.alias("c"),
    ).filter(F.col("c").isNotNull())
    seq = ev.groupBy("u").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tus", "eid", "c"))),
                lambda s: s["c"],
            ),
            "",
        ).alias("seq")
    )
    counts = [
        F.size(F.regexp_extract_all(F.col("seq"), F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat in sorted(patterns.items())
    ]
    return seq.select(
        "u",
        F.length("seq").cast("long").alias("seq_len"),
        F.md5("seq").alias("seq_md5"),
        *counts,
    )


def event_pattern_matches_sql(
    events_sql: str,
    type_chars: dict[str, str],
    patterns: dict[str, str],
) -> str:
    """DuckDB twin of event_pattern_matches."""
    case = "CASE " + " ".join(
        f"WHEN event_type = '{e}' THEN '{ch}'"
        for e, ch in sorted(type_chars.items())
    ) + " END"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(seq, '{pat}')) AS BIGINT)"
        f" AS n_{name}"
        for name, pat in sorted(patterns.items())
    )
    return f"""
WITH ev AS (
  SELECT user_id AS u,
         epoch_us(CAST(ts AS TIMESTAMP)) AS tus, event_id AS eid,
         {case} AS c
  FROM ({events_sql})
),
seq AS (
  SELECT u, string_agg(c, '' ORDER BY tus, eid) AS seq
  FROM ev WHERE c IS NOT NULL GROUP BY u
)
SELECT u, CAST(length(seq) AS BIGINT) AS seq_len, md5(seq) AS seq_md5,
       {counts}
FROM seq
"""


def sequential_pair_support(events: DataFrame) -> DataFrame:
    """Order-sensitive association rules over event histories: for every
    ordered pair of event types (a, b), how many users exhibit "a THEN
    b" — an a-event strictly before (by timestamp) some b-event. The
    sequential-pattern-mining support/confidence table (length-2
    patterns), complementary to q100's ADJACENT transitions: here the
    pair may be separated by any number of events.

    Per user and type only (min_ts, max_ts) are kept — "exists a before
    b" ⇔ min_ts(a) < max_ts(b) — so the join is over the tiny
    (user × |types|) profile, never raw history. Output per (a, b),
    a ≠ b: n_seq users with the pattern, n_a / n_b user supports,
    conf_ppm = floor(1e6·n_seq/n_a) (confidence of the rule a→b).

    Scale: one (user, type) aggregate over the data, then a per-user
    self-join with |types|² fan-out on profiles — bounded by the type
    vocabulary, not history length; the final table is |types|² rows."""
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    prof = (
        events.select(
            F.col("user_id").alias("u"),
            F.col("event_type").alias("t"),
            tus.alias("tus"),
        )
        .groupBy("u", "t")
        .agg(F.min("tus").alias("tmin"), F.max("tus").alias("tmax"))
    )
    a = prof.select("u", F.col("t").alias("a"), "tmin")
    b = prof.select("u", F.col("t").alias("b"), "tmax")
    seq = (
        a.join(b, "u")
        .filter(
            (F.col("a") != F.col("b")) & (F.col("tmin") < F.col("tmax"))
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_seq"))
    )
    supp = prof.groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    return (
        seq.join(
            F.broadcast(supp.select(F.col("t").alias("a"),
                                    F.col("n_t").alias("n_a"))), "a"
        )
        .join(
            F.broadcast(supp.select(F.col("t").alias("b"),
                                    F.col("n_t").alias("n_b"))), "b"
        )
        .select(
            "a", "b", "n_seq", "n_a", "n_b",
            F.expr("(1000000 * n_seq) DIV n_a").alias("conf_ppm"),
        )
    )


def sequential_pair_support_sql(events_sql: str) -> str:
    """DuckDB twin of sequential_pair_support."""
    return f"""
WITH prof AS (
  SELECT user_id AS u, event_type AS t,
         min(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
         max(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
  FROM ({events_sql})
  GROUP BY 1, 2
),
seq AS (
  SELECT a.t AS a, b.t AS b, CAST(count(*) AS BIGINT) AS n_seq
  FROM prof a JOIN prof b ON a.u = b.u AND a.t <> b.t
  WHERE a.tmin < b.tmax
  GROUP BY 1, 2
),
supp AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM prof GROUP BY 1
)
SELECT s.a, s.b, s.n_seq, sa.n_t AS n_a, sb.n_t AS n_b,
       (1000000 * s.n_seq) // sa.n_t AS conf_ppm
FROM seq s
JOIN supp sa ON s.a = sa.t
JOIN supp sb ON s.b = sb.t
"""
