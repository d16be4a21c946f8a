"""Deterministic (hash-keyed) sampling for training-data curation.

`df.sample()` is seed-dependent on partitioning and row order — useless
when the sample must be reproducible across engines, re-runs, and
re-partitioned inputs. These samplers key the keep-decision on md5 of the
ROW KEY, so membership is a pure function of the data: identical in Spark
and any ANSI engine (exact DuckDB oracles), stable under repartition, and
consistent across incremental runs (a row's verdict never changes when
new data arrives — the property reservoir/fraction sampling lacks).

Scale: a hash filter is embarrassingly parallel, pushes nothing to the
driver, and composes with partition pruning; the stratum lookup is a
literal CASE chain (no join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DENOM = 1_000_000


def _hash_point(key: Column, salt: str) -> Column:
    """Uniform integer in [0, 1e6) from md5(key:salt) — first 8 hex chars
    (32 bits) so the modulo bias is < 2^-12 of a unit."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(":" + salt))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(_DENOM))


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep ~fraction of rows, decided by md5(key) — deterministic,
    engine-portable, repartition-stable."""
    return df.filter(_hash_point(F.col(key_col), "s") < int(fraction * _DENOM))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downweight a crawl source,
    keep all of a curated one): fractions maps stratum value → keep rate;
    unlisted strata get default_fraction."""
    thr = F.lit(int(default_fraction * _DENOM))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == value, F.lit(int(frac * _DENOM))
        ).otherwise(thr)
    return df.filter(_hash_point(F.col(key_col), "s") < thr)


def exact_stratified_split(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    total: int,
) -> DataFrame:
    """Select EXACTLY `total` rows, allocated across strata
    proportionally by the largest-remainder rule (operators/stats.
    largest_remainder semantics inlined over stratum counts), picking
    each stratum's quota deterministically by md5 rank — the
    exact-size train/eval split hash_sample cannot give (per-row
    Bernoulli only hits the target size in expectation; an eval set
    that must be exactly 10k docs, stratified, needs allocation).

    All integers and md5: rerun-stable, engine-exact. One count
    aggregation (tiny: one row per stratum — window over strata is
    vocabulary-sized), one broadcast join, one per-stratum rank
    window. Returns the selected (stratum, id, rk) rows."""
    from pyspark.sql import Window

    st, i = stratum_col, id_col
    counts = df.groupBy(st).agg(F.count(F.lit(1)).alias("_n"))
    wall = Window.partitionBy()
    wr = Window.partitionBy().orderBy(
        F.col("_rem").desc(), F.col(st).asc()
    )
    alloc = (
        counts.withColumn("_tot", F.sum("_n").over(wall))
        .withColumn("_s", F.expr(f"{total} * _n div _tot"))
        .withColumn("_rem", F.expr(f"({total} * _n) % _tot"))
        .withColumn("_fsum", F.sum("_s").over(wall))
        .withColumn("_rk", F.row_number().over(wr))
        .withColumn(
            "quota",
            F.col("_s")
            + F.when(
                F.col("_rk") <= F.lit(total) - F.col("_fsum"), 1
            ).otherwise(0),
        )
        .select(st, "quota")
    )
    h = F.md5(F.concat(F.col(i).cast("string"), F.lit(":xsplit")))
    wh = Window.partitionBy(st).orderBy(h.asc(), F.col(i).asc())
    ranked = df.select(st, i).withColumn("rk", F.row_number().over(wh))
    return (
        ranked.join(F.broadcast(alloc), st)
        .filter(F.col("rk") <= F.col("quota"))
        .select(st, i, "rk")
    )


def exact_stratified_split_sql(
    table_sql: str, stratum_col: str, id_col: str, total: int,
) -> str:
    """The identical allocation + hash-rank selection as DuckDB SQL."""
    st, i = stratum_col, id_col
    return f"""
WITH rows_in AS (SELECT {st}, {i} FROM ({table_sql})),
counts AS (SELECT {st}, CAST(count(*) AS BIGINT) AS n FROM rows_in GROUP BY 1),
base AS (
  SELECT {st}, n,
         ({total} * n) // CAST(sum(n) OVER () AS BIGINT) AS s,
         ({total} * n) % CAST(sum(n) OVER () AS BIGINT) AS rem
  FROM counts
),
alloc AS (
  SELECT {st},
    s + CASE WHEN row_number() OVER (ORDER BY rem DESC, {st} ASC)
             <= {total} - CAST(sum(s) OVER () AS BIGINT)
        THEN 1 ELSE 0 END AS quota
  FROM base
),
ranked AS (
  SELECT {st}, {i},
    CAST(row_number() OVER (PARTITION BY {st}
      ORDER BY md5(CAST({i} AS VARCHAR) || ':xsplit') ASC, {i} ASC)
      AS BIGINT) AS rk
  FROM rows_in
)
SELECT r.{st}, r.{i}, r.rk
FROM ranked r JOIN alloc a ON r.{st} = a.{st}
WHERE r.rk <= a.quota
"""


def weighted_priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement: each row
    gets priority = (u · SCALE) div w where u = md5-uniform in [0, 1e6)
    and w its positive integer weight; the k SMALLEST priorities win —
    heavier rows draw proportionally smaller priorities, the
    integer-exact surrogate of Efraimidis-Spirakis exponential-clock
    sampling (u^(1/w) needs log/float; u/w preserves the per-row
    monotonicity in w and, like all samplers here, the DEFINED
    semantics is the deterministic rule itself: reproducible across
    engines, re-runs, and repartitioning).

    Output: the k winners as (key, weight, priority, rnk), rnk 1 =
    smallest priority, ties broken by key.

    Scale: priority is a scan-side expression; the global top-k is
    TakeOrdered (per-partition heap + k-row driver merge — no global
    sort, no full-data window); the rank window after the limit sees k
    rows only."""
    pri = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(weight_col).cast("long").alias("weight"),
            _hash_point(F.col(key_col), "wps").alias("_u"),
        )
        .filter(F.col("weight") > 0)
        .withColumn(
            "priority",
            F.expr(f"({_DENOM} * _u) DIV weight").cast("long"),
        )
        .drop("_u")
    )
    top = pri.orderBy(
        F.col("priority").asc(), F.col("key").asc()
    ).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("priority").asc(), F.col("key").asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


def weighted_priority_sample_sql(
    rows_sql: str, key_expr: str, weight_expr: str, k: int,
) -> str:
    """DuckDB twin of weighted_priority_sample."""
    h = (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)"
        f" || ':wps'), 1, 8)) AS BIGINT) % {_DENOM}"
    )
    return f"""
WITH pri AS (
  SELECT {key_expr} AS key, CAST({weight_expr} AS BIGINT) AS weight,
         (CAST({_DENOM} AS BIGINT) * ({h})) // CAST({weight_expr}
           AS BIGINT) AS priority
  FROM ({rows_sql})
  WHERE {weight_expr} > 0
)
SELECT key, weight, priority, CAST(row_number() OVER (
         ORDER BY priority ASC, key ASC) AS BIGINT) AS rnk
FROM pri
ORDER BY priority ASC, key ASC
LIMIT {k}
"""
