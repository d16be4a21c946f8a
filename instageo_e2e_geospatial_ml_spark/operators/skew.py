"""Skew tooling: explicit salting for hot keys + cell-range clustering.

The engine's joins mostly avoid key skew structurally (broadcast dims,
cell bucketing, per-footprint dedup, LSH bucket caps) and AQE splits
skewed shuffle partitions at runtime. These utilities cover the two cases
the north star calls out explicitly:

  * salted_join — a shuffle join whose key has pathological hot values
    (a mega-city grid cell with 10^9 points): the dim side replicates
    ×n_salt, the fact side picks a deterministic salt from a column hash,
    so one hot key spreads over n_salt reducers. Row-identical to the
    unsalted inner join.
  * write_clustered — range-partition by a clustering column (packed cell
    id: its integer order IS the spatial prefix order) and sort within
    partitions before writing, so every output file covers a tight cell
    range and parquet min/max stats prune scans spatially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import ranged_prefix


def salted_join(fact: DataFrame, dim: DataFrame, key: str, salt_by: str) -> DataFrame:
    """fact ⋈ dim (inner) on `key`, with the shuffle spread over (key, salt).

    The dim side explodes ×8 (dims are small relative to facts by
    definition — a big-big skew join wants AQE's skew split instead);
    the fact side derives its salt deterministically from xxhash64 of
    `salt_by`, so re-runs place rows identically. Output rows are exactly
    the unsalted inner join's.
    """
    salts = F.explode(F.sequence(F.lit(0), F.lit(7)))
    d = dim.withColumn("_salt", salts)
    f = fact.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_by)), F.lit(8)))
    return f.join(d, [key, "_salt"], "inner").drop("_salt")


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    num_files: int | None = None,
) -> None:
    """Range-partition on `cluster_col` (+ sort within partitions) and
    write parquet: each file then covers a tight, nearly disjoint value
    range, so engines prune files from parquet min/max stats on any
    cluster-key predicate — the write-side half of partition pruning."""
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def range_split_points(df: DataFrame, value_col: str, n_parts: int) -> DataFrame:
    """EXACT range-partitioner boundaries: split i (1..n_parts-1) is the
    smallest value whose cumulative row count reaches ceil(i*N/n_parts)
    — what Spark's RangePartitioner approximates by reservoir sampling,
    computed exactly (the sampled version mis-sizes partitions on
    heavy-tailed keys; an exact plan costs one extra pass and is what a
    table-maintenance job wants for write_clustered file boundaries).

    No global-order window: (1) compress to (value, cnt); (2)
    functions/text.ranged_prefix gives every value its exact global
    cumulative count (ONE tiny per-bucket totals job, ≤ n_buckets rows
    collected, then a per-bucket window + broadcast offsets); (3)
    broadcast the n_parts-1 target ranks, keep each target's smallest
    qualifying value. Ties and duplicate-heavy columns are handled by the
    compression — ranks are of the sorted multiset, deterministic.

    Returns (split_idx, target_rank, split_value, cum_at_split):
    cum_at_split is the cumulative count through the boundary value
    (== target_rank only when the boundary value is not repeated past
    the target). The result is materialized eagerly (n_parts-1 rows —
    it exists to be collected into a partitioner/DDL anyway), so the
    returned frame holds no reference to the bucketed intermediate."""
    sess = df.sparkSession
    vals = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = ranged_prefix(vals, [F.col("v").asc()], "cum", weight="cnt")
    n_total = cum.agg(F.max("cum")).first()[0] or 0
    targets = sess.createDataFrame(
        [
            (i, (i * n_total + n_parts - 1) // n_parts)
            for i in range(1, n_parts)
        ],
        "split_idx long, target_rank long",
    )
    rows = (
        cum.join(F.broadcast(targets), F.col("cum") >= F.col("target_rank"))
        .groupBy("split_idx", "target_rank")
        .agg(
            F.min("v").alias("split_value"),
            F.min("cum").alias("cum_at_split"),
        )
        .collect()
    )
    return sess.createDataFrame(
        rows or [],
        "split_idx long, target_rank long, split_value long, "
        "cum_at_split long",
    )


def range_split_points_sql(
    table_sql: str, value_expr: str, n_parts: int
) -> str:
    """The identical exact boundaries as DuckDB SQL (global cumulative
    window is fine at oracle scale)."""
    return f"""
WITH vals AS (
  SELECT {value_expr} AS v, count(*) AS cnt
  FROM ({table_sql}) GROUP BY 1
),
cum AS (
  SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v ASC) AS BIGINT) AS cum
  FROM vals
),
n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vals),
targets AS (
  SELECT CAST(i AS BIGINT) AS split_idx,
         (i * n_total + {n_parts} - 1) // {n_parts} AS target_rank
  FROM n, (SELECT unnest(generate_series(1, {n_parts - 1})) AS i) s
)
SELECT t.split_idx, t.target_rank,
       min(c.v) AS split_value,
       CAST(min(c.cum) AS BIGINT) AS cum_at_split
FROM cum c JOIN targets t ON c.cum >= t.target_rank
GROUP BY 1, 2
"""
