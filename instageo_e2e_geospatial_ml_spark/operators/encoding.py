"""Leakage-safe categorical feature encoding for ML training tables.

`target_encode_oof`: out-of-fold target encoding — the standard trick
for turning a high-cardinality categorical column into a numeric
feature WITHOUT leaking each row's own label into its feature value.
Rows are assigned to one of `_N_FOLDS` (5) folds by md5 of their row key
(deterministic, engine-portable, repartition-stable — the
operators/sampling.py `_hash_point` rule); the encoding a fold-f row
receives for category c is the mean target of category c computed over
every OTHER fold. Categories whose out-of-fold support is empty fall
back to the global prior mean.

Exactness (driver oracle gate): targets are carried as exact int64
(callers pre-quantize, e.g. cents); means are published as the scaled
integer floor((SCALE * sum) / cnt) plus the exact (sum, cnt) rational,
so the output is a pure integer function of the input — bit-identical
in Spark and DuckDB.

Scale: one (category, fold) aggregation over the data — everything
after runs on the tiny encoding table (|categories| x _N_FOLDS rows):
per-category totals re-aggregate the FOLD table, not the raw data, and
the global prior is one scalar re-aggregated the same way. No window
over raw rows, no second pass, no join back (the published table IS
the join dimension a training pipeline broadcasts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import _hash_point

_SCALE = 1_000_000
_N_FOLDS = 5


def fold_of(key_col: str) -> F.Column:
    """Deterministic fold id in [0, _N_FOLDS) from md5 of the row key."""
    return F.pmod(_hash_point(F.col(key_col), "oof"), F.lit(_N_FOLDS))


def fold_of_sql(key_expr: str) -> str:
    """DuckDB twin of fold_of (md5 first-8-hex → mod 1e6 → mod folds)."""
    h = (
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR) || ':oof'"
        f"), 1, 8)) AS BIGINT)"
    )
    return f"(({h} % {_SCALE}) % {_N_FOLDS})"


def target_encode_oof(
    df: DataFrame,
    cat_col: str,
    target_int_col: str,
    key_col: str,
) -> DataFrame:
    """Out-of-fold target-encoding table: one row per (category, fold)
    holding the encoding every fold-`fold` row of that category should
    receive — (category, fold, oof_sum, oof_cnt, enc_scaled) with
    enc_scaled = floor(SCALE*oof_sum/oof_cnt), prior-backed when the
    category only occurs inside the fold itself."""
    base = df.select(
        F.col(cat_col).alias("category"),
        F.col(target_int_col).cast("long").alias("t"),
        fold_of(key_col).alias("fold"),
    )
    per_fold = base.groupBy("category", "fold").agg(
        F.sum("t").alias("f_sum"), F.count(F.lit(1)).alias("f_cnt")
    )
    # category totals and the global prior re-aggregate the tiny fold
    # table — no second pass over the data
    per_cat = per_fold.groupBy("category").agg(
        F.sum("f_sum").alias("c_sum"), F.sum("f_cnt").alias("c_cnt")
    )
    prior = per_fold.agg(
        F.sum("f_sum").alias("p_sum"), F.sum("f_cnt").alias("p_cnt")
    )
    # every (category, fold in 0..n_folds) cell, including folds where
    # the category has no rows (those rows still need an encoding)
    cells = per_cat.select(
        "category",
        "c_sum",
        "c_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("fold"),
    )
    j = (
        cells.join(per_fold, ["category", "fold"], "left")
        .crossJoin(F.broadcast(prior))
        .select(
            "category",
            "fold",
            (F.col("c_sum") - F.coalesce(F.col("f_sum"), F.lit(0))).alias(
                "oof_sum"
            ),
            (F.col("c_cnt") - F.coalesce(F.col("f_cnt"), F.lit(0))).alias(
                "oof_cnt"
            ),
            "p_sum",
            "p_cnt",
        )
    )
    enc = F.when(
        F.col("oof_cnt") > 0,
        F.expr(f"({_SCALE} * oof_sum) DIV oof_cnt"),
    ).otherwise(F.expr(f"({_SCALE} * p_sum) DIV p_cnt"))
    return j.select(
        "category",
        F.col("fold").cast("long").alias("fold"),
        "oof_sum",
        "oof_cnt",
        enc.alias("enc_scaled"),
    )


def target_encode_oof_sql(
    rows_sql: str,
    cat_expr: str,
    target_int_expr: str,
    key_expr: str,
) -> str:
    """DuckDB twin of target_encode_oof."""
    fold = fold_of_sql(key_expr)
    return f"""
WITH base AS (
  SELECT {cat_expr} AS category, CAST({target_int_expr} AS BIGINT) AS t,
         {fold} AS fold
  FROM ({rows_sql})
),
per_fold AS (
  SELECT category, fold, CAST(sum(t) AS BIGINT) AS f_sum,
         CAST(count(*) AS BIGINT) AS f_cnt
  FROM base GROUP BY 1, 2
),
per_cat AS (
  SELECT category, CAST(sum(f_sum) AS BIGINT) AS c_sum,
         CAST(sum(f_cnt) AS BIGINT) AS c_cnt
  FROM per_fold GROUP BY 1
),
prior AS (
  SELECT CAST(sum(f_sum) AS BIGINT) AS p_sum,
         CAST(sum(f_cnt) AS BIGINT) AS p_cnt
  FROM per_fold
),
cells AS (
  SELECT c.category, c.c_sum, c.c_cnt, f.fold
  FROM per_cat c
  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS fold) f
)
SELECT c.category, CAST(c.fold AS BIGINT) AS fold,
       c.c_sum - coalesce(pf.f_sum, 0) AS oof_sum,
       c.c_cnt - coalesce(pf.f_cnt, 0) AS oof_cnt,
       CASE WHEN c.c_cnt - coalesce(pf.f_cnt, 0) > 0
            THEN ({_SCALE} * (c.c_sum - coalesce(pf.f_sum, 0)))
                 // (c.c_cnt - coalesce(pf.f_cnt, 0))
            ELSE ({_SCALE} * p.p_sum) // p.p_cnt
       END AS enc_scaled
FROM cells c
LEFT JOIN per_fold pf ON c.category = pf.category AND c.fold = pf.fold
CROSS JOIN prior p
"""
