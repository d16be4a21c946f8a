"""Declarative data-quality constraint suite (the Deequ/Great-
Expectations primitive): validate a table against a list of
constraints and emit one report row per constraint —
(check_name, n_rows, n_violations, passed).

A 100 TB ingest gate needs this as ONE pass, not one job per check:
every constraint compiles to a conditional aggregate (SUM(CASE ...))
over the same scan, plus count(DISTINCT col) for uniqueness, so the
whole suite is a single partial-aggregated job regardless of how many
constraints it carries. The wide one-row result is exploded to long
form with `stack` — driver-side constant metadata only, no second
scan. All integer arithmetic; the DuckDB twin (check_constraints_sql)
aggregates the identical expressions and unions the identical rows.

Constraint kinds (col is any column; violations never count NULLs
except for not_null itself):
  ("name", "not_null",  col, None)        value IS NULL
  ("name", "unique",    col, None)        count(col) - count(DISTINCT col)
  ("name", "min",       col, bound)       value < bound
  ("name", "max",       col, bound)       value > bound
  ("name", "in_set",    col, (v, ...))    value not in the set
  ("name", "matches",   col, regex)       value !~ regex (RE2-safe subset)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KINDS = ("not_null", "unique", "min", "max", "in_set", "matches")


def _violation_expr(kind: str, col: str, param):
    c = F.col(col)
    if kind == "not_null":
        return F.sum(c.isNull().cast("long"))
    if kind == "unique":
        return F.count(c) - F.count_distinct(c)
    if kind == "min":
        return F.sum((c < F.lit(param)).cast("long"))
    if kind == "max":
        return F.sum((c > F.lit(param)).cast("long"))
    if kind == "in_set":
        return F.sum((~c.isin(list(param)) & c.isNotNull()).cast("long"))
    if kind == "matches":
        return F.sum(
            (c.isNotNull() & ~c.rlike(param)).cast("long")
        )
    raise ValueError(f"unknown constraint kind {kind!r} (want one of {_KINDS})")


def check_constraints(df: DataFrame, constraints: list[tuple]) -> DataFrame:
    """Run the suite in one aggregation pass; returns the long-form
    report (check_name, n_rows, n_violations, passed) with passed as
    0/1 int. SUM over an empty table is NULL — coalesced to 0 so an
    empty input passes every bound/set/regex check and fails none."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (name, kind, col, param) in enumerate(constraints):
        aggs.append(
            F.coalesce(_violation_expr(kind, col, param), F.lit(0))
            .cast("long")
            .alias(f"_v{i}")
        )
    wide = df.agg(*aggs)
    pairs = ", ".join(
        f"'{name}', _v{i}" for i, (name, _, _, _) in enumerate(constraints)
    )
    return wide.selectExpr(
        f"stack({len(constraints)}, {pairs}) AS (check_name, n_violations)",
        "_n",
    ).select(
        "check_name",
        F.col("_n").cast("long").alias("n_rows"),
        "n_violations",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    )


def _violation_sql(kind: str, col: str, param) -> str:
    if kind == "not_null":
        return f"SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)"
    if kind == "unique":
        return f"count({col}) - count(DISTINCT {col})"
    if kind == "min":
        return f"SUM(CASE WHEN {col} < {param} THEN 1 ELSE 0 END)"
    if kind == "max":
        return f"SUM(CASE WHEN {col} > {param} THEN 1 ELSE 0 END)"
    if kind == "in_set":
        vals = ", ".join(
            f"'{v}'" if isinstance(v, str) else str(v) for v in param
        )
        return (
            f"SUM(CASE WHEN {col} IS NOT NULL AND {col} NOT IN ({vals}) "
            f"THEN 1 ELSE 0 END)"
        )
    if kind == "matches":
        return (
            f"SUM(CASE WHEN {col} IS NOT NULL AND NOT "
            f"regexp_matches({col}, '{param}') THEN 1 ELSE 0 END)"
        )
    raise ValueError(f"unknown constraint kind {kind!r}")


def check_constraints_sql(table_sql: str, constraints: list[tuple]) -> str:
    """The identical one-pass suite as DuckDB SQL (oracle twin).

    NOTE regex parity: `matches` constraints must stay inside the
    lookahead-free ASCII-class subset both engines agree on (Spark
    rlike is java.util.regex with unanchored find; DuckDB
    regexp_matches is RE2 with unanchored search — identical on that
    subset)."""
    vs = ", ".join(
        f"COALESCE(CAST({_violation_sql(k, c, p)} AS BIGINT), 0) AS v{i}"
        for i, (_, k, c, p) in enumerate(constraints)
    )
    rows = " UNION ALL ".join(
        f"SELECT '{name}' AS check_name, CAST(n AS BIGINT) AS n_rows, "
        f"v{i} AS n_violations, "
        f"CAST(CASE WHEN v{i} = 0 THEN 1 ELSE 0 END AS INTEGER) AS passed "
        f"FROM w"
        for i, (name, _, _, _) in enumerate(constraints)
    )
    # MATERIALIZED: w is referenced once per constraint row and DuckDB
    # re-evaluates plain CTEs per reference (the q121 lesson).
    return (
        f"WITH w AS MATERIALIZED "
        f"(SELECT count(*) AS n, {vs} FROM ({table_sql}))\n{rows}"
    )


def embedding_audit(vectors: DataFrame, expected_dim: int) -> DataFrame:
    """Vector-column quality audit — the gate an ANN/retrieval
    pipeline runs before indexing (a handful of zero vectors or NaNs
    silently poison IVF training and cosine ranking): per vector, the
    dimension, NaN/zero-element counts, and the quantized squared
    norm Σ round(x·100)² — an exact integer, so degeneracy
    (norm2_q = 0: the all-~zero vector cosine cannot rank) and dim
    drift (dim_ok) are integer predicates, not float-epsilon ones.

    Pure JVM: size() + two higher-order aggregates over the array —
    no explode (the vector never leaves its row), no Python, scan
    speed. The quantization matches the engine's ANN family (q17/q25
    x100 rule), so 'degenerate here' == 'invisible to the ANN ops'.
    """
    v = F.col("embedding")
    # NaN guard FIRST: round(NaN)::bigint throws under ANSI; a NaN
    # element contributes 0 to the norm and is counted in n_nan
    # (degenerate flags the vector regardless)
    q = (
        "case when isnan(cast(x as double)) then cast(0 as bigint) "
        "else cast(round(cast(x as double) * 100, 0) as bigint) end"
    )
    norm2 = F.expr(
        f"aggregate(transform(embedding, x -> {q} * {q}), "
        f"cast(0 as bigint), (a, b) -> a + b)"
    )
    n_nan = F.expr("size(filter(embedding, x -> isnan(cast(x as double))))")
    n_zero = F.expr(
        "size(filter(embedding, "
        f"x -> NOT isnan(cast(x as double)) AND {q} = 0))"
    )
    out = vectors.select(
        F.col("vec_id"),
        F.size(v).cast("long").alias("dim"),
        n_nan.cast("long").alias("n_nan"),
        n_zero.cast("long").alias("n_zero"),
        norm2.cast("long").alias("norm2_q"),
    ).withColumn(
        "degenerate",
        ((F.col("norm2_q") == 0) | (F.col("n_nan") > 0)).cast("int"),
    )
    return out.withColumn("dim_ok", (F.col("dim") == expected_dim).cast("int"))


def embedding_audit_sql(vectors_sql: str, expected_dim: int) -> str:
    """DuckDB twin of embedding_audit over (vec_id, embedding)."""
    q = (
        f"CASE WHEN isnan(CAST(x AS DOUBLE)) THEN CAST(0 AS BIGINT) "
        "ELSE CAST(round(CAST(x AS DOUBLE) * 100, 0) AS BIGINT) END"
    )
    return f"""
WITH v AS ({vectors_sql}),
a AS (
  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         CAST(len(list_filter(embedding,
           x -> isnan(CAST(x AS DOUBLE)))) AS BIGINT) AS n_nan,
         CAST(len(list_filter(embedding,
           x -> NOT isnan(CAST(x AS DOUBLE)) AND {q} = 0)) AS BIGINT)
           AS n_zero,
         CAST(list_aggregate(list_transform(embedding,
           x -> {q} * {q}), 'sum') AS BIGINT) AS norm2_q
  FROM v
)
SELECT vec_id, dim, n_nan, n_zero, norm2_q,
       CAST(CASE WHEN norm2_q = 0 OR n_nan > 0 THEN 1 ELSE 0 END AS INTEGER)
         AS degenerate, CAST(CASE WHEN dim = {expected_dim} THEN 1 ELSE 0 END AS INTEGER) AS dim_ok
FROM a
"""


def referential_audit(
    fact: DataFrame,
    relationships: list[tuple],
) -> DataFrame:
    """Referential-integrity report — the warehouse FK audit
    (constraints nobody enforces at 100 TB still break joins
    silently: an orphan fact row vanishes from every inner join that
    should have counted it): for each (name, fact_key_col, dim_df,
    dim_key_col) relationship, the fact count, NULL-key count, orphan
    count (non-null key with no dim match) and distinct orphan keys.

    Each relationship is one LEFT join against the DISTINCT dim keys
    with a hit marker, folded to a single conditional-aggregate row —
    no driver-side .count() per relationship, so the whole audit is
    one union of join-aggregate jobs; dim key sides are distinct
    projections (small next to facts — AQE broadcasts them). Emits
    (relationship, n_facts, n_null_keys, n_orphans,
    n_orphan_keys).
    """
    outs = []
    for name, fk, dim, dk in relationships:
        keys = dim.select(F.col(dk).alias("_k")).distinct().withColumn(
            "_hit", F.lit(1)
        )
        j = fact.select(F.col(fk).alias("_k")).join(keys, "_k", "left")
        orphan = F.col("_k").isNotNull() & F.col("_hit").isNull()
        outs.append(
            j.agg(
                F.lit(name).alias("relationship"),
                F.count(F.lit(1)).alias("n_facts"),
                F.sum(F.col("_k").isNull().cast("long")).alias("n_null_keys"),
                F.sum(orphan.cast("long")).alias("n_orphans"),
                F.count_distinct(
                    F.when(orphan, F.col("_k"))
                ).alias("n_orphan_keys"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def referential_audit_sql(relationships: list[tuple]) -> str:
    """DuckDB twin of referential_audit; relationships are
    (name, fact_sql_with__k, dim_sql_with__k) — both subqueries
    exposing the key as `_k`."""
    parts = []
    for name, fact_sql, dim_sql in relationships:
        parts.append(f"""
SELECT '{name}' AS relationship,
       CAST(count(*) AS BIGINT) AS n_facts,
       CAST(sum(CASE WHEN f._k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_keys,
       CAST(sum(CASE WHEN f._k IS NOT NULL AND d._hit IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
       CAST(count(DISTINCT CASE WHEN f._k IS NOT NULL AND d._hit IS NULL
                THEN f._k END) AS BIGINT) AS n_orphan_keys
FROM ({fact_sql}) f
LEFT JOIN (SELECT DISTINCT _k, 1 AS _hit FROM ({dim_sql})) d
  ON f._k = d._k""")
    return "\nUNION ALL\n".join(parts)


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
) -> DataFrame:
    """Privacy re-identification audit: group rows by their
    quasi-identifier combination and report, per equivalence-class
    SIZE BUCKET, how many classes/rows fall there — classes smaller
    than k violate k-anonymity (suppression candidates) — plus the
    l-diversity floor (min distinct sensitive values over classes in
    the bucket; a 1 means attribute disclosure even where k holds).

    Output per bucket ('1', '2..k-1', '>=k'): n_classes, n_rows,
    n_rows_violating (rows needing suppression under plain
    k-suppression), min_l (l-diversity floor). Pure counting — exact.

    Scale: one groupBy over the quasi columns (map-side combining),
    then aggregation of the class table (one row per equivalence
    class)."""
    cls = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct(sensitive_col).alias("l_div"),
    )
    bucket = (
        F.when(F.col("sz") == 1, "1")
        .when(F.col("sz") < k, f"2..{k - 1}")
        .otherwise(f">={k}")
    )
    return (
        cls.select(bucket.alias("bucket"), "sz", "l_div")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("sz").alias("n_rows"),
            F.sum(
                F.when(F.col("sz") < k, F.col("sz")).otherwise(0)
            ).alias("n_rows_violating"),
            F.min("l_div").alias("min_l"),
        )
    )


def k_anonymity_audit_sql(
    rows_sql: str,
    quasi_cols: list[str],
    sensitive_col: str,
) -> str:
    """DuckDB twin of k_anonymity_audit."""
    qi = ", ".join(quasi_cols)
    return f"""
WITH cls AS (
  SELECT {qi}, CAST(count(*) AS BIGINT) AS sz,
         CAST(count(DISTINCT {sensitive_col}) AS BIGINT) AS l_div
  FROM ({rows_sql}) GROUP BY {qi}
),
b AS (
  SELECT CASE WHEN sz = 1 THEN '1'
              WHEN sz < 5 THEN '2..4'
              ELSE '>=5' END AS bucket,
         sz, l_div
  FROM cls
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS n_rows_violating,
       CAST(min(l_div) AS BIGINT) AS min_l
FROM b GROUP BY bucket
"""
