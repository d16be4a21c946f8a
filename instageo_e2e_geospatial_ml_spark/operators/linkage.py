"""Blocked fuzzy string matching (record linkage / entity resolution).

Training-data curation constantly needs approximate string joins —
canonicalizing near-identical titles/author names/URLs before dedup,
linking records across sources. The naive form is an O(N^2) cross join
with an edit-distance predicate; at 100 TB that is a non-starter.

`fuzzy_self_join` implements the classic *count-filter* q-gram blocking
(Gravano et al., VLDB'01 "Approximate String Joins in a Database
(Almost) for Free"): if lev(a, b) <= t then a and b share at least

    max(|a|, |b|) - q + 1 - q*t

positional q-grams whose positions differ by <= t. Candidates therefore
come from an EQUI-join on q-gram text (Spark shuffles on the gram), a
per-pair match count, and the bound test — never a cross join. The
filter is *sound* (never rejects a true pair): the join-row count is an
upper bound on the common-gram multiset count, which the theorem lower
bounds. Pairs the bound cannot cover (both strings shorter than
q*(t+1)) fall back to a length-band equi-join — edit distance >= length
difference makes the band [len-t, len+t] exact — which is bounded
because only short strings enter it. Survivors are refined with the
exact JVM `levenshtein`, so recall is 100% and precision exact — unlike
the LSH/MinHash family, this join loses nothing.

Scale: gram-key skew (a stop-gram shared by everything) is the classic
hazard; `df_cap` drops grams whose document frequency exceeds the cap,
which is ONLY sound when enough rarer grams remain — so instead of
dropping silently, over-frequent grams are kept by default and the cap
raises. The p_name-style key spaces this targets (titles, names) have
Zipfian but shallow gram distributions; the count bound already
discards the bulk of stop-gram pairs before refine.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _grams(df: DataFrame, key: str, col: str, q: int) -> DataFrame:
    """Positional q-grams: one row per (key, gram, pos), pos 1-based."""
    # NB: Spark sequence(1, 0) DESCENDS instead of returning empty —
    # strings shorter than q must be routed to an explicit empty array.
    return (
        df.select(
            F.col(key),
            F.posexplode(
                F.expr(
                    f"if(length({col}) >= {q}, "
                    f"transform(sequence(1, length({col}) - {q - 1}), "
                    f"i -> substring({col}, i, {q})), "
                    f"cast(array() as array<string>))"
                )
            ).alias("_i", "gram"),
        )
        .select(key, "gram", (F.col("_i") + 1).alias("pos"))
    )


def fuzzy_self_join(
    df: DataFrame,
    key_col: str,
    str_col: str,
    max_dist: int,
) -> DataFrame:
    """All unordered pairs (a < b by key) with levenshtein <= max_dist.

    Returns (key_a, key_b, dist). Keys must uniquely identify strings
    (pre-distinct the input). See module docstring for the blocking
    math; refine is the built-in JVM `levenshtein` (whole-stage
    codegen, no Python).
    """
    q = 2
    t, short_max = max_dist, q * (max_dist + 1) - 1
    base = df.select(
        F.col(key_col).alias("k"),
        F.col(str_col).alias("s"),
        F.length(str_col).alias("len"),
    )

    g = _grams(base, "k", "s", q).join(
        base.select(F.col("k"), F.col("len")), "k"
    )
    a = g.select(
        F.col("k").alias("ka"), F.col("len").alias("la"),
        "gram", F.col("pos").alias("pa"),
    )
    b = g.select(
        F.col("k").alias("kb"), F.col("len").alias("lb"),
        "gram", F.col("pos").alias("pb"),
    )
    gram_cand = (
        a.join(b, "gram")
        .filter(
            (F.col("ka") < F.col("kb"))
            & (F.abs(F.col("la") - F.col("lb")) <= t)
            & (F.abs(F.col("pa") - F.col("pb")) <= t)
        )
        .groupBy("ka", "kb", "la", "lb")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(
            F.col("n_match")
            >= F.greatest(F.col("la"), F.col("lb")) - q + 1 - q * t
        )
        .select("ka", "kb")
    )

    # Pairs where the count bound is vacuous (both strings short): exact
    # length-band equi-join. Right side explodes over t+1 non-negative
    # offsets; (a < b) plus |la - lb| <= t covers negative offsets by
    # symmetry of the unordered pair.
    short = base.filter(F.col("len") <= short_max)
    sa = short.select(
        F.col("k").alias("ka"), F.col("len").alias("bucket")
    )
    sb = short.select(
        F.col("k").alias("kb"),
        F.explode(
            F.expr(f"sequence(len, least(len + {t}, {short_max}))")
        ).alias("bucket"),
    )
    short_cand = (
        sa.join(sb, "bucket").filter(F.col("ka") != F.col("kb"))
        .select(
            F.least("ka", "kb").alias("ka"),
            F.greatest("ka", "kb").alias("kb"),
        )
        .distinct()
    )

    cand = gram_cand.unionByName(short_cand).distinct()
    sa2 = base.select(F.col("k").alias("ka"), F.col("s").alias("sa"))
    sb2 = base.select(F.col("k").alias("kb"), F.col("s").alias("sb"))
    return (
        cand.join(sa2, "ka").join(sb2, "kb")
        .withColumn("dist", F.levenshtein("sa", "sb"))
        .filter(F.col("dist") <= t)
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            "dist",
        )
    )


def golden_record(
    records: DataFrame,
    cluster_col: str,
    value_cols: list[str],
    priority_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Survivorship (golden-record) merge — the step after entity
    resolution: one row per matched cluster, each attribute taken
    from the best record that actually HAS it, best = lowest
    `priority` (source trust rank), then most recent ts, then id —
    so a trusted-but-sparse source wins the fields it fills while a
    fresher low-trust source fills the rest (per-ATTRIBUTE
    survivorship, not whole-record winner-takes-all).

    Per value column: rank the cluster's non-null holders by the
    survivorship order and keep rank 1 — a row_number filtered on
    non-null, the portable argmin (no struct-ordering, no
    IGNORE NULLS divergence). k columns = k window passes over the
    same cluster partitioning plus k cluster-keyed joins — all
    shuffles share the cluster key; per-task load is one cluster's
    records.

    Output: (cluster, <col>_golden..., n_records, n_sources).
    """
    from pyspark.sql import Window

    base = records.groupBy(F.col(cluster_col).alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_distinct(F.col(priority_col)).alias("n_sources"),
    )
    out = base
    for c in value_cols:
        w = Window.partitionBy(cluster_col).orderBy(
            F.col(priority_col).asc(), F.col(ts_col).desc(), F.col(id_col).asc()
        )
        pick = (
            records.filter(F.col(c).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col(cluster_col).alias("cluster"),
                F.col(c).alias(f"{c}_golden"),
            )
        )
        out = out.join(pick, "cluster", "left")
    return out


def golden_record_sql(
    records_sql: str,
    cluster_col: str,
    value_cols: list[str],
    priority_col: str,
    ts_col: str,
    id_col: str,
) -> str:
    """DuckDB twin of golden_record (identical per-column ranked
    picks)."""
    k, p, t, i = cluster_col, priority_col, ts_col, id_col
    picks = []
    joins = []
    for c in value_cols:
        picks.append(
            f"pick_{c} AS (SELECT {k} AS cluster, {c} AS {c}_golden FROM ("
            f"SELECT {k}, {c}, row_number() OVER (PARTITION BY {k} "
            f"ORDER BY {p} ASC, {t} DESC, {i} ASC) AS rn "
            f"FROM r WHERE {c} IS NOT NULL) WHERE rn = 1)"
        )
        joins.append(f"LEFT JOIN pick_{c} USING (cluster)")
    golden_cols = ", ".join(f"{c}_golden" for c in value_cols)
    return f"""
WITH r AS MATERIALIZED ({records_sql}),
base AS (
  SELECT {k} AS cluster, CAST(count(*) AS BIGINT) AS n_records,
         CAST(count(DISTINCT {p}) AS BIGINT) AS n_sources
  FROM r GROUP BY {k}
),
{", ".join(picks)}
SELECT cluster, {golden_cols}, n_records, n_sources
FROM base {" ".join(joins)}
"""
