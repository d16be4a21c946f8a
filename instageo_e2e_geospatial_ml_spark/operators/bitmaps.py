"""Bitmap-index membership: packed-word set representation + bitwise
set algebra — the roaring/Judy-bitmap primitive of OLAP engines
(Druid/Pinot/ClickHouse segment indexes), expressed relationally.

A set of non-negative int ids becomes rows (word_idx, word): bit
`id % 63` of word `id div 63` (63 bits per word — bit 62 is the top;
shifting into bit 63 overflows DuckDB's checked `<<`, so the sign bit
stays unused). Set algebra is then word-aligned joins + bitwise ops:

    |A ∩ B| = sum over shared word_idx of bit_count(a.word & b.word)

which is how a columnar engine intersects segment filters — no row
explosion, one int64 AND per 63 members. The words build with one
bit_or aggregation (map-side combinable); intersections of S sets
join S bitmap tables on word_idx. Density note: this dense-word
encoding suits id spaces with clustered keys (surrogate ints);
roaring's run/array containers are a compression of the same rows,
same algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITS = 63


def bitmap_words(members: DataFrame) -> DataFrame:
    """(set, id) membership rows -> (s, word_idx, word) packed bitmap."""
    return (
        members.select(
            F.col("s"),
            F.expr(f"id div {BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(id % {BITS} AS INT))"
            ).alias("bit"),
        )
        .groupBy("s", "word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )


def bitmap_intersections(words: DataFrame) -> DataFrame:
    """All pairwise set intersection/union sizes from one packed bitmap
    table: self-join on word_idx (s_a < s_b), AND + bit_count, plus
    per-set cardinalities re-derived from the words themselves so the
    union comes by inclusion-exclusion — no second scan of the raw
    membership rows."""
    card = words.groupBy("s").agg(
        F.sum(F.expr("bit_count(word)")).alias("n")
    )
    a = words.select(
        F.col("s").alias("s_a"), "word_idx", F.col("word").alias("wa")
    )
    b = words.select(
        F.col("s").alias("s_b"), "word_idx", F.col("word").alias("wb")
    )
    inter = (
        a.join(b, "word_idx")
        .filter(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(F.sum(F.expr("bit_count(wa & wb)")).alias("n_inter"))
    )
    return (
        inter.join(card.withColumnRenamed("s", "s_a").withColumnRenamed("n", "n_a"), "s_a")
        .join(card.withColumnRenamed("s", "s_b").withColumnRenamed("n", "n_b"), "s_b")
        .select(
            "s_a",
            "s_b",
            "n_a",
            "n_b",
            "n_inter",
            (F.col("n_a") + F.col("n_b") - F.col("n_inter")).alias(
                "n_union"
            ),
        )
    )


def bitmap_intersections_sql(members_sql: str) -> str:
    """DuckDB twin: identical packing (63-bit words, checked `<<` never
    reaches the sign bit) and word-aligned algebra. `members_sql`
    yields (s, id)."""
    return f"""
WITH m AS (SELECT s, CAST(id AS BIGINT) AS id FROM ({members_sql})),
words AS (
  SELECT s, id // {BITS} AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(id % {BITS} AS INT)) AS word
  FROM m GROUP BY 1, 2
),
card AS (SELECT s, CAST(sum(bit_count(word)) AS BIGINT) AS n FROM words GROUP BY 1),
inter AS (
  SELECT a.s AS s_a, b.s AS s_b,
         CAST(sum(bit_count(a.word & b.word)) AS BIGINT) AS n_inter
  FROM words a JOIN words b ON a.word_idx = b.word_idx AND a.s < b.s
  GROUP BY 1, 2
)
SELECT i.s_a, i.s_b, ca.n AS n_a, cb.n AS n_b, i.n_inter,
       ca.n + cb.n - i.n_inter AS n_union
FROM inter i
JOIN card ca ON ca.s = i.s_a
JOIN card cb ON cb.s = i.s_b
"""
