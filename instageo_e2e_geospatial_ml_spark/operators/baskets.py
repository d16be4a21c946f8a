"""Frequent-itemset mining (Apriori, Agrawal & Srikant VLDB'94) —
distributed candidate generation with the downward-closure prune.

q99's pair co-occurrence is the k=2 slice; real basket analysis needs
k=3+ where the naive approach explodes: all item triples over a basket
is |basket|³ rows per basket. Apriori's insight — every subset of a
frequent itemset is frequent — turns this into: count singletons, keep
the frequent ones, count pairs ONLY over frequent items, keep frequent
pairs, generate triple candidates ONLY by joining frequent pairs that
share their first item AND whose closing pair is also frequent, then
make one counting pass. The candidate table is usually tiny, so the
final count is a broadcast semi-join pass over the baskets.

Exactness: supports are plain counts; downward closure is a pure
pruning optimization — the output (all triples with support >=
min_support, lexicographically a < b < c) is identical to the brute
force, which is exactly what the DuckDB oracle computes (the oracle
doubles as a losslessness proof for the pruning).

Scale: the within-basket self-joins key on the basket id (bounded
basket size); frequent-pair and candidate tables broadcast; one
aggregate per level — the standard 3-pass distributed Apriori.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_triples(baskets: DataFrame, min_support: int) -> DataFrame:
    """(basket, item) rows → frequent triples (a < b < c, support >=
    min_support): (a, b, c, support)."""
    b = baskets.select(
        F.col("oid"), F.col("item")
    ).distinct()
    f1 = (
        b.groupBy("item")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= min_support)
        .select("item")
    )
    bf = b.join(F.broadcast(f1), "item").select("oid", "item")
    pairs = (
        bf.alias("x")
        .join(bf.alias("y"), "oid")
        .filter(F.col("x.item") < F.col("y.item"))
        .groupBy(
            F.col("x.item").alias("a"), F.col("y.item").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= min_support)
        .select("a", "b")
    )
    # candidate triples: (a,b) ⋈ (a,c) with b < c, and (b,c) frequent
    cand = (
        pairs.alias("p")
        .join(
            pairs.select(
                F.col("a").alias("a2"), F.col("b").alias("c")
            ).alias("q"),
            F.col("p.a") == F.col("a2"),
        )
        .filter(F.col("p.b") < F.col("c"))
        .select("a", F.col("p.b").alias("b"), "c")
        .join(
            pairs.select(
                F.col("a").alias("b"), F.col("b").alias("c")
            ),
            ["b", "c"],
        )
    )
    # counting pass: a triple occurs in a basket iff all three items do
    t = (
        bf.alias("i")
        .join(bf.alias("j"), "oid")
        .join(bf.alias("k"), "oid")
        .filter(
            (F.col("i.item") < F.col("j.item"))
            & (F.col("j.item") < F.col("k.item"))
        )
        .select(
            "oid",
            F.col("i.item").alias("a"),
            F.col("j.item").alias("b"),
            F.col("k.item").alias("c"),
        )
        .join(F.broadcast(cand), ["a", "b", "c"])
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return t


def frequent_triples_sql(
    baskets_sql: str, min_support: int
) -> str:
    """DuckDB twin — deliberately the BRUTE-FORCE triple count (no
    pruning), proving Apriori's candidate generation lossless."""
    return f"""
WITH b AS (SELECT DISTINCT oid, item FROM ({baskets_sql}))
SELECT i.item AS a, j.item AS b, k.item AS c,
       CAST(count(*) AS BIGINT) AS support
FROM b i
JOIN b j ON i.oid = j.oid AND i.item < j.item
JOIN b k ON j.oid = k.oid AND j.item < k.item
GROUP BY 1, 2, 3
HAVING count(*) >= {min_support}
"""
