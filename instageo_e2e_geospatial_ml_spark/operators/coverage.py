"""Greedy maximum-coverage data selection — pick the k documents that
together cover the most distinct tokens (the submodular
facility-location family behind diversity-driven training-data
selection; Nemhauser et al. 1978 give the (1 - 1/e) guarantee).

Greedy is inherently sequential in k, so the operator is a k-round
driver loop (the BPE-training precedent, operators/../functions/text
q90): each round scores every remaining document by its count of
STILL-UNCOVERED tokens with one anti-join + groupBy, takes the argmax
with a one-row collect (ties: lowest doc id), and adds the winner's
tokens to the covered set. All heavy work is distributed; the driver
sees k winner rows total. k is small by definition (you're selecting a
handful of exemplars per bucket), so the job chain is k short stages.

The oracle twin unrolls the same k rounds as CTEs — greedy's argmax
chain is deterministic, so the selections match exactly, round for
round. Marginal-gain rows (round, doc_id, gain, covered_after) are the
output; the pytest asserts the gains are non-increasing (the
submodularity diagnostic) and that each equals the brute-force best
marginal gain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def greedy_coverage(docs: DataFrame, k: int, shingle: int = 1) -> DataFrame:
    """Select k documents greedily maximizing distinct-token coverage
    (shingle=2 covers word BIGRAMS — a larger, more discriminative
    universe). Returns (round, doc_id, gain, covered_after) — one row
    per selection round, 1-based; rounds stop when nothing new can be
    covered."""
    spark = docs.sparkSession
    t = F.split(F.trim(F.col("text")), r"\s+")
    if shingle == 1:
        units = t
    elif shingle == 2:
        # sequence(1, 0) in Spark is the DESCENDING [1, 0], not empty —
        # guard docs with < 2 tokens to an empty array explicitly
        units = F.expr(
            "CASE WHEN size(split(trim(text), '\\\\s+')) >= 2 THEN "
            "transform(sequence(1, size(split(trim(text), "
            f"'\\\\s+')) - 1), "
            "j -> concat(element_at(split(trim(text), '\\\\s+'), j), "
            "' ', element_at(split(trim(text), '\\\\s+'), j + 1))) "
            f"ELSE array() END"
        )
    else:
        raise ValueError("shingle must be 1 or 2")
    toks = (
        docs.select(F.col("doc_id"), F.explode(F.array_distinct(units)).alias("tok"))
        .filter(~F.col("tok").rlike("^\\s*$"))
        .persist()
    )
    covered = None  # DataFrame("tok") of covered tokens
    out_rows = []
    n_covered = 0
    for r in range(1, k + 1):
        cand = toks
        if covered is not None:
            cand = cand.join(F.broadcast(covered), "tok", "left_anti")
        scored = cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("gain"))
        best = scored.orderBy(
            F.col("gain").desc(), F.col("doc_id").asc()
        ).limit(1).collect()
        if not best:
            break
        bid, gain = best[0][0], best[0][1]
        n_covered += gain
        out_rows.append((r, int(bid), int(gain), n_covered))
        win_toks = toks.filter(F.col("doc_id") == bid).select("tok")
        covered = (
            win_toks
            if covered is None
            else covered.unionByName(win_toks).distinct()
        )
    toks.unpersist()
    return spark.createDataFrame(
        out_rows or [],
        "round long, doc_id long, gain long, covered_after long",
    )


def greedy_coverage_sql(table_sql: str, k: int, shingle: int = 1) -> str:
    """The identical greedy rounds unrolled as DuckDB CTEs."""
    i = "doc_id"
    if shingle == 1:
        unit = "t[p] AS tok"
        rng = "generate_series(1, len(t))"
    else:
        unit = "t[p] || ' ' || t[p + 1] AS tok"
        rng = "generate_series(1, greatest(len(t) - 1, 0))"
    parts = [
        f"""tok AS MATERIALIZED (
  SELECT DISTINCT {i}, tok FROM (
    SELECT {i}, {unit} FROM (
      SELECT {i}, t, unnest({rng}) AS p FROM (
        SELECT {i}, string_split_regex(trim(text), '\\s+') AS t
        FROM ({table_sql})
      )
    )
  ) WHERE NOT regexp_matches(tok, '^\\s*$')
)"""
    ]
    prev_cov = None
    sels = []
    for r in range(1, k + 1):
        cand = (
            "tok"
            if prev_cov is None
            else f"(SELECT t.* FROM tok t WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev_cov} c WHERE c.tok = t.tok))"
        )
        parts.append(
            f"""w{r} AS MATERIALIZED (
  SELECT {i}, CAST(count(*) AS BIGINT) AS gain
  FROM {cand} x GROUP BY 1
  ORDER BY gain DESC, {i} ASC LIMIT 1
)"""
        )
        cov = f"cov{r}"
        prev_src = (
            f"SELECT tok FROM tok WHERE {i} = (SELECT {i} FROM w{r})"
            if r == 1
            else f"SELECT tok FROM cov{r - 1} UNION "
            f"SELECT tok FROM tok WHERE {i} = (SELECT {i} FROM w{r})"
        )
        parts.append(f"{cov} AS MATERIALIZED ({prev_src})")
        prev_cov = cov
        sels.append(
            f"SELECT {r} AS round, (SELECT {i} FROM w{r}) AS doc_id, "
            f"(SELECT gain FROM w{r}) AS gain, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM cov{r}) AS covered_after "
            f"WHERE EXISTS (SELECT 1 FROM w{r})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(sels)
    )
