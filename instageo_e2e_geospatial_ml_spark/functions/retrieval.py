"""Retrieval / language-model-flavoured document scoring.

The remaining text-quality tools a training-data pipeline reaches for
once dedup + heuristic gates are in place:

  * bm25_scores — classic lexical relevance of every document against a
    FIXED query term set (data selection by relevance to a seed query is
    the standard "quality by similarity-to-known-good" trick);
  * bigram_surprisal_scores — a count-based stand-in for LM-perplexity
    filtering (the CCNet recipe without a trained LM): rare bigram
    transitions ⇒ high surprisal ⇒ likely noise;
  * top_terms — per-group vocabulary report (top-n tokens by frequency).

Exactness rules (driver oracle gate):
  * BM25 keeps every per-term contribution as a FIXED-SHAPE expression
    (the term list is static, so tf/df pivot into columns and the final
    score is a literal chained sum — no order-dependent float agg);
  * surprisal stays in integers until the final division: the bucket is
    floor(log2(1 + (c1 + V) div (c12 + 1))) — the token_rarity log2-bucket
    pattern, summed exactly as int64.

All pure Catalyst column algebra — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import spread_input, tokens


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """BM25 score of every document against `query_terms` →
    (id, dl, tf_<i>..., bm25).

    One token explode → one doc-keyed aggregation (per-term tf as
    conditional sums — integers) → one single-row corpus-stats aggregate
    (N, Σdl, per-term df) broadcast back → a fixed-shape score expression.
    Two shuffles total at any corpus size; the per-term pivot keeps the
    float arithmetic order-independent (each contribution is one literal
    expression, summed in term order).
    """
    tok = spread_input(docs).select("doc_id", F.explode(tokens("text")).alias("tok"))
    per = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    j = per.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        denom = tf + F.lit(1.2) * (
            F.lit(1.0)
            - F.lit(0.75)
            + F.lit(0.75) * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
        )
        contrib = idf * (tf * F.lit(2.2)) / denom
        score = contrib if score is None else score + contrib
    return j.select(
        "doc_id",
        "dl",
        *[f"tf_{i}" for i in range(len(query_terms))],
        F.round(score, 6).alias("bm25"),
    )


def bigram_surprisal_scores(docs: DataFrame) -> DataFrame:
    """Count-based bigram surprisal per document →
    (id, n_bigrams, surprisal_sum, surprisal_mean).

    Per bigram occurrence (w1, w2): with c1 = corpus count of w1 as a
    bigram left-token, c12 = corpus count of (w1, w2), and V = distinct
    left-token vocabulary (add-V smoothing), the surprisal bucket is
    floor(log2(1 + (c1 + V) div (c12 + 1))) — an integer proxy for
    −log2 P(w2|w1) that stays exact in any engine (the token_rarity
    pattern). High mean ⇒ improbable transitions ⇒ likely noise.

    Plan: the bigram table feeds three subtrees (c12, c1, and the scored
    join); Catalyst does not reuse the exchange across them, so it is
    materialized once with a lazy localCheckpoint (the q15 lesson),
    then two token-keyed joins back (AQE sizes them) and one doc-keyed
    aggregation.
    """
    t = tokens("text")
    big = (
        spread_input(docs).withColumn("_toks", t)
        .filter(F.size("_toks") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - 1)).alias("_i"),
            "_toks",
        )
        .select(
            "doc_id",
            F.element_at("_toks", F.col("_i")).alias("w1"),
            F.element_at("_toks", F.col("_i") + 1).alias("w2"),
        )
    )
    big = big.localCheckpoint(eager=False)
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = c1.agg(F.count(F.lit(1)).alias("v"))
    # (round 8: a bucket-per-distinct-bigram restructure — score the c12
    # table, join the occurrence stream once — was MEASURED AND REVERTED:
    # interleaved same-session A/B showed it neutral-to-worse; only the
    # spread_input above survived, which is where the win was.)
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .withColumn(
            "bucket",
            F.floor(
                F.log2(
                    F.lit(1)
                    + F.expr("(c1 + v) div (c12 + 1)")
                )
            ).cast("long"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("bucket").alias("surprisal_sum"),
        F.round(F.sum("bucket") / F.count(F.lit(1)), 6).alias("surprisal_mean"),
    )


def top_terms(docs: DataFrame, n: int = 10) -> DataFrame:
    """Top-n tokens by frequency per group → (group, tok, cnt, rank).

    groupBy + rank window with ties broken by token — Spark turns the
    rank<=n filter into a WindowGroupLimit (partial top-n below the sort),
    so only n rows per group per partition reach the final exchange.
    """
    cnt = (
        spread_input(docs).select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), F.col("tok").asc())
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select("source", "tok", "cnt", F.col("rank").cast("long").alias("rank"))
    )


def inverted_index(docs):
    """Build the retrieval inverted index: per term, document frequency,
    total term frequency, and an order-canonical digest of the posting
    list ("doc:tf" pairs sorted by doc id) → (term, df, total_tf,
    postings_md5). The digest stands in for the physical posting array
    so the result hashes identically across engines regardless of array
    encoding.

    Plan: one explode + two hash aggregations keyed on the term — the
    exact-dedup shuffle shape; df filtering prunes the hapax tail
    (min_df = 2) BEFORE the posting-list concat so the giant singleton
    vocabulary never reaches the string build. Head terms (stopword-like
    df ~ corpus size) concentrate one group per term — at 100 TB the
    posting digest for those would switch to a chunked tree-merge;
    documented, not needed at bench scale. Exact DuckDB twin: q62."""
    from pyspark.sql import functions as F

    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                        lambda s: F.concat_ws(":", s["doc_id"], s["tf"]),
                    ),
                    " ",
                )
            ).alias("postings_md5"),
        )
        .filter(F.col("df") >= 2)
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("total_tf").cast("long").alias("total_tf"),
            "postings_md5",
        )
    )


def skipgram_counts(docs, window: int = 2, min_count: int = 2):
    """Skip-gram (center, context) co-occurrence counts within ±window
    positions — the word2vec / embedding-training corpus statistic.

    Plan: positions explode once, then the context pairing is an
    EQUI-join on (doc, pos + k) for k in ±window \\ {0} (offsets
    exploded first), never a per-document cross join — row volume is
    exactly tokens × 2·window before the count aggregation, and the
    join keys carry the doc id so co-location is a hash shuffle.
    Exact DuckDB twin: q63."""
    from pyspark.sql import functions as F

    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "tok"),
    )
    offsets = F.array(
        *[F.lit(k) for k in range(-window, window + 1) if k != 0]
    )
    left = toks.select(
        "doc_id",
        F.col("tok").alias("center"),
        "pos",
        F.explode(offsets).alias("off"),
    ).select(
        "doc_id",
        "center",
        (F.col("pos") + F.col("off")).alias("pos2"),
    )
    pairs = left.join(
        toks.select("doc_id", F.col("pos").alias("pos2"), F.col("tok").alias("context")),
        ["doc_id", "pos2"],
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def rrf_fuse(df, group_col: str, id_col: str, score_cols: list[str], top_n: int = 5):
    """Reciprocal-rank fusion (Cormack et al. SIGIR'09) — the standard
    way to combine heterogeneous retrieval signals (BM25 + vector
    similarity, or any scored lists) without calibrating their score
    scales: each signal contributes 1/(60 + rank), only the ORDER of
    each list matters. Kept exact: the contribution is the integer
    1e6 div (60 + rank), so fused scores and the final ordering are
    engine-identical (float 1/(60+r) sums would be association-
    sensitive). Ranks are dense per (group, signal), descending score
    with ascending id tie-break — fully deterministic.

    Emits (group, id, rank_<sig>..., rrf_score, rrf_rank) for the top_n
    fused ranks per group (ties broken by id).

    Plan: one window per signal over the same (group) partitioning —
    Catalyst shares the Exchange; a group's candidate list is the unit
    of parallelism (bounded by the retriever's candidate cap, not the
    corpus).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = df
    fused = None
    for sc in score_cols:
        w = Window.partitionBy(group_col).orderBy(
            F.col(sc).desc(), F.col(id_col).asc()
        )
        rcol = f"rank_{sc}"
        out = out.withColumn(rcol, F.row_number().over(w))
        term = F.expr(f"1000000 div (60 + rank_{sc})")
        fused = term if fused is None else fused + term
    out = out.withColumn("rrf_score", fused.cast("long"))
    cols = [group_col, id_col] + [f"rank_{sc}" for sc in score_cols] + [
        "rrf_score"
    ]
    wf = Window.partitionBy(group_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("rrf_rank", F.row_number().over(wf))
        .filter(F.col("rrf_rank") <= top_n)
        .select(*cols, "rrf_rank")
    )


def rrf_fuse_sql(
    table_sql: str,
    group_col: str,
    id_col: str,
    score_cols: list[str],
) -> str:
    """DuckDB twin of rrf_fuse (identical ranks, integer-div terms)."""
    g, i = group_col, id_col
    ranks = ", ".join(
        f"row_number() OVER (PARTITION BY {g} ORDER BY {sc} DESC, {i} ASC)"
        f" AS rank_{sc}"
        for sc in score_cols
    )
    fused = " + ".join(f"(1000000 // (60 + rank_{sc}))" for sc in score_cols)
    rank_cols = ", ".join(f"rank_{sc}" for sc in score_cols)
    return f"""
WITH r AS (
  SELECT {g}, {i}, {ranks} FROM ({table_sql})
),
f AS (
  SELECT {g}, {i}, {rank_cols}, CAST({fused} AS BIGINT) AS rrf_score FROM r
),
t AS (
  SELECT *, row_number() OVER (PARTITION BY {g}
    ORDER BY rrf_score DESC, {i} ASC) AS rrf_rank
  FROM f
)
SELECT {g}, {i}, {rank_cols}, rrf_score, rrf_rank FROM t
WHERE rrf_rank <= 5
"""


def trending_terms(docs, period_col: str, top_n: int = 5):
    """Trending-term detection between a reference and a current
    window ('ref' / 'cur' in `period_col`): per group, the terms whose
    frequency rose most, ranked by the EXACT cross-multiplied drift
    delta = c_cur·N_ref − c_ref·N_cur (positive = rising; the same
    no-float-ratio rule as the q151 TV gate — ratios of small counts
    are exactly where float rank orders go nondeterministic). Terms
    below 3 current occurrences are pruned before ranking
    (rare-term noise control), absent-in-ref terms get c_ref = 0 —
    genuinely new terms rank on their full current mass.

    Emits (group, term, c_ref, c_cur, n_ref, n_cur, delta, rank).

    Plan: one explode + (group, term, period) conditional-sum
    aggregation, per-group totals joined back on the group key, then
    a per-group top-n window (WindowGroupLimit keeps only n rows per
    group per partition below the sort).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .text import spread_input, tokens

    tok = docs.select(
        F.col("source").alias("g"),
        F.col(period_col).alias("p"),
        F.explode(tokens("text")).alias("term"),
    )
    per = tok.groupBy("g", "term").agg(
        F.sum((F.col("p") == "ref").cast("long")).alias("c_ref"),
        F.sum((F.col("p") == "cur").cast("long")).alias("c_cur"),
    )
    tot = per.groupBy("g").agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    j = per.join(tot, "g").filter(F.col("c_cur") >= 3)
    j = j.withColumn(
        "delta",
        F.col("c_cur") * F.col("n_ref") - F.col("c_ref") * F.col("n_cur"),
    )
    w = Window.partitionBy("g").orderBy(
        F.col("delta").desc(), F.col("term").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.col("g").alias("source"), "term", "c_ref", "c_cur",
            "n_ref", "n_cur", "delta", F.col("rank").cast("long").alias("rank"),
        )
    )


def trending_terms_sql(docs_sql: str) -> str:
    """DuckDB twin of trending_terms over (group, period, text)."""
    g = "source"
    return f"""
WITH tok AS (
  SELECT {g} AS g, period AS p,
         unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM ({docs_sql})
),
per AS (
  SELECT g, term,
         CAST(sum(CASE WHEN p = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
         CAST(sum(CASE WHEN p = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
  FROM tok GROUP BY g, term
),
tot AS (
  SELECT g, CAST(sum(c_ref) AS BIGINT) AS n_ref,
         CAST(sum(c_cur) AS BIGINT) AS n_cur
  FROM per GROUP BY g
),
d AS (
  SELECT per.g, term, c_ref, c_cur, n_ref, n_cur,
         c_cur * n_ref - c_ref * n_cur AS delta
  FROM per JOIN tot ON per.g = tot.g
  WHERE c_cur >= 3
)
SELECT g AS {g}, term, c_ref, c_cur, n_ref, n_cur, delta,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY g
    ORDER BY delta DESC, term ASC) AS rank
  FROM d
) WHERE rank <= 5
"""


def pmi_collocations(docs):
    """Pointwise-mutual-information collocation scores over skip-gram
    pairs — the classic collocation / phrase-mining statistic (Church &
    Hanks 1990). PMI = log(N·n_xy / (n_x·n_y)) is monotone in the exact
    rational N·n_xy / (n_x·n_y), so the score is emitted as the scaled
    integer floor(1e6·N·n_xy / (n_x·n_y)) — no log, no float, engine-
    exact. Overflow bound: 1e6·N·n_xy must stay < 2^63, which holds up
    to N·n_xy < 9.2e12 (pair-count marginals are far
    below that even at corpus scale because n_xy <= n_x <= N — if N
    grows past ~3e6 with near-degenerate vocabularies, drop the scale).

    Plan: one skip-gram pair aggregation (equi-join on (doc, pos+k) —
    functions/retrieval.skipgram_counts), then center/context marginals
    are two more groupBys of the PAIR table (already aggregated, small),
    and the corpus total joins in as a broadcast single row. The
    min-count-5 gate applies to the output only — marginals always use the full pair table."""
    from pyspark.sql import functions as F

    pairs = skipgram_counts(docs, window=2, min_count=1)
    nx = pairs.groupBy("center").agg(F.sum("n").alias("n_x"))
    ny = pairs.groupBy("context").agg(F.sum("n").alias("n_y"))
    tot = pairs.agg(F.sum("n").alias("n_total"))
    return (
        pairs.filter(F.col("n") >= 5)
        .join(F.broadcast(nx), "center")
        .join(F.broadcast(ny), "context")
        .crossJoin(F.broadcast(tot))
        .select(
            "center",
            "context",
            F.col("n").alias("n_xy"),
            F.col("n_x"),
            F.col("n_y"),
            F.expr("(n_total * n * 1000000) div (n_x * n_y)").alias("pmi_q"),
        )
    )


def pmi_collocations_sql(docs_sql: str) -> str:
    """DuckDB twin of pmi_collocations (the ±2 window offsets inlined)."""
    offs = ", ".join(str(k) for k in range(-2, 3) if k != 0)
    return f"""
WITH toks AS MATERIALIZED (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, i - 1 AS pos, t[i] AS tok
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM ({docs_sql})),
       UNNEST(generate_series(1, len(t))) AS u(i)
),
pairs AS MATERIALIZED (
  SELECT a.tok AS center, b.tok AS context,
         CAST(count(*) AS BIGINT) AS n
  FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos - a.pos IN ({offs})
  GROUP BY 1, 2
),
nx AS (SELECT center, CAST(sum(n) AS BIGINT) AS n_x FROM pairs GROUP BY 1),
ny AS (SELECT context, CAST(sum(n) AS BIGINT) AS n_y FROM pairs GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM pairs)
SELECT p.center, p.context, p.n AS n_xy, nx.n_x, ny.n_y,
       (tot.n_total * p.n * 1000000) // (nx.n_x * ny.n_y) AS pmi_q
FROM pairs p
JOIN nx USING (center) JOIN ny USING (context) CROSS JOIN tot
WHERE p.n >= 5
"""


def phrase_search(docs, phrase: tuple):
    """Positional-index phrase query — the `"exact phrase"` operator of
    every search engine, run as relational ops over a positional
    posting list.

    posexplode gives (doc, position, term); an n-word phrase is n-1
    chained equi-joins on (doc, position + i) — the classic
    positional-intersection algorithm (Manning/IR ch. 2) expressed so
    the engine plans it: each join keys on (doc_id, pos), the rarest
    term could drive join order under CBO, and no document's token
    list is ever materialized driver-side. Returns
    (doc_id, n_occurrences) for documents containing the phrase at
    least once.

    Scale: the position lists shuffle by (doc_id, pos) — uniformly
    distributed keys, no skew; each join's output is bounded by the
    rarer side. Stopword-only phrases degenerate to the bigram join
    volume, the same bound as bigram_surprisal_scores above.
    """
    from pyspark.sql import functions as F

    toks = docs.select(
        F.col("doc_id").cast("long").alias("d"),
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "term"),
    )
    out = toks.filter(F.col("term") == phrase[0]).select(
        "d", F.col("pos").alias("p0")
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = toks.filter(F.col("term") == term).select(
            "d", (F.col("pos") - i).alias("p0")
        )
        out = out.join(nxt, ["d", "p0"])
    return (
        out.groupBy(F.col("d").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def phrase_search_sql(docs_sql: str, phrase: tuple) -> str:
    """DuckDB twin of phrase_search: the identical positional joins over
    the two-step generate_series tokenization (DuckDB lacks
    WITH ORDINALITY; `t[i]` on the split list recovers positions)."""
    joins = []
    for i, term in enumerate(phrase[1:], start=1):
        joins.append(
            f"JOIN toks t{i} ON t{i}.d = t0.d AND t{i}.pos = t0.pos + {i} "
            f"AND t{i}.term = '{term}'"
        )
    return f"""
WITH src AS (SELECT doc_id AS d,
             string_split_regex(trim(text), '\\s+') AS ts
             FROM ({docs_sql})),
idx AS (SELECT d, ts, unnest(generate_series(1, len(ts))) AS i FROM src),
toks AS (SELECT d, i - 1 AS pos, ts[i] AS term FROM idx)
SELECT t0.d AS doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM toks t0 {' '.join(joins)}
WHERE t0.term = '{phrase[0]}'
GROUP BY 1
"""


def sparse_cosine_join(docs, df_cap: int = 50, min_cos2_ppm: int = 250_000):
    """Exact sparse-cosine similarity join over 3-gram term-frequency
    vectors — the inverted-index APSS algorithm (Bayardo et al. WWW'07
    without the prefix filter): dot products accumulate ONLY over the
    posting lists both documents share, never over a dense vector.

    tf vectors are integer shingle counts, so the score is exact
    rational arithmetic: cos² in ppm = dot²·1e6 // (|a|²·|b|²) — no
    sqrt, no floats, oracle-identical. Terms with document frequency
    > df_cap are dropped BEFORE the self-join (the LSH-family skew
    cap: a stopword shingle's posting list would quadratically
    dominate the join; dropping it bounds per-term join fan-out at
    df_cap² while leaving discriminative mass — documented recall
    trade, same contract as ngram-jaccard's cap). Emits
    (doc_a, doc_b, dot, cos2_ppm) for doc_a < doc_b pairs at
    cos² >= min_cos2_ppm.

    Scale: shuffle keys on the shingle (bounded fan-out via the cap),
    then one hash agg on the pair — the canonical similarity-join
    plan; norms broadcast back by doc join.
    """
    from pyspark.sql import functions as F

    pos = docs.select(
        F.col("doc_id").cast("long").alias("d"),
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("i", "w"),
    )
    grams = pos
    for k in range(1, 3):
        nxt = pos.select(
            "d", (F.col("i") - k).alias("i"), F.col("w").alias(f"w{k}")
        )
        grams = grams.join(nxt, ["d", "i"])
    shingle = F.concat_ws(" ", F.col("w"), *[F.col(f"w{k}") for k in range(1, 3)])
    tf = (
        grams.select("d", shingle.alias("t"))
        .groupBy("d", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rare = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= df_cap
    )
    tf = tf.join(rare.select("t"), "t", "left_semi")
    norms = tf.groupBy("d").agg(F.sum(F.expr("tf * tf")).alias("nrm2"))
    a = tf.select(F.col("d").alias("da"), "t", F.col("tf").alias("tfa"))
    b = tf.select(F.col("d").alias("db"), "t", F.col("tf").alias("tfb"))
    dots = (
        a.join(b, "t")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.sum(F.expr("tfa * tfb")).alias("dot"))
    )
    scored = (
        dots.join(norms.withColumnRenamed("d", "da").withColumnRenamed("nrm2", "na"), "da")
        .join(norms.withColumnRenamed("d", "db").withColumnRenamed("nrm2", "nb"), "db")
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "dot",
            F.expr("dot * dot * 1000000 div (na * nb)").alias("cos2_ppm"),
        )
        .filter(F.col("cos2_ppm") >= min_cos2_ppm)
    )
    return scored


def sparse_cosine_join_sql(docs_sql: str, min_cos2_ppm: int = 250_000) -> str:
    """DuckDB twin of sparse_cosine_join (two-step generate_series
    positional 3-grams, same cap and integer score)."""
    n = 3
    gram_terms = " || ' ' || ".join(
        f"ts[i + {k}]" for k in range(n)
    )
    return f"""
WITH src AS (SELECT doc_id AS d,
             string_split_regex(trim(text), '\\s+') AS ts
             FROM ({docs_sql})),
idx AS (SELECT d, ts, unnest(generate_series(1, len(ts) - {n - 1})) AS i
        FROM src WHERE len(ts) >= {n}),
tf0 AS (
  SELECT d, {gram_terms} AS t, CAST(count(*) AS BIGINT) AS tf
  FROM idx GROUP BY 1, 2
),
rare AS (SELECT t FROM tf0 GROUP BY t HAVING count(*) <= 50),
tf AS (SELECT * FROM tf0 WHERE t IN (SELECT t FROM rare)),
norms AS (SELECT d, CAST(sum(tf * tf) AS BIGINT) AS nrm2 FROM tf GROUP BY 1),
dots AS (
  SELECT a.d AS da, b.d AS db, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
  FROM tf a JOIN tf b ON a.t = b.t AND a.d < b.d
  GROUP BY 1, 2
)
SELECT dots.da AS doc_a, dots.db AS doc_b, dot,
       dot * dot * 1000000 // (na.nrm2 * nb.nrm2) AS cos2_ppm
FROM dots
JOIN norms na ON na.d = dots.da
JOIN norms nb ON nb.d = dots.db
WHERE dot * dot * 1000000 // (na.nrm2 * nb.nrm2) >= {min_cos2_ppm}
"""


# 1e9-scaled 1/log2(i+1) discounts for ranks 1..10 — precomputed so
# DCG stays pure integer arithmetic in BOTH engines (floats in a sum
# are shuffle-order-dependent; an integer discount table is not).
NDCG_DISC = (
    1000000000, 630929753, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464876, 301029995, 289064826,
)


def ndcg_audit(ranked):
    """NDCG@10 — the graded ranking metric (Järvelin & Kekäläinen 2002)
    as exact integer arithmetic: gain 2^rel − 1 (integer rel, capped
    upstream), discount from the 1e9-scaled table above, so
    DCG_scaled = Σ gain·disc is a plain bigint sum and
    ndcg_ppm = DCG·1e6 // IDCG. IDCG re-ranks the SAME gains by
    (rel desc, rank asc) — the ideal ordering with a deterministic
    tie-break, the detail float NDCG implementations leave to chance.

    Input: one row per (q, rank 1..k, rel). Output per q:
    (q, dcg_scaled, idcg_scaled, ndcg_ppm).

    Scale: two windows partitioned by q + one agg — evaluation runs
    over millions of queries as one shuffle, not a driver loop.
    """
    k = 10
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    disc = F.element_at(
        F.array(*[F.lit(d) for d in NDCG_DISC[:k]]),
        F.col("rank").cast("int"),
    )
    gain = (F.expr("shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT))") - 1).cast("long")
    g = ranked.filter(F.col("rank") <= k).select(
        F.col("q"),
        F.col("rank"),
        gain.alias("gain"),
        disc.cast("long").alias("disc"),
    )
    ideal_rank = F.row_number().over(
        Window.partitionBy("q").orderBy(
            F.col("gain").desc(), F.col("rank").asc()
        )
    )
    ideal_disc = F.element_at(
        F.array(*[F.lit(d) for d in NDCG_DISC[:k]]), ideal_rank
    )
    g = g.withColumn("ideal_disc", ideal_disc.cast("long"))
    return (
        g.groupBy("q")
        .agg(
            F.sum(F.expr("gain * disc")).alias("dcg_scaled"),
            F.sum(F.expr("gain * ideal_disc")).alias("idcg_scaled"),
        )
        .select(
            "q",
            "dcg_scaled",
            "idcg_scaled",
            F.when(
                F.col("idcg_scaled") > 0,
                F.expr("dcg_scaled * 1000000 div idcg_scaled"),
            ).alias("ndcg_ppm"),
        )
    )


def ndcg_audit_sql(ranked_sql: str) -> str:
    """DuckDB twin of ndcg_audit (`ranked_sql` yields q, rank, rel)."""
    disc_vals = ", ".join(f"({i + 1}, {d})" for i, d in enumerate(NDCG_DISC[:10]))
    return f"""
WITH disc(r, d) AS (VALUES {disc_vals}),
g AS (
  SELECT q, rank, CAST((1 << CAST(rel AS INT)) - 1 AS BIGINT) AS gain
  FROM ({ranked_sql}) WHERE rank <= 10
),
gd AS (
  SELECT g.q, g.rank, g.gain, disc.d AS disc,
         row_number() OVER (PARTITION BY g.q
                            ORDER BY g.gain DESC, g.rank ASC) AS irank
  FROM g JOIN disc ON disc.r = g.rank
),
gi AS (
  SELECT gd.*, disc.d AS ideal_disc
  FROM gd JOIN disc ON disc.r = gd.irank
)
SELECT q, CAST(sum(gain * disc) AS BIGINT) AS dcg_scaled,
       CAST(sum(gain * ideal_disc) AS BIGINT) AS idcg_scaled,
       CASE WHEN sum(gain * ideal_disc) > 0 THEN
         CAST(sum(gain * disc) AS BIGINT) * 1000000
           // CAST(sum(gain * ideal_disc) AS BIGINT) END AS ndcg_ppm
FROM gi GROUP BY 1
"""
