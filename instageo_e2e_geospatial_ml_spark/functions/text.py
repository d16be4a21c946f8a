"""Text-analysis column functions for large-scale training-data pipelines.

All pure Catalyst column expressions (JVM-side, whole-stage codegen) — no
Python in the hot path. Each has an exact ANSI-SQL twin used by the DuckDB
oracle (see plans/driver_queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def spread_input(df):
    """Spread rows across the cluster before an explode-heavy or
    compute-heavy stage (guide §2.5 'input skew': a small one-file
    parquet table scans as ONE task, but tokenize + explode multiplies
    per-row work ~100×, making that task the whole job's critical path).
    No-op when the scan already has enough partitions — the 100 TB case,
    where an extra shuffle would be waste. Sizing uses inputFiles() (cheap
    plan metadata) for file-backed frames; a non-file-backed frame
    (createDataFrame, a post-join intermediate) has an empty inputFiles()
    list, so those fall back to df.rdd.getNumPartitions()."""
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    current = len(files) if files else df.rdd.getNumPartitions()
    if current < target:
        return df.repartition(target)
    return df


def ranged_prefix(
    df,
    order_cols,
    out_col: str,
    weight: str | None = None,
    group_cols=(),
):
    """Add `out_col`: the inclusive running row count (weight=None) or
    running sum of the integer column `weight`, within `group_cols`, in
    `order_cols` order — `row_number()` / `sum(weight) over (partition by
    group_cols order by order_cols rows unbounded preceding)` WITHOUT a
    single-task sort of a whole group:
    (1) range-repartition by (group_cols, order_cols) into n_buckets =
    spark.sql.shuffle.partitions contiguous key ranges and tag each row
    with its bucket; (2) ONE tiny per-(group, bucket) totals job
    (≤ n_buckets rows per group to the driver); (3) broadcast the
    cumulative offsets back and run the prefix
    as a window PARTITIONED by (group_cols, bucket), so every task sorts
    ≤ N/n_buckets rows. The exclusive forms are the result minus the
    row's weight (minus 1 for a 0-based row number).

    Identical values to the global window whenever the ordering is total
    (ties may land in either of two adjacent buckets otherwise — pass a
    tie-breaking id column to make it total). The bucketed frame is a
    lazy localCheckpoint, so both phases read ONE bucket assignment (two
    independently planned range exchanges may sample different bounds)
    and its cache lives exactly as long as the returned frame."""
    sess = df.sparkSession
    n_buckets = int(sess.conf.get("spark.sql.shuffle.partitions", "32"))
    groups = list(group_cols)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(n_buckets, *[F.col(g).asc() for g in groups], *cols)
        .withColumn("_b", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    step = F.count(F.lit(1)) if weight is None else F.sum(weight)
    totals = ranged.groupBy(*groups, "_b").agg(step.alias("_t")).collect()
    # buckets are range-ordered by (groups, order), so within one group
    # bucket-id order IS key order
    acc: dict = {}
    offsets = []
    for r in sorted(totals, key=lambda r: r["_b"]):
        g = tuple(r[c] for c in groups)
        offsets.append((*g, r["_b"], acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + (r["_t"] or 0)
    off_names = [f"_g{i}" for i in range(len(groups))]
    off_ddl = [
        f"{n} {ranged.schema[g].dataType.simpleString()}"
        for n, g in zip(off_names, groups)
    ]
    off_ddl += ["_ob int", "_off long"]
    off_df = sess.createDataFrame(offsets, ", ".join(off_ddl))
    on = F.col("_b") == F.col("_ob")
    for n, g in zip(off_names, groups):
        on = on & F.col(g).eqNullSafe(F.col(n))
    w = Window.partitionBy(*groups, "_b").orderBy(*cols)
    if weight is None:
        running = F.row_number().over(w)
    else:
        running = F.sum(weight).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    return (
        ranged.join(F.broadcast(off_df), on)
        .withColumn(out_col, F.col("_off") + running)
        .drop("_b", "_ob", "_off", *off_names)
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def occurrence_count(text: Column | str, needle: str) -> Column:
    """Number of (possibly overlapping-free) occurrences of `needle`."""
    c = F.col(text) if isinstance(text, str) else text
    return (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit("")))) / F.lit(
        len(needle)
    )


def alnum_ratio(text: Column | str) -> Column:
    """Share of characters that are alphanumeric or space (quality signal)."""
    c = F.col(text) if isinstance(text, str) else text
    kept = F.length(F.regexp_replace(c, r"[^a-zA-Z0-9 ]", ""))
    return kept / F.length(c)


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]: length, alnum ratio, stopword
    presence — the standard cheap pre-filter for web-scale corpora."""
    c = F.col(text) if isinstance(text, str) else text
    len_score = F.least(token_count(c) / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(occurrence_count(c, " the ") / F.lit(5.0), F.lit(1.0))
    return F.round(
        F.lit(0.4) * len_score + F.lit(0.4) * alnum_ratio(c) + F.lit(0.2) * stop_score, 6
    )


# marker-word sets for the cheap language-ID heuristic (n-gram/stopword
# counting — the classic fastText-free fallback)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "fr": [" le ", " et ", " la "],
    "de": [" der ", " und ", " die "],
    "zh": [" zh ", " zhong "],
}


def lang_scores(text: Column | str) -> dict[str, Column]:
    c = F.col(text) if isinstance(text, str) else text
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    out = {}
    for lang, markers in LANG_MARKERS.items():
        s = F.lit(0.0)
        for m in markers:
            s = s + occurrence_count(padded, m)
        out[lang] = s
    return out


def predict_lang(text: Column | str) -> Column:
    """argmax over marker-word scores, ties broken alphabetically; 'und'
    (undetermined) when every score is zero."""
    scores = lang_scores(text)
    best = F.lit("und")
    best_score = F.lit(0.0)
    for lang in sorted(scores):  # strict > keeps the alphabetically-first max
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, scores[lang])
    return best


# GPT-2-style BPE pre-tokenization pattern, restricted to constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no lookahead,
# ASCII classes. Contractions | space-prefixed letter runs | digit runs |
# punctuation runs | single whitespace.
BPE_TOKEN_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s"


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count (GPT-2 pre-tokenizer shape): the standard
    training-data budget estimator when no tokenizer model ships with the
    cluster. Pure JVM regexp — no Python."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_REGEX), 0))


def token_rarity_scores(docs):
    """Zipf-bucket commonness score per document (the CCNet-style
    perplexity-filter shape without a language model): every token joins
    the corpus-wide document frequency table, is bucketed by
    floor(log2(freq)) — integer-exact in any engine for realistic freqs —
    and the document score is the bucket mean derived from the exact
    integer sum. Low scores flag rare-token-heavy (noisy) documents, high
    scores boilerplate.

    Plan: one explode + one vocab-sized groupBy + one token-keyed join +
    one doc-keyed aggregation. The vocabulary of a web corpus is unbounded
    (every typo/URL is a distinct token), so the token join defaults to a
    shuffle hash/sort-merge join — AQE converts it to broadcast at runtime
    when the vocab side is actually small.
    """
    from pyspark.sql import DataFrame, functions as F  # noqa: F811

    # (round 8: spread_input here was MEASURED AND REVERTED — the explode
    # feeds a token-keyed aggregation exchange immediately, so the extra
    # doc shuffle bought nothing; interleaved A/B: 1.7 s vs 2.6 s at sf1.0)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    b = freq.withColumn("bucket", F.floor(F.log2("df")).cast("long"))
    joined = tok.join(b.select("tok", "bucket"), "tok")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("bucket").alias("bucket_sum"),
    ).select(
        "doc_id",
        "n_tokens",
        "bucket_sum",
        F.round(F.col("bucket_sum") / F.col("n_tokens"), 6).alias("rarity_score"),
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of lowercase whitespace-normalized text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def corpus_profile(docs):
    """Per-group corpus profile (the first thing anyone runs on a new
    crawl dump): doc counts, char-length min/median/p90/max, and exact
    token totals. percentile() is the exact interpolated form — identical
    definition (1+(n-1)p rank, linear interpolation) in DuckDB's
    quantile_cont, so even the float artifacts hash-match. One shuffle."""
    from pyspark.sql import functions as F

    return spread_input(docs).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(token_count("text")).alias("total_tokens"),
    )


def repetition_scores(docs):
    """Gopher-style intra-document repetition signals per doc:
    (id, n_grams, n_distinct, dup_ratio, top_frac_num) over word bigrams,
    where dup_ratio = 1 − distinct/total bigrams and top_frac_num is the
    count of the most frequent bigram (tie-broken lexicographically — deterministic).
    Repetitive boilerplate scores high on both. Exact integers + one
    fixed-shape division; a single doc-keyed aggregation after the
    bigram counts. Bigrams are built by index explode (JVM)."""
    n = 2
    from pyspark.sql import functions as F

    t = tokens("text")
    parts = [F.element_at(F.col("_toks"), F.col("_i") + i) for i in range(n)]
    grams = (
        spread_input(docs).withColumn("_toks", t)
        .filter(F.size("_toks") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - (n - 1))).alias("_i"),
            "_toks",
        )
        .select("doc_id", F.concat_ws(" ", *parts).alias("g"))
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("c"), 6).alias("dup_ratio"),
        F.max("c").alias("top_frac_num"),
    )


def pack_token_shards(docs, budget_tokens: int):
    """Assign documents to training shards of ≈ budget_tokens each:
    order by id (deterministic), running token total, shard_id =
    floor((cumsum − tokens) / budget) — the bin a doc STARTS in, so every
    shard holds ≥ budget tokens except the last (greedy packing, the A8
    pattern applied to token budgets).

    The running total is ranged_prefix — NO global single-partition
    window, every task sorts ≤ N/n_buckets rows — with exactly the same
    global semantics as the textbook `sum() over (order by id)` (the q48
    oracle pins the hash)."""
    out = spread_input(docs).select("doc_id", token_count("text").alias("n_tokens"))
    cum = ranged_prefix(
        out, [F.col("doc_id").asc()], "_cum", weight="n_tokens"
    )
    return cum.withColumn(
        "shard_id",
        F.floor(
            (F.col("_cum") - F.col("n_tokens")) / F.lit(float(budget_tokens))
        ).cast("long"),
    ).drop("_cum")


def chunk_documents(docs, chunk_tokens: int = 128, overlap: int = 16):
    """Split documents into fixed-token-budget training chunks with
    overlap → (id, chunk_idx, chunk_text, n_tokens). The pretraining
    chunker: stride = chunk_tokens − overlap; the final partial chunk is
    kept (models see document tails). Pure JVM: one tokens() split, an
    index-sequence explode, slice() + array_join — no Python, and the
    explode multiplies rows only by ceil(len/stride)."""
    from pyspark.sql import functions as F

    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    t = tokens("text")
    d = spread_input(docs).withColumn("_toks", t).withColumn("_n", F.size("_toks"))
    # chunk starts: 1, 1+stride, ... while start <= max(n - overlap, 1)
    d = d.withColumn(
        "_starts",
        F.sequence(
            F.lit(1),
            F.greatest(F.col("_n") - F.lit(overlap), F.lit(1)),
            F.lit(stride),
        ),
    )
    out = d.select(
        "doc_id",
        F.posexplode("_starts").alias("chunk_idx", "_s"),
        "_toks",
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(
            F.slice("_toks", F.col("_s"), F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
        F.least(
            F.lit(chunk_tokens), F.size("_toks") - F.col("_s") + 1
        ).cast("long").alias("n_tokens"),
    )
    return out


# PII patterns restricted to lookahead-free constructs with identical
# semantics in Java regex (Spark) and RE2 (DuckDB)
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}", "<PHONE>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    (r"[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}", "<CARD>"),
]


def scrub_pii(text: "Column | str") -> "Column":
    """Replace common PII shapes (emails, phones, IPs, card numbers) with
    typed placeholders — the standard pre-training scrub. Chained JVM
    regexp_replace; patterns are Java/RE2-identical so the DuckDB oracle
    applies the same chain. Order matters (IPs would otherwise eat phone
    fragments): the chain applies top-down."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def gopher_gates(df):
    """Gopher quality rules (Rae et al. 2021, Table A1 — the named
    web-corpus document filter) as ALL-INTEGER columns so the DuckDB
    oracle twin hashes exactly: ratio thresholds are expressed as
    cross-multiplied integer comparisons (3 <= mean word length <= 10
    becomes 3*wc <= chars <= 10*wc).

    Emitted per document: word count, summed word length, words
    containing an alphabetic character, stop-word hits (>= 2 of the
    paper's 8), each rule's boolean, and the final keep flag. Pure JVM
    column ops (split / size / filter / aggregate) — scales as a scan."""
    from pyspark.sql import functions as F

    words = F.split(F.trim(F.col("text")), r"\s+")
    wc = F.size(words)
    chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    alpha = F.size(F.expr("filter(split(trim(text), '\\\\s+'), w -> w rlike '[a-zA-Z]')"))
    stops = F.array(*[F.lit(s) for s in ("the", "be", "to", "of", "and", "that", "have", "with")])
    stop_hits = F.size(F.filter(stops, lambda s: F.array_contains(words, s)))
    r_wc = (wc >= 50) & (wc <= 100000)
    r_wlen = (F.lit(3) * wc <= chars) & (chars <= F.lit(10) * wc)
    r_alpha = F.lit(5) * alpha >= F.lit(4) * wc
    r_stop = stop_hits >= 2
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        wc.cast("long").alias("word_count"),
        chars.cast("long").alias("word_chars"),
        alpha.cast("long").alias("alpha_words"),
        stop_hits.cast("long").alias("stop_hits"),
        r_wc.alias("rule_word_count"),
        r_wlen.alias("rule_word_length"),
        r_alpha.alias("rule_alpha"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_wlen & r_alpha & r_stop).alias("keep"),
    )


def hashed_quality_score(docs, bias: int = 0):
    """Model-based quality filter: a hashed linear text classifier
    (fastText / logistic-regression style — the GPT-3/CCNet curation
    stage that scores documents against a trained reference model).
    Each lowercased whitespace token hashes into one of 1024
    features; the document score is the exact integer sum of per-feature
    weights, and `keep` is score + bias >= 0.

    The weights are a deterministic md5-derived table in [-1000, 1000]
    (the similarity._np_lsh_weights idiom), so the operator is
    self-contained and bit-identical in any engine (DuckDB twin: q65).
    The plan is one explode + one doc-keyed sum, so the 100 TB profile
    is a single hash shuffle on doc_id.
    """
    b = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
        .withColumn(
            "bucket",
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.lit("qlr"), F.col("tok"))), 1, 8),
                16, 10,
            ).cast("long")
            % 1024,
        )
    )
    b = b.withColumn(
        "w",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("w"), F.lit("qlr"), F.col("bucket").cast("string")
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 2001
        - 1000,
    )
    return (
        b.groupBy("doc_id")
        .agg(F.sum("w").cast("long").alias("score"))
        .select(
            "doc_id",
            "score",
            ((F.col("score") + F.lit(bias)) >= 0).alias("keep"),
        )
    )


def heavy_hitter_tokens(docs, k: int = 100):
    """Exact heavy hitters over the token stream: tokens whose total
    occurrence count is at least a 1/k share of ALL token occurrences
    (count · k >= total, integer cross-multiplied — no float share).
    One token-keyed count shuffle plus a scalar total broadcast-joined
    as a literal-free cross join of one row. Exact DuckDB twin: q66."""
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(k) >= F.col("_total"))
        .select("tok", F.col("cnt").cast("long").alias("cnt"))
    )


def feature_hash(docs: DataFrame, n_bits: int = 10) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009 / Vowpal Wabbit):
    token -> bucket md5(token) & (2^n_bits - 1), signed by one extra
    hash bit so collisions cancel in expectation; the document vector
    is the per-(doc, bucket) signed count. Output is the sparse COO
    form (id, idx, val) — the natural distributed representation (a
    dense 2^n_bits array per doc would be mostly zeros and would make
    every downstream shuffle carry the zeros too).

    Pure JVM: split + explode + md5 + one groupBy; integer-exact in any
    engine. Dimensionality is fixed at plan time, vocabulary-free —
    the property that makes it THE featurizer for streaming/100 TB
    corpora (no vocabulary broadcast, no OOV)."""
    toks = (
        docs.select(
            F.col("doc_id"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    sign = F.when(
        h.bitwiseAND(F.lit(1 << n_bits)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        toks.select(
            F.col("doc_id"),
            h.bitwiseAND(F.lit((1 << n_bits) - 1)).alias("idx"),
            sign.alias("s"),
        )
        .groupBy("doc_id", "idx")
        .agg(F.sum("s").alias("val"))
        .filter(F.col("val") != 0)
    )


def feature_hash_sql(table_sql: str) -> str:
    """The identical hashing-trick featurization as DuckDB SQL."""
    mask = (1 << 10) - 1
    sbit = 1 << 10
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM ({table_sql})
),
h AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS hv
  FROM tok WHERE tok <> ''
)
SELECT doc_id, hv & {mask} AS idx,
       CAST(sum(CASE WHEN (hv & {sbit}) = 0 THEN 1 ELSE -1 END) AS BIGINT) AS val
FROM h GROUP BY 1, 2
HAVING sum(CASE WHEN (hv & {sbit}) = 0 THEN 1 ELSE -1 END) <> 0
"""


def build_vocab_encode(docs: DataFrame, min_count: int = 2):
    """Word-level vocabulary build + corpus encode — the classic
    pre-BPE tokenization step: rank tokens by (count desc, token asc)
    into dense ids (1-based; 0 = OOV for tokens under min_count),
    then re-encode every document as (doc, pos, tok_id).

    Returns (vocab_df, encoded_df): vocab (tok, cnt, tok_id), encoded
    (id, pos, tok_id) with pos the 1-based token position.

    Plan: token count (one shuffle); the id ranking is the range-
    partitioned two-phase row number (ranged_prefix — per-bucket
    window + broadcast offsets), so a web-scale vocabulary (10^7-8
    distinct tokens) never funnels through one sort task (round-8
    conversion of the documented vocab-rank watch item); then a
    token-keyed join back to the exploded corpus (AQE broadcasts the
    vocab side when it fits)."""
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos0", "tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    kept = counts.filter(F.col("cnt") >= min_count)
    vocab = ranged_prefix(
        kept, [F.col("cnt").desc(), F.col("tok").asc()], "tok_id"
    )
    encoded = (
        toks.join(vocab.select("tok", "tok_id"), "tok", "left")
        .select(
            F.col("doc_id"),
            (F.col("pos0") + 1).alias("pos"),
            F.coalesce(F.col("tok_id"), F.lit(0)).alias("tok_id"),
        )
    )
    return vocab, encoded


def vocab_encode_sql(table_sql: str, min_count: int = 2) -> str:
    """The identical vocabulary encode as DuckDB SQL (encoded form)."""
    return f"""
WITH sp AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM ({table_sql})
),
px AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM sp
),
tok AS (
  SELECT doc_id, pos, t[pos] AS tok FROM px WHERE t[pos] <> ''
),
counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
vocab AS (
  SELECT tok, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS tok_id
  FROM counts WHERE cnt >= {min_count}
)
SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos,
       coalesce(v.tok_id, 0) AS tok_id
FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
"""


def mix_by_token_budget(docs, budgets):
    """Token-budget corpus mixing (the Pile/Dolma recipe step): build a
    training mixture by taking, from each source, a random-but-
    deterministic subset whose token count reaches that source's
    budget. Docs are ordered by an md5 rank (a seedless shuffle, the
    q43 sampling pattern); a doc is selected iff the tokens accumulated
    BEFORE it are still under budget, so every budget is reached or
    exceeded by exactly one doc (or the source is exhausted). Sources
    with no budget row are excluded — the mixture spec is the contract.

    Emits (source, doc_id, n_tokens, cum_before) for the selected docs.

    Scale: the per-source running sum is ranged_prefix grouped by
    source — ONE tiny per-(source, range) totals job, broadcast
    cumulative offsets, then a window partitioned by (source, range): no
    task ever sorts a whole source, even when one source dominates the
    corpus. The budget spec broadcasts.
    """
    d = docs.select(
        F.col("source"),
        F.col("doc_id"),
        token_count("text").alias("n_tokens"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))).alias("_r"),
    )
    cum = ranged_prefix(
        d, [F.col("_r").asc(), F.col("doc_id").asc()], "_cum",
        weight="n_tokens", group_cols=["source"],
    )
    return (
        cum.withColumn("cum_before", F.col("_cum") - F.col("n_tokens"))
        .join(F.broadcast(budgets), "source")
        .filter(F.col("cum_before") < F.col("budget_tokens"))
        .select("source", "doc_id", "n_tokens", "cum_before")
    )


def length_grouped_batches(docs, batch_size: int, bucket_width: int):
    """Length-grouped batch planning (HF Trainer group_by_length): docs
    bucket by token-length band (bucket = n_tokens div bucket_width),
    shuffle deterministically inside each band (md5 rank), and chunk
    into batches of `batch_size`; per batch we report the padding
    economics — max_tokens (what every sequence pads to), sum_tokens
    (real content) and pad_waste = n_docs*max - sum, the compute the
    batching exists to save. Emits (bucket, batch_id, n_docs,
    max_tokens, sum_tokens, pad_waste).

    Scale: the in-band row number is ranged_prefix grouped by band, so
    no task ever sorts a whole length band (bands are few and fat by
    construction, the worst window-skew shape). Final rollup is a
    map-side-combinable groupBy.
    """
    d = docs.select(
        F.col("doc_id"),
        token_count("text").alias("n_tokens"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":lgb"))).alias("_r"),
    ).withColumn(
        "bucket", F.expr(f"n_tokens div {bucket_width}").cast("long")
    )
    batched = ranged_prefix(
        d, [F.col("_r").asc(), F.col("doc_id").asc()], "_rn",
        group_cols=["bucket"],
    ).withColumn("batch_id", F.expr(f"(_rn - 1) div {batch_size}"))
    return batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
        (
            F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
        ).alias("pad_waste"),
    )


# line-level code signals (lookahead-free ASCII regexes — the Spark/
# DuckDB-identical subset)
CODE_SIGNAL_PATTERNS = {
    "indent": r"^(  |\t)",             # leading 2-space/tab indent
    "punct_end": r"[;{}]$",            # statement/brace line ends
    "assign": r"[A-Za-z_][A-Za-z0-9_]* = ",
    "comment": r"^ *(#|//)",
}


def code_likeness(docs):
    """Code-vs-prose line signals (the StarCoder/CodeParrot-style
    routing gate: code belongs in the code pile, not the prose pile):
    per document, the line count and how many lines look like code —
    indented, statement-terminated ({ } ;), assignments, comment
    markers. Emitted as exact counts so the routing threshold is an
    integer cross-multiplication downstream (n_code_lines * den >
    n_lines * num), never a float ratio.

    All JVM: one split('\\n') + one higher-order filter per signal
    over the same line array — no explode, no shuffle; a pure
    map-side projection that runs at scan speed.
    """
    lines = F.split(F.col("text"), "\n")
    out = [
        F.col("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
    ]
    def _matcher(pat):
        # closure, not a default arg: a 2-param lambda would be treated
        # as the (element, index) form by F.filter
        return lambda x: x.rlike(pat)

    for name, pat in CODE_SIGNAL_PATTERNS.items():
        out.append(
            F.size(
                F.filter(lines, _matcher(pat))
            ).cast("long").alias(f"n_{name}")
        )
    return docs.select(*out)


def code_likeness_sql(docs_sql: str) -> str:
    """DuckDB twin of code_likeness (same regexes via regexp_matches
    over string_split lines)."""
    sigs = ", ".join(
        "CAST(len(list_filter(string_split(text, chr(10)), "
        f"x -> regexp_matches(x, '{pat}'))) AS BIGINT) AS n_{name}"
        for name, pat in CODE_SIGNAL_PATTERNS.items()
    )
    return (
        "SELECT doc_id, CAST(len(string_split(text, chr(10))) "
        f"AS BIGINT) AS n_lines, {sigs} FROM ({docs_sql})"
    )


def light_stem(col) -> Column:
    """Harman S-stemmer (light English stemming, the IR recall
    normalizer): three ordered suffix rules applied to a lowercase
    token — 'ies'→'y' (unless preceded by a/e/i/o/u... the classic
    S-stemmer keeps it simple: len>3), 'es'→'e' for sses/xes/zes
    shapes simplified to: 'sses'→'ss', then final 's' dropped when the
    token ends in a consonant+s (not 'ss', not 'us', not 'is'). Pure
    JVM regexp_replace chain — engine-exact (same regex dialect subset
    as DuckDB's RE2) and UDF-free. Deliberately light: Porter's full
    rule cascade trades exactness-of-intent for aggressiveness; the
    S-stemmer is the standard conservative choice."""
    c = F.lower(col if isinstance(col, Column) else F.col(col))
    c = F.regexp_replace(c, "^(.{2,})ies$", "$1y")
    c = F.regexp_replace(c, "^(.*)sses$", "$1ss")
    c = F.regexp_replace(c, "^(.*[^siu])s$", "$1")
    return c


def light_stem_sql(expr: str) -> str:
    """DuckDB twin of light_stem (identical rule order; DuckDB regex
    backreference is \\1)."""
    s = f"lower({expr})"
    s = f"regexp_replace({s}, '^(.{{2,}})ies$', '\\1y')"
    s = f"regexp_replace({s}, '^(.*)sses$', '\\1ss')"
    s = f"regexp_replace({s}, '^(.*[^siu])s$', '\\1')"
    return s
