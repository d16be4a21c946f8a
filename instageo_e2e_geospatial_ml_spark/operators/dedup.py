"""Deduplication operators for web-scale corpora.

All md5-keyed so every stage is engine-portable (identical lowercase hex in
Spark and any ANSI engine → exact DuckDB oracles). No Python UDFs — every
text operator is a composition of built-in functions, so the whole pipeline
stays inside whole-stage codegen. The one numpy stage is the embedding
near-dup scan: an exact all-pairs int64 matmul, capped by row count.
Tables that several subtrees consume (LSH bands, n-gram shingles) are
materialized once with lazy localCheckpoints.

Scale notes: exact dedup is one hash-shuffle on the digest; MinHash-LSH is
(explode shingles → 2 hash-aggregations → band self-join). The band
self-join is the classic skew point — a degenerate band key (e.g. empty
docs) explodes quadratically, so lsh_candidate_pairs caps bucket sizes at
1000 docs (drops pathological buckets, standard LSH practice).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, spread_input, tokens


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text (md5 of the raw
    text) with the keeper (min id) and the duplicate count."""
    return (
        docs.withColumn("text_hash", F.md5(F.col("text")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def keep_min_per_key(df: DataFrame, key_col: str) -> DataFrame:
    """Keep exactly the row with the minimum id per key value — the shared
    keeper rule for every dedup stage.

    groupBy-min + semi-join rather than a row_number window: the
    aggregation moves only (key, id) pairs (map-side combined to one row
    per key per partition) where the window form would shuffle full rows;
    the semi-join back carries no payload columns from the keeper side and
    AQE broadcasts it when the keeper set is small.
    """
    keepers = df.groupBy(key_col).agg(F.min("doc_id").alias("doc_id"))
    return df.join(keepers, [key_col, "doc_id"], "left_semi")


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Word n-gram shingles, exploded to (doc, shingle) rows."""
    docs = spread_input(docs)
    t = tokens("text")
    parts = [F.element_at(F.col("_toks"), F.col("_i") + i) for i in range(n)]
    return (
        docs.withColumn("_toks", t)
        .filter(F.size("_toks") >= n)
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.size("_toks") - (n - 1))))
        .withColumn("shingle", F.concat_ws(" ", *parts))
        .drop("_toks", "_i")
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc, sig: array<bigint> of length 8): j-th hash = the
    first 60 bits of md5('<j>:'||shingle) as a BIGINT, elementwise min
    over the doc's shingles.

    md5-as-hash-family: a 60-bit truncation is a valid minwise family for
    dedup purposes, and a numeric min (unlike min over the hex string,
    which Spark can only SortAggregate) hash-aggregates, so each map task
    compresses its partition to one row per doc without sorting the
    shingle stream.

    All 8 hashes are computed as columns of the SAME shingle row
    and min-aggregated in ONE doc-keyed aggregation — no j-explode, so the
    pre-aggregation volume is 1× the shingle stream (not 8×).
    """
    mins = [
        F.min(
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle"))), 1, 15),
                16,
                10,
            ).cast("long")
        ).alias(f"_mh{j}")
        for j in range(8)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[f"_mh{j}" for j in range(8)]).alias("sig"),
        )
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band the signature array, self-join on (band_id, band_key) →
    candidate near-duplicate pairs (doc_a < doc_b), deduplicated.

    Band b's key is the '|'-join of sig[2b : 2b+2] (2 rows per band)
    (the same j-ordered key the long-format band groupBy produced, without
    the per-(doc, band) aggregation). A 1000-doc bucket cap guards the quadratic
    blowup of degenerate buckets (skew).

    The band table is consumed four times (bucket-size count, skew
    anti-join, both self-join sides); Catalyst does not reuse the exchange
    across these subtrees, so it is materialized once with a lazy
    localCheckpoint — otherwise the whole shingle→minhash pipeline
    re-executes 4× (and the source scan 8×)."""
    rows_per_band = 2
    n_bands = -(-8 // rows_per_band)  # ceil: last band may be partial
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col("sig")[j]
                        for j in range(
                            b * rows_per_band,
                            min((b + 1) * rows_per_band, 8),
                        )
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = signatures.select("doc_id", F.inline(band_structs)).localCheckpoint(
        eager=False
    )
    sizes = bands.groupBy("band_id", "band_key").agg(F.count(F.lit(1)).alias("_bn"))
    bands = bands.join(
        F.broadcast(sizes.filter(F.col("_bn") > 1000)),
        ["band_id", "band_key"],
        "left_anti",
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_dedup(docs: DataFrame) -> DataFrame:
    """Full MinHash+LSH near-dup candidate pipeline → (doc_a, doc_b)."""
    sh = shingles(docs.select("doc_id", "text"), 3)
    sig = minhash_signatures(sh)
    return lsh_candidate_pairs(sig)


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash over whitespace tokens: per-bit ±1 votes from a 16-bit md5
    prefix per token → (doc_id, simhash)."""
    tok = (
        spread_input(docs).select("doc_id", F.explode(tokens("text")).alias("tok"))
        .withColumn("th", F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long"))
    )
    votes = (
        tok.withColumn("b", F.explode(F.sequence(F.lit(0), F.lit(15))))
        .withColumn(
            "vote",
            F.when(F.expr("shiftright(th, b) & 1") == 1, 1).otherwise(-1),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("vote").alias("s"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0)
        ).alias("simhash")
    )


def embedding_neardup_pairs(
    vecs: DataFrame,
    threshold: float = 0.3,
    max_exact_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, cos ≥ t).

    All-integer exactness: with quantized int64 vectors, cos ≥ t (t = p/q
    rational) ⇔ dot > 0 ∧ q²·dot² ≥ p²·|a|²·|b|² — evaluated in exact
    int64 arithmetic, bit-identical in any engine.

    Scores ALL pairs via a broadcast int64 matmul over corpus partitions
    (recall 1, the oracle path). O(N²) compute and O(N·dim) broadcast, so
    it is guarded by max_exact_rows: above the cap it raises rather than
    silently OOM-ing the driver. For recall < 1 at cluster scale, prune
    candidates first with similarity.lsh_buckets.
    """
    import numpy as np
    import pandas as pd

    # rationalize the threshold: t = p / 1000; quantize elements ×100 so
    # q²·dot² and p²·|a|²·|b|² both stay well inside int64 for dims ≤ 512
    p = int(round(threshold * 1000))
    p2, q2 = p * p, 1000 * 1000

    # guard, then broadcast the quantized matrix once
    # (sc.broadcast — NOT closure capture, which re-serializes per task)
    rows = vecs.select("vec_id", "embedding").limit(max_exact_rows + 1).collect()
    if len(rows) > max_exact_rows:
        raise ValueError(
            f"embedding_neardup_pairs capped at {max_exact_rows} rows; "
            "prune larger corpora with similarity.lsh_buckets first"
        )

    def _q(m):
        # ×100, round half away from zero (Spark/DuckDB round parity)
        return (np.sign(m) * np.floor(np.abs(m) * 100.0 + 0.5)).astype(np.int64)

    ids = np.array([r[0] for r in rows], dtype=np.int64)
    qm = _q(np.array([r[1] for r in rows], dtype=np.float64))
    norms = (qm * qm).sum(axis=1)
    bc = vecs.sparkSession.sparkContext.broadcast((ids, qm, norms))

    def score(it):
        b_ids, b_qm, b_norms = bc.value
        for pdf in it:
            pids = pdf["vec_id"].to_numpy(np.int64)
            pm = _q(np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64))))
            pn = (pm * pm).sum(axis=1)
            dots = pm @ b_qm.T  # (n, N) exact int64
            out_a, out_b, out_d = [], [], []
            for i in range(len(pids)):
                mask = (b_ids > pids[i]) & (dots[i] > 0)
                ok = mask & (q2 * dots[i] * dots[i] >= p2 * pn[i] * b_norms)
                sel = np.nonzero(ok)[0]
                out_a.extend([pids[i]] * len(sel))
                out_b.extend(b_ids[sel])
                out_d.extend(dots[i][sel])
            yield pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "dot": out_d})

    return vecs.select("vec_id", "embedding").mapInPandas(
        score, "vec_a long, vec_b long, dot long"
    )


def clean_corpus(docs: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """The standard corpus-cleaning pipeline as ONE operator: cheap quality
    + language gates → exact dedup (keep min id per normalized text) →
    MinHash-LSH near-dup clustering (keep the min id of each connected
    component). Returns the surviving documents with their quality score.

    Plan shape: the gates are pure column predicates (pushed to the scan);
    exact dedup is one hash shuffle; near-dup clustering runs on the
    already-deduped survivors (strictly smaller input); the final keep is
    a broadcast anti-join against the non-keeper set. Every stage is the
    scale path of its family.
    """
    from ..functions.text import predict_lang, quality_score

    gated = (
        docs.withColumn("quality", quality_score("text"))
        .filter(F.col("quality") >= F.lit(min_quality))
        .filter(predict_lang("text") == F.lit("en"))
    )

    # exact: keep min id per normalized fingerprint
    keyed = gated.withColumn("_fh", fingerprint("text"))
    exact_kept = keep_min_per_key(keyed, "_fh").drop("_fh")

    # near-dup: cluster candidates, drop every non-minimal member
    pairs = minhash_lsh_dedup(exact_kept.select("doc_id", "text"))
    clusters = dedup_clusters(pairs, max_iters=20)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id")
    )
    return exact_kept.join(F.broadcast(losers), "doc_id", "left_anti").select(
        "doc_id", "quality"
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    word k-gram, then in every sliding window of 4 consecutive
    hashes select the minimum (ties → rightmost), and keep the distinct
    selected (hash, position) pairs per document.

    Guarantees: any shared run of ≥ 4+k−1 tokens between two docs
    shares ≥ 1 fingerprint — the standard sublinear-size digest for
    near-dup / plagiarism detection at corpus scale.

    Engine-portable tie-break trick: the window minimum is taken over the
    single integer key hash·2²⁰ + (2²⁰−1−pos) — min(key) = min hash,
    ties resolved to the LARGEST position (rightmost), no struct ordering
    semantics needed (identical in Spark and any ANSI engine). One window
    + one distinct, both keyed by doc — a single hash exchange.
    """
    pos = F.col("_i")  # 1-based shingle position from shingles() explode
    sh = (
        shingles_with_pos(docs.select("doc_id", "text"), 3)
        .withColumn(
            "h", F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        )
        .withColumn("key", F.col("h") * F.lit(1 << 20) + (F.lit((1 << 20) - 1) - pos))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy(pos.asc())
        .rowsBetween(-3, 0)
    )
    sel = (
        sh.withColumn("sel_key", F.min("key").over(w))
        .filter(pos >= 4)  # full windows only
        .select("doc_id", "sel_key")
        .distinct()
    )
    return sel.select(
        "doc_id",
        F.floor(F.col("sel_key") / F.lit(1 << 20)).cast("long").alias("fp_hash"),
        (F.lit((1 << 20) - 1) - F.col("sel_key") % F.lit(1 << 20)).cast("long").alias("fp_pos"),
    )


def shingles_with_pos(docs: DataFrame, n: int = 3) -> DataFrame:
    """Word n-gram shingles keeping the 1-based start position `_i`."""
    docs = spread_input(docs)
    t = tokens("text")
    parts = [F.element_at(F.col("_toks"), F.col("_i") + i) for i in range(n)]
    return (
        docs.withColumn("_toks", t)
        .filter(F.size("_toks") >= n)
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.size("_toks") - (n - 1))))
        .withColumn("shingle", F.concat_ws(" ", *parts))
        .drop("_toks")
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over near-duplicate PAIRS → (doc_id, cluster_id)
    with cluster_id = min member id (the canonical keeper).

    Distributed hash-to-min label propagation WITH pointer jumping: each
    round every node adopts the minimum label in its neighborhood, then
    compresses through its label's own label (label-of-label) — the
    doubling step that turns O(diameter) plain propagation into O(log D)
    rounds, so even pathological chain-shaped components converge inside
    max_iters. Near-dup clusters are tiny (stars or short chains from LSH
    bands), so 2-3 rounds in practice. Each round is two keyed shuffles;
    convergence is checked with one isEmpty aggregate.

    This is the standard "dup groups from candidate pairs" step after
    MinHash/SimHash/embedding near-dup mining (keep min id per group, drop
    the rest).
    """
    # undirected edge list + self-loops so singleton propagation works
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select("u").distinct().withColumn("lbl", F.col("u"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iters):
        # neighborhood minimum: min over own label and neighbors' labels
        nbr_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        stepped = (
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            # truncate lineage BEFORE the self-join — an iterative plan
            # that self-joins its own previous round otherwise doubles in
            # size every iteration (2^k analyzer nodes → driver OOM)
            .localCheckpoint(eager=True)
        )
        # pointer jumping: compress through the label's own label so the
        # minimum travels ~2^k hops after k rounds, not k hops
        lbl_of = stepped.select(F.col("u").alias("lbl"), F.col("lbl").alias("_lbl2"))
        new_labels = (
            stepped.join(lbl_of, "lbl", "left")
            .select(
                "u",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("_lbl2"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .isEmpty()
        )
        labels = new_labels
        if converged:
            break
    return labels.select(F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity join: explode distinct shingles,
    self-join on shingle, |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold.

    A 1000-doc frequency cap drops stop-shingles — the standard
    scale guard: without it a common shingle produces a quadratic join.

    The distinct-shingle table feeds five subtrees (stop-shingle counts,
    the anti-join probe, doc sizes, both self-join sides); Catalyst does
    not reuse exchanges across them, so both the pre- and post-cap
    tables are materialized once with lazy localCheckpoints — otherwise
    the explode+distinct pipeline re-executes per consumer (the q15
    lesson).

    Round-8 optimization note (kept deliberately minimal): the only added
    step is an EXACT n_common pre-filter evaluated inside the pair-count
    aggregate stage — any pair passing the final rounded-jaccard gate has
    n_common ≥ 2·t\u2032·min_doc_size/(1+t\u2032) (t\u2032 = threshold − 1e-6, the
    round(…,6) margin; union ≥ 2·min_size − n_common), and floor() under-
    approximates the exact ceil bound, so no qualifying pair is dropped.
    At sf1.0 it stops ~90% of the 114M counted pairs (the 1-shared-shingle
    mass) from ever leaving the aggregate (guide §2.3). Two richer
    rewrites were MEASURED AND REVERTED on interleaved same-session A/B:
    (a) dictionary-encoding shingles to int64 join keys + an explicit
    128-partition repartition before the aggregate (the extra exchange of
    the raw 127M-row join output cost more than the narrower sort saved);
    (b) eager instead of lazy localCheckpoints (no steady-state win)."""
    sh = (
        shingles(docs.select("doc_id", "text"), 3)
        .select("doc_id", "shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    sh = sh.join(
        F.broadcast(freq.filter(F.col("_df") > 1000)), "shingle", "left_anti"
    ).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    min_sz_row = sizes.agg(F.min("_sz")).collect()[0][0]
    if min_sz_row:
        t_eff = max(0.0, threshold - 1e-6)
        c_min = max(1, math.floor(2 * t_eff * min_sz_row / (1 + t_eff)))
        inter = inter.filter(F.col("n_common") >= F.lit(int(c_min)))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("_sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("_sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 rule): flag every TRAIN
    document sharing any n-gram (default 13 tokens) with any BENCHMARK
    document → (train_id, bench_id, n_shared) pairs.

    Both sides explode to distinct n-gram shingles; the join runs on the
    shingle (benchmark side is tiny by nature — AQE broadcasts it), so
    cost is train-corpus-linear. Drop or quarantine the flagged ids
    before training."""
    tr = (
        shingles(train.select("doc_id", "text"), n)
        .select(F.col("doc_id").alias("train_id"), "shingle")
        .distinct()
    )
    be = (
        shingles(benchmark.select("doc_id", "text"), n)
        .select(F.col("doc_id").alias("bench_id"), "shingle")
        .distinct()
    )
    return (
        tr.join(be, "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def substring_duplicate_spans(docs: DataFrame, k: int = 10) -> DataFrame:
    """Exact duplicated-substring spans across (and within) documents —
    the ExactSubstr method of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al., 2022), re-expressed relationally instead
    of via a monolithic suffix array:

      1. k-token shingles with positions (one explode);
      2. equality self-join on the shingle (the suffix-array "equal range"
         step), doc-frequency-capped like ngram_jaccard_pairs — a
         stop-shingle would otherwise produce a quadratic join;
      3. diagonal run merging: matches of one duplicated substring share
         (doc_a, doc_b, pos_a − pos_b); consecutive pos_a collapse via the
         pos_a − row_number() island trick — one window + one aggregation.

    Returns (doc_a, doc_b, a_start, b_start, n_tokens): maximal shared
    runs of ≥ k tokens, 1-based token positions; same-doc
    internal repeats appear as doc_a == doc_b with a_start < b_start.

    Scale: shuffles on shingle then on (doc_a, doc_b, diag) — both
    fine-grained keys; the df cap is the only recall trade (a shingle in
    > 1000 docs can split or hide runs, the documented guard).
    """
    sh = shingles_with_pos(docs.select("doc_id", "text"), k).select(
        F.col("doc_id").alias("_id"), F.col("_i").alias("pos"), "shingle"
    ).localCheckpoint(eager=False)
    freq = sh.select("_id", "shingle").distinct().groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df")
    )
    sh = sh.join(F.broadcast(freq.filter(F.col("_df") > 1000)), "shingle", "left_anti")
    a = sh.select(F.col("_id").alias("doc_a"), F.col("pos").alias("pos_a"), "shingle")
    b = sh.select(F.col("_id").alias("doc_b"), F.col("pos").alias("pos_b"), "shingle")
    matches = a.join(b, "shingle").filter(
        (F.col("doc_a") < F.col("doc_b"))
        | ((F.col("doc_a") == F.col("doc_b")) & (F.col("pos_a") < F.col("pos_b")))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        matches.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .withColumn("_island", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "_island")
        .agg(
            F.min("pos_a").alias("a_start"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).alias("n_tokens"),
        )
        .withColumn("b_start", F.col("a_start") - F.col("diag"))
        .select("doc_a", "doc_b", "a_start", "b_start", "n_tokens")
    )


def dedup_lines(docs: DataFrame) -> DataFrame:
    """C4-style line-level corpus deduplication (Raffel et al. 2020 §2.2
    deduplicate three-sentence spans; RefinedWeb line dedup): chunk each
    document into fixed 10-word lines, keep the FIRST corpus
    occurrence of every distinct line (order: doc_id, then position) and
    flag the rest → (doc_id, line_idx, line, keep).

    Plan: one JVM split/slice/posexplode (no Python), then one
    row_number window keyed on the line text — the same single-shuffle
    shape as exact dedup. A pathologically hot line (billions of
    identical boilerplate copies at 100 TB) lands in one task; the
    cap_per_domain salted pre-cap pattern applies verbatim if that
    arises (keep-first = cap 1, so pre-capping per (line, salt) at 1
    bounds the task). Exact DuckDB twin: q59."""
    line_words = 10
    from pyspark.sql import Window

    words = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), words.alias("_w")
    ).withColumn(
        "_idx",
        F.sequence(
            F.lit(0),
            F.ceil(F.size("_w") / F.lit(float(line_words))).cast("long") - 1,
        ),
    )
    lines = d.select(
        "doc_id",
        F.posexplode("_idx").alias("line_idx", "_i"),
        "_w",
    ).select(
        "doc_id",
        F.col("line_idx").cast("long").alias("line_idx"),
        F.array_join(
            F.slice("_w", F.col("_i") * line_words + 1, line_words), " "
        ).alias("line"),
    )
    w = Window.partitionBy("line").orderBy(F.col("doc_id"), F.col("line_idx"))
    return lines.withColumn("keep", F.row_number().over(w) == 1)


def apply_line_dedup(docs: DataFrame) -> DataFrame:
    """The C4 cleaner's OUTPUT side: reconstruct each document from its
    kept lines (dedup_lines keep flags), preserving line order →
    (doc_id, clean_text, n_lines_kept, n_lines_dropped). Documents whose
    every line was seen earlier come back empty (C4 then drops them with
    a length gate). One extra groupBy(doc) over dedup_lines' output —
    the reassembly shuffle is keyed on the doc id, no skew beyond
    document size. Exact DuckDB twin: q61."""
    lines = dedup_lines(docs)
    return (
        lines.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("keep"),
                                F.struct("line_idx", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("clean_text"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_lines_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1))
            .cast("long")
            .alias("n_lines_dropped"),
        )
    )


def semdedup(
    vecs: DataFrame,
    k: int = 6,
    n_iters: int = 2,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with distributed k-means, then inside each cluster
    drop every vector whose cosine similarity with a LOWER-id cluster
    member reaches the threshold — semantic near-duplicate pruning
    without an all-pairs join. Returns (vec_id, cid, keep).

    Determinism/exactness: clustering is train_centroids' integer-exact
    Lloyd; the cosine test is embedding_neardup_pairs' cross-multiplied
    integer form (×100 quantization, t = p/1000) — the whole operator is
    bit-reproducible in any engine (DuckDB twin: q64). The keep rule
    ("a lower-id in-cluster neighbor ≥ t ⇒ drop") is the deterministic
    stand-in for the paper's keep-one-per-group choice.

    Scale: the only quadratic stage is the within-cluster self-join,
    shuffled on cid; cluster count k bounds the per-cluster pair count
    (the paper runs 11k clusters for LAION) — raise k with corpus size so
    n_c stays fixed and total cost stays linear. Assignment broadcasts k
    centroids; nothing global, nothing driver-side.
    """
    from .similarity import train_centroids

    zero = F.lit(0).cast("long")
    p = int(round(threshold * 1000))
    p2, q2 = p * p, 1000 * 1000

    cents = train_centroids(vecs, k=k, n_iters=n_iters)  # (cid, ×1000 ints)
    v = vecs.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.transform(
            "embedding", lambda e: F.round(e.cast("double") * 1000).cast("long")
        ).alias("_v"),
        F.transform(
            "embedding", lambda e: F.round(e.cast("double") * 100).cast("long")
        ).alias("_u"),
    )
    scored = v.crossJoin(F.broadcast(cents)).withColumn(
        "score",
        F.lit(2)
        * F.aggregate(
            F.zip_with("_v", "c", lambda x, y: x * y), zero, lambda a, x: a + x
        )
        - F.aggregate("c", zero, lambda a, x: a + x * x),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("score"), (-F.col("cid")).alias("_nc"))
            ).alias("_m"),
            F.first("_u").alias("_u"),
        )
        .select("vec_id", (-F.col("_m._nc")).cast("long").alias("cid"), "_u")
        .withColumn("_n", F.aggregate("_u", zero, lambda a, x: a + x * x))
    )
    a = assigned.select(
        F.col("vec_id").alias("_ida"), "cid",
        F.col("_u").alias("_ua"), F.col("_n").alias("_na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("_idb"), "cid",
        F.col("_u").alias("_ub"), F.col("_n").alias("_nb"),
    )
    dups = (
        a.join(b, "cid")
        .filter(F.col("_ida") < F.col("_idb"))
        .withColumn(
            "_dot",
            F.aggregate(
                F.zip_with("_ua", "_ub", lambda x, y: x * y),
                zero,
                lambda acc, x: acc + x,
            ),
        )
        .filter(
            (F.col("_dot") > 0)
            & (
                F.lit(q2) * F.col("_dot") * F.col("_dot")
                >= F.lit(p2) * F.col("_na") * F.col("_nb")
            )
        )
        .select(F.col("_idb").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dups, "vec_id", "left")
        .select(
            "vec_id", "cid",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def bloom_decontaminate(probe: DataFrame, build: DataFrame) -> DataFrame:
    """Bloom-filter decontamination: flag probe documents whose text
    fingerprint MAY be in the build (benchmark) set, using a 2^16-bit /
    3-hash Bloom filter — the O(m)-byte broadcast alternative to a
    benchmark join when the benchmark set is large but the filter
    budget is fixed (one-sided error: false positives only, standard
    for contamination screens where flagged docs get a second exact
    pass).

    Scale shape: the filter is BUILT distributed (position explode →
    64-bit-word bit_or aggregation → at most m/64 rows), then collected
    — bounded by the filter size m (8 KB words for m = 2^16
    bits), NOT by build-set size — and broadcast into a JVM-side
    array-literal bit test on the probe scan: no join, no shuffle on
    the probe side at all. Positions are md5-derived (the
    similarity._np_lsh_weights idiom) so the whole operator, false
    positives included, is bit-reproducible in any engine — the DuckDB
    twin (q71) replicates position membership exactly.
    """
    from functools import reduce as _reduce

    fp = F.md5(F.col("text"))

    def pos(i: int, fpcol):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit("bloom"), F.lit(str(i)), fpcol)), 1, 12
                ),
                16, 10,
            ).cast("long")
            % 65536
        )

    build_pos = build.select(
        F.explode(F.array(*[pos(i, fp) for i in range(3)])).alias("p")
    )
    words = (
        build_pos.groupBy((F.col("p") / 64).cast("long").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
            ).alias("bits")
        )
        .collect()  # bounded by m/64 rows (the filter itself), never by data
    )
    arr = [0] * (65536 // 64)
    for r in words:
        arr[int(r["w"])] = int(r["bits"])

    out = probe.select(F.col("doc_id").cast("long").alias("doc_id"), fp.alias("_fp"))
    conds = []
    for i in range(3):
        out = out.withColumn(f"_p{i}", pos(i, F.col("_fp"))).withColumn(
            f"_w{i}", F.element_at(F.lit(arr), (F.col(f"_p{i}") / 64).cast("int") + 1)
        )
        conds.append(
            F.expr(f"((_w{i} >> CAST(_p{i} % 64 AS INT)) & 1) = 1")
        )
    return out.select(
        "doc_id", _reduce(lambda a, b: a & b, conds).alias("maybe_in_benchmark")
    )


def setsim_join(
    docs: DataFrame,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join with prefix filtering
    (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al. WWW'08):
    pairs of documents whose distinct-token sets have
    Jaccard >= threshold_num/threshold_den, found WITHOUT the full
    inverted-index pair blowup and WITHOUT recall loss (unlike the
    df-capped ngram_jaccard_pairs and the LSH family, which trade
    recall for pruning).

    Prefix filter: tokens get a global rarest-first order (df asc, tok
    asc); a document of n tokens keeps only its first
    n - ceil(t*n) + 1 tokens as candidate keys — any pair at Jaccard
    >= t must collide on at least one prefix token, and everything else
    is pruned before the verify join. ceil is computed in integer
    arithmetic ((p*n + q - 1) div q): float ceil(0.6*5) = 4 is exactly
    the misround that would silently drop pairs.

    Verify: exact intersection counts via an equi-join of the candidate
    pairs with both token lists — all integer, all engine-portable
    (DuckDB twin q72); output (doc_a, doc_b, inter, union_) with
    inter * den >= num * union_ as the exact gate. Brute-force parity
    is pinned in pytest.

    Scale: the prefix explode emits ~(1-t) of the token volume; the
    candidate join keys on single tokens whose df the rarest-first
    order minimizes (the hottest tokens sit at the END of every prefix,
    so they rarely appear in one). Verify cost is candidates x token
    join — each a plain hash shuffle.
    """
    p, q = threshold_num, threshold_den
    toks = (
        docs.select(
            F.col("doc_id").cast("long").alias("doc"),
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
        .distinct()
    )
    df_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = toks.join(df_counts, "tok")
    w = Window.partitionBy("doc").orderBy(F.col("df").asc(), F.col("tok").asc())
    wn = Window.partitionBy("doc")
    pref = (
        ranked.withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(
            F.col("r")
            <= F.col("n") - F.expr(f"({p} * n + {q} - 1) div {q}") + F.lit(1)
        )
        .select("doc", "tok", "n")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("da"), F.col("b.doc").alias("db"),
            F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    inter = (
        cand.join(toks.select(F.col("doc").alias("da"), "tok"), "da")
        # equi-join on (db, tok): only shared tokens survive — never the
        # per-pair token cross product
        .join(toks.select(F.col("doc").alias("db"), "tok"), ["db", "tok"])
        .groupBy("da", "db", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn("union_", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * F.lit(q) >= F.lit(p) * F.col("union_"))
        .select(
            F.col("da").alias("doc_a"), F.col("db").alias("doc_b"),
            F.col("inter").cast("long").alias("inter"),
            F.col("union_").cast("long").alias("union_"),
        )
    )


def cdc_chunk_dedup(docs: DataFrame, mask: int = 16) -> DataFrame:
    """Content-defined chunking (CDC) duplication profile — the
    storage-dedup / large-doc near-dup primitive (LBFS/rsync lineage):
    token streams are cut at CONTENT-dependent boundaries (positions
    whose k-gram hash ≡ 0 mod `mask`, expected chunk length ≈ mask
    tokens), so an insertion early in a document shifts ONLY the chunk
    it lands in — byte-offset chunking would shift every later chunk,
    defeating dedup. Chunks are fingerprinted (md5 of their token span)
    and counted across the corpus.

    Output per document: (doc_id, n_chunks, n_dup_chunks, dup_ppm) —
    n_dup_chunks = this doc's chunks whose fingerprint occurs in more
    than one document (the redundancy a chunk store would reclaim).

    Exactness: the same md5-prefix k-gram hash as winnow_fingerprints,
    cut rule and chunk assembly pure integer/string ops — engine-exact.

    Scale: one posexplode (doc-keyed), one per-doc window for the
    running cut count (partitioned by doc), one chunk aggregate, one
    fingerprint-frequency aggregate, one broadcast-size join back per
    doc. Everything keys on doc or fingerprint — no global stage."""
    from ..functions.text import tokens

    sh = shingles_with_pos(docs.select("doc_id", "text"), 3).select(
        "doc_id",
        F.col("_i").alias("p"),
        (
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
            .cast("long")
            % mask
            == 0
        ).cast("int").alias("is_cut"),
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    marked = tok.join(sh, ["doc_id", "p"], "left").select(
        "doc_id", "p", "tok",
        F.coalesce("is_cut", F.lit(0)).alias("is_cut"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("p").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = marked.withColumn(
        "chunk_idx",
        F.coalesce(F.sum("is_cut").over(w), F.lit(0)).cast("long"),
    )
    chunks = assigned.groupBy("doc_id", "chunk_idx").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("chunk_md5"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    freq = chunks.groupBy("chunk_md5").agg(F.countDistinct("doc_id").alias("nd"))
    j = chunks.join(freq, "chunk_md5")
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.expr("(1000000 * n_dup_chunks) DIV n_chunks").alias(
                "dup_ppm"
            ),
        )
    )


def cdc_chunk_dedup_sql(docs_sql: str) -> str:
    """DuckDB twin of cdc_chunk_dedup."""
    gram = " || ' ' || ".join(
        f"t[i + {j}]" for j in range(3)
    ).replace("t[i + 0]", "t[i]")
    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM ({docs_sql})
),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM d
),
marked AS (
  SELECT doc_id, i AS p, t[i] AS tok,
    CASE WHEN i <= len(t) - 2
          AND CAST(('0x' || substr(md5({gram}), 1, 8)) AS BIGINT)
              % 16 = 0
         THEN 1 ELSE 0 END AS is_cut
  FROM pos
),
assigned AS (
  SELECT doc_id, p, tok,
    coalesce(sum(is_cut) OVER (PARTITION BY doc_id ORDER BY p
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
  FROM marked
),
chunks AS (
  SELECT doc_id, chunk_idx,
         md5(string_agg(tok, ' ' ORDER BY p)) AS chunk_md5,
         count(*) AS n_toks
  FROM assigned GROUP BY 1, 2
),
freq AS (
  SELECT chunk_md5, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       (1000000 * CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END)
          AS BIGINT)) // CAST(count(*) AS BIGINT) AS dup_ppm
FROM chunks c JOIN freq f ON c.chunk_md5 = f.chunk_md5
GROUP BY c.doc_id
"""


def containment_dedup(docs: DataFrame, min_containment_ppm: int = 800_000) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment C(A→B) = |S_A ∩ S_B| /
    |S_A| — the doc-inside-doc detector Jaccard misses (a paragraph
    quoted inside a long article has tiny Jaccard but containment ≈ 1;
    C4/RefinedWeb-style pipelines drop the CONTAINED side). Output:
    (doc_a, doc_b, inter, size_a, size_b, containment_ppm) for ordered
    pairs with C(A→B) ≥ threshold and A ≠ B — doc_a is the contained
    (smaller) side by definition of the direction emitted.

    Exact: distinct-shingle sets, integer intersection counts,
    containment as floor-ppm. The candidate join is doc-frequency
    capped (shingles in > 200 docs are dropped from PAIRING
    — boilerplate shingles pair everything with everything; the
    docstring caveat is that containment against pure-boilerplate docs
    is then underestimated, the standard LSH-style trade)."""
    sh = (
        shingles_with_pos(docs.select("doc_id", "text"), 3)
        .select(F.col("doc_id").alias("doc"), "shingle")
        .distinct()
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(dfreq.filter(F.col("df") <= 200), "shingle").select("doc", "shingle")
    inter = (
        rare.alias("x")
        .join(rare.alias("y"), "shingle")
        .filter(F.col("x.doc") != F.col("y.doc"))
        .groupBy(
            F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("doc").alias("doc_a"),
                         F.col("sz").alias("size_a")), "doc_a"
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"),
                         F.col("sz").alias("size_b")), "doc_b"
        )
        .select(
            "doc_a", "doc_b", "inter", "size_a", "size_b",
            F.expr("(1000000 * inter) DIV size_a").alias(
                "containment_ppm"
            ),
        )
        .filter(F.col("containment_ppm") >= min_containment_ppm)
    )
    return out


def containment_dedup_sql(docs_sql: str, min_containment_ppm: int = 800_000) -> str:
    """DuckDB twin of containment_dedup."""
    shingle_n = 3
    gram = " || ' ' || ".join(
        f"t[i + {j}]" for j in range(shingle_n)
    ).replace("t[i + 0]", "t[i]")
    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM ({docs_sql})
),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {shingle_n - 1}))
    AS i
  FROM d WHERE len(t) >= {shingle_n}
),
sh AS (
  SELECT DISTINCT doc_id AS doc, {gram} AS shingle FROM pos
),
sizes AS (SELECT doc, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
rare AS (
  SELECT s.doc, s.shingle FROM sh s
  JOIN dfreq f ON s.shingle = f.shingle AND f.df <= 200
),
inter AS (
  SELECT x.doc AS doc_a, y.doc AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM rare x JOIN rare y ON x.shingle = y.shingle AND x.doc <> y.doc
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
       (1000000 * i.inter) // sa.sz AS containment_ppm
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc
JOIN sizes sb ON i.doc_b = sb.doc
WHERE (1000000 * i.inter) // sa.sz >= {min_containment_ppm}
"""
