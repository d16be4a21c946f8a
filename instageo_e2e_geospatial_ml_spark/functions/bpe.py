"""BPE tokenizer training — Sennrich, Haddow & Birch, ACL 2016
("Neural Machine Translation of Rare Words with Subword Units"): learn
a merge table from corpus statistics. Training a tokenizer on the
corpus it will tokenize is a standard step of an LLM data pipeline
(GPT-2's BPE, SentencePiece BPE mode), and at 100 TB the pair-counting
pass is firmly a cluster job.

Shape per merge round (the map-reduce formulation of the paper's
algorithm, which iterates over a DICTIONARY, not the corpus):

  1. The corpus collapses once to (word, count) — distinct words only;
     all later rounds run on this dictionary table, whose size is
     vocabulary- not corpus-bounded.
  2. Adjacent symbol pairs explode from each word's symbol array
     weighted by word count -> groupBy(pair).sum — one partial-agg
     shuffle over O(vocab) rows.
  3. argmax with deterministic tiebreak (count DESC, left ASC, right
     ASC) -> a ONE-ROW collect (the same scalar-collect contract as
     split.py's packing threshold; not a data collect).
  4. The winning pair merges greedily left-to-right inside every
     word's array via a JVM `aggregate` fold — no Python in the loop.

Exactness: counts are integers and the tiebreak is total, so the merge
sequence is unique — the pytest pins the paper-style low/lower/newest/
widest example against an independent pure-Python replica. The q90
driver slot is rows-only (iterative argmax is not ANSI-SQL), the
accepted class for iterative algorithms.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

END = "</w>"


def corpus_dictionary(docs: DataFrame) -> DataFrame:
    """documents -> (word, n) dictionary: lowercase, alpha-run words,
    symbol array = characters + end-of-word marker."""
    words = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return words.withColumn(
        "syms",
        F.concat(
            F.expr("filter(split(word, ''), s -> s <> '')"),
            F.array(F.lit(END)),
        ),
    )


def _merge_expr(left: str, right: str) -> F.Column:
    """Greedy left-to-right merge of the adjacent pair (left, right)
    inside the `syms` array, as a single JVM aggregate fold."""
    l_lit = left.replace("\\", "\\\\").replace("'", "\\'")
    r_lit = right.replace("\\", "\\\\").replace("'", "\\'")
    return F.expr(
        "aggregate(syms, cast(array() as array<string>), (acc, x) -> "
        f"if(size(acc) > 0 and element_at(acc, -1) = '{l_lit}' and x = '{r_lit}', "
        f"concat(slice(acc, 1, size(acc) - 1), array('{l_lit}{r_lit}')), "
        "concat(acc, array(x))))"
    )


def train_bpe(docs: DataFrame, n_merges: int) -> DataFrame:
    """Learn `n_merges` BPE merges from the corpus; returns the ranked
    merge table (rank, left, right, merged, pair_count) as a DataFrame.
    Rounds whose best pair count is 1 still merge (paper behavior); the
    loop stops early only when no adjacent pair remains."""
    spark: SparkSession = docs.sparkSession
    dic = corpus_dictionary(docs).cache()
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = (
            dic.select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) as l, "
                        "element_at(syms, i + 1) as r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        best = pairs.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).limit(1).collect()
        if not best:
            break
        bl, br, bc = best[0].l, best[0].r, best[0].cnt
        merges.append((rank, bl, br, bl + br, int(bc)))
        new_dic = dic.withColumn("syms", _merge_expr(bl, br)).cache()
        new_dic.count()  # materialize before dropping the parent cache
        dic.unpersist()
        dic = new_dic
    dic.unpersist()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count long"
    )
