"""spark-submit entry point (north rule: `spark-submit --py-files
instageo_e2e_geospatial_ml_spark.zip -m …`).

    spark-submit --py-files dist/instageo_e2e_geospatial_ml_spark.zip \
        main.py --mode chip --obs obs.parquet --catalog cat.parquet \
        --images imgs.parquet --out /data/chips

Modes:
  chip       full chip pipeline (observations × catalog × images → chip
             table, checkpointed to --out)
  synth      generate a deterministic synthetic demo dataset and run the
             pipeline end to end (no inputs needed)
  split      assign train/val/test over an observation table
  dedup      corpus dedup over a documents table (--strategy exact |
             minhash | simhash | jaccard | winnow | cluster)
  text       per-document text stats (quality, lang-id, ws/BPE tokens,
             fingerprint)
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="instageo_e2e_geospatial_ml_spark")
    p.add_argument(
        "--mode",
        choices=["chip", "synth", "split", "dedup", "text", "ann", "sample", "profile"],
        default="synth",
    )
    p.add_argument("--k", type=int, default=10, help="ann: neighbors per query")
    p.add_argument("--fraction", type=float, default=0.1, help="sample: keep rate")
    p.add_argument("--obs")
    p.add_argument("--input", help="documents parquet for dedup/text modes")
    p.add_argument("--catalog")
    p.add_argument("--images")
    p.add_argument("--out", default="/tmp/spark_graft_chips")
    p.add_argument("--filters", default="", help="\"('col' ? 'op' ? val); …\" predicate string")
    p.add_argument("--chip-size", type=int, default=64)
    p.add_argument("--window-size", type=int, default=0)
    p.add_argument("--num-steps", type=int, default=1)
    p.add_argument("--temporal-step", type=int, default=5)
    p.add_argument("--temporal-tolerance", type=int, default=10)
    p.add_argument("--min-count", type=int, default=1)
    p.add_argument("--strategy", default="kmeans")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from .functions.filters import filters_to_column, parse_filters
    from .plans.pipeline import ChipPipelineConfig, run_chip_pipeline
    from .sources.checkpoint import CheckpointTable

    spark = SparkSession.builder.appName("instageo_e2e_geospatial_ml_spark").getOrCreate()
    cfg = ChipPipelineConfig(
        min_count=args.min_count,
        num_steps=args.num_steps,
        temporal_step=args.temporal_step,
        temporal_tolerance=args.temporal_tolerance,
        chip_size=args.chip_size,
        window_size=args.window_size,
    )

    if args.mode == "synth":
        from . import synth

        tiles = ["38PMB", "30RYS"]
        obs_pdf = synth.gen_observations_pdf(n_extra_per_tile=10, tiles=tiles, spread=0.2)
        obs = spark.createDataFrame(obs_pdf.drop(columns=["mgrs_tile_id"]))
        cat_pdf = synth.gen_granule_catalog_pdf(tiles=tiles, days=60, every=5)
        catalog = spark.createDataFrame(cat_pdf)
        images = spark.createDataFrame(synth.gen_images_pdf(cat_pdf, w=128, h=128))
        cfg.chip_size = 32
    elif args.mode == "chip":
        obs = spark.read.parquet(args.obs)
        catalog = spark.read.parquet(args.catalog)
        images = spark.read.parquet(args.images)
    elif args.mode == "split":
        from .operators.splitter import split_by_strategy

        obs = spark.read.parquet(args.obs)
        out = split_by_strategy(obs, strategy=args.strategy)
        out.write.mode("overwrite").parquet(args.out)
        counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
        print(json.dumps({"mode": "split", "out": args.out, "counts": counts}))
        return 0
    elif args.mode == "dedup":
        from .operators import dedup as dd

        docs = spark.read.parquet(args.input)
        strat = args.strategy
        if strat in ("exact", "kmeans"):  # kmeans is the --strategy default
            out = dd.exact_dedup(docs)
        elif strat == "minhash":
            out = dd.minhash_lsh_dedup(docs)
        elif strat == "simhash":
            out = dd.simhash(docs)
        elif strat == "jaccard":
            out = dd.ngram_jaccard_pairs(docs)
        elif strat == "winnow":
            out = dd.winnow_fingerprints(docs)
        elif strat == "cluster":
            out = dd.dedup_clusters(dd.minhash_lsh_dedup(docs))
        else:
            raise SystemExit(f"unknown dedup strategy {strat!r}")
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"mode": "dedup", "strategy": strat, "out": args.out,
                          "n_rows": out.count()}))
        return 0
    elif args.mode == "ann":
        from pyspark.sql import functions as F

        from .operators.similarity import (
            centroids_as_vectors,
            ivf_topk,
            lsh_topk,
            train_centroids,
        )

        vecs = spark.read.parquet(args.input)
        q = vecs.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        p = vecs.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
        if args.strategy in ("ivf", "kmeans"):
            cen = centroids_as_vectors(train_centroids(vecs, k=8, n_iters=3))
            out = ivf_topk(q, p, cen, k=args.k)
        elif args.strategy == "lsh":
            out = lsh_topk(q, p, k=args.k, multi_probe=True)
        else:
            raise SystemExit(f"unknown ann strategy {args.strategy!r}")
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"mode": "ann", "strategy": args.strategy, "out": args.out,
                          "n_rows": out.count()}))
        return 0
    elif args.mode == "sample":
        from .operators.sampling import hash_sample

        docs = spark.read.parquet(args.input)
        out = hash_sample(docs, "doc_id", args.fraction)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"mode": "sample", "fraction": args.fraction,
                          "out": args.out, "n_rows": out.count()}))
        return 0
    elif args.mode == "profile":
        from .functions.text import corpus_profile

        docs = spark.read.parquet(args.input)
        out = corpus_profile(docs)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"mode": "profile", "out": args.out,
                          "n_rows": out.count()}))
        return 0
    elif args.mode == "text":
        from pyspark.sql import functions as F

        from .functions import text as tx

        docs = spark.read.parquet(args.input)
        out = docs.select(
            "doc_id",
            tx.token_count("text").alias("n_ws_tokens"),
            tx.bpe_token_count("text").alias("n_bpe_tokens"),
            tx.quality_score("text").alias("quality"),
            tx.predict_lang("text").alias("lang"),
            tx.fingerprint("text").alias("fingerprint"),
        )
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"mode": "text", "out": args.out, "n_rows": out.count()}))
        return 0

    if args.filters:
        obs = obs.filter(filters_to_column(parse_filters(args.filters)))

    ckpt = CheckpointTable(spark, args.out, key="stac_items_str", partition_by="tile_key")
    chips = run_chip_pipeline(obs, catalog, images, cfg, checkpoint=ckpt)
    n = chips.count()
    print(json.dumps({"mode": args.mode, "out": args.out, "n_chips": int(n)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
