"""Image-table ops, embedding near-dup, and the solar filter."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark import codecs, synth
from instageo_e2e_geospatial_ml_spark.functions.solar import (
    daytime_filter,
    sunrise_sunset_utc_minutes,
)
from instageo_e2e_geospatial_ml_spark.operators.dedup import embedding_neardup_pairs


@pytest.fixture(scope="module")
def images_df(spark):
    cat = synth.gen_granule_catalog_pdf(tiles=["38PMB"], days=10, every=5)
    return spark.createDataFrame(synth.gen_images_pdf(cat, w=64, h=64, fmt="png"))


def test_embedding_neardup_matches_numpy_cosine(spark):
    """Every pair (a < b) whose x100-quantized vectors have cosine >= 0.3
    (float cosine, pairs within 1e-9 of the threshold skipped), with the
    exact integer dot product."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = embedding_neardup_pairs(e, threshold=0.3).toPandas()
    assert len(got) > 0
    pdf = e.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    m = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    q = (np.sign(m) * np.floor(np.abs(m) * 100.0 + 0.5)).astype(np.int64)
    dots = q @ q.T
    norms = np.sqrt(np.diag(dots).astype(np.float64))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dots / np.outer(norms, norms)
    i, j = np.triu_indices(len(ids), 1)
    c = cos[i, j]
    sure = np.isfinite(c) & (np.abs(c - 0.3) >= 1e-9)
    keep = sure & (c >= 0.3)
    lo, hi = np.minimum(ids[i], ids[j]), np.maximum(ids[i], ids[j])
    want = dict(zip(zip(lo[keep], hi[keep]), dots[i, j][keep]))
    borderline = set(zip(lo[~sure], hi[~sure]))
    got_pairs = {
        (a, b): d
        for a, b, d in zip(got["vec_a"], got["vec_b"], got["dot"])
        if (a, b) not in borderline
    }
    assert len(want) > 0
    assert got_pairs == want


def test_sunrise_sunset_equator_equinox():
    # equator at equinox (doy ~80): sunrise ≈ 6:00, sunset ≈ 18:00 local
    sr, ss = sunrise_sunset_utc_minutes(np.array([0.0]), np.array([0.0]), np.array([80.0]))
    assert abs(sr[0] - 360) < 20
    assert abs(ss[0] - 1080) < 20
    # day length grows toward the summer-hemisphere pole (doy 172 = June)
    sr_n, ss_n = sunrise_sunset_utc_minutes(np.array([60.0]), np.array([0.0]), np.array([172.0]))
    assert (ss_n[0] - sr_n[0]) > 16 * 60


def test_daytime_filter(spark):
    cat = synth.gen_granule_catalog_pdf(tiles=["38PMB"], days=20, every=5)
    g = spark.createDataFrame(cat).withColumn(
        "fp_cx", (F.col("fp_minx") + F.col("fp_maxx")) / 2
    ).withColumn("fp_cy", (F.col("fp_miny") + F.col("fp_maxy")) / 2)
    # granule ts is 07:26 UTC at lon ~45E (~10:26 local) → all daytime
    assert daytime_filter(g).count() == g.count()
    night = g.withColumn("ts", F.col("ts") + F.expr("INTERVAL 14 HOURS"))
    assert daytime_filter(night).count() == 0


def test_ngram_jaccard_pairs(spark):
    from instageo_e2e_geospatial_ml_spark.operators.dedup import ngram_jaccard_pairs

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over a lazy dog",  # near-dup of 1
                "completely different content with no overlap at all here",
            ],
        }
    )
    out = ngram_jaccard_pairs(spark.createDataFrame(docs), threshold=0.3).toPandas()
    assert len(out) == 1
    assert (out.iloc[0]["doc_a"], out.iloc[0]["doc_b"]) == (1, 2)
    assert 0.3 <= out.iloc[0]["jaccard"] <= 1.0


def test_embedding_exact_guard_raises(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="capped"):
        embedding_neardup_pairs(e, threshold=0.3, max_exact_rows=3)


def test_brute_force_topk_query_cap(spark):
    from instageo_e2e_geospatial_ml_spark.operators.similarity import brute_force_topk
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    p = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
    with pytest.raises(ValueError, match="capped"):
        brute_force_topk(q, p, k=2, max_queries=3)


def test_fused_ann_paths_empty_query_side(spark):
    """The round-8 fused kernels (driver-side probe lists + one corpus
    pass) must return an empty result — not crash — when the query side
    is empty (no probe buckets/lists exist)."""
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.operators.similarity import (
        ivf_topk,
        label_centroids,
        lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.lit(False)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    p = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
    assert lsh_topk(q, p, k=3, n_bits=4).count() == 0
    cen = label_centroids(
        e.withColumn("label", F.col("vec_id") % 4), assemble=True
    )
    assert ivf_topk(q, p, cen, k=3).count() == 0


def test_dedup_clusters_components(spark):
    from instageo_e2e_geospatial_ml_spark.operators.dedup import dedup_clusters

    # two components: {1,2,3} chained (1-2, 2-3) and {10,11}; min-id labels
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 10], "doc_b": [2, 3, 11]})
    )
    out = dedup_clusters(pairs).toPandas().sort_values("doc_id")
    got = dict(zip(out["doc_id"], out["cluster_id"]))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_bpe_token_count_vs_whitespace(spark):
    from instageo_e2e_geospatial_ml_spark.functions.text import (
        bpe_token_count,
        token_count,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "plain words only here",
                    "It's 2024, v2.0 (beta)!",
                ],
            }
        )
    )
    out = (
        docs.select(
            "doc_id",
            token_count("text").alias("ws"),
            bpe_token_count("text").alias("bpe"),
        )
        .toPandas()
        .set_index("doc_id")
    )
    # plain text: one BPE token per word
    assert out.loc[1, "bpe"] == out.loc[1, "ws"] == 4
    # punctuation/digits/contractions split into more tokens than words
    assert out.loc[2, "bpe"] > out.loc[2, "ws"]


def test_winnow_fingerprints_guarantee(spark):
    from instageo_e2e_geospatial_ml_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "one two three " + shared + " four five",
                shared + " completely other tail words here",
                "unrelated content having no overlap with anything else at all",
            ],
        }
    )
    out = winnow_fingerprints(spark.createDataFrame(docs)).toPandas()
    # winnowing guarantee: a shared run of >= window+k-1 = 6 tokens
    # (we share 8) forces >= 1 common fingerprint hash between docs 1 and 2
    h1 = set(out[out["doc_id"] == 1]["fp_hash"])
    h2 = set(out[out["doc_id"] == 2]["fp_hash"])
    h3 = set(out[out["doc_id"] == 3]["fp_hash"])
    assert h1 & h2
    assert not (h1 & h3)
    # digest is sublinear: fewer fingerprints than shingles
    n_shingles_1 = len(docs.loc[0, "text"].split()) - 2
    assert len(out[out["doc_id"] == 1]) < n_shingles_1


def test_clean_corpus_pipeline(spark):
    from instageo_e2e_geospatial_ml_spark.operators.dedup import clean_corpus

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                # en, good quality, unique
                "the quick brown fox jumps over the lazy dog and the cat sat on the mat with the hat",
                # exact duplicate of 1 (higher id → dropped by keep-min)
                "the quick brown fox jumps over the lazy dog and the cat sat on the mat with the hat",
                # near-duplicate of 1 (one word changed)
                "the quick brown fox jumps over the lazy dog and the cat sat on the mat with the cap",
                # German → dropped by the language gate
                "der hund und die katze und der vogel und die maus und der baer",
                # junk → dropped by the quality gate
                "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( )))",
            ],
        }
    )
    out = clean_corpus(spark.createDataFrame(docs), min_quality=0.3).toPandas()
    assert sorted(out["doc_id"]) == [1]  # 2 exact-dup, 3 near-dup, 4 de, 5 junk
    assert (out["quality"] >= 0.3).all()


def test_label_centroids_feed_ivf(spark):
    from instageo_e2e_geospatial_ml_spark.operators.similarity import (
        ivf_topk,
        label_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cen = label_centroids(e, assemble=True).withColumnRenamed("cid", "cid")
    n_labels = e.select("label").distinct().count()
    cen_pdf = cen.toPandas()
    assert len(cen_pdf) == n_labels
    assert all(len(v) == 64 for v in cen_pdf["cvec"])
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    p = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
    out = ivf_topk(q, p, cen, k=3).toPandas()
    assert len(out) > 0
    assert (out.groupby("qid").size() <= 3).all()


def test_dedup_clusters_long_chain_converges(spark):
    # pointer jumping must collapse a 120-node chain (worst-case diameter)
    # in O(log n) rounds — well inside the default iteration bound
    from instageo_e2e_geospatial_ml_spark.operators.dedup import dedup_clusters

    n = 120
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": list(range(n - 1)), "doc_b": list(range(1, n))})
    )
    out = dedup_clusters(pairs, max_iters=12).toPandas()
    assert len(out) == n
    assert (out["cluster_id"] == 0).all()


def _make_siz_codestream(w, h, n_comp=1, depth=16):
    # minimal valid SOC+SIZ prefix per ISO 15444-1 A.5.1
    body = (
        (0).to_bytes(2, "big")          # Rsiz
        + w.to_bytes(4, "big") + h.to_bytes(4, "big")      # Xsiz Ysiz
        + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")  # XOsiz YOsiz
        + w.to_bytes(4, "big") + h.to_bytes(4, "big")      # XTsiz YTsiz
        + (0).to_bytes(4, "big") + (0).to_bytes(4, "big")  # XTOsiz YTOsiz
        + n_comp.to_bytes(2, "big")
        + bytes([depth - 1, 1, 1]) * n_comp                # Ssiz XRsiz YRsiz
    )
    lsiz = (2 + len(body)).to_bytes(2, "big")
    return b"\xff\x4f" + b"\xff\x51" + lsiz + body


def test_parse_jp2_header_codestream_and_container():
    from instageo_e2e_geospatial_ml_spark.sources.images import parse_jp2_header

    cs = _make_siz_codestream(10980, 10980, n_comp=1, depth=16)
    got = parse_jp2_header(cs)
    assert got == {
        "w": 10980, "h": 10980, "n_components": 1, "bit_depth": 16,
        "signed": False,
    }
    # JP2 container: signature box + ftyp box + jp2c box wrapping the stream
    sig = bytes.fromhex("0000000c6a5020200d0a870a")
    ftyp = (20).to_bytes(4, "big") + b"ftypjp2 " + b"\x00" * 8
    jp2c = (8 + len(cs)).to_bytes(4, "big") + b"jp2c" + cs
    got2 = parse_jp2_header(sig + ftyp + jp2c)
    assert got2["w"] == 10980 and got2["n_components"] == 1

    with pytest.raises(ValueError):
        parse_jp2_header(b"\x00" * 32)


def test_parse_jp2_header_extended_length_boxes():
    """LBox==1 boxes carry their real length in a 64-bit XLBox after the
    type and use a 16-byte header (ISO 15444-1 I.5.1) — both before jp2c
    and on the jp2c box itself."""
    from instageo_e2e_geospatial_ml_spark.sources.images import parse_jp2_header

    cs = _make_siz_codestream(512, 256, n_comp=3, depth=12)
    sig = bytes.fromhex("0000000c6a5020200d0a870a")
    # an extended-length ftyp box sitting before jp2c
    ftyp_payload = b"jp2 " + b"\x00" * 8
    ftyp_ext = (
        (1).to_bytes(4, "big") + b"ftyp"
        + (16 + len(ftyp_payload)).to_bytes(8, "big") + ftyp_payload
    )
    jp2c = (8 + len(cs)).to_bytes(4, "big") + b"jp2c" + cs
    got = parse_jp2_header(sig + ftyp_ext + jp2c)
    assert got == {
        "w": 512, "h": 256, "n_components": 3, "bit_depth": 12,
        "signed": False,
    }
    # the jp2c box itself extended-length (how >4GiB codestreams ship)
    jp2c_ext = (
        (1).to_bytes(4, "big") + b"jp2c" + (16 + len(cs)).to_bytes(8, "big") + cs
    )
    ftyp = (20).to_bytes(4, "big") + b"ftypjp2 " + b"\x00" * 8
    got2 = parse_jp2_header(sig + ftyp + jp2c_ext)
    assert got2["w"] == 512 and got2["bit_depth"] == 12


def test_train_centroids_unsupervised_ivf_recall(spark):
    # distributed Lloyd must (a) be deterministic, (b) strictly improve the
    # k-means objective over the raw seeds, and (c) produce centroids that
    # give ivf_topk useful recall against the exact brute-force top-k
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.similarity import (
        brute_force_topk,
        centroids_as_vectors,
        ivf_topk,
        train_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    c0 = train_centroids(e, k=4, n_iters=0).toPandas()
    c3 = train_centroids(e, k=4, n_iters=3).toPandas()
    c3b = train_centroids(e, k=4, n_iters=3).toPandas()
    # deterministic across runs
    key = lambda p: sorted((int(r["cid"]), tuple(r["c"])) for _, r in p.iterrows())
    assert key(c3) == key(c3b)

    vecs = np.array(
        [np.asarray(v, dtype=np.float64) for v in e.toPandas()["embedding"]]
    )
    qv = np.rint(vecs * 1000.0)

    def objective(cents_pdf):
        cm = np.array([np.asarray(c, dtype=np.float64) for c in cents_pdf["c"]])
        d2 = ((qv[:, None, :] - cm[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    assert objective(c3) < objective(c0)  # Lloyd improved the seeds

    cen = centroids_as_vectors(train_centroids(e, k=4, n_iters=3))
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    p = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
    exact = brute_force_topk(q, p, k=5).toPandas()
    approx = ivf_topk(q, p, cen, k=5).toPandas()
    exact_pairs = set(zip(exact["qid"], exact["pid"]))
    approx_pairs = set(zip(approx["qid"], approx["pid"]))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, recall


def test_lsh_multiprobe_improves_recall(spark):
    from instageo_e2e_geospatial_ml_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    p = e.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
    exact = set(map(tuple, brute_force_topk(q, p, k=10).select("qid", "pid").collect()))

    def recall(multi):
        got = set(
            map(
                tuple,
                lsh_topk(q, p, k=10, n_bits=6, multi_probe=multi)
                .select("qid", "pid")
                .collect(),
            )
        )
        return len(got & exact) / len(exact)

    r1, rm = recall(False), recall(True)
    assert rm > r1, (r1, rm)  # the recall knob must actually turn


def test_retrieval_and_sampling_units(spark):
    from instageo_e2e_geospatial_ml_spark.functions.retrieval import (
        bigram_surprisal_scores,
        bm25_scores,
        top_terms,
    )
    from instageo_e2e_geospatial_ml_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "source": ["a", "a", "b"],
                "text": [
                    "spark spark table",          # tf(spark)=2 in 3 tokens
                    "spark join join join join",  # longer, tf=1
                    "row scan merge",             # no query terms
                ],
            }
        )
    )
    bm = bm25_scores(docs, ["spark"]).toPandas().set_index("doc_id")
    assert bm.loc[3, "bm25"] == 0.0
    # doc 1: higher tf AND shorter -> strictly higher score than doc 2
    assert bm.loc[1, "bm25"] > bm.loc[2, "bm25"] > 0

    sur = bigram_surprisal_scores(docs).toPandas().set_index("doc_id").sort_index()
    # 'spark spark'/'spark table' occur once each; doc 2 repeats
    # 'join join' 3 times -> more probable transitions -> lower mean
    assert sur.loc[2, "surprisal_mean"] < sur.loc[1, "surprisal_mean"]
    assert (sur["n_bigrams"] == [2, 4, 2]).all()

    tt = top_terms(docs, n=1).toPandas()
    top_a = tt[tt["source"] == "a"].iloc[0]
    assert top_a["tok"] == "join" and top_a["cnt"] == 4

    big = spark.range(0, 20000).withColumnRenamed("id", "k")
    frac = hash_sample(big, "k", 0.25).count() / 20000
    assert abs(frac - 0.25) < 0.02  # hash uniformity
    # determinism + repartition stability
    a = set(r["k"] for r in hash_sample(big, "k", 0.1).collect())
    b = set(r["k"] for r in hash_sample(big.repartition(13), "k", 0.1).collect())
    assert a == b

    st = stratified_sample(
        docs, "doc_id", "source", {"a": 1.0}, default_fraction=0.0
    ).toPandas()
    assert sorted(st["doc_id"]) == [1, 2]  # all of 'a', none of 'b'


def _phash_frame(spark, imgs):
    """(image_id, phash) with codecs.phash64 over each decoded image."""
    rows = [
        (r.image_id, codecs.phash64(codecs.decode(bytes(r.bytes), r.w, r.h, 1, r.fmt)))
        for r in imgs.collect()
    ]
    return spark.createDataFrame(rows, "image_id string, phash long")


def _brute_force_pairs(ph, max_hamming):
    rows = ph.collect()
    return {
        (a.image_id, b.image_id)
        for a in rows
        for b in rows
        if a.image_id < b.image_id
        and bin((a.phash ^ b.phash) & ((1 << 64) - 1)).count("1") <= max_hamming
    }


def test_phash_neardup_exact_for_threshold(spark):
    from instageo_e2e_geospatial_ml_spark.sources.images import hamming_neardup_pairs

    base = synth.gen_images_df(spark, [f"g{i}" for i in range(12)], w=64, h=64, fmt="raw")
    base = base.select("image_id", "bytes", "w", "h", "fmt")
    # byte-identical copies -> hamming 0 against their source
    dups = base.withColumn("image_id", F.concat("image_id", F.lit("#identity")))
    ph = _phash_frame(spark, base.unionByName(dups))

    got = hamming_neardup_pairs(ph, max_hamming=4).toPandas()
    got_pairs = set(zip(got["id_a"], got["id_b"]))
    assert got_pairs == _brute_force_pairs(ph, 4)
    # every image matches its identical copy
    for r in base.select("image_id").collect():
        assert (r.image_id, f"{r.image_id}#identity") in got_pairs


def test_phash_neardup_high_threshold_no_degenerate_block(spark):
    # max_hamming=8 -> 9 blocks: a fixed ceil-width split would leave the
    # last block EMPTY (constant key = one all-pairs bucket); the even
    # boundary split must keep exactness without that blowup
    from instageo_e2e_geospatial_ml_spark.sources.images import hamming_neardup_pairs

    imgs = synth.gen_images_df(spark, [f"h{i}" for i in range(8)], w=64, h=64, fmt="raw")
    ph = _phash_frame(spark, imgs.select("image_id", "bytes", "w", "h", "fmt"))
    got = set(
        map(
            tuple,
            hamming_neardup_pairs(ph, max_hamming=8).select("id_a", "id_b").collect(),
        )
    )
    assert got == _brute_force_pairs(ph, 8)


def test_chunking_pii_decontamination_units(spark):
    from instageo_e2e_geospatial_ml_spark.functions.text import (
        chunk_documents,
        scrub_pii,
    )
    from instageo_e2e_geospatial_ml_spark.operators.dedup import (
        contamination_check,
    )

    words = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [words, "short doc"]})
    )
    ch = chunk_documents(docs, chunk_tokens=40, overlap=10).toPandas()
    d1 = ch[ch["doc_id"] == 1].sort_values("chunk_idx")
    # stride 30: starts 1, 31, 61 -> 3 chunks; last one is partial (40 toks
    # from 61 = tokens 61..100)
    assert list(d1["n_tokens"]) == [40, 40, 40]
    assert d1.iloc[0]["chunk_text"].startswith("w0 w1 ")
    assert d1.iloc[1]["chunk_text"].startswith("w30 ")
    # overlap: chunk 0 ends with the 10 tokens chunk 1 starts with
    assert d1.iloc[0]["chunk_text"].split()[-10:] == d1.iloc[1]["chunk_text"].split()[:10]
    # short doc -> single (partial) chunk
    d2 = ch[ch["doc_id"] == 2]
    assert len(d2) == 1 and d2.iloc[0]["chunk_text"] == "short doc"
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=10, overlap=10)

    pii = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "text": [
                    "mail a.b@x.io call +1 555 123 4567 ip 10.0.0.1 "
                    "card 1234 5678 9012 3456 ok"
                ],
            }
        )
    )
    got = pii.select(scrub_pii("text").alias("t")).collect()[0]["t"]
    assert got == "mail <EMAIL> call <PHONE> ip <IP> card <CARD> ok"

    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [10, 11],
                "text": [
                    "alpha beta gamma delta epsilon zeta",  # contains bench 5-gram
                    "totally different words here now ok",
                ],
            }
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [99], "text": ["x alpha beta gamma delta epsilon y"]})
    )
    flagged = contamination_check(train, bench, n=5).toPandas()
    assert set(flagged["train_id"]) == {10}
    assert (flagged["bench_id"] == 99).all()


def test_chunking_reconstruction_property(spark):
    # dropping each chunk's overlap prefix and concatenating must
    # reproduce the original token stream exactly, for any doc length
    from instageo_e2e_geospatial_ml_spark.functions.text import chunk_documents

    import numpy as np

    rng = np.random.default_rng(0)
    lengths = [1, 15, 16, 17, 47, 48, 49, 100, 257]
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(len(lengths)),
                "text": [
                    " ".join(f"t{rng.integers(0, 50)}_{i}_{j}" for j in range(n))
                    for i, n in enumerate(lengths)
                ],
            }
        )
    )
    chunk_tokens, overlap = 48, 16
    out = chunk_documents(docs, chunk_tokens, overlap).toPandas()
    src = {r["doc_id"]: r["text"].split() for _, r in docs.toPandas().iterrows()}
    for doc_id, toks in src.items():
        chunks = out[out["doc_id"] == doc_id].sort_values("chunk_idx")
        rebuilt = []
        for k, (_, r) in enumerate(chunks.iterrows()):
            ts = r["chunk_text"].split()
            assert len(ts) == r["n_tokens"]
            rebuilt.extend(ts if k == 0 else ts[overlap:])
        assert rebuilt == toks, (doc_id, len(toks))


def test_pq_adc_recall_and_plan(spark):
    """PQ-ADC validated two ways: (1) bit-exact against an INDEPENDENT
    numpy replica of the whole pipeline (md5-seeded Lloyd per subspace,
    argmax assignment, ADC lookup) on the real embeddings table — the
    engine and the replica share no code; (2) on CLUSTERED vectors
    (where PQ is actually informative — the synthetic corpus is
    unit-norm quasi-random, on which low PQ recall is expected and
    correct), the PQ top-k must recover the query's true cluster. Plan:
    broadcast-only joins, partial top-k."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.operators.similarity import pq_adc_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pq = pq_adc_topk(e)
    got = [(r["pid"], r["adc_score"]) for r in pq.collect()]

    pdf = e.toPandas()
    V = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    Vq = np.round(V * 1000).astype(np.int64)
    qq = Vq[ids == 0][0]
    hs = np.array([hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids])
    seed_order = np.lexsort((ids, hs))

    def _kmeans(X, k=8, iters=2):
        C = X[seed_order[:k]].copy()
        for _ in range(iters):
            sc = 2 * X @ C.T - (C * C).sum(1)
            a = np.argmax(sc, 1)  # first max == lowest cid tie-break
            C = np.stack([
                np.round(X[a == c].mean(0)).astype(np.int64)
                for c in range(k) if (a == c).any()
            ])
        return C

    adc = np.zeros(len(ids), dtype=np.int64)
    for m in range(4):
        Xs = Vq[:, m * 16 : (m + 1) * 16]
        C = _kmeans(Xs)
        codes = np.argmax(2 * Xs @ C.T - (C * C).sum(1), 1)
        qs = 2 * C @ qq[m * 16 : (m + 1) * 16] - (C * C).sum(1)
        adc += qs[codes]
    order = np.lexsort((ids, -adc))
    want = [(int(ids[i]), int(adc[i])) for i in order if ids[i] != 0][:10]
    assert got == want, (got, want)

    # clustered data: 8 well-separated centers, 25 points each; the
    # query's 24 cluster-mates must dominate the top-10
    rng = np.random.default_rng(53)
    centers = rng.normal(0, 10, (8, 64))
    pts = np.concatenate([
        centers[c] + rng.normal(0, 0.05, (25, 64)) for c in range(8)
    ])
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(200)]
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = pq_adc_topk(cdf)
    mates = [r["pid"] for r in top.collect()]
    assert sum(1 for p in mates if p < 25) >= 9, mates

    plan = pq._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_setsim_join_brute_force_parity(spark):
    """setsim_join (prefix-filtered AllPairs) must find EXACTLY the pairs a
    brute-force all-pairs Jaccard scan finds — no recall loss, unlike LSH."""
    import itertools

    from instageo_e2e_geospatial_ml_spark.operators.dedup import setsim_join

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(30):
        n = int(rng.integers(4, 12))
        toks = list(rng.choice(vocab, size=n, replace=False))
        rows.append((d, " ".join(toks)))
    # plant exact and near duplicates
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1] + " w39"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for p, q in [(1, 2), (4, 5)]:
        got = {
            (r.doc_a, r.doc_b, r.inter, r.union_)
            for r in setsim_join(docs, threshold_num=p, threshold_den=q).collect()
        }
        sets = {d: set(t.split()) for d, t in rows}
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if inter * q >= p * uni:
                want.add((a, b, inter, uni))
        assert got == want, f"t={p}/{q}: {got ^ want}"


def test_setsim_join_integer_ceil_boundary(spark):
    """ceil(p/q * n) in float would misround for t=0.6, n=5 (0.6*5=3.0000...4
    → ceil 4): pairs at exactly-threshold Jaccard must survive."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import setsim_join

    # |A|=|B|=4, inter=3, union=5 → J = 3/5 = exactly 0.6
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    out = setsim_join(docs, threshold_num=3, threshold_den=5).collect()
    assert len(out) == 1 and out[0].inter == 3 and out[0].union_ == 5


def test_bbox_join_brute_force_parity(spark):
    """Grid-bucketed bbox_join must equal the brute-force theta join —
    including rects spanning many cells, touching edges (closed overlap),
    and the oversize broadcast branch."""
    from instageo_e2e_geospatial_ml_spark.operators.spatial_join import bbox_join

    rng = np.random.default_rng(11)
    def mk(n, seed_off, span):
        out = []
        for i in range(n):
            x0 = int(rng.integers(0, 500)); y0 = int(rng.integers(0, 500))
            w = int(rng.integers(0, span)); h = int(rng.integers(0, span))
            out.append((i + seed_off, x0, y0, x0 + w, y0 + h))
        return out

    ra = mk(60, 0, 80)
    rb = mk(60, 1000, 80)
    # an oversize rect covering most of the space (routes via theta branch)
    ra.append((999, 0, 0, 4000, 4000))
    rb.append((1999, 10, 10, 3900, 3900))
    # touching edges: a.maxx == b.minx must match (closed semantics)
    ra.append((998, 100, 100, 110, 110))
    rb.append((1998, 110, 100, 120, 110))

    a = spark.createDataFrame(ra, "a_id long, a_minx long, a_miny long, a_maxx long, a_maxy long")
    b = spark.createDataFrame(rb, "b_id long, b_minx long, b_miny long, b_maxx long, b_maxy long")
    got = {
        (r.a_id, r.b_id)
        for r in bbox_join(a, b, cell_size=25, max_cells_per_rect=64).collect()
    }
    want = {
        (ia, ib)
        for ia, ax0, ay0, ax1, ay1 in ra
        for ib, bx0, by0, bx1, by1 in rb
        if ax0 <= bx1 and bx0 <= ax1 and ay0 <= by1 and by0 <= ay1
    }
    assert got == want
    assert (998, 1998) in got  # touching edge kept


def test_bbox_join_oversize_guard_raises(spark):
    from instageo_e2e_geospatial_ml_spark.operators.spatial_join import bbox_join

    rows = [(i, 0, 0, 10000, 10000) for i in range(5)]
    a = spark.createDataFrame(rows, "a_id long, a_minx long, a_miny long, a_maxx long, a_maxy long")
    b = spark.createDataFrame(rows, "b_id long, b_minx long, b_miny long, b_maxx long, b_maxy long")
    with pytest.raises(ValueError, match="coarsen"):
        bbox_join(a, b, cell_size=10, max_cells_per_rect=4, max_broadcast_rects=2).collect()


def test_build_overviews_numpy_replica(spark, images_df):
    """build_overviews == an independent numpy box-filter replica, and
    round-half-up is exact (hand case)."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.sources.images import build_overviews

    out = {
        (r.image_id, r.level): (r.w, r.h, r.px_sum, r.digest)
        for r in build_overviews(images_df, max_level=2).collect()
    }
    src = images_df.collect()
    assert len(out) == 2 * len(src)
    for r in src:
        arr = codecs.decode(bytes(r.bytes), int(r.w), int(r.h), 1, r.fmt)
        bands, h, w = arr.shape
        for lvl in (1, 2):
            f = 1 << lvl
            oh, ow = h // f, w // f
            s = (
                arr.astype(np.uint64)[:, : oh * f, : ow * f]
                .reshape(bands, oh, f, ow, f)
                .sum(axis=(2, 4))
            )
            red = ((s + f * f // 2) // (f * f)).astype(arr.dtype)
            want = (
                ow, oh, int(red.sum()),
                hashlib.md5(codecs.encode_raw(red)).hexdigest(),
            )
            assert out[(r.image_id, lvl)] == want


def test_build_overviews_round_half_up():
    import numpy as np

    # 2x2 block [1,2,2,2] -> sum 7, (7+2)//4 = 2 (round half up of 1.75)
    arr = np.array([[[1, 2], [2, 2]]], dtype=np.uint16)
    f = 2
    s = arr.astype(np.uint64).reshape(1, 1, f, 1, f).sum(axis=(2, 4))
    assert ((s + 2) // 4)[0, 0] == 2


def test_segment_intersect_join_cases_and_parity(spark):
    """Hand cases (proper X, T-touch, collinear overlap, collinear
    disjoint, parallel) + brute-force parity on random segments."""
    import itertools

    from instageo_e2e_geospatial_ml_spark.operators.spatial_join import (
        segment_intersect_join,
    )

    def seg_intersect(s1, s2):
        (ax1, ay1, ax2, ay2), (bx1, by1, bx2, by2) = s1, s2
        def orient(px, py, qx, qy, rx, ry):
            v = (qx - px) * (ry - py) - (qy - py) * (rx - px)
            return (v > 0) - (v < 0)
        def on(px, py, qx, qy, rx, ry):
            return min(px, qx) <= rx <= max(px, qx) and min(py, qy) <= ry <= max(py, qy)
        d1 = orient(bx1, by1, bx2, by2, ax1, ay1)
        d2 = orient(bx1, by1, bx2, by2, ax2, ay2)
        d3 = orient(ax1, ay1, ax2, ay2, bx1, by1)
        d4 = orient(ax1, ay1, ax2, ay2, bx2, by2)
        if d1 * d2 < 0 and d3 * d4 < 0:
            return True
        return (
            (d1 == 0 and on(bx1, by1, bx2, by2, ax1, ay1))
            or (d2 == 0 and on(bx1, by1, bx2, by2, ax2, ay2))
            or (d3 == 0 and on(ax1, ay1, ax2, ay2, bx1, by1))
            or (d4 == 0 and on(ax1, ay1, ax2, ay2, bx2, by2))
        )

    # hand cases: (a_seg, b_seg, expect)
    cases = [
        ((0, 0, 10, 10), (0, 10, 10, 0), True),    # proper X crossing
        ((0, 0, 10, 0), (5, 0, 5, 8), True),       # T-touch on interior
        ((0, 0, 10, 0), (10, 0, 20, 5), True),     # endpoint-endpoint touch
        ((0, 0, 10, 0), (4, 0, 14, 0), True),      # collinear overlap
        ((0, 0, 10, 0), (11, 0, 20, 0), False),    # collinear disjoint
        ((0, 0, 10, 0), (0, 1, 10, 1), False),     # parallel
        ((0, 0, 10, 10), (6, 5, 20, 5), False),    # bboxes overlap, no hit
    ]
    for (sa, sb, want) in cases:
        assert seg_intersect(sa, sb) is want, (sa, sb)

    rng = np.random.default_rng(17)
    segs_a = [
        (i, int(x), int(y), int(x + dx - 30), int(y + dy - 30))
        for i, (x, y, dx, dy) in enumerate(rng.integers(0, 60, (50, 4)) * [8, 8, 1, 1])
    ]
    segs_b = [
        (1000 + i, int(x), int(y), int(x + dx - 30), int(y + dy - 30))
        for i, (x, y, dx, dy) in enumerate(rng.integers(0, 60, (50, 4)) * [8, 8, 1, 1])
    ]
    segs_a += [(90, *sa) for sa, _, _ in cases[:1]]
    a = spark.createDataFrame(
        segs_a + [(91, 0, 0, 10, 0)],
        "a_id long, a_x1 long, a_y1 long, a_x2 long, a_y2 long",
    )
    b = spark.createDataFrame(
        segs_b + [(1091, 4, 0, 14, 0)],
        "b_id long, b_x1 long, b_y1 long, b_x2 long, b_y2 long",
    )
    got = {
        (r.a_id, r.b_id)
        for r in segment_intersect_join(a, b, cell_size=40).select("a_id", "b_id").collect()
    }
    want = {
        (ra[0], rb[0])
        for ra, rb in itertools.product(
            segs_a + [(91, 0, 0, 10, 0)], segs_b + [(1091, 4, 0, 14, 0)]
        )
        if seg_intersect(ra[1:], rb[1:])
    }
    assert got == want
    assert (91, 1091) in got  # the planted collinear overlap survives
