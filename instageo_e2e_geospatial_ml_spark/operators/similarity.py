"""Similarity search over embedding columns (array<float>).

Quantized-integer scoring: elements are scaled (×1000) and rounded to
int64 before the dot product, making scores order-independent exact
integers — bit-identical across engines (the DuckDB oracle) and across
shuffle orders (no float-sum nondeterminism). Ranking quality at 3 decimal
digits of precision is unchanged for normalized embeddings.

  * brute_force_topk: exact baseline — query×corpus dot-product join +
    window rank. O(Q·N) — the correctness oracle and fine for small Q.
  * lsh_buckets / lsh_topk: sign-random-projection LSH — md5-derived
    deterministic integer weights; candidates share a bucket → the scale
    path (candidate set shrinks by ~2^bits).
  * ivf_topk: IVF-style two-stage — coarse centroid assign (provided
    centroids table) + search only the best nprobe inverted lists.

lsh_topk and ivf_topk broadcast the query side (capped by max_queries) and
score the corpus in one fused numpy pass per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import spread_input


def _quant(col: Column) -> Column:
    """element → round(double(element)*1000) as int64 (engine-portable)."""
    return F.round(col.cast("double") * 1000).cast("long")


# ---------------------------------------------------------------------------
# numpy kernel helpers (guide §4.2: batch vector math belongs in native code,
# not per-row JVM expressions — same exact int64 results, ~100× less time)
# ---------------------------------------------------------------------------

def _np_quant(m):
    """numpy twin of _quant: round half AWAY FROM ZERO (Spark/DuckDB
    round()), not numpy banker's rounding. Proven bit-identical on the
    oracle data by brute_force_topk (q17/q60 green)."""
    import numpy as np

    return (np.sign(m) * np.floor(np.abs(m) * 1000.0 + 0.5)).astype(np.int64)


def _exact_matmul(a, b):
    """Exact integer a @ b (int64 matrices). Uses BLAS float64 when every
    partial sum provably stays under 2^53 (integer-exact there), falling
    back to numpy's int64 matmul otherwise."""
    import numpy as np

    if a.size == 0 or b.size == 0:
        return np.zeros((a.shape[0], b.shape[1]), dtype=np.int64)
    ma = np.abs(a).max()
    mb = np.abs(b).max()
    if ma * mb * a.shape[1] < (1 << 53):
        return (a.astype(np.float64) @ b.astype(np.float64)).astype(np.int64)
    return a @ b


def _collect_id_matrix(df: DataFrame, id_col: str, vec_col: str, cap: int | None):
    """Collect (ids, quantized int64 matrix) for a bounded-small side."""
    import numpy as np

    rows = df.select(id_col, vec_col)
    rows = rows.limit(cap + 1).collect() if cap is not None else rows.collect()
    if cap is not None and len(rows) > cap:
        raise ValueError(f"side capped at {cap} rows for the broadcast path")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = (
        _np_quant(np.array([r[1] for r in rows], dtype=np.float64))
        if rows
        else np.zeros((0, 0), dtype=np.int64)
    )
    return ids, mat


def _topk_scored_candidates(
    corpus: DataFrame,
    kernel,
    qid: str,
    pid: str,
    k: int,
) -> DataFrame:
    """Common tail for the fused ANN paths: run `kernel` (a mapInPandas
    function yielding per-partition (qid, pid, dot) candidates already
    pruned to ≤ k per query per partition), then the final exact rank."""
    cand = corpus.mapInPandas(kernel, f"{qid} long, {pid} long, dot long")
    w = Window.partitionBy(qid).orderBy(F.col("dot").desc(), F.col(pid).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid, pid, "dot", "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k by quantized dot product: (qid, pid, dot, rank); a
    query never ranks the corpus row with its own id.

    Fast path: the (small by contract) query set is collected into an int64
    numpy matrix, sc.broadcast once (NOT closure-captured — closures are
    re-serialized per task), and scored in a mapInPandas over corpus
    partitions — one exact int64 matmul per Arrow batch, then per-partition
    top-k pruning (≤ k rows per query per partition cross the shuffle) and
    a final window rank. ~100× the zip_with/aggregate expression path while
    producing bit-identical integer scores.

    Guarded by max_queries: a miscall with a huge query side raises loudly
    instead of OOM-ing the driver. For query sets beyond the cap, use
    lsh_topk / ivf_topk (the at-scale entries).
    """
    import numpy as np
    import pandas as pd

    def _q(m: "np.ndarray") -> "np.ndarray":
        # round half AWAY FROM ZERO — matches Spark/DuckDB round(), not
        # numpy's banker's rounding
        return (np.sign(m) * np.floor(np.abs(m) * 1000.0 + 0.5)).astype(np.int64)

    q_rows = queries.select("qid", "qvec").limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"brute_force_topk capped at {max_queries} queries; "
            "use lsh_topk/ivf_topk for large query sets"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = _q(np.array([r[1] for r in q_rows], dtype=np.float64))
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, qm))

    def score(it):
        q_ids, qm = bc.value
        for pdf in it:
            pids = pdf["pid"].to_numpy(np.int64)
            pm = _q(np.stack(pdf["pvec"].map(lambda v: np.asarray(v, dtype=np.float64))))
            dots = pm @ qm.T  # (n, q) exact int64
            out_q, out_p, out_d = [], [], []
            for j in range(qm.shape[0]):
                col = dots[:, j]
                idx = np.nonzero(pids != q_ids[j])[0]
                if len(idx) == 0:
                    continue
                # partial top-k by (dot desc, pid asc)
                order = np.lexsort((pids[idx], -col[idx]))[:k]
                sel = idx[order]
                out_q.extend([q_ids[j]] * len(sel))
                out_p.extend(pids[sel])
                out_d.extend(col[sel])
            yield pd.DataFrame({"qid": out_q, "pid": out_p, "dot": out_d})

    cand = spread_input(corpus.select("pid", "pvec")).mapInPandas(
        score, "qid long, pid long, dot long"
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("pid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "pid", "dot", "rank")
    )


def _np_lsh_weights(dim: int, n_bits: int, seed: str):
    """Deterministic LSH projection weights: W[i, j] = int(first 8 hex
    digits of md5('<seed>:<j>:<i>')) % 2001 − 1000, an integer in
    [-1000, 1000] that any engine with md5 + hex→int reproduces."""
    import hashlib

    import numpy as np

    w = np.empty((dim, n_bits), dtype=np.int64)
    for j in range(n_bits):
        for i in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:8], 16
            )
            w[i, j] = h % 2001 - 1000
    return w


def _np_bucket(mat, w):
    """Sign-projection bucket ids for quantized int64 row vectors `mat`
    against weights `w` — exact integer projections (bounded « 2^53)."""
    import numpy as np

    proj = _exact_matmul(mat, w)
    bits = np.left_shift(
        np.ones(w.shape[1], dtype=np.int64), np.arange(w.shape[1], dtype=np.int64)
    )
    return ((proj > 0) * bits).sum(axis=1).astype(np.int64)


def lsh_buckets(vecs: DataFrame) -> DataFrame:
    """(id, bucket): sign-random-projection bucket id with 8 planes.

    All-integer: quantized elements × md5 weights, summed exactly. The
    projection runs as a numpy batch kernel (one (rows × dim) @ (dim ×
    8) exact matmul per Arrow batch) instead of the posexplode ×
    bit-explode expression pipeline, which evaluated an md5 PER EXPLODED
    ROW (rows × dim × 8 of them) for what is a dim × 8 constant
    weight matrix — guide §4.2/§4.5: constants hoisted once per task,
    batch math in native code. Same md5-derived integers, same buckets.
    """
    import pandas as pd

    import numpy as np

    def kernel(it):
        w = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            vm = _np_quant(
                np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
            )
            if w is None:
                w = _np_lsh_weights(vm.shape[1], 8, "lsh")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "bucket": _np_bucket(vm, w)}
            )

    id_type = dict(vecs.dtypes)["vec_id"]
    return spread_input(vecs.select("vec_id", "embedding")).mapInPandas(
        kernel, f"vec_id {id_type}, bucket long"
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_bits: int = 8,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: only candidates sharing the LSH bucket are scored.

    Recall < 1 by design (bucketing). multi_probe=True additionally probes
    every single-bit-flip neighbor of each query's bucket (the standard
    multi-probe recall knob) — a (query, candidate) pair still matches at
    most once (each corpus row lives in exactly one bucket).

    The query set is small by contract (bounded by 100,000 queries, the
    brute_force_topk contract), so the scan runs FUSED: the query matrix +
    probe table are computed once on the driver, broadcast, and a single
    numpy pass over the corpus buckets each row, scores it against the
    probing queries with one exact int64 matmul per (batch, bucket) group,
    and keeps a per-partition top-k — so only ≤ k rows per (query,
    partition) reach the final rank exchange (guide §2.3 'aggregate
    before you shuffle', §4.2 batch kernels)."""
    import numpy as np

    q_ids, qm = _collect_id_matrix(queries, "qid", "qvec", 100_000)
    w_mat = _np_lsh_weights(qm.shape[1] if qm.size else 1, n_bits, "lsh")
    qbuckets = _np_bucket(qm, w_mat) if qm.size else np.zeros(0, np.int64)
    probe_map: dict[int, list[int]] = {}
    for i, b in enumerate(qbuckets.tolist()):
        probe_map.setdefault(b, []).append(i)
        if multi_probe:
            for bit in range(n_bits):
                probe_map.setdefault(b ^ (1 << bit), []).append(i)
    probe_map_np = {b: np.array(v, dtype=np.int64) for b, v in probe_map.items()}
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, qm, w_mat, probe_map_np))

    def kernel(it):
        q_ids, qm, w_mat, probe_map = bc.value
        acc: dict[int, list] = {}
        for pdf in _np_bucket_groups(it, "pid", "pvec", w_mat, probe_map):
            qidx, pids, pm_rows = pdf
            dots = _exact_matmul(qm[qidx], pm_rows.T)
            for row, qi in enumerate(qidx.tolist()):
                acc.setdefault(qi, []).append((dots[row], pids))
        yield _emit_topk(acc, q_ids, k)

    return _topk_scored_candidates(
        spread_input(corpus.select("pid", "pvec")), kernel, "qid", "pid", k
    )


def _np_bucket_groups(it, pid: str, pvec: str, w_mat, probe_map):
    """Iterate (query_indices, pids, corpus_rows) triples for every
    (batch, probed-bucket) group of a corpus batch iterator."""
    import numpy as np

    if not probe_map:  # empty query side: nothing can ever match
        return
    for pdf in it:
        if len(pdf) == 0:
            continue
        pm = _np_quant(
            np.stack(pdf[pvec].map(lambda v: np.asarray(v, dtype=np.float64)))
        )
        pids = pdf[pid].to_numpy(np.int64)
        pbuckets = _np_bucket(pm, w_mat)
        order = np.argsort(pbuckets, kind="stable")
        ub, starts = np.unique(pbuckets[order], return_index=True)
        bounds = np.append(starts, len(order))
        for gi, b in enumerate(ub.tolist()):
            qidx = probe_map.get(b)
            if qidx is None:
                continue
            sel = order[bounds[gi]:bounds[gi + 1]]
            yield qidx, pids[sel], pm[sel]


def _emit_topk(acc, q_ids, k: int):
    """Prune accumulated per-query candidate slabs to the partition-local
    top-k by (dot desc, pid asc), excluding self pairs."""
    import numpy as np
    import pandas as pd

    out_q, out_p, out_d = [], [], []
    for qi, slabs in acc.items():
        dots = np.concatenate([s[0] for s in slabs])
        pids = np.concatenate([s[1] for s in slabs])
        mask = pids != q_ids[qi]
        dots, pids = dots[mask], pids[mask]
        if len(pids) == 0:
            continue
        order = np.lexsort((pids, -dots))[:k]
        out_q.extend([q_ids[qi]] * len(order))
        out_p.extend(pids[order])
        out_d.extend(dots[order])
    return pd.DataFrame(
        {
            "qid": np.asarray(out_q, dtype=np.int64),
            "pid": np.asarray(out_p, dtype=np.int64),
            "dot": np.asarray(out_d, dtype=np.int64),
        }
    )


def label_centroids(vecs: DataFrame, assemble: bool = False) -> DataFrame:
    """Per-label centroid of an embedding column — the IVF coarse-quantizer
    builder (feed the assembled form into ivf_topk as `centroids`).

    Exactness: elements are quantized ×1000 to int64 and SUMMED exactly
    (integer partial aggregation, order-independent), then one fixed-shape
    division produces the double centroid — deterministic across shuffle
    orders and engines, unlike a float avg().

    assemble=False → long form (label, i, c) for value checks;
    assemble=True → (cid, cvec array<float>) ready for ivf_topk.
    """
    el = vecs.select(
        F.col("label").alias("cid"), F.posexplode("embedding").alias("i", "e")
    ).withColumn("eq", _quant(F.col("e")))
    agg = el.groupBy("cid", "i").agg(
        F.sum("eq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    long_form = agg.select(
        "cid",
        (F.col("i") + 1).alias("i"),  # 1-based, matching SQL array indexing
        F.round(F.col("s") / (F.col("n") * F.lit(1000.0)), 6).alias("c"),
    )
    if not assemble:
        return long_form
    return long_form.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).cast("array<float>").alias("cvec")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 10,
) -> DataFrame:
    """IVF: assign corpus rows to their nearest centroid (inverted lists),
    probe the 2 closest lists per query, exact-score within them.

    The scan runs FUSED (guide §4.2): centroid and query matrices are
    collected once (both bounded-small by contract — the centroid table is
    k rows, the query side capped at 100,000 like brute_force_topk),
    probe lists computed driver-side by (cdot desc, cid asc), and ONE
    numpy pass over the corpus both assigns each row's list (argmax over
    centroids, ties → smallest cid) and scores it against the queries
    probing that list, keeping a per-partition top-k so only ≤ k rows per
    (query, partition) reach the final rank exchange. At real scale the
    corpus assignment is computed once and persisted with the list id as
    a partition key → partition pruning per query batch.
    """
    import numpy as np

    c_ids, cm = _collect_id_matrix(centroids, "cid", "cvec", None)
    order = np.argsort(c_ids, kind="stable")
    c_ids, cm = c_ids[order], cm[order]  # cid-ascending → argmax ties
    q_ids, qm = _collect_id_matrix(queries, "qid", "qvec", 100_000)
    qc = _exact_matmul(qm, cm.T)
    probe_map: dict[int, list[int]] = {}
    for i in range(len(q_ids)):
        # top-nprobe centroids by (cdot desc, cid asc); cm is sorted
        # by cid so index order == cid order
        top = np.lexsort((np.arange(len(c_ids)), -qc[i]))[:2]
        for ci in top.tolist():
            probe_map.setdefault(ci, []).append(i)
    probe_map_np = {
        b: np.array(v, dtype=np.int64) for b, v in probe_map.items()
    }
    bc = queries.sparkSession.sparkContext.broadcast(
        (q_ids, qm, cm, probe_map_np)
    )

    def kernel(it):
        q_ids, qm, cm, probe_map = bc.value
        acc: dict[int, list] = {}
        if cm.shape[0] == 0 or not probe_map:
            yield _emit_topk(acc, q_ids, k)
            return
        for pdf in it:
            if len(pdf) == 0:
                continue
            pm = _np_quant(
                np.stack(pdf["pvec"].map(lambda v: np.asarray(v, dtype=np.float64)))
            )
            pids = pdf["pid"].to_numpy(np.int64)
            assigned = np.argmax(_exact_matmul(pm, cm.T), axis=1)
            row_order = np.argsort(assigned, kind="stable")
            ua, starts = np.unique(assigned[row_order], return_index=True)
            bounds = np.append(starts, len(row_order))
            for gi, ci in enumerate(ua.tolist()):
                qidx = probe_map.get(ci)
                if qidx is None:
                    continue
                sel = row_order[bounds[gi]:bounds[gi + 1]]
                dots = _exact_matmul(qm[qidx], pm[sel].T)
                for row, qi in enumerate(qidx.tolist()):
                    acc.setdefault(qi, []).append((dots[row], pids[sel]))
        yield _emit_topk(acc, q_ids, k)

    return _topk_scored_candidates(
        spread_input(corpus.select("pid", "pvec")), kernel, "qid", "pid", k
    )


def train_centroids(vecs: DataFrame, k: int = 8, n_iters: int = 3) -> DataFrame:
    """Distributed k-means (Lloyd) over an embedding column → (cid,
    c: array<long>) centroids in the ×1000-quantized integer domain —
    the unsupervised IVF coarse-quantizer builder (label_centroids needs a
    label column; corpora have none). Reference analogue: the splitter's
    KMeans cascade (data_splitter.py:856-950), which runs driver-side over
    a tiny per-tile table; this is the full-corpus distributed form.

    Every quantity is integer-exact and engine-portable (DuckDB oracle):
      * seed: the k vectors ranked first by md5(id) — a deterministic
        pseudo-random draw computed as a distributed partial top-k
        (TakeOrderedAndProject), not a global sort;
      * assign + update, fused (guide §4.2): the ≤ k centroid rows are
        collected each round (bounded-scalar driver contract, the
        ranged_prefix totals precedent) and broadcast as an int64 matrix;
        ONE numpy pass over the corpus computes argmax(2·v·c − |c|²)
        per batch with an exact matmul (ties → smallest cid, identical
        to max(struct(score, −cid))) AND accumulates the per-(cluster,
        dim) integer sums + counts in-task, so the round's shuffle
        carries k×dim summary rows per partition — never the corpus.
        The final round(sum/n) division stays a Spark expression, so the
        half-away-from-zero semantics are the engine's own. (History:
        round 7 used a crossJoin + HOF-expression score — correct, but
        every score was an interpreted per-row zip_with/aggregate chain;
        the batch matmul produces the same exact integers ~50× faster.)

    Empty clusters are dropped (k may shrink — the standard Lloyd
    degeneracy; k-means‖ style re-seeding is a caller concern). Each
    round's centroid collect cuts the lineage, so the iterative plan
    stays one round deep.

    Feed the result through centroids_as_vectors() for ivf_topk.
    """
    q = vecs.select(
        "vec_id", F.transform(F.col("embedding"), lambda e: _quant(e)).alias("v")
    ).localCheckpoint(eager=False)

    # deterministic seeding: distributed top-k by hash order
    seeds = (
        q.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(k)
    )
    cents = seeds.withColumn(
        # partition-less window over the limit(k) seed rows only (k
        # centroids, never the corpus) — bounded at any input size
        "cid", F.row_number().over(Window.orderBy("_h", F.col("vec_id")))
    ).select("cid", F.col("v").alias("c"))

    import numpy as np
    import pandas as pd

    sc = vecs.sparkSession.sparkContext
    for _ in range(n_iters):
        # ≤ k tiny rows per round — the bounded-scalar driver contract
        # (the ranged_prefix totals precedent). Collecting them lets the
        # assign+partial-update run as ONE numpy pass over the corpus
        # (guide §4.2) instead of a crossJoin of per-row HOF expressions:
        # score = 2·v·c − |c|² via one exact matmul per batch, partial
        # per-(cluster, dim) integer sums combined in-task, so the round's
        # shuffle carries k×dim×partitions summary rows, never the corpus.
        c_rows = sorted(cents.collect(), key=lambda r: r[0])
        if not c_rows:  # empty corpus: no seeds, nothing to iterate
            return cents
        c_ids = np.array([r[0] for r in c_rows], dtype=np.int64)
        cm = np.array([r[1] for r in c_rows], dtype=np.int64)
        norms = (cm * cm).sum(axis=1)
        bc = sc.broadcast((c_ids, cm, norms))

        def kernel(it, _bc=bc):  # bind THIS round's broadcast at def time
            c_ids, cm, norms = _bc.value
            kk, dim = cm.shape
            sums = np.zeros((kk, dim), dtype=np.int64)
            counts = np.zeros(kk, dtype=np.int64)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                vm = np.stack(
                    pdf["v"].map(lambda v: np.asarray(v, dtype=np.int64))
                )
                # argmax ties → first index == smallest cid (cm sorted)
                assigned = np.argmax(
                    _exact_matmul(vm, (2 * cm).T) - norms, axis=1
                )
                np.add.at(sums, assigned, vm)
                counts += np.bincount(assigned, minlength=kk)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cid": np.repeat(c_ids[nz], cm.shape[1]),
                    "i": np.tile(np.arange(cm.shape[1], dtype=np.int64), len(nz)),
                    "s": sums[nz].reshape(-1),
                    "n": np.repeat(counts[nz], cm.shape[1]),
                }
            )

        part = q.mapInPandas(kernel, "cid long, i long, s long, n long")
        upd = (
            part.groupBy("cid", "i")
            .agg(
                F.round(F.sum("s") / F.sum("n")).cast("long").alias("ce")
            )
        )
        cents = upd.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "ce"))), lambda s: s["ce"]
            ).alias("c")
        )
    return cents


def centroids_as_vectors(cents: DataFrame) -> DataFrame:
    """(cid, c array<long>) from train_centroids → (cid, cvec array<float>)
    in the embedding domain, ready for ivf_topk."""
    return cents.select(
        "cid",
        F.transform("c", lambda x: x / F.lit(1000.0)).cast("array<float>").alias("cvec"),
    )


def pq_adc_topk(vecs: DataFrame) -> DataFrame:
    """Product quantization with asymmetric-distance (ADC) search — the
    FAISS IVF-PQ memory layout that makes billion-vector ANN fit RAM:
    split each vector into `m` subvectors, train an independent `k`-entry
    codebook per subspace (the SAME exact-integer Lloyd as
    train_centroids, applied to slices — DuckDB-twin exact), encode
    every vector as m small codes, and score a query by summing per-
    subspace lookup scores 2·q_m·c − |c|² over the codes (monotone in
    ||q − v̂||² against the reconstruction v̂).

    100 TB shape: codebooks are m×k rows (broadcast); encoding is a
    subspace explode (×m) into a broadcast join + map-side argmax —
    one shuffle of N×m → N rows; the ADC table is m×k values computed
    once and broadcast; the scan is a broadcast hash join + partial
    top-k (TakeOrdered), never a global sort. The stored index is
    m·log2(k) bits per vector instead of dim·32.

    Fixed shape: dim 64 in m = 4 subspaces, k = 8 codewords each (2
    Lloyd iterations); returns the top 10 (pid, adc_score, rank) for
    vec_id 0, deterministic (score desc, id asc). Exact DuckDB twin: q60."""
    m = 4
    sub = 64 // m
    zero = F.lit(0).cast("long")

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), zero, lambda acc, x: acc + x
        )

    def _norm(a):
        return F.aggregate(a, zero, lambda acc, x: acc + x * x)

    qv = vecs.select(
        "vec_id", F.transform(F.col("embedding"), lambda e: _quant(e)).alias("v")
    ).localCheckpoint(eager=False)

    books = None
    for mi in range(m):
        sl = vecs.select(
            "vec_id", F.slice(F.col("embedding"), mi * sub + 1, sub).alias("embedding")
        )
        cb = train_centroids(sl, k=8, n_iters=2).withColumn("m", F.lit(mi))
        books = cb if books is None else books.unionByName(cb)
    books = books.localCheckpoint(eager=False)  # m*k tiny rows

    # encode: subspace explode -> broadcast codebook join -> argmax
    parts = F.array(
        *[
            F.struct(
                F.lit(mi).alias("m"),
                F.slice("v", mi * sub + 1, sub).alias("sv"),
            )
            for mi in range(m)
        ]
    )
    ex = qv.select("vec_id", F.explode(parts).alias("p")).select(
        "vec_id", F.col("p.m").alias("m"), F.col("p.sv").alias("sv")
    )
    scored = ex.join(F.broadcast(books), "m").withColumn(
        "score", F.lit(2) * _dot("sv", "c") - _norm("c")
    )
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.max(F.struct(F.col("score"), (-F.col("cid")).alias("_nc"))).alias("_x"))
        .select("vec_id", "m", (-F.col("_x._nc")).alias("code"))
    )

    # ADC lookup table for the query: m*k scores, broadcast
    qrow = qv.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    adc = (
        books.crossJoin(F.broadcast(qrow))
        .withColumn(
            "qs",
            F.lit(2) * _dot(F.slice("qv", F.col("m") * sub + 1, sub), "c")
            - _norm("c"),
        )
        .select("m", "cid", "qs")
    )
    total = (
        codes.join(
            F.broadcast(adc),
            (codes["m"] == adc["m"]) & (codes["code"] == adc["cid"]),
        )
        .groupBy("vec_id")
        .agg(F.sum("qs").cast("long").alias("adc_score"))
        .filter(F.col("vec_id") != 0)
    )
    top = total.orderBy(F.col("adc_score").desc(), F.col("vec_id")).limit(10)
    # rank over the <= topk surviving rows only (bounded window)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("adc_score").desc(), F.col("vec_id"))
        ).cast("long"),
    ).select(F.col("vec_id").alias("pid"), "adc_score", "rank")
