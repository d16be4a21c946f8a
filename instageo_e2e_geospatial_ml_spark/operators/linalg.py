"""Distributed dense linear algebra for embedding columns — the Gram /
covariance accumulation behind PCA, whitening, and linear probes.

The 100 TB shape: G = Xᵀ X decomposes into per-partition partials
(G = Σ_p Xᵀ_p X_p), so each task runs ONE numpy matmul over its Arrow
batch and emits d(d+1)/2 upper-triangle cells; the shuffle then carries
partials·cells, never rows — the classic "compute the d×d sufficient
statistic distributed, eigensolve the tiny result on the driver"
pattern. d=64 → 2080 cells per partial; a billion rows reduce to
partitions×2080 integers.

Exactness: vectors are quantized to integers first (×scale,
round-half-away-from-zero — the repo's ANN convention), so every
product and sum is exact bigint and the oracle can pin every cell.
|q| ≤ scale·max|x| keeps Σ q_i q_j far under 2^63 for embedding-norm
data at any realistic row count (bound documented, not enforced).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_matrix(vectors: DataFrame) -> DataFrame:
    """Exact integer Gram matrix of quantized vectors: one row per
    upper-triangle cell (i, j, g), 1-indexed, g = Σ_rows q_i q_j with
    q = sign(x)·floor(|x|·100 + 0.5). mapInPandas partial matmuls +
    one (i, j)-keyed sum."""
    import pandas as pd

    def partials(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # float64 BEFORE quantizing (the similarity.py convention):
            # Arrow array<float> is float32, and abs(x)*scale+0.5 in
            # f32 rounds differently than the oracle's CAST AS DOUBLE
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = (np.sign(x) * np.floor(np.abs(x) * 100 + 0.5)).astype(np.int64)
            g = q.T @ q
            iu, ju = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int32"),
                    "j": (ju + 1).astype("int32"),
                    "g": g[iu, ju],
                }
            )

    cells = vectors.select("embedding").mapInPandas(partials, "i int, j int, g long")
    return cells.groupBy("i", "j").agg(F.sum("g").alias("g"))


def gram_matrix_sql(table_sql: str) -> str:
    """The identical exact Gram accumulation as DuckDB SQL (position
    pairs via generate_series; quantization shape matches numpy's
    sign·floor(|x|·100+0.5))."""
    return f"""
WITH pos AS (
  SELECT a.i, b.j
  FROM (SELECT unnest(generate_series(1, 64)) AS i) a,
       (SELECT unnest(generate_series(1, 64)) AS j) b
  WHERE a.i <= b.j
),
q AS (
  SELECT list_transform(
           embedding,
           x -> CAST(sign(x) * floor(abs(CAST(x AS DOUBLE)) * 100 + 0.5)
                     AS BIGINT)
         ) AS qv
  FROM ({table_sql})
)
SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
       CAST(sum(qv[p.i] * qv[p.j]) AS BIGINT) AS g
FROM q, pos p
GROUP BY 1, 2
"""


def jl_project(vectors: DataFrame, d_out: int = 16) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (Achlioptas 2003): y = q R
    with R[i,k] = ±1 derived from md5('jl':i:k) — a projection matrix
    that is a pure FUNCTION, never materialized or broadcast, identical
    on every engine and every rerun (the reproducibility property a
    training pipeline needs: re-projecting a shard months later yields
    bit-identical features). Input vectors quantize to integers first
    (the gram_matrix convention), so outputs are exact bigints.

    Plan: one mapInPandas; each task builds the d_in×d_out sign matrix
    locally from md5 (tiny, deterministic) and runs one numpy matmul
    per Arrow batch. Output is (id, k, y) long-form — k is 1-indexed."""
    import pandas as pd

    def project(batches):
        import hashlib

        import numpy as np

        r = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if r is None:
                d_in = x.shape[1]
                r = np.empty((d_in, d_out), dtype=np.int64)
                for i in range(d_in):
                    for k in range(d_out):
                        h = hashlib.md5(f"jl:{i + 1}:{k + 1}".encode()).hexdigest()
                        r[i, k] = 1 if int(h[0], 16) < 8 else -1
            q = (np.sign(x) * np.floor(np.abs(x) * 100 + 0.5)).astype(np.int64)
            y = q @ r
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), d_out),
                    "k": np.tile(np.arange(1, d_out + 1), n).astype("int32"),
                    "y": y.reshape(-1),
                }
            )

    return vectors.select("vec_id", "embedding").mapInPandas(
        project, "vec_id long, k int, y long"
    )


def jl_project_sql(table_sql: str) -> str:
    """The identical deterministic sign projection as DuckDB SQL: the
    sign matrix regenerates from md5 the same way (first hex nibble
    < 8 -> +1), positions pair via generate_series."""
    return f"""
WITH r AS (
  SELECT i.i, k.k,
         CASE WHEN CAST('0x' || substring(
                md5('jl:' || CAST(i.i AS VARCHAR) || ':' || CAST(k.k AS VARCHAR)),
                1, 1) AS BIGINT) < 8
              THEN 1 ELSE -1 END AS s
  FROM (SELECT unnest(generate_series(1, 64)) AS i) i,
       (SELECT unnest(generate_series(1, 16)) AS k) k
),
q AS (
  SELECT vec_id, list_transform(
           embedding,
           x -> CAST(sign(x) * floor(abs(CAST(x AS DOUBLE)) * 100 + 0.5)
                     AS BIGINT)
         ) AS qv
  FROM ({table_sql})
)
SELECT q.vec_id, CAST(r.k AS INTEGER) AS k,
       CAST(sum(qv[r.i] * r.s) AS BIGINT) AS y
FROM q, r
GROUP BY 1, 2
"""


PI_SCALE = 1_000_000  # eigenvector fixed-point scale (see power_iteration)


def power_iteration(mat: DataFrame, iters: int = 3) -> DataFrame:
    """Dominant eigenvector of a symmetric integer matrix by
    max-normalized power iteration — distributed PCA's first component
    when fed gram_matrix above (the matrix lives as (i, j, g) cell
    rows; nothing is ever collected).

    Same engine-exactness contract as graph.hits_int: the float
    L2 normalization of textbook power iteration is irreproducible, so
    each round rescales by the max ABSOLUTE component in floor/trunc
    arithmetic (identical in Spark `div` and DuckDB `//` for either
    sign — both truncate toward zero):

        w(i) = Σ_j A(i,j) · v(j);   v(i) = w(i)·SCALE // max|w|

    Max-normalization preserves the eigenvector direction; the sign
    convention is inherited from the all-ones start (v0 = SCALE). Input
    is the UPPER triangle (i <= j, gram_matrix's output); the transpose
    is derived. Callers bound |g|·SCALE·dim ≤ 2^63 (embeddings
    quantized at scale 100 over ≤ ~1e8 rows are safe).

    Output one row per dimension: (i, v) after `iters` rounds. Deep
    chains truncate their lineage every 6 rounds
    (localCheckpoint, the q32 connected-components contract) —
    Catalyst re-optimizes the whole accumulated tree per round
    otherwise, which turns 10+ rounds into minutes of PLANNING on a
    4x4 matrix.
    Scale: each round is one join keyed on the matrix column index +
    one agg on the row index + one scalar max broadcast — dim² cell
    rows distribute; no driver-side matrix ever materializes.
    """
    full = mat.unionByName(
        mat.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    dims = full.select(F.col("i")).distinct()
    v = dims.select("i", F.lit(PI_SCALE).cast("long").alias("v"))
    for t in range(iters):
        w = (
            full.join(
                v.select(F.col("i").alias("j"), "v"), "j"
            )
            .groupBy("i")
            .agg(F.sum(F.expr("g * v")).alias("w"))
        )
        mx = w.agg(F.max(F.abs(F.col("w"))).alias("mx"))
        v = w.crossJoin(F.broadcast(mx)).select(
            "i", F.expr(f"w * {PI_SCALE} div mx").alias("v")
        )
        if (t + 1) % 6 == 0 and (t + 1) < iters:
            v = v.localCheckpoint(eager=True)
    return v


def power_iteration_sql(mat_sql: str) -> str:
    """DuckDB twin of power_iteration (`mat_sql` yields the upper
    triangle i, j, g)."""
    parts = [
        f"m0 AS MATERIALIZED (SELECT i, j, g FROM ({mat_sql}))",
        "m AS MATERIALIZED (SELECT i, j, g FROM m0 UNION ALL "
        "SELECT j AS i, i AS j, g FROM m0 WHERE i < j)",
        f"v0 AS MATERIALIZED (SELECT DISTINCT i, CAST({PI_SCALE} AS BIGINT) AS v FROM m)",
    ]
    for t in range(3):
        parts.append(
            f"w{t + 1} AS MATERIALIZED (SELECT m.i, "
            f"CAST(sum(m.g * v.v) AS BIGINT) AS w "
            f"FROM m JOIN v{t} v ON v.i = m.j GROUP BY 1)"
        )
        parts.append(
            f"v{t + 1} AS MATERIALIZED (SELECT i, "
            f"w * {PI_SCALE} // (SELECT max(abs(w)) FROM w{t + 1}) AS v "
            f"FROM w{t + 1})"
        )
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT i, CAST(v AS BIGINT) AS v FROM v3"
    )
