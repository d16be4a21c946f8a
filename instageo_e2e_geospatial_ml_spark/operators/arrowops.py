"""Arrow-native grouped kernels (Spark 4 applyInArrow) — the zero-copy
tier below pandas UDFs: the executor hands each group as a
pyarrow.Table and takes one back, skipping the Arrow->pandas->Arrow
conversion entirely. For kernels that are pure columnar arithmetic
(sums, dots, clamps) the pandas layer is overhead with no expressive
gain — pyarrow.compute runs the same vectorized loop without
materializing Series (and without pandas' NaN/dtype coercions, which
is also a CORRECTNESS property for int64 edges: pandas silently
floats a column with NULLs; Arrow keeps it int64-with-validity).

Kept for kernels that genuinely need per-group Python; anything
expressible as built-in aggregates should stay JVM-side (the engine
rule everywhere else in this repo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def arrow_group_profile(pts: DataFrame) -> DataFrame:
    """Per-group weighted centroid numerators + bbox, computed
    Arrow-native: (key, n, sum_w, sum_wx, sum_wy, min_x, max_y).
    All int64 — the division to an actual centroid happens downstream
    (exactness discipline). Oracle-equivalent to plain SQL aggregates;
    the point under test is the applyInArrow path itself."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(table: pa.Table) -> pa.Table:
        x = table.column("x")
        y = table.column("y")
        w = table.column("w")
        wx = pc.multiply(w, x)
        wy = pc.multiply(w, y)
        return pa.table(
            {
                "k": [table.column("cell")[0].as_py()],
                "n": [table.num_rows],
                "sum_w": [pc.sum(w).as_py()],
                "sum_wx": [pc.sum(wx).as_py()],
                "sum_wy": [pc.sum(wy).as_py()],
                "min_x": [pc.min(x).as_py()],
                "max_y": [pc.max(y).as_py()],
            }
        )

    return pts.groupBy("cell").applyInArrow(
        kernel,
        "k long, n long, sum_w long, sum_wx long, sum_wy long, "
        "min_x long, max_y long",
    )
