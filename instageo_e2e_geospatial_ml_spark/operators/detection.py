"""Greedy non-maximum suppression (NMS) over detection bounding boxes —
the standard dedup pass on object-detection labels before they feed
training (duplicate annotations / overlapping proposals collapse to the
highest-score box; Girshick et al., R-CNN family).

Semantics (pinned exactly so a second engine reproduces every bit):
boxes are integer axis-aligned rectangles [x1, x2) x [y1, y2) with
integer scores. Per image, visit boxes in (score DESC, box_id ASC)
order; keep the current box, then suppress every not-yet-visited box
whose IoU with it STRICTLY exceeds iou_num/iou_den. IoU compares are
cross-multiplied integers (iou_den * inter > iou_num * union), so there
is no float anywhere and the kept set is exact. Output keep_order is
the 1-based selection rank per image.

Greedy NMS cascades (A suppresses B; B would have suppressed C; C
survives), so it is inherently sequential IN ONE IMAGE — but images are
independent, which is the 100 TB story: groupBy(image_id) →
applyInPandas, one Arrow batch per image, numpy-vectorized suppression
inside. Per-task work is bounded by boxes-per-image (bounded by the
detector's top-k in any real dataset), not by corpus size; the shuffle
is a single hash partition on image_id. No driver collect, no global
sort, no per-row Python.

The oracle twin (nms_sql) unrolls the same greedy rounds as MATERIALIZED
CTEs — pick the min-rank survivor per image, delete its strict-overlap
neighbors, repeat k times (k >= max boxes per image) — the
greedy-coverage precedent (operators/coverage.py).

Reference framing: the reference pipeline has no detection stage; this
is part of the beyond-reference training-data operator family the brief
mandates (image-label curation at scale).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_OUT_SCHEMA = (
    "image_id long, box_id long, x1 long, y1 long, x2 long, y2 long, "
    "score long, keep_order long"
)


def nms_boxes(
    boxes: DataFrame,
    iou_num: int = 3,
    iou_den: int = 10,
    image_col: str = "image_id",
    id_col: str = "box_id",
    score_col: str = "score",
) -> DataFrame:
    """Per-image greedy NMS at IoU threshold iou_num/iou_den. Input
    needs (image_id, box_id, x1, y1, x2, y2, score) integer columns with
    box_id unique per image; returns the kept boxes plus keep_order."""
    import numpy as np

    def _nms(pdf: pd.DataFrame) -> pd.DataFrame:
        p = pdf.sort_values(
            [score_col, id_col], ascending=[False, True], kind="mergesort"
        )
        x1 = p["x1"].to_numpy(np.int64)
        y1 = p["y1"].to_numpy(np.int64)
        x2 = p["x2"].to_numpy(np.int64)
        y2 = p["y2"].to_numpy(np.int64)
        area = (x2 - x1) * (y2 - y1)
        n = len(p)
        alive = np.ones(n, dtype=bool)
        keep: list[int] = []
        for i in range(n):
            if not alive[i]:
                continue
            keep.append(i)
            iw = np.minimum(x2[i], x2) - np.maximum(x1[i], x1)
            ih = np.minimum(y2[i], y2) - np.maximum(y1[i], y1)
            inter = np.maximum(iw, 0) * np.maximum(ih, 0)
            union = area[i] + area - inter
            sup = iou_den * inter > iou_num * union
            sup[: i + 1] = False
            alive &= ~sup
        out = p.iloc[keep][
            [image_col, id_col, "x1", "y1", "x2", "y2", score_col]
        ].copy()
        out.columns = [
            "image_id", "box_id", "x1", "y1", "x2", "y2", "score",
        ]
        out["keep_order"] = np.arange(1, len(keep) + 1, dtype=np.int64)
        return out

    cols = [image_col, id_col, "x1", "y1", "x2", "y2", score_col]
    src = boxes.select(*[F.col(c).cast("long").alias(c) for c in cols])
    return src.groupBy(image_col).applyInPandas(_nms, _OUT_SCHEMA)


def _sup_pred(a: str, b: str, iou_num: int, iou_den: int) -> str:
    """SQL predicate: box alias `a` strictly-overlaps (IoU > thr) box
    alias `b` — cross-multiplied integer form, inlined twice because the
    intersection appears in both sides of the compare."""
    inter = (
        f"(greatest(0, least({a}.x2, {b}.x2) - greatest({a}.x1, {b}.x1)) * "
        f"greatest(0, least({a}.y2, {b}.y2) - greatest({a}.y1, {b}.y1)))"
    )
    return (
        f"{iou_den} * {inter} > {iou_num} * "
        f"(({a}.x2 - {a}.x1) * ({a}.y2 - {a}.y1) + "
        f"({b}.x2 - {b}.x1) * ({b}.y2 - {b}.y1) - {inter})"
    )


def nms_sql(table_sql: str, k_rounds: int) -> str:
    """DuckDB twin: the identical greedy selection unrolled k_rounds
    times (k_rounds >= max boxes per image, so every image converges —
    an exhausted image simply stops contributing picks)."""
    parts = [
        f"""b AS MATERIALIZED (
  SELECT CAST(image_id AS BIGINT) AS image_id,
         CAST(box_id AS BIGINT) AS box_id,
         CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
         CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2,
         CAST(score AS BIGINT) AS score
  FROM ({table_sql})
)""",
        "s0 AS MATERIALIZED (SELECT * FROM b)",
    ]
    picks = []
    for r in range(1, k_rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT image_id, box_id, x1, y1, x2, y2, score FROM (
    SELECT *, row_number() OVER (
      PARTITION BY image_id ORDER BY score DESC, box_id ASC) AS rn
    FROM {prev}) WHERE rn = 1
)"""
        )
        parts.append(
            f"""s{r} AS MATERIALIZED (
  SELECT s.* FROM {prev} s JOIN p{r} p USING (image_id)
  WHERE s.box_id <> p.box_id AND NOT ({_sup_pred('p', 's', 3, 10)})
)"""
        )
        picks.append(
            f"SELECT image_id, box_id, x1, y1, x2, y2, score, "
            f"CAST({r} AS BIGINT) AS keep_order FROM p{r}"
        )
    union = "\nUNION ALL\n".join(picks)
    return "WITH " + ",\n".join(parts) + "\n" + union
