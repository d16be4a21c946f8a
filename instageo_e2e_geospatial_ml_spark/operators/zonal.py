"""Zonal statistics over the chip table — the classic raster GIS
aggregation (GDAL/rasterstats `zonal_stats`), and the training-data
class-balance audit for segmentation corpora: per (zone label, band),
exact pixel statistics across every chip.

Reference context: the reference's cleaner counts label pixels per chip
(`data_cleaner.py` valid-pixel/no-data passes); zonal statistics is the
corpus-level generalization — per CLASS, how many pixels, with what
radiometric distribution per band.

Plan shape (the map-side-combine discipline for 100 TB):
  stage 1 — a mapInPandas numpy kernel reduces each chip to at most
    n_zones × n_bands partial rows (count / sum / sum-of-squares /
    min / max as exact int64 over non-no-data pixels). PIXELS NEVER
    SHUFFLE: a 64×64×6-band chip (~48 KB) becomes a handful of 40-byte
    rows before the exchange.
  stage 2 — one hash aggregation on (zone, band) merges partials:
    sums add, mins/maxes fold. Mean/std are derived at the end from the
    exact integer moments, so the result is shuffle-order independent.

All statistics are exact integers until the final divide; the pytest
golden pins the whole operator against an independent whole-corpus
numpy replica.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .chips import SEG_NDV
from .cleaner import _decode_chip, _decode_seg


def zonal_stats(chips: DataFrame) -> DataFrame:
    """Chip table (CHIP_SCHEMA) → (zone, band, n_px, sum_px, sumsq_px,
    min_px, max_px, mean_px, std_px) — exact pixel statistics per
    segmentation class and band across all chips.

    `zone` is the seg-map label; SEG_NDV (unlabeled) pixels are skipped.
    Chip pixels equal to 0 (no data) are excluded from every
    statistic (the nodata_ratio convention of operators/cleaner.py).
    """

    def partials(it):
        for pdf in it:
            zs, bs, cnt, s, ss, mn, mx = [], [], [], [], [], [], []
            for _, r in pdf.iterrows():
                chip = _decode_chip(r).astype(np.int64)  # (bands, cs, cs)
                seg = _decode_seg(r)
                for zone in np.unique(seg):
                    if zone == SEG_NDV:
                        continue
                    zmask = seg == zone
                    for b in range(chip.shape[0]):
                        vals = chip[b][zmask]
                        vals = vals[vals != 0]
                        if vals.size == 0:
                            continue
                        zs.append(int(zone))
                        bs.append(b)
                        cnt.append(vals.size)
                        s.append(int(vals.sum()))
                        ss.append(int((vals * vals).sum()))
                        mn.append(int(vals.min()))
                        mx.append(int(vals.max()))
            yield pd.DataFrame(
                {
                    "zone": pd.Series(zs, dtype="int64"),
                    "band": pd.Series(bs, dtype="int64"),
                    "n_px": pd.Series(cnt, dtype="int64"),
                    "sum_px": pd.Series(s, dtype="int64"),
                    "sumsq_px": pd.Series(ss, dtype="int64"),
                    "min_px": pd.Series(mn, dtype="int64"),
                    "max_px": pd.Series(mx, dtype="int64"),
                }
            )

    part = chips.select(
        "chip", "seg", "chip_size", "n_bands", "chip_fmt"
    ).mapInPandas(
        partials,
        "zone long, band long, n_px long, sum_px long, sumsq_px long, "
        "min_px long, max_px long",
    )
    agg = part.groupBy("zone", "band").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_px").alias("sum_px"),
        F.sum("sumsq_px").alias("sumsq_px"),
        F.min("min_px").alias("min_px"),
        F.max("max_px").alias("max_px"),
    )
    mean = F.col("sum_px") / F.col("n_px")
    var = F.col("sumsq_px") / F.col("n_px") - mean * mean
    return agg.select(
        "zone", "band", "n_px", "sum_px", "sumsq_px", "min_px", "max_px",
        F.round(mean, 6).alias("mean_px"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_px"),
    )


def spectral_index_timeseries(chips: DataFrame) -> DataFrame:
    """Normalized-difference index time series over the chip table — the
    raster analytics primitive (NDVI with the defaults: a=NIR B8A,
    b=Red B04): per (tile, date, temporal step), the corpus-wide mean /
    min / max of (a-b)/(a+b) over valid pixels.

    Exactness discipline: the per-pixel index is quantized to
    round(1e6·(a-b)/(a+b)) int64 IN THE KERNEL, so partial sums are
    exact integers and the merged result is independent of partition
    count and agg merge order (float accumulation would drift in the
    last bits and destabilize the driver's rows-only hash). The divide
    happens once, at the end, on exact moments.

    Chips stack num_steps × the 6 HLS bands (B02 B03 B04 B8A B11 B12)
    along the band axis
    (operators/chips.py assemble step), so step t's band i sits at
    t·6+i. Same map-side-combine shape as zonal_stats:
    pixels reduce to one partial row per (chip, step) before the
    shuffle.
    """
    scale = 1_000_000
    band_order = ("B02", "B03", "B04", "B8A", "B11", "B12")
    ia, ib = band_order.index("B8A"), band_order.index("B04")
    nb = len(band_order)

    def partials(it):
        for pdf in it:
            tk, di, st, cnt, s, mn, mx = [], [], [], [], [], [], []
            for _, r in pdf.iterrows():
                chip = _decode_chip(r).astype(np.int64)
                n_steps = chip.shape[0] // nb
                for t in range(n_steps):
                    a = chip[t * nb + ia]
                    b = chip[t * nb + ib]
                    valid = (a != 0) & (b != 0) & (a + b != 0)
                    if not valid.any():
                        continue
                    av, bv = a[valid].astype(np.float64), b[valid].astype(np.float64)
                    q = np.round(scale * (av - bv) / (av + bv)).astype(np.int64)
                    tk.append(r["tile_key"])
                    di.append(r["date_id"])
                    st.append(t)
                    cnt.append(int(q.size))
                    s.append(int(q.sum()))
                    mn.append(int(q.min()))
                    mx.append(int(q.max()))
            yield pd.DataFrame(
                {
                    "tile_key": pd.Series(tk, dtype="object"),
                    "date_id": pd.Series(di, dtype="object"),
                    "step": pd.Series(st, dtype="int64"),
                    "n_px": pd.Series(cnt, dtype="int64"),
                    "sum_q": pd.Series(s, dtype="int64"),
                    "min_q": pd.Series(mn, dtype="int64"),
                    "max_q": pd.Series(mx, dtype="int64"),
                }
            )

    part = chips.select(
        "tile_key", "date_id", "chip", "chip_size", "n_bands", "chip_fmt"
    ).mapInPandas(
        partials,
        "tile_key string, date_id string, step long, n_px long, sum_q long, "
        "min_q long, max_q long",
    )
    agg = part.groupBy("tile_key", "date_id", "step").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_q").alias("sum_q"),
        F.min("min_q").alias("min_q"),
        F.max("max_q").alias("max_q"),
    )
    return agg.select(
        "tile_key", "date_id", "step", "n_px",
        F.round(F.col("sum_q") / F.col("n_px") / F.lit(scale), 6).alias("mean_index"),
        F.round(F.col("min_q") / F.lit(scale), 6).alias("min_index"),
        F.round(F.col("max_q") / F.lit(scale), 6).alias("max_index"),
    )


def polygonize_regions(cells: DataFrame) -> DataFrame:
    """Raster polygonization (gdal_polygonize): group 4-connected runs
    of EQUAL-valued cells into regions and report their vector summary —
    (region_id, v, n_cells, min_x, min_y, max_x, max_y, perimeter).
    region_id = the region's minimum linear cell id (x·2^bits + y, the
    canonical-keeper rule dedup_clusters already uses); perimeter =
    boundary edge count (neighbor missing or different-valued), the
    exact polygon perimeter in cell-edge units.

    Plan: equal-value 4-adjacency edges from two shifted equi-joins
    (E and S — each undirected edge built once), connected components
    via operators/dedup.dedup_clusters (hash-to-min + pointer jumping,
    O(log diameter) rounds), isolated cells label themselves, one
    aggregate per region. The perimeter needs no extra pass: it is
    4·n_cells − 2·(internal edge count), counted per region from the
    same edge table."""
    from .dedup import dedup_clusters

    c = cells.select(
        F.col("x").cast("long").alias("x"),
        F.col("y").cast("long").alias("y"),
        F.col("v").cast("long").alias("v"),
    )
    nid = (F.col("x") * F.lit(1 << 20) + F.col("y"))
    cn = c.withColumn("nid", nid)
    edges = None
    for dx, dy in ((1, 0), (0, 1)):
        e = (
            cn.alias("a")
            .join(
                cn.select(
                    (F.col("x") - dx).alias("x"),
                    (F.col("y") - dy).alias("y"),
                    F.col("v").alias("v2"),
                    F.col("nid").alias("nid2"),
                ).alias("b"),
                ["x", "y"],
            )
            .filter(F.col("v") == F.col("v2"))
            .select(F.col("nid").alias("doc_a"), F.col("nid2").alias("doc_b"))
        )
        edges = e if edges is None else edges.unionByName(e)
    labels = dedup_clusters(edges)
    lab = cn.join(
        labels.withColumnRenamed("doc_id", "nid"), "nid", "left"
    ).select(
        "x", "y", "v", "nid",
        F.coalesce("cluster_id", F.col("nid")).alias("region_id"),
    )
    deg = (
        edges.select(F.col("doc_a").alias("nid"))
        .unionByName(edges.select(F.col("doc_b").alias("nid")))
        .groupBy("nid")
        .agg(F.count(F.lit(1)).alias("eq_nbrs"))
    )
    per_cell = lab.join(deg, "nid", "left").select(
        "region_id", "v", "x", "y",
        (F.lit(4) - F.coalesce("eq_nbrs", F.lit(0))).alias("boundary"),
    )
    return per_cell.groupBy("region_id", "v").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("x").alias("min_x"),
        F.min("y").alias("min_y"),
        F.max("x").alias("max_x"),
        F.max("y").alias("max_y"),
        F.sum("boundary").alias("perimeter"),
    )


def polygonize_regions_sql(cells_sql: str) -> str:
    """DuckDB twin of polygonize_regions (recursive-CTE components —
    the q32 oracle pattern)."""
    m = 1 << 20
    return f"""
WITH RECURSIVE c AS (
  SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         CAST(v AS BIGINT) AS v,
         CAST(x AS BIGINT) * {m} + CAST(y AS BIGINT) AS nid
  FROM ({cells_sql})
),
pairs AS (
  SELECT a.nid AS u, b.nid AS w FROM c a
  JOIN c b ON (b.x = a.x + 1 AND b.y = a.y)
           OR (b.x = a.x AND b.y = a.y + 1)
  WHERE a.v = b.v
),
e AS (SELECT u, w FROM pairs UNION ALL SELECT w, u FROM pairs),
walk(u, lbl) AS (
  SELECT DISTINCT u, u AS lbl FROM e
  UNION
  SELECT e.u, w2.lbl FROM e JOIN walk w2 ON w2.u = e.w
),
labels AS (SELECT u AS nid, min(lbl) AS region_id FROM walk GROUP BY u),
deg AS (
  SELECT u AS nid, CAST(count(*) AS BIGINT) AS eq_nbrs FROM e GROUP BY u
),
per_cell AS (
  SELECT coalesce(l.region_id, c.nid) AS region_id, c.v, c.x, c.y,
         4 - coalesce(d.eq_nbrs, 0) AS boundary
  FROM c LEFT JOIN labels l ON c.nid = l.nid
  LEFT JOIN deg d ON c.nid = d.nid
)
SELECT region_id, v, CAST(count(*) AS BIGINT) AS n_cells,
       min(x) AS min_x, min(y) AS min_y,
       max(x) AS max_x, max(y) AS max_y,
       CAST(sum(boundary) AS BIGINT) AS perimeter
FROM per_cell GROUP BY 1, 2
"""
