"""Raster entry point (the reference's raster_chip_creator, 3.2):
bboxes → chip-grid cells → granule matching → chips whose segmentation
maps are sliced from a label raster band instead of rasterized points.

    bboxes ──grid_polygons (R10)──cell centers──MGRS assign──┐
    granule catalog ────PIP join + as-of pick────────────────┤
                                                             ▼
                 extract_chips(label_band=…)  (R9 label slicing)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.asof import asof_pick, granule_sequence
from ..operators.chips import extract_chips
from ..operators.dates import expand_temporal_steps
from ..operators.density import assign_tiles
from ..operators.gridgen import grid_polygons
from ..operators.spatial_join import pip_join
from ..operators.validity import validity_filter
from .pipeline import ChipPipelineConfig


def run_raster_pipeline(
    bboxes: DataFrame,
    catalog: DataFrame,
    images: DataFrame,
    cfg: ChipPipelineConfig,
) -> DataFrame:
    """bboxes(id, minx, miny, maxx, maxy, date) × catalog × images →
    chip table with raster-sliced segmentation maps."""
    cells = grid_polygons(bboxes, 0.1)
    obs = cells.select(
        ((F.col("cell_minx") + F.col("cell_maxx")) / 2).alias("x"),
        ((F.col("cell_miny") + F.col("cell_maxy")) / 2).alias("y"),
        F.col("date"),
        F.lit(0).alias("label"),
    )
    # eager localCheckpoint, as in pipeline.build_records: one obs_id per
    # cell across all three branches, released with the returned frame
    o = (
        assign_tiles(obs)
        .withColumn("obs_id", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    steps = expand_temporal_steps(
        o, num_steps=cfg.num_steps, temporal_step=cfg.temporal_step
    ).select("obs_id", "step", "query_date")
    candidates = pip_join(o, catalog)
    picked = asof_pick(
        steps,
        candidates,
        catalog.select("granule_id", "ts", "cloud_cover"),
        tolerance_days=cfg.temporal_tolerance,
        keep_unmatched=False,
        align_partitioning=True,
    )
    records = validity_filter(
        o.join(granule_sequence(picked), "obs_id", "inner"), num_steps=cfg.num_steps
    ).select("stac_items_str", "granules", "x", "y", "date", "label")
    return extract_chips(
        records,
        images,
        chip_size=cfg.chip_size,
        window_size=cfg.window_size,
        mask_types=cfg.mask_types,
        masking_strategy=cfg.masking_strategy,
        task_type=cfg.task_type,
        band_order=cfg.band_order,
        label_band="LABEL",
    )
