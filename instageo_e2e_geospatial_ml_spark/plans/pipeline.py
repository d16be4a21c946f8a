"""End-to-end chip-creation pipeline (the reference's chip_creator main,
chip_creator.py:258-326 + data_pipeline.py:761-831, Spark-first).

    observations ──assign MGRS──density filter──temporal expand──┐
    granule catalog ──bucket footprints──broadcast PIP join──────┤
                                                                 ▼
                           as-of pick (min cloud within tolerance)
                                                                 ▼
               granule sequence + validity filter + set dedup key
                                                                 ▼
          resume anti-join (checkpoint) ── cogrouped chip extract
                                                                 ▼
                    chip table (+ per-partition lineage manifest)

Every stage before the extraction UDF is pure DataFrame algebra (Catalyst
optimizes the whole prefix: filters push into the parquet scans, the PIP
join is a broadcast hash join, the as-of pick is one shuffle keyed by
(obs, step)).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.asof import asof_pick, granule_sequence
from ..operators.chips import extract_chips
from ..operators.dates import expand_temporal_steps, normalize_dates
from ..operators.density import assign_tiles, density_filter
from ..operators.spatial_join import footprint_key, pip_join
from ..operators.validity import validity_filter
from ..sources.checkpoint import CheckpointTable


@dataclass
class ChipPipelineConfig:
    min_count: int = 1
    num_steps: int = 1
    temporal_step: int = 5
    temporal_tolerance: int = 5
    chip_size: int = 64
    window_size: int = 0
    mask_types: tuple = ()
    masking_strategy: str = "any"
    task_type: str = "seg"
    band_order: tuple = ("B02", "B03", "B04", "B8A", "B11", "B12")
    n_salt: int = 4
    shift_to_month_start: bool = False


def build_records(
    obs: DataFrame, catalog: DataFrame, cfg: ChipPipelineConfig
) -> DataFrame:
    """observations × granule catalog → valid records with granule sets.

    The prepared obs table feeds three branches (temporal expansion, the
    PIP join, the final re-join), so it is materialized once, in two eager
    localCheckpoints: the first holds the MGRS tile ids and obs_id, the
    second the density-filtered rows. One checkpoint over both would
    evaluate the MGRS UDF four times: the count join makes Catalyst infer
    isnotnull(mgrs_udf(x, y)) and run the UDF twice in each of its two
    branches. Leaving the density filter lazy on top of the first
    checkpoint would plan its count aggregate and broadcast into every
    branch and into pip_join's partition probe, which runs them once more
    while the plan is built. The checkpoints are eager because the
    branches' stages run concurrently and would race a lazy checkpoint's
    lineage truncation. They live exactly as long as the returned frame
    (no cache entry outlives a micro-batch of
    run_chip_pipeline_streaming), and the truncated lineage pins obs_id: a
    monotonically_increasing_id can never be recomputed differently for
    one branch. The as-of pick runs
    without the null-preserving join-back (validity_filter drops
    incomplete sequences anyway) and with its shuffle aligned on obs_id
    so the rank window and the per-obs regroup share one exchange.
    """
    o = assign_tiles(normalize_dates(obs, shift_to_month_start=cfg.shift_to_month_start))
    o = o.withColumn("obs_id", F.monotonically_increasing_id()).localCheckpoint(
        eager=True
    )
    o = density_filter(o, cfg.min_count, keep_counts=False).localCheckpoint(eager=True)

    steps = expand_temporal_steps(
        o, num_steps=cfg.num_steps, temporal_step=cfg.temporal_step
    ).select("obs_id", "step", "query_date")
    # footprint-granularity matches: the exact PIP test runs once per
    # distinct footprint, and the per-granule fan-out happens INSIDE the
    # as-of broadcast join, fused with the tolerance filter — the
    # obs × every-revisit candidate set never crosses an exchange
    fp_matches = pip_join(o, catalog, expand_granules=False)
    granules = footprint_key(catalog).select(
        "_fp_id", "granule_id", "ts", "cloud_cover"
    )
    picked = asof_pick(
        steps,
        fp_matches,
        granules,
        tolerance_days=cfg.temporal_tolerance,
        obs_id="obs_id",
        keep_unmatched=False,
        align_partitioning=True,
        join_key="_fp_id",
        broadcast_granules=True,
    )
    seq = granule_sequence(picked)
    records = o.join(seq, "obs_id", "inner")
    return validity_filter(records, num_steps=cfg.num_steps)


def run_chip_pipeline(
    obs: DataFrame,
    catalog: DataFrame,
    images: DataFrame,
    cfg: ChipPipelineConfig,
    checkpoint: CheckpointTable | None = None,
    payload_source: str = "rows",
    decode_counter=None,
) -> DataFrame:
    """Full pipeline → chip table DataFrame (appended to `checkpoint` when
    given, with resume semantics: already-committed granule-sets skipped).

    decode_counter: optional Spark accumulator incremented once per image
    decode — the transcode-once observability hook (a resumed run that
    finds every granule-set committed must leave it at 0)."""
    records = build_records(obs, catalog, cfg).select(
        "stac_items_str", "granules", "x", "y", "date", "label"
    )
    if checkpoint is not None:
        records = checkpoint.filter_uncommitted(records)
    chips = extract_chips(
        records,
        images,
        chip_size=cfg.chip_size,
        window_size=cfg.window_size,
        mask_types=cfg.mask_types,
        masking_strategy=cfg.masking_strategy,
        task_type=cfg.task_type,
        band_order=cfg.band_order,
        payload_source=payload_source,
        decode_counter=decode_counter,
    )
    if checkpoint is not None:
        checkpoint.append(chips, metrics_cols=["valid_px", "n_label_px"])
        if checkpoint.exists():  # else nothing committed yet: chips is empty
            return checkpoint.read()
    return chips


def run_chip_pipeline_streaming(
    spark,
    obs_path: str,
    obs_schema,
    catalog: DataFrame,
    images: DataFrame,
    cfg: ChipPipelineConfig,
    checkpoint: CheckpointTable,
    stream_checkpoint_dir: str,
    max_files: int = 16,
) -> DataFrame:
    """Incremental chip ingestion: J8 resumability upgraded to continuous
    arrival. Observation files land in `obs_path`; each micro-batch runs
    the SAME batch pipeline (build_records → resume anti-join →
    extract_chips) and appends atomically to the CheckpointTable, so a
    crash mid-stream resumes from the last committed snapshot and a
    replayed batch commits nothing twice (idempotent at granule-set
    granularity — the reference's file-existence resume,
    data_pipeline.py:690-724, continuously applied).

    Semantics contract: a granule-set's observations must arrive within
    one micro-batch for its chips to label them all; later observations
    for an ALREADY-COMMITTED set are skipped by the resume rule — exactly
    what re-running the reference over an extended obs file with existing
    chips on disk does. Sets never straddle tiles, so per-tile (or
    coarser) file layout satisfies the contract naturally.

    Trigger.AvailableNow drains the currently-available files in
    maxFilesPerTrigger batches and terminates; run it on a schedule (or
    swap in processingTime) for continuous operation. Returns the
    committed chip table.
    """
    if checkpoint is None:
        raise ValueError("streaming ingestion requires a CheckpointTable")
    stream = (
        spark.readStream.schema(obs_schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(obs_path)
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # appends to the checkpoint inside (atomic snapshot commit); an
        # empty batch commits nothing, like any batch with no new chips
        run_chip_pipeline(batch_df, catalog, images, cfg, checkpoint=checkpoint)

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", stream_checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return checkpoint.read()
