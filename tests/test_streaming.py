"""Structured Streaming: batch parity of the windowed counts, and the
chip pipeline run as micro-batches."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark.streaming.windows import (
    read_event_stream,
    run_available_now,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    # copy a small slice of events into a stream-source dir (several files)
    d = tmp_path_factory.mktemp("events_stream")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.repartition(4).write.mode("overwrite").parquet(str(d / "in"))
    return str(d / "in"), ev.schema, ev


def test_windowed_counts_batch_parity(spark, events_path, tmp_path):
    path, schema, ev_batch = events_path
    stream = read_event_stream(spark, path, schema)
    agg = windowed_event_counts(stream, window="6 hours", watermark="1 hour")
    got = run_available_now(agg, "win_counts", str(tmp_path / "ck1")).toPandas()
    # batch twin: same plan on the static table
    want = (
        ev_batch.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, want_s, check_like=True)


def _chip_stream_source(spark, tmp_path, frames):
    """One parquet file per observation frame, in arrival order, flat in
    a stream-source dir; returns (dir, schema)."""
    import glob
    import os

    src = tmp_path / "obs_in"
    src.mkdir()
    for i, pdf in enumerate(frames):
        part_dir = tmp_path / f"_obs_{i}"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(part_dir))
        dst = src / f"{i}.parquet"
        shutil.move(glob.glob(str(part_dir / "part-*.parquet"))[0], dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # file-source order
    return str(src), spark.read.parquet(str(src / "0.parquet")).schema


def _chip_stream_inputs(spark, tiles):
    from instageo_e2e_geospatial_ml_spark import synth
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import ChipPipelineConfig

    obs = synth.gen_observations_pdf(n_extra_per_tile=8, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"].isin(tiles)]
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=60, every=5)
    imgs = synth.gen_images_pdf(cat, w=128, h=128, fmt="raw")
    cfg = ChipPipelineConfig(
        min_count=2, num_steps=1, temporal_tolerance=10, chip_size=32,
        mask_types=("cloud",), masking_strategy="each",
    )
    return obs, spark.createDataFrame(cat), spark.createDataFrame(imgs), cfg


def test_chip_stream_releases_obs_cache_per_batch(spark, tmp_path):
    # build_records' obs table must not outlive its micro-batch: after a
    # 3-batch stream the session's CacheManager holds no new entry
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
        run_chip_pipeline_streaming,
    )
    from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable

    tiles = ["38PMB", "30RYS", "38PPB"]
    obs, cat_df, img_df, cfg = _chip_stream_inputs(spark, tiles)
    frames = [
        obs[obs["mgrs_tile_id"] == t].drop(columns=["mgrs_tile_id"]) for t in tiles
    ]
    src, schema = _chip_stream_source(spark, tmp_path, frames)
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    ckpt = CheckpointTable(
        spark, str(tmp_path / "chips"), key="stac_items_str", partition_by="tile_key"
    )
    got = run_chip_pipeline_streaming(
        spark, src, schema, cat_df, img_df, cfg, checkpoint=ckpt,
        stream_checkpoint_dir=str(tmp_path / "ck"), max_files=1,
    )
    assert got.count() > 0
    assert len(ckpt.committed_snapshot_ids()) == 3
    assert cache.numCachedEntries() == n_cached


def test_chip_stream_survives_empty_first_batch(spark, tmp_path):
    # a first micro-batch whose observations all fail the density filter
    # yields no chips: it must commit nothing and not kill the stream, and
    # the next file's chips still commit exactly as a batch run makes them
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
        run_chip_pipeline,
        run_chip_pipeline_streaming,
    )
    from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable

    obs, cat_df, img_df, cfg = _chip_stream_inputs(spark, ["38PMB", "30RYS"])
    lone = obs[obs["mgrs_tile_id"] == "30RYS"].head(1)  # < min_count=2
    rest = obs[obs["mgrs_tile_id"] == "38PMB"]
    frames = [f.drop(columns=["mgrs_tile_id"]) for f in (lone, rest)]
    src, schema = _chip_stream_source(spark, tmp_path, frames)
    ckpt = CheckpointTable(
        spark, str(tmp_path / "chips"), key="stac_items_str", partition_by="tile_key"
    )
    got = run_chip_pipeline_streaming(
        spark, src, schema, cat_df, img_df, cfg, checkpoint=ckpt,
        stream_checkpoint_dir=str(tmp_path / "ck"), max_files=1,
    )
    assert len(ckpt.committed_snapshot_ids()) == 1
    want = run_chip_pipeline(spark.createDataFrame(frames[1]), cat_df, img_df, cfg)
    cols = ["chip_id", "tile_key", "valid_px", F.md5("chip"), F.md5("seg")]
    assert want.count() > 0
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_chip_pipeline_empty_batch_commits_nothing(spark, tmp_path):
    # the chip stream hands every micro-batch to run_chip_pipeline, empty
    # ones included: 0 observation rows must commit nothing and raise
    # nothing, on a fresh table and on one with a committed snapshot
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import run_chip_pipeline
    from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable

    obs, cat_df, img_df, cfg = _chip_stream_inputs(spark, ["38PMB"])
    obs_df = spark.createDataFrame(obs.drop(columns=["mgrs_tile_id"]))
    empty = obs_df.limit(0)
    ckpt = CheckpointTable(
        spark, str(tmp_path / "chips"), key="stac_items_str", partition_by="tile_key"
    )
    run_chip_pipeline(empty, cat_df, img_df, cfg, checkpoint=ckpt)
    assert ckpt.committed_snapshot_ids() == []
    assert not ckpt.exists()

    run_chip_pipeline(obs_df, cat_df, img_df, cfg, checkpoint=ckpt)
    snaps = ckpt.committed_snapshot_ids()
    n_chips = ckpt.read().count()
    assert len(snaps) == 1 and n_chips > 0
    run_chip_pipeline(empty, cat_df, img_df, cfg, checkpoint=ckpt)
    assert ckpt.committed_snapshot_ids() == snaps
    assert ckpt.read().count() == n_chips
