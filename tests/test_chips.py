"""Chip-engine tests porting the reference's golden values.

Sources: tests/data_tests/test_hls_utils.py:145-159 (fmask bits),
test_create_chips.py:80-139 (masking matrices), test_data_pipeline.py:103-122
(chip coords vs the real 224×224 fixture raster), test_create_chips.py:27-77
(e2e chip count/shape/id + seg⊆chip invariant). The fixture GeoTIFFs are
read from the reference checkout with our stdlib TIFF reader — data only,
no code.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark import codecs, synth
from instageo_e2e_geospatial_ml_spark.mgrs import latlon_to_utm
from instageo_e2e_geospatial_ml_spark.operators.chips import (
    apply_mask,
    chip_coords,
    create_segmentation_map,
    decode_fmask_value,
    extract_chips,
    mask_segmentation_map,
)
from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
    ChipPipelineConfig,
    run_chip_pipeline,
)
from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable
from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff

REF_DATA = "/root/reference/tests/data"
HAVE_REF = os.path.exists(f"{REF_DATA}/HLS.S30.T38PMB.2022145T072619.v2.0.B02.tif")


def test_fmask_bit_decode_golden():
    # reference test_hls_utils.py:145-159: value 100 → bits per position
    got = [int(decode_fmask_value(np.array([100]), p)[0]) for p in range(8)]
    assert got == [0, 0, 1, 0, 0, 1, 1, 0]


def test_masking_strategy_matrices():
    # reference test_create_chips.py:91-139
    chip = np.array([[1, 2, 3, 4], [1, 3, -9, 7], [6, 7, 3, 9]])
    seg = np.array([1, -1, 1, 2])
    each = mask_segmentation_map(chip, seg, -9, "each")
    assert each.tolist() == [1, -1, 1, 2]
    any_ = mask_segmentation_map(chip, seg, -9, "any")
    assert any_.tolist() == [1, -1, -1, 2]
    # all-ndv chip → everything −1 (test_segmentation_map_masking)
    allnd = mask_segmentation_map(np.full((2, 4), -9), seg, -9, "any")
    assert (allnd == -1).all()


def test_apply_mask_each_vs_any():
    # 2 timesteps × 1 band stack, mask bit 1 (cloud)
    chip = np.arange(1, 9).reshape(2, 2, 2)
    mask = np.zeros((2, 2, 2), dtype=np.uint8)
    mask[0, 0, 0] = 2  # cloud bit set at t0 px(0,0)
    each = apply_mask(chip, mask, 0, ["cloud"], "each")
    assert each[0, 0, 0] == 0 and each[1, 0, 0] == 5  # only t0 masked
    any_ = apply_mask(chip, mask, 0, ["cloud"], "any")
    assert any_[0, 0, 0] == 0 and any_[1, 0, 0] == 0  # both timesteps masked


@pytest.mark.skipif(not HAVE_REF, reason="reference fixtures unavailable")
def test_chip_coords_golden_real_raster():
    # reference test_data_pipeline.py:103-122
    tile, tr = read_geotiff(f"{REF_DATA}/HLS.S30.T38PMB.2022145T072619.v2.0.B02.tif")
    assert tile.shape == (224, 224)
    pts = pd.read_csv(f"{REF_DATA}/sample_4326.csv")
    e, n, _ = latlon_to_utm(
        pts["y"].to_numpy(), pts["x"].to_numpy(), np.full(len(pts), 13)
    )
    got = {tuple(c) for c in chip_coords(e, n, tr, 64)}
    assert got == {(2, 0), (0, 3), (2, 2), (3, 2), (2, 3), (1, 2)}


def test_segmentation_map_window_and_axis_swap():
    # 4x6 (h=4, w=6) chip: the swapped clip bounds (rows clipped by w=6,
    # cols by h=4) are reference behavior — verify stamping + window growth
    tr = (1.0, 0.0, -1.0, 4.0)  # x = col, y = 4 - row
    xs, ys, labels = np.array([2.5]), np.array([1.5]), np.array([7])
    seg0 = create_segmentation_map((4, 6), tr, xs, ys, labels, 0)
    assert seg0.shape == (4, 6)
    assert (seg0 == 7).sum() == 1
    assert seg0[2, 2] == 7  # row=floor((1.5-4)/-1)=2, col=2
    seg1 = create_segmentation_map((4, 6), tr, xs, ys, labels, 1)
    assert (seg1 == 7).sum() == 9
    # obs outside the chip extent → untouched
    seg_out = create_segmentation_map(
        (4, 6), tr, np.array([99.0]), np.array([99.0]), np.array([3]), 1
    )
    assert (seg_out == -1).all()


@pytest.fixture(scope="module")
def ref_e2e_frames():
    tile, tr = read_geotiff(f"{REF_DATA}/HLS.S30.T38PMB.2022145T072619.v2.0.B02.tif")
    gid = "HLS.S30.T38PMB.2022145T072619.v2.0"
    images = pd.DataFrame(
        [
            {
                "image_id": f"{gid}:{b}",
                "bytes": codecs.encode(tile.reshape(1, 224, 224), "rawf8"),
                "w": 224,
                "h": 224,
                "fmt": "rawf8",
                "caption": synth.caption_for(f"{gid}:{b}"),
                "phash": 0,
            }
            for b in ("B02", "B04")
        ]
    )
    pts = pd.read_csv(f"{REF_DATA}/sample_4326.csv")
    records = pd.DataFrame(
        {
            "stac_items_str": gid,
            "granules": [[gid]] * len(pts),
            "x": pts["x"],
            "y": pts["y"],
            "date": pd.Timestamp("2020-01-01"),
            "label": pts["label"],
        }
    )
    overrides = {"38PMB": (13, tr[0], tr[1], tr[2], tr[3])}
    return images, records, overrides


@pytest.mark.skipif(not HAVE_REF, reason="reference fixtures unavailable")
def test_extract_chips_e2e_golden(spark, ref_e2e_frames):
    # reference test_create_chips.py:27-77: 3 chips, (2,64,64)/(64,64),
    # exact id chip_20200101_S30_T38PMB_2022145T072619_1_2, seg⊆chip
    images, records, overrides = ref_e2e_frames
    out = extract_chips(
        spark.createDataFrame(records),
        spark.createDataFrame(images),
        chip_size=64,
        window_size=0,
        mask_types=(),
        masking_strategy="any",
        band_order=("B02", "B04"),
        n_salt=2,
        transform_overrides=overrides,
    ).toPandas()
    assert len(out) == 3
    assert set(out["chip_id"]) == {
        "chip_20200101_S30_T38PMB_2022145T072619_2_0",
        "chip_20200101_S30_T38PMB_2022145T072619_2_2",
        "chip_20200101_S30_T38PMB_2022145T072619_1_2",
    }
    for _, r in out.iterrows():
        chip = codecs.decode(r["chip"], 64, 64, 2, r["chip_fmt"])
        seg = np.frombuffer(r["seg"], dtype="<i2").reshape(64, 64)
        assert chip.shape == (2, 64, 64)
        assert np.unique(chip).size > 1
        assert np.unique(seg).size > 1
        # seg ⊆ chip validity: chip-invalid pixels must be −1 in seg
        chip_invalid = (chip == 0).any(axis=0)
        assert (seg[chip_invalid] == -1).all()


@pytest.mark.skipif(not HAVE_REF, reason="reference fixtures unavailable")
@pytest.mark.parametrize("window_size", [0, 3, 5, 7])
def test_extract_chips_window_sweep(spark, ref_e2e_frames, window_size):
    # reference test_create_chips.py:142-197: larger windows → more labeled px
    images, records, overrides = ref_e2e_frames
    out = extract_chips(
        spark.createDataFrame(records),
        spark.createDataFrame(images),
        chip_size=64,
        window_size=window_size,
        mask_types=(),
        band_order=("B02", "B04"),
        n_salt=1,
        transform_overrides=overrides,
    ).toPandas()
    assert len(out) == 3
    expected_min = (2 * window_size + 1) ** 2  # at least one full window
    assert out["n_label_px"].max() >= min(expected_min, 64 * 64)


def test_full_pipeline_synthetic_with_resume(spark, tmp_path):
    tiles = ["38PMB", "30RYS"]
    obs = synth.gen_observations_pdf(n_extra_per_tile=15, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"].isin(tiles)].drop(columns=["mgrs_tile_id"])
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=60, every=5)
    # jp2 payloads: the resume run below pins the transcode-once guarantee
    # on the expensive-decode format specifically
    imgs = synth.gen_images_pdf(cat, w=128, h=128, fmt="jp2")
    cfg = ChipPipelineConfig(
        min_count=1,
        num_steps=1,
        temporal_tolerance=10,
        chip_size=32,
        window_size=1,
        mask_types=("cloud", "water"),
        masking_strategy="each",
        n_salt=2,
    )
    ckpt = CheckpointTable(
        spark, str(tmp_path / "chips"), key="stac_items_str", partition_by="tile_key"
    )
    acc1 = spark.sparkContext.accumulator(0)
    out1 = run_chip_pipeline(
        spark.createDataFrame(obs),
        spark.createDataFrame(cat),
        spark.createDataFrame(imgs),
        cfg,
        checkpoint=ckpt,
        decode_counter=acc1,
    ).toPandas()
    assert len(out1) > 0
    assert out1["chip_id"].is_unique
    assert set(out1["tile_key"].str[5:10].unique()) <= {"38PMB", "30RYS"}
    assert acc1.value > 0  # first pass really decoded jp2 payloads
    # per-partition lineage manifest exists and sums match
    man = ckpt.manifests().toPandas()
    assert man["n_rows"].sum() == len(out1)
    # resume: second run commits nothing new AND decodes nothing — the
    # transcode-once guarantee (decode cost is paid exactly once per
    # committed granule-set; a resumed/incremental run pays only for new
    # work, the structural answer to 100 TB of S2 JP2)
    acc2 = spark.sparkContext.accumulator(0)
    out2 = run_chip_pipeline(
        spark.createDataFrame(obs),
        spark.createDataFrame(cat),
        spark.createDataFrame(imgs),
        cfg,
        checkpoint=ckpt,
        decode_counter=acc2,
    ).toPandas()
    assert len(out2) == len(out1)
    assert sorted(out2["chip_id"]) == sorted(out1["chip_id"])
    assert acc2.value == 0, f"resume re-decoded {acc2.value} images"


@pytest.mark.skipif(not HAVE_REF, reason="reference fixtures unavailable")
def test_chip_pixels_match_direct_computation(spark, ref_e2e_frames):
    # per-row invariant: decoded chip pixels allclose vs a direct numpy
    # computation from the same source raster (PSNR ≥ 40 dB requirement is
    # trivially inf for lossless chip storage)
    images, records, overrides = ref_e2e_frames
    out = extract_chips(
        spark.createDataFrame(records),
        spark.createDataFrame(images),
        chip_size=64,
        window_size=0,
        mask_types=(),
        band_order=("B02", "B04"),
        n_salt=1,
        transform_overrides=overrides,
    ).toPandas()
    tile, _ = read_geotiff(f"{REF_DATA}/HLS.S30.T38PMB.2022145T072619.v2.0.B02.tif")
    for _, r in out.iterrows():
        got = codecs.decode(r["chip"], 64, 64, 2, r["chip_fmt"])
        cx, cy = r["cx"], r["cy"]
        want = tile[cy * 64 : (cy + 1) * 64, cx * 64 : (cx + 1) * 64]
        for b in range(2):
            assert codecs.psnr(got[b], want) == float("inf")
            np.testing.assert_allclose(got[b], want)


def test_scl_class_mask_s2():
    # R2 (reference s2_utils.py:410-422): SCL class-id masks — cloud {8,9},
    # water {6}
    from instageo_e2e_geospatial_ml_spark.operators.chips import (
        apply_mask,
        create_mask_from_scl,
    )

    scl = np.array([[[6, 8], [9, 4]]], dtype=np.uint8)  # (T=1, 2, 2)
    assert create_mask_from_scl(scl, [8, 9]).tolist() == [[[0, 1], [1, 0]]]
    chip = np.full((2, 2, 2), 5, dtype=np.int32)  # 2 bands × 1 timestep
    out = apply_mask(chip, scl, 0, ["cloud", "water"], "each", data_source="S2")
    assert out[0].tolist() == [[0, 0], [0, 5]]  # water(6)+cloud(8,9) masked
    assert out[1].tolist() == [[0, 0], [0, 5]]


def test_crop_to_bounds_r9():
    from instageo_e2e_geospatial_ml_spark.operators.chips import crop_to_bounds

    arr = np.arange(100).reshape(1, 10, 10)
    tr = (1.0, 0.0, -1.0, 10.0)  # x = col, y = 10 - row
    out = crop_to_bounds(arr, tr, (2.0, 3.0, 6.0, 7.0))
    assert out.shape == (1, 4, 4)
    # forced chip_size window
    out2 = crop_to_bounds(arr, tr, (2.0, 3.0, 6.0, 7.0), chip_size=3)
    assert out2.shape == (1, 3, 3)
    assert crop_to_bounds(arr, tr, (50.0, 50.0, 60.0, 60.0)) is None


def test_bbox_tile_ids():
    from instageo_e2e_geospatial_ml_spark.mgrs import bbox_tile_ids

    ids = bbox_tile_ids(44.4, 15.0, 44.6, 15.2)
    assert "38PMB" in ids and 1 <= len(ids) <= 4


def test_payload_source_files_matches_rows(spark, tmp_path):
    # the pyarrow file-reader path must produce byte-identical chips
    tiles = ["38PMB"]
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=30, every=5)
    imgs_pdf = synth.gen_images_pdf(cat, w=96, h=96, fmt="png")
    img_path = str(tmp_path / "imgs")
    spark.createDataFrame(imgs_pdf).write.parquet(img_path)
    images = spark.read.parquet(img_path)
    obs = synth.gen_observations_pdf(n_extra_per_tile=10, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"] == "38PMB"].drop(columns=["mgrs_tile_id"])
    cfg = ChipPipelineConfig(
        num_steps=1, temporal_tolerance=10, chip_size=32, window_size=1,
        mask_types=("cloud",), masking_strategy="each",
    )
    a = run_chip_pipeline(
        spark.createDataFrame(obs), spark.createDataFrame(cat), images, cfg,
        payload_source="rows",
    ).toPandas().sort_values("chip_id").reset_index(drop=True)
    b = run_chip_pipeline(
        spark.createDataFrame(obs), spark.createDataFrame(cat), images, cfg,
        payload_source="files",
    ).toPandas().sort_values("chip_id").reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert a["chip_id"].tolist() == b["chip_id"].tolist()
    for i in range(len(a)):
        assert a.iloc[i]["chip"] == b.iloc[i]["chip"]
        assert a.iloc[i]["seg"] == b.iloc[i]["seg"]


def test_checkpoint_torn_commit_recovery(spark, tmp_path):
    # crash-atomicity: a parquet write NOT followed by a snapshot-log
    # update (torn commit) must be invisible — read() filters orphan rows,
    # and the re-run appends the batch again without duplicating anything
    import pandas as pd
    from pyspark.sql import functions as F

    root = str(tmp_path / "torn")
    ckpt = CheckpointTable(spark, root, key="k")
    batch = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "v": [1, 2]}))

    # simulate the crash: write data WITH a snapshot id but never commit
    # the log (exactly what append() does before the log rename)
    torn = batch.withColumn("_snapshot_id", F.lit("deadbeefdeadbeef"))
    torn.write.mode("append").parquet(ckpt.data_path)
    assert not ckpt.exists()  # no committed snapshot yet
    assert ckpt.filter_uncommitted(batch).count() == 2  # nothing committed

    # healthy re-run commits the same batch
    rec = ckpt.append(batch)
    assert rec["n_rows"] == 2
    out = ckpt.read().toPandas()
    # torn rows are orphans: exactly one committed copy of each key
    assert sorted(out["k"]) == ["a", "b"]
    assert set(out["_snapshot_id"]) == {rec["snapshot_id"]}

    # second append of the same keys is a no-op (idempotent resume)
    rec2 = ckpt.append(batch)
    assert rec2["n_rows"] == 0
    assert sorted(ckpt.read().toPandas()["k"]) == ["a", "b"]


def test_checkpoint_manifest_carries_psnr_metrics(spark, tmp_path):
    # north-star contract: per-partition lineage with row counts AND
    # quality (PSNR) metric sums checkpointed alongside the data — here
    # over lossy-coded (qdct) images, whose per-row PSNR >= 40 dB
    import pandas as pd
    from pyspark.sql import functions as F

    cat = synth.gen_granule_catalog_pdf(tiles=["38PMB"], days=10, every=5)
    imgs = synth.gen_images_pdf(cat, w=64, h=64, fmt="qdct")

    def add_psnr(it):
        for pdf in it:
            vals = []
            for r in pdf.itertuples(index=False):
                dec = codecs.decode(bytes(r.bytes), int(r.w), int(r.h), 1, r.fmt)
                is_mask = r.image_id.endswith(":Fmask")
                src = synth.synth_pixels(r.image_id, int(r.w), int(r.h), is_mask)
                vals.append(round(float(codecs.psnr(dec[0], src[0])), 3))
            out = pdf[["image_id"]].copy()
            out["tile"] = [i.split(".")[2][1:] for i in out["image_id"]]
            out["psnr"] = vals
            yield out

    scored = spark.createDataFrame(imgs).mapInPandas(
        add_psnr, "image_id string, tile string, psnr double"
    )
    ckpt = CheckpointTable(
        spark, str(tmp_path / "imgq"), key="image_id", partition_by="tile"
    )
    ckpt.append(scored, metrics_cols=["psnr"])
    man = ckpt.manifests().toPandas()
    assert (man["n_rows"] > 0).all()
    # every row >= 40 dB → the manifest metric sum implies the mean too
    assert (man["sum_psnr"] / man["n_rows"] >= 40.0).all()


def test_streaming_chip_ingestion_matches_batch(spark, tmp_path):
    # two micro-batches (one observation file per tile) must produce
    # byte-identical chips to a single batch run over the union
    import glob
    import shutil

    from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
        run_chip_pipeline_streaming,
    )

    tiles = ["38PMB", "30RYS"]
    obs = synth.gen_observations_pdf(n_extra_per_tile=12, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"].isin(tiles)]
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=60, every=5)
    imgs = synth.gen_images_pdf(cat, w=128, h=128, fmt="raw")
    cfg = ChipPipelineConfig(
        min_count=1, num_steps=1, temporal_tolerance=10, chip_size=32,
        window_size=1, mask_types=("cloud", "water"), masking_strategy="each",
        n_salt=2,
    )
    cat_df = spark.createDataFrame(cat)
    img_df = spark.createDataFrame(imgs)

    # one observation file per tile, flat in the stream-source dir
    src = tmp_path / "obs_in"
    src.mkdir()
    for i, t in enumerate(tiles):
        part_dir = tmp_path / f"_obs_{i}"
        spark.createDataFrame(
            obs[obs["mgrs_tile_id"] == t].drop(columns=["mgrs_tile_id"])
        ).coalesce(1).write.parquet(str(part_dir))
        shutil.move(
            glob.glob(str(part_dir / "part-*.parquet"))[0], src / f"{i}.parquet"
        )

    obs_schema = spark.read.parquet(str(src / "0.parquet")).schema
    ckpt_s = CheckpointTable(
        spark, str(tmp_path / "chips_s"), key="stac_items_str",
        partition_by="tile_key",
    )
    got = run_chip_pipeline_streaming(
        spark, str(src), obs_schema, cat_df, img_df, cfg,
        checkpoint=ckpt_s, stream_checkpoint_dir=str(tmp_path / "ck_s"),
        max_files=1,
    )
    # two micro-batches ran → two committed snapshots
    assert len(ckpt_s.committed_snapshot_ids()) == 2

    want = run_chip_pipeline(
        spark.createDataFrame(obs.drop(columns=["mgrs_tile_id"])),
        cat_df, img_df, cfg,
    )

    def fingerprint(df):
        return sorted(
            map(
                tuple,
                df.select(
                    "chip_id", "tile_key", "cx", "cy", "valid_px", "n_label_px",
                    F.md5("chip"), F.md5("seg"),
                ).collect(),
            )
        )

    assert fingerprint(got) == fingerprint(want)  # byte-identical payloads

    # idempotence under replay: draining the same directory again (fresh
    # stream checkpoint → all files re-delivered) commits nothing new
    got2 = run_chip_pipeline_streaming(
        spark, str(src), obs_schema, cat_df, img_df, cfg,
        checkpoint=ckpt_s, stream_checkpoint_dir=str(tmp_path / "ck_s2"),
        max_files=1,
    )
    assert fingerprint(got2) == fingerprint(want)


def test_chip_pipeline_jp2_payloads_match_raw(spark):
    # the reference's S2 path reads JP2 band rasters; with the reversible
    # 5/3 codec wired into codecs.decode, the chip pipeline over
    # jp2-encoded granules must produce chips byte-identical to the same
    # pixels carried raw (lossless codestream)
    tiles = ["38PMB"]
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=30, every=5)
    obs = synth.gen_observations_pdf(n_extra_per_tile=10, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"] == "38PMB"].drop(columns=["mgrs_tile_id"])
    cfg = ChipPipelineConfig(
        num_steps=1, temporal_tolerance=10, chip_size=32, window_size=1,
        mask_types=("cloud",), masking_strategy="each",
    )
    outs = {}
    for fmt in ("raw", "jp2"):
        imgs = synth.gen_images_pdf(cat, w=96, h=96, fmt=fmt)
        outs[fmt] = (
            run_chip_pipeline(
                spark.createDataFrame(obs),
                spark.createDataFrame(cat),
                spark.createDataFrame(imgs),
                cfg,
            )
            .toPandas()
            .sort_values("chip_id")
            .reset_index(drop=True)
        )
    a, b = outs["raw"], outs["jp2"]
    assert len(a) == len(b) > 0
    assert a["chip_id"].tolist() == b["chip_id"].tolist()
    for i in range(len(a)):
        assert a.iloc[i]["chip"] == b.iloc[i]["chip"]
        assert a.iloc[i]["seg"] == b.iloc[i]["seg"]


def test_extract_chips_band_filter_is_sorted(spark):
    """The band filter's IN list comes in sorted order, so the chip plan
    does not follow Python's per-process string hashing of a set."""
    import re

    records = spark.createDataFrame(
        [("g1", ["g1"], 45.0, 15.0, "2022-06-01", 1)],
        "stac_items_str string, granules array<string>, x double, y double,"
        " date string, label int",
    )
    imgs = spark.createDataFrame(
        synth.gen_images_pdf(
            synth.gen_granule_catalog_pdf(tiles=["38PMB"], days=5, every=5), w=32, h=32
        )
    )
    out = extract_chips(records, imgs, chip_size=32, label_band="LABEL")
    plan = out._jdf.queryExecution().analyzed().toString()
    lists = re.findall(r"band#\d+ IN \(([^)]*)\)", plan)
    assert lists, plan
    for bands in lists:
        names = bands.split(",")
        assert len(names) == 8 and names == sorted(names), bands


def test_checkpoint_time_travel_and_rollback(spark, tmp_path):
    import pandas as pd

    ck = CheckpointTable(spark, str(tmp_path / "tt"), key="k")
    s1 = ck.append(spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [10, 20]})))
    s2 = ck.append(spark.createDataFrame(pd.DataFrame({"k": [3], "v": [30]})))
    s3 = ck.append(spark.createDataFrame(pd.DataFrame({"k": [4, 5], "v": [40, 50]})))
    assert sorted(r["k"] for r in ck.read().collect()) == [1, 2, 3, 4, 5]
    # time travel: the table as of snapshot 2
    assert sorted(r["k"] for r in ck.read(as_of=s2["snapshot_id"]).collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in ck.read(as_of=s1["snapshot_id"]).collect()) == [1, 2]
    # metadata-only rollback: snapshot 3's rows become invisible orphans...
    ck.rollback(s2["snapshot_id"])
    assert sorted(r["k"] for r in ck.read().collect()) == [1, 2, 3]
    # ...and its keys are appendable again without duplication
    ck.append(spark.createDataFrame(pd.DataFrame({"k": [4, 1], "v": [41, 11]})))
    rows = {r["k"]: r["v"] for r in ck.read().collect()}
    assert rows == {1: 10, 2: 20, 3: 30, 4: 41}  # k=1 stays the committed copy
    import pytest as _pt

    with _pt.raises(KeyError):
        ck.read(as_of="nope")
    with _pt.raises(KeyError):
        ck.rollback("nope")


def test_zonal_stats_vs_numpy_replica(spark):
    """Zonal statistics: the distributed two-stage (per-chip partials →
    merge) result equals an independent whole-corpus numpy accumulation
    over the same decoded payloads — exact for the integer moments,
    1e-9 for the derived mean/std."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark import synth
    from instageo_e2e_geospatial_ml_spark.operators.cleaner import (
        _decode_chip,
        _decode_seg,
    )
    from instageo_e2e_geospatial_ml_spark.operators.chips import SEG_NDV
    from instageo_e2e_geospatial_ml_spark.operators.zonal import zonal_stats
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
        ChipPipelineConfig,
        run_chip_pipeline,
    )

    tiles = ["38PMB"]
    obs = synth.gen_observations_pdf(n_extra_per_tile=12, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"].isin(tiles)].drop(columns=["mgrs_tile_id"])
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=30, every=5)
    imgs = synth.gen_images_pdf(cat, w=128, h=128, fmt="raw")
    cfg = ChipPipelineConfig(
        min_count=1, num_steps=1, temporal_tolerance=10, chip_size=32,
        window_size=1, mask_types=(), masking_strategy="each",
    )
    chips = run_chip_pipeline(
        spark.createDataFrame(obs), spark.createDataFrame(cat),
        spark.createDataFrame(imgs), cfg,
    ).cache()

    got = zonal_stats(chips).toPandas()
    assert len(got) > 0

    # independent replica: single numpy accumulation over every chip
    acc = {}
    for r in chips.select("chip", "seg", "chip_size", "n_bands", "chip_fmt").collect():
        chip = _decode_chip(r).astype(np.int64)
        seg = _decode_seg(r)
        for zone in np.unique(seg):
            if zone == SEG_NDV:
                continue
            for b in range(chip.shape[0]):
                vals = chip[b][seg == zone]
                vals = vals[vals != 0]
                if vals.size == 0:
                    continue
                k = (int(zone), b)
                c, s, ss, mn, mx = acc.get(k, (0, 0, 0, None, None))
                acc[k] = (
                    c + vals.size, s + int(vals.sum()),
                    ss + int((vals * vals).sum()),
                    int(vals.min()) if mn is None else min(mn, int(vals.min())),
                    int(vals.max()) if mx is None else max(mx, int(vals.max())),
                )
    assert len(got) == len(acc)
    for row in got.itertuples():
        c, s, ss, mn, mx = acc[(row.zone, row.band)]
        assert (row.n_px, row.sum_px, row.sumsq_px, row.min_px, row.max_px) == (
            c, s, ss, mn, mx
        )
        mean = s / c
        var = max(ss / c - mean * mean, 0.0)
        assert abs(row.mean_px - round(mean, 6)) < 1e-9
        assert abs(row.std_px - round(var ** 0.5, 6)) < 1e-9
    chips.unpersist()


def test_spectral_index_timeseries_vs_numpy(spark):
    """NDVI time series: distributed scaled-integer accumulation equals
    an independent numpy replica; quantization keeps the merged result
    exact regardless of partitioning."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark import synth
    from instageo_e2e_geospatial_ml_spark.operators.cleaner import _decode_chip
    from instageo_e2e_geospatial_ml_spark.operators.zonal import (
        spectral_index_timeseries,
    )
    from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
        ChipPipelineConfig,
        run_chip_pipeline,
    )

    tiles = ["38PMB"]
    obs = synth.gen_observations_pdf(n_extra_per_tile=12, tiles=tiles, spread=0.2)
    obs = obs[obs["mgrs_tile_id"].isin(tiles)].drop(columns=["mgrs_tile_id"])
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=60, every=5)
    imgs = synth.gen_images_pdf(cat, w=128, h=128, fmt="raw")
    cfg = ChipPipelineConfig(
        min_count=1, num_steps=2, temporal_tolerance=10, chip_size=32,
        window_size=1, mask_types=(), masking_strategy="each",
    )
    chips = run_chip_pipeline(
        spark.createDataFrame(obs), spark.createDataFrame(cat),
        spark.createDataFrame(imgs), cfg,
    ).cache()

    got = spectral_index_timeseries(chips).toPandas()
    assert len(got) > 0
    assert set(got["step"]) <= {0, 1}   # num_steps=2

    band_order = ("B02", "B03", "B04", "B8A", "B11", "B12")
    ia, ib, nb = band_order.index("B8A"), band_order.index("B04"), len(band_order)
    acc = {}
    for r in chips.select(
        "tile_key", "date_id", "chip", "chip_size", "n_bands", "chip_fmt"
    ).collect():
        chip = _decode_chip(r).astype(np.int64)
        for t in range(chip.shape[0] // nb):
            a, b = chip[t * nb + ia], chip[t * nb + ib]
            valid = (a != 0) & (b != 0) & (a + b != 0)
            if not valid.any():
                continue
            av, bv = a[valid].astype(float), b[valid].astype(float)
            q = np.round(1e6 * (av - bv) / (av + bv)).astype(np.int64)
            k = (r["tile_key"], r["date_id"], t)
            c, s, mn, mx = acc.get(k, (0, 0, None, None))
            acc[k] = (
                c + q.size, s + int(q.sum()),
                int(q.min()) if mn is None else min(mn, int(q.min())),
                int(q.max()) if mx is None else max(mx, int(q.max())),
            )
    assert len(got) == len(acc)
    for row in got.itertuples():
        c, s, mn, mx = acc[(row.tile_key, row.date_id, row.step)]
        assert row.n_px == c
        assert abs(row.mean_index - round(s / c / 1e6, 6)) < 1e-9
        assert abs(row.min_index - round(mn / 1e6, 6)) < 1e-9
        assert abs(row.max_index - round(mx / 1e6, 6)) < 1e-9
        assert -1.0 <= row.min_index <= row.mean_index <= row.max_index <= 1.0
    chips.unpersist()
