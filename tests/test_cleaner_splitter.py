"""Tests for cleaner ops (R12/R13), split strategies, filter parser, grid
polygons, and the spark-submit entry."""

import subprocess
import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark import codecs, synth
from instageo_e2e_geospatial_ml_spark.functions.filters import (
    filters_to_column,
    filters_to_sql,
    parse_filters,
)
from instageo_e2e_geospatial_ml_spark.operators.cleaner import (
    clean_chip_table,
    dilate_labels,
    nodata_ratio,
)
from instageo_e2e_geospatial_ml_spark.operators.gridgen import grid_polygons
from instageo_e2e_geospatial_ml_spark.operators.splitter import (
    connected_components_haversine,
    kmeans_lloyd,
    split_by_strategy,
)


def test_nodata_ratio_strategies():
    # reference data_cleaner.py:117-140 semantics
    chip = np.array([[[0, 1], [2, 0]], [[0, 5], [6, 7]]])  # (2 bands, 2, 2)
    assert nodata_ratio(chip, 0, "any") == 0.5  # px(0,0) both-0, px(1,1) band0-0
    assert nodata_ratio(chip, 0, "all") == 0.25  # only px(0,0) is 0 in all bands


def test_dilate_labels():
    seg = np.full((5, 5), -1, dtype=np.int16)
    seg[2, 2] = 4
    out = dilate_labels(seg, 1)
    assert (out == 4).sum() == 9
    assert out[0, 0] == -1


def _chip_row(chip: np.ndarray, seg: np.ndarray) -> dict:
    return {
        "chip_id": "c1",
        "stac_items_str": "g",
        "tile_key": "t",
        "cx": 0,
        "cy": 0,
        "date_id": "20220101",
        "n_bands": chip.shape[0],
        "chip_size": chip.shape[1],
        "chip_fmt": "raw",
        "chip": codecs.encode(chip.astype(np.uint16), "raw"),
        "seg": seg.astype("<i2").tobytes(),
        "valid_px": int((chip != 0).sum()),
        "n_label_px": int((seg != -1).sum()),
    }


def test_clean_chip_table(spark):
    good = np.full((1, 4, 4), 7, dtype=np.uint16)
    bad = np.zeros((1, 4, 4), dtype=np.uint16)
    bad[0, 0, 0] = 3
    seg = np.full((4, 4), -1, dtype=np.int16)
    seg[1, 1] = 2
    df = spark.createDataFrame(pd.DataFrame([_chip_row(good, seg), _chip_row(bad, seg)]))
    out = clean_chip_table(df, max_nodata_ratio=0.5, buffer_window=1).toPandas()
    assert len(out) == 1  # the 15/16-nodata chip dropped
    assert out.iloc[0]["nodata_ratio"] == 0.0
    new_seg = np.frombuffer(out.iloc[0]["seg"], dtype="<i2").reshape(4, 4)
    assert (new_seg == 2).sum() == 9  # buffered by window 1


def test_kmeans_and_components():
    rng = np.random.default_rng(3)
    a = rng.normal((0, 0), 0.1, (20, 2))
    b = rng.normal((10, 10), 0.1, (20, 2))
    pts = np.vstack([a, b])
    labels = kmeans_lloyd(pts, 2)
    assert len(set(labels[:20])) == 1 and len(set(labels[20:])) == 1
    assert labels[0] != labels[20]
    # components: two tight clusters far apart → 2 components at 400 km
    lat = np.array([10.0, 10.1, 10.2, 50.0, 50.1])
    lon = np.array([10.0, 10.1, 10.2, 50.0, 50.1])
    comp = connected_components_haversine(lat, lon)
    assert len(set(comp[:3])) == 1 and len(set(comp[3:])) == 1
    assert comp[0] != comp[3]


@pytest.mark.parametrize("strategy", ["kmeans", "components", "tile", "year"])
def test_split_by_strategy(spark, strategy):
    obs = synth.gen_observations_pdf(n_extra_per_tile=20)
    out = split_by_strategy(
        spark.createDataFrame(obs), strategy=strategy, test_frac=0.2, val_frac=0.2
    ).toPandas()
    assert set(out["split"].unique()) <= {"train", "val", "test"}
    assert (out.groupby("mgrs_tile_id")["split"].nunique() == 1).all() or strategy == "year"


def test_filter_parser(spark):
    spec = "('label' ? '>' ? 0); ('year' ? 'in' ? [2021, 2022])"
    f = parse_filters(spec)
    assert f == [("label", ">", 0), ("year", "in", [2021, 2022])]
    pdf = pd.DataFrame({"label": [0, 1, 2], "year": [2021, 2022, 2023]})
    out = spark.createDataFrame(pdf).filter(filters_to_column(f)).toPandas()
    assert out["label"].tolist() == [1]
    assert "label > 0 AND year IN (2021, 2022)" == filters_to_sql(f)
    with pytest.raises(ValueError):
        parse_filters("('a' ? 'like' ? 3)")


def test_grid_polygons(spark):
    bb = spark.createDataFrame(
        pd.DataFrame({"id": [1], "minx": [0.0], "miny": [0.0], "maxx": [1.0], "maxy": [0.5]})
    )
    out = grid_polygons(bb, 0.25).toPandas()
    assert len(out) == 8  # 4 x cells × 2 y cells
    assert out["cell_maxx"].max() == 1.0


def test_spark_submit_entry(tmp_path):
    """North-rule check: the job launches via spark-submit --py-files."""
    import shutil

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zip_out = subprocess.run(
        [sys.executable, "scripts/make_pyfiles_zip.py", str(tmp_path / "pkg.zip")],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    launcher = tmp_path / "launch.py"
    launcher.write_text(
        "from instageo_e2e_geospatial_ml_spark.__main__ import main\n"
        "import sys\nsys.exit(main(sys.argv[1:]))\n"
    )
    r = subprocess.run(
        [
            spark_submit,
            "--master",
            "local[4]",
            "--py-files",
            zip_out,
            str(launcher),
            "--mode",
            "synth",
            "--out",
            str(tmp_path / "chips"),
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    last = [l for l in r.stdout.strip().splitlines() if l.startswith("{")][-1]
    import json

    payload = json.loads(last)
    assert payload["n_chips"] > 0


def test_mask_label_with_chip_r15():
    # reference model/dataloader.py:753-781: first band of each timestep
    # (stride 6) must be non-ndv in all timesteps
    from instageo_e2e_geospatial_ml_spark.operators.cleaner import mask_label_with_chip

    chip = np.ones((12, 2, 2), dtype=np.int32)  # 2 timesteps × 6 bands
    chip[0, 0, 0] = 0  # t0 first band ndv at px(0,0)
    chip[3, 1, 1] = 0  # non-first band — must NOT matter
    seg = np.array([[5, -1], [2, 7]], dtype=np.int16)
    label, all_nan = mask_label_with_chip(chip, seg)
    assert not all_nan
    assert np.isnan(label[0, 0])       # invalidated by t0 first band
    assert np.isnan(label[0, 1])       # was SEG_NDV
    assert label[1, 1] == 7            # band 3 ndv ignored
    # all-ndv first bands → all NaN
    chip2 = np.zeros((6, 2, 2), dtype=np.int32)
    _, all_nan2 = mask_label_with_chip(chip2, seg)
    assert all_nan2


def test_consumer_qa_filter(spark):
    from instageo_e2e_geospatial_ml_spark.operators.cleaner import consumer_qa_filter

    good = np.full((6, 4, 4), 7, dtype=np.uint16)
    bad = np.zeros((6, 4, 4), dtype=np.uint16)
    seg = np.full((4, 4), -1, dtype=np.int16)
    seg[1, 1] = 2
    df = spark.createDataFrame(pd.DataFrame([_chip_row(good, seg), _chip_row(bad, seg)]))
    out = consumer_qa_filter(df).toPandas()
    assert len(out) == 1


def test_limit_labels_to_observations_r14(spark):
    # R14 (reference data_cleaner.py:203-268): undo the stamped label
    # windows — keep labels only at the exact observation pixels. Since the
    # operator is a window_size=0 re-rasterization, the windowed chip must
    # have strictly more labeled pixels and the limited chip exactly as
    # many as the distinct observation pixels per chip.
    from instageo_e2e_geospatial_ml_spark.operators.cleaner import (
        limit_labels_to_observations,
    )
    from instageo_e2e_geospatial_ml_spark.operators.chips import extract_chips

    tiles = ["38PMB"]
    cat = synth.gen_granule_catalog_pdf(tiles=tiles, days=10, every=5)
    imgs = synth.gen_images_pdf(cat, w=128, h=128, fmt="raw")
    gid = cat.iloc[0]["granule_id"]
    obs = synth.gen_observations_pdf(n_extra_per_tile=10, tiles=tiles, spread=0.1)
    obs = obs[obs["mgrs_tile_id"] == "38PMB"]
    records = pd.DataFrame(
        {
            "stac_items_str": gid,
            "granules": [[gid]] * len(obs),
            "x": obs["x"].to_numpy(),
            "y": obs["y"].to_numpy(),
            "date": pd.Timestamp("2022-01-01"),
            "label": obs["label"].to_numpy(),
        }
    )
    kwargs = dict(
        chip_size=32,
        mask_types=(),
        band_order=("B02", "B03", "B04", "B8A", "B11", "B12"),
        n_salt=1,
    )
    r = spark.createDataFrame(records)
    im = spark.createDataFrame(imgs)
    windowed = extract_chips(r, im, window_size=2, **kwargs).toPandas()
    limited = limit_labels_to_observations(r, im, **kwargs).toPandas()
    assert len(limited) == len(windowed) > 0
    w = windowed.set_index("chip_id")["n_label_px"]
    l = limited.set_index("chip_id")["n_label_px"]
    assert set(w.index) == set(l.index)
    assert (l <= w).all() and (w > l).any()  # windows stamped more pixels
    # exactly the observation pixels survive: window 0 n_label_px equals
    # the independently-computed distinct pixel count is covered by the
    # window-sweep golden; here assert every limited chip keeps >= 1 label
    assert (l >= 1).all()
