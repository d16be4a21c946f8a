"""Spark tests for the relational core + spatial/as-of/kNN joins.

Golden values ported from the reference's tests (cited per test).
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark import synth
from instageo_e2e_geospatial_ml_spark.operators.asof import asof_pick, granule_sequence
from instageo_e2e_geospatial_ml_spark.operators.dates import (
    expand_temporal_steps,
    normalize_dates,
)
from instageo_e2e_geospatial_ml_spark.operators.density import assign_tiles, density_filter
from instageo_e2e_geospatial_ml_spark.operators.knn import knn_join
from instageo_e2e_geospatial_ml_spark.operators.spatial_join import (
    candidate_lists,
    pip_join,
)
from instageo_e2e_geospatial_ml_spark.operators.split import split_dataset
from instageo_e2e_geospatial_ml_spark.operators.tileinfo import tile_info
from instageo_e2e_geospatial_ml_spark.operators.validity import validity_filter


@pytest.fixture(scope="module")
def golden_obs(spark):
    pdf = pd.DataFrame(
        [{"x": x, "y": y, "date": pd.Timestamp(d)} for x, y, d, _ in synth.GOLDEN_POINTS]
    )
    return spark.createDataFrame(pdf)


def test_assign_tiles_goldens(golden_obs):
    # reference test_get_tiles, test_data_pipeline.py:87-100
    got = [r["mgrs_tile_id"] for r in assign_tiles(golden_obs).collect()]
    assert got == [g[3] for g in synth.GOLDEN_POINTS]


def test_density_filter(golden_obs):
    # min_count=3 keeps only the 4 points in 38PMB (reference get_tiles semantics)
    df = assign_tiles(golden_obs)
    for use_window in (False, True):
        out = density_filter(df, 3, use_window=use_window)
        rows = out.collect()
        assert len(rows) == 4
        assert all(r["mgrs_tile_id"] == "38PMB" for r in rows)
        assert all(r["counts"] == 4 for r in rows)


def test_tile_info_golden(golden_obs):
    # reference test_get_tile_info (test_data_pipeline.py:125-160, FIXTURES.md):
    # 38PMB subset, num_steps=3, temporal_step=5, tolerance=5
    df = assign_tiles(golden_obs)
    df = density_filter(df, 3, keep_counts=False)
    info = tile_info(df).collect()
    assert len(info) == 1
    r = info[0]
    assert r["tile_id"] == "38PMB"
    assert r["min_date"] == "2022-05-24T00:00:00"
    assert r["max_date"] == "2022-06-14T23:59:59"
    assert r["lon_min"] == pytest.approx(44.451435)
    assert r["lon_max"] == pytest.approx(44.744167)
    assert r["lat_min"] == pytest.approx(15.099767)
    assert r["lat_max"] == pytest.approx(15.287778)


def test_normalize_dates_monthbegin_quirk(spark):
    # pandas `- MonthBegin(1)`: 2022-06-15 → 2022-06-01 but 2022-06-01 → 2022-05-01
    pdf = pd.DataFrame({"date": [pd.Timestamp("2022-06-15"), pd.Timestamp("2022-06-01")]})
    out = normalize_dates(
        spark.createDataFrame(pdf), shift_to_month_start=True
    ).collect()
    assert out[0]["date"] == dt.datetime(2022, 6, 1)
    assert out[1]["date"] == dt.datetime(2022, 5, 1)


def test_expand_temporal_steps(spark):
    pdf = pd.DataFrame({"obs_id": [1], "date": [pd.Timestamp("2022-06-08")]})
    out = (
        expand_temporal_steps(spark.createDataFrame(pdf), num_steps=3, temporal_step=5)
        .orderBy("step")
        .collect()
    )
    assert [r["query_date"] for r in out] == [
        dt.datetime(2022, 6, 8),
        dt.datetime(2022, 6, 3),
        dt.datetime(2022, 5, 29),
    ]


def point_in_polygon(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Vectorized ray-casting: points (px,py) inside polygon (xs,ys).

    Standard even-odd rule, half-open edges (matches shapely 'within' for
    interior points; boundary points are implementation-defined in the
    reference too). The numpy oracle of pip_join's exact refine.
    """
    inside = np.zeros(px.shape[0], dtype=bool)
    n = len(xs)
    if n == 0:
        return inside
    x1, y1 = xs[n - 1], ys[n - 1]
    for i in range(n):
        x2, y2 = xs[i], ys[i]
        if y1 != y2:
            cross = ((y1 > py) != (y2 > py)) & (
                px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
            )
            inside ^= cross
        x1, y1 = x2, y2
    return inside


def test_point_in_polygon_numpy():
    # concave quad with a notch: bbox contains (0.9, 0.9) but polygon doesn't
    xs = np.array([0.5, 1.0, 1.0, 0.0, 0.0])
    ys = np.array([0.5, 1.0, 0.0, 0.0, 1.0])
    px = np.array([0.7, 0.5, 0.1, 1.5])  # (0.7,0.9) is inside the cut notch
    py = np.array([0.9, 0.25, 0.5, 0.5])
    got = point_in_polygon(px, py, xs, ys)
    assert got.tolist() == [False, True, True, False]


def test_pip_join_and_candidates(spark, golden_obs):
    # candidate dispatch semantics (reference test_stac_utils.py:293-349):
    # each obs matches exactly the granules of its own tile footprint;
    # an obs outside every footprint gets an empty candidate list.
    cat = synth.gen_granule_catalog_pdf(days=10, every=5, notch=False)
    catalog = spark.createDataFrame(cat)
    obs = assign_tiles(golden_obs).withColumn("obs_id", F.monotonically_increasing_id())
    # add one ocean point that matches nothing
    extra = obs.limit(1).withColumn("x", F.lit(-150.0)).withColumn("y", F.lit(-45.0)).withColumn(
        "obs_id", F.lit(999)
    ).withColumn("mgrs_tile_id", F.lit("06GUR"))
    obs = obs.union(extra)
    matches = pip_join(obs, catalog)
    got = (
        matches.join(obs.select("obs_id", "mgrs_tile_id"), "obs_id")
        .withColumn("gr_tile", F.regexp_extract("granule_id", r"T(\w{5})\.", 1))
        .collect()
    )
    assert len(got) > 0
    for r in got:
        assert r["gr_tile"] == r["mgrs_tile_id"]  # only own-tile footprints match
    per_obs = {r["obs_id"]: r["candidate_items"] for r in candidate_lists(matches, obs).collect()}
    assert per_obs[999] == []  # reindex-fill: no match → empty array
    n_granules_per_tile = 2  # days=10, every=5
    for oid, items in per_obs.items():
        if oid != 999:
            assert len(items) == n_granules_per_tile
            assert items == sorted(items)


def test_asof_pick_tolerance_and_tiebreak(spark):
    # reference find_closest_items semantics (test_stac_utils.py:429-489):
    # tolerance=0 days picks only exact-timestamp items; min cloud wins; no
    # candidate within tolerance → null.
    granules = spark.createDataFrame(
        pd.DataFrame(
            {
                "granule_id": ["g1", "g2", "g3"],
                "ts": pd.to_datetime(["2022-06-08", "2022-06-08", "2022-06-20"]),
                "cloud_cover": [50.0, 10.0, 0.0],
            }
        )
    )
    steps = spark.createDataFrame(
        pd.DataFrame(
            {
                "obs_id": [1, 1],
                "step": [0, 1],
                "query_date": pd.to_datetime(["2022-06-08", "2022-06-03"]),
            }
        )
    )
    candidates = spark.createDataFrame(
        pd.DataFrame({"obs_id": [1, 1, 1], "granule_id": ["g1", "g2", "g3"]})
    )
    out = asof_pick(steps, candidates, granules, tolerance_days=0).orderBy("step").collect()
    assert out[0]["picked_granule"] == "g2"  # exact date, min cloud_cover
    assert out[1]["picked_granule"] is None  # nothing within 0 days of 06-03
    # tolerance=5: step 1 now reaches 06-08 granules
    out5 = asof_pick(steps, candidates, granules, tolerance_days=5).orderBy("step").collect()
    assert out5[1]["picked_granule"] == "g2"


def test_granule_sequence_and_validity(spark):
    picked = spark.createDataFrame(
        pd.DataFrame(
            {
                "obs_id": [1, 1, 2, 2],
                "step": [0, 1, 0, 1],
                "picked_granule": ["a", "b", "a", None],
            }
        )
    )
    seq = granule_sequence(picked)
    rows = {r["obs_id"]: r for r in seq.collect()}
    assert rows[1]["granules"] == ["a", "b"]
    assert rows[1]["stac_items_str"] == "a_b"
    # validity: obs 2 has a null step → dropped; also duplicate check
    valid = validity_filter(seq, num_steps=2).collect()
    assert [r["obs_id"] for r in valid] == [1]
    dup = spark.createDataFrame(pd.DataFrame({"obs_id": [3], "granules": [["a", "a"]]}))
    assert validity_filter(dup).count() == 0


def test_knn_join_exact_vs_bruteforce(spark):
    rng = np.random.default_rng(1)
    pts = pd.DataFrame(
        {"pid": range(500), "x": rng.uniform(0, 10, 500), "y": rng.uniform(0, 10, 500)}
    )
    qs = pd.DataFrame(
        {"qid": range(20), "qx": rng.uniform(1, 9, 20), "qy": rng.uniform(1, 9, 20)}
    )
    radius = 1.0
    k = 5
    out = knn_join(
        spark.createDataFrame(qs), spark.createDataFrame(pts), k, radius
    ).toPandas()
    # brute-force oracle
    for _, q in qs.iterrows():
        d2 = (pts["x"] - q["qx"]) ** 2 + (pts["y"] - q["qy"]) ** 2
        cand = pts.assign(dist=d2)[d2 <= radius * radius].sort_values(
            ["dist", "pid"]
        ).head(k)
        got = out[out["qid"] == q["qid"]].sort_values("rank")
        assert got["pid"].tolist() == cand["pid"].tolist(), q["qid"]


def test_pip_join_boundary_parity_with_numpy(spark):
    # points on vertices, on horizontal, vertical, sloped and closing
    # edges and on duplicated vertices: pip_join's pairs equal the numpy
    # ray cast's bit for bit, for open and closed rings, a notched concave
    # ring, an empty ring and a null ring (these two match nothing)
    sq_x, sq_y = [0.0, 2.0, 2.0, 0.0], [0.0, 0.0, 2.0, 2.0]
    notch_x = [0.0, 4.0, 4.0, 2.0, 2.0, 0.0]  # notch vertex (2, 2) duplicated
    notch_y = [0.0, 0.0, 4.0, 2.0, 2.0, 4.0]
    tri_x, tri_y = [0.0, 3.0, 1.0], [0.0, 1.0, 3.0]  # closing edge (1,3)->(0,0)
    rings = {
        "sq_open": (sq_x, sq_y),
        "sq_closed": (sq_x + sq_x[:1], sq_y + sq_y[:1]),
        "notch_open": (notch_x, notch_y),
        "notch_closed": (notch_x + notch_x[:1], notch_y + notch_y[:1]),
        "tri_open": (tri_x, tri_y),
        "tri_closed": (tri_x + tri_x[:1], tri_y + tri_y[:1]),
        "empty": ([], []),
        "null": (None, None),
    }
    cat_pdf = pd.DataFrame(
        [
            {
                "granule_id": g, "fp_xs": xs, "fp_ys": ys,
                "fp_minx": min(xs or [0.0]), "fp_maxx": max(xs or [4.0]),
                "fp_miny": min(ys or [0.0]), "fp_maxy": max(ys or [4.0]),
            }
            for g, (xs, ys) in rings.items()
        ]
    )
    pts = [
        (0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (4.0, 4.0), (0.0, 4.0),
        (4.0, 0.0), (3.0, 1.0), (1.0, 3.0),  # vertices
        (1.0, 0.0), (3.0, 0.0), (1.0, 2.0), (0.5, 2.0),  # horizontal edges
        (2.0, 1.0), (0.0, 1.0), (4.0, 2.0), (0.0, 3.0),  # vertical edges
        (3.0, 3.0), (1.0, 3.0 + 1e-12), (2.0, 2.0 - 1e-12),  # notch edges
        (1.5, 0.5), (0.5, 1.5), (2.0, 2.0 / 3.0), (2.0, 1.5),  # sloped + closing
        (1.0, 1.0), (3.0, 2.5), (1.0, 2.5), (2.0, 3.0), (5.0, 1.0), (-1.0, 1.0),
    ]
    obs_pdf = pd.DataFrame(
        {"obs_id": range(len(pts)), "x": [p[0] for p in pts], "y": [p[1] for p in pts]}
    )
    catalog = spark.createDataFrame(
        cat_pdf,
        "granule_id string, fp_xs array<double>, fp_ys array<double>, "
        "fp_minx double, fp_maxx double, fp_miny double, fp_maxy double",
    )
    got = {
        (r["obs_id"], r["granule_id"])
        for r in pip_join(spark.createDataFrame(obs_pdf), catalog).collect()
    }
    want = _numpy_pip_pairs(obs_pdf, cat_pdf[cat_pdf["fp_xs"].notna()])
    assert want and not {g for _, g in want} & {"empty", "null"}
    assert got == want


def test_pip_join_builds_without_a_job(spark, tmp_path):
    # building the join plans it and nothing more: no probe job runs
    # until the caller consumes the frame (a file-backed catalog, since
    # the optimizer folds filters over a local relation without a job)
    path = str(tmp_path / "catalog")
    spark.createDataFrame(
        synth.gen_granule_catalog_pdf(days=10, every=5, notch=True)
    ).write.parquet(path)
    catalog = spark.read.parquet(path)
    obs = spark.createDataFrame(pd.DataFrame({"obs_id": [1], "x": [44.6], "y": [15.1]}))
    sc = spark.sparkContext
    group = "pip-join-build"
    sc.setJobGroup(group, "build pip_join")
    try:
        out = pip_join(obs, catalog)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert {r["obs_id"] for r in out.collect()} == {1}


def test_split_dataset_fractions(spark):
    obs = synth.gen_observations_pdf(n_extra_per_tile=50)
    df = spark.createDataFrame(obs)
    out = split_dataset(df, test_frac=0.2, val_frac=0.2).toPandas()
    frac = out.groupby("split").size() / len(out)
    assert 0.05 < frac.get("test", 0) < 0.45
    assert 0.05 < frac.get("val", 0) < 0.45
    assert frac.get("train", 0) > 0.3
    # geographic coherence: each tile maps to exactly one split
    assert (out.groupby("mgrs_tile_id")["split"].nunique() == 1).all()


def _numpy_pip_pairs(obs_pdf, cat_pdf):
    """(obs_id, granule_id) for every pair whose point the numpy ray cast
    puts inside the footprint ring: the reference the PIP tests compare
    pip_join against."""
    px = obs_pdf["x"].to_numpy(np.float64)
    py = obs_pdf["y"].to_numpy(np.float64)
    ids = obs_pdf["obs_id"].to_numpy()
    pairs = set()
    for g in cat_pdf.itertuples():
        inside = point_in_polygon(
            px, py, np.asarray(g.fp_xs, np.float64), np.asarray(g.fp_ys, np.float64)
        )
        pairs |= {(int(o), g.granule_id) for o in ids[inside]}
    return pairs


def test_convex_sql_matches_raycast(spark):
    # pip_join's JVM ray cast must agree with the numpy ray cast on convex
    # quads (the real-world footprint shape), as open rings and as closed
    # rings ([v1..v4,v1]), and for points outside the hull
    rng = np.random.default_rng(7)
    polys = []
    for g in range(40):
        cx, cy = rng.uniform(-160, 160), rng.uniform(-60, 60)
        r = rng.uniform(0.3, 1.2)
        xs = [cx + r, cx, cx - r, cx]
        ys = [cy, cy + r, cy, cy - r]
        if g % 2 == 0:  # half the footprints as closed rings
            xs, ys = xs + [xs[0]], ys + [ys[0]]
        polys.append(
            {
                "granule_id": f"g{g}", "fp_minx": cx - r, "fp_miny": cy - r,
                "fp_maxx": cx + r, "fp_maxy": cy + r, "fp_xs": xs, "fp_ys": ys,
                "_cx": cx, "_cy": cy, "_r": r,
            }
        )
    cat_pdf = pd.DataFrame(polys)
    pts = []
    for i in range(800):
        p = cat_pdf.iloc[i % len(cat_pdf)]
        pts.append(
            {
                "obs_id": i,
                "x": p["_cx"] + rng.uniform(-1.5, 1.5) * p["_r"],
                "y": p["_cy"] + rng.uniform(-1.5, 1.5) * p["_r"],
            }
        )
    catalog = spark.createDataFrame(cat_pdf.drop(columns=["_cx", "_cy", "_r"]))
    obs = spark.createDataFrame(pd.DataFrame(pts))
    sql_pairs = {
        (r["obs_id"], r["granule_id"]) for r in pip_join(obs, catalog).collect()
    }
    assert len(sql_pairs) > 50  # non-trivial hit set
    assert sql_pairs == _numpy_pip_pairs(pd.DataFrame(pts), cat_pdf)


def test_auto_pip_plan_is_jvm_only_for_convex_quads(spark):
    # real-world footprints are 5-point convex rings: the refine must not
    # cross the Python boundary (no ArrowEvalPython / BatchEvalPython
    # node in the plan)
    catalog = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "granule_id": "g0", "fp_minx": 44.0, "fp_miny": 14.0,
                    "fp_maxx": 45.0, "fp_maxy": 15.0,
                    "fp_xs": [44.0, 45.0, 45.0, 44.0, 44.0],
                    "fp_ys": [14.0, 14.0, 15.0, 15.0, 14.0],
                }
            ]
        )
    )
    obs = spark.createDataFrame(
        pd.DataFrame({"obs_id": [1], "x": [44.6], "y": [14.1]})
    )
    out = pip_join(obs, catalog)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert {r["obs_id"] for r in out.collect()} == {1}


def test_auto_pip_mixed_catalog_matches_raycast(spark):
    # notched (concave) synth footprints refine in the JVM too, and agree
    # with the numpy ray cast over every pair
    cat = synth.gen_granule_catalog_pdf(days=10, every=5, notch=True)
    catalog = spark.createDataFrame(cat)
    rng = np.random.default_rng(3)
    base = cat.iloc[0]
    pts = pd.DataFrame(
        {
            "obs_id": range(200),
            "x": rng.uniform(base["fp_minx"] - 0.2, base["fp_maxx"] + 0.2, 200),
            "y": rng.uniform(base["fp_miny"] - 0.2, base["fp_maxy"] + 0.2, 200),
        }
    )
    obs = spark.createDataFrame(pts)
    plan = pip_join(obs, catalog)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # concave footprints stay in the JVM
    auto_pairs = {
        (r["obs_id"], r["granule_id"]) for r in pip_join(obs, catalog).collect()
    }
    assert auto_pairs == _numpy_pip_pairs(pts, cat)
    assert len(auto_pairs) > 0


def test_asof_null_cloud_cover_loses(spark):
    # reference: item.properties.get('eo:cloud_cover', 100) — a granule
    # with MISSING cloud cover must rank as worst (100), not best
    granules = spark.createDataFrame(
        pd.DataFrame(
            {
                "granule_id": ["g_null", "g_50"],
                "ts": pd.to_datetime(["2022-06-08", "2022-06-08"]),
                "cloud_cover": [None, 50.0],
            }
        )
    )
    steps = spark.createDataFrame(
        pd.DataFrame(
            {"obs_id": [1], "step": [0], "query_date": pd.to_datetime(["2022-06-08"])}
        )
    )
    cand = spark.createDataFrame(
        pd.DataFrame({"obs_id": [1, 1], "granule_id": ["g_null", "g_50"]})
    )
    picked = asof_pick(steps, cand, granules, tolerance_days=1).collect()
    assert picked[0]["picked_granule"] == "g_50"


def test_grid_chips_udtf_matches_grid_polygons(spark):
    # the SQL table-function surface must emit exactly the JVM
    # sequence-explode operator's rows
    import pandas as pd
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.functions.udtfs import register_udtfs
    from instageo_e2e_geospatial_ml_spark.operators.gridgen import grid_polygons

    register_udtfs(spark)
    bboxes = spark.createDataFrame(
        pd.DataFrame(
            {
                "bbox_id": [1, 2, 3],
                "minx": [10.0, 179.4, -1.0],
                "miny": [40.0, 89.4, -0.5],
                "maxx": [11.2, 180.0, -1.0],  # bbox 3 is degenerate
                "maxy": [41.0, 90.0, -0.5],
            }
        )
    )
    bboxes.createOrReplaceTempView("udtf_bboxes")
    got = spark.sql(
        "SELECT * FROM grid_chips(TABLE(udtf_bboxes), 0.5)"
    ).toPandas()
    want = (
        grid_polygons(bboxes, 0.5)
        .select(
            "bbox_id", "ix", "iy",
            "cell_minx", "cell_miny", "cell_maxx", "cell_maxy",
        )
        .toPandas()
    )
    key = ["bbox_id", "ix", "iy"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 0
    for c in ["cell_minx", "cell_miny", "cell_maxx", "cell_maxy"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


def test_distance_join_matches_brute_force(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.operators.knn import distance_join

    rng = __import__("numpy").random.default_rng(7)
    q = spark.createDataFrame(
        pd.DataFrame(
            {"qid": range(60), "qx": rng.uniform(-20, 20, 60), "qy": rng.uniform(-10, 10, 60)}
        )
    )
    p = spark.createDataFrame(
        pd.DataFrame(
            {"pid": range(300), "x": rng.uniform(-20, 20, 300), "y": rng.uniform(-10, 10, 300)}
        )
    )
    r = 1.7
    got = set(
        map(tuple, distance_join(q, p, r).select("qid", "pid").collect())
    )
    want = set(
        map(
            tuple,
            q.crossJoin(p)
            .filter(
                (F.col("qx") - F.col("x")) ** 2 + (F.col("qy") - F.col("y")) ** 2
                <= r * r
            )
            .select("qid", "pid")
            .collect(),
        )
    )
    assert got == want and len(want) > 0


def test_interval_join_matches_theta_join(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.operators.ranges import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": range(500),
                "ts": pd.date_range("2024-01-01", periods=500, freq="17min"),
            }
        )
    )
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "window_id": range(10),
                "start": pd.date_range("2024-01-01 01:00", periods=10, freq="11h"),
            }
        )
    ).withColumn("end", F.col("start") + F.expr("INTERVAL 3 HOURS"))

    got = sorted(
        map(
            tuple,
            interval_join(ev, iv, bucket_minutes=45)
            .select("window_id", "event_id")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            ev.crossJoin(iv)
            .filter((F.col("start") <= F.col("ts")) & (F.col("ts") < F.col("end")))
            .select("window_id", "event_id")
            .collect(),
        )
    )
    assert got == want and len(want) > 0
    # skew routing: an interval wider than the cap is NOT exploded bucket-
    # wise, but its matches are still all present (broadcast theta branch)
    huge = spark.createDataFrame(
        pd.DataFrame({"window_id": [99], "start": pd.to_datetime(["2020-01-01"])})
    ).withColumn("end", F.col("start") + F.expr("INTERVAL 3650 DAYS"))
    n_ev = ev.count()
    assert (
        interval_join(ev, huge, bucket_minutes=45, max_buckets_per_interval=100).count()
        == n_ev  # the decade-wide interval contains every 2024 event
    )
    # mixed width: every matching pair appears exactly once across branches
    mixed = iv.unionByName(huge)
    got_m = sorted(
        map(
            tuple,
            interval_join(ev, mixed, bucket_minutes=45, max_buckets_per_interval=100)
            .select("window_id", "event_id")
            .collect(),
        )
    )
    want_m = sorted(
        map(
            tuple,
            ev.crossJoin(mixed)
            .filter((F.col("start") <= F.col("ts")) & (F.col("ts") < F.col("end")))
            .select("window_id", "event_id")
            .collect(),
        )
    )
    assert got_m == want_m


def test_salted_join_row_identical_and_spread(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.operators.skew import salted_join

    # one pathological hot key (90% of facts) + a long tail
    n = 5000
    fact = spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("cell"),
        (F.col("id") * 3).alias("payload"),
    )
    dim = spark.createDataFrame(
        pd.DataFrame({"cell": list(range(100)), "tile": [f"t{i}" for i in range(100)]})
    )
    got = salted_join(fact, dim, "cell", salt_by="row_id").toPandas()
    want = fact.join(dim, "cell").toPandas()
    key = ["row_id"]
    got = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    want = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(got, want)

    # the hot key's rows really spread over multiple salt values
    from instageo_e2e_geospatial_ml_spark.operators.skew import F as _F  # noqa: F401
    salted = fact.withColumn("_salt", F.pmod(F.xxhash64("row_id"), F.lit(8)))
    spread = salted.filter(F.col("cell") == 7).select("_salt").distinct().count()
    assert spread == 8


def test_write_clustered_files_prune_by_range(spark, tmp_path):
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.operators.skew import write_clustered

    df = spark.range(100_000).select(
        F.col("id"), F.pmod(F.xxhash64("id"), F.lit(10_000)).alias("cell")
    )
    out = str(tmp_path / "clustered")
    write_clustered(df, out, "cell", num_files=8)

    # per-file min/max ranges must be (nearly) disjoint — that's what lets
    # parquet row-group stats prune a cell-range scan to ~1 file
    got = (
        spark.read.parquet(out)
        .select("cell", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("cell").alias("lo"), F.max("cell").alias("hi"))
        .toPandas()
        .sort_values("lo")
        .reset_index(drop=True)
    )
    assert len(got) >= 6
    for i in range(1, len(got)):
        assert got.loc[i, "lo"] >= got.loc[i - 1, "hi"]  # ranges don't interleave
    # and a narrow range predicate actually reads a small file subset
    narrow = (
        spark.read.parquet(out)
        .filter((F.col("cell") >= 100) & (F.col("cell") < 200))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    assert narrow <= 2


def test_hamming_neardup_pairs_hash_column(spark):
    """hamming_neardup_pairs over a raw int64 hash column (the north-star
    phash table shape) vs the brute-force O(n²) pair scan."""
    import itertools

    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.sources.images import hamming_neardup_pairs

    rng = [(f"im{i}", (i * 0x9E3779B97F4A7C15) % (1 << 60)) for i in range(64)]
    rng += [("im7b", rng[7][1] ^ 0b101), ("im13b", rng[13][1] ^ (1 << 59))]
    ph = spark.createDataFrame(pd.DataFrame(rng, columns=["image_id", "phash"]))
    got = sorted(
        map(tuple, hamming_neardup_pairs(ph, max_hamming=4).collect())
    )
    want = sorted(
        (a, b, bin(ha ^ hb).count("1"))
        for (a, ha), (b, hb) in itertools.combinations(rng, 2)
        if bin(ha ^ hb).count("1") <= 4
        for a, b in [(min(a, b), max(a, b))]
    )
    assert got == want and len(want) >= 2


def test_substring_duplicate_spans_vs_bruteforce(spark):
    """ExactSubstr spans vs a quadratic DP oracle: every maximal common
    token run of >= k tokens (cross-doc and within-doc) is reported with
    exact 1-based positions and length."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import (
        substring_duplicate_spans,
    )

    shared = "the quick brown fox jumps over the lazy dog while seven wizards brew strong potions quietly"
    docs = {
        1: "intro words here " + shared + " closing remark",
        2: shared + " entirely different ending material follows now",
        3: "totally unrelated content with no overlap at all whatsoever present",
        4: "alpha beta gamma delta epsilon zeta eta theta repeat alpha beta gamma delta epsilon zeta eta theta done",
        5: "tiny doc",
    }
    k = 8
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": [docs[i] for i in docs]}
    )
    got = sorted(
        map(
            tuple,
            substring_duplicate_spans(
                spark.createDataFrame(pdf), k=k
            ).collect(),
        )
    )

    toks = {i: t.split() for i, t in docs.items()}
    want = []
    for a in sorted(docs):
        for b in sorted(docs):
            if b < a:
                continue
            ta, tb = toks[a], toks[b]
            # DP: run length ending at (i, j)
            run = [[0] * (len(tb) + 1) for _ in range(len(ta) + 1)]
            for i in range(1, len(ta) + 1):
                for j in range(1, len(tb) + 1):
                    if ta[i - 1] == tb[j - 1]:
                        run[i][j] = run[i - 1][j - 1] + 1
            for i in range(1, len(ta) + 1):
                for j in range(1, len(tb) + 1):
                    ln = run[i][j]
                    if ln < k:
                        continue
                    # maximal: not extendable to the right
                    if i < len(ta) and j < len(tb) and ta[i] == tb[j]:
                        continue
                    a_start, b_start = i - ln + 1, j - ln + 1
                    if a == b and not a_start < b_start:
                        continue
                    want.append((a, b, a_start, b_start, ln))
    assert got == sorted(want) and len(want) >= 2


def test_interval_join_overcap_broadcast_guard(spark):
    """When ALL intervals are over-cap (mis-set bucket_minutes), the
    broadcast branch refuses with a descriptive error instead of
    broadcasting the whole interval table; coarsening bucket_minutes (the
    error's advice) makes the same call succeed."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.operators.ranges import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame(
            {"event_id": range(20), "ts": pd.date_range("2024-03-01", periods=20, freq="h")}
        )
    )
    # week-long intervals vs 1-minute buckets: every interval spans ~10k
    # buckets, far over a 100-bucket cap
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "window_id": range(5),
                "start": pd.date_range("2024-02-28", periods=5, freq="D"),
            }
        )
    ).withColumn("end", F.col("start") + F.expr("INTERVAL 7 DAYS"))
    with pytest.raises(ValueError, match="Coarsen bucket_minutes"):
        interval_join(
            ev, iv, bucket_minutes=1, max_buckets_per_interval=100,
            max_broadcast_intervals=3,
        )
    # the advice works: day-scale buckets route everything bucketed
    n = interval_join(ev, iv, bucket_minutes=24 * 60).count()
    want = (
        ev.crossJoin(iv)
        .filter((F.col("start") <= F.col("ts")) & (F.col("ts") < F.col("end")))
        .count()
    )
    assert n == want > 0


def test_dedup_lines_c4_first_occurrence(spark):
    """C4 line-level corpus dedup: a line shared across documents keeps
    only its first (doc_id, line_idx) occurrence; within-doc repeats are
    flagged too; short tails form their own (ragged) lines."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import dedup_lines

    w10 = " ".join(f"w{i}" for i in range(10))        # one full line
    boiler = " ".join(f"b{i}" for i in range(10))     # the shared line
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {w10}"),                   # boiler first here
            (2, f"{w10} {boiler}"),                   # both lines dups
            (3, f"{boiler} {boiler} tail words"),     # in-doc repeat + tail
        ],
        "doc_id long, text string",
    )
    out = dedup_lines(docs).collect()
    by = {(r["doc_id"], r["line_idx"]): r for r in out}
    assert len(out) == 2 + 2 + 3
    assert by[(1, 0)]["keep"] and by[(1, 0)]["line"] == boiler
    assert by[(1, 1)]["keep"] and by[(1, 1)]["line"] == w10
    assert not by[(2, 0)]["keep"]   # w10 already seen at (1, 1)
    assert not by[(2, 1)]["keep"]   # boiler already seen at (1, 0)
    assert not by[(3, 0)]["keep"] and not by[(3, 1)]["keep"]
    assert by[(3, 2)]["keep"] and by[(3, 2)]["line"] == "tail words"
    # plan: JVM-only up to the window (no Python eval in the plan)
    plan = dedup_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_apply_line_dedup_reconstruction(spark):
    """C4 cleaner output: docs rebuilt from kept lines in order; a doc
    made entirely of seen lines comes back empty with full drop count."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import apply_line_dedup

    w10 = " ".join(f"w{i}" for i in range(10))
    boiler = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {w10} unique tail"),
            (2, f"{w10} {boiler}"),                # both lines already seen
            (3, f"{boiler} fresh line here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in apply_line_dedup(docs).collect()}
    assert out[1]["clean_text"] == f"{boiler} {w10} unique tail"
    assert out[1]["n_lines_kept"] == 3 and out[1]["n_lines_dropped"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_lines_kept"] == 0
    assert out[2]["n_lines_dropped"] == 2
    assert out[3]["clean_text"] == "fresh line here"
    assert out[3]["n_lines_kept"] == 1 and out[3]["n_lines_dropped"] == 1


def test_inverted_index_postings(spark):
    """Inverted index: df/total_tf per term, posting digest equals the
    md5 of 'doc:tf' pairs sorted by doc id; hapax (df < min_df) pruned."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.functions.retrieval import inverted_index

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple  cherry cherry"),  # double space: split on \s+
        ],
        "doc_id long, text string",
    )
    out = {r["term"]: r for r in inverted_index(docs).collect()}
    assert set(out) == {"apple", "banana", "cherry"}  # no hapax here
    a = out["apple"]
    assert a["df"] == 2 and a["total_tf"] == 3
    assert a["postings_md5"] == hashlib.md5(b"1:2 3:1").hexdigest()
    c = out["cherry"]
    assert c["df"] == 2 and c["total_tf"] == 3
    assert c["postings_md5"] == hashlib.md5(b"2:1 3:2").hexdigest()
    # min_df prunes: a term in one doc only
    docs2 = spark.createDataFrame(
        [(1, "solo apple"), (2, "apple")], "doc_id long, text string"
    )
    out2 = {r["term"] for r in inverted_index(docs2).collect()}
    assert out2 == {"apple"}


def test_skipgram_counts_window(spark):
    """Skip-grams: (center, context) pairs within ±window positions,
    counted across docs, min_count pruned; pairs never cross documents."""
    from instageo_e2e_geospatial_ml_spark.functions.retrieval import skipgram_counts

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b d"),
            (3, "x y"),
        ],
        "doc_id long, text string",
    )
    out = {(r["center"], r["context"]): r["n"]
           for r in skipgram_counts(docs, window=1, min_count=2).collect()}
    # (a,b) and (b,a) occur in docs 1 and 2 → n=2; everything else is 1
    assert out == {("a", "b"): 2, ("b", "a"): 2}
    # window=2 brings (a,c)/(c,a) etc., still min_count=1 to see them
    out2 = {(r["center"], r["context"]): r["n"]
            for r in skipgram_counts(docs, window=2, min_count=1).collect()}
    assert out2[("a", "c")] == 1 and out2[("c", "a")] == 1
    assert ("x", "a") not in out2 and ("y", "c") not in out2  # no cross-doc
    assert out2[("x", "y")] == 1


def test_semdedup_clusters_and_drops(spark):
    """SemDeDup on two designed clusters: md5-order seeding picks ids 4
    and 1 (one per group), Lloyd separates the groups, and within each
    cluster the higher-id near-duplicate (cos >= t) is dropped while the
    dissimilar member survives."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import semdedup

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.02]),   # ~cos 0.9996 with v1 -> dropped
            (3, [0.6, -0.8]),     # cos 0.6 with v1 -> kept
            (4, [0.0, 1.0]),
            (5, [0.02, 0.999]),   # ~cos 0.999 with v4 -> dropped
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in
           semdedup(vecs, k=2, n_iters=2, threshold=0.95).collect()}
    assert len(out) == 5
    assert {out[i]["cid"] for i in (1, 2, 3)} != {out[4]["cid"]}
    assert out[1]["cid"] == out[2]["cid"] == out[3]["cid"]
    assert out[4]["cid"] == out[5]["cid"]
    assert [out[i]["keep"] for i in (1, 2, 3, 4, 5)] == [
        True, False, True, True, False
    ]
    # plan: no Python eval anywhere (pure built-in column ops)
    plan = semdedup(vecs, k=2, n_iters=1)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hashed_quality_score_md5_weights(spark):
    """Quality classifier: each lowercased token hashes to bucket
    md5('qlr:' + tok)[:8] % 1024 with weight md5('w:qlr:' + bucket)[:8]
    % 2001 - 1000; the score is the exact weight sum and keep is
    score + bias >= 0. Checked against hashlib, twice (deterministic)."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.functions.text import hashed_quality_score

    docs = spark.createDataFrame(
        [(1, "good good prose"), (2, "Spam spam SPAM spam"), (3, "  mixed   Case text ")],
        "doc_id long, text string",
    )

    def h8(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def score(text):
        buckets = [h8(f"qlr:{t}") % 1024 for t in text.strip().lower().split()]
        return sum(h8(f"w:qlr:{b}") % 2001 - 1000 for b in buckets)

    want = {d: score(t) for d, t in docs.collect()}
    for bias in (0, 5000):
        got = {
            r["doc_id"]: (r["score"], r["keep"])
            for r in hashed_quality_score(docs, bias=bias).collect()
        }
        assert got == {d: (s, s + bias >= 0) for d, s in want.items()}

def test_heavy_hitter_tokens_share_gate(spark):
    """Heavy hitters: integer cross-multiplied share gate (cnt*k >= total),
    exact counts."""
    from instageo_e2e_geospatial_ml_spark.functions.text import heavy_hitter_tokens

    # 10 tokens total: "a" x5, "b" x3, c/d 1 each. k=4 -> need cnt*4 >= 10
    docs = spark.createDataFrame(
        [(1, "a a a b b"), (2, "a a b c d")], "doc_id long, text string"
    )
    out = {r["tok"]: r["cnt"] for r in heavy_hitter_tokens(docs, k=4).collect()}
    assert out == {"a": 5, "b": 3}


def test_bloom_decontaminate_membership(spark):
    """Bloom screen: build-set members always flagged (no false
    negatives), unique probes pass clean at the default filter size,
    and the probe plan is JVM-only (broadcast bit test, no join)."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import bloom_decontaminate

    build = spark.createDataFrame(
        [(i, f"benchmark document {i}") for i in range(20)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(100 + i, f"benchmark document {i}") for i in range(5)]   # contaminated
        + [(200 + i, f"fresh unique text {i}") for i in range(5)],  # clean
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["maybe_in_benchmark"]
           for r in bloom_decontaminate(probe, build).collect()}
    assert all(out[100 + i] for i in range(5))          # no false negatives
    assert not any(out[200 + i] for i in range(5))      # 2^16 bits, 60 set: FP ~1e-9
    plan = (
        bloom_decontaminate(probe, build)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan   # probe side joins nothing — pure scan + literal


def test_morton_key_numpy_parity(spark):
    """morton_key (JVM bit ops) vs an independent numpy bit-interleave."""
    import numpy as np
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.functions.zorder import morton_key

    rng = np.random.default_rng(3)
    xs = rng.integers(0, 65536, 200)
    ys = rng.integers(0, 65536, 200)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], "x long, y long"
    )
    got = [r.morton for r in df.select(morton_key("x", "y")).collect()]

    def interleave(v):
        return sum(((int(v) >> i) & 1) << (2 * i) for i in range(16))

    want = [interleave(a) | (interleave(b) << 1) for a, b in zip(xs, ys)]
    assert got == want


def test_zorder_layout_prunes_square_boxes(spark, tmp_path):
    """Morton-clustered files beat x-sorted files on square bbox probes:
    summed files-touched over scattered square boxes must be lower (the
    2-D locality Z-ORDER buys; an x-range sliver would tie)."""
    import numpy as np
    from pyspark.sql import functions as F

    from instageo_e2e_geospatial_ml_spark.functions.zorder import morton_key
    from instageo_e2e_geospatial_ml_spark.operators.skew import write_clustered

    rng = np.random.default_rng(5)
    n = 200_000
    pdf = [(int(x), int(y)) for x, y in rng.integers(0, 65536, (n, 2))]
    df = spark.createDataFrame(pdf, "x long, y long").withColumn(
        "morton", morton_key("x", "y")
    )
    zpath, xpath = str(tmp_path / "z"), str(tmp_path / "x")
    write_clustered(df, zpath, "morton", num_files=64)
    write_clustered(df, xpath, "x", num_files=64)

    def files_touched(path, x0, y0, side=2048):
        return (
            spark.read.parquet(path)
            .filter(
                (F.col("x") >= x0) & (F.col("x") < x0 + side)
                & (F.col("y") >= y0) & (F.col("y") < y0 + side)
            )
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    boxes = [(int(x), int(y)) for x, y in rng.integers(0, 63488, (12, 2))]
    z_total = sum(files_touched(zpath, x0, y0) for x0, y0 in boxes)
    x_total = sum(files_touched(xpath, x0, y0) for x0, y0 in boxes)
    assert z_total < x_total, (z_total, x_total)
    # and each square probe stays a small fraction of the 64 files
    assert z_total / len(boxes) <= 8


def test_group_percentiles_exact_vs_numpy(spark):
    """group_percentiles == sorted[ceil(p*n)-1] per group, incl. tie-heavy
    and size-1 groups."""
    import math

    from instageo_e2e_geospatial_ml_spark.operators.stats import group_percentiles

    data = {
        "a": [5, 1, 3, 3, 3, 9, 7, 3],     # tie-heavy
        "b": [10],                          # single element
        "c": list(range(100, 0, -1)),       # descending insert order
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "grp string, n_chars long")
    fracs = [(1, 100), (25, 100), (50, 100), (75, 100), (99, 100), (100, 100)]
    out = group_percentiles(df, ["grp"], "n_chars", fractions=fracs).collect()
    got = {(r.grp, r.pct_num): r.value for r in out}
    for g, vs in data.items():
        s = sorted(vs)
        for num, den in fracs:
            want = s[max(1, math.ceil(num * len(s) / den)) - 1]
            assert got[(g, num)] == want, (g, num)
    assert len(out) == len(fracs) * len(data)


def test_segment_trips_break_semantics(spark):
    """Hand-built track: exact-speed hop continues (gate is strict >),
    teleport breaks, dt=0 teleport breaks, long gap breaks."""
    from datetime import datetime, timedelta

    from instageo_e2e_geospatial_ml_spark.operators.trajectory import segment_trips

    t0 = datetime(2024, 1, 1)
    rows = [
        # (user, ts_offset_s, px, py, note)
        (1, 0, 0, 0),          # first ping -> trip 1
        (1, 10, 300, 0),       # 300 u in 10 s = exactly vmax=30 -> continue
        (1, 20, 300, 301),     # 301 u in 10 s > 30 u/s -> break, trip 2
        (1, 20 + 1, 300, 301), # 0 dist, 1 s -> continue
        (1, 21, 999, 999),     # same-second teleport would need a tiebreak:
        # use a later ts to stay deterministic
    ]
    rows = rows[:4] + [(1, 22, 9999, 9999)]   # dt=1, huge hop -> break, trip 3
    rows.append((1, 22 + 4000, 9999, 9999))   # 4000 s > 3600 gap -> trip 4
    rows.append((2, 0, 5, 5))                 # second user independent
    data = [
        (u, t0 + timedelta(seconds=s), i, x, y)
        for i, (u, s, x, y) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_id long, px long, py long"
    )
    seg = segment_trips(
        df, order_tiebreak="event_id", vmax=30, max_gap_s=3600
    ).orderBy("user_id", "ts").collect()
    trips = [(r.user_id, r.trip_id, r.is_break) for r in seg]
    assert trips == [
        (1, 1, True), (1, 1, False), (1, 2, True), (1, 2, False),
        (1, 3, True), (1, 4, True), (2, 1, True),
    ]


def test_kmv_sketch_exact_under_k_and_estimate_bounds(spark):
    """Groups under k distinct values report exactly; over-k estimates
    land within the KMV relative-error envelope (~1/sqrt(k-2), generous
    3x margin), and duplicates never inflate the sketch."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import kmv_distinct_sketch

    rows = (
        [("small", v) for v in range(7) for _ in range(3)]     # 7 distinct, dup x3
        + [("big", v) for v in range(5000)]                    # 5000 distinct
    )
    df = spark.createDataFrame(rows, "grp string, val long")
    out = {r.grp: r for r in kmv_distinct_sketch(df, ["grp"], "val", k=64).collect()}
    assert out["small"].n_seen == 7 and out["small"].est_distinct == 7
    big = out["big"]
    assert big.n_seen == 64
    assert abs(big.est_distinct - 5000) / 5000 < 3 / (64 - 2) ** 0.5, big.est_distinct


def test_grid_dbscan_designed_blobs(spark):
    """Two 8-connected dense blobs (one diagonal-touch), one isolated
    dense cell, and sub-threshold noise: exact cluster membership."""
    from instageo_e2e_geospatial_ml_spark.operators.density import grid_dbscan

    def fill(cx, cy, n):
        # n points inside cell (cx, cy) at cell_size=10
        return [(cx * 10 + i % 10, cy * 10 + (i // 10) % 10) for i in range(n)]

    pts = (
        fill(0, 0, 5) + fill(1, 1, 5)        # blob A: diagonal neighbors
        + fill(5, 5, 5) + fill(5, 6, 5)      # blob B: edge neighbors
        + fill(9, 9, 5)                      # isolated dense cell
        + fill(3, 3, 4)                      # noise: below min_pts
    )
    df = spark.createDataFrame(pts, "px long, py long")
    out = grid_dbscan(df, cell_size=10, min_pts=5).collect()
    lbl = {(r.cx, r.cy): r.cluster_id for r in out}
    assert set(lbl) == {(0, 0), (1, 1), (5, 5), (5, 6), (9, 9)}  # noise absent
    assert lbl[(0, 0)] == lbl[(1, 1)]            # diagonal connectivity
    assert lbl[(5, 5)] == lbl[(5, 6)]
    assert len({lbl[(0, 0)], lbl[(5, 5)], lbl[(9, 9)]}) == 3  # three clusters
    n_pts = {(r.cx, r.cy): r.n_points for r in out}
    assert n_pts[(0, 0)] == 5 and n_pts[(9, 9)] == 5


def test_scd2_history_and_latest_state(spark):
    """Designed change log: upsert→upsert→delete→upsert chains, re-delete,
    delete-only key. Interval chaining + current flags."""
    from datetime import datetime, timedelta

    from instageo_e2e_geospatial_ml_spark.operators.cdc import scd2_history

    t0 = datetime(2024, 1, 1)
    log = [
        # key, +s, id, op
        (1, 0, 10, "upsert"),
        (1, 10, 11, "upsert"),   # closes 10
        (1, 20, 12, "delete"),   # closes 11, emits nothing
        (1, 30, 13, "upsert"),   # re-created, current
        (2, 0, 20, "upsert"),
        (2, 5, 21, "delete"),    # key 2 ends deleted
        (2, 6, 22, "delete"),    # re-delete is a no-op row
        (3, 0, 30, "delete"),    # delete-only key: nothing emitted
    ]
    df = spark.createDataFrame(
        [(k, t0 + timedelta(seconds=s), i, op) for k, s, i, op in log],
        "key long, ts timestamp, event_id long, op string",
    )
    hist = {
        r.event_id: (r.valid_from_us, r.valid_to_us, r.is_current)
        for r in scd2_history(df, tiebreak_col="event_id").collect()
    }
    us = lambda s: int((t0 + timedelta(seconds=s)).timestamp() * 1_000_000)
    assert set(hist) == {10, 11, 13, 20}
    assert hist[10] == (us(0), us(10), False)
    assert hist[11] == (us(10), us(20), False)   # closed by the delete
    assert hist[13] == (us(30), None, True)
    assert hist[20] == (us(0), us(5), False)


def test_kmv_set_relations_exact_and_estimated(spark):
    """Pairwise sketch algebra: complete sketches (both groups under k)
    give EXACT union/intersection; over-k pairs estimate within the KMV
    envelope. Designed overlap: A=0..99, B=50..149 (|u|=150, |i|=50),
    C=0..9 disjoint from B above 9."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import kmv_set_relations

    rows = (
        [("A", v) for v in range(100)]
        + [("B", v) for v in range(50, 150)]
        + [("C", v) for v in range(10)]
    )
    df = spark.createDataFrame(rows, "grp string, val long")

    # k large enough that every sketch is complete -> exact set algebra
    exact = {
        (r.g1, r.g2): r
        for r in kmv_set_relations(df, "grp", "val", k=256).collect()
    }
    ab = exact[("A", "B")]
    assert (ab.est_union, ab.est_inter) == (150, 50)
    ac = exact[("A", "C")]
    assert (ac.est_union, ac.est_inter) == (100, 10)
    bc = exact[("B", "C")]
    assert (bc.est_union, bc.est_inter) == (110, 0)

    # k=32: estimation path; generous 3/sqrt(k-2) relative envelope
    est = {
        (r.g1, r.g2): r
        for r in kmv_set_relations(df, "grp", "val", k=32).collect()
    }
    ab = est[("A", "B")]
    assert ab.n_union == 32
    assert abs(ab.est_union - 150) / 150 < 3 / (32 - 2) ** 0.5
    # intersection inherits union's error plus ratio noise; loose sanity
    assert 20 <= ab.est_inter <= 100


def test_fuzzy_self_join_bruteforce_parity(spark):
    """Count-filter q-gram blocking loses nothing: exact parity with a
    local brute-force levenshtein over random short strings (stresses
    the length-band short path AND the gram path), plus boundary pairs
    at exactly t and t+1."""
    import itertools as it
    import random

    from instageo_e2e_geospatial_ml_spark.operators.linkage import fuzzy_self_join

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    random.seed(11)
    strs = {"", "a", "abc"}  # empty + tiny: short-path corners
    while len(strs) < 80:
        strs.add(
            "".join(random.choice("abcd") for _ in range(random.randint(1, 11)))
        )
    # boundary: dist exactly 3 (in) and 4 (out) from a 12-char base
    strs |= {"abcabcabcabc", "abcabcabcxyz", "abcabcabwxyz"}
    strs = sorted(strs)
    df = spark.createDataFrame([(s, s) for s in strs], "k string, s string")
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_self_join(df, "k", "s", max_dist=3).collect()
    }
    want = {
        (a, b, lev(a, b))
        for a, b in it.combinations(strs, 2)
        if lev(a, b) <= 3
    }
    assert got == want
    assert ("abcabcabcabc", "abcabcabcxyz", 3) in got
    assert not any(
        a == "abcabcabcabc" and b == "abcabcabwxyz" for a, b, _ in got
    )


def test_terrain_halo_exchange_mosaic_exact(spark):
    """Distributed Horn hillshade == whole-mosaic computation, pixel for
    pixel: tile the mosaic 4x3, run the halo-exchange operator, and
    compare every tile's shade digest against the same kernel run once
    over the undivided edge-padded mosaic. Any halo/corner mistake at
    any of the 17 interior tile borders flips a digest."""
    import hashlib

    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.terrain import (
        TILE_SCHEMA, horn_kernel, terrain_derivatives,
    )

    th, tw, nx, ny = 32, 48, 4, 3
    H, W = ny * th, nx * tw
    gy, gx = np.mgrid[0:H, 0:W].astype(np.float64)
    mosaic = np.round(
        900.0 * np.sin(gx / 11.0) * np.cos(gy / 7.0) + 3.0 * gx - 2.0 * gy
    ).astype(np.int32)

    rows = []
    for ty in range(ny):
        for tx in range(nx):
            blk = mosaic[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            rows.append((tx, ty, th, tw, bytearray(blk.tobytes())))
    tiles = spark.createDataFrame(rows, TILE_SCHEMA).repartition(8)
    got = {
        (r.tx, r.ty): r
        for r in terrain_derivatives(tiles, xres=2.0, yres=2.0).collect()
    }
    assert len(got) == nx * ny

    pad = np.pad(mosaic.astype(np.float64), 1, mode="edge")
    slope_deg, compass, shade = horn_kernel(pad, xres=2.0, yres=2.0)
    slope_q4 = np.round(slope_deg * 1e4).astype(np.int64)
    for (tx, ty), r in got.items():
        sl = np.s_[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
        assert r.shade_digest == hashlib.md5(shade[sl].tobytes()).hexdigest(), (tx, ty)
        assert r.sum_slope_q4 == int(slope_q4[sl].sum())
        assert r.sum_shade == int(shade[sl].astype(np.int64).sum())
        assert r.n_px == th * tw


def test_terrain_flat_and_known_slope(spark):
    """Analytic anchors: a constant DEM is slope 0 / aspect flat /
    shade == round(255*cos(45deg)); a uniform 1:1 east-facing ramp has
    slope atan(1) == 45deg everywhere."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.terrain import (
        TILE_SCHEMA, terrain_derivatives,
    )

    flat = np.full((16, 16), 500, dtype=np.int32)
    ramp = (np.arange(16)[None, :] * np.ones((16, 1))).astype(np.int32)
    tiles = spark.createDataFrame(
        [(0, 0, 16, 16, bytearray(flat.tobytes())),
         (10, 10, 16, 16, bytearray(ramp.tobytes()))],
        TILE_SCHEMA,
    )
    out = {(r.tx, r.ty): r for r in terrain_derivatives(tiles).collect()}
    f = out[(0, 0)]
    assert f.sum_slope_q4 == 0 and f.max_slope_q4 == 0
    assert f.aspect_octants == "0,0,0,0,0,0,0,0"  # all flat (-1 bucket)
    assert f.sum_shade == 16 * 16 * round(255 * np.cos(np.deg2rad(45)))
    r = out[(10, 10)]
    # 1:1 eastward-ascending ramp: interior columns slope atan(1)=45deg;
    # the two mosaic-border columns see a replicated neighbor (z(-1) ==
    # z(0)), so their Horn gradient is 4/8 -> slope atan(0.5). The
    # surface FACES west (downhill direction) -> all pixels octant 6.
    edge_q4 = int(np.round(np.rad2deg(np.arctan(0.5)) * 1e4))
    assert r.max_slope_q4 == 450000
    assert r.sum_slope_q4 == 16 * (14 * 450000 + 2 * edge_q4)
    assert r.aspect_octants == "0,0,0,0,0,0,256,0"


def test_local_morans_i_designed_hotspot(spark):
    """LISA on a designed 5x5 grid: a high-value 2x2 block in a flat
    field -> block cells get positive I_i (high surrounded by high);
    validated exactly against an independent numpy replica, plus the
    rook/queen neighborhood distinction."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.stats import local_morans_i

    vals = np.ones((5, 5), dtype=np.int64)
    vals[1:3, 1:3] = 10  # hotspot block
    rows = [(x, y, int(vals[y, x])) for y in range(5) for x in range(5)]
    df = spark.createDataFrame(rows, "cx long, cy long, val long")
    got = {(r.cx, r.cy): r for r in local_morans_i(df, "cx", "cy", "val").collect()}
    assert len(got) == 25

    n, s = 25, int(vals.sum())
    d = n * vals - s
    den = int((d.astype(object) ** 2).sum())
    for (x, y), r in got.items():
        nbrs = [
            d[y + dy, x + dx]
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
            and 0 <= x + dx < 5 and 0 <= y + dy < 5
        ]
        assert r.nbr_sum_d == sum(int(v) for v in nbrs), (x, y)
        assert r.lisa_num == n * int(d[y, x]) * sum(int(v) for v in nbrs)
        assert r.den == den
    # hotspot interior: high cell with all-high queen neighbors -> I > 0
    assert got[(1, 1)].lisa_q6 > 0
    # far corner: low cell among low -> positive (low-low cluster), small
    assert got[(4, 4)].lisa_q6 > 0
    # rook drops the 4 diagonal neighbors
    rook = {(r.cx, r.cy): r for r in
            local_morans_i(df, "cx", "cy", "val", queen=False).collect()}
    assert rook[(2, 2)].n_nbrs == 4 and got[(2, 2)].n_nbrs == 8


def test_geohash6_known_vectors(spark):
    """Geohash encode against independently published vectors
    (geohash.org / Niemeyer's reference examples, truncated to
    precision 6), plus the four extreme corners and the equator
    origin."""
    from instageo_e2e_geospatial_ml_spark.functions.zorder import geohash6

    cases = [
        (10.40744, 57.64911, "u4pruy"),   # Jutland, the canonical example
        (-5.6, 42.6, "ezs42e"),           # prefix ezs42 = classic vector
        (0.0, 0.0, "s00000"),
        (-179.9999, -89.9999, "000000"),
        (179.9999, 89.9999, "zzzzzz"),
        (-77.009003, 38.889865, "dqcjpx"),  # DC (geohash.org)
    ]
    df = spark.createDataFrame(
        [(lo, la) for lo, la, _ in cases], "lon double, lat double"
    )
    got = [r.gh for r in df.select(geohash6("lon", "lat").alias("gh")).collect()]
    assert got == [w for _, _, w in cases]


def test_merge_upsert_semantics_and_idempotence(spark):
    """MERGE apply: matched-update replaces, matched-delete drops,
    unmatched-insert appends, unmatched-delete is a no-op, and the
    in-batch last writer by (ts, tiebreak) wins. Re-applying the same
    batch is a fixpoint (idempotent maintenance run)."""
    from instageo_e2e_geospatial_ml_spark.operators.cdc import merge_upsert

    target = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")], "key long, v long, tag string"
    )
    changes = spark.createDataFrame(
        [
            (2, 21, "b1", 100, 1, "upsert"),   # matched update (overridden below)
            (2, 22, "b2", 100, 2, "upsert"),   # same ts, higher tiebreak -> wins
            (3, 0, "", 100, 1, "delete"),      # matched delete
            (4, 40, "d", 100, 1, "upsert"),    # unmatched insert
            (5, 0, "", 100, 1, "delete"),      # unmatched delete: no-op
            (4, 41, "d2", 99, 9, "upsert"),    # older ts loses to nothing? no:
        ],                                      # key 4 latest is ts=100 row
        "key long, v long, tag string, ts long, tb long, op string",
    )
    out = merge_upsert(target, changes, tiebreak_col="tb")
    got = sorted((r.key, r.v, r.tag) for r in out.collect())
    assert got == [(1, 10, "a"), (2, 22, "b2"), (4, 40, "d")]

    again = merge_upsert(out, changes, tiebreak_col="tb")
    assert sorted((r.key, r.v, r.tag) for r in again.collect()) == got


def test_pagerank_int_replica_and_sink_behavior(spark):
    """3-round integer PageRank vs an independent pure-Python replica on
    a designed graph (hub, sink, cycle); the hub-pointed node outranks
    peers, and scores are bit-exact integers."""
    from instageo_e2e_geospatial_ml_spark.operators.graph import (
        PR_SCALE, pagerank_int,
    )

    # 1 -> 2, 1 -> 3, 2 -> 3, 3 -> 1, 4 -> 3 (and 4 is a source; no sink
    # since 3 closes the cycle). Duplicate edge 1->2 collapses.
    edges = [(1, 2), (1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r for r in pagerank_int(df).collect()}

    ded = sorted(set(edges))
    nodes = sorted({u for e in ded for u in e})
    out = {u: sum(1 for s, _ in ded if s == u) for u in nodes}
    n = len(nodes)
    score = {u: PR_SCALE // n for u in nodes}
    tele = PR_SCALE * 15 // 100 // n
    for _ in range(3):
        recv = {u: 0 for u in nodes}
        for s, d in ded:
            recv[d] += score[s] * 85 // 100 // out[s]
        score = {u: tele + recv[u] for u in nodes}
    for u in nodes:
        assert got[u].score == score[u], (u, got[u].score, score[u])
    assert got[3].score == max(score.values())  # most-linked node wins
    assert got[4].in_deg == 0 and got[4].score == tele  # pure source


def test_idw_boundary_exact_hit_and_weights(spark):
    """IDW corners: a sample at exactly radius distance is IN, at
    radius+1 OUT; an exact-hit sample (d2=0) takes the clamped max
    weight and dominates; the estimate is the exact integer floor
    quotient."""
    from instageo_e2e_geospatial_ml_spark.operators.interp import (
        IDW_SCALE, idw_interpolate,
    )

    samples = spark.createDataFrame(
        [
            (100, 100, 80),    # exact hit on node (100,100)
            (110, 100, 20),    # d2=100
            (100, 150, 40),    # d2=2500 == R^2 (R=50): inside
            (100, 151, 999),   # d2=2601: outside
            (400, 400, 7),     # only sample near node (420, 400): d2=400
        ],
        "px long, py long, val long",
    )
    grid = spark.createDataFrame(
        [(100, 100), (420, 400), (3000, 3000)], "gx long, gy long"
    )
    got = {(r.gx, r.gy): r for r in
           idw_interpolate(samples, grid, radius=50).collect()}
    assert set(got) == {(100, 100), (420, 400)}  # empty node omitted

    r = got[(100, 100)]
    assert r.n_samples == 3  # boundary sample included, 999 excluded
    w = [IDW_SCALE // 1, IDW_SCALE // 100, IDW_SCALE // 2500]
    v = [80, 20, 40]
    assert r.sum_w == sum(w)
    assert r.est == sum(a * b for a, b in zip(w, v)) // sum(w)
    assert abs(r.est - 80) <= 1  # exact hit dominates

    lone = got[(420, 400)]
    assert lone.n_samples == 1 and lone.est == 7  # single sample: exact


def test_bpe_training_paper_example_and_replica(spark):
    """BPE merges on the Sennrich ACL'16 example corpus (low x5,
    lower x2, newest x6, widest x3): first merges must be (e,s) 9,
    (es,t) 9, (est,</w>) 9 — then the full 8-merge sequence matches an
    independent pure-Python replica."""
    import collections

    from instageo_e2e_geospatial_ml_spark.functions.bpe import (
        END, train_bpe,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in train_bpe(docs, 8).orderBy("rank").collect()
    ]
    assert got[0] == (1, "e", "s", 9)
    assert got[1] == (2, "es", "t", 9)
    assert got[2] == (3, "est", END, 9)

    # independent replica (dict-of-tuples, same greedy + tiebreak)
    vocab = {
        ("l", "o", "w", END): 5,
        ("l", "o", "w", "e", "r", END): 2,
        ("n", "e", "w", "e", "s", "t", END): 6,
        ("w", "i", "d", "e", "s", "t", END): 3,
    }
    want = []
    for rank in range(1, 9):
        cnt = collections.Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                cnt[(syms[i], syms[i + 1])] += n
        if not cnt:
            break
        (bl, br), bc = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, bl, br, bc))
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == bl and syms[i + 1] == br:
                    out.append(bl + br)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    assert got == want


def test_funnel_strict_order_and_cohorts(spark):
    """Funnel corners: a click BEFORE the first view doesn't advance the
    funnel (strict order), same-timestamp events don't chain (strictly
    later required), users appear once per reached stage. Cohort
    retention: week 0 row counts every cohort member, later offsets
    count distinct active users only."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.funnel import (
        cohort_retention, funnel_stages, funnel_summary,
    )

    t = lambda m: (pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=m)).to_pydatetime()
    rows = [
        # u1: full funnel in order
        (1, t(0), "view"), (1, t(5), "click"), (1, t(9), "purchase"),
        # u2: click precedes view -> stuck at stage 1
        (2, t(0), "click"), (2, t(5), "view"),
        # u3: view+click same ts -> click not strictly later, stage 1 only
        (3, t(0), "view"), (3, t(0), "click"),
        # u4: view then purchase without click -> stage 1 only
        (4, t(0), "view"), (4, t(3), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    st = funnel_stages(ev, ["view", "click", "purchase"])
    per_user = {(r.user, r.stage) for r in st.collect()}
    assert per_user == {(1, 1), (1, 2), (1, 3), (2, 1), (3, 1), (4, 1)}
    summ = {r.stage: r.n_users for r in funnel_summary(st).collect()}
    assert summ == {1: 4, 2: 1, 3: 1}

    # cohorts: u1 first week 0, active weeks 0 and 2; u2 first week 1
    wk = lambda w, m=0: (pd.Timestamp("2024-01-01") + pd.Timedelta(weeks=w, minutes=m)).to_pydatetime()
    ev2 = spark.createDataFrame(
        [(1, wk(0), "view"), (1, wk(0, 5), "view"), (1, wk(2), "view"),
         (2, wk(1), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    got = {(r.cohort_week, r.week_offset): r.n_users
           for r in cohort_retention(ev2).collect()}
    base = pd.Timestamp("2024-01-01").value // 1000 // (7 * 86400 * 10**6)
    assert got == {(base, 0): 1, (base, 2): 1, (base + 1, 0): 1}


def test_sssp_bellman_ford_vs_dijkstra(spark):
    """4-round Bellman-Ford vs a pure-Python Dijkstra on a weighted
    digraph whose shortest paths are all <= 4 hops; the longer-hop
    cheaper path must win over the 1-hop expensive edge, and
    unreachable nodes stay NULL."""
    import heapq

    from instageo_e2e_geospatial_ml_spark.operators.graph import sssp_int

    edges = [
        (0, 1, 10), (0, 2, 1), (2, 1, 1),          # 0->1 best = 2 via 2
        (1, 3, 1), (3, 4, 1), (0, 4, 100),          # 0->4 best = 4 hops, 4
        (5, 6, 1),                                   # disconnected from 0
    ]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    srcs = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist for r in sssp_int(e, srcs, rounds=4).collect()}

    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        du, u = heapq.heappop(pq)
        if du > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            if du + w < dist.get(v, float("inf")):
                dist[v] = du + w
                heapq.heappush(pq, (dist[v], v))
    for node, d in got.items():
        assert d == dist.get(node), (node, d, dist.get(node))
    assert got[1] == 2 and got[4] == 4 and got[5] is None and got[6] is None


def test_triangle_counts_known_graphs(spark):
    """K4 (every node in 3 triangles), a disjoint edge (0 triangles,
    node absent), duplicate/reversed edges and self-loops collapse."""
    import itertools as it

    from instageo_e2e_geospatial_ml_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a, b in it.combinations(range(4), 2)]
    noise = [(1, 0), (2, 2), (10, 11), (0, 1)]  # reversed dup, loop, stray
    e = spark.createDataFrame(k4 + noise, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_label_propagation_two_communities(spark):
    """Two 4-cliques joined by one bridge edge: 3 LPA rounds label each
    clique with its minimum node id; the bridge does not merge them."""
    import itertools as it

    from instageo_e2e_geospatial_ml_spark.operators.graph import label_propagation

    c1 = [(a, b) for a, b in it.combinations([0, 1, 2, 3], 2)]
    c2 = [(a, b) for a, b in it.combinations([10, 11, 12, 13], 2)]
    e = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    got = {r.node: r.label for r in label_propagation(e, rounds=3).collect()}
    assert all(got[n] == 0 for n in (0, 1, 2, 3))
    assert all(got[n] == 10 for n in (11, 12, 13))
    assert got[10] in (0, 10)  # bridge node may adopt either side


def test_kcore_peel_cascade(spark):
    """Triangle + pendant path 2-3-4, k=2: round 1 peels the leaf (4),
    round 2 peels the now-degree-1 node (3) — a 2-round cascade — and
    the triangle survives with core_deg 2. An unconverged prefix
    (rounds=1) is a superset still containing node 3. Reversed
    duplicates and self-loops collapse."""
    from instageo_e2e_geospatial_ml_spark.operators.graph import kcore

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (1, 0), (3, 3)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.core_deg for r in kcore(e, k=2, rounds=3).collect()}
    assert got == {0: 2, 1: 2, 2: 2}
    mid = {r.node for r in kcore(e, k=2, rounds=1).collect()}
    assert mid == {0, 1, 2, 3}  # node 3 survives round 1, dies round 2


def test_peak_concurrency_sweep(spark):
    """Designed cases: triple overlap -> 3, back-to-back half-open
    intervals [a,t) [t,b) -> 1 (ends sort before starts at the same
    instant), nested pairs, independent keys; then a 200-interval
    random set cross-checked against a scalar brute-force sweep."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.ranges import peak_concurrency

    rows = [
        # key a: [0,10) [5,15) [9,12) -> peak 3
        ("a", 0, 10), ("a", 5, 15), ("a", 9, 12),
        # key b: [0,5) [5,9) back-to-back -> peak 1
        ("b", 0, 5), ("b", 5, 9),
        # key c: nested [0,100) [10,20) [12,15) -> peak 3
        ("c", 0, 100), ("c", 10, 20), ("c", 12, 15),
    ]
    df = spark.createDataFrame(rows, "k string, start_us long, end_us long")
    got = {r.k: (r.peak_concurrency, r.n_intervals)
           for r in peak_concurrency(df, ["k"]).collect()}
    assert got == {"a": (3, 3), "b": (1, 2), "c": (3, 3)}

    rng = np.random.default_rng(7)
    s = rng.integers(0, 1000, 200)
    d = rng.integers(1, 80, 200)
    rand = [("r", int(a), int(a + b)) for a, b in zip(s, d)]
    df2 = spark.createDataFrame(rand, "k string, start_us long, end_us long")
    (pk, n) = [(r.peak_concurrency, r.n_intervals)
               for r in peak_concurrency(df2, ["k"]).collect()][0]
    events = sorted([(a, 1) for _, a, _ in rand] + [(b, -1) for _, _, b in rand],
                    key=lambda t: (t[0], t[1]))
    cur = best = 0
    for _, delta in events:
        cur += delta
        best = max(best, cur)
    assert (pk, n) == (best, 200)


def test_check_constraints_designed_dirty_data(spark):
    """Hand-built dirty table: every constraint kind fires the exact
    violation count it should; an empty table passes all non-unique
    checks (SUM-over-empty coalesced to 0); the whole suite runs as
    one aggregation over one scan."""
    from instageo_e2e_geospatial_ml_spark.operators.constraints import (
        check_constraints,
    )

    rows = [
        (1, "A", 10.0, "1-HIGH"),
        (1, "B", -5.0, "9-BAD"),     # dup id, below min, bad regex
        (2, None, 200.0, "2-LOW"),   # null cat, above max
        (3, "Z", 50.0, None),        # cat outside domain, null prio (no regex hit)
    ]
    df = spark.createDataFrame(rows, "id long, cat string, price double, prio string")
    suite = [
        ("id_unique", "unique", "id", None),
        ("cat_not_null", "not_null", "cat", None),
        ("price_min", "min", "price", 0),
        ("price_max", "max", "price", 100),
        ("cat_domain", "in_set", "cat", ("A", "B")),
        ("prio_format", "matches", "prio", "^[1-5]-[A-Z]+$"),
    ]
    rep = check_constraints(df, suite)
    # plan BEFORE collect: the post-AQE string repeats the plan in its
    # == Initial Plan == section, double-counting the scan
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert plan.count("Scan ExistingRDD") == 1
    got = {r.check_name: (r.n_rows, r.n_violations, r.passed) for r in rep.collect()}
    assert got == {
        "id_unique": (4, 1, 0),
        "cat_not_null": (4, 1, 0),
        "price_min": (4, 1, 0),
        "price_max": (4, 1, 0),
        "cat_domain": (4, 1, 0),   # NULL cat does not violate in_set
        "prio_format": (4, 1, 0),  # NULL prio does not violate matches
    }
    empty = df.limit(0)
    got0 = {r.check_name: (r.n_rows, r.n_violations, r.passed)
            for r in check_constraints(empty, suite).collect()}
    assert all(v == (0, 0, 1) for v in got0.values()), got0


def test_hex_cell_nearest_center_property(spark):
    """Cube-rounded hex assignment == nearest-center assignment: for a
    400-point random cloud, the assigned cell's center is at least as
    close (Euclidean) as every center in the surrounding 2-ring, and a
    scalar numpy replica of the cube rounding agrees exactly."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.functions.hexgrid import (
        SQRT3, hex_cell, hex_center,
    )

    rng = np.random.default_rng(11)
    pts = [(float(x), float(y)) for x, y in
           zip(rng.uniform(-30, 30, 400), rng.uniform(-30, 30, 400))]
    size = 2.5
    df = spark.createDataFrame(pts, "lon double, lat double")
    hq, hr = hex_cell(F.col("lon"), F.col("lat"), size)
    cx, cy = hex_center(hq, hr, size)
    rows = df.select("lon", "lat", hq.alias("hq"), hr.alias("hr"),
                     cx.alias("cx"), cy.alias("cy")).collect()

    def center(q, r):
        return (size * (SQRT3 * q + SQRT3 / 2 * r), size * 1.5 * r)

    def scalar_cell(x, y):
        qf = (SQRT3 / 3 * x - y / 3) / size
        rf = (2 / 3 * y) / size
        yf = -qf - rf
        rq, rr, ry = round(qf), round(rf), round(yf)
        dq, dr, dy = abs(rq - qf), abs(rr - rf), abs(ry - yf)
        if dq > dy and dq > dr:
            rq = -ry - rr
        elif dy <= dr:
            rr = -rq - ry
        return int(rq), int(rr)

    for r in rows:
        d0 = (r.lon - r.cx) ** 2 + (r.lat - r.cy) ** 2
        for dq_ in range(-2, 3):
            for dr_ in range(-2, 3):
                ox, oy = center(r.hq + dq_, r.hr + dr_)
                d = (r.lon - ox) ** 2 + (r.lat - oy) ** 2
                assert d0 <= d + 1e-9, (r.lon, r.lat, r.hq, r.hr, dq_, dr_)
        # scalar replica parity: Python round is half-even vs the
        # engines' half-away, but random uniform doubles never land on
        # an exact .5, so the replica must agree exactly
        assert scalar_cell(r.lon, r.lat) == (r.hq, r.hr), (r.lon, r.lat)


def test_polygon_metrics_shoelace(spark):
    """Designed rings: CCW unit square (area2=+2, centroid (1/2,1/2)),
    the same square CW (sign flips), an L-shaped non-convex hexagon
    (area 3, centroid from the exact rational formula), and a
    degenerate collinear ring (area2=0, numerators 0)."""
    from fractions import Fraction

    from instageo_e2e_geospatial_ml_spark.operators.geometry import polygon_metrics

    rings = {
        1: [(0, 0), (1, 0), (1, 1), (0, 1)],                    # CCW square
        2: [(0, 0), (0, 1), (1, 1), (1, 0)],                    # CW square
        3: [(0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2)],    # L, area 3
        4: [(0, 0), (1, 1), (2, 2)],                            # degenerate
    }
    rows = [(pid, i, x, y) for pid, vs in rings.items()
            for i, (x, y) in enumerate(vs)]
    df = spark.createDataFrame(rows, "poly_id long, seq long, x long, y long")
    got = {r.poly_id: r for r in polygon_metrics(df).collect()}

    def scalar(vs):
        a2 = cx = cy = 0
        for i, (x0, y0) in enumerate(vs):
            x1, y1 = vs[(i + 1) % len(vs)]
            cr = x0 * y1 - x1 * y0
            a2 += cr
            cx += (x0 + x1) * cr
            cy += (y0 + y1) * cr
        return a2, cx, cy

    for pid, vs in rings.items():
        a2, cx, cy = scalar(vs)
        r = got[pid]
        assert (r.area2, r.cx_num, r.cy_num) == (a2, cx, cy), (pid, r)
        assert r.n_vertices == len(vs)
    assert got[1].area2 == 2 and got[2].area2 == -2
    assert Fraction(got[1].cx_num, 3 * got[1].area2) == Fraction(1, 2)
    assert got[3].area2 == 6  # L-shape area 3
    # decomposition check: [0,2]^2 minus [1,2]^2 -> (4*1 - 1*1.5)/3 = 5/6
    assert Fraction(got[3].cx_num, 3 * got[3].area2) == Fraction(5, 6)
    assert Fraction(got[3].cy_num, 3 * got[3].area2) == Fraction(5, 6)
    assert got[4].area2 == 0 and got[4].cx_num == 0 and got[4].cy_num == 0
    assert (got[3].xmin, got[3].xmax, got[3].ymin, got[3].ymax) == (0, 2, 0, 2)


def test_stay_points_designed_track(spark):
    """Hand-built track: dwell in cell A (kept), a two-ping pass-through
    cell (dwell under threshold, dropped), a RETURN to cell A later (a
    NEW stay — runs are maximal-consecutive, not global-per-cell), and
    a second user whose stays never merge with the first. Centroid
    numerators are exact sums."""
    from instageo_e2e_geospatial_ml_spark.operators.trajectory import stay_points

    M = 1_000_000
    rows = [
        # user 1: cell (0,0) for 3 pings over 2h -> stay
        (1, 0 * M * 3600, 5, 5), (1, 1 * M * 3600, 10, 10), (1, 2 * M * 3600, 20, 20),
        # pass through cell (1,1): two pings 60s apart -> dropped
        (1, 7300 * M, 30, 30), (1, 7360 * M, 40, 40),
        # back to cell (0,0) for 2h -> second, separate stay
        (1, 8000 * M, 6, 6), (1, 8000 * M + 7200 * M, 7, 7),
        # user 2: same cell, 1h dwell exactly at threshold -> kept
        (2, 0, 5, 5), (2, 3600 * M, 5, 5),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_us long, px long, py long")
    out = stay_points(df, cell=25, min_dwell_s=3600).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    u1 = sorted(by_user[1], key=lambda r: r.t_start_us)
    assert len(u1) == 2  # pass-through dropped, return is a new stay
    assert (u1[0].cell_x, u1[0].cell_y, u1[0].n_pings) == (0, 0, 3)
    assert (u1[0].sum_x, u1[0].sum_y) == (35, 35)
    assert u1[0].dwell_us == 2 * 3600 * M
    assert (u1[1].cell_x, u1[1].cell_y, u1[1].n_pings) == (0, 0, 2)
    assert u1[1].t_start_us == 8000 * M
    assert len(by_user[2]) == 1 and by_user[2][0].dwell_us == 3600 * M


def test_od_flows_designed_stays(spark):
    """Two users over three cells: A->B twice (flows aggregate),
    B->A once, a self-transition A->A kept, transit sums exact; a
    user with one stay contributes no flow."""
    from instageo_e2e_geospatial_ml_spark.operators.trajectory import od_flows

    rows = [
        # user, cell_x, cell_y, t_start_us, t_end_us
        (1, 0, 0, 0, 10),      # A
        (1, 5, 0, 30, 40),     # B   (A->B transit 20)
        (1, 0, 0, 50, 60),     # A   (B->A transit 10)
        (1, 0, 0, 90, 95),     # A   (A->A transit 30, self-flow kept)
        (2, 0, 0, 0, 5),       # A
        (2, 5, 0, 15, 25),     # B   (A->B transit 10)
        (3, 7, 7, 0, 1),       # lone stay: no flow
    ]
    df = spark.createDataFrame(
        rows, "user_id long, cell_x long, cell_y long, t_start_us long, t_end_us long"
    )
    got = {(r.from_x, r.from_y, r.to_x, r.to_y): (r.n_trips, r.transit_us_total)
           for r in od_flows(df).collect()}
    assert got == {
        (0, 0, 5, 0): (2, 30),   # two A->B trips, transits 20+10
        (5, 0, 0, 0): (1, 10),
        (0, 0, 0, 0): (1, 30),   # self-transition
    }


def test_table_diff_designed_snapshots(spark):
    """Added / removed / single-col change / multi-col change /
    NULL-transition semantics (NULL->value is a change, NULL->NULL is
    not) / unchanged rows dropped."""
    from instageo_e2e_geospatial_ml_spark.operators.cdc import table_diff

    old = spark.createDataFrame(
        [
            (1, 10.0, "A"), (2, 20.0, "B"), (3, 30.0, "C"),
            (4, None, "D"), (5, None, "E"),
        ],
        "id long, price double, cat string",
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "A"),          # unchanged -> dropped
            (2, 21.0, "B"),          # price changed
            (4, 44.0, "DD"),         # NULL->value + cat change
            (5, None, "E"),          # NULL->NULL: not a change -> dropped
            (6, 60.0, "F"),          # added
        ],
        "id long, price double, cat string",
    )
    got = {r.id: (r.change_type, r.changed_cols)
           for r in table_diff(old, new, ["id"], ["price", "cat"]).collect()}
    assert got == {
        2: ("changed", "price"),
        3: ("removed", ""),
        4: ("changed", "price,cat"),
        6: ("added", ""),
    }


def test_coalesce_read_ranges_sweep(spark):
    """Designed request sets: overlap merge, gap <= max_gap merge,
    gap > max_gap split, a long request SPANNING later short ones
    (the running-max-not-lag case), per-file independence, and exact
    byte accounting."""
    from instageo_e2e_geospatial_ml_spark.operators.ranges import (
        coalesce_read_ranges,
    )

    rows = [
        # file A: [0,100) [50,150) overlap; [160,200) gap 10 <= 16 merges;
        # [300,350) gap 100 > 16 -> new range
        ("A", 0, 100), ("A", 50, 100), ("A", 160, 40), ("A", 300, 50),
        # file B: long [0,1000) spans [100,50) and [500,50); then [1990,10)
        # gap 990 -> split
        ("B", 0, 1000), ("B", 100, 50), ("B", 500, 50), ("B", 1990, 10),
    ]
    df = spark.createDataFrame(rows, "file_id string, offset long, length long")
    out = coalesce_read_ranges(df, max_gap=16)
    got = {(r.file_id, r.range_id): (r.fetch_start, r.fetch_end, r.n_requests,
                                     r.bytes_requested, r.bytes_fetched)
           for r in out.collect()}
    assert got == {
        ("A", 1): (0, 200, 3, 240, 200),
        ("A", 2): (300, 350, 1, 50, 50),
        ("B", 1): (0, 1000, 3, 1100, 1000),
        ("B", 2): (1990, 2000, 1, 10, 10),
    }


def test_zone_map_prune_classification(spark):
    """Designed stats/query grid hits every class and boundary:
    touching-at-bound is partial-or-full (inclusive bounds), exact-
    equality point query, and the query side must broadcast."""
    from instageo_e2e_geospatial_ml_spark.operators.pruning import zone_map_prune

    stats = spark.createDataFrame(
        [
            ("f1", 0, 99, 10),     # below
            ("f2", 100, 200, 20),  # fully inside [100, 300]
            ("f3", 250, 400, 30),  # straddles hi
            ("f4", 301, 500, 40),  # above
            ("f5", 300, 300, 50),  # single-value file at hi -> full
        ],
        "file_id string, fmin long, fmax long, n_rows long",
    )
    qr = spark.createDataFrame(
        [(1, 100, 300), (2, 99, 99)], "query_id long, lo long, hi long"
    )
    out = zone_map_prune(stats, qr)
    got = {r.query_id: r for r in out.collect()}
    r1 = got[1]
    assert (r1.n_files_skip, r1.n_files_full, r1.n_files_partial) == (2, 2, 1)
    assert (r1.rows_skip, r1.rows_full, r1.rows_partial) == (50, 70, 30)
    r2 = got[2]  # point query at 99: only f1 touches (fmax == lo, partial)
    assert (r2.n_files_skip, r2.n_files_full, r2.n_files_partial) == (4, 0, 1)
    assert r2.rows_partial == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_temporal_dim_join_point_in_time(spark):
    """Facts hit the version open at their timestamp: inclusive start,
    exclusive end, open (NULL) current version, NULL for facts before
    the first version and inside a deleted gap; exactly one output row
    per fact (SCD2 intervals partition the timeline)."""
    from instageo_e2e_geospatial_ml_spark.operators.cdc import temporal_dim_join

    dim = spark.createDataFrame(
        [
            # key 1: v1 [100, 200), deleted gap [200, 300), v2 [300, NULL)
            (1, "v1", 100, 200),
            (1, "v2", 300, None),
            (2, "w1", 0, None),
        ],
        "key long, version string, valid_from_us long, valid_to_us long",
    )
    facts = spark.createDataFrame(
        [
            (1, "a", 50),    # before first version -> NULL
            (1, "b", 100),   # inclusive start -> v1
            (1, "c", 199),   # last instant of v1
            (1, "d", 200),   # exclusive end -> deleted gap -> NULL
            (1, "e", 250),   # deleted gap -> NULL
            (1, "f", 300),   # v2 opens
            (1, "g", 10**9), # open interval -> v2
            (2, "h", 5),     # other key
            (3, "i", 5),     # key with no history -> NULL
        ],
        "key long, fact_id string, ts_us long",
    )
    out = temporal_dim_join(facts, dim, "key").select("fact_id", "version")
    got = {r.fact_id: r.version for r in out.collect()}
    assert got == {
        "a": None, "b": "v1", "c": "v1", "d": None, "e": None,
        "f": "v2", "g": "v2", "h": "w1", "i": None,
    }
    assert out.count() == 9  # one row per fact, no fan-out


def test_mix_by_token_budget_replica(spark):
    """Python replica over md5 rank order: selection matches exactly;
    each budget is reached-or-exceeded by exactly one doc (or source
    exhausted); unlisted source excluded; no partition-less window."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.functions.text import (
        mix_by_token_budget,
    )

    docs = [(f"s{j}", j * 100 + i, "w " * (5 + (i * 7) % 20))
            for j in range(3) for i in range(12)]
    df = spark.createDataFrame(docs, "source string, doc_id long, text string")
    budgets = spark.createDataFrame(
        [("s0", 40), ("s1", 10**6)], "source string, budget_tokens long"
    )
    out = mix_by_token_budget(df, budgets)
    got = {(r.source, r.doc_id): (r.n_tokens, r.cum_before)
           for r in out.collect()}

    want = {}
    for src, budget in [("s0", 40), ("s1", 10**6)]:
        rows = [(hashlib.md5(f"{d}:mix".encode()).hexdigest(), d,
                 len(t.split()))
                for s, d, t in docs if s == src]
        cum = 0
        for _, d, n in sorted(rows):
            if cum < budget:
                want[(src, d)] = (n, cum)
            cum += n
    assert got == want
    assert not any(s == "s2" for s, _ in got)  # unlisted source excluded
    # s1's huge budget keeps the whole source
    assert sum(1 for s, _ in got if s == "s1") == 12
    # s0: the selected set crosses the budget by exactly the last doc
    s0 = sorted((v[1], v[0]) for k, v in got.items() if k[0] == "s0")
    assert s0[-1][0] < 40 <= s0[-1][0] + s0[-1][1]
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "WindowExec" in line or "Window " in line:
            assert "partitionBy" not in line or "source" in line


def test_length_grouped_batches_replica(spark):
    """Python replica: band assignment, md5-order chunking, batch
    sizes (full batches of B, one trailing partial per band), and
    exact padding-waste arithmetic all match."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.functions.text import (
        length_grouped_batches,
    )

    docs = [(i, "t " * (3 + (i * 11) % 60)) for i in range(50)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = length_grouped_batches(df, batch_size=4, bucket_width=16)
    got = {(r.bucket, r.batch_id): (r.n_docs, r.max_tokens, r.sum_tokens,
                                    r.pad_waste)
           for r in out.collect()}

    bands: dict = {}
    for i, t in docs:
        n = len(t.split())
        bands.setdefault(n // 16, []).append(
            (hashlib.md5(f"{i}:lgb".encode()).hexdigest(), i, n)
        )
    want = {}
    for bucket, rows in bands.items():
        rows.sort()
        for b0 in range(0, len(rows), 4):
            chunk = [n for _, _, n in rows[b0:b0 + 4]]
            want[(bucket, b0 // 4)] = (
                len(chunk), max(chunk), sum(chunk),
                len(chunk) * max(chunk) - sum(chunk),
            )
    assert got == want
    # every non-trailing batch in a band is exactly full
    for (bucket, bid), (n_docs, *_rest) in got.items():
        if (bucket, bid + 1) in got:
            assert n_docs == 4


def test_partial_stats_merge_invariance(spark):
    """The monoid property: merging partials built under ANY interior
    partitioning (3 different splits incl. singleton-per-row) yields
    identical merged states, equal to direct aggregation, with exact
    variance numerators."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        merge_partial_stats, partial_stats,
    )

    rng = np.random.default_rng(3)
    rows = [("g" + str(int(g)), int(v), int(p))
            for g, v, p in zip(rng.integers(0, 3, 120),
                               rng.integers(-50, 50, 120),
                               rng.integers(0, 7, 120))]
    df = spark.createDataFrame(rows, "g string, v long, part long")

    def merged(partition_cols):
        partials = partial_stats(df, ["g"] + partition_cols, "v")
        return {r.g: (r.n, r.s1, r.s2, r.vmin, r.vmax, r.var_num, r.var_den)
                for r in merge_partial_stats(partials, ["g"]).collect()}

    a = merged(["part"])
    b = merged([])           # one partial per group == direct
    c = merged(["v"])        # partial per distinct value
    assert a == b == c
    # exact moments vs numpy (integers, so == is safe)
    vals = {}
    for g, v, _ in rows:
        vals.setdefault(g, []).append(v)
    for g, xs in vals.items():
        n, s1, s2, vmin, vmax, var_num, var_den = a[g]
        assert (n, s1, s2) == (len(xs), sum(xs), sum(x * x for x in xs))
        assert (vmin, vmax) == (min(xs), max(xs))
        assert var_num == n * s2 - s1 * s1 and var_den == n * n


def test_rolling_time_stats_range_frame(spark):
    """RANGE semantics: trailing-hour frame includes the boundary
    instant exactly one window back, excludes anything older; tied
    timestamps are peers (both rows see both); keys independent."""
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        rolling_time_stats,
    )

    M = 1_000_000
    rows = [
        (1, 0, 10),
        (1, 1800 * M, 20),
        (1, 3600 * M, 30),        # exactly 1h after t=0: inclusive
        (1, 3600 * M + 1, 40),    # 1h+1us after t=0: t=0 drops out
        (1, 10000 * M, 50),       # isolated
        (2, 100, 7), (2, 100, 8),  # tied peers
    ]
    df = spark.createDataFrame(rows, "k long, ts_us long, val long")
    out = rolling_time_stats(df, "k", "ts_us", "val", window_s=3600)
    got = {(r.k, r.ts_us, r.v): (r.n_in_window, r.sum_in_window)
           for r in out.collect()}
    assert got[(1, 0, 10)] == (1, 10)
    assert got[(1, 1800 * M, 20)] == (2, 30)
    assert got[(1, 3600 * M, 30)] == (3, 60)          # boundary inclusive
    assert got[(1, 3600 * M + 1, 40)] == (3, 90)      # t=0 dropped
    assert got[(1, 10000 * M, 50)] == (1, 50)
    assert got[(2, 100, 7)] == (2, 15) and got[(2, 100, 8)] == (2, 15)


def test_cusum_changepoint_designed_series(spark):
    """A step series (5x value 10 then 5x value 50) locates the change
    at the last low point; a flat series gives max_abs_dev 0 with the
    earliest-tie rule (cp_index 1); a scalar replica agrees on a
    random series."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        cusum_changepoint,
    )

    rows = []
    for i in range(10):
        rows.append(("step", i, 10 if i < 5 else 50))
    for i in range(6):
        rows.append(("flat", i, 7))
    rng = np.random.default_rng(9)
    rand = [int(v) for v in rng.integers(-30, 30, 40)]
    for i, v in enumerate(rand):
        rows.append(("rand", i, v))
    df = spark.createDataFrame(rows, "key string, t long, x long")
    got = {r.key: r for r in cusum_changepoint(df, "key", "t", "x").collect()}

    s = got["step"]
    assert s.cp_index == 5 and s.cp_t == 4  # last low point (1-based idx 5)
    assert s.n == 10 and s.total == 5 * 10 + 5 * 50
    assert s.max_abs_dev == abs(10 * 50 - 5 * 300)  # n*S_5 - 5*S_n

    f = got["flat"]
    assert f.max_abs_dev == 0 and f.cp_index == 1

    # scalar replica for the random series
    n, tot = len(rand), sum(rand)
    devs = []
    si = 0
    for i, v in enumerate(rand, 1):
        si += v
        devs.append(abs(n * si - i * tot))
    m = max(devs)
    r = got["rand"]
    assert r.max_abs_dev == m and r.cp_index == devs.index(m) + 1


def test_hex_focal_sum_designed_lattice(spark):
    """Center cell with all 6 neighbors occupied sums all 7; an edge
    cell sees only its occupied neighbors; an isolated cell keeps its
    own value with 0 neighbors; unoccupied coordinates never appear."""
    from instageo_e2e_geospatial_ml_spark.functions.hexgrid import (
        HEX_NEIGHBOR_OFFSETS, hex_focal_sum,
    )

    center = (0, 0, 100)
    ring = [(dq, dr, 10 * (i + 1))
            for i, (dq, dr) in enumerate(HEX_NEIGHBOR_OFFSETS)]
    lone = (50, 50, 7)
    df = spark.createDataFrame(
        [center] + ring + [lone], "hq long, hr long, n_points long"
    )
    got = {(r.hq, r.hr): (r.focal_sum, r.n_occupied_neighbors)
           for r in hex_focal_sum(df).collect()}
    assert got[(0, 0)] == (100 + sum(10 * (i + 1) for i in range(6)), 6)
    assert got[(50, 50)] == (7, 0)
    # ring cell (1, 0) [value 10]: neighbors among occupied = center
    # plus the adjacent ring cells (1,-1) [20] and (0,1) [60]
    assert got[(1, 0)] == (10 + 100 + 20 + 60, 3)
    assert (2, 0) not in got  # unoccupied coordinate absent
    assert len(got) == 8


def test_multi_touch_attribution_models(spark):
    """Three-touch conversion: linear credit 1/3 each, first/last
    flags on the right touches; lookback excludes an old touch and a
    post-conversion touch; a touch AT the conversion instant counts;
    a touchless conversion emits the NULL-channel row."""
    from instageo_e2e_geospatial_ml_spark.operators.funnel import (
        multi_touch_attribution,
    )

    M = 1_000_000
    touches = spark.createDataFrame(
        [
            (1, 0, "old"),             # outside 1h lookback of conv at 7200
            (1, 4000 * M, "search"),
            (1, 5000 * M, "social"),
            (1, 7200 * M, "email"),    # at the conversion instant: counts
            (1, 8000 * M, "late"),     # after conversion: excluded
            (2, 100 * M, "search"),    # user 2 converts with 1 touch
        ],
        "user_id long, ts_us long, channel string",
    )
    convs = spark.createDataFrame(
        [(1, 7200 * M, 900), (2, 150 * M, 901), (3, 0, 902)],
        "user_id long, ts_us long, conv_id long",
    )
    out = multi_touch_attribution(touches, convs, lookback_s=3600)
    rows = out.collect()
    c900 = {r.channel: r for r in rows if r.conv_id == 900}
    assert set(c900) == {"search", "social", "email"}
    for ch, r in c900.items():
        assert (r.n_touches, r.credit_num, r.credit_den) == (3, 1, 3)
    assert c900["search"].is_first == 1 and c900["email"].is_last == 1
    assert c900["social"].is_first == 0 and c900["social"].is_last == 0
    c901 = [r for r in rows if r.conv_id == 901][0]
    assert (c901.channel, c901.n_touches, c901.is_first, c901.is_last) == (
        "search", 1, 1, 1,
    )
    c902 = [r for r in rows if r.conv_id == 902][0]
    assert c902.channel is None and c902.n_touches == 0
    assert c902.credit_num is None and c902.is_first == 0


def test_cadence_profile_bot_vs_human(spark):
    """A metronome key (constant 60s gaps) gets var_num 0; a bursty
    key gets the exact integer variance numerator; a key under
    min_events is dropped; duplicate timestamps surface as gap_min 0."""
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        cadence_profile,
    )

    M = 1_000_000
    rows = []
    for i in range(6):
        rows.append(("bot", i * 60 * M))
    human_gaps = [5, 600, 30, 7200, 1]
    t = 0
    rows.append(("human", 0))
    for g in human_gaps:
        t += g * M
        rows.append(("human", t))
    rows += [("sparse", 0), ("sparse", 60 * M)]     # 2 events < min 3
    rows += [("dup", 0), ("dup", 0), ("dup", 60 * M)]
    df = spark.createDataFrame(rows, "k string, ts_us long")
    got = {r.key: r for r in cadence_profile(df, "k", "ts_us", 3).collect()}
    assert "sparse" not in got
    b = got["bot"]
    assert (b.n_gaps, b.gap_min, b.gap_max, b.var_num) == (5, 60, 60, 0)
    h = got["human"]
    n, s1 = len(human_gaps), sum(human_gaps)
    s2 = sum(g * g for g in human_gaps)
    assert (h.n_gaps, h.gap_sum) == (n, s1)
    assert h.var_num == n * s2 - s1 * s1 and h.var_den == n * n
    d = got["dup"]
    assert (d.n_gaps, d.gap_min, d.gap_max) == (2, 0, 60)


def test_knn_label_audit_mislabel_cluster(spark):
    """A tight cluster of label-0 points with one label-1 intruder:
    the intruder's whole neighborhood disagrees (suspect), its
    neighbors see exactly one disagreement each (not suspect), an
    isolated point reports n_nbrs=0 unflagged, and self never counts
    as a neighbor."""
    from instageo_e2e_geospatial_ml_spark.operators.knn import knn_label_audit

    cluster = [(i, 0.1 * i, 0.0, 0) for i in range(5)]        # pids 0-4
    intruder = [(9, 0.2, 0.01, 1)]
    lone = [(99, 50.0, 50.0, 0)]
    df = spark.createDataFrame(
        cluster + intruder + lone, "pid long, x double, y double, label long"
    )
    got = {r.pid: r for r in
           knn_label_audit(df, k_neighbors=3, radius_deg=2.0).collect()}
    assert len(got) == 7
    nine = got[9]
    assert nine.n_nbrs == 3 and nine.n_disagree == 3 and nine.suspect == 1
    for pid in range(5):
        r = got[pid]
        assert r.n_nbrs == 3 and r.suspect == 0
        # the intruder is within everyone's 3-NN here except the far end
    assert got[99].n_nbrs == 0 and got[99].suspect == 0


def test_rrf_fuse_designed_rankings(spark):
    """Designed 4-doc group: a doc ranked 1st by one signal and last
    by the other loses to a doc ranked 2nd by both (the point of RRF);
    integer-scaled terms match the exact formula; top_n + tie rule."""
    from instageo_e2e_geospatial_ml_spark.functions.retrieval import rrf_fuse

    rows = [
        # (g, id, sA, sB): d1 top in A, last in B; d2 2nd in both;
        # d3/d4 fill the field
        ("g", 1, 100, 1),
        ("g", 2, 90, 90),
        ("g", 3, 80, 100),
        ("g", 4, 70, 50),
    ]
    df = spark.createDataFrame(rows, "g string, id long, sA long, sB long")
    out = rrf_fuse(df, "g", "id", ["sA", "sB"], top_n=4)
    got = {r.id: r for r in out.collect()}

    def term(rank):
        return 1_000_000 // (60 + rank)

    assert got[1].rank_sA == 1 and got[1].rank_sB == 4
    assert got[2].rank_sA == 2 and got[2].rank_sB == 2
    assert got[1].rrf_score == term(1) + term(4)
    assert got[2].rrf_score == term(2) + term(2)
    assert got[2].rrf_score > got[1].rrf_score  # consistent #2 beats spiky #1
    # full-order replica: ranks per signal -> exact fused scores
    ranks = {1: (1, 4), 2: (2, 2), 3: (3, 1), 4: (4, 3)}
    want = {d: term(ra) + term(rb) for d, (ra, rb) in ranks.items()}
    for d, r in got.items():
        assert r.rrf_score == want[d], (d, r.rrf_score, want[d])
    order = [r.id for r in sorted(got.values(), key=lambda r: r.rrf_rank)]
    assert order == sorted(want, key=lambda d: (-want[d], d))  # [3, 2, 1, 4]


def test_code_likeness_designed_snippets(spark):
    """A real code snippet fires every signal with exact counts; prose
    fires none; mixed content counts only its code lines; a
    single-line doc has n_lines 1."""
    from instageo_e2e_geospatial_ml_spark.functions.text import code_likeness

    code = "def f():\n  x = 1;\n  return x\n# done\nend = True\n}"
    prose = "It was a bright cold day in April.\nThe clocks were striking."
    mixed = "Some text\n  indented code;\nmore text"
    rows = [(1, code), (2, prose), (3, mixed), (4, "one line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in code_likeness(df).collect()}

    c = got[1]
    assert c.n_lines == 6
    assert c.n_indent == 2          # "  x = 1;", "  return x"
    assert c.n_punct_end == 2       # "  x = 1;", "}"
    assert c.n_assign == 2          # "x = 1;", "end = True"
    assert c.n_comment == 1         # "# done"
    p = got[2]
    assert (p.n_lines, p.n_indent, p.n_punct_end, p.n_assign, p.n_comment) == (
        2, 0, 0, 0, 0,
    )
    m = got[3]
    assert (m.n_lines, m.n_indent, m.n_punct_end) == (3, 1, 1)
    assert got[4].n_lines == 1


def test_distribution_drift_tv_designed(spark):
    """Identical distributions give TV 0; fully disjoint supports give
    TV 1 (num == den); a half-shifted case matches the hand-computed
    exact fraction; one-sided buckets contribute full mass."""
    from fractions import Fraction

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        distribution_drift_tv,
    )

    rows = []
    # g=same: ref and cur both 3xA 1xB -> TV 0
    rows += [("same", "A", "ref")] * 3 + [("same", "B", "ref")]
    rows += [("same", "A", "cur")] * 3 + [("same", "B", "cur")]
    # g=disjoint: ref all A, cur all B -> TV 1
    rows += [("disjoint", "A", "ref")] * 4 + [("disjoint", "B", "cur")] * 2
    # g=half: ref 2A 2B, cur 4A -> TV = 1/2
    rows += [("half", "A", "ref")] * 2 + [("half", "B", "ref")] * 2
    rows += [("half", "A", "cur")] * 4
    df = spark.createDataFrame(rows, "g string, bucket string, period string")
    got = {r.g: r for r in
           distribution_drift_tv(df, ["g"], "bucket", "period").collect()}
    assert Fraction(got["same"].tv_num, got["same"].tv_den) == 0
    assert Fraction(got["disjoint"].tv_num, got["disjoint"].tv_den) == 1
    assert Fraction(got["half"].tv_num, got["half"].tv_den) == Fraction(1, 2)
    assert got["disjoint"].n_ref == 4 and got["disjoint"].n_cur == 2
    assert got["same"].n_buckets == 2


def test_trending_terms_designed_windows(spark):
    """A term that explodes in the current window ranks first; a
    brand-new term ranks on its full current mass (c_ref=0); steady
    terms have delta ~ 0; min_count prunes a 2-occurrence term; a
    declining term never outranks a rising one."""
    from instageo_e2e_geospatial_ml_spark.functions.retrieval import (
        trending_terms,
    )

    ref = "base base base base steady steady fading fading fading"
    cur = ("base base base steady steady steady "
           "surge surge surge surge novel novel novel rare rare")
    df = spark.createDataFrame(
        [("s", "ref", ref), ("s", "cur", cur)],
        "source string, period string, text string",
    )
    out = trending_terms(df, "period", top_n=10).collect()
    by_term = {r.term: r for r in out}
    assert "rare" not in by_term                      # min_count prune
    assert by_term["surge"].c_ref == 0 or by_term["surge"].c_ref is not None
    n_ref, n_cur = 9, 15
    for t, (cr, cc) in {"surge": (0, 4), "novel": (0, 3),
                        "base": (4, 3), "steady": (2, 3)}.items():
        r = by_term[t]
        assert (r.c_ref, r.c_cur) == (cr, cc), (t, r)
        assert r.delta == cc * n_ref - cr * n_cur
    order = [r.term for r in sorted(out, key=lambda r: r.rank)]
    assert order[0] == "surge" and order[1] == "novel"
    assert order.index("surge") < order.index("base")  # riser beats decliner


def test_bitemporal_snapshot_corrections(spark):
    """Backdated-fix semantics: a later correction (tx <= T) replaces
    the believed value for its valid period; corrections after T are
    invisible; a winning retraction removes its period AND extends
    the predecessor's valid_to; tx tie resolves by tx_id."""
    from instageo_e2e_geospatial_ml_spark.operators.cdc import bitemporal_snapshot

    rows = [
        # key, valid_from, tx, tx_id, op, val
        (1, 100, 10, 1, "assert", 5),     # period A first belief
        (1, 100, 20, 2, "assert", 7),     # corrected at tx 20 -> wins at T=50
        (1, 100, 90, 3, "assert", 9),     # after T: invisible
        (1, 200, 30, 4, "assert", 11),    # period B
        (1, 300, 35, 5, "assert", 13),    # period C
        (1, 200, 40, 6, "retract", 0),    # B retracted -> A extends to 300
        (2, 100, 10, 7, "assert", 1),
        (2, 100, 10, 8, "assert", 2),     # same tx: higher tx_id wins
    ]
    df = spark.createDataFrame(
        rows,
        "key long, valid_from_us long, tx_us long, tx_id long, op string, val long",
    )
    out = bitemporal_snapshot(df, 50)
    got = {(r.key, r.valid_from_us): r for r in out.collect()}
    assert got[(1, 100)].val == 7          # corrected, not 5, not the tx-90 9
    assert got[(1, 100)].valid_to_us == 300  # retracted B skipped
    assert (1, 200) not in got
    assert got[(1, 300)].val == 13 and got[(1, 300)].is_current
    assert got[(2, 100)].val == 2          # tx_id tie-break


def test_sliding_window_distinct_exact(spark):
    """3-slot sliding windows: a user active in two adjacent slots
    counts once in the window spanning both; windows whose last slot
    has no data are not emitted; per-key independence."""
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        sliding_window_distinct,
    )

    S = 100  # slot_us
    rows = [
        ("a", 0 * S + 1, 1), ("a", 0 * S + 2, 2),   # slot 0: users 1,2
        ("a", 1 * S + 1, 1),                        # slot 1: user 1 again
        ("a", 4 * S + 1, 3),                        # slot 4 (gap at 2,3)
        ("b", 0 * S + 1, 9),
    ]
    df = spark.createDataFrame(rows, "k string, ts_us long, uid long")
    out = sliding_window_distinct(df, "k", "ts_us", "uid",
                                  window_slots=3, slot_us=S)
    got = {(r.key, r.window_slot): (r.n_events, r.n_distinct)
           for r in out.collect()}
    # emitted windows: last slot must have data -> slots 0,1,4 for a; 0 for b
    assert set(got) == {("a", 0), ("a", 1), ("a", 4), ("b", 0)}
    assert got[("a", 0)] == (2, 2)          # covers slots -2..0
    assert got[("a", 1)] == (3, 2)          # slots -1..1: user 1 deduped
    assert got[("a", 4)] == (1, 1)          # slots 2..4: only the gap-ender
    assert got[("b", 0)] == (1, 1)


def test_compaction_plan_nfd_bins(spark):
    """Next-fit-decreasing: sizes [45, 40, 30, 20, 10] at target 100
    bin as run-prefix cuts {45, 40, 30}, {20, 10}; files at or above
    the small threshold target/2 = 50 keep bin -1; bin stats are exact;
    partitions independent."""
    from instageo_e2e_geospatial_ml_spark.operators.pruning import (
        compaction_plan,
    )

    rows = [
        ("p1", "a", 45), ("p1", "b", 40), ("p1", "c", 30),
        ("p1", "d", 20), ("p1", "e", 10), ("p1", "big", 500),
        ("p1", "half", 50), ("p2", "z", 5),
    ]
    df = spark.createDataFrame(
        rows, "partition_id string, file_id string, size_bytes long"
    )
    out = compaction_plan(df, target_bytes=100)
    got = {(r.partition_id, r.file_id): r for r in out.collect()}
    # NFD: run-prefix before each file: 0, 45, 85, 115, 135
    assert got[("p1", "a")].bin_id == 0
    assert got[("p1", "b")].bin_id == 0   # prefix 45 < 100
    assert got[("p1", "c")].bin_id == 0   # prefix 85
    assert got[("p1", "d")].bin_id == 1   # prefix 115
    assert got[("p1", "e")].bin_id == 1   # prefix 135
    assert got[("p1", "big")].bin_id == -1
    assert got[("p1", "half")].bin_id == -1   # 50 >= target/2
    b0 = got[("p1", "a")]
    assert (b0.bin_bytes, b0.n_files_in_bin) == (115, 3)
    assert (got[("p1", "d")].bin_bytes, got[("p1", "d")].n_files_in_bin) == (30, 2)
    assert got[("p1", "big")].bin_bytes == 0
    assert got[("p2", "z")].bin_id == 0 and got[("p2", "z")].bin_bytes == 5


def test_golden_record_survivorship(spark):
    """Per-attribute survivorship: the trusted source wins the field
    it fills even though it is older; its NULL field falls through to
    the next-best holder; recency breaks priority ties; a cluster
    with an all-NULL column keeps NULL."""
    from instageo_e2e_geospatial_ml_spark.operators.linkage import golden_record

    rows = [
        # cluster, prio, ts, id, name, phone
        ("c1", 0, 100, 1, "TrustedName", None),   # trusted, sparse, old
        ("c1", 1, 900, 2, "CrowdName", "555-1"),  # fresher, lower trust
        ("c1", 1, 500, 3, "OldCrowd", "555-2"),
        ("c2", 2, 100, 4, "A", None),
        ("c2", 2, 200, 5, "B", None),             # same prio, newer -> wins
    ]
    df = spark.createDataFrame(
        rows, "cluster string, prio long, ts long, rid long, name string, phone string"
    )
    got = {r.cluster: r for r in golden_record(
        df, "cluster", ["name", "phone"], "prio", "ts", "rid").collect()}
    c1 = got["c1"]
    assert c1.name_golden == "TrustedName"   # priority beats recency
    assert c1.phone_golden == "555-1"        # trusted NULL falls through
    assert (c1.n_records, c1.n_sources) == (3, 2)
    c2 = got["c2"]
    assert c2.name_golden == "B"             # recency tie-break
    assert c2.phone_golden is None           # all-NULL column stays NULL


def test_abc_classification_boundaries(spark):
    """Designed values [50, 30, 15, 4, 1] (total 100): cumulative 50,
    80, 95, 99, 100 -> A, A (exactly 80%), B (exactly 95%), C, C;
    a 100%-concentration single item is still A; tie order by item."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        abc_classification,
    )

    rows = [("g", i, v) for i, v in enumerate([50, 30, 15, 4, 1])]
    rows += [("solo", 9, 777)]
    rows += [("tie", 1, 10), ("tie", 2, 10)]
    df = spark.createDataFrame(rows, "g string, item long, value long")
    got = {(r.g, r.item): r for r in
           abc_classification(df, ["g"], "item", "value").collect()}
    assert [got[("g", i)].abc for i in range(5)] == ["A", "A", "B", "C", "C"]
    assert got[("g", 1)].cum_value == 80 and got[("g", 2)].cum_value == 95
    assert got[("solo", 9)].abc == "A" and got[("solo", 9)].rank == 1
    assert got[("tie", 1)].rank == 1 and got[("tie", 2)].rank == 2


def test_ks_two_sample_exact(spark):
    """Identical samples -> KS 0; disjoint shifted samples -> KS 1 at
    the last a-value; a tie-heavy designed case matches
    scipy-by-hand ECDF arithmetic; a uniform shift invisible to
    per-bucket TV is caught."""
    from fractions import Fraction

    from instageo_e2e_geospatial_ml_spark.operators.stats import ks_two_sample

    rows = []
    # g=same: a==b -> 0
    for v in (1, 2, 2, 5):
        rows += [("same", v, "a"), ("same", v, "b")]
    # g=disjoint: a in {1,2}, b in {10, 11} -> KS 1 at v=2
    rows += [("disjoint", 1, "a"), ("disjoint", 2, "a"),
             ("disjoint", 10, "b"), ("disjoint", 11, "b")]
    # g=shift: b = a + 1 over {1..4}: ECDF gap 1/4 at each step
    for v in (1, 2, 3, 4):
        rows += [("shift", v, "a"), ("shift", v + 1, "b")]
    df = spark.createDataFrame(rows, "g string, v long, sample string")
    got = {r.g: r for r in ks_two_sample(df, ["g"], "v", "sample").collect()}
    assert Fraction(got["same"].ks_num, got["same"].ks_den) == 0
    d = got["disjoint"]
    assert Fraction(d.ks_num, d.ks_den) == 1 and d.ks_at_value == 2
    s = got["shift"]
    assert Fraction(s.ks_num, s.ks_den) == Fraction(1, 4)
    assert s.ks_at_value == 1  # earliest supremum point


def test_lag_autocovariance_periodicity(spark):
    """A period-2 alternating series has strongly negative acov_1 and
    strongly positive acov_2; a constant series gives 0; missing
    slots shrink n_pairs (absent pairs, not zeros); a numpy replica
    agrees exactly."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        lag_autocovariance,
    )

    rows = []
    alt = [10, 2] * 6
    for i, v in enumerate(alt):
        rows.append(("alt", i, v))
    for i in range(8):
        rows.append(("flat", i, 7))
    rows += [("gap", 0, 5), ("gap", 1, 6), ("gap", 3, 9)]  # slot 2 missing
    df = spark.createDataFrame(rows, "key string, slot long, x long")
    out = lag_autocovariance(df, "key", "slot", "x", lags=(1, 2))
    got = {(r.key, r.lag): r for r in out.collect()}

    def replica(xs, pairs, k):
        n, s = len(xs), sum(xs)
        return sum((n * a - s) * (n * b - s) for a, b in pairs)

    xs = alt
    p1 = list(zip(xs, xs[1:]))
    p2 = list(zip(xs, xs[2:]))
    assert got[("alt", 1)].acov_num == replica(xs, p1, 1) < 0
    assert got[("alt", 2)].acov_num == replica(xs, p2, 2) > 0
    assert got[("flat", 1)].acov_num == 0 and got[("flat", 2)].acov_num == 0
    g1 = got[("gap", 1)]
    assert g1.n_pairs == 1  # only (0,1); (1,2) and (2,3) lack slot 2
    n, s = 3, 20
    assert g1.acov_num == (n * 5 - s) * (n * 6 - s)


def test_arrival_disorder_watermark_advisor(spark):
    """Designed arrival sequence: in-order events have disorder 0; a
    late event measures against the frontier BEFORE it (never against
    itself); threshold counts split exactly; a fully in-order key
    reports max 0."""
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        arrival_disorder,
    )

    M = 1_000_000
    rows = [
        # key k: arrival order a1..a5; event times make two late events
        ("k", 1, 0),
        ("k", 2, 100 * M),          # frontier 100s
        ("k", 3, 98 * M),           # 2s late  (> 1s threshold)
        ("k", 4, 200 * M),          # frontier 200s
        ("k", 5, 110 * M),          # 90s late (> 1s, <= 60s? no: > 60s)
        ("ok", 1, 10), ("ok", 2, 20),
    ]
    df = spark.createDataFrame(rows, "key string, arr long, t long")
    out = arrival_disorder(
        df, "key", "arr", "t", late_thresholds_us=(1 * M, 60 * M)
    )
    got = {r.key: r for r in out.collect()}
    k = got["k"]
    assert (k.n_events, k.n_late) == (5, 2)
    assert k.max_disorder_us == 90 * M
    assert getattr(k, f"n_late_over_{1 * M}") == 2
    assert getattr(k, f"n_late_over_{60 * M}") == 1
    ok = got["ok"]
    assert (ok.n_late, ok.max_disorder_us) == (0, 0)


def test_embedding_audit_degenerates(spark):
    """A healthy vector, an all-zero vector (degenerate), a NaN
    carrier (degenerate, NaN counted), a sub-quantization vector
    (norm2_q 0 even though floats aren't exactly zero), and a
    wrong-dim vector (dim_ok 0) — exact counts throughout."""
    import math

    from instageo_e2e_geospatial_ml_spark.operators.constraints import (
        embedding_audit,
    )

    rows = [
        (1, [1.0, -2.0, 0.5]),
        (2, [0.0, 0.0, 0.0]),
        (3, [1.0, float("nan"), 2.0]),
        (4, [0.001, -0.004, 0.002]),   # |x*100| < 0.5 -> quantizes to 0
        (5, [1.0, 1.0]),               # wrong dim
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in embedding_audit(df, expected_dim=3).collect()}
    h = got[1]
    assert (h.dim, h.n_nan, h.n_zero, h.degenerate, h.dim_ok) == (3, 0, 0, 0, 1)
    assert h.norm2_q == 100**2 + 200**2 + 50**2
    assert got[2].degenerate == 1 and got[2].norm2_q == 0 and got[2].n_zero == 3
    assert got[3].degenerate == 1 and got[3].n_nan == 1
    assert got[4].norm2_q == 0 and got[4].degenerate == 1
    assert got[5].dim_ok == 0 and got[5].degenerate == 0


def test_referential_audit_orphans(spark):
    """Designed FK sets: a clean relationship (0 orphans), one with
    two orphan rows sharing one orphan key, NULL keys counted apart
    from orphans, duplicate dim keys not fanning out fact rows."""
    from instageo_e2e_geospatial_ml_spark.operators.constraints import (
        referential_audit,
    )

    fact = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (None,)], "fk long"
    )
    dim_ok = spark.createDataFrame([(1,), (2,), (9,)], "k long")
    dim_dup = spark.createDataFrame([(1,), (1,), (2,)], "k long")  # 9 missing
    out = referential_audit(
        fact,
        [("clean", "fk", dim_ok, "k"), ("holed", "fk", dim_dup, "k")],
    )
    got = {r.relationship: r for r in out.collect()}
    c = got["clean"]
    assert (c.n_facts, c.n_null_keys, c.n_orphans, c.n_orphan_keys) == (6, 1, 0, 0)
    h = got["holed"]
    # dup dim key 1 must not fan out: still 6 fact rows
    assert (h.n_facts, h.n_null_keys, h.n_orphans, h.n_orphan_keys) == (6, 1, 2, 1)


def test_percent_rank_normalize_rationals(spark):
    """[10, 20, 20, 40]: ranks via RANK give exact rationals 0/3,
    1/3, 1/3, 3/3 (ties share the feature), n_ties 2 for the pair;
    a singleton group flags pr_den 0."""
    from fractions import Fraction

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        percent_rank_normalize,
    )

    rows = [("g", 1, 10), ("g", 2, 20), ("g", 3, 20), ("g", 4, 40),
            ("solo", 9, 5)]
    df = spark.createDataFrame(rows, "grp string, id long, value long")
    got = {(r.grp, r.id): r for r in
           percent_rank_normalize(df, ["grp"], "value", "id").collect()}
    fr = lambda r: Fraction(r.pr_num, r.pr_den)  # noqa: E731
    assert fr(got[("g", 1)]) == 0
    assert fr(got[("g", 2)]) == fr(got[("g", 3)]) == Fraction(1, 3)
    assert fr(got[("g", 4)]) == 1
    assert got[("g", 2)].n_ties == 2 and got[("g", 1)].n_ties == 1
    assert got[("solo", 9)].pr_den == 0 and got[("solo", 9)].pr_num == 0


def test_trimmed_stats_and_gini(spark):
    """Trimmed: [1, 2, ..., 10] at 10% drops exactly the min and max
    (k=1), trimmed sum 2..9, winsorized sum clips 1->2 and 10->9;
    outlier robustness: a huge outlier leaves the trimmed mean
    unchanged. Gini: equal values -> 0; one-holder concentration ->
    (n-1)/n; replica on a random vector."""
    from fractions import Fraction

    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        gini_coefficient, trimmed_stats,
    )

    rows = [("a", i, i) for i in range(1, 11)]
    rows += [("b", i, v) for i, v in enumerate([5, 5, 5, 5, 10**9])]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = {r.g: r for r in
           trimmed_stats(df, ["g"], "v", "id", trim_pct=10).collect()}
    a = got["a"]
    assert (a.n, a.k, a.trim_n) == (10, 1, 8)
    assert a.trim_sum == sum(range(2, 10))
    assert a.winsor_sum == a.trim_sum + 2 + 9
    b = got["b"]  # 10% of 5 -> k=0: nothing trimmed; robustness needs k>=1
    assert b.k == 0 and b.trim_sum == 20 + 10**9

    grows = [("eq", i, 7) for i in range(4)]
    grows += [("conc", 0, 100)] + [("conc", i, 0) for i in range(1, 5)]
    rng = np.random.default_rng(2)
    rv = [int(x) for x in rng.integers(0, 50, 30)]
    grows += [("rand", i, v) for i, v in enumerate(rv)]
    gdf = spark.createDataFrame(grows, "g string, id long, v long")
    gg = {r.g: r for r in gini_coefficient(gdf, ["g"], "v", "id").collect()}
    assert Fraction(gg["eq"].gini_num, gg["eq"].gini_den) == 0
    assert Fraction(gg["conc"].gini_num, gg["conc"].gini_den) == Fraction(4, 5)
    xs = sorted(rv)
    n, s = len(xs), sum(xs)
    num = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
    assert (gg["rand"].gini_num, gg["rand"].gini_den) == (num, n * s)


def test_median_composite_scalar_replica(spark):
    """Vectorized per-pixel median vs a scalar per-pixel replica on a
    random masked stack, plus designed corners: all-masked pixel ->
    NODATA, single-valid pixel -> that value, even count -> lower
    median, negative int16 values survive."""
    import hashlib

    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.composite import (
        COMPOSITE_NODATA, STACK_SCHEMA, median_composite,
    )

    rng = np.random.default_rng(5)
    T, H, W = 5, 8, 9
    px = rng.integers(-2000, 12000, size=(T, H, W)).astype(np.int16)
    valid = (rng.random((T, H, W)) < 0.7).astype(np.uint8)
    valid[:, 0, 0] = 0                      # all masked
    valid[:, 0, 1] = [1, 0, 0, 0, 0]        # single valid
    valid[:, 0, 2] = [1, 1, 1, 1, 0]        # even count (4) -> lower median

    rows = [
        (7, t, H, W, bytearray(px[t].tobytes()), bytearray(valid[t].tobytes()))
        for t in range(T)
    ]
    out = median_composite(
        spark.createDataFrame(rows, STACK_SCHEMA)
    ).collect()
    assert len(out) == 1
    r = out[0]

    med = np.empty((H, W), dtype=np.int16)
    for i in range(H):
        for j in range(W):
            vs = sorted(int(px[t, i, j]) for t in range(T) if valid[t, i, j])
            med[i, j] = vs[(len(vs) - 1) // 2] if vs else COMPOSITE_NODATA
    k = valid.astype(bool).sum(axis=0)
    assert r.n_dates == T and r.n_px == H * W
    assert r.n_composited == int((k > 0).sum())
    assert r.sum_median == int(med[k > 0].astype(np.int64).sum())
    assert r.composite_digest == hashlib.md5(med.tobytes()).hexdigest()
    assert med[0, 0] == COMPOSITE_NODATA
    assert med[0, 1] == px[0, 0, 1]
    assert med[0, 2] == sorted(px[:4, 0, 2].tolist())[1]  # lower of 4


def test_median_composite_builds_without_warnings(spark):
    """compose hints every parameter, so applyInPandas infers its eval
    type instead of warning TYPE_HINT_SHOULD_BE_SPECIFIED on each call."""
    import warnings

    from instageo_e2e_geospatial_ml_spark.operators.composite import (
        STACK_SCHEMA, median_composite,
    )

    stack = spark.createDataFrame([], STACK_SCHEMA)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        median_composite(stack)


def test_ols_trend_and_mad_outliers_designed(spark):
    """OLS: exact fit on a designed line y=3x+7 (slope_q6 == 3.0,
    intercept 7.0, residual-free), degenerate single-x group -> NULL
    slope. MAD: a group with one wild value flags exactly that value;
    zero-MAD group flags every deviating row."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        group_ols_trend, mad_outliers,
    )

    line = [("a", x, 3 * x + 7) for x in range(10)] + [("b", 5, 1), ("b", 5, 9)]
    df = spark.createDataFrame(line, "g string, x long, y long")
    got = {r.g: r for r in group_ols_trend(df, ["g"], "x", "y").collect()}
    assert got["a"].slope_q6 == 3.0 and got["a"].intercept_q6 == 7.0
    assert got["b"].slope_den == 0 and got["b"].slope_q6 is None

    vals = [("g1", v) for v in [10, 11, 12, 13, 14, 1000]] + [
        ("g2", v) for v in [5, 5, 5, 5, 8]
    ]
    df2 = spark.createDataFrame(vals, "g string, y long")
    out = {r.g: r for r in mad_outliers(df2, ["g"], "y").collect()}
    g1 = out["g1"]
    # median of 10..14,1000 (lower, n=6 -> rank 3) = 12; adevs 2,1,0,1,2,988
    # MAD (rank 3 of 0,1,1,2,2,988) = 1 -> only 988 > 3
    assert (g1.med, g1.mad, g1.n_outliers, g1.max_adev) == (12, 1, 1, 988)
    g2 = out["g2"]
    # median 5, adevs 0,0,0,0,3 -> MAD 0: the single deviating row flags
    assert (g2.med, g2.mad, g2.n_outliers) == (5, 0, 1)


def test_adaptive_quadtree_invariants(spark):
    """Leaves partition the point set: every point covered exactly once;
    each non-root leaf's parent exceeds cap; non-overflow leaves are
    within cap; overflow only at max depth. Brute-force replica check."""
    import random

    from instageo_e2e_geospatial_ml_spark.operators.quadtree import (
        adaptive_quadtree,
    )

    rng = random.Random(42)
    bits, md, cap = 6, 3, 12
    pts = [
        (rng.randrange(64) >> (1 if i % 3 else 0), rng.randrange(64))
        for i in range(800)
    ]
    df = spark.createDataFrame(pts, "px long, py long")
    leaves = adaptive_quadtree(
        df, extent_bits=bits, max_depth=md, cap=cap
    ).collect()

    # exact counts per cell at every depth
    from collections import Counter

    by_depth = [
        Counter((px >> (bits - d), py >> (bits - d)) for px, py in pts)
        for d in range(md + 1)
    ]
    total = 0
    seen = set()
    for r in leaves:
        key = (r.depth, r.cx, r.cy)
        assert key not in seen
        seen.add(key)
        assert by_depth[r.depth][(r.cx, r.cy)] == r.n_points
        total += r.n_points
        if r.depth > 0:
            assert by_depth[r.depth - 1][(r.cx >> 1, r.cy >> 1)] > cap
        assert r.overflow == (r.n_points > cap)
        if r.n_points > cap:
            assert r.depth == md
    assert total == len(pts)

    # point-level partition: every point lands in exactly one leaf
    leaf_keys = {(r.depth, r.cx, r.cy) for r in leaves}
    for px, py in pts:
        hits = [
            d
            for d in range(md + 1)
            if (d, px >> (bits - d), py >> (bits - d)) in leaf_keys
        ]
        assert len(hits) == 1


def test_adaptive_quadtree_root_and_max_depth_edges(spark):
    from instageo_e2e_geospatial_ml_spark.operators.quadtree import (
        adaptive_quadtree,
    )

    # all points in one corner, under cap -> single depth-0 leaf
    df = spark.createDataFrame([(0, 0)] * 5, "px long, py long")
    out = adaptive_quadtree(df, extent_bits=4, max_depth=3, cap=10).collect()
    assert len(out) == 1 and out[0].depth == 0 and out[0].n_points == 5

    # one hot point repeated beyond cap -> drills to max depth, overflow
    df2 = spark.createDataFrame([(3, 3)] * 50, "px long, py long")
    out2 = adaptive_quadtree(df2, extent_bits=4, max_depth=2, cap=10).collect()
    assert len(out2) == 1
    assert out2[0].depth == 2 and out2[0].overflow and out2[0].n_points == 50

    # max_depth=0 degenerates to a plain grid count with overflow flags
    out3 = adaptive_quadtree(df2, extent_bits=4, max_depth=0, cap=10).collect()
    assert len(out3) == 1 and out3[0].depth == 0 and out3[0].overflow


def _hilbert_ref(bits, x, y):
    """Pure-Python xy2d (Wikipedia public-domain recurrence)."""
    n = 1 << bits
    d, s = 0, n >> 1
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


def test_hilbert_key_bijection_adjacency_and_parity(spark):
    from instageo_e2e_geospatial_ml_spark.functions.zorder import (
        hilbert_key,
    )

    # exhaustive at order 4: bijective onto [0, 256) and every pair of
    # consecutive keys is a grid NEIGHBOR — the defining Hilbert
    # property (Z-order violates it at every 4-cell boundary)
    pts = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(pts, "x long, y long")
    rows = hilbert_key(df, bits=4).collect()
    pos = {r.hilbert: (r.x, r.y) for r in rows}
    assert sorted(pos) == list(range(256))
    for d in range(255):
        (x0, y0), (x1, y1) = pos[d], pos[d + 1]
        assert abs(x0 - x1) + abs(y0 - y1) == 1
    # parity vs the reference recurrence at order 8
    import random

    rng = random.Random(7)
    sample = [(rng.randrange(256), rng.randrange(256)) for _ in range(300)]
    df8 = spark.createDataFrame(sample, "x long, y long")
    got = {(r.x, r.y): r.hilbert for r in hilbert_key(df8, bits=8).collect()}
    for x, y in sample:
        assert got[(x, y)] == _hilbert_ref(8, x, y)


def test_hilbert_key_plan_stays_jvm(spark):
    from instageo_e2e_geospatial_ml_spark.functions.zorder import (
        hilbert_key,
    )

    df = spark.range(100).selectExpr(
        "id % 256 as x", "(id * 7) % 256 as y"
    )
    out = hilbert_key(df, bits=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # the per-level fold must stay inside whole-stage codegen (the
    # "*(n)" stage prefix in the simple plan format)
    assert plan.lstrip().startswith("*(")


def test_hll_estimate_error_envelope_and_merge(spark):
    """Register merge (elementwise max) equals the sketch of the union —
    the distributed-merge property the groupBy relies on."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import hll_registers

    p = 9
    df = spark.range(20000).selectExpr("CAST(id AS STRING) AS k")
    regs = hll_registers(df, key_col="k", p=p)

    # merge property: max-merge of two half sketches == union sketch
    a = spark.range(0, 12000).selectExpr("CAST(id AS STRING) AS k")
    b = spark.range(8000, 20000).selectExpr("CAST(id AS STRING) AS k")
    ra = hll_registers(a, key_col="k", p=p)
    rb = hll_registers(b, key_col="k", p=p)
    from pyspark.sql import functions as F2

    merged = (
        ra.unionByName(rb)
        .groupBy("reg")
        .agg(F2.max("rho_max").alias("rho_max"))
    )
    union_sketch = {
        (r.reg, r.rho_max) for r in regs.collect()
    }
    assert {(r.reg, r.rho_max) for r in merged.collect()} == union_sketch


def test_rect_union_area_brute_force_parity(spark):
    """Sweep result equals painting a bitmap, over random overlapping,
    nested, duplicated, and degenerate rectangles in several groups."""
    import random

    from instageo_e2e_geospatial_ml_spark.operators.geometry import (
        rect_union_area,
    )

    rng = random.Random(11)
    rows = []
    for grp in ("a", "b", "c"):
        for _ in range(40):
            x1 = rng.randrange(100)
            y1 = rng.randrange(100)
            rows.append(
                (grp, x1, y1, x1 + rng.randrange(0, 30), y1 + rng.randrange(0, 30))
            )
        rows.append((grp, 5, 5, 5, 40))  # degenerate (zero width)
        rows.append((grp, 0, 0, 130, 130))  # near-cover, nests many
        rows.append((grp, 0, 0, 130, 130))  # exact duplicate
    df = spark.createDataFrame(
        rows, "grp string, x1 long, y1 long, x2 long, y2 long"
    )
    got = {
        r.grp: (r.n_rects, r.area)
        for r in rect_union_area(df, bucket_width=16).collect()
    }
    import numpy as np

    for grp in ("a", "b", "c"):
        paint = np.zeros((200, 200), dtype=bool)
        n_valid = 0
        for g, x1, y1, x2, y2 in rows:
            if g == grp and x1 < x2 and y1 < y2:
                paint[x1:x2, y1:y2] = True
                n_valid += 1
        assert got[grp] == (n_valid, int(paint.sum()))


def test_rect_union_area_edge_cases(spark):
    from instageo_e2e_geospatial_ml_spark.operators.geometry import (
        rect_union_area,
    )

    # disjoint pair + touching pair (half-open: touching edges don't
    # double-count, and there is no gap slab between [0,2) and [2,4))
    df = spark.createDataFrame(
        [
            ("d", 0, 0, 2, 2),
            ("d", 10, 10, 12, 12),
            ("t", 0, 0, 2, 2),
            ("t", 2, 0, 4, 2),
        ],
        "grp string, x1 long, y1 long, x2 long, y2 long",
    )
    got = {r.grp: (r.area, r.n_slabs) for r in rect_union_area(df).collect()}
    assert got["d"] == (8, 2)
    assert got["t"] == (8, 2)

    # all-degenerate group: zero area, zero slabs, zero valid rects
    dg = spark.createDataFrame(
        [("z", 1, 1, 1, 5)], "grp string, x1 long, y1 long, x2 long, y2 long"
    )
    assert rect_union_area(dg).collect() == []


def test_convex_hull_designed_and_random(spark):
    from instageo_e2e_geospatial_ml_spark.operators.geometry import (
        convex_hull,
    )

    rows = []
    # square with collinear edge midpoints: collinear boundary points
    # are KEPT (8 vertices), area2 = 2*16
    sq = [(0, 0), (2, 0), (4, 0), (4, 2), (4, 4), (2, 4), (0, 4), (0, 2)]
    rows += [("sq", x, y) for x, y in sq] + [("sq", 2, 2), ("sq", 1, 3)]
    # all-collinear group: every point is a hull vertex, area 0
    rows += [("line", i, 2 * i) for i in range(5)]
    # duplicates collapse
    rows += [("dup", 0, 0)] * 3 + [("dup", 5, 0), ("dup", 0, 5)]
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    out = convex_hull(df).collect()
    by = {}
    for r in out:
        by.setdefault(r.grp, []).append(r)
    assert {(r.vx, r.vy) for r in by["sq"]} == set(sq)
    assert by["sq"][0].n_hull == 8 and by["sq"][0].area2 == 32
    assert by["line"][0].n_hull == 5 and by["line"][0].area2 == 0
    assert {(r.vx, r.vy) for r in by["dup"]} == {(0, 0), (5, 0), (0, 5)}
    assert by["dup"][0].area2 == 25 * 2 // 2  # triangle 5x5/2 -> area2=25

    # random parity vs a brute-force "extreme point + paint" check:
    # every returned vertex is extreme (not strictly inside the hull of
    # the others is hard to brute force; instead verify area via the
    # painted-grid monotonicity: hull area >= area of any triangle of
    # returned vertices, and all input points lie inside the hull)
    import random

    rng = random.Random(3)
    pts = [(rng.randrange(50), rng.randrange(50)) for _ in range(200)]
    df2 = spark.createDataFrame(
        [("r", x, y) for x, y in pts], "grp string, x long, y long"
    )
    hull = [(r.vx, r.vy) for r in convex_hull(df2).collect()]
    # all input points inside or on the hull: for each directed hull
    # edge of the CCW ring (recover ring order by angle about the
    # centroid), every point has cross >= 0
    cx = sum(x for x, _ in hull) / len(hull)
    cy = sum(y for _, y in hull) / len(hull)
    import math

    ring = sorted(hull, key=lambda v: math.atan2(v[1] - cy, v[0] - cx))
    for i in range(len(ring)):
        a, b = ring[i], ring[(i + 1) % len(ring)]
        for p in pts:
            cr = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (
                p[0] - a[0]
            )
            assert cr >= 0, (a, b, p)


def test_cms_estimate_bounds_and_merge(spark):
    """Cellwise-sum merge of two half sketches equals the full-build
    sketch."""
    from pyspark.sql import functions as F2

    from instageo_e2e_geospatial_ml_spark.operators.stats import cms_build

    # zipf-ish frequencies: key i appears 1000//(i+1) times
    rows = [(f"k{i}",) for i in range(80) for _ in range(1000 // (i + 1))]
    df = spark.createDataFrame(rows, "k string")
    sk = cms_build(df, key_col="k")

    # merge = cellwise sum
    half1 = spark.createDataFrame(rows[: len(rows) // 2], "k string")
    half2 = spark.createDataFrame(rows[len(rows) // 2 :], "k string")
    s1 = cms_build(half1, key_col="k")
    s2 = cms_build(half2, key_col="k")
    merged = (
        s1.unionByName(s2)
        .groupBy("row", "bucket")
        .agg(F2.sum("cnt").alias("cnt"))
    )
    full = {(r.row, r.bucket): r.cnt for r in sk.collect()}
    assert {(r.row, r.bucket): r.cnt for r in merged.collect()} == full


def test_feature_hash_replica_and_cancellation(spark):
    import hashlib

    from instageo_e2e_geospatial_ml_spark.functions.text import feature_hash

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "  beta   gamma "), (3, "")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.idx): r.val
        for r in feature_hash(docs, n_bits=6).collect()
    }

    def cell(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return h & 63, 1 if (h & 64) == 0 else -1

    from collections import defaultdict

    ref = defaultdict(int)
    for did, text in [(1, "alpha beta alpha"), (2, "beta gamma")]:
        for tok in text.split():
            idx, s = cell(tok)
            ref[(did, idx)] += s
    ref = {k: v for k, v in ref.items() if v != 0}
    assert got == ref  # exact replica, empty doc contributes nothing


def test_gap_fill_locf_designed(spark):
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        gap_fill_locf,
    )

    obs = spark.createDataFrame(
        [("a", 10, 5), ("a", 13, 7), ("a", 14, 2), ("b", 100, 9)],
        "key string, slot long, val long",
    )
    rows = {
        (r.key, r.slot): (r.val, r.filled, r.is_gap)
        for r in gap_fill_locf(obs).collect()
    }
    assert rows[("a", 10)] == (5, 5, False)
    assert rows[("a", 11)] == (None, 5, True)  # filled forward
    assert rows[("a", 12)] == (None, 5, True)
    assert rows[("a", 13)] == (7, 7, False)
    assert rows[("a", 14)] == (2, 2, False)
    assert rows[("b", 100)] == (9, 9, False)
    assert len(rows) == 6  # dense grid exactly spans each key


def test_range_split_points_exact_and_balanced(spark):
    """Boundaries equal brute-force sorted ranks, and bucketing rows by
    the boundaries yields partitions within one boundary-value run of
    the ideal size — on a heavy-tailed (zipf-ish) distribution where
    sampling-based partitioners mis-size."""
    import random

    from instageo_e2e_geospatial_ml_spark.operators.skew import (
        range_split_points,
    )

    rng = random.Random(5)
    # heavy tail: many duplicates of small values
    vals = [rng.randrange(1 + rng.randrange(1, 1000)) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    n_parts = 8
    got = sorted(
        (r.split_idx, r.target_rank, r.split_value, r.cum_at_split)
        for r in range_split_points(df, "x", n_parts).collect()
    )
    s = sorted(vals)
    n = len(s)
    for i, (si, tr, sv, cum) in enumerate(got, start=1):
        assert si == i
        t = (i * n + n_parts - 1) // n_parts
        assert tr == t
        assert sv == s[t - 1]  # value at the target rank (1-indexed)
        # cum_at_split = count of elements <= split_value
        assert cum == sum(1 for v in vals if v <= sv)


def test_gram_matrix_numpy_parity_and_pca(spark):
    """Distributed partial-matmul Gram equals one whole-matrix numpy
    matmul, and the PCA use-case works: the top eigenvector of the
    Gram of a designed anisotropic cloud recovers the stretch axis."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.linalg import gram_matrix

    rng = np.random.RandomState(9)
    d, n = 16, 400
    # stretch 10x along axis 0 rotated into (1,1)/sqrt(2) of dims 0,1
    base = rng.randn(n, d) * 0.05
    t = rng.randn(n) * 0.5
    base[:, 0] += t / np.sqrt(2)
    base[:, 1] += t / np.sqrt(2)
    df = spark.createDataFrame(
        [(row.astype(float).tolist(),) for row in base],
        "embedding array<float>",
    ).repartition(8)
    cells = gram_matrix(df).collect()
    g = np.zeros((d, d), dtype=np.int64)
    for r in cells:
        g[r.i - 1, r.j - 1] = r.g
        g[r.j - 1, r.i - 1] = r.g

    x32 = base.astype(np.float32)  # spark stores float32; match it
    q = (
        np.sign(x32.astype(np.float64))
        * np.floor(np.abs(x32.astype(np.float64)) * 100 + 0.5)
    ).astype(np.int64)
    assert np.array_equal(g, q.T @ q)

    evals, evecs = np.linalg.eigh(g.astype(np.float64))
    top = evecs[:, -1]
    want = np.zeros(d)
    want[0] = want[1] = 1 / np.sqrt(2)
    assert abs(abs(top @ want) - 1.0) < 0.05


def test_jl_projection_determinism_and_distance_preservation(spark):
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.linalg import jl_project

    rng = np.random.RandomState(21)
    x = rng.randn(60, 64) * 0.2
    df = spark.createDataFrame(
        [(i, row.astype(float).tolist()) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    out1 = {
        (r.vec_id, r.k): r.y for r in jl_project(df, d_out=24).collect()
    }
    out2 = {
        (r.vec_id, r.k): r.y
        for r in jl_project(df.repartition(13), d_out=24).collect()
    }
    assert out1 == out2  # partitioning-independent (pure-function matrix)

    y = np.zeros((60, 24))
    for (i, k), v in out1.items():
        y[i, k - 1] = v
    # JL property: squared distances scale by ~d_out (sign matrix,
    # E[|Ru|^2] = d_out |u|^2); check the median distortion is tight
    q = (np.sign(x) * np.floor(np.abs(x) * 100 + 0.5)).astype(np.int64)
    d_in2, d_out2 = [], []
    for a in range(0, 40, 3):
        for b in range(a + 1, 40, 7):
            d_in2.append(((q[a] - q[b]) ** 2).sum())
            d_out2.append(((y[a] - y[b]) ** 2).sum())
    ratios = np.array(d_out2) / (24 * np.array(d_in2))
    assert 0.7 < np.median(ratios) < 1.3


def _classic_dp(pts, tol2):
    """Textbook recursive Douglas-Peucker (line-distance variant),
    farthest point split, ties to lowest index."""
    keep = {0, len(pts) - 1}

    def rec(lo, hi):
        if hi - lo < 2:
            return
        ax, ay = pts[lo]
        bx, by = pts[hi]
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        best, bi = -1, None
        for idx in range(lo + 1, hi):
            px, py = pts[idx]
            if len2 == 0:
                m2 = (px - ax) ** 2 + (py - ay) ** 2
                over = m2 > tol2
            else:
                cr = dx * (py - ay) - dy * (px - ax)
                m2 = cr * cr
                over = m2 > tol2 * len2
            if over and m2 > best:
                best, bi = m2, idx
        if bi is not None:
            keep.add(bi)
            rec(lo, bi)
            rec(bi, hi)

    rec(0, len(pts) - 1)
    return sorted(keep)


def test_dp_simplify_matches_classic_recursion(spark):
    """Bounded-round insertion == classic recursive DP once converged,
    including degenerate closed loops (identical endpoints) and
    straight runs; one extra round is a fixed point."""
    import random

    from instageo_e2e_geospatial_ml_spark.operators.simplify import (
        dp_simplify,
    )

    rng = random.Random(4)
    groups = {}
    for gname in ("w1", "w2", "w3"):
        n = rng.randrange(30, 70)
        yv, pts = rng.randrange(300), []
        for idx in range(n):
            yv = (yv + rng.randrange(-6, 7)) % 1024
            if rng.random() < 0.08:
                yv = (yv + 250) % 1024
            pts.append((idx * 5, yv))
        groups[gname] = pts
    groups["loop"] = [(0, 0), (50, 5), (100, 200), (50, 400), (0, 0)]
    groups["straight"] = [(i * 7, i * 3) for i in range(20)]
    rows = [
        (g, idx, px, py)
        for g, pts in groups.items()
        for idx, (px, py) in enumerate(pts)
    ]
    df = spark.createDataFrame(rows, "g string, i long, x long, y long")
    for rounds in (8, 9):
        got = {}
        for r in dp_simplify(df, tol2=64, rounds=rounds).collect():
            got.setdefault(r.g, []).append(r.i)
        for g, pts in groups.items():
            assert sorted(got[g]) == _classic_dp(pts, 64), (g, rounds)
    # straight line collapses to its endpoints
    assert sorted(got["straight"]) == [0, 19]


def test_skyline2d_brute_force_parity(spark):
    import random

    from instageo_e2e_geospatial_ml_spark.operators.stats import skyline2d

    rng = random.Random(17)
    rows = [
        (g, rng.randrange(60), rng.randrange(60))
        for g in ("a", "b")
        for _ in range(300)
    ]
    rows += [("edge", 5, 5), ("edge", 5, 5), ("edge", 5, 9), ("edge", 9, 5)]
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = {}
    for r in skyline2d(df, "x", "y", group_cols=["grp"]).collect():
        got.setdefault(r.grp, set()).add((r.x, r.y))

    def dominated(p, pts):
        return any(
            q != p and q[0] <= p[0] and q[1] <= p[1] for q in pts
        )

    for g in ("a", "b", "edge"):
        pts = {(x, y) for gg, x, y in rows if gg == g}
        want = {p for p in pts if not dominated(p, pts)}
        assert got[g] == want
    assert got["edge"] == {(5, 5)}  # duplicates don't dominate each other


def test_largest_remainder_invariants(spark):
    """Shares are integers summing exactly to the total; each share is
    within 1 of the exact proportional value (the Hamilton quota rule);
    zero-weight groups yield NULLs."""
    import random

    from pyspark.sql import functions as F2

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        largest_remainder,
    )

    rng = random.Random(23)
    rows = []
    for g in range(20):
        n = rng.randrange(1, 8)
        total = rng.randrange(0, 1000)
        for i in range(n):
            rows.append((g, i, rng.randrange(0, 50), total))
    rows.append((99, 0, 0, 100))  # zero-weight group
    rows.append((99, 1, 0, 100))
    df = spark.createDataFrame(
        rows, "grp long, id long, w long, total long"
    )
    out = largest_remainder(
        df, group_col="grp", weight_col="w", total_col="total", id_col="id"
    ).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.grp, []).append(r)
    totals = {g: t for g, _, _, t in rows}
    weights = {}
    for g, i, w, _ in rows:
        weights.setdefault(g, {})[i] = w
    for g, members in by_g.items():
        wsum = sum(weights[g].values())
        if wsum == 0:
            assert all(m.share is None for m in members)
            continue
        assert sum(m.share for m in members) == totals[g]
        for m in members:
            exact = totals[g] * weights[g][m.id] / wsum
            assert exact - 1 < m.share < exact + 1


def test_weighted_percentiles_brute_force(spark):
    import random

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        weighted_percentiles,
    )

    rng = random.Random(31)
    rows = [
        ("g1", rng.randrange(100), rng.randrange(0, 10))
        for _ in range(500)
    ] + [("g2", 5, 3), ("g2", 7, 1), ("g2", 9, 0)]  # zero weight dropped
    df = spark.createDataFrame(rows, "grp string, v long, w long")
    fracs = [(25, 100), (50, 100), (75, 100), (90, 100)]
    got = {
        (r.grp, r.pct_num): r.value
        for r in weighted_percentiles(
            df, ["grp"], "v", "w", fractions=fracs
        ).collect()
    }
    for g in ("g1", "g2"):
        data = [(v, w) for gg, v, w in rows if gg == g and w > 0]
        tw = sum(w for _, w in data)
        for num, den in fracs:
            cum = 0
            want = None
            for v, w in sorted(data):
                cum += w
                if cum * den >= num * tw:
                    want = v
                    break
            assert got[(g, num)] == want, (g, num)
    # g2: weights 3 on 5, 1 on 7 -> median (50%) is 5, 90% is 7
    assert got[("g2", 50)] == 5 and got[("g2", 90)] == 7


def test_categorical_association_known_values(spark):
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        categorical_association,
    )

    # classic textbook 2x2: a=10 b=20 c=30 d=40
    rows = (
        [("s", 1, 1)] * 10
        + [("s", 1, 0)] * 20
        + [("s", 0, 1)] * 30
        + [("s", 0, 0)] * 40
        + [("empty_den", 1, 1)] * 5  # one empty margin -> NULL chi2
    )
    df = spark.createDataFrame(rows, "grp string, treat int, outcome int")
    out = {r.grp: r for r in categorical_association(df, "grp", "treat", "outcome").collect()}
    s = out["s"]
    assert (s.a, s.b, s.c, s.d, s.n) == (10, 20, 30, 40, 100)
    # chi2 = 100*(400-600)^2 / (30*70*40*60) = 100*40000/5040000
    assert s.chi2_num == 100 * (10 * 40 - 20 * 30) ** 2
    assert s.chi2_den == 30 * 70 * 40 * 60
    assert abs(s.chi2_q6 - round(4000000 / 5040000, 6)) < 1e-12
    # gini of outcome margin (40 vs 60): 1 - 0.4^2 - 0.6^2 = 0.48
    assert abs(s.gini_q6 - 0.48) < 1e-12
    e = out["empty_den"]
    assert e.chi2_q6 is None and e.gini_q6 == 0.0


def test_mann_whitney_u_vs_reference(spark):
    """U and z match a direct pairwise-comparison computation (U = #
    (treat > control) + half ties) on designed data with heavy ties."""
    import random

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        mann_whitney_u,
    )

    rng = random.Random(13)
    rows = [("g", 1, rng.randrange(10)) for _ in range(80)] + [
        ("g", 0, rng.randrange(12)) for _ in range(60)
    ]
    df = spark.createDataFrame(rows, "grp string, treat int, v long")
    r = mann_whitney_u(df, "grp", "treat", "v").collect()[0]
    t = sorted(v for _, tr, v in rows if tr == 1)
    c = sorted(v for _, tr, v in rows if tr == 0)
    u2 = 0  # doubled U: 2 per win, 1 per tie
    for tv in t:
        for cv in c:
            u2 += 2 if tv > cv else (1 if tv == cv else 0)
    assert (r.n1, r.n2) == (80, 60)
    assert r.u1x2 == u2
    # z sanity: tie-corrected normal approximation
    import math

    n1, n2, n = 80, 60, 140
    from collections import Counter

    ties = Counter(v for _, _, v in rows)
    tie3 = sum(x**3 - x for x in ties.values())
    var = n1 * n2 / 12 * ((n + 1) - tie3 / (n * (n - 1)))
    z = (u2 - n1 * n2) / (2 * math.sqrt(var))
    assert abs(r.z_q6 - round(z, 6)) < 1e-9


def test_corr_matrix_vs_numpy(spark):
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.stats import corr_matrix

    rng = np.random.RandomState(41)
    a = rng.randint(0, 50, 300)
    b = 2 * a + rng.randint(0, 10, 300)  # strongly correlated
    c = rng.randint(0, 50, 300)  # independent
    d = np.full(300, 7)  # zero variance -> NULL corr
    rows = [
        ("g", int(a[i]), int(b[i]), int(c[i]), int(d[i]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "grp string, a long, b long, c long, d long")
    out = {
        (r.m1, r.m2): r.corr_q6
        for r in corr_matrix(df, "grp", ["a", "b", "c", "d"]).collect()
    }
    assert abs(out[("a", "b")] - round(float(np.corrcoef(a, b)[0, 1]), 6)) < 2e-6
    assert abs(out[("a", "c")] - round(float(np.corrcoef(a, c)[0, 1]), 6)) < 2e-6
    assert out[("a", "d")] is None and out[("c", "d")] is None
    assert out[("a", "b")] > 0.99


def test_vocab_encode_designed(spark):
    from instageo_e2e_geospatial_ml_spark.functions.text import (
        build_vocab_encode,
    )

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat bird"),
            (2, "dog cat dog"),
            (3, "  emu  "),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    vocab, enc = build_vocab_encode(docs, min_count=2)
    v = {r.tok: (r.cnt, r.tok_id) for r in vocab.collect()}
    # counts: cat 3, dog 3, bird 1, emu 1 -> vocab = cat/dog (tie ->
    # lexicographic: cat=1, dog=2); bird/emu OOV
    assert v == {"cat": (3, 1), "dog": (3, 2)}
    e = {(r.doc_id, r.pos): r.tok_id for r in enc.collect()}
    assert e[(1, 1)] == 1 and e[(1, 2)] == 2 and e[(1, 3)] == 1
    assert e[(1, 4)] == 0  # bird OOV
    assert e[(2, 1)] == 2 and e[(3, 1)] == 0  # emu OOV at pos 1
    assert (4, 1) not in e  # empty doc emits nothing


def test_time_weighted_avg_designed(spark):
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        time_weighted_avg,
    )

    rows = [
        # key a: value 10 for 3 units, 20 for 1 unit -> twap 12.5
        ("a", 0, 0, 10),
        ("a", 3, 1, 20),
        ("a", 4, 2, 99),  # open last interval: no contribution
        # key b: single obs -> no intervals, absent from output
        ("b", 5, 3, 7),
        # key c: duplicate timestamps (tie-broken by id; zero dwell)
        ("c", 0, 4, 1),
        ("c", 0, 5, 2),
        ("c", 10, 6, 3),
    ]
    df = spark.createDataFrame(rows, "k string, t long, eid long, v long")
    out = {
        r.k: (r.twap_num, r.twap_den, r.twap_q6)
        for r in time_weighted_avg(
            df, key_col="k", ts_col="t", val_col="v", tiebreak_col="eid"
        ).collect()
    }
    assert out["a"] == (10 * 3 + 20 * 1, 4, 12.5)
    assert "b" not in out
    # c: (0-dwell tie) then value 2 holds for 10 units -> twap 2
    assert out["c"] == (20, 10, 2.0)


def test_greedy_coverage_brute_force_and_submodularity(spark):
    from instageo_e2e_geospatial_ml_spark.operators.coverage import (
        greedy_coverage,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c"),
            (3, "f g"),
            (4, "d e f g h"),
            (5, "h"),
            (6, ""),
        ],
        "doc_id long, text string",
    )
    out = greedy_coverage(docs, k=6, shingle=1).collect()
    # brute-force replica of the greedy chain
    sets = {
        1: {"a", "b", "c", "d", "e"},
        2: {"a", "b", "c"},
        3: {"f", "g"},
        4: {"d", "e", "f", "g", "h"},
        5: {"h"},
        6: set(),
    }
    covered = set()
    want = []
    while True:
        gains = {
            d: len(s - covered) for d, s in sets.items() if len(s - covered)
        }
        if not gains:
            break
        best = min(
            gains, key=lambda d: (-gains[d], d)
        )  # max gain, lowest id
        want.append((len(want) + 1, best, gains[best]))
        covered |= sets[best]
    got = [(r.round, r.doc_id, r.gain) for r in out]
    assert got == want
    # submodularity: gains non-increasing; early stop before k
    gains_seq = [r.gain for r in out]
    assert gains_seq == sorted(gains_seq, reverse=True)
    assert len(out) < 6
    assert out[-1].covered_after == len(
        sets[1] | sets[3] | sets[4] | sets[5]
    ) == 8


def test_decayed_counts_designed(spark):
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        decayed_counts,
    )

    rows = [
        # key a, latest slot 10: v=8 at age 0, 1, 3 -> 8 + 4 + 1 = 13
        ("a", 10, 8),
        ("a", 9, 8),
        ("a", 7, 8),
        # ancient event decays to exactly 0 via the age cap
        ("a", 10 - 100, 1 << 62),
        # key b: single event, no decay
        ("b", 5, 42),
    ]
    df = spark.createDataFrame(rows, "k string, slot long, v long")
    out = {
        r.k: (r.last_slot, r.n_events, r.decayed)
        for r in decayed_counts(df, key_col="k", val_col="v").collect()
    }
    assert out["a"] == (10, 4, 13)
    assert out["b"] == (5, 1, 42)

    # half_life_slots=2: ages 0,1 undecayed; ages 2,3 halved
    df2 = spark.createDataFrame(
        [("c", 4, 8), ("c", 3, 8), ("c", 2, 8), ("c", 1, 8)],
        "k string, slot long, v long",
    )
    out2 = decayed_counts(df2, key_col="k", val_col="v", half_life_slots=2).collect()[0]
    assert out2.decayed == 8 + 8 + 4 + 4


def test_hilbert_ranges_exact_coverage_and_pruning(spark, tmp_path):
    """The range planner covers a query box exactly (random trials +
    aligned quadrant = 1 range), and its BETWEEN predicates prune a
    Hilbert-clustered layout to a small file subset while returning
    exactly the box's rows."""
    import random

    from pyspark.sql import functions as F2

    from instageo_e2e_geospatial_ml_spark.functions.zorder import (
        hilbert_key,
        hilbert_ranges,
        hilbert_xy2d,
    )
    from instageo_e2e_geospatial_ml_spark.operators.skew import (
        write_clustered,
    )

    rng = random.Random(6)
    for _ in range(40):
        bits = rng.randrange(2, 6)
        n = 1 << bits
        x0, x1 = sorted(rng.randrange(n) for _ in range(2))
        y0, y1 = sorted(rng.randrange(n) for _ in range(2))
        ranges = hilbert_ranges(bits, x0, y0, x1, y1, max_ranges=10**9)
        want = {
            hilbert_xy2d(bits, x, y)
            for x in range(x0, x1 + 1)
            for y in range(y0, y1 + 1)
        }
        got = set()
        for lo, hi in ranges:
            got |= set(range(lo, hi + 1))
        assert got == want
        for i in range(len(ranges) - 1):
            assert ranges[i][1] + 1 < ranges[i + 1][0]
    # aligned quadrant -> exactly one contiguous range
    assert len(hilbert_ranges(6, 16, 32, 31, 47, max_ranges=10**9)) == 1
    # max_ranges cap only ADDS keys (pruning stays correct)
    capped = hilbert_ranges(5, 3, 3, 20, 9, max_ranges=3)
    exact = hilbert_ranges(5, 3, 3, 20, 9, max_ranges=10**9)
    assert len(capped) <= 3
    exact_keys = set()
    for lo, hi in exact:
        exact_keys |= set(range(lo, hi + 1))
    for k in exact_keys:
        assert any(lo <= k <= hi for lo, hi in capped)

    # end-to-end pruning on a clustered layout
    bits = 6
    pts = spark.range(1 << (2 * bits)).select(
        (F2.col("id") % (1 << bits)).alias("x"),
        (F2.col("id") / (1 << bits)).cast("long").alias("y"),
    )
    keyed = hilbert_key(pts, bits=bits)
    out = str(tmp_path / "hclustered")
    write_clustered(keyed, out, "hilbert", num_files=16)
    box = (8, 8, 15, 23)  # 8x16 box
    ranges = hilbert_ranges(bits, *box, max_ranges=8)
    pred = None
    for lo, hi in ranges:
        c = (F2.col("hilbert") >= lo) & (F2.col("hilbert") <= hi)
        pred = c if pred is None else (pred | c)
    scan = spark.read.parquet(out).filter(pred)
    rows = scan.collect()
    in_box = [
        r
        for r in rows
        if box[0] <= r.x <= box[2] and box[1] <= r.y <= box[3]
    ]
    # every box cell present exactly once after the exact refine
    assert len(in_box) == 8 * 16
    files = scan.select(F2.input_file_name().alias("f")).distinct().count()
    assert files <= 8  # the 16-file layout prunes to at most half


def test_decayed_counts_slot_aggregated_semantics(spark):
    """Same-slot events sum BEFORE the shift (the mergeable
    definition): two v=3 events one half-life old contribute
    (3+3)>>1 = 3, not (3>>1)+(3>>1) = 2."""
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        decayed_counts,
    )

    df = spark.createDataFrame(
        [("k", 1, 3), ("k", 1, 3), ("k", 2, 0)],
        "k string, slot long, v long",
    )
    out = decayed_counts(df, key_col="k", val_col="v").collect()[0]
    assert out.decayed == 3 and out.n_events == 3


def test_theil_sen_robustness_and_reference(spark):
    """Median pairwise slope matches a brute-force reference and
    shrugs off outliers that wreck the OLS slope."""
    import random
    from fractions import Fraction

    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        theil_sen_slope,
    )

    rng = random.Random(19)
    # y = 3x + noise, with 20% wild outliers
    rows = []
    for i in range(40):
        x = i
        y = 3 * x + rng.randrange(-2, 3)
        if i % 5 == 0:
            y += 500  # outlier
        rows.append(("g", x, y))
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    r = theil_sen_slope(df, "grp", "x", "y").collect()[0]

    slopes = []
    pts = [(x, y) for _, x, y in rows]
    for i in range(len(pts)):
        for j in range(len(pts)):
            a, b = pts[i], pts[j]
            if a[0] < b[0] or (a[0] == b[0] and a[1] < b[1]):
                if a[0] != b[0]:
                    slopes.append(
                        (Fraction(b[1] - a[1], b[0] - a[0]), b[1] - a[1], b[0] - a[0])
                    )
    slopes.sort()
    med = slopes[(len(slopes) + 1) // 2 - 1]
    assert r.n_pairs == len(slopes)
    assert Fraction(r.med_dy, r.med_dx) == med[0]
    # robust: slope stays near 3 despite the +500 outliers
    assert 2.8 < r.slope_q6 < 3.3


def test_greedy_coverage_short_docs_and_bigram_guard(spark):
    """Docs with one token or empty text must not crash the bigram
    shingle path (Spark's sequence(1, 0) is [1, 0], not empty) and
    contribute no bigrams — matching the DuckDB twin."""
    from instageo_e2e_geospatial_ml_spark.operators.coverage import (
        greedy_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "solo"), (3, ""), (4, "  x  ")],
        "doc_id long, text string",
    )
    out = greedy_coverage(docs, k=3, shingle=2).collect()
    # only doc 1 has bigrams: "a b", "b c"
    assert [(r.round, r.doc_id, r.gain) for r in out] == [(1, 1, 2)]


def test_time_weighted_avg_tie_deterministic_across_partitioning(spark):
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        time_weighted_avg,
    )

    rows = [("k", 0, 1, 10), ("k", 0, 2, 20), ("k", 5, 3, 0)]
    df = spark.createDataFrame(rows, "k string, t long, eid long, v long")
    vals = set()
    for parts in (1, 7):
        r = time_weighted_avg(
            df.repartition(parts),
            key_col="k",
            ts_col="t",
            val_col="v",
            tiebreak_col="eid",
        ).collect()[0]
        vals.add((r.twap_num, r.twap_den))
    # eid=2 (value 20) always owns the 5-unit interval
    assert vals == {(100, 5)}


def test_convex_hull_singleton_group_matches_sql_twin(spark):
    """A 1-distinct-point group emits (point, n_hull=1, area2=0) from
    BOTH the chain and the extreme-edge twin's singleton branch."""
    import duckdb

    from instageo_e2e_geospatial_ml_spark.operators.geometry import (
        convex_hull,
        convex_hull_sql,
    )

    rows = [("one", 7, 9), ("one", 7, 9), ("tri", 0, 0), ("tri", 4, 0), ("tri", 0, 4)]
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    got = sorted(
        (r.grp, r.vx, r.vy, r.n_hull, r.area2)
        for r in convex_hull(df).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(grp VARCHAR, x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO pts VALUES (?,?,?)", rows)
    want = sorted(
        map(tuple, con.execute(
            convex_hull_sql("SELECT grp, x, y FROM pts")
        ).fetchall())
    )
    assert got == want
    assert ("one", 7, 9, 1, 0) in got


def test_kaplan_meier_textbook_and_lifelines_free_reference(spark):
    """Classic KM worked example: known risk sets, censoring between
    event times, and the fixed-point survival within 1e-6 of the exact
    real-valued product at every step."""
    from fractions import Fraction

    from instageo_e2e_geospatial_ml_spark.operators.survival import (
        kaplan_meier,
    )

    # durations/events: events at 2 (x1), 5 (x2), censored at 3 and 6,
    # event at 8, censored at 8
    rows = [
        ("g", 2, 1),
        ("g", 3, 0),
        ("g", 5, 1),
        ("g", 5, 1),
        ("g", 6, 0),
        ("g", 8, 1),
        ("g", 8, 0),
    ]
    df = spark.createDataFrame(rows, "grp string, duration long, event long")
    out = {r.t: r for r in kaplan_meier(df).collect()}
    assert set(out) == {2, 5, 8}
    assert (out[2].n_at_risk, out[2].n_events) == (7, 1)
    assert (out[5].n_at_risk, out[5].n_events) == (5, 2)
    # censored-at-8 subject still at risk at 8 (standard convention)
    assert (out[8].n_at_risk, out[8].n_events, out[8].n_censored) == (2, 1, 1)

    exact = Fraction(1)
    fp = 1_000_000
    for t, n, d in [(2, 7, 1), (5, 5, 2), (8, 2, 1)]:
        exact *= Fraction(n - d, n)
        fp = fp * (n - d) // n
        assert out[t].surv_fp == fp
        assert abs(out[t].surv_fp - float(exact) * 1_000_000) <= len(out)
    # survival after the last event: 6/7 * 3/5 * 1/2 = 9/35
    assert abs(out[8].surv_fp / 1e6 - 9 / 35) < 5e-6


def test_isotonic_fit_properties(spark):
    """PAVA output is monotone, preserves the group mean (L2 projection
    property), equals y when y is already monotone, and pools a known
    violator block to its exact average."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        isotonic_fit,
    )

    rows = (
        [("mono", i, 2 * i) for i in range(8)]
        + [("pool", 0, 1), ("pool", 1, 5), ("pool", 2, 3), ("pool", 3, 9)]
        + [("rev", i, 10 - i) for i in range(5)]  # fully decreasing
    )
    df = spark.createDataFrame(rows, "grp string, x long, y long")
    by = {}
    for r in isotonic_fit(df, "grp", "x", "y").collect():
        by.setdefault(r.grp, {})[r.x] = r.fit_q6
    # already monotone -> identity
    assert by["mono"] == {i: float(2 * i) for i in range(8)}
    # violator (5, 3) pools to 4; rest untouched
    assert by["pool"] == {0: 1.0, 1: 4.0, 2: 4.0, 3: 9.0}
    # fully decreasing -> constant at the mean (10+9+8+7+6)/5 = 8
    assert by["rev"] == {i: 8.0 for i in range(5)}
    # monotone + mean-preserving for every group
    for g, fits in by.items():
        seq = [fits[x] for x in sorted(fits)]
        assert all(a <= b for a, b in zip(seq, seq[1:]))
        ys = [y for gg, x, y in rows if gg == g]
        assert abs(sum(seq) - sum(ys)) < 1e-6


def test_exact_stratified_split_invariants(spark):
    """Selected set is exactly `total` rows, per-stratum quotas within
    1 of proportionality, selection deterministic across partitioning,
    and tiny strata are never over-drawn."""
    import random

    from instageo_e2e_geospatial_ml_spark.operators.sampling import (
        exact_stratified_split,
    )

    rng = random.Random(8)
    rows = []
    did = 0
    for s_name, n in (("a", 500), ("b", 300), ("c", 150), ("tiny", 3)):
        for _ in range(n):
            rows.append((s_name, did))
            did += 1
    df = spark.createDataFrame(rows, "source string, doc_id long")
    total = 100
    sel = exact_stratified_split(
        df, stratum_col="source", id_col="doc_id", total=total
    ).collect()
    assert len(sel) == total
    from collections import Counter

    by = Counter(r.source for r in sel)
    n_all = len(rows)
    for s_name, n in (("a", 500), ("b", 300), ("c", 150), ("tiny", 3)):
        exact = total * n / n_all
        assert exact - 1 < by[s_name] < exact + 1
        assert by[s_name] <= n
    # deterministic across physical layout
    sel2 = exact_stratified_split(
        df.repartition(11), stratum_col="source", id_col="doc_id", total=total
    ).collect()
    assert {(r.source, r.doc_id) for r in sel} == {
        (r.source, r.doc_id) for r in sel2
    }


def test_windowed_funnel_horizon_and_greedy_anchor(spark):
    """windowed_funnel corners: (a) a chain completing AFTER the horizon
    from the FIRST step-1 event does not convert (greedy anchor — a
    later view would fit, but the rule pins the first); (b) a chain
    inside the horizon converts with the earliest qualifying event per
    stage; (c) step order is strict (same-ts does not chain); (d) users
    with no step-1 event are absent."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.funnel import (
        windowed_funnel,
    )

    t = lambda m: (pd.Timestamp("2024-01-01")
                   + pd.Timedelta(minutes=m)).to_pydatetime()
    rows = [
        # u1: full chain within 10 min horizon
        (1, t(0), "view"), (1, t(2), "click"), (1, t(4), "purchase"),
        # u2: anchor at t0; click at t15 is past the 10-min horizon even
        # though a second view at t14 would anchor a converting chain
        (2, t(0), "view"), (2, t(14), "view"), (2, t(15), "click"),
        # u3: click at same ts as view -> not strictly later
        (3, t(0), "view"), (3, t(0), "click"),
        # u4: click only, no view -> absent
        (4, t(0), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {r.u: (r.stage, r.anchor_us, r.last_us)
           for r in windowed_funnel(
               ev, ["view", "click", "purchase"],
               horizon_us=10 * 60 * 1000000).collect()}
    us = lambda m: int(pd.Timestamp("2024-01-01").value // 1000
                       + m * 60 * 1000000)
    assert set(out) == {1, 2, 3}
    assert out[1] == (3, us(0), us(4))
    assert out[2] == (1, us(0), us(0))
    assert out[3] == (1, us(0), us(0))


def test_target_encode_oof_exact_vs_python_replica(spark):
    """target_encode_oof vs an independent hashlib/dict replica of the
    same md5-fold + out-of-fold-mean rule: every (category, fold) cell
    matches exactly, including fold cells where the category has no rows
    and the prior fallback for single-fold categories."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.operators.encoding import (
        target_encode_oof,
    )

    rows = [(i, ["a", "b", "c"][i % 3], (i * 37) % 100 + 1)
            for i in range(60)]
    # category 'z' lives in exactly one fold -> its own fold's encoding
    # must fall back to the global prior
    zid = 1000
    while True:
        h = int(hashlib.md5(f"{zid}:oof".encode()).hexdigest()[:8], 16)
        if (h % 1000000) % 5 == 2:
            break
        zid += 1
    rows.append((zid, "z", 50))
    df = spark.createDataFrame(rows, "id long, cat string, t long")
    got = {(r.category, r.fold): (r.oof_sum, r.oof_cnt, r.enc_scaled)
           for r in target_encode_oof(df, "cat", "t", "id").collect()}

    fold = {i: (int(hashlib.md5(f"{i}:oof".encode()).hexdigest()[:8], 16)
                % 1000000) % 5 for i, _, _ in rows}
    fs, fc = {}, {}
    for i, c, t in rows:
        k = (c, fold[i])
        fs[k] = fs.get(k, 0) + t
        fc[k] = fc.get(k, 0) + 1
    p_sum = sum(t for _, _, t in rows)
    p_cnt = len(rows)
    exp = {}
    for c in {c for _, c, _ in rows}:
        cs = sum(v for (cc, _), v in fs.items() if cc == c)
        cn = sum(v for (cc, _), v in fc.items() if cc == c)
        for f in range(5):
            osum = cs - fs.get((c, f), 0)
            ocnt = cn - fc.get((c, f), 0)
            enc = (1000000 * osum) // ocnt if ocnt > 0 else \
                (1000000 * p_sum) // p_cnt
            exp[(c, f)] = (osum, ocnt, enc)
    assert got == exp
    assert got[("z", 2)][1] == 0  # prior fallback cell exercised


def test_event_pattern_matches_hand_trace(spark):
    """CEP regex matcher corners: ordering by (ts, event_id) not arrival,
    non-overlapping counts (vvv = one 'vv' match), unmapped types
    dropped from the sequence."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.funnel import (
        event_pattern_matches,
    )

    t = lambda m: (pd.Timestamp("2024-01-01")
                   + pd.Timedelta(minutes=m)).to_pydatetime()
    rows = [
        # u1 seq: v c c p v v v  (+ one unmapped 'other' in the middle)
        (1, 1, t(0), "view"), (1, 2, t(1), "click"),
        (1, 3, t(2), "click"), (1, 9, t(3), "other"),
        (1, 4, t(4), "purchase"), (1, 5, t(5), "view"),
        (1, 6, t(6), "view"), (1, 7, t(7), "view"),
        # u2: same-ts events ordered by event_id -> 'vc' not 'cv'
        (2, 10, t(0), "view"), (2, 11, t(0), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {r.u: r for r in event_pattern_matches(
        ev,
        {"view": "v", "click": "c", "purchase": "p"},
        {"convert": "vc+p", "bounce": "vv"},
    ).collect()}
    assert out[1].seq_len == 7          # vccpvvv
    assert out[1].n_convert == 1
    assert out[1].n_bounce == 1         # vvv -> one non-overlapping vv
    assert out[2].seq_len == 2
    assert out[2].n_convert == 0 and out[2].n_bounce == 0


def test_map_match_segments_vs_exact_rational_bruteforce(spark):
    """map_match_segments vs a Fraction-exact brute force over the same
    quantized-argmin rule: endpoint clamping (dot<=0 / dot>=len2),
    interior perpendicular distance, and seg-index tie-break."""
    from fractions import Fraction

    from instageo_e2e_geospatial_ml_spark.operators.trajectory import (
        map_match_segments,
    )

    route = [(0, 0), (10, 0), (10, 10), (0, 10)]
    pts = [(1, -5, -5), (2, 5, 3), (3, 12, 5), (4, 5, 12),
           (5, 10, 0), (6, 5, 5), (7, 0, 0)]
    df = spark.createDataFrame(pts, "pid long, px long, py long")
    got = {r.pid: (r.seg_idx, r.d2_scaled, r.t_scaled)
           for r in map_match_segments(df, route).collect()}

    S = 1_000_000
    exp = {}
    for pid, px, py in pts:
        best = None
        for i, ((ax, ay), (bx, by)) in enumerate(zip(route[:-1], route[1:])):
            wx, wy, dx, dy = px - ax, py - ay, bx - ax, by - ay
            dot, len2 = wx * dx + wy * dy, dx * dx + dy * dy
            if dot <= 0:
                d2, t = S * (wx * wx + wy * wy), 0
            elif dot >= len2:
                ex, ey = px - bx, py - by
                d2, t = S * (ex * ex + ey * ey), S
            else:
                cr = wx * dy - wy * dx
                d2 = (S * cr * cr) // len2
                t = (S * dot) // len2
            cand = (d2, i, t)
            if best is None or cand < best:
                best = cand
        exp[pid] = (best[1], best[0], best[2])
    assert got == exp
    # sanity: the exact rational distance agrees with the quantized pick
    # for the interior case (pid 2 -> segment 0, t = 1/2)
    assert got[2][0] == 0 and got[2][2] == S // 2
    assert Fraction(got[2][1], S) == Fraction(9)


def test_benford_audit_hand_counts(spark):
    """benford_audit: counts by decimal first digit, zero/negative rows
    excluded, absent digits completed with n=0, literal expected ppm."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        benford_audit,
    )

    vals = [1, 19, 150, 2, 250, 3, 9001, -5, 0]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.digit: (r.n, r.total, r.observed_ppm, r.expected_ppm,
                     r.dev_ppm)
           for r in benford_audit(df, "v").collect()}
    assert {d: g[0] for d, g in got.items()} == {
        1: 3, 2: 2, 3: 1, 4: 0, 5: 0, 6: 0, 7: 0, 8: 0, 9: 1}
    assert all(g[1] == 7 for g in got.values())
    assert got[1][2] == (1000000 * 3) // 7
    assert got[1][3] == 301030
    assert got[1][4] == got[1][2] - 301030


def test_spearman_moments_known_values(spark):
    """spearman_moments vs scipy-free hand math: perfect monotone ->
    rho_ppm_sq = 1e6 and num = den; perfect anti-monotone -> num = -den;
    ties handled by average rank (golden from the textbook tie
    formula)."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        spearman_moments,
    )

    inc = spark.createDataFrame(
        [(i, i * 10 + 3) for i in range(9)], "x long, y long"
    )
    r = spearman_moments(inc, "x", "y").collect()[0]
    assert r.n == 9 and r.num == r.den_x == r.den_y and r.rho_ppm_sq == 1000000

    dec = spark.createDataFrame(
        [(i, 100 - i) for i in range(9)], "x long, y long"
    )
    r = spearman_moments(dec, "x", "y").collect()[0]
    assert r.num == -r.den_x and r.rho_ppm_sq == -1000000

    # ties: x = [1,1,2], y = [5,7,7]. avg ranks x: 1.5,1.5,3 / y: 1,2.5,2.5
    # doubled: x2=[3,3,6], y2=[2,5,5]; centered (n+1=4): dx=[-1,-1,2],
    # dy=[-2,1,1]; num = 2+(-1)+2 = 3? pairing is rowwise: rows (1,5),(1,7),(2,7)
    # dx,dy per row: (-1,-2),(-1,1),(2,1) -> num = 2 - 1 + 2 = 3,
    # den_x = 1+1+4 = 6, den_y = 4+1+1 = 6
    tie = spark.createDataFrame(
        [(1, 5), (1, 7), (2, 7)], "x long, y long"
    )
    r = spearman_moments(tie, "x", "y").collect()[0]
    assert (r.n, r.num, r.den_x, r.den_y) == (3, 3, 6, 6)


def test_link_prediction_hand_graph(spark):
    """link_prediction on a hand graph: path 1-2-3-4 plus edge 1-3.
    Non-edges sharing neighbors: (2,4) via 3 -> common 1; (1,4) via 3 ->
    common 1. (1,3) is an EDGE so it must not appear even though they
    share node 2. Jaccard exact: deg(2)=2, deg(4)=1, common=1 ->
    1e6*1/(2+1-1)=500000."""
    from instageo_e2e_geospatial_ml_spark.operators.graph import (
        link_prediction,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (3, 1)], "src long, dst long"
    )
    out = {(r.a, r.b): (r.common, r.deg_a, r.deg_b, r.jaccard_ppm, r.rnk)
           for r in link_prediction(e, top_k=10).collect()}
    assert set(out) == {(2, 4), (1, 4)}
    assert out[(2, 4)] == (1, 2, 1, 500000, 2)
    assert out[(1, 4)] == (1, 2, 1, 500000, 1)


def test_sequential_pair_support_hand_trace(spark):
    """sequential_pair_support: 'a then b' needs strictly-later ts of
    SOME b after SOME a (min(a) < max(b)); adjacent not required;
    simultaneous-only pairs don't count."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.funnel import (
        sequential_pair_support,
    )

    t = lambda m: (pd.Timestamp("2024-01-01")
                   + pd.Timedelta(minutes=m)).to_pydatetime()
    rows = [
        # u1: a@0, x@1, b@2 -> a-then-b (non-adjacent)
        (1, t(0), "a"), (1, t(1), "x"), (1, t(2), "b"),
        # u2: b@0, a@1 -> b-then-a only
        (2, t(0), "b"), (2, t(1), "a"),
        # u3: a and b same ts -> neither direction
        (3, t(0), "a"), (3, t(0), "b"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    out = {(r.a, r.b): (r.n_seq, r.n_a, r.n_b, r.conf_ppm)
           for r in sequential_pair_support(ev).collect()}
    assert out[("a", "b")] == (1, 3, 3, 333333)
    assert out[("b", "a")] == (1, 3, 3, 333333)
    assert out[("a", "x")] == (1, 3, 1, 333333)
    assert ("x", "b") in out  # x@1 before b@2 for u1


def test_areal_interpolate_hand_zones(spark):
    """areal_interpolate: a 10x10 source zone (val 100) split across two
    5x10 target halves -> 50 each (exact); a source only touching (edge
    contact, zero area) contributes nothing; floor-per-pair semantics."""
    from instageo_e2e_geospatial_ml_spark.operators.geometry import (
        areal_interpolate,
    )

    src = spark.createDataFrame(
        [
            (1, 0, 0, 10, 10, 100),
            # rect touching t1's right edge only: zero overlap area
            (2, 5, 10, 9, 14, 999),
            # 3x3 rect val 10 fully inside t1: contributes all 10
            (3, 1, 1, 4, 4, 10),
        ],
        "sid long, a_minx long, a_miny long, a_maxx long, a_maxy long,"
        " val long",
    )
    dst = spark.createDataFrame(
        [(1, 0, 0, 5, 10), (2, 5, 0, 10, 10)],
        "tid long, b_minx long, b_miny long, b_maxx long, b_maxy long",
    )
    got = {r.tid: (r.alloc_scaled, r.n_src)
           for r in areal_interpolate(src, dst, cell_size=8.0).collect()}
    # t1: 100*50/100 = 50 -> 50000 scaled, plus all of sid3 (10 -> 10000)
    assert got[1] == (50000 + 10000, 2)
    assert got[2] == (50000, 1)


def test_bom_rollup_hand_hierarchy(spark):
    """bom_rollup: 3-level chain 100 -> 10 -> 1 with qtys 2 and 3:
    closure has (100,10,L1,q2), (10,1,L1,q3), (100,1,L2,q6)."""
    from instageo_e2e_geospatial_ml_spark.operators.graph import bom_rollup

    e = spark.createDataFrame(
        [(100, 10, 2), (10, 1, 3), (20, 1, 5)],
        "child long, parent long, qty long",
    )
    got = {(r.node, r.anc): (r.level, r.qty_total)
           for r in bom_rollup(e, rounds=4).collect()}
    assert got == {
        (100, 10): (1, 2), (10, 1): (1, 3), (20, 1): (1, 5),
        (100, 1): (2, 6),
    }


def test_d8_flow_hand_dem(spark):
    """d8_flow on a 3x3 pit DEM: all 8 border cells flow into the center
    (steepest descent), center is a pit (dir 0), accumulation at the
    center counts the whole grid; diagonal-vs-cardinal steepness uses
    the exact 2*dz_card^2 vs dz_diag^2 rule (a diagonal drop must be
    >sqrt(2)x deeper to win)."""
    from instageo_e2e_geospatial_ml_spark.operators.terrain import d8_flow

    # center (1,1) elev 0; cardinals elev 5; corners elev 6
    rows = []
    for x in range(3):
        for y in range(3):
            if (x, y) == (1, 1):
                e = 0
            elif (x + y) % 2 == 0:
                e = 6  # corners
            else:
                e = 5  # cardinal neighbors
            rows.append((x, y, e))
    g = spark.createDataFrame(rows, "x long, y long, elev long")
    got = {(r.x, r.y): (r.flow_dir, r.acc)
           for r in d8_flow(g, rounds=3).collect()}
    assert got[(1, 1)] == (0, 9)  # pit collects all 9 cells
    for (x, y), (d, a) in got.items():
        if (x, y) == (1, 1):
            continue
        assert d > 0  # everything else drains
    # cardinal neighbor (2,1): drops 5 to center (W, code 5) vs 1 to
    # nothing else lower... its flow target must be the center
    # corner (0,0): cardinal drop 6-5=1 vs diagonal drop 6-0=6 to the
    # center: 2*1 < 36 -> diagonal (SE, code 2) wins
    assert got[(0, 0)][0] == 2
    # steepness tie shape: cell (2,1) -> center is W = code 5
    assert got[(2, 1)][0] == 5


def test_ripley_k_hand_points(spark):
    """ripley_k_counts: 3 collinear points at x=0,3,10 — band r²=9 pairs
    only (0,3)/(3,0); r²=49 adds (3,10)/(10,3); r²=100 adds (0,10) both
    ways; K scaling = floor(1000·area·pairs / (n(n-1)))."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        ripley_k_counts,
    )

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 3, 0), (3, 10, 0)], "pid long, x long, y long"
    )
    got = {r.band: (r.r_sq, r.n_pairs, r.k_scaled)
           for r in ripley_k_counts(pts, [9, 49, 100], area=100).collect()}
    assert got[0] == (9, 2, (1000 * 100 * 2) // 6)
    assert got[1] == (49, 4, (1000 * 100 * 4) // 6)
    assert got[2] == (100, 6, (1000 * 100 * 6) // 6)


def test_partition_advisor_scoring(spark):
    """partition_advisor: a near-ideal-NDV low-skew column must outrank
    both a 2-value column (ndv_fit tiny) and a unique-key column (ndv
    overshoot); nulls are charged to null_ppm."""
    from instageo_e2e_geospatial_ml_spark.operators.pruning import (
        partition_advisor,
    )

    rows = [(i, i % 2, i % 10, i, (i % 10) if i % 5 else None)
            for i in range(100)]
    df = spark.createDataFrame(
        rows, "id long, two long, ten long, uniq long, tennull long"
    )
    got = {r.column_name: r for r in partition_advisor(
        df, ["two", "ten", "uniq", "tennull"], target_partitions=10
    ).collect()}
    assert got["ten"].rnk == 1
    assert got["ten"].ndv_fit_ppm == 1000000
    assert got["ten"].top1_ppm == 100000  # 10 values x 10 rows
    assert got["two"].ndv_fit_ppm == 200000  # 2/10
    assert got["uniq"].ndv_fit_ppm == 100000  # 10/100
    assert got["tennull"].null_ppm == 200000  # i%5==0 -> 20 nulls
    assert got["two"].score == 200000 - 500000 - 0


def test_cdc_chunk_dedup_shift_invariance(spark):
    """The CDC property: inserting tokens at the FRONT of a document
    leaves its later chunk fingerprints intact (duplicate-chunk share
    stays high), because boundaries are content-defined. Also: identical
    docs have every chunk duplicated (dup_ppm = 1e6)."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import (
        cdc_chunk_dedup,
    )

    base = " ".join(f"w{(i * 7) % 31}x{i % 13}" for i in range(120))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact dup of 1
            (3, "zzz qqq " + base),         # front-shifted copy
            (4, " ".join(f"u{i}" for i in range(60))),  # unrelated
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_ppm)
           for r in cdc_chunk_dedup(docs, mask=8).collect()}
    assert got[1][0] >= 5                      # ~120/8 chunks expected
    assert got[1] == got[2]                    # identical docs identical
    assert got[1][2] == 1000000                # every chunk duplicated
    # the shifted copy shares all but its first chunk(s)
    n3, d3, _ = got[3]
    assert d3 >= n3 - 2
    assert got[4][1] == 0                      # unrelated: no dups


def test_watershed_labels_two_pits(spark):
    """watershed_labels on a hand forest: chain a->b->pit1, c->pit2 —
    every cell resolves to its terminal pit via pointer doubling, pits
    label themselves."""
    from instageo_e2e_geospatial_ml_spark.operators.terrain import (
        watershed_labels,
    )

    # grid rows: (x, y, flow_dir, tox, toy); dir 0 = pit (tox/toy null)
    rows = [
        (0, 0, 1, 1, 0), (1, 0, 1, 2, 0), (2, 0, 0, None, None),
        (5, 5, 3, 5, 6), (5, 6, 0, None, None),
    ]
    g = spark.createDataFrame(
        rows, "x long, y long, flow_dir long, tox long, toy long"
    )
    got = {(r.x, r.y): (r.basin_x, r.basin_y)
           for r in watershed_labels(g, doubling_rounds=3).collect()}
    assert got[(0, 0)] == (2, 0)
    assert got[(1, 0)] == (2, 0)
    assert got[(2, 0)] == (2, 0)
    assert got[(5, 5)] == (5, 6)
    assert got[(5, 6)] == (5, 6)


def test_weighted_priority_sample_determinism_and_weight_bias(spark):
    """weighted_priority_sample: repartition-stable (same winners any
    layout), zero/negative weights excluded, and a 1000x weight pulls a
    row's priority 1000x down (exact integer division check)."""
    import hashlib

    from instageo_e2e_geospatial_ml_spark.operators.sampling import (
        weighted_priority_sample,
    )

    rows = [(i, 1 + (i % 7) * 100) for i in range(500)] + [(999, 0)]
    df = spark.createDataFrame(rows, "id long, w long")
    a = weighted_priority_sample(df, "id", "w", k=50).collect()
    b = weighted_priority_sample(
        df.repartition(13), "id", "w", k=50
    ).collect()
    assert [(r.key, r.rnk) for r in a] == [(r.key, r.rnk) for r in b]
    assert all(r.key != 999 for r in a)  # zero weight excluded
    # exact priority replica for the top row
    top = a[0]
    u = int(hashlib.md5(f"{top.key}:wps".encode()).hexdigest()[:8], 16) \
        % 1000000
    assert top.priority == (1000000 * u) // top.weight
    assert top.rnk == 1


def test_rolling_origin_folds_exact_cuts(spark):
    """rolling_origin_folds: 10 hourly events, 4 folds -> 5 equal
    intervals; train counts grow monotonically, every event tests in
    exactly one fold, the last fold includes the max timestamp."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        rolling_origin_folds,
    )

    t0 = pd.Timestamp("2024-01-01")
    df = spark.createDataFrame(
        [( (t0 + pd.Timedelta(hours=i)).to_pydatetime(),) for i in range(10)],
        "ts timestamp",
    )
    got = sorted(rolling_origin_folds(df, "ts").collect(), key=lambda r: r.fold)
    n_trains = [r.n_train for r in got]
    assert n_trains == sorted(n_trains)
    assert sum(r.n_test for r in got) + got[0].n_train == 10
    # span = 9h; cut_k = t0 + 9h*k/5
    us0 = t0.value // 1000
    h = 3600 * 10**6
    for r in got:
        assert r.train_end_us == us0 + (9 * h * r.fold) // 5
    assert got[-1].test_end_us == us0 + 9 * h + 1


def test_frequent_triples_vs_bruteforce(spark):
    """Apriori pruning is lossless: on random baskets the pruned
    candidate path must produce EXACTLY the brute-force triple counts;
    duplicate (basket, item) rows collapse first."""
    import itertools

    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.baskets import (
        frequent_triples,
    )

    rng = np.random.default_rng(43)
    rows = []
    baskets = {}
    for oid in range(80):
        items = set(rng.choice(12, size=rng.integers(2, 7),
                               replace=False).tolist())
        baskets[oid] = items
        for it in items:
            rows.append((oid, int(it)))
            if rng.random() < 0.2:
                rows.append((oid, int(it)))  # dup row must not double
    df = spark.createDataFrame(rows, "oid long, item long")
    got = {(r.a, r.b, r.c): r.support
           for r in frequent_triples(df, min_support=4).collect()}

    want = {}
    for items in baskets.values():
        for tri in itertools.combinations(sorted(items), 3):
            want[tri] = want.get(tri, 0) + 1
    want = {t: s for t, s in want.items() if s >= 4}
    assert got == want and len(want) > 0


def test_viewshed_wall_blocks(spark):
    """viewshed hand case: flat plain with one wall column between the
    observer and the far side — cells behind the wall are invisible,
    cells before it and beside it visible; the observer's own cell and
    adjacent cells are always visible (s <= 1)."""
    from instageo_e2e_geospatial_ml_spark.operators.terrain import viewshed

    rows = []
    for x in range(9):
        for y in range(3):
            elev = 100 if x == 4 else 0  # wall at x=4, all y
            rows.append((x, y, elev))
    g = spark.createDataFrame(rows, "x long, y long, elev long")
    got = {(r.x, r.y): (r.visible, r.n_blockers)
           for r in viewshed(g, ox=0, oy=1, observer_height=2).collect()}
    assert got[(0, 1)] == (1, 0)          # self
    assert got[(1, 1)][0] == 1            # adjacent
    assert got[(3, 1)][0] == 1            # before the wall
    assert got[(4, 1)][0] == 1            # the wall top itself is seen
    for x in range(5, 9):
        assert got[(x, 1)] [0] == 0, x    # shadow behind the wall
        assert got[(x, 1)][1] >= 1


def test_conformal_threshold_exact_rank(spark):
    """conformal_threshold: n=9, alpha=1/10 -> k = ceil(10*0.9) = 9 ->
    q_hat = 9th smallest; ties roll the coverage count past k; k > n
    yields the NULL guard row."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        conformal_threshold,
    )

    df = spark.createDataFrame(
        [(v,) for v in [5, 1, 3, 3, 7, 2, 9, 4, 6]], "s long"
    )
    r = conformal_threshold(df, "s", 10).collect()
    assert len(r) == 1
    assert (r[0].n, r[0].k, r[0].q_hat, r[0].n_at_or_below) == (9, 9, 9, 9)

    # heavy ties: scores all equal -> q_hat is that value, coverage n
    df2 = spark.createDataFrame([(4,)] * 9, "s long")
    r2 = conformal_threshold(df2, "s", 10).collect()[0]
    assert (r2.q_hat, r2.n_at_or_below) == (4, 9)

    # alpha = 1/100 with n=9 -> k = ceil(10*0.99) = 10 > 9 -> guard row
    r3 = conformal_threshold(df, "s", 1).collect()
    assert len(r3) == 1 and r3[0].q_hat is None and r3[0].k == 10


def test_motif_signatures_hand_series(spark):
    """motif_signatures: an up-down sawtooth of period 2 yields exactly
    the two alternating length-5 signatures; flats map to 'f'."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        motif_signatures,
    )

    t0 = pd.Timestamp("2024-01-01")
    vals = [1.0, 2.0] * 6  # u d u d ...
    rows = [(i, (t0 + pd.Timedelta(minutes=i)).to_pydatetime(), "a", v)
            for i, v in enumerate(vals)]
    rows += [(100 + i, (t0 + pd.Timedelta(minutes=i)).to_pydatetime(),
              "b", 5.0) for i in range(6)]  # constant -> all 'f'
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string,"
        " value double"
    )
    got = {(r.k, r.sig): (r.n, r.rnk)
           for r in motif_signatures(ev).collect()}
    # 12 points -> 8 windows alternating udud / dudu, 4 each; the
    # (n DESC, sig ASC) tie-break puts 'dudu' first ('d' < 'u')
    assert got[("a", "dudu")] == (4, 1)
    assert got[("a", "udud")] == (4, 2)
    assert got[("b", "ffff")] == (2, 1)   # 6 points -> 2 windows
    assert set(got) <= {("a", "udud"), ("a", "dudu"), ("b", "ffff")}


def test_polygonize_regions_hand_grid(spark):
    """polygonize_regions on a 4x3 grid with an L-shaped region of 1s in
    a field of 0s plus one isolated diagonal cell (diagonals do NOT
    connect in 4-adjacency): region membership, canonical min-id labels,
    and exact cell-edge perimeters."""
    from instageo_e2e_geospatial_ml_spark.operators.zonal import (
        polygonize_regions,
    )

    # grid (x: 0..3, y: 0..2); 1s at (0,0),(0,1),(1,1); another 1 at
    # (2,2) touching (1,1) only diagonally -> separate region
    ones = {(0, 0), (0, 1), (1, 1), (2, 2)}
    rows = [(x, y, 1 if (x, y) in ones else 0)
            for x in range(4) for y in range(3)]
    g = spark.createDataFrame(rows, "x long, y long, v long")
    got = {(r.region_id, r.v): (r.n_cells, r.min_x, r.min_y, r.max_x,
                                r.max_y, r.perimeter)
           for r in polygonize_regions(g).collect()}
    m = 1 << 20
    lid = lambda x, y: x * m + y
    # L region: min id = (0,0); 3 cells; perimeter 8
    assert got[(lid(0, 0), 1)] == (3, 0, 0, 1, 1, 8)
    # isolated diagonal cell: own region, perimeter 4
    assert got[(lid(2, 2), 1)] == (1, 2, 2, 2, 2, 4)
    # background 0s split into TWO regions: the L and the diagonal cell
    # cut {(0,2),(1,2)} off from the other six zeros
    assert got[(lid(0, 2), 0)][0] == 2
    assert got[(lid(1, 0), 0)][0] == 6
    assert len(got) == 4


def test_wkt_emit_parse_known_square(spark):
    """rings_to_wkt closes an open ring per OGC; wkt_to_metrics recovers
    vertex count, shoelace area (CCW positive), and bbox from the text —
    unit square area2 = 2·area = 2·(10·10) = 200."""
    from instageo_e2e_geospatial_ml_spark.operators.geometry import (
        rings_to_wkt, wkt_to_metrics,
    )

    verts = spark.createDataFrame(
        [(1, 0, 0, 0), (1, 1, 10, 0), (1, 2, 10, 10), (1, 3, 0, 10)],
        "poly_id long, seq long, x long, y long",
    )
    w = rings_to_wkt(verts).collect()[0]
    assert w.wkt == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    m = wkt_to_metrics(
        spark.createDataFrame([(1, w.wkt)], "poly_id long, wkt string")
    ).collect()[0]
    assert m.n_pts == 5 and m.area2 == 200
    assert (m.min_x, m.max_x, m.min_y, m.max_y) == (0, 10, 0, 10)
    # already-closed input is not double-closed
    closed = spark.createDataFrame(
        [(2, 0, 0, 0), (2, 1, 5, 0), (2, 2, 0, 5), (2, 3, 0, 0)],
        "poly_id long, seq long, x long, y long",
    )
    w2 = rings_to_wkt(closed).collect()[0]
    assert w2.wkt == "POLYGON ((0 0, 5 0, 0 5, 0 0))"


def test_diff_in_differences_hand_cells(spark):
    """diff_in_differences: hand 2x2 — treated rises 10 -> 30, control
    rises 5 -> 10 => DiD = (30-10)-(10-5) = 15 (x1e6 ppm); an empty
    cell yields NULL means instead of a divide-by-zero."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        diff_in_differences,
    )

    rows = [
        (1, 0, 10), (1, 0, 10), (1, 1, 30), (1, 1, 30),
        (0, 0, 5), (0, 1, 10),
    ]
    df = spark.createDataFrame(rows, "treated int, post int, v long")
    r = diff_in_differences(df, "treated", "post", "v").collect()[0]
    assert (r.n_tr, r.n_tp, r.n_cr, r.n_cp) == (2, 2, 1, 1)
    assert r.mean_tr_ppm == 10_000_000 and r.mean_tp_ppm == 30_000_000
    assert r.did_ppm == (30 - 10 - (10 - 5)) * 1_000_000

    empty_cell = spark.createDataFrame(
        [(1, 1, 5), (0, 0, 3), (0, 1, 4)], "treated int, post int, v long"
    )
    r2 = diff_in_differences(
        empty_cell, "treated", "post", "v"
    ).collect()[0]
    assert r2.mean_tr_ppm is None and r2.did_ppm is None


def test_bootstrap_mean_ci_determinism_and_coverage(spark):
    """bootstrap_mean_ci: repartition-stable (pure function of data),
    CI brackets the point mean on well-behaved data, and ci_lo <= ci_hi
    by construction of the sorted resample-mean array."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        bootstrap_mean_ci,
    )

    rows = [(i, 100 + (i * 37) % 50) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, v long")
    a = bootstrap_mean_ci(df, "v", "id", n_resamples=30).collect()[0]
    b = bootstrap_mean_ci(
        df.repartition(17), "v", "id", n_resamples=30
    ).collect()[0]
    assert a == b
    assert a.ci_lo_ppm <= a.mean_ppm <= a.ci_hi_ppm
    assert a.ci_lo_ppm < a.ci_hi_ppm
    assert a.n == 400 and a.b == 30


def test_mann_kendall_known_trends(spark):
    """mann_kendall: strictly increasing series -> S = n(n-1)/2; strictly
    decreasing -> -n(n-1)/2; constant -> S = 0 with all tie pairs."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        mann_kendall,
    )

    rows = ([("up", t, t * 2) for t in range(8)]
            + [("down", t, 100 - t) for t in range(8)]
            + [("flat", t, 7) for t in range(8)])
    df = spark.createDataFrame(rows, "k string, t long, v long")
    got = {r.k: r for r in mann_kendall(df, "k", "t", "v").collect()}
    assert got["up"].s_stat == 28 and got["up"].n_pairs == 28
    assert got["down"].s_stat == -28
    assert got["flat"].s_stat == 0 and got["flat"].n_tie_pairs == 28


def test_seasonal_profile_hand_slots(spark):
    """seasonal_profile: two hours with distinct means — seasonal effect
    = slot mean - overall mean, exact in ppm of the x1e4 quantization."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        seasonal_profile,
    )

    t = lambda h, i: (pd.Timestamp("2024-01-01")
                      + pd.Timedelta(hours=h, minutes=i)).to_pydatetime()
    rows = [("a", t(3, i), 1.0) for i in range(4)] + \
           [("a", t(15, i), 3.0) for i in range(4)]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp,"
                               " value double")
    got = {r.slot: r for r in seasonal_profile(ev).collect()}
    # quantized: 1.0 -> 10000, 3.0 -> 30000; overall mean 20000
    assert got[3].slot_mean_ppm == 10000 * 1000000
    assert got[3].overall_mean_ppm == 20000 * 1000000
    assert got[3].seasonal_ppm == -10000 * 1000000
    assert got[15].seasonal_ppm == 10000 * 1000000


def test_light_stem_rules(spark):
    """light_stem: the three S-stemmer rules in order with their
    exclusions — ies->y, sses->ss, trailing s dropped except after
    s/i/u; short 'ies' words keep their form via the len guard."""
    from instageo_e2e_geospatial_ml_spark.functions.text import light_stem

    words = ["ponies", "ties", "caresses", "cats", "class", "virus",
             "basis", "dog", "Knives"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = dict(
        (r.w, r.s)
        for r in df.select("w", light_stem("w").alias("s")).collect()
    )
    assert got["ponies"] == "pony"
    assert got["ties"] == "tie"         # <2 chars before 'ies': rule 1
                                        # skips, plain s-drop applies
    assert got["caresses"] == "caress"
    assert got["cats"] == "cat"
    assert got["class"] == "class"      # 'ss' protected
    assert got["virus"] == "virus"      # 'us' protected
    assert got["basis"] == "basis"      # 'is' protected
    assert got["dog"] == "dog"
    assert got["Knives"] == "knive"     # lowercased, plain s-drop


def test_heading_profile_hand_hops(spark):
    """heading_profile: hand hops hit every octant rule — axis wins on
    strict majority, equality is the diagonal, zero hop is 'stay',
    dominant breaks ties in compass order."""
    from instageo_e2e_geospatial_ml_spark.operators.trajectory import (
        heading_profile,
    )

    # uid 1 path: E (3,0), NE (2,2), N (0,5), stay (0,0), W (-4,1)
    pts = [(0, 0), (3, 0), (5, 2), (5, 7), (5, 7), (1, 8)]
    rows = [(1, i, i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(
        rows, "uid long, tus long, eid long, px long, py long"
    )
    r = heading_profile(df).collect()[0]
    assert r.n_hops == 5
    assert (r.e, r.ne, r.n, r.w, r.stay) == (1, 1, 1, 1, 1)
    assert r.dominant == "e"  # all tied at 1 -> compass order E first


def test_next_business_day_weekend_holiday_chains(spark):
    """next_business_day: Friday -> Monday; Friday before a Monday
    holiday -> Tuesday; mid-week -> next day. 2024-01-05 is a Friday;
    2024-01-15 (MLK Monday) is in the holiday list."""
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark.operators.dates import (
        next_business_day,
    )

    rows = [
        (1, pd.Timestamp("2024-01-03").to_pydatetime()),  # Wed -> Thu
        (2, pd.Timestamp("2024-01-05").to_pydatetime()),  # Fri -> Mon
        (3, pd.Timestamp("2024-01-12").to_pydatetime()),  # Fri -> Tue
                                                          # (15th holiday)
        (4, pd.Timestamp("2024-01-13").to_pydatetime()),  # Sat -> Tue
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    got = {r.id: r.nbd_date
           for r in next_business_day(
               df, "ts", ["2024-01-01", "2024-01-15"]).collect()}
    assert got[1] == "2024-01-04"
    assert got[2] == "2024-01-08"
    assert got[3] == "2024-01-16"
    assert got[4] == "2024-01-16"


def test_k_anonymity_audit_hand_classes(spark):
    """k_anonymity_audit at k=3: singleton class, a 2-class, a >=3
    class; l-diversity floor 1 flags a uniform-sensitive class."""
    from instageo_e2e_geospatial_ml_spark.operators.constraints import (
        k_anonymity_audit,
    )

    rows = [
        ("a", 1, "x"),                     # singleton
        ("b", 1, "x"), ("b", 1, "x"),      # size 2, l=1
        ("c", 2, "x"), ("c", 2, "y"), ("c", 2, "z"),  # size 3, l=3
    ]
    df = spark.createDataFrame(rows, "qi1 string, qi2 int, s string")
    got = {r.bucket: (r.n_classes, r.n_rows, r.n_rows_violating, r.min_l)
           for r in k_anonymity_audit(df, ["qi1", "qi2"], "s",
                                      k=3).collect()}
    assert got["1"] == (1, 1, 1, 1)
    assert got["2..2"] == (1, 2, 2, 1)
    assert got[">=3"] == (1, 3, 0, 3)


def test_cohens_kappa_known_values(spark):
    """cohens_kappa: perfect agreement -> kappa 1; independent constant
    raters -> den 0 (NULL guard); textbook 2x2 golden (po=0.7, pe=0.5
    -> kappa = 0.4)."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        cohens_kappa,
    )

    perfect = spark.createDataFrame(
        [(i % 3, i % 3) for i in range(9)], "a long, b long"
    )
    r = cohens_kappa(perfect, "a", "b").collect()[0]
    assert r.kappa_num == r.kappa_den and r.kappa_ppm == 1000000

    const = spark.createDataFrame([(1, 1)] * 5, "a long, b long")
    r2 = cohens_kappa(const, "a", "b").collect()[0]
    assert r2.kappa_den == 0 and r2.kappa_ppm is None

    # 2x2: counts [[4,1],[2,3]]: n=10, agree=7, marginals a: 5,5;
    # b: 6,4 -> S = 5*6 + 5*4 = 50; kappa = (70-50)/(100-50) = 0.4
    rows = ([(0, 0)] * 4 + [(0, 1)] * 1 + [(1, 0)] * 2 + [(1, 1)] * 3)
    r3 = cohens_kappa(
        spark.createDataFrame(rows, "a long, b long"), "a", "b"
    ).collect()[0]
    assert (r3.kappa_num, r3.kappa_den) == (20, 50)
    assert r3.kappa_ppm == 400000


def test_containment_dedup_quote_inside_article(spark):
    """containment_dedup: a short doc fully quoted inside a long one
    gets containment 1e6 in the contained->container direction while
    the reverse stays low; unrelated docs never pair."""
    from instageo_e2e_geospatial_ml_spark.operators.dedup import (
        containment_dedup,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    article = (" ".join(f"a{i}" for i in range(40)) + " " + quote
               + " " + " ".join(f"z{i}" for i in range(40)))
    other = " ".join(f"u{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, quote), (2, article), (3, other)],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.containment_ppm
           for r in containment_dedup(
               docs, min_containment_ppm=500_000).collect()}
    assert got[(1, 2)] == 1000000     # quote fully contained
    assert (2, 1) not in got          # article not contained in quote
    assert all(3 not in k for k in got)


def test_hits_star_graph_hub_authority_split(spark):
    """hits_int: a pure hub (links to every authority, no in-links)
    must take hub score SCALE and authority 0; the most-linked
    authority takes auth SCALE and hub 0 — the split PageRank blurs."""
    from instageo_e2e_geospatial_ml_spark.operators.graph import (
        HITS_SCALE,
        hits_int,
    )

    # node 1 links to 10,11,12; node 2 links to 10 only.
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10)], "src long, dst long"
    )
    got = {r.node: (r.hub_score, r.auth_score)
           for r in hits_int(edges).collect()}
    assert got[1] == (HITS_SCALE, 0)          # best hub, no in-links
    assert got[10][1] == HITS_SCALE           # best authority
    assert got[10][0] == 0                    # ... with no out-links
    assert 0 < got[2][0] < HITS_SCALE         # weaker hub strictly between
    assert got[11] == got[12]                 # symmetric authorities
    assert 0 < got[11][1] < HITS_SCALE


def test_ewma_anomaly_hand_fold_and_negative_truncation(spark):
    """ewma_anomaly: hand-stepped fixed-point recurrence, including a
    NEGATIVE delta whose division must truncate toward zero (the
    DuckDB `//` rule), not floor."""
    from instageo_e2e_geospatial_ml_spark.operators.timeseries import (
        ewma_anomaly,
    )

    # k=a: v = 100, 116, 99.  SCALE=1024, shift 4 (div 16), band 3.
    # s0 = 102400
    # t1: d = 116*1024-102400 = 16384;  |d|>=3072 -> anomaly
    #     s = 102400 + 16384//16 = 103424
    # t2: d = 99*1024-103424 = -2048;   |d|<3072 -> not anomaly
    #     trunc(-2048/16) = -128 -> s = 103296; level = 103296//1024=100
    rows = [("a", 1_000_000, 100), ("a", 2_000_000, 116),
            ("a", 3_000_000, 99)]
    df = spark.createDataFrame(rows, "k string, tus long, v long")
    r = ewma_anomaly(df, band=3).collect()[0]
    assert (r.n, r.n_anomalies, r.level_final, r.max_abs_dev) == (
        3, 1, 100, 16384
    )

    # truncation direction matters: -2049 // 16 floors to -129 in
    # Python but the fold must produce trunc (-128 for -2048, -128 for
    # -2049): same series with v2 = 98 -> d2 = -3072 (anomaly, trunc
    # -192) -> s = 103424 - 192 = 103232 -> level 100
    rows2 = [("b", 1, 100), ("b", 2, 116), ("b", 3, 98)]
    df2 = spark.createDataFrame(rows2, "k string, tus long, v long")
    r2 = ewma_anomaly(df2, band=3).collect()[0]
    assert (r2.n_anomalies, r2.level_final) == (2, 100)


def test_bloom_prune_no_false_negatives_and_forced_collisions(spark):
    """bloom_prune_audit: members ALWAYS pass (no false negatives, the
    Bloom contract) at any m; a deliberately tiny filter (m=4) forces
    false positives that the audit must count exactly."""
    from instageo_e2e_geospatial_ml_spark.operators.pruning import (
        bloom_prune_audit,
    )

    build = spark.createDataFrame([(i,) for i in range(10)], "bk long")
    probe = spark.createDataFrame([(i,) for i in range(200)], "pk long")
    r = bloom_prune_audit(
        build, probe, "bk", "pk", m_bits=4096, n_hashes=3
    ).collect()[0]
    assert r.n_probe_keys == 200 and r.n_members == 10
    assert r.n_pass_bloom >= r.n_members            # no false negatives
    assert r.n_false_pos == r.n_pass_bloom - 10

    tiny = bloom_prune_audit(
        build, probe, "bk", "pk", m_bits=4, n_hashes=2
    ).collect()[0]
    # 10 keys x 2 hashes into 4 bits: the deterministic md5 draws set
    # 3 of the 4 bits, so a non-member passes iff both its positions
    # land in those 3 (~(3/4)^2) — heavy false positives, zero false
    # negatives, all exactly countable.
    assert tiny.n_pass_bloom == 118
    assert tiny.n_false_pos == 108


def test_phrase_search_overlaps_and_order(spark):
    """phrase_search: counts OVERLAPPING occurrences, respects word
    order, and never matches across documents."""
    from instageo_e2e_geospatial_ml_spark.functions.retrieval import (
        phrase_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),          # ("a","a") twice (overlap)
            (2, "b a"),              # reverse order: no match
            (3, "x a"),              # "a" at end, next doc starts "a"
            (4, "a y"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_occurrences
           for r in phrase_search(docs, ("a", "a")).collect()}
    assert got == {1: 2}

    got3 = {r.doc_id: r.n_occurrences
            for r in phrase_search(docs, ("a", "a", "a")).collect()}
    assert got3 == {1: 1}


def test_bitmap_words_boundary_bits_and_algebra(spark):
    """bitmap_words/bitmap_intersections: ids on word boundaries (62,
    63, 0) pack into the right words; intersection/union match set
    algebra computed by hand."""
    from instageo_e2e_geospatial_ml_spark.operators.bitmaps import (
        bitmap_intersections,
        bitmap_words,
    )

    a = {0, 62, 63, 125, 126}     # words 0 (bits 0,62), 1 (bits 0,62), 2 (bit 0)
    b = {62, 63, 200}
    rows = [("A", i) for i in sorted(a)] + [("B", i) for i in sorted(b)]
    words = bitmap_words(
        spark.createDataFrame(rows, "s string, id long")
    )
    got_words = {(r.s, r.word_idx): r.word for r in words.collect()}
    assert got_words[("A", 0)] == (1 | (1 << 62))
    assert got_words[("A", 1)] == (1 | (1 << 62))
    assert got_words[("A", 2)] == 1
    assert got_words[("B", 3)] == 1 << (200 % 63)

    r = bitmap_intersections(words).collect()
    assert len(r) == 1
    row = r[0]
    assert (row.s_a, row.s_b) == ("A", "B")
    assert row.n_a == 5 and row.n_b == 3
    assert row.n_inter == len(a & b) == 2
    assert row.n_union == len(a | b) == 6


def test_table_fingerprint_order_invariance_and_null_sentinel(spark):
    """table_fingerprint: same rows in any order/partitioning give the
    same (count, xor); NULL, 'null' and '' all digest differently; a
    duplicated row changes count even when xor cancels."""
    from instageo_e2e_geospatial_ml_spark.operators.cdc import (
        table_fingerprint,
    )

    rows = [("g", 1, "x"), ("g", 2, None), ("g", 3, "")]
    base = spark.createDataFrame(rows, "grp string, a long, b string")
    fp1 = table_fingerprint(base, "grp", ["a", "b"]).collect()[0]
    shuffled = spark.createDataFrame(
        list(reversed(rows)), "grp string, a long, b string"
    ).repartition(7)
    fp2 = table_fingerprint(shuffled, "grp", ["a", "b"]).collect()[0]
    assert (fp1.n_rows, fp1.xor_fp) == (fp2.n_rows, fp2.xor_fp)

    lit_null = spark.createDataFrame(
        [("g", 2, "null")], "grp string, a long, b string"
    )
    vs_null = spark.createDataFrame(
        [("g", 2, None)], "grp string, a long, b string"
    )
    d1 = table_fingerprint(lit_null, "grp", ["a", "b"]).collect()[0]
    d2 = table_fingerprint(vs_null, "grp", ["a", "b"]).collect()[0]
    assert d1.xor_fp != d2.xor_fp

    # duplicate-pair blindness of xor is covered by the row count
    doubled = base.unionAll(base)
    fp3 = table_fingerprint(doubled, "grp", ["a", "b"]).collect()[0]
    assert fp3.xor_fp == 0 or fp3.xor_fp != fp1.xor_fp
    assert fp3.n_rows == 6 != fp1.n_rows


def test_sparse_cosine_join_identity_and_df_cap(spark):
    """sparse_cosine_join: identical documents score cos2 = 1e6; docs
    sharing only a capped (ubiquitous) shingle never pair; a partial
    overlap scores the hand value."""
    from instageo_e2e_geospatial_ml_spark.functions.retrieval import (
        sparse_cosine_join,
    )

    t = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): (r.dot, r.cos2_ppm)
           for r in sparse_cosine_join(docs, df_cap=50, min_cos2_ppm=0).collect()}
    assert got == {(1, 2): (3, 1_000_000)}   # 3 shared trigrams, cos=1

    # df_cap: the trigram "x y z" appears in ALL 3 docs -> df=3 > cap=2
    # and is dropped, so docs sharing ONLY it never pair.
    d2 = spark.createDataFrame(
        [(1, "x y z a b"), (2, "x y z c d"), (3, "x y z e f")],
        "doc_id long, text string",
    )
    pairs = sparse_cosine_join(d2, df_cap=2, min_cos2_ppm=0).collect()
    assert pairs == []
    # with the cap lifted they all pair through the shared shingle
    pairs2 = sparse_cosine_join(d2, df_cap=3, min_cos2_ppm=0).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs2} == {(1, 2), (1, 3), (2, 3)}
    # each doc has 3 trigrams, shares exactly "x y z": dot=1, norms 3
    # -> cos2 = 1e6 // 9
    assert all(r.dot == 1 and r.cos2_ppm == 111_111 for r in pairs2)


def test_cuped_theta_and_adjustment_hand_values(spark):
    """cuped_adjustment: hand-computable moments — pre perfectly
    predicts post (post = 2*pre) gives theta_ppm = 2e6 and ZERO
    adjusted difference between arms regardless of pre imbalance."""
    from instageo_e2e_geospatial_ml_spark.operators.stats import (
        cuped_adjustment,
    )

    rows = [("A", 1, 10, 20), ("A", 2, 20, 40),
            ("B", 3, 30, 60), ("B", 4, 40, 80)]
    df = spark.createDataFrame(rows, "arm string, u long, pre long, post long")
    got = {r.arm: r for r in cuped_adjustment(df).collect()}
    assert got["A"].theta_ppm == 2_000_000
    # adj_scaled equal across arms: the entire arm difference was
    # pre-period imbalance, CUPED removes it exactly.
    assert got["A"].adj_scaled == got["B"].adj_scaled

    # a real treatment effect survives: add +5 to every B post
    rows2 = [(a, u, p, q + (5 if a == "B" else 0))
             for a, u, p, q in rows]
    df2 = spark.createDataFrame(rows2, "arm string, u long, pre long, post long")
    g2 = {r.arm: r for r in cuped_adjustment(df2).collect()}
    assert g2["B"].adj_scaled > g2["A"].adj_scaled


def test_impossible_travel_teleport_and_speed_gate(spark):
    """impossible_travel: a same-second move flags (teleport), a slow
    move does not, a fast move does — squared-comparison arithmetic
    checked by hand."""
    from instageo_e2e_geospatial_ml_spark.operators.trajectory import (
        impossible_travel,
    )

    rows = [
        ("u1", 0, 0, 0),
        ("u1", 0, 3, 4),              # dt=0, d2=25 -> teleport flag
        ("u1", 100_000_000, 3, 4),    # dt=100s, d2=0 -> no flag
        ("u1", 200_000_000, 204, 4),  # dt=100s, d2=40401 > 40000 -> flag
        ("u2", 0, 0, 0),
        ("u2", 100_000_000, 100, 0),  # d2=10000 <= 40000 -> no flag
    ]
    df = spark.createDataFrame(rows, "u string, tus long, x long, y long")
    got = {r.u: r for r in impossible_travel(df, vmax=2).collect()}
    assert (got["u1"].n_hops, got["u1"].n_impossible) == (3, 2)
    assert got["u1"].max_dist2_flagged == 40401
    assert (got["u2"].n_hops, got["u2"].n_impossible) == (1, 0)
    assert got["u2"].max_dist2_flagged is None


def test_ndcg_perfect_and_inverted_rankings(spark):
    """ndcg_audit: the ideal ordering scores ppm 1e6; a fully inverted
    ranking scores strictly less; all-zero relevance yields NULL."""
    from instageo_e2e_geospatial_ml_spark.functions.retrieval import (
        ndcg_audit,
    )

    perfect = [("p", r, 4 - r) for r in (1, 2, 3)]     # rel 3,2,1
    inverted = [("i", r, r - 1) for r in (1, 2, 3)]    # rel 0,1,2
    zero = [("z", r, 0) for r in (1, 2, 3)]
    df = spark.createDataFrame(
        perfect + inverted + zero, "q string, rank long, rel long"
    )
    got = {r.q: r for r in ndcg_audit(df).collect()}
    assert got["p"].ndcg_ppm == 1_000_000
    assert got["p"].dcg_scaled == got["p"].idcg_scaled
    assert 0 < got["i"].ndcg_ppm < 1_000_000
    assert got["z"].ndcg_ppm is None and got["z"].dcg_scaled == 0


def test_power_iteration_rank1_exact_and_numpy_parity(spark):
    """power_iteration: a rank-1 matrix vvᵀ reproduces v's direction
    exactly in one round (and stays fixed); a random symmetric matrix
    converges to numpy's principal eigenvector direction."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.operators.linalg import (
        PI_SCALE,
        power_iteration,
    )

    # A = outer([3,1],[3,1]) upper triangle
    m = spark.createDataFrame(
        [(1, 1, 9), (1, 2, 3), (2, 2, 1)], "i int, j int, g long"
    )
    got = {r.i: r.v for r in power_iteration(m, iters=3).collect()}
    assert got[1] == PI_SCALE
    assert got[2] == PI_SCALE // 3

    # engineered 50x spectral gap so 10 rounds converge far past the
    # fixed-point resolution (error ~ (1/50)^10); long chains would
    # want a localCheckpoint every ~10 rounds, same note as q32.
    u = np.array([3, 1, 2, 1])
    w = np.array([1, -1, 0, 2])
    a = 50 * np.outer(u, u) + np.outer(w, w)
    rows = [(i + 1, j + 1, int(a[i, j]))
            for i in range(4) for j in range(i, 4)]
    mm = spark.createDataFrame(rows, "i int, j int, g long")
    got2 = {r.i: r.v for r in power_iteration(mm, iters=10).collect()}
    v = np.array([got2[i + 1] for i in range(4)], dtype=float)
    v /= np.linalg.norm(v)
    evals, evecs = np.linalg.eigh(a)
    ref = evecs[:, -1]
    assert abs(abs(v @ ref) - 1.0) < 1e-6


def test_sensor_datasource_partitions_no_dup_no_gap(spark):
    """The custom Python Data Source: an UNEVEN partition split (8
    sensors over 3 partitions) must still emit every (sensor, seq)
    exactly once, with the declared schema."""
    from instageo_e2e_geospatial_ml_spark.sources.pydatasource import (
        _reading,
        register,
    )

    register(spark)
    df = (
        spark.read.format("sensors")
        .option("nsensors", 8)
        .option("nreadings", 5)
        .option("npartitions", 3)
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<sensor_id:int,tus:bigint,temp_milli:bigint>"
    )
    rows = {(r.sensor_id, r.tus): r.temp_milli for r in df.collect()}
    assert len(rows) == 40                      # 8 x 5, no dup, no gap
    for sid in range(8):
        for seq in range(5):
            want = _reading(sid, seq)
            assert rows[(want[0], want[1])] == want[2]


def test_arrow_group_profile_hand_values(spark):
    """applyInArrow kernel: hand-checked weighted sums per group; the
    Arrow path must not coerce int64 arithmetic."""
    from instageo_e2e_geospatial_ml_spark.operators.arrowops import (
        arrow_group_profile,
    )

    rows = [(1, 10, 2, 3), (1, 20, 4, 5), (2, 7, 7, 1)]
    df = spark.createDataFrame(rows, "cell long, x long, y long, w long")
    got = {r.k: r for r in arrow_group_profile(df).collect()}
    assert (got[1].n, got[1].sum_w) == (2, 8)
    assert got[1].sum_wx == 3 * 10 + 5 * 20
    assert got[1].sum_wy == 3 * 2 + 5 * 4
    assert (got[1].min_x, got[1].max_y) == (10, 4)
    assert (got[2].n, got[2].sum_wx) == (1, 7)


def test_rendezvous_zero_cross_movement(spark):
    """q266's defining HRW property on real data: removing a node moves
    ONLY that node's keys (cross-movement exactly 0) and every doc
    stays assigned."""
    from instageo_e2e_geospatial_ml_spark.plans.driver_queries import (
        QUERIES,
    )

    rows = QUERIES["q266_rendezvous_hashing"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r.n_cross_moved for r in rows) == 0
    assert sum(r.n_inherited_from_removed for r in rows) > 0
    assert {r.node4 for r in rows} <= {"n0", "n1", "n2", "n3"}
