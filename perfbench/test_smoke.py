"""Self-tests of the benchmark: tiny-scale smoke runs of every workload
emit exactly the metrics BENCHMARK.json names, and the command refuses to
run without the package.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

# per-layer counters each workload's traced pass must move off zero, and
# counters of layers it does not run, which must stay zero
LAYER_WORK = {
    "ingest_stream": (
        ["density.jobs", "spatial_join.jobs", "asof.jobs", "validity.jobs", "chips.jobs",
         "checkpoint.jobs", "chips.decodes", "checkpoint.bytes_written", "chips.cpu_s"],
        ["knn.jobs", "knn.candidate_pairs"],
    ),
    "point_joins": (
        ["spatial_join.jobs", "spatial_join.rows_out", "knn.jobs", "knn.candidate_pairs",
         "knn.cpu_s"],
        ["density.jobs", "asof.jobs", "chips.decodes", "checkpoint.jobs"],
    ),
}


def run(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_metric(workload, trace):
    p = run("--workload", workload, "--seed", "3", "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in want)
    else:
        busy, idle = LAYER_WORK[workload]
        assert [k for k in busy if not out["metrics"][k]["value"] > 0] == []
        assert [k for k in idle if out["metrics"][k]["value"] != 0] == []


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = run("--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0",
            cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_inputs_repeat_per_seed_and_tiles_round_trip():
    sys.path.insert(0, ROOT)
    from instageo_e2e_geospatial_ml_spark.mgrs import mgrs_precision0, mgrs_tile_bounds

    from perfbench import inputs

    a = inputs.make_scene(5, 6, 10, 20, 0.4, 2, 8)
    b = inputs.make_scene(5, 6, 10, 20, 0.4, 2, 8)
    assert a.obs.equals(b.obs) and a.catalog.equals(b.catalog)
    assert not a.obs.equals(inputs.make_scene(6, 6, 10, 20, 0.4, 2, 8).obs)
    for t in a.tiles:
        xs, ys = mgrs_tile_bounds(t)
        assert mgrs_precision0(ys.mean(), xs.mean())[0] == t
    g = inputs.granule_id(a.tiles[0], 3)
    assert np.array_equal(inputs.band_pixels(5, g, "B04", 32),
                          inputs.band_pixels(5, g, "B04", 32))
