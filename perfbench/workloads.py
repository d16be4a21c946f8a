"""The benchmark workloads.

Each workload is a closed loop with one client: it writes its inputs in
`setup`, runs one untimed reference pass that is checked against an
independent numpy computation, then repeats `run_pass` and compares each
pass's output digest with the reference. `traced_pass` rebuilds the same
pipeline from the package's public functions, one layer at a time, so the
per-layer counters can be read; its digest must equal the untraced one.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark import codecs
from instageo_e2e_geospatial_ml_spark.mgrs import mgrs_precision0
from instageo_e2e_geospatial_ml_spark.operators.asof import asof_pick, granule_sequence
from instageo_e2e_geospatial_ml_spark.operators.chips import extract_chips
from instageo_e2e_geospatial_ml_spark.operators.dates import (
    expand_temporal_steps,
    normalize_dates,
)
from instageo_e2e_geospatial_ml_spark.operators.density import assign_tiles, density_filter
from instageo_e2e_geospatial_ml_spark.operators.knn import knn_join
from instageo_e2e_geospatial_ml_spark.operators.spatial_join import (
    footprint_key,
    pip_join,
)
from instageo_e2e_geospatial_ml_spark.operators.validity import validity_filter
from instageo_e2e_geospatial_ml_spark.plans.pipeline import (
    ChipPipelineConfig,
    build_records,
    run_chip_pipeline_streaming,
)
from instageo_e2e_geospatial_ml_spark.sources.checkpoint import CheckpointTable

from . import inputs

RECORD_COLS = ["stac_items_str", "granules", "x", "y", "date", "label"]
CHIP_DIGEST_COLS = ["chip_id", "stac_items_str", "cx", "cy", "valid_px", "n_label_px"]


def digest(df, cols) -> tuple:
    """(row count, order-free 64-bit hash sum) of `cols` — consumes every
    row of the output, like a sink would."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


def chip_digest(df) -> tuple:
    return digest(df, CHIP_DIGEST_COLS + [F.md5("chip"), F.md5("seg")])


class PassResult:
    def __init__(self, digest, units, ops=1, failed=0, batches=()):
        self.digest = digest
        self.units = units          # input rows of the pass
        self.ops = ops              # operations attempted (micro-batches)
        self.failed = failed
        self.batches = list(batches)  # micro-batch walls, s


class Workload:
    name = ""
    sizes: dict = {}
    smoke_sizes: dict = {}

    def __init__(self, work: str, seed: int, smoke: bool = False):
        self.work = work
        self.seed = seed
        self.z = dict(self.smoke_sizes if smoke else self.sizes)
        self.inputs_dir = ""

    def setup(self, i: int) -> None:
        self.inputs_dir = os.path.join(self.work, f"inputs-{i}")
        shutil.rmtree(self.inputs_dir, ignore_errors=True)
        self.write_inputs(self.inputs_dir)

    def path(self, name: str) -> str:
        return os.path.join(self.inputs_dir, name)

    # subclasses: write_inputs, load, reference, run_pass, traced_pass


# ---------------------------------------------------------------------------
# ingest_stream: tile-aligned obs files -> micro-batches -> CheckpointTable
# ---------------------------------------------------------------------------

class IngestStream(Workload):
    """Observation files, one per tile, stream into `run_chip_pipeline_streaming`
    in micro-batches. Each batch runs the records phase (MGRS assign,
    density, PIP, as-of, validity), the resume anti-join, chip extraction
    (scan, decode, slice, assemble, mask) over a PNG image table, and a
    commit to a fresh CheckpointTable."""

    name = "ingest_stream"
    sizes = dict(tiles=6, days=10, obs_per_tile=150, spread=0.4, date_lo=4,
                 date_hi=12, sparse_tiles=1, image=128, image_files=8, batches=2)
    smoke_sizes = dict(tiles=3, days=8, obs_per_tile=20, spread=0.4, date_lo=4,
                       date_hi=10, sparse_tiles=1, image=64, image_files=2, batches=2)
    cfg = ChipPipelineConfig(
        min_count=5, num_steps=2, temporal_step=4, temporal_tolerance=3,
        chip_size=32, window_size=1, mask_types=("cloud", "cloud_shadow", "water"),
        masking_strategy="each",
    )

    def write_inputs(self, d: str) -> None:
        z = self.z
        self.scene = inputs.make_scene(
            self.seed, z["tiles"], z["days"], z["obs_per_tile"], z["spread"],
            z["date_lo"], z["date_hi"], z["sparse_tiles"],
        )
        inputs.write_table(self.scene.catalog, os.path.join(d, "catalog"))
        inputs.write_images(
            self.seed, self.scene.catalog["granule_id"].to_pylist(), z["image"],
            os.path.join(d, "images"), z["image_files"],
        )
        # one observation file per tile, in tile order: the layout the
        # streaming contract asks for (a granule set never straddles files)
        os.makedirs(os.path.join(d, "obs"))
        for i in range(len(self.scene.tiles)):
            idx = np.flatnonzero(self.scene.obs_tile == i)
            pq.write_table(self.scene.obs.take(idx), os.path.join(d, "obs", f"{i:04d}.parquet"))
        self.n_files = len(self.scene.tiles)

    def load(self, spark) -> None:
        self.catalog = spark.read.parquet(self.path("catalog"))
        self.images = spark.read.parquet(self.path("images"))
        self.obs_path = self.path("obs")
        self.schema = self.obs(spark).schema
        self.max_files = -(-self.n_files // self.z["batches"])
        self.runs = 0

    def obs(self, spark):
        return spark.read.parquet(self.obs_path)

    def fresh(self) -> tuple[str, str]:
        self.runs += 1
        root = os.path.join(self.work, "runs", str(self.runs))
        shutil.rmtree(os.path.join(self.work, "runs"), ignore_errors=True)
        return os.path.join(root, "table"), os.path.join(root, "stream")

    def traced_records(self, tr, obs, catalog):
        """build_records' stages, one layer at a time."""
        cfg = self.cfg
        with tr.layer("density") as sp:
            o = density_filter(
                assign_tiles(normalize_dates(obs, shift_to_month_start=cfg.shift_to_month_start)),
                cfg.min_count, keep_counts=False,
            ).withColumn("obs_id", F.monotonically_increasing_id())
            o, n_dense = tr.materialize(o)
            sp.rows_out = n_dense
        with tr.layer("spatial_join") as sp:
            fp, sp.rows_out = tr.materialize(pip_join(o, catalog, expand_granules=False))
        with tr.layer("asof") as sp:
            steps = expand_temporal_steps(
                o, num_steps=cfg.num_steps, temporal_step=cfg.temporal_step
            ).select("obs_id", "step", "query_date")
            granules = footprint_key(catalog).select("_fp_id", "granule_id", "ts", "cloud_cover")
            picked, n_picks = tr.materialize(asof_pick(
                steps, fp, granules, tolerance_days=cfg.temporal_tolerance,
                obs_id="obs_id", keep_unmatched=False, align_partitioning=True,
                join_key="_fp_id", broadcast_granules=True,
            ))
            seq, n_seq = tr.materialize(granule_sequence(picked))
            sp.rows_out = n_picks
        with tr.layer("validity") as sp:
            records, sp.rows_out = tr.materialize(
                validity_filter(o.join(seq, "obs_id", "inner"), num_steps=cfg.num_steps)
            )
        tr.add("asof.picks", n_picks)
        tr.add("asof.asked", n_dense * cfg.num_steps)
        tr.add("validity.seen", n_seq)
        return o, records

    def refine_probe(self, tr, o, catalog) -> None:
        """Candidates that pass the bbox test, for spatial_join.refine_yield."""
        with tr.span("probe"):
            tr.add("spatial_join.bbox_candidates",
                   pip_join(o, catalog, exact=False, expand_granules=False).count())

    def extract(self, records, counter=None):
        c = self.cfg
        return extract_chips(
            records.select(*RECORD_COLS), self.images, chip_size=c.chip_size,
            window_size=c.window_size, mask_types=c.mask_types,
            masking_strategy=c.masking_strategy, task_type=c.task_type,
            band_order=c.band_order, n_salt=c.n_salt, decode_counter=counter,
        )

    def wanted_probe(self, tr, records) -> None:
        """Distinct (granule, band) images the records ask for."""
        with tr.span("probe"):
            n = records.select(F.explode("granules")).distinct().count()
            tr.add("chips.wanted_images", n * (len(self.cfg.band_order) + 1))

    def run_pass(self, spark) -> PassResult:
        return self.stream(spark, self.max_files)

    def stream(self, spark, max_files: int) -> PassResult:
        """Drain the observation files into a fresh CheckpointTable,
        `max_files` per micro-batch; batch walls come from a listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        durations: list = []

        class Batches(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if event.progress.numInputRows > 0:
                    durations.append(event.progress.batchDuration / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        table, stream = self.fresh()
        listener = Batches()
        spark.streams.addListener(listener)
        self.ckpt = CheckpointTable(spark, table, key="stac_items_str", partition_by="tile_key")
        n_batches = -(-self.n_files // max_files)
        try:
            out = run_chip_pipeline_streaming(
                spark, self.obs_path, self.schema, self.catalog, self.images, self.cfg,
                checkpoint=self.ckpt, stream_checkpoint_dir=stream, max_files=max_files,
            )
            d = chip_digest(out.drop("_snapshot_id"))
        except Exception as e:  # a failed micro-batch stops the query
            print(f"ingest_stream: streaming query failed: {e!r}"[:2000], file=sys.stderr)
            d = None
        finally:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            spark.streams.removeListener(listener)
        failed = 0 if d else n_batches - len(durations)
        return PassResult(d, self.scene.obs.num_rows, n_batches, failed, durations)

    def reference(self, spark) -> tuple[PassResult, list]:
        """Every observation file in one micro-batch: `run_chip_pipeline`
        over all observations at once, committed to a fresh CheckpointTable,
        so the streaming source and the commit path have run before any
        timed pass. The records of all observations are checked against
        numpy, the committed chips against numpy pixels, and every timed
        pass must commit exactly these chips."""
        records = build_records(self.obs(spark), self.catalog, self.cfg)
        got = {r["oid"]: r["stac_items_str"] for r in records.select("oid", "stac_items_str").collect()}
        errors = check_records(self.scene, self.cfg, got, self.seed)
        res = self.stream(spark, self.n_files)
        if res.digest is None:
            return res, errors + ["ingest_stream: the one-batch reference pass failed"]
        errors += check_chip_sample(self.ckpt.read(), self.seed, self.z["image"], self.cfg)
        return res, errors

    def traced_pass(self, spark, tr) -> tuple:
        table, stream = self.fresh()
        ckpt = CheckpointTable(spark, table, key="stac_items_str", partition_by="tile_key")
        counter = spark.sparkContext.accumulator(0)
        failures: list = []

        def one_batch(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            try:
                with tr.span("batch"):
                    o, records = self.traced_records(tr, batch_df, self.catalog)
                    with tr.layer("checkpoint"):
                        todo, _ = tr.materialize(
                            ckpt.filter_uncommitted(records.select(*RECORD_COLS))
                        )
                    with tr.layer("chips") as sp:
                        chips, sp.rows_out = tr.materialize(self.extract(todo, counter))
                    with tr.layer("checkpoint") as sp:
                        t0 = time.perf_counter()
                        sp.rows_out = ckpt.append(
                            chips, metrics_cols=["valid_px", "n_label_px"])["n_rows"]
                        t1 = time.perf_counter()
                        ckpt.read().count()
                        tr.add("checkpoint.append_s", t1 - t0)
                        tr.add("checkpoint.read_s", time.perf_counter() - t1)
                self.wanted_probe(tr, records)
                self.refine_probe(tr, o, self.catalog)
            except Exception as e:  # recorded, then re-raised to stop the query
                failures.append(e)
                raise
            finally:
                tr.release()

        q = (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", self.max_files).parquet(self.obs_path)
            .writeStream.foreachBatch(one_batch)
            .option("checkpointLocation", stream).trigger(availableNow=True).start()
        )
        try:
            q.awaitTermination()
        except Exception:
            pass
        if failures:
            raise failures[0]
        tr.add("chips.decodes", counter.value)
        tr.add("checkpoint.bytes_written", dir_bytes(os.path.join(table, "data")))
        return chip_digest(ckpt.read().drop("_snapshot_id"))


def check_records(scene, cfg, got: dict, seed: int, n_sample: int = 400) -> list:
    """numpy MGRS + density + point-in-polygon + min-cloud pick for a
    seeded sample of observations, against the Spark records."""
    errors = []
    obs = scene.obs.to_pydict()
    cat = scene.catalog.to_pydict()
    xs, ys = np.array(obs["x"]), np.array(obs["y"])
    tiles = mgrs_precision0(ys, xs)
    names, counts = np.unique(tiles, return_counts=True)
    tile_n = dict(zip(names, counts))
    ts_us = np.array([int(t.timestamp()) * 1_000_000 for t in cat["ts"]], dtype=np.int64)
    cloud = np.array(cat["cloud_cover"])
    gid = np.array(cat["granule_id"], dtype=object)
    # one footprint per tile: all of a tile's granules share it
    fps = {}
    for i, t in enumerate(cat["tile_id"]):
        fps.setdefault(t, (np.array(cat["fp_xs"][i]), np.array(cat["fp_ys"][i]), []))[2].append(i)
    rng = np.random.default_rng([seed, 9])
    tol = cfg.temporal_tolerance * 86_400_000_000
    for k in rng.choice(len(xs), min(n_sample, len(xs)), replace=False):
        oid = obs["oid"][k]
        want = None
        if tile_n[tiles[k]] >= cfg.min_count:
            cand = [
                i for fx, fy, idx in fps.values()
                if point_in_ring(xs[k], ys[k], fx, fy) for i in idx
            ]
            d0 = datetime.fromisoformat(obs["date"][k]).replace(tzinfo=timezone.utc)
            picks = []
            for s in range(cfg.num_steps):
                q = int((d0 - timedelta(days=s * cfg.temporal_step)).timestamp()) * 1_000_000
                ok = [i for i in cand if abs(ts_us[i] - q) <= tol]
                if not ok:
                    break
                picks.append(gid[min(ok, key=lambda i: (cloud[i], ts_us[i], gid[i]))])
            if len(picks) == cfg.num_steps and len(set(picks)) == len(picks):
                want = "_".join(picks)
        if got.get(oid) != want:
            errors.append(f"records: oid {oid} got {got.get(oid)!r} want {want!r}")
    return errors[:5]


def point_in_ring(px: float, py: float, xs: np.ndarray, ys: np.ndarray) -> bool:
    """Even-odd ray cast of one point against one closed ring."""
    inside = False
    for i in range(len(xs)):
        x1, y1, x2, y2 = xs[i - 1], ys[i - 1], xs[i], ys[i]
        if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def check_chip_sample(chips, seed: int, size: int, cfg, n_sample: int = 24) -> list:
    """Decoded chip pixels against a direct numpy slice of the generated
    rasters, with the Fmask bits of cfg.mask_types zeroed per timestep."""
    errors = []
    ids = sorted(r["chip_id"] for r in chips.select("chip_id").collect())
    if not ids:
        return ["chips: the pipeline produced no chips"]
    rng = np.random.default_rng([seed, 10])
    pick = sorted(rng.choice(ids, min(n_sample, len(ids)), replace=False).tolist())
    cs = cfg.chip_size
    bits = [{"cloud": 1, "near_cloud_or_shadow": 2, "cloud_shadow": 3, "water": 5}[m]
            for m in cfg.mask_types]
    for r in chips.filter(F.col("chip_id").isin(pick)).collect():
        cx, cy = r["cx"], r["cy"]
        cut = (slice(cy * cs, (cy + 1) * cs), slice(cx * cs, (cx + 1) * cs))
        got = codecs.decode(r["chip"], cs, cs, r["n_bands"], r["chip_fmt"])
        planes = []
        for g in r["stac_items_str"].split("_"):
            m = inputs.band_pixels(seed, g, inputs.MASK_BAND, size)[0][cut]
            masked = np.zeros(m.shape, bool)
            for b in bits:
                masked |= ((m >> b) & 1).astype(bool)
            for band in cfg.band_order:
                px = inputs.band_pixels(seed, g, band, size)[0][cut]
                planes.append(np.where(masked, 0, px))
        want = np.stack(planes)
        if got.shape != want.shape or not np.array_equal(got, want):
            errors.append(f"chips: {r['chip_id']} pixels differ from the direct slice")
    return errors[:5]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


# ---------------------------------------------------------------------------
# point_joins: PIP at fact scale + kNN
# ---------------------------------------------------------------------------

class PointJoins(Workload):
    name = "point_joins"
    sizes = dict(points=250_000, polys=20_000, queries=15_000, k=8, radius=0.5)
    smoke_sizes = dict(points=20_000, polys=2_000, queries=500, k=8, radius=0.5)

    def write_inputs(self, d: str) -> None:
        z = self.z
        self.points, self.polys, self.queries = inputs.make_points(
            self.seed, z["points"], z["polys"], z["queries"]
        )
        inputs.write_table(self.points, os.path.join(d, "points"), n_files=8)
        inputs.write_table(self.polys, os.path.join(d, "polys"))
        inputs.write_table(self.queries, os.path.join(d, "queries"))

    def load(self, spark) -> None:
        self.pts = spark.read.parquet(self.path("points"))
        self.cat = spark.read.parquet(self.path("polys"))
        self.qs = spark.read.parquet(self.path("queries"))

    def pip(self):
        return pip_join(self.pts, self.cat, obs_id="pid")

    def knn(self):
        return knn_join(self.qs, self.pts, self.z["k"], self.z["radius"], pid="pid")

    def digests(self, pip, knn) -> tuple:
        return digest(pip, ["pid", "granule_id"]), digest(knn, ["qid", "pid", "rank"])

    def run_pass(self, spark) -> PassResult:
        return PassResult(self.digests(self.pip(), self.knn()),
                          self.points.num_rows + self.queries.num_rows)

    def reference(self, spark) -> tuple[PassResult, list]:
        """A pass whose join outputs stay cached while the numpy checks
        read their samples, then one plain pass, which must give the same
        digests and leaves the timed passes' plan warm."""
        pip, knn = self.pip().persist(), self.knn().persist()
        res = PassResult(self.digests(pip, knn), self.points.num_rows + self.queries.num_rows)
        errors = check_point_joins(self, pip, knn)
        pip.unpersist()
        knn.unpersist()
        if self.run_pass(spark).digest != res.digest:
            errors.append("point_joins: a plain pass differs from the cached one")
        return res, errors

    def traced_pass(self, spark, tr) -> tuple:
        with tr.span("pass"):
            with tr.layer("spatial_join") as sp:
                pip, sp.rows_out = tr.materialize(self.pip())
            with tr.layer("knn") as sp:
                knn, sp.rows_out = tr.materialize(self.knn())
                group = sp.group
            d = self.digests(pip, knn)
        tr.add_join_rows("knn.candidate_pairs", group)
        with tr.span("probe"):
            tr.add("spatial_join.bbox_candidates",
                   pip_join(self.pts, self.cat, obs_id="pid", exact=False).count())
        return d


def check_point_joins(w: PointJoins, pip, knn, n_pts: int = 300, n_q: int = 40) -> list:
    """numpy point-in-polygon and brute-force kNN on seeded samples of the
    `pip` and `knn` join outputs."""
    errors = []
    rng = np.random.default_rng([w.seed, 11])
    px, py = (np.asarray(w.points[c]) for c in ("x", "y"))
    pid = np.asarray(w.points["pid"])
    poly = {c: np.asarray(w.polys[c]) for c in ("fp_minx", "fp_maxx", "fp_miny", "fp_maxy")}
    gids = np.asarray(w.polys["granule_id"].to_pylist(), dtype=object)
    fxs, fys = w.polys["fp_xs"].to_pylist(), w.polys["fp_ys"].to_pylist()
    sample = rng.choice(len(px), min(n_pts, len(px)), replace=False)
    want = set()
    for k in sample:
        box = np.flatnonzero(
            (poly["fp_minx"] <= px[k]) & (px[k] <= poly["fp_maxx"])
            & (poly["fp_miny"] <= py[k]) & (py[k] <= poly["fp_maxy"])
        )
        want |= {(int(pid[k]), gids[j]) for j in box
                 if point_in_ring(px[k], py[k], np.array(fxs[j]), np.array(fys[j]))}
    got = {
        (r["pid"], r["granule_id"])
        for r in pip.filter(F.col("pid").isin([int(pid[k]) for k in sample])).collect()
    }
    if got != want:
        errors.append(f"point_joins: PIP sample differs ({len(got)} vs {len(want)} pairs)")
    qx, qy = np.asarray(w.queries["qx"]), np.asarray(w.queries["qy"])
    qid = np.asarray(w.queries["qid"])
    qs = rng.choice(len(qx), min(n_q, len(qx)), replace=False)
    got_knn: dict = {}
    for r in knn.filter(F.col("qid").isin([int(qid[k]) for k in qs])).collect():
        got_knn.setdefault(r["qid"], []).append((r["rank"], r["pid"]))
    r2 = w.z["radius"] ** 2
    for k in qs:
        d2 = (qx[k] - px) ** 2 + (qy[k] - py) ** 2
        near = np.flatnonzero(d2 <= r2)
        order = sorted(near, key=lambda j: (d2[j], pid[j]))[: w.z["k"]]
        want_ids = [int(pid[j]) for j in order]
        got_ids = [p for _, p in sorted(got_knn.get(int(qid[k]), []))]
        if got_ids != want_ids:
            errors.append(f"point_joins: kNN of query {qid[k]} differs")
    return errors[:5]


WORKLOADS = {w.name: w for w in (IngestStream, PointJoins)}
