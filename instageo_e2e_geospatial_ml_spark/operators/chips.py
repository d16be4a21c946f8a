"""Raster↔vector chip extraction engine (the reference's flagship path).

Numpy kernels replicate the reference bug-for-bug (citations per kernel);
the Spark operator replaces the reference's Dask task-per-granule-set loop
(data_pipeline.py:797-824) with a slice-early / assemble-late pipeline:

  stage A (control, obs-scale):
      records → chip-cell assignment (vectorized UTM affine UDF) →
      groupBy(set, cx, cy) gathering the cell's observations.
  stage B (pixel-scale, NO image shuffle):
      the tiny (granule → wanted cells) map broadcasts onto the image
      scan; a mapInPandas decodes each image ONCE and emits only the
      needed chip_size² slices (projection pushdown at the pixel level —
      a 224² tile contributes 64² bytes per wanted cell instead of the
      whole payload).
  stage C (assembly):
      slices cogroup the cell's observations on (set, cx, cy) →
      time-major band stack, cloud/shadow/water masking, QA, label
      rasterization, seg-map invalidation → chip-table row.

Scale properties:
  * full image bytes never cross a shuffle — the only wide exchanges move
    observation rows and chip_size² slices (≈ bands × 8 KB per chip);
  * the work unit is one chip cell, so a hot granule-set fans out across
    cells naturally — no explicit salting needed (a single cell's work is
    bounded by chip_size² × bands regardless of observation count; only
    the collect_list of a pathologically popular cell can skew, which a
    pre-aggregation cap would bound).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs
from ..mgrs import latlon_to_utm, mgrs_tile_utm_square

SEG_NDV = -1  # NO_DATA_VALUES.SEG_MAP (reference settings.py:80-86)
HLS_NDV = 0
# mask decode positions per data source (reference data_pipeline.py:44-47):
# HLS Fmask = bitfield positions; S2 SCL = class-id lists
MASK_DECODING_POS = {
    "HLS": {"cloud": 1, "near_cloud_or_shadow": 2, "cloud_shadow": 3, "water": 5},
    "S2": {"cloud": [8, 9], "water": [6]},
}
DEFAULT_MASK_TYPES = list(MASK_DECODING_POS["HLS"])


# ---------------------------------------------------------------------------
# numpy kernels (reference parity, cited)
# ---------------------------------------------------------------------------

def decode_fmask_value(mask: np.ndarray, pos: int) -> np.ndarray:
    """Bit `pos` of the uint Fmask value (reference hls_utils.py:77-86:
    q = v // 2^pos; q - (q // 2) * 2)."""
    q = mask // (2**pos)
    return q - (q // 2) * 2


def create_mask_from_scl(scl: np.ndarray, class_ids: list[int]) -> np.ndarray:
    """R2 (reference s2_utils.py:410-422): SCL class-id membership mask."""
    return np.isin(scl, class_ids).astype(np.int8)


def apply_mask(
    chip: np.ndarray,
    mask: np.ndarray,
    no_data_value: int,
    mask_types: Iterable[str] = DEFAULT_MASK_TYPES,
    masking_strategy: str = "each",
    data_source: str = "HLS",
) -> np.ndarray:
    """Cloud/shadow/water masking (reference data_pipeline.py:229-267).

    chip: (T*B, h, w); mask: (T, h, w) — HLS Fmask bitfields (bit decode)
    or S2 SCL class-id rasters (membership decode).
    'each': each timestep's mask repeats across that timestep's bands
    (time-major stacking); 'any': a pixel masked in any timestep is masked
    everywhere.
    """
    chip = chip.copy()
    for mask_type in mask_types:
        pos = MASK_DECODING_POS[data_source].get(mask_type)
        if not pos:
            continue
        if data_source == "S2":
            decoded = create_mask_from_scl(mask, pos)
        else:
            decoded = decode_fmask_value(mask, pos)
        if masking_strategy == "each":
            decoded = decoded.repeat(chip.shape[0] // mask.shape[0], axis=0)
        elif masking_strategy == "any":
            decoded = decoded.any(axis=0)
        else:
            raise ValueError(masking_strategy)
        chip = np.where(decoded == 0, chip, no_data_value)
    return chip


def create_segmentation_map(
    chip_shape: tuple[int, int],
    transform: tuple[float, float, float, float],
    xs: np.ndarray,
    ys: np.ndarray,
    labels: np.ndarray,
    window_size: int,
    task_type: str = "seg",
) -> np.ndarray:
    """Label rasterization (reference data_pipeline.py:385-421), replicated
    bug-for-bug:

      * obs filtered to the chip's pixel-CENTER coordinate range
        (chip.x.min() .. chip.x.max(), rioxarray center coords);
      * pixel = floor(~transform · (x, y));
      * a (2w+1)² window is stamped per obs; `window_rows` is clipped with
        sizes["x"] and `window_cols` with sizes["y"] — the reference's
        axis swap, kept as-is (goldens depend on it);
      * overlapping windows: last observation wins (numpy fancy-assignment
        order), with obs processed in input order.

    transform = (a, c, e, f): x = c + a·col, y = f + e·row (cell edges);
    chip_shape = (h, w).
    """
    h, w = chip_shape
    a, c, e, f = transform
    dtype = np.int16 if task_type == "seg" else np.float32
    seg = np.full((h, w), SEG_NDV, dtype=dtype)
    # pixel-center coordinate bounds of the chip
    x_centers = c + a * (np.arange(w) + 0.5)
    y_centers = f + e * (np.arange(h) + 0.5)
    keep = (
        (xs >= x_centers.min())
        & (xs <= x_centers.max())
        & (ys >= y_centers.min())
        & (ys <= y_centers.max())
    )
    xs, ys, labels = xs[keep], ys[keep], labels[keep]
    if len(xs) == 0:
        return seg
    cols = np.floor((xs - c) / a).astype(int)
    rows = np.floor((ys - f) / e).astype(int)
    offsets = np.arange(-window_size, window_size + 1)
    offset_rows, offset_cols = np.meshgrid(offsets, offsets)
    # NOTE the swapped clip bounds (sizes["x"]=w clips rows, sizes["y"]=h
    # clips cols) — intentional reference parity
    window_rows = np.clip(rows[:, None, None] + offset_rows, 0, w - 1)
    window_cols = np.clip(cols[:, None, None] + offset_cols, 0, h - 1)
    window_labels = np.repeat(labels, offset_rows.size)
    seg[window_rows.ravel(), window_cols.ravel()] = window_labels
    return seg


def mask_segmentation_map(
    chip: np.ndarray, seg: np.ndarray, chip_ndv: int, masking_strategy: str = "any"
) -> np.ndarray:
    """Invalidate seg pixels whose chip pixels are no-data (reference
    data_pipeline.py:57-98): 'each' → valid if ANY band valid; 'any' →
    valid only if ALL bands valid."""
    if masking_strategy == "each":
        valid = (chip != chip_ndv).any(axis=0)
    elif masking_strategy == "any":
        valid = (chip != chip_ndv).all(axis=0)
    else:
        raise ValueError(masking_strategy)
    return np.where(valid, seg, SEG_NDV)


def chip_coords(
    xs: np.ndarray, ys: np.ndarray, transform: tuple[float, float, float, float], chip_size: int
) -> np.ndarray:
    """Unique (cx, cy) chip-grid cells containing the points (reference
    data_pipeline.py:424-443)."""
    a, c, e, f = transform
    cols = np.floor((xs - c) / a).astype(int)
    rows = np.floor((ys - f) / e).astype(int)
    return np.unique(np.stack((cols // chip_size, rows // chip_size), axis=-1), axis=0)


def crop_to_bounds(
    arr: np.ndarray,
    transform: tuple[float, float, float, float],
    bounds: tuple[float, float, float, float],
    chip_size: int | None = None,
) -> np.ndarray | None:
    """R9 (reference geo_utils.py:96-144 slice_xr_dataset): crop a
    (bands, h, w) raster to geometry bounds via the inverse affine; when
    chip_size is given the window is forced to exactly chip_size (the
    reprojection-fuzz guard). None when the crop is empty."""
    a, c, e, f = transform
    minx, miny, maxx, maxy = bounds
    rows = sorted(int(np.floor((y - f) / e)) for y in (miny, maxy))
    cols = sorted(int(np.floor((x - c) / a)) for x in (minx, maxx))
    row_min, row_max = rows
    col_min, col_max = cols
    if chip_size:
        row_max, col_max = row_min + chip_size, col_min + chip_size
    out = arr[:, max(row_min, 0) : row_max, max(col_min, 0) : col_max]
    return None if out.size == 0 else out


def hls_tile_key(granule_id: str) -> str:
    """'HLS.S30.T38PMB.2022145T072619.v2.0' → 'S30_T38PMB_2022145T072619'
    (reference data_pipeline.py:162-165)."""
    parts = granule_id.split(".")
    return f"{parts[1]}_{parts[2]}_{parts[3]}"


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

CHIP_SCHEMA = (
    "chip_id string, stac_items_str string, tile_key string, cx int, cy int, "
    "date_id string, n_bands int, chip_size int, chip_fmt string, chip binary, "
    "seg binary, valid_px long, n_label_px long"
)

SLICE_SCHEMA = (
    "sis string, scx int, scy int, t int, band string, dt string, "
    "data binary, w int, h int"
)


def extract_chips(
    records: DataFrame,
    images: DataFrame,
    chip_size: int = 64,
    window_size: int = 0,
    mask_types: Iterable[str] = (),
    masking_strategy: str = "any",
    task_type: str = "seg",
    band_order: tuple[str, ...] = ("B02", "B03", "B04", "B8A", "B11", "B12"),
    mask_band: str = "Fmask",
    no_data_value: int = HLS_NDV,
    transform_overrides: dict | None = None,
    label_band: str | None = None,
    data_source: str = "HLS",
    payload_source: str = "rows",
    n_salt: int = 0,  # obsolete (kept for API compat): cell grouping bounds skew structurally
    decode_counter=None,
) -> DataFrame:
    """records(stac_items_str, granules, x, y, date, label) × images
    (input_hint schema) → chip table. See module docstring for the
    slice-early / assemble-late architecture.

    transform_overrides: optional {tile_id: (utm_zone, a, c, e, f)} when
    rasters carry their own geotransform (the reference reads it from the
    GeoTIFF); default derives the 100 km MGRS square transform from the
    tile id.

    label_band: when set, segmentation maps are sliced from that raster
    band of the first timestep instead of rasterized from observation
    points — the reference's raster_chip_creator path (R9,
    raster_chip_creator.py:83-210, hls_utils.py:325-411).

    payload_source: 'rows' (default) streams image bytes from the Spark
    scan through Arrow; 'files' has Python tasks read the parquet
    payloads directly with pyarrow (vectorized-reader pattern — pixels
    never cross the JVM↔Python socket; requires a file-backed table).
    Both produce identical output.
    """
    mask_types = list(mask_types)
    overrides = dict(transform_overrides or {})
    wanted_bands = set(band_order) | {mask_band}
    if label_band:
        wanted_bands.add(label_band)

    def _tile_geo(tile_id: str, w: int, h: int):
        if tile_id in overrides:
            zone, a, c, e_, f_ = overrides[tile_id]
            return int(zone), (float(a), float(c), float(e_), float(f_))
        zone, _south, e0, n0 = mgrs_tile_utm_square(tile_id)
        return zone, (100000.0 / w, e0, -100000.0 / h, n0 + 100000.0)

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    w_px, h_px = _probe_image_dims(images)
    n_chips_x = w_px // chip_size
    n_chips_y = h_px // chip_size

    @pandas_udf(
        StructType([StructField("cx", IntegerType()), StructField("cy", IntegerType())])
    )
    def cell_of_obs(x: pd.Series, y: pd.Series, granules: pd.Series) -> pd.DataFrame:
        """Vectorized chip-cell assignment: lon/lat → tile UTM → affine →
        floor-div by chip_size (reference get_chip_coords per point)."""
        cxo = np.full(len(x), -1, dtype=np.int32)
        cyo = np.full(len(x), -1, dtype=np.int32)
        if len(x):
            xs = x.to_numpy(np.float64)
            ys = y.to_numpy(np.float64)
            tids = granules.map(lambda g: g[0].split(".")[2][1:] if len(g) else "")
            for tid, idx in pd.Series(range(len(x))).groupby(tids).groups.items():
                if not tid:
                    continue
                zone, (a, c, e_, f_) = _tile_geo(tid, w_px, h_px)
                ii = np.asarray(idx)
                ee, nn, _ = latlon_to_utm(ys[ii], xs[ii], np.full(len(ii), zone))
                cxo[ii] = (np.floor((ee - c) / a).astype(np.int64) // chip_size).astype(np.int32)
                cyo[ii] = (np.floor((nn - f_) / e_).astype(np.int64) // chip_size).astype(np.int32)
        return pd.DataFrame({"cx": cxo, "cy": cyo})

    # --- stage A: observations → per-cell groups --------------------------
    rec = records.withColumn("_cell", cell_of_obs("x", "y", "granules")).select(
        "*", F.col("_cell.cx").alias("cx"), F.col("_cell.cy").alias("cy")
    ).drop("_cell")
    # partial/out-of-tile cells dropped EARLY (reference data_pipeline.py:184-185)
    rec = rec.filter(
        (F.col("cx") >= 0) & (F.col("cy") >= 0)
        & (F.col("cx") < n_chips_x) & (F.col("cy") < n_chips_y)
    )
    obs_cells = rec.groupBy("stac_items_str", "cx", "cy").agg(
        F.first("granules").alias("granules"),
        F.collect_list(F.struct("x", "y", "date", "label")).alias("obs"),
    )

    # --- stage B: image scan → needed slices (no payload shuffle) ----------
    cells_small = obs_cells.select(
        F.col("stac_items_str").alias("w_sis"),
        F.col("cx").alias("w_cx"),
        F.col("cy").alias("w_cy"),
        F.posexplode("granules").alias("t", "granule_id"),
    )
    wants = F.broadcast(cells_small.groupBy("granule_id").agg(
        F.collect_list(F.struct("w_sis", "w_cx", "w_cy", "t")).alias("wants")
    ))

    def _slice_one(rows_out: list, image_id: str, buf: bytes, w: int, h: int,
                   fmt: str, wants_list) -> None:
        if w != w_px or h != h_px:
            return  # inconsistent raster dims — cell math undefined
        gid, _, band = image_id.partition(":")
        if decode_counter is not None:
            # Spark accumulator: worker-side adds merge back to the driver.
            # Pins the transcode-once guarantee (a resumed run whose records
            # were all anti-joined away decodes NOTHING — the wants join is
            # inner, so zero wanted cells means zero image decodes).
            decode_counter.add(1)
        arr = codecs.decode(buf, w, h, 1, fmt)[0]
        dt = arr.dtype.str
        for want in wants_list:
            cx, cy = int(want["w_cx"]), int(want["w_cy"])
            sl = arr[
                cy * chip_size : (cy + 1) * chip_size,
                cx * chip_size : (cx + 1) * chip_size,
            ]
            rows_out.append(
                {
                    "sis": want["w_sis"], "scx": cx, "scy": cy,
                    "t": int(want["t"]), "band": band, "dt": dt,
                    "data": np.ascontiguousarray(sl).tobytes(), "w": w, "h": h,
                }
            )

    _SLICE_COLS = ["sis", "scx", "scy", "t", "band", "dt", "data", "w", "h"]

    if payload_source == "rows":
        img = (
            images.withColumn("granule_id", F.split("image_id", ":").getItem(0))
            .withColumn("band", F.split("image_id", ":").getItem(1))
            .filter(F.col("band").isin(sorted(wanted_bands)))
            .select("image_id", "bytes", "w", "h", "fmt", "granule_id")
        )
        tasks = img.join(wants, "granule_id")

        def slice_images(it):
            for pdf in it:
                rows: list = []
                for r in pdf.itertuples(index=False):
                    _slice_one(
                        rows, r.image_id, bytes(r.bytes), int(r.w), int(r.h),
                        r.fmt, r.wants,
                    )
                yield pd.DataFrame(rows, columns=_SLICE_COLS)

        slices = tasks.mapInPandas(slice_images, SLICE_SCHEMA)
    elif payload_source == "files":
        # vectorized-reader path: Python tasks read the parquet payloads
        # directly (pyarrow, page-cache mmap) — image bytes NEVER cross the
        # JVM↔Python socket. This is the pattern a DataSource-v2 vectorized
        # reader gives on a real cluster; locally it sidesteps the
        # IPC/syscall ceiling.
        #
        # The (granule → wanted cells) map is an EXECUTOR-SIDE LOOKUP, not
        # a driver collect: `wants` is materialized once as a granule-sorted
        # scratch parquet, and each task does a pyarrow filtered read for
        # only the granule ids its own files contain (row-group stats prune
        # the rest). Per-task memory is proportional to the task's actual
        # work, so there is no granule cap on this path. On a real cluster
        # the scratch dir would be a shared filesystem path (HDFS/S3);
        # locally it is a temp dir cleaned up at process exit.
        import atexit
        import shutil
        import tempfile

        spark = images.sparkSession
        paths = [p for p in images.inputFiles()]
        if not paths:
            raise ValueError("payload_source='files' requires a file-backed images table")
        wants_dir = tempfile.mkdtemp(prefix="chip_wants_")
        atexit.register(shutil.rmtree, wants_dir, ignore_errors=True)
        n_wants_files = max(1, min(32, spark.sparkContext.defaultParallelism))
        (
            wants.repartitionByRange(n_wants_files, "granule_id")
            .sortWithinPartitions("granule_id")
            .write.mode("overwrite")
            .parquet(wants_dir)
        )
        bands_bc = spark.sparkContext.broadcast(set(wanted_bands))
        files_df = spark.createDataFrame(
            [(p,) for p in sorted(paths)], "path string"
        ).repartition(min(len(paths), spark.sparkContext.defaultParallelism * 4))

        def slice_files(it):
            import pyarrow.parquet as pq

            wb = bands_bc.value
            for pdf in it:
                rows: list = []
                for path in pdf["path"]:
                    local = path[7:] if path.startswith("file:") else path
                    pf = pq.ParquetFile(local)
                    # pass 1: cheap id-column scan → the granules this file
                    # actually needs wants for
                    per_rg_ids = []
                    needed: set = set()
                    for rg in range(pf.num_row_groups):
                        ids = pf.read_row_group(rg, columns=["image_id"])[
                            "image_id"
                        ].to_pylist()
                        per_rg_ids.append(ids)
                        for iid in ids:
                            gid, _, band = iid.partition(":")
                            if band in wb:
                                needed.add(gid)
                    if not needed:
                        continue
                    wtbl = pq.read_table(
                        wants_dir,
                        columns=["granule_id", "wants"],
                        filters=[("granule_id", "in", sorted(needed))],
                    )
                    wm = dict(
                        zip(wtbl["granule_id"].to_pylist(), wtbl["wants"].to_pylist())
                    )
                    for rg, ids in enumerate(per_rg_ids):
                        keep = []
                        for i, iid in enumerate(ids):
                            gid, _, band = iid.partition(":")
                            if band in wb and gid in wm:
                                keep.append(i)
                        if not keep:
                            continue
                        tbl = pf.read_row_group(
                            rg, columns=["image_id", "bytes", "w", "h", "fmt"]
                        )
                        for i in keep:
                            iid = tbl["image_id"][i].as_py()
                            gid = iid.partition(":")[0]
                            _slice_one(
                                rows, iid, tbl["bytes"][i].as_py(),
                                tbl["w"][i].as_py(), tbl["h"][i].as_py(),
                                tbl["fmt"][i].as_py(), wm[gid],
                            )
                yield pd.DataFrame(rows, columns=_SLICE_COLS)

        slices = files_df.mapInPandas(slice_files, SLICE_SCHEMA)
    else:
        raise ValueError(payload_source)

    # --- stage C: assemble chips -------------------------------------------
    def assemble(sl_pdf: pd.DataFrame, obs_pdf: pd.DataFrame) -> pd.DataFrame:
        cols = [
            "chip_id", "stac_items_str", "tile_key", "cx", "cy", "date_id",
            "n_bands", "chip_size", "chip_fmt", "chip", "seg", "valid_px",
            "n_label_px",
        ]
        if len(obs_pdf) == 0 or len(sl_pdf) == 0:
            return pd.DataFrame(columns=cols)
        row0 = obs_pdf.iloc[0]
        sis = row0["stac_items_str"]
        granules = list(row0["granules"])
        cx, cy = int(row0["cx"]), int(row0["cy"])
        tile_id = granules[0].split(".")[2][1:]
        tile_key = hls_tile_key(granules[0])
        T = len(granules)

        by_key = {}
        w = h = None
        for r in sl_pdf.itertuples(index=False):
            by_key[(int(r.t), r.band)] = np.frombuffer(bytes(r.data), dtype=r.dt).reshape(
                chip_size, chip_size
            )
            w, h = int(r.w), int(r.h)

        planes = []
        for t in range(T):
            for b in band_order:
                p = by_key.get((t, b))
                if p is None:
                    return pd.DataFrame(columns=cols)  # incomplete stack → drop
                planes.append(p)
        chip = np.stack(planes)
        if np.issubdtype(chip.dtype, np.integer):
            chip = chip.astype(np.int32)  # headroom for the NDV sentinel
        masks = [by_key[(t, mask_band)] for t in range(T) if (t, mask_band) in by_key]
        if mask_types:
            # QA was requested: an incomplete mask stack must drop the cell
            # (same contract as an incomplete spectral stack above) — never
            # silently emit unmasked pixels that look QA'd
            if len(masks) != T:
                return pd.DataFrame(columns=cols)
            chip = apply_mask(
                chip, np.stack(masks), no_data_value,
                mask_types, masking_strategy, data_source,
            )
        valid_px = int((chip != no_data_value).sum())
        if valid_px == 0:
            return pd.DataFrame(columns=cols)  # QA (reference data_pipeline.py:214-216)

        zone, (a, c, e_, f_) = _tile_geo(tile_id, w, h)
        obs_list = sorted(
            (tuple(o) if not isinstance(o, dict) else (o["x"], o["y"], o["date"], o["label"]))
            for o in row0["obs"]
        )
        oxs = np.array([o[0] for o in obs_list], dtype=np.float64)
        oys = np.array([o[1] for o in obs_list], dtype=np.float64)
        labels = np.array([o[3] for o in obs_list])
        dates = pd.to_datetime([o[2] for o in obs_list])
        date_id = dates.min().strftime("%Y%m%d")
        ee, nn, _ = latlon_to_utm(oys, oxs, np.full(len(oxs), zone))
        chip_tr = (a, c + a * cx * chip_size, e_, f_ + e_ * cy * chip_size)
        if label_band:
            lab = by_key.get((0, label_band))
            if lab is None:
                return pd.DataFrame(columns=cols)
            seg = lab.astype(np.int16 if task_type == "seg" else np.float32)
        else:
            seg = create_segmentation_map(
                (chip_size, chip_size), chip_tr, ee, nn, labels, window_size, task_type
            )
        seg = mask_segmentation_map(chip, seg, no_data_value, "any")
        n_label_px = int((seg != SEG_NDV).sum())
        if n_label_px == 0:
            return pd.DataFrame(columns=cols)  # QA (reference data_pipeline.py:218-220)
        if np.issubdtype(chip.dtype, np.floating):
            chip_fmt, chip_out = "rawf8", chip.astype(np.float64)
        else:
            chip_fmt, chip_out = "raw", np.clip(chip, 0, 65535).astype(np.uint16)
        return pd.DataFrame(
            [
                {
                    "chip_id": f"chip_{date_id}_{tile_key}_{cx}_{cy}",
                    "stac_items_str": sis,
                    "tile_key": tile_key,
                    "cx": cx,
                    "cy": cy,
                    "date_id": date_id,
                    "n_bands": int(chip.shape[0]),
                    "chip_size": chip_size,
                    "chip_fmt": chip_fmt,
                    "chip": codecs.encode(chip_out, chip_fmt),
                    "seg": seg.astype("<i2").tobytes(),
                    "valid_px": valid_px,
                    "n_label_px": n_label_px,
                }
            ],
            columns=cols,
        )

    return (
        slices.groupby("sis", "scx", "scy")
        .cogroup(obs_cells.groupby("stac_items_str", "cx", "cy"))
        .applyInPandas(assemble, CHIP_SCHEMA)
    )


def _probe_image_dims(images: DataFrame) -> tuple[int, int]:
    """Tile pixel dims (assumed uniform — one probe row, pruned scan)."""
    row = images.select("w", "h").first()
    return int(row["w"]), int(row["h"])
