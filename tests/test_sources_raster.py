"""Catalog search (S7), band rename (P8), observation readers (S1-S3),
raster-label pipeline (R9/3.2), P11 regex extraction, J3 closest order."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from instageo_e2e_geospatial_ml_spark import synth
from instageo_e2e_geospatial_ml_spark.operators.asof import asof_pick
from instageo_e2e_geospatial_ml_spark.plans.pipeline import ChipPipelineConfig
from instageo_e2e_geospatial_ml_spark.plans.raster_pipeline import run_raster_pipeline
from instageo_e2e_geospatial_ml_spark.sources.catalog import (
    common_band_name,
    search_granules,
)
from instageo_e2e_geospatial_ml_spark.sources.observations import read_observations


def test_search_granules(spark):
    cat = spark.createDataFrame(synth.gen_granule_catalog_pdf(days=60, every=5))
    out = search_granules(
        cat,
        min_date="2022-05-10",
        max_date="2022-06-10",
        max_cloud_cover=50.0,
        tile_ids=["38PMB"],
    ).toPandas()
    assert len(out) > 0
    assert (out["tile_id"] == "38PMB").all()
    assert (out["cloud_cover"] <= 50.0).all()
    assert out["ts"].is_monotonic_increasing
    # bbox that misses every footprint
    assert search_granules(cat, bbox=(-150.0, -60.0, -140.0, -50.0)).count() == 0


def test_common_band_name(spark):
    df = spark.createDataFrame(pd.DataFrame({"band": ["B02", "Fmask", "XYZ"]}))
    got = [r[0] for r in df.select(common_band_name("band")).collect()]
    assert got == ["blue", "fmask", "XYZ"]


def test_read_observations_csv_parquet(spark, tmp_path):
    pdf = synth.gen_observations_pdf(n_extra_per_tile=3)
    pdf["time"] = "07:30:00"
    pdf["date"] = pdf["date"].dt.strftime("%Y-%m-%d")
    csv_path = str(tmp_path / "obs.csv")
    pdf.to_csv(csv_path, index=False)
    obs_csv = read_observations(spark, csv_path, fmt="csv")
    row = obs_csv.first()
    assert row["date"].hour == 7 and row["date"].minute == 30  # time combined
    pq_path = str(tmp_path / "obs_pq")
    spark.createDataFrame(pdf).write.partitionBy("year").parquet(pq_path)
    obs_pq = read_observations(
        spark, pq_path, fmt="parquet", filter_spec="('label' ? '==' ? 1)"
    )
    got = obs_pq.toPandas()
    assert (got["label"] == 1).all()
    assert len(got) == (pdf["label"] == 1).sum()


def test_asof_closest_order(spark):
    # J3 (s2_utils.py:508-587): pick min |Δt| regardless of cloud
    granules = spark.createDataFrame(
        pd.DataFrame(
            {
                "granule_id": ["far_clear", "near_cloudy"],
                "ts": pd.to_datetime(["2022-06-01", "2022-06-07"]),
                "cloud_cover": [0.0, 99.0],
            }
        )
    )
    steps = spark.createDataFrame(
        pd.DataFrame(
            {"obs_id": [1], "step": [0], "query_date": pd.to_datetime(["2022-06-08"])}
        )
    )
    cands = spark.createDataFrame(
        pd.DataFrame({"obs_id": [1, 1], "granule_id": ["far_clear", "near_cloudy"]})
    )
    closest = asof_pick(steps, cands, granules, tolerance_days=10, order="closest").first()
    assert closest["picked_granule"] == "near_cloudy"
    cloud = asof_pick(steps, cands, granules, tolerance_days=10, order="cloud_cover").first()
    assert cloud["picked_granule"] == "far_clear"


def test_p11_path_field_extraction(spark):
    # P11 (data_splitter.py:141-177) as a NAMED operator: the reference's
    # exact semantics — basename only, first permissive tile run uppercased,
    # first 19xx/20xx year, NULL when absent
    from instageo_e2e_geospatial_ml_spark.functions.paths import (
        extract_mgrs_tile,
        extract_year,
    )

    paths = spark.createDataFrame(
        pd.DataFrame(
            {
                "p": [
                    "chips/chip_20200101_S30_T38PMB_2022145T072619_1_2.tif",
                    "x/chip_19990215_S30_T30RYS_2022001T000000_0_0.tif",
                    # lowercase tile is uppercased (reference .upper())
                    "y/seg_t15xwh_no_year_here.tif",
                    # a year in the DIRECTORY must be ignored (basename only)
                    "2021/plain_file.tif",
                ]
            }
        )
    )
    out = paths.select(
        extract_mgrs_tile("p").alias("tile"), extract_year("p").alias("year")
    ).collect()
    assert [r["tile"] for r in out] == ["38PMB", "30RYS", "15XWH", None]
    assert [r["year"] for r in out] == [2020, 1999, None, None]

    # reference parity on the same inputs (pure-Python twin of
    # data_splitter.extract_mgrs_tile / extract_year)
    import os
    import re

    def ref_tile(p):
        m = re.search(r"(\d{1,2}[a-zA-Z]{3})", os.path.basename(p))
        return m.group(1).upper() if m else None

    def ref_year(p):
        m = re.findall(r"(19[0-9]{2}|20[0-9]{2})", os.path.basename(p))
        return int(m[0]) if m else None

    pdf = paths.toPandas()
    assert [r["tile"] for r in out] == [ref_tile(p) for p in pdf["p"]]
    assert [r["year"] for r in out] == [ref_year(p) for p in pdf["p"]]


def test_raster_pipeline_label_band(spark):
    tiles = ["38PMB"]
    cat_pdf = synth.gen_granule_catalog_pdf(tiles=tiles, days=30, every=5)
    imgs = synth.gen_images_pdf(cat_pdf, w=96, h=96, fmt="raw", extra_bands=["LABEL"])
    lon_b, lat_b = __import__(
        "instageo_e2e_geospatial_ml_spark.mgrs", fromlist=["mgrs_tile_bounds"]
    ).mgrs_tile_bounds("38PMB")
    cx, cy = float(lon_b.mean()), float(lat_b.mean())
    bboxes = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1],
                "minx": [cx - 0.1],
                "miny": [cy - 0.1],
                "maxx": [cx + 0.1],
                "maxy": [cy + 0.1],
                "date": [pd.Timestamp("2022-05-15")],
            }
        )
    )
    cfg = ChipPipelineConfig(num_steps=1, temporal_tolerance=10, chip_size=32)
    out = run_raster_pipeline(
        bboxes,
        spark.createDataFrame(cat_pdf),
        spark.createDataFrame(imgs),
        cfg,
    ).toPandas()
    assert len(out) > 0
    import numpy as np

    seg = np.frombuffer(out.iloc[0]["seg"], dtype="<i2").reshape(32, 32)
    # raster-sliced labels: many distinct values (a gradient), unlike point stamps
    assert len(np.unique(seg)) > 10


def test_read_geotiff_tiled_cog_layout(tmp_path):
    # hand-build a tiled (COG-style) deflate GeoTIFF: 96x80 uint16, 64x64
    # tiles (2x2 grid, right/bottom tiles padded) — the layout real HLS/S2
    # assets use
    import struct
    import zlib

    import numpy as np

    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff

    w, h, tw, th = 96, 80, 64, 64
    rng = np.random.default_rng(11)
    img = rng.integers(0, 10000, (h, w), dtype=np.uint16)

    tiles = []
    for ty in range(2):
        for tx in range(2):
            tile = np.zeros((th, tw), dtype=np.uint16)
            r0, c0 = ty * th, tx * tw
            nr, nc = min(th, h - r0), min(tw, w - c0)
            if nr > 0 and nc > 0:
                tile[:nr, :nc] = img[r0 : r0 + nr, c0 : c0 + nc]
            tiles.append(zlib.compress(tile.tobytes()))

    def entry(tag, typ, cnt, val_bytes):
        if len(val_bytes) < 4:
            val_bytes = val_bytes + b"\x00" * (4 - len(val_bytes))
        return struct.pack("<HHI", tag, typ, cnt) + val_bytes[:4]

    header = b"II*\x00" + struct.pack("<I", 8)
    n_entries = 11
    ifd_size = 2 + n_entries * 12 + 4
    data_start = 8 + ifd_size
    # external arrays: tile offsets (4x4B), byte counts, pixel scale, tiepoint
    off_tileoffsets = data_start
    off_bytecounts = off_tileoffsets + 16
    off_scale = off_bytecounts + 16
    off_tie = off_scale + 24
    tile_data_start = off_tie + 48
    offsets, pos = [], tile_data_start
    for t in tiles:
        offsets.append(pos)
        pos += len(t)

    entries = b"".join([
        entry(256, 3, 1, struct.pack("<H", w)),
        entry(257, 3, 1, struct.pack("<H", h)),
        entry(258, 3, 1, struct.pack("<H", 16)),
        entry(259, 3, 1, struct.pack("<H", 8)),       # deflate
        entry(322, 3, 1, struct.pack("<H", tw)),
        entry(323, 3, 1, struct.pack("<H", th)),
        entry(324, 4, 4, struct.pack("<I", off_tileoffsets)),
        entry(325, 4, 4, struct.pack("<I", off_bytecounts)),
        entry(339, 3, 1, struct.pack("<H", 1)),
        entry(33550, 12, 3, struct.pack("<I", off_scale)),
        entry(33922, 12, 6, struct.pack("<I", off_tie)),
    ])
    ifd = struct.pack("<H", n_entries) + entries + struct.pack("<I", 0)
    body = (
        struct.pack("<4I", *offsets)
        + struct.pack("<4I", *[len(t) for t in tiles])
        + struct.pack("<3d", 30.0, 30.0, 0.0)
        + struct.pack("<6d", 0.0, 0.0, 0.0, 500000.0, 8000000.0, 0.0)
        + b"".join(tiles)
    )
    path = tmp_path / "tiled.tif"
    path.write_bytes(header + ifd + body)

    arr, (a, c, e, f) = read_geotiff(str(path))
    assert arr.shape == (h, w)
    assert (arr == img).all()
    assert (a, c, e, f) == (30.0, 500000.0, -30.0, 8000000.0)


def _make_strip_tiff(img, compressor, compression_tag, predictor=1, sample_format=1):
    # minimal little-endian single-strip TIFF builder
    import struct

    import numpy as np

    h, w = img.shape
    payload = img
    if predictor == 2:
        deltas = img.copy()
        deltas[:, 1:] = img[:, 1:] - img[:, :-1]  # dtype wraparound ok
        payload = deltas
    elif predictor == 3:
        # TechNote-3 float predictor (libtiff fpDiff twin): big-endian
        # byte PLANES per row (MSBs first), then byte-wise differencing
        bps = img.dtype.itemsize
        be = img.astype(">f4" if bps == 4 else ">f8").view(np.uint8).reshape(h, w, bps)
        planes = be.transpose(0, 2, 1).reshape(h, w * bps)
        deltas = planes.astype(np.int64)
        deltas[:, 1:] = deltas[:, 1:] - deltas[:, :-1]
        payload = (deltas & 0xFF).astype(np.uint8)
    strip = compressor(payload.tobytes())

    def entry(tag, typ, cnt, val_bytes):
        if len(val_bytes) < 4:
            val_bytes = val_bytes + b"\x00" * (4 - len(val_bytes))
        return struct.pack("<HHI", tag, typ, cnt) + val_bytes[:4]

    header = b"II*\x00" + struct.pack("<I", 8)
    n_entries = 10
    ifd_size = 2 + n_entries * 12 + 4
    data_start = 8 + ifd_size
    off_scale = data_start
    off_tie = off_scale + 24
    strip_off = off_tie + 48
    entries = b"".join([
        entry(256, 3, 1, struct.pack("<H", w)),
        entry(257, 3, 1, struct.pack("<H", h)),
        entry(258, 3, 1, struct.pack("<H", img.dtype.itemsize * 8)),
        entry(259, 3, 1, struct.pack("<H", compression_tag)),
        entry(273, 4, 1, struct.pack("<I", strip_off)),
        entry(279, 4, 1, struct.pack("<I", len(strip))),
        entry(317, 3, 1, struct.pack("<H", predictor)),
        entry(339, 3, 1, struct.pack("<H", sample_format)),
        entry(33550, 12, 3, struct.pack("<I", off_scale)),
        entry(33922, 12, 6, struct.pack("<I", off_tie)),
    ])
    ifd = struct.pack("<H", n_entries) + entries + struct.pack("<I", 0)
    body = (
        struct.pack("<3d", 30.0, 30.0, 0.0)
        + struct.pack("<6d", 0.0, 0.0, 0.0, 500000.0, 8000000.0, 0.0)
        + strip
    )
    return header + ifd + body


def test_read_geotiff_lzw_with_predictor(tmp_path):
    # TIFF 6.0 LZW (early change) + horizontal-differencing predictor —
    # the other compression real GeoTIFF mirrors ship besides deflate
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.codecs import lzw_decode, lzw_encode
    from instageo_e2e_geospatial_ml_spark.sources.tiff import (
        read_geotiff,
        read_geotiff_bytes,
    )

    rng = np.random.default_rng(5)
    # smooth-ish field: predictor-2 deltas actually compress
    base = np.cumsum(rng.integers(-3, 4, (40, 60)), axis=1).astype(np.int64)
    img = (base - base.min() + 2000).astype(np.uint16)

    for predictor in (1, 2):
        buf = _make_strip_tiff(img, lzw_encode, 5, predictor=predictor)
        p = tmp_path / f"lzw_p{predictor}.tif"
        p.write_bytes(buf)
        arr, (a, c, e, f) = read_geotiff(str(p))
        assert (arr == img).all(), predictor
        assert (a, c, e, f) == (30.0, 500000.0, -30.0, 8000000.0)

    # predictor-2 LZW should beat no-predictor LZW on smooth rasters
    deltas = img.copy(); deltas[:, 1:] = img[:, 1:] - img[:, :-1]
    assert len(lzw_encode(deltas.tobytes())) < len(lzw_encode(img.tobytes()))

    # in-memory payloads decode the same way
    out, _ = read_geotiff_bytes(_make_strip_tiff(img, lzw_encode, 5, 2))
    assert out.shape == (40, 60) and (out == img).all()


def test_read_geotiff_packbits(tmp_path):
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.codecs import (
        packbits_decode,
        packbits_encode,
    )
    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff

    # the TIFF 6.0 spec's own PackBits example round-trips exactly
    spec_unpacked = bytes.fromhex(
        "aaaaaa80002aaaaaaaaa80002a22aaaaaaaaaaaaaaaaaaaa"
    )
    spec_packed = bytes.fromhex("feaa0280002afdaa0380002a22f7aa")
    assert packbits_decode(spec_packed) == spec_unpacked
    assert packbits_encode(spec_unpacked) == spec_packed

    img = np.zeros((20, 30), dtype=np.uint8)
    img[5:15, 4:20] = 200  # flat regions -> runs
    img[0] = np.arange(30) % 251  # a literal row
    buf = _make_strip_tiff(img, packbits_encode, 32773)
    p = tmp_path / "pb.tif"
    p.write_bytes(buf)
    arr, _ = read_geotiff(str(p))
    assert (arr == img).all()


def test_read_geotiff_float_predictor3(tmp_path):
    # GDAL PREDICTOR=3 float GeoTIFFs (DEM rasters): TechNote-3 byte-plane
    # horizontal differencing; lossless, so decode must be BIT-EXACT
    import zlib

    import numpy as np

    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff

    rng = np.random.default_rng(9)
    yy, xx = np.mgrid[0:37, 0:53]
    dem = (
        120.0 + 0.8 * xx + 0.3 * yy + np.sin(xx / 7.0) * 4.0
        + rng.normal(0, 0.5, (37, 53))
    ).astype(np.float32)

    for arr in (dem, dem.astype(np.float64)):
        buf = _make_strip_tiff(
            arr, zlib.compress, 8, predictor=3, sample_format=3
        )
        p = tmp_path / f"dem_{arr.dtype}.tif"
        p.write_bytes(buf)
        out, gt = read_geotiff(str(p))
        assert out.dtype.kind == "f" and out.shape == arr.shape
        np.testing.assert_array_equal(out.astype(arr.dtype), arr)
        assert gt[0] == 30.0

    # predictor 3 actually helps: smooth float data compresses smaller
    # than raw-deflate (the reason GDAL writes it)
    raw = len(zlib.compress(dem.tobytes()))
    p3 = len(_make_strip_tiff(dem, zlib.compress, 8, predictor=3, sample_format=3))
    assert p3 < raw + 400  # container overhead bounded; payload smaller


def test_read_tiff_rgb_chunky_vs_javax(spark):
    # multi-sample (RGB, chunky) TIFFs validated against the JDK's own
    # TIFF plugin: LZW and Deflate writer output must decode BIT-EXACT
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff_bytes

    jvm = spark._jvm
    rng = np.random.default_rng(23)
    rgb = rng.integers(0, 256, (21, 37, 3)).astype(np.uint8)
    h, w = rgb.shape[:2]
    bimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in rgb[y, x])
            bimg.setRGB(x, y, (r << 16) | (g << 8) | b)
    for ctype in ("LZW", "Deflate", None):
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
        param = writer.getDefaultWriteParam()
        if ctype is not None:
            param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
            param.setCompressionType(ctype)
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(bimg, None, None), param)
        ios.flush()
        writer.dispose()
        buf = bytes(baos.toByteArray())
        arr, _ = read_geotiff_bytes(buf)
        assert arr.shape == (h, w, 3), (ctype, arr.shape)
        np.testing.assert_array_equal(arr, rgb), ctype


def test_lzw_interop_across_width_and_reset_boundaries(spark):
    # the round-6 LZW bug class: paired off-by-ones survive self
    # round-trips forever — only cross-implementation streams that CROSS
    # the table-size boundaries catch them. 14400 random bytes walk the
    # width 9->10->11->12 bumps and the 4094-entry CLEAR reset; pinned
    # BOTH directions against the JDK TIFF plugin
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.codecs import lzw_encode
    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff_bytes

    jvm = spark._jvm
    rng = np.random.default_rng(33)
    img = rng.integers(0, 256, (120, 120)).astype(np.uint8)
    buf = _make_strip_tiff(img, lzw_encode, 5)
    jimg = jvm.javax.imageio.ImageIO.read(
        jvm.java.io.ByteArrayInputStream(bytearray(buf))
    )
    out = np.zeros((120, 120), np.uint8)
    raster = jimg.getRaster()
    for y in range(120):
        for x in range(120):
            out[y, x] = raster.getSample(x, y, 0)
    np.testing.assert_array_equal(out, img)

    rgb = rng.integers(0, 256, (64, 64, 3)).astype(np.uint8)
    bimg = jvm.java.awt.image.BufferedImage(
        64, 64, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(64):
        for x in range(64):
            r, g, b = (int(v) for v in rgb[y, x])
            bimg.setRGB(x, y, (r << 16) | (g << 8) | b)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    param = writer.getDefaultWriteParam()
    param.setCompressionMode(jvm.javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bimg, None, None), param)
    ios.flush()
    writer.dispose()
    arr, _ = read_geotiff_bytes(bytes(baos.toByteArray()))
    np.testing.assert_array_equal(arr, rgb)


def _make_strip_bigtiff(img, compressor, compression_tag, predictor=1, sample_format=1):
    """Little-endian single-strip BigTIFF (magic 43) builder: 16-byte
    header, 20-byte IFD entries, LONG8 counts/offsets — the same pixel
    payload layout as _make_strip_tiff so classic and big forms of one
    image can be cross-checked bit-exact."""
    import struct

    h, w = img.shape
    payload = img
    if predictor == 2:
        deltas = img.copy()
        deltas[:, 1:] = img[:, 1:] - img[:, :-1]
        payload = deltas
    strip = compressor(payload.tobytes())

    def entry(tag, typ, cnt, val_bytes):
        if len(val_bytes) < 8:
            val_bytes = val_bytes + b"\x00" * (8 - len(val_bytes))
        return struct.pack("<HHQ", tag, typ, cnt) + val_bytes[:8]

    header = b"II+\x00" + struct.pack("<HH", 8, 0) + struct.pack("<Q", 16)
    n_entries = 10
    ifd_size = 8 + n_entries * 20 + 8
    data_start = 16 + ifd_size
    off_scale = data_start
    off_tie = off_scale + 24
    strip_off = off_tie + 48
    entries = b"".join([
        entry(256, 3, 1, struct.pack("<H", w)),
        entry(257, 3, 1, struct.pack("<H", h)),
        entry(258, 3, 1, struct.pack("<H", img.dtype.itemsize * 8)),
        entry(259, 3, 1, struct.pack("<H", compression_tag)),
        entry(273, 16, 1, struct.pack("<Q", strip_off)),   # LONG8 offset
        entry(279, 16, 1, struct.pack("<Q", len(strip))),  # LONG8 count
        entry(317, 3, 1, struct.pack("<H", predictor)),
        entry(339, 3, 1, struct.pack("<H", sample_format)),
        entry(33550, 12, 3, struct.pack("<Q", off_scale)),
        entry(33922, 12, 6, struct.pack("<Q", off_tie)),
    ])
    ifd = struct.pack("<Q", n_entries) + entries + struct.pack("<Q", 0)
    body = (
        struct.pack("<3d", 30.0, 30.0, 0.0)
        + struct.pack("<6d", 0.0, 0.0, 0.0, 500000.0, 8000000.0, 0.0)
        + strip
    )
    return header + ifd + body


def test_bigtiff_classic_cross_check():
    """VERDICT r6 #3: same pixels written classic (magic 42) and BigTIFF
    (magic 43) decode bit-identically — deflate, LZW+predictor-2, and
    uncompressed uint8/uint16/int16 — and the geotransform survives.
    The cross-check makes a paired off-by-one in the 20-byte-entry walk
    vs the 12-byte walk visible (they share no parsing code path)."""
    import zlib

    from instageo_e2e_geospatial_ml_spark.codecs import lzw_encode
    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff_bytes

    rng = np.random.default_rng(31)
    cases = [
        (rng.integers(0, 256, (23, 17)).astype(np.uint8), zlib.compress, 8, 1, 1),
        (rng.integers(0, 65536, (16, 33)).astype(np.uint16), lzw_encode, 5, 2, 1),
        ((rng.integers(0, 65536, (9, 14)).astype(np.int32) - 32768).astype(np.int16),
         lambda b: b, 1, 1, 2),
    ]
    for img, comp, ctag, pred, sfmt in cases:
        classic = _make_strip_tiff(img, comp, ctag, predictor=pred, sample_format=sfmt)
        big = _make_strip_bigtiff(img, comp, ctag, predictor=pred, sample_format=sfmt)
        a_c, t_c = read_geotiff_bytes(classic)
        a_b, t_b = read_geotiff_bytes(big)
        np.testing.assert_array_equal(a_c, img)
        np.testing.assert_array_equal(a_b, img)
        assert t_c == t_b == (30.0, 500000.0, -30.0, 8000000.0)


def test_bigtiff_header_golden_and_magic_validation():
    """Byte-level BigTIFF header golden (hand-decoded against the
    BigTIFF spec: II, 43, offset-size 8, pad 0, first-IFD offset) plus
    magic validation: non-TIFF buffers and wrong offset sizes raise."""
    import struct

    import pytest

    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff_bytes

    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    big = _make_strip_bigtiff(img, lambda b: b, 1)
    # hand-checked header bytes: 49 49 2B 00 | 08 00 00 00 | 10..0
    assert big[:16] == bytes.fromhex("49492B0008000000" + "1000000000000000")
    (n_entries,) = struct.unpack("<Q", big[16:24])
    assert n_entries == 10
    # first entry: tag 256 (ImageWidth), type SHORT, count 1, value 4
    assert big[24:44] == struct.pack("<HHQ", 256, 3, 1) + struct.pack("<Q", 4)
    arr, _ = read_geotiff_bytes(big)
    np.testing.assert_array_equal(arr, img)

    with pytest.raises(ValueError, match="II/MM"):
        read_geotiff_bytes(b"PK\x03\x04" + b"\x00" * 32)
    with pytest.raises(ValueError, match="magic"):
        read_geotiff_bytes(b"II\x2a\x01" + b"\x00" * 32)  # magic 298
    bad = bytearray(big)
    bad[4] = 4  # offset size 4: malformed BigTIFF
    with pytest.raises(ValueError, match="BigTIFF"):
        read_geotiff_bytes(bytes(bad))


def _make_multiband_tiff(img, planar, compressor=None, compression_tag=1,
                         predictor=1, tiled=False, tile_wh=(16, 16)):
    """Little-endian multi-band TIFF builder: chunky (284=1) or planar
    (284=2, all chunks of plane 0 then plane 1, ...), strip or tiled."""
    import struct
    import zlib

    comp = compressor or (lambda b: b)
    h, w, spp = img.shape

    def _pred(plane2d):
        if predictor != 2:
            return plane2d
        d = plane2d.copy()
        d[:, 1:] = plane2d[:, 1:] - plane2d[:, :-1]
        return d

    chunks = []
    if tiled:
        tw, th = tile_wh
        na, nd = (w + tw - 1) // tw, (h + th - 1) // th
        planes = range(spp) if planar == 2 else [None]
        for p in planes:
            for ty in range(nd):
                for tx in range(na):
                    pad_y, pad_x = th * (ty + 1) - h, tw * (tx + 1) - w
                    if planar == 2:
                        t = np.zeros((th, tw), img.dtype)
                        src = img[ty * th : ty * th + th, tx * tw : tx * tw + tw, p]
                        t[: src.shape[0], : src.shape[1]] = src
                        chunks.append(comp(_pred(t).tobytes()))
                    else:
                        t = np.zeros((th, tw, spp), img.dtype)
                        src = img[ty * th : ty * th + th, tx * tw : tx * tw + tw]
                        t[: src.shape[0], : src.shape[1]] = src
                        chunks.append(comp(t.tobytes()))
    else:
        if planar == 2:
            chunks = [comp(_pred(img[:, :, s]).tobytes()) for s in range(spp)]
        else:
            chunks = [comp(img.tobytes())]

    def entry(tag, typ, cnt, val_bytes):
        if len(val_bytes) < 4:
            val_bytes = val_bytes + b"\x00" * (4 - len(val_bytes))
        return struct.pack("<HHI", tag, typ, cnt) + val_bytes[:4]

    loc_tag, len_tag = (322, 324) if tiled else (273, 279)
    # (322/323 tile dims; 324/325 offsets/counts)
    n_entries = 12 if tiled else 11
    ifd_size = 2 + n_entries * 12 + 4
    data_start = 8 + ifd_size
    off_bits = data_start
    off_offsets = off_bits + 2 * spp
    off_counts = off_offsets + 4 * len(chunks)
    chunk0 = off_counts + 4 * len(chunks)
    offs, pos = [], chunk0
    for cdata in chunks:
        offs.append(pos)
        pos += len(cdata)
    many = len(chunks) > 1
    es = [
        entry(256, 3, 1, struct.pack("<H", w)),
        entry(257, 3, 1, struct.pack("<H", h)),
        entry(258, 3, spp, struct.pack("<I", off_bits)),
        entry(259, 3, 1, struct.pack("<H", compression_tag)),
        entry(262, 3, 1, struct.pack("<H", 2)),
        entry(277, 3, 1, struct.pack("<H", spp)),
        entry(284, 3, 1, struct.pack("<H", planar)),
        entry(317, 3, 1, struct.pack("<H", predictor)),
    ]
    if tiled:
        es += [
            entry(322, 3, 1, struct.pack("<H", tile_wh[0])),
            entry(323, 3, 1, struct.pack("<H", tile_wh[1])),
            entry(324, 4, len(chunks), struct.pack("<I", off_offsets if many else offs[0])),
            entry(325, 4, len(chunks), struct.pack("<I", off_counts if many else len(chunks[0]))),
        ]
    else:
        es += [
            entry(278, 3, 1, struct.pack("<H", h)),
            entry(273, 4, len(chunks), struct.pack("<I", off_offsets if many else offs[0])),
            entry(279, 4, len(chunks), struct.pack("<I", off_counts if many else len(chunks[0]))),
        ]
    es.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
    ifd = struct.pack("<H", n_entries) + b"".join(es) + struct.pack("<I", 0)
    body = struct.pack(f"<{spp}H", *([img.dtype.itemsize * 8] * spp))
    body += struct.pack(f"<{len(chunks)}I", *offs)
    body += struct.pack(f"<{len(chunks)}I", *[len(c) for c in chunks])
    return b"II*\x00" + struct.pack("<I", 8) + ifd + body + b"".join(chunks)


def test_tiff_planar_configuration(spark):
    """PlanarConfiguration=2 (GDAL INTERLEAVE=BAND — the wild multi-band
    satellite layout): strip and tiled planar files decode identically
    to their chunky twins, bit-exact vs javax.imageio on the same bytes,
    including deflate and LZW+predictor-2 per-plane compression."""
    import zlib

    from instageo_e2e_geospatial_ml_spark.codecs import lzw_encode
    from instageo_e2e_geospatial_ml_spark.sources.tiff import read_geotiff_bytes

    rng = np.random.default_rng(97)
    img = rng.integers(0, 65536, (13, 17, 3)).astype(np.uint16)

    def _javax(buf):
        jvm = spark._jvm
        bi = jvm.javax.imageio.ImageIO.read(
            jvm.java.io.ByteArrayInputStream(bytearray(buf))
        )
        assert bi is not None, "javax rejected the TIFF"
        raster = bi.getRaster()
        H, W = bi.getHeight(), bi.getWidth()
        out = np.zeros((H, W, 3), np.int64)
        for y in range(H):
            for x in range(W):
                for s in range(3):
                    out[y, x, s] = raster.getSample(x, y, s)
        return out

    chunky = _make_multiband_tiff(img, 1, zlib.compress, 8)
    planar = _make_multiband_tiff(img, 2, zlib.compress, 8)
    a, _ = read_geotiff_bytes(chunky)
    b, _ = read_geotiff_bytes(planar)
    np.testing.assert_array_equal(a, img)
    np.testing.assert_array_equal(b, img)
    np.testing.assert_array_equal(_javax(planar), img)

    # tiled planar (uncompressed, ragged edge tiles)
    tiled = _make_multiband_tiff(img, 2, tiled=True, tile_wh=(16, 16))
    c, _ = read_geotiff_bytes(tiled)
    np.testing.assert_array_equal(c, img)

    # planar + LZW + horizontal predictor per plane (javax's TIFF reader
    # throws on 16-bit LZW+predictor planar files, so this case rests on
    # the chunky-vs-planar cross-check above)
    plzw = _make_multiband_tiff(img, 2, lzw_encode, 5, predictor=2)
    d, _ = read_geotiff_bytes(plzw)
    np.testing.assert_array_equal(d, img)


def test_shapefile_round_trip_and_hand_golden():
    """write_shp/read_shp + write_dbf/read_dbf round-trip (points,
    multi-part polygon, null shape, numeric + char attributes), PLUS a
    HAND-BUILT .shp point record byte golden (spec-derived, independent
    of the writer) the parser must decode."""
    import struct as _s

    from instageo_e2e_geospatial_ml_spark.sources.shapefile import (
        read_dbf, read_shp, write_dbf, write_shp,
    )

    shapes = [
        ("point", (3.5, -2.25)),
        ("polygon", [[(0.0, 0.0), (4.0, 0.0), (4.0, 3.0), (0.0, 0.0)],
                     [(1.0, 1.0), (2.0, 1.0), (1.5, 2.0), (1.0, 1.0)]]),
        ("null",),
        ("polyline", [[(0.0, 0.0), (10.0, 10.0)]]),
    ]
    buf = write_shp(shapes)
    got = read_shp(buf)
    assert [g[1] for g in got] == ["point", "polygon", "null", "polyline"]
    assert got[0][2] == [(3.5, -2.25)]
    assert got[1][3] == [0, 4]                 # part offsets
    assert len(got[1][2]) == 8
    assert got[3][2] == [(0.0, 0.0), (10.0, 10.0)]
    assert [g[0] for g in got] == [1, 2, 3, 4]  # record numbers

    fields = [("ID", "N", 8), ("NAME", "C", 12)]
    rows = [(7, "alpha"), (42, "beta")]
    dbf = write_dbf(fields, rows)
    f2, r2 = read_dbf(dbf)
    assert f2 == [("ID", "N", 8), ("NAME", "C", 12)]
    assert r2 == [(7, "alpha"), (42, "beta")]

    # hand golden: header + one point record (1.0, 2.0), built byte by
    # byte from the ESRI spec
    content = _s.pack("<idd", 1, 1.0, 2.0)
    hb = (_s.pack(">i", 9994) + b"\x00" * 20
          + _s.pack(">i", (100 + 8 + len(content)) // 2)
          + _s.pack("<ii", 1000, 1)
          + _s.pack("<4d", 1.0, 2.0, 1.0, 2.0)
          + _s.pack("<4d", 0, 0, 0, 0)
          + _s.pack(">ii", 1, len(content) // 2) + content)
    g = read_shp(hb)
    assert g == [(1, "point", [(1.0, 2.0)], [])]
