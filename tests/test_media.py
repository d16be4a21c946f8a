"""Image-container metadata parsers: EXIF (sources/exif.py) and USTAR
(sources/tar.py).

EXIF is pinned both through the writer and against a hand-built
spec-derived byte layout; tar is pinned against the stdlib tarfile in
both directions.
"""


def test_exif_round_trip_through_jpeg():
    """Writer -> JPEG APP1 insert -> segment walk -> parser recovers every
    field, including exact 1e-7-degree GPS from DMS rationals."""
    import numpy as np

    from instageo_e2e_geospatial_ml_spark.jpeg import jpeg_encode
    from instageo_e2e_geospatial_ml_spark.sources.exif import (
        exif_from_jpeg, exif_tiff_bytes, jpeg_with_exif,
    )

    base = jpeg_encode(np.full((16, 16), 128, np.uint8))
    tiff = exif_tiff_bytes(
        orientation=6, make="maker", model="m1",
        datetime_original="2024:03:05 12:34:56",
        iso=400, exposure=(1, 250),
        gps_lat_dms=(48, 51, 2950, 100), lat_ref="N",
        gps_lon_dms=(2, 21, 120, 40), lon_ref="W",
    )
    jpg = jpeg_with_exif(base, tiff)
    got = exif_from_jpeg(jpg)
    assert got["orientation"] == 6
    assert got["make"] == "maker" and got["model"] == "m1"
    assert got["datetime_original"] == "2024:03:05 12:34:56"
    assert got["iso"] == 400
    assert (got["exposure_num"], got["exposure_den"]) == (1, 250)
    # 48 + 51/60 + 29.50/3600 deg -> exact floor arithmetic
    lat = 48 * 10_000_000 + (51 * 10_000_000) // 60 \
        + (2950 * 10_000_000) // (3600 * 100)
    lon = 2 * 10_000_000 + (21 * 10_000_000) // 60 \
        + (120 * 10_000_000) // (3600 * 40)
    assert got["gps_lat_e7"] == lat
    assert got["gps_lon_e7"] == -lon  # W -> negative
    # EXIF-less JPEG -> None; truncated-at-SOS walk terminates
    assert exif_from_jpeg(base) is None


def test_exif_parser_hand_built_golden_big_endian():
    """Spec-derived MM (big-endian) EXIF built BY HAND, byte by byte —
    independent of the writer, so a paired writer/parser bug cannot
    hide (the TIFF-LZW interop lesson). IFD0: Orientation inline SHORT
    + ExifIFD pointer; ExifIFD: ISO inline."""
    import struct

    from instageo_e2e_geospatial_ml_spark.sources.exif import (
        parse_exif_tiff,
    )

    bo = ">"
    # header: MM, 42, IFD0 at 8
    b = b"MM" + struct.pack(bo + "H", 42) + struct.pack(bo + "I", 8)
    # IFD0 at 8: 2 entries + next ptr -> len 2 + 24 + 4 = 30; ExifIFD at 38
    b += struct.pack(bo + "H", 2)
    b += struct.pack(bo + "HHI", 0x0112, 3, 1) + struct.pack(bo + "H", 8) + b"\x00\x00"
    b += struct.pack(bo + "HHI", 0x8769, 4, 1) + struct.pack(bo + "I", 38)
    b += struct.pack(bo + "I", 0)
    assert len(b) == 38
    # ExifIFD: 1 entry (ISO 1600, SHORT inline)
    b += struct.pack(bo + "H", 1)
    b += struct.pack(bo + "HHI", 0x8827, 3, 1) + struct.pack(bo + "H", 1600) + b"\x00\x00"
    b += struct.pack(bo + "I", 0)
    got = parse_exif_tiff(b)
    assert got["orientation"] == 8
    assert got["iso"] == 1600
    assert got["make"] is None and got["gps_lat_e7"] is None


def test_tar_interop_with_stdlib_tarfile():
    """Our USTAR writer vs stdlib tarfile (independent implementation):
    tarfile reads our archive back byte-exact, and our parser lists a
    tarfile-written archive identically — both directions, plus the
    checksum-corruption raise."""
    import io
    import tarfile as tf

    import pytest

    from instageo_e2e_geospatial_ml_spark.sources.tar import (
        tar_list, tar_write,
    )

    members = [
        ("000001.txt", b"hello world"),
        ("000001.json", b'{"k": 1}'),
        ("img/000002.bin", bytes(range(256)) * 3),  # crosses blocks
        ("empty.txt", b""),
    ]
    buf = tar_write(members)
    with tf.open(fileobj=io.BytesIO(buf)) as t:
        got = [(m.name, t.extractfile(m).read() if m.size else b"")
               for m in t.getmembers()]
    assert got == members

    # reverse: stdlib writes, we list
    bio = io.BytesIO()
    with tf.open(fileobj=bio, mode="w", format=tf.USTAR_FORMAT) as t:
        for name, data in members:
            info = tf.TarInfo(name)
            info.size = len(data)
            t.addfile(info, io.BytesIO(data))
    listing = tar_list(bio.getvalue())
    assert [(n, s) for n, _, s in listing] == \
        [(n, len(d)) for n, d in members]
    # offsets point at the actual payloads
    raw = bio.getvalue()
    for (n, off, s), (_, d) in zip(listing, members):
        assert raw[off : off + s] == d

    # corruption: flip a header byte -> checksum raise
    bad = bytearray(buf)
    bad[50] ^= 0xFF
    with pytest.raises(ValueError):
        tar_list(bytes(bad))
