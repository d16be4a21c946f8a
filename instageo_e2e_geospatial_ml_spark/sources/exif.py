"""EXIF metadata: APP1 writer + parser for JPEG payloads.

EXIF (CIPA DC-008 / JEITA CP-3451, public spec) is a TIFF byte structure
carried in a JPEG APP1 segment tagged ``Exif\\0\\0``: IFD0 holds the
camera tags (Make 0x010F, Model 0x0110, Orientation 0x0112) plus
pointers to the Exif sub-IFD (0x8769: DateTimeOriginal 0x9003,
ISOSpeedRatings 0x8827, ExposureTime 0x829A) and the GPS IFD (0x8825:
latitude/longitude as degree/minute/second RATIONALs with N/S E/W
reference tags). This module implements the subset a training-data
pipeline actually consumes — orientation (pixel layout before augment),
capture time (dedup/splitting by capture session), GPS (geo-joining
imagery to labels) — in both directions.

Why both directions: self-round-trip alone cannot catch paired
encode/decode bugs (the round-6 TIFF-LZW lesson), so the tests pin a
HAND-BUILT byte-level golden (spec-derived, independent of the writer)
that the parser must decode, and byte-level assertions on the writer's
output layout.

GPS exactness: DMS rationals normalize to integer 1e-7 degrees via pure
floor arithmetic — lat_e7 = sign·(d·10^7 + (m·10^7)//60 +
(s_num·10^7)//(3600·s_den)) — a pure integer function of the stored
rationals (engine-exact for the driver oracle).

Reference parity note: the reference pipeline delegates all raster
metadata to rasterio/GDAL (instageo/data/hls_utils.py); EXIF is the
equivalent metadata surface for the plain-image modality this engine
adds.
"""

from __future__ import annotations

import struct

_II = b"II"

# (tag, type, count, value) — types: 2 ASCII, 3 SHORT, 4 LONG, 5 RATIONAL
_T_ASCII, _T_SHORT, _T_LONG, _T_RATIONAL = 2, 3, 4, 5
_TYPE_SIZE = {_T_ASCII: 1, _T_SHORT: 2, _T_LONG: 4, _T_RATIONAL: 8}

TAG_MAKE = 0x010F
TAG_MODEL = 0x0110
TAG_ORIENTATION = 0x0112
TAG_EXIF_IFD = 0x8769
TAG_GPS_IFD = 0x8825
TAG_EXPOSURE = 0x829A
TAG_ISO = 0x8827
TAG_DATETIME_ORIGINAL = 0x9003
TAG_GPS_LAT_REF = 0x0001
TAG_GPS_LAT = 0x0002
TAG_GPS_LON_REF = 0x0003
TAG_GPS_LON = 0x0004


def _pack_ifd(entries, data_off):
    """Pack one IFD: entries = [(tag, typ, values)] sorted by tag; values
    larger than 4 bytes spill to a data block starting at data_off.
    Returns (ifd_bytes, data_bytes)."""
    entries = sorted(entries, key=lambda e: e[0])
    ifd = struct.pack("<H", len(entries))
    blob = b""
    for tag, typ, vals in entries:
        if typ == _T_ASCII:
            raw = vals.encode("ascii") + b"\x00"
            cnt = len(raw)
        elif typ == _T_RATIONAL:
            raw = b"".join(struct.pack("<II", n, d) for n, d in vals)
            cnt = len(vals)
        elif typ == _T_SHORT:
            raw = struct.pack(f"<{len(vals)}H", *vals)
            cnt = len(vals)
        else:
            raw = struct.pack(f"<{len(vals)}I", *vals)
            cnt = len(vals)
        if len(raw) <= 4:
            val = raw + b"\x00" * (4 - len(raw))
        else:
            val = struct.pack("<I", data_off + len(blob))
            blob += raw
        ifd += struct.pack("<HHI", tag, typ, cnt) + val
    ifd += struct.pack("<I", 0)  # next-IFD pointer: none
    return ifd, blob


def exif_tiff_bytes(
    orientation: int = 1,
    make: str = "synth",
    model: str = "cam",
    datetime_original: str = "2024:01:01 00:00:00",
    iso: int = 100,
    exposure: tuple[int, int] = (1, 125),
    gps_lat_dms: tuple[int, int, int, int] | None = None,
    gps_lon_dms: tuple[int, int, int, int] | None = None,
    lat_ref: str = "N",
    lon_ref: str = "E",
) -> bytes:
    """Build the TIFF structure of an EXIF block (little-endian).
    gps_*_dms = (deg, min, sec_num, sec_den)."""
    # layout: header(8) | IFD0 | IFD0 data | ExifIFD | its data | GPSIFD...
    # Offsets are forward references; build innermost-first with two
    # passes (sizes are deterministic given the entry lists).
    exif_entries = [
        (TAG_EXPOSURE, _T_RATIONAL, [exposure]),
        (TAG_ISO, _T_SHORT, [iso]),
        (TAG_DATETIME_ORIGINAL, _T_ASCII, datetime_original),
    ]
    gps_entries = []
    if gps_lat_dms is not None:
        d, m, sn, sd = gps_lat_dms
        gps_entries += [
            (TAG_GPS_LAT_REF, _T_ASCII, lat_ref),
            (TAG_GPS_LAT, _T_RATIONAL, [(d, 1), (m, 1), (sn, sd)]),
        ]
    if gps_lon_dms is not None:
        d, m, sn, sd = gps_lon_dms
        gps_entries += [
            (TAG_GPS_LON_REF, _T_ASCII, lon_ref),
            (TAG_GPS_LON, _T_RATIONAL, [(d, 1), (m, 1), (sn, sd)]),
        ]

    ifd0_entries = [
        (TAG_MAKE, _T_ASCII, make),
        (TAG_MODEL, _T_ASCII, model),
        (TAG_ORIENTATION, _T_SHORT, [orientation]),
        (TAG_EXIF_IFD, _T_LONG, [0]),  # patched below
    ]
    if gps_entries:
        ifd0_entries.append((TAG_GPS_IFD, _T_LONG, [0]))

    def sizes(entries):
        ifd_len = 2 + 12 * len(entries) + 4
        blob = 0
        for tag, typ, vals in entries:
            if typ == _T_ASCII:
                n = len(vals.encode("ascii")) + 1
            else:
                n = _TYPE_SIZE[typ] * len(vals)
            if n > 4:
                blob += n
        return ifd_len, blob

    i0_len, i0_blob = sizes(ifd0_entries)
    ex_len, ex_blob = sizes(exif_entries)
    ifd0_off = 8
    exif_off = ifd0_off + i0_len + i0_blob
    gps_off = exif_off + ex_len + ex_blob
    # patch pointer values
    ifd0_entries = [
        (t, ty, [exif_off] if t == TAG_EXIF_IFD
         else [gps_off] if t == TAG_GPS_IFD else v)
        for t, ty, v in ifd0_entries
    ]
    header = _II + struct.pack("<H", 42) + struct.pack("<I", ifd0_off)
    i0, i0b = _pack_ifd(ifd0_entries, ifd0_off + i0_len)
    ex, exb = _pack_ifd(exif_entries, exif_off + ex_len)
    out = header + i0 + i0b + ex + exb
    if gps_entries:
        g_len, _ = sizes(gps_entries)
        g, gb = _pack_ifd(gps_entries, gps_off + g_len)
        out += g + gb
    return out


def jpeg_with_exif(jpeg: bytes, exif_tiff: bytes) -> bytes:
    """Insert an EXIF APP1 segment right after SOI."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    payload = b"Exif\x00\x00" + exif_tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return jpeg[:2] + seg + jpeg[2:]


def _read_ifd(data: bytes, bo: str, off: int) -> dict[int, tuple]:
    (n,) = struct.unpack(bo + "H", data[off : off + 2])
    out = {}
    for i in range(n):
        e = data[off + 2 + 12 * i : off + 2 + 12 * (i + 1)]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        size = _TYPE_SIZE.get(typ, 1) * cnt
        raw = e[8 : 8 + min(size, 4)]
        if size > 4:
            (p,) = struct.unpack(bo + "I", e[8:12])
            raw = data[p : p + size]
        if typ == _T_ASCII:
            vals = (raw.split(b"\x00")[0].decode("ascii", "ignore"),)
        elif typ == _T_SHORT:
            vals = struct.unpack(bo + f"{cnt}H", raw)
        elif typ == _T_LONG:
            vals = struct.unpack(bo + f"{cnt}I", raw)
        elif typ == _T_RATIONAL:
            flat = struct.unpack(bo + f"{2 * cnt}I", raw)
            vals = tuple(
                (flat[2 * j], flat[2 * j + 1]) for j in range(cnt)
            )
        else:
            vals = (raw,)
        out[tag] = vals
    return out


def _dms_to_e7(dms, ref: str) -> int:
    """Exact integer 1e-7 degrees from ((d,dd),(m,md),(s_num,s_den)),
    negative for the S and W hemispheres."""
    (dn, dd), (mn, md), (sn, sd) = dms
    v = (
        (dn * 10_000_000) // max(dd, 1)
        + (mn * 10_000_000) // (60 * max(md, 1))
        + (sn * 10_000_000) // (3600 * max(sd, 1))
    )
    return -v if ref in "SW" else v


def parse_exif_tiff(data: bytes) -> dict:
    """Parse an EXIF TIFF block → normalized dict (missing fields None)."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("EXIF: missing II/MM byte order")
    (magic,) = struct.unpack(bo + "H", data[2:4])
    if magic != 42:
        raise ValueError(f"EXIF: bad TIFF magic {magic}")
    (ifd0_off,) = struct.unpack(bo + "I", data[4:8])
    ifd0 = _read_ifd(data, bo, ifd0_off)
    out = {
        "make": ifd0.get(TAG_MAKE, (None,))[0],
        "model": ifd0.get(TAG_MODEL, (None,))[0],
        "orientation": ifd0.get(TAG_ORIENTATION, (None,))[0],
        "datetime_original": None,
        "iso": None,
        "exposure_num": None,
        "exposure_den": None,
        "gps_lat_e7": None,
        "gps_lon_e7": None,
    }
    if TAG_EXIF_IFD in ifd0:
        ex = _read_ifd(data, bo, ifd0[TAG_EXIF_IFD][0])
        out["datetime_original"] = ex.get(
            TAG_DATETIME_ORIGINAL, (None,)
        )[0]
        out["iso"] = ex.get(TAG_ISO, (None,))[0]
        if TAG_EXPOSURE in ex:
            out["exposure_num"], out["exposure_den"] = ex[TAG_EXPOSURE][0]
    if TAG_GPS_IFD in ifd0:
        g = _read_ifd(data, bo, ifd0[TAG_GPS_IFD][0])
        if TAG_GPS_LAT in g and TAG_GPS_LAT_REF in g:
            out["gps_lat_e7"] = _dms_to_e7(
                g[TAG_GPS_LAT], g[TAG_GPS_LAT_REF][0]
            )
        if TAG_GPS_LON in g and TAG_GPS_LON_REF in g:
            out["gps_lon_e7"] = _dms_to_e7(
                g[TAG_GPS_LON], g[TAG_GPS_LON_REF][0]
            )
    return out


def exif_from_jpeg(buf: bytes) -> dict | None:
    """Walk JPEG segments for the Exif APP1; None when absent."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("JPEG: marker expected")
        marker = buf[pos + 1]
        if marker == 0xFF:  # fill byte padding before a marker
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xDA:  # SOS: no EXIF past entropy data
            return None
        (seg_len,) = struct.unpack(">H", buf[pos + 2 : pos + 4])
        if marker == 0xE1:
            payload = buf[pos + 4 : pos + 2 + seg_len]
            if payload[:6] == b"Exif\x00\x00":
                return parse_exif_tiff(payload[6:])
        pos += 2 + seg_len
    return None
