"""Pure numpy/stdlib image codecs, PSNR and perceptual hash.

The engine's image table (BASELINE.json input_hint) carries encoded pixels as
a binary column with a `fmt` tag. The container has no PIL/opencv/rasterio,
so the codecs are self-contained. `encode` / `decode` are the one format
dispatch; every payload the pipeline and the registry read goes through
`decode(buf, w, h, bands, fmt)`, which returns (bands, h, w):

  fmt='raw'   lossless uint16 little-endian, C-order (bands, h, w)
  fmt='raw8'  lossless uint8 (also rawf4 / rawf8 / rawi2 for float and
              signed rasters)
  fmt='png'   a genuine minimal PNG: 16-bit grayscale, filter 0, one IDAT;
              multi-band images are stacked vertically (h*bands rows)
  fmt='qdct'  deterministic lossy 8x8 block-DCT quantization codec (the
              "lossy" format exercising the PSNR >= 40 dB per-row invariant
              from BASELINE.json)
  fmt='jpeg'  baseline JPEG (jpeg.py), 1 or 3 bands, 8-bit lossy
  fmt='jp2'   JPEG-2000 codestream (jp2.py), one grayscale band

`decode` checks a payload's own dimensions against the row's metadata for
the self-describing formats (jpeg, jp2). The TIFF LZW and PackBits
primitives below back sources/tiff.read_geotiff_bytes.

These replace the reference's GeoTIFF read/write path
(instageo/data/hls_utils.py:89-122 open_mfdataset,
instageo/data/data_pipeline.py:222-225 rio.to_raster) with columnar binary
payloads decoded inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

HLS_MAX = 10000.0  # valid HLS reflectance range ceiling (reference hls_utils.py:373)


# --------------------------------------------------------------------------
# raw
# --------------------------------------------------------------------------

def encode_raw(arr: np.ndarray) -> bytes:
    return np.ascontiguousarray(arr).astype("<u2" if arr.dtype.itemsize == 2 else "u1").tobytes()


def decode_raw(buf: bytes, w: int, h: int, bands: int, dtype: str = "<u2") -> np.ndarray:
    return np.frombuffer(buf, dtype=dtype).reshape(bands, h, w)


# --------------------------------------------------------------------------
# png (minimal, 16-bit grayscale, filter type 0)
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """(bands, h, w) uint16 → minimal 16-bit grayscale PNG (bands stacked)."""
    arr = np.ascontiguousarray(arr, dtype=np.uint16)
    bands, h, w = arr.shape
    img = arr.reshape(bands * h, w)
    # filter byte 0 per scanline + big-endian 16-bit samples (PNG spec)
    raw = np.zeros((bands * h, 1 + 2 * w), dtype=np.uint8)
    be = img.astype(">u2").view(np.uint8).reshape(bands * h, 2 * w)
    raw[:, 1:] = be
    ihdr = struct.pack(">IIBBBBB", w, bands * h, 16, 0, 0, 0, 0)  # 16-bit gray
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(buf: bytes, w: int, h: int, bands: int) -> np.ndarray:
    assert buf[:8] == _PNG_SIG, "not a PNG"
    pos = 8
    idat = b""
    width = height = None
    while pos < len(buf):
        (length,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            width, height, bitdepth, color = struct.unpack(">IIBB", data[:10])
            assert bitdepth == 16 and color == 0, "codec supports 16-bit gray only"
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if (width, height) != (w, bands * h):
        raise ValueError(
            f"png payload is {width}x{height}, but metadata declares "
            f"(bands={bands}, h={h}, w={w})"
        )
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(height, 1 + 2 * width)
    assert (raw[:, 0] == 0).all(), "only filter 0 supported"
    img = raw[:, 1:].reshape(height, width, 2).copy().view(">u2").reshape(height, width)
    return img.astype(np.uint16).reshape(bands, h, w)


# --------------------------------------------------------------------------
# qdct (lossy): 8x8 block DCT + uniform quantization
# --------------------------------------------------------------------------

_B = 8
_DCT = np.zeros((_B, _B))
for _k in range(_B):
    for _n in range(_B):
        _DCT[_k, _n] = np.cos(np.pi * _k * (2 * _n + 1) / (2 * _B)) * (
            np.sqrt(1.0 / _B) if _k == 0 else np.sqrt(2.0 / _B)
        )
# uniform quant step chosen so worst-case reconstruction error keeps
# PSNR comfortably above 40 dB against the 10000 peak
_QSTEP = 16.0


def _blockify(img: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = img.shape
    ph, pw = (-h) % _B, (-w) % _B
    img = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    H, W = img.shape
    blocks = img.reshape(H // _B, _B, W // _B, _B).transpose(0, 2, 1, 3)
    return blocks.astype(np.float64), H, W


def encode_qdct(arr: np.ndarray) -> bytes:
    """(bands, h, w) uint16 → quantized DCT coefficients (int16, zlib)."""
    arr = np.asarray(arr, dtype=np.uint16)
    bands, h, w = arr.shape
    outs = []
    for b in range(bands):
        blocks, H, W = _blockify(arr[b].astype(np.float64))
        coef = np.einsum("ij,xyjk,lk->xyil", _DCT, blocks, _DCT)
        q = np.round(coef / _QSTEP).astype(np.int16)
        outs.append(q.tobytes())
    header = struct.pack("<IIII", bands, h, w, int(_QSTEP))
    return header + zlib.compress(b"".join(outs), 6)


def decode_qdct(buf: bytes, w: int, h: int, bands: int) -> np.ndarray:
    bands_, h_, w_, qstep = struct.unpack("<IIII", buf[:16])
    if (bands_, h_, w_) != (bands, h, w):
        raise ValueError(
            f"qdct payload is {(bands_, h_, w_)}, but metadata declares "
            f"(bands={bands}, h={h}, w={w})"
        )
    H, W = h_ + (-h_) % _B, w_ + (-w_) % _B
    per_band = (H // _B) * (W // _B) * _B * _B
    q = np.frombuffer(zlib.decompress(buf[16:]), dtype=np.int16)
    out = np.empty((bands_, h_, w_), dtype=np.uint16)
    for b in range(bands_):
        qb = q[b * per_band : (b + 1) * per_band].reshape(H // _B, W // _B, _B, _B)
        coef = qb.astype(np.float64) * qstep
        blocks = np.einsum("ji,xyjk,kl->xyil", _DCT, coef, _DCT)
        img = blocks.transpose(0, 2, 1, 3).reshape(H, W)[:h_, :w_]
        out[b] = np.clip(np.round(img), 0, 65535).astype(np.uint16)
    return out


# --------------------------------------------------------------------------
# dispatch
# --------------------------------------------------------------------------

def encode(arr: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return encode_raw(arr.astype(np.uint16))
    if fmt == "raw8":
        return encode_raw(arr.astype(np.uint8))
    if fmt == "rawf4":
        return np.ascontiguousarray(arr, dtype="<f4").tobytes()
    if fmt == "rawf8":
        return np.ascontiguousarray(arr, dtype="<f8").tobytes()
    if fmt == "rawi2":
        return np.ascontiguousarray(arr, dtype="<i2").tobytes()
    if fmt == "png":
        return encode_png(arr)
    if fmt == "qdct":
        return encode_qdct(arr)
    if fmt == "jpeg":
        # real baseline JPEG (jpeg.py, validated against javax.imageio):
        # 8-bit lossy — (1,h,w) -> grayscale, (3,h,w) -> RGB
        from .jpeg import jpeg_encode

        a = np.clip(np.asarray(arr), 0, 255).astype(np.uint8)
        if a.shape[0] == 1:
            return jpeg_encode(a[0])
        if a.shape[0] == 3:
            return jpeg_encode(np.moveaxis(a, 0, -1))
        raise ValueError("jpeg: 1 (gray) or 3 (RGB) bands")
    if fmt == "jp2":
        # real lossless JPEG-2000 (jp2.py, reversible 5/3) — the S2 band
        # shape: one grayscale codestream; (1,h,w) uint16 only
        from .jp2 import jp2_encode

        a = np.asarray(arr)
        if a.shape[0] != 1:
            raise ValueError("jp2: single-band (grayscale) only")
        return jp2_encode(a[0].astype(np.int64))
    raise NotImplementedError(
        f"fmt={fmt!r}: no codec available — plug one into codecs.encode dispatch"
    )


def decode(buf: bytes, w: int, h: int, bands: int, fmt: str) -> np.ndarray:
    if fmt == "raw":
        return decode_raw(buf, w, h, bands, "<u2")
    if fmt == "raw8":
        return decode_raw(buf, w, h, bands, "u1").astype(np.uint16)
    if fmt == "rawf4":
        return np.frombuffer(buf, dtype="<f4").reshape(bands, h, w)
    if fmt == "rawf8":
        return np.frombuffer(buf, dtype="<f8").reshape(bands, h, w)
    if fmt == "rawi2":
        return np.frombuffer(buf, dtype="<i2").reshape(bands, h, w)
    if fmt == "png":
        return decode_png(buf, w, h, bands)
    if fmt == "qdct":
        return decode_qdct(buf, w, h, bands)
    if fmt == "jpeg":
        from .jpeg import jpeg_decode

        a = jpeg_decode(buf)
        a = a[None, ...] if a.ndim == 2 else np.moveaxis(a, -1, 0)
        if a.shape != (bands, h, w):
            # metadata/payload mismatch must fail loudly like the raw
            # formats' reshape would, not silently return other dims
            raise ValueError(
                f"jpeg payload decodes to {a.shape}, but metadata declares "
                f"(bands={bands}, h={h}, w={w})"
            )
        return a.astype(np.uint16)
    if fmt == "jp2":
        from .jp2 import jp2_decode

        a = jp2_decode(buf)[None, ...]
        if a.shape != (bands, h, w):
            raise ValueError(
                f"jp2 payload decodes to {a.shape}, but metadata declares "
                f"(bands={bands}, h={h}, w={w})"
            )
        return a.astype(np.uint16)
    raise NotImplementedError(f"fmt={fmt!r}")


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def psnr(a: np.ndarray, b: np.ndarray, peak: float = HLS_MAX) -> float:
    """Peak signal-to-noise ratio in dB (inf for identical arrays)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)


def phash64(arr: np.ndarray) -> int:
    """Deterministic 64-bit perceptual hash (DCT-based, numpy only).

    Mean-pool the first band to 32x32, 2D DCT, take the 8x8 low-frequency
    block, threshold at its median → 64 bits → signed int64.
    """
    img = np.asarray(arr, dtype=np.float64)
    if img.ndim == 3:
        img = img[0]
    h, w = img.shape
    # mean-pool to 32x32 (crop to a multiple first)
    th, tw = (h // 32) * 32 or h, (w // 32) * 32 or w
    img = img[:th, :tw]
    fh, fw = max(1, th // 32), max(1, tw // 32)
    pooled = img[: 32 * fh, : 32 * fw].reshape(
        min(32, th), fh, min(32, tw), fw
    ).mean(axis=(1, 3))
    n = pooled.shape[0]
    dct_n = np.array(
        [
            [
                np.cos(np.pi * k * (2 * i + 1) / (2 * n))
                * (np.sqrt(1.0 / n) if k == 0 else np.sqrt(2.0 / n))
                for i in range(n)
            ]
            for k in range(n)
        ]
    )
    freq = dct_n @ pooled @ dct_n.T
    low = freq[:8, :8].ravel()
    bits = (low > np.median(low)).astype(np.uint64)
    val = np.uint64(0)
    for b in bits:
        val = (val << np.uint64(1)) | b
    return int(val.astype(np.int64))


# --- TIFF LZW (compression 5) -----------------------------------------------
# Pure-Python TIFF 6.0 LZW with the spec's "early change": code width bumps
# one code earlier than strictly necessary (libtiff convention), MSB-first
# bit packing, CLEAR=256 / EOI=257, 12-bit cap with table reset. This
# upgrades the former tiff_lzw stub to a real decoder — LZW is the other
# compression real HLS/S2 GeoTIFF mirrors ship besides deflate.

_LZW_CLEAR, _LZW_EOI = 256, 257


def lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def fresh() -> dict:
        return {bytes([i]): i for i in range(256)}

    width = 9
    emit(_LZW_CLEAR, width)
    table = fresh()
    next_code = 258
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # width bump timing: matched BIDIRECTIONALLY against the JDK TIFF
        # plugin (javax decodes our streams, we decode javax's — the
        # round-6 interop test crosses the 9->10 and 10->11 boundaries).
        # The pre-round-6 pairing bumped one code earlier on both sides:
        # self-consistent, but real-world decoders desync at entry 511.
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4094:  # table (nearly) full → reset
            emit(_LZW_CLEAR, width)
            table = fresh()
            next_code = 258
            width = 9
        w = bytes([ch])
    if w:
        emit(table[w], width)
    emit(_LZW_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def lzw_decode(buf: bytes) -> bytes:
    out = bytearray()
    table: list[bytes] = []
    width = 9
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in buf:
        acc = ((acc << 8) | byte) & 0xFFFFFFFF
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == _LZW_EOI:
                return bytes(out)
            if code == _LZW_CLEAR:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # mirror the encoder's bump: the decoder creates entry e_{i-1}
            # only while reading code C_i (its table lags the encoder's by
            # one), so it bumps at table length (1<<width)-1 — the timing
            # the javax/libtiff family uses (interop-tested both ways)
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


# --- TIFF PackBits (compression 32773) --------------------------------------

def packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 PackBits RLE: runs of 2-128 equal bytes → (257-n, byte);
    literal spans of 1-128 → (n-1, bytes). The spec's recommended encoder
    (break literals for runs ≥ 3; 2-byte runs join literals)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # measure run
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        run = j - i
        if run >= 3:
            out.append(257 - run & 0xFF)
            out.append(data[i])
            i = j
            continue
        # literal span: until the next run of >= 3 (or 128 bytes)
        k = i
        while k < n and k - i < 128:
            r = k + 1
            while r < n and r - k < 3 and data[r] == data[k]:
                r += 1
            if r - k >= 3:
                break
            k += 1
        k = max(k, i + 1)
        out.append(k - i - 1)
        out += data[i:k]
        i = k
    return bytes(out)


def packbits_decode(buf: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(buf):
        h = buf[i]
        i += 1
        if h < 128:  # literal of h+1 bytes
            out += buf[i : i + h + 1]
            i += h + 1
        elif h > 128:  # run of 257-h copies
            out += bytes([buf[i]]) * (257 - h)
            i += 1
        # h == 128: no-op per spec
    return bytes(out)
