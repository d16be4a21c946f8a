"""Binary-payload operators over the images table, plus PCM helpers.

The images table (input_hint schema) treats payloads as opaque binary +
typed metadata. Pixel operators run Arrow-batched over `mapInPandas` and
decode through codecs.decode, the one format dispatch. Here:

  * parse_jp2_header: JPEG-2000 SIZ metadata without a pixel decode;
  * hamming_neardup_pairs: exact near-duplicate pairs over a 64-bit
    perceptual-hash column (codecs.phash64 computes one from pixels);
  * build_overviews: COG-style integer overview pyramid;
  * wav_encode / wav_decode, audio_frame_energy, silence_runs: 16-bit PCM
    containers and the silence-trim primitive.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs

# --- JPEG-2000 header parsing (S5, reference s2_utils.py:360-407) -----------

_JP2_SIG = bytes.fromhex("0000000c6a5020200d0a870a")  # JP2 signature box
_SOC = b"\xff\x4f"  # codestream start
_SIZ = b"\xff\x51"  # image/tile size marker


def parse_jp2_header(buf: bytes) -> dict:
    """Parse a JPEG-2000 header to (w, h, n_components, bit_depth) — the
    metadata the catalog/validation path needs from S2 JP2 assets, parsed
    directly from the SIZ marker (ISO 15444-1 A.5.1), no image library.
    Accepts both a raw codestream (SOC..SIZ) and a JP2 container (the
    codestream lives in the 'jp2c' box). Pixels decode through
    codecs.decode(..., 'jp2'), which calls jp2.jp2_decode.
    """
    cs = buf
    if buf[:12] == _JP2_SIG:
        # walk the box structure to the jp2c (contiguous codestream) box
        off = 0
        while off + 8 <= len(buf):
            ln = int.from_bytes(buf[off : off + 4], "big")
            btype = buf[off + 4 : off + 8]
            # LBox==1: extended-length box — the real 64-bit length (XLBox)
            # follows the type, and the box header is 16 bytes (ISO 15444-1
            # I.5.1); LBox==0: box runs to EOF
            hdr = 8
            if ln == 1:
                if off + 16 > len(buf):
                    break
                ln = int.from_bytes(buf[off + 8 : off + 16], "big")
                hdr = 16
            if btype == b"jp2c":
                cs = buf[off + hdr :]
                break
            if ln == 0:
                break
            off += ln if ln >= hdr else hdr
        else:
            raise ValueError("no jp2c codestream box in JP2 container")
    if cs[:2] != _SOC:
        raise ValueError("not a JPEG-2000 codestream (missing SOC)")
    if cs[2:4] != _SIZ:
        raise ValueError("SIZ marker must immediately follow SOC")
    # SIZ segment: Lsiz(2) Rsiz(2) Xsiz(4) Ysiz(4) XOsiz(4) YOsiz(4)
    # XTsiz(4) YTsiz(4) XTOsiz(4) YTOsiz(4) Csiz(2) then per-component
    # Ssiz(1) XRsiz(1) YRsiz(1)
    p = 4
    xsiz = int.from_bytes(cs[p + 4 : p + 8], "big")
    ysiz = int.from_bytes(cs[p + 8 : p + 12], "big")
    xosiz = int.from_bytes(cs[p + 12 : p + 16], "big")
    yosiz = int.from_bytes(cs[p + 16 : p + 20], "big")
    csiz = int.from_bytes(cs[p + 36 : p + 38], "big")
    ssiz = cs[p + 38]
    return {
        "w": xsiz - xosiz,
        "h": ysiz - yosiz,
        "n_components": csiz,
        "bit_depth": (ssiz & 0x7F) + 1,
        "signed": bool(ssiz & 0x80),
    }


def hamming_neardup_pairs(
    ph: DataFrame,
    max_hamming: int = 8,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Near-duplicate pairs over a 64-bit hash column — EXACT for the
    given threshold: the hash splits into (max_hamming + 1) blocks, so
    any pair within Hamming distance max_hamming shares at least one
    identical block (pigeonhole); the block equi-join generates
    candidates and bit_count(a XOR b) refines — all JVM. max_bucket
    drops degenerate blocks (e.g. all-black thumbnails), the LSH
    skew-guard pattern. This is the north-star per-row `phash:int64`
    column join (the table shape in BASELINE.json input_hint); hash
    decoded pixels with codecs.phash64 to go from pixels. Returns
    (id_a, id_b, hamming)."""
    from pyspark.sql import functions as F

    ph = ph.select("image_id", "phash")
    n_blocks = max_hamming + 1
    if n_blocks > 64:
        raise ValueError("max_hamming must be < 64")
    # evenly-distributed block boundaries: every block is non-empty (a
    # fixed width of ceil(64/n) would leave trailing blocks empty — an
    # empty block has a constant key, i.e. one all-pairs bucket)
    bounds = [round(i * 64 / n_blocks) for i in range(n_blocks + 1)]
    blocks = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.expr(
                    f"shiftright(phash, {bounds[b]}) & "
                    f"{(1 << (bounds[b + 1] - bounds[b])) - 1}"
                ).alias("key"),
            )
            for b in range(n_blocks)
        ]
    )
    banded = ph.select("image_id", "phash", F.inline(blocks))
    sizes = banded.groupBy("blk", "key").agg(F.count(F.lit(1)).alias("_n"))
    banded = banded.join(
        F.broadcast(sizes.filter(F.col("_n") > max_bucket)),
        ["blk", "key"],
        "left_anti",
    )
    a = banded.select(
        F.col("image_id").alias("id_a"), F.col("phash").alias("pa"), "blk", "key"
    )
    b = banded.select(
        F.col("image_id").alias("id_b"), F.col("phash").alias("pb"), "blk", "key"
    )
    pairs = (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def wav_encode(pcm: np.ndarray, sample_rate: int = 16000) -> bytes:
    """16-bit PCM mono/stereo → RIFF/WAVE container ((n,) or (n, ch)
    int16). The standard uncompressed audio interchange format."""
    import struct

    x = np.asarray(pcm, dtype="<i2")
    ch = 1 if x.ndim == 1 else x.shape[1]
    data = x.tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → ((n,) or (n, ch) int16, sample_rate). PCM (format 1)
    16-bit only; compressed WAV variants raise."""
    import struct

    assert buf[:4] == b"RIFF" and buf[8:12] == b"WAVE", "not a WAV"
    pos = 12
    sr = ch = bits = None
    data = None
    while pos + 8 <= len(buf):
        tag = buf[pos : pos + 4]
        (ln,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        chunk = buf[pos + 8 : pos + 8 + ln]
        if tag == b"fmt ":
            audio_fmt, ch, sr, _br, _ba, bits = struct.unpack("<HHIIHH", chunk[:16])
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError("PCM 16-bit WAV only")
        elif tag == b"data":
            data = chunk
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    assert data is not None and sr is not None, "missing fmt/data chunk"
    x = np.frombuffer(data, dtype="<i2")
    if ch > 1:
        x = x.reshape(-1, ch)
    return x, sr


def build_overviews(
    images: DataFrame, max_level: int = 3
) -> DataFrame:
    """COG-style overview pyramid: for each image, emit reduced-resolution
    levels 1..max_level, level L being a 2^L x 2^L integer box filter of
    the BASE image (dimensions floor-cropped to a multiple of the factor
    first, GDAL's `gdaladdo -r average` shape). The average rounds
    half-up in integer arithmetic ((block_sum + f²/2) // f²) — bit-exact
    regardless of partitioning or build order, unlike a cascade of
    float means whose rounding would depend on the level chain.

    Pixels stay inside the Arrow batch (mapInPandas, numpy reshape-sum
    kernel); one input row fans out to max_level small rows, so the
    operator is embarrassingly parallel and shuffle-free. At 100 TB the
    natural composition is build_overviews -> skew.write_clustered
    keyed by (tile, level): overview scans then prune to one file span
    per zoom, the map-pyramid serving layout.
    """
    import hashlib

    def build(it):
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode(bytes(r.bytes), int(r.w), int(r.h), 1, r.fmt)
                bands, h, w = arr.shape
                base = arr.astype(np.uint32)
                for lvl in range(1, max_level + 1):
                    f = 1 << lvl
                    oh, ow = h // f, w // f
                    if oh == 0 or ow == 0:
                        break
                    s = (
                        base[:, : oh * f, : ow * f]
                        .reshape(bands, oh, f, ow, f)
                        .sum(axis=(2, 4), dtype=np.uint64)
                    )
                    red = ((s + f * f // 2) // (f * f)).astype(arr.dtype)
                    payload = codecs.encode_raw(red)
                    rows.append(
                        {
                            "image_id": r.image_id,
                            "level": lvl,
                            "w": ow,
                            "h": oh,
                            "px_sum": int(red.sum(dtype=np.uint64)),
                            "digest": hashlib.md5(payload).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "level", "w", "h", "px_sum", "digest"],
            )

    return images.mapInPandas(
        build,
        "image_id string, level int, w int, h int, px_sum long, digest string",
    )


def audio_frame_energy(
    pcm: "np.ndarray", frame: int = 160
) -> "np.ndarray":
    """Per-frame energy of 16-bit mono PCM: int64 Σ x² over consecutive
    `frame`-sample windows (trailing partial frame dropped) — the
    primitive behind VAD/silence trimming and loudness normalization in
    audio-dataset curation. Exact integer (max |x| = 32768 → frame sums
    bounded by 160·2³⁰ ≪ 2⁶³)."""
    x = np.asarray(pcm, dtype=np.int64)
    n = (len(x) // frame) * frame
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    return (x[:n] ** 2).reshape(-1, frame).sum(axis=1)


def silence_runs(
    energy: "np.ndarray", threshold: int
) -> list[tuple[int, int]]:
    """Maximal runs of frames with energy < threshold → [(start_frame,
    n_frames)] — the trim/segment boundaries."""
    runs = []
    start = None
    for i, e in enumerate(list(energy) + [None]):
        quiet = e is not None and int(e) < threshold
        if quiet and start is None:
            start = i
        elif not quiet and start is not None:
            runs.append((start, i - start))
            start = None
    return runs
