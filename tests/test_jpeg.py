"""Baseline JPEG codec: self round-trips plus INTEROP with the JVM's
javax.imageio — an independent implementation, so format conventions
(zigzag, canonical Huffman, byte stuffing, JFIF color) are externally
validated, not just self-consistent."""

import numpy as np
import pytest

from instageo_e2e_geospatial_ml_spark.codecs import psnr
from instageo_e2e_geospatial_ml_spark.jpeg import jpeg_decode, jpeg_encode


def _gradient(h, w):
    return (np.add.outer(np.arange(h), np.arange(w)) * 2 % 256).astype(np.uint8)


def test_jpeg_self_roundtrip_gray_and_rgb():
    g = _gradient(48, 64)
    out = jpeg_decode(jpeg_encode(g, quality=90))
    assert out.shape == (48, 64)
    assert psnr(g.astype(float), out.astype(float), peak=255.0) > 40

    rgb = np.stack([g, g[::-1], np.roll(g, 7, axis=1)], axis=-1)
    out = jpeg_decode(jpeg_encode(rgb, quality=90))
    assert out.shape == (48, 64, 3)
    assert psnr(rgb.astype(float), out.astype(float), peak=255.0) > 35

    # non-multiple-of-8 dims (edge padding path)
    odd = _gradient(19, 30)
    out = jpeg_decode(jpeg_encode(odd, quality=85))
    assert out.shape == (19, 30)
    assert psnr(odd.astype(float), out.astype(float), peak=255.0) > 35

    with pytest.raises(ValueError):
        jpeg_encode(_gradient(8, 8).astype(np.uint16))
    with pytest.raises(ValueError):
        jpeg_decode(b"\x00\x01")


def test_jpeg_quality_monotone():
    g = _gradient(40, 40)
    sizes = [len(jpeg_encode(g, quality=q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]
    p = [
        psnr(g.astype(float), jpeg_decode(jpeg_encode(g, quality=q)).astype(float), peak=255.0)
        for q in (30, 90)
    ]
    assert p[0] < p[1]


def test_jpeg_codecs_dispatch():
    from instageo_e2e_geospatial_ml_spark import codecs

    g = _gradient(32, 32)
    buf = codecs.encode(g[None, ...].astype(np.uint16), "jpeg")
    out = codecs.decode(buf, 32, 32, 1, "jpeg")
    assert out.shape == (1, 32, 32) and out.dtype == np.uint16
    assert psnr(g.astype(float), out[0].astype(float), peak=255.0) > 40


def _java_decode(jvm, buf, gray):
    bais = jvm.java.io.ByteArrayInputStream(bytearray(buf))
    img = jvm.javax.imageio.ImageIO.read(bais)
    assert img is not None, "javax.imageio rejected our JPEG"
    W, H = img.getWidth(), img.getHeight()
    if gray:
        # raw raster sample — getRGB would apply linear-gray->sRGB gamma
        raster = img.getRaster()
        out = np.zeros((H, W), dtype=np.uint8)
        for y in range(H):
            for x in range(W):
                out[y, x] = raster.getSample(x, y, 0)
        return out
    out = np.zeros((H, W, 3), dtype=np.uint8)
    for y in range(H):
        for x in range(W):
            p = img.getRGB(x, y)
            out[y, x] = [(p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF]
    return out


def test_jpeg_interop_with_javax_imageio(spark):
    jvm = spark._jvm
    g = _gradient(48, 64)
    jv = _java_decode(jvm, jpeg_encode(g, quality=90), gray=True)
    assert psnr(g.astype(float), jv.astype(float), peak=255.0) > 40

    rgb = np.stack([g, g[::-1], np.roll(g, 7, axis=1)], axis=-1)
    jv = _java_decode(jvm, jpeg_encode(rgb, quality=90), gray=False)
    assert psnr(rgb.astype(float), jv.astype(float), peak=255.0) > 35

    # reverse direction: javax.imageio encodes (4:2:0 typical), we decode
    h, w = 48, 64
    bimg = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    for y in range(h):
        for x in range(w):
            r, gg, b = int(rgb[y, x, 0]), int(rgb[y, x, 1]), int(rgb[y, x, 2])
            bimg.setRGB(x, y, (r << 16) | (gg << 8) | b)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.javax.imageio.ImageIO.write(bimg, "jpg", baos)
    ours = jpeg_decode(bytes(baos.toByteArray()))
    assert ours.shape == (h, w, 3)
    assert psnr(rgb.astype(float), ours.astype(float), peak=255.0) > 25


def test_image_pipeline_over_real_jpeg_payloads(spark):
    # JPEG payloads decode through codecs.decode, and a near-duplicate
    # pair survives compression into the ANN near-dup operator
    import pandas as pd

    from instageo_e2e_geospatial_ml_spark import codecs
    from instageo_e2e_geospatial_ml_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    rng = np.random.default_rng(9)
    base = _gradient(48, 48).astype(np.uint16)[None]
    rows = []
    for i in range(6):
        if i == 0:
            img = base
        elif i == 1:
            img = np.clip(base + 2, 0, 255)  # near-duplicate of j0
        else:
            img = rng.integers(0, 256, (1, 48, 48)).astype(np.uint16)
        arr = codecs.decode(codecs.encode(img, "jpeg"), 48, 48, 1, "jpeg")
        assert arr.shape == (1, 48, 48) and arr.std() > 0
        # 4x4 mean-pooled, z-normalized pixels as the embedding
        pooled = arr[0].reshape(4, 12, 4, 12).mean(axis=(1, 3)).ravel()
        v = (pooled - pooled.mean()) / pooled.std()
        rows.append({"vec_id": i, "embedding": v.astype(np.float32).tolist()})
    e = spark.createDataFrame(pd.DataFrame(rows))
    pairs = embedding_neardup_pairs(e, threshold=0.98).toPandas()
    got = set(zip(pairs["vec_a"], pairs["vec_b"]))
    assert (0, 1) in got  # the near-dup pair survives JPEG compression


def test_wav_container_interop(spark):
    # WAV is a raw container: decoding a javax.sound-written file must be
    # sample-exact, and javax.sound must parse our writer's metadata
    from instageo_e2e_geospatial_ml_spark.sources.images import (
        wav_decode,
        wav_encode,
    )

    jvm = spark._jvm
    pcm = np.array([0, 1, -1, 1000, -32768, 32767, 42, -42] * 100, dtype="<i2")
    fmt = jvm.javax.sound.sampled.AudioFormat(16000.0, 16, 1, True, False)
    bais = jvm.java.io.ByteArrayInputStream(bytearray(pcm.tobytes()))
    ais = jvm.javax.sound.sampled.AudioInputStream(bais, fmt, len(pcm))
    baos = jvm.java.io.ByteArrayOutputStream()
    wtype = jvm.javax.sound.sampled.AudioFileFormat.Type.WAVE
    jvm.javax.sound.sampled.AudioSystem.write(ais, wtype, baos)
    got, sr = wav_decode(bytes(baos.toByteArray()))
    assert sr == 16000 and (got == pcm).all()

    ours = wav_encode(pcm, 16000)
    ais2 = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
        jvm.java.io.ByteArrayInputStream(bytearray(ours))
    )
    assert ais2.getFormat().getSampleRate() == 16000.0
    assert int(ais2.getFrameLength()) == len(pcm)
    # our own round trip, incl. stereo
    st = np.stack([pcm, -pcm], axis=1)
    got2, sr2 = wav_decode(wav_encode(st, 8000))
    assert sr2 == 8000 and got2.shape == st.shape and (got2 == st).all()


def test_lzw_hand_vector_and_roundtrips():
    import random

    from instageo_e2e_geospatial_ml_spark.codecs import lzw_decode, lzw_encode

    # hand-packed vector: encoding ABABAB must emit exactly
    # [CLEAR, A, B, 258, 258, EOI] as 9-bit MSB-first codes
    codes = [256, 65, 66, 258, 258, 257]
    acc = n = 0
    by = bytearray()
    for c in codes:
        acc = (acc << 9) | c
        n += 9
        while n >= 8:
            by.append((acc >> (n - 8)) & 0xFF)
            n -= 8
    if n:
        by.append((acc << (8 - n)) & 0xFF)
    assert lzw_encode(b"ABABAB") == bytes(by)
    assert lzw_decode(bytes(by)) == b"ABABAB"

    # round-trips across width changes, table resets, and KwKwK
    random.seed(3)
    for size in (0, 1, 300, 700, 5000):
        d = bytes(random.randrange(40) for _ in range(size))
        assert lzw_decode(lzw_encode(d)) == d, size
    d = bytes(random.randrange(256) for _ in range(300_000))  # multiple resets
    assert lzw_decode(lzw_encode(d)) == d
    d = (b"the quick brown fox " * 3000) + bytes(range(256))
    assert lzw_decode(lzw_encode(d)) == d


def test_codec_roundtrip_properties():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from instageo_e2e_geospatial_ml_spark.codecs import (
        lzw_decode,
        lzw_encode,
        packbits_decode,
        packbits_encode,
    )

    @settings(max_examples=40, deadline=None)
    @given(st.binary(max_size=4000))
    def lzw_rt(d):
        assert lzw_decode(lzw_encode(d)) == d

    @settings(max_examples=40, deadline=None)
    @given(st.binary(max_size=4000))
    def pb_rt(d):
        assert packbits_decode(packbits_encode(d)) == d

    lzw_rt()
    pb_rt()


def test_jpeg_truncated_entropy_and_shape_mismatch():
    from instageo_e2e_geospatial_ml_spark import codecs

    g = _gradient(24, 24).astype(np.uint8)
    buf = jpeg_encode(g, quality=90)
    # chop inside the entropy segment: a descriptive error, not IndexError
    with pytest.raises(ValueError, match="truncated JPEG entropy"):
        jpeg_decode(buf[:-8])
    # declared metadata must match the payload's decoded dims
    with pytest.raises(ValueError, match="metadata declares"):
        codecs.decode(buf, w=99, h=24, bands=1, fmt="jpeg")
    ok = codecs.decode(buf, w=24, h=24, bands=1, fmt="jpeg")
    assert ok.shape == (1, 24, 24)


def _java_encode_progressive(jvm, arr):
    """Encode via javax.imageio with MODE_DEFAULT progressive scans (SOF2)."""
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    t = (
        jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY
        if gray
        else jvm.java.awt.image.BufferedImage.TYPE_INT_RGB
    )
    bimg = jvm.java.awt.image.BufferedImage(w, h, t)
    if gray:
        raster = bimg.getRaster()
        for y in range(h):
            for x in range(w):
                raster.setSample(x, y, 0, int(arr[y, x]))
    else:
        for y in range(h):
            for x in range(w):
                r, g, b = int(arr[y, x, 0]), int(arr[y, x, 1]), int(arr[y, x, 2])
                bimg.setRGB(x, y, (r << 16) | (g << 8) | b)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(bimg, None, None), param)
    ios.flush()
    writer.dispose()
    return bytes(baos.toByteArray())


def test_progressive_jpeg_decode_vs_javax(spark):
    # progressive (SOF2) fixtures written by an independent encoder
    # (javax.imageio, MODE_DEFAULT = multi-scan spectral selection +
    # successive approximation); our decoder must agree with javax's own
    # decode of the SAME bytes to IDCT/rounding tolerance
    jvm = spark._jvm
    g = _gradient(53, 67)  # non-multiple-of-8 on both axes

    buf = _java_encode_progressive(jvm, g)
    assert b"\xff\xc2" in buf and b"\xff\xc0" not in buf, "fixture is not SOF2"
    # progressive files carry >1 SOS scan by construction
    assert buf.count(b"\xff\xda") > 1
    ours = jpeg_decode(buf)
    theirs = _java_decode(jvm, buf, gray=True)
    assert ours.shape == (53, 67)
    # same coefficients, independent IDCTs: near-exact agreement
    assert np.abs(ours.astype(int) - theirs.astype(int)).max() <= 1
    assert psnr(g.astype(float), ours.astype(float), peak=255.0) > 35

    rgb = np.stack([g, g[::-1], np.roll(g, 9, axis=1)], axis=-1)
    buf = _java_encode_progressive(jvm, rgb)
    assert b"\xff\xc2" in buf
    ours = jpeg_decode(buf)
    theirs = _java_decode(jvm, buf, gray=False)
    assert ours.shape == (53, 67, 3)
    # 4:2:0 chroma: javax's upsampler interpolates, ours replicates — the
    # shared-luma channel constrains the diff; compare loosely per-pixel
    # and tightly on luma
    oy = 0.299 * ours[..., 0] + 0.587 * ours[..., 1] + 0.114 * ours[..., 2]
    ty = 0.299 * theirs[..., 0] + 0.587 * theirs[..., 1] + 0.114 * theirs[..., 2]
    assert np.abs(oy - ty).max() <= 4
    assert psnr(rgb.astype(float), ours.astype(float), peak=255.0) > 25
    assert psnr(theirs.astype(float), ours.astype(float), peak=255.0) > 30


def test_progressive_jpeg_random_luma_stress(spark):
    # random luma maximizes AC-coefficient density → exercises EOB runs,
    # ZRL-in-refinement, and correction-bit paths; smooth near-neutral
    # chroma keeps the (legitimate) upsampling-filter difference tiny so
    # the bound isolates entropy-decode correctness
    jvm = spark._jvm
    rng = np.random.default_rng(3)
    for h, w in ((40, 56), (31, 17)):
        y = rng.integers(60, 196, (h, w)).astype(float)
        cb = 128 + 10 * np.sin(np.arange(w) / 9)[None, :] + 0 * y
        cr = 128 - 8 * np.cos(np.arange(h) / 7)[:, None] + 0 * y
        r = y + 1.402 * (cr - 128)
        g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
        b = y + 1.772 * (cb - 128)
        rgb = np.clip(np.round(np.stack([r, g, b], -1)), 0, 255).astype(np.uint8)
        buf = _java_encode_progressive(jvm, rgb)
        assert b"\xff\xc2" in buf
        ours = jpeg_decode(buf)
        theirs = _java_decode(jvm, buf, gray=False)
        assert np.abs(ours.astype(int) - theirs.astype(int)).max() <= 4

    # random GRAY decodes near-exactly (no upsampling in play at all)
    g8 = rng.integers(0, 256, (33, 47)).astype(np.uint8)
    buf = _java_encode_progressive(jvm, g8)
    ours = jpeg_decode(buf)
    theirs = _java_decode(jvm, buf, gray=True)
    assert np.abs(ours.astype(int) - theirs.astype(int)).max() <= 1


def test_jpeg_odd_fill_byte_run_before_marker():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker.
    An ODD run used to land the scanner mid-marker (ADVICE r6). Inject
    1- and 3-byte fill runs before the DQT marker and require identical
    decode to the unpadded stream."""
    g = _gradient(24, 16)
    buf = jpeg_encode(g, quality=90)
    dqt = buf.index(b"\xff\xdb")
    for pad in (b"\xff", b"\xff\xff\xff"):
        padded = buf[:dqt] + pad + buf[dqt:]
        assert np.array_equal(jpeg_decode(padded), jpeg_decode(buf))


def test_jpeg_16bit_quant_tables(spark):
    """DQT Pq=1 (16-bit quantizer entries, T.81 B.2.4.1): rewrite a
    stream's 8-bit tables as 16-bit with identical values — decode must
    be identical, and javax.imageio must agree on the rewritten bytes."""
    import struct

    g = _gradient(24, 32)
    buf = jpeg_encode(g, quality=85)
    out = bytearray()
    pos = 0
    while pos < len(buf):
        if buf[pos : pos + 2] == b"\xff\xdb":
            (ln,) = struct.unpack(">H", buf[pos + 2 : pos + 4])
            seg = buf[pos + 4 : pos + 2 + ln]
            new = b""
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                assert pq == 0
                vals = seg[sp + 1 : sp + 65]
                new += bytes([(1 << 4) | tq]) + b"".join(
                    struct.pack(">H", v) for v in vals
                )
                sp += 65
            out += b"\xff\xdb" + struct.pack(">H", 2 + len(new)) + new
            pos += 2 + ln
        else:
            out.append(buf[pos])
            pos += 1
    wide = bytes(out)
    np.testing.assert_array_equal(jpeg_decode(wide), jpeg_decode(buf))
    # javax accepts the Pq=1 stream; its IDCT rounds within +-1 of ours
    # (the same tolerance the baseline/progressive interop tests use)
    jv = _java_decode(spark._jvm, wide, gray=True)
    assert np.abs(jpeg_decode(wide).astype(int) - jv.astype(int)).max() <= 1


def test_jpeg_quality_estimate_inverts_encoder_grid():
    """jpeg_quality_estimate recovers the exact IJG quality for every
    5-step grid point 30..95 from real encoded bytes (luminance DQT
    walk + integer inverse scaling); non-JPEG input raises."""
    import numpy as np
    import pytest

    from instageo_e2e_geospatial_ml_spark.jpeg import (
        jpeg_encode, jpeg_quality_estimate,
    )

    img = np.arange(256, dtype=np.uint8).reshape(16, 16)
    for q in range(30, 100, 5):
        ts, s_est, q_est = jpeg_quality_estimate(jpeg_encode(img, q))
        assert q_est == q, (q, q_est)
        assert ts > 64  # sanity: real table sums
    with pytest.raises(ValueError):
        jpeg_quality_estimate(b"not a jpeg")
