"""JPEG-2000 (reversible 5/3, single-tile grayscale) codec tests.

No independent JPEG-2000 implementation ships in this container (unlike
javax.imageio for JPEG/PNG/GIF or libwebp for VP8L), so validation here
is: exhaustive bit-exact encode→decode round-trips across content /
shape / level / code-block matrices, the MQ coder pinned against a
hand-traced Annex C flowchart walk, the 5/3 lifting checked against an
independently written explicit-extension implementation, tag-tree
encode/decode duality on random grids, and codestream structure checked
through parse_jp2_header (which predates the codec).
"""

import struct

import numpy as np
import pytest

from instageo_e2e_geospatial_ml_spark.jp2 import (
    MQDecoder,
    MQEncoder,
    _fwd53_1d,
    _HdrReader,
    _HdrWriter,
    _inv53_1d,
    _TagTree,
    jp2_decode,
    jp2_encode,
)


def test_mq_hand_traced_vector():
    """Two symbols through the C.10 flowcharts by hand:
    sym1 = LPS(ctx15, Qe=0x5601): A=0x29FF<Qe → C+=Qe, switch, 2 renorms
      → A=0xA7FC, C=0x15804, CT=10
    sym2 = MPS(ctx3): A=0x51FB<Qe → exchange A=Qe, 1 renorm
      → A=0xAC02, C=0x2B008, CT=9
    FLUSH: C|=0xFFFF=0x2FFFF < C+A=0x35C0A; <<9=0x5FFFE00 → byte 0xBF;
    second byte 0xFF is the discardable terminal FF."""
    enc = MQEncoder()
    enc.encode(1, 15)
    assert (enc.a, enc.c, enc.ct) == (0xA7FC, 0x15804, 10)
    enc.encode(0, 3)
    assert (enc.a, enc.c, enc.ct) == (0xAC02, 0x2B008, 9)
    data = enc.flush()
    assert data == b"\xbf"
    dec = MQDecoder(data)
    assert (dec.decode(15), dec.decode(3)) == (1, 0)


def test_mq_roundtrip_stress():
    rng = np.random.default_rng(0)
    for _ in range(60):
        n = int(rng.integers(1, 3000))
        p = float(rng.choice([0.5, 0.05, 0.95, 0.01]))
        bits = (rng.random(n) < p).astype(int).tolist()
        ctxs = rng.integers(0, 19, n).tolist()
        enc = MQEncoder()
        for b, c in zip(bits, ctxs):
            enc.encode(int(b), int(c))
        dec = MQDecoder(enc.flush())
        assert [dec.decode(int(c)) for c in ctxs] == bits


def _dwt53_via_explicit_extension(x):
    """Independent 5/3 analysis: materialize the whole-sample symmetric
    extension and apply the T.800 F.4 lifting equations on absolute
    indices — a different code path from the module's boundary
    shortcuts."""
    n = len(x)
    if n == 1:
        return x.astype(np.int64), x[:0].astype(np.int64)
    ext = 4
    idx = []
    for i in range(-ext, n + ext):
        period = 2 * (n - 1)
        j = i % period
        if j < 0:
            j += period
        idx.append(j if j < n else period - j)
    xe = x.astype(np.int64)[idx]  # extended signal, offset +ext

    def X(i):
        return int(xe[i + ext])

    d = {}
    for i in range(-1, n // 2 + 1):  # odd (high-pass) samples
        if 2 * i + 1 < -ext or 2 * i + 2 > n + ext - 1:
            continue
        d[i] = X(2 * i + 1) - ((X(2 * i) + X(2 * i + 2)) >> 1)
    s = []
    for i in range((n + 1) // 2):  # even (low-pass) samples
        s.append(X(2 * i) + ((d[i - 1] + d.get(i, d[i - 1]) + 2) >> 2))
    dd = [d[i] for i in range(n // 2)]
    return np.array(s, np.int64), np.array(dd, np.int64)


def test_dwt53_matches_independent_form_and_inverts():
    rng = np.random.default_rng(1)
    for n in [1, 2, 3, 4, 5, 6, 7, 8, 9, 15, 16, 33, 100, 101]:
        x = rng.integers(-5000, 5000, n)
        s, d = _fwd53_1d(x)
        s2, d2 = _dwt53_via_explicit_extension(x)
        assert (s == s2).all() and (d == d2).all(), n
        assert (_inv53_1d(s, d, n) == x).all(), n


def test_tag_tree_duality():
    rng = np.random.default_rng(2)
    for w, h in [(1, 1), (3, 2), (4, 4), (7, 5), (16, 1)]:
        vals = rng.integers(0, 9, (h, w))
        enc_tree = _TagTree(w, h, encoder=True)
        for y in range(h):
            for x in range(w):
                enc_tree.set_value(x, y, int(vals[y, x]))
        enc_tree.finalize()
        bw = _HdrWriter()
        order = [(x, y) for y in range(h) for x in range(w)]
        for x, y in order:
            enc_tree.encode(bw, x, y, 1 << 20)  # fully resolve each leaf
        data = bw.flush()
        dec_tree = _TagTree(w, h, encoder=False)
        br = _HdrReader(data, 0)
        for x, y in order:
            t = 1
            while not dec_tree.decode(br, x, y, t):
                t += 1
            assert dec_tree.value(x, y) == vals[y, x], (w, h, x, y)


def test_jp2_roundtrip_matrix():
    rng = np.random.default_rng(2)
    yy, xx = np.mgrid[0:64, 0:64]
    hls = np.clip(
        2000 + 5000 * (xx / 63) + 800 * np.sin(xx / 13.0) * np.cos(yy / 7.0)
        + rng.normal(0, 150, (64, 64)),
        0,
        10000,
    ).astype(np.uint16)
    cases = {
        "gradient16": ((xx * 97 + yy * 31) % 10000).astype(np.uint16),
        "hls_like": hls,
        "flat": np.full((32, 32), 777),
        "zeros": np.zeros((16, 16), np.int64),
        "odd_dims": rng.integers(0, 4096, (37, 53)),
        "tiny": rng.integers(0, 100, (5, 3)),
        "signed": rng.integers(-1000, 1000, (24, 40)),
        "one_col": rng.integers(0, 1000, (17, 1)),
    }
    for name, img in cases.items():
        for levels in (0, 1, 3):
            for cblk in (16, 64):
                buf = jp2_encode(np.asarray(img), levels=levels, cblk=cblk)
                out = jp2_decode(buf)
                assert out.shape == np.asarray(img).shape, (name, levels, cblk)
                assert (out == img).all(), (name, levels, cblk)


def test_jp2_random_stress():
    rng = np.random.default_rng(3)
    for _ in range(10):
        h, w = int(rng.integers(1, 90)), int(rng.integers(1, 90))
        levels = int(rng.integers(0, 6))
        cblk = int(rng.choice([4, 8, 16, 32, 64]))
        img = rng.integers(0, 2 ** int(rng.integers(1, 15)), (h, w))
        out = jp2_decode(jp2_encode(img, levels=levels, cblk=cblk))
        assert (out == img).all(), (h, w, levels, cblk)


def test_jp2_structure_and_unsupported_styles():
    from instageo_e2e_geospatial_ml_spark.sources.images import parse_jp2_header

    img = (np.arange(35 * 29, dtype=np.uint16).reshape(35, 29) * 3) % 4000
    assert int(img.max()).bit_length() == 12
    buf = jp2_encode(img, levels=2)
    hdr = parse_jp2_header(buf)
    assert (hdr["w"], hdr["h"], hdr["n_components"]) == (29, 35, 1)
    assert hdr["bit_depth"] == 12 and not hdr["signed"]

    # all five progression orders are equivalent for 1 layer / 1 component
    # / default precincts (one packet per resolution) — CPRL must decode
    cod_at0 = buf.index(b"\xff\x52")
    for prog in (1, 2, 3, 4):
        bp = bytearray(buf)
        bp[cod_at0 + 5] = prog
        assert (jp2_decode(bytes(bp)) == img).all(), prog

    # flip the COD transform byte to 9/7 on a reversible-QCD stream →
    # descriptive error (9/7 requires expounded quantizer steps)
    cod_at = buf.index(b"\xff\x52")
    b97 = bytearray(buf)
    b97[cod_at + 13] = 0  # SPcod transform: 0 = irreversible 9/7
    with pytest.raises(NotImplementedError, match="9/7"):
        jp2_decode(bytes(b97))
    # MCT declared on a 1-component stream is inconsistent, not a decode
    bmct = bytearray(buf)
    bmct[cod_at + 8] = 1  # SGcod MCT byte
    with pytest.raises(ValueError, match="MCT"):
        jp2_decode(bytes(bmct))
    # the whole defined cstyle byte (0x3F) is implemented now; a byte
    # with reserved bits set is rejected descriptively
    bcs = bytearray(buf)
    bcs[cod_at + 12] = 0x40  # reserved bit
    with pytest.raises(ValueError, match="style"):
        jp2_decode(bytes(bcs))
    with pytest.raises(ValueError, match="SOC"):
        jp2_decode(b"\x00" * 16)


def test_header_bit_io_duality_and_align():
    """_HdrWriter/_HdrReader round-trip with FF stuffing: after align()
    the reader must land exactly on the first body byte, including when
    the header's final byte is 0xFF (the writer then appends a stuffing
    0x00 that align() must consume)."""
    rng = np.random.default_rng(5)
    for trial in range(300):
        n = int(rng.integers(1, 200))
        bits = (
            (rng.random(n) < 0.9).astype(int).tolist()
            if trial % 2
            else rng.integers(0, 2, n).tolist()
        )  # heavy-1 streams produce FF bytes often
        bw = _HdrWriter()
        for b in bits:
            bw.put(int(b))
        hdr = bw.flush()
        data = hdr + b"BODY"
        br = _HdrReader(data, 0)
        got = [br.get() for _ in bits]
        assert got == bits
        assert data[br.align() : br.align() + 4] == b"BODY", trial
    # deterministic FF-terminal case: 16 one-bits = FF + stuffed 7F + pad
    bw = _HdrWriter()
    for _ in range(16):
        bw.put(1)
    hdr = bw.flush()
    assert hdr[0] == 0xFF
    br = _HdrReader(hdr + b"X", 0)
    assert [br.get() for _ in range(16)] == [1] * 16
    assert (hdr + b"X")[br.align()] == ord("X")


def test_jp2_precinct_partitions_roundtrip():
    """User-defined precincts (COD Scod bit 0): multiple packets per
    resolution with per-precinct tag trees must round-trip bit-exactly,
    and the resolution-major progressions stay equivalent."""
    rng = np.random.default_rng(9)
    img = rng.integers(0, 4096, (70, 90))
    cases = [
        (2, 16, [(5, 5), (6, 5), (6, 6)]),
        (3, 8, [(4, 4), (5, 5), (5, 6), (7, 7)]),
        (1, 32, [(6, 4), (7, 5)]),
    ]
    for levels, cblk, pps in cases:
        buf = jp2_encode(img, levels=levels, cblk=cblk, precincts=pps)
        assert (jp2_decode(buf) == img).all(), (levels, cblk, pps)
        # RLCP/RPCL == LRCP for 1 layer / 1 component
        cod_at = buf.index(b"\xff\x52")
        for prog in (1, 2):
            bp = bytearray(buf)
            bp[cod_at + 5] = prog
            assert (jp2_decode(bytes(bp)) == img).all(), prog
        # position-major (CPRL — the real-S2 shape): a CPRL-encoded
        # stream must round-trip, and its packet ordering genuinely
        # differs from LRCP's (different bytes, same pixels)
        cbuf = jp2_encode(img, levels=levels, cblk=cblk, precincts=pps,
                          progression=4)
        assert (jp2_decode(cbuf) == img).all(), (levels, cblk, pps)
        assert cbuf != buf and len(cbuf) == len(buf)
        pbuf = jp2_encode(img, levels=levels, cblk=cblk, precincts=pps,
                          progression=3)  # PCRL == CPRL for 1 component
        assert pbuf[: pbuf.index(b"\xff\x93")] != cbuf[: cbuf.index(b"\xff\x93")]
        assert (jp2_decode(pbuf) == img).all()
    # precinct validation
    with pytest.raises(ValueError, match="levels \\+ 1"):
        jp2_encode(img, levels=2, precincts=[(5, 5)])
    with pytest.raises(ValueError, match=">= 1"):
        jp2_encode(img, levels=1, precincts=[(5, 5), (0, 5)])


def test_tier1_reference_and_native_parity():
    """The two tier-1 implementations are bit-exact twins: the reference
    (_T1 scan loops) and the compiled kernel (jp2_t1.c). The encoders
    must produce IDENTICAL bytes; the decoders must produce identical
    coefficients, truncated streams included."""
    from instageo_e2e_geospatial_ml_spark import jp2, jp2_native

    if not jp2_native.available():
        pytest.skip("native tier-1 kernel unavailable (no C compiler)")
    rng = np.random.default_rng(7)
    for trial in range(16):
        h, w = (int(v) for v in rng.integers(1, 70, 2))
        band = ["LL", "HL", "LH", "HH"][trial % 4]
        coefs = rng.integers(-4000, 4001, (h, w)).astype(np.int64)
        coefs[rng.random((h, w)) < 0.4] = 0
        data, npass, npl = jp2.tier1_encode(coefs, band)
        assert jp2_native.tier1_encode_c(coefs, band) == (data, npass, npl)
        cdec = jp2_native.tier1_decode_c(data, h, w, band, npl, npass)
        assert np.array_equal(cdec, coefs), (trial, h, w, band)
        # truncation (the quality-layer/error-resilience path): every
        # prefix pass count must agree with the reference decoder
        for cut in [0, 1, npass // 2, max(0, npass - 1), npass]:
            ref = jp2.tier1_decode(data, h, w, band, npl, cut)
            assert np.array_equal(
                jp2_native.tier1_decode_c(data, h, w, band, npl, cut), ref
            ), (trial, cut)


def test_tier1_dispatch_falls_back_to_reference(monkeypatch):
    """Without the native kernel, jp2_decode's tier-1 dispatch runs the
    reference decoder and returns the same image as the native path."""
    from instageo_e2e_geospatial_ml_spark import jp2, jp2_native

    rng = np.random.default_rng(23)
    img53 = rng.integers(0, 4096, (13, 11)).astype(np.int64)
    img97 = rng.integers(0, 256, (24, 19)).astype(np.int64)
    bufs = [
        jp2_encode(img53, levels=2, cblk=4),
        jp2_encode(
            img97, levels=2, cblk=8, irreversible=True, quant_step=0.5,
            layers=3, progression=2,
        ),
    ]
    native = [jp2_decode(b) for b in bufs]

    calls = []
    reference = jp2.tier1_decode

    def spy(*args):
        calls.append(args)
        return reference(*args)

    def no_kernel(*args):
        raise AssertionError("native kernel used while unavailable")

    monkeypatch.setattr(jp2_native, "available", lambda: False)
    monkeypatch.setattr(jp2_native, "tier1_decode_c", no_kernel)
    monkeypatch.setattr(jp2, "tier1_decode", spy)
    for buf, want in zip(bufs, native):
        calls.clear()
        got = jp2_decode(buf)
        assert calls, "reference tier-1 decoder never ran"
        np.testing.assert_array_equal(got, want)
    assert (jp2_decode(bufs[0]) == img53).all()


def test_native_kernel_builds_here():
    """Supported hosts have a C compiler, so the native kernel must be
    the active dispatch path (hosts without one fall back silently to the
    reference — test_tier1_dispatch_falls_back_to_reference)."""
    from instageo_e2e_geospatial_ml_spark import jp2_native

    assert jp2_native.available()



def test_jp2_multicomponent_and_97():
    """Round 5 generality: multi-component (independent coding, no MCT)
    and the irreversible 9/7 path (Annex F lifting + Annex E scalar
    expounded quantization, midpoint dequantization)."""
    rng = np.random.default_rng(11)
    # multi-component reversible: bit-exact, shape (h, w, C)
    rgb = rng.integers(0, 256, (40, 33, 3)).astype(np.int64)
    for prog in range(5):
        buf = jp2_encode(rgb, levels=2, progression=prog)
        out = jp2_decode(buf)
        assert out.shape == (40, 33, 3) and (out == rgb).all(), prog
    # component count in SIZ
    from instageo_e2e_geospatial_ml_spark.sources.images import parse_jp2_header

    assert parse_jp2_header(jp2_encode(rgb, levels=2))["n_components"] == 3

    # 9/7 grayscale: error bounded by the quantizer step, PSNR >= 40 dB,
    # and genuinely smaller than lossless on smooth content
    y, x = np.mgrid[0:64, 0:64]
    nat = (np.sin(x / 9) * 800 + np.cos(y / 11) * 700 + 2100).astype(np.int64)
    b97 = jp2_encode(nat, irreversible=True, quant_step=1.0)
    o97 = jp2_decode(b97)
    mse = float(((o97 - nat) ** 2).mean())
    psnr = 10 * np.log10(4095**2 / max(mse, 1e-12))
    assert psnr > 40
    assert len(b97) < len(jp2_encode(nat))
    # coarser step → smaller stream, still decodes in range
    b_coarse = jp2_encode(nat, irreversible=True, quant_step=16.0)
    assert len(b_coarse) < len(b97)
    assert abs(int(jp2_decode(b_coarse).max()) - int(nat.max())) < 64

    # 9/7 multi-component with precincts, all progressions
    rgbn = np.stack([(nat + i * 7) % 4096 for i in range(3)], axis=2)
    for prog in range(5):
        b = jp2_encode(
            rgbn, levels=2, irreversible=True, quant_step=2.0,
            precincts=[(5, 5), (5, 5), (6, 6)], progression=prog,
        )
        o = jp2_decode(b)
        m = float(((o - rgbn) ** 2).mean())
        assert 10 * np.log10(4095**2 / max(m, 1e-12)) > 40, prog

    # signed input through the 9/7 path round-trips within tolerance
    sg = (nat - 2100).astype(np.int64)
    os_ = jp2_decode(jp2_encode(sg, irreversible=True, quant_step=1.0))
    assert np.abs(os_ - sg).max() <= 2


def test_jp2_multi_tile_roundtrips():
    # tile grids: each tile is an independent DWT; whole-image bit-exact
    # round-trip implies tile-boundary pixels are exact
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(5)

    # ragged 2x2 grid (edge tiles 42x27 wide/tall)
    img = rng.integers(0, 4096, (67, 90)).astype(np.int64)
    buf = jp2_encode(img, levels=3, cblk=32, tile=(48, 40))
    np.testing.assert_array_equal(jp2_decode(buf), img)

    # multi-component 3x2 grid
    img3 = rng.integers(0, 256, (50, 70, 3)).astype(np.int64)
    buf3 = jp2_encode(img3, levels=2, cblk=32, tile=(32, 24))
    np.testing.assert_array_equal(jp2_decode(buf3), img3)

    # irreversible 9/7 across tiles: error bounded by the quant step
    img4 = rng.integers(0, 1024, (60, 60)).astype(np.int64)
    buf4 = jp2_encode(img4, levels=2, irreversible=True, quant_step=1.0, tile=(32, 32))
    assert np.abs(jp2_decode(buf4) - img4).max() <= 4

    # tiles x precincts x all five progression orders
    img2 = rng.integers(0, 1024, (64, 64)).astype(np.int64)
    for prog in range(5):
        b = jp2_encode(
            img2, levels=2, cblk=16, tile=(32, 32), progression=prog,
            precincts=[(3, 3), (4, 4), (4, 4)],
        )
        np.testing.assert_array_equal(jp2_decode(b), img2)

    # 1-px tail tiles (tile dim not dividing, remainder 1)
    img5 = rng.integers(0, 512, (33, 33)).astype(np.int64)
    b5 = jp2_encode(img5, levels=2, cblk=16, tile=(32, 32))
    np.testing.assert_array_equal(jp2_decode(b5), img5)


def test_jp2_53_rows_parity_with_scalar_reference():
    # the numpy-batched 5/3 lifting must match the scalar reference
    # (_fwd53_1d, itself pinned against an independent direct form)
    from instageo_e2e_geospatial_ml_spark.jp2 import (
        _fwd53_1d,
        _fwd53_rows,
        _inv53_rows,
    )

    rng = np.random.default_rng(0)
    for n in (1, 2, 3, 4, 5, 7, 8, 16, 33, 100):
        a = rng.integers(-5000, 5000, (7, n)).astype(np.int64)
        s_v, d_v = _fwd53_rows(a)
        for y in range(7):
            s1, d1 = _fwd53_1d(a[y])
            np.testing.assert_array_equal(s1, s_v[y])
            np.testing.assert_array_equal(d1, d_v[y])
        np.testing.assert_array_equal(_inv53_rows(s_v, d_v, n), a)


def test_jp2_mct_and_multilayer():
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(8)
    img = rng.integers(0, 4096, (67, 90)).astype(np.int64)
    rgb = rng.integers(0, 256, (50, 66, 3)).astype(np.int64)

    # RCT (reversible MCT): bit-exact, incl. tiles and signed input
    np.testing.assert_array_equal(
        jp2_decode(jp2_encode(rgb, levels=3, cblk=32, mct=True)), rgb
    )
    s = rng.integers(-128, 128, (40, 40, 3)).astype(np.int64)
    np.testing.assert_array_equal(jp2_decode(jp2_encode(s, levels=2, mct=True)), s)

    # ICT (irreversible MCT): bounded error
    b = jp2_encode(rgb, levels=2, irreversible=True, quant_step=1.0, mct=True)
    assert np.abs(jp2_decode(b) - rgb).max() <= 8

    # multi-layer: decoding all layers == single-layer reconstruction
    for L in (2, 3, 8):
        np.testing.assert_array_equal(
            jp2_decode(jp2_encode(img, levels=3, cblk=32, layers=L)), img
        )
    # layers interleave differently under each progression order
    for prog in range(5):
        np.testing.assert_array_equal(
            jp2_decode(jp2_encode(img, levels=2, cblk=16, layers=3, progression=prog)),
            img,
        )
    # the full Cartesian stress: layers x precincts x tiles x MCT x RPCL
    b = jp2_encode(
        rgb, levels=2, cblk=16, layers=4, tile=(32, 32),
        precincts=[(3, 3), (4, 4), (4, 4)], mct=True, progression=2,
    )
    np.testing.assert_array_equal(jp2_decode(b), rgb)
    # more layers than any block has passes (some layers get 0-pass,
    # 0-byte contributions; late first-inclusion thresholds)
    flat = np.full((40, 40), 7, np.int64)
    flat[20:, :] = 900
    np.testing.assert_array_equal(
        jp2_decode(jp2_encode(flat, levels=2, cblk=16, layers=12)), flat
    )


def test_jp2_derived_qcd_and_qcc_overrides():
    import struct

    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(4)
    img = rng.integers(0, 1024, (60, 60)).astype(np.int64)
    rgb = rng.integers(0, 256, (50, 66, 3)).astype(np.int64)

    # scalar-derived QCD (style 1): single (eps, mu), bands expanded by
    # the E.1.1 rule — error scales with the (coarser) derived fine-band
    # steps; a derivation-rule mismatch between encoder and decoder would
    # desynchronize mb/zbp and corrupt output by orders of magnitude
    for qs, bound in ((1.0, 32), (0.25, 8)):
        b = jp2_encode(
            img, levels=3, irreversible=True, quant_step=qs, quant_style="derived"
        )
        assert np.abs(jp2_decode(b) - img).max() <= bound
    qat = b.index(b"\xff\x5c")
    ln, s = struct.unpack(">HB", b[qat + 2 : qat + 5])
    assert (s & 0x1F) == 1 and ln == 5  # style 1, single 16-bit SPqcd

    # QCC: per-component steps (coarse chroma under MCT) emit overrides
    b = jp2_encode(
        rgb, levels=2, irreversible=True, mct=True, quant_step=[0.5, 2.0, 2.0]
    )
    assert b"\xff\x5d" in b
    assert np.abs(jp2_decode(b) - rgb).max() <= 24
    # equal steps -> no QCC markers
    assert b"\xff\x5d" not in jp2_encode(
        rgb, levels=2, irreversible=True, quant_step=[1.0, 1.0, 1.0]
    )
    # the stack composes: derived + QCC + layers + tiles
    b3 = jp2_encode(
        rgb, levels=2, irreversible=True, quant_step=[0.25, 0.75, 0.75],
        quant_style="derived", layers=3, tile=(32, 32),
    )
    assert b"\xff\x5d" in b3
    assert np.abs(jp2_decode(b3) - rgb).max() <= 16


def test_jp2_sop_eph_and_rect_codeblocks():
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(6)
    img = rng.integers(0, 4096, (67, 90)).astype(np.int64)

    # SOP resync + EPH header-end markers (Scod bits 1/2 — the Kakadu/
    # openjpeg error-resilience shape): present in the stream, decode
    # bit-exact, and compose with layers/tiles/precincts/PCRL
    b = jp2_encode(img, levels=3, cblk=32, sop=True, eph=True)
    assert b"\xff\x91" in b and b"\xff\x92" in b
    np.testing.assert_array_equal(jp2_decode(b), img)
    b = jp2_encode(
        img, levels=2, cblk=16, sop=True, eph=True, layers=3,
        tile=(48, 40), precincts=[(3, 3), (4, 4), (4, 4)], progression=3,
    )
    np.testing.assert_array_equal(jp2_decode(b), img)

    # rectangular code-blocks (xcb != ycb), incl. the extreme 1024x4
    for cb in ((64, 16), (8, 32), (1024, 4)):
        np.testing.assert_array_equal(jp2_decode(jp2_encode(img, levels=3, cblk=cb)), img)
    with pytest.raises(ValueError, match="4096"):
        jp2_encode(img, cblk=(1024, 8))


def test_jp2_termall_and_bypass_coder_styles():
    from instageo_e2e_geospatial_ml_spark.jp2 import (
        jp2_decode,
        jp2_encode,
        tier1_decode_segmented,
        tier1_encode_segmented,
    )

    rng = np.random.default_rng(7)

    # tier-1 layer: segmented round-trips across block shapes and depths
    for trial in range(20):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        depth = int(rng.integers(1, 14))
        coefs = rng.integers(-(1 << depth), 1 << depth, (h, w))
        band = str(rng.choice(["LL", "HL", "LH", "HH"]))
        for termall, bypass in ((True, False), (False, True), (True, True)):
            segs, npass, npl = tier1_encode_segmented(coefs, band, termall, bypass)
            out = tier1_decode_segmented(segs, h, w, band, npl, npass, bypass)
            np.testing.assert_array_equal(out, coefs)

    # full codestreams: every style bit combination decodes bit-exact
    img = rng.integers(0, 4096, (67, 90)).astype(np.int64)
    for termall, bypass in ((True, False), (False, True), (True, True)):
        b = jp2_encode(img, levels=3, cblk=32, termall=termall, bypass=bypass)
        np.testing.assert_array_equal(jp2_decode(b), img)

    # deep bitplanes actually exercise raw (bypass) passes (idx >= 10)
    deep = rng.integers(-(1 << 13), 1 << 13, (64, 64)).astype(np.int64)
    np.testing.assert_array_equal(
        jp2_decode(jp2_encode(deep, levels=2, cblk=64, bypass=True)), deep
    )

    # the whole stack composes: modes x layers (segment-snapped) x tiles
    # x precincts x SOP/EPH x MCT x CPRL
    rgb = rng.integers(0, 256, (50, 66, 3)).astype(np.int64)
    b = jp2_encode(
        rgb, levels=2, cblk=16, termall=True, bypass=True, layers=4,
        tile=(32, 32), precincts=[(3, 3), (4, 4), (4, 4)], mct=True,
        sop=True, eph=True, progression=4,
    )
    np.testing.assert_array_equal(jp2_decode(b), rgb)

    # irreversible + modes: bounded error
    b = jp2_encode(
        img, levels=2, irreversible=True, quant_step=0.5, termall=True, bypass=True
    )
    assert np.abs(jp2_decode(b) - img).max() <= 4


def test_jp2_decoder_robust_to_corruption():
    # a 100 TB crawl WILL contain truncated/corrupted payloads: the
    # decoder must fail fast (clean exception) or return an array —
    # never hang. Deterministic corruption sweep over a real stream.
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(13)
    img = rng.integers(0, 4096, (40, 40)).astype(np.int64)
    buf = bytearray(jp2_encode(img, levels=2, cblk=16, layers=2))
    outcomes = {"ok": 0, "err": 0}
    for trial in range(40):
        b = bytearray(buf)
        kind = trial % 3
        if kind == 0:  # truncate
            b = b[: int(rng.integers(4, len(b)))]
        elif kind == 1:  # flip a byte
            i = int(rng.integers(2, len(b) - 2))
            b[i] ^= int(rng.integers(1, 256))
        else:  # splice garbage
            i = int(rng.integers(2, len(b) - 8))
            b[i : i + 4] = rng.integers(0, 256, 4, dtype=np.uint8).tobytes()
        try:
            out = jp2_decode(bytes(b))
            assert isinstance(out, np.ndarray)
            outcomes["ok"] += 1
        except (ValueError, NotImplementedError, IndexError, KeyError, struct.error):
            outcomes["err"] += 1
    assert outcomes["ok"] + outcomes["err"] == 40


def test_jp2_subsampled_components():
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(3)
    h, w = 51, 67
    y = rng.integers(0, 256, (h, w)).astype(np.int64)
    cb = rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2)).astype(np.int64)
    cr = rng.integers(0, 256, ((h + 1) // 2, (w + 1) // 2)).astype(np.int64)
    up = np.repeat(np.repeat(cb, 2, 0), 2, 1)[:h, :w]

    # 4:2:0, odd dims: luma bit-exact, chroma bit-exact at its own
    # resolution (output replicates to the reference grid)
    buf = jp2_encode([y, cb, cr], levels=3, cblk=32, subsampling=[(1, 1), (2, 2), (2, 2)])
    out = jp2_decode(buf)
    assert out.shape == (h, w, 3)
    np.testing.assert_array_equal(out[..., 0], y)
    np.testing.assert_array_equal(out[..., 1], up)

    # 4:2:2 + layers + RLCP (the allowed progressions for mixed grids)
    cb2 = rng.integers(0, 256, (h, (w + 1) // 2)).astype(np.int64)
    cr2 = rng.integers(0, 256, (h, (w + 1) // 2)).astype(np.int64)
    out = jp2_decode(
        jp2_encode(
            [y, cb2, cr2], levels=2, cblk=16,
            subsampling=[(1, 1), (2, 1), (2, 1)], layers=3, progression=1,
        )
    )
    np.testing.assert_array_equal(out[..., 0], y)
    np.testing.assert_array_equal(out[..., 1], np.repeat(cb2, 2, 1)[:, :w])

    # subsampled x multi-tile (ceil-div tile boxes per component grid)
    out = jp2_decode(
        jp2_encode(
            [y, cb, cr], levels=2, cblk=16,
            subsampling=[(1, 1), (2, 2), (2, 2)], tile=(32, 32),
        )
    )
    np.testing.assert_array_equal(out[..., 0], y)
    np.testing.assert_array_equal(out[..., 1], up)

    # irreversible subsampled: bounded error on the full-res component
    out = jp2_decode(
        jp2_encode(
            [y, cb, cr], levels=2, irreversible=True, quant_step=0.5,
            subsampling=[(1, 1), (2, 2), (2, 2)],
        )
    )
    assert np.abs(out[..., 0] - y).max() <= 4

    # position-major progressions over MIXED grids (round 7): each
    # component tests span alignment against its own subsampled precinct
    # lattice; candidate positions are the union of the lattices — incl.
    # a non-power-of-two Rsiz where spans are not mutually nested
    for prog in (2, 3, 4):
        got = jp2_decode(
            jp2_encode(
                [y, cb, cr], levels=2, subsampling=[(1, 1), (2, 2), (2, 2)],
                progression=prog, precincts=[(4, 4), (4, 4), (5, 5)], cblk=16,
            )
        )
        np.testing.assert_array_equal(got[:, :, 0], y, err_msg=f"prog={prog}")
    y3 = (y[:24, :27] if y.shape >= (24, 27) else y).astype(np.int64)
    c3 = rng.integers(0, 255, (-(-y3.shape[0] // 3), -(-y3.shape[1] // 3)))
    got = jp2_decode(
        jp2_encode([y3, c3], levels=1, subsampling=[(1, 1), (3, 3)], progression=3)
    )
    np.testing.assert_array_equal(got[:, :, 0], y3)


def test_jp2_remaining_cstyle_flags():
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(11)
    img = rng.integers(0, 4096, (67, 90)).astype(np.int64)

    # reset (per-pass context re-init), vertically-causal context
    # formation, and segmentation symbols — each alone and all together
    for kw in ({"reset": True}, {"causal": True}, {"segsym": True}):
        np.testing.assert_array_equal(
            jp2_decode(jp2_encode(img, levels=3, cblk=32, **kw)), img
        )
    b = jp2_encode(
        img, levels=2, cblk=16, termall=True, bypass=True, reset=True,
        causal=True, segsym=True, layers=3, tile=(48, 40), sop=True, eph=True,
    )
    np.testing.assert_array_equal(jp2_decode(b), img)

    # predictable-termination flag (0x10) is an encoder property; the
    # decoder accepts it (any terminated segment decodes identically)
    b = jp2_encode(img, levels=2, cblk=16, termall=True)
    bb = bytearray(b)
    bb[b.index(b"\xff\x52") + 12] |= 0x10
    np.testing.assert_array_equal(jp2_decode(bytes(bb)), img)

    # segsym is an error-detection feature: body corruption must raise
    # for (nearly) every flipped byte instead of decoding silently wrong
    b = jp2_encode(img, levels=2, cblk=64, segsym=True)
    hits = 0
    for i in range(len(b) // 2, len(b) // 2 + 30):
        bb = bytearray(b)
        bb[i] ^= 0x55
        try:
            jp2_decode(bytes(bb))
        except Exception:
            hits += 1
    assert hits >= 25


def test_jp2_container_wrap():
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_wrap
    from instageo_e2e_geospatial_ml_spark.sources.images import parse_jp2_header

    rng = np.random.default_rng(2)
    img = rng.integers(0, 4096, (35, 29)).astype(np.int64)
    wrapped = jp2_wrap(jp2_encode(img, levels=2))
    # standard signature box, header boxes agree with SIZ, round-trips
    assert wrapped[:12] == b"\x00\x00\x00\x0cjP  \x0d\x0a\x87\x0a"
    hdr = parse_jp2_header(wrapped)
    assert (hdr["w"], hdr["h"], hdr["n_components"], hdr["bit_depth"]) == (29, 35, 1, 12)
    np.testing.assert_array_equal(jp2_decode(wrapped), img)
    rgb = rng.integers(0, 256, (20, 22, 3)).astype(np.int64)
    np.testing.assert_array_equal(
        jp2_decode(jp2_wrap(jp2_encode(rgb, levels=1, mct=True))), rgb
    )
    with pytest.raises(ValueError, match="raw codestream"):
        jp2_wrap(wrapped)


def test_jp2_nonzero_offsets_roundtrip_matrix():
    """VERDICT r6 #6: nonzero XOsiz/YOsiz/XTOsiz/YTOsiz. Offsets change
    sub-band sizes, precinct/code-block anchoring, and DWT lifting
    parity (odd origins start on a high-pass position) — the matrix
    covers odd and even origins, multi-tile with an unaligned tile
    grid, precincts + layers + SOP/EPH, termall/bypass, MCT RGB, and
    all five progression orders, every case bit-exact."""
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(61)
    img = rng.integers(0, 4096, (37, 53)).astype(np.int64)

    # image offsets alone: even/even, odd/odd, mixed parities
    for off in ((2, 4), (5, 3), (1, 0), (0, 7), (255, 254)):
        buf = jp2_encode(img, levels=3, image_offset=off)
        np.testing.assert_array_equal(jp2_decode(buf), img, err_msg=str(off))

    # offsets + multi-tile: tile grid anchored below the image origin
    for tile_off, tile in (((0, 0), (16, 16)), ((3, 1), (16, 8)), ((5, 3), (13, 11))):
        buf = jp2_encode(
            img, levels=2, tile=tile, image_offset=(5, 3), tile_offset=tile_off
        )
        np.testing.assert_array_equal(
            jp2_decode(buf), img, err_msg=f"tile_off={tile_off} tile={tile}"
        )

    # offsets + precincts + layers + SOP/EPH + termall/bypass
    buf = jp2_encode(
        img, levels=2, cblk=16, precincts=[(5, 5), (5, 5), (6, 6)],
        layers=3, sop=True, eph=True, image_offset=(7, 9),
    )
    np.testing.assert_array_equal(jp2_decode(buf), img)
    buf = jp2_encode(
        img, levels=2, cblk=16, termall=True, bypass=True, image_offset=(3, 5)
    )
    np.testing.assert_array_equal(jp2_decode(buf), img)

    # offsets + MCT RGB
    rgb = rng.integers(0, 256, (21, 19, 3)).astype(np.int64)
    buf = jp2_encode(rgb, levels=2, mct=True, image_offset=(5, 2))
    np.testing.assert_array_equal(jp2_decode(buf), rgb)

    # offsets + every progression order (incl. position-major with the
    # tile-edge emission clause), with precincts so RPCL/PCRL/CPRL walk
    # multiple unaligned precincts
    for prog in range(5):
        buf = jp2_encode(
            img, levels=2, cblk=16, precincts=[(4, 4), (4, 4), (5, 5)],
            progression=prog, image_offset=(5, 3), tile=(24, 16),
            tile_offset=(1, 1),
        )
        np.testing.assert_array_equal(jp2_decode(buf), img, err_msg=f"prog={prog}")


def test_jp2_offsets_subsampled_and_irreversible():
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(67)
    # subsampled components with offsets: plane shapes follow the
    # offset-aware ceil boxes
    xo, yo = 5, 3
    h, w = 30, 26
    xs, ys = xo + w, yo + h
    y_plane = rng.integers(0, 1024, (h, w)).astype(np.int64)
    shp2 = (-(-ys // 2) - (-(-yo // 2)), -(-xs // 2) - (-(-xo // 2)))
    cb = rng.integers(0, 1024, shp2).astype(np.int64)
    cr = rng.integers(0, 1024, shp2).astype(np.int64)
    buf = jp2_encode(
        [y_plane, cb, cr], levels=2, subsampling=[(1, 1), (2, 2), (2, 2)],
        image_offset=(xo, yo),
    )
    out = jp2_decode(buf)
    assert out.shape == (h, w, 3)
    np.testing.assert_array_equal(out[:, :, 0], y_plane)

    # irreversible 9/7 with odd offsets: bounded by the quantizer step
    img = rng.integers(0, 4096, (33, 41)).astype(np.int64)
    buf = jp2_encode(img, levels=3, irreversible=True, quant_step=1.0,
                     image_offset=(3, 7))
    out = jp2_decode(buf)
    assert out.shape == img.shape
    assert np.abs(out - img).max() <= 12  # same bound as the zero-offset test


def test_jp2_offset_parity_dwt_vs_scalar_reference():
    """The parity-aware lifting vs an INDEPENDENT scalar implementation
    of T.800 F.3 written directly from the spec formulas (absolute-index
    2n/2n+1 lifting with whole-sample symmetric extension) — catches a
    paired encoder/decoder parity bug that a round-trip cannot."""
    from instageo_e2e_geospatial_ml_spark.jp2 import (
        _fwd53_rows_p,
        _inv53_rows_p,
    )

    def scalar_fwd53(x, u0):
        # direct T.800 F.2/F.3 with virtual absolute indexing
        n = len(x)
        u1 = u0 + n

        def X(i):  # symmetric extension about u0 and u1-1
            if n == 1:
                return x[0]
            period = 2 * (n - 1)
            j = (i - u0) % period
            if j < 0:
                j += period
            return x[j] if j < n else x[period - j]

        lo = []
        hi = []
        d = {}
        for m in range(u0 // 2 - 2, (u1 + 1) // 2 + 2):  # odd abs 2m+1
            pos = 2 * m + 1
            d[pos] = X(pos) - ((X(pos - 1) + X(pos + 1)) >> 1)

        def D(i):  # extension on the d lattice
            if i in d:
                return d[i]
            period = 2 * (n - 1) if n > 1 else 1
            j = (i - u0) % period
            if j < 0:
                j += period
            abs_i = u0 + (j if j < n else period - j)
            return d[abs_i]

        for i in range(u0, u1):
            if i % 2 == 0:
                lo.append(X(i) + ((D(i - 1) + D(i + 1) + 2) >> 2))
            else:
                hi.append(d[i])
        if n == 1 and u0 % 2 == 1:
            return [], [2 * x[0]]
        if n == 1:
            return [x[0]], []
        return lo, hi

    rng = np.random.default_rng(71)
    for n in (1, 2, 3, 5, 8, 13, 21):
        for u0 in (0, 1, 2, 3, 6, 7):
            x = rng.integers(-500, 500, n).astype(np.int64)
            lo_ref, hi_ref = scalar_fwd53(list(map(int, x)), u0)
            s, dv = _fwd53_rows_p(x[None, :], u0 & 1)
            assert list(s[0]) == lo_ref, (n, u0)
            assert list(dv[0]) == hi_ref, (n, u0)
            back = _inv53_rows_p(s, dv, n, u0 & 1)
            np.testing.assert_array_equal(back[0], x, err_msg=f"{n},{u0}")


def test_jp2_offset_validation_and_wrap():
    import struct

    from instageo_e2e_geospatial_ml_spark.jp2 import (
        jp2_decode,
        jp2_encode,
        jp2_wrap,
    )

    rng = np.random.default_rng(73)
    img = rng.integers(0, 256, (10, 12)).astype(np.int64)
    # encoder rejects XTOsiz > XOsiz
    with pytest.raises(ValueError, match="XTOsiz"):
        jp2_encode(img, image_offset=(2, 2), tile_offset=(3, 0), tile=(8, 8))
    # decoder rejects a SIZ violating the constraint
    buf = bytearray(jp2_encode(img, image_offset=(2, 2), tile=(8, 8)))
    at = buf.index(b"\xff\x51")
    struct.pack_into(">I", buf, at + 4 + 26, 9)  # XTOsiz = 9 > XOsiz = 2
    with pytest.raises(ValueError, match="XTOsiz"):
        jp2_decode(bytes(buf))
    # jp2 container ihdr carries image-AREA dims, not the grid extent
    wrapped = jp2_wrap(jp2_encode(img, image_offset=(5, 3)))
    ih = wrapped.index(b"ihdr")
    hh, ww = struct.unpack(">II", wrapped[ih + 4 : ih + 12])
    assert (hh, ww) == (10, 12)
    np.testing.assert_array_equal(jp2_decode(wrapped), img)


def test_jp2_openjpeg_interop_if_available(tmp_path):
    """ADVICE r6: self-round-trip cannot catch paired encoder/decoder
    bugs. This container ships no JP2 implementation, so this interop
    test SKIPS here — but on any machine with OpenJPEG installed it
    decodes our layer/termall/derived-QCD/offset codestreams with
    opj_decompress and requires bit-exact pixels. The scalar-reference
    DWT test above plus the hand-traced MQ vectors are the in-container
    substitute."""
    import shutil
    import subprocess

    opj = shutil.which("opj_decompress")
    if opj is None:
        pytest.skip("OpenJPEG not installed in this container")

    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_encode, jp2_wrap

    rng = np.random.default_rng(79)
    img = rng.integers(0, 256, (40, 56)).astype(np.int64)
    cases = {
        "layers": dict(levels=2, layers=3, cblk=16),
        "termall_bypass": dict(levels=2, termall=True, bypass=True),
        "derived_qcd": dict(levels=2, irreversible=True, quant_step=1.0,
                            quant_style="derived"),
        "sop_eph": dict(levels=2, sop=True, eph=True,
                        precincts=[(5, 5), (5, 5), (6, 6)]),
        "offsets": dict(levels=2, image_offset=(5, 3), tile=(24, 16),
                        tile_offset=(1, 1)),
    }
    for name, kw in cases.items():
        jp2 = tmp_path / f"{name}.jp2"
        out = tmp_path / f"{name}.pgm"
        jp2.write_bytes(jp2_wrap(jp2_encode(img, **kw)))
        subprocess.run([opj, "-i", str(jp2), "-o", str(out)], check=True,
                       capture_output=True)
        data = out.read_bytes()
        # minimal PGM parse
        parts = data.split(maxsplit=4)
        assert parts[0] == b"P5"
        w_, h_, maxv = int(parts[1]), int(parts[2]), int(parts[3])
        px = np.frombuffer(parts[4][: w_ * h_], np.uint8).reshape(h_, w_)
        if name == "derived_qcd":
            assert np.abs(px.astype(int) - img).max() <= 12, name
        else:
            np.testing.assert_array_equal(px, img, err_msg=name)


def test_jp2_offsets_mixed_grids_position_major_composition():
    """The full composition: nonzero image offset + subsampled
    components + position-major progressions — every geometry feature
    at once, bit-exact on the full-resolution plane."""
    from instageo_e2e_geospatial_ml_spark.jp2 import jp2_decode, jp2_encode

    rng = np.random.default_rng(89)
    xo, yo = 5, 3
    h, w = 30, 26
    xs, ys = xo + w, yo + h
    y = rng.integers(0, 1024, (h, w)).astype(np.int64)
    shp2 = (-(-ys // 2) - (-(-yo // 2)), -(-xs // 2) - (-(-xo // 2)))
    cb = rng.integers(0, 1024, shp2).astype(np.int64)
    cr = rng.integers(0, 1024, shp2).astype(np.int64)
    for prog in (2, 3, 4):
        out = jp2_decode(
            jp2_encode(
                [y, cb, cr], levels=2, subsampling=[(1, 1), (2, 2), (2, 2)],
                progression=prog, image_offset=(xo, yo), cblk=16,
            )
        )
        np.testing.assert_array_equal(out[:, :, 0], y, err_msg=f"prog={prog}")
