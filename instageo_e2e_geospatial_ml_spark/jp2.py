"""JPEG-2000 Part-1 codec: single- or multi-tile, 5/3 reversible AND
9/7 irreversible, grayscale or multi-component.

Closes S5 (the reference reads Sentinel-2 band rasters as JP2 — one
grayscale codestream per band, `s2_utils.py:360-407`) and the real-world
shapes beyond it: a from-scratch ISO/IEC 15444-1 (ITU-T T.800)
implementation of SOC/SIZ/COD/QCD/SOT/SOD/EOC codestreams, tile grids
(ragged edge tiles; each tile DWT'd and coded independently, one
tile-part per tile on encode, concatenated tile-parts accepted on
decode), MULTIPLE quality layers (per-layer packets with inclusion
tag-tree thresholds, persistent lblock, second-inclusion signaling —
B.10.4-8; a block's chunks concatenate across layers before tier-1),
reversible 5/3 (lossless) or irreversible 9/7 with
Annex E scalar quantization in BOTH signalings — expounded (style 2,
per-band steps) and derived (style 1, single step expanded by the
E.1.1 rule) — plus per-component QCC overrides (lossy; RGB
thumbnails / S2 previews), 1..255 components (shared depth) WITH
XRsiz/YRsiz subsampling (per-component band/precinct grids, ceil-div
tile boxes, replicate-upsampled output; position-major progressions
step the union of every component's precinct lattice), the
Annex G multiple-component transforms (RCT with 5/3, ICT with 9/7),
MQ arithmetic coding with the ENTIRE defined code-block style byte —
termall (per-pass codeword termination), selective bypass (raw SPP/MRP
from the 5th bit-plane), context reset, vertically-causal context
formation, segmentation symbols (decode-validated 1010 per cleanup
pass), and the predictable-termination flag (accepted: termination
style does not affect decoding) — per-segment packet lengths, context
carry-over across segment restarts, layers snapped to segment
boundaries —
rectangular code-blocks (xcb != ycb), SOP
resync / EPH header-end markers (Scod bits 1/2), default OR
user-defined precinct partitions
(multiple packets per resolution, per-precinct tag trees), and ALL FIVE
progression orders with their component and layer interleavings
(B.12.1.2-5; PCRL/CPRL is what real S2 codestreams declare).
Nonzero image/tile offsets (XOsiz/YOsiz/XTOsiz/YTOsiz) are fully
supported: every partition (sub-bands, precincts, code-blocks, tiles)
anchors on absolute reference-grid coordinates and the DWT lifting is
origin-parity-aware (odd origins start on a high-pass position, T.800
B.5/F; validated against an independent scalar implementation of the
absolute-index lifting formulas).

  * jp2_encode(img, levels, cblk, irreversible, quant_step) -> bytes
  * jp2_decode(buf) -> np.ndarray   ((h, w) or (h, w, C); codestream or
    JP2 container)

Validation note: unlike the JPEG codec (validated against javax.imageio),
this container ships NO independent JPEG-2000 implementation — so tests pin (a) exhaustive encode→decode
bit-exact round-trips across sizes / level counts / block sizes / value
ranges, (b) the 5/3 lifting against an independently written direct-form
implementation inside the test, (c) the MQ coder against a hand-traced
spec example and its own statistical sanity, and (d) codestream structure
via parse_jp2_header. The encoder exists for tests and fixtures; the
decoder is the product surface (codecs.decode(..., 'jp2')).

Implemented from the public spec text: EBCOT tier-1 coding passes
(significance propagation / magnitude refinement / cleanup with the
run-length shortcut) with context tables D.1-D.3, tag trees (B.10.2),
packet headers (B.10), the MQ coder (Annex C — the 47-state Qe table
shared with JBIG2), and the Annex F lifting with whole-sample symmetric
extension.

Tier-1 ships in TWO bit-exact implementations: the readable reference
above (MQEncoder/MQDecoder/_T1 — source of truth) and a compiled kernel
(jp2_t1.c via jp2_native, two orders of magnitude faster, lazily built
with the system C compiler). jp2_encode/jp2_decode use the kernel when
it builds and fall back to the reference when no C compiler exists.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# MQ arithmetic coder (T.800 Annex C)
# ---------------------------------------------------------------------------

# (Qe, NMPS, NLPS, SWITCH)
_QE = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0), (0x0AC1, 4, 12, 0),
    (0x0521, 5, 29, 0), (0x0221, 38, 33, 0), (0x5601, 7, 6, 1), (0x5401, 8, 14, 0),
    (0x4801, 9, 14, 0), (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1), (0x5401, 16, 14, 0),
    (0x5101, 17, 15, 0), (0x4801, 18, 16, 0), (0x3801, 19, 17, 0), (0x3401, 20, 18, 0),
    (0x3001, 21, 19, 0), (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0), (0x1401, 28, 25, 0),
    (0x1201, 29, 26, 0), (0x1101, 30, 27, 0), (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0),
    (0x08A1, 33, 30, 0), (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0), (0x0085, 40, 37, 0),
    (0x0049, 41, 38, 0), (0x0025, 42, 39, 0), (0x0015, 43, 40, 0), (0x0009, 44, 41, 0),
    (0x0005, 45, 42, 0), (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]

N_CTX = 19
_CTX_UNI = 18
_CTX_RL = 17


def _init_states() -> list[list[int]]:
    st = [[0, 0] for _ in range(N_CTX)]  # [state index, MPS]
    st[0][0] = 4       # ZC all-zero context
    st[_CTX_RL][0] = 3
    st[_CTX_UNI][0] = 46
    return st


class MQEncoder:
    """Annex C encoder (C.10 flowcharts). `out[0]` is the BPST−1 dummy
    byte, dropped at flush. Pass `ctx` to continue another segment's
    context states across a codeword-segment termination (termall/
    bypass restart the MQ codeword but NOT the probability contexts)."""

    def __init__(self, ctx: list | None = None) -> None:
        self.ctx = _init_states() if ctx is None else ctx
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray(b"\x00")  # dummy byte at BPST-1

    def encode(self, d: int, cx: int) -> None:
        st = self.ctx[cx]
        qe, nmps, nlps, sw = _QE[st[0]]
        if d == st[1]:  # CODEMPS
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe  # conditional exchange
            else:
                self.c += qe
            st[0] = nmps
        else:  # CODELPS
            self.a -= qe
            if self.a < qe:
                self.c += qe  # conditional exchange
            else:
                self.a = qe
            if sw:
                st[1] ^= 1
            st[0] = nlps
        while True:  # RENORME
            self.a = (self.a << 1) & 0xFFFF
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def _byteout(self) -> None:
        # spec emits C>>20 / C>>19 unmasked: a pending carry rides the
        # emitted byte (the after-FF byte may legitimately exceed 0x7F)
        out = self.out
        if out[-1] == 0xFF:
            out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        elif self.c < 0x8000000:
            out.append((self.c >> 19) & 0xFF)
            self.c &= 0x7FFFF
            self.ct = 8
        else:
            out[-1] += 1  # propagate carry
            if out[-1] == 0xFF:
                self.c &= 0x7FFFFFF
                out.append((self.c >> 20) & 0xFF)
                self.c &= 0xFFFFF
                self.ct = 7
            else:
                out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8

    def flush(self) -> bytes:
        # SETBITS: fill the low 16 bits with ONES (exactly what a decoder
        # synthesizes past end-of-data), clamped back into [C, C+A)
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c <<= self.ct
        self._byteout()
        self.c <<= self.ct
        self._byteout()
        out = self.out
        if out and out[-1] == 0xFF:  # terminal FF is discardable
            out.pop()
        assert out[0] == 0, "carry into the pre-stream dummy byte"
        return bytes(out[1:])


class MQDecoder:
    """Annex C decoder; past end-of-data it synthesizes 0xFF bytes (the
    spec's marker-found path), so truncated-at-flush streams decode.
    Pass `ctx` to continue context states across segment restarts."""

    def __init__(self, data: bytes, ctx: list | None = None) -> None:
        self.ctx = _init_states() if ctx is None else ctx
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c <<= 7
        self.ct -= 7
        self.a = 0x8000

    def _cur(self) -> int:
        return self.data[self.bp] if self.bp < len(self.data) else 0xFF

    def _nxt(self) -> int:
        return self.data[self.bp + 1] if self.bp + 1 < len(self.data) else 0xFF

    def _bytein(self) -> None:
        if self._cur() == 0xFF:
            if self._nxt() > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp += 1
                self.c += self._cur() << 9
                self.ct = 7
        else:
            self.bp += 1
            self.c += self._cur() << 8
            self.ct = 8

    def decode(self, cx: int) -> int:
        st = self.ctx[cx]
        qe, nmps, nlps, sw = _QE[st[0]]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS exchange path (MPS/LPS decided by interval sizes)
            if self.a < qe:
                d = st[1]
                st[0] = nmps
            else:
                d = 1 - st[1]
                if sw:
                    st[1] ^= 1
                st[0] = nlps
            self.a = qe
        else:
            self.c -= qe << 16
            if self.a & 0x8000:
                return st[1]
            if self.a < qe:
                d = 1 - st[1]
                if sw:
                    st[1] ^= 1
                st[0] = nlps
            else:
                d = st[1]
                st[0] = nmps
        while True:  # RENORMD
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


# ---------------------------------------------------------------------------
# context tables (T.800 D.1-D.3)
# ---------------------------------------------------------------------------


def _zc_context(h: int, v: int, d: int, band: str) -> int:
    if band == "HL":  # transposed form of the LL/LH table
        h, v = v, h
    if band != "HH":
        if h == 2:
            return 8
        if h == 1:
            return 7 if v >= 1 else (6 if d >= 1 else 5)
        if v == 2:
            return 4
        if v == 1:
            return 3
        return 2 if d >= 2 else (1 if d == 1 else 0)
    hv = h + v
    if d >= 3:
        return 8
    if d == 2:
        return 7 if hv >= 1 else 6
    if d == 1:
        return 5 if hv >= 2 else (4 if hv == 1 else 3)
    return 2 if hv >= 2 else (1 if hv == 1 else 0)


_SC_TABLE = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}


# ---------------------------------------------------------------------------
# EBCOT tier-1 (encoder and decoder share the scan/membership machinery,
# so the bit-level MQ layer is the only asymmetric part)
# ---------------------------------------------------------------------------


class _Block:
    def __init__(self, h: int, w: int, band: str, causal: bool = False) -> None:
        self.h = h
        self.w = w
        self.band = band
        self.causal = causal  # vertically stripe-causal context formation
        self.sig = np.zeros((h + 2, w + 2), np.uint8)  # padded significance
        self.sgn = np.zeros((h + 2, w + 2), np.int8)   # padded signs (±1)
        self.pi = np.zeros((h, w), np.uint8)           # coded-this-plane
        self.refined = np.zeros((h, w), np.uint8)

    def neighbors(self, y: int, x: int):
        s = self.sig
        yy, xx = y + 1, x + 1
        below = not (self.causal and y % 4 == 3)  # next stripe masked out
        hc = int(s[yy, xx - 1]) + int(s[yy, xx + 1])
        vc = int(s[yy - 1, xx]) + (int(s[yy + 1, xx]) if below else 0)
        dc = int(s[yy - 1, xx - 1]) + int(s[yy - 1, xx + 1])
        if below:
            dc += int(s[yy + 1, xx - 1]) + int(s[yy + 1, xx + 1])
        return hc, vc, dc

    def sign_ctx(self, y: int, x: int):
        s, g = self.sig, self.sgn
        yy, xx = y + 1, x + 1
        below = not (self.causal and y % 4 == 3)
        hc = int(s[yy, xx - 1]) * int(g[yy, xx - 1]) + int(s[yy, xx + 1]) * int(
            g[yy, xx + 1]
        )
        vc = int(s[yy - 1, xx]) * int(g[yy - 1, xx])
        if below:
            vc += int(s[yy + 1, xx]) * int(g[yy + 1, xx])
        return _SC_TABLE[(max(-1, min(1, hc)), max(-1, min(1, vc)))]

    def set_sig(self, y: int, x: int, negative: bool) -> None:
        self.sig[y + 1, x + 1] = 1
        self.sgn[y + 1, x + 1] = -1 if negative else 1


def _stripes(h: int):
    for y0 in range(0, h, 4):
        yield y0, min(4, h - y0)


class _T1:
    """One code-block coding session (enc XOR dec is set)."""

    def __init__(
        self, h, w, band, enc=None, dec=None, bitp=None, coefs=None, mag=None,
        causal=False,
    ):
        self.blk = _Block(h, w, band, causal)
        self.enc = enc
        self.dec = dec
        self.bitp = bitp    # encoder: current plane's bits
        self.coefs = coefs  # encoder: signed coefficients
        self.mag = mag      # decoder: magnitude accumulator
        self.p = 0          # decoder: current plane
        self.is_enc = coefs is not None
        self.raw = None     # raw (bypass) bit coder for the current pass

    def code_sig(self, y: int, x: int) -> None:
        blk = self.blk
        if self.raw is not None:
            # bypass SPP (D.6): significance and sign are raw bits, no
            # context modeling, sign unpredicted (0 = positive)
            if self.is_enc:
                bit = int(self.bitp[y, x])
                self.raw.put(bit)
                if bit:
                    s = 1 if self.coefs[y, x] < 0 else 0
                    self.raw.put(s)
                    blk.set_sig(y, x, bool(s))
            else:
                bit = self.raw.get()
                if bit:
                    s = self.raw.get()
                    self.mag[y, x] = 1 << self.p
                    blk.set_sig(y, x, bool(s))
            return
        hc, vc, dc = blk.neighbors(y, x)
        cx = _zc_context(hc, vc, dc, blk.band)
        if self.enc is not None:
            bit = int(self.bitp[y, x])
            self.enc.encode(bit, cx)
        else:
            bit = self.dec.decode(cx)
        if bit:
            self.code_sign_new(y, x)

    def code_sign_new(self, y: int, x: int) -> None:
        blk = self.blk
        sctx, xorbit = blk.sign_ctx(y, x)
        if self.enc is not None:
            s = 1 if self.coefs[y, x] < 0 else 0
            self.enc.encode(s ^ xorbit, sctx)
        else:
            s = self.dec.decode(sctx) ^ xorbit
            self.mag[y, x] = 1 << self.p
        blk.set_sig(y, x, bool(s))

    def spp(self) -> None:
        blk = self.blk
        for y0, sh in _stripes(blk.h):
            for x in range(blk.w):
                for y in range(y0, y0 + sh):
                    if blk.sig[y + 1, x + 1]:
                        continue
                    hc, vc, dc = blk.neighbors(y, x)
                    if hc + vc + dc == 0:
                        continue
                    self.code_sig(y, x)
                    blk.pi[y, x] = 1

    def mrp(self) -> None:
        blk = self.blk
        for y0, sh in _stripes(blk.h):
            for x in range(blk.w):
                for y in range(y0, y0 + sh):
                    if not blk.sig[y + 1, x + 1] or blk.pi[y, x]:
                        continue
                    if self.raw is not None:  # bypass MRP: raw refinement bit
                        if self.is_enc:
                            self.raw.put(int(self.bitp[y, x]))
                        elif self.raw.get():
                            self.mag[y, x] |= 1 << self.p
                        blk.refined[y, x] = 1
                        blk.pi[y, x] = 1
                        continue
                    if blk.refined[y, x]:
                        cx = 16
                    else:
                        hc, vc, dc = blk.neighbors(y, x)
                        cx = 15 if hc + vc + dc > 0 else 14
                    if self.enc is not None:
                        self.enc.encode(int(self.bitp[y, x]), cx)
                    elif self.dec.decode(cx):
                        self.mag[y, x] |= 1 << self.p
                    blk.refined[y, x] = 1
                    blk.pi[y, x] = 1

    def cp(self) -> None:
        blk = self.blk
        for y0, sh in _stripes(blk.h):
            for x in range(blk.w):
                y = y0
                if sh == 4 and not blk.pi[y0 : y0 + 4, x].any():
                    rl_ok = True
                    for yy in range(y0, y0 + 4):
                        if blk.sig[yy + 1, x + 1]:
                            rl_ok = False
                            break
                        hc, vc, dc = blk.neighbors(yy, x)
                        if hc + vc + dc:
                            rl_ok = False
                            break
                    if rl_ok:
                        if self.enc is not None:
                            run = [int(self.bitp[yy, x]) for yy in range(y0, y0 + 4)]
                            if not any(run):
                                self.enc.encode(0, _CTX_RL)
                                continue
                            self.enc.encode(1, _CTX_RL)
                            r = run.index(1)
                            self.enc.encode((r >> 1) & 1, _CTX_UNI)
                            self.enc.encode(r & 1, _CTX_UNI)
                        else:
                            if not self.dec.decode(_CTX_RL):
                                continue
                            r = (self.dec.decode(_CTX_UNI) << 1) | self.dec.decode(
                                _CTX_UNI
                            )
                        yy = y0 + r
                        self.code_sign_new(yy, x)
                        y = yy + 1
                for yy in range(y, y0 + sh):
                    if blk.sig[yy + 1, x + 1] or blk.pi[yy, x]:
                        continue
                    self.code_sig(yy, x)


def tier1_encode(coefs: np.ndarray, band: str) -> tuple[bytes, int, int]:
    """Encode one code-block's signed coefficients (all passes, one MQ
    codeword segment). Returns (data, num_passes, num_bitplanes)."""
    h, w = coefs.shape
    mag = np.abs(coefs).astype(np.int64)
    maxmag = int(mag.max()) if mag.size else 0
    if maxmag == 0:
        return b"", 0, 0
    nplanes = maxmag.bit_length()
    enc = MQEncoder()
    t1 = _T1(h, w, band, enc=enc, coefs=coefs)
    npasses = 0
    for p in range(nplanes - 1, -1, -1):
        t1.bitp = ((mag >> p) & 1).astype(np.uint8)
        if p != nplanes - 1:
            t1.spp()
            t1.mrp()
            npasses += 2
        t1.cp()
        npasses += 1
        t1.blk.pi[:] = 0
    return enc.flush(), npasses, nplanes


def tier1_decode(
    data: bytes, h: int, w: int, band: str, nplanes: int, npasses: int
) -> np.ndarray:
    mag = np.zeros((h, w), np.int64)
    if npasses == 0 or nplanes <= 0:
        return mag
    dec = MQDecoder(data)
    t1 = _T1(h, w, band, dec=dec, mag=mag)
    left = npasses
    p = nplanes - 1
    first = True
    while left > 0 and p >= 0:
        t1.p = p
        if not first:
            t1.spp()
            left -= 1
            if left == 0:
                break
            t1.mrp()
            left -= 1
            if left == 0:
                break
        t1.cp()
        left -= 1
        t1.blk.pi[:] = 0
        p -= 1
        first = False
    blk = t1.blk
    sgn = blk.sgn[1 : h + 1, 1 : w + 1].astype(np.int64)
    return mag * np.where(sgn == 0, 1, sgn)


# ---------------------------------------------------------------------------
# termall / bypass coder styles (COD SPcod style bits 0x04 / 0x01):
# the codeword is split into terminated segments — every pass its own
# segment under termall; under bypass the SPP/MRP passes from the 5th
# bit-plane (pass index >= 10) are coded as RAW bits (same stuffing
# discipline as packet headers, so _HdrWriter/_HdrReader ARE the raw
# coder) with segment breaks at each MQ<->raw transition. MQ probability
# contexts persist across segment restarts (no reset flag support).
# ---------------------------------------------------------------------------


def _pass_kind(idx: int) -> str:
    return "cp" if idx == 0 else ("spp", "mrp", "cp")[(idx - 1) % 3]


def _pass_is_raw(idx: int, bypass: bool) -> bool:
    return bypass and idx >= 10 and _pass_kind(idx) != "cp"


def _segment_break(idx: int, termall: bool, bypass: bool) -> bool:
    """True iff a codeword-segment boundary follows pass `idx`."""
    return termall or _pass_is_raw(idx, bypass) != _pass_is_raw(idx + 1, bypass)


def _segment_pass_counts(start: int, n: int, termall: bool, bypass: bool):
    """Segment pass-counts for passes [start, start+n) — the decoder's
    twin of the encoder's close-segment rule, used to parse per-segment
    lengths out of packet headers."""
    out = []
    cur = 0
    for i in range(start, start + n):
        cur += 1
        if i == start + n - 1 or _segment_break(i, termall, bypass):
            out.append(cur)
            cur = 0
    return out


def tier1_encode_segmented(
    coefs: np.ndarray, band: str, termall: bool, bypass: bool,
    reset: bool = False, causal: bool = False, segsym: bool = False,
) -> tuple[list, int, int]:
    """Encode one code-block under the cstyle flags: returns
    (segments [(bytes, npasses)], total_passes, num_bitplanes).
    reset re-initializes MQ contexts after every pass; causal masks the
    next stripe out of context formation; segsym appends the 1010
    segmentation marker (UNI context) to every cleanup pass."""
    h, w = coefs.shape
    mag = np.abs(coefs).astype(np.int64)
    maxmag = int(mag.max()) if mag.size else 0
    if maxmag == 0:
        return [], 0, 0
    nplanes = maxmag.bit_length()
    ctx = _init_states()
    t1 = _T1(h, w, band, coefs=coefs, causal=causal)
    segments: list = []
    cur = None
    cur_np = 0
    idx = 0
    for p in range(nplanes - 1, -1, -1):
        t1.bitp = ((mag >> p) & 1).astype(np.uint8)
        for kind in (("cp",) if p == nplanes - 1 else ("spp", "mrp", "cp")):
            is_raw = _pass_is_raw(idx, bypass)
            if cur is None:
                cur = _HdrWriter() if is_raw else MQEncoder(ctx=ctx)
            t1.raw = cur if is_raw else None
            t1.enc = None if is_raw else cur
            getattr(t1, kind)()
            if kind == "cp" and segsym:
                for b in (1, 0, 1, 0):
                    cur.encode(b, _CTX_UNI)
            if reset:
                ctx[:] = _init_states()
            cur_np += 1
            if _segment_break(idx, termall, bypass):
                segments.append((cur.flush(), cur_np))
                cur = None
                cur_np = 0
            idx += 1
        t1.blk.pi[:] = 0
    if cur is not None:
        segments.append((cur.flush(), cur_np))
    return segments, idx, nplanes


def tier1_decode_segmented(
    segs: list, h: int, w: int, band: str, nplanes: int, npasses: int,
    bypass: bool, reset: bool = False, causal: bool = False, segsym: bool = False,
) -> np.ndarray:
    """Decode a code-block delivered as terminated segments
    [(bytes, npasses)] (must partition `npasses` at the rule's
    boundaries — _segment_pass_counts produces exactly that). The
    segments carry their own termination points; `bypass` marks which
    passes are raw."""
    mag = np.zeros((h, w), np.int64)
    if npasses == 0 or nplanes <= 0:
        return mag
    ctx = _init_states()
    t1 = _T1(h, w, band, mag=mag, causal=causal)
    seg_i = 0
    seg_left = 0
    cur = None
    idx = 0
    left = npasses
    p = nplanes - 1
    first = True
    while left > 0 and p >= 0:
        t1.p = p
        for kind in (("cp",) if first else ("spp", "mrp", "cp")):
            if left == 0:
                break
            is_raw = _pass_is_raw(idx, bypass)
            if seg_left == 0:
                data, seg_left = segs[seg_i]
                seg_i += 1
                cur = _HdrReader(data, 0) if is_raw else MQDecoder(data, ctx=ctx)
            t1.raw = cur if is_raw else None
            t1.dec = None if is_raw else cur
            getattr(t1, kind)()
            if kind == "cp" and segsym:
                got = [cur.decode(_CTX_UNI) for _ in range(4)]
                if got != [1, 0, 1, 0]:
                    raise ValueError("segmentation symbol mismatch (corrupt pass)")
            if reset:
                ctx[:] = _init_states()
            left -= 1
            seg_left -= 1
            idx += 1
        t1.blk.pi[:] = 0
        p -= 1
        first = False
    blk = t1.blk
    sgn = blk.sgn[1 : h + 1, 1 : w + 1].astype(np.int64)
    return mag * np.where(sgn == 0, 1, sgn)


# ---------------------------------------------------------------------------
# reversible 5/3 DWT (T.800 Annex F; image offsets 0)
# ---------------------------------------------------------------------------


def _refl(i: int, n: int) -> int:
    """Whole-sample symmetric extension into [0, n)."""
    if n == 1:
        return 0
    period = 2 * (n - 1)
    i %= period
    if i < 0:
        i += period
    return i if i < n else period - i


def _fwd53_1d(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = len(x)
    xi = x.astype(np.int64)
    if n == 1:
        return xi.copy(), xi[:0]
    ne, no = (n + 1) // 2, n // 2
    d = np.empty(no, np.int64)
    for i in range(no):
        d[i] = xi[2 * i + 1] - ((xi[2 * i] + xi[_refl(2 * i + 2, n)]) >> 1)
    s = np.empty(ne, np.int64)
    for i in range(ne):
        dl = d[i - 1] if i - 1 >= 0 else d[0]
        dr = d[i] if i < no else d[no - 1]
        s[i] = xi[2 * i] + ((dl + dr + 2) >> 2)
    return s, d


def _inv53_1d(s: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    if n == 1:
        return s.astype(np.int64).copy()
    ne, no = len(s), len(d)
    x = np.empty(n, np.int64)
    se, de = s.astype(np.int64), d.astype(np.int64)
    for i in range(ne):
        dl = de[i - 1] if i - 1 >= 0 else de[0]
        dr = de[i] if i < no else de[no - 1]
        x[2 * i] = se[i] - ((dl + dr + 2) >> 2)
    for i in range(no):
        x[2 * i + 1] = de[i] + ((x[2 * i] + x[_refl(2 * i + 2, n)]) >> 1)
    return x


def _fwd53_rows(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """5/3 analysis along axis 1, all rows at once — the numpy-batched
    twin of _fwd53_1d (which stays as the scalar parity reference the
    tests check against an independent direct form)."""
    h, n = a.shape
    x = a.astype(np.int64)
    if n == 1:
        return x.copy(), x[:, :0]
    ne, no = (n + 1) // 2, n // 2
    xe, xo = x[:, 0::2], x[:, 1::2]
    # x[2i+2] for i in [0, no): next even sample; at 2i+2 == n the
    # whole-sample symmetric extension reflects to x[n-2] == xe[-1]
    xen = np.concatenate([xe[:, 1:], xe[:, -1:]], axis=1) if n % 2 == 0 else xe[:, 1:]
    d = xo - ((xe[:, :no] + xen) >> 1)
    dl = np.concatenate([d[:, :1], d[:, : ne - 1]], axis=1)  # d[i-1], d[-1]→d[0]
    dr = d if no == ne else np.concatenate([d, d[:, -1:]], axis=1)  # d[no]→d[no-1]
    s = xe + ((dl + dr + 2) >> 2)
    return s, d


def _inv53_rows(s: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """Inverse of _fwd53_rows (axis 1, all rows at once)."""
    h = s.shape[0]
    if n == 1:
        return s.astype(np.int64).copy()
    se, de = s.astype(np.int64), d.astype(np.int64)
    ne, no = se.shape[1], de.shape[1]
    dl = np.concatenate([de[:, :1], de[:, : ne - 1]], axis=1)
    dr = de if no == ne else np.concatenate([de, de[:, -1:]], axis=1)
    xe = se - ((dl + dr + 2) >> 2)
    xen = np.concatenate([xe[:, 1:], xe[:, -1:]], axis=1) if n % 2 == 0 else xe[:, 1:]
    xo = de + ((xe[:, :no] + xen) >> 1)
    x = np.empty((h, n), np.int64)
    x[:, 0::2] = xe
    x[:, 1::2] = xo
    return x


# --- origin-parity variants (nonzero XOsiz/XTOsiz: T.800 B.5/F) -------------
# A signal occupying absolute coordinates [u0, u1) splits with LOW-pass
# coefficients at EVEN absolute positions; when u0 is odd the first local
# sample is a high-pass position. The p=1 forms below run the same lifting
# on a symmetric-extension pad chosen so padded parity == absolute parity
# (padded-even <=> abs-even), which lets the p=0 slice formulas apply
# unchanged; p=0 delegates to the validated zero-origin implementations.
# Single odd-positioned samples code as Y = 2X (decode X = Y >> 1 / Y/2).


def _ext_refl(x: np.ndarray, left: int, right: int) -> np.ndarray:
    """Whole-sample symmetric extension by explicit _refl indexing —
    unlike np.pad(mode='reflect') it is valid for pads wider than the
    signal (1- and 2-sample bands at deep levels)."""
    n = x.shape[1]
    idx = np.fromiter((_refl(i, n) for i in range(-left, n + right)), dtype=np.int64)
    return x[:, idx].copy()


def _fwd53_rows_p(a: np.ndarray, p: int):
    x = np.asarray(a).astype(np.int64)
    h, n = x.shape
    if n == 0:  # zero-width signal (empty band sliver at an odd origin)
        return x[:, :0].copy(), x[:, :0].copy()
    if p == 0:
        return _fwd53_rows(x)
    if n == 1:
        return x[:, :0].copy(), 2 * x
    e = _ext_refl(x, 3, 2 + ((n + 1) & 1))
    e[:, 1:-1:2] -= (e[:, 0:-2:2] + e[:, 2::2]) >> 1
    e[:, 2:-1:2] += (e[:, 1:-2:2] + e[:, 3::2] + 2) >> 2
    return e[:, 4 : 3 + n : 2], e[:, 3 : 3 + n : 2]


def _inv53_rows_p(s: np.ndarray, d: np.ndarray, n: int, p: int) -> np.ndarray:
    h = s.shape[0]
    if n == 0:
        return np.empty((h, 0), np.int64)
    if p == 0:
        return _inv53_rows(s, d, n)
    if n == 1:
        return d.astype(np.int64) >> 1
    y = np.empty((h, n), np.int64)
    y[:, 1::2] = s  # abs-even (low) sit at local ODD positions
    y[:, 0::2] = d
    e = _ext_refl(y, 3, 2 + ((n + 1) & 1))
    e[:, 2:-1:2] -= (e[:, 1:-2:2] + e[:, 3::2] + 2) >> 2
    e[:, 1:-1:2] += (e[:, 0:-2:2] + e[:, 2::2]) >> 1
    return e[:, 3 : 3 + n]


def _fwd53_2d_box(a, box):
    x0, y0, _, _ = box
    lo, hi = _fwd53_rows_p(np.asarray(a), x0 & 1)
    ll, lh = (m.T for m in _fwd53_rows_p(lo.T, y0 & 1))
    hl, hh = (m.T for m in _fwd53_rows_p(hi.T, y0 & 1))
    return ll, hl, lh, hh


def _inv53_2d_box(ll, hl, lh, hh, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    h, w = y1 - y0, x1 - x0
    lo = _inv53_rows_p(ll.T, lh.T, h, y0 & 1).T
    hi = _inv53_rows_p(hl.T, hh.T, h, y0 & 1).T
    return _inv53_rows_p(lo, hi, w, x0 & 1)


# ---------------------------------------------------------------------------
# irreversible 9/7 DWT (T.800 Annex F, Table F.4 lifting constants) and the
# Annex E scalar quantizer. Normalization: analysis lowpass is scaled 1/K
# and highpass K (the cascade's unscaled lowpass DC gain IS K, so this
# makes the LL DC gain exactly 1 per level — verified by test); synthesis
# mirrors. Validation is self-consistency (round-trips within quantizer
# tolerance) — the container ships no independent JP2 implementation, see
# the module docstring's validation note.
# ---------------------------------------------------------------------------

_A97 = -1.586134342059924
_B97 = -0.052980118572961
_G97 = 0.882911075530934
_D97 = 0.443506852043971
_K97 = 1.230174104914001
_GAIN97 = {"LL": 0, "HL": 1, "LH": 1, "HH": 2}


def _fwd97_rows(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """9/7 analysis along axis 1 (all rows at once) -> (lo, hi) floats."""
    h, n = a.shape
    if n == 1:
        return a.astype(np.float64).copy(), a[:, :0].astype(np.float64)
    # reflect pad == whole-sample symmetric extension; pad right to keep
    # the extended length even so the odd/even slice pairs line up
    e = np.pad(a.astype(np.float64), ((0, 0), (4, 4 + (n & 1))), mode="reflect")
    for coef, odd in ((_A97, True), (_B97, False), (_G97, True), (_D97, False)):
        if odd:
            e[:, 1:-1:2] += coef * (e[:, 0:-2:2] + e[:, 2::2])
        else:
            e[:, 2:-1:2] += coef * (e[:, 1:-2:2] + e[:, 3::2])
    return e[:, 4 : 4 + n : 2] / _K97, e[:, 5 : 4 + n : 2] * _K97


def _inv97_rows(s: np.ndarray, d: np.ndarray, n: int) -> np.ndarray:
    """Inverse of _fwd97_rows: subband pair -> rows of length n."""
    h = s.shape[0]
    if n == 1:
        return s.astype(np.float64).copy()
    y = np.empty((h, n), np.float64)
    y[:, 0::2] = s * _K97
    y[:, 1::2] = d / _K97
    e = np.pad(y, ((0, 0), (4, 4 + (n & 1))), mode="reflect")
    for coef, odd in ((_D97, False), (_G97, True), (_B97, False), (_A97, True)):
        if odd:
            e[:, 1:-1:2] -= coef * (e[:, 0:-2:2] + e[:, 2::2])
        else:
            e[:, 2:-1:2] -= coef * (e[:, 1:-2:2] + e[:, 3::2])
    return e[:, 4 : 4 + n]


def _fwd97_rows_p(a: np.ndarray, p: int):
    """9/7 analysis with origin parity (see the 5/3 _p note): p=1 pads
    left by 5 so padded parity == absolute parity."""
    h, n = a.shape
    if n == 0:
        z = a[:, :0].astype(np.float64)
        return z.copy(), z.copy()
    if p == 0:
        return _fwd97_rows(a)
    if n == 1:
        return a[:, :0].astype(np.float64), 2.0 * a.astype(np.float64)
    e = _ext_refl(a.astype(np.float64), 5, 4 + ((n + 1) & 1))
    for coef, odd in ((_A97, True), (_B97, False), (_G97, True), (_D97, False)):
        if odd:
            e[:, 1:-1:2] += coef * (e[:, 0:-2:2] + e[:, 2::2])
        else:
            e[:, 2:-1:2] += coef * (e[:, 1:-2:2] + e[:, 3::2])
    return e[:, 6 : 5 + n : 2] / _K97, e[:, 5 : 5 + n : 2] * _K97


def _inv97_rows_p(s: np.ndarray, d: np.ndarray, n: int, p: int) -> np.ndarray:
    h = s.shape[0]
    if n == 0:
        return np.empty((h, 0), np.float64)
    if p == 0:
        return _inv97_rows(s, d, n)
    if n == 1:
        return d.astype(np.float64) / 2.0
    y = np.empty((h, n), np.float64)
    y[:, 1::2] = s * _K97
    y[:, 0::2] = d / _K97
    e = _ext_refl(y, 5, 4 + ((n + 1) & 1))
    for coef, odd in ((_D97, False), (_G97, True), (_B97, False), (_A97, True)):
        if odd:
            e[:, 1:-1:2] -= coef * (e[:, 0:-2:2] + e[:, 2::2])
        else:
            e[:, 2:-1:2] -= coef * (e[:, 1:-2:2] + e[:, 3::2])
    return e[:, 5 : 5 + n]


def _fwd97_2d_box(a, box):
    x0, y0, _, _ = box
    lo, hi = _fwd97_rows_p(np.asarray(a), x0 & 1)
    ll, lh = (m.T for m in _fwd97_rows_p(lo.T, y0 & 1))
    hl, hh = (m.T for m in _fwd97_rows_p(hi.T, y0 & 1))
    return ll, hl, lh, hh


def _inv97_2d_box(ll, hl, lh, hh, box) -> np.ndarray:
    x0, y0, x1, y1 = box
    h, w = y1 - y0, x1 - x0
    lo = _inv97_rows_p(ll.T, lh.T, h, y0 & 1).T
    hi = _inv97_rows_p(hl.T, hh.T, h, y0 & 1).T
    return _inv97_rows_p(lo, hi, w, x0 & 1)


def _quant_params(delta_b: float, rb: int) -> tuple[int, int]:
    """(exponent, mantissa) of the Annex E step size: delta_b =
    2^(rb - eps) * (1 + mu / 2048)."""
    d = delta_b / (1 << rb)
    eps = 0
    while d < 1.0:
        d *= 2.0
        eps += 1
    while d >= 2.0:
        d /= 2.0
        eps -= 1
    mu = round((d - 1.0) * 2048)
    if mu == 2048:
        mu = 0
        eps -= 1
    if not (0 <= eps <= 31):
        raise ValueError(f"quantizer exponent {eps} out of [0, 31] — adjust quant_step")
    return eps, mu


def _quant_step_of(eps: int, mu: int, rb: int) -> float:
    return (2.0 ** (rb - eps)) * (1.0 + mu / 2048.0)


def _derived_exps(e0: int, nbands: int) -> list[int]:
    """Scalar-derived exponent expansion (E.1.1 / E-5): band b (QCD
    order: LL, then HL/LH/HH per resolution) gets eps_0 − ⌊(b−1)/3⌋,
    clamped at 0; the mantissa is shared."""
    return [max(e0 - (0 if b == 0 else (b - 1) // 3), 0) for b in range(nbands)]


def _parse_quant(seg: bytes, nbands: int):
    """Sqcd/Sqcc byte + SPqcd/SPqcc body → (guard, exps, mants).
    Styles: 0 = no quantization (reversible, per-band exponents),
    1 = scalar derived (single (eps, mu) expanded per _derived_exps),
    2 = scalar expounded (per-band (eps, mu))."""
    s = seg[0]
    guard = s >> 5
    style = s & 0x1F
    if style == 0:
        return guard, [b >> 3 for b in seg[1:]], None
    if style == 1:
        (v,) = struct.unpack(">H", seg[1:3])
        return guard, _derived_exps(v >> 11, nbands), [v & 0x7FF] * nbands
    if style == 2:
        vals = [
            struct.unpack(">H", seg[1 + 2 * i : 3 + 2 * i])[0]
            for i in range((len(seg) - 1) // 2)
        ]
        return guard, [v >> 11 for v in vals], [v & 0x7FF for v in vals]
    raise ValueError(f"bad quantization style {style}")


# ---------------------------------------------------------------------------
# multiple-component transforms (T.800 Annex G): RCT pairs with 5/3
# (reversible ints), ICT with 9/7 (floats). Applied after DC level shift,
# before the per-component DWT; inverted after IDWT on decode.
# ---------------------------------------------------------------------------


def _rct_fwd(r, g, b):
    y = (r + 2 * g + b) >> 2  # floor for negatives too (arithmetic shift)
    return y, b - g, r - g


def _rct_inv(y0, y1, y2):
    g = y0 - ((y1 + y2) >> 2)
    return y2 + g, g, y1 + g  # (R, G, B)


def _ict_fwd(r, g, b):
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _ict_inv(y, cb, cr):
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return r, g, b


# ---------------------------------------------------------------------------
# tag trees (T.800 B.10.2)
# ---------------------------------------------------------------------------

_INF = 1 << 30


class _TagTree:
    def __init__(self, w: int, h: int, encoder: bool) -> None:
        self.dims = []
        while True:
            self.dims.append((w, h))
            if w == 1 and h == 1:
                break
            w, h = (w + 1) // 2, (h + 1) // 2
        init = 0 if encoder else _INF
        self.val = [np.full((lh, lw), init, np.int64) for lw, lh in self.dims]
        self.low = [np.zeros((lh, lw), np.int64) for lw, lh in self.dims]
        self.known = [np.zeros((lh, lw), bool) for lw, lh in self.dims]

    # encoder side -----------------------------------------------------
    def set_value(self, x: int, y: int, v: int) -> None:
        self.val[0][y, x] = v

    def finalize(self) -> None:
        for lvl in range(1, len(self.dims)):
            lw, lh = self.dims[lvl]
            for yy in range(lh):
                for xx in range(lw):
                    self.val[lvl][yy, xx] = self.val[lvl - 1][
                        2 * yy : 2 * yy + 2, 2 * xx : 2 * xx + 2
                    ].min()

    def encode(self, bw, x: int, y: int, threshold: int) -> None:
        low = 0
        for lvl in range(len(self.dims) - 1, -1, -1):
            xx, yy = x >> lvl, y >> lvl
            if low > self.low[lvl][yy, xx]:
                self.low[lvl][yy, xx] = low
            else:
                low = int(self.low[lvl][yy, xx])
            v = int(self.val[lvl][yy, xx])
            while low < threshold:
                if low >= v:
                    if not self.known[lvl][yy, xx]:
                        bw.put(1)
                        self.known[lvl][yy, xx] = True
                    break
                bw.put(0)
                low += 1
            self.low[lvl][yy, xx] = low

    # decoder side -----------------------------------------------------
    def decode(self, br, x: int, y: int, threshold: int) -> bool:
        """True iff value(x, y) < threshold; consumes exactly the bits the
        encoder's same-threshold call emitted."""
        low = 0
        for lvl in range(len(self.dims) - 1, -1, -1):
            xx, yy = x >> lvl, y >> lvl
            if low > self.low[lvl][yy, xx]:
                self.low[lvl][yy, xx] = low
            else:
                low = int(self.low[lvl][yy, xx])
            while low < threshold and low < self.val[lvl][yy, xx]:
                if br.get():
                    self.val[lvl][yy, xx] = low
                else:
                    low += 1
            self.low[lvl][yy, xx] = low
            low = min(low, int(self.val[lvl][yy, xx]))
        return int(self.val[0][y, x]) < threshold

    def value(self, x: int, y: int) -> int:
        return int(self.val[0][y, x])


# ---------------------------------------------------------------------------
# packet-header bit I/O (B.10.1: FF-stuffed big-endian bits)
# ---------------------------------------------------------------------------


class _HdrWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, bit: int) -> None:
        self.acc = (self.acc << 1) | bit
        self.n += 1
        limit = 7 if self.out and self.out[-1] == 0xFF else 8
        if self.n == limit:
            self.out.append(self.acc)
            self.acc = 0
            self.n = 0

    def put_bits(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put((v >> i) & 1)

    def flush(self) -> bytes:
        if self.n:
            limit = 7 if self.out and self.out[-1] == 0xFF else 8
            self.out.append(self.acc << (limit - self.n))
        elif self.out and self.out[-1] == 0xFF:
            self.out.append(0)  # a packet header may not end on FF
        self.acc = 0
        self.n = 0
        return bytes(self.out)


class _HdrReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.prev_ff = False

    def get(self) -> int:
        if self.n == 0:
            b = self.data[self.pos]
            self.pos += 1
            self.n = 7 if self.prev_ff else 8
            self.prev_ff = b == 0xFF
            self.acc = b
        self.n -= 1
        return (self.acc >> self.n) & 1

    def get_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get()
        return v

    def align(self) -> int:
        if self.n == 0 and self.prev_ff:
            self.pos += 1  # stuffing byte after a terminal FF
        self.n = 0
        self.prev_ff = False
        return self.pos


def _npasses_write(bw: _HdrWriter, n: int) -> None:
    if n == 1:
        bw.put(0)
    elif n == 2:
        bw.put_bits(0b10, 2)
    elif n <= 5:
        bw.put_bits(0b11, 2)
        bw.put_bits(n - 3, 2)
    elif n <= 36:
        bw.put_bits(0b1111, 4)
        bw.put_bits(n - 6, 5)
    else:
        bw.put_bits(0b111111111, 9)
        bw.put_bits(n - 37, 7)


def _npasses_read(br: _HdrReader) -> int:
    if not br.get():
        return 1
    if not br.get():
        return 2
    v = br.get_bits(2)
    if v < 3:
        return 3 + v
    v = br.get_bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.get_bits(7)


# ---------------------------------------------------------------------------
# codestream layout
# ---------------------------------------------------------------------------


def _qcd_index(band_res, r: int, band: str) -> int:
    """Band order index into QCD/QCC over _subband_boxes' per-resolution
    (band, x0, y0, x1, y1) lists (only the band name is read)."""
    i = 0
    for rr, bands in enumerate(band_res):
        for entry in bands:
            if rr == r and entry[0] == band:
                return i
            i += 1
    raise KeyError((r, band))


_GUARD = 2


# --- absolute-box geometry (nonzero XOsiz/YOsiz/XTOsiz/YTOsiz) --------------
# All partitions in T.800 anchor at the reference-grid origin, so with
# offsets the tile-component box [tcx0, tcx1) x [tcy0, tcy1) no longer
# starts at 0 and every dimension formula becomes a box formula (a
# zero-offset image is the special case box = (0, 0, w, h)).


def _ceildiv(a: int, b: int) -> int:
    return -(-a // b)


def _subband_boxes(box, levels: int):
    """Per resolution r in 0..levels: [(band, bx0, by0, bx1, by1)] via
    T.800 eq. B-15: tb = ceil((tc - 2^(lev-1)*o) / 2^lev) with o the
    band's orientation offset (HL: xo=1; LH: yo=1; HH: both)."""
    x0, y0, x1, y1 = box

    def bb(lev, xob, yob):
        s, ho = 1 << lev, (1 << lev) >> 1  # levels=0: LL is the box itself
        return (
            _ceildiv(x0 - ho * xob, s), _ceildiv(y0 - ho * yob, s),
            _ceildiv(x1 - ho * xob, s), _ceildiv(y1 - ho * yob, s),
        )

    out = [[("LL",) + bb(levels, 0, 0)]]
    for r in range(1, levels + 1):
        lev = levels - r + 1
        out.append(
            [("HL",) + bb(lev, 1, 0), ("LH",) + bb(lev, 0, 1), ("HH",) + bb(lev, 1, 1)]
        )
    return out


def _resolution_boxes(box, levels: int):
    """Per r: the tile-component box ceil-divided by 2^(levels-r) (the
    LL chain box — eq. B-14)."""
    x0, y0, x1, y1 = box
    out = []
    for r in range(levels + 1):
        s = 1 << (levels - r)
        out.append(
            (_ceildiv(x0, s), _ceildiv(y0, s), _ceildiv(x1, s), _ceildiv(y1, s))
        )
    return out


def _precinct_layout_box(r, band_boxes, ppx, ppy, cblk, res_box):
    """Precincts of resolution r in raster order; each precinct is a
    per-band list of (band, nbx, nby, blocks), blocks being
    (bx, by, x0, y0, cw, ch). Precincts partition the resolution grid
    anchored at the reference-grid origin (2^ppx x 2^ppy); only those
    meeting the resolution box exist (B-16: count = ceil(tr1/2^pp) -
    floor(tr0/2^pp)). For r > 0 the band grid is the resolution grid
    halved and precinct boundaries map exactly (powers of two). Code
    blocks clamp to the band-domain precinct size, anchor at absolute
    multiples of that size on the BAND grid and clip to
    precinct-intersect-band, so no block straddles a precinct. Block
    coords (x0, y0) are LOCAL to the band box (array indexing), while
    (bx, by) index blocks within the precinct (tag trees)."""
    shift = 0 if r == 0 else 1
    bpw, bph = 1 << (ppx - shift), 1 << (ppy - shift)
    cbw0, cbh0 = (cblk, cblk) if isinstance(cblk, int) else cblk
    cbw, cbh = min(cbw0, bpw), min(cbh0, bph)
    rx0, ry0, rx1, ry1 = res_box
    if rx0 >= rx1 or ry0 >= ry1:
        return []
    out = []
    for py in range(ry0 >> ppy, _ceildiv(ry1, 1 << ppy)):
        for px in range(rx0 >> ppx, _ceildiv(rx1, 1 << ppx)):
            per_band = []
            for band, bx0, by0, bx1, by1 in band_boxes:
                pbx0, pby0 = px * bpw, py * bph
                ix0, iy0 = max(pbx0, bx0), max(pby0, by0)
                ix1, iy1 = min(pbx0 + bpw, bx1), min(pby0 + bph, by1)
                blocks = []
                nbx = nby = 0
                if ix0 < ix1 and iy0 < iy1:
                    gx0, gx1 = ix0 // cbw, _ceildiv(ix1, cbw)
                    gy0, gy1 = iy0 // cbh, _ceildiv(iy1, cbh)
                    nbx, nby = gx1 - gx0, gy1 - gy0
                    for byi in range(nby):
                        for bxi in range(nbx):
                            ax0 = max((gx0 + bxi) * cbw, ix0)
                            ay0 = max((gy0 + byi) * cbh, iy0)
                            ax1 = min((gx0 + bxi + 1) * cbw, ix1)
                            ay1 = min((gy0 + byi + 1) * cbh, iy1)
                            blocks.append(
                                (bxi, byi, ax0 - bx0, ay0 - by0,
                                 ax1 - ax0, ay1 - ay0)
                            )
                per_band.append((band, nbx, nby, blocks))
            out.append(per_band)
    return out


def _packet_order_box(
    prog: int, levels: int, pp, res_boxes_c, tile_box, ncomp: int = 1,
    nlayers: int = 1, rs: list | None = None,
):
    """Packet sequence as (layer, r, c, precinct_index) tuples (T.800
    B.12, absolute reference-grid boxes). Layer placement per order:
    LRCP(0) layer→res→comp→precinct; RLCP(1) res→layer→comp→precinct;
    RPCL(2) res→position→comp→layer; PCRL(3) position→comp→res→layer;
    CPRL(4) comp→position→res→layer. Position-major orders emit a
    precinct either at span-aligned reference positions or at the tile
    edge when the first precinct is unaligned (the
    `y == ty0 && try0 % 2^PPy != 0` clause of B.12.1.3-5)."""
    L = nlayers
    rb_c = res_boxes_c if isinstance(res_boxes_c[0], list) else [res_boxes_c] * ncomp
    n_prec = []  # [c][r] -> (npx, npy)
    for c in range(ncomp):
        row = []
        for r in range(levels + 1):
            rx0, ry0, rx1, ry1 = rb_c[c][r]
            ppx, ppy = pp[r]
            if rx0 >= rx1 or ry0 >= ry1:
                row.append((0, 0))
            else:
                row.append(
                    (_ceildiv(rx1, 1 << ppx) - (rx0 >> ppx),
                     _ceildiv(ry1, 1 << ppy) - (ry0 >> ppy))
                )
        n_prec.append(row)
    if prog == 0:  # LRCP
        return [
            (l, r, c, k)
            for l in range(L)
            for r in range(levels + 1)
            for c in range(ncomp)
            for k in range(n_prec[c][r][0] * n_prec[c][r][1])
        ]
    if prog == 1:  # RLCP
        return [
            (l, r, c, k)
            for r in range(levels + 1)
            for l in range(L)
            for c in range(ncomp)
            for k in range(n_prec[c][r][0] * n_prec[c][r][1])
        ]
    # position-major orders (B.12.1.3-5), fully general: per-component
    # subsampling scales each component's precinct span on the reference
    # grid (span = Rsiz_c * 2^(PP + NL - r)), so candidate positions are
    # the UNION of every (c, r) span lattice (mixed spans are not
    # mutually nested when Rsiz is not a power of two) plus the tile
    # edge, and each component tests alignment against its OWN grid.
    if rs is None:
        rs = [(1, 1)] * ncomp
    tx0, ty0, tx1, ty1 = tile_box
    span = [
        [
            (rs[c][0] << (pp[r][0] + levels - r),
             rs[c][1] << (pp[r][1] + levels - r))
            for r in range(levels + 1)
        ]
        for c in range(ncomp)
    ]

    def _positions(t0, t1, crs, axis):
        vals = {t0}
        for c, r in crs:
            s = span[c][r][axis]
            first = t0 + ((-t0) % s)
            vals.update(range(first, max(t1, t0 + 1), s))
        return sorted(vals)

    def _emit(c, r, x, y):
        sx_, sy_ = span[c][r]
        ppx_, ppy_ = pp[r]
        rx0, ry0, _, _ = rb_c[c][r]
        npx_, npy_ = n_prec[c][r]
        if npx_ == 0 or npy_ == 0:
            return None
        ok_x = (x % sx_ == 0) or (x == tx0 and rx0 % (1 << ppx_) != 0)
        ok_y = (y % sy_ == 0) or (y == ty0 and ry0 % (1 << ppy_) != 0)
        if not (ok_x and ok_y):
            return None
        sdx = rs[c][0] << (levels - r)
        sdy = rs[c][1] << (levels - r)
        pcol = (_ceildiv(x, sdx) >> ppx_) - (rx0 >> ppx_)
        prow = (_ceildiv(y, sdy) >> ppy_) - (ry0 >> ppy_)
        if not (0 <= pcol < npx_ and 0 <= prow < npy_):
            return None
        return prow * npx_ + pcol

    out = []
    if prog == 2:  # RPCL: res → position → comp → layer
        for r in range(levels + 1):
            crs = [(c, r) for c in range(ncomp)]
            for y in _positions(ty0, ty1, crs, 1):
                for x in _positions(tx0, tx1, crs, 0):
                    for c in range(ncomp):
                        k = _emit(c, r, x, y)
                        if k is not None:
                            out.extend((l, r, c, k) for l in range(L))
        return out
    crs_all = [(c, r) for c in range(ncomp) for r in range(levels + 1)]
    if prog == 3:  # PCRL: position → comp → res → layer
        for y in _positions(ty0, ty1, crs_all, 1):
            for x in _positions(tx0, tx1, crs_all, 0):
                for c in range(ncomp):
                    for r in range(levels + 1):
                        k = _emit(c, r, x, y)
                        if k is not None:
                            out.extend((l, r, c, k) for l in range(L))
        return out
    for c in range(ncomp):  # CPRL: comp → position → res → layer
        crs = [(c, r) for r in range(levels + 1)]
        for y in _positions(ty0, ty1, crs, 1):
            for x in _positions(tx0, tx1, crs, 0):
                for r in range(levels + 1):
                    k = _emit(c, r, x, y)
                    if k is not None:
                        out.extend((l, r, c, k) for l in range(L))
    return out


def jp2_encode(
    img: np.ndarray,
    levels: int = 3,
    cblk: int = 32,
    precincts: list[tuple[int, int]] | None = None,
    progression: int = 0,
    irreversible: bool = False,
    quant_step: float = 1.0,
    tile: tuple[int, int] | None = None,
    mct: bool = False,
    layers: int = 1,
    quant_style: str = "expounded",
    sop: bool = False,
    eph: bool = False,
    termall: bool = False,
    bypass: bool = False,
    reset: bool = False,
    causal: bool = False,
    segsym: bool = False,
    subsampling: list[tuple[int, int]] | None = None,
    image_offset: tuple[int, int] = (0, 0),
    tile_offset: tuple[int, int] | None = None,
) -> bytes:
    """Encode an integer image as a JPEG-2000 codestream (raw codestream,
    no JP2 boxes).

    image_offset / tile_offset: (XOsiz, YOsiz) / (XTOsiz, YTOsiz) — the
    image area occupies reference-grid [XOsiz, XOsiz + w), the tile grid
    anchors at the tile offset (T.800 B.3/B.5 require
    XTOsiz <= XOsiz < XTOsiz + XTsiz). `img` still holds exactly the
    image-area samples; all sub-band/precinct/code-block geometry and
    the DWT run on absolute coordinates, so a nonzero offset changes
    band sizes, block anchoring, and lifting parity exactly as a
    conformant decoder expects.

    img: (h, w) grayscale or (h, w, C) multi-component (all components
    share bit depth and subsampling 1,1; no MCT — components code
    independently, the RGB-thumbnail / multi-band shape).
    irreversible=False → reversible 5/3, lossless.
    irreversible=True → 9/7 wavelet + Annex E scalar quantization with
    absolute step `quant_step` in every band; reconstruction error is
    bounded by the step (r=0.5 midpoint dequantization on decode).
    quant_step may be a scalar (shared) or a per-component sequence —
    differing components get QCC override markers (the MCT-chroma
    shape). quant_style picks the QCD signaling: 'expounded' (per-band
    (eps, mu), style 2) or 'derived' (single (eps, mu) expanded by the
    E.1.1 rule, style 1 — what Kakadu-family encoders emit).

    precincts: optional per-resolution (PPx, PPy) exponents (levels + 1
    entries, r=0 first) → user-defined precinct partitions (COD Scod bit
    0), multiple packets per resolution in raster order. None → default
    whole-band precincts, one packet per resolution.

    tile: optional (XTsiz, YTsiz) — split the image into a tile grid
    (ragged edge tiles allowed); each tile is DWT'd and coded
    independently and written as its own SOT/SOD tile-part in raster
    order (the large-aerial/satellite-product shape). The quantization
    header (QCD) is shared across tiles, per-block zero-bitplane counts
    absorb per-tile slack. None → one tile covering the image.

    mct: multiple-component transform on the first three components
    (T.800 Annex G — the usual wild-RGB-JP2 shape): reversible RCT with
    5/3 (bit-exact round-trip), irreversible ICT with 9/7. Requires at
    least 3 components.

    layers: number of quality layers (COD SGcod). Each code-block's
    coding passes are split pro-rata across layers and delivered through
    per-layer packets (inclusion tag-tree thresholds, persistent lblock,
    second-inclusion 1-bit signaling — B.10.4-8); decoding all layers
    reconstructs exactly what layers=1 does."""
    if subsampling is not None:
        if not isinstance(img, (list, tuple)):
            raise ValueError(
                "subsampling takes a LIST of 2-D planes (one per component, "
                "each at its own resolution)"
            )
        comps = [np.asarray(p) for p in img]
        rs = [tuple(map(int, v)) for v in subsampling]
        if len(rs) != len(comps):
            raise ValueError("subsampling needs one (XRsiz, YRsiz) per component")
        if rs[0] != (1, 1):
            raise ValueError("component 0 must be full resolution (XRsiz=YRsiz=1)")
        if mct and any(v != (1, 1) for v in rs):
            raise ValueError("mct requires same-resolution components")
        h, w = comps[0].shape
        _xo0, _yo0 = image_offset
        for c, ((xr, yr), p) in enumerate(zip(rs, comps)):
            if not (1 <= xr <= 255 and 1 <= yr <= 255):
                raise ValueError("XRsiz/YRsiz must be in [1, 255]")
            want = (
                -(-(_yo0 + h) // yr) - (-(-_yo0 // yr)),
                -(-(_xo0 + w) // xr) - (-(-_xo0 // xr)),
            )
            if p.shape != want:
                raise ValueError(
                    f"component {c} shape {p.shape} != ceil-divided {want}"
                )
    else:
        a = np.asarray(img)
        if a.ndim == 2:
            comps = [a]
        elif a.ndim == 3:
            comps = [a[:, :, c] for c in range(a.shape[2])]
        else:
            raise ValueError("jp2_encode: (h, w) or (h, w, C) input only")
        h, w = comps[0].shape
        rs = [(1, 1)] * len(comps)
    ncomp = len(comps)
    if not 1 <= ncomp <= 255:
        raise ValueError("1..255 components")
    cbw_e, cbh_e = (cblk, cblk) if isinstance(cblk, int) else cblk
    for v in (cbw_e, cbh_e):
        if v & (v - 1) or not 4 <= v <= 1024:
            raise ValueError("code-block dims must be powers of two >= 4")
    if cbw_e * cbh_e > 4096:
        raise ValueError("code-block area may not exceed 4096 samples (T.800)")
    cblk = (cbw_e, cbh_e)
    if precincts is not None:
        if len(precincts) != levels + 1:
            raise ValueError("precincts needs levels + 1 (PPx, PPy) entries")
        for r, (px, py) in enumerate(precincts):
            if not (0 <= px <= 15 and 0 <= py <= 15):
                raise ValueError("precinct exponents must be in [0, 15]")
            if r > 0 and (px < 1 or py < 1):
                raise ValueError("PPx/PPy must be >= 1 for r > 0")
    if mct and ncomp < 3:
        raise ValueError("mct needs at least 3 components")
    if not 1 <= layers <= 65535:
        raise ValueError("layers must be in [1, 65535]")
    xo, yo = image_offset
    xto, yto = tile_offset if tile_offset is not None else (0, 0)
    xs, ys = xo + w, yo + h  # Xsiz/Ysiz: reference-grid extents
    xt, yt = tile if tile is not None else (xs - xto, ys - yto)
    if xt < 1 or yt < 1:
        raise ValueError("tile dims must be >= 1")
    if not (0 <= xto <= xo < xto + xt and 0 <= yto <= yo < yto + yt):
        raise ValueError(
            "offsets must satisfy 0 <= XTOsiz <= XOsiz < XTOsiz + XTsiz"
        )
    ntx, nty = _ceildiv(xs - xto, xt), _ceildiv(ys - yto, yt)
    tiles = [  # absolute tile boxes clipped to the image area
        (
            max(xto + tx * xt, xo), max(yto + ty * yt, yo),
            min(xto + (tx + 1) * xt, xs), min(yto + (ty + 1) * yt, ys),
        )
        for ty in range(nty)
        for tx in range(ntx)
    ]
    amin = min(int(c.min()) for c in comps)
    amax = max(int(c.max()) for c in comps)
    signed = amin < 0
    if signed:
        depth = 2
        while not (-(1 << (depth - 1)) <= amin and amax < (1 << (depth - 1))):
            depth += 1
    else:
        depth = max(amax.bit_length(), 1)

    pp = precincts if precincts is not None else [(15, 15)] * (levels + 1)
    if not 0 <= progression <= 4:
        raise ValueError("progression must be 0..4 (LRCP/RLCP/RPCL/PCRL/CPRL)")

    # per-tile, per-component subband decomposition (each tile is an
    # independent DWT over its own extent — T.800 tiles do not share
    # extension samples). All boxes ABSOLUTE; component input arrays are
    # indexed relative to the component image box origin.
    comp_img = [
        (_ceildiv(xo, xr), _ceildiv(yo, yr), _ceildiv(xs, xr), _ceildiv(ys, yr))
        for xr, yr in rs
    ]

    subs_by_tile = []
    tile_comp_boxes = []  # per tile: [(cx0, cy0, cx1, cy1)] per component
    for tx0, ty0, tx1, ty1 in tiles:
        planes = []
        boxes_c = []
        for comp, (xr, yr), (ix0, iy0, _, _) in zip(comps, rs, comp_img):
            cx0, cy0 = _ceildiv(tx0, xr), _ceildiv(ty0, yr)
            cx1, cy1 = _ceildiv(tx1, xr), _ceildiv(ty1, yr)
            boxes_c.append((cx0, cy0, cx1, cy1))
            coefs = comp[cy0 - iy0 : cy1 - iy0, cx0 - ix0 : cx1 - ix0].astype(
                np.float64 if irreversible else np.int64
            )
            if not signed:
                coefs = coefs - (1 << (depth - 1))  # DC level shift
            planes.append(coefs)
        tile_comp_boxes.append(boxes_c)
        if mct:
            xf = _ict_fwd if irreversible else _rct_fwd
            planes[0], planes[1], planes[2] = xf(planes[0], planes[1], planes[2])
        subs_by_c = []
        for coefs, cbox in zip(planes, boxes_c):
            subs = {}
            cur = coefs
            bx0, by0, bx1, by1 = cbox
            fwd = _fwd97_2d_box if irreversible else _fwd53_2d_box
            for lvl in range(1, levels + 1):
                ll, hl, lh, hh = fwd(cur, (bx0, by0, bx1, by1))
                subs[(lvl, "HL")] = hl
                subs[(lvl, "LH")] = lh
                subs[(lvl, "HH")] = hh
                cur = ll
                bx0, by0 = (bx0 + 1) // 2, (by0 + 1) // 2
                bx1, by1 = (bx1 + 1) // 2, (by1 + 1) // 2
            subs[(levels, "LL")] = cur
            subs_by_c.append(subs)
        subs_by_tile.append(subs_by_c)

    # quantize (irreversible) / pass through (reversible), then shared QCD
    # parameters across components AND tiles: reversible eps is the max
    # band magnitude bit-length; irreversible (eps, mu) encode the shared
    # absolute step per band (per-block zero-bitplane counts absorb the
    # per-block slack either way). Band STRUCTURE (count/order) is tile-
    # independent; only dims vary, so the first tile indexes the QCD.
    band_res0 = _subband_boxes(tiles[0], levels)
    band_seq = []  # QCD-ordered (lvl, band) pairs
    for r, bands in enumerate(band_res0):
        lvl = levels if r == 0 else levels - r + 1
        band_seq.extend((lvl, band) for band, *_ in bands)
    if irreversible:
        steps_by_c = (
            list(quant_step)
            if isinstance(quant_step, (list, tuple))
            else [quant_step] * ncomp
        )
        if len(steps_by_c) != ncomp:
            raise ValueError("quant_step sequence needs one entry per component")
        if quant_style not in ("expounded", "derived"):
            raise ValueError("quant_style must be 'expounded' or 'derived'")
        qparams_by_c = []  # per comp: (exps, mants, SPqcd/SPqcc body bytes)
        guard_need = 1
        for c in range(ncomp):
            if quant_style == "derived":
                e0, m0 = _quant_params(steps_by_c[c], depth)  # LL gain is 0
                exps_c = _derived_exps(e0, len(band_seq))
                mants_c = [m0] * len(band_seq)
                spq = struct.pack(">H", (e0 << 11) | m0)
            else:
                exps_c, mants_c = [], []
                for lvl, band in band_seq:
                    e, m = _quant_params(steps_by_c[c], depth + _GAIN97[band])
                    exps_c.append(e)
                    mants_c.append(m)
                spq = b"".join(
                    struct.pack(">H", (e << 11) | m)
                    for e, m in zip(exps_c, mants_c)
                )
            for b, (lvl, band) in enumerate(band_seq):
                rb = depth + _GAIN97[band]
                step = _quant_step_of(exps_c[b], mants_c[b], rb)
                maxq = 0
                for subs_by_c in subs_by_tile:
                    arr = subs_by_c[c][(lvl, band)]
                    q = np.trunc(arr / step).astype(np.int64)
                    subs_by_c[c][(lvl, band)] = q
                    if q.size:
                        maxq = max(maxq, int(np.abs(q).max()))
                guard_need = max(guard_need, maxq.bit_length() - exps_c[b] + 1)
            qparams_by_c.append((exps_c, mants_c, spq))
        guard = max(_GUARD, guard_need)
        if guard > 7:
            raise ValueError("quant_step too small for the data's dynamic range")
        mbs_by_c = [
            [guard + e - 1 for e in exps_c] for exps_c, _, _ in qparams_by_c
        ]
    else:
        guard = _GUARD
        eps = []
        for lvl, band in band_seq:
            mx = 0
            for subs_by_c in subs_by_tile:
                for subs in subs_by_c:
                    arr = subs[(lvl, band)]
                    if arr.size:
                        mx = max(mx, int(np.abs(arr).max()))
            eps.append(max(mx.bit_length(), 1))
        mbs_by_c = [[guard + e - 1 for e in eps]] * ncomp

    bodies = []
    for tbox, subs_by_c, boxes_c in zip(tiles, subs_by_tile, tile_comp_boxes):
        band_res_c = [_subband_boxes(bx, levels) for bx in boxes_c]
        res_boxes_c = [_resolution_boxes(bx, levels) for bx in boxes_c]
        states = {}  # (r, c, precinct_index) -> _PrecinctEncState
        for c, subs in enumerate(subs_by_c):
            for r, bands in enumerate(band_res_c[c]):
                lvl = levels if r == 0 else levels - r + 1
                ppx, ppy = pp[r]
                mbs = {
                    band: mbs_by_c[c][_qcd_index(band_res_c[c], r, band)]
                    for band, *_ in bands
                }
                for k, precinct in enumerate(
                    _precinct_layout_box(r, bands, ppx, ppy, cblk, res_boxes_c[c][r])
                ):
                    coded_bands = []
                    for band, nbx, nby, blocks in precinct:
                        arr = subs[(lvl, band)]
                        coded = []
                        for bx, by, x0, y0, cw, ch in blocks:
                            blkc = arr[y0 : y0 + ch, x0 : x0 + cw]
                            if termall or bypass or reset or causal or segsym:
                                data, npass, nplanes = tier1_encode_segmented(
                                    blkc, band, termall, bypass,
                                    reset, causal, segsym,
                                )
                            else:
                                data, npass, nplanes = _t1_encode(blkc, band)
                            coded.append((bx, by, data, npass, mbs[band] - nplanes))
                        coded_bands.append((band, nbx, nby, coded))
                    states[(r, c, k)] = _PrecinctEncState(
                        coded_bands, layers,
                        termall or reset or causal or segsym, bypass,
                    )
        body = bytearray()
        nsop = 0
        for l, r, c, k in _packet_order_box(
            progression, levels, pp, res_boxes_c, tbox, ncomp, layers, rs
        ):
            if sop:  # A.8.1: 6-byte SOP with a mod-65536 packet counter
                body += b"\xff\x91" + struct.pack(">HH", 4, nsop & 0xFFFF)
                nsop += 1
            body += states[(r, c, k)].emit(l, eph)
        bodies.append(bytes(body))

    out = bytearray()
    out += b"\xff\x4f"  # SOC
    ssiz = (depth - 1) | (0x80 if signed else 0)
    out += b"\xff\x51" + struct.pack(
        ">HHIIIIIIIIH", 38 + 3 * ncomp, 0, xs, ys, xo, yo, xt, yt, xto, yto, ncomp
    ) + b"".join(bytes([ssiz, xr, yr]) for xr, yr in rs)
    xcb = cblk[0].bit_length() - 3  # log2(cbw) - 2
    ycb = cblk[1].bit_length() - 3
    scod = (1 if precincts is not None else 0) | (2 if sop else 0) | (4 if eph else 0)
    spcod_pp = bytes((px | (py << 4)) for px, py in pp) if precincts is not None else b""
    cstyle = (
        (1 if bypass else 0) | (2 if reset else 0) | (4 if termall else 0)
        | (8 if causal else 0) | (32 if segsym else 0)
    )
    out += b"\xff\x52" + struct.pack(
        ">HBBHB", 12 + len(spcod_pp), scod, progression, layers, 1 if mct else 0
    ) + bytes([levels, xcb, ycb, cstyle, 0 if irreversible else 1]) + spcod_pp
    if irreversible:
        style_bits = 1 if quant_style == "derived" else 2
        spqcd = qparams_by_c[0][2]
        out += b"\xff\x5c" + struct.pack(
            ">HB", 3 + len(spqcd), (guard << 5) | style_bits
        ) + spqcd
        for c in range(1, ncomp):  # QCC only where the override differs
            spq = qparams_by_c[c][2]
            if spq == spqcd:
                continue
            out += b"\xff\x5d" + struct.pack(
                ">HBB", 4 + len(spq), c, (guard << 5) | style_bits
            ) + spq
    else:
        out += b"\xff\x5c" + struct.pack(">HB", 3 + len(eps), guard << 5) + bytes(
            e << 3 for e in eps
        )
    for t, body in enumerate(bodies):
        psot = 12 + 2 + len(body)
        out += b"\xff\x90" + struct.pack(">HHIBB", 10, t, psot, 0, 1)
        out += b"\xff\x93" + body
    out += b"\xff\xd9"
    return bytes(out)


def _layer_split(data: bytes, npass: int, nlayers: int):
    """Partition a code-block's passes and bytes across layers: layer l
    gets passes (P·l//L, P·(l+1)//L] and the byte range split pro-rata at
    the same fractions. Any monotone byte partition decodes identically
    when all layers are delivered (the decoder concatenates a block's
    per-layer chunks before running tier-1), so pro-rata is sufficient —
    near-optimal R-D truncation points only matter to truncating
    transcoders, which this codec does not implement."""
    parts = []
    prev_p = prev_b = 0
    for l in range(nlayers):
        p = npass * (l + 1) // nlayers
        b = len(data) if l == nlayers - 1 else (len(data) * p // npass if npass else 0)
        parts.append((p - prev_p, data[prev_b:b]))
        prev_p, prev_b = p, b
    return parts


def _layer_split_segments(segments, nlayers: int):
    """Assign whole terminated segments [(bytes, npasses)] to layers,
    pass counts as even as possible (termall/bypass layer boundaries must
    land on segment boundaries — a codeword segment cannot span layers)."""
    total = sum(n for _, n in segments)
    parts: list = [[] for _ in range(nlayers)]
    si = 0
    acc = 0
    for l in range(nlayers):
        target = total if l == nlayers - 1 else total * (l + 1) // nlayers
        while si < len(segments) and acc < target:
            parts[l].append(segments[si])
            acc += segments[si][1]
            si += 1
    return parts


class _PrecinctEncState:
    """Per-precinct packet emitter across layers: the inclusion/zero-
    bitplane tag trees and per-block lblock state persist from layer to
    layer (B.10.4-8). For one layer this reproduces the round-5 single-
    packet bytes exactly (inclusion value = first contributing layer, 0,
    or L for never-included blocks — threshold 1 sees 0 vs 1)."""

    def __init__(
        self, coded_bands, nlayers: int, termall: bool = False, bypass: bool = False
    ) -> None:
        self.nlayers = nlayers
        self.modes = termall or bypass
        self.bands = []
        for band, nbx, nby, coded in coded_bands:
            if not coded:
                continue
            inc = _TagTree(nbx, nby, encoder=True)
            zb = _TagTree(nbx, nby, encoder=True)
            blocks = []
            for bx, by, data, npass, zbp in coded:
                if self.modes:
                    # data is [(segment bytes, seg passes)]: layers snap
                    # to whole segments, pass counts as even as possible
                    parts = _layer_split_segments(data, nlayers)
                else:
                    parts = _layer_split(data, npass, nlayers)
                first = next(
                    (l for l, part in enumerate(parts) if part[0] > 0), None
                ) if not self.modes else next(
                    (l for l, segs in enumerate(parts) if segs), None
                )
                inc.set_value(bx, by, nlayers if first is None else first)
                zb.set_value(bx, by, max(zbp, 0))
                blocks.append(
                    {"bx": bx, "by": by, "parts": parts, "first": first,
                     "included": False, "lblock": 3}
                )
            inc.finalize()
            zb.finalize()
            self.bands.append((inc, zb, blocks))

    def emit(self, layer: int, eph: bool = False) -> bytes:
        bw = _HdrWriter()
        chunks = []
        if self.modes:
            nonempty = any(
                blk["parts"][layer] for _, _, blocks in self.bands for blk in blocks
            )
        else:
            nonempty = any(
                blk["parts"][layer][0] > 0
                for _, _, blocks in self.bands
                for blk in blocks
            )
        bw.put(1 if nonempty else 0)
        if nonempty:
            for inc, zb, blocks in self.bands:
                for blk in blocks:
                    if self.modes:
                        segs = blk["parts"][layer]
                        npass_l = sum(n for _, n in segs)
                    else:
                        npass_l, chunk = blk["parts"][layer]
                        segs = [(chunk, npass_l)]
                    if not blk["included"]:
                        inc.encode(bw, blk["bx"], blk["by"], layer + 1)
                        if blk["first"] is None or blk["first"] > layer:
                            continue
                        zb.encode(bw, blk["bx"], blk["by"], _INF)
                        blk["included"] = True
                    else:
                        bw.put(1 if npass_l > 0 else 0)
                        if npass_l == 0:
                            continue
                    _npasses_write(bw, npass_l)
                    # one lblock comma code, then one length per segment
                    # using lblock + floor(log2(segment passes)) bits each
                    # (B.10.7.1); the plain case is the 1-segment instance
                    def _fits(lb):
                        return all(
                            len(d) < (1 << (lb + n.bit_length() - 1))
                            for d, n in segs
                        )
                    while not _fits(blk["lblock"]):
                        bw.put(1)
                        blk["lblock"] += 1
                    bw.put(0)
                    for d, n in segs:
                        bw.put_bits(len(d), blk["lblock"] + n.bit_length() - 1)
                        chunks.append(d)
        # EPH terminates the packet HEADER (A.8.2), before the bodies
        return bw.flush() + (b"\xff\x92" if eph else b"") + b"".join(chunks)


def jp2_wrap(codestream: bytes) -> bytes:
    """Wrap a raw codestream in the standard JP2 file container
    (ISO 15444-1 Annex I): signature box, ftyp, jp2h (ihdr + colr),
    jp2c. Dims/depth/components are read from the codestream's SIZ so
    the header boxes always agree with the payload. jp2_decode accepts
    both forms; wild tooling expects the container for `.jp2` files."""
    if codestream[:2] != b"\xff\x4f":
        raise ValueError("jp2_wrap takes a raw codestream (SOC first)")
    at = codestream.index(b"\xff\x51")
    _, xs, ys, xo_, yo_, _, _, _, _, csiz = struct.unpack(
        ">HIIIIIIIIH", codestream[at + 4 : at + 40]
    )
    xs, ys = xs - xo_, ys - yo_  # ihdr carries the image-AREA dims
    ssiz = codestream[at + 40]

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    sig = box(b"jP  ", b"\x0d\x0a\x87\x0a")
    ftyp = box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
    ihdr = box(
        b"ihdr", struct.pack(">IIHBBBB", ys, xs, csiz, ssiz, 7, 0, 0)
    )
    # colr: enumerated colourspace — 17 greyscale, 16 sRGB (3+ comps)
    colr = box(
        b"colr", bytes([1, 0, 0]) + struct.pack(">I", 16 if csiz >= 3 else 17)
    )
    jp2h = box(b"jp2h", ihdr + colr)
    return sig + ftyp + jp2h + box(b"jp2c", codestream)


def jp2_decode(buf: bytes) -> np.ndarray:
    """Decode a single-tile codestream (raw, or the jp2c box of a JP2
    container) → int64 array: (h, w) for one component, (h, w, C) for
    multi-component. Reversible 5/3 decodes are bit-exact; irreversible
    9/7 decodes dequantize at the midpoint (r=0.5) and round."""
    cs = buf
    if buf[:4] == b"\x00\x00\x00\x0c" and buf[4:8] == b"jP  ":
        off = 0
        cs = None
        while off + 8 <= len(buf):
            ln = int.from_bytes(buf[off : off + 4], "big")
            btype = buf[off + 4 : off + 8]
            hdr = 8
            if ln == 1:
                ln = int.from_bytes(buf[off + 8 : off + 16], "big")
                hdr = 16
            if btype == b"jp2c":
                cs = buf[off + hdr :]
                break
            if ln == 0:
                break
            off += max(ln, hdr)
        if cs is None:
            raise ValueError("no jp2c codestream box in JP2 container")
    if cs[:2] != b"\xff\x4f":
        raise ValueError("not a JPEG-2000 codestream (missing SOC)")

    pos = 2
    w = h = depth = levels = cblk = None
    xt = yt = None
    ncomp = 1
    prog_order = 0
    signed = False
    irreversible = False
    use_mct = False
    use_sop = use_eph = False
    use_termall = use_bypass = False
    use_reset = use_causal = use_segsym = False
    nlayers = 1
    rs: list = []
    qcd_seg: bytes | None = None
    qcc_segs: dict[int, bytes] = {}
    bodies: dict[int, bytes] = {}  # Isot -> concatenated tile-part data
    while pos + 4 <= len(cs):
        marker = cs[pos : pos + 2]
        if marker == b"\xff\xd9":
            break
        (ln,) = struct.unpack(">H", cs[pos + 2 : pos + 4])
        seg = cs[pos + 4 : pos + 2 + ln]
        if marker == b"\xff\x51":  # SIZ
            _, xs, ys, xo, yo, xt, yt, xto, yto, csiz = struct.unpack(
                ">HIIIIIIIIH", seg[:36]
            )
            if not (xto <= xo < xto + xt and yto <= yo < yto + yt):
                raise ValueError(
                    "SIZ offsets violate XTOsiz <= XOsiz < XTOsiz + XTsiz"
                )
            w, h = xs, ys  # reference-grid EXTENT (image area starts at xo,yo)
            ncomp = csiz
            ssizs = set()
            rs = []
            for c in range(csiz):
                sz, xr, yr = seg[36 + 3 * c : 39 + 3 * c]
                if xr < 1 or yr < 1:
                    raise ValueError("XRsiz/YRsiz must be >= 1")
                rs.append((xr, yr))
                ssizs.add(sz)
            if len(ssizs) != 1:
                raise NotImplementedError("components with differing bit depths")
            ssiz = ssizs.pop()
            depth = (ssiz & 0x7F) + 1
            signed = bool(ssiz & 0x80)
        elif marker == b"\xff\x52":  # COD
            scod = seg[0]
            prog, layers, mct = struct.unpack(">BHB", seg[1:5])
            if scod & ~0x07:
                raise ValueError(f"bad COD Scod flags {scod:#x}")
            use_sop = bool(scod & 0x02)
            use_eph = bool(scod & 0x04)
            if prog > 4:
                raise ValueError(f"bad progression order {prog}")
            prog_order = prog
            if layers < 1:
                raise ValueError("COD declares zero layers")
            nlayers = layers
            if mct not in (0, 1):
                raise ValueError(f"bad COD MCT flag {mct}")
            use_mct = mct == 1
            levels = seg[5]
            xcb, ycb, cstyle, transform = seg[6], seg[7], seg[8], seg[9]
            if cstyle & ~0x3F:
                raise ValueError(f"bad code-block style byte {cstyle:#x}")
            use_bypass = bool(cstyle & 0x01)
            use_reset = bool(cstyle & 0x02)
            use_termall = bool(cstyle & 0x04)
            use_causal = bool(cstyle & 0x08)
            # 0x10 predictable termination: termination style is an
            # encoder property — any terminated segment decodes the same
            use_segsym = bool(cstyle & 0x20)
            irreversible = transform == 0
            cblk = (1 << (xcb + 2), 1 << (ycb + 2))  # rectangular allowed
            if scod & 0x01:
                ppb = seg[10 : 10 + levels + 1]
                pp = [(b & 0x0F, b >> 4) for b in ppb]
            else:
                pp = None
        elif marker == b"\xff\x5c":  # QCD (parsed after the loop: needs levels)
            qcd_seg = seg
        elif marker == b"\xff\x5d":  # QCC per-component override
            if ncomp < 257:
                qcc_segs[seg[0]] = seg[1:]
            else:
                (cq,) = struct.unpack(">H", seg[:2])
                qcc_segs[cq] = seg[2:]
        elif marker == b"\xff\x90":  # SOT (tile-parts concatenate per Isot)
            isot, psot, _tp, _tn = struct.unpack(">HIBB", seg[:8])
            sod_at = pos + 2 + ln
            if cs[sod_at : sod_at + 2] != b"\xff\x93":
                raise ValueError("expected SOD after SOT")
            end = pos + psot if psot else len(cs) - 2
            bodies[isot] = bodies.get(isot, b"") + cs[sod_at + 2 : end]
            pos = end
            continue
        pos += 2 + ln

    if None in (w, h, depth, levels, cblk) or qcd_seg is None or not bodies:
        raise ValueError("incomplete codestream (missing SIZ/COD/QCD/SOT)")
    nbands = 3 * levels + 1
    qinfo = []  # per component: (guard, exps, mants)
    for c in range(ncomp):
        qinfo.append(_parse_quant(qcc_segs.get(c, qcd_seg), nbands))
    if irreversible and any(m is None for _, _, m in qinfo):
        raise NotImplementedError("9/7 transform requires quantized (eps, mu) steps")

    pp_list = pp if pp is not None else [(15, 15)] * (levels + 1)
    subsampled = any(v != (1, 1) for v in rs)
    if subsampled and use_mct:
        raise NotImplementedError("MCT with subsampled components")
    # tile grid anchors at (XTOsiz, YTOsiz); image area is [xo, w) x [yo, h)
    ntx = _ceildiv(w - xto, xt)
    nty = _ceildiv(h - yto, yt)
    # per-component canvases over the component's own image box
    # [ceil(xo/xr), ceil(Xsiz/xr)); replicated to the reference grid at
    # the end (identity when XRsiz=YRsiz=1 and offsets are 0)
    comp_img = [
        (_ceildiv(xo, xr), _ceildiv(yo, yr), _ceildiv(w, xr), _ceildiv(h, yr))
        for xr, yr in rs
    ]
    canvases = [
        np.zeros((cy1 - cy0, cx1 - cx0), np.int64)
        for cx0, cy0, cx1, cy1 in comp_img
    ]
    for isot, body in bodies.items():
        if not 0 <= isot < ntx * nty:
            raise ValueError(f"tile index {isot} out of the {ntx}x{nty} grid")
        tx0 = max(xto + (isot % ntx) * xt, xo)
        ty0 = max(yto + (isot // ntx) * yt, yo)
        tx1 = min(xto + ((isot % ntx) + 1) * xt, w)
        ty1 = min(yto + ((isot // ntx) + 1) * yt, h)
        boxes = [
            (_ceildiv(tx0, xr), _ceildiv(ty0, yr),
             _ceildiv(tx1, xr), _ceildiv(ty1, yr))
            for xr, yr in rs
        ]
        planes = _decode_tile(
            body, (tx0, ty0, tx1, ty1), levels, cblk, pp_list, prog_order,
            ncomp, qinfo, depth, signed, irreversible, use_mct, nlayers,
            use_sop, use_eph, use_termall, use_bypass,
            boxes,
            use_reset, use_causal, use_segsym, rs,
        )
        for cv, (cx0, cy0, cx1, cy1), (ix0, iy0, _, _), cur in zip(
            canvases, boxes, comp_img, planes
        ):
            cv[cy0 - iy0 : cy1 - iy0, cx0 - ix0 : cx1 - ix0] = cur
    full = []
    for cv, (xr, yr), (ix0, iy0, _, _) in zip(canvases, rs, comp_img):
        if (xr, yr) != (1, 1) or (xo, yo) != (0, 0):
            # map every image-area reference sample to its component
            # sample (clamped replication at a ragged offset edge)
            iy = np.clip(np.arange(yo, h) // yr - iy0, 0, cv.shape[0] - 1)
            ix = np.clip(np.arange(xo, w) // xr - ix0, 0, cv.shape[1] - 1)
            cv = cv[np.ix_(iy, ix)]
        full.append(cv)
    if ncomp == 1:
        return full[0]
    return np.stack(full, axis=2)


def _decode_tile(
    body: bytes,
    tile_box: tuple,
    levels: int,
    cblk: int,
    pp_list: list[tuple[int, int]],
    prog_order: int,
    ncomp: int,
    qinfo: list[tuple[int, list[int], list[int] | None]],
    depth: int,
    signed: bool,
    irreversible: bool,
    use_mct: bool = False,
    nlayers: int = 1,
    use_sop: bool = False,
    use_eph: bool = False,
    use_termall: bool = False,
    use_bypass: bool = False,
    comp_boxes: list | None = None,
    use_reset: bool = False,
    use_causal: bool = False,
    use_segsym: bool = False,
    rs: list | None = None,
) -> list[np.ndarray]:
    """Decode one tile's packet body into reconstructed int64 planes,
    one per component. `tile_box` is the tile's ABSOLUTE reference-grid
    box (tx0, ty0, tx1, ty1); `comp_boxes` the per-component absolute
    tile-component boxes (ceil-divided by the subsampling) — all
    geometry (sub-band boxes, precinct anchoring, code-block anchoring,
    DWT parity) runs on absolute coordinates, so nonzero
    XOsiz/YOsiz/XTOsiz/YTOsiz decode with the same code path as the
    zero-offset case.

    Packets are walked in full progression order over (layer, r, c,
    precinct); per-precinct inclusion/zero-bitplane tag trees and
    per-block (included, lblock) state persist across layers, and a
    block's per-layer chunks are concatenated and tier-1-decoded once
    with its total pass count after all packets are read — so any layer
    partition of a block's codeword segment reconstructs identically."""
    if comp_boxes is None:
        comp_boxes = [tile_box] * ncomp
    band_res_c = [_subband_boxes(bx, levels) for bx in comp_boxes]
    res_boxes_c = [_resolution_boxes(bx, levels) for bx in comp_boxes]
    layouts_c = [
        [
            _precinct_layout_box(
                r, bands, pp_list[r][0], pp_list[r][1], cblk, res_boxes_c[c][r]
            )
            for r, bands in enumerate(band_res_c[c])
        ]
        for c in range(ncomp)
    ]
    arrs = [
        [
            {
                band: np.zeros((by1 - by0, bx1 - bx0), np.int64)
                for band, bx0, by0, bx1, by1 in bands
            }
            for bands in band_res_c[c]
        ]
        for c in range(ncomp)
    ]
    states: dict = {}  # (r, c, k) -> per-band [(inc, zb, {(bx,by): blkstate})]
    blocks_seen: list = []
    p = 0
    for l, r, c, k in _packet_order_box(
        prog_order, levels, pp_list, res_boxes_c, tile_box, ncomp, nlayers, rs
    ):
        precinct = layouts_c[c][r][k]
        st = states.get((r, c, k))
        if st is None:
            st = []
            for band, nbx, nby, blocks in precinct:
                if not blocks:
                    st.append(None)
                    continue
                bst = {}
                for bx, by, x0, y0, cw, ch in blocks:
                    bst[(bx, by)] = {
                        "included": False, "lblock": 3, "npass": 0,
                        "chunks": [], "zbp": 0, "band": band, "r": r, "c": c,
                        "x0": x0, "y0": y0, "cw": cw, "ch": ch,
                    }
                    blocks_seen.append(bst[(bx, by)])
                st.append(
                    (_TagTree(nbx, nby, encoder=False),
                     _TagTree(nbx, nby, encoder=False), bst)
                )
            states[(r, c, k)] = st
        if use_sop and body[p : p + 2] == b"\xff\x91":
            p += 6  # SOP resync marker (Lsop=4 + Nsop) before the packet
        br = _HdrReader(body, p)
        todo = []
        if br.get():
            for bandst, (band, nbx, nby, blocks) in zip(st, precinct):
                if bandst is None:
                    continue
                inc, zb, bst = bandst
                for bx, by, x0, y0, cw, ch in blocks:
                    s = bst[(bx, by)]
                    if not s["included"]:
                        if not inc.decode(br, bx, by, l + 1):
                            continue
                        t = 1
                        while not zb.decode(br, bx, by, t):
                            t += 1
                        s["zbp"] = zb.value(bx, by)
                        s["included"] = True
                    else:
                        if not br.get():
                            continue
                    npass_l = _npasses_read(br)
                    while br.get():
                        s["lblock"] += 1
                    if use_termall or use_bypass or use_reset or use_causal or use_segsym:
                        # one length per terminated segment (B.10.7.1-2);
                        # reset/causal/segsym alone leave one segment per
                        # layer but still route through the segment list
                        # (their tier-1 decode needs the flags)
                        counts = _segment_pass_counts(
                            s["npass"], npass_l, use_termall, use_bypass
                        )
                        lens = [
                            br.get_bits(s["lblock"] + n.bit_length() - 1)
                            for n in counts
                        ]
                        s["npass"] += npass_l
                        todo.append((s, lens, counts))
                    else:
                        dlen = br.get_bits(s["lblock"] + npass_l.bit_length() - 1)
                        s["npass"] += npass_l
                        todo.append((s, [dlen], [npass_l]))
        p = br.align()
        if use_eph:
            if body[p : p + 2] != b"\xff\x92":
                raise ValueError("EPH declared but missing after packet header")
            p += 2
        for s, lens, counts in todo:
            for dlen, n in zip(lens, counts):
                s["chunks"].append((body[p : p + dlen], n))
                p += dlen
    for s in blocks_seen:
        if s["npass"] == 0:
            continue
        band = s["band"]
        guard_c, exps_c, _ = qinfo[s["c"]]
        mb = guard_c + exps_c[_qcd_index(band_res_c[s["c"]], s["r"], band)] - 1
        if use_termall or use_bypass or use_reset or use_causal or use_segsym:
            dec = tier1_decode_segmented(
                s["chunks"], s["ch"], s["cw"], band, mb - s["zbp"], s["npass"],
                use_bypass, use_reset, use_causal, use_segsym,
            )
        else:
            dec = _t1_decode(
                b"".join(d for d, _ in s["chunks"]),
                s["ch"], s["cw"], band, mb - s["zbp"], s["npass"],
            )
        arrs[s["c"]][s["r"]][band][
            s["y0"] : s["y0"] + s["ch"], s["x0"] : s["x0"] + s["cw"]
        ] = dec

    planes = []
    for c in range(ncomp):
        box_chain = []
        bx0, by0, bx1, by1 = comp_boxes[c]
        for _ in range(levels):
            box_chain.append((bx0, by0, bx1, by1))
            bx0, by0 = (bx0 + 1) // 2, (by0 + 1) // 2
            bx1, by1 = (bx1 + 1) // 2, (by1 + 1) // 2
        _, exps_c, mants_c = qinfo[c]
        subs = {}
        for r, bands in enumerate(band_res_c[c]):
            lvl = levels if r == 0 else levels - r + 1
            for band, *_ in bands:
                q = arrs[c][r][band]
                if irreversible:
                    rb = depth + _GAIN97[band]
                    i = _qcd_index(band_res_c[c], r, band)
                    step = _quant_step_of(exps_c[i], mants_c[i], rb)
                    # midpoint (r=0.5) dequantization
                    subs[(lvl, band)] = np.sign(q) * (np.abs(q) + 0.5) * step * (
                        q != 0
                    )
                else:
                    subs[(lvl, band)] = q
        cur = subs[(levels, "LL")]
        inv = _inv97_2d_box if irreversible else _inv53_2d_box
        for lvl in range(levels, 0, -1):
            cur = inv(
                cur, subs[(lvl, "HL")], subs[(lvl, "LH")], subs[(lvl, "HH")],
                box_chain[lvl - 1],
            )
        planes.append(cur)
    if use_mct:  # inverse component transform before the level un-shift
        if ncomp < 3:
            raise ValueError("COD declares MCT but SIZ has fewer than 3 components")
        xf = _ict_inv if irreversible else _rct_inv
        planes[0], planes[1], planes[2] = xf(planes[0], planes[1], planes[2])
    out = []
    for cur in planes:
        if not signed:
            cur = cur + (1 << (depth - 1))
        if irreversible:
            cur = np.rint(cur).astype(np.int64)
            lo, hi = (
                (-(1 << (depth - 1)), (1 << (depth - 1)) - 1)
                if signed
                else (0, (1 << depth) - 1)
            )
            cur = np.clip(cur, lo, hi)
        out.append(cur)
    return out


# ---------------------------------------------------------------------------
# tier-1 dispatch: the compiled kernel (jp2_t1.c via jp2_native, 70-150×
# the reference loop) when a C compiler is present, else the readable
# reference above. The two are bit-exact twins (tests/test_jp2.py pins
# parity on randomized blocks, truncated streams and encoder byte output
# included, and covers the reference fallback of this dispatch).
# ---------------------------------------------------------------------------


def _t1_decode(
    data: bytes, h: int, w: int, band: str, nplanes: int, npasses: int
) -> np.ndarray:
    from . import jp2_native

    if jp2_native.available():
        return jp2_native.tier1_decode_c(data, h, w, band, nplanes, npasses)
    return tier1_decode(data, h, w, band, nplanes, npasses)


def _t1_encode(coefs: np.ndarray, band: str) -> tuple[bytes, int, int]:
    from . import jp2_native

    if jp2_native.available():
        return jp2_native.tier1_encode_c(coefs, band)
    return tier1_encode(coefs, band)
