"""Lossy WebP (VP8 key frame) decoder — RFC 6386, from scratch.

Closes the last plausibly-hit codec stub (sources/images.py round-4
list): libwebp lossy files are single VP8 key frames, and this module
decodes them bit-exactly at the YUV level against the system libwebp
(tests/test_vp8.py — same role libwebp plays for the VP8L decoder in
webp.py). Implements the boolean arithmetic decoder, frame/segment/
filter/quantizer headers, keyframe intra mode parsing (16x16 and the
ten 4x4 B_PRED sub-modes with context-dependent probabilities),
DCT-coefficient token decoding across token partitions, dequantization,
the exact integer 4x4 IDCT and Walsh-Hadamard transform, intra
prediction with the 127/129 border conventions, and the in-loop
deblocking filter (simple and normal).

The large spec constant tables (default/update coefficient
probabilities, keyframe bmode probabilities, dc/ac quantizer lookups)
live in vp8_tables.py, generated by scripts/extract_vp8_tables.py (see
its docstring for provenance); small trees/tables are inline below.

vp8_decode_yuv(data) -> (Y, U, V) uint8 planes (the bit-exact surface);
vp8_decode_rgb(data) -> (h, w, 3) uint8 via BT.601 full-range with
bilinear ("fancy"-equivalent simple) chroma upsampling — documented as
non-normative (RFC 6386 defines output in YUV).
"""

from __future__ import annotations

import numpy as np

from .vp8_tables import (
    AC_QLOOKUP,
    COEFF_PROBS,
    COEFF_UPDATE_PROBS,
    DC_QLOOKUP,
    KF_BMODE_PROBS,
)

# ---------------------------------------------------------------------------
# small spec tables (RFC 6386 §8, §11, §13)
# ---------------------------------------------------------------------------

# intra 16x16 / chroma modes
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = range(5)
# intra 4x4 sub-modes
(B_DC, B_TM, B_VE, B_HE, B_LD, B_RD, B_VR, B_VL, B_HD, B_HU) = range(10)

KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
UV_MODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UV_MODE_PROBS = (142, 114, 183)
BMODE_TREE = (
    -B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10,
    -B_RD, -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU,
)
# implied sub-mode of a non-B_PRED macroblock, for neighbour context
IMPLIED_BMODE = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}

COEFF_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
CAT3456 = (
    (173, 148, 140),
    (176, 155, 140, 135),
    (180, 157, 141, 134, 130),
    (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129),
)


class BoolDecoder:
    """RFC 6386 §7 boolean arithmetic decoder (classic 2-byte-window form)."""

    __slots__ = ("data", "pos", "value", "range", "bit_count", "n")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.n = len(data)
        b0 = data[0] if self.n > 0 else 0
        b1 = data[1] if self.n > 1 else 0
        self.value = (b0 << 8) | b1
        self.pos = 2
        self.range = 255
        self.bit_count = 0

    def get(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        bigsplit = split << 8
        if self.value >= bigsplit:
            ret = 1
            self.range -= split
            self.value -= bigsplit
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                nxt = self.data[self.pos] if self.pos < self.n else 0
                self.pos += 1
                self.value |= nxt
            self.value &= 0xFFFF
        return ret

    def get_bit(self) -> int:
        return self.get(128)

    def get_literal(self, bits: int) -> int:
        v = 0
        for _ in range(bits):
            v = (v << 1) | self.get(128)
        return v

    def get_signed_literal(self, bits: int) -> int:
        v = self.get_literal(bits)
        return -v if self.get(128) else v

    def read_tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.get(probs[i >> 1])]
            if i <= 0:
                return -i


# ---------------------------------------------------------------------------
# exact integer transforms (RFC 6386 §14.3-14.4)
# ---------------------------------------------------------------------------


def _idct4x4_add(block: np.ndarray, dst: np.ndarray) -> None:
    """In-place: dst(4x4 int) += IDCT(block coefficients), then the caller
    clamps. Exact integer arithmetic with the 20091/35468 constants."""
    c = block
    tmp = [0] * 16
    for i in range(4):
        a1 = c[i] + c[i + 8]
        b1 = c[i] - c[i + 8]
        t1 = (c[i + 4] * 35468) >> 16
        t2 = c[i + 12] + ((c[i + 12] * 20091) >> 16)
        c1 = t1 - t2
        t1 = c[i + 4] + ((c[i + 4] * 20091) >> 16)
        t2 = (c[i + 12] * 35468) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[i + 12] = a1 - d1
        tmp[i + 4] = b1 + c1
        tmp[i + 8] = b1 - c1
    for i in range(4):
        r = 4 * i
        a1 = tmp[r] + tmp[r + 2]
        b1 = tmp[r] - tmp[r + 2]
        t1 = (tmp[r + 1] * 35468) >> 16
        t2 = tmp[r + 3] + ((tmp[r + 3] * 20091) >> 16)
        c1 = t1 - t2
        t1 = tmp[r + 1] + ((tmp[r + 1] * 20091) >> 16)
        t2 = (tmp[r + 3] * 35468) >> 16
        d1 = t1 + t2
        dst[i, 0] += (a1 + d1 + 4) >> 3
        dst[i, 3] += (a1 - d1 + 4) >> 3
        dst[i, 1] += (b1 + c1 + 4) >> 3
        dst[i, 2] += (b1 - c1 + 4) >> 3


def _iwht4x4(block: list) -> list:
    """Inverse Walsh-Hadamard: Y2 block -> the 16 luma DC values."""
    tmp = [0] * 16
    for i in range(4):
        a1 = block[i] + block[i + 12]
        b1 = block[i + 4] + block[i + 8]
        c1 = block[i + 4] - block[i + 8]
        d1 = block[i] - block[i + 12]
        tmp[i] = a1 + b1
        tmp[i + 4] = c1 + d1
        tmp[i + 8] = a1 - b1
        tmp[i + 12] = d1 - c1
    out = [0] * 16
    for i in range(4):
        r = 4 * i
        a1 = tmp[r] + tmp[r + 3]
        b1 = tmp[r + 1] + tmp[r + 2]
        c1 = tmp[r + 1] - tmp[r + 2]
        d1 = tmp[r] - tmp[r + 3]
        out[r] = (a1 + b1 + 3) >> 3
        out[r + 1] = (c1 + d1 + 3) >> 3
        out[r + 2] = (a1 - b1 + 3) >> 3
        out[r + 3] = (d1 - c1 + 3) >> 3
    return out


# ---------------------------------------------------------------------------
# header / frame state
# ---------------------------------------------------------------------------


class _Frame:
    pass


def _clamp_q(q: int) -> int:
    return 0 if q < 0 else (127 if q > 127 else q)


def _parse_header(data: bytes) -> _Frame:
    f = _Frame()
    if len(data) < 10:
        raise ValueError("VP8: truncated frame")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise NotImplementedError("VP8 interframe (WebP files are key frames)")
    f.show = (tag >> 4) & 1
    part0_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise ValueError("VP8: bad keyframe start code")
    w = data[6] | (data[7] << 8)
    h = data[8] | (data[9] << 8)
    f.width, f.height = w & 0x3FFF, h & 0x3FFF
    f.mb_w = (f.width + 15) >> 4
    f.mb_h = (f.height + 15) >> 4
    bd = BoolDecoder(data[10 : 10 + part0_size])
    f.color_space = bd.get_bit()
    f.clamping = bd.get_bit()

    # segmentation (§9.3)
    f.seg_enabled = bd.get(128)
    f.seg_update_map = 0
    f.seg_tree_probs = [255, 255, 255]
    f.seg_quant = [0, 0, 0, 0]
    f.seg_lf = [0, 0, 0, 0]
    f.seg_abs = 0
    if f.seg_enabled:
        f.seg_update_map = bd.get_bit()
        update_data = bd.get_bit()
        if update_data:
            f.seg_abs = bd.get_bit()
            for i in range(4):
                if bd.get_bit():
                    f.seg_quant[i] = bd.get_signed_literal(7)
            for i in range(4):
                if bd.get_bit():
                    f.seg_lf[i] = bd.get_signed_literal(6)
        if f.seg_update_map:
            for i in range(3):
                if bd.get_bit():
                    f.seg_tree_probs[i] = bd.get_literal(8)

    # loop filter (§9.4)
    f.filter_type = bd.get_bit()  # 0 = normal, 1 = simple
    f.filter_level = bd.get_literal(6)
    f.sharpness = bd.get_literal(3)
    f.lf_delta_enabled = bd.get_bit()
    f.ref_lf_deltas = [0, 0, 0, 0]
    f.mode_lf_deltas = [0, 0, 0, 0]
    if f.lf_delta_enabled:
        if bd.get_bit():
            for i in range(4):
                if bd.get_bit():
                    f.ref_lf_deltas[i] = bd.get_signed_literal(6)
            for i in range(4):
                if bd.get_bit():
                    f.mode_lf_deltas[i] = bd.get_signed_literal(6)

    # token partitions (§9.5)
    f.n_parts = 1 << bd.get_literal(2)

    # quantizers (§9.6)
    f.q_yac = bd.get_literal(7)
    f.q_ydc_d = bd.get_signed_literal(4) if bd.get_bit() else 0
    f.q_y2dc_d = bd.get_signed_literal(4) if bd.get_bit() else 0
    f.q_y2ac_d = bd.get_signed_literal(4) if bd.get_bit() else 0
    f.q_uvdc_d = bd.get_signed_literal(4) if bd.get_bit() else 0
    f.q_uvac_d = bd.get_signed_literal(4) if bd.get_bit() else 0

    bd.get_bit()  # refresh_entropy_probs (state never persists: one frame)

    # coefficient probability updates (§13.4)
    probs = [[[list(c) for c in b] for b in t] for t in COEFF_PROBS]
    for t in range(4):
        for b in range(8):
            for c in range(3):
                for p in range(11):
                    if bd.get(COEFF_UPDATE_PROBS[t][b][c][p]):
                        probs[t][b][c][p] = bd.get_literal(8)
    f.coeff_probs = probs

    f.use_skip = bd.get_bit()
    f.skip_prob = bd.get_literal(8) if f.use_skip else 0

    f.bd0 = bd
    f.part0_end = 10 + part0_size

    # per-segment dequant factors
    f.dq = []
    for s in range(4):
        if f.seg_enabled:
            base = f.seg_quant[s] if f.seg_abs else f.q_yac + f.seg_quant[s]
        else:
            base = f.q_yac
        q = _clamp_q(base)
        y1dc = DC_QLOOKUP[_clamp_q(q + f.q_ydc_d)]
        y1ac = AC_QLOOKUP[q]
        y2dc = DC_QLOOKUP[_clamp_q(q + f.q_y2dc_d)] * 2
        y2ac = AC_QLOOKUP[_clamp_q(q + f.q_y2ac_d)] * 155 // 100
        if y2ac < 8:
            y2ac = 8
        uvdc_i = _clamp_q(q + f.q_uvdc_d)
        if uvdc_i > 117:
            uvdc_i = 117  # chroma DC quantizer value is capped at 132
        uvdc = DC_QLOOKUP[uvdc_i]
        uvac = AC_QLOOKUP[_clamp_q(q + f.q_uvac_d)]
        f.dq.append(
            {"y1": (y1dc, y1ac), "y2": (y2dc, y2ac), "uv": (uvdc, uvac)}
        )
    return f


# ---------------------------------------------------------------------------
# token decoding (§13)
# ---------------------------------------------------------------------------


def _get_large_value(bd: BoolDecoder, p) -> int:
    if not bd.get(p[3]):
        if not bd.get(p[4]):
            return 2
        return 3 + bd.get(p[5])
    if not bd.get(p[6]):
        if not bd.get(p[7]):
            return 5 + bd.get(159)
        return 7 + 2 * bd.get(165) + bd.get(145)
    bit1 = bd.get(p[8])
    bit0 = bd.get(p[9 + bit1])
    cat = 2 * bit1 + bit0
    v = 0
    for prob in CAT3456[cat]:
        v = (v << 1) + bd.get(prob)
    return v + 3 + (8 << cat)


def _decode_coeffs(bd, probs_t, ctx, dq_dc, dq_ac, first, out) -> int:
    """Decode one 4x4 block's tokens; returns the EOB position (nz iff
    result > first). `out` is a 16-list in natural (de-zigzagged) order."""
    n = first
    p = probs_t[COEFF_BANDS[n]][ctx]
    while n < 16:
        if not bd.get(p[0]):
            return n  # EOB
        while not bd.get(p[1]):  # zero token (no EOB may follow directly)
            n += 1
            if n == 16:
                return 16
            p = probs_t[COEFF_BANDS[n]][0]
        if not bd.get(p[2]):
            v = 1
            nxt = 1
        else:
            v = _get_large_value(bd, p)
            nxt = 2
        if bd.get_bit():
            v = -v
        out[ZIGZAG[n]] = v * (dq_ac if n > 0 else dq_dc)
        n += 1
        if n == 16:
            return 16
        p = probs_t[COEFF_BANDS[n]][nxt]
    return 16


# ---------------------------------------------------------------------------
# intra prediction (§12). Works on a padded per-MB scratch so the
# 127/129 border conventions and the B_PRED above-right rules are local.
# ---------------------------------------------------------------------------


def _pred16(mode, have_up, have_left, up, left, tl):
    """16x16 (or 8x8 chroma) whole-block prediction -> int array."""
    n = len(up)
    if mode == V_PRED:
        return np.tile(up, (n, 1))
    if mode == H_PRED:
        return np.tile(left[:, None], (1, n))
    if mode == TM_PRED:
        p = left[:, None].astype(np.int32) + up[None, :].astype(np.int32) - int(tl)
        return np.clip(p, 0, 255)
    # DC
    if have_up and have_left:
        dc = (int(up.sum()) + int(left.sum()) + n) >> (n.bit_length() - 1 + 1)
    elif have_up:
        dc = (int(up.sum()) + (n >> 1)) >> (n.bit_length() - 1)
    elif have_left:
        dc = (int(left.sum()) + (n >> 1)) >> (n.bit_length() - 1)
    else:
        dc = 128
    return np.full((n, n), dc, np.int32)


def _avg2(a, b):
    return (a + b + 1) >> 1


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _pred4(mode, A, L, P):
    """4x4 sub-block prediction. A: 8 above pixels (incl. above-right),
    L: 4 left, P: above-left. Returns a 4x4 int array."""
    A = [int(v) for v in A]
    L = [int(v) for v in L]
    P = int(P)
    o = np.empty((4, 4), np.int32)
    if mode == B_DC:
        o[:] = (sum(A[:4]) + sum(L) + 4) >> 3
    elif mode == B_TM:
        for r in range(4):
            for c in range(4):
                v = L[r] + A[c] - P
                o[r, c] = 0 if v < 0 else (255 if v > 255 else v)
    elif mode == B_VE:
        row = [
            _avg3(P, A[0], A[1]),
            _avg3(A[0], A[1], A[2]),
            _avg3(A[1], A[2], A[3]),
            _avg3(A[2], A[3], A[4]),
        ]
        o[:] = row
    elif mode == B_HE:
        col = [
            _avg3(P, L[0], L[1]),
            _avg3(L[0], L[1], L[2]),
            _avg3(L[1], L[2], L[3]),
            _avg3(L[2], L[3], L[3]),
        ]
        for r in range(4):
            o[r, :] = col[r]
    elif mode == B_LD:
        for r in range(4):
            for c in range(4):
                i = r + c
                o[r, c] = (
                    _avg3(A[i], A[i + 1], A[i + 2])
                    if i < 6
                    else _avg3(A[6], A[7], A[7])
                )
    elif mode == B_RD:
        e = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]]
        for r in range(4):
            for c in range(4):
                i = c - r + 3
                o[r, c] = _avg3(e[i], e[i + 1], e[i + 2])
    elif mode == B_VR:
        e = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2], A[3]]
        o[0, :] = [_avg2(e[4], e[5]), _avg2(e[5], e[6]), _avg2(e[6], e[7]), _avg2(e[7], e[8])]
        o[1, :] = [_avg3(e[3], e[4], e[5]), _avg3(e[4], e[5], e[6]), _avg3(e[5], e[6], e[7]), _avg3(e[6], e[7], e[8])]
        o[2, :] = [_avg3(e[2], e[3], e[4]), o[0, 0], o[0, 1], o[0, 2]]
        o[3, :] = [_avg3(e[1], e[2], e[3]), o[1, 0], o[1, 1], o[1, 2]]
    elif mode == B_VL:
        o[0, :] = [_avg2(A[0], A[1]), _avg2(A[1], A[2]), _avg2(A[2], A[3]), _avg2(A[3], A[4])]
        o[1, :] = [_avg3(A[0], A[1], A[2]), _avg3(A[1], A[2], A[3]), _avg3(A[2], A[3], A[4]), _avg3(A[3], A[4], A[5])]
        o[2, :] = [o[0, 1], o[0, 2], o[0, 3], _avg3(A[4], A[5], A[6])]
        o[3, :] = [o[1, 1], o[1, 2], o[1, 3], _avg3(A[5], A[6], A[7])]
    elif mode == B_HD:
        e = [L[3], L[2], L[1], L[0], P, A[0], A[1], A[2]]
        o[3, :] = [_avg2(e[0], e[1]), _avg3(e[0], e[1], e[2]), _avg2(e[1], e[2]), _avg3(e[1], e[2], e[3])]
        o[2, :] = [_avg2(e[1], e[2]), _avg3(e[1], e[2], e[3]), _avg2(e[2], e[3]), _avg3(e[2], e[3], e[4])]
        o[1, :] = [_avg2(e[2], e[3]), _avg3(e[2], e[3], e[4]), _avg2(e[3], e[4]), _avg3(e[3], e[4], e[5])]
        o[0, :] = [_avg2(e[3], e[4]), _avg3(e[3], e[4], e[5]), _avg3(e[4], e[5], e[6]), _avg3(e[5], e[6], e[7])]
    elif mode == B_HU:
        o[0, :] = [_avg2(L[0], L[1]), _avg3(L[0], L[1], L[2]), _avg2(L[1], L[2]), _avg3(L[1], L[2], L[3])]
        o[1, :] = [_avg2(L[1], L[2]), _avg3(L[1], L[2], L[3]), _avg2(L[2], L[3]), _avg3(L[2], L[3], L[3])]
        o[2, :] = [_avg2(L[2], L[3]), _avg3(L[2], L[3], L[3]), L[3], L[3]]
        o[3, :] = L[3]
    else:
        raise ValueError(mode)
    return o


# ---------------------------------------------------------------------------
# main decode
# ---------------------------------------------------------------------------


def vp8_decode_yuv(data: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    f = _parse_header(data)
    bd0 = f.bd0
    mb_w, mb_h = f.mb_w, f.mb_h

    # ---- per-MB mode parse (all in partition 0) ----
    seg_ids = np.zeros((mb_h, mb_w), np.int32)
    skips = np.zeros((mb_h, mb_w), np.uint8)
    ymodes = np.zeros((mb_h, mb_w), np.int32)
    uvmodes = np.zeros((mb_h, mb_w), np.int32)
    bmodes = np.zeros((mb_h, mb_w, 16), np.int32)
    above_sub = np.full((mb_w, 4), B_DC, np.int32)
    for my in range(mb_h):
        left_sub = np.full(4, B_DC, np.int32)
        for mx in range(mb_w):
            if f.seg_enabled and f.seg_update_map:
                p = f.seg_tree_probs
                if bd0.get(p[0]):
                    seg_ids[my, mx] = 2 + bd0.get(p[2])
                else:
                    seg_ids[my, mx] = bd0.get(p[1])
            if f.use_skip:
                skips[my, mx] = bd0.get(f.skip_prob)
            ym = bd0.read_tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            ymodes[my, mx] = ym
            if ym == B_PRED:
                for sy in range(4):
                    for sx in range(4):
                        a = (
                            above_sub[mx, sx]
                            if sy == 0
                            else bmodes[my, mx, (sy - 1) * 4 + sx]
                        )
                        l_ = (
                            left_sub[sy]
                            if sx == 0
                            else bmodes[my, mx, sy * 4 + sx - 1]
                        )
                        bm = bd0.read_tree(
                            BMODE_TREE, KF_BMODE_PROBS[a][l_]
                        )
                        bmodes[my, mx, sy * 4 + sx] = bm
            else:
                bmodes[my, mx, :] = IMPLIED_BMODE[ym]
            above_sub[mx] = bmodes[my, mx, 12:16]
            left_sub[:] = bmodes[my, mx, 3::4]
            uvmodes[my, mx] = bd0.read_tree(UV_MODE_TREE, KF_UV_MODE_PROBS)

    # ---- token partitions ----
    rest = data[f.part0_end :]
    sizes = []
    off = 3 * (f.n_parts - 1)
    for i in range(f.n_parts - 1):
        sizes.append(rest[3 * i] | (rest[3 * i + 1] << 8) | (rest[3 * i + 2] << 16))
    parts = []
    for i in range(f.n_parts):
        if i < f.n_parts - 1:
            parts.append(BoolDecoder(rest[off : off + sizes[i]]))
            off += sizes[i]
        else:
            parts.append(BoolDecoder(rest[off:]))

    # ---- reconstruction ----
    W, H = mb_w * 16, mb_h * 16
    Y = np.zeros((H, W), np.uint8)
    U = np.zeros((H >> 1, W >> 1), np.uint8)
    V = np.zeros((H >> 1, W >> 1), np.uint8)

    # nonzero contexts
    nz_above = np.zeros((mb_w, 9), np.uint8)  # y0..3, u0..1, v0..1, y2
    probs = f.coeff_probs
    # per-MB data saved for the loop filter
    has_coeffs = np.zeros((mb_h, mb_w), np.uint8)

    for my in range(mb_h):
        nz_left = np.zeros(9, np.uint8)
        bd = parts[my % f.n_parts]
        for mx in range(mb_w):
            seg = seg_ids[my, mx]
            dq = f.dq[seg]
            ym = ymodes[my, mx]
            has_y2 = ym != B_PRED
            coeffs = np.zeros((25, 16), np.int32)
            mb_nz = False
            if skips[my, mx]:
                nz_left[0:4] = 0
                nz_above[mx, 0:4] = 0
                nz_left[4:8] = 0
                nz_above[mx, 4:8] = 0
                if has_y2:
                    nz_left[8] = 0
                    nz_above[mx, 8] = 0
            else:
                if has_y2:
                    ctx = nz_above[mx, 8] + nz_left[8]
                    out = [0] * 16
                    n = _decode_coeffs(
                        bd, probs[1], ctx, dq["y2"][0], dq["y2"][1], 0, out
                    )
                    nz = 1 if n > 0 else 0
                    nz_above[mx, 8] = nz_left[8] = nz
                    if nz:
                        mb_nz = True
                    dcs = _iwht4x4(out)
                    for b in range(16):
                        coeffs[b][0] = dcs[b]
                    first, ytype = 1, 0
                else:
                    first, ytype = 0, 3
                for b in range(16):
                    r, c = b >> 2, b & 3
                    ctx = nz_above[mx, c] + nz_left[r]
                    out = [0] * 16
                    n = _decode_coeffs(
                        bd, probs[ytype], ctx, dq["y1"][0], dq["y1"][1],
                        first, out,
                    )
                    nz = 1 if n > first else 0
                    nz_above[mx, c] = nz_left[r] = nz
                    if nz:
                        mb_nz = True
                        if has_y2:
                            for k in range(1, 16):
                                coeffs[b][k] = out[k]
                        else:
                            coeffs[b][:] = out
                    elif has_y2:
                        pass  # DC from WHT already placed
                    # (no-nz B_PRED block: stays zero)
                    if not has_y2 and nz:
                        coeffs[b][:] = out
                for plane, base in ((0, 16), (1, 20)):
                    for b in range(4):
                        r, c = b >> 1, b & 1
                        ci = 4 + plane * 2 + c
                        li = 4 + plane * 2 + r
                        ctx = nz_above[mx, ci] + nz_left[li]
                        out = [0] * 16
                        n = _decode_coeffs(
                            bd, probs[2], ctx, dq["uv"][0], dq["uv"][1], 0, out
                        )
                        nz = 1 if n > 0 else 0
                        nz_above[mx, ci] = nz_left[li] = nz
                        if nz:
                            mb_nz = True
                            coeffs[base + b][:] = out
            has_coeffs[my, mx] = 1 if mb_nz else 0

            # ---- predict + add residual ----
            # luma scratch: rows 0..16, cols 0..20 (top-left at [0,0])
            buf = np.empty((17, 21), np.int32)
            if my > 0:
                buf[0, 1:17] = Y[my * 16 - 1, mx * 16 : mx * 16 + 16]
                if mx + 1 < mb_w:
                    buf[0, 17:21] = Y[my * 16 - 1, mx * 16 + 16 : mx * 16 + 20]
                else:
                    buf[0, 17:21] = Y[my * 16 - 1, mx * 16 + 15]
            else:
                buf[0, 1:21] = 127
            if mx > 0:
                buf[1:17, 0] = Y[my * 16 : my * 16 + 16, mx * 16 - 1]
            else:
                buf[1:17, 0] = 129
            buf[0, 0] = (
                127 if my == 0 else (129 if mx == 0 else Y[my * 16 - 1, mx * 16 - 1])
            )
            if ym == B_PRED:
                for b in range(16):
                    sy, sx = b >> 2, b & 3
                    r0, c0 = 1 + sy * 4, 1 + sx * 4
                    if sx == 3:
                        A = np.concatenate([buf[r0 - 1, c0 : c0 + 4], buf[0, 17:21]])
                    else:
                        A = buf[r0 - 1, c0 : c0 + 8]
                    L = buf[r0 : r0 + 4, c0 - 1]
                    P = buf[r0 - 1, c0 - 1]
                    blk = _pred4(bmodes[my, mx, b], A, L, P)
                    if coeffs[b].any():
                        _idct4x4_add(coeffs[b], blk)
                    np.clip(blk, 0, 255, out=blk)
                    buf[r0 : r0 + 4, c0 : c0 + 4] = blk
            else:
                pred = _pred16(
                    ym, my > 0, mx > 0, buf[0, 1:17], buf[1:17, 0], buf[0, 0]
                )
                pred = pred.astype(np.int32)
                for b in range(16):
                    sy, sx = b >> 2, b & 3
                    if coeffs[b].any():
                        blk = pred[sy * 4 : sy * 4 + 4, sx * 4 : sx * 4 + 4]
                        _idct4x4_add(coeffs[b], blk)
                np.clip(pred, 0, 255, out=pred)
                buf[1:17, 1:17] = pred
            Y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = buf[1:17, 1:17]

            # chroma
            for plane, dst, base in ((0, U, 16), (1, V, 20)):
                cbuf = np.empty((9, 9), np.int32)
                y0, x0 = my * 8, mx * 8
                if my > 0:
                    cbuf[0, 1:9] = dst[y0 - 1, x0 : x0 + 8]
                else:
                    cbuf[0, 1:9] = 127
                if mx > 0:
                    cbuf[1:9, 0] = dst[y0 : y0 + 8, x0 - 1]
                else:
                    cbuf[1:9, 0] = 129
                cbuf[0, 0] = (
                    127 if my == 0 else (129 if mx == 0 else dst[y0 - 1, x0 - 1])
                )
                pred = _pred16(
                    uvmodes[my, mx], my > 0, mx > 0, cbuf[0, 1:9], cbuf[1:9, 0],
                    cbuf[0, 0],
                ).astype(np.int32)
                for b in range(4):
                    sy, sx = b >> 1, b & 1
                    if coeffs[base + b].any():
                        blk = pred[sy * 4 : sy * 4 + 4, sx * 4 : sx * 4 + 4]
                        _idct4x4_add(coeffs[base + b], blk)
                np.clip(pred, 0, 255, out=pred)
                dst[y0 : y0 + 8, x0 : x0 + 8] = pred

    _loop_filter(f, Y, U, V, seg_ids, ymodes, has_coeffs)
    return (
        Y[: f.height, : f.width],
        U[: (f.height + 1) >> 1, : (f.width + 1) >> 1],
        V[: (f.height + 1) >> 1, : (f.width + 1) >> 1],
    )


# ---------------------------------------------------------------------------
# loop filter (§15), vectorized along each edge
# ---------------------------------------------------------------------------


def _s(x):
    return x.astype(np.int32) - 128


def _u(x):
    return np.clip(x + 128, 0, 255).astype(np.uint8)


def _c(x):
    return np.clip(x, -128, 127)


def _filter_common(p1, p0, q0, q1, use_outer):
    a = _c((_c(p1 - q1) if use_outer else 0) + 3 * (q0 - p0))
    f1 = _c(a + 4) >> 3
    f2 = _c(a + 3) >> 3
    return f1, f2


def _normal_mask(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim):
    return (
        (np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= elim)
        & (np.abs(p3 - p2) <= ilim)
        & (np.abs(p2 - p1) <= ilim)
        & (np.abs(p1 - p0) <= ilim)
        & (np.abs(q1 - q0) <= ilim)
        & (np.abs(q2 - q1) <= ilim)
        & (np.abs(q3 - q2) <= ilim)
    )


def _hev(p1, p0, q0, q1, t):
    return (np.abs(p1 - p0) > t) | (np.abs(q1 - q0) > t)


def _filter_edge(plane, ys, xs, horiz, ilim, elim, hev_t, mb_edge):
    """Filter one straight edge. (ys, xs) index the q0 pixels; horiz=True
    means a horizontal edge (filtering vertically)."""
    def px(d):
        if horiz:
            return plane[ys + d, xs]
        return plane[ys, xs + d]

    def set_px(d, v):
        if horiz:
            plane[ys + d, xs] = v
        else:
            plane[ys, xs + d] = v

    p3, p2, p1, p0 = (_s(px(-4)), _s(px(-3)), _s(px(-2)), _s(px(-1)))
    q0, q1, q2, q3 = (_s(px(0)), _s(px(1)), _s(px(2)), _s(px(3)))
    mask = _normal_mask(p3, p2, p1, p0, q0, q1, q2, q3, ilim, elim)
    if not mask.any():
        return
    hev = _hev(p1, p0, q0, q1, hev_t)
    if mb_edge:
        # high-edge-variance pixels: common adjust with outer taps
        f1, f2 = _filter_common(p1, p0, q0, q1, True)
        sel_h = mask & hev
        nq0 = np.where(sel_h, q0 - f1, q0)
        np0 = np.where(sel_h, p0 + f2, p0)
        # non-hev: the 27/18/9 wide filter
        w = _c(_c(p1 - q1) + 3 * (q0 - p0))
        sel = mask & ~hev
        a = _c((27 * w + 63) >> 7)
        nq0 = np.where(sel, q0 - a, nq0)
        np0 = np.where(sel, p0 + a, np0)
        a = _c((18 * w + 63) >> 7)
        nq1 = np.where(sel, q1 - a, q1)
        np1 = np.where(sel, p1 + a, p1)
        a = _c((9 * w + 63) >> 7)
        nq2 = np.where(sel, q2 - a, q2)
        np2 = np.where(sel, p2 + a, p2)
        set_px(-3, _u(np2))
        set_px(2, _u(nq2))
    else:
        f1, f2 = _filter_common(p1, p0, q0, q1, True)
        f1h, f2h = f1, f2
        f1n, f2n = _filter_common(p1, p0, q0, q1, False)
        f1 = np.where(hev, f1h, f1n)
        f2 = np.where(hev, f2h, f2n)
        nq0 = np.where(mask, q0 - f1, q0)
        np0 = np.where(mask, p0 + f2, p0)
        a = (np.where(hev, 0, f1n) + 1) >> 1
        sel = mask & ~hev
        nq1 = np.where(sel, q1 - a, q1)
        np1 = np.where(sel, p1 + a, p1)
    set_px(-2, _u(np1))
    set_px(-1, _u(np0))
    set_px(0, _u(nq0))
    set_px(1, _u(nq1))


def _simple_edge(plane, ys, xs, horiz, elim):
    def px(d):
        if horiz:
            return plane[ys + d, xs]
        return plane[ys, xs + d]

    def set_px(d, v):
        if horiz:
            plane[ys + d, xs] = v
        else:
            plane[ys, xs + d] = v

    p1, p0 = _s(px(-2)), _s(px(-1))
    q0, q1 = _s(px(0)), _s(px(1))
    mask = np.abs(p0 - q0) * 2 + (np.abs(p1 - q1) >> 1) <= elim
    f1, f2 = _filter_common(p1, p0, q0, q1, True)
    set_px(-1, _u(np.where(mask, p0 + f2, p0)))
    set_px(0, _u(np.where(mask, q0 - f1, q0)))


def _loop_filter(f, Y, U, V, seg_ids, ymodes, has_coeffs) -> None:
    if f.filter_level == 0:
        return
    mb_w, mb_h = f.mb_w, f.mb_h
    for my in range(mb_h):
        for mx in range(mb_w):
            seg = seg_ids[my, mx]
            if f.seg_enabled:
                level = (
                    f.seg_lf[seg] if f.seg_abs else f.filter_level + f.seg_lf[seg]
                )
            else:
                level = f.filter_level
            if f.lf_delta_enabled:
                level += f.ref_lf_deltas[0]  # intra frame
                if ymodes[my, mx] == B_PRED:
                    level += f.mode_lf_deltas[0]
            level = 0 if level < 0 else (63 if level > 63 else level)
            if level == 0:
                continue
            ilim = level
            if f.sharpness:
                ilim >>= 2 if f.sharpness > 4 else 1
                if ilim > 9 - f.sharpness:
                    ilim = 9 - f.sharpness
            if ilim < 1:
                ilim = 1
            hev_t = 2 if level >= 40 else (1 if level >= 15 else 0)
            mb_elim = ((level + 2) * 2) + ilim
            sb_elim = (level * 2) + ilim
            inner = has_coeffs[my, mx] or ymodes[my, mx] == B_PRED
            y0, x0 = my * 16, mx * 16
            ys16 = np.arange(y0, y0 + 16)
            cy0, cx0 = my * 8, mx * 8
            ys8 = np.arange(cy0, cy0 + 8)
            if f.filter_type == 1:  # simple: luma only
                if mx > 0:
                    _simple_edge(Y, ys16, x0, False, mb_elim)
                if inner:
                    for dx in (4, 8, 12):
                        _simple_edge(Y, ys16, x0 + dx, False, sb_elim)
                if my > 0:
                    _simple_edge(Y, y0, np.arange(x0, x0 + 16), True, mb_elim)
                if inner:
                    for dy in (4, 8, 12):
                        _simple_edge(
                            Y, y0 + dy, np.arange(x0, x0 + 16), True, sb_elim
                        )
                continue
            xs16 = np.arange(x0, x0 + 16)
            xs8 = np.arange(cx0, cx0 + 8)
            if mx > 0:
                _filter_edge(Y, ys16, x0, False, ilim, mb_elim, hev_t, True)
                _filter_edge(U, ys8, cx0, False, ilim, mb_elim, hev_t, True)
                _filter_edge(V, ys8, cx0, False, ilim, mb_elim, hev_t, True)
            if inner:
                for dx in (4, 8, 12):
                    _filter_edge(
                        Y, ys16, x0 + dx, False, ilim, sb_elim, hev_t, False
                    )
                _filter_edge(U, ys8, cx0 + 4, False, ilim, sb_elim, hev_t, False)
                _filter_edge(V, ys8, cx0 + 4, False, ilim, sb_elim, hev_t, False)
            if my > 0:
                _filter_edge(Y, y0, xs16, True, ilim, mb_elim, hev_t, True)
                _filter_edge(U, cy0, xs8, True, ilim, mb_elim, hev_t, True)
                _filter_edge(V, cy0, xs8, True, ilim, mb_elim, hev_t, True)
            if inner:
                for dy in (4, 8, 12):
                    _filter_edge(Y, y0 + dy, xs16, True, ilim, sb_elim, hev_t, False)
                _filter_edge(U, cy0 + 4, xs8, True, ilim, sb_elim, hev_t, False)
                _filter_edge(V, cy0 + 4, xs8, True, ilim, sb_elim, hev_t, False)


# ---------------------------------------------------------------------------
# RGB conversion (non-normative; RFC 6386 output is YUV)
# ---------------------------------------------------------------------------


def vp8_decode_rgb(data: bytes) -> np.ndarray:
    y, u, v = vp8_decode_yuv(data)
    h, w = y.shape
    # bilinear chroma upsample (co-sited as in libwebp's fancy upsampler
    # approximation), then BT.601 studio-range conversion (the convention
    # libwebp uses)
    def up(c):
        ch, cw = c.shape
        cf = c.astype(np.float64)
        yy = (np.arange(h) - 0.5) / 2.0
        xx = (np.arange(w) - 0.5) / 2.0
        yy = np.clip(yy, 0, ch - 1)
        xx = np.clip(xx, 0, cw - 1)
        y0 = np.floor(yy).astype(int)
        x0 = np.floor(xx).astype(int)
        y1 = np.minimum(y0 + 1, ch - 1)
        x1 = np.minimum(x0 + 1, cw - 1)
        fy = (yy - y0)[:, None]
        fx = (xx - x0)[None, :]
        return (
            cf[np.ix_(y0, x0)] * (1 - fy) * (1 - fx)
            + cf[np.ix_(y0, x1)] * (1 - fy) * fx
            + cf[np.ix_(y1, x0)] * fy * (1 - fx)
            + cf[np.ix_(y1, x1)] * fy * fx
        )

    uf, vf = up(u), up(v)
    yf = y.astype(np.float64)
    r = 1.1643835616 * (yf - 16) + 1.5960267857 * (vf - 128)
    g = 1.1643835616 * (yf - 16) - 0.3917622901 * (uf - 128) - 0.8129676472 * (vf - 128)
    b = 1.1643835616 * (yf - 16) + 2.0172321429 * (uf - 128)
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, 255).astype(np.uint8)
