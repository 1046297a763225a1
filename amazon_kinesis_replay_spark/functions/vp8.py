"""VP8 intra-frame (lossy WebP) decoder — pure Python, RFC 6386.

Decodes the 'VP8 ' chunk of lossy WebP files: boolean (arithmetic)
decoder, keyframe header (segmentation, loop-filter deltas, token
partitions, quantizers, probability updates), intra prediction (16x16
DC/V/H/TM, chroma 8x8, all ten 4x4 B-modes with the keyframe
context-conditioned mode probabilities), tree-coded DCT token decode
with banded contexts and category extra-bits, exact integer inverse
WHT + DCT, and the full normal/simple in-loop deblocking filter.

Output is (width, height, Y, U, V) planes — bit-exact against the
container's libwebp (`WebPDecodeYUV`), which the tests pin across a
seeded corpus of libwebp-encoded images at several quality levels and
methods. Comparing YUV (not RGB) keeps the witness free of libwebp's
fancy-upsampler color conversion, which is outside RFC 6386.

The large fixed tables live in vp8_tables.py, extracted from the
container's libwebp rodata (two in-binary copies byte-compared) — see
that module's docstring; the decoder witness validates the whole set
end-to-end. Only keyframes are supported (every 'VP8 ' chunk in a
WebP container is a keyframe by construction).

Reference scope note: the reference engine has no media decode; this
module belongs to the repo's multimodal extension surface.
"""

from __future__ import annotations

import struct

from .vp8_tables import (AC_TABLE, COEFF_PROBS, COEFF_UPDATE_PROBS,
                         DC_TABLE, KF_BMODE_PROBS)


class VP8Error(ValueError):
    """Malformed VP8 stream (never silently wrong pixels)."""


# --------------------------------------------------------------------------
# Small fixed tables (RFC 6386 structural constants)
# --------------------------------------------------------------------------

ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)

# intra modes. NOTE: the 4x4 mode NUMBERING follows libwebp's enum
# (B_RD=4, B_VR=5, B_LD=6), not RFC 6386's (B_LD=4, B_RD=5, B_VR=6) —
# KF_BMODE_PROBS was extracted from libwebp and its context rows are
# indexed by this ordering (mixing the two desyncs the mode parse on
# the first RD/VR/LD-involving context; found by bisection).
DC_PRED, V_PRED, H_PRED, TM_PRED, B_PRED = 0, 1, 2, 3, 4
(B_DC, B_TM, B_VE, B_HE, B_RD, B_VR, B_LD, B_VL, B_HD, B_HU) = range(10)

KF_YMODE_TREE = (-B_PRED, 2, 4, 6, -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
KF_YMODE_PROBS = (145, 156, 163, 128)
UVMODE_TREE = (-DC_PRED, 2, -V_PRED, 4, -H_PRED, -TM_PRED)
KF_UVMODE_PROBS = (142, 114, 183)
BMODE_TREE = (-B_DC, 2, -B_TM, 4, -B_VE, 6, 8, 12, -B_HE, 10,
              -B_RD, -B_VR, -B_LD, 14, -B_VL, 16, -B_HD, -B_HU)
SEGMENT_TREE = (2, 4, -0, -1, -2, -3)

# token tree: EOB, 0, 1, 2, 3, 4, cat1..cat6
(TOK_EOB, TOK_0, TOK_1, TOK_2, TOK_3, TOK_4,
 TOK_CAT1, TOK_CAT2, TOK_CAT3, TOK_CAT4, TOK_CAT5, TOK_CAT6) = range(12)
TOKEN_TREE = (-TOK_EOB, 2, -TOK_0, 4, -TOK_1, 6, 8, 12,
              -TOK_2, 10, -TOK_3, -TOK_4, 14, 16,
              -TOK_CAT1, -TOK_CAT2, 18, 20,
              -TOK_CAT3, -TOK_CAT4, -TOK_CAT5, -TOK_CAT6)
CAT_PROBS = ((159,), (165, 145), (173, 148, 140), (176, 155, 140, 135),
             (180, 157, 141, 134, 130),
             (254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))
CAT_BASE = (5, 7, 11, 19, 35, 67)

# 16x16 mode of a neighbour, as seen by 4x4 B-mode context
MODE_TO_B = {DC_PRED: B_DC, V_PRED: B_VE, H_PRED: B_HE, TM_PRED: B_TM}


class BoolDecoder:
    """RFC 6386 7.3 boolean decoder (bit-exact reference formulation)."""

    __slots__ = ("data", "pos", "value", "range", "bit_count")

    def __init__(self, data: bytes):
        self.data = data
        if len(data) < 2:
            data = data + b"\x00\x00"
        self.value = (data[0] << 8) | data[1]
        self.pos = 2
        self.range = 255
        self.bit_count = 0

    def get(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        big = split << 8
        if self.value >= big:
            ret = 1
            self.range -= split
            self.value -= big
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bit_count += 1
            if self.bit_count == 8:
                self.bit_count = 0
                if self.pos < len(self.data):
                    self.value |= self.data[self.pos]
                self.pos += 1
        return ret

    def literal(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get(128)
        return v

    def signed(self, n: int) -> int:
        v = self.literal(n)
        return -v if self.get(128) else v

    def tree(self, tree, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.get(probs[i >> 1])]
            if i <= 0:
                return -i


def _clip255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _clip(v: int, mx: int) -> int:
    return 0 if v < 0 else mx if v > mx else v


def _coeff_prob(probs, tp, band, ctx):
    base = ((tp * 8 + band) * 3 + ctx) * 11
    return probs[base:base + 11]


def decode_vp8(data: bytes):
    """Decode a VP8 keyframe payload (the 'VP8 ' chunk body) to
    (width, height, Y, U, V) bytes (cropped planes; chroma dims are
    ceil(w/2) x ceil(h/2))."""
    if len(data) < 10:
        raise VP8Error("VP8 payload too short")
    tag = data[0] | (data[1] << 8) | (data[2] << 16)
    if tag & 1:
        raise VP8Error("not a keyframe (WebP VP8 chunks are keyframes)")
    part0_size = tag >> 5
    if data[3:6] != b"\x9d\x01\x2a":
        raise VP8Error("bad VP8 keyframe start code")
    w_code, h_code = struct.unpack_from("<HH", data, 6)
    width = w_code & 0x3FFF
    height = h_code & 0x3FFF
    if not width or not height:
        raise VP8Error("zero VP8 dimensions")
    part0 = data[10:10 + part0_size]
    if len(part0) < part0_size:
        raise VP8Error("truncated first partition")
    bd = BoolDecoder(part0)
    bd.literal(1)                               # color space
    bd.literal(1)                               # clamping type

    # -- segmentation
    seg_enabled = bd.get(128)
    update_map = False
    seg_probs = [255, 255, 255]
    seg_abs = False
    seg_quant = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    if seg_enabled:
        update_map = bool(bd.get(128))
        update_data = bd.get(128)
        if update_data:
            seg_abs = bool(bd.get(128))
            for i in range(4):
                if bd.get(128):
                    seg_quant[i] = bd.signed(7)
            for i in range(4):
                if bd.get(128):
                    seg_lf[i] = bd.signed(6)
        if update_map:
            for i in range(3):
                if bd.get(128):
                    seg_probs[i] = bd.literal(8)

    # -- loop filter header
    simple_filter = bd.get(128)
    filter_level = bd.literal(6)
    sharpness = bd.literal(3)
    lf_delta_enabled = bd.get(128)
    ref_lf_delta = [0, 0, 0, 0]
    mode_lf_delta = [0, 0, 0, 0]
    if lf_delta_enabled:
        if bd.get(128):                          # mode_ref_lf_delta_update
            for i in range(4):
                if bd.get(128):
                    ref_lf_delta[i] = bd.signed(6)
            for i in range(4):
                if bd.get(128):
                    mode_lf_delta[i] = bd.signed(6)

    # -- token partitions
    n_parts = 1 << bd.literal(2)
    rest = data[10 + part0_size:]
    sizes = []
    off = 3 * (n_parts - 1)
    if len(rest) < off:
        raise VP8Error("truncated partition size table")
    for i in range(n_parts - 1):
        sizes.append(rest[3 * i] | (rest[3 * i + 1] << 8)
                     | (rest[3 * i + 2] << 16))
    parts = []
    for i in range(n_parts):
        if i < n_parts - 1:
            parts.append(BoolDecoder(rest[off:off + sizes[i]]))
            off += sizes[i]
        else:
            parts.append(BoolDecoder(rest[off:]))

    # -- quantizers
    yac_qi = bd.literal(7)
    ydc_d = bd.signed(4) if bd.get(128) else 0
    y2dc_d = bd.signed(4) if bd.get(128) else 0
    y2ac_d = bd.signed(4) if bd.get(128) else 0
    uvdc_d = bd.signed(4) if bd.get(128) else 0
    uvac_d = bd.signed(4) if bd.get(128) else 0

    def quants(base_qi):
        q = _clip(base_qi, 127)
        ydc = DC_TABLE[_clip(q + ydc_d, 127)]
        yac = AC_TABLE[q]
        y2dc = DC_TABLE[_clip(q + y2dc_d, 127)] * 2
        y2ac = max(8, AC_TABLE[_clip(q + y2ac_d, 127)] * 155 // 100)
        uvdc = DC_TABLE[min(_clip(q + uvdc_d, 127), 117)]
        uvac = AC_TABLE[_clip(q + uvac_d, 127)]
        return (ydc, yac, y2dc, y2ac, uvdc, uvac)

    seg_quants = []
    for s in range(4):
        if seg_enabled:
            qi = seg_quant[s] if seg_abs else yac_qi + seg_quant[s]
        else:
            qi = yac_qi
        seg_quants.append(quants(qi))

    bd.get(128)                                  # refresh entropy probs

    # -- coefficient probability updates
    probs = list(COEFF_PROBS)
    for tp in range(4):
        for band in range(8):
            for ctx in range(3):
                for i in range(11):
                    k = ((tp * 8 + band) * 3 + ctx) * 11 + i
                    if bd.get(COEFF_UPDATE_PROBS[k]):
                        probs[k] = bd.literal(8)

    use_skip = bd.get(128)
    prob_skip = bd.literal(8) if use_skip else 0

    mw = (width + 15) >> 4
    mh = (height + 15) >> 4
    yw, yh = mw * 16, mh * 16
    cw, ch = mw * 8, mh * 8
    Y = bytearray(yw * yh)
    U = bytearray(cw * ch)
    V = bytearray(cw * ch)

    # neighbour state
    above_nnz = [[0] * 9 for _ in range(mw)]     # 4 Y + 2 U + 2 V + 1 Y2
    above_bmodes = [[B_DC] * 4 for _ in range(mw)]

    # collect per-MB filter info for the loop-filter pass
    mb_info = [[None] * mw for _ in range(mh)]

    for mby in range(mh):
        left_nnz = [0] * 9
        left_bmodes = [B_DC] * 4
        tok = parts[mby & (n_parts - 1)]
        for mbx in range(mw):
            segment = 0
            if seg_enabled and update_map:
                segment = bd.tree(SEGMENT_TREE, seg_probs)
            elif seg_enabled:
                segment = 0
            skip = bd.get(prob_skip) if use_skip else 0

            ymode = bd.tree(KF_YMODE_TREE, KF_YMODE_PROBS)
            if ymode == B_PRED:
                bmodes = []
                for sb in range(16):
                    sx, sy = sb & 3, sb >> 2
                    above_m = (above_bmodes[mbx][sx] if sy == 0
                               else bmodes[sb - 4])
                    left_m = (left_bmodes[sy] if sx == 0
                              else bmodes[sb - 1])
                    p = KF_BMODE_PROBS[(above_m * 10 + left_m) * 9:
                                       (above_m * 10 + left_m) * 9 + 9]
                    bmodes.append(bd.tree(BMODE_TREE, p))
                above_bmodes[mbx] = bmodes[12:16]
                left_bmodes = [bmodes[3], bmodes[7], bmodes[11],
                               bmodes[15]]
            else:
                b = MODE_TO_B[ymode]
                bmodes = [b] * 16
                above_bmodes[mbx] = [b] * 4
                left_bmodes = [b] * 4
            uvmode = bd.tree(UVMODE_TREE, KF_UVMODE_PROBS)

            ydc, yac, y2dc, y2ac, uvdc, uvac = seg_quants[segment]
            has_y2 = ymode != B_PRED

            coeffs = [[0] * 16 for _ in range(25)]   # 16 Y, 4 U, 4 V, Y2
            mb_nnz = False
            if skip:
                for i in range(9):
                    left_nnz[i] = 0
                    above_nnz[mbx][i] = 0
            else:
                if has_y2:
                    ctx = left_nnz[8] + above_nnz[mbx][8]
                    nz = _decode_block(tok, probs, 1, ctx, 0,
                                       coeffs[24], y2dc, y2ac)
                    left_nnz[8] = above_nnz[mbx][8] = 1 if nz else 0
                    mb_nnz |= nz
                    first = 1
                    tp = 0
                else:
                    first = 0
                    tp = 3
                for sb in range(16):
                    sx, sy = sb & 3, sb >> 2
                    ctx = left_nnz[sy] + above_nnz[mbx][sx]
                    nz = _decode_block(tok, probs, tp, ctx, first,
                                       coeffs[sb], ydc, yac)
                    left_nnz[sy] = above_nnz[mbx][sx] = 1 if nz else 0
                    mb_nnz |= nz
                for pl in range(2):                  # U then V
                    for sb in range(4):
                        sx, sy = sb & 1, sb >> 1
                        li = 4 + pl * 2 + sy
                        ai = 4 + pl * 2 + sx
                        ctx = left_nnz[li] + above_nnz[mbx][ai]
                        nz = _decode_block(tok, probs, 2, ctx, 0,
                                           coeffs[16 + pl * 4 + sb],
                                           uvdc, uvac)
                        left_nnz[li] = above_nnz[mbx][ai] = 1 if nz else 0
                        mb_nnz |= nz
                if has_y2:
                    _iwalsh(coeffs[24], coeffs)

            _reconstruct_mb(Y, U, V, yw, cw, mbx, mby, mw,
                            ymode, bmodes, uvmode, coeffs)

            # loop-filter bookkeeping
            level = filter_level
            if seg_enabled:
                level = (seg_lf[segment] if seg_abs
                         else filter_level + seg_lf[segment])
            if lf_delta_enabled:
                level += ref_lf_delta[0]             # keyframe: intra
                if ymode == B_PRED:
                    level += mode_lf_delta[0]
            level = _clip(level, 63)
            # RFC 15.2: interior edges filter only when the MB has
            # non-zero coefficients or is B_PRED — the DECODED nnz, not
            # the coded skip flag (an unskipped all-zero MB skips its
            # interior edges too)
            inner = bool(mb_nnz) or ymode == B_PRED
            mb_info[mby][mbx] = (level, inner)

    if filter_level:
        _loop_filter(Y, U, V, yw, cw, mw, mh, mb_info,
                     simple_filter, sharpness)

    # crop
    ycrop = bytearray(width * height)
    for r in range(height):
        ycrop[r * width:(r + 1) * width] = Y[r * yw:r * yw + width]
    ucw, uch = (width + 1) >> 1, (height + 1) >> 1
    ucrop = bytearray(ucw * uch)
    vcrop = bytearray(ucw * uch)
    for r in range(uch):
        ucrop[r * ucw:(r + 1) * ucw] = U[r * cw:r * cw + ucw]
        vcrop[r * ucw:(r + 1) * ucw] = V[r * cw:r * cw + ucw]
    return width, height, bytes(ycrop), bytes(ucrop), bytes(vcrop)


def _decode_block(bd, probs, tp, ctx, first, out, qdc, qac) -> bool:
    """Token-decode one 4x4 block into `out` (dequantized, de-zigzagged).
    Returns whether any coefficient is non-zero."""
    c = first
    start = 0
    nnz = False
    while c < 16:
        p = _coeff_prob(probs, tp, BANDS[c], ctx)
        tok = bd.tree(TOKEN_TREE, p, start)
        if tok == TOK_EOB:
            break
        if tok == TOK_0:
            ctx = 0
            start = 2                            # no EOB after a zero
            c += 1
            continue
        start = 0
        if tok == TOK_1:
            v = 1
            ctx = 1
        else:
            ctx = 2
            if tok <= TOK_4:
                v = tok - 1                      # TOK_2..TOK_4 -> 2..4
            else:
                cat = tok - TOK_CAT1
                v = CAT_BASE[cat]
                extra = 0
                for pb in CAT_PROBS[cat]:
                    extra = (extra << 1) | bd.get(pb)
                v += extra
        if bd.get(128):
            v = -v
        out[ZIGZAG[c]] = v * (qdc if c == 0 else qac)
        nnz = True
        c += 1
    return nnz


def _iwalsh(y2, coeffs):
    """Inverse WHT of the Y2 block; results become the DC terms of the
    16 Y blocks (RFC 14.3)."""
    tmp = [0] * 16
    for i in range(4):
        a1 = y2[i] + y2[12 + i]
        b1 = y2[4 + i] + y2[8 + i]
        c1 = y2[4 + i] - y2[8 + i]
        d1 = y2[i] - y2[12 + i]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 3]
        b1 = tmp[4 * i + 1] + tmp[4 * i + 2]
        c1 = tmp[4 * i + 1] - tmp[4 * i + 2]
        d1 = tmp[4 * i] - tmp[4 * i + 3]
        coeffs[4 * i][0] = (a1 + b1 + 3) >> 3
        coeffs[4 * i + 1][0] = (c1 + d1 + 3) >> 3
        coeffs[4 * i + 2][0] = (a1 - b1 + 3) >> 3
        coeffs[4 * i + 3][0] = (d1 - c1 + 3) >> 3


def _idct(blk):
    """Exact integer inverse DCT (RFC 14.4)."""
    tmp = [0] * 16
    for i in range(4):
        a1 = blk[i] + blk[8 + i]
        b1 = blk[i] - blk[8 + i]
        t1 = (blk[4 + i] * 35468) >> 16
        t2 = blk[12 + i] + ((blk[12 + i] * 20091) >> 16)
        c1 = t1 - t2
        t1 = blk[4 + i] + ((blk[4 + i] * 20091) >> 16)
        t2 = (blk[12 + i] * 35468) >> 16
        d1 = t1 + t2
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        a1 = tmp[4 * i] + tmp[4 * i + 2]
        b1 = tmp[4 * i] - tmp[4 * i + 2]
        t1 = (tmp[4 * i + 1] * 35468) >> 16
        t2 = tmp[4 * i + 3] + ((tmp[4 * i + 3] * 20091) >> 16)
        c1 = t1 - t2
        t1 = tmp[4 * i + 1] + ((tmp[4 * i + 1] * 20091) >> 16)
        t2 = (tmp[4 * i + 3] * 35468) >> 16
        d1 = t1 + t2
        out[4 * i] = (a1 + d1 + 4) >> 3
        out[4 * i + 3] = (a1 - d1 + 4) >> 3
        out[4 * i + 1] = (b1 + c1 + 4) >> 3
        out[4 * i + 2] = (b1 - c1 + 4) >> 3
    return out


def _avg3(a, b, c):
    return (a + 2 * b + c + 2) >> 2


def _avg2(a, b):
    return (a + b + 1) >> 1


def _pred4(mode, A, L, P):
    """One 4x4 B-mode prediction (RFC 12.3). A = 8 above pixels incl.
    above-right (A..D, E..H in the reference code's naming), L = 4 left
    pixels top-to-bottom (I, J, K, L), P = above-left corner (X).
    Formulas follow the reference decoder's explicit per-pixel
    assignments; b[row][col]."""
    b = [[0] * 4 for _ in range(4)]
    a0, a1, a2, a3, a4, a5, a6, a7 = A
    i_, j_, k_, l_ = L
    x_ = P
    if mode == B_DC:
        v = (a0 + a1 + a2 + a3 + i_ + j_ + k_ + l_ + 4) >> 3
        for r in range(4):
            for c in range(4):
                b[r][c] = v
    elif mode == B_TM:
        for r in range(4):
            lv = L[r]
            for c in range(4):
                b[r][c] = _clip255(lv + A[c] - x_)
    elif mode == B_VE:
        top = [_avg3(x_, a0, a1), _avg3(a0, a1, a2),
               _avg3(a1, a2, a3), _avg3(a2, a3, a4)]
        for r in range(4):
            b[r] = top[:]
    elif mode == B_HE:
        rows = [_avg3(x_, i_, j_), _avg3(i_, j_, k_),
                _avg3(j_, k_, l_), _avg3(k_, l_, l_)]
        for r in range(4):
            b[r] = [rows[r]] * 4
    elif mode == B_LD:
        b[0][0] = _avg3(a0, a1, a2)
        b[0][1] = b[1][0] = _avg3(a1, a2, a3)
        b[0][2] = b[1][1] = b[2][0] = _avg3(a2, a3, a4)
        b[0][3] = b[1][2] = b[2][1] = b[3][0] = _avg3(a3, a4, a5)
        b[1][3] = b[2][2] = b[3][1] = _avg3(a4, a5, a6)
        b[2][3] = b[3][2] = _avg3(a5, a6, a7)
        b[3][3] = _avg3(a6, a7, a7)
    elif mode == B_RD:
        b[3][0] = _avg3(j_, k_, l_)
        b[2][0] = b[3][1] = _avg3(i_, j_, k_)
        b[1][0] = b[2][1] = b[3][2] = _avg3(x_, i_, j_)
        b[0][0] = b[1][1] = b[2][2] = b[3][3] = _avg3(a0, x_, i_)
        b[0][1] = b[1][2] = b[2][3] = _avg3(a1, a0, x_)
        b[0][2] = b[1][3] = _avg3(a2, a1, a0)
        b[0][3] = _avg3(a3, a2, a1)
    elif mode == B_VR:
        b[0][0] = b[2][1] = _avg2(x_, a0)
        b[0][1] = b[2][2] = _avg2(a0, a1)
        b[0][2] = b[2][3] = _avg2(a1, a2)
        b[0][3] = _avg2(a2, a3)
        b[3][0] = _avg3(k_, j_, i_)
        b[2][0] = _avg3(j_, i_, x_)
        b[1][0] = b[3][1] = _avg3(i_, x_, a0)
        b[1][1] = b[3][2] = _avg3(x_, a0, a1)
        b[1][2] = b[3][3] = _avg3(a0, a1, a2)
        b[1][3] = _avg3(a1, a2, a3)
    elif mode == B_VL:
        b[0][0] = _avg2(a0, a1)
        b[0][1] = b[2][0] = _avg2(a1, a2)
        b[0][2] = b[2][1] = _avg2(a2, a3)
        b[0][3] = b[2][2] = _avg2(a3, a4)
        b[1][0] = _avg3(a0, a1, a2)
        b[1][1] = b[3][0] = _avg3(a1, a2, a3)
        b[1][2] = b[3][1] = _avg3(a2, a3, a4)
        b[1][3] = b[3][2] = _avg3(a3, a4, a5)
        b[2][3] = _avg3(a4, a5, a6)
        b[3][3] = _avg3(a5, a6, a7)
    elif mode == B_HD:
        b[0][0] = b[1][2] = _avg2(i_, x_)
        b[1][0] = b[2][2] = _avg2(j_, i_)
        b[2][0] = b[3][2] = _avg2(k_, j_)
        b[3][0] = _avg2(l_, k_)
        b[0][3] = _avg3(a0, a1, a2)
        b[0][2] = _avg3(x_, a0, a1)
        b[0][1] = b[1][3] = _avg3(i_, x_, a0)
        b[1][1] = b[2][3] = _avg3(x_, i_, j_)
        b[2][1] = b[3][3] = _avg3(i_, j_, k_)
        b[3][1] = _avg3(j_, k_, l_)
    elif mode == B_HU:
        b[0][0] = _avg2(i_, j_)
        b[0][2] = b[1][0] = _avg2(j_, k_)
        b[1][2] = b[2][0] = _avg2(k_, l_)
        b[0][1] = _avg3(i_, j_, k_)
        b[0][3] = b[1][1] = _avg3(j_, k_, l_)
        b[1][3] = b[2][1] = _avg3(k_, l_, l_)
        b[2][2] = b[2][3] = l_
        b[3][0] = b[3][1] = b[3][2] = b[3][3] = l_
    else:
        raise VP8Error(f"invalid B mode {mode}")
    return b


def _pred_block(plane, stride, x, y, size, mode, avail_up, avail_left):
    """Whole-block intra prediction (16x16 Y or 8x8 chroma)."""
    if mode == DC_PRED:
        s = 0
        n = 0
        if avail_up:
            for c in range(size):
                s += plane[(y - 1) * stride + x + c]
            n += size
        if avail_left:
            for r in range(size):
                s += plane[(y + r) * stride + x - 1]
            n += size
        v = 128 if n == 0 else (s + (n >> 1)) // n
        row = bytes([v]) * size
        for r in range(size):
            plane[(y + r) * stride + x:(y + r) * stride + x + size] = row
    elif mode == V_PRED:
        top = plane[(y - 1) * stride + x:(y - 1) * stride + x + size] \
            if avail_up else bytes([127]) * size
        for r in range(size):
            plane[(y + r) * stride + x:(y + r) * stride + x + size] = top
    elif mode == H_PRED:
        for r in range(size):
            v = plane[(y + r) * stride + x - 1] if avail_left else 129
            plane[(y + r) * stride + x:(y + r) * stride + x + size] = \
                bytes([v]) * size
    else:                                        # TM
        # RFC edge fills: the whole above row (incl. the corner) is 127
        # when the MB row is the frame top; the corner is 129 when only
        # the left column is outside (the libwebp reconstruct fills)
        corner = (127 if not avail_up else
                  129 if not avail_left else
                  plane[(y - 1) * stride + x - 1])
        top = [plane[(y - 1) * stride + x + c] if avail_up else 127
               for c in range(size)]
        for r in range(size):
            left = plane[(y + r) * stride + x - 1] if avail_left else 129
            ro = (y + r) * stride + x
            for c in range(size):
                plane[ro + c] = _clip255(left + top[c] - corner)


def _add_residual(plane, stride, x, y, blk):
    has = False
    for v in blk:
        if v:
            has = True
            break
    if not has:
        return
    res = _idct(blk)
    for r in range(4):
        ro = (y + r) * stride + x
        for c in range(4):
            plane[ro + c] = _clip255(plane[ro + c] + res[4 * r + c])


def _reconstruct_mb(Y, U, V, yw, cw, mbx, mby, mw, ymode, bmodes,
                    uvmode, coeffs):
    x0, y0 = mbx * 16, mby * 16
    up = mby > 0
    left = mbx > 0
    if ymode != B_PRED:
        _pred_block(Y, yw, x0, y0, 16, ymode, up, left)
        for sb in range(16):
            sx, sy = (sb & 3) * 4, (sb >> 2) * 4
            _add_residual(Y, yw, x0 + sx, y0 + sy, coeffs[sb])
    else:
        for sb in range(16):
            sx, sy = (sb & 3) * 4, (sb >> 2) * 4
            bx, by = x0 + sx, y0 + sy
            # Edge conventions (RFC 12.2): pixels above the frame are
            # 127, left of the frame 129; the MB's above-right always
            # comes from the row ABOVE the macroblock (the VP8 quirk) —
            # for the rightmost MB, the last above pixel is replicated.
            if by == 0:
                A = [127] * 8
            else:
                arow = (by - 1) * yw
                A = [Y[arow + bx + c] for c in range(4)]
                if sx < 12:
                    A += [Y[arow + bx + 4 + k] for k in range(4)]
                elif sy == 0 or up:
                    trow = (y0 - 1) * yw
                    if mbx < mw - 1:
                        A += [Y[trow + x0 + 16 + k] for k in range(4)]
                    else:
                        A += [Y[trow + x0 + 15]] * 4
                else:
                    A += [127] * 4
            if bx == 0:
                L = [129] * 4
            else:
                L = [Y[(by + r) * yw + bx - 1] for r in range(4)]
            if by == 0:
                P = 127
            elif bx == 0:
                P = 129
            else:
                P = Y[(by - 1) * yw + bx - 1]
            pred = _pred4(bmodes[sb], A, L, P)
            blk = coeffs[sb]
            res = _idct(blk) if any(blk) else None
            for r in range(4):
                ro = (by + r) * yw + bx
                for c in range(4):
                    v = pred[r][c]
                    if res is not None:
                        v = _clip255(v + res[4 * r + c])
                    Y[ro + c] = v

    cx, cy = mbx * 8, mby * 8
    _pred_block(U, cw, cx, cy, 8, uvmode, up, left)
    _pred_block(V, cw, cx, cy, 8, uvmode, up, left)
    for pl, plane in ((0, U), (1, V)):
        for sb in range(4):
            sx, sy = (sb & 1) * 4, (sb >> 1) * 4
            _add_residual(plane, cw, cx + sx, cy + sy,
                          coeffs[16 + pl * 4 + sb])


# --------------------------------------------------------------------------
# Loop filter (RFC 6386 15)
# --------------------------------------------------------------------------

def _s(v):                                       # u8 -> signed
    return v - 128


def _u(v):                                       # signed -> u8 with clamp
    return _clip255(v + 128)


def _c7(v):                                      # clamp to signed char
    return -128 if v < -128 else 127 if v > 127 else v


def _filter_mask(I, E, p3, p2, p1, p0, q0, q1, q2, q3):
    return (abs(p0 - q0) * 2 + abs(p1 - q1) // 2 <= E
            and abs(p3 - p2) <= I and abs(p2 - p1) <= I
            and abs(p1 - p0) <= I and abs(q1 - q0) <= I
            and abs(q2 - q1) <= I and abs(q3 - q2) <= I)


def _hev(thr, p1, p0, q0, q1):
    return abs(p1 - p0) > thr or abs(q1 - q0) > thr


def _common_adjust(use_outer, px):
    """px = [p1, p0, q0, q1] as u8; returns (a, px updated)."""
    p1, p0, q0, q1 = (_s(v) for v in px)
    a = _c7((_c7(p1 - q1) if use_outer else 0) + 3 * (q0 - p0))
    f = _c7(a + 4) >> 3
    e = _c7(a + 3) >> 3
    q0 = _c7(q0 - f)
    p0 = _c7(p0 + e)
    return f, [_u(p1), _u(p0), _u(q0), _u(q1)]


def _subblock_filter(hev_thr, I, E, pix):
    """pix = [p3..q3] 8 values; returns filtered or None."""
    p3, p2, p1, p0, q0, q1, q2, q3 = pix
    if not _filter_mask(I, E, *pix):
        return None
    hv = _hev(hev_thr, p1, p0, q0, q1)
    f, (np1, np0, nq0, nq1) = _common_adjust(hv, [p1, p0, q0, q1])
    if not hv:
        a = (_c7(f + 1)) >> 1
        nq1 = _u(_c7(_s(nq1) - a))
        np1 = _u(_c7(_s(np1) + a))
    return [p3, p2, np1, np0, nq0, nq1, q2, q3]


def _mbedge_filter(hev_thr, I, E, pix):
    p3, p2, p1, p0, q0, q1, q2, q3 = pix
    if not _filter_mask(I, E, *pix):
        return None
    if _hev(hev_thr, p1, p0, q0, q1):
        _f, (np1, np0, nq0, nq1) = _common_adjust(True,
                                                  [p1, p0, q0, q1])
        return [p3, p2, np1, np0, nq0, nq1, q2, q3]
    sp2, sp1, sp0 = _s(p2), _s(p1), _s(p0)
    sq0, sq1, sq2 = _s(q0), _s(q1), _s(q2)
    w = _c7(_c7(sp1 - sq1) + 3 * (sq0 - sp0))
    a = _c7((27 * w + 63) >> 7)
    sq0 = _c7(sq0 - a)
    sp0 = _c7(sp0 + a)
    a = _c7((18 * w + 63) >> 7)
    sq1 = _c7(sq1 - a)
    sp1 = _c7(sp1 + a)
    a = _c7((9 * w + 63) >> 7)
    sq2 = _c7(sq2 - a)
    sp2 = _c7(sp2 + a)
    return [p3, _u(sp2), _u(sp1), _u(sp0), _u(sq0), _u(sq1),
            _u(sq2), q3]


def _simple_filter(E, pix):
    p1, p0, q0, q1 = pix[2:6]
    if abs(p0 - q0) * 2 + abs(p1 - q1) // 2 > E:
        return None
    _f, (_p1, np0, nq0, _q1) = _common_adjust(True, [p1, p0, q0, q1])
    return [pix[0], pix[1], p1, np0, nq0, q1, pix[6], pix[7]]


def _loop_filter(Y, U, V, yw, cw, mw, mh, mb_info, simple, sharpness):
    for mby in range(mh):
        for mbx in range(mw):
            level, inner = mb_info[mby][mbx]
            if level == 0:
                continue
            interior = level
            if sharpness:
                interior >>= 2 if sharpness > 4 else 1
                if interior > 9 - sharpness:
                    interior = 9 - sharpness
            if interior < 1:
                interior = 1
            hev_thr = 2 if level >= 40 else (1 if level >= 15 else 0)
            mb_e = ((level + 2) * 2) + interior
            sb_e = (level * 2) + interior

            if simple:
                _filter_plane_edges(Y, yw, mbx, mby, 16, mb_e, sb_e,
                                    0, interior, inner, simple=True)
            else:
                _filter_plane_edges(Y, yw, mbx, mby, 16, mb_e, sb_e,
                                    hev_thr, interior, inner)
                _filter_plane_edges(U, cw, mbx, mby, 8, mb_e, sb_e,
                                    hev_thr, interior, inner)
                _filter_plane_edges(V, cw, mbx, mby, 8, mb_e, sb_e,
                                    hev_thr, interior, inner)


def _filter_plane_edges(P, stride, mbx, mby, size, mb_e, sb_e, hev_thr,
                        interior, inner, simple=False):
    x0 = mbx * size
    y0 = mby * size

    def col(x, y):                               # 8 horizontal pixels
        ro = y * stride
        return [P[ro + x - 4 + i] for i in range(8)]

    def setcol(x, y, vals):
        ro = y * stride
        for i in range(8):
            P[ro + x - 4 + i] = vals[i]

    def row(x, y):                               # 8 vertical pixels
        return [P[(y - 4 + i) * stride + x] for i in range(8)]

    def setrow(x, y, vals):
        for i in range(8):
            P[(y - 4 + i) * stride + x] = vals[i]

    # vertical edges (left MB edge, then internal)
    if mbx > 0:
        for y in range(y0, y0 + size):
            pix = col(x0, y)
            out = (_simple_filter(mb_e, pix) if simple
                   else _mbedge_filter(hev_thr, interior, mb_e, pix))
            if out:
                setcol(x0, y, out)
    if inner:
        for dx in range(4, size, 4):
            for y in range(y0, y0 + size):
                pix = col(x0 + dx, y)
                out = (_simple_filter(sb_e, pix) if simple
                       else _subblock_filter(hev_thr, interior, sb_e,
                                             pix))
                if out:
                    setcol(x0 + dx, y, out)
    # horizontal edges (top MB edge, then internal)
    if mby > 0:
        for x in range(x0, x0 + size):
            pix = row(x, y0)
            out = (_simple_filter(mb_e, pix) if simple
                   else _mbedge_filter(hev_thr, interior, mb_e, pix))
            if out:
                setrow(x, y0, out)
    if inner:
        for dy in range(4, size, 4):
            for x in range(x0, x0 + size):
                pix = row(x, y0 + dy)
                out = (_simple_filter(sb_e, pix) if simple
                       else _subblock_filter(hev_thr, interior, sb_e,
                                             pix))
                if out:
                    setrow(x, y0 + dy, out)
