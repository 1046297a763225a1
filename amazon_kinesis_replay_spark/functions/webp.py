"""WebP (VP8L lossless) codec: pure-Python decoder + minimal encoder.

Decoder implements the public "WebP Lossless Bitstream Specification"
(VP8L): LSB-first bit reading, simple + normal (code-length-coded)
canonical Huffman codes with the 19-symbol code-length alphabet and
max_symbol cut-off, meta-Huffman groups, color cache (hash
0x1e35a7bd), LZ77 backward references with the 120-entry 2-D distance
map, and all four inverse transforms (predictor with its 14 modes,
cross-color, subtract-green, color-indexing incl. sub-byte packed
indices). Output is RGBA bytes, byte-exact against libwebp.

The distance map and every behavioral corner here are pinned by the
tests against the container's libwebp.so.7 (the NORMATIVE decoder) in
BOTH directions: libwebp-encoded streams (all transforms active at
default effort) must decode byte-exact here, and streams from this
module's encoder must decode byte-exact through libwebp. The
`_DIST_MAP` table was extracted empirically from libwebp by probing
single-backref streams at two widths (not transcribed from any source
file), and the test re-derives it the same way.

Encoder scope: a deliberately minimal, spec-valid literal-only VP8L
writer (no transforms, no LZ77, fixed 8-bit codes) — the fixture-
synthesis half, the FLAC/JPEG encoder-first witness pattern. Lossless
by construction.

Lossy 'VP8 ' decodes via functions/vp8.py (RFC 6386, YUV bit-exact vs
libwebp) incl. the ALPH alpha plane (`decode_alpha` — headerless VP8L
stream or raw, + horizontal/vertical/gradient row unfilters, byte-exact
vs libwebp's A channel); animation remains a NotImplementedError gate.

Reference scope note: the reference engine has no media decode; this
belongs to the repo's multimodal extension surface beside
functions/jpeg.py (see operators/multimodal.py docstring).
"""

from __future__ import annotations

import struct

#: Plane-code -> (dx, dy) map for LZ77 distances < 121: the 2-D
#: neighborhood ordering of the VP8L spec. distance = dy*width + dx,
#: clamped to >= 1. Extracted from libwebp.so.7 by dual-width probe
#: (see module docstring + test_webp_distance_map_matches_libwebp).
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7))

#: Code-length symbols are stored in this fixed order (spec).
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
             14, 15)

_NUM_LENGTH_CODES = 24       # green alphabet: 256 literals + 24 lengths
_NUM_DIST_CODES = 40


class WebPError(ValueError):
    """Malformed VP8L stream (never silently wrong pixels)."""


class _BitReader:
    """LSB-first bit reader over the VP8L payload."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0                     # bit position

    def bits(self, n: int) -> int:
        p = self.pos
        end = p + n
        if end > len(self.data) * 8:
            raise WebPError("VP8L bitstream truncated")
        v = 0
        shift = 0
        while n > 0:
            byte = self.data[p >> 3]
            avail = 8 - (p & 7)
            take = min(avail, n)
            v |= ((byte >> (p & 7)) & ((1 << take) - 1)) << shift
            shift += take
            p += take
            n -= take
        self.pos = p
        return v

    def bit(self) -> int:
        return self.bits(1)


class _Huffman:
    """Canonical prefix code decoded bit-by-bit (codes enter the stream
    MSB-of-code first, the DEFLATE convention). A single-symbol code
    (all lengths zero but one, or an explicit simple code with one
    symbol) consumes ZERO bits per read."""

    __slots__ = ("single", "table")

    def __init__(self, code_lengths):
        nz = [(ln, sym) for sym, ln in enumerate(code_lengths) if ln > 0]
        if not nz:
            raise WebPError("empty huffman code")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.table = None
            return
        self.single = None
        # Kraft check + canonical assignment sorted by (length, symbol)
        kraft = sum(1 << (15 - ln) for ln, _ in nz)
        if kraft != 1 << 15:
            raise WebPError("invalid (non-complete) huffman code")
        nz.sort()
        table = {}
        code = 0
        prev_len = nz[0][0]
        for ln, sym in nz:
            code <<= ln - prev_len
            prev_len = ln
            table[(ln, code)] = sym
            code += 1
        self.table = table

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        ln = 0
        table = self.table
        while True:
            code = (code << 1) | br.bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
            if ln > 15:
                raise WebPError("invalid huffman code in stream")


def _read_code_lengths(br: _BitReader, cl_huff: _Huffman,
                       num_symbols: int) -> list[int]:
    """Symbol code lengths via the code-length code, with the repeat
    ops (16/17/18) and the optional max_symbol cut-off — mirrors the
    spec's ReadHuffmanCodeLengths (prev_code_len defaults to 8)."""
    if br.bit():                          # use max_symbol
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    else:
        max_symbol = num_symbols
    lengths = [0] * num_symbols
    prev = 8
    symbol = 0
    while symbol < num_symbols:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = cl_huff.read(br)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev = code_len
        else:
            use_prev = code_len == 16
            extra = (2, 3, 7)[code_len - 16]
            base = (3, 3, 11)[code_len - 16]
            repeat = br.bits(extra) + base
            fill = prev if use_prev else 0
            while repeat > 0 and symbol < num_symbols:
                lengths[symbol] = fill
                symbol += 1
                repeat -= 1
    return lengths


def _read_huffman(br: _BitReader, alphabet_size: int) -> _Huffman:
    if br.bit():                          # simple code
        num_symbols = br.bit() + 1
        if br.bit():                      # 8-bit first symbol
            sym0 = br.bits(8)
        else:
            sym0 = br.bit()
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size:
            raise WebPError("simple-code symbol out of range")
        if num_symbols == 1:
            return _single(sym0)          # single symbol: 0-bit reads
        sym1 = br.bits(8)
        if sym1 >= alphabet_size or sym1 == sym0:
            raise WebPError("simple-code symbol out of range")
        lengths[sym0] = 1
        lengths[sym1] = 1
        return _Huffman(lengths)
    num_cl = 4 + br.bits(4)
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_CL_ORDER[i]] = br.bits(3)
    if sum(cl_lengths) == 0:
        raise WebPError("empty code-length code")
    nz = [(ln, s) for s, ln in enumerate(cl_lengths) if ln]
    cl_huff = _single(nz[0][1]) if len(nz) == 1 else _Huffman(cl_lengths)
    lengths = _read_code_lengths(br, cl_huff, alphabet_size)
    nz2 = [s for s, ln in enumerate(lengths) if ln]
    if len(nz2) == 1:
        return _single(nz2[0])
    return _Huffman(lengths)


def _single(sym: int) -> _Huffman:
    h = _Huffman.__new__(_Huffman)
    h.single = sym
    h.table = None
    return h


def _prefix_decode(br: _BitReader, code: int) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.bits(extra) + 1


def _div_round_up(a: int, shift: int) -> int:
    return (a + (1 << shift) - 1) >> shift


def _decode_image(br: _BitReader, xsize: int, ysize: int,
                  level0: bool = False):
    """One VP8L entropy-coded image -> (pixels, final_xsize). pixels is
    a flat list of ARGB ints of final_xsize*ysize (color-indexing at
    level0 shrinks the coded width). Transforms (level0 only) are
    applied inverse before returning."""
    transforms = []
    if level0:
        while br.bit():
            ttype = br.bits(2)
            if any(t[0] == ttype for t in transforms):
                raise WebPError("duplicate transform")
            if ttype in (0, 1):           # predictor / cross-color
                size_bits = br.bits(3) + 2
                tw = _div_round_up(xsize, size_bits)
                th = _div_round_up(ysize, size_bits)
                tdata, _ = _decode_image(br, tw, th)
                transforms.append((ttype, size_bits, tdata, xsize))
            elif ttype == 2:              # subtract green
                transforms.append((2,))
            else:                         # color indexing
                n_colors = br.bits(8) + 1
                pal, _ = _decode_image(br, n_colors, 1)
                # palette entries are component-wise deltas
                for i in range(1, n_colors):
                    p, q = pal[i], pal[i - 1]
                    pal[i] = ((((p >> 24) + (q >> 24)) & 0xFF) << 24 |
                              ((((p >> 16) + (q >> 16)) & 0xFF) << 16) |
                              ((((p >> 8) + (q >> 8)) & 0xFF) << 8) |
                              (((p + q) & 0xFF)))
                if n_colors <= 2:
                    wbits = 3
                elif n_colors <= 4:
                    wbits = 2
                elif n_colors <= 16:
                    wbits = 1
                else:
                    wbits = 0
                transforms.append((3, pal, wbits, xsize))
                xsize = _div_round_up(xsize, wbits)

    cache_bits = 0
    if br.bit():
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise WebPError(f"invalid color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta = None
    meta_w = huff_bits = 0
    num_groups = 1
    if level0 and br.bit():               # meta-huffman codes
        huff_bits = br.bits(3) + 2
        meta_w = _div_round_up(xsize, huff_bits)
        meta_h = _div_round_up(ysize, huff_bits)
        meta, _ = _decode_image(br, meta_w, meta_h)
        meta = [(p >> 8) & 0xFFFF for p in meta]
        num_groups = max(meta) + 1

    green_size = 256 + _NUM_LENGTH_CODES + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append((_read_huffman(br, green_size),
                       _read_huffman(br, 256),
                       _read_huffman(br, 256),
                       _read_huffman(br, 256),
                       _read_huffman(br, _NUM_DIST_CODES)))

    total = xsize * ysize
    px: list[int] = [0] * total
    pos = 0
    while pos < total:
        if meta is not None:
            x = pos % xsize
            y = pos // xsize
            g = groups[meta[(y >> huff_bits) * meta_w + (x >> huff_bits)]]
        else:
            g = groups[0]
        s = g[0].read(br)
        if s < 256:
            r = g[1].read(br)
            b = g[2].read(br)
            a = g[3].read(br)
            pixel = (a << 24) | (r << 16) | (s << 8) | b
            px[pos] = pixel
            pos += 1
            if cache_bits:
                cache[(0x1E35A7BD * pixel & 0xFFFFFFFF)
                      >> (32 - cache_bits)] = pixel
        elif s < 256 + _NUM_LENGTH_CODES:
            length = _prefix_decode(br, s - 256)
            dist_code = _prefix_decode(br, g[4].read(br))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > total:
                raise WebPError("LZ77 reference out of range")
            for _ in range(length):
                pixel = px[pos - dist]
                px[pos] = pixel
                pos += 1
                if cache_bits:
                    cache[(0x1E35A7BD * pixel & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = pixel
        else:
            if not cache_bits:
                raise WebPError("cache symbol without color cache")
            px[pos] = cache[s - 256 - _NUM_LENGTH_CODES]
            pos += 1

    for t in reversed(transforms):
        if t[0] == 3:
            px, xsize = _inv_palette(px, t[1], t[2], t[3], ysize, xsize)
        elif t[0] == 2:
            px = _inv_subtract_green(px)
        elif t[0] == 1:
            px = _inv_color(px, t[1], t[2], t[3], ysize)
            xsize = t[3]
        else:
            px = _inv_predictor(px, t[1], t[2], t[3], ysize)
            xsize = t[3]
    return px, xsize


def _inv_subtract_green(px):
    for i, p in enumerate(px):
        g = (p >> 8) & 0xFF
        r = ((p >> 16) + g) & 0xFF
        b = (p + g) & 0xFF
        px[i] = (p & 0xFF00FF00) | (r << 16) | b
    return px


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _inv_color(px, size_bits, tdata, xsize, ysize):
    tw = _div_round_up(xsize, size_bits)
    for y in range(ysize):
        trow = (y >> size_bits) * tw
        for x in range(xsize):
            i = y * xsize + x
            cte = tdata[trow + (x >> size_bits)]
            # ColorCodeToMultipliers: g2r = bits 0-7, g2b = 8-15,
            # r2b = 16-23 of the transform-image pixel
            g2r = _s8(cte & 0xFF)
            g2b = _s8((cte >> 8) & 0xFF)
            r2b = _s8((cte >> 16) & 0xFF)
            p = px[i]
            g = _s8((p >> 8) & 0xFF)
            r = (((p >> 16) & 0xFF) + ((g2r * g) >> 5)) & 0xFF
            b = ((p & 0xFF) + ((g2b * g) >> 5)
                 + ((r2b * _s8(r)) >> 5)) & 0xFF
            px[i] = (p & 0xFF00FF00) | (r << 16) | b
    return px


def _avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b))


def _add_px(a: int, b: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        out |= (((a >> sh) + (b >> sh)) & 0xFF) << sh
    return out


def _clamp255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(t: int, l: int, tl: int) -> int:
    pa_minus_pb = 0
    for sh in (24, 16, 8, 0):
        tc = (t >> sh) & 0xFF
        lc = (l >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        pa_minus_pb += abs(lc - tlc) - abs(tc - tlc)
    return t if pa_minus_pb <= 0 else l


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:
    out = 0
    for sh in (0, 8, 16, 24):
        out |= _clamp255(((l >> sh) & 0xFF) + ((t >> sh) & 0xFF)
                         - ((tl >> sh) & 0xFF)) << sh
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:
    ave = _avg2(l, t)
    out = 0
    for sh in (0, 8, 16, 24):
        a = (ave >> sh) & 0xFF
        b = (tl >> sh) & 0xFF
        d = a - b
        half = -((-d) // 2) if d < 0 else d // 2     # trunc toward 0
        out |= _clamp255(a + half) << sh
    return out


def _inv_predictor(px, size_bits, tdata, xsize, ysize):
    tw = _div_round_up(xsize, size_bits)
    for i in range(len(px)):
        x = i % xsize
        y = i // xsize
        if i == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[i - 1]
        elif x == 0:
            pred = px[i - xsize]
        else:
            mode = (tdata[(y >> size_bits) * tw + (x >> size_bits)]
                    >> 8) & 0xFF
            L = px[i - 1]
            T = px[i - xsize]
            # top-right of the last column is the leftmost pixel of the
            # CURRENT row (flat-buffer semantics, per the spec)
            TR = px[i - xsize + 1]
            TL = px[i - xsize - 1]
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = L
            elif mode == 2:
                pred = T
            elif mode == 3:
                pred = TR
            elif mode == 4:
                pred = TL
            elif mode == 5:
                pred = _avg2(_avg2(L, TR), T)
            elif mode == 6:
                pred = _avg2(L, TL)
            elif mode == 7:
                pred = _avg2(L, T)
            elif mode == 8:
                pred = _avg2(TL, T)
            elif mode == 9:
                pred = _avg2(T, TR)
            elif mode == 10:
                pred = _avg2(_avg2(L, TL), _avg2(T, TR))
            elif mode == 11:
                pred = _select(T, L, TL)
            elif mode == 12:
                pred = _clamp_add_sub_full(L, T, TL)
            elif mode == 13:
                pred = _clamp_add_sub_half(L, T, TL)
            else:
                raise WebPError(f"invalid predictor mode {mode}")
        px[i] = _add_px(px[i], pred)
    return px


def _inv_palette(px, palette, wbits, xsize, ysize, packed_xsize):
    if wbits == 0:
        out = []
        for p in px:
            idx = (p >> 8) & 0xFF
            out.append(palette[idx] if idx < len(palette) else 0)
        return out, xsize
    per = 1 << wbits                      # indices per packed byte
    ibits = 8 >> wbits                    # bits per index
    mask = (1 << ibits) - 1
    out = [0] * (xsize * ysize)
    for y in range(ysize):
        prow = y * packed_xsize
        orow = y * xsize
        for x in range(xsize):
            packed = px[prow + (x >> wbits)]
            idx = ((packed >> 8) >> ((x & (per - 1)) * ibits)) & mask
            out[orow + x] = palette[idx] if idx < len(palette) else 0
    return out, xsize


def decode_webp(raw: bytes):
    """Decode a WebP container to (width, height, pixel_bytes): RGBA
    for VP8L (lossless), RGB for 'VP8 ' (lossy — functions/vp8.py
    decodes the keyframe to YUV bit-exact vs libwebp; the YUV->RGB
    step below is OUR deterministic studio-range BT.601 kernel, since
    color conversion is outside RFC 6386; lossy-with-alpha returns
    RGBA with the witnessed `decode_alpha` plane). Animation raises
    NotImplementedError."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        raise WebPError("not a WEBP payload")
    i = 12
    chunks = []
    while i + 8 <= len(raw):
        fourcc = raw[i:i + 4]
        csz = struct.unpack_from("<I", raw, i + 4)[0]
        chunks.append((fourcc, raw[i + 8:i + 8 + csz]))
        i += 8 + csz + (csz & 1)
    kinds = {f for f, _ in chunks}
    if b"ANIM" in kinds or b"ANMF" in kinds:
        raise NotImplementedError("animated WebP not supported")
    alph = next((b for f, b in chunks if f == b"ALPH"), None)
    for fourcc, body in chunks:
        if fourcc == b"VP8L":
            return _decode_vp8l(body)
        if fourcc == b"VP8 ":
            from .vp8 import decode_vp8
            w, h, y, u, v = decode_vp8(body)
            rgb = _yuv420_to_rgb(w, h, y, u, v)
            if alph is None:
                return w, h, rgb
            a = decode_alpha(alph, w, h)
            out = bytearray(w * h * 4)
            out[0::4] = rgb[0::3]
            out[1::4] = rgb[1::3]
            out[2::4] = rgb[2::3]
            out[3::4] = a
            return w, h, bytes(out)
    raise WebPError("no VP8/VP8L chunk in WEBP container")


def decode_alpha(alph: bytes, w: int, h: int) -> bytes:
    """Decode an ALPH chunk body to the w*h alpha plane: one header
    byte (bits 0-1 compression: 0=raw, 1=VP8L; bits 2-3 row filter:
    none/horizontal/vertical/gradient; bits 4-5 pre-processing — a
    pure encoder-side hint), then either raw bytes or a headerless
    VP8L image stream whose GREEN channel carries the alpha values.
    Witnessed byte-exact against the A channel of libwebp's
    WebPDecodeRGBA in the tests."""
    if not alph:
        raise WebPError("empty ALPH chunk")
    method = alph[0] & 3
    filt = (alph[0] >> 2) & 3
    data = alph[1:]
    if method == 0:
        if len(data) < w * h:
            raise WebPError("raw ALPH plane truncated")
        a = bytearray(data[:w * h])
    elif method == 1:
        br = _BitReader(data)
        px, final_w = _decode_image(br, w, h, level0=True)
        if final_w != w or len(px) != w * h:
            raise WebPError("ALPH VP8L stream size mismatch")
        a = bytearray((p >> 8) & 0xFF for p in px)
    else:
        raise WebPError(f"invalid ALPH compression method {method}")
    if filt == 1:                                 # horizontal
        for y in range(h):
            ro = y * w
            if y > 0:
                a[ro] = (a[ro] + a[ro - w]) & 0xFF
            for x in range(1, w):
                a[ro + x] = (a[ro + x] + a[ro + x - 1]) & 0xFF
    elif filt == 2:                               # vertical
        for x in range(1, w):                     # first row: horizontal
            a[x] = (a[x] + a[x - 1]) & 0xFF
        for y in range(1, h):
            ro = y * w
            for x in range(w):
                a[ro + x] = (a[ro + x] + a[ro + x - w]) & 0xFF
    elif filt == 3:                               # gradient
        for y in range(h):
            ro = y * w
            for x in range(w):
                if x == 0 and y == 0:
                    pred = 0
                elif y == 0:
                    pred = a[ro + x - 1]
                elif x == 0:
                    pred = a[ro + x - w]
                else:
                    g = (a[ro + x - 1] + a[ro + x - w]
                         - a[ro + x - w - 1])
                    pred = 0 if g < 0 else 255 if g > 255 else g
                a[ro + x] = (a[ro + x] + pred) & 0xFF
    return bytes(a)


def decode_webp_yuv(raw: bytes):
    """Decode a LOSSY WebP to its (width, height, Y, U, V) planes —
    the RFC-defined decoder output, bit-exact vs libwebp's
    WebPDecodeYUV (the tests' witness surface)."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        raise WebPError("not a WEBP payload")
    i = 12
    while i + 8 <= len(raw):
        fourcc = raw[i:i + 4]
        csz = struct.unpack_from("<I", raw, i + 4)[0]
        if fourcc == b"VP8 ":
            from .vp8 import decode_vp8
            return decode_vp8(raw[i + 8:i + 8 + csz])
        i += 8 + csz + (csz & 1)
    raise WebPError("no VP8 (lossy) chunk in WEBP container")


def _yuv420_to_rgb(w: int, h: int, y: bytes, u: bytes, v: bytes) -> bytes:
    """Deterministic studio-range BT.601 YUV420->RGB: nearest-neighbor
    chroma upsampling + r=1.164(y-16)+1.596(v-128) etc., rounded —
    numpy-vectorized, identical on every engine."""
    import numpy as np
    cw = (w + 1) >> 1
    ya = np.frombuffer(y, np.uint8).astype(np.float64).reshape(h, w)
    ua = np.frombuffer(u, np.uint8).astype(np.float64) \
        .reshape(-1, cw).repeat(2, 0)[:h].repeat(2, 1)[:, :w]
    va = np.frombuffer(v, np.uint8).astype(np.float64) \
        .reshape(-1, cw).repeat(2, 0)[:h].repeat(2, 1)[:, :w]
    yy = 1.164 * (ya - 16.0)
    r = yy + 1.596 * (va - 128.0)
    g = yy - 0.391 * (ua - 128.0) - 0.813 * (va - 128.0)
    b = yy + 2.018 * (ua - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()


def _decode_vp8l(body: bytes):
    if not body or body[0] != 0x2F:
        raise WebPError("bad VP8L signature")
    br = _BitReader(body[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bit()                              # alpha hint
    if br.bits(3) != 0:
        raise WebPError("unsupported VP8L version")
    px, final_w = _decode_image(br, w, h, level0=True)
    if final_w != w or len(px) != w * h:
        raise WebPError("decoded size mismatch")
    out = bytearray(w * h * 4)
    for i, p in enumerate(px):
        out[4 * i] = (p >> 16) & 0xFF
        out[4 * i + 1] = (p >> 8) & 0xFF
        out[4 * i + 2] = p & 0xFF
        out[4 * i + 3] = (p >> 24) & 0xFF
    return w, h, bytes(out)


# --------------------------------------------------------------------------
# Minimal encoder (fixture synthesis; spec-valid literal-only VP8L)
# --------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.bits = 0
        self.n = 0
        self.out = bytearray()

    def put(self, v: int, n: int) -> None:
        self.bits |= (v & ((1 << n) - 1)) << self.n
        self.n += n
        while self.n >= 8:
            self.out.append(self.bits & 0xFF)
            self.bits >>= 8
            self.n -= 8

    def put_code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.put((code >> i) & 1, 1)

    def done(self) -> bytes:
        if self.n:
            self.out.append(self.bits & 0xFF)
            self.bits = self.n = 0
        return bytes(self.out)


def _write_fixed8_code(bw: _BitWriter) -> None:
    """Normal huffman code with symbols 0..255 all length 8 (Kraft-
    complete); alphabet tails (green's 24 length codes) stay 0 via the
    max_symbol cut-off."""
    bw.put(0, 1)                          # normal
    bw.put(12 - 4, 4)                     # kOrder pos 0..11 (sym 8 @ 11)
    for pos in range(12):
        bw.put(1 if pos in (2, 11) else 0, 3)   # sym 0 -> 1, sym 8 -> 1
    bw.put(1, 1)                          # use max_symbol
    bw.put(3, 3)                          # length_nbits = 8
    bw.put(254, 8)                        # max_symbol = 256
    for _ in range(256):
        bw.put_code(1, 1)                 # code-length symbol 8


def _write_single_symbol_code(bw: _BitWriter, sym: int) -> None:
    bw.put(1, 1)                          # simple
    bw.put(0, 1)                          # one symbol
    if sym < 2:
        bw.put(0, 1)
        bw.put(sym, 1)
    else:
        bw.put(1, 1)
        bw.put(sym, 8)


def encode_webp_lossless(width: int, height: int, rgba: bytes) -> bytes:
    """Encode RGBA bytes as a minimal literal-only VP8L WebP — decodes
    byte-exact through BOTH this module's decoder and libwebp (the
    tests pin the latter)."""
    if len(rgba) < width * height * 4:
        raise WebPError("raster shorter than width*height*4")
    bw = _BitWriter()
    bw.put(width - 1, 14)
    bw.put(height - 1, 14)
    bw.put(1 if any(rgba[3::4][i] != 255
                    for i in range(width * height)) else 0, 1)
    bw.put(0, 3)                          # version
    bw.put(0, 1)                          # no transforms
    bw.put(0, 1)                          # no color cache
    bw.put(0, 1)                          # no meta-huffman
    _write_fixed8_code(bw)                # green
    _write_fixed8_code(bw)                # red
    _write_fixed8_code(bw)                # blue
    _write_fixed8_code(bw)                # alpha
    _write_single_symbol_code(bw, 0)      # distance (never used)
    for i in range(width * height):
        r, g, b, a = rgba[4 * i:4 * i + 4]
        bw.put_code(g, 8)
        bw.put_code(r, 8)
        bw.put_code(b, 8)
        bw.put_code(a, 8)
    payload = b"\x2f" + bw.done()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return (b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP"
            + chunk)
