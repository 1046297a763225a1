"""Pure-Python GIF codec (decoder + encoder), stdlib only.

Completes the stdlib-implementable still-image set next to the PNG codec
(operators/multimodal.py) and the baseline-JPEG codec (functions/jpeg.py):
the decode gate in the multimodal pipeline dispatches GIF payloads here.

Decoder scope: GIF87a/GIF89a, global and local color tables, interlaced
and non-interlaced frames, transparency (via Graphic Control Extension).
`decode_gif` is the "give me the image" path: the first frame,
composited onto the logical screen at its (left, top) offset over the
background color, so output rasters are always the logical screen size.
Malformed streams raise ValueError; wrong pixels are never silently
emitted.

Encoder scope: single full-screen frame (`encode_gif`, optional
interlace) — enough to synthesize real decode fixtures exercising every
decoder path and to serve as the round-trip witness.
Foreign-encoder correctness is separately witnessed by decoding
CPython's libgif-made test fixtures (tests/test_pipeline_ops.py).

LZW variable-code-width pairing (GIF89a spec Appendix F): the decoder
widens after its table length reaches 1 << code_size; the encoder widens
after assigning entry number 1 << code_size. Both stop growing at 12 bits
and stop adding entries at 4096 (deferred-clear: the encoder keeps
emitting codes from the frozen table, which every conformant decoder
tolerates).
"""

from __future__ import annotations

import struct

_MAX_CODE_BITS = 12
_TABLE_LIMIT = 1 << _MAX_CODE_BITS           # 4096

#: Interlace pass (first_row, row_step) per GIF89a appendix E.
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


# --------------------------------------------------------------------------
# LZW
# --------------------------------------------------------------------------


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytes:
    """Decode a GIF LZW stream to exactly n_pixels index bytes."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]

    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while len(out) < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError(
                    f"truncated LZW stream: {len(out)}/{n_pixels} pixels "
                    "decoded before the data ran out")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"LZW code {code} before any output")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < _TABLE_LIMIT:
                table.append(prev + entry[:1])
        elif code == len(table):                 # the KwKwK case
            entry = prev + prev[:1]
            if len(table) < _TABLE_LIMIT:
                table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table "
                             f"size {len(table)}")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < _MAX_CODE_BITS:
            code_size += 1
    if len(out) < n_pixels:
        raise ValueError(f"LZW stream ended at {len(out)}/{n_pixels} pixels")
    return bytes(out[:n_pixels])


def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """Encode index bytes as a GIF LZW stream (clear code first, EOI last)."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    acc = nbits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes((i,)): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    w = b""
    for b in indices:
        wb = w + bytes((b,))
        if wb in table:
            w = wb
            continue
        emit(table[w])
        if next_code < _TABLE_LIMIT:
            table[wb] = next_code
            next_code += 1
            if (next_code == (1 << code_size) + 1
                    and code_size < _MAX_CODE_BITS):
                code_size += 1
        w = bytes((b,))
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# --------------------------------------------------------------------------
# Container
# --------------------------------------------------------------------------


def _sub_blocks(raw: bytes, i: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at i; return (data, next_i)."""
    parts: list[bytes] = []
    while True:
        if i >= len(raw):
            raise ValueError("truncated GIF: unterminated sub-block chain")
        n = raw[i]
        i += 1
        if n == 0:
            return b"".join(parts), i
        if i + n > len(raw):
            raise ValueError("truncated GIF sub-block")
        parts.append(raw[i:i + n])
        i += n


def decode_gif(raw: bytes) -> tuple[int, int, bytes]:
    """(width, height, rgb_bytes) of the FIRST frame composited onto the
    logical screen at its (left, top) offset, the background color under
    transparent and uncovered pixels. Later frames of an animation are
    not read. Malformed streams raise ValueError."""
    if len(raw) < 13 or raw[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, bg_idx, _aspect = struct.unpack_from("<HHBBB", raw, 6)
    i = 13
    gct = b""
    if packed & 0x80:
        n = 3 * (2 << (packed & 0x07))
        gct = raw[i:i + n]
        if len(gct) < n:
            raise ValueError("truncated GIF global color table")
        i += n

    # Background index refers to the GLOBAL color table (GIF89a spec
    # §18); slicing the active (possibly smaller LOCAL) table could
    # yield <3 bytes and silently mis-size the raster (r6 ADVICE).
    bg = (gct[3 * bg_idx:3 * bg_idx + 3]
          if gct and bg_idx < len(gct) // 3 else b"\x00\x00\x00")
    screen = bytearray(bg * (sw * sh))

    # Graphic Control Extension: the transparent index of the next frame
    transparent_idx = -1
    while i < len(raw):
        b0 = raw[i]
        if b0 == 0x3B:                           # trailer
            break
        if b0 == 0x21:                           # extension
            if i + 2 > len(raw):
                raise ValueError("truncated GIF extension")
            label = raw[i + 1]
            body, i = _sub_blocks(raw, i + 2)
            if label == 0xF9 and len(body) >= 4:  # Graphic Control Ext
                transparent_idx = body[3] if body[0] & 0x01 else -1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected GIF block id 0x{b0:02x}")
        # image descriptor
        if i + 10 > len(raw):
            raise ValueError("truncated GIF image descriptor")
        left, top, fw, fh, ipacked = struct.unpack_from("<HHHHB", raw, i + 1)
        i += 10
        table = gct
        if ipacked & 0x80:                       # local color table
            n = 3 * (2 << (ipacked & 0x07))
            table = raw[i:i + n]
            if len(table) < n:
                raise ValueError("truncated GIF local color table")
            i += n
        if not table:
            raise ValueError("GIF frame has no color table")
        if fw == 0 or fh == 0 or left + fw > sw or top + fh > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        if i >= len(raw):
            raise ValueError("truncated GIF image data")
        min_code_size = raw[i]
        data, i = _sub_blocks(raw, i + 1)
        idx = _lzw_decode(min_code_size, data, fw * fh)

        if ipacked & 0x40:                       # deinterlace
            rows = [b""] * fh
            src = 0
            for first, step in _INTERLACE_PASSES:
                for y in range(first, fh, step):
                    rows[y] = idx[src * fw:(src + 1) * fw]
                    src += 1
            idx = b"".join(rows)

        n_colors = len(table) // 3
        for y in range(fh):
            row = idx[y * fw:(y + 1) * fw]
            o = ((top + y) * sw + left) * 3
            for x, c in enumerate(row):
                if c == transparent_idx:
                    continue
                if c >= n_colors:
                    raise ValueError(
                        f"GIF pixel index {c} beyond color table "
                        f"({n_colors} entries)")
                screen[o + 3 * x:o + 3 * x + 3] = table[3 * c:3 * c + 3]
        return sw, sh, bytes(screen)
    raise ValueError("GIF contains no image frame")


def encode_gif(width: int, height: int, indices: bytes, palette: bytes,
               interlace: bool = False, transparent_idx: int = -1) -> bytes:
    """Single-frame GIF89a from index bytes + an RGB palette (length a
    power-of-two multiple of 3, 2..256 entries)."""
    n_colors = len(palette) // 3
    if (len(palette) % 3 or n_colors < 2 or n_colors > 256
            or n_colors & (n_colors - 1)):
        raise ValueError("palette must hold a power-of-two 2..256 RGB "
                         f"entries, got {len(palette)} bytes")
    if len(indices) != width * height:
        raise ValueError(f"indices must be width*height={width * height} "
                         f"bytes, got {len(indices)}")
    if max(indices, default=0) >= n_colors:
        raise ValueError("index beyond palette")
    ct_bits = max(1, (n_colors - 1).bit_length())

    if interlace:
        rows = [indices[y * width:(y + 1) * width] for y in range(height)]
        ordered = b"".join(rows[y] for first, step in _INTERLACE_PASSES
                           for y in range(first, height, step))
    else:
        ordered = indices

    min_code_size = max(2, ct_bits)
    lzw = _lzw_encode(min_code_size, ordered)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (ct_bits - 1), 0, 0)
    out += palette
    if transparent_idx >= 0:
        out += bytes((0x21, 0xF9, 4, 0x01, 0, 0, transparent_idx, 0))
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height,
                       0x40 if interlace else 0)
    out.append(min_code_size)
    out += blocks
    out.append(0x3B)
    return bytes(out)
