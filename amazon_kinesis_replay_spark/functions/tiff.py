"""Baseline TIFF codec: pure-Python decoder + encoder (TIFF 6.0 spec).

Decoder: both byte orders (II/MM), strip-based AND tiled (§15, r11)
baseline images with 8- or 16-bit samples (16-bit downscales by the
engine-wide round(v*255/65535) rule, min-is-white inverted at native
depth first) — grayscale (PhotometricInterpretation 0/1), RGB and RGBA
(extra sample) — compressions None(1), LZW(5, MSB-first codes with the
spec's early-change width bump, plus the horizontal-differencing
Predictor 2, per-SAMPLE at 16-bit) and PackBits (32773). Planar
configuration 2 and other depths raise loudly (NotImplementedError),
never silently-wrong pixels.

Encoder: the fixture-synthesis half — same coverage (None / PackBits /
LZW with optional predictor, gray/RGB/RGBA, 8/16-bit, strip or tiled
layout, choosable rows-per-strip and byte order), lossless by
construction.

Witness (tests): the container's libtiff.so.6 via ctypes — our encoded
files decode byte-exact through TIFFReadRGBAImage, and
libtiff-WRITTEN files (TIFFWriteScanline across the same compression
matrix) decode byte-exact through this module: both directions, a
genuinely foreign implementation of the same public spec.

Reference scope note: the reference engine has no media decode; this
belongs to the repo's multimodal extension surface.
"""

from __future__ import annotations

import struct


class TIFFError(ValueError):
    """Malformed TIFF stream (never silently wrong pixels)."""


# Decompression-bomb cap, in SAMPLE BYTES (w*h*spp*sample_size, and
# tile tw*tl*spp*sample_size), r12. 256 MiB keeps worst-case peak
# memory (output + numpy u4 intermediate) ~1.5 GiB per task. The
# cap-exceeded error names it, so a rejected blob reads as a policy
# decision, not parse corruption.
MAX_SAMPLE_BYTES = 1 << 28


_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BITS = 258
_TAG_COMPRESSION = 259
_TAG_PHOTOMETRIC = 262
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR = 284
_TAG_PREDICTOR = 317
_TAG_TILE_WIDTH = 322
_TAG_TILE_LENGTH = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_COUNTS = 325
_TAG_EXTRA_SAMPLES = 338

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
               10: 8, 11: 4, 12: 8}


def _read_ifd(raw: bytes, bo: str):
    off = struct.unpack_from(bo + "I", raw, 4)[0]
    if off + 2 > len(raw):
        raise TIFFError("IFD offset out of range")
    n = struct.unpack_from(bo + "H", raw, off)[0]
    tags = {}
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(raw):
            raise TIFFError("IFD entry out of range")
        tag, typ, cnt = struct.unpack_from(bo + "HHI", raw, e)
        size = _TYPE_SIZES.get(typ, 1) * cnt
        if size <= 4:
            data = raw[e + 8:e + 8 + size]
        else:
            doff = struct.unpack_from(bo + "I", raw, e + 8)[0]
            data = raw[doff:doff + size]
            if len(data) < size:
                raise TIFFError(f"tag {tag} data out of range")
        if typ == 3:
            vals = struct.unpack(bo + f"{cnt}H", data)
        elif typ == 4:
            vals = struct.unpack(bo + f"{cnt}I", data)
        elif typ == 1:
            vals = tuple(data)
        else:
            vals = (data,)
        tags[tag] = vals
    return tags


def _tag_u(t: dict, tag: int, default: int | None = None) -> int:
    """One unsigned integral value for `tag` — TIFFError (never a
    foreign TypeError/IndexError) on a mutated type/count (r11 fuzz:
    a flipped type byte turns the value tuple into raw bytes)."""
    vals = t.get(tag)
    if vals is None:
        if default is None:
            raise TIFFError(f"missing tag {tag}")
        return default
    if not vals or not isinstance(vals[0], int):
        raise TIFFError(f"tag {tag} is not integral")
    return vals[0]


def _tag_us(t: dict, tag: int) -> tuple:
    """All-integral value tuple for `tag`; TIFFError otherwise."""
    vals = t.get(tag)
    if vals is None:
        raise TIFFError(f"missing tag {tag}")
    if not vals or not all(isinstance(v, int) for v in vals):
        raise TIFFError(f"tag {tag} is not integral")
    return vals


def _unpackbits(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise TIFFError("PackBits run truncated")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise TIFFError("PackBits strip short")
    return bytes(out[:expected])


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW: MSB-first code packing, Clear=256, EOI=257,
    first dynamic code 258, and the EARLY code-width change (width
    bumps when the next code to be ADDED is 2^w - 1, one entry earlier
    than GIF's variant)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                reset()
                prev = None
                continue
            if code == 257:
                return bytes(out[:expected])
            if prev is None:
                if code >= len(table):
                    raise TIFFError("LZW first code out of range")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise TIFFError("LZW code out of range")
            out += entry
            prev = entry
            # the TIFF "early change": widen as soon as the NEXT entry
            # index reaches 2^w - 1 (one sooner than classic LZW) —
            # pinned against libtiff-written streams in the tests
            if len(table) >= (1 << width) - 1 and width < 12:
                width += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    return bytes(out[:expected]) if len(out) >= expected else \
        (_ for _ in ()).throw(TIFFError("LZW strip short"))


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (early-change, MSB-first)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(256, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # encoder widens one step LATER than the decoder's early
        # change (the decoder's table lags by one entry at read time);
        # this pairing is what libtiff's reader accepts — verified
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:                     # table nearly full
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _decompress_block(comp: int, block: bytes, expected: int) -> bytes:
    """One strip/tile through the compression switch (shared). ALWAYS
    returns exactly `expected` bytes or raises — the tiled assembler
    preallocates the image, so a short block there would silently
    zero-fill pixels instead of erroring (the LZW EOI path can return
    short; r11 fuzz finding)."""
    if comp == 1:
        if len(block) < expected:
            raise TIFFError("uncompressed block short")
        data = block[:expected]
    elif comp == 5:
        data = _lzw_decode(block, expected)
    elif comp == 32773:
        data = _unpackbits(block, expected)
    else:
        raise NotImplementedError(
            f"TIFF compression {comp} not supported (none, LZW, PackBits)")
    if len(data) != expected:
        raise TIFFError("decoded block short")
    return data


def _undo_predictor(data: bytes, nrows: int, row_samples: int,
                    spp: int, ss: int, bo: str) -> bytes:
    """Horizontal predictor (tag 317 = 2): per-SAMPLE cumulative sum
    along each row — byte-wise for 8-bit, 16-bit ints (file byte
    order) for 16-bit depths (TIFF 6.0 §14 differences the sample
    values, not the bytes)."""
    out = bytearray(data)
    if ss == 1:
        for r in range(nrows):
            ro = r * row_samples
            for x in range(spp, row_samples):
                out[ro + x] = (out[ro + x] + out[ro + x - spp]) & 0xFF
        return bytes(out)
    fmt = bo + "H"
    for r in range(nrows):
        ro = r * row_samples * 2
        for x in range(spp, row_samples):
            off = ro + x * 2
            prev = struct.unpack_from(fmt, out, off - spp * 2)[0]
            cur = struct.unpack_from(fmt, out, off)[0]
            struct.pack_into(fmt, out, off, (cur + prev) & 0xFFFF)
    return bytes(out)


def decode_tiff(raw: bytes):
    """Decode a baseline TIFF to (width, height, pixel_bytes) — 1, 3
    or 4 channels (len(pixels) // (w*h)), 8-bit output. Strip AND tile
    layouts (TIFF 6.0 §15: tiles left-to-right top-to-bottom, edge
    tiles padded to full size and cropped here); 8- and 16-bit depths
    (16-bit samples downscale by the engine-wide round(v*255/65535)
    rule after min-is-white inversion at native depth)."""
    if len(raw) < 8:
        raise TIFFError("TIFF too short")
    if raw[:2] == b"II":
        bo = "<"
    elif raw[:2] == b"MM":
        bo = ">"
    else:
        raise TIFFError("not a TIFF payload")
    if struct.unpack_from(bo + "H", raw, 2)[0] != 42:
        raise TIFFError("bad TIFF magic number")
    t = _read_ifd(raw, bo)
    if _TAG_WIDTH not in t or _TAG_HEIGHT not in t:
        raise TIFFError("missing ImageWidth/ImageLength tag")
    w = _tag_u(t, _TAG_WIDTH)
    h = _tag_u(t, _TAG_HEIGHT)
    spp = _tag_u(t, _TAG_SPP, 1)
    # decompression-bomb guard: BOTH layouts allocate output from the
    # DECLARED dims (the tiled path up front; LZW can synthesize
    # `expected` bytes from a tiny strip), so a crafted header could
    # demand gigabytes before any data-length check fires
    # coarse early bound before BitsPerSample is parsed (the byte-exact
    # guards below stay authoritative)
    if w <= 0 or h <= 0 or spp <= 0 or w * h * spp > 1 << 30:
        raise TIFFError(
            f"implausible image dimensions ({w}x{h}x{spp} samples > 2^30)")
    bits = _tag_us(t, _TAG_BITS) if _TAG_BITS in t else (1,) * spp
    if all(b == 8 for b in bits):
        ss = 1
    elif all(b == 16 for b in bits):
        ss = 2
    else:
        raise NotImplementedError(
            f"{bits}-bit TIFF not supported (8- or 16-bit chunky)")
    # second guard once the sample size is known (r11 advice): the cap
    # must bound BYTES, not samples — a <1 MB LZW 16-bit file declaring
    # near-cap dims would otherwise force multi-GiB allocations.
    if w * h * spp * ss > MAX_SAMPLE_BYTES:
        raise TIFFError(
            f"image exceeds sample-byte cap ({w}x{h}x{spp}x{ss} > "
            f"MAX_SAMPLE_BYTES={MAX_SAMPLE_BYTES})")
    if _tag_u(t, _TAG_PLANAR, 1) != 1:
        raise NotImplementedError("planar TIFF not supported (chunky)")
    comp = _tag_u(t, _TAG_COMPRESSION, 1)
    photo = _tag_u(t, _TAG_PHOTOMETRIC, 1)
    if spp not in (1, 3, 4) or photo not in (0, 1, 2):
        raise NotImplementedError(
            f"TIFF photometric {photo} x {spp} samples not supported")
    pred = _tag_u(t, _TAG_PREDICTOR, 1)
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {pred}")

    if _TAG_TILE_WIDTH in t:
        if not all(k in t for k in (_TAG_TILE_LENGTH, _TAG_TILE_OFFSETS,
                                    _TAG_TILE_COUNTS)):
            raise TIFFError("tiled TIFF missing tile tags")
        tw = _tag_u(t, _TAG_TILE_WIDTH)
        tl = _tag_u(t, _TAG_TILE_LENGTH)
        if tw <= 0 or tl <= 0 or tw * tl * spp * ss > MAX_SAMPLE_BYTES:
            raise TIFFError(
                "bad tile geometry (non-positive dims or tile exceeds "
                f"sample-byte cap MAX_SAMPLE_BYTES={MAX_SAMPLE_BYTES})")
        offsets = _tag_us(t, _TAG_TILE_OFFSETS)
        counts = _tag_us(t, _TAG_TILE_COUNTS)
        if len(offsets) != len(counts):
            raise TIFFError("tile offsets/counts mismatch")
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        if len(offsets) < across * down:
            raise TIFFError("missing tiles")
        tile_row = tw * spp * ss
        expected = tl * tile_row
        img_row = w * spp * ss
        out = bytearray(h * img_row)
        for ty in range(down):
            for tx in range(across):
                so, sc = (offsets[ty * across + tx],
                          counts[ty * across + tx])
                block = raw[so:so + sc]
                if len(block) < sc:
                    raise TIFFError("tile data out of range")
                data = _decompress_block(comp, block, expected)
                if pred == 2:
                    data = _undo_predictor(data, tl, tw * spp, spp,
                                           ss, bo)
                ncols = min(tw, w - tx * tw) * spp * ss
                for r in range(min(tl, h - ty * tl)):
                    dst = (ty * tl + r) * img_row + tx * tile_row
                    out[dst:dst + ncols] = data[r * tile_row:
                                                r * tile_row + ncols]
        out = bytes(out)
    else:
        rps = _tag_u(t, _TAG_ROWS_PER_STRIP, h) or h
        if _TAG_STRIP_OFFSETS not in t or _TAG_STRIP_COUNTS not in t:
            raise TIFFError("missing strip offsets/counts")
        offsets = _tag_us(t, _TAG_STRIP_OFFSETS)
        counts = _tag_us(t, _TAG_STRIP_COUNTS)
        if len(offsets) != len(counts):
            raise TIFFError("strip offsets/counts mismatch")
        row_bytes = w * spp * ss
        acc = bytearray()
        for i, (so, sc) in enumerate(zip(offsets, counts)):
            nrows = min(rps, h - i * rps)
            if nrows <= 0:
                break
            strip = raw[so:so + sc]
            if len(strip) < sc:
                raise TIFFError("strip data out of range")
            data = _decompress_block(comp, strip, nrows * row_bytes)
            if pred == 2:
                data = _undo_predictor(data, nrows, w * spp, spp, ss, bo)
            acc += data
        out = bytes(acc)
    if len(out) != w * h * spp * ss:
        raise TIFFError("decoded size mismatch")
    if ss == 2:
        # vectorized 16->8: the r11 struct.unpack form built a Python
        # tuple + list (~30-36 bytes per sample, tens of GiB at cap
        # dims); numpy keeps peak memory at ~6 bytes/sample and the
        # arithmetic identical (u4 holds 65535*255+32767 < 2^32, //
        # floors exactly like the scalar rule)
        import numpy as np
        vals = np.frombuffer(out, dtype=np.dtype(bo + "u2")).astype(
            np.uint32)
        if photo == 0:                            # invert at native depth
            vals = 65535 - vals
        out = ((vals * 255 + 32767) // 65535).astype(np.uint8).tobytes()
    elif photo == 0:                              # min-is-white
        import numpy as np
        out = (255 - np.frombuffer(out, dtype=np.uint8)).tobytes()
    return w, h, out


def _apply_predictor(data: bytearray, nrows: int, row_samples: int,
                     spp: int, ss: int, bo: str) -> None:
    """Forward horizontal differencing in place (encoder side)."""
    if ss == 1:
        for r in range(nrows - 1, -1, -1):
            ro = r * row_samples
            for x in range(row_samples - 1, spp - 1, -1):
                data[ro + x] = (data[ro + x] - data[ro + x - spp]) & 0xFF
        return
    fmt = bo + "H"
    for r in range(nrows - 1, -1, -1):
        ro = r * row_samples * 2
        for x in range(row_samples - 1, spp - 1, -1):
            off = ro + x * 2
            prev = struct.unpack_from(fmt, data, off - spp * 2)[0]
            cur = struct.unpack_from(fmt, data, off)[0]
            struct.pack_into(fmt, data, off, (cur - prev) & 0xFFFF)


def _compress_block(data: bytes, nrows: int, row_bytes: int,
                    compression: int) -> bytes:
    if compression == 1:
        return data
    if compression == 5:
        return _lzw_encode(data)
    if compression == 32773:
        packed = bytearray()
        for r in range(nrows):
            row = data[r * row_bytes:(r + 1) * row_bytes]
            i = 0
            while i < len(row):
                run = 1
                while (i + run < len(row) and run < 128
                       and row[i + run] == row[i]):
                    run += 1
                if run >= 2:
                    packed += bytes([257 - run, row[i]])
                    i += run
                else:
                    j = i + 1
                    while (j < len(row) and j - i < 128
                           and not (j + 1 < len(row)
                                    and row[j] == row[j + 1])):
                        j += 1
                    packed += bytes([j - i - 1]) + row[i:j]
                    i = j
        return bytes(packed)
    raise TIFFError(f"unsupported compression {compression}")


def encode_tiff(width: int, height: int, pixels: bytes, spp: int = 3,
                compression: int = 1, predictor: int = 1,
                rows_per_strip: int | None = None,
                big_endian: bool = False, bits: int = 8,
                tile: tuple[int, int] | None = None) -> bytes:
    """Encode chunky pixels (spp=1 gray / 3 RGB / 4 RGBA) as a TIFF;
    compression 1/5/32773, optional horizontal predictor (LZW only per
    the spec's usual pairing, but accepted for any compression).
    bits=16 takes samples packed in the FILE byte order (big_endian);
    tile=(tw, tl) writes the §15 tiled layout instead of strips — both
    dimensions must be multiples of 16 per the spec, edge tiles are
    zero-padded to full size."""
    if bits not in (8, 16):
        raise TIFFError("bits must be 8 or 16")
    ss = bits // 8
    if len(pixels) < width * height * spp * ss:
        raise TIFFError("pixel buffer shorter than width*height*spp")
    bo = ">" if big_endian else "<"
    img_row = width * spp * ss

    blocks = []
    if tile is not None:
        tw, tl = tile
        if tw % 16 or tl % 16 or tw <= 0 or tl <= 0:
            raise TIFFError("tile dims must be positive multiples of 16")
        tile_row = tw * spp * ss
        for y0 in range(0, height, tl):
            for x0 in range(0, width, tw):
                data = bytearray(tl * tile_row)      # zero-padded edges
                ncols = min(tw, width - x0) * spp * ss
                for r in range(min(tl, height - y0)):
                    src = (y0 + r) * img_row + x0 * spp * ss
                    data[r * tile_row:r * tile_row + ncols] = \
                        pixels[src:src + ncols]
                if predictor == 2:
                    _apply_predictor(data, tl, tw * spp, spp, ss, bo)
                blocks.append(_compress_block(bytes(data), tl,
                                              tile_row, compression))
    else:
        rps = rows_per_strip or height
        for y0 in range(0, height, rps):
            nrows = min(rps, height - y0)
            data = bytearray(pixels[y0 * img_row:(y0 + nrows) * img_row])
            if predictor == 2:
                _apply_predictor(data, nrows, width * spp, spp, ss, bo)
            blocks.append(_compress_block(bytes(data), nrows,
                                          img_row, compression))

    n_blocks = len(blocks)
    photo = 1 if spp == 1 else 2
    off_tag = _TAG_TILE_OFFSETS if tile is not None else _TAG_STRIP_OFFSETS
    cnt_tag = _TAG_TILE_COUNTS if tile is not None else _TAG_STRIP_COUNTS
    # entries sorted by tag; multi-value data always lives in the
    # post-IFD extra area (legal TIFF even when it would fit inline)
    entries = [(_TAG_WIDTH, 4, 1), (_TAG_HEIGHT, 4, 1),
               (_TAG_BITS, 3, spp), (_TAG_COMPRESSION, 3, 1),
               (_TAG_PHOTOMETRIC, 3, 1),
               (off_tag, 4, n_blocks),
               (_TAG_SPP, 3, 1),
               (cnt_tag, 4, n_blocks), (_TAG_PLANAR, 3, 1)]
    if tile is not None:
        entries += [(_TAG_TILE_WIDTH, 4, 1), (_TAG_TILE_LENGTH, 4, 1)]
    else:
        entries.append((_TAG_ROWS_PER_STRIP, 4, 1))
    if predictor != 1:
        entries.append((_TAG_PREDICTOR, 3, 1))
    if spp == 4:
        entries.append((_TAG_EXTRA_SAMPLES, 3, 1))
    entries.sort()
    ifd_off = 8
    extra_off = ifd_off + 2 + 12 * len(entries) + 4

    def pad2(b):
        return b + (b"\x00" if len(b) & 1 else b"")

    # multi-value tags: inline when their packed size fits the 4-byte
    # value slot (the spec REQUIRES inline then), else in the extra area
    multi = {_TAG_BITS: ("H", [bits] * spp),
             off_tag: ("I", None),                 # filled below
             cnt_tag: ("I", [len(st) for st in blocks])}
    extra_ptrs = {}
    pos = extra_off
    for tag, (fmt, vals) in multi.items():
        cnt = spp if tag == _TAG_BITS else n_blocks
        size = struct.calcsize(fmt) * cnt
        if size > 4:
            extra_ptrs[tag] = pos
            pos += size + (size & 1)
    data_off = pos
    offsets = []
    pos = data_off
    for st in blocks:
        offsets.append(pos)
        pos += len(st) + (len(st) & 1)
    multi[off_tag] = ("I", offsets)

    extra = bytearray()
    for tag in multi:
        if tag in extra_ptrs:
            fmt, vals = multi[tag]
            extra += pad2(struct.pack(bo + fmt * len(vals), *vals))

    # ExtraSamples=1 (ASSOCIATED alpha): sample values pass through
    # RGBA readers unchanged; 2 (unassociated) makes libtiff
    # premultiply on read, which would break the byte-exact witness
    scalar = {_TAG_WIDTH: width, _TAG_HEIGHT: height,
              _TAG_COMPRESSION: compression, _TAG_PHOTOMETRIC: photo,
              _TAG_SPP: spp, _TAG_PLANAR: 1,
              _TAG_PREDICTOR: predictor, _TAG_EXTRA_SAMPLES: 1}
    if tile is not None:
        scalar[_TAG_TILE_WIDTH] = tile[0]
        scalar[_TAG_TILE_LENGTH] = tile[1]
    else:
        scalar[_TAG_ROWS_PER_STRIP] = rows_per_strip or height
    out = bytearray()
    out += (b"MM" if big_endian else b"II")
    out += struct.pack(bo + "H", 42)
    out += struct.pack(bo + "I", ifd_off)
    out += struct.pack(bo + "H", len(entries))
    for tag, typ, cnt in entries:
        out += struct.pack(bo + "HHI", tag, typ, cnt)
        if tag in multi:
            fmt, vals = multi[tag]
            if tag in extra_ptrs:
                out += struct.pack(bo + "I", extra_ptrs[tag])
            else:
                packed = struct.pack(bo + fmt * len(vals), *vals)
                out += packed + b"\x00" * (4 - len(packed))
        else:
            fmt = {3: "H", 4: "I"}[typ]
            packed = struct.pack(bo + fmt, scalar[tag])
            out += packed + b"\x00" * (4 - len(packed))
    out += struct.pack(bo + "I", 0)               # next IFD
    out += extra
    for st in blocks:
        out += st + (b"\x00" if len(st) & 1 else b"")
    return bytes(out)
