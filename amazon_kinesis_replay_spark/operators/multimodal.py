"""Multimodal (image/audio) column plumbing.

Media travel as opaque `binary` columns with typed metadata; the heavy
decode/transform steps run as Arrow-batched functions over `mapInPandas`
(one Python worker per partition, columnar transfer — never row-at-a-time
UDFs).

Decode coverage:
- REAL, pure-Python (no third-party codec): PNG (stdlib zlib inflate of
  the IDAT stream + numpy scanline unfiltering), baseline JPEG
  (marker walk, Huffman entropy decode, dequant + numpy IDCT, chroma
  upsample, YCbCr->RGB — functions/jpeg.py) and WebP — BOTH classes,
  late r10: VP8L lossless (functions/webp.py — full transform/cache/
  meta-Huffman coverage, byte-exact against the container's libwebp in
  BOTH directions) and lossy VP8 keyframes (functions/vp8.py —
  RFC 6386 boolean decoder, mode/token trees, IWHT/IDCT, intra
  prediction, in-loop deblocking; YUV planes bit-exact vs libwebp
  across qualities/partitions/segments/filter variants; together these
  cover the overwhelming majority of real image corpora), BMP and
  PPM/PGM image headers + pixel-histogram features; WAV (RIFF), Sun AU and
  AIFF/AIFC audio containers (integer PCM 8-32, float32, G.711
  A-law/mu-law, 'sowt', WAVE_FORMAT_EXTENSIBLE) + FLAC (r10,
  functions/flac.py — CONSTANT/VERBATIM/FIXED/LPC subframes, Rice
  residuals, all stereo decorrelations, CRC+MD5-verified) feeding the
  exact `audio_meta` content digest — cross-container decode pinned
  byte-exact at 24/32-bit on real CPython audiodata fixtures, FLAC
  pinned byte-exact against the same WAV masters via the encoder-first
  witness.
- STUBBED (codec genuinely unavailable in this container): perceptual
  audio codecs (MP3/AAC/Opus) — progressive JPEG decodes natively
  since r9 (functions/jpeg.py §G), G.711-in-WAV since r9, FLAC since
  r10, arithmetic-coded JPEG (SOF9 + SOF10, QM coder) since r10 too.
  The remaining stubs raise NotImplementedError.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from ..session import drop_zip_finders

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_bytes", LongType(), True),
    StructField("sha1", StringType(), True),
    StructField("features", ArrayType(FloatType()), True),
])

def _parse_bmp(raw: bytes) -> tuple[int, int, bytes]:
    """Width, height, and the pixel-array bytes of a BMP payload.
    Handles both BITMAPCOREHEADER (12) and BITMAPINFOHEADER-family DIBs;
    negative height (top-down rows) is normalized."""
    import struct
    if len(raw) < 26 or raw[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", raw, 10)[0]
    dib_size = struct.unpack_from("<I", raw, 14)[0]
    if dib_size == 12:
        w, h = struct.unpack_from("<HH", raw, 18)
    else:
        w, h = struct.unpack_from("<ii", raw, 18)
        h = abs(h)
    return int(w), int(h), raw[pix_off:]


def _parse_ppm(raw: bytes) -> tuple[int, int, bytes]:
    """Width, height, and raster bytes of a binary PPM (P6) / PGM (P5)
    payload. The header is ASCII tokens with '#' comments; exactly one
    whitespace byte separates the maxval from the raster."""
    if raw[:2] not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(raw):
        c = raw[i:i + 1]
        if c == b"#":
            i = raw.find(b"\n", i)
            if i < 0:
                raise ValueError("truncated PPM header")
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(raw) and not raw[j:j + 1].isspace():
                j += 1
            tokens.append(raw[i:j])
            i = j
    if len(tokens) < 3 or i >= len(raw):
        raise ValueError("truncated PPM header")
    return int(tokens[0]), int(tokens[1]), raw[i + 1:]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


#: Adam7 pass geometry (x_start, y_start, x_step, y_step), RFC 2083 §2.6.
_ADAM7_PASSES = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                 (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_row_bytes(w: int, channels: int, depth: int) -> int:
    return (w * channels * depth + 7) >> 3


def _png_expand(rows, w: int, channels: int, depth: int,
                scale_gray: bool):
    """(h, row_bytes) unfiltered bytes -> (h, w*channels) uint8 SAMPLES:
    sub-8 depths unpack MSB-first (scaled to full 8-bit range for
    grayscale, left as indices for palettes), depth 16 big-endian
    samples scale by round(v*255/65535) — the documented engine-wide
    16->8 rule (libpng's simplified API instead gamma-maps 16-bit input
    as linear light, a color-management choice outside RFC 2083, so the
    16-bit path is pinned by hand-computed vectors rather than the
    foreign witness)."""
    import numpy as np
    h = rows.shape[0]
    if depth == 8:
        return rows
    if depth == 16:
        v = rows.reshape(h, -1)[:, :w * channels * 2] \
            .reshape(h, w * channels, 2).astype(np.uint32)
        v16 = (v[:, :, 0] << 8) | v[:, :, 1]
        return ((v16 * 255 + 32767) // 65535).astype(np.uint8)
    bits = np.unpackbits(rows, axis=1)[:, :w * channels * depth]
    grouped = bits.reshape(h, w * channels, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (grouped * weights).sum(axis=2).astype(np.uint8)
    if scale_gray:
        vals = (vals * (255 // ((1 << depth) - 1))).astype(np.uint8)
    return vals


def _png_unfilter_pass(stream: bytes, w: int, h: int, channels: int,
                       depth: int = 8):
    """Unfilter one PNG image pass (a whole non-interlaced image, or one
    Adam7 reduced image — filtering restarts per pass, RFC 2083 §6):
    h scanlines of (filter_byte + row bytes) -> (h, row_bytes) uint8
    array. Sub vectorizes as a per-filter-unit cumsum; Average/Paeth
    carry a true left dependency and run per byte. The filter unit
    (`bpp`) is max(1, channels*depth//8) per the spec."""
    import numpy as np
    stride = _png_row_bytes(w, channels, depth)
    bpp = max(1, (channels * depth) >> 3)
    lines = np.frombuffer(stream, np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), np.int16)
    for y in range(h):
        f = int(lines[y, 0])
        row = lines[y, 1:].astype(np.int16)
        prev = out[y - 1] if y else np.zeros(stride, np.int16)
        if f == 0:                          # None
            cur = row
        elif f == 1:                        # Sub: cumsum per filter unit
            cur = (np.cumsum(row.reshape(-1, bpp).astype(np.int64),
                             axis=0)
                   % 256).astype(np.int16).reshape(stride)
        elif f == 2:                        # Up
            cur = (row + prev) % 256
        elif f in (3, 4):                   # Average / Paeth: left-dependent
            cur = np.zeros(stride, np.int16)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else \
                        (b if pb <= pc else c)
                cur[x] = (int(row[x]) + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")
        out[y] = cur
    return out.astype(np.uint8)


def _png_filter_pass(pixels: bytes, w: int, h: int, channels: int,
                     filters: list[int]) -> bytearray:
    """Forward-filter one PNG image pass (inverse of _png_unfilter_pass):
    per scanline, emit the filter byte then the filtered bytes."""
    stride = w * channels
    bpp = channels
    out = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = pixels[y * stride:(y + 1) * stride]
        f = filters[y % len(filters)]
        out.append(f)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            else:
                raise ValueError(f"bad PNG filter type {f}")
            out.append((row[x] - pred) % 256)
        prev = row
    return out


def _parse_png(raw: bytes) -> tuple[int, int, bytes]:
    """Width, height, and decoded pixel bytes of a PNG payload — pure
    Python/stdlib: chunk walk, zlib inflate of the concatenated IDAT
    stream, then per-scanline unfiltering (None/Sub/Up/Average/Paeth,
    RFC 2083 §6) in numpy. Sub vectorizes as a per-channel cumsum;
    Average/Paeth carry a true left-pixel dependency and run per byte.
    Supports color types 0/2/3/4/6 (indexed output is expanded through
    the PLTE) at the spec's full depth matrix (late r10): 1/2/4-bit
    grayscale and palettes (MSB-first unpack, grayscale scaled to the
    full 8-bit range), 8-bit everywhere, and 16-bit scaled to 8 by
    round(v*255/65535) — see _png_expand for why the 16->8 rule is
    pinned by vectors rather than libpng. BOTH interlace methods —
    Adam7 (r7) reassembles the 7 reduced passes, each unfiltered
    independently per RFC 2083 §2.6. Truncated chunks, stream-length
    mismatches, and bad filter ids raise ValueError — wrong pixels are
    never silently emitted."""
    import struct
    import zlib

    import numpy as np
    if raw[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    ihdr = None
    plte = b""
    idat: list[bytes] = []
    i = 8
    while i + 8 <= len(raw):
        ln = struct.unpack_from(">I", raw, i)[0]
        typ = raw[i + 4:i + 8]
        body = raw[i + 8:i + 8 + ln]
        if len(body) < ln:
            raise ValueError(f"truncated PNG chunk {typ!r}")
        if typ == b"IHDR":
            ihdr = body
        elif typ == b"PLTE":
            plte = body
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        i += 12 + ln                       # len + type + body + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13])
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if channels is None:
        raise ValueError(f"bad PNG color type {ctype}")
    valid_depths = (1, 2, 4, 8, 16) if ctype == 0 else \
        (1, 2, 4, 8) if ctype == 3 else (8, 16)
    if depth not in valid_depths:
        raise ValueError(
            f"PNG bit depth {depth} invalid for color type {ctype}")
    scale_gray = ctype == 0                 # palettes keep raw indices
    stream = zlib.decompress(b"".join(idat))
    stride = w * channels
    if interlace == 0:
        rb = _png_row_bytes(w, channels, depth)
        if len(stream) != h * (rb + 1):
            raise ValueError("PNG pixel stream length mismatch")
        rows = _png_unfilter_pass(stream, w, h, channels, depth)
        pixels = _png_expand(rows, w, channels, depth, scale_gray)
    else:                                   # Adam7 (interlace validated =1)
        full = np.zeros((h, w, channels), np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            nbytes = ph * (_png_row_bytes(pw, channels, depth) + 1)
            if pos + nbytes > len(stream):
                raise ValueError("PNG Adam7 pixel stream truncated")
            rows = _png_unfilter_pass(stream[pos:pos + nbytes],
                                      pw, ph, channels, depth)
            sub = _png_expand(rows, pw, channels, depth, scale_gray)
            pos += nbytes
            full[y0::dy, x0::dx, :] = sub.reshape(ph, pw, channels)
        if pos != len(stream):
            raise ValueError("PNG Adam7 pixel stream length mismatch")
        pixels = full.reshape(h, stride)
    if ctype == 3:
        if not plte or len(plte) % 3:
            raise ValueError("indexed PNG missing/malformed PLTE")
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = pixels.reshape(-1)
        if idx.max(initial=0) >= len(pal):
            raise ValueError("PNG palette index out of range")
        pixels = pal[idx]
    return int(w), int(h), pixels.tobytes()


def encode_png(width: int, height: int, pixels: bytes, ctype: int = 2,
               filters: list[int] | None = None,
               palette: bytes | None = None,
               interlace: bool = False) -> bytes:
    """Pure-Python PNG ENCODER (the inverse of _parse_png): forward-filters
    each scanline with the chosen filter types (`filters` cycles per row;
    default all-None) and deflates; interlace=True emits the Adam7 pass
    sequence (r7 — each reduced image filtered independently, RFC 2083
    §2.6/§6). Useful for writing debug rasters/thumbnails from a pipeline
    without a codec dependency, for synthesizing real decode fixtures,
    and as the round-trip witness for the decoder's unfilter and
    deinterlace paths."""
    import struct
    import zlib
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    stride = width * channels
    bpp = channels
    if len(pixels) != height * stride:
        raise ValueError(f"pixels must be height*width*channels="
                         f"{height * stride} bytes, got {len(pixels)}")
    filters = filters or [0]
    if not interlace:
        out = _png_filter_pass(pixels, width, height, channels, filters)
    else:
        # Adam7: extract each reduced image and filter it independently
        # (filtering restarts per pass, matching the decoder)
        out = bytearray()
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub = bytearray()
            for y in range(y0, height, dy):
                row = pixels[y * stride:(y + 1) * stride]
                for x in range(x0, width, dx):
                    sub += row[x * bpp:(x + 1) * bpp]
            out += _png_filter_pass(bytes(sub), pw, ph, channels, filters)

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0,
                       1 if interlace else 0)
    png = _PNG_SIG + chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", palette)
    return (png + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


#: Fixed 256-entry RGB palette for synthesized GIF fixtures: index i ->
#: (i, 255-i, i^0x55) — injective, so any payload byte string is exactly
#: representable as indexed pixels.
_GIF_PALETTE = bytes(
    b for i in range(256) for b in (i, 255 - i, i ^ 0x55))


def synth_image_blob(media_id: int, raw: bytes) -> bytes:
    """The deterministic per-row synthesis rule behind
    synthesize_image_media, cycling media_id through EIGHT codec modes
    (late r10 widened from five — BOTH WebP classes AND TIFF join the
    correctness gate): media_id%8==0 -> PNG (media_id-cycled filter
    types), ==1 -> baseline JPEG (4:2:0 / restart-interval variants),
    ==2 -> GIF (interlaced every other one), ==3 -> ARITHMETIC JPEG
    (SOF9, QM coder; 4:2:0 every other one), ==4 -> progressive JPEG
    (SOF2, spectral selection), ==5 -> WebP VP8L lossless
    (functions/webp.py, RGBA), ==6 -> LOSSY VP8 WebP
    (payload-coupled embedded fixtures, functions/vp8.py — the one
    codec with no in-repo encoder; dims cycle 16x16/24x16/16x24, NOT
    side x side), ==7 -> TIFF (functions/tiff.py — LZW+predictor /
    PackBits / uncompressed cycling, occasional multi-strip and
    big-endian variants). Exposed as a pure function so the registry's
    literal-VALUES oracle can recompute the exact blob bytes
    driver-side (pure Python, no Spark) and cross-check the
    distributed mapInPandas pipeline in DuckDB; both gate sides move
    together when the cycle changes."""
    from ..functions.gif import encode_gif
    from ..functions.jpeg import encode_jpeg
    side = 8                   # raster edge; VP8 fixtures keep their own
    n = side * side * 3
    m = int(media_id)
    raster = (raw + bytes(n))[:n]
    mode = m % 8
    if mode == 1:
        return encode_jpeg(side, side, raster, subsample=(m % 16 == 1),
                           restart_interval=1 if m % 32 == 1 else 0)
    if mode == 2:
        indices = (raw + bytes(side * side))[:side * side]
        return encode_gif(side, side, indices, _GIF_PALETTE,
                          interlace=(m % 16 == 2))
    if mode == 3:
        return encode_jpeg(side, side, raster, subsample=(m % 16 == 3),
                           arithmetic=True)
    if mode == 4:
        return encode_jpeg(side, side, raster, progressive=True)
    if mode == 5:
        from ..functions.webp import encode_webp_lossless
        rgba = (raw + bytes(side * side * 4))[:side * side * 4]
        return encode_webp_lossless(side, side, rgba)
    if mode == 6:
        return synth_vp8_blob(m, raw)
    if mode == 7:
        from ..functions.tiff import encode_tiff
        return encode_tiff(side, side, raster, spp=3,
                           compression=(1, 5, 32773)[m % 3],
                           predictor=2 if m % 3 == 1 else 1,
                           rows_per_strip=3 if m % 16 == 7 else None,
                           big_endian=(m % 16 == 15))
    return encode_png(side, side, raster, ctype=2,
                      filters=[(m // 8) % 5] * side)


#: Three tiny libwebp-encoded LOSSY VP8 keyframes (default header path;
#: 4 token partitions + 4 segments with strong SNS; SIMPLE loop filter
#: with sharpness) — decoded natively by functions/vp8.py, whose
#: correctness is pinned bit-exact against libwebp's YUV output in the
#: tests. synth_vp8_blob couples them to the per-row payload via a
#: trailing XTRA chunk (skipped by the chunk walk, but changing the
#: blob bytes), so the gate's n_bytes/sha1 stay payload-dependent.
_VP8_FIXTURES = (
    "UklGRlYAAABXRUJQVlA4IEoAAAAQAgCdASoQABAAAkA4JbACdLcAAYr2OvR4APzxv6OU/rL2T7IAke7Z8v/7WvdDtjT/z8FAfevLDznUhdNj94+5fPXjTpnpNyAAAA==",
    "UklGRogAAABXRUJQVlA4IHwAAABQBACdASoYABAAPw00vFasIickGAGAIYnsAJ0yhHc3pNuABIzSrdqT4AgwAPx+nOzqg+TBOHDVyz8uUm+yCFbcnYaHPWILRbeSZwntPO92REXEf2gUMGsZV3ZDOLWlv/b7IY0u1wf/Qo1/oKkwHmZyWL++nCWu9Vw1AAAA",
    "UklGRtIAAABXRUJQVlA4IMYAAAAyBgCdASoQABgAPlEejEQjoaEYBAI7BQS2AE6ZQjgbwD8YPxmrAPlo+7faq1EADBNJcl76NekFTJwAAP7JeA7a9Sr8EJPtQ73KWR+YxMNibFCnGsX/ymWnRiOGlLiUeHr/f/n39RBUjfwI13+6dp3+8+Uq/dDnAgGm1Ys5tcJlqxYG2z9btUZRqYaPPMkh7jB3u1qdMW8yC+Vhfv52f+wD4mP6SGTP82uE5NzmeMa9Srf7e/6F8h74n8VPbVPDYv+QOLlAAAA=",
)
_VP8_FIXTURE_DIMS = ((16, 16), (24, 16), (16, 24))


def synth_vp8_blob(media_id: int, raw: bytes) -> bytes:
    """Deterministic LOSSY-VP8 fixture selection + payload coupling (see
    _VP8_FIXTURES). Pure function — the registry oracle recomputes the
    exact bytes driver-side."""
    import base64
    import struct
    i = (int(media_id) // 8) % len(_VP8_FIXTURES)
    base = base64.b64decode(_VP8_FIXTURES[i])
    body = raw or b"\x00"
    pad = b"\x00" if len(body) & 1 else b""
    out = base + b"XTRA" + struct.pack("<I", len(body)) + body + pad
    return out[:4] + struct.pack("<I", len(out) - 8) + out[8:]


def synth_audio_blob(media_id: int, raw: bytes) -> bytes:
    """Deterministic per-row AUDIO fixture synthesis — the audio twin
    of synth_image_blob (r10): 8 kHz int16 samples derive from a tonal
    base plus the payload bytes, and media_id%4 cycles the container/codec
    (widened from %3 late r10 — both gate sides recompute through this
    same pure function, so they move together): ==0 -> FLAC (stereo
    mid/side, LPC order 4, blocksize 256 — the full lossless entropy
    path), ==1 -> WAV (PCM16 mono), ==2 -> Sun AU (PCM16 big-endian
    stereo), ==3 -> IMA ADPCM WAV (format 0x11 block codec, stereo on
    alternate rows so the 4-byte channel interleave is exercised).
    Frame count varies with media_id so block boundaries move. Pure
    function: the registry oracle recomputes the exact blobs
    driver-side."""
    import math
    import struct
    rate = 8000
    m = int(media_id)
    n = 400 + (m % 7) * 37
    L = max(len(raw), 1)

    def s(k: int) -> int:
        base = int(3000 * math.sin(k / 9.0))
        b = raw[k % L] if raw else 0
        return base + (b - 128) * 8

    if m % 4 == 0:
        from ..functions.flac import encode_flac
        frames = [[s(2 * i), s(2 * i + 1)] for i in range(n)]
        return encode_flac(rate, 2, 16, frames, blocksize=256,
                           stereo="mid_side", lpc_order=4,
                           partition_order=1)
    if m % 4 == 1:
        pcm = struct.pack(f"<{n}h", *[s(i) for i in range(n)])
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        return (b"RIFF"
                + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(pcm)) + pcm)
    if m % 4 == 3:
        ch = 2 if m % 8 == 3 else 1
        return encode_wav_ima(rate, ch,
                              [s(i) for i in range(n * ch)],
                              block_align=128 * ch)
    body = struct.pack(f">{2 * n}h", *[s(i) for i in range(2 * n)])
    return (b".snd" + struct.pack(">IIIII", 24, len(body), 3, rate, 2)
            + body)


def synthesize_audio_media(df: DataFrame) -> DataFrame:
    """Arrow-batched synthesis of the mixed FLAC/WAV/AU audio fixtures
    (see synth_audio_blob); schema matches the (media_id, data) decode
    input contract."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            ids, blobs = [], []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data) if data is not None else b""
                ids.append(mid)
                blobs.append(synth_audio_blob(int(mid), raw))
            yield pd.DataFrame({"media_id": ids, "data": blobs})

    return df.select("media_id", "data").mapInPandas(
        _synth, "media_id long, data binary")


def audio_content_digest(rate: int, channels: int, mono) -> str:
    """EXACT, float-free audio content digest: sha1 over rate, channel
    count and round(mono * channels) as int64 — the channel-MEAN mono
    times the channel count is the exact integer channel SUM for every
    lossless integer-PCM decode path (WAV/AU/AIFF/FLAC), so the digest
    is bit-stable across processes and engines. Shared by the
    distributed audio_meta kernel and the registry's driver-side
    recompute."""
    import numpy as np
    ints = np.rint(np.asarray(mono, np.float64) * channels) \
        .astype(np.int64)
    return hashlib.sha1(f"{rate}:{channels}:".encode()
                        + ints.tobytes()).hexdigest()


def audio_meta(df: DataFrame) -> DataFrame:
    """Distributed audio metadata + exact content digest through the
    REAL decoders (r10): (sample_rate, channels, total_frames) from the
    container walk and `audio_content_digest` over the decoded signal —
    malformed payloads raise (never silently wrong). Arrow-batched
    mapInPandas over (media_id, data)."""

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            rows = {"media_id": [], "sample_rate": [], "channels": [],
                    "total_frames": [], "mono_digest": []}
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                rate, ch, frames, mono = _audio_mono_f64(bytes(data))
                rows["media_id"].append(mid)
                rows["sample_rate"].append(rate)
                rows["channels"].append(ch)
                rows["total_frames"].append(frames)
                rows["mono_digest"].append(
                    audio_content_digest(rate, ch, mono))
            if rows["media_id"]:
                yield pd.DataFrame(rows)

    return df.select("media_id", "data").mapInPandas(
        _kernel, "media_id long, sample_rate int, channels int, "
                 "total_frames long, mono_digest string")


def synthesize_image_media(df: DataFrame) -> DataFrame:
    """Deterministic REAL mixed-codec fixture synthesis cycling media_id
    through EIGHT codec modes (see synth_image_blob: PNG, baseline
    JPEG, GIF, arithmetic JPEG, progressive JPEG, WebP VP8L, lossy
    VP8, TIFF) — a downstream
    real decode exercises the zlib unfilter paths, the
    Huffman/IDCT/upsample paths, the LZW + deinterlace paths, the QM
    arithmetic coder, the spectral-selection scan walker AND the VP8L
    bitstream walk in one pass. Arrow-batched mapInPandas; schema
    matches the (media_id, data) decode input contract."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            ids, blobs = [], []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data) if data is not None else b""
                ids.append(mid)
                blobs.append(synth_image_blob(int(mid), raw))
            yield pd.DataFrame({"media_id": ids, "data": blobs})

    return df.select("media_id", "data").mapInPandas(
        _synth, "media_id long, data binary")


def _pixel_histogram(pixels: bytes) -> list[float]:
    """Normalized 8-bin byte-value histogram over the raster — a real,
    decoder-independent image feature (deterministic; no codec needed
    for the uncompressed formats)."""
    if not pixels:
        return [0.0] * 8
    import numpy as np
    arr = np.frombuffer(pixels, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=8, range=(0, 256))
    return [round(float(x) / len(arr), 6) for x in hist]


def _decode_pixels(raw: bytes) -> tuple[int, int, bytes]:
    """(width, height, raw channel bytes) — the magic-byte codec dispatch
    shared by feature extraction and resizing. Channel count is
    len(pixels) // (w*h) (PNG grayscale/RGBA keep their native layout;
    everything else is RGB)."""
    if raw[:8] == _PNG_SIG:
        return _parse_png(raw)
    if raw[:2] == b"\xff\xd8":
        from ..functions.jpeg import decode_jpeg
        return decode_jpeg(raw)
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        from ..functions.gif import decode_gif
        return decode_gif(raw)
    if raw[:2] == b"BM":
        return _parse_bmp(raw)
    if raw[:2] in (b"P6", b"P5"):
        return _parse_ppm(raw)
    if raw[:4] == b"RIFF" and raw[8:12] == b"WEBP":
        from ..functions.webp import decode_webp
        return decode_webp(raw)  # RGBA for VP8L / lossy+ALPH, RGB for plain lossy VP8
    if raw[:4] in (b"II*\x00", b"MM\x00*"):
        from ..functions.tiff import decode_tiff
        return decode_tiff(raw)           # 1/3/4-channel layout
    raise NotImplementedError(
        f"unsupported image magic {raw[:4]!r}: PNG, baseline JPEG, and "
        "GIF (pure-Python codecs, functions/jpeg.py + functions/gif.py) "
        "and uncompressed BMP/PPM/PGM decode without a third-party "
        "library (JPEG covers baseline AND progressive since r9; WebP "
        "VP8L lossless AND lossy VP8, and baseline TIFF, since r10 — "
        "functions/webp.py, functions/vp8.py, functions/tiff.py)")


def _real_decode_image(raw: bytes) -> tuple[int, int, list[float]]:
    w, h, pixels = _decode_pixels(raw)
    return w, h, _pixel_histogram(pixels)


def decode_images(df: DataFrame) -> DataFrame:
    """Decode + feature-extract image payloads via mapInPandas.

    The real path decodes PNG (incl. Adam7) / JPEG (baseline,
    progressive, arithmetic) / GIF / WebP (VP8L lossless + lossy VP8
    incl. ALPH) / baseline TIFF / BMP / PPM / PGM with the pure-Python
    codecs (`_decode_pixels`),
    computing a pixel-histogram feature vector over the decoded raster;
    unsupported or corrupt payloads raise loudly from the kernel (the
    gated-fixture contract: a bad blob is a bug)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "n_bytes": [], "sha1": [], "features": []}
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data) if data is not None else b""
                w, h, feats = _real_decode_image(raw)
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["n_bytes"].append(len(raw))
                out["sha1"].append(hashlib.sha1(raw).hexdigest())
                out["features"].append(feats)
            if out["media_id"]:
                # an empty batch would yield empty float64 columns
                # Arrow can't cast to list<float>
                yield pd.DataFrame(out)

    return df.select("media_id", "data").mapInPandas(
        _decode, IMAGE_FEATURES_SCHEMA)


RESIZED_IMAGE_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    StructField("pixels", BinaryType(), True),
])


def _resize_nn(pixels: bytes, w: int, h: int, c: int,
               out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resample via numpy fancy indexing — one gather,
    no per-pixel Python loop."""
    import numpy as np
    a = np.frombuffer(pixels, np.uint8).reshape(h, w, c)
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return np.ascontiguousarray(a[ys][:, xs]).tobytes()


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode + RESIZE image payloads to a fixed raster (the
    normalize-for-training step next to decode/feature-extract/
    frame-sample): nearest-neighbor resample of the decoded raster to
    (out_w, out_h), preserving the source's channel layout (PNG
    grayscale/RGBA stay 1/4-channel; everything else RGB). Same
    Arrow-batched mapInPandas shape and codec dispatch as decode_images.

    Output: (media_id, width, height, channels, pixels) — width/height
    are the OUTPUT dims, pixels the resized raw channel bytes."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"output dims must be >= 1, got {out_w}x{out_h}")

    def _decode(raw: bytes) -> tuple[int, int, int, bytes]:
        w, h, pixels = _decode_pixels(raw)
        if w * h == 0 or len(pixels) % (w * h):
            raise ValueError("decoded raster size mismatch")
        return w, h, len(pixels) // (w * h), pixels

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            out = {"media_id": [], "width": [], "height": [],
                   "channels": [], "pixels": []}
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data) if data is not None else b""
                w, h, c, pixels = _decode(raw)
                out["media_id"].append(mid)
                out["width"].append(out_w)
                out["height"].append(out_h)
                out["channels"].append(c)
                out["pixels"].append(_resize_nn(pixels, w, h, c,
                                                out_w, out_h))
            if out["media_id"]:
                yield pd.DataFrame(out)

    return df.select("media_id", "data").mapInPandas(
        _resize, RESIZED_IMAGE_SCHEMA)


def _parse_wav(raw: bytes) -> tuple[int, int, int, bytes, int, int]:
    """(sample_rate, channels, bits_per_sample, data, format_code,
    block_align) from a RIFF/WAVE payload — chunk-walks the container,
    so extra chunks (LIST, fact, cue) before or after fmt/data are
    handled. A WAVE_FORMAT_EXTENSIBLE (0xFFFE) fmt chunk resolves to the
    real code from the SubFormat GUID's leading two bytes (the spec
    encodes the classic code there). block_align is load-bearing only
    for block codecs (IMA ADPCM)."""
    import struct
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    rate = channels = bits = fmt = None
    block_align = 0
    data = b""
    i = 12
    while i + 8 <= len(raw):
        cid = raw[i:i + 4]
        csz = struct.unpack_from("<I", raw, i + 4)[0]
        body = raw[i + 8:i + 8 + csz]
        if cid == b"fmt " and len(body) >= 16:
            fmt, channels, rate = struct.unpack_from("<HHI", body, 0)
            block_align = struct.unpack_from("<H", body, 12)[0]
            bits = struct.unpack_from("<H", body, 14)[0]
            if fmt == 0xFFFE and len(body) >= 26:     # EXTENSIBLE
                fmt = struct.unpack_from("<H", body, 24)[0]
        elif cid == b"data":
            data = body
        i += 8 + csz + (csz & 1)            # chunks are word-aligned
    if rate is None or not rate or not channels or not bits:
        raise ValueError("WAV missing or malformed fmt chunk")
    return (int(rate), int(channels), int(bits), data, int(fmt),
            int(block_align))


#: IMA/DVI ADPCM tables from the public IMA spec (identical constants in
#: CPython's audioop.c, which the tests use as the FOREIGN witness: the
#: repacked nibble stream must decode sample-exact through
#: audioop.adpcm2lin in both encode directions).
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8) * 2
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)


def _ima_decode_step(pred: int, idx: int, d: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: vpdiff uses the step of the INCOMING
    index (the index update is 'for later' — IMA spec step order, same
    as audioop.adpcm2lin)."""
    step = _IMA_STEPS[idx]
    vpdiff = step >> 3
    if d & 4:
        vpdiff += step
    if d & 2:
        vpdiff += step >> 1
    if d & 1:
        vpdiff += step >> 2
    pred = pred - vpdiff if d & 8 else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[d]))
    return pred, idx


def _ima_encode_step(s: int, pred: int, idx: int) -> tuple[int, int, int]:
    """One IMA ADPCM encode step (nibble, new_pred, new_idx). The
    magnitude loop accumulates vpdiff exactly as the decoder's bit
    formula does, so encoder and decoder predictions stay identical —
    asserted sample-exact against audioop.adpcm2lin in the tests."""
    step = _IMA_STEPS[idx]
    diff = s - pred
    nib = 8 if diff < 0 else 0
    diff = abs(diff)
    vpdiff = step >> 3
    if diff >= step:
        nib |= 4
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        nib |= 2
        diff -= step
        vpdiff += step
    step >>= 1
    if diff >= step:
        nib |= 1
        vpdiff += step
    pred = pred - vpdiff if nib & 8 else pred + vpdiff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[nib]))
    return nib, pred, idx


def _ima_adpcm_f64(pcm: bytes, channels: int, block_align: int):
    """IMA ADPCM (WAV format 0x11) block decode to interleaved float64
    samples in int16 scale. Block layout per the Microsoft/IMA WAV
    spec: a 4-byte header per channel (int16 LE initial sample, step
    index, reserved) — the header sample IS the block's first output
    frame — then the nibble data in 4-byte-per-channel interleaved
    groups, LOW nibble first within each byte, 8 samples per channel
    per group. A trailing short block decodes its complete groups."""
    import struct

    import numpy as np
    if block_align < 4 * channels + 4 * channels:
        raise ValueError(f"IMA ADPCM block_align {block_align} too small "
                         f"for {channels} channel(s)")
    chans: list[list[int]] = [[] for _ in range(channels)]
    for base in range(0, len(pcm), block_align):
        block = pcm[base:base + block_align]
        if len(block) < 4 * channels:
            break                              # truncated trailing header
        preds, idxs = [], []
        for c in range(channels):
            pred, idx, _ = struct.unpack_from("<hBB", block, 4 * c)
            if idx > 88:
                raise ValueError(f"IMA ADPCM step index {idx} > 88")
            preds.append(pred)
            idxs.append(idx)
            chans[c].append(pred)
        data = block[4 * channels:]
        group = 4 * channels
        for pos in range(0, len(data) - group + 1, group):
            for c in range(channels):
                for byte in data[pos + 4 * c:pos + 4 * c + 4]:
                    for d in (byte & 0xF, byte >> 4):
                        preds[c], idxs[c] = _ima_decode_step(
                            preds[c], idxs[c], d)
                        chans[c].append(preds[c])
    frames = min(len(ch) for ch in chans)
    a = np.empty(frames * channels, dtype=np.float64)
    for c in range(channels):
        a[c::channels] = chans[c][:frames]
    return a


def encode_wav_ima(rate: int, channels: int, samples,
                   block_align: int = 256) -> bytes:
    """Encode interleaved int16 samples as an IMA ADPCM (format 0x11)
    RIFF/WAVE payload — the synthesis half of the codec (fixture
    generation for the correctness gate; the tests also cross-check it
    through audioop). Each block header stores the block's ACTUAL first
    sample (exact) plus the carried step index; frames pad with zeros
    to whole blocks, so total decoded frames round up to a block
    multiple."""
    import struct
    spb = (block_align - 4 * channels) // (4 * channels) * 8 + 1
    flat = [int(s) for s in samples]
    frames = len(flat) // channels
    n_blocks = max(1, -(-frames // spb))
    flat += [0] * (n_blocks * spb * channels - len(flat))
    idxs = [0] * channels
    out = bytearray()
    for b in range(n_blocks):
        base = b * spb * channels
        nibs: list[list[int]] = []
        for c in range(channels):
            pred = max(-32768, min(32767, flat[base + c]))
            out += struct.pack("<hBB", pred, idxs[c], 0)
            cn = []
            for k in range(1, spb):
                nib, pred, idxs[c] = _ima_encode_step(
                    flat[base + k * channels + c], pred, idxs[c])
                cn.append(nib)
            nibs.append(cn)
        for pos in range(0, spb - 1, 8):
            for c in range(channels):
                g = nibs[c][pos:pos + 8]
                out += bytes((g[i] | (g[i + 1] << 4))
                             for i in range(0, 8, 2))
    byte_rate = rate * block_align // spb
    fmt = struct.pack("<HHIIHHHH", 0x11, channels, rate, byte_rate,
                      block_align, 4, 2, spb)
    return (b"RIFF"
            + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(out))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(out)) + bytes(out))


def _g711_tables():
    """(mu-law, A-law) byte->int16 decode tables from the ITU G.711
    expansion formulas (the Sun g711.c public-domain formulation):
    mu-law: complement, then ((mantissa<<3)+0x84)<<exponent biased back;
    A-law: XOR 0x55, segment 0 adds the half-step, higher segments shift
    the biased mantissa. Anchors pinned by test: mu 0x00 -> -32124,
    0xFF -> 0; A 0x55 -> -8, 0xD5 -> +8, 0x2A -> -32256, 0xAA -> +32256."""
    import numpy as np
    mu = np.empty(256, dtype=np.int16)
    for c in range(256):
        u = ~c & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        mu[c] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    al = np.empty(256, dtype=np.int16)
    for c in range(256):
        a = c ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        al[c] = t if (a & 0x80) else -t
    return mu, al


_G711 = None


def _parse_ieee_extended(b: bytes) -> float:
    """80-bit IEEE 754 extended-precision float (big-endian) — the
    AIFF COMM chunk's sample-rate encoding (Apple IFF spec): 1 sign +
    15 exponent + 64 explicit-integer-bit mantissa."""
    import struct
    e = struct.unpack(">H", b[:2])[0]
    mant = struct.unpack(">Q", b[2:10])[0]
    if (e & 0x7FFF) == 0 and mant == 0:
        return 0.0
    v = mant * 2.0 ** ((e & 0x7FFF) - 16383 - 63)
    return -v if e & 0x8000 else v


def _pcm_be_to_f64(body: bytes, bits: int):
    """Signed BIG-endian integer PCM (the AU/AIFF byte order) to
    float64 in int16 scale."""
    import numpy as np
    if bits == 16:
        return np.frombuffer(body[:len(body) & ~1], dtype=">i2") \
            .astype(np.float64)
    if bits == 8:                       # AU/AIFF 8-bit PCM is SIGNED
        return np.frombuffer(body, dtype=np.int8) \
            .astype(np.float64) * 256.0
    if bits == 24:
        b = np.frombuffer(body[:len(body) - len(body) % 3],
                          dtype=np.uint8).reshape(-1, 3)
        v = ((b[:, 0].astype(np.int64) << 16)
             | (b[:, 1].astype(np.int64) << 8) | b[:, 2].astype(np.int64))
        v[v >= 1 << 23] -= 1 << 24
        return v.astype(np.float64) / 256.0
    if bits == 32:
        return np.frombuffer(body[:len(body) & ~3], dtype=">i4") \
            .astype(np.float64) / 65536.0
    raise NotImplementedError(
        f"{bits}-bit big-endian PCM not supported (8/16/24/32)")


def _g711_decode(body: bytes, fmt: int):
    import numpy as np
    global _G711
    if _G711 is None:
        _G711 = _g711_tables()
    table = _G711[1] if fmt == 6 else _G711[0]   # 6=A-law else mu-law
    return table[np.frombuffer(body, dtype=np.uint8)].astype(np.float64)


def _au_mono_f64(raw: bytes):
    """Sun/NeXT AU (.snd) decode to the `_wav_mono_f64` contract. The
    header is six big-endian u32 words (magic, data offset, data size,
    encoding, rate, channels — the public Sun audio spec); encodings
    covered: mu-law(1), signed PCM 8/16/24/32 (2-5), float32(6),
    A-law(27)."""
    import struct

    import numpy as np
    if len(raw) < 24 or raw[:4] != b".snd":
        raise ValueError("not an AU payload")
    off, size, enc, rate, channels = struct.unpack(">IIIII", raw[4:24])
    if rate == 0 or channels == 0:
        raise ValueError(
            f"malformed AU header: rate={rate} channels={channels}")
    end = len(raw) if size in (0, 0xFFFFFFFF) else min(len(raw), off + size)
    body = raw[off:end]
    if enc == 1:
        a = _g711_decode(body, 7)
    elif enc in (2, 3, 4, 5):
        a = _pcm_be_to_f64(body, (enc - 1) * 8)
    elif enc == 6:
        a = np.frombuffer(body[:len(body) & ~3], dtype=">f4") \
            .astype(np.float64) * 32767.0
    elif enc == 27:
        a = _g711_decode(body, 6)
    else:
        raise NotImplementedError(
            f"AU encoding {enc} not supported (mu-law, PCM 8-32, "
            "float32, A-law)")
    return _mono_trim(a, channels, rate)


def _aiff_mono_f64(raw: bytes):
    """AIFF / AIFF-C decode to the `_wav_mono_f64` contract: IFF chunk
    walk (COMM carries channels/frames/bits + the 80-bit-float rate,
    AIFC adds a compression 4cc), SSND carries the samples after its
    offset/blocksize words. Covered: uncompressed signed BE PCM
    8/16/24/32 ('NONE'), 'sowt' little-endian PCM16, G.711
    'ulaw'/'alaw' (either case)."""
    import struct

    import numpy as np
    if len(raw) < 12 or raw[:4] != b"FORM" or raw[8:12] not in (b"AIFF",
                                                                b"AIFC"):
        raise ValueError("not an AIFF payload")
    channels = bits = None
    rate = 0.0
    comp = b"NONE"
    body = b""
    i = 12
    while i + 8 <= len(raw):
        cid = raw[i:i + 4]
        csz = struct.unpack_from(">I", raw, i + 4)[0]
        chunk = raw[i + 8:i + 8 + csz]
        if cid == b"COMM" and len(chunk) >= 18:
            channels, _frames, bits = struct.unpack_from(">HIH", chunk, 0)
            rate = _parse_ieee_extended(chunk[8:18])
            if len(chunk) >= 22:                     # AIFC
                comp = chunk[18:22]
        elif cid == b"SSND" and len(chunk) >= 8:
            data_off = struct.unpack_from(">I", chunk, 0)[0]
            body = chunk[8 + data_off:]
        i += 8 + csz + (csz & 1)                     # chunks word-align
    if not channels or not rate or bits is None:
        raise ValueError("AIFF missing or malformed COMM chunk")
    if comp in (b"NONE", b"\x00\x00\x00\x00"):
        a = _pcm_be_to_f64(body, int(bits))
    elif comp == b"sowt":                            # LE PCM16
        a = np.frombuffer(body[:len(body) & ~1], dtype="<i2") \
            .astype(np.float64)
    elif comp.lower() == b"ulaw":
        a = _g711_decode(body, 7)
    elif comp.lower() == b"alaw":
        a = _g711_decode(body, 6)
    else:
        raise NotImplementedError(
            f"AIFC compression {comp!r} not supported "
            "(NONE/sowt/ulaw/alaw)")
    return _mono_trim(a, int(channels), int(round(rate)))


def _mono_trim(a, channels: int, rate: int):
    """Shared tail of the audio decoders: frame-align, mono-mix. Returns
    (rate, channels, total_frames, mono)."""
    total_frames = len(a) // channels
    trimmed = a[:total_frames * channels]
    mono = (trimmed.reshape(-1, channels).mean(axis=1)
            if channels > 1 else trimmed)
    return int(rate), channels, total_frames, mono


def _flac_mono_f64(raw: bytes):
    """FLAC decode to the `_wav_mono_f64` contract (int16-scale mono
    float64). Lossless by construction — `functions.flac.decode_flac`
    verifies per-frame CRC-8/CRC-16 and the STREAMINFO MD5 of the
    decoded samples, so a wrong raster cannot be emitted silently."""
    from amazon_kinesis_replay_spark.functions.flac import decode_flac
    rate, channels, bits, _frames, samples = decode_flac(raw)
    a = samples.astype("float64").reshape(-1) * (2.0 ** (16 - bits))
    return _mono_trim(a, channels, rate)


def _audio_mono_f64(raw: bytes):
    """Magic-dispatched audio decode: RIFF/WAVE, Sun AU, AIFF/AIFC,
    FLAC (r10) — all to (rate, channels, total_frames, mono float64 in
    int16 scale). Anything else raises loudly."""
    if raw[:4] == b"RIFF":
        return _wav_mono_f64(raw)
    if raw[:4] == b".snd":
        return _au_mono_f64(raw)
    if raw[:4] == b"FORM":
        return _aiff_mono_f64(raw)
    if raw[:4] == b"fLaC":
        return _flac_mono_f64(raw)
    raise NotImplementedError(
        f"unsupported audio magic {raw[:4]!r}: WAV, AU, AIFF/AIFC and "
        "FLAC decode without a codec library")


def _wav_mono_f64(raw: bytes):
    """Decode a RIFF/WAVE payload to (rate, channels, total_frames,
    mono float64 signal in int16 scale). Format support — all from the
    public specs, no codec library: integer PCM at 8 (unsigned) / 16 /
    24 / 32 bits, IEEE float32 (format 3), A-law (6) and mu-law (7,
    both via the G.711 tables), IMA/DVI ADPCM (0x11, block codec —
    foreign-witnessed sample-exact against CPython audioop in the
    tests); anything else raises loudly. channels average to mono."""
    import numpy as np
    global _G711
    rate, channels, bits, pcm, fmt, block_align = _parse_wav(raw)
    if fmt == 1:
        if bits == 16:
            a = np.frombuffer(pcm[:len(pcm) & ~1], dtype="<i2") \
                .astype(np.float64)
        elif bits == 8:                     # WAV 8-bit PCM is unsigned
            a = np.frombuffer(pcm, dtype=np.uint8) \
                .astype(np.float64) * 256.0 - 32768.0
        elif bits == 24:
            b = np.frombuffer(pcm[:len(pcm) - len(pcm) % 3],
                              dtype=np.uint8).reshape(-1, 3)
            v = (b[:, 0].astype(np.int64) | (b[:, 1].astype(np.int64) << 8)
                 | (b[:, 2].astype(np.int64) << 16))
            v[v >= 1 << 23] -= 1 << 24
            a = v.astype(np.float64) / 256.0       # back to int16 scale
        elif bits == 32:
            a = np.frombuffer(pcm[:len(pcm) & ~3], dtype="<i4") \
                .astype(np.float64) / 65536.0
        else:
            raise NotImplementedError(
                f"{bits}-bit integer-PCM WAV not supported (8/16/24/32)")
    elif fmt == 3 and bits == 32:
        a = np.frombuffer(pcm[:len(pcm) & ~3], dtype="<f4") \
            .astype(np.float64) * 32767.0
    elif fmt in (6, 7) and bits == 8:
        if _G711 is None:
            _G711 = _g711_tables()
        table = _G711[1] if fmt == 6 else _G711[0]
        a = table[np.frombuffer(pcm, dtype=np.uint8)].astype(np.float64)
    elif fmt == 0x11 and bits == 4:
        a = _ima_adpcm_f64(pcm, channels, block_align)
    else:
        raise NotImplementedError(
            f"WAV format code {fmt} at {bits}-bit not supported "
            "(integer PCM 8/16/24/32, float32, A-law, mu-law, "
            "IMA ADPCM)")
    return _mono_trim(a, channels, rate)


