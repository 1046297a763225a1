"""Pure-Python FLAC codec (decode + encoder-first witness).

FLAC is the one perceptual-family audio member that is losslessly and
fully publicly specified (RFC 9639 / the xiph.org format spec), so it
can meet this repo's witness standard without a codec library: the
container ships NO flac/ffmpeg/libsndfile (checked r10), so — like the
progressive-JPEG path (`functions/jpeg.py`) — the encoder is the
fixture synthesizer and the witness is three-layered:

1. decode(encode(x)) must be SAMPLE-EXACT for every bit depth /
   channel mode / predictor the encoder can emit (lossless contract);
2. the decoder verifies the frame-header CRC-8 and frame CRC-16 and
   the STREAMINFO MD5 of the DECODED samples — the MD5 is computed by
   the encoder over the raw input before encoding and recomputed by
   the decoder over its output after decoding, so the two meet only if
   the whole chain is bit-lossless;
3. the CRC-8 (poly 0x07) and CRC-16 (poly 0x8005, unreflected) kernels
   are pinned to their PUBLIC catalogue check values ("123456789" ->
   0xF4 / 0xFEE8), independent of this module's own framing.

Decode coverage: CONSTANT / VERBATIM / FIXED(0-4) / LPC(1-32)
subframes, 4- and 5-bit Rice residuals incl. escape partitions,
partition orders 0-15, wasted bits, and all four channel assignments
(independent, left/side, right/side, mid/side). Sample-by-sample Rice
decoding is Python-speed — this rides the same Arrow-batched
mapInPandas kernel as the other audio decoders (multimodal.audio_meta)
where the per-batch loop is already the model.

Reference parity: the reference engine (aws-samples/amazon-kinesis-replay,
JsonEventS3Iterator.java) only transports opaque payloads; this module
belongs to the repo's multimodal-corpus extension surface.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

# ---------------------------------------------------------------------------
# CRC kernels (public check values pinned in tests)
# ---------------------------------------------------------------------------


def _crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for b in range(256):
        r = b << (width - 8)
        for _ in range(8):
            r = ((r << 1) ^ poly) & mask if r & top else (r << 1) & mask
        table.append(r)
    return table


_CRC8_T = _crc_table(0x07, 8)
_CRC16_T = _crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_T[crc ^ b]
    return crc


def crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC16_T[((crc >> 8) ^ b) & 0xFF] ^ ((crc << 8) & 0xFFFF)
    return crc


# ---------------------------------------------------------------------------
# Bit I/O (MSB-first, no byte stuffing — unlike JPEG's _BitReader)
# ---------------------------------------------------------------------------


class _Bits:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.byte = pos
        self.bit = 0          # bits consumed of data[byte], from MSB

    def tell_bytes(self) -> int:
        return self.byte

    def read(self, n: int) -> int:
        v = 0
        while n > 0:
            if self.byte >= len(self.data):
                raise ValueError("FLAC bitstream truncated")
            avail = 8 - self.bit
            take = min(n, avail)
            cur = self.data[self.byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            n -= take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.byte >= len(self.data):
                raise ValueError("FLAC bitstream truncated in unary")
            cur = self.data[self.byte]
            rem = 8 - self.bit
            chunk = cur & ((1 << rem) - 1)
            if chunk == 0:
                q += rem
                self.bit = 0
                self.byte += 1
                continue
            lead = rem - chunk.bit_length()
            q += lead
            self.bit += lead + 1
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
            return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


class _BitW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nb = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nb += n
        while self.nb >= 8:
            self.nb -= 8
            self.out.append((self.acc >> self.nb) & 0xFF)
        self.acc &= (1 << self.nb) - 1

    def write_signed(self, v: int, n: int) -> None:
        self.write(v & ((1 << n) - 1), n)

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nb:
            self.write(0, 8 - self.nb)

    def bytes(self) -> bytes:
        assert self.nb == 0, "unaligned"
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Shared tables
# ---------------------------------------------------------------------------

_BLOCKSIZE_CODE = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
                   256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
                   8192: 13, 16384: 14, 32768: 15}
_RATE_TABLE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
               6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
               11: 96000}
_BPS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}
_BPS_TABLE = {v: k for k, v in _BPS_CODE.items()}

#: FIXED predictor residual: res_n = difference order n of the signal.
_FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _utf8_code(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index; the spec
    extends UTF-8 to 36/48-bit values — plain UTF-8 below 0x80000000)."""
    if n < 0x80:
        return bytes([n])
    lens = [(0x7FF, 2), (0xFFFF, 3), (0x1FFFFF, 4), (0x3FFFFFF, 5),
            (0x7FFFFFFF, 6), (0xFFFFFFFFF, 7)]
    for cap, ln in lens:
        if n <= cap:
            out = bytearray(ln)
            for i in range(ln - 1, 0, -1):
                out[i] = 0x80 | (n & 0x3F)
                n >>= 6
            out[0] = ((0xFF << (8 - ln)) & 0xFF) | n
            return bytes(out)
    raise ValueError("frame number too large")


def _utf8_decode(bits: _Bits) -> int:
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    ln = 0
    m = b0
    while m & 0x80:
        ln += 1
        m = (m << 1) & 0xFF
    if ln < 2 or ln > 7:
        raise ValueError("bad FLAC coded number")
    v = b0 & (0x7F >> ln)
    for _ in range(ln - 1):
        c = bits.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded-number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _md5_samples(samples: np.ndarray, channels: int, bits_ps: int) -> bytes:
    """STREAMINFO MD5: little-endian, signed, ceil(bps/8) bytes per
    sample, channels interleaved (RFC 9639 §8.2)."""
    nbytes = (bits_ps + 7) // 8
    a = np.asarray(samples, np.int64).reshape(-1)
    if nbytes == 1:
        raw = (a & 0xFF).astype(np.uint8).tobytes()
    elif nbytes == 2:
        raw = a.astype("<i2").tobytes()
    elif nbytes == 3:
        full = a.astype("<i4").view(np.uint8).reshape(-1, 4)
        raw = full[:, :3].tobytes()
    else:
        raw = a.astype("<i4").tobytes()
    return hashlib.md5(raw).digest()


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _read_residual(bits: _Bits, blocksize: int, pred_order: int,
                   stats: dict | None = None) -> list[int]:
    method = bits.read(2)
    if method > 1:
        raise ValueError(f"reserved FLAC residual method {method}")
    pbits, escape = (4, 0xF) if method == 0 else (5, 0x1F)
    po = bits.read(4)
    nparts = 1 << po
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide blocksize")
    if stats is not None:
        stats.setdefault("partition_orders", set()).add(po)
    res: list[int] = []
    for p in range(nparts):
        n = (blocksize >> po) - (pred_order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        param = bits.read(pbits)
        if param == escape:
            if stats is not None:
                stats["escapes"] = stats.get("escapes", 0) + 1
            raw = bits.read(5)
            if raw == 0:
                res.extend([0] * n)
            else:
                res.extend(bits.read_signed(raw) for _ in range(n))
        else:
            for _ in range(n):
                q = bits.read_unary()
                v = (q << param) | bits.read(param) if param else q
                res.append((v >> 1) ^ -(v & 1))
    return res


def _read_subframe(bits: _Bits, blocksize: int, sbits: int,
                   stats: dict | None = None) -> list[int]:
    if bits.read(1):
        raise ValueError("FLAC subframe padding bit set")
    stype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.read_unary() + 1
    sbits -= wasted
    if sbits <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if stats is not None:
        kind = ("constant" if stype == 0 else "verbatim" if stype == 1
                else f"fixed{stype - 8}" if 8 <= stype <= 12
                else f"lpc{(stype & 0x1F) + 1}" if stype >= 32 else "?")
        stats.setdefault("subframes", set()).add(kind)
        if wasted:
            stats["wasted"] = stats.get("wasted", 0) + 1
    if stype == 0:                                   # CONSTANT
        v = bits.read_signed(sbits)
        out = [v] * blocksize
    elif stype == 1:                                 # VERBATIM
        out = [bits.read_signed(sbits) for _ in range(blocksize)]
    elif 8 <= stype <= 12:                           # FIXED order 0-4
        order = stype - 8
        out = [bits.read_signed(sbits) for _ in range(order)]
        res = _read_residual(bits, blocksize, order, stats)
        coef = _FIXED_COEF[order]
        for r in res:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coef))
            out.append(r + pred)
    elif stype >= 32:                                # LPC order 1-32
        order = (stype & 0x1F) + 1
        out = [bits.read_signed(sbits) for _ in range(order)]
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision escape")
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coef = [bits.read_signed(prec) for _ in range(order)]
        res = _read_residual(bits, blocksize, order, stats)
        for r in res:
            acc = sum(c * out[-1 - j] for j, c in enumerate(coef))
            out.append(r + (acc >> shift))
    else:
        raise ValueError(f"reserved FLAC subframe type {stype}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac(raw: bytes, stats: dict | None = None):
    """Decode a FLAC stream. Returns (rate, channels, bits_per_sample,
    total_frames, samples) with samples an int32 ndarray of shape
    (total_frames, channels). Verifies every frame-header CRC-8, every
    frame CRC-16 and (when non-zero) the STREAMINFO MD5 of the decoded
    samples — malformed or lossy-decoded streams raise, never emit
    wrong samples silently. `stats` (tests) collects which decode paths
    ran: subframe kinds, partition orders, escape-partition count,
    channel assignments."""
    if raw[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    info = None
    while True:                                      # metadata blocks
        if pos + 4 > len(raw):
            raise ValueError("FLAC metadata truncated")
        hdr = raw[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        ln = int.from_bytes(raw[pos + 1:pos + 4], "big")
        body = raw[pos + 4:pos + 4 + ln]
        if btype == 0:
            if ln != 34:
                raise ValueError("bad STREAMINFO length")
            b = _Bits(body)
            b.read(16)                               # min blocksize
            b.read(16)                               # max blocksize
            b.read(24), b.read(24)                   # frame sizes
            rate = b.read(20)
            channels = b.read(3) + 1
            bps = b.read(5) + 1
            total = b.read(36)
            md5 = body[18:34]
            info = (rate, channels, bps, total, md5)
        pos += 4 + ln
        if last:
            break
    if info is None:
        raise ValueError("FLAC stream has no STREAMINFO")
    rate, channels, bps, total, md5 = info
    if rate == 0 or channels == 0:
        raise ValueError(f"malformed STREAMINFO: rate={rate} "
                         f"channels={channels}")

    chans: list[list[int]] = [[] for _ in range(channels)]
    ndecoded = 0
    while pos < len(raw) and (total == 0 or ndecoded < total):
        frame_start = pos
        bits = _Bits(raw, pos)
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError(f"bad FLAC frame sync at {pos}")
        if bits.read(1):
            raise ValueError("reserved frame-header bit set")
        bits.read(1)                                 # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        sz_code = bits.read(3)
        if bits.read(1):
            raise ValueError("reserved frame-header bit set")
        _utf8_decode(bits)                           # frame/sample number
        if bs_code == 0:
            raise ValueError("reserved blocksize code 0")
        elif bs_code == 6:
            blocksize = bits.read(8) + 1
        elif bs_code == 7:
            blocksize = bits.read(16) + 1
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("invalid sample-rate code")
        hdr_end = bits.tell_bytes()
        want = crc8(raw[frame_start:hdr_end])
        if bits.read(8) != want:
            raise ValueError("FLAC frame-header CRC-8 mismatch")

        if ch_code <= 7:
            nch = ch_code + 1
            if nch != channels:
                raise ValueError("frame channel count != STREAMINFO")
            side = None
        elif ch_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            nch, side = 2, ch_code
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        fbps = bps if sz_code == 0 else _BPS_TABLE.get(sz_code)
        if fbps is None:
            raise ValueError(f"reserved sample-size code {sz_code}")
        if stats is not None:
            stats.setdefault("channel_modes", set()).add(
                {8: "left_side", 9: "right_side",
                 10: "mid_side"}.get(ch_code, "independent"))

        subs = []
        for c in range(nch):
            ext = 1 if (side == 8 and c == 1) or (side == 9 and c == 0) \
                or (side == 10 and c == 1) else 0
            subs.append(_read_subframe(bits, blocksize, fbps + ext, stats))
        bits.align()
        body_end = bits.tell_bytes()
        want16 = crc16(raw[frame_start:body_end])
        got16 = bits.read(16)
        if got16 != want16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = bits.tell_bytes()

        if side == 8:                                # left/side
            l, s = subs
            subs = [l, [a - b for a, b in zip(l, s)]]
        elif side == 9:                              # right/side
            s, r = subs
            subs = [[a + b for a, b in zip(r, s)], r]
        elif side == 10:                             # mid/side
            m, s = subs
            left, right = [], []
            for mm, ss in zip(m, s):
                mm = (mm << 1) | (ss & 1)
                left.append((mm + ss) >> 1)
                right.append((mm - ss) >> 1)
            subs = [left, right]
        for c in range(channels):
            chans[c].extend(subs[c])
        ndecoded += blocksize

    if total and ndecoded > total:                   # last-block padding
        chans = [c[:total] for c in chans]
        ndecoded = total
    samples = np.empty((ndecoded, channels), np.int32)
    for c in range(channels):
        samples[:, c] = chans[c]
    if md5 != b"\x00" * 16:
        got = _md5_samples(samples, channels, bps)
        if got != md5:
            raise ValueError("FLAC STREAMINFO MD5 mismatch: decode is "
                             "not bit-lossless")
    return rate, channels, bps, ndecoded, samples


# ---------------------------------------------------------------------------
# Encoder (fixture synthesis / witness)
# ---------------------------------------------------------------------------


def _best_rice_param(res: np.ndarray, pbits: int) -> int:
    """Exact cheapest Rice parameter by total coded size."""
    z = (np.abs(res.astype(np.int64)) << 1) - (res < 0)
    best, bestp = None, 0
    for p in range(0, (1 << pbits) - 1):
        size = int((z >> p).sum()) + len(z) * (p + 1)
        if best is None or size < best:
            best, bestp = size, p
        if p > 1 and size > best * 2:
            break
    return bestp


def _write_residual(w: _BitW, res: np.ndarray, pred_order: int,
                    blocksize: int, partition_order: int) -> None:
    while blocksize % (1 << partition_order) or \
            (blocksize >> partition_order) <= pred_order:
        partition_order -= 1
    w.write(0, 2)                                    # 4-bit Rice
    w.write(partition_order, 4)
    nparts = 1 << partition_order
    off = 0
    for p in range(nparts):
        n = (blocksize >> partition_order) - (pred_order if p == 0 else 0)
        part = res[off:off + n]
        off += n
        param = _best_rice_param(part, 4)
        z = (np.abs(part.astype(np.int64)) << 1) - (part < 0)
        rice_bits = int((z >> param).sum()) + n * (param + 1) if n else 0
        raw_bits = int(z.max()).bit_length() + 1 if n and z.max() else 0
        if n and raw_bits <= 31 and raw_bits * n < rice_bits:  # escape
            w.write(0xF, 4)
            w.write(raw_bits, 5)
            if raw_bits:
                for v in part:
                    w.write_signed(int(v), raw_bits)
            continue
        w.write(param, 4)
        for v, zz in zip(part, z):
            zz = int(zz)
            w.write_unary(zz >> param)
            if param:
                w.write(zz & ((1 << param) - 1), param)


def _lpc_coeffs(x: np.ndarray, order: int, precision: int):
    """Levinson-Durbin + coefficient quantization (shift chosen so the
    largest coefficient saturates the precision)."""
    xf = x.astype(np.float64)
    n = len(xf)
    auto = np.array([float(np.dot(xf[:n - k], xf[k:])) for k in
                     range(order + 1)])
    if auto[0] == 0:
        return None
    err = auto[0]
    a = np.zeros(order)
    for i in range(order):
        acc = auto[i + 1] - np.dot(a[:i], auto[i::-1][:i])
        k = acc / err
        a[:i + 1] = np.concatenate([a[:i] - k * a[:i][::-1], [k]]) \
            if i else np.array([k])
        err *= (1 - k * k)
        if err <= 0:
            return None
    cmax = np.abs(a).max()
    if cmax == 0:
        return None
    shift = precision - 1 - int(np.floor(np.log2(cmax))) - 1
    # the stream field is 5-bit SIGNED: legal non-negative range is
    # 0..15 (16..31 would wrap negative on decode — caught by the r10
    # fuzz on noise inputs whose LPC coefficients come out tiny)
    shift = max(0, min(15, shift))
    q = np.round(a * (1 << shift)).astype(np.int64)
    lim = 1 << (precision - 1)
    q = np.clip(q, -lim, lim - 1)
    return q, shift


def _encode_subframe(w: _BitW, x: np.ndarray, sbits: int,
                     lpc_order: int, partition_order: int) -> None:
    x = x.astype(np.int64)
    n = len(x)
    if np.all(x == x[0]):                            # CONSTANT
        w.write(0, 1)
        w.write(0, 6)
        w.write(0, 1)
        w.write_signed(int(x[0]), sbits)
        return
    # wasted bits: common trailing zeros across the block (spec: flag 1
    # then k-1 in unary; samples coded right-shifted at sbits-k)
    nz = x[x != 0]
    wasted = 0
    if len(nz):
        orred = 0
        for v in nz:
            orred |= int(v)
            if orred & 1:
                break
        wasted = (orred & -orred).bit_length() - 1 if orred else 0
        wasted = min(wasted, sbits - 2)
    if wasted > 0:
        _encode_subframe_body(w, x >> wasted, sbits - wasted,
                              lpc_order, partition_order, wasted)
    else:
        _encode_subframe_body(w, x, sbits, lpc_order, partition_order, 0)


def _encode_subframe_body(w: _BitW, x: np.ndarray, sbits: int,
                          lpc_order: int, partition_order: int,
                          wasted: int) -> None:
    n = len(x)

    def _header(stype: int) -> None:
        w.write(0, 1)
        w.write(stype, 6)
        if wasted:
            w.write(1, 1)
            w.write_unary(wasted - 1)
        else:
            w.write(0, 1)
    # candidate: best fixed order by sum-of-abs residual
    best_res, best_order, best_cost = x, 0, float(np.abs(x).sum())
    d = x
    for order in range(1, 5):
        if order >= n:
            break
        d = np.diff(d)
        cost = float(np.abs(d).sum())
        if cost < best_cost:
            best_res, best_order, best_cost = d, order, cost
    use_lpc = False
    if lpc_order and lpc_order < n:
        qc = _lpc_coeffs(x, lpc_order, 12)
        if qc is not None:
            q, shift = qc
            pred = np.zeros(n - lpc_order, np.int64)
            for j in range(lpc_order):
                pred += q[j] * x[lpc_order - 1 - j:n - 1 - j]
            lres = x[lpc_order:] - (pred >> shift)
            if float(np.abs(lres).sum()) < best_cost and \
                    np.abs(lres).max(initial=0) < (1 << 30):
                use_lpc = True
    if use_lpc:
        _header(0x20 | (lpc_order - 1))
        for v in x[:lpc_order]:
            w.write_signed(int(v), sbits)
        w.write(12 - 1, 4)
        w.write_signed(shift, 5)
        for c in q:
            w.write_signed(int(c), 12)
        _write_residual(w, lres, lpc_order, n, partition_order)
        return
    # VERBATIM guard: huge residuals (adversarial input) fall back
    if np.abs(best_res).max(initial=0) >= (1 << 30):
        _header(1)
        for v in x:
            w.write_signed(int(v), sbits)
        return
    _header(8 + best_order)
    for v in x[:best_order]:
        w.write_signed(int(v), sbits)
    _write_residual(w, best_res, best_order, n, partition_order)


def encode_flac(rate: int, channels: int, bits_ps: int,
                samples, blocksize: int = 4096,
                stereo: str = "independent", lpc_order: int = 0,
                partition_order: int = 0) -> bytes:
    """Encode interleaved integer samples (shape (frames, channels) or
    flat) to a FLAC stream. stereo in {'independent', 'left_side',
    'right_side', 'mid_side'} selects the channel decorrelation (stereo
    input only); lpc_order>0 tries an LPC subframe per channel (order
    <= 32, precision 12) and falls back to the best FIXED predictor
    when LPC does not reduce the residual; partition_order>0 splits the
    Rice residual (clamped to divide each block). The STREAMINFO MD5 is
    computed over the raw input so decode_flac independently certifies
    losslessness."""
    if stereo not in ("independent", "left_side", "right_side",
                      "mid_side"):
        raise ValueError(f"unknown stereo mode {stereo!r}")
    if not 4 <= bits_ps <= 32:
        raise ValueError("bits_ps must be in 4..32")
    if lpc_order and not 1 <= lpc_order <= 32:
        raise ValueError("lpc_order must be 0 (off) or 1..32")
    x = np.asarray(samples, np.int64).reshape(-1, channels)
    nframes = len(x)
    lim = 1 << (bits_ps - 1)
    if nframes and (x.min() < -lim or x.max() >= lim):
        raise ValueError(f"samples exceed {bits_ps}-bit signed range")
    md5 = _md5_samples(x, channels, bits_ps)

    out = bytearray(b"fLaC")
    si = _BitW()
    bs_min = min(blocksize, nframes) or blocksize
    si.write(bs_min, 16)
    si.write(blocksize, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(rate, 20)
    si.write(channels - 1, 3)
    si.write(bits_ps - 1, 5)
    si.write(nframes, 36)
    body = si.bytes() + md5
    out.append(0x80 | 0)                             # last block, STREAMINFO
    out += len(body).to_bytes(3, "big")
    out += body

    use_side = channels == 2 and stereo != "independent"
    for fi, start in enumerate(range(0, nframes, blocksize)):
        blk = x[start:start + blocksize]
        n = len(blk)
        w = _BitW()
        w.write(0x3FFE, 14)
        w.write(0, 1)
        w.write(0, 1)                                # fixed blocking
        code = _BLOCKSIZE_CODE.get(n)
        if code is not None:
            w.write(code, 4)
            extra = None
        elif n <= 256:
            w.write(6, 4)
            extra = (n - 1, 8)
        else:
            w.write(7, 4)
            extra = (n - 1, 16)
        w.write(0, 4)                                # rate from STREAMINFO
        if use_side:
            ch_code = {"left_side": 8, "right_side": 9,
                       "mid_side": 10}[stereo]
        else:
            ch_code = channels - 1
        w.write(ch_code, 4)
        w.write(_BPS_CODE.get(bits_ps, 0), 3)
        w.write(0, 1)
        for b in _utf8_code(fi):
            w.write(b, 8)
        if extra:
            w.write(*extra)
        w.align()
        hdr = w.bytes()
        w = _BitW()
        for b in hdr:
            w.write(b, 8)
        w.write(crc8(hdr), 8)

        if use_side:
            left = blk[:, 0]
            right = blk[:, 1]
            side = left - right
            if stereo == "left_side":
                chans = [(left, bits_ps), (side, bits_ps + 1)]
            elif stereo == "right_side":
                chans = [(side, bits_ps + 1), (right, bits_ps)]
            else:
                chans = [((left + right) >> 1, bits_ps),
                         (side, bits_ps + 1)]
        else:
            chans = [(blk[:, c], bits_ps) for c in range(channels)]
        for sig, sbits in chans:
            _encode_subframe(w, sig, sbits, lpc_order, partition_order)
        w.align()
        frame = w.bytes()
        out += frame
        out += struct.pack(">H", crc16(frame))
    return bytes(out)
