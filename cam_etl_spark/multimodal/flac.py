"""FLAC (Free Lossless Audio Codec) encode/decode with NO codec library —
the compressed-audio analogue of the native JPEG/PNG/GIF/TIFF modules.

Subset implemented (the spec's core coding tools, RFC 9639 / the
xiph.org format spec): mono and stereo fixed-blocksize streams at
any table bit depth (8-24);
CONSTANT, VERBATIM, FIXED-predictor (orders 0-4), and LPC subframes
(quantized Levinson-Durbin coefficients, arithmetic-shift prediction);
stereo decorrelation (left/side, right/side, mid/side — side channel at
bps+1 per the spec); PARTITIONED Rice residual coding (BOTH methods —
4-bit and 5-bit parameters — partition orders 0-3 costed exactly, each
partition with its own Rice parameter) with zigzag mapping AND the Rice
escape partition (verbatim n-bit two's-complement residuals when Rice
loses); WASTED BITS (common trailing-zero factor signalled per
subframe); UTF-8 frame numbers; CRC-8 frame-header and CRC-16
whole-frame checksums, both verified on decode; all the frame-header
TABLE bit depths (8/12/16/20/24-bit, with bps+1 side channels);
MULTICHANNEL streams (3-8 channels, the independent-channel
assignments 0b0010-0b0111 — the spec defines no decorrelation beyond
stereo, so independent coding IS the full multichannel format); and
NON-TABLE bit depths 4-32 via frame-header sample-size code 0b000
("get from STREAMINFO") — at 32 bits, order>0 residuals can exceed the
31-bit escape-width field, so such partitions stay Rice-coded (the
escape is only a candidate when the true width fits). No remaining
in-format boundary for fixed-blocksize streams.

Decoding is lossless by construction, so catalog fixtures built from
digest arithmetic round-trip bit-exactly and a SQL oracle can replay the
decoded sample statistics — the same discipline as the WAV/BMP/JPEG
entries (multimodal/codecs.py, multimodal/jpeg.py).
"""

from __future__ import annotations

import math
import struct

# ---------------------------------------------------------------------------
# CRCs (FLAC frame header CRC-8 poly 0x07; whole-frame CRC-16 poly 0x8005)
# ---------------------------------------------------------------------------


def crc8(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def crc16(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


# ---------------------------------------------------------------------------
# MSB-first bit I/O (no byte stuffing — FLAC frames are byte-aligned blobs)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            self.out.append((self._acc >> self._n) & 0xFF)

    def align(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)


class _BitReader:
    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos  # byte position
        self._acc = 0
        self._n = 0

    def read(self, nbits: int) -> int:
        while self._n < nbits:
            if self.pos >= len(self.buf):
                raise ValueError("decode_flac: truncated bitstream")
            self._acc = (self._acc << 8) | self.buf[self.pos]
            self.pos += 1
            self._n += 8
        self._n -= nbits
        val = (self._acc >> self._n) & ((1 << nbits) - 1)
        self._acc &= (1 << self._n) - 1
        return val

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("decode_flac: runaway unary code")
        return q

    def align(self) -> None:
        self._acc = 0
        self._n = 0


# ---------------------------------------------------------------------------
# Fixed predictors (spec §9.2.1): residual = signal - prediction
# ---------------------------------------------------------------------------

_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _residuals(samples: list[int], order: int) -> list[int]:
    coef = _FIXED_COEFFS[order]
    return [
        s - sum(c * samples[i - j - 1] for j, c in enumerate(coef))
        for i, s in enumerate(samples)
        if i >= order
    ]


def _restore(warmup: list[int], res: list[int], order: int) -> list[int]:
    coef = _FIXED_COEFFS[order]
    out = list(warmup)
    for e in res:
        out.append(e + sum(c * out[-j - 1] for j, c in enumerate(coef)))
    return out


def _zigzag(e: int) -> int:
    return (e << 1) if e >= 0 else (-(e << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u >> 1) + 1)


def _utf8_number(n: int) -> bytes:
    """FLAC frame numbers use UTF-8-style coding of arbitrary ints.

    An n-byte code carries (7 - n) lead-byte payload bits plus 6 bits per
    continuation byte = 5n + 1 payload bits total, so the width threshold
    is 1 << (5*nbytes + 1) (NOT 1 << (6 + 4*nbytes), which under-sizes
    frame numbers in [2^11, 2^14) etc. and overflows the lead byte).
    """
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (1 + 5 * nbytes)):
        nbytes += 1
    for i in range(nbytes - 1):
        out.append(0x80 | (n & 0x3F))
        n >>= 6
    lead = (0xFF << (8 - nbytes)) & 0xFF | n
    return bytes([lead] + out[::-1])


def _read_utf8_number(r: _BitReader) -> int:
    first = r.read(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("decode_flac: bad UTF-8 frame number")
    n = first & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("decode_flac: bad UTF-8 continuation")
        n = (n << 6) | (b & 0x3F)
    return n


# ---------------------------------------------------------------------------
# LPC analysis (encoder side): autocorrelation → Levinson-Durbin →
# quantized integer coefficients.  Round-trip exactness never depends on
# coefficient quality — encoder and decoder apply the SAME integer
# predictor with arithmetic right shift — only compression does.
# ---------------------------------------------------------------------------

_LPC_PRECISION = 12  # coefficient bits (precision-1 = 11 goes in the header)


def _lpc_quantized(samples: list[int], order: int):
    """Return (qcoefs, shift) for an order-N forward predictor, or None
    when the block is degenerate (all-zero / too short / unstable)."""
    n = len(samples)
    if n <= order:
        return None
    ac = [
        float(sum(samples[i] * samples[i + lag] for i in range(n - lag)))
        for lag in range(order + 1)
    ]
    if ac[0] == 0.0:
        return None
    err = ac[0]
    a: list[float] = []
    for i in range(order):
        acc = ac[i + 1] - sum(a[j] * ac[i - j] for j in range(i))
        if err <= 0.0:
            return None
        k = acc / err
        a = [a[j] - k * a[i - 1 - j] for j in range(i)] + [k]
        err *= 1.0 - k * k
    cmax = max(abs(c) for c in a)
    if cmax == 0.0 or not math.isfinite(cmax):
        return None
    lim = 1 << (_LPC_PRECISION - 1)
    shift = 15  # 5-bit header field; keep within [0, 15]
    while shift > 0:
        q = [int(math.floor(c * (1 << shift) + 0.5)) for c in a]
        if all(-lim <= v < lim for v in q):
            break
        shift -= 1
    else:
        return None
    if all(v == 0 for v in q):
        return None
    return q, shift


def _lpc_residuals(samples: list[int], qc: list[int], shift: int) -> list[int]:
    order = len(qc)
    return [
        samples[i]
        - (sum(qc[j] * samples[i - 1 - j] for j in range(order)) >> shift)
        for i in range(order, len(samples))
    ]


# ---------------------------------------------------------------------------
# Encoder (fixture-grade, standards-shaped): mono/stereo 16-bit, fixed
# blocksize; CONSTANT / FIXED / LPC subframes; Rice or escape residuals
# ---------------------------------------------------------------------------


def _best_order(samples: list[int]) -> int:
    best, best_cost = 0, None
    for order in range(3):  # orders 0-2 cover the fixture signals
        if len(samples) <= order:
            continue
        res = _residuals(samples, order)
        cost = sum(_zigzag(e).bit_length() for e in res)
        if best_cost is None or cost < best_cost:
            best, best_cost = order, cost
    return best


def _twos_width(e: int) -> int:
    """Smallest n with -(2^(n-1)) <= e < 2^(n-1)."""
    return (e.bit_length() if e >= 0 else (-e - 1).bit_length()) + 1


def _partition_cost(
    res: list[int], kmax: int = 14
) -> tuple[int, int | None, int]:
    """(bits, rice_k_or_None_for_escape, escape_width) for one partition:
    the exact cheapest of the available Rice parameters vs the escape
    coding (kmax = 14 for the 4-bit method, 30 for the 5-bit one)."""
    best_k, best_cost = 0, None
    for k in range(kmax + 1):
        cost = sum((_zigzag(e) >> k) + 1 + k for e in res)
        if best_cost is None or cost < best_cost:
            best_k, best_cost = k, cost
        if best_cost <= len(res) * (k + 1):  # longer k can't win anymore
            break
    nbits = max((_twos_width(e) for e in res), default=1)
    if nbits <= 31:  # the 5-bit escape width field cannot express more;
        # wider residuals (possible at 32-bit depth) must stay Rice-coded
        esc_cost = 5 + nbits * len(res)
        if esc_cost < best_cost:
            return esc_cost, None, nbits
    return best_cost, best_k, min(nbits, 31)


def _plan_residual(res, order, block_size, param_bits):
    """Best (total_bits, partition_order, plans) for one coding method —
    method 0 has 4-bit parameters (kmax 14), method 1 has 5-bit (kmax
    30); partition orders 0-3 are costed exactly."""
    kmax = (1 << param_bits) - 2
    best = None
    for po in range(4):
        nparts = 1 << po
        if block_size % nparts or (block_size >> po) <= order:
            continue
        plen = block_size >> po
        total, plans, pos = 4, [], 0
        for p in range(nparts):
            n = plen - order if p == 0 else plen
            part = res[pos : pos + n]
            pos += n
            bits, k, nbits = _partition_cost(part, kmax)
            total += param_bits + bits  # parameter field + content
            plans.append((part, k, nbits))
        if best is None or total < best[0]:
            best = (total, po, plans)
    return best


def _write_residual(
    w: _BitWriter, res: list[int], order: int, block_size: int
) -> None:
    """PARTITIONED Rice residual: both coding methods (0 = 4-bit
    parameters, 1 = 5-bit parameters for high-magnitude residuals) and
    partition orders 0-3 are costed exactly and the cheapest emitted;
    each partition independently picks its best Rice parameter or the
    ESCAPE coding (all-ones param + 5-bit width + verbatim signed
    residuals) — so smooth and noisy regions of one block get different
    parameters, exactly what partitioning is for."""
    cands = {m: _plan_residual(res, order, block_size, 4 + m) for m in (0, 1)}
    method = 0 if cands[0][0] <= cands[1][0] else 1
    _, po, plans = cands[method]
    param_bits = 4 + method
    escape = (1 << param_bits) - 1
    w.write(method, 2)
    w.write(po, 4)
    for part, k, nbits in plans:
        if k is None:
            w.write(escape, param_bits)  # escape code
            w.write(nbits, 5)
            for e in part:
                w.write(e & ((1 << nbits) - 1), nbits)
        else:
            w.write(k, param_bits)
            for e in part:
                u = _zigzag(e)
                w.write(1, (u >> k) + 1)  # unary: q zeros then a 1
                if k:
                    w.write(u & ((1 << k) - 1), k)


def _wasted_bits(blk: list[int], bps: int) -> int:
    """Common trailing-zero bits across the whole subframe (spec 'wasted
    bits-per-sample'): samples all divisible by 2^k encode at bps-k with
    k signalled in the header.  0 for all-zero or odd-containing blocks."""
    ors = 0
    for s in blk:
        ors |= s
    if ors == 0:
        return 0
    return min((ors & -ors).bit_length() - 1, bps - 1)


def _subframe_header(w: _BitWriter, type_code: int, wasted: int) -> None:
    w.write(0, 1)            # pad bit
    w.write(type_code, 6)
    if wasted:
        w.write(1, 1)        # wasted-bits flag
        w.write(1, wasted)   # unary(k-1): k-1 zeros then a 1
    else:
        w.write(0, 1)


def _write_subframe(
    w: _BitWriter, blk: list[int], bps: int, lpc_order: int | None
) -> None:
    if all(s == blk[0] for s in blk):
        _subframe_header(w, 0b000000, 0)  # CONSTANT
        w.write(blk[0] & ((1 << bps) - 1), bps)
        return
    wasted = _wasted_bits(blk, bps)
    if wasted:
        blk = [s >> wasted for s in blk]
        bps -= wasted
    mask = (1 << bps) - 1
    if lpc_order:
        ql = _lpc_quantized(blk, lpc_order)
        if ql is not None:
            qc, shift = ql
            _subframe_header(w, 0b100000 | (lpc_order - 1), wasted)  # LPC
            for s in blk[:lpc_order]:
                w.write(s & mask, bps)
            w.write(_LPC_PRECISION - 1, 4)
            w.write(shift, 5)
            for c in qc:
                w.write(c & ((1 << _LPC_PRECISION) - 1), _LPC_PRECISION)
            _write_residual(w, _lpc_residuals(blk, qc, shift), lpc_order, len(blk))
            return
    order = _best_order(blk)
    _subframe_header(w, 0b001000 | order, wasted)  # FIXED(order)
    for s in blk[:order]:
        w.write(s & mask, bps)
    _write_residual(w, _residuals(blk, order), order, len(blk))


_STEREO_MODES = {"independent": 0b0001, "left_side": 0b1000,
                 "right_side": 0b1001, "mid_side": 0b1010}


def encode_flac(
    samples,
    sample_rate: int = 8000,
    block_size: int = 256,
    *,
    lpc_order: int | None = None,
    stereo_mode: str = "mid_side",
    bits_per_sample: int = 16,
) -> bytes:
    """Encode PCM samples as a real FLAC stream (header + frames the
    decoder — or any FLAC decoder supporting the subset — can read).
    ``bits_per_sample`` takes any depth 4-32 — the table depths
    (8/12/16/20/24) use their frame-header codes, anything else the
    0b000 "get from STREAMINFO" escape; samples must fit the signed
    range of that depth.

    ``samples`` is a flat list of ints (mono), a pair ``(left, right)``
    of equal-length channel lists (stereo, decorrelated per
    ``stereo_mode``: independent / left_side / right_side / mid_side;
    side subframes carry bps+1 bits per the spec), or a list of 3-8
    equal-length channel lists (multichannel — coded as independent
    subframes under channel-assignment code nch-1; the spec defines no
    decorrelation beyond stereo, so ``stereo_mode`` is stereo-only).
    Subframe type per
    block: CONSTANT for flat blocks, order-``lpc_order`` LPC when
    requested and the block supports it, else the cheapest FIXED
    predictor (order 0-2).  ``sample_rate`` must be one of the frame-
    header table rates (8/16/22.05/24/32/44.1/48/96 kHz) — the real code
    is written into every frame header, consistent with STREAMINFO."""
    multi = (
        isinstance(samples, (tuple, list))
        and samples
        and isinstance(samples[0], (list, tuple))
    )
    if multi and not 1 <= len(samples) <= 8:
        raise ValueError("encode_flac: 1-8 channels supported")
    stereo = multi and len(samples) == 2
    if multi:
        chans = [list(ch) for ch in samples]
        if any(len(ch) != len(chans[0]) for ch in chans):
            raise ValueError("encode_flac: channels must be equal length")
        if stereo and stereo_mode not in _STEREO_MODES:
            raise ValueError(f"encode_flac: unknown stereo_mode {stereo_mode!r}")
        n_total = len(chans[0])
    else:
        chans, n_total = [list(samples)], len(samples)
    # Non-table depths use frame-header sample-size code 0b000 ("get
    # from STREAMINFO") — the spec's escape for e.g. 13- or 17-bit audio
    bps_code = {v: c for c, v in _BPS_CODES.items()}.get(bits_per_sample, 0)
    if not 4 <= bits_per_sample <= 32:
        raise ValueError(
            f"encode_flac: bits_per_sample {bits_per_sample} outside 4-32"
        )
    lo, hi = -(1 << (bits_per_sample - 1)), (1 << (bits_per_sample - 1)) - 1
    for ch in chans:
        if any(not lo <= s <= hi for s in ch):
            raise ValueError(
                f"encode_flac: samples must be int{bits_per_sample}"
            )
    rate_code = {v: c for c, v in _RATE_CODES.items()}.get(sample_rate)
    if rate_code is None:
        raise ValueError(
            f"encode_flac: unsupported sample_rate {sample_rate} "
            f"(supported: {sorted(_RATE_CODES.values())})"
        )
    n_channels = len(chans)

    out = bytearray(b"fLaC")
    # STREAMINFO: last-metadata flag + type 0, length 34
    si = bytearray()
    si += struct.pack(">HH", block_size, block_size)
    si += b"\x00\x00\x00" * 2  # min/max frame size unknown
    # 20-bit rate | 3-bit channels-1 | 5-bit bps-1 | 36-bit total samples
    packed = (
        (sample_rate << 44) | ((n_channels - 1) << 41)
        | ((bits_per_sample - 1) << 36) | n_total
    )
    si += packed.to_bytes(8, "big")
    si += b"\x00" * 16  # raw-audio MD5 unset
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    for f, start in enumerate(range(0, max(n_total, 1), block_size)):
        blks = [ch[start : start + block_size] for ch in chans]
        if not blks[0]:
            break
        # stereo picks a decorrelation assignment; any other channel count
        # (1 or 3-8) uses the independent-channels codes 0b0000-0b0111
        chan_code = (
            _STEREO_MODES[stereo_mode] if stereo else n_channels - 1
        )
        header = bytearray()
        header += bytes([0xFF, 0xF8])  # sync 11111111 111110, strategy 0
        # blocksize code 0111 (16-bit follows), real sample-rate code
        header += bytes([(0b0111 << 4) | rate_code])
        # channel assignment, real sample-size code, reserved 0
        header += bytes([(chan_code << 4) | (bps_code << 1)])
        header += _utf8_number(f)
        header += struct.pack(">H", len(blks[0]) - 1)
        header.append(crc8(bytes(header)))

        w = _BitWriter()
        bps = bits_per_sample
        if not stereo:
            for blk in blks:  # 1 or 3-8 independent channel subframes
                _write_subframe(w, blk, bps, lpc_order)
        else:
            lb, rb = blks
            if stereo_mode == "independent":
                _write_subframe(w, lb, bps, lpc_order)
                _write_subframe(w, rb, bps, lpc_order)
            else:
                side = [a - b for a, b in zip(lb, rb)]
                if stereo_mode == "left_side":
                    _write_subframe(w, lb, bps, lpc_order)
                    _write_subframe(w, side, bps + 1, lpc_order)
                elif stereo_mode == "right_side":
                    _write_subframe(w, side, bps + 1, lpc_order)
                    _write_subframe(w, rb, bps, lpc_order)
                else:  # mid_side
                    mid = [(a + b) >> 1 for a, b in zip(lb, rb)]
                    _write_subframe(w, mid, bps, lpc_order)
                    _write_subframe(w, side, bps + 1, lpc_order)
        w.align()
        frame = bytes(header) + bytes(w.out)
        out += frame + struct.pack(">H", crc16(frame))
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

_BLOCKSIZE_CODES = {i: 256 << (i - 8) for i in range(8, 16)}
_BPS_CODES = {0b001: 8, 0b010: 12, 0b100: 16, 0b101: 20, 0b110: 24}
_RATE_CODES = {0b0100: 8000, 0b0101: 16000, 0b0110: 22050, 0b0111: 24000,
               0b1000: 32000, 0b1001: 44100, 0b1010: 48000, 0b1011: 96000}


def _read_residual(r: _BitReader, order: int, block_size: int) -> list[int]:
    """Partitioned method-0 residual: 2^po partitions, the first short by
    the predictor order; each carries its own 4-bit Rice parameter or
    the 0b1111 escape (5-bit width + verbatim two's complement)."""
    method = r.read(2)
    if method not in (0b00, 0b01):
        raise ValueError("decode_flac: reserved residual coding method")
    param_bits = 4 + method
    escape = (1 << param_bits) - 1
    part_order = r.read(4)
    nparts = 1 << part_order
    if block_size % nparts or (block_size >> part_order) <= order:
        raise ValueError("decode_flac: invalid residual partition order")
    plen = block_size >> part_order
    res: list[int] = []
    for p in range(nparts):
        count = plen - order if p == 0 else plen
        k = r.read(param_bits)
        if k == escape:  # escape: verbatim n-bit two's complement
            nbits = r.read(5)
            for _ in range(count):
                v = r.read(nbits) if nbits else 0
                if nbits and v >= (1 << (nbits - 1)):
                    v -= 1 << nbits
                res.append(v)
        else:
            for _ in range(count):
                q = r.read_unary()
                u = (q << k) | (r.read(k) if k else 0)
                res.append(_unzigzag(u))
    return res


def _read_subframe(r: _BitReader, block_size: int, bps: int) -> list[int]:
    if r.read(1) != 0:
        raise ValueError("decode_flac: bad subframe padding bit")
    stype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits flag: unary(k-1) follows
        wasted = r.read_unary() + 1
        if wasted >= bps:
            raise ValueError("decode_flac: wasted bits exceed sample size")
        bps -= wasted
    sign_bit = 1 << (bps - 1)
    wrap = 1 << bps

    def sgn(v: int) -> int:
        return v - wrap if v & sign_bit else v

    if wasted:
        plain = _read_subframe_body(r, block_size, bps, stype, sgn)
        return [s << wasted for s in plain]
    return _read_subframe_body(r, block_size, bps, stype, sgn)


def _read_subframe_body(r, block_size, bps, stype, sgn) -> list[int]:

    if stype == 0b000000:  # CONSTANT
        return [sgn(r.read(bps))] * block_size
    if stype == 0b000001:  # VERBATIM
        return [sgn(r.read(bps)) for _ in range(block_size)]
    if 0b001000 <= stype <= 0b001100:  # FIXED order 0-4
        order = stype & 0x07
        warmup = [sgn(r.read(bps)) for _ in range(order)]
        res = _read_residual(r, order, block_size)
        return _restore(warmup, res, order)
    if stype & 0b100000:  # LPC, order = low 5 bits + 1
        order = (stype & 0x1F) + 1
        warmup = [sgn(r.read(bps)) for _ in range(order)]
        prec = r.read(4)
        if prec == 0b1111:
            raise ValueError("decode_flac: invalid LPC precision code")
        prec += 1
        shift = r.read(5)
        if shift >= 16:  # 5-bit signed; negative shifts are spec-forbidden
            raise ValueError("decode_flac: negative LPC shift")
        clim = 1 << (prec - 1)
        coefs = []
        for _ in range(order):
            c = r.read(prec)
            coefs.append(c - (1 << prec) if c >= clim else c)
        res = _read_residual(r, order, block_size)
        out = list(warmup)
        for e in res:
            out.append(
                e + (sum(coefs[j] * out[-1 - j] for j in range(order)) >> shift)
            )
        return out
    raise NotImplementedError(f"decode_flac: reserved subframe type {stype:#08b}")


def decode_flac(buf: bytes) -> dict:
    """Decode a 16-bit mono or stereo FLAC stream produced by
    ``encode_flac`` (or any encoder confined to the same subset —
    CONSTANT/VERBATIM/FIXED/LPC subframes, all four channel assignments,
    Rice + escape residuals).  Verifies CRC-8 and CRC-16.

    Returns {format, sample_rate, channels, n_samples, samples} where
    ``n_samples`` counts interchannel samples (frames) and ``samples``
    is the flat signal for mono or L/R-interleaved for stereo."""
    if len(buf) < 8 or buf[:4] != b"fLaC":
        raise ValueError("decode_flac: not a FLAC stream")
    pos = 4
    total_samples = None
    sample_rate = None
    n_channels = 1
    # metadata blocks
    while pos + 4 <= len(buf):
        head = buf[pos]
        last = head & 0x80
        btype = head & 0x7F
        length = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        body = buf[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("decode_flac: truncated metadata block")
        if btype == 0:  # STREAMINFO
            packed = int.from_bytes(body[10:18], "big")
            sample_rate = packed >> 44
            n_channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total_samples = packed & ((1 << 36) - 1)
            if n_channels > 8 or not 4 <= bps <= 32:
                raise NotImplementedError(
                    "decode_flac: 1-8 channels at 4-32 bits only"
                )
        pos += 4 + length
        if last:
            break
    if sample_rate is None:
        raise ValueError("decode_flac: missing STREAMINFO")

    samples: list[int] = []
    n_frames_samples = 0
    while pos + 2 <= len(buf):
        frame_start = pos
        r = _BitReader(buf, pos)
        sync = r.read(14)
        if sync != 0b11111111111110:
            raise ValueError("decode_flac: bad frame sync")
        r.read(1)  # reserved
        r.read(1)  # blocking strategy (fixed)
        bs_code = r.read(4)
        rate_code = r.read(4)
        chan = r.read(4)
        ss_code = r.read(3)
        r.read(1)  # reserved
        if ss_code == 0b000:
            pass  # "get from STREAMINFO" — the non-table depth escape
        elif ss_code not in _BPS_CODES:
            raise NotImplementedError("decode_flac: reserved sample-size code")
        elif _BPS_CODES[ss_code] != bps:
            raise ValueError(
                "decode_flac: frame-header bit depth disagrees with STREAMINFO"
            )
        _read_utf8_number(r)
        if bs_code == 0b0110:
            block_size = r.read(8) + 1
        elif bs_code == 0b0111:
            block_size = r.read(16) + 1
        elif bs_code in _BLOCKSIZE_CODES:
            block_size = _BLOCKSIZE_CODES[bs_code]
        else:
            raise NotImplementedError("decode_flac: blocksize code")
        if rate_code not in _RATE_CODES:
            raise NotImplementedError("decode_flac: sample-rate code")
        if _RATE_CODES[rate_code] != sample_rate:
            raise ValueError(
                "decode_flac: frame-header sample rate disagrees with STREAMINFO"
            )
        header_len = r.pos - frame_start
        if crc8(buf[frame_start : frame_start + header_len]) != r.read(8):
            raise ValueError("decode_flac: frame header CRC-8 mismatch")

        if chan <= 0b0111:  # chan+1 independent channels (mono .. 8ch)
            chs = [_read_subframe(r, block_size, bps)
                   for _ in range(chan + 1)]
        elif chan == 0b1000:  # left/side
            lb = _read_subframe(r, block_size, bps)
            side = _read_subframe(r, block_size, bps + 1)
            chs = [lb, [a - s for a, s in zip(lb, side)]]
        elif chan == 0b1001:  # right/side
            side = _read_subframe(r, block_size, bps + 1)
            rb = _read_subframe(r, block_size, bps)
            chs = [[b + s for b, s in zip(rb, side)], rb]
        elif chan == 0b1010:  # mid/side
            mid = _read_subframe(r, block_size, bps)
            side = _read_subframe(r, block_size, bps + 1)
            lb, rb = [], []
            for m, s in zip(mid, side):
                full_mid = (m << 1) | (s & 1)
                lb.append((full_mid + s) >> 1)
                rb.append((full_mid - s) >> 1)
            chs = [lb, rb]
        else:
            raise NotImplementedError(
                f"decode_flac: channel assignment {chan:#06b}"
            )
        if len(chs) != n_channels:
            raise ValueError(
                "decode_flac: frame channel count disagrees with STREAMINFO"
            )
        r.align()
        if crc16(buf[frame_start : r.pos]) != r.read(16):
            raise ValueError("decode_flac: frame CRC-16 mismatch")
        if n_channels == 1:
            samples.extend(chs[0])
        else:
            for tup in zip(*chs):
                samples.extend(tup)
        n_frames_samples += block_size
        pos = r.pos

    if total_samples and n_frames_samples > total_samples:
        samples = samples[: total_samples * n_channels]
        n_frames_samples = total_samples
    return {
        "format": "flac",
        "sample_rate": sample_rate,
        "channels": n_channels,
        "bits_per_sample": bps,
        "n_samples": n_frames_samples,
        "samples": samples,
    }
