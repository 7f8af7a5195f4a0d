"""Stdlib-only FLAC codec (RFC 9639 / the public FLAC format spec).

The lossless-compressed-audio tier of the multimodal surface: a real
bit-level decoder — metadata-block walk, frame sync, CRC-8 header and
CRC-16 frame verification, UTF-8-style coded numbers, CONSTANT /
VERBATIM / FIXED / LPC subframes, partitioned Rice residuals (both
4- and 5-bit parameter widths, raw-bits escape), wasted-bits
shifting, all four stereo decorrelation modes, and STREAMINFO MD5
verification over the reconstructed stream — plus the matching
encoder the synthesis stage uses. Because FLAC is lossless, the
decoded samples equal the closed-form synth input bit-for-bit, so
the DuckDB oracle replays the pipeline with no codec knowledge at
all (the same argument as the PNG/GIF keys; contrast the DC-q=8
construction the lossy JPEG keys need).

Everything here implements the PUBLIC specification from scratch —
no codec library, no reference to any implementation's source.
"""

from __future__ import annotations

import hashlib

import numpy as np

from .bitio import BitReader, BitWriter, bits_at

__all__ = ["encode_flac", "flac_samples"]


# ---------------------------------------------------------------- CRC

def _crc_tables() -> tuple[list[int], list[int]]:
    """256-entry lookup tables for both CRCs (classic table-driven
    form — same polynomials, same bit order, byte-at-a-time instead
    of bit-at-a-time: ~8x fewer Python ops on the per-frame CRC-16,
    which runs over every frame byte on encode AND decode)."""
    t8, t16 = [], []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t8.append(c)
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 \
                else (c << 1) & 0xFFFF
        t16.append(c)
    return t8, t16


_CRC8_TABLE, _CRC16_TABLE = _crc_tables()


def _crc8(data: bytes) -> int:
    """CRC-8 over the frame header: poly x^8+x^2+x+1 (0x07), init 0,
    MSB-first, no reflection (RFC 9639 §9.1.5). Table-driven."""
    crc = 0
    tab = _CRC8_TABLE
    for b in data:
        crc = tab[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16 over the whole frame: poly x^16+x^15+x^2+1 (0x8005),
    init 0, MSB-first, no reflection (RFC 9639 §9.3). Table-driven."""
    crc = 0
    tab = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFF00) ^ tab[(crc >> 8) ^ b]
    return crc


# --------------------------------------------------- coded numbers

def _coded_number_encode(n: int) -> bytes:
    """The UTF-8-style variable-length frame/sample number
    (RFC 9639 §9.1.4; extends UTF-8 to 36-bit values / 7 bytes)."""
    if n < 0x80:
        return bytes([n])
    # bits that fit: 1 byte 7, then 11, 16, 21, 26, 31, 36
    for nbytes, bits in ((2, 11), (3, 16), (4, 21), (5, 26),
                         (6, 31), (7, 36)):
        if n < (1 << bits):
            prefix = (0xFF >> (8 - nbytes)) << (8 - nbytes)
            shift = 6 * (nbytes - 1)
            out = [prefix | (n >> shift)]
            for _ in range(nbytes - 1):
                shift -= 6
                out.append(0x80 | ((n >> shift) & 0x3F))
            return bytes(out)
    raise ValueError("flac: coded number out of range")


def _coded_number_decode(r: BitReader) -> int:
    first = r.take(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("flac: bad coded number lead byte")
    value = first & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = r.take(8)
        if b & 0xC0 != 0x80:
            raise ValueError("flac: bad coded number continuation")
        value = (value << 6) | (b & 0x3F)
    return value


# ------------------------------------------------------------- tables

_BLOCKSIZE_CODES = {192: 0b0001, 576: 0b0010, 1152: 0b0011,
                    2304: 0b0100, 4608: 0b0101, 256: 0b1000,
                    512: 0b1001, 1024: 0b1010, 2048: 0b1011,
                    4096: 0b1100, 8192: 0b1101, 16384: 0b1110,
                    32768: 0b1111}
_SAMPLE_RATES = {0b0001: 88200, 0b0010: 176400, 0b0011: 192000,
                 0b0100: 8000, 0b0101: 16000, 0b0110: 22050,
                 0b0111: 24000, 0b1000: 32000, 0b1001: 44100,
                 0b1010: 48000, 0b1011: 96000}
_BPS_CODES = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110,
              32: 0b111}
_FIXED_COEFS = ([], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1])


def _interleaved_le_bytes(channels: list[list[int]], bps: int,
                          total: int) -> bytes:
    """The FLAC MD5 input stream: samples interleaved across channels,
    each as bps/8 signed little-endian bytes — built with one numpy
    transpose+cast instead of a per-sample int.to_bytes loop (the
    fold ran over every sample on encode AND decode). Byte-identical:
    numpy's little-endian signed cast IS two's-complement
    int.to_bytes(..., "little", signed=True) for values in range,
    which the callers' sample range checks guarantee."""
    nbytes = bps // 8
    arr = np.array([c[:total] for c in channels], dtype=np.int64).T
    if nbytes == 1:
        return arr.astype("<i1").tobytes()
    if nbytes == 2:
        return arr.astype("<i2").tobytes()
    if nbytes == 4:
        return arr.astype("<i4").tobytes()
    # 24-bit: cast to <i4 and drop each sample's high byte
    flat = arr.astype("<i4").reshape(-1).view(np.uint8).reshape(-1, 4)
    return flat[:, :3].tobytes()


# ------------------------------------------------------------ encoder

def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else ((-v) << 1) - 1


def _rice_cost(residuals: list[int], k: int) -> int:
    return sum((_zigzag(v) >> k) + 1 + k for v in residuals)


def _write_residual(w: BitWriter, residuals: list[int], blocksize: int,
                    order: int, part_order: int) -> None:
    """Rice method 0 (4-bit parameters), one parameter per partition
    chosen by exhaustive cost search — a real (if small) encoder
    decision, not a constant.

    Vectorized: the 15-parameter cost search runs as one numpy shift
    table over the zigzagged partition (np.argmin takes the FIRST
    minimum, the same tie-break as min(range(15), key=...)), and the
    unary+remainder bits are scattered into one 0/1 array emitted via
    put_bits — identical bitstream to a per-residual unary+remainder
    put loop (tests pin encode_flac bytes)."""
    w.put(0, 2)                              # coding method: rice 4-bit
    w.put(part_order, 4)
    nparts = 1 << part_order
    psize = blocksize >> part_order
    ks = np.arange(15, dtype=np.int64)
    pos = 0
    for p in range(nparts):
        count = psize - (order if p == 0 else 0)
        part = residuals[pos:pos + count]
        pos += count
        if not part:
            w.put(0, 4)                      # empty partition: k=0
            continue
        v = np.asarray(part, dtype=np.int64)
        u = np.where(v >= 0, v << 1, ((-v) << 1) - 1)
        costs = (u[:, None] >> ks[None, :]).sum(axis=0) \
            + len(part) * (1 + ks)
        best_k = int(np.argmin(costs))
        w.put(best_k, 4)
        q = u >> best_k
        lens = q + 1 + best_k
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        term = starts + q
        bits = np.zeros(int(lens.sum()), dtype=np.uint8)
        bits[term] = 1
        for i in range(best_k):              # remainder bits, MSB first
            bits[term + 1 + i] = (u >> (best_k - 1 - i)) & 1
        w.put_bits(bits)


def _encode_subframe(w: BitWriter, samples: list[int], bps: int,
                     part_order: int) -> None:
    """FIXED order-2 subframe (order-0/VERBATIM fallback for frames
    too small to carry warm-up samples)."""
    n = len(samples)
    if n <= 2:
        w.put(0, 1)
        w.put(0b000001, 6)                   # VERBATIM
        w.put(0, 1)                          # no wasted bits
        for s in samples:
            w.put(s, bps)
        return
    order = 2
    while part_order and (n % (1 << part_order)
                          or (n >> part_order) <= order):
        part_order -= 1
    w.put(0, 1)
    w.put(0b001000 | order, 6)               # FIXED, order 2
    w.put(0, 1)                              # no wasted bits
    for s in samples[:order]:
        w.put(s, bps)
    residuals = [samples[i] - 2 * samples[i - 1] + samples[i - 2]
                 for i in range(order, n)]
    _write_residual(w, residuals, n, order, part_order)


def encode_flac(channels: list[list[int]], sample_rate: int = 8000,
                blocksize: int = 256, bps: int = 16,
                stereo_mode: str = "independent") -> bytes:
    """Encode 16-bit PCM channels into a VALID FLAC stream: fLaC
    magic, STREAMINFO with the stream MD5, fixed-blocksize frames
    with CRC-8'd headers and CRC-16 footers, FIXED order-2 subframes
    with exhaustive-search Rice parameters. ``stereo_mode`` picks the
    channel assignment for 2-channel input (independent / left_side /
    right_side / mid_side — the decorrelated side channel carries
    bps+1 bits per the spec)."""
    nch = len(channels)
    ns = len(channels[0])
    assert all(len(c) == ns for c in channels)
    md5 = hashlib.md5()
    md5.update(_interleaved_le_bytes(channels, bps, ns))
    frames = bytearray()
    frame_no = 0
    pos = 0
    while pos < ns:
        cur = min(blocksize, ns - pos)
        w = BitWriter()
        w.put(0b11111111111110, 14)          # sync
        w.put(0, 1)                          # reserved
        w.put(0, 1)                          # fixed-blocksize strategy
        bs_code = _BLOCKSIZE_CODES.get(cur, 0b0110 if cur <= 256
                                       else 0b0111)
        w.put(bs_code, 4)
        sr_code = next((c for c, r in _SAMPLE_RATES.items()
                        if r == sample_rate), 0b0000)
        w.put(sr_code, 4)
        if nch == 2 and stereo_mode != "independent":
            ch_code = {"left_side": 0b1000, "right_side": 0b1001,
                       "mid_side": 0b1010}[stereo_mode]
        else:
            ch_code = nch - 1
        w.put(ch_code, 4)
        w.put(_BPS_CODES[bps], 3)
        w.put(0, 1)                          # reserved
        for b in _coded_number_encode(frame_no):
            w.put(b, 8)
        if bs_code == 0b0110:
            w.put(cur - 1, 8)
        elif bs_code == 0b0111:
            w.put(cur - 1, 16)
        # the header so far is byte-aligned by construction
        assert w.nbits == 0
        w.put(_crc8(bytes(w.buf)), 8)
        block = [c[pos:pos + cur] for c in channels]
        if nch == 2 and stereo_mode != "independent":
            left, right = block
            side = [left[j] - right[j] for j in range(cur)]
            if stereo_mode == "left_side":
                subs = [(left, bps), (side, bps + 1)]
            elif stereo_mode == "right_side":
                subs = [(side, bps + 1), (right, bps)]
            else:
                mid = [(left[j] + right[j]) >> 1 for j in range(cur)]
                subs = [(mid, bps), (side, bps + 1)]
        else:
            subs = [(b, bps) for b in block]
        for samples, sub_bps in subs:
            _encode_subframe(w, samples, sub_bps, part_order=1)
        w.align()
        w.put(_crc16(bytes(w.buf)), 16)
        frames += w.bytes()
        pos += cur
        frame_no += 1
    info = BitWriter()
    # fixed-blocksize stream: min == max == the nominal block size
    # (the spec excludes a smaller final block from these fields)
    info.put(blocksize, 16)
    info.put(blocksize, 16)
    info.put(0, 24)                          # min frame size unknown
    info.put(0, 24)                          # max frame size unknown
    info.put(sample_rate, 20)
    info.put(nch - 1, 3)
    info.put(bps - 1, 5)
    info.put(ns, 36)
    streaminfo = info.bytes() + md5.digest()
    header = (b"fLaC"
              + bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
              + streaminfo)
    return header + bytes(frames)


# ------------------------------------------------------------ decoder

# Bounded Python-list window over the set-bit ndarray: list-speed
# pointer walks in _read_residual with ~150 KiB peak extra heap
# regardless of payload size — 4096 entries, each a list slot (8 B)
# plus the Python int .tolist() builds for it (28 B; up to 36 B for
# offsets of 2^30 bits and more).
_ONES_WINDOW = 4096


def _read_residual(r: BitReader, blocksize: int, order: int,
                   ones: np.ndarray) -> list[int]:
    """Partitioned Rice residuals over the payload's precomputed
    set-bit index ``ones`` (sorted int64 bit offsets of the whole
    payload): each unary terminator is found by walking ``ones``
    (searchsorted for the first, pointer advance after — total work
    is O(set bits consumed), not O(all bits)) and remainders are
    random-access bits_at reads. The walk runs over a BOUNDED list
    window of the int64 index (r17, ADVICE r16): list-speed element
    access without materializing the whole index as Python ints —
    peak extra heap is _ONES_WINDOW entries (~150 KiB) however large
    the payload. Leaves ``r`` at the bit after the last residual."""
    method = r.take(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    part_order = r.take(4)
    nparts = 1 << part_order
    if blocksize % nparts or (blocksize >> part_order) < order:
        raise ValueError("flac: bad partition order")
    data = r.data
    nbits_total = len(data) * 8
    bitpos = r.bitpos
    i = int(np.searchsorted(ones, bitpos, side="left"))
    win: list[int] = ones[i:i + _ONES_WINDOW].tolist()
    wi = 0
    residuals: list[int] = []
    for p in range(nparts):
        count = (blocksize >> part_order) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("flac: partition smaller than order")
        param = bits_at(data, bitpos, pbits)
        bitpos += pbits
        if param == escape:                  # raw n-bit residuals
            raw = bits_at(data, bitpos, 5)
            bitpos += 5
            if raw == 0:
                residuals += [0] * count
            else:
                sign = 1 << (raw - 1)
                full = 1 << raw
                for _ in range(count):
                    v = bits_at(data, bitpos, raw)
                    bitpos += raw
                    residuals.append(v - full if v >= sign else v)
            # skip the whole raw partition in one probe (it can span
            # thousands of bits) and restart the window there
            i = int(np.searchsorted(ones, bitpos, side="left"))
            win = ones[i:i + _ONES_WINDOW].tolist()
            wi = 0
            continue
        for _ in range(count):
            while True:
                if wi >= len(win):
                    i += wi
                    win = ones[i:i + _ONES_WINDOW].tolist()
                    wi = 0
                    if not win:
                        raise ValueError("flac: bitstream truncated")
                term = win[wi]
                if term < bitpos:
                    wi += 1
                    continue
                break
            q = term - bitpos
            u = (q << param) | bits_at(data, term + 1, param)
            residuals.append((u >> 1) ^ -(u & 1))
            bitpos = term + 1 + param
            wi += 1
    if bitpos > nbits_total:
        raise ValueError("flac: bitstream truncated")
    r.seek(bitpos)
    return residuals


def _fixed_reconstruct(warmup: list[int], res: list[int],
                       order: int) -> list[int]:
    """Rebuild a FIXED subframe from its residuals. The FIXED
    predictor of order o makes the residual the o-th finite
    difference of the signal, so reconstruction is o cumulative sums
    seeded from the warm-up samples' difference table — one numpy
    cumsum per order level instead of a per-sample Python recurrence.
    int64 cumsums are exact; the numpy path only runs when the worst-
    case growth (|values| × n per level) provably fits 63 bits, else
    the arbitrary-precision Python loop keeps the decoder's exact
    semantics on hostile streams."""
    if not res:
        return list(warmup)
    if order == 0:
        return list(warmup) + list(res)
    arr = np.asarray(res, dtype=np.int64)
    wup = np.asarray(warmup, dtype=np.int64)
    mag = max(int(np.abs(arr).max()), int(np.abs(wup).max()), 1)
    if mag.bit_length() + order * max(len(res).bit_length(), 1) < 62:
        # difference table of the warm-up: D[l][-1] seeds level l
        d = [wup]
        for _ in range(order - 1):
            d.append(np.diff(d[-1]))
        cur = arr
        for level in range(order, 0, -1):
            cur = int(d[level - 1][-1]) + np.cumsum(cur)
        return list(warmup) + cur.tolist()
    out = list(warmup)
    coefs = _FIXED_COEFS[order]
    for v in res:
        pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
        out.append(pred + v)
    return out


def _read_subframe(r: BitReader, blocksize: int, bps: int,
                   ones: np.ndarray) -> list[int]:
    if r.take(1):
        raise ValueError("flac: subframe padding bit set")
    stype = r.take(6)
    wasted = 0
    if r.take(1):                            # wasted-bits flag
        wasted = 1 + r.take_unary()
        bps -= wasted
    if stype == 0b000000:                    # CONSTANT
        v = r.take_signed(bps)
        out = [v] * blocksize
    elif stype == 0b000001:                  # VERBATIM
        out = [r.take_signed(bps) for _ in range(blocksize)]
    elif 0b001000 <= stype <= 0b001100:      # FIXED order 0-4
        order = stype & 0x07
        out = [r.take_signed(bps) for _ in range(order)]
        res = _read_residual(r, blocksize, order, ones)
        out = _fixed_reconstruct(out, res, order)
    elif stype >= 0b100000:                  # LPC order 1-32
        order = (stype & 0x1F) + 1
        out = [r.take_signed(bps) for _ in range(order)]
        prec = r.take(4)
        if prec == 0b1111:
            raise ValueError("flac: invalid LPC precision")
        prec += 1
        shift = r.take_signed(5)
        if shift < 0:
            raise ValueError("flac: negative LPC shift")
        coefs = [r.take_signed(prec) for _ in range(order)]
        for res in _read_residual(r, blocksize, order, ones):
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs)) \
                >> shift
            out.append(pred + res)
    else:
        raise ValueError("flac: reserved subframe type")
    if wasted:
        out = [v << wasted for v in out]
    return out


def flac_samples(payload: bytes) -> tuple[list[list[int]], int] | None:
    """Decode a FLAC stream → (per-channel sample lists, sample rate),
    verifying the frame-header CRC-8, the frame CRC-16 and the
    STREAMINFO MD5 (when present). Returns None for non-FLAC magic;
    raises ValueError on corrupt streams — the Arrow feature pass's
    null-row boundary catches that into a null row."""
    if payload[:4] != b"fLaC":
        return None
    pos = 4
    streaminfo = None
    while pos + 4 <= len(payload):           # metadata block walk
        head = payload[pos]
        length = int.from_bytes(payload[pos + 1:pos + 4], "big")
        body = payload[pos + 4:pos + 4 + length]
        if len(body) < length:
            raise ValueError("flac: truncated metadata block")
        if head & 0x7F == 0:                 # STREAMINFO
            if length != 34:
                raise ValueError("flac: bad STREAMINFO length")
            streaminfo = body
        pos += 4 + length
        if head & 0x80:                      # last-metadata-block flag
            break
    else:
        raise ValueError("flac: unterminated metadata")
    if streaminfo is None:
        raise ValueError("flac: missing STREAMINFO")
    r = BitReader(streaminfo)
    r.take(16)                               # min blocksize
    r.take(16)                               # max blocksize
    r.take(24)                               # min frame size
    r.take(24)                               # max frame size
    stream_rate = r.take(20)
    nch = r.take(3) + 1
    stream_bps = r.take(5) + 1
    total = r.take(36)
    md5_expect = streaminfo[18:34]
    channels: list[list[int]] = [[] for _ in range(nch)]
    sample_rate = stream_rate
    # one set-bit index for the whole payload: every frame's Rice
    # reader finds unary terminators by searchsorted into this
    # instead of pulling single bits (see _read_residual). Kept
    # as the int64 ndarray — no .tolist(): the list form needed
    # ~100x the payload size in heap (ADVICE r16).
    ones = np.flatnonzero(
        np.unpackbits(np.frombuffer(payload, dtype=np.uint8)))
    while len(channels[0]) < total:
        frame_start = pos
        r = BitReader(payload, pos)
        if r.take(14) != 0b11111111111110:
            raise ValueError("flac: lost frame sync")
        if r.take(1):
            raise ValueError("flac: reserved sync bit")
        r.take(1)                            # blocking strategy
        bs_code = r.take(4)
        sr_code = r.take(4)
        ch_code = r.take(4)
        bps_code = r.take(3)
        if r.take(1):
            raise ValueError("flac: reserved header bit")
        _coded_number_decode(r)
        if bs_code == 0b0000:
            raise ValueError("flac: reserved block size code")
        elif bs_code == 0b0001:
            blocksize = 192
        elif bs_code <= 0b0101:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 0b0110:
            blocksize = r.take(8) + 1
        elif bs_code == 0b0111:
            blocksize = r.take(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 0b1100:
            sample_rate = r.take(8) * 1000
        elif sr_code == 0b1101:
            sample_rate = r.take(16)
        elif sr_code == 0b1110:
            sample_rate = r.take(16) * 10
        elif sr_code == 0b1111:
            raise ValueError("flac: invalid sample rate code")
        elif sr_code:
            sample_rate = _SAMPLE_RATES[sr_code]
        assert r.bitpos % 8 == 0             # header is byte-aligned here
        crc8 = r.take(8)
        if crc8 != _crc8(payload[frame_start:r.bitpos // 8 - 1]):
            raise ValueError("flac: frame header CRC-8 mismatch")
        if bps_code == 0:
            bps = stream_bps
        else:
            by_code = {c: b for b, c in _BPS_CODES.items()}
            if bps_code not in by_code:
                raise ValueError("flac: reserved sample size code")
            bps = by_code[bps_code]
        if ch_code < 0b1000:                 # independent channels
            if ch_code + 1 != nch:
                raise ValueError("flac: channel count mismatch")
            subs = [_read_subframe(r, blocksize, bps, ones)
                    for _ in range(nch)]
        elif ch_code <= 0b1010:              # stereo decorrelation
            if nch != 2:
                raise ValueError("flac: stereo assignment, nch != 2")
            left_bps = bps + (1 if ch_code == 0b1001 else 0)
            right_bps = bps + (1 if ch_code != 0b1001 else 0)
            a = _read_subframe(r, blocksize, left_bps, ones)
            b = _read_subframe(r, blocksize, right_bps, ones)
            if ch_code == 0b1000:            # left/side
                subs = [a, [a[j] - b[j] for j in range(blocksize)]]
            elif ch_code == 0b1001:          # right/side (side stored first)
                subs = [[a[j] + b[j] for j in range(blocksize)], b]
            else:                            # mid/side
                subs = [[], []]
                for j in range(blocksize):
                    m2 = (a[j] << 1) | (b[j] & 1)
                    subs[0].append((m2 + b[j]) >> 1)
                    subs[1].append((m2 - b[j]) >> 1)
        else:
            raise ValueError("flac: reserved channel assignment")
        r.align()
        crc16 = r.take(16)
        if crc16 != _crc16(payload[frame_start:r.bitpos // 8 - 2]):
            raise ValueError("flac: frame CRC-16 mismatch")
        for c, s in zip(channels, subs):
            c.extend(s)
        pos = r.bitpos // 8
    for c in channels:
        del c[total:]                        # guard against overrun
    # A CRC-valid stream can still carry FIXED/LPC residuals whose
    # cumulative predictions walk outside the stream's sample range
    # (crafted or corrupt input) — range-check BEFORE the MD5 fold so
    # the failure is the decoders' ValueError contract, not an
    # OverflowError escaping int.to_bytes.
    lo, hi = -(1 << (stream_bps - 1)), (1 << (stream_bps - 1)) - 1
    for c in channels:
        if c and (min(c) < lo or max(c) > hi):
            raise ValueError("flac: decoded sample exceeds stream "
                             "bits-per-sample")
    if md5_expect != b"\x00" * 16 and stream_bps % 8 == 0:
        md5 = hashlib.md5(
            _interleaved_le_bytes(channels, stream_bps, total))
        if md5.digest() != md5_expect:
            raise ValueError("flac: stream MD5 mismatch")
    return channels, sample_rate
