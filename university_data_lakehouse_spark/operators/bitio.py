"""MSB-first bit I/O shared by the stdlib media codecs (FLAC, the JPEG
family incl. MJPEG, MPEG-1 video, MPEG audio Layer I).

Four pieces, no Spark and no codec knowledge:

- ``BitWriter`` packs values MSB-first into a bytearray (``put``), bulk
  0/1 arrays through ``np.packbits`` (``put_bits``) and pads to a byte
  edge (``align``).
- ``BitReader`` is an MSB-first accumulator over ``data`` from a byte
  offset: ``take`` / ``take_signed`` / ``take_unary`` consume,
  ``peek`` looks ahead without consuming, ``bitpos`` / ``seek`` give
  and set the logical stream position. Reading past the end raises
  ValueError, which the decoders' null-row boundary turns into a null.
- ``bits_at`` is the random-access read the FLAC Rice decoder uses
  between set-bit probes.
- ``VlcTable`` maps ``(code, length)`` to a symbol and decodes one
  symbol with a peek-k prefix LUT, falling back to a bit-at-a-time
  walk for longer codes and the stream tail. Prefix-code uniqueness
  makes both routes decode the same symbol.

Formats with their own byte layer subclass ``BitReader`` and override
``_refill`` only (JPEG's 0xFF00 unstuffing lives in multimodal.py).
GIF's LSB-first LZW packing is a different bit order and stays in
multimodal.py.
"""

from __future__ import annotations

import numpy as np

__all__ = ["BitReader", "BitWriter", "VlcTable", "bits_at"]

# Widest peek LUT a VlcTable builds (2^11 slots); longer codes walk.
_MAX_LUT_BITS = 11


class BitWriter:
    """MSB-first bit packer; ``buf`` holds the completed bytes."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        """Append the low ``length`` bits of ``value`` (two's
        complement for negatives)."""
        acc = (self.acc << length) | (value & ((1 << length) - 1))
        nbits = self.nbits + length
        while nbits >= 8:
            nbits -= 8
            self.buf.append((acc >> nbits) & 0xFF)
        self.nbits = nbits
        self.acc = acc & ((1 << nbits) - 1)

    def put_bits(self, bits: np.ndarray) -> None:
        """Append a 0/1 uint8 array in stream order — the same bits as
        put()ing each element, with the byte-aligned middle packed in
        bulk by np.packbits."""
        n = len(bits)
        head = min(n, (8 - self.nbits) % 8)
        for i in range(head):                # up to a byte boundary
            self.put(int(bits[i]), 1)
        body = (n - head) & ~7
        if body:
            self.buf += np.packbits(bits[head:head + body]).tobytes()
        for i in range(head + body, n):      # trailing partial byte
            self.put(int(bits[i]), 1)

    def align(self, bit: int = 0) -> None:
        """Pad to the next byte boundary with copies of ``bit``."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1 if bit else 0, pad)

    def bytes(self) -> bytes:
        """Zero-pad to a byte boundary and return everything written."""
        self.align()
        return bytes(self.buf)


class BitReader:
    """MSB-first bit reader over ``data`` starting at byte ``pos``.

    Whole bytes are loaded into the accumulator ``acc`` ahead of use,
    so ``pos`` is the next byte to LOAD, not the read position; the
    unread bits are the low ``nbits`` of ``acc``. ``bitpos`` is the
    logical position (bits consumed from the start of ``data``)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    SHORT = "bitstream truncated"

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _refill(self, n: int) -> bool:
        """Load the whole bytes that hold the next ``n`` bits; False
        when the data ends first."""
        data, pos, nb = self.data, self.pos, self.nbits
        k = (n - nb + 7) >> 3
        if pos + k > len(data):
            return False
        self.acc = (((self.acc & ((1 << nb) - 1)) << (k << 3))
                    | int.from_bytes(data[pos:pos + k], "big"))
        self.pos = pos + k
        self.nbits = nb + (k << 3)
        return True

    def take(self, n: int) -> int:
        nbits = self.nbits
        if nbits < n:
            if not self._refill(n):
                raise ValueError(self.SHORT)
            nbits = self.nbits
        nbits -= n
        self.nbits = nbits
        return (self.acc >> nbits) & ((1 << n) - 1)

    def take_signed(self, n: int) -> int:
        """n-bit two's-complement value."""
        v = self.take(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def take_unary(self) -> int:
        """Count 0 bits up to and including the terminating 1 bit."""
        q = 0
        while self.take(1) == 0:
            q += 1
        return q

    def peek(self, n: int) -> int:
        """The next ``n`` bits without consuming them, or -1 when fewer
        than ``n`` remain. May load bytes (``pos`` advances), but
        ``bitpos`` is unchanged."""
        if self.nbits < n and not self._refill(n):
            return -1
        return (self.acc >> (self.nbits - n)) & ((1 << n) - 1)

    def align(self) -> None:
        """Skip to the next byte boundary of the stream."""
        self.nbits -= self.nbits & 7

    @property
    def bitpos(self) -> int:
        return (self.pos << 3) - self.nbits

    def seek(self, bitpos: int) -> None:
        """Continue reading at absolute bit offset ``bitpos``."""
        self.pos, self.acc, self.nbits = bitpos >> 3, 0, 0
        if bitpos & 7:
            self.take(bitpos & 7)


def bits_at(data: bytes, bitpos: int, n: int) -> int:
    """``n`` bits of ``data`` from absolute bit offset ``bitpos``,
    MSB-first — a random-access ``take`` that raises the same
    truncation ValueError."""
    if n == 0:
        return 0
    end = bitpos + n
    if end > len(data) * 8:
        raise ValueError(BitReader.SHORT)
    first = bitpos >> 3
    last = (end + 7) >> 3
    return (int.from_bytes(data[first:last], "big")
            >> ((last << 3) - end)) & ((1 << n) - 1)


class VlcTable(dict):
    """Variable-length code table ``{(code, length): symbol}`` plus its
    peek LUT: ``lut[next width bits] = (symbol, length)`` for every
    code of at most ``width`` bits, None elsewhere. ``width`` is
    min(longest code, 11). ``name`` labels the invalid-code error."""

    __slots__ = ("lut", "width", "maxlen", "name")

    def __init__(self, codes: dict, name: str) -> None:
        super().__init__(codes)
        self.name = name
        self.maxlen = max((length for _, length in self), default=0)
        k = self.width = min(self.maxlen, _MAX_LUT_BITS)
        lut: list = [None] * (1 << k)
        for (code, length), sym in self.items():
            if length <= k:
                base = code << (k - length)
                fill = (sym, length)
                for i in range(1 << (k - length)):
                    lut[base + i] = fill
        self.lut = lut

    def decode(self, br: BitReader):
        """Consume one code from ``br`` and return its symbol."""
        p = br.peek(self.width)
        if p >= 0:
            hit = self.lut[p]
            if hit is not None:
                br.nbits -= hit[1]
                return hit[0]
        code = 0
        for length in range(1, self.maxlen + 1):
            code = (code << 1) | br.take(1)
            sym = self.get((code, length))
            if sym is not None:
                return sym
        raise ValueError(f"invalid {self.name} code")
