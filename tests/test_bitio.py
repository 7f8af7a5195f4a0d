"""operators/bitio.py: the one MSB-first bit-I/O layer under the media
codecs — writer/reader round trips, peek/seek/bits_at position
semantics, end-of-stream errors, the JPEG byte layer on top of it, the
VLC LUT-vs-walk agreement on every spec table, and golden digests of
the synth encoders (pinned before the codecs moved onto this module)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from university_data_lakehouse_spark.operators import mpeg1_codec as mc
from university_data_lakehouse_spark.operators import multimodal as mm
from university_data_lakehouse_spark.operators.bitio import (
    BitReader,
    BitWriter,
    VlcTable,
    bits_at,
)

_fields = st.integers(0, 40).flatmap(
    lambda w: st.tuples(st.integers(0, (1 << w) - 1), st.just(w)))


@settings(max_examples=200, deadline=None)
@given(st.lists(_fields, max_size=60))
def test_write_read_round_trip(fields):
    bw = BitWriter()
    for v, w in fields:
        bw.put(v, w)
    data = bw.bytes()
    total = sum(w for _, w in fields)
    assert len(data) == (total + 7) // 8
    br = BitReader(data)
    for v, w in fields:
        assert br.take(w) == v
    assert br.bitpos == total
    assert br.take((-total) % 8) == 0        # zero pad from bytes()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(-(1 << 20), (1 << 20) - 1),
                          st.integers(22, 30)), max_size=30),
       st.lists(st.integers(0, 1), max_size=100), st.integers(0, 7))
def test_signed_unary_and_bulk_bits(signed, bits, lead):
    """put() of a negative value writes its two's complement, which
    take_signed() reads back; put_bits() writes the same stream as a
    put() per bit, at any starting bit phase."""
    bw = BitWriter()
    bw.put(0, lead)
    for v, w in signed:
        bw.put(v, w)
    bw.put_bits(np.asarray(bits, dtype=np.uint8))
    bw.put(0, 3)
    bw.put(1, 1)                             # unary 3
    ref = BitWriter()
    ref.put(0, lead)
    for v, w in signed:
        ref.put(v, w)
    for b in bits:
        ref.put(b, 1)
    ref.put(0b0001, 4)
    data = bw.bytes()
    assert data == ref.bytes()
    br = BitReader(data)
    br.take(lead)
    assert [br.take_signed(w) for _, w in signed] == [v for v, _ in signed]
    assert [br.take(1) for _ in bits] == bits
    assert br.take_unary() == 3


def test_align_pads_with_the_requested_bit():
    bw = BitWriter()
    bw.put(0b101, 3)
    bw.align(1)
    bw.put(0b1, 1)
    bw.align()
    assert bw.bytes() == bytes([0b10111111, 0b10000000])
    br = BitReader(bytes([0b10111111, 0b10000000]))
    br.take(3)
    br.align()
    assert br.bitpos == 8 and br.take(1) == 1
    br.align()
    assert br.bitpos == 16


def test_peek_keeps_position_and_returns_minus_one_past_end():
    data = bytes([0xA5, 0x3C, 0x0F])
    br = BitReader(data)
    assert br.take(3) == 0b101
    before = br.bitpos
    assert br.peek(13) == 0b0010100111100
    assert br.bitpos == before
    assert br.peek(21) == bits_at(data, 3, 21)
    assert br.peek(22) == -1                 # only 21 bits remain
    assert br.bitpos == before
    assert br.take(21) == bits_at(data, 3, 21)
    assert br.peek(1) == -1
    assert br.peek(0) == 0


def test_take_past_end_raises():
    br = BitReader(b"\x12\x34", 1)
    assert br.take(8) == 0x34
    with pytest.raises(ValueError):
        br.take(1)
    with pytest.raises(ValueError):
        BitReader(b"\xff").take(9)
    with pytest.raises(ValueError):
        bits_at(b"\xff", 4, 5)
    with pytest.raises(ValueError):
        BitReader(b"\xff").seek(9)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=40), st.data())
def test_seek_and_bits_at_agree_with_take(data, draw):
    nbits = len(data) * 8
    pos = draw.draw(st.integers(0, nbits))
    n = draw.draw(st.integers(0, nbits - pos))
    br = BitReader(data)
    br.take(min(nbits, 13))                  # seek from mid-stream
    br.seek(pos)
    assert br.bitpos == pos
    ref = BitReader(data)
    for _ in range(pos):
        ref.take(1)
    assert br.take(n) == ref.take(n) == bits_at(data, pos, n)
    assert br.bitpos == ref.bitpos == pos + n


def test_jpeg_stuffing_round_trip_stops_at_marker():
    """0xFF data bytes are stuffed on write and unstuffed on read; the
    JPEG reader stops at the marker: peek() gives -1, take() raises,
    and ``pos`` is left ON the marker."""
    bw = BitWriter()
    for _ in range(5):
        bw.put(0xFF, 8)
    bw.put(0b011, 3)
    ecs = mm._jpeg_entropy_bytes(bw)
    assert ecs == b"\xff\x00" * 5 + bytes([0b01111111])
    data = b"\xff\xda" + ecs + b"\xff\xd9"
    br = mm._JpegBitReader(data, 2)
    assert [br.take(8) for _ in range(5)] == [0xFF] * 5
    assert br.take(3) == 0b011
    assert br.take(5) == 0b11111             # 1-bit pad
    assert br.peek(1) == -1
    with pytest.raises(ValueError):
        br.take(1)
    assert br.pos == len(data) - 2 and data[br.pos:] == b"\xff\xd9"
    # a peek wider than what is left before the marker also stops
    br = mm._JpegBitReader(data, 2)
    assert br.peek(40) == (1 << 40) - 1
    assert br.peek(49) == -1
    assert [br.take(8) for _ in range(6)] == [0xFF] * 5 + [0b01111111]


def _spec_tables():
    yield from (mc._DC_LUMA_DEC, mc._DC_CHROMA_DEC, mc._TCOEFF_DEC,
                mc._MB_INC_DEC)
    for bits, vals in ((mm._JPEG_DC_BITS, mm._JPEG_DC_VALS),
                       (mm._JPEG_AC_BITS, mm._JPEG_AC_VALS)):
        yield VlcTable({cl: s for s, cl
                        in mm._huffman_codes(bits, vals).items()},
                       "jpeg huffman")


def test_vlc_lut_decode_equals_walk_on_every_spec_code():
    """For every code of the MPEG-1 DC / dct_coeff / macroblock tables
    and the JPEG Annex K tables, the LUT route and the forced walk
    decode the same symbol and stop at the same bit — with trailing
    bits (LUT hit for codes within the width) and at the stream end
    (peek fails, so both walk)."""
    widths = []
    for tbl in _spec_tables():
        widths.append(tbl.width)
        slow = VlcTable(tbl, tbl.name)
        slow.lut = [None] * len(tbl.lut)
        for (code, length), sym in tbl.items():
            for tail, tail_len in ((0, 0), (0x5A5A5, 20), (0xFFFFF, 20)):
                bw = BitWriter()
                bw.put(code, length)
                bw.put(tail, tail_len)
                data = bw.bytes()
                for t in (tbl, slow):
                    br = BitReader(data)
                    assert t.decode(br) == sym, (tbl.name, code, length)
                    assert br.bitpos == length
    assert widths == [7, 8, 10, 11, 9, 11]


def test_vlc_invalid_code_raises():
    tbl = VlcTable({(0b0, 1): "a", (0b10, 2): "b"}, "toy")
    assert tbl.decode(BitReader(b"\x80")) == "b"
    with pytest.raises(ValueError, match="invalid toy code"):
        tbl.decode(BitReader(b"\xc0"))       # 11 is no code
    with pytest.raises(ValueError):
        mc._TCOEFF_DEC.decode(BitReader(b"\x00\x00"))


# sha256 of the concatenated payloads for doc ids 0..63, first 16 hex
# digits, computed before the encoders moved onto BitWriter.
_GOLDEN = {
    "synth_flac_payload": "9f882795a4a118ca",
    "synth_jpeg_payload": "508c70d71a2c477f",
    "synth_jpeg_color_payload": "5601379b5779996a",
    "synth_jpeg_420_payload": "8142f8e2013da0dc",
    "synth_jpeg_prog_payload": "4700a791e95d138b",
    "synth_mjpeg_payload": "cb57e7065aafdb9e",
    "synth_mpeg1_payload": "f9999a2e4f835bb9",
    "synth_mpa_payload": "0161e078c4f5c389",
}


@pytest.mark.parametrize("name", sorted(_GOLDEN))
def test_synth_encoder_golden_digest(name):
    synth = getattr(mm, name)
    blob = b"".join(bytes(synth(i)) for i in range(64))
    assert hashlib.sha256(blob).hexdigest()[:16] == _GOLDEN[name]
