"""FLAC codec: hand-packed fixtures pin the decoder independently of
the encoder; hypothesis round-trips pin encoder/decoder agreement;
the negative paths pin the CRC/MD5 verification and the null-row
contract."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from university_data_lakehouse_spark.operators.bitio import (
    BitReader,
    BitWriter,
)
from university_data_lakehouse_spark.operators.flac_codec import (
    _coded_number_decode,
    _coded_number_encode,
    _crc8,
    _crc16,
    encode_flac,
    flac_samples,
)


def _streaminfo(blocksize: int, rate: int, nch: int, bps: int,
                total: int, md5: bytes = b"\x00" * 16) -> bytes:
    w = BitWriter()
    w.put(blocksize, 16)
    w.put(blocksize, 16)
    w.put(0, 24)
    w.put(0, 24)
    w.put(rate, 20)
    w.put(nch - 1, 3)
    w.put(bps - 1, 5)
    w.put(total, 36)
    body = w.bytes() + md5
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _frame_header(blocksize: int, frame_no: int = 0) -> BitWriter:
    """Mono 16-bit 8 kHz frame header with the 8-bit blocksize-1 form
    (code 0110) — returns the writer positioned after the CRC-8."""
    w = BitWriter()
    w.put(0b11111111111110, 14)
    w.put(0, 2)                              # reserved + fixed strategy
    w.put(0b0110, 4)                         # 8-bit blocksize-1 at end
    w.put(0b0100, 4)                         # 8 kHz
    w.put(0, 4)                              # 1 channel
    w.put(0b100, 3)                          # 16 bps
    w.put(0, 1)
    for b in _coded_number_encode(frame_no):
        w.put(b, 8)
    w.put(blocksize - 1, 8)
    w.put(_crc8(bytes(w.buf)), 8)
    return w


def _finish_frame(w: BitWriter) -> bytes:
    w.align()
    w.put(_crc16(bytes(w.buf)), 16)
    return w.bytes()


def test_hand_packed_constant_subframe_decodes():
    """A 4-sample mono CONSTANT frame built bit-by-bit (no encoder
    involvement): subframe header 0|000000|0, one 16-bit sample."""
    w = _frame_header(4)
    w.put(0, 8)                              # CONSTANT, no wasted bits
    w.put(100, 16)
    payload = _streaminfo(4, 8000, 1, 16, 4) + _finish_frame(w)
    ch, sr = flac_samples(payload)
    assert ch == [[100, 100, 100, 100]]
    assert sr == 8000


def test_hand_packed_lpc_subframe_decodes():
    """LPC order-1 fixture (the encoder never emits LPC, so this path
    is pinned here): coef 2, shift 1 → pred = prev; warm-up 5,
    residuals +1 +1 +1 → samples 5 6 7 8. Rice param 2."""
    w = _frame_header(4)
    w.put(0, 1)
    w.put(0b100000, 6)                       # LPC, order (0 & 31) + 1 = 1
    w.put(0, 1)                              # no wasted bits
    w.put(5, 16)                             # warm-up
    w.put(3, 4)                              # qlp precision - 1 = 3 → 4 bits
    w.put(1, 5)                              # shift 1
    w.put(2, 4)                              # coefficient 2
    w.put(0, 2)                              # rice method 0
    w.put(0, 4)                              # partition order 0
    w.put(2, 4)                              # rice parameter 2
    for _ in range(3):                       # residual +1 → zigzag 2 = q0,r2
        w.put(1, 1)                          # unary 0
        w.put(2, 2)
    payload = _streaminfo(4, 8000, 1, 16, 4) + _finish_frame(w)
    ch, _ = flac_samples(payload)
    assert ch == [[5, 6, 7, 8]]


def test_hand_packed_wasted_bits_shift():
    """CONSTANT subframe with 1 wasted bit: the sample is coded at
    15 bits and shifted left on output (50 → 100)."""
    w = _frame_header(2)
    w.put(0, 1)
    w.put(0b000000, 6)                       # CONSTANT
    w.put(1, 1)                              # wasted-bits flag
    w.put(1, 1)                              # unary 0: k-1 = 0, 1 bit
    w.put(50, 15)
    payload = _streaminfo(2, 8000, 1, 16, 2) + _finish_frame(w)
    ch, _ = flac_samples(payload)
    assert ch == [[100, 100]]


def test_hand_packed_rice_escape_raw_residuals():
    """Partition parameter 0b1111 escapes to raw n-bit residuals
    (FIXED order 0, raw 6-bit values)."""
    w = _frame_header(3)
    w.put(0, 1)
    w.put(0b001000, 6)                       # FIXED order 0
    w.put(0, 1)
    w.put(0, 2)                              # rice method 0
    w.put(0, 4)                              # partition order 0
    w.put(0b1111, 4)                         # escape
    w.put(6, 5)                              # raw bit width 6
    for v in (-20, 0, 25):
        w.put(v, 6)
    payload = _streaminfo(3, 8000, 1, 16, 3) + _finish_frame(w)
    ch, _ = flac_samples(payload)
    assert ch == [[-20, 0, 25]]


def test_header_crc8_verified():
    w = _frame_header(4)
    w.put(0, 8)
    w.put(7, 16)
    payload = bytearray(_streaminfo(4, 8000, 1, 16, 4)
                        + _finish_frame(w))
    # corrupt the blocking-strategy bit (inside the CRC-8'd header):
    # 42 bytes of fLaC+STREAMINFO, then sync byte, then this one
    payload[43] ^= 0x01
    with pytest.raises(ValueError):
        flac_samples(bytes(payload))


def test_frame_crc16_and_md5_verified():
    s = [((j * 37) % 2000) - 1000 for j in range(300)]
    good = encode_flac([s])
    bad = bytearray(good)
    bad[-3] ^= 0x10                          # entropy bytes → CRC-16
    with pytest.raises(ValueError):
        flac_samples(bytes(bad))
    # MD5 mismatch with intact CRCs: patch STREAMINFO's digest
    bad = bytearray(good)
    bad[26] ^= 0xFF                          # inside the 16 md5 bytes
    with pytest.raises(ValueError):
        flac_samples(bytes(bad))
    assert flac_samples(good)[0] == [s]


def test_truncated_and_foreign_payloads():
    s = [j % 100 for j in range(50)]
    p = encode_flac([s])
    assert flac_samples(b"RIFF" + p[4:]) is None
    with pytest.raises(ValueError):
        flac_samples(p[: len(p) // 2])
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
    )
    assert _samples_or_null(p[: len(p) // 2], "audio")["features"] \
        is None


def test_stereo_modes_round_trip():
    L = [((j * 91) % 3000) - 1500 for j in range(515)]
    R = [((j * 53 + 7) % 3000) - 1500 for j in range(515)]
    for mode in ["independent", "left_side", "right_side", "mid_side"]:
        ch, sr = flac_samples(encode_flac([L, R], stereo_mode=mode))
        assert ch == [L, R], mode


def test_coded_number_round_trip():
    for n in [0, 1, 0x7F, 0x80, 0x7FF, 0x800, 0xFFFF, 0x10000,
              0x1FFFFF, 0x3FFFFFF, 0x7FFFFFFF, (1 << 36) - 1]:
        r = BitReader(_coded_number_encode(n))
        assert _coded_number_decode(r) == n


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=700))
def test_encode_decode_round_trip(samples):
    ch, sr = flac_samples(encode_flac([samples]))
    assert ch == [samples]
    assert sr == 8000


def test_synth_payload_matches_closed_form():
    from university_data_lakehouse_spark.operators.multimodal import (
        synth_flac_payload,
    )

    for d in (0, 7, 255, 499):
        ns = 100 + d % 400
        ch, sr = flac_samples(synth_flac_payload(d))
        assert ch == [[((d * 31 + j * 7) % 4096) - 2048
                       for j in range(ns)]]
        # and the stream genuinely compresses vs 16-bit PCM
        assert len(synth_flac_payload(d)) < 2 * ns


def test_multimodal_flac_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_flac,
    )

    compare(multimodal_flac(spark, sf_dir),
            ORACLES["multimodal_flac"], sf_dir, "multimodal_flac")


def test_crc_valid_out_of_range_samples_rejected():
    """A CRC-valid stream whose FIXED residuals walk the cumulative
    samples past int16 must raise ValueError (the null-row contract's
    currency), NOT OverflowError out of the MD5 int.to_bytes fold —
    and the Arrow boundary must turn it into a null row.  Fixture:
    FIXED order-1, warm-up 32767, three +100 residuals via the raw
    escape → samples 32767, 32867, ... > 32767.  A nonzero STREAMINFO
    MD5 forces the fold on the pre-fix code path."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
    )

    w = _frame_header(4)
    w.put(0, 1)
    w.put(0b001001, 6)                       # FIXED order 1
    w.put(0, 1)                              # no wasted bits
    w.put(32767, 16)                         # warm-up at the rail
    w.put(0, 2)                              # rice method 0
    w.put(0, 4)                              # partition order 0
    w.put(0b1111, 4)                         # escape to raw residuals
    w.put(9, 5)                              # raw bit width 9
    for _ in range(3):
        w.put(100, 9)                        # walks past 32767
    payload = (_streaminfo(4, 8000, 1, 16, 4, md5=b"\x01" * 16)
               + _finish_frame(w))
    with pytest.raises(ValueError, match="bits-per-sample"):
        flac_samples(payload)
    assert _samples_or_null(payload, "audio")["features"] is None
