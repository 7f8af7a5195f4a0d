"""MPEG-1 intra codec tests (the r10 compressed-video tier): hand
fixtures independent of the synth closed form, spec-arithmetic checks
with literal expected values, the honest P/B and malformed boundaries,
and the bit-exact pipeline oracle compare."""

from __future__ import annotations

import numpy as np
import pytest

from university_data_lakehouse_spark.operators.bitio import BitWriter
from university_data_lakehouse_spark.operators.mpeg1_codec import (
    _IDCT_M,
    _ZIGZAG,
    encode_mpeg1_intra,
    mpeg1_frames,
)


def _const_planes(w, h, yv, cbv, crv):
    return {
        "Y": [[yv for _ in range(w // 8)] for _ in range(h // 8)],
        "Cb": [[cbv for _ in range(w // 16)] for _ in range(h // 16)],
        "Cr": [[crv for _ in range(w // 16)] for _ in range(h // 16)],
    }


def test_constant_block_round_trip_exact():
    """MPEG-1 intra DC has a FIXED quantizer step of 8, so constant
    blocks survive encode → entropy decode → IDCT EXACTLY — the
    property the pipeline's oracle-checkability rests on. Values walk
    the full DC differential range (0 vs 255 adjacent blocks)."""
    w, h = 32, 16
    frames = [
        {
            "Y": [[0, 255, 17, 200], [255, 0, 128, 1]],
            "Cb": [[250, 3]],
            "Cr": [[128, 127]],
        },
        _const_planes(w, h, 42, 200, 7),
    ]
    payload = encode_mpeg1_intra(frames, w, h)
    got = mpeg1_frames(payload)
    assert got is not None
    gw, gh, out = got
    assert (gw, gh, len(out)) == (w, h, 2)
    ysz, csz = w * h, (w // 2) * (h // 2)
    for f, spec in enumerate(frames):
        y = np.frombuffer(out[f][:ysz], np.uint8).reshape(h, w)
        cb = np.frombuffer(out[f][ysz:ysz + csz], np.uint8).reshape(
            h // 2, w // 2)
        cr = np.frombuffer(out[f][ysz + csz:], np.uint8).reshape(
            h // 2, w // 2)
        for ry in range(h // 8):
            for rx in range(w // 8):
                assert (y[ry * 8:ry * 8 + 8, rx * 8:rx * 8 + 8]
                        == spec["Y"][ry][rx]).all()
        for ry in range(h // 16):
            for rx in range(w // 16):
                assert (cb[ry * 8:ry * 8 + 8, rx * 8:rx * 8 + 8]
                        == spec["Cb"][ry][rx]).all()
                assert (cr[ry * 8:ry * 8 + 8, rx * 8:rx * 8 + 8]
                        == spec["Cr"][ry][rx]).all()


def test_ac_dequant_oddification_literal_values():
    """Spec arithmetic with literal expected coefficients: qscale 8,
    default matrix Q[0][1] = 16 → level 1 dequantizes to
    2·1·8·16/16 = 16, EVEN, oddified to 15; level -1 → -15. The
    decoded block must equal the IDCT of those literal coefficients
    (DC 50·8 = 400), rounded and clamped."""
    spec = {"Y": [[(50, [(0, 1), (0, -1)]), 60], [70, 80]],
            "Cb": [[128]], "Cr": [[128]]}
    payload = encode_mpeg1_intra([spec], 16, 16, qscale=8)
    got = mpeg1_frames(payload)
    assert got is not None
    y = np.frombuffer(got[2][0][:256], np.uint8).reshape(16, 16)
    coef = np.zeros((8, 8))
    coef[0, 0] = 400
    coef[_ZIGZAG[1]] = 15        # (0,1): 2*1*8*16/16 = 16 -> odd 15
    coef[_ZIGZAG[2]] = -15       # (1,0): Q=16 as well
    exp = np.clip(np.round(_IDCT_M.T @ coef @ _IDCT_M), 0, 255)
    assert (y[:8, :8] == exp).all()


def test_escape_coded_levels_and_vlc_agree():
    """A (run, level) pair outside the supported VLC groups must
    round-trip through the spec ESCAPE (6-bit run + 8/16-bit level),
    including the extended 128..255 and -255..-129 level forms."""
    spec = {"Y": [[(90, [(20, 1), (0, 200), (1, -200), (5, -40)]),
                   10], [20, 30]],
            "Cb": [[128]], "Cr": [[128]]}
    payload = encode_mpeg1_intra([spec], 16, 16, qscale=2)
    got = mpeg1_frames(payload)
    assert got is not None
    from university_data_lakehouse_spark.operators.mpeg1_codec import (
        DEFAULT_INTRA_Q,
    )

    coef = np.zeros((8, 8))
    coef[0, 0] = 90 * 8
    k = 0
    for run, level in [(20, 1), (0, 200), (1, -200), (5, -40)]:
        k += run + 1
        r, c = _ZIGZAG[k]
        v = 2 * level * 2 * DEFAULT_INTRA_Q[r * 8 + c]
        v = -((-v) // 16) if v < 0 else v // 16
        if v and v % 2 == 0:
            v += 1 if v < 0 else -1
        coef[r, c] = max(-2048, min(2047, v))
    exp = np.clip(np.round(_IDCT_M.T @ coef @ _IDCT_M), 0, 255)
    y = np.frombuffer(got[2][0][:256], np.uint8).reshape(16, 16)
    assert (y[:8, :8] == exp).all()


def test_custom_intra_quantizer_matrix():
    """A sequence header with load_intra_quantizer_matrix = 1 must
    dequantize AC against the LOADED matrix: all-16 matrix, qscale 8,
    level 1 → 2·1·8·16/16 = 16 → oddified 15 at EVERY position (the
    default matrix would give Q[2][0]=19 → 19 at zigzag 3)."""
    base = encode_mpeg1_intra(
        [{"Y": [[(50, [(2, 1)]), 60], [70, 80]],
          "Cb": [[128]], "Cr": [[128]]}], 16, 16, qscale=8)
    gop_at = base.find(b"\x00\x00\x01\xb8")
    bw = BitWriter()
    bw.put(16, 12)
    bw.put(16, 12)
    bw.put(1, 4)
    bw.put(3, 4)
    bw.put((1 << 18) - 1, 18)
    bw.put(1, 1)
    bw.put(0, 10)
    bw.put(0, 1)
    bw.put(1, 1)                 # load_intra_quantizer_matrix
    for _ in range(64):
        bw.put(16, 8)            # all-16 matrix (zigzag order)
    bw.put(0, 1)                 # load_non_intra
    custom = b"\x00\x00\x01\xb3" + bw.bytes() + base[gop_at:]
    got = mpeg1_frames(custom)
    assert got is not None
    coef = np.zeros((8, 8))
    coef[0, 0] = 400
    coef[_ZIGZAG[3]] = 15        # 2*1*8*16/16 = 16 -> odd 15
    exp = np.clip(np.round(_IDCT_M.T @ coef @ _IDCT_M), 0, 255)
    y = np.frombuffer(got[2][0][:256], np.uint8).reshape(16, 16)
    assert (y[:8, :8] == exp).all()
    # sanity: the default-matrix stream decodes DIFFERENTLY (Q=19)
    gd = mpeg1_frames(base)
    yd = np.frombuffer(gd[2][0][:256], np.uint8).reshape(16, 16)
    assert not (yd[:8, :8] == exp).all()


def test_p_picture_routes_to_probe_tier():
    """Inter-coded pictures need a real codec: picture_coding_type
    P/B must return None (decode_real probe), never raise."""
    base = bytearray(encode_mpeg1_intra(
        [_const_planes(16, 16, 10, 20, 30)], 16, 16))
    i = base.index(b"\x00\x00\x01\x00") + 4
    # picture_coding_type is bits 10..12 of the picture header
    base[i + 1] = (base[i + 1] & 0b11000111) | (2 << 3)
    assert mpeg1_frames(bytes(base)) is None


def test_malformed_streams_go_null_row():
    """Truncated/corrupt streams with the right magic must raise
    ValueError so _samples_or_null converts them to the null row."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
    )

    good = encode_mpeg1_intra(
        [_const_planes(16, 16, 10, 20, 30)], 16, 16)
    for bad in (
        good[:20],                            # truncated mid-header
        good[:len(good) - 6],                 # truncated slice
        good[:4] + b"\xff" * 8,               # garbage seq header
    ):
        with pytest.raises(ValueError):
            if mpeg1_frames(bad) is None:
                raise ValueError("treated as probe tier")
        assert _samples_or_null(bad, "video")["n_frames"] is None
    # dimensions not multiples of 16 are an encoder error
    with pytest.raises(ValueError):
        encode_mpeg1_intra([_const_planes(16, 16, 1, 2, 3)], 20, 16)


def test_partial_macroblock_cover_rejected():
    """r10 review: a picture whose slices cover a strict SUBSET of
    the frame must raise (→ null row) — zero-filled pels would
    otherwise flow downstream as plausible feature data. Built by
    pairing a 32x32 sequence header with a 16x16 picture's slice
    (1 of 4 macroblocks)."""
    small = encode_mpeg1_intra(
        [_const_planes(16, 16, 10, 20, 30)], 16, 16)
    big = encode_mpeg1_intra(
        [_const_planes(32, 32, 10, 20, 30)], 32, 32)
    seq_end = big.find(b"\x00\x00\x01\xb8")
    pic_at = small.find(b"\x00\x00\x01\x00")
    hostile = big[:seq_end] + small[pic_at:]
    with pytest.raises(ValueError):
        mpeg1_frames(hostile)


def test_duplicate_slice_cover_rejected():
    """r10 review #2 follow-up: two copies of the same slice must not
    satisfy the macroblock-count gate by decoding the same addresses
    twice (pic_mbs would sum to the total while half the frame stays
    zero-filled) — per-address coverage raises on the re-decode."""
    base = encode_mpeg1_intra(
        [_const_planes(16, 32, 10, 20, 30)], 16, 32)   # 2 MBs
    pic_at = base.find(b"\x00\x00\x01\x00")
    sl_at = base.find(b"\x00\x00\x01\x01")
    end_at = base.find(b"\x00\x00\x01\xb7")
    # replace the slice with a truncated-to-one-MB duplicate pair:
    # simplest construction — duplicate the FULL slice; the second
    # copy re-decodes address 0 and must raise
    hostile = (base[:end_at] + base[sl_at:end_at] + base[end_at:])
    with pytest.raises(ValueError):
        mpeg1_frames(hostile)
    assert mpeg1_frames(base) is not None      # original still fine
    assert pic_at < sl_at < end_at


def test_zero_byte_slice_stuffing_is_tolerated():
    """next_start_code() permits ANY number of zero stuffing bytes
    after a slice's last macroblock — a conformant stream padded with
    full zero bytes must decode identically, not die on an 'invalid
    mb address increment' (r10 self-review)."""
    base = encode_mpeg1_intra(
        [_const_planes(16, 16, 10, 20, 30)], 16, 16)
    slice_at = base.find(b"\x00\x00\x01\x01")
    end_at = base.find(b"\x00\x00\x01\xb7")
    padded = (base[:end_at] + b"\x00" * 5 + base[end_at:])
    assert slice_at < end_at
    assert mpeg1_frames(padded) == mpeg1_frames(base)


def test_amplification_payloads_hit_the_size_cap(monkeypatch):
    """A few-hundred-byte stream whose picture headers demand huge
    decoded output must raise (→ null row), never allocate its way
    to a MemoryError: (a) many slice-less pictures — rejected as
    spec-invalid pictures; (b) many MINIMAL valid pictures crossing
    the aggregate decoded-bytes cap — rejected at HEADER time,
    before any slice decoding or plane allocation (monkeypatched cap
    so the test stays sub-second; the production constant is 64 MB)."""
    from university_data_lakehouse_spark.operators import mpeg1_codec
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
    )

    base = encode_mpeg1_intra(
        [_const_planes(16, 16, 10, 20, 30)], 16, 16)
    seq_end = base.find(b"\x00\x00\x01\xb8")   # sequence header only
    pic = b"\x00\x00\x01\x00" + bytes([0, 8, 0xFF, 0xFF])  # I, no slice
    hostile = base[:seq_end] + pic * 1000
    with pytest.raises(ValueError):
        mpeg1_frames(hostile)
    assert _samples_or_null(hostile, "video")["n_frames"] is None

    # a 16x16 frame is 384 decoded bytes; with the cap at 1000 the
    # third picture's HEADER must raise (2*384 + 384 > 1000)
    pic_at = base.find(b"\x00\x00\x01\x00")
    end_at = base.find(b"\x00\x00\x01\xb7")
    body = base[pic_at:end_at]
    hostile2 = base[:pic_at] + body * 3 + base[end_at:]
    assert len(mpeg1_frames(hostile2)[2]) == 3   # fine uncapped
    monkeypatch.setattr(mpeg1_codec, "MPEG1_MAX_DECODED_BYTES", 1000)
    with pytest.raises(ValueError):
        mpeg1_frames(hostile2)


def test_constant_block_roundtrip_property():
    """Hypothesis property: ANY geometry (16..64 square-ish frames),
    ANY number of I-pictures and ANY block values round-trip EXACTLY
    through the real entropy coder + IDCT — the fixed-DC-step-8
    exactness is a theorem about the codec, not a fixture accident."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        mw=st.integers(1, 3), mh=st.integers(1, 2),
        nf=st.integers(1, 3), seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=25, deadline=None)
    def check(mw, mh, nf, seed):
        import random

        rng = random.Random(seed)
        w, h = 16 * mw, 16 * mh
        frames = [{
            "Y": [[rng.randrange(256) for _ in range(w // 8)]
                  for _ in range(h // 8)],
            "Cb": [[rng.randrange(256) for _ in range(w // 16)]
                   for _ in range(h // 16)],
            "Cr": [[rng.randrange(256) for _ in range(w // 16)]
                   for _ in range(h // 16)],
        } for _ in range(nf)]
        got = mpeg1_frames(encode_mpeg1_intra(frames, w, h))
        assert got is not None and (got[0], got[1]) == (w, h)
        ysz, csz = w * h, (w // 2) * (h // 2)
        for f, fr in enumerate(got[2]):
            y = np.frombuffer(fr[:ysz], np.uint8).reshape(h, w)
            cb = np.frombuffer(fr[ysz:ysz + csz], np.uint8).reshape(
                h // 2, w // 2)
            cr = np.frombuffer(fr[ysz + csz:], np.uint8).reshape(
                h // 2, w // 2)
            for ry in range(h // 8):
                for rx in range(w // 8):
                    assert (y[ry * 8:(ry + 1) * 8, rx * 8:(rx + 1) * 8]
                            == frames[f]["Y"][ry][rx]).all()
            for ry in range(h // 16):
                for rx in range(w // 16):
                    assert (cb[ry * 8:(ry + 1) * 8, rx * 8:(rx + 1) * 8]
                            == frames[f]["Cb"][ry][rx]).all()
                    assert (cr[ry * 8:(ry + 1) * 8, rx * 8:(rx + 1) * 8]
                            == frames[f]["Cr"][ry][rx]).all()

    check()


def test_decoder_never_crashes_on_junk_property():
    """Hypothesis property: arbitrary bytes after a valid start-code
    prefix either decode, return None (probe tier) or raise
    ValueError — never any other exception out of the null-row
    boundary's catch set."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(junk=st.binary(max_size=256))
    @settings(max_examples=150, deadline=None)
    def check(junk):
        try:
            mpeg1_frames(b"\x00\x00\x01\xb3" + junk)
        except ValueError:
            pass

    check()


def test_multimodal_mpeg1_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_mpeg1,
    )

    compare(multimodal_mpeg1(spark, sf_dir), ORACLES["multimodal_mpeg1"],
            sf_dir, "multimodal_mpeg1")


def test_spec_invalid_escape_levels_rejected(monkeypatch):
    """r11 ADVICE: the double-byte escape forms have closed ranges —
    0x00 prefix must carry 128..255 and 0x80 prefix 1..128 (levels
    -255..-128); a second byte outside them previously decoded to a
    silently-wrong small/+256-shifted level.  Both malformed shapes
    must now raise into the null-row boundary like every other
    corrupt-stream case.  Streams are built by monkeypatching the
    encoder's coefficient writer with sentinel (run, level) pairs."""
    import university_data_lakehouse_spark.operators.mpeg1_codec as mc

    orig = mc._put_coeff

    def evil(bw, run, level):
        if (run, level) == (0, 777):      # 0x00 prefix, byte < 128
            bw.put(*mc._ESCAPE)
            bw.put(0, 6)
            bw.put(0x00, 8)
            bw.put(40, 8)
        elif (run, level) == (0, -777):   # 0x80 prefix, byte == 0
            bw.put(*mc._ESCAPE)
            bw.put(0, 6)
            bw.put(0x80, 8)
            bw.put(0, 8)
        else:
            orig(bw, run, level)

    monkeypatch.setattr(mc, "_put_coeff", evil)
    for sentinel in (777, -777):
        spec = {"Y": [[(50, [(0, sentinel)]), 60], [70, 80]],
                "Cb": [[128]], "Cr": [[128]]}
        payload = mc.encode_mpeg1_intra([spec], 16, 16, qscale=2)
        with pytest.raises(ValueError, match="invalid escape level"):
            mc.mpeg1_frames(payload)
    # the boundary-valid second bytes still decode: 128 after 0x00
    # (level 128) and 1 after 0x80 (level -255)
    spec = {"Y": [[(50, [(0, 128), (1, -255)]), 60], [70, 80]],
            "Cb": [[128]], "Cr": [[128]]}
    assert mc.mpeg1_frames(
        mc.encode_mpeg1_intra([spec], 16, 16, qscale=2)) is not None
