"""r16 optimization pins: the vectorized codec fast paths must stay
bit-identical to the general paths they short-circuit.

Covers (OPTIMIZATION_r16.md):
- FLAC: table CRCs, numpy Rice write, set-bit-index Rice read, cumsum
  FIXED reconstruction, interleaved MD5 fold;
- JPEG/MPEG-1: the DC-only scalar IDCT short-circuit vs the full
  matmul, on blocks WITH and WITHOUT AC coefficients.
"""

from __future__ import annotations

import numpy as np
import pytest

from university_data_lakehouse_spark.operators import flac_codec as fc
from university_data_lakehouse_spark.operators import multimodal as mm
from university_data_lakehouse_spark.operators.bitio import VlcTable


# ------------------------------------------------------------- FLAC

def test_flac_crc_tables_match_bitwise_definition():
    """Table-driven CRCs == the bit-at-a-time RFC definition."""
    def crc8_bitwise(data):
        crc = 0
        for b in data:
            crc ^= b
            for _ in range(8):
                crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                    else (crc << 1) & 0xFF
        return crc

    def crc16_bitwise(data):
        crc = 0
        for b in data:
            crc ^= b << 8
            for _ in range(8):
                crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                    else (crc << 1) & 0xFFFF
        return crc

    for seed in range(8):
        data = bytes((seed * 37 + i * 11) % 256 for i in range(257))
        assert fc._crc8(data) == crc8_bitwise(data)
        assert fc._crc16(data) == crc16_bitwise(data)
    assert fc._crc8(b"") == 0 and fc._crc16(b"") == 0


def test_flac_roundtrip_and_reader_position_parity():
    """encode → decode roundtrip across stereo modes and frame-size
    edges; the fast Rice reader must leave the stream consumable
    (CRC-16 verifies at the position the slow reader would reach)."""
    for i in (1, 7, 123, 399):
        ns = 100 + i % 400
        s = [((i * 31 + j * 7) % 4096) - 2048 for j in range(ns)]
        payload = fc.encode_flac([s], sample_rate=8000, blocksize=256)
        ch, sr = fc.flac_samples(payload)
        assert ch == [s] and sr == 8000
    left = [((7 * j) % 512) - 256 for j in range(300)]
    right = [((5 * j) % 300) - 150 for j in range(300)]
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        payload = fc.encode_flac([left, right], stereo_mode=mode)
        assert fc.flac_samples(payload) == ([left, right], 8000)
    for n in (1, 2, 3):                      # VERBATIM tiny frames
        payload = fc.encode_flac([[5] * n])
        assert fc.flac_samples(payload) == ([[5] * n], 8000)


def test_flac_fixed_reconstruct_matches_python_recurrence():
    """The cumsum path == the arbitrary-precision recurrence, and the
    overflow guard falls back to the recurrence on huge values."""
    rng = np.random.RandomState(3)
    for order in (1, 2, 3, 4):
        warm = [int(x) for x in rng.randint(-2000, 2000, order)]
        res = [int(x) for x in rng.randint(-5000, 5000, 200)]
        coefs = fc._FIXED_COEFS[order]
        out = list(warm)
        for v in res:
            pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
            out.append(pred + v)
        assert fc._fixed_reconstruct(warm, res, order) == out
    # guard path: residuals too large for the int64 bound
    warm = [1, 2]
    res = [1 << 50, -(1 << 50), 12345]
    coefs = fc._FIXED_COEFS[2]
    out = list(warm)
    for v in res:
        pred = sum(c * out[-1 - j] for j, c in enumerate(coefs))
        out.append(pred + v)
    assert fc._fixed_reconstruct(warm, res, 2) == out


def test_flac_interleaved_md5_bytes_match_to_bytes_loop():
    chans = [[-32768, -1, 0, 1, 32767], [5, -5, 100, -100, 12000]]
    for bps in (8, 16, 24, 32):
        lim = 1 << (bps - 1)
        cs = [[max(-lim, min(lim - 1, v)) for v in c] for c in chans]
        want = b"".join(
            int(c[j]).to_bytes(bps // 8, "little", signed=True)
            for j in range(5) for c in cs)
        assert fc._interleaved_le_bytes(cs, bps, 5) == want


# ----------------------------------------------------- JPEG / MPEG-1

def _jpeg_idct_reference(zz):
    coef = np.zeros((8, 8))
    for i, (r, c) in enumerate(mm._JPEG_ZIGZAG):
        coef[r, c] = zz[i]
    block = mm._JPEG_IDCT_M.T @ coef @ mm._JPEG_IDCT_M
    return np.clip(np.round(block) + 128, 0, 255)


def test_jpeg_dc_only_scalar_equals_matmul():
    """The DC-only short-circuit value == the full IDCT matmul for
    every representable DC level (the general path yields a constant
    block, the fast path returns that constant as a scalar)."""
    m0 = mm._JPEG_IDCT_M[0, 0]
    for dc in list(range(-1024, 1025, 7)) + [-1024, 1023]:
        ref = _jpeg_idct_reference([dc * 8] + [0] * 63)
        assert (ref == ref[0, 0]).all()
        val = min(max(round((m0 * float(dc * 8)) * m0) + 128.0, 0.0),
                  255.0)
        assert val == ref[0, 0], dc


def test_jpeg_blocks_with_ac_still_take_matmul_path():
    """A synthetic scan containing AC coefficients must decode through
    the general IDCT: reuse the hand-packed restart-marker fixture
    family by decoding a real baseline payload and checking features
    stay the closed form (any fast-path misfire would shift pixels)."""
    for i in (3, 17, 44):
        p = bytes(mm.synth_jpeg_payload(i))
        out = mm.decode_samples(p)
        w, h = out["width"], out["height"]
        pix = [(i * 3 + (j // w // 8) * (w // 8) + (j % w) // 8) % 256
               for j in range(w * h)]
        assert out["features"] == mm._chunk_means(pix)


def test_mpeg1_dc_only_scalar_equals_matmul():
    from university_data_lakehouse_spark.operators import mpeg1_codec as mc

    m0 = mc._IDCT_M[0, 0]
    for qdc in list(range(-256, 257, 3)):
        dc = max(-2048, min(2047, qdc * 8))
        coef = np.zeros((8, 8))
        coef[0, 0] = dc
        ref = np.clip(np.round(mc._IDCT_M.T @ coef @ mc._IDCT_M), 0, 255)
        assert (ref == ref[0, 0]).all()
        val = min(max(round((m0 * coef[0, 0]) * m0), 0.0), 255.0)
        assert val == ref[0, 0], qdc


# ------------------------------------------- r17: VLC prefix tables

def _walk_only(tbl: VlcTable) -> VlcTable:
    """Copy of ``tbl`` whose LUT never hits, so every decode() takes
    the bit-by-bit walk."""
    slow = VlcTable(tbl, tbl.name)
    slow.lut = [None] * len(tbl.lut)
    return slow


def test_jpeg_huff_lut_equals_per_bit_walk():
    """Decoding with the peek LUT must be bit-identical to the per-bit
    walk — forced by swapping every parsed table for a walk-only copy
    — across baseline, 4:2:0, progressive and MJPEG payloads."""
    orig = mm._parse_dht

    def walk(seg, dc_tabs, ac_tabs):
        orig(seg, dc_tabs, ac_tabs)
        for d in (dc_tabs, ac_tabs):
            for k in d:
                d[k] = _walk_only(d[k])

    for i in (0, 7, 1234, 4999):
        for synth, decode in (
            (mm.synth_jpeg_payload,
             lambda p: mm.decode_jpeg(p, want_pixels=True)),
            (mm.synth_jpeg_420_payload,
             lambda p: mm.decode_jpeg(p, want_pixels=True)),
            (mm.synth_jpeg_prog_payload,
             lambda p: mm.decode_jpeg(p, want_pixels=True)),
            (mm.synth_mjpeg_payload, mm._avi_mjpeg_pixels),
        ):
            p = synth(i)
            fast = decode(p)
            mm._parse_dht = walk
            try:
                slow = decode(p)
            finally:
                mm._parse_dht = orig
            assert fast == slow


def test_jpeg_dht_memo_returns_equal_tables():
    """The (bits, vals)-keyed memo must hand back a mapping equal to
    a fresh canonical build (a hit is definitionally the same
    table), and the LUT must agree with the dict on every code."""
    mm._DHT_MEMO.clear()
    p = bytes(mm.synth_jpeg_payload(11))
    dc1, ac1 = {}, {}
    dc2, ac2 = {}, {}
    pos = 2
    segs = []
    while pos + 4 <= len(p):
        marker = p[pos + 1]
        if marker == 0xD9 or marker == 0xDA:
            break
        seg_len = int.from_bytes(p[pos + 2:pos + 4], "big")
        if marker == 0xC4:
            segs.append(p[pos + 4:pos + 2 + seg_len])
        pos += 2 + seg_len
    assert segs, "payload must carry DHT segments"
    for seg in segs:
        mm._parse_dht(seg, dc1, ac1)   # cold build
        mm._parse_dht(seg, dc2, ac2)   # memo hit
    for a, b in ((dc1, dc2), (ac1, ac2)):
        assert a == b
        for tbl in a.values():
            assert isinstance(tbl, VlcTable)
            k = tbl.width
            for (code, length), sym in tbl.items():
                if length <= k:
                    assert tbl.lut[code << (k - length)] == (sym, length)


def test_mpeg1_luts_equal_walk_tables():
    """Every LUT entry must agree with the spec tables the per-bit
    walk consults, and every code must be reachable: probe all 2^k
    prefixes and cross-check against a reference shortest-prefix scan
    of the spec dicts."""
    from university_data_lakehouse_spark.operators import mpeg1_codec as mc

    def ref(dec, extras, prefix_bits, k):
        code = 0
        for length in range(1, k + 1):
            code = (code << 1) | ((prefix_bits >> (k - length)) & 1)
            for tab, sym in extras:
                if (code, length) == tab:
                    return (sym, length)
            got = dec.get((code, length))
            if got is not None:
                return (got, length)
        return None

    for tbl, dec, extras, k in (
        (mc._DC_LUMA_DEC, {v: k for k, v in mc._DC_LUMA.items()}, [], 7),
        (mc._DC_CHROMA_DEC, {v: k for k, v in mc._DC_CHROMA.items()},
         [], 8),
        (mc._TCOEFF_DEC, mc._TCOEFF,
         [(mc._EOB, "eob"), (mc._ESCAPE, "esc")], 10),
        (mc._MB_INC_DEC, {v: k for k, v in mc._MB_INC.items()},
         [(mc._MB_STUFFING, "stuff"), (mc._MB_ESCAPE, "esc")], 11),
    ):
        assert tbl.width == k
        assert dict(tbl) == {**dec, **dict(extras)}
        for p in range(1 << k):
            assert tbl.lut[p] == ref(dec, extras, p, k), (k, p)


def test_mpeg1_lut_decode_equals_walk_decode():
    """Force the walk by swapping every VLC table for a walk-only
    copy; frames must be identical (covers DC sizes, tcoeff incl. EOB
    and MB increments over the synth range, plus a hand fixture with
    AC pairs in the table and through ESCAPE)."""
    from university_data_lakehouse_spark.operators import mpeg1_codec as mc

    names = ("_DC_LUMA_DEC", "_DC_CHROMA_DEC", "_TCOEFF_DEC",
             "_MB_INC_DEC")
    saved = {n: getattr(mc, n) for n in names}
    ac_fixture = mc.encode_mpeg1_intra(
        [{"Y": [[(50, [(0, 1), (2, -3), (20, 1), (0, 200)]), 60],
                [70, (80, [(1, -4), (16, 1)])]],
          "Cb": [[(128, [(0, -2)])]], "Cr": [[128]]}], 16, 16)
    payloads = [mm.synth_mpeg1_payload(i) for i in (0, 5, 321, 4998)]
    for p in payloads + [ac_fixture]:
        fast = mc.mpeg1_frames(p)
        for n in names:
            setattr(mc, n, _walk_only(saved[n]))
        try:
            slow = mc.mpeg1_frames(p)
        finally:
            for n in names:
                setattr(mc, n, saved[n])
        assert fast == slow


def test_jpeg_progressive_dc_only_reconstruction_is_scalar_exact():
    """The progressive reconstruction's DC-only short-circuit must
    equal the full zigzag + matmul for every DC level with every
    quant step that appears in a table (int32 product semantics
    preserved by float() of the same product)."""
    m0 = mm._JPEG_IDCT_M[0, 0]
    for q in (1, 2, 16, 255):
        for dc in list(range(-1024, 1025, 13)) + [-1024, 1023]:
            zz = np.zeros(64, dtype=np.int32)
            zz[0] = dc * 8
            qtab = [q] * 64
            coef = np.zeros((8, 8))
            for i, (r, c) in enumerate(mm._JPEG_ZIGZAG):
                coef[r, c] = zz[i] * qtab[i]
            block = mm._JPEG_IDCT_M.T @ coef @ mm._JPEG_IDCT_M
            ref = np.clip(np.round(block) + 128, 0, 255)
            assert (ref == ref[0, 0]).all()
            val = min(max(round((m0 * float(zz[0] * qtab[0])) * m0)
                          + 128.0, 0.0), 255.0)
            assert val == ref[0, 0], (q, dc)
