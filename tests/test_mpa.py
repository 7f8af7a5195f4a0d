"""MPEG-1 Audio Layer I codec tests (operators/mpa_codec.py): header
arithmetic, literal hand-checked requantization, silent-frame
exactness, malformed-stream rejection, probe-tier routing, and the
quantize/requantize round-trip property. The module docstring is the
r11 design note — the decode surface is the subband-sample domain
(Table B.3's synthesis window is a documented NotImplementedError
boundary)."""

from __future__ import annotations

import numpy as np
import pytest

from university_data_lakehouse_spark.operators.bitio import BitWriter
from university_data_lakehouse_spark.operators.mpa_codec import (
    MODE_DUAL,
    MODE_MONO,
    MODE_STEREO,
    decode_mpa_l1,
    encode_mpa_l1,
    parse_mpa_header,
    quantize_l1,
    requantize_l1,
    scalefactor,
    synthesize_pcm,
)


def test_header_arithmetic_and_flags():
    # defaults: fs=32000 (idx 2), 64 kbit/s (idx 2) -> 24 slots = 96 B
    p = encode_mpa_l1([[{}]])
    h = parse_mpa_header(p)
    assert h == {"bitrate": 64000, "sample_rate": 32000, "padding": 0,
                 "mode": MODE_MONO, "nch": 1, "crc": False,
                 "frame_bytes": 96}
    # 448 kbit/s @ 32 kHz -> 168 slots = 672 bytes
    p = encode_mpa_l1([[{}]], bitrate_idx=14)
    assert parse_mpa_header(p)["frame_bytes"] == 672
    # protection_bit = 0 flags a CRC
    crc_hdr = bytes([0xFF, 0xFE, 0x24, 0x00])
    assert parse_mpa_header(crc_hdr)["crc"] is True


def test_foreign_formats_route_to_probe_tier():
    # Layer II (bits 10), Layer III (01), free format, joint stereo,
    # reserved layer (00) and plain non-sync bytes all return None
    def hdr(layer=0b11, bitrate=2, mode=MODE_MONO):
        h = ((0xFFF << 20) | (1 << 19) | (layer << 17) | (1 << 16)
             | (bitrate << 12) | (2 << 10) | (mode << 6))
        return h.to_bytes(4, "big")

    assert parse_mpa_header(hdr(layer=0b10)) is None
    assert parse_mpa_header(hdr(layer=0b01)) is None
    assert parse_mpa_header(hdr(layer=0b00)) is None
    assert parse_mpa_header(hdr(bitrate=0)) is None          # free format
    assert parse_mpa_header(hdr(mode=1)) is None             # joint stereo
    assert parse_mpa_header(b"RIFF1234") is None
    assert parse_mpa_header(b"\xff") is None                 # short
    assert decode_mpa_l1(b"\x89PNG\r\n\x1a\n") is None


def test_forbidden_header_fields_raise():
    def hdr(bitrate=2, fs=2, emphasis=0):
        h = ((0xFFF << 20) | (1 << 19) | (0b11 << 17) | (1 << 16)
             | (bitrate << 12) | (fs << 10) | (MODE_MONO << 6) | emphasis)
        return h.to_bytes(4, "big")

    with pytest.raises(ValueError, match="bitrate"):
        parse_mpa_header(hdr(bitrate=15))
    with pytest.raises(ValueError, match="sampling"):
        parse_mpa_header(hdr(fs=3))
    with pytest.raises(ValueError, match="emphasis"):
        parse_mpa_header(hdr(emphasis=2))


def test_silent_frame_is_exactly_zero():
    """All-zero allocations decode to EXACT 0.0 in every subband —
    the construction that stays exact under any synthesis window."""
    p = encode_mpa_l1([[{}], [{}], [{}]])
    out = decode_mpa_l1(p)
    assert out["n_frames"] == 3 and out["nch"] == 1
    assert out["subbands"].shape == (1, 36, 32)
    assert (out["subbands"] == 0.0).all()
    assert len(p) == 3 * 96


def test_requantization_literal_values():
    """Hand-checked spec arithmetic: nb=2 (alloc 1) has the 3-step
    quantizer with levels {-2/3, 0, +2/3}; scalefactor idx 3 = 1.0 and
    idx 0 = 2.0 are exact powers of two."""
    assert requantize_l1(0, 2) == -2.0 / 3.0
    assert requantize_l1(1, 2) == 0.0
    assert requantize_l1(2, 2) == 2.0 / 3.0
    assert scalefactor(0) == 2.0 and scalefactor(3) == 1.0
    assert scalefactor(6) == 0.5
    # subband 5 carries codes cycling {0,1,2} at alloc 1, scf idx 3
    codes = [(0, 1, 2)[s % 3] for s in range(12)]
    p = encode_mpa_l1([[{5: (1, 3, codes)}]])
    sub = decode_mpa_l1(p)["subbands"]
    expect = np.array([(-2.0 / 3.0, 0.0, 2.0 / 3.0)[s % 3]
                       for s in range(12)])
    assert (sub[0, :, 5] == expect).all()
    assert (sub[0, :, [sb for sb in range(32) if sb != 5]] == 0).all()
    # doubling the scalefactor exactly doubles the samples (idx 0)
    p2 = encode_mpa_l1([[{5: (1, 0, codes)}]])
    assert (decode_mpa_l1(p2)["subbands"][0, :, 5] == 2 * expect).all()


def test_stereo_and_dual_channel_interleave():
    codes_a = [2] * 12          # +2/3 at alloc 1
    codes_b = [0] * 12          # -2/3
    p = encode_mpa_l1([[{3: (1, 3, codes_a)}, {7: (1, 3, codes_b)}]],
                      mode=MODE_STEREO)
    out = decode_mpa_l1(p)
    assert out["nch"] == 2
    assert (out["subbands"][0, :, 3] == 2.0 / 3.0).all()
    assert (out["subbands"][1, :, 7] == -2.0 / 3.0).all()
    assert (out["subbands"][1, :, 3] == 0).all()
    p = encode_mpa_l1([[{0: (1, 3, codes_a)}, {0: (1, 3, codes_a)}]],
                      mode=MODE_DUAL)
    assert decode_mpa_l1(p)["nch"] == 2


def test_malformed_streams_raise():
    good = encode_mpa_l1([[{}], [{}]])
    # truncated second frame
    with pytest.raises(ValueError, match="past payload"):
        decode_mpa_l1(good[:100])
    # garbage between frames = lost sync
    with pytest.raises(ValueError, match="lost sync"):
        decode_mpa_l1(good[:96] + b"\x00" * 96)
    # header parameters changing mid-stream
    other = encode_mpa_l1([[{}]], bitrate_idx=4)
    with pytest.raises(ValueError, match="changed mid-stream"):
        decode_mpa_l1(good[:96] + other)
    # STEREO -> DUAL_CHANNEL swap: nch stays 2, so only an explicit
    # mode comparison catches it (r11 ADVICE)
    st = encode_mpa_l1([[{}, {}]], mode=MODE_STEREO)
    du = encode_mpa_l1([[{}, {}]], mode=MODE_DUAL)
    with pytest.raises(ValueError, match="changed mid-stream"):
        decode_mpa_l1(st + du)


def _raw_frame(alloc=0, scf=0, code=None, alloc_bits_override=None):
    """Hand-build one mono frame to plant forbidden field values the
    encoder refuses to write (the mpeg1 evil-writer discipline)."""
    bw = BitWriter()
    h = ((0xFFF << 20) | (1 << 19) | (0b11 << 17) | (1 << 16)
         | (2 << 12) | (2 << 10) | (MODE_MONO << 6))
    bw.put(h, 32)
    first = alloc_bits_override if alloc_bits_override is not None else alloc
    bw.put(first, 4)                      # subband 0 allocation
    for _ in range(31):
        bw.put(0, 4)
    if alloc:
        bw.put(scf, 6)
        for _ in range(12):
            bw.put(code, alloc + 1)
    bw.align()
    bw.buf.extend(b"\x00" * (96 - len(bw.buf)))
    return bytes(bw.buf)


def test_forbidden_codes_raise():
    with pytest.raises(ValueError, match="allocation 15"):
        decode_mpa_l1(_raw_frame(alloc_bits_override=15))
    with pytest.raises(ValueError, match="scalefactor index 63"):
        decode_mpa_l1(_raw_frame(alloc=1, scf=63, code=0))
    with pytest.raises(ValueError, match="all-ones"):
        decode_mpa_l1(_raw_frame(alloc=1, scf=3, code=3))
    # the max LEGAL code (2^nb - 2) still decodes
    out = decode_mpa_l1(_raw_frame(alloc=1, scf=3, code=2))
    assert (out["subbands"][0, :, 0] == 2.0 / 3.0).all()


def test_encoder_validations():
    with pytest.raises(ValueError, match="slot count"):
        encode_mpa_l1([[{}]], fs_idx=0)   # 12*64000/44100 not integral
    with pytest.raises(ValueError, match="out of range"):
        encode_mpa_l1([[{0: (15, 0, [0] * 12)}]])
    with pytest.raises(ValueError, match="code out of range"):
        encode_mpa_l1([[{0: (1, 0, [3] * 12)}]])
    with pytest.raises(ValueError, match="channel count"):
        encode_mpa_l1([[{}, {}]], mode=MODE_MONO)
    # 14-bit allocations across all 32 subbands exceed 96-byte frames
    full = {sb: (14, 0, [0] * 12) for sb in range(32)}
    with pytest.raises(ValueError, match="exceeds"):
        encode_mpa_l1([[full]])


def test_synthesis_is_a_documented_boundary():
    with pytest.raises(NotImplementedError, match="Table B.3"):
        synthesize_pcm(np.zeros((1, 12, 32)))


def test_quantize_requantize_roundtrip_property():
    """Quantizer property (not circular): nearest-level quantization
    recovers any |v| <= 1 within half a step — step = 2/(2^nb − 1) —
    and values ON the level grid round-trip exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.floats(-1.0, 1.0), st.integers(2, 15))
    def check(v, nb):
        c = quantize_l1(v, nb)
        assert 0 <= c <= (1 << nb) - 2
        step = 2.0 / ((1 << nb) - 1)
        assert abs(requantize_l1(c, nb) - v) <= step / 2 + 1e-12

    check()
    for nb in (2, 5, 15):
        for c in (0, 1, (1 << nb) - 2):
            assert quantize_l1(requantize_l1(c, nb), nb) == c


def test_end_to_end_quantized_signal_roundtrip():
    """Encoder from VALUES: quantize a sine-ish subband signal, build
    the frame, decode, and check the reconstruction error bound per
    sample — the real codec contract, independent of any shared
    formula between encoder and decoder."""
    rng = np.random.default_rng(7)
    values = rng.uniform(-1, 1, 12)
    nb, alloc, scf_idx = 8, 7, 6          # sf = 0.5 exact
    sf = scalefactor(scf_idx)
    codes = [quantize_l1(v, nb) for v in values]
    p = encode_mpa_l1([[{9: (alloc, scf_idx, codes)}]])
    got = decode_mpa_l1(p)["subbands"][0, :, 9]
    step = 2.0 / ((1 << nb) - 1)
    assert np.abs(got - sf * values).max() <= sf * step / 2 + 1e-12


def test_decoder_never_crashes_on_junk_property():
    """Junk prefixed with a valid sync must either decode, return
    None, or raise ValueError — never any other exception (the
    null-row boundary contract)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def check(junk):
        for payload in (junk, b"\xff\xfe\x24\x00" + junk):
            try:
                out = decode_mpa_l1(payload)
                assert out is None or out["n_frames"] >= 1
            except ValueError:
                pass

    check()


def test_multimodal_mpa_subbands_pipeline(spark, sf_dir):
    """The Spark plumbing: synthetic Layer I payloads decode to exact
    fixed-point subband features in one Arrow pass. Expectations are
    recomputed INDEPENDENTLY from the synth construction's closed
    form — sf(idx) · (2(C+1) − 2^nb)/(2^nb − 1) — not by calling the
    decoder again."""
    import math

    from university_data_lakehouse_spark.operators.multimodal import (
        multimodal_mpa_subbands,
    )
    from university_data_lakehouse_spark.sources.loader import load_table

    out = {r["doc_id"]: r
           for r in multimodal_mpa_subbands(spark, sf_dir).collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(out) == n_docs               # every payload decodes

    def expected(doc_id):
        energy = 0
        band = [0] * 32
        n_active = 0
        for f in range(1 + doc_id % 3):
            spec = {}
            for j in range(2):
                sb = (doc_id * 5 + f * 11 + j * 17) % 32
                alloc = 1 + (doc_id + sb + f) % 14
                spec[sb] = (alloc, (doc_id + 3 * sb + f) % 63)
            n_active += 12 * len(spec)
            for sb, (alloc, scf) in spec.items():
                nb = alloc + 1
                sf = (2.0 ** (1 - scf // 3) if scf % 3 == 0
                      else 2.0 * 2.0 ** (-scf / 3.0))
                for s in range(12):
                    c = (doc_id * 7 + s * 3 + sb + f) % ((1 << nb) - 1)
                    v = sf * (float(2 * (c + 1) - (1 << nb))
                              / float((1 << nb) - 1))
                    t = math.floor(v * v * 1e9)
                    energy += t
                    band[sb] += t
        return energy, max(range(32), key=lambda i: (band[i], -i)), n_active

    for d in list(out)[:12]:
        r = out[d]
        e_energy, e_peak, e_active = expected(d)
        assert r["energy_fp"] == e_energy, d
        assert r["peak_sb"] == e_peak, d
        assert r["n_active_samples"] == e_active, d
        assert r["n_frames"] == 1 + d % 3, d
        assert (r["sample_rate"], r["bitrate"]) == (32000, 64000)
        exp_rms = round(math.sqrt(e_energy / 1e9 / e_active), 6)
        assert r["subband_rms"] == exp_rms, d


def test_scalefactor_table_matches_formula_and_sql_roundtrip():
    """The 63 baked Table B.1 literals equal the formula, and the SQL
    list literal parses back to BIT-IDENTICAL doubles in DuckDB —
    the property that makes non-power-of-two scalefactors oracle-safe
    (repr() round-trips IEEE doubles exactly)."""
    import duckdb

    from university_data_lakehouse_spark.operators.mpa_codec import (
        SCALEFACTORS,
        scalefactor,
        scalefactor_sql_literals,
    )

    assert len(SCALEFACTORS) == 63
    for idx in range(63):
        want = (2.0 ** (1 - idx // 3) if idx % 3 == 0
                else 2.0 * 2.0 ** (-idx / 3.0))
        assert scalefactor(idx) == want
    got = duckdb.sql(
        f"SELECT unnest({scalefactor_sql_literals()}) AS v").fetchall()
    assert [v for (v,) in got] == list(SCALEFACTORS)  # bit-exact


def test_synth_corpus_exercises_irrational_scalefactors(spark, sf_dir):
    """The r11 synth restricted scalefactor indices to multiples of 3
    (exact powers of two); with the baked literals the restriction is
    gone — assert the sf0.001 corpus actually hits idx % 3 != 0, so
    the oracle-parity test above is exercising the hard case."""
    from university_data_lakehouse_spark.sources.loader import load_table

    doc_ids = [r["doc_id"] for r in
               load_table(spark, sf_dir, "documents")
               .select("doc_id").collect()]
    idxs = {(d + 3 * ((d * 5 + f * 11 + j * 17) % 32) + f) % 63
            for d in doc_ids
            for f in range(1 + d % 3) for j in range(2)}
    assert any(i % 3 for i in idxs)


def test_multimodal_mpa_subbands_duckdb_oracle_parity(spark, sf_dir):
    """Full bit-exact DuckDB replay of the Layer I subband pipeline
    (MPA_SUBBANDS_ORACLE) — the oracle the r12 registry key will
    register, verified through the same compare() machinery as the
    registry gate so minting the key is a one-line change."""
    from tests.oracle_utils import compare
    from university_data_lakehouse_spark.operators.multimodal import (
        MPA_SUBBANDS_ORACLE,
        multimodal_mpa_subbands,
    )

    compare(multimodal_mpa_subbands(spark, sf_dir), MPA_SUBBANDS_ORACLE,
            sf_dir, name="multimodal_mpa_subbands@oracle")
