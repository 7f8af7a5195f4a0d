"""Multimodal plumbing tests (SURVEY §2.8): Arrow batch shapes,
schema stability, stubbed decode determinism, frame-sample explode."""

from __future__ import annotations

import struct

import pytest

from university_data_lakehouse_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    decode_features,
    decode_real,
    decode_stub,
    frame_sample,
    media_table,
    resize_stub,
)


def test_media_table_schema(spark, sf_dir):
    m = media_table(spark, sf_dir)
    types = {f.name: f.dataType.simpleString() for f in m.schema.fields}
    assert types["payload"] == "binary"
    assert types["payload_len"] == "bigint"
    assert types["media_type"] == "string"
    row = m.where("doc_id = 0").collect()[0]
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.payload_len == len(row.payload)


def test_decode_features_batched(spark, sf_dir):
    # doc_id < 50, not limit(50): media_table's input is scatter()ed
    # (r16), so an unordered limit would sample arbitrary rows and the
    # n_frames-by-media-type invariant below only holds for the first
    # docs' payload lengths
    m = media_table(spark, sf_dir).where("doc_id < 50")
    out = decode_features(m)
    assert out.schema == FEATURE_SCHEMA
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r.features) == 8
        assert r.width >= 16 and r.height >= 16
        assert (r.n_frames == 1) == (r.media_type == "image")


def test_decode_stub_deterministic():
    a = decode_stub(b"hello world payload", "video")
    b = decode_stub(b"hello world payload", "video")
    assert a == b
    assert a["n_frames"] > 1


def test_decode_real_pixel_level_for_uncompressed_formats():
    """decode_real REALLY decodes the uncompressed public formats —
    pixel bytes and PCM samples, not just headers — with no codec
    library: features must match the synth formulas byte-for-byte."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        synth_media_payload,
    )

    bmp = synth_media_payload(37, "image", "")
    d = decode_real(bmp, "image")
    w, h = 4 + 37 % 16, 4 + (37 // 16) % 16
    pix_size = ((w * 3 + 3) & ~3) * h
    assert (d["width"], d["height"], d["n_frames"]) == (w, h, 1)
    assert d["features"] == _chunk_means(
        [(37 + i) % 256 for i in range(pix_size)])

    wav = synth_media_payload(41, "audio", "")
    d = decode_real(wav, "audio")
    n = 100 + 41 % 400
    assert d["n_frames"] == n and d["width"] is None
    assert d["features"] == _chunk_means(
        [abs(((41 * 31 + i * 7) % 65536) - 32768) for i in range(n)])


def test_decode_real_probes_codecs_at_call_time():
    """Compressed codecs raise NotImplementedError ONLY when their
    library is genuinely absent (a 2-byte JPEG-ish payload is not BMP/
    WAV, so it must route to the Pillow probe)."""
    try:
        import PIL  # noqa: F401
        has_pil = True
    except ImportError:
        has_pil = False
    if has_pil:
        pytest.skip("Pillow present: probed path covered below")
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_real(b"\xff\xd8rest-of-a-jpeg", "image")
    with pytest.raises(NotImplementedError, match="soundfile"):
        decode_real(b"ID3not-a-wav", "audio")
    with pytest.raises(NotImplementedError, match="av"):
        decode_real(b"anything", "video")


def test_decode_real_self_activates_with_pillow():
    """In a container that ships Pillow, the SAME decode_real call
    decodes a compressed image instead of raising (skipped here —
    the probe is the point)."""
    PIL = pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (6, 4), (9, 9, 9)).save(buf, format="PNG")
    d = decode_real(buf.getvalue(), "image")
    assert (d["width"], d["height"]) == (6, 4)
    assert len(d["features"]) == 8


def test_frame_sample_explodes_videos(spark, sf_dir):
    m = media_table(spark, sf_dir).limit(60)
    fs = frame_sample(m, every_n=10).collect()
    assert len(fs) > 0
    per_doc: dict[int, list[int]] = {}
    for r in fs:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for idxs in per_doc.values():
        assert sorted(idxs) == idxs or sorted(idxs) == sorted(idxs)
        assert all(i % 10 == 0 for i in idxs)


def test_resize_stub_passthrough(spark, sf_dir):
    m = media_table(spark, sf_dir).limit(5)
    out = resize_stub(m, target=224)
    assert out.count() == 5
    assert out.select("resize_target").distinct().collect()[0][0] == 224


def test_parse_bmp_and_wav_headers_roundtrip():
    """The REAL decoders must recover the shape params the payloads
    were packed from — pure byte-level round trip, no Spark."""
    from university_data_lakehouse_spark.operators.multimodal import (
        parse_media_header,
        synth_media_payload,
    )

    bmp = synth_media_payload(37, "image", "ignored")
    assert bmp[:2] == b"BM"
    m = parse_media_header(bmp)
    assert (m["width"], m["height"]) == (4 + 37 % 16, 4 + (37 // 16) % 16)
    assert m["sample_rate"] is None

    wav = synth_media_payload(41, "audio", "ignored")
    assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
    m = parse_media_header(wav)
    assert m["sample_rate"] == 8000 + (41 % 8) * 1000
    assert m["n_samples"] == 100 + 41 % 400
    assert m["duration_ms"] == m["n_samples"] * 1000.0 / m["sample_rate"]

    # negative (top-down) BMP height reads as absolute pixel height
    import struct as _struct

    topdown = bytearray(synth_media_payload(5, "image", ""))
    topdown[22:26] = _struct.pack("<i", -(4 + (5 // 16) % 16))
    assert parse_media_header(bytes(topdown))["height"] == 4 + (5 // 16) % 16

    # opaque / corrupt payloads parse to all-None, never raise
    for junk in (b"", b"BM", b"RIFFxxxxWAVE", b"plain text", b"\x00" * 64):
        assert all(v is None for v in parse_media_header(junk).values())


def test_multimodal_decoded_pipeline(spark, sf_dir):
    """End-to-end: synth -> Arrow batches -> parse; every image row
    decoded with real dims, every audio row with real rate/duration,
    video rows all-null (opaque)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        multimodal_decoded,
    )

    out = multimodal_decoded(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        if r.media_type == "image":
            assert r.width == 4 + r.doc_id % 16 and r.sample_rate is None
        elif r.media_type == "audio":
            assert r.sample_rate is not None and r.duration_ms > 0
        else:
            assert r.width is None and r.sample_rate is None


def test_real_bmp_resize_roundtrip(spark, sf_dir):
    """resize_images produces VALID BMPs at the target dims whose
    pixels are exactly the nearest-neighbor samples of the source
    (byte-for-byte, via the synth formula), and non-BMP rows pass
    through opaque."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_samples,
        media_table_encoded,
        resize_bmp,
        resize_images,
        synth_media_payload,
    )

    # unit-level: every resized pixel equals the mapped source pixel
    doc_id, target = 37, 8
    src = synth_media_payload(doc_id, "image", "")
    w, h = 4 + doc_id % 16, 4 + (doc_id // 16) % 16
    stride = (w * 3 + 3) & ~3
    rb = resize_bmp(src, target, target)
    d = decode_samples(rb)
    assert (d["width"], d["height"]) == (target, target)
    tstride = (target * 3 + 3) & ~3
    pix = rb[54:]
    for y in range(target):
        sy = y * h // target
        for x in range(target):
            sx = x * w // target
            got = pix[y * tstride + 3 * x:y * tstride + 3 * x + 3]
            want = bytes(
                (doc_id + sy * stride + 3 * sx + i) % 256 for i in range(3))
            assert got == want, (x, y)

    # distributed: images resize for real, audio/video pass through
    out = resize_images(media_table_encoded(spark, sf_dir).limit(60),
                        target=16).collect()
    assert len(out) == 60
    for r in out:
        if r.media_type == "image":
            assert r.resized == "real" and (r.width, r.height) == (16, 16)
            rd = decode_samples(bytes(r.payload))
            assert (rd["width"], rd["height"]) == (16, 16)
        else:
            assert r.resized == "passthrough" and r.width is None


def test_png_decode_spec_fixture():
    """Decoder correctness INDEPENDENT of the repo's own encoder: a
    2x2 RGB PNG whose filtered bytes are hand-derived from the PNG
    spec (RFC 2083 §6) — row 0 carries filter 1 (Sub: raw - left),
    row 1 carries filter 2 (Up: raw - prior). If decode_png's filter
    inversion drifted from the spec, this fixture would not recover
    the raw pixels."""
    import struct
    import zlib

    from university_data_lakehouse_spark.operators.multimodal import (
        decode_png,
    )

    row0 = bytes([10, 20, 30, 50, 60, 70])          # two RGB pixels
    row1 = bytes([15, 25, 35, 55, 65, 75])
    # Sub:   first pixel unchanged, second minus left neighbor
    f0 = bytes([1]) + row0[:3] + bytes((row0[3 + i] - row0[i]) & 0xFF
                                       for i in range(3))
    # Up:    every byte minus the byte above it
    f1 = bytes([2]) + bytes((row1[i] - row0[i]) & 0xFF for i in range(6))

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(f0 + f1))
           + chunk(b"IEND", b""))
    out = decode_png(png)
    assert (out["width"], out["height"]) == (2, 2)
    raw = list(row0 + row1)
    # _chunk_means over the 12 recovered bytes: step=1, 8 chunks of 1
    assert out["features"] == [float(b) for b in raw[:8]]


def test_png_roundtrip_exercises_all_filters():
    """synth_png_payload writes row y with filter y % 5; a doc with
    h >= 5 therefore carries every filter type, and the decode must
    recover the exact doc_id-derived pixel stream."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_png,
        decode_samples,
        synth_png_payload,
    )

    for doc_id in (0, 7, 123, 499):
        p = synth_png_payload(doc_id)
        w, h = 4 + doc_id % 16, 5 + (doc_id // 16) % 16
        assert h >= 5  # all five filters present
        out = decode_png(p)
        raw = bytes((doc_id + j) % 256 for j in range(w * h * 3))
        assert (out["width"], out["height"]) == (w, h)
        assert out["features"] == _chunk_means(list(raw))
        # decode_samples dispatches PNG by magic, so decode_real
        # inherits the stdlib path with no capability probe
        assert decode_samples(p) == out


def test_png_decode_rejects_unsupported_variants():
    """16-bit, interlaced, and palette PNGs fall through to the
    capability-probe tier (None), never a wrong decode."""
    import struct
    import zlib

    from university_data_lakehouse_spark.operators.multimodal import (
        decode_png,
    )

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    for depth, color, interlace in ((16, 2, 0), (8, 3, 0), (8, 2, 1)):
        png = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(
                   ">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)))
        assert decode_png(png) is None
    assert decode_png(b"not a png at all") is None


def test_multimodal_png_pipeline(spark, sf_dir):
    """Distributed end-to-end: synth → Arrow batch → inflate/defilter
    → chunk means, against the DuckDB pixel-function oracle."""
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_png,
    )

    compare(multimodal_png(spark, sf_dir), ORACLES["multimodal_png"],
            sf_dir, "multimodal_png")


def test_gif_lzw_decode_hand_packed_fixture():
    """Decoder correctness INDEPENDENT of the repo's own encoder: a
    2x2 4-color GIF whose LZW code stream is hand-derived from the
    GIF89a spec (Appendix F) — codes [Clear,1,1,0,2,End] with the
    width 3→4 transition after the second table add, bit-packed by
    hand to 4C 40 0A. If _lzw_decode's width sync or bit order
    drifted from the spec, this fixture would not recover the
    indices."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_gif,
    )

    pal = bytes([255, 0, 0,  0, 255, 0,  0, 0, 255,  255, 255, 0])
    gif = (b"GIF89a"
           + struct.pack("<HHBBB", 2, 2, 0x91, 0, 0)   # GCT, 4 entries
           + pal
           + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
           + bytes([2])                                 # LZW min code size
           + bytes([3, 0x4C, 0x40, 0x0A, 0])            # hand-packed codes
           + b"\x3B")
    out = decode_gif(gif)
    assert (out["width"], out["height"]) == (2, 2)
    # indices [1,1,0,2] -> RGB (0,255,0)(0,255,0)(255,0,0)(0,0,255);
    # 12 bytes, step 1: features are the first 8 resolved bytes
    assert out["features"] == [0.0, 255.0, 0.0, 0.0, 255.0, 0.0,
                               255.0, 0.0]


def test_gif_lzw_roundtrip_property():
    """Hypothesis: encode→decode is the identity for arbitrary index
    streams at several code sizes — including streams long enough to
    force 12-bit codes and mid-stream Clear resets, and the
    repetition shapes (ababab…) that hit the cScSc special case."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from university_data_lakehouse_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        mcs=st.sampled_from([2, 4, 8]),
        data=st.one_of(
            st.binary(max_size=4000),
            st.builds(lambda b, n: b * n,
                      st.binary(min_size=1, max_size=6),
                      st.integers(1, 2000)),
        ),
    )
    def check(mcs, data):
        clipped = bytes(b % (1 << mcs) for b in data)
        assert _lzw_decode(_lzw_encode(clipped, mcs), mcs) == clipped

    check()


def test_gif_decode_rejects_unsupported_variants():
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_gif,
        synth_gif_payload,
    )

    assert decode_gif(b"not a gif") is None
    p = bytearray(synth_gif_payload(9))
    # flip the interlace bit in the image descriptor's packed byte
    # (fixed offset: header 13 + 768-byte GCT; searching for 0x2C
    # would false-hit palette bytes)
    desc = 13 + 768
    assert p[desc] == 0x2C
    p[desc + 9] |= 0x40
    assert decode_gif(bytes(p)) is None
    # palette-less stream (no GCT, no LCT)
    bare = (b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0, 0, 0)
            + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
            + bytes([2, 1, 0x24, 0]) + b"\x3B")
    assert decode_gif(bare) is None


def test_multimodal_gif_pipeline(spark, sf_dir):
    """Distributed end-to-end: synth → Arrow batch → LZW + palette →
    chunk means, against the DuckDB pixel-function oracle."""
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_gif,
    )

    compare(multimodal_gif(spark, sf_dir), ORACLES["multimodal_gif"],
            sf_dir, "multimodal_gif")


def test_ima_adpcm_hand_computed_fixture():
    """Decoder correctness INDEPENDENT of the repo's own synth: a
    one-block mono IMA-ADPCM WAV built by hand (block_align 5 → one
    code byte, two nibbles), with samples worked out on paper from
    the IMA spec tables. Seed pred=0 idx=0; nibble 2 → step 7,
    diff = 7>>1 = 3, pred 3, idx max(0, -1) = 0; nibble 9 → diff =
    7>>2 = 1, sign bit set, pred 2. Samples [0, 3, 2]."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_samples,
    )

    block = struct.pack("<hBB", 0, 0, 0) + bytes([0x92])  # lo=2, hi=9
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, 5, 4, 2, 3)
    body = (struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
            + struct.pack("<4sII", b"fact", 4, 3)
            + struct.pack("<4sI", b"data", len(block)) + block)
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    out = decode_samples(wav)
    assert out["n_frames"] == 3
    # abs samples [0,3,2], step=1: chunks [0],[3],[2], then empty->0.0
    assert out["features"] == [0.0, 3.0, 2.0, 0.0, 0.0, 0.0, 0.0, 0.0]


def test_ima_adpcm_saturation_clamps():
    """Predictor must saturate at int16 max and the step index at 88:
    seed pred=32760 idx=88 (step 32767); nibble 7 → diff = 4095 +
    8191 + 16383 + 32767 = 61436 → clamps to 32767, idx 88+8 → 88;
    nibble 0xF → pred 32767 - 61436 = -28669 (no clamp)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_samples,
    )

    block = struct.pack("<hBB", 32760, 88, 0) + bytes([0xF7])
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4000, 5, 4, 2, 3)
    body = (struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
            + struct.pack("<4sII", b"fact", 4, 3)
            + struct.pack("<4sI", b"data", len(block)) + block)
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    out = decode_samples(wav)
    assert out["features"][:3] == [32760.0, 32767.0, 28669.0]


def test_adpcm_synth_spans_blocks_and_roundtrips():
    """A doc_id with ns > 257 produces a TWO-block payload whose
    decode reseeds at the block boundary (sample 257 equals block 1's
    header predictor, not the recurrence value)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _ADPCM_SPB,
        decode_samples,
        synth_adpcm_payload,
    )

    from university_data_lakehouse_spark.operators.multimodal import (
        _ima_decode_mono,
    )

    doc_id = 300                      # ns = 100 + 300 = 400 > 257
    payload = synth_adpcm_payload(doc_id)
    out = decode_samples(payload)
    assert out["n_frames"] == 400
    assert _ADPCM_SPB == 257
    data_pos = payload.index(b"data") + 8
    samples = _ima_decode_mono(payload[data_pos:], 132, 400)
    assert len(samples) == 400
    # sample 257 must be block 1's header seed, not the recurrence
    assert samples[257] == ((doc_id * 131 + 277) % 65536) - 32768


def test_adpcm_malformed_payloads_go_null_not_raise():
    """The feature-pass null contract (ADVICE r7): payloads carrying
    a known magic but malformed bodies must yield the null row, never
    raise through _samples_or_null."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
        synth_adpcm_payload,
    )

    for bad in [
        synth_adpcm_payload(42)[:30],          # truncated mid-fmt
        synth_adpcm_payload(42)[:60],          # truncated mid-data
        b"RIFF\x10\x00\x00\x00WAVEjunk",       # bogus chunk walk
    ]:
        out = _samples_or_null(bad, "audio")
        # the contract under test is NO EXCEPTION; the row must still
        # be a well-formed decode dict (null or partial)
        assert set(out) == {"width", "height", "n_frames", "features"}


def test_gif_malformed_payloads_go_null_not_raise():
    """ADVICE r7 items 2-3: a truncated image descriptor
    (struct.error), a corrupt LZW stream (KeyError), and an index
    stream pointing past the palette must all take the null path."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _gif_blocks,
        _lzw_encode,
        _samples_or_null,
        decode_gif,
        synth_gif_payload,
    )

    # truncated image descriptor: marker byte present, fields cut off
    trunc = (b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0, 0, 0)
             + bytes([0x2C, 0, 0]))
    out = _samples_or_null(trunc, "image")
    assert out["features"] is None
    # corrupt LZW: first code after Clear is beyond the table
    p = bytearray(synth_gif_payload(7))
    p[13 + 768 + 10 + 2] = 0xFF       # smash into the code stream
    out = _samples_or_null(bytes(p), "image")
    # the contract under test is NO EXCEPTION through the null
    # boundary; the smashed stream may decode to garbage-but-valid or
    # to the null row, both acceptable shapes
    assert set(out) == {"width", "height", "n_frames", "features"}
    # index beyond the declared 2-entry palette -> honest None,
    # not a silently truncated RGB stream
    pal2 = bytes([10, 20, 30, 40, 50, 60])
    over = (b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x80, 0, 0) + pal2
            + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
            + bytes([2]) + _gif_blocks(_lzw_encode(bytes([0, 1, 3, 0]), 2))
            + b"\x3B")
    assert decode_gif(over) is None


def test_multimodal_adpcm_pipeline(spark, sf_dir):
    """Distributed end-to-end: synth → Arrow batch → RIFF walk +
    saturating nibble recurrence → chunk means, against the DuckDB
    recursive-CTE oracle that replays the SAME recurrence without
    ever seeing a byte."""
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_adpcm,
    )

    compare(multimodal_adpcm(spark, sf_dir), ORACLES["multimodal_adpcm"],
            sf_dir, "multimodal_adpcm")


def test_mulaw_expansion_full_codebook():
    """All 256 μ-law codes against an INDEPENDENT restatement of the
    G.711 segment formula: magnitude = ((2·mantissa + 33) << exp − 33)
    quarter-steps, i.e. ×4 — algebraically ((8m + 132) << e) − 132."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _mulaw_to_linear,
    )

    for code in range(256):
        u = ~code & 0xFF
        sign, exp, mant = u & 0x80, (u >> 4) & 7, u & 0x0F
        mag = (((2 * mant + 33) << exp) - 33) * 4
        assert _mulaw_to_linear(code) == (-mag if sign else mag), code
    # spec anchors: code 0xFF is +0, 0x7F is -0
    assert _mulaw_to_linear(0xFF) == 0
    assert _mulaw_to_linear(0x7F) == 0


def test_alaw_expansion_full_codebook():
    """All 256 A-law codes against an INDEPENDENT restatement of the
    G.711 segment formula: magnitude = (2·mantissa + 1) << 4 in
    segment 0, ((2·mantissa + 33) << seg) · 8 quarter-steps above —
    algebraically (16m + 264) << (seg − 1); sign bit SET is
    positive (A-law inverts μ-law's sign convention)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _alaw_to_linear,
    )

    for code in range(256):
        a = code ^ 0x55
        sign, seg, mant = a & 0x80, (a >> 4) & 7, a & 0x0F
        if seg == 0:
            mag = (2 * mant + 1) << 3
        else:
            mag = ((2 * mant + 33) << (seg - 1)) << 3
        assert _alaw_to_linear(code) == (mag if sign else -mag), code
    # spec anchors (classic g711.c): 0x55 -> -8, 0xD5 -> +8,
    # 0x2A -> -32256 (max magnitude), odd symmetry in the sign bit
    assert _alaw_to_linear(0x55) == -8
    assert _alaw_to_linear(0xD5) == 8
    assert _alaw_to_linear(0x2A) == -32256
    assert all(_alaw_to_linear(c ^ 0x80) == -_alaw_to_linear(c)
               for c in range(256))


def test_multimodal_alaw_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_alaw,
    )

    compare(multimodal_alaw(spark, sf_dir), ORACLES["multimodal_alaw"],
            sf_dir, "multimodal_alaw")


def test_y4m_decode_hand_fixtures():
    """Hand-built YUV4MPEG2 streams independent of the synth: known
    mono/420 plane geometry, FRAME params, the exact-tag colourspace
    gate (C420p10 must NOT take the 8-bit 420 branch), and the
    malformed-payload ValueError contract."""
    import pytest as _pytest

    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
        decode_y4m,
    )

    p = (b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 Cmono\n"
         b"FRAME\n\x01\x02\x03\x04FRAME\n\x05\x06\x07\x08")
    got = decode_y4m(p)
    assert (got["width"], got["height"], got["n_frames"]) == (2, 2, 2)
    assert got["features"] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    # 4:2:0: 4x2 luma + two 2x1 chroma planes = 12 bytes/frame
    g = decode_y4m(b"YUV4MPEG2 W4 H2 C420jpeg\nFRAME\n" + bytes(range(12)))
    assert g["n_frames"] == 1 and g["width"] == 4
    # FRAME-level params are legal and skipped
    assert decode_y4m(
        b"YUV4MPEG2 W2 H2 Cmono\nFRAME Ip\n\x01\x02\x03\x04"
    )["n_frames"] == 1
    # 10-bit / alpha tags: probe tier (None), never the 8-bit branch
    assert decode_y4m(b"YUV4MPEG2 W2 H2 C420p10\nFRAME\n" + bytes(12)) is None
    assert decode_y4m(
        b"YUV4MPEG2 W2 H2 C444alpha\nFRAME\n" + bytes(16)) is None
    # malformed with the right magic -> ValueError -> null row
    for bad in (b"YUV4MPEG2 W2 H2 Cmono\nFRAME\n\x01\x02",
                b"YUV4MPEG2 W2 H2 Cmono\nFRAMX\n\x01\x02\x03\x04",
                b"YUV4MPEG2 H2 Cmono\nFRAME\n\x01\x02\x03\x04",
                b"YUV4MPEG2 W2 H2 Cmono",
                # r10 (ADVICE r9): a 'FRAME'-prefixed junk marker
                # ('FRAMES…') must be rejected — the spec requires
                # FRAME followed by '\n' or space-delimited params
                b"YUV4MPEG2 W2 H2 Cmono\nFRAMESjunk\n\x01\x02\x03\x04",
                b"YUV4MPEG2 W2 H2 Cmono\nFRAMEX\n\x01\x02\x03\x04"):
        with _pytest.raises(ValueError):
            decode_y4m(bad)
        assert _samples_or_null(bad, "video")["n_frames"] is None


def test_multimodal_y4m_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_y4m,
    )

    compare(multimodal_y4m(spark, sf_dir), ORACLES["multimodal_y4m"],
            sf_dir, "multimodal_y4m")


def test_multimodal_mulaw_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_mulaw,
    )

    compare(multimodal_mulaw(spark, sf_dir), ORACLES["multimodal_mulaw"],
            sf_dir, "multimodal_mulaw")


def _tiny_jpeg(dht_dc_vals, dht_ac_vals, entropy, qval=1):
    """Hand-assemble an 8x8 grayscale baseline JPEG with CUSTOM
    single-code-per-length Huffman tables (canonical assignment is
    trivial to do on paper) — the decoder is exercised independently
    of the repo's encoder and its Annex K tables."""
    seg = lambda m, p: bytes([0xFF, m]) + struct.pack(">H", 2 + len(p)) + p
    dc_counts = [0] * 16
    dc_counts[0] = len(dht_dc_vals)
    ac_counts = [0] * 16
    ac_counts[0] = len(dht_ac_vals)
    dht = (bytes([0x00]) + bytes(dc_counts) + bytes(dht_dc_vals)
           + bytes([0x10]) + bytes(ac_counts) + bytes(dht_ac_vals))
    return (b"\xff\xd8"
            + seg(0xDB, bytes([0x00]) + bytes([qval] * 64))
            + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
            + seg(0xC4, dht)
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + entropy + b"\xff\xd9")


def _idct_direct(coef):
    """Independent T.81 reconstruction: the literal double sum with
    math.cos — NOT the decoder's matrix form."""
    import math

    out = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    if not coef[u][v]:
                        continue
                    au = 1 / math.sqrt(2) if u == 0 else 1.0
                    av = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (au * av / 4 * coef[u][v]
                          * math.cos((2 * x + 1) * v * math.pi / 16)
                          * math.cos((2 * y + 1) * u * math.pi / 16))
            out[y][x] = s
    return out


def test_jpeg_hand_packed_ac_fixture():
    """A nonzero AC coefficient placed by hand: custom tables give
    DC cat-0 the 1-bit code '0', and AC {EOB: '0', (run1,size2): '1'}.
    Entropy bits 0|1|11|0 -> byte 0x77 put zigzag k=2 = (row 1, col 0)
    to EXTEND(3,2)=3. Expected pixels from the independent direct-sum
    IDCT: rows constant, row 0 -> 129, rows 1-6 -> 128, row 7 -> 127."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    jpg = _tiny_jpeg([0x00], [0x00, 0x12], bytes([0x77]))
    out = decode_jpeg(jpg)
    assert (out["width"], out["height"]) == (8, 8)
    coef = [[0] * 8 for _ in range(8)]
    coef[1][0] = 3
    exp = _idct_direct(coef)
    rows = [round(exp[y][0]) + 128 for y in range(8)]
    assert rows == [129, 128, 128, 128, 128, 128, 128, 127]
    # 8x8 image, step 8: chunk mean i is exactly row i's mean
    assert out["features"] == [float(r) for r in rows]


def test_jpeg_hand_packed_stuffed_ff_fixture():
    """The 0xFF byte-stuffing path: AC table {EOB:'0', (run0,size6):
    '1'}; three coefficients of value 63 give the bit stream
    0|1 111111|1 111111|1 111111|0 + 1-padding = 7F FF(00) FD —
    the middle byte is a genuine stuffed 0xFF the reader must
    unstuff. Coefficients land at zigzag 1,2,3 = (0,1),(1,0),(2,0);
    expected pixels from the independent direct-sum IDCT."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    entropy = bytes([0x7F, 0xFF, 0x00, 0xFD])
    jpg = _tiny_jpeg([0x00], [0x00, 0x06], entropy)
    out = decode_jpeg(jpg)
    assert out is not None
    coef = [[0] * 8 for _ in range(8)]
    coef[0][1] = coef[1][0] = coef[2][0] = 63
    exp = _idct_direct(coef)
    import numpy as np

    pix = np.clip(np.round(np.array(exp)) + 128, 0, 255)
    assert out["features"] == [float(r) for r in pix.mean(axis=1)]


def test_jpeg_roundtrip_closed_form():
    """decode(synth(d)) must equal the constant-block closed form for
    a doc_id sweep covering every (w, h) combination and DC-diff
    wraparound (the lossy codec is exactly lossless by construction
    on these payloads)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_jpeg,
        synth_jpeg_payload,
    )

    for d in [0, 1, 4, 7, 19, 20, 85, 137, 255, 256, 1000, 4321]:
        out = decode_jpeg(synth_jpeg_payload(d))
        w, h = 8 * (1 + d % 5), 8 * (1 + (d // 5) % 4)
        assert (out["width"], out["height"]) == (w, h)
        exp = [(d * 3 + (j // w // 8) * (w // 8) + (j % w) // 8) % 256
               for j in range(w * h)]
        assert out["features"] == _chunk_means(exp), d


def test_jpeg_rejects_unsupported_variants():
    """Arithmetic coding (SOF9), color-count lies, and 16-bit quant
    tables are the honest codec boundary -> None (and the null row
    through _samples_or_null), never an exception. A baseline stream
    relabeled SOF2 is MALFORMED progressive (baseline scan header
    under SOF2) — it must go null through the boundary."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
        decode_jpeg,
        synth_jpeg_payload,
    )

    base = bytearray(synth_jpeg_payload(3))
    sof = base.index(b"\xff\xc0")
    arith = bytearray(base)
    arith[sof + 1] = 0xC9                     # arithmetic sequential
    assert decode_jpeg(bytes(arith)) is None
    prog = bytearray(base)
    prog[sof + 1] = 0xC2                      # SOF0 -> SOF2: malformed
    assert _samples_or_null(bytes(prog), "image")["features"] is None
    color = bytearray(base)
    color[sof + 9] = 3                        # ncomp 1 -> 3 (header lies,
    assert decode_jpeg(bytes(color)) is None  # but the gate is the count)
    deep = bytearray(base)
    dqt = base.index(b"\xff\xdb")
    deep[dqt + 4] = 0x10                      # Pq=1: 16-bit table
    assert decode_jpeg(bytes(deep)) is None
    # truncated entropy stream must go null, not raise
    trunc = bytes(base[:len(base) - 6])
    assert _samples_or_null(trunc, "image")["features"] is None


def test_multimodal_jpeg_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_jpeg,
    )

    compare(multimodal_jpeg(spark, sf_dir), ORACLES["multimodal_jpeg"],
            sf_dir, "multimodal_jpeg")


def test_wav_samples_unifies_all_three_codings():
    """_wav_samples must feed the same sample streams the per-format
    decoders produce: PCM matches the synth formula, μ-law matches
    per-byte expansion, ADPCM matches the recurrence decoder."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _mulaw_to_linear,
        _wav_samples,
        synth_adpcm_payload,
        synth_media_payload,
        synth_mulaw_payload,
    )

    s, sr = _wav_samples(synth_media_payload(41, "audio", ""))
    assert sr == 8000 + 41 % 8 * 1000
    assert s == [((41 * 31 + i * 7) % 65536) - 32768
                 for i in range(100 + 41 % 400)]
    s, sr = _wav_samples(synth_mulaw_payload(42))
    assert sr == 8000
    assert s == [_mulaw_to_linear((42 * 13 + j * 5) % 256)
                 for j in range(120 + 42 % 333)]
    s, _ = _wav_samples(synth_adpcm_payload(300))
    assert len(s) == 400          # fact-trimmed across two blocks
    assert _wav_samples(b"RIFF\x04\x00\x00\x00WAVE") is None


def test_multimodal_audio_stats_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_audio_stats,
    )

    compare(multimodal_audio_stats(spark, sf_dir),
            ORACLES["multimodal_audio_stats"], sf_dir,
            "multimodal_audio_stats")


def test_jpeg_color_hand_packed_chroma_fixture():
    """Hand-packed 8x8 COLOR JPEG with NONZERO chroma: custom tables
    (DC {cat0:'0', cat9:'1'}, AC {EOB:'0'}, quant all 1s), DC-only
    blocks Y=90 (coef -304), Cb=128 (0), Cr=160 (coef +256) —
    entropy bits hand-derived to B3 C6 00. Expected RGB from the
    JFIF formulas computed independently here: R=round(90+1.402*32)
    =135, G=round(90-0.714136*32)=67, B=90."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    seg = lambda m, p: bytes([0xFF, m]) + struct.pack(">H", 2 + len(p)) + p
    dc_counts = [0] * 16
    dc_counts[0] = 2
    ac_counts = [0] * 16
    ac_counts[0] = 1
    dht = (bytes([0x00]) + bytes(dc_counts) + bytes([0, 9])
           + bytes([0x10]) + bytes(ac_counts) + bytes([0x00]))
    sof = struct.pack(">BHHB", 8, 8, 8, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    jpg = (b"\xff\xd8"
           + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
           + seg(0xC0, sof) + seg(0xC4, dht) + seg(0xDA, sos)
           + bytes([0xB3, 0xC6, 0x00]) + b"\xff\xd9")
    out = decode_jpeg(jpg)
    assert (out["width"], out["height"]) == (8, 8)
    r = round(90 + 1.402 * 32)
    g = round(90 - 0.344136 * 0 - 0.714136 * 32)
    b = round(90 + 1.772 * 0)
    assert (r, g, b) == (135, 67, 90)
    # every pixel identical -> every 24-byte chunk holds 8 RGB triples
    mean = float(8 * (r + g + b)) / 24
    assert out["features"] == [mean] * 8


def test_jpeg_color_roundtrip_closed_form():
    """Neutral-chroma color synth: decoded RGB stream must equal Y
    replicated into all three channels (the interleaved-MCU and
    color-conversion machinery runs; neutral chroma makes it exactly
    lossless)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_jpeg,
        synth_jpeg_color_payload,
    )

    for d in [0, 1, 4, 11, 12, 137, 999, 4321]:
        out = decode_jpeg(synth_jpeg_color_payload(d))
        w, h = 8 * (1 + d % 4), 8 * (1 + (d // 4) % 3)
        assert (out["width"], out["height"]) == (w, h)
        exp = [(d * 5 + (j // 3 // w // 8) * (w // 8)
                + (j // 3 % w) // 8) % 256 for j in range(w * h * 3)]
        assert out["features"] == _chunk_means(exp), d


def test_jpeg_color_rejects_exotic_sampling():
    """Sampling factors outside {1,2} (e.g. 3x1) stay on the probed
    codec tier; 2x2 (4:2:0) is now DECODED — covered by the
    subsampled round-trip test below."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_color_payload,
    )

    p = bytearray(synth_jpeg_color_payload(5))
    sof = p.index(b"\xff\xc0")
    p[sof + 11] = 0x31                        # Y sampling 3x1: exotic
    assert decode_jpeg(bytes(p)) is None


def test_multimodal_jpeg_color_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_jpeg_color,
    )

    compare(multimodal_jpeg_color(spark, sf_dir),
            ORACLES["multimodal_jpeg_color"], sf_dir,
            "multimodal_jpeg_color")


def test_avi_decode_and_rejections():
    """Uncompressed-DIB AVI round trip plus the honest boundaries:
    00dc (compressed) frame chunks and non-BI_RGB strf return None;
    truncated RIFF goes null through _samples_or_null."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        _samples_or_null,
        decode_avi,
        synth_avi_payload,
    )

    d = 41
    out = decode_avi(synth_avi_payload(d))
    w, h, nf = 4 * (1 + d % 6), 2 + d % 7, 3 + d % 6
    assert (out["width"], out["height"], out["n_frames"]) == (w, h, nf)
    fsize = w * 3 * h
    exp = [(d + (j // fsize) * 7 + (j % fsize)) % 256
           for j in range(fsize * nf)]
    assert out["features"] == _chunk_means(exp)

    p = bytearray(synth_avi_payload(7))
    i = p.index(b"00db")
    p[i:i + 4] = b"00dc"
    assert decode_avi(bytes(p)) is None
    p = bytearray(synth_avi_payload(7))
    i = p.index(b"strf")
    p[i + 8 + 16:i + 8 + 20] = b"\x01\x00\x00\x00"   # biCompression=1
    assert decode_avi(bytes(p)) is None
    trunc = bytes(synth_avi_payload(7))[:40]
    assert _samples_or_null(trunc, "video")["features"] is None


def test_multimodal_avi_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_avi,
    )

    compare(multimodal_avi(spark, sf_dir), ORACLES["multimodal_avi"],
            sf_dir, "multimodal_avi")


def test_decode_mjpeg_avi_frames():
    """Motion-JPEG AVI: every 00dc chunk is a standalone baseline
    JPEG; the decode must recover the closed-form per-frame constant
    blocks bit-exactly (DC-q=8 lossless construction), and the
    malformed shapes must go null: dc chunks without the MJPG
    fourcc, an undecodable frame, and frames disagreeing on
    dimensions."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        _gray_jpeg_bytes,
        _riff_chunk,
        decode_avi,
        synth_mjpeg_payload,
    )

    d = 37
    out = decode_avi(synth_mjpeg_payload(d))
    w, h, nf = 8 * (1 + d % 4), 8 * (1 + (d // 4) % 3), 2 + d % 5
    assert (out["width"], out["height"], out["n_frames"]) == (w, h, nf)
    fsize = w * h
    exp = [(d * 3 + (j // fsize) * 11
            + (((j % fsize) // w) // 8) * (w // 8)
            + ((j % w) // 8)) % 256
           for j in range(fsize * nf)]
    assert out["features"] == _chunk_means(exp)

    # dc frames but biCompression stays BI_RGB: neither path accepts
    p = bytearray(synth_mjpeg_payload(5))
    i = p.index(b"strf")
    p[i + 8 + 16:i + 8 + 20] = b"\x00\x00\x00\x00"
    assert decode_avi(bytes(p)) is None

    # one frame's entropy bytes corrupted into an invalid stream
    p = bytearray(synth_mjpeg_payload(5))
    i = p.index(b"\xff\xd8")                 # first frame's SOI
    p[i + 1] = 0x00                          # no longer a JPEG
    assert decode_avi(bytes(p)) is None

    # frames with mismatched dimensions (16x8 vs 8x8) must reject
    j1 = _gray_jpeg_bytes(16, 8, lambda b: 10)
    j2 = _gray_jpeg_bytes(8, 8, lambda b: 10)
    base = bytearray(synth_mjpeg_payload(0))
    movi = base.index(b"movi")
    frames = _riff_chunk(b"00dc", j1) + _riff_chunk(b"00dc", j2)
    spliced = bytes(base[:movi + 4]) + frames
    # rebuild the movi LIST + RIFF sizes for the truncated tail
    rebuilt = bytearray(spliced)
    rebuilt[movi - 4:movi] = struct.pack("<I", 4 + len(frames))
    rebuilt[4:8] = struct.pack("<I", len(rebuilt) - 8)
    assert decode_avi(bytes(rebuilt)) is None


def test_multimodal_mjpeg_pipeline(spark, sf_dir):
    """Compressed-video tier end-to-end: synth MJPEG AVIs through the
    Arrow decode against the symbolic oracle."""
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_mjpeg,
    )

    compare(multimodal_mjpeg(spark, sf_dir),
            ORACLES["multimodal_mjpeg"], sf_dir, "multimodal_mjpeg")


def test_multimodal_frame_sample_pipeline(spark, sf_dir):
    """Real per-frame extraction rows: every 2nd frame of each AVI,
    frame mean from the actual DIB bytes, against the symbolic
    oracle."""
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_frame_sample,
    )

    compare(multimodal_frame_sample(spark, sf_dir),
            ORACLES["multimodal_frame_sample"], sf_dir,
            "multimodal_frame_sample")


def test_multimodal_plans_have_no_shuffle(spark, sf_dir):
    """The scale guarantee of the whole multimodal tier: every decode
    pipeline is a NARROW map (scan -> Arrow mapInPandas -> project) —
    no data-dependent (hash/range) exchange anywhere, so at 100 TB it
    parallelizes per input split with no shuffle barrier. r16: ONE
    round-robin scatter() exchange is allowed right after the scan —
    it exists to spread the Python decode off single-row-group test
    files and is a no-op on production-width scans — but a hash
    exchange (a real shuffle barrier) would still be a regression."""
    from university_data_lakehouse_spark.operators import multimodal as mm

    for key in ["multimodal_meta", "multimodal_decoded",
                "multimodal_features", "multimodal_png",
                "multimodal_gif", "multimodal_jpeg",
                "multimodal_jpeg_color", "multimodal_adpcm",
                "multimodal_mulaw", "multimodal_alaw", "multimodal_flac",
                "multimodal_audio_stats",
                "multimodal_avi", "multimodal_y4m", "multimodal_mjpeg",
                "multimodal_frame_sample"]:
        df = mm.QUERIES[key](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1, f"{key} plan shuffles:\n{plan}"
        assert "hashpartitioning" not in plan, \
            f"{key} plan shuffles:\n{plan}"
        assert "rangepartitioning" not in plan, \
            f"{key} plan shuffles:\n{plan}"


def test_jpeg_restart_markers_reset_dc_predictors():
    """DRI/RSTn support (T.81 F.2.1.3.1): a hand-packed 16x8 gray
    JPEG with DRI=1 and two MCUs, each coding DC diff +3 (custom
    tables: DC {cat2:'0'}, AC {EOB:'0'}; bits 0|11|0 + pad = 0x6F),
    separated by FF D0. WITH the predictor reset both blocks decode
    to 128 + 3 = 131; without it the second block would be 134 —
    the assertion distinguishes."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    seg = lambda m, p: bytes([0xFF, m]) + struct.pack(">H", 2 + len(p)) + p
    dc_counts = [0] * 16
    dc_counts[0] = 1
    ac_counts = [0] * 16
    ac_counts[0] = 1
    dht = (bytes([0x00]) + bytes(dc_counts) + bytes([2])
           + bytes([0x10]) + bytes(ac_counts) + bytes([0x00]))
    jpg = (b"\xff\xd8"
           + seg(0xDB, bytes([0x00]) + bytes([8] * 64))
           + seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1)
                 + bytes([1, 0x11, 0]))
           + seg(0xC4, dht)
           + seg(0xDD, struct.pack(">H", 1))
           + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
           + bytes([0x6F]) + b"\xff\xd0" + bytes([0x6F])
           + b"\xff\xd9")
    out = decode_jpeg(jpg)
    assert (out["width"], out["height"]) == (16, 8)
    # 16x8 = 128 bytes, step 16: every chunk spans one row half;
    # all pixels must be 131 (both blocks reset to diff-from-zero)
    assert out["features"] == [131.0] * 8
    # and a payload whose RST marker is MISSING must go null, not
    # silently mis-decode
    broken = jpg.replace(b"\xff\xd0", b"")
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
    )
    assert _samples_or_null(broken, "image")["features"] is None


def test_hostile_header_dims_go_null_not_oom():
    """Review finding (r8): a forged SOF0/IHDR claiming 65535x65535
    must return the null row BEFORE any plane allocation — MemoryError
    is deliberately not in the null contract's catch set."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _samples_or_null,
        synth_jpeg_payload,
        synth_png_payload,
    )

    jpg = bytearray(synth_jpeg_payload(3))
    sof = jpg.index(b"\xff\xc0")
    jpg[sof + 5:sof + 9] = struct.pack(">HH", 65535, 65535)
    assert _samples_or_null(bytes(jpg), "image")["features"] is None

    png = bytearray(synth_png_payload(3))
    # IHDR data starts at offset 16 (8 sig + 4 len + 4 type): w, h
    png[16:24] = struct.pack(">II", 1 << 16, 1 << 16)
    assert _samples_or_null(bytes(png), "image")["features"] is None


def test_frame_sample_skips_empty_frames(spark, sf_dir):
    """Review finding (r8): a zero-length 00db chunk must be skipped,
    not divide by zero. Splice an empty frame chunk into a valid AVI
    and run it through the explode closure logic."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _avi_frames,
        synth_avi_payload,
    )

    p = bytearray(synth_avi_payload(7))
    movi = p.index(b"movi")
    empty = b"00db" + struct.pack("<I", 0)
    spliced = bytes(p[:movi + 4]) + empty + bytes(p[movi + 4:])
    # fix the two enclosing RIFF/LIST sizes
    spliced = bytearray(spliced)
    # grow the RIFF size (offset 4) and the movi LIST size (the
    # 4 bytes just before the "movi" type tag)
    for off in (4, movi - 4):
        old = int.from_bytes(spliced[off:off + 4], "little")
        spliced[off:off + 4] = struct.pack("<I", old + len(empty))
    got = _avi_frames(bytes(spliced))
    assert got is not None
    _w, _h, frames = got
    assert frames[0] == b""                  # the spliced empty frame
    # the pipeline guard: empty frames produce no row and no raise
    means = [float(sum(f)) / len(f) for f in frames if f]
    assert len(means) == len(frames) - 1


def test_avi_audio_strf_does_not_shadow_video():
    """Review finding (r8): a trailing audio strl whose WAVEFORMATEX
    is >= 20 bytes must not overwrite the video stream's BI_RGB
    compression and reject a decodable DIB file."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _riff_chunk,
        _riff_list,
        decode_avi,
        synth_avi_payload,
    )

    p = bytearray(synth_avi_payload(7))
    # an MP3-ish WAVEFORMATEX: wFormatTag 0x55, 22 bytes of fields
    wf = struct.pack("<HHIIHHH", 0x55, 1, 44100, 16000, 1, 0, 12) \
        + b"\x00" * 12
    audio_strl = _riff_list(
        b"strl",
        _riff_chunk(b"strh", b"auds" + b"\x00" * 52)
        + _riff_chunk(b"strf", wf))
    movi = p.index(b"LIST", 12)              # insert before... find hdrl end
    # append the audio strl inside hdrl: simplest is to splice right
    # before the movi LIST and extend the RIFF size
    movi = p.index(b"movi") - 8              # LIST header of movi
    spliced = bytearray(bytes(p[:movi]) + audio_strl + bytes(p[movi:]))
    old = int.from_bytes(spliced[4:8], "little")
    spliced[4:8] = struct.pack("<I", old + len(audio_strl))
    out = decode_avi(bytes(spliced))
    assert out is not None                   # video frames still decode
    assert out["n_frames"] == 3 + 7 % 6


def test_jpeg_420_roundtrip_closed_form():
    """4:2:0 layout correctness: four luma blocks per MCU must land
    at their grid positions (a block-order bug scrambles the image
    and fails this), neutral chroma keeps RGB = Y through the
    replication upsample."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_jpeg,
        synth_jpeg_420_payload,
    )

    for d in [0, 1, 2, 3, 5, 137, 4321]:
        out = decode_jpeg(synth_jpeg_420_payload(d))
        w, h = 16 * (1 + d % 3), 16 * (1 + (d // 3) % 2)
        assert (out["width"], out["height"]) == (w, h)
        exp = [(d * 11 + (j // 3 // w // 8) * (w // 8)
                + (j // 3 % w) // 8) % 256 for j in range(w * h * 3)]
        assert out["features"] == _chunk_means(exp), d


def test_jpeg_420_chroma_upsample_is_replication():
    """Hand-packed 16x16 single-MCU 4:2:0 JPEG with NON-CONSTANT
    chroma (Cb coefficient (0,1) = 40, custom tables, quant all 1s):
    image column c must take chroma column c//2 — NEAREST
    replication, not interpolation. Expected pixels from the
    independent direct-sum IDCT + the JFIF formulas."""
    import numpy as np

    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_jpeg,
    )

    seg = lambda m, p: bytes([0xFF, m]) + struct.pack(">H", 2 + len(p)) + p
    dc_counts = [0] * 16
    dc_counts[0] = 1
    ac_counts = [0] * 16
    ac_counts[0] = 2
    dht = (bytes([0x00]) + bytes(dc_counts) + bytes([0])
           + bytes([0x10]) + bytes(ac_counts) + bytes([0x00, 0x06]))
    sof = struct.pack(">BHHB", 8, 16, 16, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    # bits: Y x4 '00' ... Cb '0' dc, '1'+'101000' (AC (0,1)=40), '0'
    # EOB ... Cr '00' ... pad 11111 -> bytes 00 68 1F
    jpg = (b"\xff\xd8"
           + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
           + seg(0xC0, sof) + seg(0xC4, dht) + seg(0xDA, sos)
           + bytes([0x00, 0x68, 0x1F]) + b"\xff\xd9")
    out = decode_jpeg(jpg)
    assert (out["width"], out["height"]) == (16, 16)
    cb_coef = [[0] * 8 for _ in range(8)]
    cb_coef[0][1] = 40
    cb_block = _idct_direct(cb_coef)
    cb_row = [int(np.clip(np.round(v) + 128, 0, 255))
              for v in cb_block[0]]          # constant in y
    exp = []
    for y in range(16):
        for x in range(16):
            cbd = cb_row[x // 2] - 128       # NEAREST: col c -> c//2
            r = int(np.clip(np.round(128 + 1.402 * 0), 0, 255))
            g = int(np.clip(np.round(128 - 0.344136 * cbd), 0, 255))
            b = int(np.clip(np.round(128 + 1.772 * cbd), 0, 255))
            exp += [r, g, b]
    assert out["features"] == _chunk_means(exp)


def test_jpeg_progressive_roundtrip_closed_form():
    """SOF2 multi-scan accumulation: DC point-transform chain (Al=1),
    DC refinement bits, AC band scan — decoded pixels must equal the
    constant-block closed form for a doc_id sweep (wrong shift or
    refine bit changes every pixel)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_jpeg,
        synth_jpeg_prog_payload,
    )

    for d in [0, 1, 5, 6, 29, 137, 4321]:
        out = decode_jpeg(synth_jpeg_prog_payload(d))
        w, h = 8 * (1 + d % 6), 8 * (1 + (d // 6) % 5)
        assert (out["width"], out["height"]) == (w, h)
        exp = [(d * 13 + (j // w // 8) * (w // 8) + (j % w) // 8) % 256
               for j in range(w * h)]
        assert out["features"] == _chunk_means(exp), d


def _prog_jpeg(w, h, dc_vals, ac_vals, scans):
    """Hand-assembled progressive grayscale JPEG with custom
    single-length Huffman tables; scans = [(td_ta, Ss, Se, Ah, Al,
    entropy_bytes), ...]."""
    seg = lambda m, p: bytes([0xFF, m]) + struct.pack(">H", 2 + len(p)) + p
    dc_counts = [0] * 16
    dc_counts[0] = len(dc_vals)
    ac_counts = [0] * 16
    ac_counts[0] = len(ac_vals)
    dht = (bytes([0x00]) + bytes(dc_counts) + bytes(dc_vals)
           + bytes([0x10]) + bytes(ac_counts) + bytes(ac_vals))
    out = (b"\xff\xd8"
           + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
           + seg(0xC2, struct.pack(">BHHB", 8, h, w, 1)
                 + bytes([1, 0x11, 0]))
           + seg(0xC4, dht))
    for td_ta, ss, se, ah, al, data in scans:
        out += seg(0xDA, bytes([1, 1, td_ta, ss, se,
                                (ah << 4) | al])) + data
    return out + b"\xff\xd9"


def test_jpeg_progressive_ac_refine_fixture():
    """Hand-packed single-block progressive image exercising the AC
    REFINEMENT protocol: scan2 (AC first, Al=1) places zigzag-1 = 2
    via sym(run0,size1)+bit; scan3 (AC refine, Al=0) sends EOB then a
    correction bit 1, so the coefficient must become 3 — the
    spec's towards-larger-magnitude append. Expected pixels from the
    independent direct-sum IDCT."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_jpeg,
    )

    # DC {cat0:'0'}; AC {EOB:'0', (run0,size1):'1'}
    jpg = _prog_jpeg(
        8, 8, [0x00], [0x00, 0x01],
        [
            (0x00, 0, 0, 0, 0, bytes([0x7F])),   # DC: '0' + pad 1s
            (0x00, 1, 63, 0, 1, bytes([0xDF])),  # '1'+'1'+'0' + pad
            (0x00, 1, 63, 1, 0, bytes([0x7F])),  # EOB '0' + corr '1'
        ])
    out = decode_jpeg(jpg)
    assert (out["width"], out["height"]) == (8, 8)
    coef = [[0] * 8 for _ in range(8)]
    coef[0][1] = 3                           # refined 2 -> 3
    exp = _idct_direct(coef)
    import numpy as np

    pix = np.clip(np.round(np.array(exp)) + 128, 0, 255)
    assert out["features"] == [float(r) for r in pix.mean(axis=1)]


def test_jpeg_progressive_eobrun_spans_blocks():
    """EOBn with extension bits: a 16x8 image whose AC scan is ONE
    EOB1 run (code + 1 extra bit) covering both blocks — the run
    must consume the current block and the next."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_jpeg,
    )

    # DC {cat0:'0'}; AC {EOB1(0x10):'0'}
    jpg = _prog_jpeg(
        16, 8, [0x00], [0x10],
        [
            (0x00, 0, 0, 0, 0, bytes([0x3F])),   # DC '0','0' + pad
            (0x00, 1, 63, 0, 0, bytes([0x3F])),  # EOB1 '0' + extra '0'
        ])
    out = decode_jpeg(jpg)
    assert (out["width"], out["height"]) == (16, 8)
    assert out["features"] == [128.0] * 8


def test_multimodal_jpeg_progressive_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_jpeg_progressive,
    )

    compare(multimodal_jpeg_progressive(spark, sf_dir),
            ORACLES["multimodal_jpeg_progressive"], sf_dir,
            "multimodal_jpeg_progressive")


def test_multimodal_jpeg_420_pipeline(spark, sf_dir):
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_jpeg_420,
    )

    compare(multimodal_jpeg_420(spark, sf_dir),
            ORACLES["multimodal_jpeg_420"], sf_dir,
            "multimodal_jpeg_420")


def test_jpeg_gray_with_declared_2x2_factors_decodes():
    """Review finding (r8 pass 2): a grayscale baseline JPEG whose
    SOF declares 2x2 sampling factors (common from color-to-gray
    converters) is still a NON-interleaved single-component scan per
    T.81 F.2.2 — the declared factors must not change the block
    raster. Expected pixels = the unmodified synth closed form."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _chunk_means,
        decode_jpeg,
        synth_jpeg_payload,
    )

    for d in [3, 7, 19]:                     # incl. multi-block rows
        p = bytearray(synth_jpeg_payload(d))
        sof = p.index(b"\xff\xc0")
        p[sof + 11] = 0x22                   # declare 2x2 on the gray comp
        out = decode_jpeg(bytes(p))
        w, h = 8 * (1 + d % 5), 8 * (1 + (d // 5) % 4)
        assert (out["width"], out["height"]) == (w, h), d
        exp = [(d * 3 + (j // w // 8) * (w // 8) + (j % w) // 8) % 256
               for j in range(w * h)]
        assert out["features"] == _chunk_means(exp), d


def test_jpeg_progressive_dqt_between_scans():
    """Review finding (r8 pass 2): T.81 allows DQT between scans —
    move the quant table AFTER the first SOS and the image must still
    reconstruct (dequant happens at EOI)."""
    from university_data_lakehouse_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_prog_payload,
    )

    p = bytes(synth_jpeg_prog_payload(6))
    dqt_at = p.index(b"\xff\xdb")
    dqt_seg = p[dqt_at:dqt_at + 4 + 65]      # marker+len+pq/tq+64
    stripped = p[:dqt_at] + p[dqt_at + len(dqt_seg):]
    sos2 = stripped.index(b"\xff\xda", stripped.index(b"\xff\xda") + 2)
    moved = stripped[:sos2] + dqt_seg + stripped[sos2:]
    ref = decode_jpeg(p)
    out = decode_jpeg(moved)
    assert out is not None
    assert out["features"] == ref["features"]


def test_jpeg_422_layout_decodes():
    """Back the 4:2:2 claim: a 16x8 color JPEG with Y sampled 2x1
    (MCU = two Y blocks + Cb + Cr covering 16x8), neutral chroma,
    luma blocks 100 and 140 — the decoded halves must carry their
    own values (a block-order or upsample-axis bug mixes them)."""
    from university_data_lakehouse_spark.operators.bitio import BitWriter
    from university_data_lakehouse_spark.operators.multimodal import (
        _huffman_codes,
        _jpeg_category,
        _jpeg_entropy_bytes,
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        decode_jpeg,
    )

    seg = lambda m, p: bytes([0xFF, m]) + struct.pack(">H", 2 + len(p)) + p
    dc_codes = _huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    eob_code, eob_len = ac_codes[0x00]
    bw = BitWriter()
    pred = 0
    for v in (100, 140):                     # two Y blocks, one MCU
        dc = v - 128
        diff = dc - pred
        pred = dc
        cat = _jpeg_category(diff)
        code, ln = dc_codes[cat]
        bw.put(code, ln)
        if cat:
            bw.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        bw.put(eob_code, eob_len)
    for _ in range(2):                       # neutral Cb, Cr
        code, ln = dc_codes[0]
        bw.put(code, ln)
        bw.put(eob_code, eob_len)
    dht = (bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
           + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sof = struct.pack(">BHHB", 8, 8, 16, 3) + bytes(
        [1, 0x21, 0, 2, 0x11, 0, 3, 0x11, 0])
    jpg = (b"\xff\xd8"
           + seg(0xDB, bytes([0x00]) + bytes([8] * 64))
           + seg(0xC0, sof) + seg(0xC4, dht)
           + seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
           + _jpeg_entropy_bytes(bw) + b"\xff\xd9")
    out = decode_jpeg(jpg)
    assert (out["width"], out["height"]) == (16, 8)
    # 16x8x3 = 384 bytes, step 48 = one row; rows identical; each row
    # is 8px of 100 then 8px of 140 in all three channels
    row_mean = (8 * 100 * 3 + 8 * 140 * 3) / 48
    assert out["features"] == [row_mean] * 8


def test_multimodal_mixed_pipeline(spark, sf_dir):
    """One Arrow pass over a four-format corpus: per-row magic
    dispatch (PNG/GIF/JPEG/BMP) against the CASE-dispatched oracle."""
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_mixed,
    )

    compare(multimodal_mixed(spark, sf_dir), ORACLES["multimodal_mixed"],
            sf_dir, "multimodal_mixed")


def test_normalize_resize_units():
    """normalize_resize: gray JPEG expands to RGB; BMP bottom-up rows
    come out top-down; RGBA PNG drops alpha — each checked against
    the source closed form at sampled positions."""
    import zlib as _zlib

    from university_data_lakehouse_spark.operators.multimodal import (
        _png_chunk,
        normalize_resize,
        synth_jpeg_payload,
        synth_media_payload,
    )

    # gray JPEG -> RGB replication
    d = 7
    w, h, rgb = normalize_resize(synth_jpeg_payload(d), target=8)
    assert (w, h) == (8 * (1 + d % 5), 8 * (1 + (d // 5) % 4))
    for y in (0, 7):
        for x in (0, 7):
            sx, sy = x * w // 8, y * h // 8
            g = (d * 3 + (sy // 8) * (w // 8) + sx // 8) % 256
            o = (y * 8 + x) * 3
            assert rgb[o:o + 3] == bytes([g, g, g]), (x, y)

    # BMP: stored bottom-up -> image-coordinate top-down
    d = 37
    bmp = synth_media_payload(d, "image", "")
    w, h, rgb = normalize_resize(bmp, target=4)
    stride = (w * 3 + 3) & ~3
    for y in (0, 3):
        sy = y * h // 4
        sx = 0
        o = (y * 4 + 0) * 3
        exp = bytes(((d + (h - 1 - sy) * stride + 3 * sx + c) % 256)
                    for c in range(3))
        assert rgb[o:o + 3] == exp, y

    # RGBA PNG: alpha dropped
    raw = b"\x00" + bytes([10, 20, 30, 255])     # filter 0, 1 px RGBA
    png = (b"\x89PNG\r\n\x1a\n"
           + _png_chunk(b"IHDR",
                        struct.pack(">IIBBBBB", 1, 1, 8, 6, 0, 0, 0))
           + _png_chunk(b"IDAT", _zlib.compress(raw))
           + _png_chunk(b"IEND", b""))
    w, h, rgb = normalize_resize(png, target=2)
    assert (w, h) == (1, 1)
    assert rgb == bytes([10, 20, 30]) * 4

    # undecodable -> None
    assert normalize_resize(b"not an image") is None


def test_multimodal_normalize_pipeline(spark, sf_dir):
    """Distributed canonicalization: mixed corpus -> raw pixels ->
    nearest resize -> fixed 32x32x3 tensors, against the sampled
    closed-form oracle."""
    from oracle_utils import compare

    from university_data_lakehouse_spark.operators.multimodal import (
        ORACLES,
        multimodal_normalize,
    )

    compare(multimodal_normalize(spark, sf_dir),
            ORACLES["multimodal_normalize"], sf_dir,
            "multimodal_normalize")


def test_avi_deeply_nested_lists_no_recursion_error():
    """A hostile AVI with thousands of nested LIST chunks must walk
    iteratively — decode the real structure buried at the bottom (the
    walker descends every LIST in order) and never RecursionError out
    of the Arrow task.  Pre-fix code recursed once per LIST level."""
    import sys

    from university_data_lakehouse_spark.operators.multimodal import (
        _riff_chunk,
        _riff_list,
        _samples_or_null,
        decode_avi,
        synth_avi_payload,
    )

    base = synth_avi_payload(41)
    inner = base[12:]                         # hdrl + movi lists
    depth = sys.getrecursionlimit() + 500
    for _ in range(depth):
        inner = _riff_list(b"wrap", inner)
    hostile = b"RIFF" + len(b"AVI " + inner).to_bytes(4, "little") \
        + b"AVI " + inner
    out = decode_avi(hostile)                # same frames, just buried
    assert out == decode_avi(base)

    # and a nest with NO decodable structure inside goes null cleanly
    junk = _riff_chunk(b"junk", b"\x00" * 4)
    for _ in range(depth):
        junk = _riff_list(b"wrap", junk)
    empty = b"RIFF" + len(b"AVI " + junk).to_bytes(4, "little") \
        + b"AVI " + junk
    assert _samples_or_null(empty, "video")["features"] is None


def test_avi_nested_walk_copies_linear_bytes():
    """r10 (ADVICE r9): the iterative RIFF walk must descend LISTs by
    (offset, end) index pairs — the r9 shape sliced body[4:] per
    descent, so a maximally-nested payload cost O(N²) bytes copied.
    Pinned with a bytes subclass whose slices propagate a shared
    byte counter to every derived slice: the walk's total sliced
    volume must stay within a small constant of the payload size
    (headers + frame bodies), where per-LIST body copies would charge
    ~depth × payload."""
    from university_data_lakehouse_spark.operators.multimodal import (
        _riff_list,
        decode_avi,
        synth_avi_payload,
    )

    class CountingBytes(bytes):
        counter = None

        def __getitem__(self, k):
            out = bytes.__getitem__(self, k)
            if isinstance(k, slice):
                self.counter[0] += len(out)
                cb = CountingBytes(out)
                cb.counter = self.counter
                return cb
            return out

    base = synth_avi_payload(17)
    inner = base[12:]
    depth = 2000
    for _ in range(depth):
        inner = _riff_list(b"wrap", inner)
    hostile = b"RIFF" + len(b"AVI " + inner).to_bytes(4, "little") \
        + b"AVI " + inner
    counted = CountingBytes(hostile)
    counted.counter = [0]
    assert decode_avi(counted) == decode_avi(base)
    # linear budget: chunk headers (~12B x depth) + frame bodies +
    # slack; the quadratic walk would charge ~depth/2 x len(hostile)
    assert counted.counter[0] < 8 * len(hostile), (
        counted.counter[0], len(hostile))


def test_avi_truncated_strf_is_malformed_not_dib():
    """r11 ADVICE: a strf CLAIMING >= 20 bytes whose body is cut short
    by the enclosing extent must raise into the null-row boundary —
    the short slice previously int.from_bytes'd to a bogus
    biCompression (0 selects the uncompressed-DIB path), decoding
    garbage as plausible frames."""
    import struct

    import pytest

    from university_data_lakehouse_spark.operators.multimodal import (
        _avi_stream,
        _samples_or_null,
    )

    def ch(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    avih = ch(b"avih", struct.pack("<10I", *([0] * 8 + [2, 2])))
    frame = ch(b"00db", bytes(12))          # 2x2 BI_RGB frame
    strh = ch(b"strh", b"vids")
    # claims 20 body bytes, payload ends after 4 — be - bs == 4
    strf_trunc = b"strf" + (20).to_bytes(4, "little") + b"\x00" * 4
    body = avih + frame + strh + strf_trunc
    payload = (b"RIFF" + (len(body) + 4).to_bytes(4, "little")
               + b"AVI " + body)
    with pytest.raises(ValueError, match="truncated strf"):
        _avi_stream(payload)
    assert _samples_or_null(payload, "video")["n_frames"] is None
    # control: the same file with the full 20-byte strf decodes as DIB
    strf_ok = ch(b"strf", b"\x00" * 20)
    body_ok = avih + frame + strh + strf_ok
    ok = (b"RIFF" + (len(body_ok) + 4).to_bytes(4, "little")
          + b"AVI " + body_ok)
    got = _avi_stream(ok)
    assert got is not None and got[2] == 0 and len(got[3]) == 1


def test_avi_short_or_truncated_header_chunks_raise():
    """r11 review: the truncation rule is uniform across header
    chunks — a vids strf whose OWN size field claims < 20 bytes must
    raise (compression would stay None, which _avi_frames accepts as
    BI_RGB — the same DIB masquerade as the extent-truncated case),
    and truncated avih/strh bodies raise explicitly rather than
    best-effort-parsing short slices."""
    import struct

    import pytest

    from university_data_lakehouse_spark.operators.multimodal import (
        _avi_stream,
        _samples_or_null,
    )

    def ch(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    def riff(body):
        return (b"RIFF" + (len(body) + 4).to_bytes(4, "little")
                + b"AVI " + body)

    avih = ch(b"avih", struct.pack("<10I", *([0] * 8 + [2, 2])))
    frame = ch(b"00db", bytes(12))
    strh = ch(b"strh", b"vids")
    # strf declaring only 16 bytes — too short for biCompression
    short_strf = ch(b"strf", b"\x00" * 16)
    p = riff(avih + frame + strh + short_strf)
    with pytest.raises(ValueError, match="truncated strf"):
        _avi_stream(p)
    assert _samples_or_null(p, "video")["n_frames"] is None
    # avih claiming 40 bytes but cut off by the payload end
    trunc_avih = b"avih" + (40).to_bytes(4, "little") + b"\x00" * 8
    with pytest.raises(ValueError, match="truncated avih"):
        _avi_stream(riff(trunc_avih))
    # strh claiming 4 bytes but cut off by the payload end
    trunc_strh = b"strh" + (4).to_bytes(4, "little") + b"v"
    with pytest.raises(ValueError, match="truncated strh"):
        _avi_stream(riff(avih + frame + trunc_strh))


def test_avi_strf_binds_only_to_its_own_strh():
    """r11 review: each strf consumes its stream type — a second strf
    with no strh of its own (or one following a corrupt strh) must
    never rebind to the previous stream's fccType. Here a stray
    trailing strf would overwrite biCompression with garbage and
    reject the decodable DIB if the stale 'vids' type leaked."""
    import struct

    from university_data_lakehouse_spark.operators.multimodal import (
        _avi_stream,
    )

    def ch(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    avih = ch(b"avih", struct.pack("<10I", *([0] * 8 + [2, 2])))
    frame = ch(b"00db", bytes(12))
    vids = ch(b"strh", b"vids") + ch(b"strf", b"\x00" * 20)
    # orphan strf carrying a nonzero fourcc at offset 16
    orphan = ch(b"strf", b"\x00" * 16 + b"MJPG")
    body = avih + vids + orphan + frame
    p = (b"RIFF" + (len(body) + 4).to_bytes(4, "little") + b"AVI " + body)
    got = _avi_stream(p)
    assert got is not None and got[2] == 0     # biCompression intact
