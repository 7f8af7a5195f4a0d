"""Multimodal column plumbing (SURVEY §2.8).

Treats image/audio/video payloads as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched ``mapInPandas`` pipelines.

Three decode tiers:

- REAL header decode for public byte formats that need no codec
  library: ``parse_media_header`` walks actual BMP (BITMAPINFOHEADER)
  and WAV (RIFF chunk) bytes for width/height/sample-rate/sample
  count; ``media_table_encoded`` synthesizes valid struct-packed
  BMP/WAV payloads so the round trip (pack → Spark binary column →
  Arrow batch → parse) is exercised end to end and oracle-checked
  (``multimodal_decoded``).
- REAL pixel/sample-level decode for the uncompressed formats:
  ``decode_samples`` reads actual 24-bit BMP pixel rows and 16-bit
  PCM WAV samples (pure byte work, no codec) and reduces them to
  chunk-mean features — oracle-checked end to end
  (``multimodal_features``).
- REAL compressed-image decode for PNG with stdlib only:
  ``decode_png`` inflates the IDAT stream via ``zlib`` and inverts
  all five PNG row filters (None/Sub/Up/Average/Paeth);
  ``synth_png_payload`` emits valid RGB PNGs whose raw pixel stream
  is a pure function of doc_id, so the whole compress/filter round
  trip is oracle-checked (``multimodal_png``).
- REAL compressed-format decode with stdlib(+numpy) only, the full
  set now: PNG (``decode_png``: zlib inflate + all-five-filter
  defilter), GIF (``decode_gif``: variable-width LZW + palette),
  baseline JPEG, grayscale and 4:4:4 color incl. restart markers
  (``decode_jpeg``: canonical Huffman + DC prediction + zigzag
  dequant + full 8×8 IDCT + JFIF YCbCr→RGB), IMA-ADPCM WAV
  (``_ima_decode_mono``: saturating table recurrence) and G.711
  μ-law WAV (``_mulaw_to_linear``) — each with a synthesized corpus
  whose decoded stream is a pure function of doc_id and a DuckDB
  oracle replaying it (``multimodal_png/gif/jpeg/adpcm/mulaw``).
- CAPABILITY-PROBED codec decode for what genuinely needs a codec
  library (progressive/subsampled JPEG, MP3, H.264, compressed
  video): ``decode_real``
  probes Pillow / soundfile / av at call time, decodes when present,
  and raises NotImplementedError only when the library is genuinely
  absent from the environment (as here) — the code self-activates in
  a richer container. ``decode_stub`` remains the deterministic fake
  for plumbing tests.

Bit-level I/O for the JPEG family goes through bitio.py (BitWriter,
BitReader, VlcTable Huffman tables); this module keeps only the JPEG
byte layer: _JpegBitReader (0xFF00 unstuffing, stop at markers, RSTn)
and _jpeg_entropy_bytes (1-bit pad + 0xFF stuffing). GIF's LSB-first
LZW packing is a different bit order and stays here.

Scale notes: mapInPandas streams Arrow record batches — payload bytes
never materialize row-at-a-time in Python; batch size is governed by
spark.sql.execution.arrow.maxRecordsPerBatch. Feature extraction is a
narrow map (no shuffle); downstream joins treat the metadata columns
as ordinary scan-prunable columns.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.loader import load_table, scatter
from .bitio import BitReader, BitWriter, VlcTable
from .flac_codec import encode_flac, flac_samples
from .mpa_codec import scalefactor_sql_literals
from .mpeg1_codec import encode_mpeg1_intra, mpeg1_frames

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),    # image | audio | video
    StructField("payload", BinaryType()),       # opaque encoded bytes
    StructField("payload_len", LongType()),
    StructField("magic_hex", StringType()),     # first-4-bytes signature
])

HEADER_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("duration_ms", DoubleType()),
])

FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload_len", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("features", ArrayType(DoubleType())),
])


# Upper bound on header-declared pixel counts the stdlib decoders
# will allocate for (64 MPix ≈ 0.5 GiB of float64 planes). A feature
# pass over corpus bytes must survive hostile headers: a forged SOF0/
# IHDR claiming 65535x65535 would otherwise trigger a multi-GiB numpy
# allocation (MemoryError / executor OOM) BEFORE any data-length check
# bounds it — and MemoryError is deliberately not in the null-contract
# catch set. Larger legitimate media belongs to the codec tier.
_MAX_DECODE_PIXELS = 1 << 26

# Per-task input-byte budgets for the media-pipeline scatter sites
# (guide §2.5, VERDICT r16 item 1). The probe measures the RAW
# documents scan (the synth corpora derive one media row per doc), so
# these are data-volume knobs, not core-count knobs: the scatter
# width becomes ceil(input_bytes / budget) clamped to cluster
# parallelism — tiny inputs get a few tasks, production inputs clamp
# to full width (and at 100 TB the scan is already wide, so scatter
# no-ops). Graded by measured PER-ROW decode cost (single-task sf0.1
# wall times: mpeg1 4.9 s, mjpeg 3.9, flac 3.6 vs y4m 0.75, BMP/WAV
# header keys ~1.0 — a 6x spread no single budget fits; the r16
# ungated full-width exchange regressed every cheap key, driver rows
# decoded 0.98 s vs 0.47 at 8 cores, while the heavy entropy codecs
# measurably want the full width even at sf0.1). Width sweep evidence
# is in git history (the r17 optimization notes).
_MEDIA_BPT_HEAVY = 16 << 10   # per-bit entropy decode (MJPEG, FLAC):
#                               ~0.7-0.8 ms/row — full width from
#                               ~512 KiB of input up
_MEDIA_BPT_MED = 32 << 10     # block codecs (JPEG family, PNG, GIF,
#                               MPEG-1, MPA): ~0.3-1 ms/row
_MEDIA_BPT = 64 << 10         # light synth/decode (G.711, ADPCM,
#                               Y4M, AVI, mixed/normalize): ≤0.2 ms
_MEDIA_BPT_ENC = 128 << 10    # media_table_encoded (BMP/WAV synth +
#                               header or sample reads)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from documents: utf-8 payload bytes as
    the opaque binary column (the plumbing is identical for real
    image/audio bytes), typed metadata derived JVM-side."""
    # scatter: single-row-group test parquet arrives as ONE partition,
    # which would serialize every downstream Arrow decode pass onto
    # one core (guide §2.5); no-op when the scan is already wide.
    # r17 (VERDICT r16 item 1): this table feeds only JVM byte-stat
    # work (multimodal_meta's md5 — no Python decode), so it gets the
    # cheap-per-row floor the vector sites use: below 2 MiB the
    # exchange costs more than the single-task md5 it spreads.
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  min_input_bytes=2 << 20)
    payload = F.encode("text", "utf-8")
    return doc.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        payload.alias("payload"),
        F.octet_length(payload).cast("bigint").alias("payload_len"),
        F.hex(F.substring(payload, 1, 4)).alias("magic_hex"),
    )


def synth_media_payload(doc_id: int, media_type: str, text: str) -> bytes:
    """Deterministic, VALID media bytes per row: a 24-bit BMP for
    images, a 16-bit mono PCM WAV for audio (shape parameters are pure
    functions of doc_id so the decoded metadata is oracle-checkable),
    and the raw utf-8 text for video (opaque — no header-only public
    container is parseable without a codec)."""
    if media_type == "image":
        width = 4 + doc_id % 16
        height = 4 + (doc_id // 16) % 16
        row = (width * 3 + 3) & ~3          # rows padded to 4 bytes
        pix_size = row * height
        header = struct.pack(
            "<2sIHHI", b"BM", 54 + pix_size, 0, 0, 54
        ) + struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0, pix_size,
            2835, 2835, 0, 0,
        )
        pixels = bytes((doc_id + i) % 256 for i in range(pix_size))
        return header + pixels
    if media_type == "audio":
        sample_rate = 8000 + (doc_id % 8) * 1000
        n_samples = 100 + doc_id % 400
        data = struct.pack(
            f"<{n_samples}h",
            *(((doc_id * 31 + i * 7) % 65536) - 32768 for i in range(n_samples)),
        )
        return (
            struct.pack("<4sI4s", b"RIFF", 36 + len(data), b"WAVE")
            + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate,
                          sample_rate * 2, 2, 16)
            + struct.pack("<4sI", b"data", len(data))
            + data
        )
    return text.encode("utf-8")


def parse_media_header(payload: bytes) -> dict:
    """REAL byte-level header parse, dispatched on magic bytes:

    - BMP: width/height from the BITMAPINFOHEADER int32 fields at
      offsets 18/22 (public format spec; height may be negative for
      top-down rows — absolute value is the pixel height).
    - WAV: walks RIFF chunks from offset 12; ``fmt `` gives channels/
      sample-rate/block-align, ``data`` gives payload size, so
      n_samples = data_size / block_align.
    - anything else: all-None metadata (opaque payload).
    """
    none = {"width": None, "height": None, "sample_rate": None,
            "n_samples": None, "duration_ms": None}
    if payload[:2] == b"BM" and len(payload) >= 26:
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = abs(int.from_bytes(payload[22:26], "little", signed=True))
        return {**none, "width": width, "height": height}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, sample_rate, block_align, data_size = 12, None, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            size = int.from_bytes(payload[pos + 4:pos + 8], "little")
            # a declared size the truncated payload cannot back must
            # not feed a short slice to struct.unpack — this parser's
            # contract is all-None for malformed bytes, never a raise
            # (it runs unguarded inside the metadata mapInPandas
            # batch, where an escape fails the whole task)
            if cid == b"fmt " and size >= 16 and pos + 24 <= len(payload):
                _fmt, _ch, sample_rate, _br, block_align, _bits = struct.unpack(
                    "<HHIIHH", payload[pos + 8:pos + 24]
                )
            elif cid == b"data":
                data_size = size
            pos += 8 + size + (size & 1)    # RIFF chunks pad to even
        if sample_rate and block_align and data_size is not None:
            n_samples = data_size // block_align
            return {**none, "sample_rate": sample_rate,
                    "n_samples": n_samples,
                    "duration_ms": n_samples * 1000.0 / sample_rate}
    return none


def _chunk_means(vals: list) -> list[float]:
    """Mean value per 8 equal chunks (decode_stub's chunking
    convention: step = max(n//8, 1), trailing remainder dropped,
    short inputs pad with 0.0) — integer sums, so the float means are
    bit-identical in any engine."""
    n = len(vals)
    step = max(n // 8, 1)
    out = []
    for i in range(8):
        c = vals[i * step:(i + 1) * step]
        out.append(float(sum(c)) / len(c) if c else 0.0)
    return out


def decode_samples(payload: bytes) -> dict | None:
    """REAL pixel/sample-level decode for the uncompressed public
    formats — no codec library required:

    - 24-bit BMP: pixel rows read from the header's data offset with
      4-byte stride padding; features = mean byte value per 8 chunks
      of the pixel stream.
    - 16-bit PCM WAV: int16 samples unpacked from the ``data`` chunk;
      features = mean ABSOLUTE amplitude per 8 chunks (n_frames =
      sample count).

    - COMPRESSED formats decodable with stdlib (+numpy for the DCT):
      PNG (inflate + defilter), GIF (LZW + palette), the baseline /
      progressive JPEG family, and AVI video — both uncompressed DIB
      and Motion-JPEG ``00dc`` frames (decode_avi dispatches on the
      biCompression fourcc).

    Returns None for anything needing an actual codec library
    (MP3, inter-frame video like H.264) — those go through
    decode_real's capability probe."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if payload[:3] == b"\xff\xd8\xff":
        return decode_jpeg(payload)
    if payload[:2] == b"BM" and len(payload) >= 54:
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = abs(int.from_bytes(payload[22:26], "little", signed=True))
        offset = int.from_bytes(payload[10:14], "little")
        stride = (width * 3 + 3) & ~3
        pix = payload[offset:offset + stride * height]
        return {"width": width, "height": height, "n_frames": 1,
                "features": _chunk_means(list(pix))}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        got = _wav_samples(payload)
        if got is None:
            return None
        samples, _sr = got
        return {"width": None, "height": None,
                "n_frames": len(samples),
                "features": _chunk_means([abs(s) for s in samples])}
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return decode_avi(payload)
    if payload[:4] == b"\x00\x00\x01\xb3":
        return decode_mpeg1(payload)
    if payload[:9] == b"YUV4MPEG2":
        return decode_y4m(payload)
    if payload[:4] == b"fLaC":
        got = flac_samples(payload)
        if got is None:
            return None
        channels, _sr = got
        inter = [abs(s) for frame in zip(*channels) for s in frame]
        return {"width": None, "height": None,
                "n_frames": len(channels[0]),
                "features": _chunk_means(inter)}
    return None


def _wav_samples(payload: bytes) -> tuple[list[int], int] | None:
    """RIFF walk → (int16 samples, sample_rate) for the three mono
    WAV codings decodable without a codec library: 16-bit PCM
    (wFormatTag 1), G.711 μ-law (7) / A-law (6) (closed-form per-byte
    expansions) and IMA/DVI ADPCM (0x11, saturating table recurrence with the
    fact chunk bounding the sample count). None for anything else —
    the decode_real capability tier."""
    pos, fmt_tag, channels, sr = 12, None, None, 0
    block_align, data, fact_n = None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        if cid == b"fmt " and size >= 16:
            fmt_tag, channels, sr, _br, block_align, _bits = (
                struct.unpack("<HHIIHH", payload[pos + 8:pos + 24]))
        elif cid == b"fact" and size >= 4:
            fact_n = int.from_bytes(payload[pos + 8:pos + 12], "little")
        elif cid == b"data":
            data = payload[pos + 8:pos + 8 + size]
        pos += 8 + size + (size & 1)        # RIFF chunks pad to even
    if data is None:
        return None
    if fmt_tag == 1 and block_align == 2:   # 16-bit mono PCM
        n = len(data) // 2
        return list(struct.unpack(f"<{n}h", data[:2 * n])), sr
    if fmt_tag == 7 and channels == 1 and block_align == 1:
        n = fact_n if fact_n is not None else len(data)
        return [_mulaw_to_linear(b) for b in data[:n]], sr
    if fmt_tag == 6 and channels == 1 and block_align == 1:
        n = fact_n if fact_n is not None else len(data)
        return [_alaw_to_linear(b) for b in data[:n]], sr
    if fmt_tag == 0x11 and channels == 1 and block_align \
            and block_align > 4:
        spb = 1 + 2 * (block_align - 4)
        n = fact_n if fact_n is not None \
            else (len(data) // block_align) * spb
        return _ima_decode_mono(data, block_align, n), sr


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (public spec, RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data)))


def synth_png_payload(doc_id: int) -> bytes:
    """Deterministic VALID 8-bit RGB PNG: pixel byte j of the raw
    stream is (doc_id + j) % 256 (same convention as the BMP synth),
    w/h pure functions of doc_id. Row y is written with filter type
    y % 5, so a decoder must implement ALL FIVE filters (None, Sub,
    Up, Average, Paeth) to recover the stream — the filters cancel in
    the round trip, keeping the oracle a pure pixel-function replay."""
    w = 4 + doc_id % 16
    h = 5 + (doc_id // 16) % 16
    bpp = 3
    raw = bytes((doc_id + j) % 256 for j in range(w * h * bpp))
    stride = w * bpp
    out = bytearray()
    prior = bytes(stride)
    for y in range(h):
        row = raw[y * stride:(y + 1) * stride]
        ft = y % 5
        out.append(ft)
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            up = prior[i]
            ul = prior[i - bpp] if i >= bpp else 0
            if ft == 0:
                v = row[i]
            elif ft == 1:
                v = row[i] - left
            elif ft == 2:
                v = row[i] - up
            elif ft == 3:
                v = row[i] - (left + up) // 2
            else:
                v = row[i] - _paeth(left, up, ul)
            out.append(v & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> dict | None:
    """REAL compressed-image decode with stdlib only: PNG is
    zlib-deflate (Python ``zlib``) + per-row defiltering. Walks the
    chunk stream, inflates the IDAT concat, inverts all five filter
    types, and reduces the recovered pixel stream to the standard
    8-chunk-mean features. Supports 8-bit greyscale (color type 0),
    RGB (2), and RGBA (6) — non-interlaced. Returns None for
    non-PNG payloads or PNG variants outside that envelope (those go
    to decode_real's capability probe)."""
    got = _png_pixels(payload)
    if got is None:
        return None
    w, h, _bpp, raw = got
    return {"width": w, "height": h, "n_frames": 1,
            "features": _chunk_means(list(raw))}


def _png_pixels(payload: bytes) -> tuple[int, int, int, bytes] | None:
    """PNG → (w, h, bytes-per-pixel, top-down unpadded pixel
    stream)."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, w = 8, None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + size]
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data)
            if depth != 8 or interlace != 0 or color not in (0, 2, 6):
                return None
            if w * h > _MAX_DECODE_PIXELS:
                return None      # hostile/corrupt IHDR dims: the
                # per-row buffers allocate from these before the IDAT
                # length bounds anything (see _MAX_DECODE_PIXELS)
            bpp = {0: 1, 2: 3, 6: 4}[color]
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if w is None:
        return None
    flat = zlib.decompress(bytes(idat))
    stride = w * bpp
    raw = bytearray()
    prior = bytes(stride)
    for y in range(h):
        ft = flat[y * (stride + 1)]
        row = bytearray(flat[y * (stride + 1) + 1:(y + 1) * (stride + 1)])
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            up = prior[i]
            ul = prior[i - bpp] if i >= bpp else 0
            if ft == 1:
                row[i] = (row[i] + left) & 0xFF
            elif ft == 2:
                row[i] = (row[i] + up) & 0xFF
            elif ft == 3:
                row[i] = (row[i] + (left + up) // 2) & 0xFF
            elif ft == 4:
                row[i] = (row[i] + _paeth(left, up, ul)) & 0xFF
        raw += row
        prior = bytes(row)
    return int(w), int(h), bpp, bytes(raw)


_GIF_MAX_CODE = 1 << 12     # GIF LZW code space is capped at 12 bits


def _lzw_encode(data: bytes, mcs: int) -> bytes:
    """GIF-variant LZW compress (public algorithm: GIF89a spec
    Appendix F / Welch 1984): little-endian bit packing, variable
    code width mcs+1..12, Clear emitted + table reset when the code
    space fills. Used only to SYNTHESIZE valid fixtures; the decode
    path below is the capability under test — the round trip is
    hypothesis-pinned in tests/test_multimodal.py."""
    clear, end = 1 << mcs, (1 << mcs) + 1

    def fresh() -> dict:
        return {bytes([i]): i for i in range(1 << mcs)}

    table = fresh()
    next_code, width = end + 1, mcs + 1
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    emit(clear, width)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        if next_code < _GIF_MAX_CODE:
            table[nxt] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = fresh()
            next_code, width = end + 1, mcs + 1
        cur = bytes([b])
    if cur:
        emit(table[cur], width)
    emit(end, width)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """GIF-variant LZW decompress. The width-sync subtlety: the
    decoder's table lags the encoder's by ONE entry at read time (the
    encoder adds e_k before emitting code k+1; the decoder builds e_k
    only after reading it), so the decoder widens when
    next_code + 1 == 2^width — one add EARLIER than its own table
    size suggests — which is exactly when the encoder (checking
    next_code == 2^width after its add) widened for the same code.
    Handles the cScSc case (code == next_code) per the spec."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    base = {i: bytes([i]) for i in range(1 << mcs)}
    table = dict(base)
    next_code, width = end + 1, mcs + 1
    out = bytearray()
    buf = nbits = pos = 0
    prev = None
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)       # missing End: tolerate
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << width) - 1)
        buf >>= width
        nbits -= width
        if code == clear:
            table = dict(base)
            next_code, width = end + 1, mcs + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]          # cScSc
            else:
                raise ValueError("corrupt GIF LZW stream")
            if next_code < _GIF_MAX_CODE:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code + 1 == (1 << width) and width < 12:
                    width += 1
        out += entry
        prev = entry


def _gif_blocks(data: bytes) -> bytes:
    """Package an LZW stream into GIF data sub-blocks (<=255 bytes
    each, zero-length terminator)."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


# 256-entry palette where entry k = (k, k+85, k+170) mod 256 — NOT
# grayscale, so a decoder that skips palette resolution (returning
# indices tripled) produces wrong chunk means and fails the oracle.
_GIF_PAL = bytes((k + 85 * c) % 256 for k in range(256) for c in range(3))


def synth_gif_payload(doc_id: int) -> bytes:
    """Deterministic VALID GIF89a: 256-color global table (_GIF_PAL),
    pixel INDEX p = (doc_id + p) % 256, w/h pure functions of doc_id
    (different moduli than the PNG synth so the two oracles differ).
    The index stream is REALLY LZW-compressed, so the decoder must
    implement actual LZW (variable widths, table build, clear codes)
    plus palette lookup to recover the RGB stream."""
    w = 3 + doc_id % 15
    h = 4 + (doc_id // 15) % 14
    idx = bytes((doc_id + p) % 256 for p in range(w * h))
    lsd = struct.pack("<HHBBB", w, h, 0xF7, 0, 0)   # GCT, 256 entries
    imgd = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    return (b"GIF89a" + lsd + _GIF_PAL + imgd + bytes([8])
            + _gif_blocks(_lzw_encode(idx, 8)) + b"\x3B")


def decode_gif(payload: bytes) -> dict | None:
    """REAL compressed-image decode with stdlib only, part two (the
    r6 PNG discipline) — see _gif_pixels for the walk; reduces the
    palette-resolved RGB stream to chunk-mean features."""
    got = _gif_pixels(payload)
    if got is None:
        return None
    w, h, _nch, rgb = got
    return {"width": w, "height": h, "n_frames": 1,
            "features": _chunk_means(list(rgb))}


def _gif_pixels(payload: bytes) -> tuple[int, int, int, bytes] | None:
    """GIF → (w, h, 3, top-down RGB stream) — part two (the
    r6 PNG discipline): GIF is LZW (decoded by _lzw_decode above) +
    palette lookup. Walks the logical screen descriptor, global/local
    color tables, and extension blocks; decodes the FIRST image
    descriptor's index stream; resolves indices through the palette
    to the RGB stream; reduces to the standard 8-chunk-mean features.
    Returns None for interlaced images or palette-less streams (those
    go to decode_real's capability probe)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a") or len(payload) < 13:
        return None
    _w0, _h0, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = payload[pos:pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        marker = payload[pos]
        if marker == 0x21:                   # extension: label + blocks
            pos += 2
            while pos < len(payload) and payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif marker == 0x2C:                 # image descriptor
            _left, _top, w, h, ipacked = struct.unpack(
                "<HHHHB", payload[pos + 1:pos + 10])
            pos += 10
            pal = gct
            if ipacked & 0x80:               # local color table wins
                n = 2 ** ((ipacked & 0x07) + 1)
                pal = payload[pos:pos + 3 * n]
                pos += 3 * n
            if ipacked & 0x40 or pal is None:    # interlace unsupported
                return None
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos]:
                ln = payload[pos]
                data += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(bytes(data), mcs)[:w * h]
            if idx and max(idx) >= len(pal) // 3:
                return None     # index beyond palette: corrupt stream —
                # a silent short slice would truncate the RGB stream and
                # yield WRONG chunk means instead of an honest null row
            rgb = bytearray()
            for i in idx:
                rgb += pal[3 * i:3 * i + 3]
            return int(w), int(h), 3, bytes(rgb)
        elif marker == 0x3B:                 # trailer
            break
        else:
            return None
    return None


# IMA/DVI ADPCM tables (public spec: IMA "Recommended Practices for
# Enhancing Digital Audio Compatibility", rev 3.00; carried in WAV as
# wFormatTag 0x0011). The step table has 89 entries; the index table
# maps the low 3 bits of each nibble to a step-index delta.
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
)


def _ima_decode_mono(data: bytes, block_align: int,
                     n_samples: int) -> list[int]:
    """REAL IMA-ADPCM block decode (mono): each ``block_align``-sized
    block opens with a 4-byte header (int16 seed predictor — which IS
    output sample 0 of the block — uint8 step index, reserved byte),
    followed by 4-bit codes two to a byte, LOW nibble first. Each
    nibble updates the predictor by a step-table delta and the step
    index by the index table, both saturating (predictor to int16,
    index to [0, 88]). The final (padded) block over-decodes; the
    ``fact``-chunk sample count trims it — exactly what real players
    do."""
    out: list[int] = []
    pos = 0
    while pos + 4 <= len(data) and len(out) < n_samples:
        pred, idx, _rsvd = struct.unpack("<hBB", data[pos:pos + 4])
        idx = max(0, min(88, idx))
        out.append(pred)
        for byte in data[pos + 4:pos + block_align]:
            for nib in (byte & 0x0F, byte >> 4):
                step = _IMA_STEP_TABLE[idx]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + _IMA_INDEX_TABLE[nib & 7]))
                out.append(pred)
        pos += block_align
    return out[:n_samples]


# Baseline JPEG (ITU-T T.81, public spec) — stdlib + numpy only.
# Zigzag scan order (T.81 Figure 5): zigzag index -> (row, col).
_JPEG_ZIGZAG = (
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
)

# Annex K typical luminance Huffman tables (public spec data).
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _huffman_codes(bits: tuple, vals: tuple) -> dict:
    """Canonical Huffman assignment (T.81 Annex C): codes of each
    length are consecutive, starting from (prev_start + count) << 1.
    Returns {symbol: (code, length)}."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# (bits, vals) -> VlcTable memo: every frame of an MJPEG stream and
# every payload of a synth corpus re-declares the SAME tables, and the
# per-DHT rebuild (canonical assignment + LUT fill) was the single
# largest cost of the MJPEG decode (~35% — r17 profile). Keyed by the
# exact spec bytes, so a hit is definitionally the same table. Bounded
# so a crafted stream declaring thousands of distinct tables cannot
# grow worker memory without limit.
_DHT_MEMO: dict[tuple, VlcTable] = {}
_DHT_MEMO_MAX = 512


def _jpeg_entropy_bytes(bw: BitWriter) -> bytes:
    """Close an entropy-coded segment: pad with 1-bits (T.81 F.1.2.3)
    and stuff a 0x00 after every 0xFF data byte — the same bytes as
    stuffing each byte when it is emitted."""
    bw.align(1)
    return bw.bytes().replace(b"\xff", b"\xff\x00")


class _JpegBitReader(BitReader):
    """BitReader over an entropy-coded segment: the refill drops the
    0x00 of each stuffed 0xFF00 and stops at a marker or the end, so
    take() raises there and peek() returns -1 (VlcTable then walks
    bit by bit up to the marker). ``pos`` is the next byte to load,
    which is the marker once a scan's data is consumed."""

    __slots__ = ()

    SHORT = "jpeg: entropy data ends or hits a marker"

    def _refill(self, n: int) -> bool:
        data, pos, nbits = self.data, self.pos, self.nbits
        acc = self.acc & ((1 << nbits) - 1)
        end = len(data)
        while nbits < n and pos < end:
            byte = data[pos]
            if byte == 0xFF:
                if pos + 1 >= end or data[pos + 1] != 0x00:
                    break                    # marker / dangling 0xFF
                pos += 2                     # stuffed data byte
            else:
                pos += 1
            acc = (acc << 8) | byte
            nbits += 8
        self.pos, self.acc, self.nbits = pos, acc, nbits
        return nbits >= n

    def restart(self) -> None:
        """Consume an RSTn marker at a restart boundary: drop the
        pad bits to the byte edge, then the two marker bytes
        (FF D0..D7). Raises ValueError if the marker is absent."""
        self.nbits = 0                       # discard byte-pad bits
        if (self.pos + 2 > len(self.data)
                or self.data[self.pos] != 0xFF
                or not 0xD0 <= self.data[self.pos + 1] <= 0xD7):
            raise ValueError("jpeg: missing restart marker")
        self.pos += 2


def _jpeg_extend(value: int, size: int) -> int:
    """T.81 EXTEND: a size-bit magnitude with a 0 top bit encodes a
    negative value (one's-complement style)."""
    if size == 0:
        return 0
    return value if value >= (1 << (size - 1)) else value - (1 << size) + 1


def _jpeg_category(value: int) -> int:
    return abs(value).bit_length()


def _mulaw_to_linear(u_val: int) -> int:
    """G.711 μ-law expansion (public ITU-T spec; the classic CCITT
    reference implementation): complement the code byte, rebuild the
    mantissa with the 0x84 bias, shift by the exponent, subtract the
    bias back, apply the sign."""
    u = ~u_val & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return 0x84 - t if u & 0x80 else t - 0x84


def _alaw_to_linear(a_val: int) -> int:
    """G.711 A-law expansion (public ITU-T spec; the classic CCITT
    reference implementation): XOR the code byte with 0x55, rebuild
    the 4-bit mantissa, add the segment bias, shift by the segment,
    apply the sign (A-law's sign bit SET means positive)."""
    a = a_val ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


_ADPCM_BLOCK_ALIGN = 132                       # 4B header + 128 code bytes
_ADPCM_SPB = 1 + 2 * (_ADPCM_BLOCK_ALIGN - 4)  # 257 samples per block


def synth_adpcm_payload(doc_id: int) -> bytes:
    """Deterministic VALID IMA-ADPCM WAV (wFormatTag 0x11, mono,
    multi-block): block b seeds predictor ((doc_id*131 + b*277) %
    65536) - 32768 and step index (doc_id + 7*b) % 89; the nibble
    producing global sample p is (doc_id*7 + p*3) % 16. The payload is
    genuinely block-packed ADPCM — any conformant IMA decoder
    recovers the same saturating-recurrence samples the DuckDB oracle
    replays symbolically — and ns up to 499 spans TWO blocks, so the
    block-header reseed path is exercised, not just the nibble loop.
    Nibbles past ns pad the final block with zeros; the fact chunk
    carries the true sample count."""
    ns = 100 + doc_id % 400
    sample_rate = 8000
    blocks = bytearray()
    b = 0
    while b * _ADPCM_SPB < ns:
        base = b * _ADPCM_SPB
        pred = ((doc_id * 131 + b * 277) % 65536) - 32768
        idx = (doc_id + 7 * b) % 89
        blocks += struct.pack("<hBB", pred, idx, 0)
        for k in range(_ADPCM_BLOCK_ALIGN - 4):
            p0, p1 = base + 1 + 2 * k, base + 2 + 2 * k
            lo = (doc_id * 7 + p0 * 3) % 16 if p0 < ns else 0
            hi = (doc_id * 7 + p1 * 3) % 16 if p1 < ns else 0
            blocks.append(lo | (hi << 4))
        b += 1
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, sample_rate,
                      sample_rate * _ADPCM_BLOCK_ALIGN // _ADPCM_SPB,
                      _ADPCM_BLOCK_ALIGN, 4, 2, _ADPCM_SPB)
    body = (struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
            + struct.pack("<4sII", b"fact", 4, ns)
            + struct.pack("<4sI", b"data", len(blocks)) + bytes(blocks))
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def synth_mulaw_payload(doc_id: int) -> bytes:
    """Deterministic VALID G.711 μ-law WAV (wFormatTag 7, mono, 8-bit
    codes, block_align 1): code byte j is (doc_id*13 + j*5) % 256
    (different moduli than the ADPCM synth so the oracles differ), so
    the expanded sample stream is a CLOSED-FORM function of
    (doc_id, j) the DuckDB oracle replays without recursion."""
    ns = 120 + doc_id % 333
    data = bytes((doc_id * 13 + j * 5) % 256 for j in range(ns))
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    body = (struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
            + struct.pack("<4sII", b"fact", 4, ns)
            + struct.pack("<4sI", b"data", len(data)) + data)
    pad = b"\x00" if len(data) & 1 else b""    # RIFF even-pad
    return (struct.pack("<4sI4s", b"RIFF", 4 + len(body) + len(pad),
                        b"WAVE") + body + pad)


def synth_alaw_payload(doc_id: int) -> bytes:
    """Deterministic VALID G.711 A-law WAV (wFormatTag 6, mono, 8-bit
    codes, block_align 1): code byte j is (doc_id*11 + j*3) % 256
    (moduli distinct from both the μ-law and ADPCM synths), so the
    expanded sample stream is a CLOSED-FORM function of (doc_id, j)
    the DuckDB oracle replays with xor/segment arithmetic."""
    ns = 110 + doc_id % 357
    data = bytes((doc_id * 11 + j * 3) % 256 for j in range(ns))
    fmt = struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8)
    body = (struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
            + struct.pack("<4sII", b"fact", 4, ns)
            + struct.pack("<4sI", b"data", len(data)) + data)
    pad = b"\x00" if len(data) & 1 else b""    # RIFF even-pad
    return (struct.pack("<4sI4s", b"RIFF", 4 + len(body) + len(pad),
                        b"WAVE") + body + pad)


def synth_flac_payload(doc_id: int) -> bytes:
    """Deterministic VALID FLAC stream (see flac_codec.encode_flac:
    STREAMINFO + MD5, CRC-8'd fixed-blocksize frame headers, CRC-16
    frame footers, FIXED order-2 subframes with exhaustive-search
    Rice parameters): mono 16-bit, sample j is
    ((doc_id*31 + j*7) % 4096) - 2048 — a sawtooth whose order-2
    residuals are zero away from the wrap points, so the Rice layer
    genuinely compresses (~3.7× on these payloads) and the wraps
    exercise large-quotient codes. ns up to 499 spans TWO frames, so
    the partial-final-frame header path (8-bit blocksize-1 form) and
    the frame-number coded-number increment are both exercised.
    Lossless, so the decoded samples ARE the closed form the DuckDB
    oracle replays — no codec knowledge needed oracle-side."""
    ns = 100 + doc_id % 400
    samples = [((doc_id * 31 + j * 7) % 4096) - 2048 for j in range(ns)]
    return encode_flac([samples], sample_rate=8000, blocksize=256)


def _jpeg_idct_matrix() -> "np.ndarray":
    """The 8-point DCT basis M[u, x] = a(u)/2 · cos((2x+1)uπ/16)
    (a(0) = 1/√2, else 1), so spatial = Mᵀ · S · M."""
    m = np.zeros((8, 8))
    for u in range(8):
        a = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = a / 2 * np.cos((2 * x + 1) * u * np.pi / 16)
    return m


_JPEG_IDCT_M = _jpeg_idct_matrix()


def _jpeg_segment(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) \
        + payload


def synth_jpeg_payload(doc_id: int) -> bytes:
    """Deterministic VALID baseline JPEG (T.81: SOI/DQT/SOF0/DHT/SOS/
    EOI, Annex K luminance Huffman tables, real entropy coding with
    byte stuffing), grayscale, dimensions multiples of 8. Each 8×8
    block is CONSTANT with value (doc_id*3 + block_index) % 256 — a
    constant block survives the JPEG round trip EXACTLY when the DC
    quantizer is 8: DCT DC = 8·(v−128), stored code v−128, and the
    DC-only IDCT returns v−128 in every cell — so the decoded pixel
    stream is a closed-form function of (doc_id, pixel index) the
    DuckDB oracle replays. The ENTROPY LAYER is not degenerate: DC
    diffs walk a wide category range against real Annex K tables
    (the 0xFF-stuffing and AC-coefficient paths don't arise from
    this construction — the hand-packed fixtures in
    tests/test_multimodal.py exercise those)."""
    w = 8 * (1 + doc_id % 5)
    h = 8 * (1 + (doc_id // 5) % 4)
    return _gray_jpeg_bytes(w, h, lambda b: (doc_id * 3 + b) % 256)


def _gray_jpeg_bytes(w: int, h: int, block_val) -> bytes:
    """Encode one grayscale baseline JPEG whose 8×8 block ``b`` is
    constant ``block_val(b)`` (0..255) — the shared entropy/marker
    writer behind synth_jpeg_payload and the per-frame MJPEG synth.
    DC quantizer 8 keeps the construction exactly lossless (see
    synth_jpeg_payload)."""
    qtab = bytes([8] * 64)                   # uniform; DC q=8 is the
    #                                          exactness requirement
    dc_codes = _huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = BitWriter()
    pred = 0
    for b in range((w // 8) * (h // 8)):
        dc = block_val(b) - 128
        diff = dc - pred
        pred = dc
        cat = _jpeg_category(diff)
        code, length = dc_codes[cat]
        bw.put(code, length)
        if cat:
            mag = diff if diff > 0 else diff + (1 << cat) - 1
            bw.put(mag, cat)
        eob_code, eob_len = ac_codes[0x00]
        bw.put(eob_code, eob_len)
    dht = (bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
           + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, bytes([0x00]) + qtab)
        + _jpeg_segment(0xC0, struct.pack(">BHHB", 8, h, w, 1)
                        + bytes([1, 0x11, 0]))
        + _jpeg_segment(0xC4, dht)
        + _jpeg_segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + _jpeg_entropy_bytes(bw)
        + b"\xff\xd9"
    )


def _riff_chunk(cid: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) & 1 else b""
    return cid + struct.pack("<I", len(data)) + data + pad


def _riff_list(ltype: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", ltype + payload)


def synth_mpa_payload(doc_id: int) -> bytes:
    """Deterministic VALID MPEG-1 Audio Layer I stream (see
    mpa_codec.encode_mpa_l1; mono, 32 kHz, 64 kbit/s → exact 96-byte
    frames): 1 + doc_id % 3 frames, each activating up to two
    subbands with allocation 1 + (doc_id+sb+f) % 14, a scalefactor
    index spanning the FULL Table B.1 range ((doc_id+3·sb+f) % 63,
    non-power-of-two values included — the oracle replays them from
    the SAME baked literals, mpa_codec.SCALEFACTORS) and sample codes
    (doc_id·7 + s·3 + sb + f) % (2^nb − 1), which lands every code in
    the legal 0..2^nb−2 range. Each decoded subband sample is
    therefore the CLOSED FORM sf · (2(C+1) − 2^nb)/(2^nb − 1) of
    (doc_id, f, sb, s) — the construction an r12 DuckDB oracle can
    replay."""
    from .mpa_codec import encode_mpa_l1  # noqa: PLC0415

    frames = []
    for f in range(1 + doc_id % 3):
        spec: dict[int, tuple] = {}
        for j in range(2):
            sb = (doc_id * 5 + f * 11 + j * 17) % 32
            alloc = 1 + (doc_id + sb + f) % 14          # nb = 2..15
            nb = alloc + 1
            scf = (doc_id + 3 * sb + f) % 63            # full 0..62
            codes = [(doc_id * 7 + s * 3 + sb + f) % ((1 << nb) - 1)
                     for s in range(12)]
            spec[sb] = (alloc, scf, codes)
        frames.append([spec])
    return encode_mpa_l1(frames)


def synth_avi_payload(doc_id: int) -> bytes:
    """Deterministic VALID AVI container with UNCOMPRESSED 24-bit DIB
    frames (the video analog of BMP/WAV: the one public video format
    parseable without any codec): real RIFF structure — LIST hdrl
    {avih, LIST strl {strh 'vids'/'DIB ', strf BITMAPINFOHEADER}},
    LIST movi {00db frames}. Frame f's byte j is
    (doc_id + f*7 + j) % 256 over w*3*h bytes (w a multiple of 4 so
    the DIB stride adds no padding) — a closed form the oracle
    replays."""
    w = 4 * (1 + doc_id % 6)
    h = 2 + doc_id % 7
    nf = 3 + doc_id % 6
    fsize = w * 3 * h
    frames = b"".join(
        _riff_chunk(b"00db", bytes(
            (doc_id + f * 7 + j) % 256 for j in range(fsize)))
        for f in range(nf)
    )
    avih = struct.pack("<14I", 40000, fsize * 25, 0, 0, nf, 0, 1,
                       fsize, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, 25, 0, nf, fsize, 0, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, fsize,
                       0, 0, 0, 0)
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih)
                      + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                                   + _riff_chunk(b"strf", strf)))
    movi = _riff_list(b"movi", frames)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_mjpeg_payload(doc_id: int) -> bytes:
    """Deterministic VALID Motion-JPEG AVI — the COMPRESSED-video
    counterpart of synth_avi_payload's uncompressed DIB: fccHandler /
    biCompression 'MJPG', and every movi chunk is a ``00dc`` frame
    holding a complete standalone baseline JPEG (the OpenDML MJPEG
    layout real capture hardware emits). Frame f reuses the
    constant-block/DC-q=8 grayscale construction (exactly lossless,
    see synth_jpeg_payload) with block b of frame f valued
    (doc_id*3 + f*11 + b) % 256, so the concatenated decoded pixel
    stream is a closed form the DuckDB oracle replays."""
    w = 8 * (1 + doc_id % 4)
    h = 8 * (1 + (doc_id // 4) % 3)
    nf = 2 + doc_id % 5
    jpegs = [
        _gray_jpeg_bytes(
            w, h, lambda b, f=f: (doc_id * 3 + f * 11 + b) % 256)
        for f in range(nf)
    ]
    frames = b"".join(_riff_chunk(b"00dc", j) for j in jpegs)
    bufsize = max(len(j) for j in jpegs)
    avih = struct.pack("<14I", 40000, bufsize * 25, 0, 0, nf, 0, 1,
                       bufsize, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, 25, 0, nf, bufsize, 0, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<Iii2H", 40, w, h, 1, 24) + b"MJPG" \
        + struct.pack("<IiiII", w * h * 3, 0, 0, 0, 0)
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih)
                      + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                                   + _riff_chunk(b"strf", strf)))
    movi = _riff_list(b"movi", frames)
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_stream(payload: bytes) \
        -> tuple[int, int, int | None, list[tuple[bytes, bytes]]] | None:
    """RIFF AVI tree walk (LIST hdrl → avih dimensions + the VIDEO
    stream's strf biCompression; LIST movi → ##db / ##dc frame
    chunks) → (width, height, biCompression, [(kind, bytes)]) with
    kind b"db" (uncompressed DIB) or b"dc" (codec-compressed). The
    shared walker behind the DIB and MJPEG paths — callers gate on
    the compression fourcc."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    w = h = None
    compression = None
    stream_type = None                       # fccType of the last strh
    frames: list[tuple[bytes, bytes]] = []

    # Iterative depth-first walk (explicit continuation stack, same
    # visit order as recursion would give): a hostile file with
    # thousands of nested LIST chunks must hit the normal null-row
    # path, never RecursionError. Stack entries are ABSOLUTE
    # (resume offset, extent end) index pairs into the one payload
    # buffer — descending into a LIST copies nothing (the r9 shape
    # sliced body[4:] per descent, O(N²) bytes on a maximally-nested
    # hostile payload); the only copies left are the frame bodies,
    # which are the walk's output. Chunk bodies clamp to the
    # enclosing extent exactly as the old per-LIST slices did.
    stack: list[tuple[int, int]] = [(12, len(payload))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            cid = payload[pos:pos + 4]
            size = int.from_bytes(payload[pos + 4:pos + 8], "little")
            bs = pos + 8                      # body start
            be = min(bs + size, end)          # body end (clamped)
            nxt = bs + size + (size & 1)
            if cid == b"LIST":
                stack.append((nxt, end))     # resume here afterwards
                pos, end = bs + 4, be        # descend now (in order)
                continue
            if cid == b"avih" and size >= 40:
                # uniform truncation rule for header chunks (r11
                # review): a chunk whose READABLE body is shorter than
                # its semantics need is malformed, never best-effort —
                # an explicit raise, not an incidental struct.error
                if be - bs < 40:
                    raise ValueError("avi: truncated avih header")
                vals = struct.unpack("<10I", payload[bs:bs + 40])
                w, h = vals[8], vals[9]
            elif cid == b"strh":
                # the size-field variant is malformed too: a strh
                # claiming < 4 bytes cannot carry fccType, and
                # skipping it would leave a STALE stream_type that
                # misroutes the NEXT strf (r11 review)
                if size < 4 or be - bs < 4:
                    raise ValueError("avi: truncated strh header")
                stream_type = payload[bs:bs + 4]
            elif cid == b"strf":
                # honor only the VIDEO stream's BITMAPINFOHEADER — a
                # trailing audio strl's WAVEFORMATEX would otherwise
                # overwrite biCompression with format-blob bytes and
                # reject a decodable DIB file
                if stream_type == b"vids":
                    # a video strf needs the 20 bytes through
                    # biCompression, whether the shortfall comes from
                    # its own size field (< 20 would leave compression
                    # None, which _avi_frames accepts as BI_RGB) or
                    # from the enclosing extent truncating the body
                    # (a short slice would int.from_bytes to a bogus
                    # value) — both masquerades raise (r11 ADVICE +
                    # review)
                    if size < 20 or be - bs < 20:
                        raise ValueError("avi: truncated strf header")
                    compression = int.from_bytes(
                        payload[bs + 16:bs + 20], "little")
                # each strf binds to the strh immediately before it
                # (one strh + one strf per strl LIST): consume the
                # type so a stream's SECOND strf — or a later strf
                # whose own strh was dropped — can never rebind to a
                # stale fccType (r11 review)
                stream_type = None
            elif cid[2:] in (b"db", b"dc"):
                frames.append((cid[2:], payload[bs:be]))
            pos = nxt
    if w is None or not frames:
        return None
    return int(w), int(h), compression, frames


def _avi_frames(payload: bytes) -> tuple[int, int, list[bytes]] | None:
    """Uncompressed-DIB view of _avi_stream → (width, height,
    per-frame byte strings). COMPRESSED video (any 00dc chunk or
    non-zero biCompression) returns None — MJPG routes through
    _avi_mjpeg_pixels; other codecs are decode_real's av/pyav probe
    tier."""
    got = _avi_stream(payload)
    if got is None:
        return None
    w, h, compression, frames = got
    if compression not in (None, 0):         # BI_RGB only
        return None
    if any(kind != b"db" for kind, _ in frames):
        return None
    return w, h, [f for _, f in frames]


_MJPG_FOURCC = int.from_bytes(b"MJPG", "little")


def _avi_mjpeg_pixels(payload: bytes) \
        -> tuple[int, int, list[bytes]] | None:
    """Motion-JPEG view of _avi_stream: biCompression must be the
    'MJPG' fourcc and every movi chunk a ##dc frame holding a
    complete baseline JPEG, which decode_jpeg turns into its raw
    top-down pixel stream. Frames must agree on dimensions (the
    OpenDML MJPEG contract — each frame is a standalone JPEG of the
    stream's size); any undecodable or mismatched frame fails the
    whole payload into the null path."""
    got = _avi_stream(payload)
    if got is None:
        return None
    _aw, _ah, compression, frames = got
    if compression != _MJPG_FOURCC:
        return None
    if any(kind != b"dc" for kind, _ in frames):
        return None
    w = h = None
    pix: list[bytes] = []
    for _kind, frame in frames:
        decoded = decode_jpeg(frame, want_pixels=True)
        if decoded is None:
            return None
        fw, fh, _nch, stream = decoded
        if w is None:
            w, h = fw, fh
        elif (fw, fh) != (w, h):
            return None
        pix.append(stream)
    return w, h, pix


def decode_y4m(payload: bytes) -> dict | None:
    """REAL raw-video stream decode with stdlib only: YUV4MPEG2 (the
    public uncompressed interchange format of the mjpegtools suite —
    a plain-text stream header ``YUV4MPEG2 W.. H.. F.. I. A.. C..``
    followed by ``FRAME``-delimited planar YCbCr frames). Supports
    the 8-bit C420*/C422/C444/Cmono plane geometries; anything else
    (alpha, 10-bit) returns None for the capability-probe tier.
    Malformed streams with the right magic (missing W/H, bad FRAME
    marker, truncated planes) raise ValueError into the null-row
    boundary. Features are the standard 8-chunk means over the
    concatenated plane bytes of all frames, n_frames from the FRAME
    count."""
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("y4m: unterminated stream header")
    w = h = None
    ctag = b"420jpeg"                      # spec default when C absent
    for field in payload[9:nl].split(b" "):
        if not field:
            continue
        tag, val = field[:1], field[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"C":
            ctag = val
    if not w or not h or w < 0 or h < 0:
        raise ValueError("y4m: missing or invalid W/H")
    # exact 8-bit tags only — prefix matching would swallow the
    # 10-bit (C420p10) and alpha (C444alpha) variants, whose plane
    # geometry differs; those return None for the probe tier.
    if ctag in (b"420", b"420jpeg", b"420mpeg2", b"420paldv"):
        fsize = w * h + 2 * ((w // 2) * (h // 2))
    elif ctag == b"422":
        fsize = w * h + 2 * ((w // 2) * h)
    elif ctag == b"444":
        fsize = 3 * w * h
    elif ctag == b"mono":
        fsize = w * h
    else:
        return None
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError("y4m: bad FRAME marker")
        # the spec requires FRAME followed by '\n' or space-delimited
        # parameters — 'FRAMES…'-style junk must not be accepted with
        # the rest of its line silently read as frame parameters
        if payload[pos + 5:pos + 6] not in (b"\n", b" "):
            raise ValueError("y4m: bad FRAME marker")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("y4m: unterminated FRAME header")
        body = payload[fnl + 1:fnl + 1 + fsize]
        if len(body) < fsize:
            raise ValueError("y4m: truncated frame")
        frames.append(body)
        pos = fnl + 1 + fsize
    if not frames:
        return None
    stream = b"".join(frames)
    return {"width": w, "height": h, "n_frames": len(frames),
            "features": _chunk_means(list(stream))}


def synth_y4m_payload(doc_id: int) -> bytes:
    """Deterministic VALID YUV4MPEG2 stream (C420jpeg, even
    dimensions so the chroma planes are exact): byte j of frame f's
    planar data (w·h luma + 2·(w/2)·(h/2) chroma bytes) is
    (doc_id*19 + f*23 + j) % 256 — a closed form over the
    concatenated stream the DuckDB oracle replays."""
    w = 2 * (2 + doc_id % 5)
    h = 2 * (1 + doc_id % 4)
    nf = 2 + doc_id % 6
    fsize = w * h + 2 * ((w // 2) * (h // 2))
    out = bytearray(
        b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420jpeg\n" % (w, h))
    for f in range(nf):
        out += b"FRAME\n"
        out += bytes(
            (doc_id * 19 + f * 23 + j) % 256 for j in range(fsize))
    return bytes(out)


def synth_mpeg1_payload(doc_id: int) -> bytes:
    """Deterministic VALID MPEG-1 video stream (ISO/IEC 11172-2) of
    I-pictures whose 8×8 blocks are CONSTANT — the construction that
    makes the lossy codec exactly lossless, because MPEG-1 intra DC
    uses a FIXED quantizer step of 8 (dct_recon[0][0] = dct_zz[0]·8),
    the same arithmetic accident the JPEG family's DC-q=8 synth
    exploits. Frame f's Y block b is (doc_id*5 + f*11 + b) % 256, Cb
    block b is (doc_id*7 + f*13 + b) % 256, Cr (doc_id*3 + f*17 + b)
    % 256 — closed forms over the decoded planar stream the DuckDB
    oracle replays with no codec knowledge."""
    w = 16 * (1 + doc_id % 3)
    h = 16 * (1 + (doc_id // 3) % 2)
    nf = 2 + doc_id % 3
    yw, cw = w // 8, w // 16
    frames = []
    for f in range(nf):
        frames.append({
            "Y": [[(doc_id * 5 + f * 11 + ry * yw + rx) % 256
                   for rx in range(yw)] for ry in range(h // 8)],
            "Cb": [[(doc_id * 7 + f * 13 + ry * cw + rx) % 256
                    for rx in range(cw)] for ry in range(h // 16)],
            "Cr": [[(doc_id * 3 + f * 17 + ry * cw + rx) % 256
                    for rx in range(cw)] for ry in range(h // 16)],
        })
    return encode_mpeg1_intra(frames, w, h)


def decode_mpeg1(payload: bytes) -> dict | None:
    """REAL compressed-video decode of the MPEG-1 intra path (see
    mpeg1_codec.mpeg1_frames — sequence/GOP/picture/slice parse, DC
    prediction, Table B.5 VLCs + escape, intra dequant with
    oddification, 8×8 IDCT, 4:2:0 assembly): concatenated planar
    frames reduce to the standard 8-chunk-mean features. P/B streams
    return None into the decode_real probe tier."""
    got = mpeg1_frames(payload)
    if got is None:
        return None
    w, h, frames = got
    stream = b"".join(frames)
    return {"width": w, "height": h, "n_frames": len(frames),
            "features": _chunk_means(list(stream))}


def decode_avi(payload: bytes) -> dict | None:
    """REAL video-container decode with stdlib only: uncompressed-DIB
    frames concatenate raw frame bytes (see _avi_frames); MJPG
    streams entropy-decode every ##dc frame through the baseline
    JPEG decoder (see _avi_mjpeg_pixels). Both reduce to the
    standard 8-chunk-mean features with n_frames = the movi frame
    count."""
    got = _avi_frames(payload)
    if got is None:
        got = _avi_mjpeg_pixels(payload)
    if got is None:
        return None
    w, h, frames = got
    stream = b"".join(frames)
    return {"width": w, "height": h, "n_frames": len(frames),
            "features": _chunk_means(list(stream))}


def synth_jpeg_color_payload(doc_id: int) -> bytes:
    """Deterministic VALID baseline 4:4:4 COLOR JPEG: three
    interleaved components (YCbCr, one 8×8 block each per MCU,
    Annex K tables shared). Luma blocks are constant
    (doc_id*5 + block) % 256 with DC quantizer 8 (the exactly-
    lossless construction); chroma is NEUTRAL (Cb = Cr = 128, DC
    diff 0 every block), so the JFIF conversion yields R = G = B = Y
    bit-exactly and the decoded RGB stream stays a closed form of
    doc_id — while the decoder still runs the full interleaved-MCU /
    per-component-predictor / color-conversion machinery (a chroma
    bug shifts every channel and fails the oracle)."""
    w = 8 * (1 + doc_id % 4)
    h = 8 * (1 + (doc_id // 4) % 3)
    dc_codes = _huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    eob_code, eob_len = ac_codes[0x00]
    bw = BitWriter()
    pred_y = 0
    for b in range((w // 8) * (h // 8)):
        dc = ((doc_id * 5 + b) % 256) - 128
        diff = dc - pred_y
        pred_y = dc
        cat = _jpeg_category(diff)
        code, length = dc_codes[cat]
        bw.put(code, length)
        if cat:
            mag = diff if diff > 0 else diff + (1 << cat) - 1
            bw.put(mag, cat)
        bw.put(eob_code, eob_len)
        for _chroma in range(2):             # Cb, Cr: dc 128, diff 0
            code, length = dc_codes[0]
            bw.put(code, length)
            bw.put(eob_code, eob_len)
    dht = (bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
           + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, bytes([0x00]) + bytes([8] * 64))
        + _jpeg_segment(0xC0, sof)
        + _jpeg_segment(0xC4, dht)
        + _jpeg_segment(0xDA, sos)
        + _jpeg_entropy_bytes(bw)
        + b"\xff\xd9"
    )


def synth_jpeg_420_payload(doc_id: int) -> bytes:
    """Deterministic VALID 4:2:0 baseline JPEG — the most common
    real-world JPEG form: Y sampled 2×2, chroma 1×1, so each MCU
    interleaves FOUR luma blocks + Cb + Cr and covers 16×16 pixels.
    Luma block (R, C) of the block grid is constant
    (doc_id*11 + R·(w/8) + C) % 256 (DC quantizer 8 → exactly
    lossless); chroma is neutral, so replication upsampling and the
    color convert leave R = G = B = Y — while the decoder must run
    the full multi-block-per-MCU layout to land each luma block at
    the right grid position (a layout bug scrambles blocks and fails
    the oracle)."""
    w = 16 * (1 + doc_id % 3)
    h = 16 * (1 + (doc_id // 3) % 2)
    dc_codes = _huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    eob_code, eob_len = ac_codes[0x00]
    bw = BitWriter()
    pred_y = 0
    cols = w // 8
    for my in range(h // 16):
        for mx in range(w // 16):
            for r in range(2):
                for q in range(2):
                    dc = ((doc_id * 11 + (2 * my + r) * cols
                           + (2 * mx + q)) % 256) - 128
                    diff = dc - pred_y
                    pred_y = dc
                    cat = _jpeg_category(diff)
                    code, length = dc_codes[cat]
                    bw.put(code, length)
                    if cat:
                        mag = diff if diff > 0 else diff + (1 << cat) - 1
                        bw.put(mag, cat)
                    bw.put(eob_code, eob_len)
            for _chroma in range(2):         # Cb, Cr: dc 128, diff 0
                code, length = dc_codes[0]
                bw.put(code, length)
                bw.put(eob_code, eob_len)
    dht = (bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
           + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, bytes([0x00]) + bytes([8] * 64))
        + _jpeg_segment(0xC0, sof)
        + _jpeg_segment(0xC4, dht)
        + _jpeg_segment(0xDA, sos)
        + _jpeg_entropy_bytes(bw)
        + b"\xff\xd9"
    )


def synth_jpeg_prog_payload(doc_id: int) -> bytes:
    """Deterministic VALID PROGRESSIVE JPEG (SOF2, grayscale, three
    scans): scan 1 codes the DC chain point-transformed by Al=1
    (arithmetic shift), scan 2 is the DC refinement pass (one raw
    bit per block — the low bit of each DC), scan 3 covers the AC
    band 1..63 at Al=0 (all-zero here: one EOB per block). Same
    exactly-lossless constant-block construction as the baseline
    synths — block (R, C) is (doc_id*13 + R·(w/8) + C) % 256 — so
    the DuckDB oracle replays the pixels in closed form while the
    decoder must run the real multi-scan accumulation (a wrong shift
    or refine bit changes every pixel)."""
    w = 8 * (1 + doc_id % 6)
    h = 8 * (1 + (doc_id // 6) % 5)
    cols = w // 8
    dcs = [((doc_id * 13 + b) % 256) - 128
           for b in range(cols * (h // 8))]
    dc_codes = _huffman_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huffman_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw1 = BitWriter()                       # DC first, Al=1
    pred = 0
    for dc in dcs:
        v = dc >> 1                          # arithmetic point transform
        diff = v - pred
        pred = v
        cat = _jpeg_category(diff)
        code, ln = dc_codes[cat]
        bw1.put(code, ln)
        if cat:
            bw1.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    bw2 = BitWriter()                       # DC refine, Ah=1 Al=0
    for dc in dcs:
        bw2.put(dc & 1, 1)
    bw3 = BitWriter()                       # AC first, band 1..63
    eob_code, eob_len = ac_codes[0x00]
    for _ in dcs:
        bw3.put(eob_code, eob_len)           # all-zero band: EOB each
    dht = (bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
           + bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))

    def sos(td_ta: int, ss: int, se: int, ah: int, al: int) -> bytes:
        return _jpeg_segment(
            0xDA, bytes([1, 1, td_ta, ss, se, (ah << 4) | al]))

    return (
        b"\xff\xd8"
        + _jpeg_segment(0xDB, bytes([0x00]) + bytes([8] * 64))
        + _jpeg_segment(0xC2, struct.pack(">BHHB", 8, h, w, 1)
                        + bytes([1, 0x11, 0]))
        + _jpeg_segment(0xC4, dht)
        + sos(0x00, 0, 0, 0, 1) + _jpeg_entropy_bytes(bw1)
        + sos(0x00, 0, 0, 1, 0) + _jpeg_entropy_bytes(bw2)
        + sos(0x00, 1, 63, 0, 0) + _jpeg_entropy_bytes(bw3)
        + b"\xff\xd9"
    )


def _parse_dqt(seg: bytes, qtabs: dict) -> bool:
    """Parse a DQT segment (one or more 8-bit tables, zigzag order)
    into the live table dict — shared by the baseline marker walk and
    the progressive between-scan walk. False for 16-bit tables (the
    honest codec boundary)."""
    p = 0
    while p < len(seg):
        pq, tq = seg[p] >> 4, seg[p] & 0x0F
        if pq != 0:
            return False
        qtabs[tq] = list(seg[p + 1:p + 65])
        p += 65
    return True


def _parse_dht(seg: bytes, dc_tabs: dict, ac_tabs: dict) -> None:
    """Parse a DHT segment (one or more tables) into the live table
    dicts — shared by the baseline marker walk and the progressive
    between-scan walk."""
    p = 0
    while p < len(seg):
        tc, th = seg[p] >> 4, seg[p] & 0x0F
        bits = tuple(seg[p + 1:p + 17])
        nv = sum(bits)
        vals = tuple(seg[p + 17:p + 17 + nv])
        # memo on the exact spec bytes: MJPEG re-declares the same
        # tables every frame, synth corpora every payload — the
        # rebuild (canonical assignment + LUT fill) dominated the
        # MJPEG decode profile before r17
        table = _DHT_MEMO.get((bits, vals))
        if table is None:
            if len(_DHT_MEMO) >= _DHT_MEMO_MAX:
                _DHT_MEMO.clear()
            table = VlcTable({(c, ln): s for s, (c, ln)
                              in _huffman_codes(bits, vals).items()},
                             "jpeg huffman")
            _DHT_MEMO[(bits, vals)] = table
        (dc_tabs if tc == 0 else ac_tabs)[th] = table
        p += 17 + nv


def decode_jpeg(payload: bytes, want_pixels: bool = False):
    """REAL baseline JPEG decode with stdlib + numpy only (the
    PNG/GIF/ADPCM discipline, tier three): marker walk, 8-bit DQT,
    canonical Huffman tables from DHT, MSB-first entropy decode with
    0xFF00 unstuffing, DC prediction + EXTEND, zigzag dequant, full
    8×8 float IDCT (matrix form of the T.81 reconstruction sum),
    level shift and clamp. The full baseline family decodes:
    grayscale, 4:4:4 color, subsampled 4:2:0/4:2:2 (per-component
    sampling factors in {1,2} with replication upsampling), DRI/RSTn
    restart intervals — and SOF2 PROGRESSIVE streams route to the
    Annex G multi-scan decoder (_jpeg_progressive). The honest
    stdlib boundary: arithmetic-coded/lossless/hierarchical SOFs,
    sampling factors outside {1,2}, and 16-bit quant tables return
    None and fall to decode_real's Pillow probe."""
    if payload[:3] != b"\xff\xd8\xff":
        return None
    qtabs: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    w = h = None
    comps: list[tuple] = []       # (comp id, hi, vi, quant id)
    restart_interval = 0                     # DRI: MCUs between RSTn
    progressive = False
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        seg = payload[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:
            if not _parse_dqt(seg, qtabs):
                return None                  # 16-bit tables unsupported
        elif marker in (0xC0, 0xC2):
            progressive = marker == 0xC2
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[:6])
            if prec != 8 or ncomp not in (1, 3) \
                    or len(seg) < 6 + 3 * ncomp:
                return None
            if w * h > _MAX_DECODE_PIXELS:
                return None      # hostile/corrupt header: the planes
                # are allocated from these UNVALIDATED dims BEFORE any
                # entropy byte is read, and MemoryError is not part of
                # the never-raise null contract's catch set
            comps = []
            for c in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * c:9 + 3 * c]
                hi, vi = sampling >> 4, sampling & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    return None              # exotic sampling: codec tier
                comps.append((cid, hi, vi, tq))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None                      # extended/arith/lossless
        elif marker == 0xC4:
            _parse_dht(seg, dc_tabs, ac_tabs)
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:
            if w is None:
                return None
            if progressive:
                return _jpeg_progressive(payload, pos, w, h, comps,
                                         qtabs, dc_tabs, ac_tabs,
                                         restart_interval, want_pixels)
            ns = seg[0]
            if ns != len(comps):
                return None
            by_id = {c[0]: c for c in comps}
            plan = []                # (qtab, dc_tab, ac_tab, hi, vi)
            for c in range(ns):
                cid, tsel = seg[1 + 2 * c], seg[2 + 2 * c]
                if cid not in by_id:
                    return None
                _cid, hi, vi, tq = by_id[cid]
                if ns == 1:
                    # T.81 F.2.2: a single-component scan is NON-
                    # interleaved — one block per "MCU" over the
                    # component's own raster, whatever the SOF
                    # sampling factors declare (a grayscale file
                    # declaring 2x2 factors is legal and common from
                    # color-to-gray converters)
                    hi = vi = 1
                plan.append((qtabs.get(tq),
                             dc_tabs.get(tsel >> 4),
                             ac_tabs.get(tsel & 0x0F), hi, vi))
            scan_pos = pos + 2 + seg_len
            return _jpeg_scan(payload, scan_pos, w, h, plan,
                              restart_interval, want_pixels)
        pos += 2 + seg_len
    return None


def _jpeg_decode_block(br: _JpegBitReader, qtab: list, dc_tab: VlcTable,
                       ac_tab: VlcTable, pred: int) -> tuple:
    """One entropy-coded 8×8 block → (spatial int block, new DC
    predictor). Shared by the grayscale path and each component of
    an interleaved color MCU."""
    zz = [0] * 64
    cat = dc_tab.decode(br)
    diff = _jpeg_extend(br.take(cat), cat) if cat else 0
    pred += diff
    zz[0] = pred * qtab[0]
    k = 1
    ac_seen = False
    while k < 64:
        sym = ac_tab.decode(br)
        if sym == 0x00:                      # EOB
            break
        if sym == 0xF0:                      # ZRL: 16 zeros
            k += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        k += run
        if k >= 64 or size == 0:
            raise ValueError("jpeg: AC index past block")
        zz[k] = _jpeg_extend(br.take(size), size) * qtab[k]
        k += 1
        ac_seen = True
    if not ac_seen:
        # DC-only block (every block of the constant-block synth
        # corpora): the IDCT of a lone DC coefficient is the constant
        # (M[0,i]·DC)·M[0,j] with M[0,*] all equal — the exact same
        # two float products the general matmul performs for the one
        # non-zero row (its remaining terms are exact-zero adds), so
        # the scalar short-circuit is bit-identical (pytest-pinned
        # against the matmul path). Returning a scalar is fine: the
        # callers assign it into an 8×8 plane slice.
        m0 = _JPEG_IDCT_M[0, 0]
        val = min(max(round((m0 * float(zz[0])) * m0) + 128.0, 0.0),
                  255.0)
        return val, pred
    coef = np.zeros((8, 8))
    for i, (r, c) in enumerate(_JPEG_ZIGZAG):
        coef[r, c] = zz[i]
    block = _JPEG_IDCT_M.T @ coef @ _JPEG_IDCT_M
    spatial = np.clip(np.round(block) + 128, 0, 255)
    return spatial, pred


def _jpeg_scan(payload: bytes, pos: int, w: int, h: int,
               plan: list, restart_interval: int = 0,
               want_pixels: bool = False):
    """Entropy-decode the single interleaved scan with per-component
    sampling factors (T.81 A.2.3): each MCU carries hi×vi blocks per
    component in raster order — 1×1 each for grayscale/4:4:4, Y 2×2 +
    chroma 1×1 for 4:2:0, Y 2×1 for 4:2:2. Subsampled planes are
    decoded at their own resolution and upsampled by sample
    REPLICATION (nearest) to the luma grid. Per-component DC
    predictors; a non-zero DRI interval consumes an RSTn marker and
    resets every predictor after that many MCUs (§F.2.1.3.1); then
    grayscale passthrough or JFIF YCbCr→RGB
    (R = Y + 1.402·(Cr−128),
    G = Y − 0.344136·(Cb−128) − 0.714136·(Cr−128),
    B = Y + 1.772·(Cb−128); round then clamp)."""
    if any(t is None for spec in plan for t in spec[:3]):
        return None
    ncomp = len(plan)
    hmax = max(spec[3] for spec in plan)
    vmax = max(spec[4] for spec in plan)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    br = _JpegBitReader(payload, pos)
    planes = [np.zeros((mcus_y * 8 * spec[4], mcus_x * 8 * spec[3]))
              for spec in plan]
    preds = [0] * ncomp
    mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu and mcu % restart_interval == 0:
                br.restart()
                preds = [0] * ncomp
            mcu += 1
            for c, (qtab, dc_tab, ac_tab, hi, vi) in enumerate(plan):
                for r in range(vi):
                    for q in range(hi):
                        spatial, preds[c] = _jpeg_decode_block(
                            br, qtab, dc_tab, ac_tab, preds[c])
                        y0 = (my * vi + r) * 8
                        x0 = (mx * hi + q) * 8
                        planes[c][y0:y0 + 8, x0:x0 + 8] = spatial
    samplings = [(spec[3], spec[4]) for spec in plan]
    return _jpeg_planes_to_features(planes, samplings, w, h,
                                    hmax, vmax, want_pixels)


def _jpeg_planes_to_features(planes: list, samplings: list, w: int,
                             h: int, hmax: int, vmax: int,
                             want_pixels: bool = False):
    """Shared reconstruction tail (baseline and progressive):
    replicate subsampled planes to the luma grid, then grayscale
    passthrough or JFIF YCbCr→RGB, crop, chunk means — or, with
    ``want_pixels``, the raw (w, h, nch, top-down stream) tuple for
    the normalize/resize stage."""
    for c, (hi, vi) in enumerate(samplings):
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:
            planes[c] = np.repeat(np.repeat(planes[c], ry, axis=0),
                                  rx, axis=1)
    if len(planes) == 1:
        pix = planes[0][:h, :w].astype(np.int64).reshape(-1).tolist()
    else:
        y = planes[0][:h, :w]
        cb = planes[1][:h, :w] - 128.0
        cr = planes[2][:h, :w] - 128.0
        r = np.clip(np.round(y + 1.402 * cr), 0, 255)
        g = np.clip(np.round(y - 0.344136 * cb - 0.714136 * cr), 0, 255)
        b = np.clip(np.round(y + 1.772 * cb), 0, 255)
        pix = np.stack([r, g, b], axis=-1).astype(
            np.int64).reshape(-1).tolist()
    if want_pixels:
        return int(w), int(h), len(planes) if len(planes) > 1 else 1, \
            bytes(pix)
    return {"width": int(w), "height": int(h), "n_frames": 1,
            "features": _chunk_means(pix)}


def _jpeg_ac_first(br: _JpegBitReader, ac_tab: VlcTable, zz: list,
                   ss: int, se: int, al: int, eobrun: int) -> int:
    """Progressive AC scan, first pass (T.81 G.1.2.2): spectral band
    [ss, se], coefficients point-transformed by Al, EOBn codes carry
    end-of-band runs across blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = ac_tab.decode(br)
        r, s = sym >> 4, sym & 0x0F
        if s:
            k += r
            if k > se:
                raise ValueError("jpeg: AC band overflow")
            zz[k] = _jpeg_extend(br.take(s), s) * (1 << al)
            k += 1
        elif r == 15:
            k += 16                          # ZRL
        else:
            eobrun = (1 << r) - 1
            if r:
                eobrun += br.take(r)
            break
    return eobrun


def _jpeg_ac_refine(br: _JpegBitReader, ac_tab: VlcTable, zz: list,
                    ss: int, se: int, al: int, eobrun: int) -> int:
    """Progressive AC scan, refinement pass (T.81 G.1.2.3): each
    already-nonzero coefficient in the band consumes a correction
    bit; s=1 symbols insert new ±1<<Al coefficients at zero-history
    positions; EOBn runs cover whole blocks whose remaining nonzero
    coefficients still take correction bits."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = ac_tab.decode(br)
            r, s = sym >> 4, sym & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.take(r)
                    break
                # r == 15: ZRL — pass over 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError("jpeg: refine size != 1")
                val = p1 if br.take(1) else m1
            while k <= se:
                if zz[k]:
                    if br.take(1) and (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    if r == 0:
                        if val:
                            zz[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:                       # EOB region: correction
            if zz[k]:                        # bits for the nonzeros
                if br.take(1) and (zz[k] & p1) == 0:
                    zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _jpeg_progressive(payload: bytes, pos: int, w: int, h: int,
                      comps: list, qtabs: dict, dc_tabs: dict,
                      ac_tabs: dict, restart_interval: int,
                      want_pixels: bool = False):
    """T.81 Annex G progressive decode: quantized coefficients
    accumulate per block across every scan (DC first/refine with the
    point transform as arithmetic shift; AC first/refine over
    spectral bands with EOBn runs); dequant + IDCT happen once at
    EOI. Interleaved multi-component DC scans and single-component
    non-interleaved scans are both handled; DHT/DRI segments between
    scans update tables live. ``pos`` is the first SOS marker."""
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    info: dict[int, dict] = {}
    for cid, hi, vi, tq in comps:
        wb, hb = mcus_x * hi, mcus_y * vi
        cw = -(-(w * hi) // hmax)            # component resolution
        ch = -(-(h * vi) // vmax)
        info[cid] = {
            "hi": hi, "vi": vi, "tq": tq, "wb": wb, "hb": hb,
            "wb_n": -(-cw // 8), "hb_n": -(-ch // 8),
            # numpy int32 store: 256 B/block vs ~600 B for int
            # lists (quantized coefficients fit int32 with room —
            # max |DC| ≈ 2047 << 13 ≈ 1.7e7); the _MAX_DECODE_PIXELS
            # guard was sized for numpy costs
            "coefs": np.zeros((wb * hb, 64), dtype=np.int32),
        }
    dri = restart_interval
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", payload[pos + 2:pos + 4])[0]
        seg = payload[pos + 4:pos + 2 + seg_len]
        if marker == 0xC4:
            _parse_dht(seg, dc_tabs, ac_tabs)
        elif marker == 0xDB:
            # T.81 allows (re)defining quant tables between scans —
            # dequant only happens at reconstruction
            if not _parse_dqt(seg, qtabs):
                return None
        elif marker == 0xDD:
            dri = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:
            ns = seg[0]
            scomps = []
            for c in range(ns):
                cid, tsel = seg[1 + 2 * c], seg[2 + 2 * c]
                if cid not in info:
                    return None
                scomps.append((cid, tsel >> 4, tsel & 0x0F))
            ss, se, a = seg[1 + 2 * ns:4 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            br = _JpegBitReader(payload, pos + 2 + seg_len)
            _jpeg_progressive_one_scan(
                br, info, scomps, dc_tabs, ac_tabs,
                ss, se, ah, al, dri, mcus_x, mcus_y)
            pos = br.pos
            continue
        pos += 2 + seg_len
    planes, samplings = [], []
    m0 = _JPEG_IDCT_M[0, 0]
    for cid, hi, vi, tq in comps:
        ci = info[cid]
        qtab = qtabs.get(tq)
        if qtab is None:
            return None
        plane = np.full((ci["hb"] * 8, ci["wb"] * 8), 128.0)
        coefs = ci["coefs"]
        # vectorized block triage (r17): one pass finds the nonzero
        # blocks and which of them carry AC, instead of a per-block
        # .any() Python call over the whole grid
        nonzero = np.flatnonzero(coefs.any(axis=1))
        has_ac = coefs[:, 1:].any(axis=1)
        for b in nonzero:
            zz = coefs[b]
            by, bx = divmod(int(b), ci["wb"])
            if not has_ac[b]:
                # DC-only block (every block of the constant-block
                # synth corpus): same scalar short-circuit as
                # _jpeg_decode_block's pinned fast path — the IDCT of
                # a lone DC is the constant (M[0,i]·DC)·M[0,j], the
                # identical two float products the matmul performs
                # for its one non-zero row. float() of the int32
                # product reproduces the coef-array float64 store.
                val = min(max(round((m0 * float(zz[0] * qtab[0])) * m0)
                              + 128.0, 0.0), 255.0)
                plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = val
                continue
            coef = np.zeros((8, 8))
            for i, (r, c) in enumerate(_JPEG_ZIGZAG):
                coef[r, c] = zz[i] * qtab[i]
            block = _JPEG_IDCT_M.T @ coef @ _JPEG_IDCT_M
            plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = np.clip(
                np.round(block) + 128, 0, 255)
        planes.append(plane)
        samplings.append((hi, vi))
    return _jpeg_planes_to_features(planes, samplings, w, h,
                                    hmax, vmax, want_pixels)


def _jpeg_progressive_one_scan(br: _JpegBitReader, info: dict,
                               scomps: list, dc_tabs: dict,
                               ac_tabs: dict, ss: int, se: int,
                               ah: int, al: int, dri: int,
                               mcus_x: int, mcus_y: int) -> None:
    """Decode one progressive scan's entropy data in place."""
    if ss == 0:                              # DC scan
        if se != 0:
            raise ValueError("jpeg: bad DC scan band")
        preds = {cid: 0 for cid, _td, _ta in scomps}
        if len(scomps) > 1:                  # interleaved over MCUs
            unit = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if dri and unit and unit % dri == 0:
                        br.restart()
                        preds = {c: 0 for c in preds}
                    unit += 1
                    for cid, td, _ta in scomps:
                        ci = info[cid]
                        for r in range(ci["vi"]):
                            for q in range(ci["hi"]):
                                b = ((my * ci["vi"] + r) * ci["wb"]
                                     + mx * ci["hi"] + q)
                                zz = ci["coefs"][b]
                                preds[cid] = _jpeg_dc_progress(
                                    br, dc_tabs.get(td), zz, ah, al,
                                    preds[cid])
        else:                                # single comp: raster
            cid, td, _ta = scomps[0]
            ci = info[cid]
            unit = 0
            for by in range(ci["hb_n"]):
                for bx in range(ci["wb_n"]):
                    if dri and unit and unit % dri == 0:
                        br.restart()
                        preds = {c: 0 for c in preds}
                    unit += 1
                    zz = ci["coefs"][by * ci["wb"] + bx]
                    preds[cid] = _jpeg_dc_progress(
                        br, dc_tabs.get(td), zz, ah, al, preds[cid])
    else:                                    # AC scan: one component
        if len(scomps) != 1:
            raise ValueError("jpeg: interleaved AC scan")
        cid, _td, ta = scomps[0]
        ac_tab = ac_tabs.get(ta)
        if ac_tab is None:
            raise ValueError("jpeg: missing AC table")
        ci = info[cid]
        eobrun = 0
        unit = 0
        for by in range(ci["hb_n"]):
            for bx in range(ci["wb_n"]):
                if dri and unit and unit % dri == 0:
                    br.restart()
                    eobrun = 0
                unit += 1
                zz = ci["coefs"][by * ci["wb"] + bx]
                if ah == 0:
                    eobrun = _jpeg_ac_first(br, ac_tab, zz, ss, se,
                                            al, eobrun)
                else:
                    eobrun = _jpeg_ac_refine(br, ac_tab, zz, ss, se,
                                             al, eobrun)


def _jpeg_dc_progress(br: _JpegBitReader, dc_tab: VlcTable | None,
                      zz: list, ah: int, al: int, pred: int) -> int:
    """One block's DC in a progressive DC scan: first pass decodes
    the point-transformed diff chain; refinement ORs in the next
    lower bit (two's complement, so negatives refine correctly)."""
    if ah == 0:
        if dc_tab is None:
            raise ValueError("jpeg: missing DC table")
        cat = dc_tab.decode(br)
        diff = _jpeg_extend(br.take(cat), cat) if cat else 0
        pred += diff
        zz[0] = pred << al
    else:
        if br.take(1):
            zz[0] |= 1 << al
    return pred


def decode_real(payload: bytes, media_type: str) -> dict:
    """Codec-tier decode with CAPABILITY PROBING: the uncompressed
    public formats (24-bit BMP, 16-bit PCM WAV) decode via the pure
    byte-level parsers above — always available. Compressed codecs
    probe their decoder library AT CALL TIME (Pillow → image,
    soundfile → audio, av → video) and raise NotImplementedError only
    when the library is genuinely absent, so the same code
    self-activates unchanged in a container that ships the codecs
    (pytest.importorskip test in tests/test_multimodal.py)."""
    out = decode_samples(payload)
    if out is not None:
        return out
    if media_type == "image":
        try:
            from PIL import Image  # noqa: PLC0415
        except ImportError as e:
            raise NotImplementedError(
                "arithmetic-coded/lossless JPEG decode needs Pillow "
                "(absent here); BMP, PNG, GIF and the whole "
                "Huffman JPEG family (baseline gray/4:4:4/4:2:0, "
                "restart markers, progressive) decode without it "
                "via decode_samples"
            ) from e
        import io  # noqa: PLC0415
        img = Image.open(io.BytesIO(payload)).convert("RGB")
        return {"width": img.width, "height": img.height, "n_frames": 1,
                "features": _chunk_means(list(img.tobytes()))}
    if media_type == "audio":
        try:
            import soundfile  # noqa: PLC0415
        except ImportError as e:
            raise NotImplementedError(
                "compressed audio decode needs soundfile (absent here); "
                "PCM WAV, G.711, IMA-ADPCM and FLAC decode without it "
                "via decode_samples, and MPEG-1 Layer I decodes to the "
                "subband domain via operators/mpa_codec.py (time-domain "
                "synthesis stays probed: Table B.3)"
            ) from e
        import io  # noqa: PLC0415
        data, _rate = soundfile.read(io.BytesIO(payload), dtype="int16")
        flat = [abs(int(v)) for v in data.reshape(-1)]
        return {"width": None, "height": None, "n_frames": len(flat),
                "features": _chunk_means(flat)}
    if media_type == "video":
        try:
            import av  # noqa: PLC0415
        except ImportError as e:
            raise NotImplementedError(
                "video decode needs av/pyav (absent here)"
            ) from e
        import io  # noqa: PLC0415
        with av.open(io.BytesIO(payload)) as container:
            frames = [f for f in container.decode(video=0)]
        first = frames[0].to_ndarray(format="rgb24")
        return {"width": first.shape[1], "height": first.shape[0],
                "n_frames": len(frames),
                "features": _chunk_means(list(first.reshape(-1)))}
    raise NotImplementedError(f"no decoder for media_type={media_type!r}")


def decode_stub(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decode: shape metadata + an 8-dim feature
    block derived from payload bytes (stable across runs/engines)."""
    n = len(payload)
    width = 16 + n % 64
    height = 16 + (n // 64) % 64
    n_frames = 1 if media_type == "image" else 1 + n % 30
    # chunk-sum "features": mean byte value per 8 equal chunks
    feats = []
    step = max(n // 8, 1)
    for i in range(8):
        chunk = payload[i * step:(i + 1) * step]
        feats.append(float(sum(chunk)) / len(chunk) if chunk else 0.0)
    return {"width": width, "height": height, "n_frames": n_frames,
            "features": feats}


def media_table_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose binary payloads are VALID encoded files
    (BMP/WAV via synth_media_payload; video rows stay opaque).
    Synthesis runs in the same Arrow-batched mapInPandas shape the
    decode uses — in production these bytes arrive from object
    storage instead."""
    doc = scatter(load_table(spark, sf_dir, "documents"),
                  bytes_per_task=_MEDIA_BPT_ENC).select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        "text",
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                synth_media_payload(int(d), m, t)
                for d, m, t in zip(pdf["doc_id"], pdf["media_type"], pdf["text"])
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "payload": payloads,
                "payload_len": pd.Series([len(p) for p in payloads],
                                         dtype="int64"),
                "magic_hex": [p[:4].hex().upper() for p in payloads],
            })

    return doc.mapInPandas(synth, schema=MEDIA_SCHEMA)


def decode_headers(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL header decode over mapInPandas: each batch's
    payload bytes are parsed by parse_media_header (BMP/WAV walkers);
    unknown formats yield null metadata. Narrow map — no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [parse_media_header(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "width": pd.array([m["width"] for m in metas], dtype="Int32"),
                "height": pd.array([m["height"] for m in metas], dtype="Int32"),
                "sample_rate": pd.array([m["sample_rate"] for m in metas],
                                        dtype="Int32"),
                "n_samples": pd.array([m["n_samples"] for m in metas],
                                      dtype="Int64"),
                "duration_ms": pd.array([m["duration_ms"] for m in metas],
                                        dtype="float64"),
            })

    return media.mapInPandas(run, schema=HEADER_SCHEMA)


def multimodal_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode pipeline: synthesize valid BMP/WAV
    payloads, push them through the Arrow decode stage, return the
    parsed header metadata. Oracle-checkable because the shape
    parameters are pure functions of doc_id — so DuckDB predicts
    exactly what the byte-level round trip must recover."""
    return decode_headers(media_table_encoded(spark, sf_dir))


def decode_features(media: DataFrame, batch_decoder=decode_stub) -> DataFrame:
    """Arrow-batched decode/feature-extract over mapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "payload_len": pdf["payload_len"],
            }
            decoded = [
                batch_decoder(p, m)
                for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            out["width"] = pd.array([d["width"] for d in decoded],
                                    dtype="Int32")
            out["height"] = pd.array([d["height"] for d in decoded],
                                     dtype="Int32")
            out["n_frames"] = pd.array([d["n_frames"] for d in decoded],
                                       dtype="Int32")
            out["features"] = pd.Series([d["features"] for d in decoded],
                                        dtype="object")
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


_NULL_DECODE = {"width": None, "height": None, "n_frames": None,
                "features": None}

# Every exception a malformed-but-magic-bearing payload may raise out
# of the pure-Python decoders. The null-row boundaries catch exactly
# this set; anything else is a code bug that SHOULD fail the task.
_DECODE_ERRORS = (ValueError, KeyError, IndexError, struct.error,
                  zlib.error, OverflowError, RecursionError)


def _synth_media_df(spark: SparkSession, sf_dir: str, synth_fn,
                    media_type: str,
                    bytes_per_task: int = _MEDIA_BPT) -> DataFrame:
    """Shared synthesis stage for the per-format pipelines
    (png/gif/jpeg/jpeg_color/adpcm/mulaw/avi/frame_sample): documents
    doc_ids → Arrow mapInPandas → MEDIA_SCHEMA rows whose payload is
    ``synth_fn(doc_id)``. One definition so a schema change edits one
    place, not eight copies."""
    # scatter: the synth+decode mapInPandas chain is narrow end-to-end,
    # so the input partition count IS the pipeline's parallelism — one
    # single-row-group file would run the whole Python codec stage on
    # one core (guide §2.5); no-op on already-wide scans. r17: width
    # follows input bytes at the caller's per-row-cost grade (r16's
    # unconditional 32-way split cost more scheduling/Arrow overhead
    # than it saved on the cheap formats at sf0.1 — VERDICT item 1;
    # the probe reads documents' raw file size, a row-count proxy).
    doc = scatter(load_table(spark, sf_dir, "documents").select("doc_id"),
                  bytes_per_task=bytes_per_task)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [synth_fn(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": media_type,
                "payload": payloads,
                "payload_len": pd.Series([len(p) for p in payloads],
                                         dtype="int64"),
                "magic_hex": [p[:4].hex().upper() for p in payloads],
            })

    return doc.mapInPandas(synth, schema=MEDIA_SCHEMA)


def _decoded_feature_select(media: DataFrame,
                            with_dims: bool = True) -> DataFrame:
    """Shared decode + projection tail: Arrow feature decode, then
    doc_id [+ width/height] + n_frames + f0..f7."""
    df = decode_features(media, batch_decoder=_samples_or_null)
    dims = ["width", "height"] if with_dims else []
    return df.select(
        "doc_id", *dims, "n_frames",
        *[F.col("features")[i].alias(f"f{i}") for i in range(8)],
    )


def _samples_or_null(payload: bytes, media_type: str) -> dict:
    """Feature-pass decoder: real pixel/sample decode where the bytes
    allow it, null metadata for opaque rows (a corpus feature pass
    leaves undecodable rows null rather than failing the job;
    decode_real is the raising entry point for must-decode callers).
    MALFORMED payloads that carry a known magic (a truncated image
    descriptor, an LZW code past the table, a corrupt inflate stream)
    must also go null, never raise — the decoders raise
    ValueError/KeyError/IndexError/struct.error/zlib.error on such
    bytes and this boundary converts all of them to the null row.
    OverflowError/RecursionError are in the set as a backstop: the
    decoders range-check samples and walk containers iteratively, but
    a crafted payload must never fail the whole Spark task through an
    escape hatch this boundary didn't anticipate."""
    try:
        out = decode_samples(bytes(payload))
    except _DECODE_ERRORS:
        return dict(_NULL_DECODE)
    if out is None:
        return dict(_NULL_DECODE)
    return out


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL pixel/sample-level decode: valid BMP/WAV bytes
    → Arrow mapInPandas → actual pixel rows / PCM samples → per-chunk
    mean features. Oracle-checkable because the synthesized pixel and
    sample values are pure functions of doc_id, so DuckDB replays the
    exact chunk means the byte-level decode must recover (features
    projected to f0..f7 doubles for the sorted-column value hash)."""
    df = decode_features(media_table_encoded(spark, sf_dir),
                         batch_decoder=_samples_or_null)
    return df.select(
        "doc_id", "media_type", "payload_len", "width", "height",
        "n_frames",
        *[F.col("features")[i].alias(f"f{i}") for i in range(8)],
    )


def resize_bmp(payload: bytes, tw: int, th: int) -> bytes | None:
    """REAL nearest-neighbor resize of an uncompressed 24-bit BMP —
    pure byte work (read pixel (x·w//tw, y·h//th) of each target
    cell, re-pack rows with 4-byte stride padding, rewrite the
    headers). None for non-BMP payloads (those need a codec — the
    decode_real capability-probe tier)."""
    if payload[:2] != b"BM" or len(payload) < 54:
        return None
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = abs(int.from_bytes(payload[22:26], "little", signed=True))
    offset = int.from_bytes(payload[10:14], "little")
    stride = (w * 3 + 3) & ~3
    pix = payload[offset:offset + stride * h]
    tstride = (tw * 3 + 3) & ~3
    out = bytearray(tstride * th)
    for y in range(th):
        sy = y * h // th
        row = sy * stride
        trow = y * tstride
        for x in range(tw):
            sx = x * w // tw
            out[trow + 3 * x:trow + 3 * x + 3] = (
                pix[row + 3 * sx:row + 3 * sx + 3])
    header = struct.pack("<2sIHHI", b"BM", 54 + len(out), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, tw, th, 1, 24, 0, len(out),
                       2835, 2835, 0, 0)
    return header + info + bytes(out)


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload", BinaryType()),       # resized (or original)
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("resized", StringType()),       # real | passthrough
])


def resize_images(media: DataFrame, target: int = 224) -> DataFrame:
    """Arrow-batched REAL resize stage: BMP payloads come out as
    VALID target×target BMPs (decode_samples round-trips them);
    non-BMP rows pass through opaque with ``resized='passthrough'``
    — the honest boundary until a codec library is present. Narrow
    map, binary in/binary out, exactly the shape a production
    image-preprocessing stage needs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, widths, heights, modes = [], [], [], []
            for p in pdf["payload"]:
                rb = resize_bmp(bytes(p), target, target)
                if rb is None:
                    payloads.append(bytes(p))
                    widths.append(None)
                    heights.append(None)
                    modes.append("passthrough")
                else:
                    payloads.append(rb)
                    widths.append(target)
                    heights.append(target)
                    modes.append("real")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "payload": payloads,
                "width": pd.array(widths, dtype="Int32"),
                "height": pd.array(heights, dtype="Int32"),
                "resized": modes,
            })

    return media.mapInPandas(run, schema=RESIZE_SCHEMA)


def resize_stub(media: DataFrame, target: int = 224) -> DataFrame:
    """Resize pipeline stage (stub): keeps the binary payload opaque,
    records the intended target dims — kept as the plumbing shape for
    formats resize_images cannot decode without a codec."""
    return media.withColumn("resize_target", F.lit(target))


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: emits (doc_id, frame_idx)
    rows JVM-side from stubbed frame counts — the explode shape real
    frame sampling needs (one output row per sampled frame)."""
    frames = decode_features(media).where(F.col("media_type") == "video")
    return frames.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable slice of the media table: byte stats + typed
    metadata (everything except the Python decode stage)."""
    media = media_table(spark, sf_dir)
    return media.select(
        "doc_id", "media_type", "payload_len", "magic_hex",
        F.md5("payload").alias("payload_md5"),
    )


def multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL compressed-image decode with stdlib only:
    synthesize valid RGB PNGs (one per document, every row carrying a
    different PNG filter type), push them through the Arrow
    mapInPandas decode (inflate + all-five-filter defilter), reduce
    to chunk-mean features. Oracle-checkable because the raw pixel
    stream is a pure function of doc_id — the filters and the deflate
    round trip must cancel exactly for the chunk means to match."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_png_payload, "image",
                        bytes_per_task=_MEDIA_BPT_MED))


def multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL LZW decode with stdlib only: synthesize valid
    GIF89a payloads (one per document, genuinely LZW-compressed index
    streams), push them through the Arrow mapInPandas decode
    (variable-width LZW + 256-color palette resolution), reduce to
    chunk-mean features. Oracle-checkable because the palette-resolved
    RGB stream is a pure function of doc_id — byte j is
    ((doc_id + j//3) + 85*(j%3)) % 256 — so the LZW round trip and the
    palette lookup must cancel exactly for the chunk means to match."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_gif_payload, "image",
                        bytes_per_task=_MEDIA_BPT_MED))


def multimodal_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL compressed-AUDIO decode with stdlib only (the
    PNG/GIF discipline extended to audio, VERDICT r7 item 6):
    synthesize valid multi-block IMA-ADPCM WAVs (wFormatTag 0x11),
    push them through the Arrow mapInPandas decode (RIFF walk + fact
    trim + saturating table-driven nibble recurrence), reduce to
    chunk-mean |sample| features. Oracle-checkable because the nibble
    stream and block seeds are pure functions of doc_id: DuckDB
    replays the SAME IMA recurrence symbolically with a recursive CTE
    — step table, saturation clamps, block reseeds and all — so any
    decoder defect (nibble order, clamp, table entry, block boundary)
    breaks the bit-exact parity."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_adpcm_payload, "audio"), with_dims=False)


def multimodal_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end G.711 μ-law decode (the companded-audio complement
    to the IMA-ADPCM key): synthesize valid wFormatTag=7 WAVs, decode
    through the same Arrow mapInPandas path (RIFF walk + per-byte
    μ-law expansion), reduce to chunk-mean |sample| features.
    Oracle-checkable because μ-law expansion is CLOSED-FORM per code
    byte — the DuckDB oracle rebuilds mantissa/exponent/sign/bias
    arithmetic symbolically over the doc_id-derived byte stream."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_mulaw_payload, "audio"), with_dims=False)


def multimodal_alaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end G.711 A-law decode (the second companded-audio
    law, completing the telephony pair with ``multimodal_mulaw``):
    synthesize valid wFormatTag=6 WAVs, decode through the same Arrow
    mapInPandas path (RIFF walk + per-byte A-law expansion), reduce
    to chunk-mean |sample| features. Oracle-checkable because A-law
    expansion is CLOSED-FORM per code byte — the DuckDB oracle
    rebuilds the xor-0x55 / mantissa / segment-shift / sign
    arithmetic symbolically over the doc_id-derived byte stream."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_alaw_payload, "audio"),
        with_dims=False)


def multimodal_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LOSSLESS-compressed-audio decode with stdlib only:
    synthesize valid FLAC streams (real Rice-coded FIXED-predictor
    frames, CRC-8/CRC-16/MD5 all verified on decode — see
    flac_codec), push them through the Arrow mapInPandas feature
    pass, reduce to chunk-mean |sample| features. The compressed
    counterpart of the PCM WAV path: because FLAC is lossless the
    decoded stream equals the closed-form synth input exactly, so
    the DuckDB oracle replays the pipeline with no codec knowledge
    (the PNG/GIF argument extended to audio)."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_flac_payload, "audio",
                        bytes_per_task=_MEDIA_BPT_HEAVY),
        with_dims=False)


def multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL baseline-JPEG decode with stdlib + numpy only:
    synthesize valid T.81 grayscale JPEGs (Annex K Huffman tables,
    genuine entropy coding with byte stuffing), push them through the
    Arrow mapInPandas decode (marker walk + canonical Huffman + DC
    prediction + zigzag dequant + full 8×8 IDCT), reduce to
    chunk-mean features. Oracle-checkable because each 8×8 block is
    constant with DC quantizer 8, making the lossy codec EXACTLY
    lossless on these payloads — pixel j of doc_id is
    (doc_id*3 + (j÷w÷8)·(w÷8) + (j mod w)÷8) mod 256, which DuckDB
    replays symbolically."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_jpeg_payload, "image",
                        bytes_per_task=_MEDIA_BPT_MED))


def multimodal_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end baseline 4:4:4 COLOR JPEG decode: interleaved
    3-component MCUs, per-component DC predictors, JFIF YCbCr→RGB —
    all real; the neutral-chroma synth (see synth_jpeg_color_payload)
    keeps the lossy codec exactly lossless so DuckDB replays the RGB
    stream in closed form."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_jpeg_color_payload, "image",
                        bytes_per_task=_MEDIA_BPT_MED))


def multimodal_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL video-container decode with stdlib only:
    synthesize valid uncompressed-DIB AVIs (real RIFF hdrl/strl/movi
    structure), walk them in the Arrow mapInPandas batch, reduce the
    concatenated frame bytes to chunk-mean features with the frame
    count from the movi chunks. Completes the media-type triangle —
    image (BMP/PNG/GIF/JPEG), audio (PCM/μ-law/ADPCM), video (DIB
    AVI) — all oracle-checked; Motion-JPEG is the stdlib compressed
    tier (multimodal_mjpeg), inter-frame codecs stay on the av
    probe."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_avi_payload, "video"))


def multimodal_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end COMPRESSED-video decode with stdlib + numpy only —
    the tier VERDICT r7 called never-executed, now real: synthesize
    valid Motion-JPEG AVIs (fccHandler/biCompression 'MJPG', every
    movi chunk a ``00dc`` frame holding a standalone baseline JPEG),
    walk the RIFF tree and entropy-decode EVERY frame through the
    full T.81 baseline decoder (canonical Huffman + DC prediction +
    zigzag dequant + 8×8 IDCT), then reduce the concatenated pixel
    streams to chunk-mean features. Oracle-checkable because each
    frame uses the constant-block/DC-q=8 construction that makes the
    lossy codec exactly lossless (see synth_mjpeg_payload)."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_mjpeg_payload, "video",
                        bytes_per_task=_MEDIA_BPT_HEAVY))


FRAME_SAMPLE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_mean", DoubleType()),
])


def multimodal_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAW-video-stream decode with stdlib only: YUV4MPEG2
    is to video what PCM WAV is to audio and BMP to images — the
    public uncompressed interchange format (mjpegtools), so this key
    completes the uncompressed tier across all three media types
    inside one corpus. Synthesize valid C420jpeg streams, walk the
    FRAME-delimited planar frames in the Arrow mapInPandas batch,
    reduce to chunk-mean features with the stream's true frame
    count."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_y4m_payload, "video"))


def multimodal_mpeg1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MPEG-1 VIDEO decode of the intra path with stdlib +
    numpy only — the inter-frame-capable container tier the r9
    verdict asked for one real step of: synthesize valid ISO/IEC
    11172-2 I-picture streams (real sequence/GOP/picture/slice
    syntax, Table B.5 DC and coefficient VLCs, genuine entropy
    coding), walk and entropy-decode every picture in the Arrow
    mapInPandas batch (DC prediction, intra dequant + oddification,
    zigzag, full 8×8 IDCT, 4:2:0 macroblock assembly), reduce the
    concatenated planar frames to chunk-mean features.
    Oracle-checkable because MPEG-1 intra DC quantizes with a FIXED
    step of 8, so the constant-block synth is exactly lossless (the
    JPEG DC-q=8 argument); P/B prediction stays on the decode_real
    probe tier."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_mpeg1_payload, "video",
                        bytes_per_task=_MEDIA_BPT_MED))


def multimodal_frame_sample(spark: SparkSession, sf_dir: str,
                            every_n: int = 2) -> DataFrame:
    """REAL frame sampling — the production explode shape
    (one output row per sampled frame) with ACTUAL per-frame pixel
    bytes, not the stubbed frame counts `frame_sample` plumbs: decode
    the AVI in the Arrow batch, emit every ``every_n``-th frame's
    index and mean byte value (exact integer sum / fixed frame size,
    so the doubles are engine-identical). This is the stage a video
    training pipeline runs before per-frame feature extraction.
    Undecodable payloads and degenerate (zero-length) frames are
    SKIPPED, never raised — the same null-row discipline as
    _samples_or_null, shaped as row omission because the output is
    an explode."""
    media = _synth_media_df(spark, sf_dir, synth_avi_payload, "video")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_mean": []}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    got = _avi_frames(bytes(p))
                except _DECODE_ERRORS:
                    got = None
                if got is None:
                    continue
                _w, _h, frames = got
                for f in range(0, len(frames), every_n):
                    if not frames[f]:        # empty 00db chunk
                        continue
                    rows["doc_id"].append(int(d))
                    rows["frame_idx"].append(f)
                    rows["frame_mean"].append(
                        float(sum(frames[f])) / len(frames[f]))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


AUDIO_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("peak", IntegerType()),
    StructField("zcr", IntegerType()),
    StructField("sum_sq", LongType()),
])


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-quality statistics for a training-data pipeline — the
    audio analog of text_quality_score: peak amplitude (clipping
    gate), zero-crossing count (noisiness/silence proxy) and RMS
    energy per decoded WAV. Decoding runs in the Arrow mapInPandas
    batch over _wav_samples (so all three stdlib codings — PCM,
    μ-law, IMA-ADPCM — feed the same stats); peak/zcr/sum-of-squares
    are exact integers, and the one libm value (rms) is computed
    JVM-side as ROUND(sqrt(sum_sq/n), 6) to mirror the oracle's
    identical expression. Oracle-checkable on the PCM corpus because
    sample j of doc_id is ((doc_id*31 + j*7) % 65536) - 32768."""
    media = media_table_encoded(spark, sf_dir).where(
        F.col("media_type") == "audio")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "sample_rate": [], "n_samples": [],
                    "peak": [], "zcr": [], "sum_sq": []}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                got = _wav_samples(bytes(p))
                if got is None:
                    continue
                s, sr = got
                rows["doc_id"].append(int(d))
                rows["sample_rate"].append(sr)
                rows["n_samples"].append(len(s))
                rows["peak"].append(max(abs(v) for v in s) if s else 0)
                rows["zcr"].append(sum(
                    1 for i in range(1, len(s))
                    if (s[i] < 0) != (s[i - 1] < 0)))
                rows["sum_sq"].append(sum(v * v for v in s))
            yield pd.DataFrame(rows)

    stats = media.mapInPandas(run, schema=AUDIO_STATS_SCHEMA)
    return stats.select(
        "doc_id", "sample_rate", "n_samples", "peak", "zcr",
        F.round(
            F.sqrt(F.col("sum_sq").cast("double")
                   / F.col("n_samples").cast("double")), 6,
        ).alias("rms"),
    )


MPA_SUBBAND_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("bitrate", IntegerType()),
    StructField("n_frames", IntegerType()),
    # LongType: a fully-allocated stream carries 768 active samples
    # per frame, so int32 would overflow near 2.8M frames (~9 hours)
    StructField("n_active_samples", LongType()),
    StructField("energy_fp", LongType()),
    StructField("peak_sb", IntegerType()),
])


def multimodal_mpa_subbands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-envelope features from REAL MPEG-1 Audio Layer I
    decode (operators/mpa_codec.py, ISO/IEC 11172-3): per document a
    synthetic Layer I stream (synth_mpa_payload) is entropy-decoded
    to the subband domain inside one Arrow mapInPandas batch —
    per-batch numpy, never per-row UDF rows — and reduced to exact
    integer accumulators: total frame/sample counts, the fixed-point
    energy Σ floor(v²·10⁹) (order-free int64 sum, the
    emb_label_centroids discipline) and the peak subband (argmax of
    the per-band fixed-point energies, lowest band on ties). The one
    libm value (subband RMS) is computed JVM-side as
    ROUND(sqrt(...), 6) so a future oracle runs the identical
    expression.

    Registry key since r12 (took the earmarked spare window slot);
    the DuckDB oracle is MPA_SUBBANDS_ORACLE below, pytest-proven
    bit-exact one round before registration (tests/test_mpa.py)."""
    from .mpa_codec import decode_mpa_l1  # noqa: PLC0415

    media = _synth_media_df(spark, sf_dir, synth_mpa_payload, "audio",
                             bytes_per_task=_MEDIA_BPT_MED)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in MPA_SUBBAND_SCHEMA.fields}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    out = decode_mpa_l1(bytes(p))
                except _DECODE_ERRORS:
                    out = None
                if out is None:
                    continue
                fp = np.floor(
                    np.square(out["subbands"]) * 1e9).astype(np.int64)
                band = fp.sum(axis=(0, 1))
                rows["doc_id"].append(int(d))
                rows["sample_rate"].append(out["sample_rate"])
                rows["bitrate"].append(out["bitrate"])
                rows["n_frames"].append(out["n_frames"])
                rows["n_active_samples"].append(out["n_active_samples"])
                rows["energy_fp"].append(int(fp.sum()))
                rows["peak_sb"].append(int(band.argmax()))
            yield pd.DataFrame(rows)

    stats = media.mapInPandas(run, schema=MPA_SUBBAND_SCHEMA)
    return stats.select(
        "*",
        F.round(
            F.sqrt(
                F.col("energy_fp").cast("double") / F.lit(1e9)
                / F.nullif(F.col("n_active_samples").cast("double"),
                           F.lit(0.0))
            ), 6,
        ).alias("subband_rms"),
    )


# DuckDB replay of multimodal_mpa_subbands — the full oracle for the
# registry key, pytest-compared bit-exact (tests/test_mpa.py): the
# synth construction is j-idempotent (alloc/scf/codes depend only on
# (doc_id, f, sb)), so DISTINCT (doc_id, f, sb) replays the encoder's
# dict overwrite; the value is the closed form
# sf · (2(C+1) − 2^nb)/(2^nb − 1) with sf looked up from the SAME 63
# baked Table B.1 literals the decoder uses (mpa_codec.SCALEFACTORS
# f-stringed in via repr(), which round-trips IEEE doubles exactly —
# the Benford-constants discipline; a SQL-side pow() re-derivation
# could round differently for the 42 irrational entries);
# multiplication order matches the Python kernel (sf * (num/den));
# energy terms are FLOOR(v*v*1e9) BIGINTs (order-free sum); the peak
# band is max energy with lowest-band tie-break; the one libm value
# is the identical ROUND(SQRT(...), 6) expression.
MPA_SUBBANDS_ORACLE = f"""
    WITH fr AS (
        SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS f
        FROM documents
    ),
    js AS (SELECT doc_id, f, unnest([0, 1]) AS j FROM fr),
    sbs AS (
        SELECT DISTINCT doc_id, f,
               (doc_id * 5 + f * 11 + j * 17) % 32 AS sb
        FROM js
    ),
    p AS (
        SELECT doc_id, f, sb,
               1 + (doc_id + sb + f) % 14 AS alloc,
               (doc_id + 3 * sb + f) % 63 AS scf
        FROM sbs
    ),
    smp AS (
        SELECT doc_id, f, sb, alloc, scf, unnest(range(0, 12)) AS s
        FROM p
    ),
    vals AS (
        SELECT doc_id, sb,
               list_extract({scalefactor_sql_literals()}, scf + 1) * (
                   CAST(2 * (((doc_id * 7 + s * 3 + sb + f)
                              % ((1 << (alloc + 1)) - 1)) + 1)
                        - (1 << (alloc + 1)) AS DOUBLE)
                   / CAST((1 << (alloc + 1)) - 1 AS DOUBLE)
               ) AS v
        FROM smp
    ),
    band AS (
        SELECT doc_id, sb,
               SUM(CAST(FLOOR(v * v * 1e9) AS BIGINT)) AS bt
        FROM vals GROUP BY 1, 2
    ),
    -- peak ranks the FULL 32-band spectrum (inactive bands carry 0),
    -- matching the kernel's argmax over the dense band array: a doc
    -- whose tiny scalefactors floor every term to 0 ties ALL bands
    -- and must resolve to band 0, not the lowest ACTIVE band
    allb AS (
        SELECT doc_id, unnest(range(0, 32)) AS sb FROM documents
    ),
    dense AS (
        SELECT a.doc_id, a.sb, COALESCE(b.bt, 0) AS bt
        FROM allb a LEFT JOIN band b USING (doc_id, sb)
    ),
    pk AS (
        SELECT doc_id, sb AS peak_sb,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY bt DESC, sb ASC) AS rn
        FROM dense
    ),
    -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which pandas holds
    -- as float64 — the driver's dtype-sensitive hash would mismatch
    -- Spark's int64 even though every value is identical
    agg AS (SELECT doc_id, CAST(SUM(bt) AS BIGINT) AS energy
            FROM band GROUP BY 1),
    act AS (SELECT doc_id, 12 * COUNT(*) AS n_active FROM p GROUP BY 1)
    SELECT a.doc_id,
           32000 AS sample_rate,
           64000 AS bitrate,
           CAST(1 + a.doc_id % 3 AS INTEGER) AS n_frames,
           CAST(c.n_active AS BIGINT) AS n_active_samples,
           a.energy AS energy_fp,
           CAST(pk.peak_sb AS INTEGER) AS peak_sb,
           ROUND(SQRT(a.energy / 1e9 / c.n_active), 6) AS subband_rms
    FROM agg a
    JOIN act c USING (doc_id)
    JOIN pk ON pk.doc_id = a.doc_id AND pk.rn = 1
"""


def _decode_image_pixels(payload: bytes
                         ) -> tuple[int, int, int, bytes] | None:
    """Unified RAW-pixel accessor for every stdlib-decodable image
    format → (w, h, channels, TOP-DOWN unpadded stream). BMP rows are
    stored bottom-up with 4-byte stride padding — both are normalized
    here; PNG may be gray/RGB/RGBA (bpp passes through); GIF is RGB;
    JPEG is gray or RGB. None for undecodable payloads."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_pixels(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_pixels(payload)
    if payload[:3] == b"\xff\xd8\xff":
        return decode_jpeg(payload, want_pixels=True)
    if payload[:2] == b"BM" and len(payload) >= 54:
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = abs(int.from_bytes(payload[22:26], "little", signed=True))
        if w * h > _MAX_DECODE_PIXELS:
            return None
        offset = int.from_bytes(payload[10:14], "little")
        stride = (w * 3 + 3) & ~3
        out = bytearray()
        for y in range(h):                   # flip bottom-up storage
            row = payload[offset + (h - 1 - y) * stride:]
            out += row[:w * 3]
        return w, h, 3, bytes(out)
    return None


def normalize_resize(payload: bytes, target: int = 32
                     ) -> tuple[int, int, bytes] | None:
    """THE preprocessing stage an image training pipeline runs:
    decode ANY stdlib-decodable format (PNG/GIF/JPEG/BMP), expand
    gray→RGB / drop alpha, nearest-neighbor resize to target×target —
    one canonical RGB tensor shape out, whatever came in. Returns
    (src_w, src_h, target×target×3 RGB bytes)."""
    got = _decode_image_pixels(bytes(payload))
    if got is None:
        return None
    w, h, nch, pix = got
    if w <= 0 or h <= 0:
        return None
    # vectorized nearest-neighbor gather — the same sy/sx integer
    # source grid as the per-pixel loop it replaced (byte-identical
    # output on well-formed buffers). Short-buffer behavior: the
    # grayscale path raises IndexError exactly like the loop's
    # pix[base]; the retired RGB/RGBA loop instead did bytearray
    # slice assignment, which silently SHRANK the output — the strict
    # IndexError below is a deliberate change from silent short
    # output to an explicit error, absorbed by the callers' null-row
    # boundary (ADVICE r16).
    pix_a = (np.frombuffer(pix, dtype=np.uint8)
             if isinstance(pix, (bytes, bytearray, memoryview))
             else np.asarray(pix, dtype=np.uint8))
    sy = (np.arange(target, dtype=np.int64) * h) // target
    sx = (np.arange(target, dtype=np.int64) * w) // target
    if nch == 1:
        flat = sy[:, None] * w + sx[None, :]
        if int(flat.max()) >= len(pix_a):
            raise IndexError("normalize_resize: pixel buffer too short")
        out = np.repeat(pix_a[flat].reshape(-1), 3)
    else:                                    # RGB / RGBA: take 3
        base = (sy[:, None] * w + sx[None, :]) * nch
        idx = base[..., None] + np.arange(3, dtype=np.int64)
        if int(idx.max()) >= len(pix_a):
            raise IndexError("normalize_resize: pixel buffer too short")
        out = pix_a[idx].reshape(-1)
    return w, h, out.tobytes()


def synth_mixed_payload(doc_id: int) -> bytes:
    """Heterogeneous corpus row: format dispatched on doc_id % 4 —
    PNG / GIF / baseline JPEG / BMP — each via its own deterministic
    synth, so ONE Arrow pass must magic-dispatch four decoders."""
    kind = doc_id % 4
    if kind == 0:
        return synth_png_payload(doc_id)
    if kind == 1:
        return synth_gif_payload(doc_id)
    if kind == 2:
        return synth_jpeg_payload(doc_id)
    return synth_media_payload(doc_id, "image", "")


def multimodal_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass decode of a MIXED-format corpus — the realistic
    shape: a production media table carries many formats in one
    binary column, and the feature pass must dispatch on magic bytes
    row by row inside the same Arrow batch (PNG inflate+defilter,
    GIF LZW+palette, JPEG Huffman+IDCT, BMP raw rows). Every row's
    decoded stream is still a closed form of doc_id, so one DuckDB
    oracle replays all four formats behind a CASE on doc_id % 4."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_mixed_payload, "image"))


NORMALIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("src_w", IntegerType()),
    StructField("src_h", IntegerType()),
    StructField("features", ArrayType(DoubleType())),
])


def multimodal_normalize(spark: SparkSession, sf_dir: str,
                         target: int = 32) -> DataFrame:
    """Normalize-and-resize over the mixed-format corpus — the
    canonicalization stage an image training pipeline runs before
    batching: whatever arrives (PNG gray/RGB/RGBA, GIF, JPEG gray or
    color, BMP bottom-up rows), decode to raw pixels, expand
    gray→RGB, nearest-resize to target×target, emit one fixed-shape
    RGB tensor per row. Oracle-checkable because every source pixel
    is a closed form of doc_id, so the resized stream is the SAMPLED
    closed form — a wrong resize kernel, row order, or channel
    expansion fails the hash."""
    media = _synth_media_df(spark, sf_dir, synth_mixed_payload, "image")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "src_w": [], "src_h": [],
                    "features": []}
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    got = normalize_resize(bytes(p), target)
                except _DECODE_ERRORS:
                    got = None
                if got is None:
                    continue
                w, h, rgb = got
                rows["doc_id"].append(int(d))
                rows["src_w"].append(w)
                rows["src_h"].append(h)
                rows["features"].append(_chunk_means(list(rgb)))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=NORMALIZE_SCHEMA).select(
        "doc_id", "src_w", "src_h",
        *[F.col("features")[i].alias(f"f{i}") for i in range(8)],
    )


def multimodal_jpeg_progressive(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """End-to-end PROGRESSIVE JPEG decode (SOF2): DC spectral scan at
    Al=1, DC refinement bits, AC band scan — the T.81 Annex G
    multi-scan coefficient accumulation, decoded stdlib-side and
    oracle-replayed in closed form (see synth_jpeg_prog_payload)."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_jpeg_prog_payload, "image",
                        bytes_per_task=_MEDIA_BPT_MED))


def multimodal_jpeg_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end 4:2:0 chroma-subsampled JPEG decode: four luma
    blocks + Cb + Cr per interleaved MCU, replication upsampling, the
    full JFIF conversion — the most common real-world JPEG layout,
    decoded stdlib-side and oracle-replayed in closed form (see
    synth_jpeg_420_payload)."""
    return _decoded_feature_select(
        _synth_media_df(spark, sf_dir, synth_jpeg_420_payload, "image",
                        bytes_per_task=_MEDIA_BPT_MED))


QUERIES = {
    "multimodal_meta": multimodal_meta,
    "multimodal_decoded": multimodal_decoded,
    "multimodal_features": multimodal_features,
    "multimodal_png": multimodal_png,
    "multimodal_gif": multimodal_gif,
    "multimodal_adpcm": multimodal_adpcm,
    "multimodal_mulaw": multimodal_mulaw,
    "multimodal_alaw": multimodal_alaw,
    "multimodal_flac": multimodal_flac,
    "multimodal_jpeg": multimodal_jpeg,
    "multimodal_jpeg_color": multimodal_jpeg_color,
    "multimodal_audio_stats": multimodal_audio_stats,
    "multimodal_avi": multimodal_avi,
    "multimodal_y4m": multimodal_y4m,
    "multimodal_mpeg1": multimodal_mpeg1,
    "multimodal_mjpeg": multimodal_mjpeg,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_jpeg_420": multimodal_jpeg_420,
    "multimodal_jpeg_progressive": multimodal_jpeg_progressive,
    "multimodal_mixed": multimodal_mixed,
    "multimodal_normalize": multimodal_normalize,
    "multimodal_mpa_subbands": multimodal_mpa_subbands,
}


def _feature_oracle() -> str:
    """DuckDB replay of the pixel/sample chunk means: pixel byte j of
    an image is (doc_id + j) % 256, sample j of a WAV is
    ((doc_id*31 + j*7) % 65536) - 32768 (synth_media_payload), so each
    chunk mean is an integer-sum / count over a generated range —
    exactly what the byte-level decode must recover."""
    fcols = []
    for i in range(8):
        lo = f"{i} * step"
        hi = f"least(({i} + 1) * step, n)"
        img = (f"list_sum(list_transform(range({lo}, {hi}), "
               f"j -> (doc_id + j) % 256)) * 1.0 / ({hi} - {lo})")
        wav = (f"list_sum(list_transform(range({lo}, {hi}), "
               f"j -> abs(((doc_id * 31 + j * 7) % 65536) - 32768)))"
               f" * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN m = 2 THEN NULL WHEN {lo} >= n THEN 0.0 "
            f"WHEN m = 0 THEN {img} ELSE {wav} END AS f{i}"
        )
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS m,
                   4 + doc_id % 16 AS w,
                   4 + (doc_id // 16) % 16 AS h,
                   100 + doc_id % 400 AS ns, text
            FROM documents
        ),
        q AS (
            SELECT *, ((w * 3 + 3) // 4) * 4 * h AS pix,
                   CASE WHEN m = 0 THEN ((w * 3 + 3) // 4) * 4 * h
                        WHEN m = 1 THEN ns END AS n
            FROM p
        ),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END AS step
            FROM q
        )
        SELECT doc_id,
               CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(CASE m WHEN 0 THEN 54 + pix WHEN 1 THEN 44 + 2 * ns
                    ELSE octet_length(encode(text)) END AS BIGINT)
                   AS payload_len,
               CASE WHEN m = 0 THEN CAST(w AS INTEGER) END AS width,
               CASE WHEN m = 0 THEN CAST(h AS INTEGER) END AS height,
               CAST(CASE WHEN m = 0 THEN 1 WHEN m = 1 THEN ns END
                    AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """

ORACLES = {
    # the decoded metadata must equal the doc_id-derived shape params
    # the payload bytes were packed from (byte-level round trip)
    "multimodal_decoded": """
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CASE WHEN doc_id % 3 = 0
                    THEN CAST(4 + doc_id % 16 AS INTEGER) END AS width,
               CASE WHEN doc_id % 3 = 0
                    THEN CAST(4 + (doc_id // 16) % 16 AS INTEGER) END AS height,
               CASE WHEN doc_id % 3 = 1
                    THEN CAST(8000 + (doc_id % 8) * 1000 AS INTEGER)
                    END AS sample_rate,
               CASE WHEN doc_id % 3 = 1
                    THEN CAST(100 + doc_id % 400 AS BIGINT) END AS n_samples,
               CASE WHEN doc_id % 3 = 1
                    THEN (100 + doc_id % 400) * 1000.0
                         / (8000 + (doc_id % 8) * 1000) END AS duration_ms
        FROM documents
    """,
    "multimodal_meta": """
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_len,
               upper(hex(substr(text, 1, 4))) AS magic_hex,
               md5(text) AS payload_md5
        FROM documents
    """,
}

ORACLES["multimodal_features"] = _feature_oracle()


def _png_oracle() -> str:
    """DuckDB replay of the PNG pipeline's chunk means: the raw RGB
    stream of doc_id's PNG is byte j = (doc_id + j) % 256 over
    n = w*h*3 bytes (synth_png_payload), so the deflate + per-row
    filter round trip must recover exactly these integer-sum means."""
    fcols = []
    for i in range(8):
        lo = f"{i} * step"
        hi = f"least(({i} + 1) * step, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> (doc_id + j) % 256)) * 1.0 / ({hi} - {lo})")
        fcols.append(f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   4 + doc_id % 16 AS w,
                   5 + (doc_id // 16) % 16 AS h
            FROM documents
        ),
        q AS (SELECT *, w * h * 3 AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END AS step
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_png"] = _png_oracle()


def _gif_oracle() -> str:
    """DuckDB replay of the GIF pipeline's chunk means: pixel INDEX p
    of doc_id's GIF is (doc_id + p) % 256 and palette entry k is
    (k + 85*c) % 256 per channel c (synth_gif_payload), so byte j of
    the palette-resolved RGB stream is ((doc_id + j//3) + 85*(j%3))
    % 256 over n = w*h*3 bytes — the LZW + palette round trip must
    recover exactly these integer-sum means."""
    fcols = []
    for i in range(8):
        lo = f"{i} * step"
        hi = f"least(({i} + 1) * step, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> ((doc_id + j // 3) + 85 * (j % 3)) % 256))"
                f" * 1.0 / ({hi} - {lo})")
        fcols.append(f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   3 + doc_id % 15 AS w,
                   4 + (doc_id // 15) % 14 AS h
            FROM documents
        ),
        q AS (SELECT *, w * h * 3 AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END AS step
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_gif"] = _gif_oracle()

def _adpcm_oracle() -> str:
    """DuckDB replay of the IMA-ADPCM pipeline: a RECURSIVE CTE runs
    the exact saturating predictor/step-index recurrence the byte
    decoder implements — block b of doc_id reseeds pred/idx at sample
    q = b*257, every other sample q applies nibble
    (doc_id*7 + q*3) % 16 through the 89-entry step table with int16
    and [0,88] clamps — then aggregates |pred| chunk means. The two
    engines share NO code path: Spark decodes packed RIFF bytes, the
    oracle never sees a byte."""
    st = "[" + ", ".join(str(v) for v in _IMA_STEP_TABLE) + "]"
    it = "[-1, -1, -1, -1, 2, 4, 6, 8]"
    spb = _ADPCM_SPB
    fcols = [
        (f"SUM(CASE WHEN j >= {i} * step_sz AND j < {i + 1} * step_sz "
         f"THEN abs(pred) END) * 1.0 / step_sz AS f{i}")
        for i in range(8)
    ]
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH RECURSIVE
        p AS (
            SELECT doc_id, 100 + doc_id % 400 AS ns FROM documents
        ),
        dec AS (
            SELECT doc_id, ns, CAST(0 AS INTEGER) AS j,
                   CAST(((doc_id * 131) % 65536) - 32768 AS INTEGER)
                       AS pred,
                   CAST(doc_id % 89 AS INTEGER) AS idx
            FROM p
            UNION ALL
            SELECT doc_id, ns, q,
                   CAST(CASE
                        WHEN q % {spb} = 0 THEN
                            ((doc_id * 131 + (q // {spb}) * 277)
                             % 65536) - 32768
                        WHEN nib >= 8 THEN
                            GREATEST(-32768, LEAST(32767, pred - diff))
                        ELSE GREATEST(-32768, LEAST(32767, pred + diff))
                        END AS INTEGER) AS pred,
                   CAST(CASE
                        WHEN q % {spb} = 0 THEN
                            (doc_id + 7 * (q // {spb})) % 89
                        ELSE GREATEST(0, LEAST(88,
                            idx + ({it})[(nib % 8) + 1]))
                        END AS INTEGER) AS idx
            FROM (
                SELECT doc_id, ns, q, pred, idx, nib,
                       (step // 8)
                       + CASE WHEN nib % 2 = 1 THEN step // 4
                              ELSE 0 END
                       + CASE WHEN (nib // 2) % 2 = 1 THEN step // 2
                              ELSE 0 END
                       + CASE WHEN (nib // 4) % 2 = 1 THEN step
                              ELSE 0 END AS diff
                FROM (
                    SELECT doc_id, ns, j + 1 AS q, pred, idx,
                           CAST((doc_id * 7 + (j + 1) * 3) % 16
                                AS INTEGER) AS nib,
                           ({st})[idx + 1] AS step
                    FROM dec WHERE j + 1 < ns
                )
            )
        )
        SELECT doc_id, CAST(ns AS INTEGER) AS n_frames,
               {f_sql}
        FROM (
            SELECT doc_id, ns,
                   CASE WHEN ns // 8 > 0 THEN ns // 8 ELSE 1 END
                       AS step_sz,
                   j, pred
            FROM dec
        )
        GROUP BY doc_id, ns, step_sz
    """


ORACLES["multimodal_adpcm"] = _adpcm_oracle()

def _mulaw_oracle() -> str:
    """DuckDB replay of the μ-law pipeline: code byte j of doc_id is
    (doc_id*13 + j*5) % 256; the G.711 expansion — complement, 4-bit
    mantissa rebuilt with the 0x84 bias, shifted by the 3-bit
    exponent, sign from the top bit — is pure integer arithmetic, so
    each chunk mean is an exact integer-sum / count."""
    # u = complemented code byte; t = biased mantissa << exponent
    u = "(255 - ((doc_id * 13 + j * 5) % 256))"
    t = (f"(({u} % 16) * 8 + 132) * "
         f"([1, 2, 4, 8, 16, 32, 64, 128])[(({u} // 16) % 8) + 1]")
    sample = f"CASE WHEN {u} >= 128 THEN 132 - {t} ELSE {t} - 132 END"
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, ns)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> abs({sample}))) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= ns THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id, 120 + doc_id % 333 AS ns FROM documents
        ),
        r AS (
            SELECT *, CASE WHEN ns // 8 > 0 THEN ns // 8 ELSE 1 END
                          AS step_sz
            FROM p
        )
        SELECT doc_id, CAST(ns AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_mulaw"] = _mulaw_oracle()

def _alaw_oracle() -> str:
    """DuckDB replay of the A-law pipeline: code byte j of doc_id is
    (doc_id*11 + j*3) % 256; the G.711 A-law expansion — xor 0x55,
    4-bit mantissa << 4, +8 in segment 0 / +0x108 biased and shifted
    by seg-1 above, sign bit SET means positive — is pure integer
    arithmetic, so each chunk mean is an exact integer-sum / count."""
    a = "xor((doc_id * 11 + j * 3) % 256, 85)"
    t = (f"CASE WHEN (({a} // 16) % 8) = 0 THEN ({a} % 16) * 16 + 8 "
         f"WHEN (({a} // 16) % 8) = 1 THEN ({a} % 16) * 16 + 264 "
         f"ELSE (({a} % 16) * 16 + 264) * "
         f"([2, 4, 8, 16, 32, 64])[(({a} // 16) % 8) - 1] END")
    sample = f"CASE WHEN {a} >= 128 THEN {t} ELSE -({t}) END"
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, ns)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> abs({sample}))) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= ns THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id, 110 + doc_id % 357 AS ns FROM documents
        ),
        r AS (
            SELECT *, CASE WHEN ns // 8 > 0 THEN ns // 8 ELSE 1 END
                          AS step_sz
            FROM p
        )
        SELECT doc_id, CAST(ns AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_alaw"] = _alaw_oracle()

def _flac_oracle() -> str:
    """DuckDB replay of the FLAC pipeline: the codec is LOSSLESS, so
    the decoded sample j of doc_id is exactly the synth's closed form
    ((doc_id*31 + j*7) % 4096) - 2048 — the oracle needs no Rice /
    CRC / predictor knowledge at all, which is precisely the claim
    the bit-exact compare proves about the decoder."""
    sample = "(((doc_id * 31 + j * 7) % 4096) - 2048)"
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, ns)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> abs({sample}))) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= ns THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id, 100 + doc_id % 400 AS ns FROM documents
        ),
        r AS (
            SELECT *, CASE WHEN ns // 8 > 0 THEN ns // 8 ELSE 1 END
                          AS step_sz
            FROM p
        )
        SELECT doc_id, CAST(ns AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_flac"] = _flac_oracle()

def _jpeg_oracle() -> str:
    """DuckDB replay of the JPEG pipeline's chunk means: pixel j of
    doc_id's grayscale JPEG is (doc_id*3 + block_index) % 256 where
    block_index = (j÷w÷8)·(w÷8) + (j mod w)÷8 — the constant-block /
    DC-quantizer-8 construction makes the Huffman + DCT round trip
    exactly lossless, so the integer-sum means must match bit-ward."""
    val = ("(doc_id * 3 + ((j // w) // 8) * (w // 8)"
           " + ((j % w) // 8)) % 256")
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   8 * (1 + doc_id % 5) AS w,
                   8 * (1 + (doc_id // 5) % 4) AS h
            FROM documents
        ),
        q AS (SELECT *, w * h AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_jpeg"] = _jpeg_oracle()

def _audio_stats_oracle() -> str:
    """DuckDB replay of the audio stats: sample j of doc_id's PCM WAV
    is ((doc_id*31 + j*7) % 65536) - 32768 (synth_media_payload), so
    peak/zcr/sum-of-squares are exact integer folds over a generated
    range and rms mirrors the Spark side's ROUND(sqrt(...), 6)."""
    smp = "((doc_id * 31 + j * 7) % 65536) - 32768"
    prev = "((doc_id * 31 + (j - 1) * 7) % 65536) - 32768"
    return f"""
        WITH p AS (
            SELECT doc_id,
                   CAST(8000 + (doc_id % 8) * 1000 AS INTEGER)
                       AS sample_rate,
                   100 + doc_id % 400 AS ns
            FROM documents
            WHERE doc_id % 3 = 1
        )
        SELECT doc_id, sample_rate,
               CAST(ns AS INTEGER) AS n_samples,
               CAST(list_max(list_transform(range(0, ns),
                    j -> abs({smp}))) AS INTEGER) AS peak,
               CAST(length(list_filter(range(1, ns),
                    j -> (({smp}) < 0) != (({prev}) < 0)))
                    AS INTEGER) AS zcr,
               ROUND(sqrt(list_sum(list_transform(range(0, ns),
                    j -> ({smp}) * ({smp}))) * 1.0 / ns), 6) AS rms
        FROM p
    """


ORACLES["multimodal_audio_stats"] = _audio_stats_oracle()

def _jpeg_color_oracle() -> str:
    """DuckDB replay of the color-JPEG pipeline: neutral chroma makes
    R = G = B = Y, and Y of pixel p is (doc_id*5 + block) % 256 with
    block = (p÷w÷8)·(w÷8) + (p mod w)÷8 — so byte j of the RGB stream
    depends only on p = j÷3."""
    val = ("(doc_id * 5 + (((j // 3) // w) // 8) * (w // 8)"
           " + (((j // 3) % w) // 8)) % 256")
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   8 * (1 + doc_id % 4) AS w,
                   8 * (1 + (doc_id // 4) % 3) AS h
            FROM documents
        ),
        q AS (SELECT *, w * h * 3 AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_jpeg_color"] = _jpeg_color_oracle()

def _avi_oracle() -> str:
    """DuckDB replay of the AVI pipeline: frame f's byte j of doc_id
    is (doc_id + f*7 + j) % 256 over fsize = w*3*h bytes per frame
    (synth_avi_payload), so byte j of the concatenated stream is
    (doc_id + (j ÷ fsize)*7 + (j mod fsize)) % 256."""
    val = "(doc_id + (j // fsize) * 7 + (j % fsize)) % 256"
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   4 * (1 + doc_id % 6) AS w,
                   2 + doc_id % 7 AS h,
                   3 + doc_id % 6 AS nf
            FROM documents
        ),
        q AS (SELECT *, w * 3 * h AS fsize,
                     w * 3 * h * nf AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(nf AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_avi"] = _avi_oracle()

def _y4m_oracle() -> str:
    """DuckDB replay of the Y4M pipeline: byte j of doc_id's
    concatenated planar stream is (doc_id*19 + (j ÷ fsize)*23 +
    (j mod fsize)) % 256 with fsize = w·h + 2·(w/2)·(h/2)
    (synth_y4m_payload's C420 geometry)."""
    val = "(doc_id * 19 + (j // fsize) * 23 + (j % fsize)) % 256"
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   2 * (2 + doc_id % 5) AS w,
                   2 * (1 + doc_id % 4) AS h,
                   2 + doc_id % 6 AS nf
            FROM documents
        ),
        q AS (SELECT *, w * h + 2 * ((w // 2) * (h // 2)) AS fsize,
                     (w * h + 2 * ((w // 2) * (h // 2))) * nf AS n
              FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(nf AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_y4m"] = _y4m_oracle()

def _mpeg1_oracle() -> str:
    """DuckDB replay of the MPEG-1 intra pipeline: the constant-block
    / fixed-DC-step-8 construction makes the codec exactly lossless,
    so byte j of the decoded planar stream is a pure closed form —
    frame f = j ÷ fsize; within the frame, the Y plane (w·h bytes)
    yields block (y÷8)·(w÷8) + x÷8 with value (doc_id*5 + f*11 + b)
    % 256, and the two half-resolution chroma planes the analogous
    (doc_id*7 + f*13 + b) / (doc_id*3 + f*17 + b) forms over the
    (w÷16)-wide block grid."""
    rr = "(j % fsize)"                      # offset within the frame

    def chroma_block(rc: str) -> str:
        return (f"((({rc}) // (w // 2)) // 8) * (w // 16)"
                f" + ((({rc}) % (w // 2)) // 8)")

    yb = f"(({rr} // w) // 8) * (w // 8) + (({rr} % w) // 8)"
    cb = chroma_block(f"{rr} - ysz")
    cr = chroma_block(f"{rr} - ysz - csz")
    val = (f"CASE WHEN {rr} < ysz "
           f"THEN (doc_id * 5 + (j // fsize) * 11 + ({yb})) % 256 "
           f"WHEN {rr} < ysz + csz "
           f"THEN (doc_id * 7 + (j // fsize) * 13 + ({cb})) % 256 "
           f"ELSE (doc_id * 3 + (j // fsize) * 17 + ({cr})) % 256 END")
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   16 * (1 + doc_id % 3) AS w,
                   16 * (1 + (doc_id // 3) % 2) AS h,
                   2 + doc_id % 3 AS nf
            FROM documents
        ),
        q AS (SELECT *, w * h AS ysz, (w // 2) * (h // 2) AS csz
              FROM p),
        q2 AS (SELECT *, ysz + 2 * csz AS fsize,
                      (ysz + 2 * csz) * nf AS n
               FROM q),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q2
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(nf AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_mpeg1"] = _mpeg1_oracle()

def _mjpeg_oracle() -> str:
    """DuckDB replay of the Motion-JPEG pipeline: frame f of doc_id
    is a w×h grayscale JPEG whose 8×8 block b decodes to the constant
    (doc_id*3 + f*11 + b) % 256 (exactly lossless by the DC-q=8
    construction), so byte j of the concatenated pixel stream is a
    pure function of (doc_id, j) with f = j ÷ (w·h) and
    b = ((j mod w·h) ÷ w ÷ 8)·(w÷8) + (j mod w) ÷ 8."""
    val = ("(doc_id * 3 + (j // fsize) * 11"
           " + (((j % fsize) // w) // 8) * (w // 8)"
           " + ((j % w) // 8)) % 256")
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   8 * (1 + doc_id % 4) AS w,
                   8 * (1 + (doc_id // 4) % 3) AS h,
                   2 + doc_id % 5 AS nf
            FROM documents
        ),
        q AS (SELECT *, w * h AS fsize, w * h * nf AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(nf AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_mjpeg"] = _mjpeg_oracle()

def _frame_sample_oracle() -> str:
    """DuckDB replay of the frame-sampling stage: doc_id's AVI has
    nf = 3 + doc_id % 6 frames of fsize = w*3*h bytes; sampled frames
    are f = 0, 2, 4 ... < nf and frame f's mean is the exact integer
    sum of (doc_id + f*7 + j) % 256 over j < fsize, divided once."""
    return """
        WITH p AS (
            SELECT doc_id,
                   4 * (1 + doc_id % 6) * 3 * (2 + doc_id % 7) AS fsize,
                   3 + doc_id % 6 AS nf
            FROM documents
        ),
        f AS (
            SELECT doc_id, fsize, CAST(unnest(range(0, nf, 2))
                                       AS INTEGER) AS frame_idx
            FROM p
        )
        SELECT doc_id, frame_idx,
               list_sum(list_transform(range(0, fsize),
                   j -> (doc_id + frame_idx * 7 + j) % 256))
                   * 1.0 / fsize AS frame_mean
        FROM f
    """


ORACLES["multimodal_frame_sample"] = _frame_sample_oracle()

def _jpeg_420_oracle() -> str:
    """DuckDB replay of the 4:2:0 pipeline: neutral chroma keeps
    R = G = B = Y through the replication upsample, and Y of pixel
    (x, y) is (doc_id*11 + (y÷8)·(w÷8) + x÷8) % 256."""
    val = ("(doc_id * 11 + (((j // 3) // w) // 8) * (w // 8)"
           " + (((j // 3) % w) // 8)) % 256")
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   16 * (1 + doc_id % 3) AS w,
                   16 * (1 + (doc_id // 3) % 2) AS h
            FROM documents
        ),
        q AS (SELECT *, w * h * 3 AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_jpeg_420"] = _jpeg_420_oracle()

def _jpeg_prog_oracle() -> str:
    """DuckDB replay of the progressive pipeline: same constant-block
    construction, moduli 13/6/5 — pixel (x, y) of doc_id is
    (doc_id*13 + (y÷8)·(w÷8) + x÷8) % 256."""
    val = ("(doc_id * 13 + ((j // w) // 8) * (w // 8)"
           " + ((j % w) // 8)) % 256")
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   8 * (1 + doc_id % 6) AS w,
                   8 * (1 + (doc_id // 6) % 5) AS h
            FROM documents
        ),
        q AS (SELECT *, w * h AS n FROM p),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_jpeg_progressive"] = _jpeg_prog_oracle()

def _mixed_oracle() -> str:
    """DuckDB replay of the mixed-format pipeline: per-row CASE on
    doc_id % 4 selects each format's own closed-form dims and pixel
    function (PNG/BMP raw stream (doc_id+j)%256 — BMP over the
    stride-padded rows; GIF palette-resolved; JPEG constant-block)."""
    val = ("CASE doc_id % 4 "
           "WHEN 1 THEN ((doc_id + j // 3) + 85 * (j % 3)) % 256 "
           "WHEN 2 THEN (doc_id * 3 + ((j // w) // 8) * (w // 8)"
           " + ((j % w) // 8)) % 256 "
           "ELSE (doc_id + j) % 256 END")
    fcols = []
    for i in range(8):
        lo = f"{i} * step_sz"
        hi = f"least(({i} + 1) * step_sz, n)"
        mean = (f"list_sum(list_transform(range({lo}, {hi}), "
                f"j -> {val})) * 1.0 / ({hi} - {lo})")
        fcols.append(
            f"CASE WHEN {lo} >= n THEN 0.0 ELSE {mean} END AS f{i}")
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   CASE doc_id % 4
                        WHEN 0 THEN 4 + doc_id % 16
                        WHEN 1 THEN 3 + doc_id % 15
                        WHEN 2 THEN 8 * (1 + doc_id % 5)
                        ELSE 4 + doc_id % 16 END AS w,
                   CASE doc_id % 4
                        WHEN 0 THEN 5 + (doc_id // 16) % 16
                        WHEN 1 THEN 4 + (doc_id // 15) % 14
                        WHEN 2 THEN 8 * (1 + (doc_id // 5) % 4)
                        ELSE 4 + (doc_id // 16) % 16 END AS h
            FROM documents
        ),
        q AS (
            SELECT *, CASE doc_id % 4
                           WHEN 2 THEN w * h
                           WHEN 3 THEN ((w * 3 + 3) // 4) * 4 * h
                           ELSE w * h * 3 END AS n
            FROM p
        ),
        r AS (
            SELECT *, CASE WHEN n // 8 > 0 THEN n // 8 ELSE 1 END
                          AS step_sz
            FROM q
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(1 AS INTEGER) AS n_frames,
               {f_sql}
        FROM r
    """


ORACLES["multimodal_mixed"] = _mixed_oracle()

def _normalize_oracle() -> str:
    """DuckDB replay of normalize-resize: resized byte j maps to
    target cell (x, y) = ((j÷3) mod 32, (j÷3) ÷ 32), channel j mod 3,
    source pixel (sx, sy) = (x·w÷32, y·h÷32); the per-format CASE
    gives that source pixel's channel value in closed form (BMP reads
    its bottom-up stride-padded stored byte; GIF folds the palette
    offset; JPEG replicates gray into all channels)."""
    sx = "((j // 3) % 32) * w // 32"
    sy = "((j // 3) // 32) * h // 32"
    c = "(j % 3)"
    val = (f"CASE doc_id % 4 "
           f"WHEN 0 THEN (doc_id + (({sy}) * w + ({sx})) * 3 + {c})"
           f" % 256 "
           f"WHEN 1 THEN (doc_id + ({sy}) * w + ({sx}) + 85 * {c})"
           f" % 256 "
           f"WHEN 2 THEN (doc_id * 3 + (({sy}) // 8) * (w // 8)"
           f" + ({sx}) // 8) % 256 "
           f"ELSE (doc_id + (h - 1 - ({sy})) * (((w * 3 + 3) // 4) * 4)"
           f" + 3 * ({sx}) + {c}) % 256 END")
    fcols = [
        (f"list_sum(list_transform(range({i} * 384, {i + 1} * 384), "
         f"j -> {val})) / 384.0 AS f{i}")
        for i in range(8)
    ]
    f_sql = ",\n               ".join(fcols)
    return f"""
        WITH p AS (
            SELECT doc_id,
                   CASE doc_id % 4
                        WHEN 0 THEN 4 + doc_id % 16
                        WHEN 1 THEN 3 + doc_id % 15
                        WHEN 2 THEN 8 * (1 + doc_id % 5)
                        ELSE 4 + doc_id % 16 END AS w,
                   CASE doc_id % 4
                        WHEN 0 THEN 5 + (doc_id // 16) % 16
                        WHEN 1 THEN 4 + (doc_id // 15) % 14
                        WHEN 2 THEN 8 * (1 + (doc_id // 5) % 4)
                        ELSE 4 + (doc_id // 16) % 16 END AS h
            FROM documents
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS src_w,
               CAST(h AS INTEGER) AS src_h,
               {f_sql}
        FROM p
    """


ORACLES["multimodal_normalize"] = _normalize_oracle()
ORACLES["multimodal_mpa_subbands"] = MPA_SUBBANDS_ORACLE
