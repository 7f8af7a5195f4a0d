"""MPEG-1 Audio Layer I (ISO/IEC 11172-3) bitstream codec — stdlib +
numpy, public spec only.

DESIGN NOTE (r11, committed before the implementation per VERDICT
item 8 — exactness argument first).

Scope and the honest boundary
-----------------------------

- DECODER: frame sync + full header parse (bitrate/sampling-frequency
  /mode/padding/CRC-presence), optional 16-bit CRC skip, Layer I audio
  data for single_channel / stereo / dual_channel modes — 4-bit
  allocations (code 15 forbidden), 6-bit scalefactor indices (index 63
  forbidden), 12 × 32 × nch sample codes of 2..15 bits with the
  all-ones code forbidden (the Layer I quantizers have 2^nb − 1 steps,
  so codes run 0..2^nb − 2), requantization and scalefactor scaling to
  SUBBAND samples, multi-frame walks with per-frame padding, trailing
  ancillary bits ignored.  Malformed streams (lost sync, forbidden
  codes, truncation, reserved header fields) raise ValueError into the
  repo's null-row boundary.  Joint_stereo (intensity) frames and
  Layers II/III return ``None`` → the ``decode_real`` capability-probe
  tier, the same honest routing as P/B-pictures in mpeg1_codec.
- DECODE SURFACE: the per-frame SUBBAND sample matrix s'[ch][t][sb]
  (the spec's requantized-and-rescaled values of §2.4.3.3 step 1), NOT
  time-domain PCM.  Rationale: the polyphase synthesis matrixing
  N[i][k] = cos((16+i)(2k+1)π/64) is closed-form, but the final
  window-and-add stage is defined by the 512-coefficient window D of
  Table B.3 — a pure lookup table with no closed form.  This container
  has no copy of the spec and the table cannot be derived, so
  embedding a guess would produce a decoder that silently disagrees
  with every real implementation.  ``synthesize_pcm`` therefore raises
  NotImplementedError naming Table B.3 (a tested boundary, like the
  MP3/H.264 probes in multimodal.py) and the subband matrix is the
  supported output.  Subband samples are a legitimate feature surface
  for a training pipeline — they ARE the spectral envelope (32 uniform
  bands × 384 samples/frame of temporal resolution); bandwise energy /
  activity features come straight off them.

Exactness argument (why this decode is oracle-ready)
----------------------------------------------------

Everything up to the subband surface is integer bit-parsing plus ONE
rational formula:

    s''' = (2·(C + 1) − 2^nb) / (2^nb − 1)          (nb = alloc + 1)
    s'   = sf(idx) · s''',   sf(idx) = 2 · 2^(−idx/3)

- C, nb, idx are integers read straight from the bitstream — exact.
- s''' is one IEEE division of two exactly-representable integers —
  correctly rounded, engine-identical (the repo's division
  discipline).  Extremes check out: nb=2 → codes {0,1,2} → levels
  {−2/3, 0, +2/3}, the spec's 3-step quantizer.
- sf(idx) is exact for idx ≡ 0 (mod 3) (powers of two: 2.0, 1.0,
  0.5, …); other indices are irrational, so an oracle either bakes
  the 63 constants as shared literals into both engines (one Python
  source of truth f-stringed into the SQL, like the Benford
  constants) or the synthesized corpus restricts to idx ≡ 0 (mod 3).
- A frame with ALL allocations zero decodes to exactly 0.0 in every
  subband sample — and would decode to exactly 0 PCM under ANY
  window, so silent-frame constructions stay exact even if synthesis
  is ever added.

Hence a future registry key (earmarked r12) can be fully
DuckDB-oracle-checked: frame
geometry from the header arithmetic (Layer I slots = 12·bitrate/fs,
slot = 4 bytes, + padding), subband values from the closed form above.

Spec-arithmetic notes (all public, §2.4.2.3 / §2.4.3.3):

- Header: 12-bit sync 0xFFF, ID=1 (MPEG-1), layer bits 11 = Layer I,
  protection_bit (0 ⇒ 16-bit CRC follows the header), 4-bit
  bitrate_index (0 = free ⇒ probe tier here; 15 forbidden), 2-bit
  sampling_frequency (11 reserved), padding, private, 2-bit mode,
  mode_extension, copyright, original, 2-bit emphasis (10 reserved).
- Layer I bitrates (kbit/s): 32..448 in steps of 32 (index 1..14).
- Frame length: slots = ⌊144·bitrate/fs⌋ is the LAYER II/III formula;
  Layer I uses slots = ⌊12·bitrate/fs⌋ (+1 if padding) of FOUR bytes.

Bit-level reads and writes go through bitio.py: one BitReader per
frame (sliced to the frame, so audio data overrunning the slot count
raises) and a BitWriter for the encoder.

Reference parity note: the reference repo (thomasganka/
university-data-lakehouse) has no media decode at all; this tier
completes the compressed-audio family (G.711 / IMA-ADPCM / FLAC /
now MPEG-1 Layer I) for the multimodal training-data surface
(SURVEY §2.8), from ISO/IEC 11172-3 alone.
"""

from __future__ import annotations

import numpy as np

from .bitio import BitReader, BitWriter

MPA_BITRATES_L1 = (0, 32, 64, 96, 128, 160, 192, 224,
                   256, 288, 320, 352, 384, 416, 448)  # kbit/s, idx 0 = free
MPA_SAMPLE_RATES = (44100, 48000, 32000)               # idx 3 reserved
MODE_STEREO, MODE_JOINT, MODE_DUAL, MODE_MONO = 0, 1, 2, 3
SAMPLES_PER_FRAME_L1 = 384                             # 12 × 32


# Table B.1 baked as ONE shared table (the design note's plan B, the
# Benford-constants discipline): sf(idx) = 2 · 2^(−idx/3), idx 0..62
# (63 forbidden).  idx ≡ 0 (mod 3) are exact powers of two; the other
# 42 values are irrational, so any oracle must use THESE literals, not
# re-derive them with its own pow() — scalefactor_sql_literals() below
# f-strings this tuple into the SQL, and repr() round-trips IEEE
# doubles exactly, so both engines hold bit-identical values.
SCALEFACTORS = tuple(
    float(2.0 ** (1 - idx // 3)) if idx % 3 == 0
    else float(2.0 * 2.0 ** (-idx / 3.0))
    for idx in range(63)
)


def scalefactor(idx: int) -> float:
    """Table B.1 lookup, idx 0..62 (63 forbidden)."""
    if not 0 <= idx <= 62:
        raise ValueError("mpa: scalefactor index out of range")
    return SCALEFACTORS[idx]


def scalefactor_sql_literals() -> str:
    """DuckDB list literal of the 63 Table B.1 values — index with
    list_extract(lit, idx + 1) (SQL lists are 1-based).  Each value is
    a STRING cast to DOUBLE: DuckDB parses a bare 17-digit numeric
    literal as DECIMAL first and the DECIMAL->DOUBLE conversion is off
    by 1 ulp for some entries, while the string->double path is
    correctly rounded (pinned by tests/test_mpa.py)."""
    return ("[" + ", ".join(f"'{v!r}'::DOUBLE" for v in SCALEFACTORS)
            + "]")


def requantize_l1(code: int, nb: int) -> float:
    """Layer I requantization: s''' = (2(C+1) − 2^nb)/(2^nb − 1).
    One correctly-rounded IEEE division of two exact integers."""
    return float(2 * (code + 1) - (1 << nb)) / float((1 << nb) - 1)


def parse_mpa_header(b: bytes, off: int = 0) -> dict | None:
    """Parse the 32-bit frame header at ``off``.  Returns None when
    the bytes are not an MPEG-1 Layer I header this codec decodes
    (no sync / Layer II/III / free-format / joint stereo) — the
    probe-tier routing; raises ValueError on FORBIDDEN field values
    inside an otherwise-valid Layer I header (a malformed stream,
    not a foreign format)."""
    if off + 4 > len(b):
        return None
    h = int.from_bytes(b[off:off + 4], "big")
    if (h >> 20) & 0xFFF != 0xFFF or (h >> 19) & 1 != 1:
        return None                       # no MPEG-1 sync
    layer = (h >> 17) & 0x3
    if layer != 0b11:                     # Layer I only; II/III probe
        return None
    protection = (h >> 16) & 1
    bitrate_idx = (h >> 12) & 0xF
    if bitrate_idx == 15:
        raise ValueError("mpa: forbidden bitrate index")
    if bitrate_idx == 0:
        return None                       # free format: probe tier
    fs_idx = (h >> 10) & 0x3
    if fs_idx == 3:
        raise ValueError("mpa: reserved sampling frequency")
    padding = (h >> 9) & 1
    mode = (h >> 6) & 0x3
    if mode == MODE_JOINT:
        return None                       # intensity stereo: probe tier
    if (h & 0x3) == 2:
        raise ValueError("mpa: reserved emphasis")
    bitrate = MPA_BITRATES_L1[bitrate_idx] * 1000
    fs = MPA_SAMPLE_RATES[fs_idx]
    slots = 12 * bitrate // fs + padding
    return {
        "bitrate": bitrate,
        "sample_rate": fs,
        "padding": padding,
        "mode": mode,
        "nch": 1 if mode == MODE_MONO else 2,
        "crc": protection == 0,
        "frame_bytes": slots * 4,
    }


def decode_mpa_l1(payload: bytes) -> dict | None:
    """Decode every Layer I frame in ``payload`` to subband samples.

    Returns None when the first 4 bytes are not a decodable Layer I
    header (foreign format → probe tier).  Once frame 0 decodes, every
    subsequent frame must parse too (header parameters may not change
    mid-stream except the padding bit) — a malformed tail raises.

    Output: dict with sample_rate, nch, bitrate, n_frames,
    ``n_active_samples`` (total sample codes carried by nonzero
    allocations — the count downstream statistics normalize by) and
    ``subbands`` — float64 array [nch, n_frames*12, 32] of the spec's
    s' values (requantized × scalefactor)."""
    hdr0 = parse_mpa_header(payload, 0)
    if hdr0 is None:
        return None
    frames: list[np.ndarray] = []
    off = 0
    hdr = hdr0
    nch = hdr0["nch"]
    n_active = 0
    while True:
        if off + hdr["frame_bytes"] > len(payload):
            raise ValueError("mpa: frame extends past payload")
        start = off + 4 + (2 if hdr["crc"] else 0)
        br = BitReader(payload[start:off + hdr["frame_bytes"]])
        alloc = np.zeros((nch, 32), dtype=np.int64)
        for sb in range(32):
            for ch in range(nch):
                a = br.take(4)
                if a == 15:
                    raise ValueError("mpa: forbidden allocation 15")
                alloc[ch, sb] = a
        scf = np.zeros((nch, 32), dtype=np.int64)
        for sb in range(32):
            for ch in range(nch):
                if alloc[ch, sb]:
                    idx = br.take(6)
                    if idx == 63:
                        raise ValueError(
                            "mpa: forbidden scalefactor index 63")
                    scf[ch, sb] = idx
        block = np.zeros((nch, 12, 32), dtype=np.float64)
        for s in range(12):
            for sb in range(32):
                for ch in range(nch):
                    a = int(alloc[ch, sb])
                    if not a:
                        continue
                    nb = a + 1
                    code = br.take(nb)
                    if code == (1 << nb) - 1:
                        raise ValueError("mpa: forbidden all-ones code")
                    block[ch, s, sb] = (
                        scalefactor(int(scf[ch, sb]))
                        * requantize_l1(code, nb))
        frames.append(block)
        n_active += 12 * int((alloc > 0).sum())
        off += hdr["frame_bytes"]
        if off >= len(payload):
            break
        nxt = parse_mpa_header(payload, off)
        if nxt is None:
            raise ValueError("mpa: lost sync between frames")
        if (nxt["sample_rate"] != hdr0["sample_rate"]
                or nxt["bitrate"] != hdr0["bitrate"]
                or nxt["mode"] != hdr0["mode"]   # nch alone would mask
                or nxt["nch"] != nch             # a STEREO<->DUAL swap
                or nxt["crc"] != hdr0["crc"]):
            raise ValueError("mpa: header parameters changed mid-stream")
        hdr = nxt
    sub = np.concatenate(frames, axis=1)
    return {
        "sample_rate": hdr0["sample_rate"],
        "nch": nch,
        "bitrate": hdr0["bitrate"],
        "n_frames": len(frames),
        "n_active_samples": n_active,
        "subbands": sub,
    }


def synthesize_pcm(subbands: np.ndarray) -> np.ndarray:
    """Time-domain synthesis is a DOCUMENTED boundary: the polyphase
    matrixing cos((16+i)(2k+1)π/64) is closed-form, but the final
    window-and-add stage needs the 512-coefficient window D of
    ISO/IEC 11172-3 Table B.3 — a lookup table with no derivation,
    and no spec copy exists in this container.  Guessing it would
    produce PCM that silently disagrees with every real decoder, so
    this raises instead (the decode_real capability-probe
    discipline).  All-zero subbands would synthesize to exact zero
    PCM under any window; callers needing silence can special-case
    that without this function."""
    raise NotImplementedError(
        "mpa: PCM synthesis requires the Table B.3 window coefficients "
        "(ISO/IEC 11172-3); the subband matrix is the supported "
        "decode surface")


def encode_mpa_l1(frames: list, fs_idx: int = 2, bitrate_idx: int = 2,
                  mode: int = MODE_MONO) -> bytes:
    """Synthesis-side Layer I encoder for tests and synthetic corpora
    (the mpeg1 encode_mpeg1_intra twin).  Each frame spec is a list of
    per-channel dicts mapping subband → (alloc_code, scf_idx,
    [12 sample codes]); omitted subbands get allocation 0.  The frame
    is padded with zero bits to the header's slot count; the defaults
    (fs=32000, 64 kbit/s) give exactly 24 slots — no padding-bit
    bookkeeping — and 96-byte frames.  Raises when the audio data
    cannot fit the slot count or a code is out of range."""
    out = bytearray()
    fs = MPA_SAMPLE_RATES[fs_idx]
    bitrate = MPA_BITRATES_L1[bitrate_idx] * 1000
    if (12 * bitrate) % fs:
        raise ValueError("mpa encode: pick fs/bitrate with integral "
                         "slot count (no padding support)")
    nch = 1 if mode == MODE_MONO else 2
    frame_bytes = (12 * bitrate // fs) * 4
    for spec in frames:
        if len(spec) != nch:
            raise ValueError("mpa encode: channel count mismatch")
        bw = BitWriter()
        h = (0xFFF << 20) | (1 << 19) | (0b11 << 17) | (1 << 16)
        h |= (bitrate_idx << 12) | (fs_idx << 10) | (mode << 6)
        bw.put(h, 32)
        for sb in range(32):
            for ch in range(nch):
                alloc, _, _ = spec[ch].get(sb, (0, 0, None))
                if not 0 <= alloc <= 14:
                    raise ValueError("mpa encode: allocation out of range")
                bw.put(alloc, 4)
        for sb in range(32):
            for ch in range(nch):
                alloc, scf_idx, _ = spec[ch].get(sb, (0, 0, None))
                if alloc:
                    if not 0 <= scf_idx <= 62:
                        raise ValueError("mpa encode: bad scalefactor")
                    bw.put(scf_idx, 6)
        for s in range(12):
            for sb in range(32):
                for ch in range(nch):
                    alloc, _, codes = spec[ch].get(sb, (0, 0, None))
                    if not alloc:
                        continue
                    nb = alloc + 1
                    code = codes[s]
                    if not 0 <= code <= (1 << nb) - 2:
                        raise ValueError("mpa encode: code out of range")
                    bw.put(code, nb)
        bw.align()
        if len(bw.buf) > frame_bytes:
            raise ValueError("mpa encode: frame data exceeds slot count")
        bw.buf.extend(b"\x00" * (frame_bytes - len(bw.buf)))
        out += bw.buf
    return bytes(out)


def quantize_l1(value: float, nb: int) -> int:
    """Nearest-level Layer I quantizer (encoder side): the code whose
    s''' is closest to ``value`` (|value| ≤ 1), clamped to the legal
    0..2^nb − 2 range.  Inverse of requantize_l1 on the level grid."""
    # s''' grid is uniform with step 2/(2^nb − 1); solve for C
    c = round(((value * ((1 << nb) - 1)) + (1 << nb)) / 2.0 - 1)
    return max(0, min((1 << nb) - 2, int(c)))
