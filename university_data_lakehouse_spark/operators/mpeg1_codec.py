"""Minimal MPEG-1 video (ISO/IEC 11172-2) INTRA-ONLY codec — stdlib +
numpy, public spec only.

Scope (the honest boundary, mirroring the repo's JPEG/FLAC tiers):

- DECODER: sequence header (including custom intra quantizer matrix
  load), GOP / extension / user-data skip, I-pictures only — a stream
  whose first picture is P/B returns ``None`` so the pipeline routes
  it to the ``decode_real`` capability probe (inter prediction needs a
  real codec); slices with macroblock address increments 1–15 (+ the
  spec's stuffing/escape codes), intra macroblock types with and
  without quantizer updates, per-component DC prediction (reset 1024
  at slice start), the DC-size VLCs of Tables B.5a/B.5b, the
  dct_coeff_next VLCs of Table B.5c through the 10-bit group plus the
  FULL 6-bit-run/8-or-16-bit-level ESCAPE path (rarer long VLCs raise
  ValueError into the null-row boundary — every (run, level) pair
  remains representable via escape), intra AC dequantization with the
  spec's oddification mismatch control and ±2048 saturation, zigzag
  de-scan and the float 8×8 IDCT (same basis matrix as the JPEG
  family), 4:2:0 macroblock assembly and edge cropping.
- ENCODER (synthesis side): I-pictures of CONSTANT 8×8 blocks — the
  MPEG-1 twin of the repo's constant-block JPEG construction. MPEG-1
  intra DC uses a FIXED quantizer step of 8 (§2.4.4.1:
  dct_recon[0][0] = dct_zz[0]·8), so a constant block with value v
  stores quantized DC v exactly and the DC-only IDCT returns v in
  every pel: the lossy codec is exactly lossless on these payloads and
  the decoded stream is a closed form a DuckDB oracle can replay.
  Hand fixtures additionally exercise the AC/dequant/oddification path
  through optional per-block (run, level) lists (VLC where the pair is
  in the table, escape otherwise).

Bit-level reads and writes go through bitio.py: BitReader per start-
code segment, BitWriter for the encoder, and one VlcTable (peek LUT +
bit-walk fallback) per VLC table above.

Reference parity note: the reference repo (thomasganka/
university-data-lakehouse) has no media decode at all; this tier
exists for the multimodal training-data pipeline surface (SURVEY §2.8)
and follows ISO/IEC 11172-2 alone.
"""

from __future__ import annotations

import numpy as np

from .bitio import BitReader, BitWriter, VlcTable

SEQ_START = 0xB3
GOP_START = 0xB8
PIC_START = 0x00
SEQ_END = 0xB7
EXT_START = 0xB5
USER_START = 0xB2

# Default intra quantizer matrix (ISO/IEC 11172-2 §2.4.3.2), zigzag
# order applied at dequant time via _ZIGZAG below.
DEFAULT_INTRA_Q = (
    8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83,
)

# Zigzag scan order (11172-2 Figure 2-D.1 == T.81 Figure 5):
# zigzag index -> (row, col).
_ZIGZAG = (
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
)

# dct_dc_size VLCs (Tables B.5a luminance / B.5b chrominance):
# size -> (code, length).
_DC_LUMA = {
    0: (0b100, 3), 1: (0b00, 2), 2: (0b01, 2), 3: (0b101, 3),
    4: (0b110, 3), 5: (0b1110, 4), 6: (0b11110, 5), 7: (0b111110, 6),
    8: (0b1111110, 7),
}
_DC_CHROMA = {
    0: (0b00, 2), 1: (0b01, 2), 2: (0b10, 2), 3: (0b110, 3),
    4: (0b1110, 4), 5: (0b11110, 5), 6: (0b111110, 6),
    7: (0b1111110, 7), 8: (0b11111110, 8),
}
_DC_LUMA_DEC = VlcTable({v: k for k, v in _DC_LUMA.items()},
                        "mpeg1 dct_dc_size")
_DC_CHROMA_DEC = VlcTable({v: k for k, v in _DC_CHROMA.items()},
                          "mpeg1 dct_dc_size")

# dct_coeff_next run/level VLCs (Table B.5c) through the 10-bit group;
# each is followed by one sign bit. Longer codes (12–17 bit groups)
# raise into the null path — the escape code below covers every
# (run, level) pair, so the ENCODER is total.
_TCOEFF = {
    (0b11, 2): (0, 1), (0b011, 3): (1, 1),
    (0b0100, 4): (0, 2), (0b0101, 4): (2, 1),
    (0b00101, 5): (0, 3), (0b00111, 5): (3, 1), (0b00110, 5): (4, 1),
    (0b000110, 6): (1, 2), (0b000111, 6): (5, 1),
    (0b000101, 6): (6, 1), (0b000100, 6): (7, 1),
    (0b0000110, 7): (0, 4), (0b0000100, 7): (2, 2),
    (0b0000111, 7): (8, 1), (0b0000101, 7): (9, 1),
    (0b00100110, 8): (0, 5), (0b00100001, 8): (0, 6),
    (0b00100101, 8): (1, 3), (0b00100100, 8): (3, 2),
    (0b00100111, 8): (10, 1), (0b00100011, 8): (11, 1),
    (0b00100010, 8): (12, 1), (0b00100000, 8): (13, 1),
    (0b0000001010, 10): (0, 7), (0b0000001100, 10): (1, 4),
    (0b0000001011, 10): (2, 3), (0b0000001111, 10): (4, 2),
    (0b0000001001, 10): (5, 2), (0b0000001110, 10): (14, 1),
    (0b0000001101, 10): (15, 1), (0b0000001000, 10): (16, 1),
}
_TCOEFF_ENC = {rl: cl for cl, rl in _TCOEFF.items()}
_EOB = (0b10, 2)
_ESCAPE = (0b000001, 6)
_TCOEFF_DEC = VlcTable({**_TCOEFF, _EOB: "eob", _ESCAPE: "esc"},
                       "mpeg1 dct_coeff")

# macroblock_address_increment VLCs (Table B.1, increments 1–15;
# escape adds 33, stuffing is discarded).
_MB_INC = {
    1: (0b1, 1), 2: (0b011, 3), 3: (0b010, 3), 4: (0b0011, 4),
    5: (0b0010, 4), 6: (0b00011, 5), 7: (0b00010, 5),
    8: (0b0000111, 7), 9: (0b0000110, 7), 10: (0b00001011, 8),
    11: (0b00001010, 8), 12: (0b00001001, 8), 13: (0b00001000, 8),
    14: (0b00000111, 8), 15: (0b00000110, 8),
}
_MB_ESCAPE = (0b00000001000, 11)
_MB_STUFFING = (0b00000001111, 11)
_MB_INC_DEC = VlcTable({**{v: k for k, v in _MB_INC.items()},
                        _MB_STUFFING: "stuff", _MB_ESCAPE: "esc"},
                       "mpeg1 macroblock_address_increment")


def _idct_matrix() -> np.ndarray:
    """The 8-point DCT basis M[u, x] = a(u)/2 · cos((2x+1)uπ/16)
    (a(0) = 1/√2, else 1) — numerically identical to the JPEG
    family's _JPEG_IDCT_M (same formula, same libm calls), duplicated
    here so this module stays import-independent of multimodal.py."""
    m = np.zeros((8, 8))
    for u in range(8):
        a = (1 / np.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = a / 2 * np.cos((2 * x + 1) * u * np.pi / 16)
    return m


_IDCT_M = _idct_matrix()


def _extend(value: int, size: int) -> int:
    """Differential magnitude extension (same one's-complement-style
    rule as JPEG EXTEND): top bit 0 encodes a negative value."""
    if size == 0:
        return 0
    return value if value >= (1 << (size - 1)) else value - (1 << size) + 1


# ------------------------------------------------------------ encoder


def _put_dc(bw: BitWriter, table: dict, diff: int) -> None:
    size = abs(diff).bit_length()
    if size > 8:
        raise ValueError("mpeg1: DC differential out of range")
    code, length = table[size]
    bw.put(code, length)
    if size:
        mag = diff if diff > 0 else diff + (1 << size) - 1
        bw.put(mag, size)


def _put_coeff(bw: BitWriter, run: int, level: int) -> None:
    """One (run, level) AC pair: Table B.5c VLC + sign where the pair
    has a code in the supported groups, the spec ESCAPE otherwise."""
    key = (run, abs(level))
    if key in _TCOEFF_ENC:
        code, length = _TCOEFF_ENC[key]
        bw.put(code, length)
        bw.put(1 if level < 0 else 0, 1)
        return
    bw.put(*_ESCAPE)
    bw.put(run, 6)
    if -127 <= level <= 127 and level != 0:
        bw.put(level & 0xFF, 8)
    elif 128 <= level <= 255:
        bw.put(0x00, 8)
        bw.put(level, 8)
    elif -255 <= level <= -128:
        bw.put(0x80, 8)
        bw.put(level + 256, 8)
    else:
        raise ValueError("mpeg1: escape level out of range")


def encode_mpeg1_intra(frames: list, w: int, h: int,
                       qscale: int = 8) -> bytes:
    """Encode an I-picture-only MPEG-1 video stream.

    ``frames`` is a list of per-picture dicts {"Y", "Cb", "Cr"}; each
    plane is a 2-D nested list of per-8×8-BLOCK entries, either a
    constant pel value 0..255 or a tuple (dc_value, [(run, level),
    ...]) adding AC coefficients (hand-fixture path). Y is
    (h/8 × w/8) blocks, chroma (h/16 × w/16); w and h must be
    multiples of 16. One slice per picture, one GOP, default
    quantizer matrices."""
    if w % 16 or h % 16:
        raise ValueError("mpeg1: dimensions must be multiples of 16")
    out = bytearray()
    bw = BitWriter()
    bw.put(w, 12)
    bw.put(h, 12)
    bw.put(1, 4)                  # pel aspect: square
    bw.put(3, 4)                  # picture rate: 25 fps
    bw.put((1 << 18) - 1, 18)     # bit_rate: variable
    bw.put(1, 1)                  # marker
    bw.put(0, 10)                 # vbv_buffer_size
    bw.put(0, 1)                  # constrained_parameters_flag
    bw.put(0, 1)                  # load_intra_quantizer_matrix
    bw.put(0, 1)                  # load_non_intra_quantizer_matrix
    out += b"\x00\x00\x01" + bytes([SEQ_START]) + bw.bytes()

    bw = BitWriter()
    bw.put(0, 1)                  # time_code: drop_frame_flag
    bw.put(0, 5)                  # hours
    bw.put(0, 6)                  # minutes
    bw.put(1, 1)                  # marker bit (also prevents
    bw.put(0, 6)                  # seconds      start-code emulation)
    bw.put(0, 6)                  # pictures
    bw.put(1, 1)                  # closed_gop
    bw.put(0, 1)                  # broken_link
    out += b"\x00\x00\x01" + bytes([GOP_START]) + bw.bytes()

    for f, planes in enumerate(frames):
        bw = BitWriter()
        bw.put(f % 1024, 10)      # temporal_reference
        bw.put(1, 3)              # picture_coding_type: I
        bw.put(0xFFFF, 16)        # vbv_delay
        bw.put(0, 1)              # extra_bit_picture
        out += b"\x00\x00\x01" + bytes([PIC_START]) + bw.bytes()

        bw = BitWriter()
        bw.put(qscale, 5)
        bw.put(0, 1)              # extra_bit_slice
        preds = {"Y": 128, "Cb": 128, "Cr": 128}   # quantized domain
        mb_w, mb_h = w // 16, h // 16
        for mb_y in range(mb_h):
            for mb_x in range(mb_w):
                bw.put(*_MB_INC[1])
                bw.put(0b1, 1)    # macroblock_type: intra
                for comp, by, bx in (
                    ("Y", 2 * mb_y, 2 * mb_x),
                    ("Y", 2 * mb_y, 2 * mb_x + 1),
                    ("Y", 2 * mb_y + 1, 2 * mb_x),
                    ("Y", 2 * mb_y + 1, 2 * mb_x + 1),
                    ("Cb", mb_y, mb_x),
                    ("Cr", mb_y, mb_x),
                ):
                    spec = planes[comp][by][bx]
                    dc, acs = (spec if isinstance(spec, tuple)
                               else (spec, []))
                    table = _DC_LUMA if comp == "Y" else _DC_CHROMA
                    _put_dc(bw, table, int(dc) - preds[comp])
                    preds[comp] = int(dc)
                    for run, level in acs:
                        _put_coeff(bw, run, level)
                    bw.put(*_EOB)
        out += b"\x00\x00\x01\x01" + bw.bytes()

    out += b"\x00\x00\x01" + bytes([SEQ_END])
    return bytes(out)


# ------------------------------------------------------------ decoder


def _segments(payload: bytes) -> list[tuple[int, bytes]]:
    """Split on byte-aligned 00 00 01 start codes (unique by VLC
    design) → [(code, body bytes up to the next start code)]."""
    out = []
    pos = payload.find(b"\x00\x00\x01")
    if pos != 0:
        raise ValueError("mpeg1: missing start code")
    while pos >= 0 and pos + 4 <= len(payload):
        code = payload[pos + 3]
        nxt = payload.find(b"\x00\x00\x01", pos + 4)
        end = nxt if nxt >= 0 else len(payload)
        out.append((code, payload[pos + 4:end]))
        pos = nxt
    return out


def _parse_seq_header(body: bytes) -> tuple[int, int, list[int]]:
    br = BitReader(body)
    w = br.take(12)
    h = br.take(12)
    br.take(4)                    # pel aspect
    br.take(4)                    # picture rate
    br.take(18)                   # bit_rate
    if br.take(1) != 1:
        raise ValueError("mpeg1: sequence header marker bit")
    br.take(10)                   # vbv_buffer_size
    br.take(1)                    # constrained flag
    qmat = list(DEFAULT_INTRA_Q)
    if br.take(1):                # load_intra_quantizer_matrix
        zz = [br.take(8) for _ in range(64)]
        qmat = [0] * 64
        for i, (r, c) in enumerate(_ZIGZAG):
            qmat[r * 8 + c] = zz[i]
    if br.take(1):                # load_non_intra (unused by intra)
        for _ in range(64):
            br.take(8)
    if w == 0 or h == 0:
        raise ValueError("mpeg1: zero dimension")
    return w, h, qmat


def _decode_block(br: BitReader, dc_table: VlcTable, pred: int,
                  qscale: int, qmat: list[int]) -> tuple[np.ndarray, int]:
    """One intra block → (8×8 pel array, new quantized-DC predictor).
    DC: fixed step 8 (§2.4.4.1). AC: (2·level·qscale·Q)/16 truncated
    toward zero, oddification mismatch control, ±2048 saturation."""
    size = dc_table.decode(br)
    diff = _extend(br.take(size), size) if size else 0
    qdc = pred + diff
    dc_val = max(-2048, min(2047, qdc * 8))
    # coef allocated LAZILY on the first AC coefficient: the
    # constant-block synth streams are 100% DC-only, and the 8x8
    # numpy zeros per block was pure overhead on that path (r17)
    coef = None
    k = 0
    ac_seen = False
    while True:
        sym = _TCOEFF_DEC.decode(br)
        if sym == "eob":
            break
        if sym == "esc":
            run = br.take(6)
            level = br.take(8)
            if level == 0:
                level = br.take(8)           # 128..255
                # ISO 11172-2 B.5f: the double-byte +ve form encodes
                # ONLY 128..255 — a second byte < 128 belongs in the
                # single-byte form and is a malformed stream.
                if level < 128:
                    raise ValueError("mpeg1: invalid escape level")
            elif level == 128:
                level = br.take(8) - 256     # -255..-128
                # valid second bytes are 1..128: 0 would decode to
                # -256 (outside the spec's -255..-128) and >128 to
                # levels the single-byte form must carry.
                if not -255 <= level <= -128:
                    raise ValueError("mpeg1: invalid escape level")
            elif level > 128:
                level -= 256                 # -127..-1
        else:
            run, level = sym
            if br.take(1):
                level = -level
        k += run + 1
        if k > 63:
            raise ValueError("mpeg1: AC index past block")
        r, c = _ZIGZAG[k]
        val = (2 * level * qscale * qmat[r * 8 + c])
        val = -((-val) // 16) if val < 0 else val // 16
        if val and val % 2 == 0:             # oddification
            val += 1 if val < 0 else -1
        if coef is None:
            coef = np.zeros((8, 8))
            coef[0, 0] = dc_val
        coef[r, c] = max(-2048, min(2047, val))
        ac_seen = True
    if not ac_seen:
        # DC-only block (every block of the constant-block synth
        # streams): the IDCT of a lone DC coefficient is the constant
        # (M[0,i]·DC)·M[0,j] with M[0,*] all equal — the identical
        # two float products the general matmul performs for the one
        # non-zero row (the rest are exact-zero adds), so the scalar
        # short-circuit is bit-identical (pytest-pinned). A scalar
        # return assigns into the caller's 8×8 plane slice unchanged.
        # float(dc_val) reproduces the retired coef[0, 0] float64
        # read exactly (dc_val is an integer within ±2048).
        m0 = _IDCT_M[0, 0]
        val = min(max(round((m0 * float(dc_val)) * m0), 0.0), 255.0)
        return val, qdc
    block = _IDCT_M.T @ coef @ _IDCT_M
    return np.clip(np.round(block), 0, 255), qdc


# Aggregate decoded-output cap: MPEG-1 picture headers cost ~12
# payload bytes each regardless of w·h, so without a bound a
# few-KB crafted stream could demand gigabytes of frame buffers —
# MemoryError is deliberately NOT in the null-contract catch set
# (same rationale as multimodal._MAX_DECODE_PIXELS). 64 MB of
# decoded planes is far beyond any feature-pass payload; larger
# legitimate media belongs to the decode_real codec tier.
MPEG1_MAX_DECODED_BYTES = 1 << 26


def mpeg1_frames(payload: bytes) -> tuple[int, int, list[bytes]] | None:
    """Decode an MPEG-1 video elementary stream of I-pictures →
    (width, height, [per-frame planar Y+Cb+Cr bytes]). Returns None
    for streams whose pictures need inter prediction (P/B) — the
    decode_real probe tier — and raises ValueError on malformed
    intra streams (the _samples_or_null boundary converts that to
    the null row): slice-less pictures, oversized decoded output,
    truncated/corrupt entropy data."""
    segs = _segments(payload)
    if not segs or segs[0][0] != SEQ_START:
        return None
    w = h = None
    qmat = list(DEFAULT_INTRA_Q)
    frames: list[bytes] = []
    total_out = 0
    planes = None                 # (Y, Cb, Cr) arrays being filled
    pic_mbs = 0                   # macroblocks decoded this picture
    pic_total = 0                 # macroblocks the picture must carry
    seen = bytearray(0)           # per-address coverage bitmap

    def finish() -> None:
        nonlocal total_out
        if planes is None:
            return
        # §2.4.2.7: EVERY macroblock of an I-picture is intra coded —
        # a partial cover (slices for a strict subset of the frame)
        # would silently emit zero-filled pels as plausible data, so
        # the count must be exact, not merely nonzero (r10 review #2)
        if pic_mbs != pic_total:
            raise ValueError("mpeg1: picture missing macroblocks")
        y, cb, cr = planes
        frame = (y[:h, :w].tobytes()
                 + cb[:h // 2, :w // 2].tobytes()
                 + cr[:h // 2, :w // 2].tobytes())
        total_out += len(frame)
        frames.append(frame)

    for code, body in segs:
        if code == SEQ_START:
            nw, nh, qmat = _parse_seq_header(body)
            if w is not None and (nw, nh) != (w, h):
                raise ValueError("mpeg1: dimension change mid-stream")
            w, h = nw, nh
        elif code in (GOP_START, EXT_START, USER_START, SEQ_END):
            continue
        elif code == PIC_START:
            finish()
            br = BitReader(body)
            br.take(10)           # temporal_reference
            ptype = br.take(3)
            if ptype != 1:        # P/B need a real codec: probe tier
                return None
            mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
            # cap check at HEADER time, before any slice decoding or
            # plane allocation — the amplification budget is bounded
            # by the cap, not by how fast a crafted header can demand
            fbytes = w * h + 2 * ((w // 2) * (h // 2))
            if total_out + fbytes > MPEG1_MAX_DECODED_BYTES:
                raise ValueError(
                    "mpeg1: decoded stream exceeds size cap")
            planes = (np.zeros((mb_h * 16, mb_w * 16), dtype=np.uint8),
                      np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8),
                      np.zeros((mb_h * 8, mb_w * 8), dtype=np.uint8))
            pic_mbs = 0
            pic_total = mb_w * mb_h
            seen = bytearray(pic_total)
        elif 0x01 <= code <= 0xAF:
            if planes is None or w is None:
                raise ValueError("mpeg1: slice before picture header")
            pic_mbs += _decode_slice(code, body, planes, w, h, qmat,
                                     seen)
        else:
            raise ValueError("mpeg1: unsupported start code")
    finish()
    if not frames:
        return None
    return int(w), int(h), frames


def _decode_slice(code: int, body: bytes, planes: tuple, w: int,
                  h: int, qmat: list[int],
                  seen: bytearray) -> int:
    """Decode one slice into ``planes``; returns the number of
    macroblocks decoded. ``seen`` marks per-address coverage —
    re-decoding an address raises, so the caller's exact-count gate
    (pic_mbs == pic_total) truly means every address was covered
    once (duplicate slices can't cancel missing ones, r10 review)."""
    br = BitReader(body)
    qscale = br.take(5)
    if qscale == 0:
        raise ValueError("mpeg1: quantizer_scale zero")
    while br.take(1):             # extra_bit_slice
        br.take(8)
    mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
    mb_addr = (code - 1) * mb_w - 1
    preds = {"Y": 128, "Cb": 128, "Cr": 128}
    y, cb, cr = planes
    decoded = 0
    # next_start_code() permits ANY number of zero stuffing bytes
    # after the last macroblock, not just the sub-byte pad — stop on
    # all-zero remainder, never misread it as an address increment
    # (r10 self-review). The remainder is nonzero while the last
    # nonzero byte is wholly unread, or its unread low bits are set.
    nz_end = len(body.rstrip(b"\x00")) << 3
    while (rem := nz_end - br.bitpos) >= 8 or (rem > 0 and br.peek(rem)):
        # macroblock_address_increment (stuffing discarded, escape +33)
        inc = 0
        while True:
            sym = _MB_INC_DEC.decode(br)
            if sym == "stuff":
                continue
            if sym == "esc":
                inc += 33
                continue
            inc += sym
            break
        mb_addr += inc
        if inc != 1:
            # skipped macroblocks are not allowed in I-pictures
            # (§2.4.2.7 — every MB of an I-picture is intra coded)
            raise ValueError("mpeg1: skipped macroblock in I-picture")
        if mb_addr >= mb_w * mb_h:
            raise ValueError("mpeg1: macroblock address past picture")
        if seen[mb_addr]:
            raise ValueError("mpeg1: macroblock address decoded twice")
        seen[mb_addr] = 1
        if br.take(1) != 1:       # macroblock_type (Table B.2a)
            if br.take(1) != 1:
                raise ValueError("mpeg1: invalid intra macroblock type")
            qscale = br.take(5)   # '01' = intra + new quantizer_scale
            if qscale == 0:
                raise ValueError("mpeg1: quantizer_scale zero")
        mb_y, mb_x = divmod(mb_addr, mb_w)
        for comp, plane, by, bx in (
            ("Y", y, 2 * mb_y, 2 * mb_x),
            ("Y", y, 2 * mb_y, 2 * mb_x + 1),
            ("Y", y, 2 * mb_y + 1, 2 * mb_x),
            ("Y", y, 2 * mb_y + 1, 2 * mb_x + 1),
            ("Cb", cb, mb_y, mb_x),
            ("Cr", cr, mb_y, mb_x),
        ):
            table = _DC_LUMA_DEC if comp == "Y" else _DC_CHROMA_DEC
            block, preds[comp] = _decode_block(
                br, table, preds[comp], qscale, qmat)
            plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = block
        decoded += 1
        if mb_addr == mb_w * mb_h - 1:
            break
    return decoded
