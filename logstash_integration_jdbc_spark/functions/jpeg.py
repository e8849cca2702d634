"""Pure-stdlib JPEG codec (decode + test-grade encoder).

Real format, real decoder, no Pillow: a marker-walking parser, huffman
entropy decoding with byte-stuffing and restart markers, dequantization,
numpy matrix IDCT, chroma upsampling, and JFIF YCbCr→RGB. Scope is
huffman DCT — baseline/extended sequential (SOF0/SOF1, 8- AND 12-bit
precision with 16-bit quant tables) AND progressive (SOF2: DC/AC
spectral-selection scans, successive-approximation refinement, EOB
runs, per-scan table redefinition) — with 1 (grayscale), 3 (YCbCr /
Adobe RGB), or 4 (CMYK / YCCK via the APP14 Adobe transform)
components and sampling factors 1 or 2, i.e. the shapes real-world
JPEGs use. Arithmetic coding and lossless/hierarchical raise
``NotImplementedError`` naming Pillow.

The encoder exists so tests can build REAL JPEG bytes without any
library: 4:4:4 baseline with the JPEG Annex K example quantization and
huffman tables (public spec constants). It is not tuned for size or
speed — the decoder is the product; the encoder is the fixture factory.

All heavy loops are per-8×8-block numpy; entropy decoding is a Python
bit-reader (inherently sequential). Pillow/libjpeg-turbo is the
throughput choice; this codec makes the *semantics* real and testable
without either.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag scan order: index i of the scan → (row, col) flattened offset
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1/K.2 example quantization tables (luminance, chrominance)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K.3 example huffman tables: (bits[1..16], huffval[])
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix C: dct = C @ block @ C.T."""
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    c = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2.0 / 8)
    c[0, :] = np.sqrt(1.0 / 8)
    return c


_C = _dct_matrix()


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(code_length, code) → symbol, per the canonical JPEG assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code_length, code); inverse of the decode table."""
    return {v: k for k, v in _huff_decode_table(bits, vals).items()}


def _huff_lut(bits: list[int], vals: list[int]) -> tuple[list[int], list[int]]:
    """(sym, len) 65536-entry PYTHON-LIST LUTs: any 16-bit peek whose
    prefix is a canonical code of length l maps every suffix to the
    same (symbol, l), so a symbol decodes in two list lookups instead
    of a bit-by-bit table walk. len 0 marks an invalid prefix. Lists,
    not numpy: per-element numpy indexing costs ~5× a list index in the
    hot loop (same measurement as the PNG filter rewrite)."""
    sym = np.zeros(65536, dtype=np.int64)
    ln = np.zeros(65536, dtype=np.int64)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            sym[lo : lo + (1 << (16 - length))] = vals[k]
            ln[lo : lo + (1 << (16 - length))] = length
            code += 1
            k += 1
        code <<= 1
    return sym.tolist(), ln.tolist()


class _BitReader:
    """MSB-first reader over entropy-coded data.

    The 0xFF00 byte-stuffing is undone ONCE up front (a segment handed
    to the reader contains no markers — the caller splits restart
    markers out and stops at the first true marker, so every interior
    0xFF is stuffed). Bytes live in a Python LIST; each huffman symbol
    is a 3-byte 16-bit peek + two list-LUT lookups and each value-bit
    field a 3-byte compose — measured ~2× the previous per-bit loop
    (BASELINE.md; a numpy-LUT + int.from_bytes variant measured 2.4×
    SLOWER than per-bit — per-element numpy/slice overhead again)."""

    def __init__(self, data: bytes) -> None:
        # +2 padding bytes so a 16-bit peek near the end never reads
        # short; nbits still bounds every consume
        raw = data.replace(b"\xFF\x00", b"\xFF")
        self.nbits = len(raw) * 8
        self.b = list(raw + b"\x00\x00")
        self.pos = 0

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("JPEG entropy data exhausted")
        b = self.b
        i = p >> 3
        off = p & 7
        # JPEG value fields are ≤16 bits → 3 bytes always cover off+n
        v = (b[i] << 16) | (b[i + 1] << 8) | b[i + 2]
        self.pos = p + n
        return (v >> (24 - off - n)) & ((1 << n) - 1)

    def read_symbol(self, table: tuple[list[int], list[int]]) -> int:
        sym_lut, len_lut = table
        p = self.pos
        b = self.b
        i = p >> 3
        peek = (((b[i] << 16) | (b[i + 1] << 8) | b[i + 2])
                >> (8 - (p & 7))) & 0xFFFF
        length = len_lut[peek]
        if length == 0:
            raise ValueError("invalid huffman code in JPEG stream")
        if p + length > self.nbits:
            raise ValueError("JPEG entropy data exhausted")
        self.pos = p + length
        return sym_lut[peek]

    def decode_block(self, dc_tab, ac_tab, pred: int) -> tuple[list[int], int]:
        """One 8×8 block's zigzag coefficients + the new DC predictor.

        The whole DC+AC symbol loop runs on LOCAL variables (byte list,
        bit position, LUTs) — the per-call attribute reads of the
        read_symbol/read_bits composition were ~30% of decode time at
        this level of tuning (measured; BASELINE.md)."""
        b = self.b
        p = self.pos
        nbits = self.nbits
        dc_sym, dc_len = dc_tab
        ac_sym, ac_len = ac_tab
        coef = [0] * 64

        # DC: size symbol, then the signed diff
        i = p >> 3
        peek = (((b[i] << 16) | (b[i + 1] << 8) | b[i + 2])
                >> (8 - (p & 7))) & 0xFFFF
        t = dc_len[peek]
        if t == 0:
            raise ValueError("invalid huffman code in JPEG stream")
        if p + t > nbits:
            raise ValueError("JPEG entropy data exhausted")
        p += t
        t = dc_sym[peek]
        if t:
            if p + t > nbits:
                raise ValueError("JPEG entropy data exhausted")
            i = p >> 3
            off = p & 7
            v = (((b[i] << 16) | (b[i + 1] << 8) | b[i + 2])
                 >> (24 - off - t)) & ((1 << t) - 1)
            p += t
            pred += v if v >= (1 << (t - 1)) else v - (1 << t) + 1
        coef[0] = pred

        k = 1
        while k < 64:
            i = p >> 3
            peek = (((b[i] << 16) | (b[i + 1] << 8) | b[i + 2])
                    >> (8 - (p & 7))) & 0xFFFF
            ln = ac_len[peek]
            if ln == 0:
                raise ValueError("invalid huffman code in JPEG stream")
            if p + ln > nbits:
                raise ValueError("JPEG entropy data exhausted")
            p += ln
            rs = ac_sym[peek]
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += rs >> 4
            if k > 63:
                raise ValueError("AC index overflow")
            s = rs & 0xF
            if p + s > nbits:
                raise ValueError("JPEG entropy data exhausted")
            i = p >> 3
            off = p & 7
            v = (((b[i] << 16) | (b[i + 1] << 8) | b[i + 2])
                 >> (24 - off - s)) & ((1 << s) - 1)
            p += s
            coef[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            k += 1
        self.pos = p
        return coef, pred


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t-bit magnitude to signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def parse_jpeg(payload: bytes):
    """Decode a baseline JFIF/EXIF/Adobe JPEG → (width, height,
    RGB (h, w, 3)).

    Grayscale expands to RGB. 4-component CMYK/YCCK streams convert
    via the APP14 Adobe transform (libjpeg conventions: with an Adobe
    marker samples are stored inverted, 255 = no ink; without one they
    are taken as plain ink coverage), then RGB = S·S_k/255 per channel
    — the standard non-ICC conversion. An Adobe transform of 0 with
    three components is passthrough RGB. Raises ``NotImplementedError``
    (naming Pillow) for 12-bit/arithmetic/lossless inputs and
    ``ValueError`` for corrupt streams.
    """
    if payload[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    pos = 2
    scans: list[dict] = []
    adobe_transform = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        # spec-legal 0xFF fill bytes may pad before the marker code
        # (ITU T.81 B.1.1.2) — skip them so the code byte isn't misread
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq:  # 16-bit entries (12-bit-precision streams)
                    qt[tq] = np.frombuffer(
                        body[i + 1 : i + 129], dtype=">u2").astype(np.int64)
                    i += 129
                else:
                    qt[tq] = np.frombuffer(
                        body[i + 1 : i + 65], dtype=np.uint8).astype(np.int64)
                    i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec, h, w, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec not in (8, 12):
                raise NotImplementedError(f"{prec}-bit JPEG needs Pillow")
            if prec == 12 and marker == 0xC0:
                raise ValueError("baseline SOF0 is 8-bit only; 12-bit "
                                 "requires extended sequential (SOF1)")
            if nc not in (1, 3, 4):
                raise NotImplementedError(f"{nc}-component JPEG needs Pillow")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError("sampling factors >2 need Pillow")
                comps.append({"id": cid, "h": hi, "v": vi, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps,
                     "progressive": marker == 0xC2, "prec": prec}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "lossless/hierarchical/arithmetic JPEG needs Pillow")
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _huff_lut(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xEE and body[:5] == b"Adobe":  # APP14
            adobe_transform = body[11]
        elif marker == 0xDA:  # SOS
            ns = body[0]
            sel = {}
            order = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                sel[cs] = (tt >> 4, tt & 0xF)
                order.append(cs)
            o = 1 + 2 * ns
            ss, se, ahal = body[o], body[o + 1], body[o + 2]
            data_start = pos + seglen
            # entropy data runs to the next non-RST marker
            end = data_start
            while end < len(payload) - 1:
                if payload[end] == 0xFF and payload[end + 1] not in (0x00,) and not (
                    0xD0 <= payload[end + 1] <= 0xD7
                ):
                    break
                end += 1
            # snapshot the table state: DHT may redefine tables between
            # progressive scans (values are immutable tuples)
            scans.append({
                "sel": sel, "order": order, "ss": ss, "se": se,
                "ah": ahal >> 4, "al": ahal & 0xF,
                "data": payload[data_start:end],
                "dri": restart_interval,
                "dc": dict(huff_dc), "ac": dict(huff_ac),
            })
            pos = end
            continue
        pos += seglen
    if frame is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")
    frame["adobe"] = adobe_transform
    if frame.get("progressive"):
        return _finish_jpeg(frame, _decode_progressive(frame, scans), qt)

    sel, data = scans[0]["sel"], scans[0]["data"]
    comps = frame["comps"]
    mcus_x, mcus_y = _mcu_grid(frame)
    blocks = [
        [[0] * 64 for _ in range(mcus_y * c["v"] * mcus_x * c["h"])]
        for c in comps
    ]
    mcu_index = 0
    total_mcus = mcus_x * mcus_y
    # Entropy decode fills plain-list coefficient blocks per component;
    # dequantize + de-zigzag + IDCT then run BATCHED over all blocks in
    # _finish_jpeg (one einsum per component instead of two 8×8 matmuls
    # + three numpy allocs per block — the per-block numpy fixed costs
    # dominated the profile once the huffman path went LUT).
    for seg in _split_restart_segments(data, restart_interval):
        reader = _BitReader(seg)
        pred = [0] * len(comps)
        limit = (mcu_index + restart_interval) if restart_interval else total_mcus
        while mcu_index < min(limit, total_mcus):
            my, mx = divmod(mcu_index, mcus_x)
            for ci, comp in enumerate(comps):
                dct_t, act_t = sel[comp["id"]]
                dc_tab, ac_tab = huff_dc[dct_t], huff_ac[act_t]
                bw = mcus_x * comp["h"]
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        coef, pred[ci] = reader.decode_block(
                            dc_tab, ac_tab, pred[ci])
                        blocks[ci][(my * comp["v"] + by) * bw
                                   + mx * comp["h"] + bx] = coef
            mcu_index += 1
    return _finish_jpeg(frame, blocks, qt)


def _mcu_grid(frame) -> tuple[int, int]:
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    return -(-frame["w"] // (8 * hmax)), -(-frame["h"] // (8 * vmax))


def _split_restart_segments(data: bytes, restart_interval: int) -> list[bytes]:
    """Split entropy data on RSTn markers (each segment resets DC
    predictors and, in progressive AC scans, the EOB run)."""
    if not restart_interval:
        return [data]
    segments, seg, i = [], bytearray(), 0
    while i < len(data):
        if data[i] == 0xFF and i + 1 < len(data) and 0xD0 <= data[i + 1] <= 0xD7:
            segments.append(bytes(seg))
            seg = bytearray()
            i += 2
            continue
        seg.append(data[i])
        i += 1
    segments.append(bytes(seg))
    return segments


def _finish_jpeg(frame, blocks, qt):
    """Shared tail: per-component zigzag coefficient blocks (plain
    lists, padded-MCU raster order) → dequant → batched einsum IDCT →
    plane assembly → chroma upsample → RGB."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x, mcus_y = _mcu_grid(frame)
    w, h = frame["w"], frame["h"]
    # 12-bit streams center at 2048 and scale down to 8-bit output;
    # for 8-bit, center=128 and scale=1.0 exactly (no behavior change)
    prec = frame.get("prec", 8)
    center = float(1 << (prec - 1))
    maxv = float((1 << prec) - 1)
    scale = 255.0 / maxv
    out_planes = []
    for ci, comp in enumerate(comps):
        bh, bw = mcus_y * comp["v"], mcus_x * comp["h"]
        zz = np.asarray(blocks[ci], dtype=np.int64) * qt[comp["tq"]][None, :]
        nat = np.zeros((zz.shape[0], 64), dtype=np.float64)
        nat[:, ZIGZAG] = zz
        px = np.einsum("ij,njk,kl->nil", _C.T, nat.reshape(-1, 8, 8), _C) + center
        p = (px.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3)
             .reshape(bh * 8, bw * 8))
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:  # nearest-neighbor chroma upsample
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        # round BEFORE the uint8 cast — astype truncates (21.999 → 21)
        y = np.clip(np.round(out_planes[0] * scale), 0, 255)
        return w, h, np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    adobe = frame.get("adobe")
    if len(out_planes) == 4:
        if adobe == 2:  # YCCK: undo the YCbCr transform on the CMY trio
            y, cb, cr, k = out_planes
            sc = y + 1.402 * (cr - center)
            sm = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
            sy = y + 1.772 * (cb - center)
            sk = k
        else:
            sc, sm, sy, sk = out_planes
            if adobe is None:
                # bare CMYK stores ink coverage; Adobe stores inverted
                sc, sm, sy, sk = (maxv - sc, maxv - sm,
                                  maxv - sy, maxv - sk)
        sc = np.clip(sc, 0, maxv)
        sm = np.clip(sm, 0, maxv)
        sy = np.clip(sy, 0, maxv)
        sk = np.clip(sk, 0, maxv)
        rgb = np.stack([sc * sk, sm * sk, sy * sk], axis=2) / maxv
        return w, h, np.clip(np.round(rgb * scale), 0, 255).astype(np.uint8)
    if adobe == 0:  # Adobe transform 0 with three components: plain RGB
        rgb = np.stack(out_planes, axis=2)
        return w, h, np.clip(np.round(rgb * scale), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - center)
    g = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
    b = y + 1.772 * (cb - center)
    rgb = np.stack([r, g, b], axis=2)
    return w, h, np.clip(np.round(rgb * scale), 0, 255).astype(np.uint8)


def _decode_progressive(frame, scans):
    """Progressive (SOF2) entropy decode → per-component zigzag
    coefficient blocks in padded-MCU raster order (ITU T.81 Annex G,
    huffman coding): DC/AC spectral-selection scans plus successive
    approximation (first pass at point transform Al, then one-bit
    refinement passes), EOB runs, per-scan table snapshots, restart
    intervals resetting predictor + EOB run. Coefficients accumulate
    across scans; IDCT runs once at the end (_finish_jpeg)."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x, mcus_y = _mcu_grid(frame)
    cidx = {c["id"]: i for i, c in enumerate(comps)}
    blocks = [
        [[0] * 64 for _ in range(mcus_y * c["v"] * mcus_x * c["h"])]
        for c in comps
    ]
    for sc in scans:
        ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
        dri = sc["dri"]
        if ss == 0 and se != 0:
            raise ValueError("progressive scan mixes DC and AC bands")
        if ss > 0 and len(sc["order"]) != 1:
            raise ValueError("progressive AC scan must be non-interleaved")
        if len(sc["order"]) > 1:
            # interleaved DC scan: MCU walk over all scan components
            total = mcus_x * mcus_y
            idx = 0
            for seg in _split_restart_segments(sc["data"], dri):
                reader = _BitReader(seg)
                pred = {cid: 0 for cid in sc["order"]}
                limit = (idx + dri) if dri else total
                while idx < min(limit, total):
                    my, mx = divmod(idx, mcus_x)
                    for cid in sc["order"]:
                        ci = cidx[cid]
                        comp = comps[ci]
                        bw = mcus_x * comp["h"]
                        tabs = sc["dc"][sc["sel"][cid][0]]
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                blk = blocks[ci][(my * comp["v"] + by) * bw
                                                 + mx * comp["h"] + bx]
                                pred[cid] = _dc_pass(reader, blk, tabs,
                                                     pred[cid], ah, al)
                    idx += 1
        else:
            cid = sc["order"][0]
            ci = cidx[cid]
            comp = comps[ci]
            # non-interleaved: raster over the component's REAL block
            # grid (ceil of scaled dims), not the padded MCU grid
            cw = -(-frame["w"] * comp["h"] // hmax)
            chh = -(-frame["h"] * comp["v"] // vmax)
            nbx, nby = -(-cw // 8), -(-chh // 8)
            bw = mcus_x * comp["h"]
            total = nbx * nby
            idx = 0
            for seg in _split_restart_segments(sc["data"], dri):
                reader = _BitReader(seg)
                pred, eobrun = 0, 0
                limit = (idx + dri) if dri else total
                while idx < min(limit, total):
                    by, bx = divmod(idx, nbx)
                    blk = blocks[ci][by * bw + bx]
                    if ss == 0:
                        pred = _dc_pass(reader, blk,
                                        sc["dc"][sc["sel"][cid][0]],
                                        pred, ah, al)
                    else:
                        eobrun = _ac_pass(reader, blk,
                                          sc["ac"][sc["sel"][cid][1]],
                                          ss, se, ah, al, eobrun)
                    idx += 1
    return blocks


def _dc_pass(reader, blk, dc_tab, pred, ah, al):
    """One block of a DC scan. First pass (Ah=0): huffman diff of
    DC>>Al, accumulated into the predictor, stored <<Al. Refinement:
    one raw bit ORed at position Al (two's complement — valid because
    the stored value has bits below Ah zero)."""
    if ah == 0:
        s = reader.read_symbol(dc_tab)
        diff = _extend(reader.read_bits(s), s) if s else 0
        pred += diff
        blk[0] = pred << al
    else:
        if reader.read_bits(1):
            blk[0] |= 1 << al
    return pred


def _ac_pass(reader, blk, ac_tab, ss, se, ah, al, eobrun):
    """One block of an AC scan band [ss, se]; returns the EOB run.

    First pass (Ah=0, G.1.2.2): run-length/size symbols place
    (value>>Al)<<Al coefficients; EOBn symbols start a run of
    all-remaining-zero blocks. Refinement (G.1.2.3, the libjpeg
    decode_mcu_AC_refine walk): newly nonzero coefficients arrive as
    ±1<<Al, every already-nonzero coefficient crossed — including
    during EOB runs and ZRL skips — consumes one correction bit."""
    p1, m1 = 1 << al, -(1 << al)
    if ah == 0:
        if eobrun > 0:
            return eobrun - 1
        k = ss
        while k <= se:
            rs = reader.read_symbol(ac_tab)
            r, s = rs >> 4, rs & 0xF
            if s:
                k += r
                if k > se:
                    raise ValueError("AC coefficient index beyond band end")
                blk[k] = _extend(reader.read_bits(s), s) << al
                k += 1
            else:
                if r == 15:
                    k += 16
                else:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.read_bits(r)
                    break
        return eobrun
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.read_symbol(ac_tab)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                val = 0  # ZRL: skip 16 zero-history coefficients
            elif s == 1:
                val = p1 if reader.read_bits(1) else m1
            else:
                raise ValueError("AC refinement symbol with size > 1")
            while k <= se:
                if blk[k] != 0:
                    if reader.read_bits(1) and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        if val:
                            blk[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0 and reader.read_bits(1) and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def split_jpeg_frames(payload: bytes) -> list[tuple[int, int]]:
    """Offsets of each complete JPEG in a motion-JPEG byte stream.

    M-JPEG (the RFC 2435 / AVI-MJPG shape) is concatenated standalone
    baseline JPEGs. Each frame self-delimits: walk marker segments by
    their length fields until SOS, then scan the entropy-coded data for
    the first non-stuffed, non-restart marker (byte-stuffing guarantees
    a raw 0xFFD9 cannot occur inside entropy data) — that is EOI.
    Returns [(start, end), ...] with end exclusive.
    """
    frames: list[tuple[int, int]] = []
    pos = 0
    n = len(payload)
    while pos < n:
        if payload[pos : pos + 2] != b"\xFF\xD8":
            raise ValueError(f"expected SOI at offset {pos} in M-JPEG stream")
        start = pos
        pos += 2
        in_scan = False
        eoi_seen = False
        while pos < n:
            if not in_scan:
                if payload[pos] != 0xFF:
                    raise ValueError("bad JPEG marker alignment in M-JPEG frame")
                while pos + 1 < n and payload[pos + 1] == 0xFF:
                    pos += 1  # fill bytes
                marker = payload[pos + 1]
                pos += 2
                if marker == 0xD9:  # EOI — empty frame (no SOS); done
                    eoi_seen = True
                    break
                if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
                    continue
                (seglen,) = struct.unpack_from(">H", payload, pos)
                pos += seglen
                if marker == 0xDA:
                    in_scan = True
            else:
                # entropy data: skip to the next true marker
                if payload[pos] == 0xFF and pos + 1 < n:
                    nxt = payload[pos + 1]
                    if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                        pos += 2  # stuffed byte / restart marker
                        continue
                    if nxt == 0xD9:
                        pos += 2
                        eoi_seen = True
                        break
                    in_scan = False  # e.g. DNL — rewalk as a segment
                    continue
                pos += 1
        if not eoi_seen:
            # scan (or a header segment) ran off the end of the payload
            # without EOI — surface the corruption here instead of as a
            # confusing decode error on the half-frame downstream
            raise ValueError(
                f"truncated M-JPEG frame at offset {start}: "
                "payload ended before EOI")
        frames.append((start, pos))
    return frames


# ---------------------------------------------------------------------------
# encoder (test-fixture factory: baseline 4:4:4, Annex K tables)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> None:
        if self.nbits:
            self.acc <<= 8 - self.nbits
            self.acc |= (1 << (8 - self.nbits)) - 1  # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q * s + 50) // 100, 1, 255)


def _encode_block(bw: _BitWriter, coef_zz: np.ndarray, pred: int,
                  dc_tab: dict, ac_tab: dict) -> int:
    def magnitude(v: int) -> int:
        return 0 if v == 0 else int(abs(v)).bit_length()

    dc = int(coef_zz[0])
    diff = dc - pred
    t = magnitude(diff)
    ln, code = dc_tab[t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = int(np.max(np.nonzero(coef_zz)[0])) if np.any(coef_zz[1:]) else 0
    for k in range(1, 64):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_tab[0xF0]
            bw.write(code, ln)
            run -= 16
        s = magnitude(v)
        ln, code = ac_tab[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
        if k == last_nz:
            break
    if last_nz < 63:
        ln, code = ac_tab[0x00]
        bw.write(code, ln)
    return dc


# 12-bit streams need huffman tables covering DC categories up to 15
# and the full AC symbol space for s 1..14 — flat canonical tables
# (16 five-bit DC codes; 240 eight-bit AC codes; no all-ones code)
_DC12_BITS = [0, 0, 0, 0, 16] + [0] * 11
_DC12_VALS = list(range(16))
_AC12_BITS = [0] * 16
_AC12_BITS[7] = 240
_AC12_VALS = ([r << 4 for r in range(16)]
              + [(r << 4) | s for s in range(1, 15) for r in range(16)])


def encode_jpeg(px, quality: int = 90, restart_interval: int = 0,
                subsample: bool = False,
                adobe_transform: int | None = None,
                precision: int = 8) -> bytes:
    """Minimal valid baseline JFIF from an (h, w, 3) RGB array (4:4:4,
    or 4:2:0 with ``subsample=True`` — the dominant real-world layout:
    16×16 MCUs of four Y blocks + one averaged-2×2 Cb + Cr block) or an
    (h, w) grayscale array (single component). With
    ``restart_interval`` > 0, emits DRI + RSTn markers every that many
    MCUs (predictors reset, writer byte-aligned) — exercising the
    decoder's restart path with spec-true streams.

    An (h, w, 4) array is taken as STORED 4-component samples
    (Adobe-inverted when an APP14 marker is emitted): with
    ``adobe_transform`` 0 the four planes go straight through (CMYK),
    with 2 the first three are run through the YCbCr forward transform
    (YCCK); ``None`` emits no APP14 (bare CMYK, samples = ink).

    ``precision=12`` emits an extended-sequential (SOF1) 12-bit stream:
    input samples in 0..4095, 16-bit quantization tables (the 8-bit
    Annex K tables ×16), flat full-symbol-space huffman tables, level
    shift 2048 — gray or 4:4:4 RGB only."""
    px = np.ascontiguousarray(px, dtype=np.float64)
    gray = px.ndim == 2
    four = not gray and px.shape[2] == 4
    if not gray and px.shape[2] not in (3, 4):
        raise ValueError(
            "encode_jpeg expects (h, w, 3) RGB, (h, w, 4) CMYK, or "
            "(h, w) gray")
    if subsample and (gray or four):
        raise ValueError("subsample only applies to 3-component input")
    if four and adobe_transform not in (None, 0, 2):
        raise ValueError("adobe_transform must be None, 0, or 2")
    if adobe_transform is not None and not four:
        raise ValueError("adobe_transform only applies to 4-component "
                         "input")
    if precision not in (8, 12):
        raise ValueError("precision must be 8 or 12")
    twelve = precision == 12
    if twelve and (four or subsample):
        raise ValueError("12-bit fixtures support gray or 4:4:4 RGB only")
    h, w = px.shape[:2]
    qy = _quality_scale(QT_LUMA, quality)
    qc = _quality_scale(QT_CHROMA, quality)
    if twelve:
        qy = qy.astype(np.int64) * 16
        qc = qc.astype(np.int64) * 16
        dc_l = dc_c = _huff_encode_table(_DC12_BITS, _DC12_VALS)
        ac_l = ac_c = _huff_encode_table(_AC12_BITS, _AC12_VALS)
    else:
        dc_l = _huff_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
        ac_l = _huff_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)
        dc_c = _huff_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)
        ac_c = _huff_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)

    # pad to whole MCUs: 8 px (4:4:4 / gray) or 16 px (4:2:0)
    unit = 16 if subsample else 8
    ph, pw = -(-h // unit) * unit, -(-w // unit) * unit

    def pad(p):
        return np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")

    if gray:
        comps = [{"plane": pad(px), "q": qy, "dc": dc_l, "ac": ac_l,
                  "h": 1, "v": 1}]
    elif four:
        p0, p1, p2, p3 = (px[:, :, i] for i in range(4))
        if adobe_transform == 2:  # YCCK: forward-transform the CMY trio
            y = 0.299 * p0 + 0.587 * p1 + 0.114 * p2
            cb = -0.168736 * p0 - 0.331264 * p1 + 0.5 * p2 + 128.0
            cr = 0.5 * p0 - 0.418688 * p1 - 0.081312 * p2 + 128.0
            planes = [y, cb, cr, p3]
            tabs = [(qy, dc_l, ac_l), (qc, dc_c, ac_c),
                    (qc, dc_c, ac_c), (qy, dc_l, ac_l)]
        else:
            planes = [p0, p1, p2, p3]
            tabs = [(qy, dc_l, ac_l)] * 4
        comps = [{"plane": pad(p), "q": q, "dc": dc, "ac": ac,
                  "h": 1, "v": 1} for p, (q, dc, ac) in zip(planes, tabs)]
    else:
        ctr = 2048.0 if twelve else 128.0
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + ctr
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + ctr
        if subsample:
            y_p, cb_p, cr_p = pad(y), pad(cb), pad(cr)
            # 2×2 box average for the chroma planes
            cb_p = cb_p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr_p = cr_p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            comps = [
                {"plane": y_p, "q": qy, "dc": dc_l, "ac": ac_l, "h": 2, "v": 2},
                {"plane": cb_p, "q": qc, "dc": dc_c, "ac": ac_c, "h": 1, "v": 1},
                {"plane": cr_p, "q": qc, "dc": dc_c, "ac": ac_c, "h": 1, "v": 1},
            ]
        else:
            comps = [
                {"plane": pad(y), "q": qy, "dc": dc_l, "ac": ac_l, "h": 1, "v": 1},
                {"plane": pad(cb), "q": qc, "dc": dc_c, "ac": ac_c, "h": 1, "v": 1},
                {"plane": pad(cr), "q": qc, "dc": dc_c, "ac": ac_c, "h": 1, "v": 1},
            ]

    entropy = bytearray()
    bw = _BitWriter()
    preds = [0] * len(comps)
    mcu_index = 0
    rst = 0
    mcus_y, mcus_x = ph // unit, pw // unit
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                bw.flush()
                entropy += bw.out + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0] * len(comps)
            for ci, comp in enumerate(comps):
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        y0 = (my * comp["v"] + by) * 8
                        x0 = (mx * comp["h"] + bx) * 8
                        blk = comp["plane"][y0 : y0 + 8, x0 : x0 + 8] - (
                            2048.0 if twelve else 128.0)
                        coefs = _C @ blk @ _C.T
                        # zz[i] = coefficient at natural position
                        # ZIGZAG[i]; quantize with the table value there
                        zz = coefs.reshape(-1)[ZIGZAG]
                        qcoef = np.round(zz / comp["q"][ZIGZAG]).astype(np.int64)
                        preds[ci] = _encode_block(bw, qcoef, preds[ci],
                                                  comp["dc"], comp["ac"])
            mcu_index += 1
    bw.flush()
    entropy += bw.out

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    def dht(tc: int, th: int, bits: list[int], vals: list[int]) -> bytes:
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    out = bytearray(b"\xFF\xD8")
    if four:
        if adobe_transform is not None:
            out += seg(0xEE, b"Adobe" + struct.pack(
                ">HHHB", 100, 0, 0, adobe_transform))
    else:
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # quant tables are emitted in zigzag order per spec
    if twelve:  # pq=1: 16-bit big-endian entries
        out += seg(0xDB, bytes([0x10]) + b"".join(
            int(v).to_bytes(2, "big") for v in qy[ZIGZAG]))
        if not gray:
            out += seg(0xDB, bytes([0x11]) + b"".join(
                int(v).to_bytes(2, "big") for v in qc[ZIGZAG]))
    else:
        out += seg(0xDB, bytes([0]) + bytes(int(v) for v in qy[ZIGZAG]))
        if not gray:
            out += seg(0xDB, bytes([1]) + bytes(int(v) for v in qc[ZIGZAG]))
    sof_marker = 0xC1 if twelve else 0xC0
    if gray:
        out += seg(sof_marker,
                   struct.pack(">BHHB", precision, h, w, 1)
                   + bytes([1, 0x11, 0]))
    elif four:
        tq4 = [0, 1, 1, 0] if adobe_transform == 2 else [0, 0, 0, 0]
        sof = b"".join(bytes([cid + 1, 0x11, tq4[cid]]) for cid in range(4))
        out += seg(0xC0, struct.pack(">BHHB", 8, h, w, 4) + sof)
    else:
        y_hv = 0x22 if subsample else 0x11
        out += seg(sof_marker, struct.pack(">BHHB", precision, h, w, 3)
                   + bytes([1, y_hv, 0, 2, 0x11, 1, 3, 0x11, 1]))
    if twelve:
        out += dht(0, 0, _DC12_BITS, _DC12_VALS)
        out += dht(1, 0, _AC12_BITS, _AC12_VALS)
        if not gray:
            out += dht(0, 1, _DC12_BITS, _DC12_VALS)
            out += dht(1, 1, _AC12_BITS, _AC12_VALS)
    else:
        out += dht(0, 0, DC_LUMA_BITS, DC_LUMA_VALS)
        out += dht(1, 0, AC_LUMA_BITS, AC_LUMA_VALS)
        if not gray:
            out += dht(0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS)
            out += dht(1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    if gray:
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    elif four:
        tt4 = [0x00, 0x11, 0x11, 0x00] if adobe_transform == 2 else [0x00] * 4
        sos = b"".join(bytes([cid + 1, tt4[cid]]) for cid in range(4))
        out += seg(0xDA, bytes([4]) + sos + bytes([0, 63, 0]))
    else:
        out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += entropy
    out += b"\xFF\xD9"
    return bytes(out)


# progressive-encoder huffman tables: Annex K has no EOBn symbols with
# r > 0, so the fixture factory uses flat canonical tables carrying the
# FULL rrrrssss symbol space (all 16 EOBn/ZRL s=0 symbols + r×s for
# s 1..10) — 12 four-bit DC codes, 176 eight-bit AC codes
_PROG_DC_BITS = [0, 0, 0, 12] + [0] * 12
_PROG_DC_VALS = list(range(12))
_PROG_AC_BITS = [0] * 16
_PROG_AC_BITS[7] = 176
_PROG_AC_VALS = [(r << 4) | s for s in range(11) for r in range(16)]


def encode_jpeg_progressive(px, quality: int = 90, successive: bool = True,
                            restart_interval: int = 0) -> bytes:
    """Progressive (SOF2) JFIF from (h, w, 3) RGB or (h, w) gray —
    the fixture factory for the progressive decode path (4:4:4 / single
    component; scans per T.81 Annex G with huffman coding).

    ``successive=True`` emits the full successive-approximation ladder
    (DC first at Al=1 + DC refinement; per-component AC
    spectral-selection scans at Al=1 + AC refinement scans with EOB
    runs and correction bits — the libjpeg encode_mcu_AC_refine walk);
    ``successive=False`` emits spectral selection only (every scan at
    Al=0). ``restart_interval`` > 0 inserts DRI + RSTn in every scan
    (EOB run flushed, predictors reset, writer byte-aligned)."""
    px = np.ascontiguousarray(px, dtype=np.float64)
    gray = px.ndim == 2
    if not gray and px.shape[2] != 3:
        raise ValueError("expects (h, w, 3) RGB or (h, w) gray")
    h, w = px.shape[:2]
    qy = _quality_scale(QT_LUMA, quality)
    qc = _quality_scale(QT_CHROMA, quality)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8

    def pad(p):
        return np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")

    if gray:
        planes = [(pad(px), qy)]
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        planes = [
            (pad(0.299 * r + 0.587 * g + 0.114 * b), qy),
            (pad(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), qc),
            (pad(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), qc),
        ]
    nbx, nby = pw // 8, ph // 8
    comp_blocks: list[list[list[int]]] = []
    for plane, q in planes:
        blocks = []
        for by in range(nby):
            for bx in range(nbx):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                zz = (_C @ blk @ _C.T).reshape(-1)[ZIGZAG]
                blocks.append(np.round(zz / q[ZIGZAG]).astype(np.int64).tolist())
        comp_blocks.append(blocks)

    enc_dc = _huff_encode_table(_PROG_DC_BITS, _PROG_DC_VALS)
    enc_ac = _huff_encode_table(_PROG_AC_BITS, _PROG_AC_VALS)
    n_blocks = nbx * nby
    ncomp = len(comp_blocks)

    def dc_scan(ah, al):
        bw = _BitWriter()
        out = bytearray()
        preds = [0] * ncomp
        rst = 0
        for i in range(n_blocks):
            if restart_interval and i and i % restart_interval == 0:
                bw.flush()
                out += bw.out + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0] * ncomp
            for ci in range(ncomp):
                c0 = comp_blocks[ci][i][0]
                if ah == 0:
                    v = c0 >> al  # arithmetic shift: the DC point transform
                    diff = v - preds[ci]
                    preds[ci] = v
                    t = 0 if diff == 0 else abs(diff).bit_length()
                    ln, code = enc_dc[t]
                    bw.write(code, ln)
                    if t:
                        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                else:
                    bw.write((c0 >> al) & 1, 1)
        bw.flush()
        out += bw.out
        return bytes(out)

    def ac_first_scan(ci, ss, se, al):
        bw = _BitWriter()
        out = bytearray()
        eobrun = 0
        rst = 0

        def emit_eobrun():
            nonlocal eobrun
            if eobrun:
                nbits = eobrun.bit_length() - 1
                ln, code = enc_ac[nbits << 4]
                bw.write(code, ln)
                if nbits:
                    bw.write(eobrun & ((1 << nbits) - 1), nbits)
                eobrun = 0

        for i in range(n_blocks):
            if restart_interval and i and i % restart_interval == 0:
                emit_eobrun()
                bw.flush()
                out += bw.out + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
            c = comp_blocks[ci][i]
            vals = []
            for k in range(ss, se + 1):
                av = abs(c[k]) >> al  # AC point transform: toward zero
                vals.append(av if c[k] >= 0 else -av)
            if not any(vals):
                eobrun += 1
                if eobrun == 0x7FFF:
                    emit_eobrun()
                continue
            emit_eobrun()
            run = 0
            for v in vals:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = enc_ac[0xF0]
                    bw.write(code, ln)
                    run -= 16
                s = abs(v).bit_length()
                ln, code = enc_ac[(run << 4) | s]
                bw.write(code, ln)
                bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if run > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()
        bw.flush()
        out += bw.out
        return bytes(out)

    def ac_refine_scan(ci, ss, se, al):
        # the libjpeg encode_mcu_AC_refine walk, with its TWO
        # correction-bit pools: `be` holds bits owned by the pending
        # EOB run (flushed right after the EOBn symbol — the decoder
        # reads them while walking those blocks), `br` holds the
        # in-progress block's bits (flushed after each ZRL /
        # new-coefficient symbol, and MOVED into `be` only when the
        # block ends in EOB). A single shared buffer desyncs: bits for
        # coefficients crossed before a new-coefficient symbol must
        # follow that symbol, not a preceding EOBn.
        bw = _BitWriter()
        out = bytearray()
        eobrun = 0
        be: list[int] = []
        br: list[int] = []
        rst = 0

        def emit_eobrun():
            nonlocal eobrun
            if eobrun:
                nbits = eobrun.bit_length() - 1
                ln, code = enc_ac[nbits << 4]
                bw.write(code, ln)
                if nbits:
                    bw.write(eobrun & ((1 << nbits) - 1), nbits)
                for bit in be:
                    bw.write(bit, 1)
                be.clear()
                eobrun = 0

        def flush_br():
            for bit in br:
                bw.write(bit, 1)
            br.clear()

        for i in range(n_blocks):
            if restart_interval and i and i % restart_interval == 0:
                emit_eobrun()
                bw.flush()
                out += bw.out + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                bw = _BitWriter()
            c = comp_blocks[ci][i]
            absv = [abs(c[k]) >> al for k in range(ss, se + 1)]
            eob = ss - 1
            for k in range(ss, se + 1):
                if absv[k - ss] == 1:
                    eob = k
            run = 0
            for k in range(ss, se + 1):
                t = absv[k - ss]
                if t == 0:
                    run += 1
                    continue
                # ZRLs not foldable into the coming EOB run
                while run > 15 and k <= eob:
                    emit_eobrun()
                    ln, code = enc_ac[0xF0]
                    bw.write(code, ln)
                    run -= 16
                    flush_br()
                if t > 1:
                    br.append(t & 1)
                    continue
                emit_eobrun()
                ln, code = enc_ac[(run << 4) | 1]
                bw.write(code, ln)
                bw.write(1 if c[k] >= 0 else 0, 1)
                flush_br()
                run = 0
            if run > 0 or br:
                eobrun += 1
                be.extend(br)
                br.clear()
                if eobrun == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()
        bw.flush()
        out += bw.out
        return bytes(out)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xFF\xD8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(int(v) for v in qy[ZIGZAG]))
    if not gray:
        out += seg(0xDB, bytes([1]) + bytes(int(v) for v in qc[ZIGZAG]))
    if gray:
        sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    else:
        sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
            [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += seg(0xC2, sof)
    out += seg(0xC4, bytes([0x00]) + bytes(_PROG_DC_BITS) + bytes(_PROG_DC_VALS))
    out += seg(0xC4, bytes([0x10]) + bytes(_PROG_AC_BITS) + bytes(_PROG_AC_VALS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    cids = [1] if gray else [1, 2, 3]

    def sos_interleaved(ss, se, ah, al):
        body = bytes([len(cids)] + [b for cid in cids for b in (cid, 0x00)]
                     + [ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    def sos_single(cid, ss, se, ah, al):
        return seg(0xDA, bytes([1, cid, 0x00, ss, se, (ah << 4) | al]))

    if successive:
        out += sos_interleaved(0, 0, 0, 1) + dc_scan(0, 1)
        ac_plan = ([(0, 1, 5), (0, 6, 63)]
                   + [(ci, 1, 63) for ci in range(1, ncomp)])
        for ci, ss, se in ac_plan:
            out += sos_single(cids[ci], ss, se, 0, 1) + ac_first_scan(ci, ss, se, 1)
        out += sos_interleaved(0, 0, 1, 0) + dc_scan(1, 0)
        for ci, ss, se in ac_plan:
            out += sos_single(cids[ci], ss, se, 1, 0) + ac_refine_scan(ci, ss, se, 0)
    else:
        out += sos_interleaved(0, 0, 0, 0) + dc_scan(0, 0)
        for ci in range(ncomp):
            out += sos_single(cids[ci], 1, 63, 0, 0) + ac_first_scan(ci, 1, 63, 0)
    out += b"\xFF\xD9"
    return bytes(out)
