"""Minimal pure-numpy JPEG codec (ITU T.81): baseline SOF0/1 AND
progressive SOF2.

The reference accepts ``{jpg, jpeg, png}`` scans via ``cv2.imread``
(``/root/reference/modules/image_scraper.py:103-114``) — which includes
progressive JPEGs, common in real scan corpora; this sandbox has no
image codec library, so the engine ships its own:

- ``decode``: baseline sequential (SOF0/1) and progressive (SOF2) —
  spectral selection, successive approximation (DC/AC first + refine
  passes, EOB runs, per T.81 Annex G; the scan-update algorithms follow
  the public libjpeg jdphuff.c structure), 8-bit, grayscale or YCbCr
  with arbitrary sampling factors, restart markers (DRI). Returns the
  LUMA plane as 2-D uint8 — mathematically the 0.299/0.587/0.114
  grayscale the rest of the pipeline uses (Y of YCbCr is that exact
  combination), so chroma never needs upsampling; chroma-only
  progressive AC scans are skipped without entropy-decoding at all.
  Arithmetic-coded / hierarchical / 12-bit variants raise ``ValueError``
  → the multimodal quarantine path.
- ``encode_gray``: single-component baseline JFIF with the Annex K
  example tables, quality-scaled quantization — used by the datagen and
  tests to synthesize deterministic JPEG media.
- ``encode_gray_progressive``: single-component SOF2 with a 6-scan
  script (DC first/refine, two spectral AC bands, two AC refinement
  passes) — decodes to the IDENTICAL pixels as the baseline encoding at
  the same quality (same quantized coefficients), which the tests pin.

Pure numpy: DCT/IDCT are 8×8 orthonormal matrix products batched over
all blocks; the entropy coder is table-driven Python (fine at cell/page
sizes; the Spark plumbing around it is Arrow-batched either way).
"""

from __future__ import annotations

import struct

import numpy as np

# decode allocation guard: a corrupt/hostile header can declare up to
# 65535x65535 and OOM the worker before any data-length check fires; a
# 10^12-doc corpus WILL contain such blobs, and they must raise (->
# quarantine), never kill the executor. 64 MP >> any scanned page.
MAX_PIXELS = 64_000_000

# zigzag scan order: index i of the scan -> (row, col) flattened position
ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 luminance quantization table (quality 50 base)
STD_LUM_QT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64)

# Annex K.3: typical DC/AC luminance Huffman tables (bits[16], values)
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]

# orthonormal 8x8 DCT-II matrix: dct = C @ block @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos(np.pi * (2 * _n + 1) * _k / 16.0) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _build_canonical(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) canonical Huffman assignment."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_TABLE_CACHE: dict[tuple, list[int]] = {}


def _decode_table(bits: list[int], vals: list[int]) -> list[int]:
    """16-bit prefix LUT for one-lookup decoding: every 16-bit window
    starting with a code of length L maps to ``(L << 8) | symbol``; the
    reader consumes L bits. A plain Python list — scalar list indexing
    beats numpy scalar indexing ~5× in the per-symbol hot loop. Memoized:
    virtually every JPEG ships the Annex K example tables, and building
    the 64k-entry list costs a few ms per image otherwise."""
    key = (tuple(bits), tuple(vals))
    lut = _TABLE_CACHE.get(key)
    if lut is None:
        enc = _build_canonical(bits, vals)
        arr = np.zeros(1 << 16, dtype=np.int32)
        for sym, (code, length) in enc.items():
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            arr[lo:hi] = (length << 8) | sym
        lut = arr.tolist()
        if len(_TABLE_CACHE) < 64:
            _TABLE_CACHE[key] = lut
    return lut


_FAST_TABLE_CACHE: dict[tuple, list[int]] = {}


def _fast_ac_table(bits: list[int], vals: list[int]) -> list[int]:
    """Combined Huffman-code + value-extension LUT for the baseline AC
    walk: one 16-bit-lookahead table lookup decodes the code AND the
    magnitude bits that follow it whenever ``codelen + size <= 16`` (the
    overwhelmingly common case — Huffman gives frequent symbols short
    codes), collapsing the per-symbol work to index/unpack/append.

    Entry layout (non-negative int):
      cls 0 (fast coefficient):  adv<<21 | run<<17 | (extended_v + 65536)
        adv = codelen + size (total bits to consume), vbias fits 17 bits
        (|v| <= 32767 for any size reachable in 16 bits)
      cls 1 (EOB):               1<<27 | codelen<<21
      cls 2 (ZRL):               2<<27 | codelen<<21
      cls 3 (slow/invalid):      3<<27 | codelen<<21 | sym
        sym == 0 marks an invalid window (no code prefix); a real slow
        entry (codelen + size > 16) keeps its RRRRSSSS symbol and the
        caller reads the magnitude bits itself. A size-0 symbol other
        than EOB and ZRL is a slow entry too; the caller reads it as
        end of block."""
    key = ("ac", tuple(bits), tuple(vals))
    lut = _FAST_TABLE_CACHE.get(key)
    if lut is None:
        enc = _build_canonical(bits, vals)
        arr = np.full(1 << 16, 3 << 27, dtype=np.int64)
        idx = np.arange(1 << 16, dtype=np.int64)
        for sym, (code, length) in enc.items():
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            if sym == 0x00:
                arr[lo:hi] = (1 << 27) | (length << 21)
            elif sym == 0xF0:
                arr[lo:hi] = (2 << 27) | (length << 21)
            else:
                run, size = sym >> 4, sym & 0x0F
                if 0 < size and length + size <= 16:
                    shift = 16 - length - size
                    v = (idx[lo:hi] >> shift) & ((1 << size) - 1)
                    ext = np.where(
                        v >= (1 << (size - 1)), v, v - (1 << size) + 1
                    )
                    arr[lo:hi] = (
                        ((length + size) << 21) | (run << 17) | (ext + 65536)
                    )
                else:
                    arr[lo:hi] = (3 << 27) | (length << 21) | sym
        lut = arr.tolist()
        if len(_FAST_TABLE_CACHE) < 64:
            _FAST_TABLE_CACHE[key] = lut
    return lut


def _fast_dc_table(bits: list[int], vals: list[int]) -> list[int]:
    """DC twin of :func:`_fast_ac_table`. Entry layout:
      cls 0 (fast):  adv<<18 | (extended_diff + 131072)
        (diff bias needs 18 bits: |diff| <= 32767 within 16 lookahead)
      cls 3 (slow/invalid): 3<<27 | codelen<<18 | size_category
        category 0 is always fast (adv = codelen <= 16), so a cls-3
        entry with category 0 marks an invalid window."""
    key = ("dc", tuple(bits), tuple(vals))
    lut = _FAST_TABLE_CACHE.get(key)
    if lut is None:
        enc = _build_canonical(bits, vals)
        arr = np.full(1 << 16, 3 << 27, dtype=np.int64)
        idx = np.arange(1 << 16, dtype=np.int64)
        for size, (code, length) in enc.items():
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            if length + size <= 16:
                if size == 0:
                    arr[lo:hi] = (length << 18) | 131072
                else:
                    shift = 16 - length - size
                    v = (idx[lo:hi] >> shift) & ((1 << size) - 1)
                    ext = np.where(
                        v >= (1 << (size - 1)), v, v - (1 << size) + 1
                    )
                    arr[lo:hi] = ((length + size) << 18) | (ext + 131072)
            else:
                arr[lo:hi] = (3 << 27) | (length << 18) | size
        lut = arr.tolist()
        if len(_FAST_TABLE_CACHE) < 64:
            _FAST_TABLE_CACHE[key] = lut
    return lut


def _quality_qt(quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    qt = np.floor((STD_LUM_QT * scale + 50) / 100)
    return np.clip(qt, 1, 255)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        # drop drained high bits — an unmasked acc grows into a multi-
        # megabit int over a long scan and every shift goes quadratic
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, bits) for a DC diff / AC coefficient value."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(bw_: "_BitWriter", row: np.ndarray, prev_dc: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Baseline entropy coding of one zigzag block; returns the new DC
    predictor."""
    size, bits = _magnitude(int(row[0]) - prev_dc)
    c, l = dc_codes[size]
    bw_.write(c, l)
    if size:
        bw_.write(bits, size)
    run = 0
    last_nz = np.nonzero(row[1:])[0]
    end = last_nz[-1] + 1 if len(last_nz) else 0
    for k in range(1, end + 1):
        v = int(row[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c, l = ac_codes[0xF0]  # ZRL
            bw_.write(c, l)
            run -= 16
        size, bits = _magnitude(v)
        c, l = ac_codes[(run << 4) | size]
        bw_.write(c, l)
        bw_.write(bits, size)
        run = 0
    if end < 63:
        c, l = ac_codes[0x00]  # EOB
        bw_.write(c, l)
    return int(row[0])


# JFIF RGB -> YCbCr (ITU-R BT.601); row i gives component i
_RGB2YCC = np.array([
    [0.299, 0.587, 0.114],
    [-0.168736, -0.331264, 0.5],
    [0.5, -0.418688, -0.081312],
])


def _block_zz(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Level-shifted float plane -> quantized zigzag rows (nblocks, 64)."""
    h, w = plane.shape
    arr = np.pad(plane, ((0, -h % 8), (0, -w % 8)), mode="edge")
    bh, bw = arr.shape[0] // 8, arr.shape[1] // 8
    blocks = arr.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    quant = np.round((_C @ blocks @ _C.T) / qt.reshape(8, 8)).astype(np.int64)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def encode_color(rgb: np.ndarray, quality: int = 90) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 3-component 4:4:4
    baseline JFIF (interleaved Y/Cb/Cr MCUs, shared Annex K tables).
    ``decode`` returns the Y plane — the exact 0.299/0.587/0.114 luma —
    so color scans flow through the same grayscale pipeline."""
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_color expects an (h, w, 3) array")
    h, w, _ = rgb.shape
    qt = _quality_qt(quality)
    ycc = rgb.astype(np.float64) @ _RGB2YCC.T  # Y in 0..255, Cb/Cr centred 0
    zzs = [
        _block_zz(ycc[:, :, 0] - 128.0, qt),
        _block_zz(ycc[:, :, 1], qt),
        _block_zz(ycc[:, :, 2], qt),
    ]
    dc_codes = _build_canonical(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _build_canonical(AC_LUM_BITS, AC_LUM_VALS)
    bw_ = _BitWriter()
    preds = [0, 0, 0]
    for m in range(len(zzs[0])):
        for ci in range(3):
            preds[ci] = _encode_block(bw_, zzs[ci][m], preds[ci],
                                      dc_codes, ac_codes)
    scan = bw_.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt_zz = qt.reshape(64)[ZIGZAG].astype(np.uint8)
    out = b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + qt_zz.tobytes())
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
               + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
    out += seg(0xFFDA, struct.pack(">B", 3) + b"\x01\x00\x02\x00\x03\x00"
               + b"\x00\x3f\x00")
    return out + scan + b"\xff\xd9"


def encode_gray(
    img: np.ndarray, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Encode a 2-D uint8 array as a single-component baseline JFIF.
    ``restart_interval`` > 0 emits DRI + RSTn markers every N MCUs (the
    error-resilience feature real camera/scanner JPEGs use)."""
    if img.ndim != 2:
        raise ValueError("encode_gray expects a 2-D array")
    h, w = img.shape
    qt = _quality_qt(quality)

    # pad to multiples of 8 by edge replication, block, DCT, quantize
    ph, pw = -h % 8, -w % 8
    arr = np.pad(img.astype(np.float64), ((0, ph), (0, pw)), mode="edge") - 128.0
    bh, bw = arr.shape[0] // 8, arr.shape[1] // 8
    blocks = arr.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coef = _C @ blocks @ _C.T  # batched matmul ≫ naive 3-operand einsum
    quant = np.round(coef / qt.reshape(8, 8)).astype(np.int64)
    zz = quant.reshape(-1, 64)[:, ZIGZAG]

    dc_codes = _build_canonical(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _build_canonical(AC_LUM_BITS, AC_LUM_VALS)
    bw_ = _BitWriter()
    prev_dc = 0
    scan_parts: list[bytes] = []
    for mcu_i, row in enumerate(zz):
        if restart_interval and mcu_i and mcu_i % restart_interval == 0:
            scan_parts.append(bw_.flush())
            scan_parts.append(
                bytes([0xFF, 0xD0 + ((mcu_i // restart_interval - 1) % 8)])
            )
            bw_ = _BitWriter()
            prev_dc = 0
        prev_dc = _encode_block(bw_, row, prev_dc, dc_codes, ac_codes)
    scan_parts.append(bw_.flush())
    scan = b"".join(scan_parts)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt_zz = qt.reshape(64)[ZIGZAG].astype(np.uint8)
    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + qt_zz.tobytes())
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_LUM_BITS) + bytes(AC_LUM_VALS))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += scan + b"\xff\xd9"  # EOI
    return out


# near-flat Huffman table covering every RRRRSSSS symbol (255 codes of
# length 8 + one of length 9 — canonical assignment never produces an
# all-ones code). Slightly suboptimal vs per-scan optimal tables, but it
# legally encodes anything a progressive scan can emit (EOBn, ZRL, s=1
# refinement codes), which the Annex K example tables cannot.
FLAT_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0]
FLAT_AC_VALS = list(range(256))

# default progressive scan script: DC first w/ point transform, two
# spectral AC bands at Al=2, then successive-approximation refinements
# down to full precision (exercises every decode path incl. EOB runs).
PROG_SCRIPT = [
    (0, 0, 0, 1),
    (1, 5, 0, 2),
    (6, 63, 0, 2),
    (1, 63, 2, 1),
    (0, 0, 1, 0),
    (1, 63, 1, 0),
]


def _emit_eobrun_factory(bw: "_BitWriter", ac_codes: dict):
    state = {"eobrun": 0, "pend": []}

    def bump(corr_bits: list[int]) -> None:
        state["eobrun"] += 1
        state["pend"].extend(corr_bits)
        if state["eobrun"] == 0x7FFF or len(state["pend"]) > 900:
            flush()

    def flush() -> None:
        if state["eobrun"] > 0:
            nbits = state["eobrun"].bit_length() - 1
            c, l = ac_codes[nbits << 4]
            bw.write(c, l)
            if nbits:
                bw.write(state["eobrun"] & ((1 << nbits) - 1), nbits)
            state["eobrun"] = 0
            for b in state["pend"]:
                bw.write(b, 1)
            state["pend"] = []

    return bump, flush


def _ac_first_scan(zz: np.ndarray, ss: int, se: int, al: int,
                   ac_codes: dict) -> bytes:
    bw = _BitWriter()
    bump_eob, flush_eob = _emit_eobrun_factory(bw, ac_codes)
    for row in zz:
        r = 0
        for k in range(ss, se + 1):
            t = int(row[k])
            t_abs = (-t if t < 0 else t) >> al
            if t_abs == 0:
                r += 1
                continue
            t2 = ~t_abs if t < 0 else t_abs  # ones-complement low bits
            flush_eob()
            while r > 15:
                c, l = ac_codes[0xF0]
                bw.write(c, l)
                r -= 16
            nbits = t_abs.bit_length()
            c, l = ac_codes[(r << 4) | nbits]
            bw.write(c, l)
            bw.write(t2 & ((1 << nbits) - 1), nbits)
            r = 0
        if r > 0:
            bump_eob([])
    flush_eob()
    return bw.flush()


def _ac_refine_scan(zz: np.ndarray, ss: int, se: int, al: int,
                    ac_codes: dict) -> bytes:
    """Successive-approximation AC refinement (libjpeg jcphuff.c
    encode_mcu_AC_refine structure: correction bits buffer with the
    next emitted symbol or the pending EOB run)."""
    bw = _BitWriter()
    bump_eob, flush_eob = _emit_eobrun_factory(bw, ac_codes)
    for row in zz:
        absvals = []
        eob = ss - 1  # index of last newly-significant (absval == 1) coef
        for k in range(ss, se + 1):
            t = int(row[k])
            t = (-t if t < 0 else t) >> al
            absvals.append(t)
            if t == 1:
                eob = k
        r = 0
        br_bits: list[int] = []
        for k in range(ss, se + 1):
            t = absvals[k - ss]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                flush_eob()
                c, l = ac_codes[0xF0]
                bw.write(c, l)
                r -= 16
                for b in br_bits:
                    bw.write(b, 1)
                br_bits = []
            if t > 1:  # already significant: just its next magnitude bit
                br_bits.append(t & 1)
                continue
            flush_eob()
            c, l = ac_codes[(r << 4) | 1]
            bw.write(c, l)
            bw.write(0 if int(row[k]) < 0 else 1, 1)
            for b in br_bits:
                bw.write(b, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            bump_eob(br_bits)
    flush_eob()
    return bw.flush()


def encode_gray_progressive(
    img: np.ndarray, quality: int = 90,
    script: list[tuple[int, int, int, int]] | None = None,
) -> bytes:
    """Encode a 2-D uint8 array as single-component progressive (SOF2)
    JFIF. Same quantized coefficients as ``encode_gray`` at the same
    quality, so ``decode`` of both yields IDENTICAL pixels."""
    if img.ndim != 2:
        raise ValueError("encode_gray_progressive expects a 2-D array")
    h, w = img.shape
    qt = _quality_qt(quality)
    ph, pw = -h % 8, -w % 8
    arr = np.pad(img.astype(np.float64), ((0, ph), (0, pw)), mode="edge") - 128.0
    bh, bw_blocks = arr.shape[0] // 8, arr.shape[1] // 8
    blocks = (
        arr.reshape(bh, 8, bw_blocks, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    coefq = np.round((_C @ blocks @ _C.T) / qt.reshape(8, 8)).astype(np.int64)
    zz = coefq.reshape(-1, 64)[:, ZIGZAG]

    dc_codes = _build_canonical(DC_LUM_BITS, DC_LUM_VALS)
    ac_codes = _build_canonical(FLAT_AC_BITS, FLAT_AC_VALS)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    qt_zz = qt.reshape(64)[ZIGZAG].astype(np.uint8)
    out = b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + qt_zz.tobytes())
    out += seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += seg(0xFFC4, b"\x00" + bytes(DC_LUM_BITS) + bytes(DC_LUM_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(FLAT_AC_BITS) + bytes(FLAT_AC_VALS))

    for ss, se, ah, al in script or PROG_SCRIPT:
        if ss == 0:
            bw_ = _BitWriter()
            if ah == 0:  # DC first: diff-code (dc >> al)
                prev = 0
                for row in zz:
                    v = int(row[0]) >> al
                    size, bits = _magnitude(v - prev)
                    prev = v
                    c, l = dc_codes[size]
                    bw_.write(c, l)
                    if size:
                        bw_.write(bits, size)
            else:  # DC refine: one magnitude bit per block
                for row in zz:
                    bw_.write((int(row[0]) >> al) & 1, 1)
            scan = bw_.flush()
        elif ah == 0:
            scan = _ac_first_scan(zz, ss, se, al, ac_codes)
        else:
            scan = _ac_refine_scan(zz, ss, se, al, ac_codes)
        out += seg(0xFFDA, struct.pack(">BBBBBB", 1, 1, 0x00, ss, se,
                                       (ah << 4) | al))
        out += scan
    return out + b"\xff\xd9"


def _split_scan_at(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split the entropy-coded scan into restart-interval segments with
    0xFF00 stuffing removed — one vectorized pre-pass, so the bit reader
    never checks for markers. Also returns the offset of the marker that
    ends the scan (EOI or the next header segment), so multi-scan
    (progressive) streams can keep walking."""
    arr = np.frombuffer(data, dtype=np.uint8)
    ffs = np.flatnonzero(arr[pos:-1] == 0xFF) + pos
    segments: list[bytes] = []
    parts: list[bytes] = []
    start = pos
    for i in ffs:
        if i < start:  # FF inside an already-consumed stuffing pair
            continue
        nxt = data[i + 1]
        if nxt == 0x00:  # stuffed FF: keep the FF, drop the 00
            parts.append(data[start : i + 1])
            start = i + 2
        elif 0xD0 <= nxt <= 0xD7:  # restart marker: segment boundary
            parts.append(data[start:i])
            segments.append(b"".join(parts))
            parts = []
            start = i + 2
        else:  # EOI or next header segment: end of scan
            parts.append(data[start:i])
            segments.append(b"".join(parts))
            return segments, i
    parts.append(data[start:])
    segments.append(b"".join(parts))
    return segments, len(data)


def _split_scan(data: bytes, pos: int) -> list[bytes]:
    return _split_scan_at(data, pos)[0]


def _decode_segments(
    segments: list[bytes],
    restart_interval: int,
    n_total: int,
    scan_comps: list[dict],
    huff_dc: dict[int, list[int]],
    huff_ac: dict[int, list[int]],
) -> list[int]:
    """Decode ``n_total`` MCUs across the pre-unstuffed restart segments
    (a single segment when ``restart_interval`` is 0).

    Returns sparse LUMA coefficients PACKED one int per entry —
    ``(mcu*nb + block) << 23 | zigzag_k << 17 | (value + 65536)`` (|v| <
    2^15 for 8-bit baseline, so 17 bits hold value+bias) — one entry per
    nonzero coefficient (plus every DC); the caller unpacks with three
    vectorized shifts and scatters with ONE assignment. A single
    ``append`` per coefficient instead of four parallel-list appends:
    on dense q95 color scans the four appends were ~25% of the entropy
    decode. Chroma blocks are entropy-decoded to advance the stream and
    discarded. The bit reader is INLINED as local variables (acc masked
    to 64 bits): attribute access + function calls per symbol are the
    decode hot path in pure Python. All restart segments decode inside
    this one call — restart intervals are a few MCUs, so per-segment
    function + output-list setup used to cost ~20% of the entropy
    decode.

    r5: the per-symbol walk is table-driven with VALUE-INLINED combined
    LUTs (:func:`_fast_ac_table` / :func:`_fast_dc_table`): one 16-bit
    lookahead lookup yields code + run + sign-extended magnitude
    whenever ``codelen + size <= 16``, so the fast path per coefficient
    is index, three shifts, and an append — no second bit-fetch, no
    extension branch. Entries with longer code+magnitude (rare by
    Huffman construction) and invalid windows fall back to the explicit
    path. The AC refill threshold is 26 bits (max fast advance), which
    keeps the 64-bit accumulator in range."""
    M64 = 0xFFFFFFFFFFFFFFFF
    nb = scan_comps[0]["hs"] * scan_comps[0]["vs"]  # luma blocks per MCU
    # hoist per-component lookups out of the MCU loop; preds indexed by
    # position (dicts cost a hash per block in the hot path)
    comps = [
        (huff_dc[c["dc"]], huff_ac[c["ac"]], c["hs"] * c["vs"], ci == 0)
        for ci, c in enumerate(scan_comps)
    ]
    out: list[int] = []
    append = out.append
    done = 0
    seg_i = 0
    while done < n_total:
        if seg_i >= len(segments):
            raise ValueError("missing restart segment")
        seg = segments[seg_i]
        seg_i += 1
        n_mcus = (
            min(restart_interval, n_total - done)
            if restart_interval
            else n_total
        )
        preds = [0] * len(comps)
        acc = 0
        nbits = 0
        wi = 0
        # 32-bit word feed: one list index per fill instead of slicing +
        # int.from_bytes; trailing 0xFF guard words give the spec 1-bit
        # pad (reads can overrun the data by <64 bits at scan end)
        pad = (-len(seg)) % 4
        words = np.frombuffer(
            seg + b"\xff" * (pad + 16), dtype=">u4"
        ).tolist()
        for m in range(done, done + n_mcus):
            mb = m * nb
            for ci, (dct, act, nblk, keep) in enumerate(comps):
                pred = preds[ci]
                for b in range(nblk):
                    base = (mb + b) << 23
                    # DC symbol (combined code+magnitude lookup)
                    if nbits < 16:
                        acc = ((acc << 32) | words[wi]) & M64
                        wi += 1
                        nbits += 32
                    e = dct[(acc >> (nbits - 16)) & 0xFFFF]
                    if e < 0x8000000:  # fast: diff fully decoded
                        nbits -= e >> 18
                        pred += (e & 0x3FFFF) - 131072
                    else:
                        size = e & 0xFF
                        if size == 0:
                            raise ValueError("bad Huffman code")
                        nbits -= (e >> 18) & 31
                        if nbits < size:
                            acc = ((acc << 32) | words[wi]) & M64
                            wi += 1
                            nbits += 32
                        nbits -= size
                        v = (acc >> nbits) & ((1 << size) - 1)
                        pred += (
                            v if v >= (1 << (size - 1))
                            else v - (1 << size) + 1
                        )
                    if keep:
                        append(base | (pred + 65536))
                    k = 1
                    while k < 64:
                        if nbits < 26:  # max fast advance is 26 bits
                            acc = ((acc << 32) | words[wi]) & M64
                            wi += 1
                            nbits += 32
                        e = act[(acc >> (nbits - 16)) & 0xFFFF]
                        if e < 0x8000000:  # fast: value inlined
                            nbits -= e >> 21
                            k += (e >> 17) & 15
                            if k > 63:
                                raise ValueError("AC index overflow")
                            if keep:
                                append(base | (k << 17) | (e & 0x1FFFF))
                            k += 1
                            continue
                        cls = e >> 27
                        if cls == 1:  # EOB
                            nbits -= (e >> 21) & 63
                            break
                        if cls == 2:  # ZRL
                            nbits -= (e >> 21) & 63
                            k += 16
                            continue
                        sym = e & 0xFF
                        if sym == 0:
                            raise ValueError("bad Huffman code")
                        nbits -= (e >> 21) & 63
                        size = sym & 0x0F
                        if size == 0:  # R/0 other than ZRL: end of block,
                            break  # as libjpeg reads it
                        k += sym >> 4
                        if k > 63:
                            raise ValueError("AC index overflow")
                        if nbits < size:
                            acc = ((acc << 32) | words[wi]) & M64
                            wi += 1
                            nbits += 32
                        nbits -= size
                        v = (acc >> nbits) & ((1 << size) - 1)
                        if keep:
                            append(
                                base
                                | (k << 17)
                                | (
                                    (v if v >= (1 << (size - 1))
                                     else v - (1 << size) + 1)
                                    + 65536
                                )
                            )
                        k += 1
                preds[ci] = pred
        done += n_mcus
    return out


def decode(data: bytes) -> np.ndarray:
    """Decode baseline (SOF0/1) or progressive (SOF2) JPEG bytes to the
    2-D uint8 luma plane."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    qts: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    spec_dc: dict[int, tuple] = {}
    spec_ac: dict[int, tuple] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    prog_scans: list[dict] = []
    pos = 2
    scan_pos = None
    scan_comps: list[dict] = []
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                if prec != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tab = np.zeros(64)
                tab[ZIGZAG] = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8)
                qts[tid] = tab
                b += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            _, h, w, nc = struct.unpack(">BHHB", body[:6])
            if h * w == 0 or h * w > MAX_PIXELS:
                raise ValueError(f"implausible JPEG dimensions {w}x{h}")
            comps = []
            for i in range(nc):
                cid, samp, qid = body[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "hs": samp >> 4, "vs": samp & 0x0F, "q": qid}
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline/progressive Huffman JPEG is supported")
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc, tid = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[tid] = _decode_table(bits, vals)
                (spec_dc if tc == 0 else spec_ac)[tid] = (bits, vals)
                b += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cid, tabs = body[1 + 2 * i], body[2 + 2 * i]
                comp = next(c for c in comps if c["id"] == cid)
                scan_comps.append(
                    {**comp, "dc": tabs >> 4, "ac": tabs & 0x0F}
                )
            scan_pos = pos + 2 + length
            if not progressive:
                break
            ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
            if len(prog_scans) > 256:
                raise ValueError("implausible progressive scan count")
            segments, end = _split_scan_at(data, scan_pos)
            prog_scans.append(
                {
                    "comps": scan_comps, "ss": ss, "se": se,
                    "ah": ahal >> 4, "al": ahal & 0x0F,
                    "segments": segments, "dri": restart_interval,
                    # snapshot table refs: DHT may redefine between scans
                    "dc_luts": dict(huff_dc), "ac_luts": dict(huff_ac),
                }
            )
            pos = end
            continue
        pos += 2 + length
    if scan_pos is None or not comps:
        raise ValueError("no scan in JPEG stream")
    if h * w == 0 or h * w > MAX_PIXELS:
        raise ValueError(f"implausible JPEG dimensions {w}x{h}")
    if progressive:
        return _decode_progressive(prog_scans, comps, h, w, qts)

    hmax = max(c["hs"] for c in scan_comps)
    vmax = max(c["vs"] for c in scan_comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    n_total = mcux * mcuy

    luma = scan_comps[0]
    lw, lv = luma["hs"], luma["vs"]

    segments = _split_scan(data, scan_pos)
    fast_dc = {c["dc"]: _fast_dc_table(*spec_dc[c["dc"]]) for c in scan_comps}
    fast_ac = {c["ac"]: _fast_ac_table(*spec_ac[c["ac"]]) for c in scan_comps}
    packed = _decode_segments(
        segments, restart_interval, n_total, scan_comps, fast_dc, fast_ac
    )

    # ONE vectorized unpack + scatter of all sparse zigzag coefficients,
    # then ONE batched dequant + inverse-zigzag + IDCT over all luma blocks
    nrows, ncols = mcuy * lv, mcux * lw
    nb = lw * lv
    arr = np.asarray(packed, dtype=np.int64)
    vs = (arr & 0x1FFFF) - 65536
    ks = (arr >> 17) & 63
    mb = arr >> 23
    ms = mb // nb
    bs = mb % nb
    rows = (ms // mcux) * lv + bs // lw
    cols = (ms % mcux) * lw + bs % lw
    Z = np.zeros((nrows * ncols, 64))
    Z[rows * ncols + cols, ks] = vs
    return _idct_luma(Z, qts[luma["q"]], nrows, ncols, lw, lv, hmax, vmax, h, w)


def _idct_luma(
    Z: np.ndarray, qt: np.ndarray, nrows: int, ncols: int,
    lw: int, lv: int, hmax: int, vmax: int, h: int, w: int,
) -> np.ndarray:
    """Zigzag-ordered luma coefficient matrix (nblocks, 64) → uint8 plane:
    batched dequant + inverse-zigzag + IDCT, replicate-up if subsampled."""
    qt_z = qt[ZIGZAG]
    blocks = np.zeros((nrows * ncols, 64))
    blocks[:, ZIGZAG] = Z * qt_z
    # batched IDCT (C.T @ A) @ C as two FLAT GEMMs — numpy dispatches a
    # stacked (n,8,8) matmul as n tiny GEMM calls; flattening to one
    # (n*8, 8) @ (8, 8) product keeps BLAS in a single call. Bit-identical
    # to the stacked form (same 8-length dot accumulation order).
    A = blocks.reshape(-1, 8, 8)
    n_blk = A.shape[0]
    # C.T @ A per block == (A^T @ C)^T
    t1 = (A.transpose(0, 2, 1).reshape(-1, 8) @ _C).reshape(n_blk, 8, 8)
    t1 = np.ascontiguousarray(t1.transpose(0, 2, 1))
    pix = (t1.reshape(-1, 8) @ _C).reshape(n_blk, 8, 8)
    img = (
        pix.reshape(nrows, ncols, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(nrows * 8, ncols * 8)
    )
    img = np.clip(np.round(img + 128.0), 0, 255).astype(np.uint8)
    # luma plane is sampled at (lw/hmax, lv/vmax); replicate up if subsampled
    if lw != hmax or lv != vmax:
        img = np.repeat(np.repeat(img, vmax // lv, axis=0), hmax // lw, axis=1)
    return img[:h, :w]


class _BitReader:
    """Big-endian MSB-first bit reader over a pre-unstuffed entropy
    segment (progressive path; the baseline path keeps its inlined
    reader — that one is the per-pixel hot loop)."""

    __slots__ = ("words", "wi", "acc", "nbits")
    _M64 = 0xFFFFFFFFFFFFFFFF

    def __init__(self, seg: bytes):
        pad = (-len(seg)) % 4
        # trailing 0xFF guard words = the spec's 1-bit padding
        self.words = np.frombuffer(seg + b"\xff" * (pad + 16), dtype=">u4").tolist()
        self.wi = 0
        self.acc = 0
        self.nbits = 0

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self.acc = ((self.acc << 32) | self.words[self.wi]) & self._M64
            self.wi += 1
            self.nbits += 32
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def huff(self, lut: list[int]) -> int:
        if self.nbits < 16:
            self.acc = ((self.acc << 32) | self.words[self.wi]) & self._M64
            self.wi += 1
            self.nbits += 32
        entry = lut[(self.acc >> (self.nbits - 16)) & 0xFFFF]
        if entry == 0:
            raise ValueError("bad Huffman code")
        self.nbits -= entry >> 8
        return entry & 0xFF


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_progressive(
    scans: list[dict], comps: list[dict], h: int, w: int,
    qts: dict[int, np.ndarray],
) -> np.ndarray:
    """Progressive (SOF2) reconstruction: accumulate luma coefficients
    across DC/AC first + refinement scans (T.81 Annex G; scan-update
    structure follows the public libjpeg jdphuff.c), then one batched
    IDCT. Chroma: DC bits are entropy-decoded only to advance interleaved
    scans; chroma-only AC scans are skipped outright (their entropy
    segments were already isolated by the marker walk)."""
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    luma = comps[0]
    lid, lw, lv = luma["id"], luma["hs"], luma["vs"]
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    nrows, ncols = mcuy * lv, mcux * lw
    if nrows * ncols > MAX_PIXELS // 64:
        raise ValueError("implausible progressive block count")
    # luma's own (non-interleaved) block grid — differs from the padded
    # interleaved grid at right/bottom edges when subsampled
    bw_n = -(-(-(-w * lw // hmax)) // 8)
    bh_n = -(-(-(-h * lv // vmax)) // 8)
    coef = [[0] * 64 for _ in range(nrows * ncols)]

    for sc in scans:
        ss, se, ah, al = sc["ss"], sc["se"], sc["ah"], sc["al"]
        scomps = sc["comps"]
        interleaved = len(scomps) > 1
        has_luma = any(c["id"] == lid for c in scomps)
        if ss > 0 and not has_luma:
            continue  # chroma-only AC scan: skip without decoding
        if ss > se or se > 63 or (ss == 0) != (se == 0):
            raise ValueError("bad spectral selection")
        if ss > 0 and interleaved:
            raise ValueError("interleaved AC scan is not legal progressive")
        if interleaved:
            n_units = mcux * mcuy
        else:
            c0 = scomps[0]
            cw = -(-(-(-w * c0["hs"] // hmax)) // 8)
            chh = -(-(-(-h * c0["vs"] // vmax)) // 8)
            n_units = cw * chh
        dri = sc["dri"]
        segments = sc["segments"]
        dc_luts, ac_luts = sc["dc_luts"], sc["ac_luts"]

        done = 0
        seg_i = 0
        while done < n_units:
            n = min(dri, n_units - done) if dri else n_units - done
            if seg_i >= len(segments):
                raise ValueError("missing restart segment")
            preds = {c["id"]: 0 for c in scomps}
            eobrun = 0
            if ss == 0:
                _prog_dc_pass(
                    _BitReader(segments[seg_i]), scomps, done, n, ah, al,
                    coef, lid, lw, lv,
                    mcux, ncols, bw_n, dc_luts, preds, interleaved,
                )
            else:
                eobrun = _prog_ac_pass(
                    segments[seg_i], scomps[0], done, n, ss, se, ah, al,
                    coef, ncols, bw_n, ac_luts, eobrun,
                )
            done += n
            seg_i += 1

    Z = np.asarray(coef, dtype=np.float64)
    return _idct_luma(Z, qts[luma["q"]], nrows, ncols, lw, lv, hmax, vmax, h, w)


def _prog_dc_pass(
    br, scomps, first, n, ah, al, coef, lid, lw, lv,
    mcux, ncols, bw_n, dc_luts, preds, interleaved,
):
    """One restart segment of a DC scan (first pass or refinement)."""
    for m in range(first, first + n):
        for c in scomps:
            is_luma = c["id"] == lid
            nb = c["hs"] * c["vs"] if interleaved else 1
            for b in range(nb):
                if ah == 0:
                    sym = br.huff(dc_luts[c["dc"]])
                    diff = _extend(br.bits(sym), sym) if sym else 0
                    preds[c["id"]] += diff
                else:
                    bit = br.bits(1)
                if not is_luma:
                    continue
                if interleaved:
                    row_i = (m // mcux) * lv + b // lw
                    col_i = (m % mcux) * lw + b % lw
                else:
                    row_i, col_i = m // bw_n, m % bw_n
                blk = coef[row_i * ncols + col_i]
                if ah == 0:
                    blk[0] = preds[c["id"]] << al
                elif bit:
                    blk[0] |= 1 << al


def _prog_ac_pass(seg, comp, first, n, ss, se, ah, al, coef, ncols, bw_n,
                  ac_luts, eobrun):
    """One restart segment of a (single-component, luma) AC scan.

    The bit reader is INLINED as local variables (same trick as the
    baseline ``_decode_segment``): AC scans touch every nonzero
    coefficient once per refinement pass, so attribute access + method
    calls per symbol dominated this function's profile before inlining
    (~1.7× on the progressive corpus slice)."""
    lut = ac_luts[comp["ac"]]
    p1, m1 = 1 << al, (-1) << al
    pad = (-len(seg)) % 4
    words = np.frombuffer(seg + b"\xff" * (pad + 16), dtype=">u4").tolist()
    wi = 0
    acc = 0
    nbits = 0
    M64 = 0xFFFFFFFFFFFFFFFF
    for m in range(first, first + n):
        blk = coef[(m // bw_n) * ncols + (m % bw_n)]
        if ah == 0:  # first pass for this band
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                if nbits < 16:
                    acc = ((acc << 32) | words[wi]) & M64
                    wi += 1
                    nbits += 32
                entry = lut[(acc >> (nbits - 16)) & 0xFFFF]
                if entry == 0:
                    raise ValueError("bad Huffman code")
                nbits -= entry >> 8
                sym = entry & 0xFF
                r, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        if nbits < r:
                            acc = ((acc << 32) | words[wi]) & M64
                            wi += 1
                            nbits += 32
                        nbits -= r
                        eobrun += (acc >> nbits) & ((1 << r) - 1)
                    break
                k += r
                if k > se:
                    raise ValueError("AC index overflow")
                if nbits < s:
                    acc = ((acc << 32) | words[wi]) & M64
                    wi += 1
                    nbits += 32
                nbits -= s
                v = (acc >> nbits) & ((1 << s) - 1)
                blk[k] = (v if v >= (1 << (s - 1)) else v - (1 << s) + 1) << al
                k += 1
        else:  # refinement pass (libjpeg decode_mcu_AC_refine structure)
            k = ss
            if eobrun == 0:
                while k <= se:
                    if nbits < 16:
                        acc = ((acc << 32) | words[wi]) & M64
                        wi += 1
                        nbits += 32
                    entry = lut[(acc >> (nbits - 16)) & 0xFFFF]
                    if entry == 0:
                        raise ValueError("bad Huffman code")
                    nbits -= entry >> 8
                    sym = entry & 0xFF
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                if nbits < r:
                                    acc = ((acc << 32) | words[wi]) & M64
                                    wi += 1
                                    nbits += 32
                                nbits -= r
                                eobrun += (acc >> nbits) & ((1 << r) - 1)
                            break
                        # ZRL: skip 16 zero-history coefficients
                        val = 0
                    else:
                        if s != 1:
                            raise ValueError("bad refinement symbol")
                        if nbits < 1:
                            acc = ((acc << 32) | words[wi]) & M64
                            wi += 1
                            nbits += 32
                        nbits -= 1
                        val = p1 if (acc >> nbits) & 1 else m1
                    while k <= se:
                        c = blk[k]
                        if c != 0:
                            if nbits < 1:
                                acc = ((acc << 32) | words[wi]) & M64
                                wi += 1
                                nbits += 32
                            nbits -= 1
                            if (acc >> nbits) & 1 and (c & p1) == 0:
                                blk[k] = c + (p1 if c >= 0 else m1)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val:
                        if k > se:
                            raise ValueError("refinement overflow")
                        blk[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    c = blk[k]
                    if c != 0:
                        if nbits < 1:
                            acc = ((acc << 32) | words[wi]) & M64
                            wi += 1
                            nbits += 32
                        nbits -= 1
                        if (acc >> nbits) & 1 and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    k += 1
                eobrun -= 1
    return eobrun
