"""Dependency-free JPEG codec (ITU-T T.81 DCT, 8-bit), standard library
plus numpy, and the one JPEG container layer of the package.

The reference's payload contract is opaque bytes the consumer decodes
(server/messages.go:65 in the reference); a consumer's image blobs are
overwhelmingly JPEGs, and this package is that consumer-side decode.

Layers:
- This module owns the container and the pixels: the one marker reader
  (DQT/DHT/DAC/DRI/SOFn/SOS/EOI, fill bytes, segment bounds), the frame
  model (per-component geometry and coefficient arrays, allocated at
  SOF), the one reconstruction (dequantize, IDCT, upsample, YCbCr->RGB,
  crop; run at EOI) and, for the encoders, the one front end (YCbCr,
  chroma downsampling, padding, FDCT + quantization) and the header
  writers. It also holds the sequential Huffman entropy coder (SOF0/1).
- The other entropy coders live in their own modules and only move
  coefficients: functions/jpeg_progressive.py (SOF2: spectral selection,
  successive approximation, EOB runs) and functions/jpeg_arith.py (the
  QM arithmetic coder, SOF10). Each scan decoder fills the scan's
  coefficients and returns the position of the next marker.

Scope:
- Encoders: greyscale (1 component) and RGB via JFIF YCbCr, 4:4:4 or
  4:2:0 subsampling, Annex K quantization tables scaled by the libjpeg
  quality formula. Edge padding replicates border pixels (the
  conventional choice that minimizes ringing on partial MCUs). The
  baseline encoder writes Annex K Huffman tables and one interleaved
  scan.
- Decoder: 8-bit frames of 1 or 3 components, sampling factors 1..4
  that divide the largest, any number of scans (a sequential frame may
  split its components over several scans), restart intervals, table
  redefinition between scans. Corrupt input raises ValueError. It
  decodes real-world files, not just this encoder's output (tests
  include hand-assembled scans built from the spec, bit by bit,
  independent of the encoder). 12-bit, lossless and hierarchical
  frames are out of scope.

Exactness contract used by the m_jpeg_real oracle: JPEG is lossy, but
a block-constant image (each 8x8 block — 16x16 macroblock under 4:2:0
— holds one value v with v even) round-trips BIT-EXACTLY at quality
50: a constant block has only a DC coefficient 8*(v-128), divisible by
the Annex K luma DC quantizer 16 when v is even, so quantization loses
nothing; grey-valued RGB (R=G=B=v) maps to (Y=v, Cb=Cr=128) exactly
and back. That gives DuckDB a closed-form prediction of the DECODED
pixels while the bytes on the wire are a genuine entropy-coded JPEG.
"""

from __future__ import annotations

import struct
from functools import lru_cache
from typing import NamedTuple

import numpy as np

# --- Annex K quantization tables (natural row-major order) ---
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# Zigzag scan: ZIGZAG[k] = natural index of the k-th zigzagged coeff.
def _zigzag_order() -> np.ndarray:
    order = []
    for s in range(15):
        idx = [(s - j, j) for j in range(s + 1) if 0 <= s - j < 8 and j < 8]
        order.extend(idx if s % 2 else idx[::-1])
    return np.array([r * 8 + c for r, c in order], dtype=np.int64)


ZIGZAG = _zigzag_order()
UNZIGZAG = np.argsort(ZIGZAG)

# --- Annex K standard Huffman tables: (BITS[1..16], HUFFVAL) ---
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
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
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    if sum(bits) > len(values):
        raise ValueError("invalid DHT: more codes than symbols")
    out, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffTable(dict):
    """(length, code) -> symbol dict plus an 8-bit prefix LUT: lut[b]
    is (symbol, length) when the code for some symbol is a prefix of
    the byte b, None when the code is longer than 8 bits (fall back to
    the bit-serial walk). The standard libjpeg-style fast path."""

    __slots__ = ("lut",)


def _decode_table(bits: list[int], values: list[int]) -> "_HuffTable":
    """(length, code) -> symbol, plus the 8-bit prefix LUT. Memoized:
    a corpus decode pass parses the same DHTs (often the Annex K
    standard tables) once per FILE, and the LUT build was 20-40% of
    per-blob decode CPU (r8 profile); tables are read-only after
    construction, so sharing one instance across blobs is safe."""
    return _decode_table_cached(tuple(bits), tuple(values))


@lru_cache(maxsize=64)
def _decode_table_cached(
    bits: tuple[int, ...], values: tuple[int, ...]
) -> "_HuffTable":
    enc = _canonical_codes(bits, values)
    # A Kraft-violating DHT (e.g. bits=[3,0,...]) assigns a code that
    # doesn't fit its own length; such a table can never decode a valid
    # stream, so reject it here rather than corrupting the LUT below.
    for sym, (code, length) in enc.items():
        if code >= (1 << length):
            raise ValueError("invalid DHT: over-full Huffman code table")
    tab = _HuffTable(
        ((length, code), sym) for sym, (code, length) in enc.items()
    )
    lut: list[tuple[int, int] | None] = [None] * 256
    for sym, (code, length) in enc.items():
        if length <= 8:
            base = code << (8 - length)
            for i in range(1 << (8 - length)):
                lut[base + i] = (sym, length)
    tab.lut = lut
    return tab


# Orthonormal 8-point DCT-II matrix: forward F = M @ b @ M.T
_M = np.array([
    [
        (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
        * np.cos((2 * x + 1) * u * np.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 50 keeps Annex K tables verbatim."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int32)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.clip(np.round(np.stack([y, cb, cr], axis=2)), 0, 255)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    y = y.astype(np.float64)
    cb = cb.astype(np.float64) - 128.0
    cr = cr.astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def _pad_replicate(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    ph = (bh - h % bh) % bh
    pw = (bw - w % bw) % bw
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
        # drop the emitted high bits: an unmasked acc grows 8 bits per
        # byte FOREVER and every later shift goes quadratic (the same
        # bigint trap as _BitReader._fill)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude category + appended bits (ones-complement negs)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_block(
    writer: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Huffman-code one block's 64 zigzag coefficients; returns the new
    DC predictor."""
    diff = int(zz[0]) - pred
    size, bits = _magnitude(diff)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(bits, size)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    end = (last_nz[-1] + 2) if last_nz.size else 1
    for k in range(1, end):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(bits, size)
        run = 0
    if end < 64:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return int(zz[0])


def _fdct_quant(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """All 8x8 blocks of a padded plane -> quantized coeffs
    (nby, nbx, 8, 8), vectorized: one einsum over every block."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
        .astype(np.float64) - 128.0
    )
    f = np.einsum("ux,bcxy,vy->bcuv", _M, blocks, _M)
    return np.round(f / qt).astype(np.int32)


class _Component:
    """One frame component: id, sampling factors, quantization table
    selector and table (set by the encoder front end; latched at the
    component's first scan when decoding), zigzag coefficients
    (nbv_mcu, nbh_mcu, 64) covering the MCU-padded raster, and the true
    block raster (nbv, nbh) a single-component scan walks (A.2.2)."""

    __slots__ = ("cid", "hi", "vi", "tq", "qt", "coef", "nbv", "nbh")

    def __init__(self, frame: "_Frame", cid: int, hi: int, vi: int, tq: int):
        self.cid, self.hi, self.vi, self.tq = cid, hi, vi, tq
        self.qt = None
        self.coef = np.zeros((frame.mby * vi, frame.mbx * hi, 64), np.int32)
        cw = (frame.w * hi + frame.hmax - 1) // frame.hmax
        ch = (frame.h * vi + frame.vmax - 1) // frame.vmax
        self.nbv, self.nbh = (ch + 7) // 8, (cw + 7) // 8


class _Frame:
    """Image size, MCU grid and components of one frame."""

    __slots__ = ("h", "w", "hmax", "vmax", "mbx", "mby", "comps")

    def __init__(self, h: int, w: int, comps: list[tuple[int, int, int, int]]):
        self.h, self.w = h, w
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mbx = (w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mby = (h + 8 * self.vmax - 1) // (8 * self.vmax)
        self.comps = [_Component(self, *c) for c in comps]


def _mcus(frame: _Frame, comps: list[_Component]):
    """A scan's blocks in coding order, one list of (index in `comps`,
    zigzag block view) per MCU. A single-component scan walks the
    component's true block raster, one block per MCU (A.2.2); an
    interleaved scan walks the frame's MCU grid, hi x vi blocks per
    component (A.2.3)."""
    if len(comps) == 1:
        coef = comps[0].coef
        for by in range(comps[0].nbv):
            for bx in range(comps[0].nbh):
                yield [(0, coef[by, bx])]
        return
    units = [(si, c.coef, c.vi, c.hi) for si, c in enumerate(comps)]
    for my in range(frame.mby):
        for mx in range(frame.mbx):
            yield [
                (si, coef[my * vi + dy, mx * hi + dx])
                for si, coef, vi, hi in units
                for dy in range(vi)
                for dx in range(hi)
            ]


def _encode_front(arr: np.ndarray, quality: int, subsampling: str) -> _Frame:
    """The encoders' front end: validate uint8 (h, w) grey or (h, w, 3)
    RGB, convert to YCbCr, average 2x2 chroma for 4:2:0, pad each plane
    to whole MCUs, FDCT and quantize. Returns the frame (component 1
    luma on table 0, components 2-3 chroma on table 1) holding the
    quantization tables and the zigzag coefficients."""
    if arr.dtype != np.uint8:
        raise ValueError("JPEG encoders want uint8")
    grey = arr.ndim == 2
    if not grey and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("JPEG encoders want (h,w) or (h,w,3)")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError("subsampling must be '4:4:4' or '4:2:0'")
    h, w = arr.shape[0], arr.shape[1]
    if h == 0 or w == 0 or h > 65535 or w > 65535:
        raise ValueError("bad dimensions")
    qts = (_quality_scale(QUANT_LUMA, quality),
           _quality_scale(QUANT_CHROMA, quality))

    sub = not grey and subsampling == "4:2:0"
    if grey:
        planes = [arr.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        cb, cr = ycc[:, :, 1], ycc[:, :, 2]
        if sub:
            pcb = _pad_replicate(cb, 2, 2)
            pcr = _pad_replicate(cr, 2, 2)
            cb = pcb.reshape(pcb.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            cr = pcr.reshape(pcr.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            cb, cr = np.round(cb), np.round(cr)
        planes = [ycc[:, :, 0], cb, cr]

    s = 2 if sub else 1
    comps = [(1, s, s, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    frame = _Frame(h, w, comps[: len(planes)])
    for c, plane in zip(frame.comps, planes):
        c.qt = qts[c.tq]
        q = _fdct_quant(_pad_replicate(plane, 8 * c.vi, 8 * c.hi), c.qt)
        c.coef = q.reshape(q.shape[0], q.shape[1], 64)[:, :, ZIGZAG]
    return frame


_JFIF_APP0 = (
    b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
    + struct.pack(">HH", 1, 1) + b"\x00\x00"
)


def _frame_header(frame: _Frame, sof: int) -> bytearray:
    """SOI, JFIF APP0, one DQT per quantization table, then SOFn."""
    out = bytearray(b"\xff\xd8") + _JFIF_APP0
    for tq, qt in {c.tq: c.qt for c in frame.comps}.items():
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq)
        out += bytes(int(v) for v in qt.flatten()[ZIGZAG])
    n = len(frame.comps)
    out += bytes((0xFF, sof))
    out += struct.pack(">HBHHB", 8 + 3 * n, 8, frame.h, frame.w, n)
    for c in frame.comps:
        out += struct.pack("BBB", c.cid, (c.hi << 4) | c.vi, c.tq)
    return out


def _dht(tables: list[tuple[int, tuple[list[int], list[int]]]]) -> bytes:
    """DHT segments for [(Tc << 4 | Th, (BITS, HUFFVAL)), ...]."""
    out = bytearray()
    for tc_th, (bits, values) in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(values), tc_th)
        out += bytes(bits) + bytes(values)
    return bytes(out)


def _sos(comps: list[_Component], ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS header; each component codes with the entropy tables of its
    quantization table's number (0 luma, 1 chroma)."""
    out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for c in comps:
        out += struct.pack("BB", c.cid, 0x11 * c.tq)
    return out + struct.pack("BBB", ss, se, (ah << 4) | al)


def jpeg_encode(
    arr: np.ndarray, quality: int = 50, subsampling: str = "4:2:0"
) -> bytes:
    """Encode uint8 (h, w) greyscale or (h, w, 3) RGB as a baseline
    JFIF JPEG. `subsampling` applies to RGB only: '4:4:4' or '4:2:0'."""
    frame = _encode_front(arr, quality, subsampling)
    tables = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if len(frame.comps) > 1:
        tables += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    out = _frame_header(frame, 0xC0) + _dht(tables)
    out += _sos(frame.comps, 0, 63, 0, 0)
    luma = (_canonical_codes(*_DC_LUMA), _canonical_codes(*_AC_LUMA))
    chroma = (_canonical_codes(*_DC_CHROMA), _canonical_codes(*_AC_CHROMA))
    codes = [chroma if c.tq else luma for c in frame.comps]
    writer = _BitWriter()
    preds = [0] * len(codes)
    for mcu in _mcus(frame, frame.comps):
        for si, zz in mcu:
            preds[si] = _encode_block(writer, zz, preds[si], *codes[si])
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """Bit-serial reader over entropy-coded data with FF00 unstuffing;
    stops at any non-stuffing marker (RSTn handled by the caller)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        try:
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                else:
                    raise _MarkerHit(0xFF00 | nxt)
            else:
                self.pos += 1
        except IndexError:
            raise ValueError("truncated scan") from None
        # mask to the live window: nbits never exceeds 32, and an
        # unmasked acc grows 8 bits per fill FOREVER — on a megapixel
        # scan the accumulator becomes a multi-kilobyte bigint and
        # every shift goes quadratic
        self.acc = (((self.acc << 8) | b) & 0xFFFFFFFFFF)
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        # bulk read from the accumulator: identical bit order to n
        # bit() calls, without the per-bit call overhead. A valid T.81
        # read never exceeds 16 bits (size symbols cap at 16, EOBn runs
        # at 14), so anything past 16 is a corrupt symbol (a raw DHT
        # value leaking through as a bit count) and must be a clean
        # decode error, not truncated garbage.
        if n > 16:
            raise ValueError(f"corrupt scan: {n}-bit read exceeds T.81 limits")
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def restart(self) -> None:
        """Discard the pad bits and consume the RSTn marker that must
        come next."""
        self.acc, self.nbits = 0, 0
        pos = _next_marker(self.data, self.pos)
        if not 0xD0 <= self.data[pos + 1] <= 0xD7:
            raise ValueError("expected restart marker")
        self.pos = pos + 2


class _MarkerHit(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


def _next_marker(data: bytes, pos: int) -> int:
    """Position of the next marker at or after `pos`, past leftover
    entropy-coded bytes, stuffed FF00 pairs and FF fill bytes."""
    while True:
        pos = data.find(b"\xff", pos)
        if pos < 0 or pos + 1 >= len(data):
            raise ValueError("truncated stream inside scan")
        if data[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1


def _read_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    # fast path: resolve codes of <= 8 bits with one LUT probe. The
    # eager 8-bit fill may hit the trailing marker while a SHORT final
    # code is still decodable from the pad bits — _fill raises BEFORE
    # advancing pos, so swallowing the hit here loses nothing (a later
    # fill re-raises identically) and the bit-serial tail below handles
    # whatever bits remain.
    lut = getattr(table, "lut", None)
    code, length = 0, 0
    if lut is not None:
        if reader.nbits < 8:
            try:
                while reader.nbits < 8:
                    reader._fill()
            except _MarkerHit:
                pass
        if reader.nbits >= 8:
            probe = (reader.acc >> (reader.nbits - 8)) & 0xFF
            hit = lut[probe]
            if hit is not None:
                sym, ln = hit
                reader.nbits -= ln
                return sym
            # longer than 8 bits: consume the probe, walk the rest
            reader.nbits -= 8
            code, length = probe, 8
    while length < 17:
        code = (code << 1) | reader.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _decode_block(
    reader: _BitReader,
    pred: int,
    dc_tab: dict[tuple[int, int], int],
    ac_tab: dict[tuple[int, int], int],
    zz: np.ndarray,
) -> int:
    """Entropy-decode one block's zigzag coefficients into zz (already
    zeroed); returns the new DC predictor."""
    size = _read_symbol(reader, dc_tab)
    dc = pred + _extend(reader.bits(size), size)
    zz[0] = dc
    k = 1
    while k < 64:
        rs = _read_symbol(reader, ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(reader.bits(size), size)
        k += 1
    return dc


class _Scan(NamedTuple):
    """A parsed SOS header: components with their DC/AC table
    selectors, spectral band and successive-approximation bits."""

    comps: list[_Component]
    td: list[int]
    ta: list[int]
    ss: int
    se: int
    ah: int
    al: int


class _Tables:
    """The DQT/DHT/DAC/DRI definitions in force; a later segment
    replaces the table with the same selector."""

    def __init__(self) -> None:
        self.quant: dict[int, np.ndarray] = {}
        self.huff: dict[tuple[int, int], _HuffTable] = {}
        self.dc_cond = dict.fromkeys(range(4), (0, 1))  # DAC (L, U)
        self.ac_cond = dict.fromkeys(range(4), 5)  # DAC Kx
        self.dri = 0

    def quantization(self, tq: int) -> np.ndarray:
        if tq not in self.quant:
            raise ValueError(f"scan uses undefined quantization table {tq}")
        return self.quant[tq]

    def huffman(self, tc: int, th: int) -> _HuffTable:
        tab = self.huff.get((tc, th))
        if tab is None:
            raise ValueError(f"scan uses undefined Huffman table {tc}/{th}")
        return tab

    def define(self, marker: int, body: bytes) -> None:
        n = len(body)
        pos = 0
        if marker == 0xDB:  # DQT
            while pos < n:
                if body[pos] >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                if body[pos] > 3 or pos + 65 > n:
                    raise ValueError("bad DQT segment")
                tbl = np.frombuffer(body, np.uint8, 64, pos + 1)
                self.quant[body[pos]] = (
                    tbl.astype(np.int32)[UNZIGZAG].reshape(8, 8)
                )
                pos += 65
        elif marker == 0xC4:  # DHT
            while pos < n:
                tc, th = body[pos] >> 4, body[pos] & 0x0F
                bits = list(body[pos + 1 : pos + 17])
                end = pos + 17 + sum(bits)
                if tc > 1 or th > 3 or end > n:
                    raise ValueError("bad DHT segment")
                values = list(body[pos + 17 : end])
                self.huff[(tc, th)] = _decode_table(bits, values)
                pos = end
        elif marker == 0xCC:  # DAC
            for pos in range(0, n - 1, 2):
                tc, tb, cs = body[pos] >> 4, body[pos] & 0x0F, body[pos + 1]
                if tc > 1 or tb > 3:
                    raise ValueError("bad DAC segment")
                if tc == 0:
                    if cs & 0x0F > cs >> 4:
                        raise ValueError("invalid DC conditioning bounds")
                    self.dc_cond[tb] = (cs & 0x0F, cs >> 4)
                elif not 1 <= cs <= 63:
                    raise ValueError("invalid AC conditioning Kx")
                else:
                    self.ac_cond[tb] = cs
        elif marker == 0xDD:  # DRI
            if n < 2:
                raise ValueError("bad DRI segment")
            (self.dri,) = struct.unpack(">H", body[:2])


def _parse_sof(body: bytes) -> _Frame:
    if len(body) < 6 or len(body) < 6 + 3 * body[5]:
        raise ValueError("truncated SOF segment")
    if body[0] != 8:
        raise ValueError("only 8-bit precision supported")
    fh, fw = struct.unpack(">HH", body[1:5])
    if fh == 0 or fw == 0:
        raise ValueError("bad frame dimensions")
    if body[5] not in (1, 3):
        raise ValueError("only 1 or 3 components supported")
    comps = []
    for i in range(6, 6 + 3 * body[5], 3):
        cid, samp, tq = body[i : i + 3]
        hi, vi = samp >> 4, samp & 0x0F
        if not (1 <= hi <= 4 and 1 <= vi <= 4) or tq > 3:
            raise ValueError("bad SOF component")
        comps.append((cid, hi, vi, tq))
    frame = _Frame(fh, fw, comps)
    for c in frame.comps:
        if frame.hmax % c.hi or frame.vmax % c.vi:
            raise ValueError("unsupported sampling factors")
    return frame


def _parse_sos(body: bytes, frame: _Frame) -> _Scan:
    ns = body[0] if body else 0
    if not 1 <= ns <= 4 or len(body) < 4 + 2 * ns:
        raise ValueError("bad SOS segment")
    comps, td, ta = [], [], []
    for i in range(1, 1 + 2 * ns, 2):
        for c in frame.comps:
            if c.cid == body[i]:
                break
        else:
            raise ValueError(f"SOS names component {body[i]}, not in SOF")
        if body[i + 1] & 0xCC:  # a table selector above 3
            raise ValueError("bad SOS table selector")
        comps.append(c)
        td.append(body[i + 1] >> 4)
        ta.append(body[i + 1] & 0x0F)
    ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
    return _Scan(comps, td, ta, ss, se, ahal >> 4, ahal & 0x0F)


def _scan_decoder(sof: int):
    """The frame type's entropy decoder: (data, pos, frame, scan,
    tables) -> position of the marker after the scan."""
    if sof == 0xC2:
        from streams_spark.functions.jpeg_progressive import _decode_prog_scan

        return _decode_prog_scan
    if sof == 0xCA:
        from streams_spark.functions.jpeg_arith import _decode_scan_arith

        return _decode_scan_arith
    return _decode_scan


def _decode_frame(data: bytes, sofs: tuple[int, ...]) -> np.ndarray:
    """The one marker-segment reader: table segments update the tables
    in force, SOFn (one of `sofs`) builds the frame, each SOS goes to
    the frame's entropy decoder, EOI reconstructs. Bytes after EOI are
    ignored."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    tables = _Tables()
    frame = decode_scan = None
    pos, n = 2, len(data)
    while pos + 1 < n:
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte (B.1.1.2)
            pos += 1
            continue
        pos += 2
        if marker == 0xD9:  # EOI
            if frame is None:
                raise ValueError("EOI before SOF")
            return _reconstruct(frame)
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        seg_len = int.from_bytes(data[pos : pos + 2], "big")
        if seg_len < 2 or pos + seg_len > n:
            raise ValueError("truncated marker segment")
        body = data[pos + 2 : pos + seg_len]
        pos += seg_len
        if marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            scan = _parse_sos(body, frame)
            for c in scan.comps:
                if c.qt is None:
                    c.qt = tables.quantization(c.tq)
            pos = decode_scan(data, pos, frame, scan, tables)
        elif marker in (0xDB, 0xC4, 0xCC, 0xDD):
            tables.define(marker, body)
        elif 0xC0 <= marker <= 0xCF and marker != 0xC8:  # SOFn
            if marker not in sofs:
                raise ValueError(
                    f"SOF{marker - 0xC0} frame; supported: "
                    + ", ".join(f"SOF{s - 0xC0}" for s in sofs)
                )
            if frame is not None:
                raise ValueError("second SOF marker")
            frame = _parse_sof(body)
            decode_scan = _scan_decoder(marker)
    raise ValueError("truncated stream: no EOI")


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a JPEG to uint8 (h, w) grey or (h, w, 3) RGB: sequential
    Huffman (SOF0/1), progressive Huffman (SOF2) or arithmetic (SOF10)
    frames; raises ValueError on other frame types and corrupt input."""
    return _decode_frame(data, (0xC0, 0xC1, 0xC2, 0xCA))


def _decode_scan(data, pos, frame, scan, tables):
    """Sequential Huffman scan (SOF0/1): decode the scan components'
    blocks; return the position of the next marker."""
    dc = [tables.huffman(0, t) for t in scan.td]
    ac = [tables.huffman(1, t) for t in scan.ta]
    reader = _BitReader(data, pos)
    preds = [0] * len(dc)
    try:
        for n_mcu, mcu in enumerate(_mcus(frame, scan.comps)):
            if n_mcu and tables.dri and n_mcu % tables.dri == 0:
                reader.restart()
                preds = [0] * len(dc)
            for si, zz in mcu:
                preds[si] = _decode_block(
                    reader, preds[si], dc[si], ac[si], zz
                )
    except _MarkerHit as hit:
        raise ValueError(f"marker {hit.marker:#x} interrupted scan") from None
    return _next_marker(data, reader.pos)


def _reconstruct(frame: _Frame) -> np.ndarray:
    """Coefficients -> uint8 (h, w) grey or (h, w, 3) RGB, in SOF
    component order: dequantize and IDCT every block of a component in
    one einsum, upsample by pixel replication, crop the MCU padding,
    convert YCbCr to RGB."""
    planes = []
    for c in frame.comps:
        if c.qt is None:
            raise ValueError(f"component {c.cid} has no scan")
        nbv, nbh = c.coef.shape[0], c.coef.shape[1]
        nat = c.coef[:, :, UNZIGZAG].reshape(nbv, nbh, 8, 8) * c.qt
        pix = np.einsum("ux,bcuv,vy->bcxy", _M, nat.astype(np.float64), _M)
        pix += 128.0
        plane = np.clip(np.round(pix), 0, 255).astype(np.uint8)
        plane = plane.transpose(0, 2, 1, 3).reshape(nbv * 8, nbh * 8)
        if (c.vi, c.hi) != (frame.vmax, frame.hmax):
            plane = np.repeat(
                np.repeat(plane, frame.vmax // c.vi, axis=0),
                frame.hmax // c.hi, axis=1,
            )
        planes.append(plane[: frame.h, : frame.w])
    if len(planes) == 1:
        return planes[0].copy()
    return _ycbcr_to_rgb(*planes)
