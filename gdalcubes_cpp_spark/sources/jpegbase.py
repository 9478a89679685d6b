"""Baseline JPEG (ITU-T T.81, JFIF 1.02) encoder + decoder — pure numpy,
from the public spec, no libjpeg.

This closes the LAST image-codec stub in the repo: ``codecs.encode_lossy``
was an honestly-labeled deterministic quantizer in a PNG container, kept
only because libjpeg is absent from this container.  Real .jpg payloads —
the dominant format in any web-scale image+caption table (BASELINE.json
input_hint: ``fmt`` ∈ {png, jpeg}) — now decode for real:

* **Encoder**: level shift, 8×8 forward DCT (exact matrix form of the
  T.81 A.3.3 FDCT), Annex-K quantization tables scaled by the public
  IJG quality formula, zigzag, DC prediction, canonical Huffman coding
  with the Annex-K K.3.3 typical tables, byte stuffing, optional 4:2:0
  chroma subsampling and restart intervals.  Components: 1 (grayscale
  JFIF), 3 (JFIF YCbCr, BT.601 full-range), or 2/4 (valid T.81
  multi-component, no color transform — used for the synthetic B1/B2
  two-band scenes).
* **Decoder**: full marker parse (DQT 8/16-bit, multi-table DHT, SOF0/1,
  DRI, APPn/COM skip), interleaved AND non-interleaved scans, restart
  markers with predictor reset + byte realignment, arbitrary sampling
  factors 1..2 with box-replicate upsampling, batched vectorized IDCT.
  Progressive (SOF2), hierarchical, and arithmetic-coded frames are
  REFUSED with NotImplementedError rather than mis-decoded — the same
  refuse-don't-corrupt policy as the JP2 reader (sources/jpeg2000.py).

Dual-implementation discipline (tests/test_jpegbase.py): the matrix FDCT
is checked coefficient-exact against a direct O(64²) evaluation of the
T.81 A.3.3 double sum; the canonical Huffman assignment is checked
prefix-free against the spec's BITS counts; encoder output is checked
for structural validity (stuffing, marker framing) independently of the
decoder; round-trips are PSNR-gated (≥40 dB at the default quality, the
input_hint's lossy-format invariant).

Reference parity: gdalcubes itself reads imagery through GDAL, which
delegates JPEG to libjpeg (reference: src/image_collection.cpp GDALOpen
path).  Here the codec is in-repo so the Spark scan's decode_fn
(operators/build.py) and the multimodal pipeline (functions/image.py)
can decode real-world bytes with zero native dependencies.

Scale shape: pure-numpy per-payload work inside mapInPandas at chunk
grain — embarrassingly parallel, no shuffle, no driver involvement; at
100 TB it rides the existing scan exactly like the PNG/JP2/TIFF codecs.
A single payload takes the scalar decoder (decode_jpeg).  A batch
(decode_jpeg_batch; codecs.decode_batch in the cube scan) groups its
baseline single-scan payloads by header signature and decodes each group
in lockstep: one numpy step decodes one Huffman symbol for every payload
of the group, and dequantisation and the IDCT run on the blocks of many
payloads at once.  The result is byte-identical to the scalar decoder, which stays
the oracle (tests/test_jpegbase.py) and decodes everything the lockstep
pass does not take: progressive, restart-interval and multi-scan
streams, groups below the measured crossover, and malformed payloads,
whose errors it raises.
"""

from __future__ import annotations

import functools
import re
import struct
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# EXIF (APP1) — a TIFF IFD embedded in the JPEG, per the Exif 2.x spec
# ---------------------------------------------------------------------------

EXIF_MAKE = 0x010F
EXIF_MODEL = 0x0110
EXIF_ORIENTATION = 0x0112
EXIF_DATETIME = 0x0132
EXIF_SUBIFD = 0x8769
EXIF_DT_ORIGINAL = 0x9003
EXIF_PIXEL_X = 0xA002
EXIF_PIXEL_Y = 0xA003

_EXIF_NAMES = {
    EXIF_MAKE: "make", EXIF_MODEL: "model", EXIF_ORIENTATION: "orientation",
    EXIF_DATETIME: "datetime", EXIF_DT_ORIGINAL: "datetime_original",
    EXIF_PIXEL_X: "pixel_x", EXIF_PIXEL_Y: "pixel_y",
}
_EXIF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
_EXIF_TYPE_FMT = {1: "B", 3: "H", 4: "I", 9: "i"}


def _parse_exif_ifd(buf: bytes, off: int, bo: str, out: dict, depth: int = 0):
    """One TIFF IFD (either endian) -> named values into ``out``; follows
    the Exif sub-IFD pointer.  Unknown field types are skipped (the same
    refuse-to-crash rule as geotiff._parse_ifd); sub-IFD depth is capped
    so a self-referencing pointer in crawled bytes cannot recurse."""
    if depth > 4 or off + 2 > len(buf):
        return
    (n,) = struct.unpack_from(bo + "H", buf, off)
    for i in range(n):
        base = off + 2 + 12 * i
        if base + 12 > len(buf):
            return
        tag, ftype, count = struct.unpack_from(bo + "HHI", buf, base)
        if ftype not in _EXIF_TYPE_SIZE:
            continue
        size = _EXIF_TYPE_SIZE[ftype] * count
        vo = base + 8
        if size > 4:
            (vo,) = struct.unpack_from(bo + "I", buf, vo)
        if vo + size > len(buf):
            continue
        if tag == EXIF_SUBIFD:
            (p,) = struct.unpack_from(bo + "I", buf, base + 8)
            _parse_exif_ifd(buf, p, bo, out, depth + 1)
            continue
        if tag not in _EXIF_NAMES:
            continue
        if ftype == 2:  # ASCII
            out[_EXIF_NAMES[tag]] = buf[vo:vo + count].split(b"\x00")[0].decode(
                "ascii", "replace")
        elif ftype in (5, 10):  # (S)RATIONAL
            a, b = struct.unpack_from(bo + ("ii" if ftype == 10 else "II"), buf, vo)
            out[_EXIF_NAMES[tag]] = a / b if b else 0.0
        elif ftype in _EXIF_TYPE_FMT:
            vals = struct.unpack_from(bo + _EXIF_TYPE_FMT[ftype] * count, buf, vo)
            out[_EXIF_NAMES[tag]] = int(vals[0]) if count == 1 else list(vals)


def exif_dict(data: bytes) -> dict | None:
    """Extract the EXIF IFD from a JPEG's APP1 segment (both byte orders);
    None when no EXIF is present OR the APP1 payload is malformed — this
    runs over untrusted crawled bytes inside mapInPandas, so a bad row
    must degrade to NULLs, never kill the batch."""
    try:
        data = bytes(data)
        if data[:2] != b"\xff\xd8":
            return None
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                return None
            m = data[pos + 1]
            if m in (0xD8, 0xD9, 0xDA) or 0xD0 <= m <= 0xD7:
                return None  # reached the scan without an APP1
            (ln,) = struct.unpack_from(">H", data, pos + 2)
            if ln < 2:
                return None
            seg = data[pos + 4:pos + 2 + ln]
            if m == 0xE1 and seg[:6] == b"Exif\x00\x00":
                tiff = seg[6:]
                if tiff[:4] == b"II*\x00":
                    bo = "<"
                elif tiff[:4] == b"MM\x00*":
                    bo = ">"
                else:
                    return None
                (ifd0,) = struct.unpack_from(bo + "I", tiff, 4)
                out: dict = {}
                _parse_exif_ifd(tiff, ifd0, bo, out)
                return out
            pos += 2 + ln
        return None
    except (struct.error, IndexError, UnicodeDecodeError):
        return None


def exif_app1(fields: dict) -> bytes:
    """Minimal little-endian EXIF APP1 segment from
    {orientation/make/model/datetime: value} — enough for round-trip
    tests and payload tagging; value layout per TIFF 6.0 §2."""
    entries = []
    datas = []
    items = []
    if "orientation" in fields:
        items.append((EXIF_ORIENTATION, 3, 1,
                      struct.pack("<HH", int(fields["orientation"]), 0)))
    for key, tag in (("make", EXIF_MAKE), ("model", EXIF_MODEL),
                     ("datetime", EXIF_DATETIME)):
        if key in fields:
            sv = str(fields[key]).encode("ascii") + b"\x00"
            items.append((tag, 2, len(sv), sv))
    items.sort()
    n = len(items)
    data_off = 8 + 2 + 12 * n + 4  # header + count + entries + next-IFD
    for tag, ftype, count, raw in items:
        if len(raw) <= 4:
            entries.append(struct.pack("<HHI", tag, ftype, count)
                           + raw.ljust(4, b"\x00"))
        else:
            entries.append(struct.pack("<HHII", tag, ftype, count,
                                       data_off + sum(map(len, datas))))
            datas.append(raw)
    tiff = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", n)
            + b"".join(entries) + struct.pack("<I", 0) + b"".join(datas))
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def apply_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Apply an EXIF orientation (1..8) to a decoded (h, w, c) array —
    the standard camera-rotation normalization step of an image ETL."""
    o = int(orientation)
    if o in (0, 1):
        return img
    if o == 2:
        return img[:, ::-1]
    if o == 3:
        return img[::-1, ::-1]
    if o == 4:
        return img[::-1, :]
    if o == 5:
        return np.swapaxes(img, 0, 1)
    if o == 6:
        return np.swapaxes(img, 0, 1)[:, ::-1]
    if o == 7:
        return np.swapaxes(img, 0, 1)[::-1, ::-1]
    if o == 8:
        return np.swapaxes(img, 0, 1)[::-1, :]
    raise ValueError(f"EXIF orientation must be 1..8, got {o}")


# ---------------------------------------------------------------------------
# Constant tables (ITU-T T.81 Annex K — published spec data)
# ---------------------------------------------------------------------------

# zigzag: index k (scan order) -> natural order position (row*8 + col)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)
UNZIGZAG = np.argsort(ZIGZAG)  # natural position -> scan index

# Annex K.1 / K.2 quantization tables (natural order)
QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# Annex K.3.3 typical Huffman tables: (BITS[1..16], HUFFVAL)
DC_LUMA_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
DC_LUMA_VALS = tuple(range(12))
DC_CHROMA_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
DC_CHROMA_VALS = tuple(range(12))
AC_LUMA_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
AC_LUMA_VALS = (
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
    0xF9, 0xFA)
AC_CHROMA_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
AC_CHROMA_VALS = (
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
    0xF9, 0xFA)

# 8-point DCT-II matrix: M[u, x] = 0.5 * a(u) * cos((2x+1) u pi / 16);
# per block F = M B Mᵀ is exactly the T.81 A.3.3 FDCT, B = Mᵀ F M the IDCT.
_DCT_M = np.empty((8, 8))
for _u in range(8):
    _a = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _DCT_M[_u, _x] = 0.5 * _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _a, _x

# Contraction paths, searched once here instead of on every call
# (optimize=True re-runs the search, ~35 us a call).  The greedy search
# picks the same path for every block count n — the n-block operand
# against the left matrix first — so passing it keeps every result
# byte-identical, and a batch of blocks transforms exactly as the same
# blocks one image at a time.
_FDCT_PATH = np.einsum_path("ux,nxy,vy->nuv", _DCT_M, np.zeros((2, 8, 8)),
                            _DCT_M, optimize=True)[0]
_IDCT_PATH = np.einsum_path("xu,nuv,yv->nxy", _DCT_M.T, np.zeros((2, 8, 8)),
                            _DCT_M.T, optimize=True)[0]


def fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) spatial (level-shifted) -> (n, 8, 8) DCT coefficients."""
    return np.einsum("ux,nxy,vy->nuv", _DCT_M, blocks, _DCT_M,
                     optimize=_FDCT_PATH)


def idct_blocks(coefs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) DCT coefficients -> (n, 8, 8) spatial samples."""
    return np.einsum("xu,nuv,yv->nxy", _DCT_M.T, coefs, _DCT_M.T,
                     optimize=_IDCT_PATH)


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex-K tables scaled by the public IJG quality formula (1..100),
    force-baseline clamped to 1..255."""
    q = int(min(max(quality, 1), 100))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QT_LUMA, QT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int64))
    return out[0], out[1]


# ---------------------------------------------------------------------------
# Canonical Huffman (T.81 Annex C)
# ---------------------------------------------------------------------------


def build_codes(bits, vals):
    """BITS/HUFFVAL -> {symbol: (code, length)} via the canonical
    assignment of Annex C.2 (Generate_size_table / Generate_code_table)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """mincode/maxcode/valptr decode tables (T.81 F.2.2.3) plus a 16-bit
    peek LUT: lut[next 16 bits] = (symbol, code length) — one dict-free
    list index per symbol instead of a bit-by-bit tree walk (~15x faster
    in this pure-Python setting; same decoded stream, checked against the
    canonical tables in tests)."""

    def __init__(self, bits, vals):
        self.vals = list(vals)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            self.maxcode[length] = self.maxcode[length] if bits[length - 1] else -1
            code <<= 1
        # 16-bit prefix LUT (numpy fill, then one .tolist() for fast access)
        lut_sym = np.full(1 << 16, -1, dtype=np.int32)
        lut_len = np.zeros(1 << 16, dtype=np.int32)
        codes = build_codes(bits, vals)
        for sym, (c, ln) in codes.items():
            lo = c << (16 - ln)
            hi = lo + (1 << (16 - ln))
            lut_sym[lo:hi] = sym
            lut_len[lo:hi] = ln
        self.lut = list(zip(lut_sym.tolist(), lut_len.tolist()))
        self.lut_sym, self.lut_len = lut_sym, lut_len
        self.lockstep = {}  # is_ac -> _lockstep_lut arrays, built on demand


# ---------------------------------------------------------------------------
# Bit I/O with 0xFF byte stuffing
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, bits: int, n: int):
        if n <= 0:
            return
        self.acc = (self.acc << n) | (bits & ((1 << n) - 1))
        self.n += n
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.n -= 8
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # stuffing (B.1.1.5)
        self.acc &= (1 << self.n) - 1

    def align(self):
        """Pad to a byte boundary with 1-bits (F.1.2.3)."""
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)


class _BitReader:
    """MSB-first reader over stuffed entropy bytes.  Decoding works on
    16-bit PEEKS against the Huffman LUT (skip the matched length after),
    not bit-by-bit walks — the difference between ~100 ms and ~7 ms per
    small image in pure Python."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.end = False  # hit a non-stuffing marker

    def _fill_byte(self) -> bool:
        if self.end:
            return False
        d = self.data
        p = self.pos
        b = d[p]
        if b == 0xFF:
            if d[p + 1] == 0x00:
                self.pos = p + 2  # stuffed data byte 0xFF
            else:
                self.end = True  # marker: leave pos at the 0xFF
                return False
        else:
            self.pos = p + 1
        self.acc = (self.acc << 8) | b
        self.n += 8
        return True

    def peek16(self) -> int:
        while self.n < 16 and self._fill_byte():
            pass
        n = self.n
        if n >= 16:
            return (self.acc >> (n - 16)) & 0xFFFF
        pad = 16 - n  # near end of scan: pad with 1-bits (fill-bit value)
        return ((self.acc << pad) | ((1 << pad) - 1)) & 0xFFFF

    def skip(self, k: int):
        if k > self.n:
            raise ValueError("entropy read past marker")
        self.n -= k
        self.acc &= (1 << self.n) - 1

    def bits(self, k: int) -> int:
        while self.n < k and self._fill_byte():
            pass
        n = self.n
        if k > n:
            raise ValueError("entropy read past marker")
        self.n = n = n - k
        v = (self.acc >> n) & ((1 << k) - 1)
        self.acc &= (1 << n) - 1
        return v

    def bit(self) -> int:
        return self.bits(1)

    def restart(self):
        """Byte-align and consume an RSTn marker (E.2.4 / F.2.1.3.1)."""
        self.acc = 0
        self.n = 0
        self.end = False
        d = self.data
        p = self.pos
        # fill bytes 0xFF may precede the marker code
        while d[p] == 0xFF and d[p + 1] == 0xFF:
            p += 1
        if not (d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7):
            raise ValueError("expected RST marker at byte %d" % p)
        self.pos = p + 2


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(a: np.ndarray) -> np.ndarray:
    """JFIF (BT.601 full-range) forward transform; float64 planes."""
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(a: np.ndarray) -> np.ndarray:
    y, cb, cr = a[..., 0], a[..., 1] - 128.0, a[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _pad_to(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Edge-replicate pad to (ph, pw) — minimizes block-boundary ringing."""
    h, w = plane.shape
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _box_downsample(plane: np.ndarray, fy: int, fx: int) -> np.ndarray:
    h, w = plane.shape
    ph, pw = -(-h // fy) * fy, -(-w // fx) * fx
    p = _pad_to(plane, ph, pw)
    return p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


def _mag_cat(v: int) -> int:
    """SSSS magnitude category (F.1.2.1.1)."""
    return v.bit_length() if v >= 0 else (-v).bit_length()


def encode_jpeg(
    img: np.ndarray,
    quality: int = 95,
    subsample: bool | str = False,
    restart_interval: int = 0,
    progressive: bool = False,
    exif: dict | None = None,
    optimize: bool = False,
) -> bytes:
    """uint8 (h, w[, c]) with c in 1..4 -> baseline JFIF/T.81 bytes.

    ``subsample`` picks the chroma layout for 3-component images:
    False = 4:4:4, True or "420" = 4:2:0, "422" = horizontal-only 4:2:2;
    ``restart_interval`` emits DRI + RSTn markers every that many MCUs
    (resync points — at scale they bound error blast radius per payload);
    ``progressive=True`` emits an SOF2 frame with a spectral-selection +
    successive-approximation scan script (T.81 Annex G — the shape most
    web .jpg files actually use).  Progressive and sequential carry the
    SAME quantized coefficients, so their decodes are bit-identical.
    """
    if progressive and restart_interval:
        raise ValueError("restart intervals not supported with progressive")
    if progressive and optimize:
        raise ValueError("optimize applies to sequential scans (progressive"
                         " already ships its custom tables)")
    a = np.asarray(img, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nc = a.shape
    if not (1 <= nc <= 4):
        raise ValueError("baseline JPEG supports 1..4 components, got %d" % nc)
    af = a.astype(np.float64)
    if nc == 3:
        af = _rgb_to_ycbcr(af)

    qt0, qt1 = quality_tables(quality)
    # per-component (H, V, quant-table id, huffman-table id);
    # subsample: False/None = 4:4:4, True/"420" = 4:2:0, "422" = 4:2:2
    if nc == 3 and subsample:
        samp = [(2, 1), (1, 1), (1, 1)] if subsample == "422" else \
            [(2, 2), (1, 1), (1, 1)]
    else:
        samp = [(1, 1)] * nc
    qids = [0] + [1] * (nc - 1)
    hids = qids
    qtabs = [qt0, qt1]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # per-component quantized coefficient grids, block raster order
    comp_q = []
    for ci in range(nc):
        hi, vi = samp[ci]
        plane = af[:, :, ci]
        if (hi, vi) != (hmax, vmax):
            plane = _box_downsample(plane, vmax // vi, hmax // hi)
        bw_, bh_ = mcux * hi, mcuy * vi  # blocks across / down
        p = _pad_to(plane, bh_ * 8, bw_ * 8) - 128.0
        blocks = p.reshape(bh_, 8, bw_, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        coefs = fdct_blocks(blocks)
        q = qtabs[qids[ci]].reshape(8, 8).astype(np.float64)
        qz = np.round(coefs / q).astype(np.int64)
        # zigzag now: (nblocks, 64) in scan order
        comp_q.append((qz.reshape(-1, 64)[:, ZIGZAG], bw_, bh_))

    # ONE list conversion of the quantized coefficients, shared by the
    # optimize counting pass, the sequential emission, and the
    # progressive scan emitters (the slowest pure-Python structure here).
    coef_lists = [qz.tolist() for qz, _, _ in comp_q]

    # Huffman code tables.  The Annex-K typical AC tables carry only EOB0
    # and ZRL among the size-0 symbols; progressive EOB RUNS need EOBn
    # (n<<4, n=1..14), so the progressive script extends both AC tables
    # with those 14 symbols at code length 16 (canonical assignment keeps
    # them prefix-free; asserted in tests).
    dc_specs = [(DC_LUMA_BITS, DC_LUMA_VALS), (DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_specs = [(AC_LUMA_BITS, AC_LUMA_VALS), (AC_CHROMA_BITS, AC_CHROMA_VALS)]
    if progressive:
        ac_specs = [_prog_ac_spec(*s) for s in ac_specs]
    if optimize:  # two-pass: measured per-image tables (Annex K.2)
        dc_freq, ac_freq = _count_symbols(coef_lists, comp_q, samp, hids,
                                          nc, mcux, mcuy, restart_interval)
        dc_specs = list(dc_specs)
        ac_specs = list(ac_specs)
        for th in sorted(set(hids)):
            dc_specs[th] = optimal_table(dc_freq[th])
            ac_specs[th] = optimal_table(ac_freq[th])
    enc_dc = [build_codes(*s) for s in dc_specs]
    enc_ac = [build_codes(*s) for s in ac_specs]

    # ---- headers -----------------------------------------------------
    out = bytearray(b"\xff\xd8")
    if nc in (1, 3):  # JFIF APP0
        out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + \
            bytes((1, 2, 0)) + struct.pack(">HH", 1, 1) + bytes((0, 0))
    if exif:
        out += exif_app1(exif)
    used_q = sorted({qids[c] for c in range(nc)})
    for tq in used_q:
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes((tq,)) + \
            bytes(int(x) for x in qtabs[tq][ZIGZAG])
    sof = b"\xff\xc2" if progressive else b"\xff\xc0"
    out += sof + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        out += bytes((ci + 1, (samp[ci][0] << 4) | samp[ci][1], qids[ci]))
    for th in sorted({hids[c] for c in range(nc)}):
        for tc, (bits, vals) in ((0, dc_specs[th]), (1, ac_specs[th])):
            out += b"\xff\xc4" + struct.pack(">H", 19 + sum(bits)) + \
                bytes(((tc << 4) | th,)) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    if progressive:
        out += _emit_prog_scans(coef_lists, comp_q, samp, hids, nc, mcux,
                                mcuy, w, h, hmax, vmax, enc_dc, enc_ac)
        out += b"\xff\xd9"
        return bytes(out)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes((ci + 1, (hids[ci] << 4) | hids[ci]))
    out += bytes((0, 63, 0))

    # ---- entropy-coded scan (single interleaved scan) ----------------
    bw = _BitWriter()
    preds = [0] * nc
    mcu_i = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.align()
                bw.buf += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) & 7
                preds = [0] * nc
            for ci in range(nc):
                hi, vi = samp[ci]
                bwidth = comp_q[ci][1]
                dct_, act_ = enc_dc[hids[ci]], enc_ac[hids[ci]]
                for v in range(vi):
                    for u in range(hi):
                        blk = coef_lists[ci][(my * vi + v) * bwidth + (mx * hi + u)]
                        # DC
                        diff = blk[0] - preds[ci]
                        preds[ci] = blk[0]
                        s = _mag_cat(diff)
                        code, ln = dct_[s]
                        bw.put(code, ln)
                        if s:
                            bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
                        # AC
                        run = 0
                        for k in range(1, 64):
                            cv = blk[k]
                            if cv == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = act_[0xF0]  # ZRL
                                bw.put(code, ln)
                                run -= 16
                            s = _mag_cat(cv)
                            code, ln = act_[(run << 4) | s]
                            bw.put(code, ln)
                            bw.put(cv if cv >= 0 else cv + (1 << s) - 1, s)
                            run = 0
                        if run:
                            code, ln = act_[0x00]  # EOB
                            bw.put(code, ln)
            mcu_i += 1
    bw.align()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


# Progressive AC scans need the EOBn symbols (0x10..0xE0), which the
# Annex-K sequential tables cannot be extended with: their canonical code
# space is 65535/65536 full (one free 16-bit slot, 14 symbols needed).
# Real progressive encoders ship custom tables in DHT, so we do too: a
# static canonical design with the high-frequency symbols short and the
# long tail flat at 12 bits (Kraft sum 0.764 — valid, verified in tests).
_PROG_AC_SHORT = (
    (0x00, 2), (0x01, 3), (0x11, 4), (0x02, 4), (0x21, 5), (0x31, 5),
    (0x12, 5), (0x41, 6), (0x51, 6), (0x03, 6), (0x22, 6), (0x61, 7),
    (0x71, 7), (0x13, 7), (0x81, 7), (0x10, 7), (0x91, 8), (0xA1, 8),
    (0xB1, 8), (0x32, 8), (0x04, 8), (0x23, 8), (0x20, 8), (0xF0, 8),
)


def _prog_ac_spec(bits=None, vals=None):
    """(BITS, HUFFVAL) of the static progressive AC table covering all
    (run 0..15, size 1..10) + ZRL + EOB0..EOB14.  Args ignored (the
    sequential base table cannot host EOBn — see above)."""
    short = dict(_PROG_AC_SHORT)
    syms = [(r << 4) | s for r in range(16) for s in range(1, 11)]
    syms += [0xF0] + [n << 4 for n in range(15)]
    by_len: dict = {}
    for sym in sorted(set(syms)):
        by_len.setdefault(short.get(sym, 12), []).append(sym)
    for sym, ln in _PROG_AC_SHORT:  # keep the curated short-code order
        by_len[ln].remove(sym)
    b = [0] * 16
    v: list = []
    for ln in range(1, 17):
        listed = [s for s, l2 in _PROG_AC_SHORT if l2 == ln]
        rest = by_len.get(ln, [])
        b[ln - 1] = len(listed) + len(rest)
        v += listed + rest
    return tuple(b), tuple(v)


# ---------------------------------------------------------------------------
# Optimized (two-pass) Huffman tables — T.81 Annex K.2
# ---------------------------------------------------------------------------


def optimal_table(freq256):
    """Symbol frequencies -> (BITS, HUFFVAL) via the Annex-K.2 procedure:
    pairwise least-frequency merges with the 'others' chain, a reserved
    pseudo-symbol that guarantees no all-ones code, BITS counting, and
    the limit-to-16 adjustment.  This is what 'optimized coding' means in
    every production JPEG encoder."""
    freq = list(freq256) + [1]  # index 256: reserved pseudo-symbol
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = -1
        v = None
        for i in range(257):
            if freq[i] > 0 and (v is None or freq[i] <= v):
                v = freq[i]
                c1 = i  # ties -> largest index
        c2 = -1
        v = None
        for i in range(257):
            if freq[i] > 0 and i != c1 and (v is None or freq[i] <= v):
                v = freq[i]
                c2 = i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for s in codesize:
        if s:
            if s > 32:
                raise ValueError("code length overflow")
            bits[s] += 1
    i = 32
    while i > 16:  # Adjust_BITS: fold overlong codes into shorter prefixes
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved symbol's slot (the all-ones code)
    vals = []
    for size in range(1, 33):
        for sym in range(256):
            if codesize[sym] == size:
                vals.append(sym)
    return tuple(bits[1:17]), tuple(vals)


def _count_symbols(coef_lists, comp_q, samp, hids, nc, mcux, mcuy,
                   restart_interval=0):
    """Dry pass: DC-category and AC run/size symbol frequencies per
    Huffman table id (the first pass of two-pass optimized coding).
    Mirrors the emission loop exactly — including restart-interval
    predictor resets, which change DC categories (a symbol emitted but
    not counted would be missing from the optimized table)."""
    dc_freq = {th: [0] * 256 for th in set(hids)}
    ac_freq = {th: [0] * 256 for th in set(hids)}
    preds = [0] * nc
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                preds = [0] * nc
            mcu_i += 1
            for ci in range(nc):
                hi, vi = samp[ci]
                bwidth = comp_q[ci][1]
                df_, af_ = dc_freq[hids[ci]], ac_freq[hids[ci]]
                for v in range(vi):
                    for u in range(hi):
                        blk = coef_lists[ci][(my * vi + v) * bwidth + (mx * hi + u)]
                        diff = blk[0] - preds[ci]
                        preds[ci] = blk[0]
                        df_[_mag_cat(diff)] += 1
                        run = 0
                        for k in range(1, 64):
                            cv = blk[k]
                            if cv == 0:
                                run += 1
                                continue
                            while run > 15:
                                af_[0xF0] += 1
                                run -= 16
                            af_[(run << 4) | _mag_cat(cv)] += 1
                            run = 0
                        if run:
                            af_[0x00] += 1
    return dc_freq, ac_freq


def _sos_header(comps_sel, hids, ss, se, ah, al) -> bytes:
    hdr = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps_sel), len(comps_sel))
    for ci in comps_sel:
        hdr += bytes((ci + 1, (hids[ci] << 4) | hids[ci]))
    return hdr + bytes((ss, se, (ah << 4) | al))


def _emit_prog_scans(coef_lists, comp_q, samp, hids, nc, mcux, mcuy, w, h,
                     hmax, vmax, enc_dc, enc_ac) -> bytes:
    """Progressive scan script (T.81 Annex G; libjpeg-like default):
    DC first (interleaved, Al=1) -> per-component AC bands 1..5 and 6..63
    at Al=2 -> per-component AC refine to Al=1 -> DC refine to Al=0 ->
    per-component AC refine to Al=0.  Exercises spectral selection,
    successive approximation, EOB runs, and ZRL in both scan kinds."""
    # per-component non-interleaved block grids (dummy blocks NOT coded)
    grids = []
    for ci in range(nc):
        hi, vi = samp[ci]
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        grids.append((-(-cw // 8), -(-ch // 8)))
    out = bytearray()

    def dc_scan(ah, al):
        o = bytearray(_sos_header(list(range(nc)), hids, 0, 0, ah, al))
        bw = _BitWriter()
        preds = [0] * nc
        if nc == 1:  # single-component frame: non-interleaved block grid
            for my in range(grids[0][1]):
                for mx in range(grids[0][0]):
                    blk0 = coef_lists[0][my * comp_q[0][1] + mx][0]
                    _dc_emit(bw, enc_dc[hids[0]], preds, 0, blk0, ah, al)
        else:
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in range(nc):
                        hi, vi = samp[ci]
                        bwidth = comp_q[ci][1]
                        for v in range(vi):
                            for u in range(hi):
                                blk0 = coef_lists[ci][
                                    (my * vi + v) * bwidth + (mx * hi + u)][0]
                                _dc_emit(bw, enc_dc[hids[ci]], preds, ci,
                                         blk0, ah, al)
        bw.align()
        return bytes(o + bw.buf)

    def ac_first(ci, ss, se, al):
        o = bytearray(_sos_header([ci], hids, ss, se, 0, al))
        bw = _BitWriter()
        act = enc_ac[hids[ci]]
        nx, ny = grids[ci]
        bwidth = comp_q[ci][1]
        eobrun = 0

        def flush():
            nonlocal eobrun
            if eobrun:
                nbits = eobrun.bit_length() - 1
                code, ln = act[nbits << 4]
                bw.put(code, ln)
                if nbits:
                    bw.put(eobrun - (1 << nbits), nbits)
                eobrun = 0

        for my in range(ny):
            for mx in range(nx):
                blk = coef_lists[ci][my * bwidth + mx]
                # point transform: magnitude shift (truncate toward zero)
                vals = [0] * (se + 1)
                last = 0
                for k in range(ss, se + 1):
                    c = blk[k]
                    a = (c if c >= 0 else -c) >> al
                    if a:
                        vals[k] = a if c >= 0 else -a
                        last = k
                if last == 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush()
                    continue
                flush()
                r = 0
                for k in range(ss, last + 1):
                    v = vals[k]
                    if v == 0:
                        r += 1
                        continue
                    while r > 15:
                        code, ln = act[0xF0]
                        bw.put(code, ln)
                        r -= 16
                    s = (v if v >= 0 else -v).bit_length()
                    code, ln = act[(r << 4) | s]
                    bw.put(code, ln)
                    bw.put(v if v >= 0 else v + (1 << s) - 1, s)
                    r = 0
                if last < se:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush()
        flush()
        bw.align()
        return bytes(o + bw.buf)

    def ac_refine(ci, ss, se, ah, al):
        o = bytearray(_sos_header([ci], hids, ss, se, ah, al))
        bw = _BitWriter()
        act = enc_ac[hids[ci]]
        nx, ny = grids[ci]
        bwidth = comp_q[ci][1]
        eobrun = 0
        pend: list = []  # correction bits buffered across the EOB run

        def flush():
            nonlocal eobrun, pend
            if eobrun:
                nbits = eobrun.bit_length() - 1
                code, ln = act[nbits << 4]
                bw.put(code, ln)
                if nbits:
                    bw.put(eobrun - (1 << nbits), nbits)
                eobrun = 0
            for b in pend:
                bw.put(b, 1)
            pend = []

        for my in range(ny):
            for mx in range(nx):
                blk = coef_lists[ci][my * bwidth + mx]
                absv = [0] * (se + 1)
                eobidx = ss - 1  # last newly-significant position
                for k in range(ss, se + 1):
                    c = blk[k]
                    a = (c if c >= 0 else -c) >> al
                    absv[k] = a
                    if a == 1:
                        eobidx = k
                r = 0
                br: list = []  # correction bits pending within this block
                for k in range(ss, se + 1):
                    t = absv[k]
                    if t == 0:
                        r += 1
                        continue
                    while r > 15 and k <= eobidx:
                        flush()
                        code, ln = act[0xF0]
                        bw.put(code, ln)
                        r -= 16
                        for b in br:
                            bw.put(b, 1)
                        br = []
                    if t > 1:  # history coefficient: correction bit
                        br.append(t & 1)
                        continue
                    flush()
                    code, ln = act[(r << 4) | 1]
                    bw.put(code, ln)
                    bw.put(1 if blk[k] >= 0 else 0, 1)
                    for b in br:
                        bw.put(b, 1)
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    pend.extend(br)
                    if eobrun == 0x7FFF or len(pend) > 900:
                        flush()
        flush()
        bw.align()
        return bytes(o + bw.buf)

    out += dc_scan(0, 1)
    for ci in range(nc):
        out += ac_first(ci, 1, 5, 2)
    for ci in range(nc):
        out += ac_first(ci, 6, 63, 2)
    for ci in range(nc):
        out += ac_refine(ci, 1, 63, 2, 1)
    out += dc_scan(1, 0)
    for ci in range(nc):
        out += ac_refine(ci, 1, 63, 1, 0)
    return bytes(out)


def _dc_emit(bw, dct, preds, ci, dc, ah, al):
    if ah == 0:  # first scan: Huffman-coded diffs of (DC >> Al)
        v = dc >> al  # arithmetic shift, matches the decoder's << + OR
        diff = v - preds[ci]
        preds[ci] = v
        s = _mag_cat(diff)
        code, ln = dct[s]
        bw.put(code, ln)
        if s:
            bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    else:  # refinement: one raw bit
        bw.put((dc >> al) & 1, 1)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

_SOF_UNSUPPORTED = {
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _extend(v: int, s: int) -> int:
    """EXTEND (F.2.2.1): map s received bits to the signed value."""
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline/progressive T.81 bytes -> (h, w, c) uint8.  3-component
    frames are assumed JFIF YCbCr (the encoder's convention and the JFIF
    default).  Truncated or garbage-tailed streams raise ValueError (the
    refuse-don't-corrupt policy), never a bare IndexError."""
    try:
        return _decode_jpeg(bytes(data))
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated or malformed JPEG stream: {e}") from e


def _decode_jpeg(data: bytes) -> np.ndarray:
    decoded = {}  # comp index -> (nblocks, 64) int coefs in block raster

    def on_scan(pos, frame, scan, dc_tabs, ac_tabs, ri, ss, se, ah, al):
        if frame["prog"]:
            return _decode_scan_prog(data, pos, frame, scan, dc_tabs, ac_tabs,
                                     ri, decoded, ss, se, ah, al)
        return _decode_scan(data, pos, frame, scan, dc_tabs, ac_tabs, ri,
                            decoded)

    frame, qtabs = _parse_markers(data, on_scan)
    if frame is None or len(decoded) < len(frame["comps"]):
        raise ValueError("incomplete JPEG: missing scan data")
    return _assemble(frame, decoded, qtabs)


def _parse_markers(data: bytes, on_scan):
    """The marker loop both decode paths share: DQT, DHT, SOFn and DRI are
    read here; every SOS calls ``on_scan(pos, frame, scan, dc_tabs,
    ac_tabs, ri, ss, se, ah, al)`` with ``pos`` at the first entropy-coded
    byte, and ``on_scan`` returns the position of the marker that ends the
    segment.  Returns (frame, qtabs) at EOI."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs = {}
    dc_tabs = {}
    ac_tabs = {}
    ri = 0
    frame = None
    while True:
        while data[pos] != 0xFF:
            pos += 1
        while data[pos] == 0xFF:
            pos += 1
        m = data[pos]
        pos += 1
        if m == 0xD9:  # EOI
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            continue  # standalone markers
        if m in _SOF_UNSUPPORTED:
            raise NotImplementedError("unsupported JPEG frame: " + _SOF_UNSUPPORTED[m])
        (seg_len,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2:pos + seg_len]
        nxt = pos + seg_len
        if m == 0xDB:  # DQT — possibly several tables per segment
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 15
                o += 1
                if pq:
                    tbl = np.frombuffer(seg[o:o + 128], dtype=">u2").astype(np.int64)
                    o += 128
                else:
                    tbl = np.frombuffer(seg[o:o + 64], dtype=np.uint8).astype(np.int64)
                    o += 64
                nat = np.empty(64, dtype=np.int64)
                nat[ZIGZAG] = tbl
                qtabs[tq] = nat
        elif m == 0xC4:  # DHT — possibly several tables
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 15
                bits = tuple(seg[o + 1:o + 17])
                nv = sum(bits)
                vals = tuple(seg[o + 17:o + 17 + nv])
                (ac_tabs if tc else dc_tabs)[th] = _huff_decoder(bits, vals)
                o += 17 + nv
        elif m in (0xC0, 0xC1, 0xC2):  # sequential Huffman / progressive
            prec, fh, fw, nf = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError("only 8-bit precision")
            comps = []
            for i in range(nf):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps, "prog": m == 0xC2}
        elif m == 0xDD:
            (ri,) = struct.unpack_from(">H", seg, 0)
        elif m == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                ci = next(k for k, c in enumerate(frame["comps"]) if c["id"] == cs)
                scan.append((ci, tdta >> 4, tdta & 15))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            pos = on_scan(nxt, frame, scan, dc_tabs, ac_tabs, ri, ss, se,
                          ahal >> 4, ahal & 15)
            continue
        pos = nxt
    return frame, qtabs


def _comp_store(decoded, frame, ci):
    """Allocate (once) the component's coefficient store over the FULL
    interleaved MCU grid — progressive scans of different shapes all
    accumulate into the same array.  Plain Python lists: scalar stores in
    the entropy loop are ~2x faster than numpy item assignment;
    _assemble converts once."""
    got = decoded.get(ci)
    if got is None:
        comps = frame["comps"]
        hmax = max(c["h"] for c in comps)
        vmax = max(c["v"] for c in comps)
        bw_ = -(-frame["w"] // (8 * hmax)) * comps[ci]["h"]
        bh_ = -(-frame["h"] // (8 * vmax)) * comps[ci]["v"]
        got = decoded[ci] = ([[0] * 64 for _ in range(bh_ * bw_)], bw_, bh_)
    return got


def _decode_scan(data, pos, frame, scan, dc_tabs, ac_tabs, ri, decoded):
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    interleaved = len(scan) > 1
    if interleaved:
        units = [(ci, comps[ci]["h"], comps[ci]["v"],
                  _comp_store(decoded, frame, ci)[1]) for ci, _, _ in scan]
        n_mcux, n_mcuy = mcux, mcuy
    else:
        ci = scan[0][0]
        c = comps[ci]
        # non-interleaved: MCU = one block over the component's own
        # block grid (dummy blocks of the padded MCU grid are not coded);
        # indexing still uses the STORAGE stride of the full grid
        cw = -(-frame["w"] * c["h"] // hmax)
        ch = -(-frame["h"] * c["v"] // vmax)
        n_mcux, n_mcuy = -(-cw // 8), -(-ch // 8)
        units = [(ci, 1, 1, _comp_store(decoded, frame, ci)[1])]
    tsel = {ci: (dc_tabs[td].lut, ac_tabs[ta].lut) for ci, td, ta in scan}
    preds = {ci: 0 for ci, _, _ in scan}
    # ---- inlined bit reader state (the per-call overhead of a reader
    # object triples the wall time of this pure-Python hot loop) --------
    acc = 0
    nb = 0
    end = False
    mcu_i = 0
    blkbuf = {ci: decoded[ci][0] for ci, _, _ in scan}
    for my in range(n_mcuy):
        for mx in range(n_mcux):
            if ri and mcu_i and mcu_i % ri == 0:
                # byte-align + consume RSTn (E.2.4), reset predictors
                acc = 0
                nb = 0
                end = False
                while data[pos] == 0xFF and data[pos + 1] == 0xFF:
                    pos += 1
                if not (data[pos] == 0xFF and 0xD0 <= data[pos + 1] <= 0xD7):
                    raise ValueError("expected RST marker at byte %d" % pos)
                pos += 2
                preds = {k: 0 for k in preds}
            for ci, hi, vi, bwidth in units:
                dc_lut, ac_lut = tsel[ci]
                pred = preds[ci]
                rows = blkbuf[ci]
                for v in range(vi):
                    for u in range(hi):
                        blk = rows[(my * vi + v) * bwidth + (mx * hi + u)]
                        # ---- DC ----
                        while nb < 16 and not end:
                            b = data[pos]
                            if b == 0xFF:
                                if data[pos + 1] == 0x00:
                                    pos += 2
                                else:
                                    end = True
                                    break
                            else:
                                pos += 1
                            acc = (acc << 8) | b
                            nb += 8
                        peek = ((acc >> (nb - 16)) & 0xFFFF) if nb >= 16 else (
                            ((acc << (16 - nb)) | ((1 << (16 - nb)) - 1)) & 0xFFFF)
                        s, ln = dc_lut[peek]
                        if s < 0 or ln > nb:
                            raise ValueError("invalid DC Huffman code")
                        nb -= ln
                        acc &= (1 << nb) - 1
                        if s:
                            while nb < s and not end:
                                b = data[pos]
                                if b == 0xFF:
                                    if data[pos + 1] == 0x00:
                                        pos += 2
                                    else:
                                        end = True
                                        break
                                else:
                                    pos += 1
                                acc = (acc << 8) | b
                                nb += 8
                            if s > nb:
                                raise ValueError("entropy read past marker")
                            nb -= s
                            dv = (acc >> nb) & ((1 << s) - 1)
                            acc &= (1 << nb) - 1
                            pred += dv - (1 << s) + 1 if dv < (1 << (s - 1)) else dv
                        blk[0] = pred
                        # ---- AC ----
                        k = 1
                        while k < 64:
                            while nb < 16 and not end:
                                b = data[pos]
                                if b == 0xFF:
                                    if data[pos + 1] == 0x00:
                                        pos += 2
                                    else:
                                        end = True
                                        break
                                else:
                                    pos += 1
                                acc = (acc << 8) | b
                                nb += 8
                            peek = ((acc >> (nb - 16)) & 0xFFFF) if nb >= 16 else (
                                ((acc << (16 - nb)) | ((1 << (16 - nb)) - 1)) & 0xFFFF)
                            rs, ln = ac_lut[peek]
                            if rs < 0 or ln > nb:
                                raise ValueError("invalid AC Huffman code")
                            nb -= ln
                            acc &= (1 << nb) - 1
                            s = rs & 15
                            if s == 0:
                                if rs == 0xF0:
                                    k += 16
                                    continue
                                break  # EOB
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("AC run past block end")
                            while nb < s and not end:
                                b = data[pos]
                                if b == 0xFF:
                                    if data[pos + 1] == 0x00:
                                        pos += 2
                                    else:
                                        end = True
                                        break
                                else:
                                    pos += 1
                                acc = (acc << 8) | b
                                nb += 8
                            if s > nb:
                                raise ValueError("entropy read past marker")
                            nb -= s
                            av = (acc >> nb) & ((1 << s) - 1)
                            acc &= (1 << nb) - 1
                            blk[k] = av - (1 << s) + 1 if av < (1 << (s - 1)) else av
                            k += 1
                preds[ci] = pred
            mcu_i += 1
    # skip pad bits; return position of the next marker
    p = pos
    while data[p] != 0xFF or data[p + 1] == 0x00:
        p += 1
    return p


def _decode_scan_prog(data, pos, frame, scan, dc_tabs, ac_tabs, ri, decoded,
                      ss, se, ah, al):
    """One progressive scan (T.81 Annex G / G.2): DC first/refine
    (optionally interleaved), AC first/refine (single component, spectral
    band Ss..Se, successive approximation Ah->Al) with EOB runs.
    Coefficients accumulate into the shared per-component stores; the
    final _assemble is the plain sequential one."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-frame["w"] // (8 * hmax))
    mcuy = -(-frame["h"] // (8 * vmax))
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if not is_dc and len(scan) != 1:
        raise ValueError("progressive AC scans are single-component")
    br = _BitReader(data, pos)
    if is_dc:
        units = [(ci, comps[ci]["h"], comps[ci]["v"],
                  _comp_store(decoded, frame, ci)) for ci, _, _ in scan]
        n_mcux, n_mcuy = mcux, mcuy
        if len(scan) == 1:  # non-interleaved DC scan: component block grid
            c = comps[scan[0][0]]
            cw = -(-frame["w"] * c["h"] // hmax)
            ch = -(-frame["h"] * c["v"] // vmax)
            n_mcux, n_mcuy = -(-cw // 8), -(-ch // 8)
            units = [(scan[0][0], 1, 1, _comp_store(decoded, frame, scan[0][0]))]
        dctab = {ci: dc_tabs[td] for ci, td, _ in scan} if ah == 0 else {}
        preds = {ci: 0 for ci, _, _ in scan}
        mcu_i = 0
        for my in range(n_mcuy):
            for mx in range(n_mcux):
                if ri and mcu_i and mcu_i % ri == 0:
                    br.restart()
                    preds = {k: 0 for k in preds}
                for ci, hi, vi, (rows, bwidth, _) in units:
                    for v in range(vi):
                        for u in range(hi):
                            blk = rows[(my * vi + v) * bwidth + (mx * hi + u)]
                            if ah == 0:  # first DC scan
                                s = _huff_val(br, dctab[ci])
                                d = _extend(br.bits(s), s) if s else 0
                                preds[ci] += d
                                blk[0] = preds[ci] << al
                            else:  # refinement: one bit per block
                                if br.bit():
                                    blk[0] |= 1 << al
                mcu_i += 1
    else:
        ci = scan[0][0]
        c = comps[ci]
        rows, bwidth, _ = _comp_store(decoded, frame, ci)
        cw = -(-frame["w"] * c["h"] // hmax)
        ch = -(-frame["h"] * c["v"] // vmax)
        n_mcux, n_mcuy = -(-cw // 8), -(-ch // 8)
        actab = ac_tabs[scan[0][2]]
        eobrun = 0
        p1 = 1 << al
        m1 = -p1
        mcu_i = 0
        for my in range(n_mcuy):
            for mx in range(n_mcux):
                if ri and mcu_i and mcu_i % ri == 0:
                    br.restart()
                    eobrun = 0
                blk = rows[my * bwidth + mx]
                if ah == 0:  # ---- AC first scan (G.2 / F.2.2.2 + EOBRUN)
                    if eobrun:
                        eobrun -= 1
                    else:
                        k = ss
                        while k <= se:
                            rs = _huff_val(br, actab)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r < 15:
                                    eobrun = (1 << r) - 1
                                    if r:
                                        eobrun += br.bits(r)
                                    break
                                k += 16  # ZRL
                                continue
                            k += r
                            if k > se:
                                raise ValueError("AC run past band end")
                            blk[k] = _extend(br.bits(s), s) << al
                            k += 1
                else:  # ---- AC refinement scan (G.2, correction bits)
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            rs = _huff_val(br, actab)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r < 15:
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.bits(r)
                                    break
                                # r == 15: ZRL — skip 16 zero-history coefs
                                newval = 0
                            else:
                                if s != 1:
                                    raise ValueError(
                                        "AC refinement size must be 1")
                                newval = p1 if br.bit() else m1
                            while k <= se:
                                coef = blk[k]
                                if coef != 0:
                                    if br.bit() and (coef & p1) == 0:
                                        blk[k] = coef + (p1 if coef >= 0 else m1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval and k <= se:
                                blk[k] = newval
                            k += 1
                    if eobrun > 0:
                        # blocks inside the EOB run still receive correction
                        # bits for their already-nonzero band coefficients
                        while k <= se:
                            coef = blk[k]
                            if coef != 0:
                                if br.bit() and (coef & p1) == 0:
                                    blk[k] = coef + (p1 if coef >= 0 else m1)
                            k += 1
                        eobrun -= 1
                mcu_i += 1
    p = br.pos
    while data[p] != 0xFF or data[p + 1] == 0x00:
        p += 1
    return p


_HUFF_CACHE: dict = {}


def _huff_decoder(bits, vals) -> _HuffDecoder:
    """LUT construction is ~ms-scale; cache by table spec so the standard
    Annex-K tables are built once per process, not once per image."""
    key = (tuple(bits), tuple(vals))
    t = _HUFF_CACHE.get(key)
    if t is None:
        t = _HUFF_CACHE[key] = _HuffDecoder(bits, vals)
    return t


def _huff_val(br: _BitReader, tbl: _HuffDecoder) -> int:
    sym, ln = tbl.lut[br.peek16()]
    if sym < 0:
        raise ValueError("invalid Huffman code")
    br.skip(ln)
    return sym


def _assemble(frame, decoded, qtabs):
    comps = frame["comps"]
    nats = []
    for ci in range(len(comps)):
        qz = np.asarray(decoded[ci][0], dtype=np.int64)
        nat = np.zeros_like(qz)
        nat[:, ZIGZAG] = qz  # inverse zigzag
        nats.append(nat[None])
    return _pixels((frame["h"], frame["w"]),
                   tuple((c["h"], c["v"]) for c in comps), nats,
                   [qtabs[c["tq"]] for c in comps])[0]


def _pixels(size, samp, nats, qts) -> np.ndarray:
    """Per component (lanes, blocks in raster order, 64) natural-order
    int64 coefficients -> (lanes, h, w, c) uint8: dequantise, IDCT, crop,
    box-upsample, colour transform.  Both decoders end here, so a batch
    of lanes and one payload go through the same arithmetic."""
    h, w = size
    hmax = max(hi for hi, _ in samp)
    vmax = max(vi for _, vi in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for (hi, vi), nat, q in zip(samp, nats, qts):
        nl = nat.shape[0]
        coefs = (nat * q).reshape(-1, 8, 8).astype(np.float64)
        spatial = idct_blocks(coefs) + 128.0
        bw_, bh_ = mcux * hi, mcuy * vi
        cw = -(-w * hi // hmax)
        chh = -(-h * vi // vmax)
        plane = spatial.reshape(nl, bh_, bw_, 8, 8).transpose(0, 1, 3, 2, 4).reshape(
            nl, bh_ * 8, bw_ * 8)[:, :chh, :cw]
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:
            plane = np.repeat(np.repeat(plane, fy, axis=1), fx, axis=2)
        planes.append(plane[:, :h, :w])
    img = np.stack(planes, axis=-1)
    if len(samp) == 3:
        img = _ycbcr_to_rgb(img)
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Lockstep batch decoder: one Huffman symbol for every payload per numpy step
# ---------------------------------------------------------------------------

# Fewest payloads sharing one header signature that take the lockstep
# pass; smaller groups take the scalar decoder.  A pass costs one step
# per symbol of its longest payload whatever its width, so the crossover
# is a lane count.  Measured on 48x48 2-band q95 payloads (~1950 symbols
# each) on a 4-vCPU x86 VM, median speed-up of the pass over the scalar
# decoder: 0.69x at 16 payloads, 1.01x at 24, 1.20x at 32, 1.93x at 64,
# 3.9x at 256.
_LOCKSTEP_MIN = 32
# Most 8x8 blocks and entropy-coded bytes in one pass (bigger groups are
# split evenly): bound the int32 coefficient store at 8 MB and the window
# words (8 bytes per byte) at 16 MB.
_LOCKSTEP_BLOCKS = 1 << 15
_LOCKSTEP_BYTES = 1 << 21
# Log entries (lanes x steps) kept before their coefficient values are
# read back and scattered (512 KB of log).
_LOCKSTEP_FLUSH = 1 << 14
# Most blocks per call of _pixels (512 KB per float64 operand;
# at 48x48 2-band this is also faster than bigger chunks).
_ASSEMBLE_BLOCKS = 1 << 10


def decode_jpeg_batch(payloads) -> list:
    """JPEG payloads -> one (h, w, c) uint8 array each, in input order, each
    byte-identical to decode_jpeg(payload).

    A payload can take the lockstep pass when its header (read by the same
    marker loop as decode_jpeg) has one sequential scan over all
    components, no restart interval, 1..4 components and sampling factors
    1..2.  Such payloads group by header signature: size, sampling, scan
    order, Huffman and quantization tables.  Each group of at least
    _LOCKSTEP_MIN payloads is decoded by _lockstep_pass.  Everything else
    — other frames, smaller groups, payloads that fail inside the pass —
    goes through decode_jpeg, which also raises the payload's own error."""
    groups: dict = {}
    for i, p in enumerate(payloads):
        data = bytes(p)
        hdr = _lockstep_header(data)
        if hdr is not None:
            groups.setdefault(hdr[0], []).append((i, data, hdr[1]))
    got = {}
    for members in groups.values():
        h0 = members[0][2]
        nblocks = len(_block_order(h0.size, h0.samp, h0.order)[0])
        nbytes = sum(hdr.end - hdr.start for _, _, hdr in members)
        n_pass = max(-(-len(members) * nblocks // _LOCKSTEP_BLOCKS),
                     -(-nbytes // _LOCKSTEP_BYTES))
        if len(members) // n_pass < _LOCKSTEP_MIN:
            continue
        cuts = [len(members) * k // n_pass for k in range(n_pass + 1)]
        for a, b in zip(cuts, cuts[1:]):
            got.update(_lockstep_pass(members[a:b]))
    return [got[i] if i in got else decode_jpeg(p)
            for i, p in enumerate(payloads)]


_MARKER = re.compile(b"\xff[^\x00]")


def _segment_end(data: bytes, pos: int) -> int:
    """Position of the marker that ends the entropy-coded segment starting
    at ``pos``: the first 0xFF not followed by a stuffed 0x00, where the
    scalar decoders' bit readers stop too."""
    m = _MARKER.search(data, pos)
    if m is None:
        raise ValueError("entropy-coded segment without a closing marker")
    return m.start()


class _Header(NamedTuple):
    size: tuple  # (h, w)
    samp: tuple  # per frame component (H, V)
    order: tuple  # frame component index of each scan component
    tabs: tuple  # per scan component (DC, AC) _HuffDecoder
    qts: tuple  # per frame component natural-order quantization table
    start: int  # entropy-coded segment [start, end)
    end: int


def _lockstep_header(data: bytes):
    """(group key, _Header) of a payload the lockstep pass can take, else
    None — also for any payload the marker loop rejects, whose error the
    scalar decoder raises."""
    scans = []

    def on_scan(pos, frame, scan, dc_tabs, ac_tabs, ri, ss, se, ah, al):
        tabs = tuple((dc_tabs[td], ac_tabs[ta]) for _, td, ta in scan)
        end = _segment_end(data, pos)
        scans.append((frame, scan, ri, tabs, pos, end))
        return end

    try:
        frame, qtabs = _parse_markers(data, on_scan)
    except (ValueError, IndexError, KeyError, StopIteration, struct.error,
            NotImplementedError):
        return None  # decode_jpeg raises this payload's error
    if len(scans) != 1:
        return None
    sframe, scan, ri, tabs, start, end = scans[0]
    comps = frame["comps"]
    order = tuple(ci for ci, _, _ in scan)
    samp = tuple((c["h"], c["v"]) for c in comps)
    if (
        sframe is not frame or frame["prog"] or ri
        or not 1 <= len(comps) <= 4 or sorted(order) != list(range(len(comps)))
        or frame["h"] < 1 or frame["w"] < 1
        or any(hv not in ((1, 1), (1, 2), (2, 1), (2, 2)) for hv in samp)
        or (len(comps) == 1 and samp[0] != (1, 1))
        or any(c["tq"] not in qtabs for c in comps)
        # DC sizes above 16 would overflow the 16-bit value field
        or any(max(dc.vals, default=0) > 16 for dc, _ in tabs)
    ):
        return None
    qts = tuple(qtabs[c["tq"]] for c in comps)
    size = (frame["h"], frame["w"])
    key = (size, samp, order, tabs, tuple(q.tobytes() for q in qts))
    return key, _Header(size, samp, order, tabs, qts, start, end)


@functools.lru_cache(maxsize=64)
def _block_order(size, samp, order):
    """Block sequence of an interleaved scan (MCU by MCU, each component's
    hi x vi blocks in scan order): per decoded block its scan position, and
    per frame component the decoded-block indices in that component's
    block-raster (storage) order."""
    h, w = size
    hmax = max(hi for hi, _ in samp)
    vmax = max(vi for _, vi in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    bpos, bstore = [], []
    for my in range(mcuy):
        for mx in range(mcux):
            for si, ci in enumerate(order):
                hi, vi = samp[ci]
                for v in range(vi):
                    for u in range(hi):
                        bpos.append(si)
                        bstore.append((my * vi + v) * mcux * hi + mx * hi + u)
    bpos = np.array(bpos, dtype=np.int64)
    bstore = np.array(bstore, dtype=np.int64)
    perms = []
    for ci in range(len(samp)):
        mine = np.nonzero(bpos == order.index(ci))[0]
        perms.append(mine[np.argsort(bstore[mine], kind="stable")])
    return bpos, perms


def _lockstep_lut(dec: _HuffDecoder, is_ac: bool):
    """Arrays over the 16-bit peek of one table for the lockstep pass:
    total bits (code + value), write offset from the current coefficient,
    coefficient advance, code length, right shift that leaves the value
    bits, and the EXTEND (F.2.2.1) constants 2**(s-1) and 2**s - 1 (both
    0 when the symbol has no value bits).  Invalid codes get write offset
    64, which always trips the pass's run-past-block check."""
    t = dec.lockstep.get(is_ac)
    if t is None:
        sym, ln = dec.lut_sym, dec.lut_len
        valid = sym >= 0
        if is_ac:
            s = np.where(valid, sym & 15, 0)
            pre = np.where(s > 0, sym >> 4, 0)
            adv = np.where(s > 0, pre + 1, np.where(sym == 0xF0, 16, 64))
        else:
            s = np.where(valid, sym, 0)
            pre = np.zeros_like(s)
            adv = np.ones_like(s)
        pre = np.where(valid, pre, 64)
        t = dec.lockstep[is_ac] = _lut_arrays(ln + s, pre, adv, ln, s)
    return t


def _lut_arrays(nb, pre, adv, ln, s):
    s = np.asarray(s)
    return (tuple(np.broadcast_to(a, s.shape).astype(np.uint8)
                  for a in (nb, pre, adv, ln, 64 - s))
            + tuple(a.astype(np.uint16) for a in ((1 << s) >> 1, (1 << s) - 1)))


# Peek table of a lane that has decoded its last block: no bits, no
# value, write offset 64 (which stops the lane).
_DONE_LUT = _lut_arrays(0, 64, 0, 0, np.zeros(1 << 16, dtype=np.int64))


def _be_words(a: np.ndarray) -> np.ndarray:
    """Big-endian uint64 of the 8 bytes starting at every offset of ``a``
    (len(a) - 7 words)."""
    n = len(a) - 7
    words = np.empty(n, dtype=np.uint64)
    for r in range(8):
        cnt = len(range(r, n, 8))
        words[r::8] = a[r:r + 8 * cnt].view(">u8")
    return words


def _lockstep_pass(members) -> dict:
    """Decode payloads of one header signature together.  Every lane (one
    payload) holds a bit position P and a coefficient slot S (block*64 +
    zigzag index); each numpy step decodes one Huffman symbol for every
    live lane from a 64-bit window at its P, through the peek tables of
    the table its slot selects.  The same errors the scalar _decode_scan
    raises — invalid code, reading past the segment's marker, AC run past
    the block end — drop the lane instead; it is left to the scalar
    decoder, and nothing it read past its own bytes reaches any output."""
    size, samp, order, tabs, qts = members[0][2][:5]  # shared by the group
    bpos, perms = _block_order(size, samp, order)
    nblocks = len(bpos)
    nslots = nblocks * 64
    nl = len(members)

    # stacked peek tables; per slot the table base (table id << 16)
    luts: list = []
    tid: dict = {}
    dc_ids, ac_ids = [], []
    for dc, ac in tabs:
        for dec, is_ac, ids in ((dc, False, dc_ids), (ac, True, ac_ids)):
            k = (id(dec), is_ac)
            if k not in tid:
                tid[k] = len(luts)
                luts.append(_lockstep_lut(dec, is_ac))
            ids.append(tid[k])
    luts.append(_DONE_LUT)
    NB, PRE, ADV, LN, RSH, HALF, MASK = (np.concatenate(c) for c in zip(*luts))
    # slot -> natural-order position of its coefficient in the lane's store
    NAT = np.arange(nslots) & ~63 | ZIGZAG[np.arange(nslots) & 63]
    tsel = np.repeat(np.array(ac_ids, dtype=np.uint64)[bpos], 64).reshape(nblocks, 64)
    tsel[:, 0] = np.array(dc_ids, dtype=np.uint64)[bpos]
    # slot nslots (past the last block) selects the done table
    TSEL = np.append(tsel.ravel(), np.uint64(len(luts) - 1)) << np.uint64(16)
    NXT = np.minimum((np.arange(nslots + 1) | 63) + 1, nslots)  # next block start

    # de-stuffed segments, each followed by 8 bytes of 1-bits (the scalar
    # reader's fill value), as big-endian words at every byte offset
    segs = [data[hdr.start:hdr.end].replace(b"\xff\x00", b"\xff")
            for _, data, hdr in members]
    lens = np.array([len(s) for s in segs], dtype=np.int64)
    base = np.concatenate(([0], np.cumsum(lens + 8)[:-1]))
    W = _be_words(np.frombuffer(
        b"".join(s + b"\xff" * 8 for s in segs) + b"\xff" * 8, dtype=np.uint8))

    coef = np.zeros(nl * nslots, dtype=np.int32)  # natural order per block
    ok = np.ones(nl, dtype=bool)
    logs: list = []

    def flush():
        # values of the logged symbols, read from the window each step
        # already gathered: code bits off the top, then the value bits
        L, win, S, idx = (np.concatenate(c) for c in zip(*logs))
        logs.clear()
        keep = HALF[idx] > 0  # symbols with value bits
        if not ok.all():
            keep &= ok[L]
        at = np.flatnonzero(keep)
        L, win, S, idx = L[at], win[at], S[at], idx[at]
        v = ((win << LN[idx]) >> RSH[idx]).view(np.int64)
        v = np.where(v < HALF[idx], v - MASK[idx], v)  # EXTEND (F.2.2.1)
        coef[L * nslots + NAT[S + PRE[idx]]] = v

    # Constant operands as arrays: a numpy op with a Python-int operand
    # costs 2-4x one with two arrays at these lane counts.
    c3, c7, c48 = (np.full(nl, c, dtype=np.uint64) for c in (3, 7, 48))
    L = np.arange(nl)
    P = (base * 8).astype(np.uint64)
    END = ((base + lens) * 8).astype(np.uint64)
    S = np.zeros(nl, dtype=np.int64)
    logged = 0
    while L.size:
        win = W[P >> c3] << (P & c7)
        idx = TSEL[S] | (win >> c48)
        logs.append((L, win, S, idx))
        logged += L.size
        nxt = NXT[S]
        slot = S + PRE[idx]
        P = P + NB[idx]
        S0, S = S, np.minimum(S + ADV[idx], nxt)
        stop = (P > END) | (slot >= nxt)
        if stop.any():
            # a lane one step past its last block ran the done table,
            # whose write offset stopped it: finished, not failed
            ok[L[stop & (S0 != nslots)]] = False
            keep = ~stop
            L, P, S, END = L[keep], P[keep], S[keep], END[keep]
            n = L.size
            c3, c7, c48 = c3[:n], c7[:n], c48[:n]
        if logged >= _LOCKSTEP_FLUSH:
            flush()
            logged = 0
    if logs:
        flush()
    if not ok.any():
        return {}

    # DC: prefix sums of the differences, per component in decode order
    coef = coef.reshape(nl, nblocks, 64)
    dc = coef[:, :, 0].astype(np.int64)
    for si in range(len(order)):
        sel = np.nonzero(bpos == si)[0]
        dc[:, sel] = np.cumsum(dc[:, sel], axis=1)
    # pixels in lane chunks of at most _ASSEMBLE_BLOCKS blocks, which
    # bounds the float64 temporaries of the IDCT and colour transform
    out = {}
    step = max(1, _ASSEMBLE_BLOCKS // nblocks)
    for a in range(0, nl, step):
        nats = []
        for perm in perms:  # each component's blocks in raster order
            nat = coef[a:a + step, perm].astype(np.int64)
            nat[:, :, 0] = dc[a:a + step, perm]
            nats.append(nat)
        img = _pixels(size, samp, nats, qts)
        out.update((members[j][0], img[j - a])
                   for j in range(a, min(a + step, nl)) if ok[j])
    return out
