"""The benchmark's own reference answer for the cube workloads.

The output checks compare the engine with a cube computed here, from the
definitions, without the package's decoders, warp or oracle:

* pixels: a PNG payload of the synth table must decode to
  ``synth.make_pixels`` of its image (PNG is lossless); a lossy-stub
  payload to those pixels quantized to a step of 4 (the stub's
  definition); a baseline-JPEG payload to what ``decode_jpeg`` below makes
  of it, a small decoder for the sequential Huffman frames the encoder
  writes (T.81 Annex F), written for this benchmark;
* warp: nearest neighbour, a cell takes the pixel its centre falls in;
* aggregation: the mean over the images of a monthly slice.

The inverse DCT evaluates T.81 A.3.3 as the same 8x8 matrix product, in
the same order, as the package's decoder, so that both round the same
samples the same way; everything else (markers, Huffman decoding,
dequantization, block layout) is independent of the package.
"""

from __future__ import annotations

import struct

import numpy as np

# view of bench.PIPE_VIEW_KW: 1000x800 cells over [-50, 50] x [-40, 40],
# monthly slices of 2020
LEFT, RIGHT, BOTTOM, TOP = -50.0, 50.0, -40.0, 40.0
NX, NY, NT = 1000, 800, 12
DX = (RIGHT - LEFT) / NX
DY = (TOP - BOTTOM) / NY
XS = LEFT + (np.arange(NX) + 0.5) * DX        # cell centres
YS = TOP - (np.arange(NY) + 0.5) * DY
LOSSY_STEP = 4


# ------------------------------------------------------------------ pixels

def synth_pixels(seed: int, w: int, h: int, fmt: str) -> np.ndarray:
    """What a synth-table payload must decode to, from its source pixels."""
    from gdalcubes_cpp_spark import synth

    px = synth.make_pixels(seed, w, h)
    if fmt == "png":
        return px
    q = (px.astype(np.int32) + LOSSY_STEP // 2) // LOSSY_STEP * LOSSY_STEP
    return q.clip(0, 255).astype(np.uint8)


ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

_C = np.empty((8, 8))            # C[u, x] = a(u)/2 cos((2x+1) u pi / 16)
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = 0.5 * ((1.0 / np.sqrt(2.0)) if _u == 0 else 1.0) * \
            np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _x


class _Huffman:
    """DECODE of T.81 F.2.2.3 over mincode/maxcode/valptr tables."""

    def __init__(self, counts, values):
        self.values = values
        self.maxcode = [-1] * 18
        self.mincode = [0] * 17
        self.valptr = [0] * 17
        code = k = 0
        for length in range(1, 17):
            n = counts[length - 1]
            if n:
                self.valptr[length] = k
                self.mincode[length] = code
                code += n
                k += n
                self.maxcode[length] = code - 1
            code <<= 1
        self.maxcode[17] = 1 << 20      # ends a corrupt code

    def decode(self, bits) -> int:
        code = bits.take(1)
        length = 1
        while code > self.maxcode[length]:
            code = (code << 1) | bits.take(1)
            length += 1
        if length > 16:
            raise ValueError("invalid Huffman code")
        return self.values[self.valptr[length] + code - self.mincode[length]]


class _Bits:
    """MSB-first bits of one entropy-coded segment, stuffing removed."""

    def __init__(self, seg: bytes):
        raw = seg.replace(b"\xff\x00", b"\xff")
        self.s = format(int.from_bytes(raw, "big"), f"0{8 * len(raw)}b")
        self.pos = 0

    def take(self, k: int) -> int:
        if self.pos + k > len(self.s):
            raise ValueError("entropy data ends early")
        self.pos += k
        return int(self.s[self.pos - k:self.pos], 2)

    def signed(self, s: int) -> int:
        """RECEIVE and EXTEND (F.2.2.1)."""
        if s == 0:
            return 0
        v = self.take(s)
        return v if v >= 1 << (s - 1) else v - (1 << s) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline sequential JPEG with 1x1 sampling, 1-4 components, no
    colour transform for 2 components -> (h, w, c) uint8."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("no SOI")
    pos, quant, dc, ac, frame = 2, {}, {}, {}, None
    while True:
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            raise ValueError("EOI before scan")
        (length,) = struct.unpack(">H", data[pos + 2:pos + 4])
        seg = data[pos + 4:pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:
            o = 0
            while o < len(seg):
                if seg[o] >> 4:
                    raise ValueError("16-bit quantization table")
                table = np.zeros(64, dtype=np.int64)
                table[ZIGZAG] = np.frombuffer(seg[o + 1:o + 65], dtype=np.uint8)
                quant[seg[o] & 15] = table
                o += 65
        elif marker == 0xC4:
            o = 0
            while o < len(seg):
                counts = list(seg[o + 1:o + 17])
                values = list(seg[o + 17:o + 17 + sum(counts)])
                (ac if seg[o] >> 4 else dc)[seg[o] & 15] = _Huffman(counts, values)
                o += 17 + sum(counts)
        elif marker == 0xC0:
            _prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            frame = (h, w, [tuple(seg[6 + 3 * i:9 + 3 * i]) for i in range(nc)])
            if any(c[1] != 0x11 for c in frame[2]):
                raise ValueError("only 1x1 sampling")
        elif marker == 0xDD:
            if struct.unpack(">H", seg[:2])[0]:
                raise ValueError("restart intervals not supported")
        elif marker == 0xDA:
            break
        elif not (0xE0 <= marker <= 0xEF or marker == 0xFE):
            raise ValueError(f"unsupported marker {marker:#x}")
    h, w, comps = frame
    ns = seg[0]
    tables = {seg[1 + 2 * i]: (dc[seg[2 + 2 * i] >> 4], ac[seg[2 + 2 * i] & 15])
              for i in range(ns)}
    if ns != len(comps):
        raise ValueError("only interleaved scans")
    end = pos
    while not (data[end] == 0xFF and data[end + 1] != 0x00):
        end += 1
    bits = _Bits(data[pos:end])
    bx, by = -(-w // 8), -(-h // 8)
    coefs = np.zeros((len(comps), by * bx, 64), dtype=np.int64)
    pred = [0] * len(comps)
    for b in range(by * bx):
        for ci, (cid, _hv, _tq) in enumerate(comps):
            hdc, hac = tables[cid]
            pred[ci] += bits.signed(hdc.decode(bits))
            blk = coefs[ci, b]
            blk[0] = pred[ci]
            k = 1
            while k < 64:
                rs = hac.decode(bits)
                if rs == 0:
                    break
                if rs == 0xF0:
                    k += 16
                    continue
                k += rs >> 4
                blk[ZIGZAG[k]] = bits.signed(rs & 15)
                k += 1
    planes = []
    for ci, (_cid, _hv, tq) in enumerate(comps):
        blocks = (coefs[ci] * quant[tq]).reshape(-1, 8, 8).astype(np.float64)
        spatial = np.einsum("xu,nuv,yv->nxy", _C.T, blocks, _C.T, optimize=True) + 128.0
        plane = spatial.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        planes.append(plane[:h, :w])
    return np.clip(np.round(np.stack(planes, axis=-1)), 0, 255).astype(np.uint8)


# ------------------------------------------------------------------- cube

def month_index(ts) -> int:
    return (ts.year - 2020) * 12 + ts.month - 1


def contributions(rows) -> tuple:
    """Nearest-neighbour warp of each image onto the view: the linear cell
    index and both band values of every cell an image covers. ``rows``
    yields (pixels, left, right, bottom, top, ts)."""
    keys, b1, b2 = [], [], []
    for px, left, right, bottom, top, ts in rows:
        it = month_index(ts)
        if not 0 <= it < NT:
            continue
        h, w = px.shape[:2]
        fx = (XS - left) / ((right - left) / w)       # fractional column
        fy = (top - YS) / ((top - bottom) / h)        # fractional row
        ix = np.nonzero((fx >= 0) & (fx < w))[0]
        iy = np.nonzero((fy >= 0) & (fy < h))[0]
        if not (len(ix) and len(iy)):
            continue
        col = np.floor(fx[ix]).astype(np.int64)
        row = np.floor(fy[iy]).astype(np.int64)
        keys.append(((it * NY + iy[:, None]) * NX + ix[None, :]).ravel())
        b1.append(px[row[:, None], col[None, :], 0].ravel().astype(np.float64))
        b2.append(px[row[:, None], col[None, :], 1].ravel().astype(np.float64))
    if not keys:
        return (np.zeros(0, np.int64),) + (np.zeros(0),) * 2
    return np.concatenate(keys), np.concatenate(b1), np.concatenate(b2)


def mean_cube(parts) -> dict:
    """Sparse mean cube from ``contributions`` of disjoint image sets: the
    covered cells (it, iy, ix) in that order with their B1 and B2 means."""
    keys = np.concatenate([p[0] for p in parts])
    uk, inv = np.unique(keys, return_inverse=True)
    cnt = np.bincount(inv, minlength=len(uk))
    out = {"it": uk // (NY * NX), "iy": uk // NX % NY, "ix": uk % NX}
    for j, band in ((1, "B1"), (2, "B2")):
        vals = np.concatenate([p[j] for p in parts])
        out[band] = np.bincount(inv, weights=vals, minlength=len(uk)) / cnt
    return out
