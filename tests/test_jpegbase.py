"""Baseline JPEG codec (sources/jpegbase.py) — dual-implementation checks.

Discipline as for jpeg2000/geotiff/netcdf3: every spec-derived component is
validated against an INDEPENDENT straight-line implementation (direct
double-sum DCT, brute-force prefix-free check, structural bitstream scan),
not just round-tripped through itself.
"""

from unittest import mock

import numpy as np
import pytest

from gdalcubes_cpp_spark import codecs, synth
from gdalcubes_cpp_spark.sources import jpegbase as jb


def _scene(i=12345, w=96, h=64):
    return synth.make_pixels(i, w, h)


def _rgb(h=40, w=56):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * 3) % 256, (yy * 5) % 256, ((xx + yy) * 2) % 256], -1
    ).astype(np.uint8)


def _variants(img, n=jb._LOCKSTEP_MIN):
    """n distinct images of img's shape: encoded with the same options they
    share one header signature (size, sampling, tables)."""
    return [np.roll(img, 3 * k, axis=1) ^ np.uint8(k) for k in range(n)]


def _lockstep_only(payloads) -> dict:
    """{index: array} for the payloads decode_jpeg_batch decodes in its
    lockstep pass: the scalar decode_jpeg it falls back to is stubbed."""
    with mock.patch.object(jb, "decode_jpeg", lambda p: None):
        got = jb.decode_jpeg_batch(payloads)
    return {i: a for i, a in enumerate(got) if a is not None}


def _assert_batch_identical(payloads, lockstep):
    """decode_jpeg_batch gives decode_jpeg's array for every payload, byte
    for byte, and the lockstep pass decoded ``lockstep`` of them."""
    got = jb.decode_jpeg_batch(payloads)
    assert len(got) == len(payloads)
    for g, p in zip(got, payloads):
        want = jb.decode_jpeg(p)
        assert g.dtype == want.dtype and g.shape == want.shape
        np.testing.assert_array_equal(g, want)
    assert len(_lockstep_only(payloads)) == lockstep


# ---------------------------------------------------------------------------
# DCT: matrix form vs the direct T.81 A.3.3 double sum
# ---------------------------------------------------------------------------


def _fdct_direct(b):
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = 0.0
            for x in range(8):
                for y in range(8):
                    s += b[x, y] * np.cos((2 * x + 1) * u * np.pi / 16) * np.cos(
                        (2 * y + 1) * v * np.pi / 16)
            out[u, v] = 0.25 * cu * cv * s
    return out


def test_fdct_matches_direct_double_sum():
    rng = np.random.default_rng(3)
    blocks = rng.uniform(-128, 127, (4, 8, 8))
    fast = jb.fdct_blocks(blocks)
    for i in range(4):
        np.testing.assert_allclose(fast[i], _fdct_direct(blocks[i]), atol=1e-9)
    # inverse is the exact adjoint: round trip to fp precision
    np.testing.assert_allclose(jb.idct_blocks(fast), blocks, atol=1e-9)


@pytest.mark.parametrize("n", [1, 7, 36, 4096])
def test_dct_paths_match_the_per_call_search(n):
    """fdct/idct_blocks pass a contraction path found once at import; it is
    the path optimize=True finds for every block count, so the arithmetic,
    and every decoded byte, is what the per-call search gave."""
    blocks = np.random.default_rng(n).uniform(-128, 127, (n, 8, 8))
    m, mt = jb._DCT_M, jb._DCT_M.T
    assert np.einsum_path("ux,nxy,vy->nuv", m, blocks, m,
                          optimize=True)[0] == jb._FDCT_PATH
    assert np.einsum_path("xu,nuv,yv->nxy", mt, blocks, mt,
                          optimize=True)[0] == jb._IDCT_PATH
    np.testing.assert_array_equal(
        jb.fdct_blocks(blocks),
        np.einsum("ux,nxy,vy->nuv", m, blocks, m, optimize=True))
    np.testing.assert_array_equal(
        jb.idct_blocks(blocks),
        np.einsum("xu,nuv,yv->nxy", mt, blocks, mt, optimize=True))


def test_zigzag_is_a_permutation_with_spec_anchors():
    assert sorted(jb.ZIGZAG.tolist()) == list(range(64))
    # spec anchors: scan starts DC, (0,1), (1,0), (2,0), (1,1), (0,2)...
    assert jb.ZIGZAG[:6].tolist() == [0, 1, 8, 16, 9, 2]
    assert jb.ZIGZAG[63] == 63


# ---------------------------------------------------------------------------
# Huffman tables: canonical assignment invariants
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("bits,vals", [
    (jb.DC_LUMA_BITS, jb.DC_LUMA_VALS),
    (jb.DC_CHROMA_BITS, jb.DC_CHROMA_VALS),
    (jb.AC_LUMA_BITS, jb.AC_LUMA_VALS),
    (jb.AC_CHROMA_BITS, jb.AC_CHROMA_VALS),
])
def test_huffman_canonical_prefix_free(bits, vals):
    assert sum(bits) == len(vals)
    codes = jb.build_codes(bits, vals)
    # lengths histogram == BITS
    hist = [0] * 17
    for _, (code, ln) in codes.items():
        assert 0 <= code < (1 << ln)
        hist[ln] += 1
    assert tuple(hist[1:]) == tuple(bits)
    # brute-force prefix-freedom over the padded code strings
    strs = [format(c, "0%db" % ln) for c, ln in codes.values()]
    for i, a in enumerate(strs):
        for j, b in enumerate(strs):
            if i != j:
                assert not b.startswith(a)
    # decoder tables invert the encoder exactly
    dec = jb._HuffDecoder(bits, vals)
    for sym, (code, ln) in codes.items():
        assert dec.maxcode[ln] >= code >= dec.mincode[ln]
        assert dec.vals[dec.valptr[ln] + code - dec.mincode[ln]] == sym


def test_ac_tables_cover_all_run_size_symbols():
    # every (run 0..15, size 1..10) + EOB + ZRL must be codable (F.1.2.2)
    for vals in (jb.AC_LUMA_VALS, jb.AC_CHROMA_VALS):
        have = set(vals)
        assert 0x00 in have and 0xF0 in have
        for run in range(16):
            for size in range(1, 11):
                assert (run << 4) | size in have


# ---------------------------------------------------------------------------
# Bitstream structure (independent of the decoder)
# ---------------------------------------------------------------------------


def test_stream_structure_soi_eoi_stuffing():
    data = jb.encode_jpeg(_scene(), restart_interval=2)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    # between SOS payload start and EOI every 0xFF is stuffed or RSTn
    sos = data.index(b"\xff\xda")
    ln = int.from_bytes(data[sos + 2:sos + 4], "big")
    body = data[sos + 2 + ln:-2]
    i = 0
    while i < len(body):
        if body[i] == 0xFF:
            assert body[i + 1] == 0x00 or 0xD0 <= body[i + 1] <= 0xD7
            i += 2
        else:
            i += 1


def test_quality_knob_monotone_rate():
    img = _scene()
    sizes = [len(jb.encode_jpeg(img, quality=q)) for q in (30, 60, 90)]
    assert sizes[0] < sizes[1] < sizes[2]
    psnrs = [codecs.psnr(img, jb.decode_jpeg(jb.encode_jpeg(img, quality=q)))
             for q in (30, 90)]
    assert psnrs[0] < psnrs[1]


# ---------------------------------------------------------------------------
# Round trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shape", [(33, 47), (32, 32), (17, 9)])
def test_roundtrip_gray(shape):
    h, w = shape
    img = ((np.arange(h)[:, None] * 7 + np.arange(w) * 3) % 256).astype(np.uint8)
    dec = jb.decode_jpeg(jb.encode_jpeg(img))
    assert dec.shape == (h, w, 1)
    assert codecs.psnr(img[:, :, None], dec) >= 40.0
    _assert_batch_identical([jb.encode_jpeg(v) for v in _variants(img)],
                            jb._LOCKSTEP_MIN)


def test_roundtrip_two_band_scene_psnr40():
    """The input_hint invariant: lossy fmt decodes at PSNR >= 40 dB."""
    img = _scene()
    dec = jb.decode_jpeg(jb.encode_jpeg(img))
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0


@pytest.mark.parametrize("nc", [2, 4])
def test_roundtrip_multiband(nc):
    rng = np.random.default_rng(nc)
    base = _scene(77, 40, 24)
    img = np.concatenate([base] * ((nc + 1) // 2), axis=-1)[:, :, :nc].copy()
    dec = jb.decode_jpeg(jb.encode_jpeg(img))
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0
    _assert_batch_identical([jb.encode_jpeg(v) for v in _variants(img)],
                            jb._LOCKSTEP_MIN)


def test_roundtrip_rgb_444_and_420():
    img = _rgb()
    d444 = jb.decode_jpeg(jb.encode_jpeg(img))
    assert codecs.psnr(img, d444) >= 40.0
    d420 = jb.decode_jpeg(jb.encode_jpeg(img, subsample=True))
    assert d420.shape == img.shape
    assert codecs.psnr(img, d420) >= 30.0
    # 4:2:0 on an odd-size frame exercises the padded-MCU crop path
    odd = img[:33, :41]
    dodd = jb.decode_jpeg(jb.encode_jpeg(odd, subsample=True))
    assert dodd.shape == odd.shape
    assert codecs.psnr(odd, dodd) >= 30.0


def test_roundtrip_rgb_422():
    img = _rgb()
    d = jb.encode_jpeg(img, subsample="422")
    # SOF1 sampling byte of comp 0 must be 0x21 (H=2, V=1)
    i = d.index(b"\xff\xc0")
    assert d[i + 11] == 0x21
    dec = jb.decode_jpeg(d)
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 30.0
    odd = img[:33, :41]
    dodd = jb.decode_jpeg(jb.encode_jpeg(odd, subsample="422"))
    assert dodd.shape == odd.shape
    # progressive x 4:2:2 compose
    np.testing.assert_array_equal(
        jb.decode_jpeg(jb.encode_jpeg(img, subsample="422", progressive=True)),
        dec)


def test_restart_markers_do_not_change_pixels():
    img = _rgb(24, 72)
    plain = jb.decode_jpeg(jb.encode_jpeg(img))
    with_rst = jb.encode_jpeg(img, restart_interval=2)
    assert b"\xff\xd0" in with_rst  # at least one RST0 actually emitted
    np.testing.assert_array_equal(jb.decode_jpeg(with_rst), plain)


def test_gray_constant_is_lossless():
    img = np.full((16, 24), 77, dtype=np.uint8)
    np.testing.assert_array_equal(
        jb.decode_jpeg(jb.encode_jpeg(img))[:, :, 0], img)


# ---------------------------------------------------------------------------
# Refusals and dispatch
# ---------------------------------------------------------------------------


def test_unsupported_frames_refused_not_misdecoded():
    data = bytearray(jb.encode_jpeg(_scene(5, 32, 32)))
    i = data.index(b"\xff\xc0")
    data[i + 1] = 0xC3  # lossless
    with pytest.raises(NotImplementedError, match="lossless"):
        jb.decode_jpeg(bytes(data))
    data[i + 1] = 0xC9  # arithmetic coding
    with pytest.raises(NotImplementedError, match="arithmetic"):
        jb.decode_jpeg(bytes(data))


# ---------------------------------------------------------------------------
# Progressive (T.81 Annex G)
# ---------------------------------------------------------------------------


def test_prog_ac_table_canonical_and_complete():
    bits, vals = jb._prog_ac_spec()
    assert sum(bits) == len(vals) == len(set(vals))
    codes = jb.build_codes(bits, vals)
    assert all(c < (1 << ln) for c, ln in codes.values())  # canonical fits
    kraft = sum(2.0 ** -ln for _, ln in codes.values())
    assert kraft <= 1.0
    have = set(vals)
    for n in range(15):  # EOB0..EOB14 — the symbols Annex-K tables lack
        assert (n << 4) in have
    assert 0xF0 in have
    for run in range(16):
        for size in range(1, 11):
            assert (run << 4) | size in have
    # prefix-free (brute force)
    strs = [format(c, "0%db" % ln) for c, ln in codes.values()]
    for i, a in enumerate(strs):
        for j, b in enumerate(strs):
            if i != j:
                assert not b.startswith(a)


@pytest.mark.parametrize("case", ["scene", "gray", "rgb", "rgb420", "band4",
                                  "noise_q40", "flat"])
def test_progressive_decode_equals_sequential(case):
    """Progressive and sequential streams carry the SAME quantized
    coefficients, so their decodes must be bit-identical — the strongest
    possible gate on the Annex-G scan plumbing (DC first/refine, AC
    spectral bands, successive approximation, EOB runs, ZRL)."""
    rng = np.random.default_rng(11)
    kw = {}
    if case == "scene":
        img = _scene()
    elif case == "gray":
        img = ((np.arange(33)[:, None] * 7 + np.arange(47) * 3) % 256).astype(np.uint8)
    elif case == "rgb":
        img = _rgb()
    elif case == "rgb420":
        img = _rgb()
        kw = {"subsample": True}
    elif case == "band4":
        base = _scene(77, 40, 24)
        img = np.concatenate([base, base], axis=-1)
    elif case == "noise_q40":
        img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8).astype(np.uint8)
        kw = {"quality": 40}
    else:
        img = np.full((16, 16), 128, dtype=np.uint8)
    seq = jb.decode_jpeg(jb.encode_jpeg(img, **kw))
    pb = jb.encode_jpeg(img, progressive=True, **kw)
    assert pb[2:4] != b"\xff\xc0" and b"\xff\xc2" in pb  # SOF2 frame
    assert pb.count(b"\xff\xda") >= 3  # genuinely multi-scan
    np.testing.assert_array_equal(jb.decode_jpeg(pb), seq)


def test_progressive_population_sweep():
    for i in range(20):
        m = synth.meta_arrays(np.array([i]))
        img = synth.make_pixels(int(m["seed"][0]), int(m["w"][0]), int(m["h"][0]))
        seq = jb.decode_jpeg(jb.encode_jpeg(img))
        np.testing.assert_array_equal(
            jb.decode_jpeg(jb.encode_jpeg(img, progressive=True)), seq)


def test_progressive_dispatches_via_codecs():
    img = _scene(3, 64, 32)
    dec = codecs.decode(jb.encode_jpeg(img, progressive=True))
    assert dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0


def test_codecs_dispatch_on_soi():
    img = _scene(9, 64, 32)
    data = codecs.encode_jpeg(img)
    dec = codecs.decode(data)
    assert dec.dtype == np.uint8 and dec.shape == img.shape
    assert codecs.psnr(img, dec) >= 40.0
    # stand-in path still dispatches independently
    np.testing.assert_array_equal(
        codecs.decode(codecs.encode_lossy(img)).shape, img.shape)


def test_decoder_tolerates_appn_com_and_multisegment_tables():
    """External-encoder shapes: extra APP1/COM segments, DQT+DHT packed
    several tables per marker segment, and a non-interleaved scan."""
    img = _rgb(16, 16)
    data = bytearray(jb.encode_jpeg(img))
    # splice APP1 + COM right after SOI
    app1 = b"\xff\xe1" + (len(b"Exif\x00\x00junk") + 2).to_bytes(2, "big") + b"Exif\x00\x00junk"
    com = b"\xff\xfe" + (9).to_bytes(2, "big") + b"comment"
    spliced = bytes(data[:2]) + app1 + com + bytes(data[2:])
    np.testing.assert_array_equal(jb.decode_jpeg(spliced), jb.decode_jpeg(bytes(data)))


def test_non_interleaved_scans_decode():
    """Build a 3-scan (one component each) file by re-encoding scans: the
    decoder must treat each single-component scan over its own block grid."""
    img = _rgb(24, 40)
    full = jb.encode_jpeg(img)
    dec_ref = jb.decode_jpeg(full)

    # craft: reuse headers but emit three single-component scans
    a = np.asarray(img, np.float64)
    ycc = jb._rgb_to_ycbcr(a)
    qt0, qt1 = jb.quality_tables(95)
    out = bytearray(full[:full.index(b"\xff\xda")])  # headers up to first SOS
    enc_dc = [jb.build_codes(jb.DC_LUMA_BITS, jb.DC_LUMA_VALS),
              jb.build_codes(jb.DC_CHROMA_BITS, jb.DC_CHROMA_VALS)]
    enc_ac = [jb.build_codes(jb.AC_LUMA_BITS, jb.AC_LUMA_VALS),
              jb.build_codes(jb.AC_CHROMA_BITS, jb.AC_CHROMA_VALS)]
    for ci in range(3):
        tid = 0 if ci == 0 else 1
        q = (qt0 if tid == 0 else qt1).reshape(8, 8).astype(float)
        plane = jb._pad_to(ycc[:, :, ci], 24, 40) - 128.0
        blocks = plane.reshape(3, 8, 5, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
        qz = np.round(jb.fdct_blocks(blocks) / q).astype(np.int64).reshape(-1, 64)[:, jb.ZIGZAG]
        out += b"\xff\xda" + (8).to_bytes(2, "big") + bytes((1, ci + 1, (tid << 4) | tid, 0, 63, 0))
        bw = jb._BitWriter()
        pred = 0
        for blk in qz.tolist():
            diff = blk[0] - pred
            pred = blk[0]
            s = jb._mag_cat(diff)
            c, ln = enc_dc[tid][s]
            bw.put(c, ln)
            if s:
                bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
            run = 0
            for k in range(1, 64):
                v = blk[k]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = enc_ac[tid][0xF0]
                    bw.put(c, ln)
                    run -= 16
                s = jb._mag_cat(v)
                c, ln = enc_ac[tid][(run << 4) | s]
                bw.put(c, ln)
                bw.put(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if run:
                c, ln = enc_ac[tid][0x00]
                bw.put(c, ln)
        bw.align()
        out += bw.buf
    out += b"\xff\xd9"
    np.testing.assert_array_equal(jb.decode_jpeg(bytes(out)), dec_ref)


# ---------------------------------------------------------------------------
# Optimized (two-pass) Huffman tables — T.81 Annex K.2
# ---------------------------------------------------------------------------


def test_optimal_table_canonical_and_huffman_optimality():
    """The K.2 construction yields a valid canonical table; on a known
    frequency set its weighted length matches the unconstrained Huffman
    optimum (depths < 16, so the limiter must not distort anything)."""
    freq = [0] * 256
    weights = {10: 40, 11: 20, 12: 20, 13: 10, 14: 7, 15: 3}
    for sym, w in weights.items():
        freq[sym] = w
    bits, vals = jb.optimal_table(freq)
    codes = jb.build_codes(bits, vals)
    assert set(vals) == set(weights)
    assert all(c < (1 << ln) for c, ln in codes.values())
    got = sum(weights[s] * codes[s][1] for s in weights)

    # unconstrained Huffman optimum via heapq (sum of internal-node weights)
    import heapq

    def huffman_total(ws):
        heap = list(ws)
        heapq.heapify(heap)
        total = 0
        while len(heap) > 1:
            w1 = heapq.heappop(heap)
            w2 = heapq.heappop(heap)
            total += w1 + w2
            heapq.heappush(heap, w1 + w2)
        return total

    lower = huffman_total(list(weights.values()))
    # K.2 runs Huffman over the alphabet EXTENDED by a weight-1 reserved
    # pseudo-symbol (it eats the all-ones code), so the real symbols' cost
    # is bounded by the extended optimum; depths here are < 16, so the
    # 16-bit limiter must not add anything beyond that.
    upper = huffman_total(list(weights.values()) + [1])
    assert lower <= got <= upper, (lower, got, upper)


def test_optimize_shrinks_and_decodes_identically():
    img = _scene(21, 96, 64)
    std = jb.encode_jpeg(img)
    opt = jb.encode_jpeg(img, optimize=True)
    assert len(opt) < len(std)
    np.testing.assert_array_equal(jb.decode_jpeg(opt), jb.decode_jpeg(std))
    # with restart intervals (counting pass must mirror predictor resets)
    rst = jb.encode_jpeg(img, optimize=True, restart_interval=2)
    np.testing.assert_array_equal(jb.decode_jpeg(rst), jb.decode_jpeg(std))
    # degenerate tiny-alphabet input
    flat = np.full((16, 16), 7, dtype=np.uint8)
    np.testing.assert_array_equal(
        jb.decode_jpeg(jb.encode_jpeg(flat, optimize=True))[:, :, 0], flat)
    with pytest.raises(ValueError):
        jb.encode_jpeg(img, optimize=True, progressive=True)


# ---------------------------------------------------------------------------
# EXIF (APP1)
# ---------------------------------------------------------------------------


def test_exif_roundtrip_and_foreign_endian():
    img = _scene(1, 32, 32)
    data = jb.encode_jpeg(img, exif={
        "orientation": 6, "make": "synthcam", "model": "sc-1000",
        "datetime": "2020:05:20 10:30:00"})
    d = jb.exif_dict(data)
    assert d == {"orientation": 6, "make": "synthcam", "model": "sc-1000",
                 "datetime": "2020:05:20 10:30:00"}
    # EXIF does not disturb decode
    np.testing.assert_array_equal(jb.decode_jpeg(data),
                                  jb.decode_jpeg(jb.encode_jpeg(img)))
    # big-endian (MM) TIFF payload: hand-build one IFD with orientation=8
    tiff = (b"MM\x00*" + (8).to_bytes(4, "big") + (1).to_bytes(2, "big")
            + (0x0112).to_bytes(2, "big") + (3).to_bytes(2, "big")
            + (1).to_bytes(4, "big") + (8).to_bytes(2, "big") + b"\x00\x00"
            + (0).to_bytes(4, "big"))
    app1 = b"\xff\xe1" + (len(tiff) + 8).to_bytes(2, "big") + b"Exif\x00\x00" + tiff
    spliced = data[:2] + app1 + data[2:]
    assert jb.exif_dict(spliced)["orientation"] == 8  # first APP1 wins
    # absent EXIF -> None
    assert jb.exif_dict(jb.encode_jpeg(img)) is None


def test_apply_orientation_all_eight():
    img = np.arange(24, dtype=np.uint8).reshape(4, 6, 1)
    # invariants: 1 = identity; o in 5..8 transpose the shape; applying
    # the transform twice for the involutive ones restores the original
    assert jb.apply_orientation(img, 1) is img
    for o in (2, 3, 4):
        out = jb.apply_orientation(img, o)
        assert out.shape == img.shape
        np.testing.assert_array_equal(jb.apply_orientation(out, o), img)
    for o in (5, 6, 7, 8):
        out = jb.apply_orientation(img, o)
        assert out.shape == (6, 4, 1)
    # exact semantics pins: 6 = 90° clockwise, 8 = 90° counter-clockwise
    np.testing.assert_array_equal(jb.apply_orientation(img, 6),
                                  np.rot90(img, -1))
    np.testing.assert_array_equal(jb.apply_orientation(img, 8),
                                  np.rot90(img, 1))
    np.testing.assert_array_equal(jb.apply_orientation(img, 3),
                                  np.rot90(img, 2))
    np.testing.assert_array_equal(jb.apply_orientation(img, 5),
                                  np.swapaxes(img, 0, 1))
    with pytest.raises(ValueError):
        jb.apply_orientation(img, 9)


def test_exif_metadata_and_normalize_orientation(spark):
    import pandas as pd

    from gdalcubes_cpp_spark.functions.image import (exif_metadata,
                                                     normalize_orientation)

    img = _scene(4, 40, 24)  # landscape
    rows = [
        {"image_id": "a", "w": 40, "h": 24,
         "bytes": codecs.encode_jpeg(img, exif={"orientation": 6,
                                                "make": "synthcam"})},
        {"image_id": "b", "w": 40, "h": 24, "bytes": codecs.encode_jpeg(img)},
        {"image_id": "c", "w": 40, "h": 24, "bytes": codecs.encode_png(img)},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    meta = {r["image_id"]: r for r in exif_metadata(df).collect()}
    assert meta["a"]["orientation"] == 6 and meta["a"]["make"] == "synthcam"
    assert meta["b"]["orientation"] is None
    assert meta["c"]["orientation"] is None
    fixed = {r["image_id"]: r for r in normalize_orientation(df).collect()}
    # rotated payload comes back upright: transposed dims, orientation 1
    assert (fixed["a"]["w"], fixed["a"]["h"]) == (24, 40)
    d = jb.exif_dict(bytes(fixed["a"]["bytes"]))
    assert d["orientation"] == 1
    got = jb.decode_jpeg(bytes(fixed["a"]["bytes"]))
    want = jb.apply_orientation(jb.decode_jpeg(bytes(rows[0]["bytes"])), 6)
    assert codecs.psnr(want, got) >= 40.0
    # untouched rows pass through byte-identical
    assert bytes(fixed["b"]["bytes"]) == bytes(rows[1]["bytes"])
    assert bytes(fixed["c"]["bytes"]) == bytes(rows[2]["bytes"])


def test_malformed_streams_degrade_cleanly():
    """Untrusted-bytes policy: exif_dict returns None (never raises) on
    malformed APP1 payloads; decode_jpeg raises ValueError (never a bare
    IndexError) on truncated or garbage-tailed streams."""
    img = _scene(2, 32, 32)
    good = jb.encode_jpeg(img, exif={"orientation": 3})
    # truncated TIFF header inside APP1
    bad_app1 = b"\xff\xe1" + (10).to_bytes(2, "big") + b"Exif\x00\x00II"
    assert jb.exif_dict(b"\xff\xd8" + bad_app1 + good[2:]) is None
    # self-referencing Exif sub-IFD pointer must not recurse forever
    tiff = (b"II*\x00" + (8).to_bytes(4, "little") + (1).to_bytes(2, "little")
            + (0x8769).to_bytes(2, "little") + (4).to_bytes(2, "little")
            + (1).to_bytes(4, "little") + (8).to_bytes(4, "little")
            + (0).to_bytes(4, "little"))
    loop_app1 = b"\xff\xe1" + (len(tiff) + 8).to_bytes(2, "big") + b"Exif\x00\x00" + tiff
    assert jb.exif_dict(b"\xff\xd8" + loop_app1 + good[2:]) == {}
    # truncated streams: mid-entropy, mid-header, dangling 0xFF
    for cut in (len(good) - 10, 10, len(good) - 1):
        with pytest.raises(ValueError):
            jb.decode_jpeg(good[:cut] if cut != len(good) - 1
                           else good[:-2] + b"\xff")
    # orientation survives through exif_dict on the intact stream
    assert jb.exif_dict(good)["orientation"] == 3


def test_normalize_orientation_preserves_exif_fields(spark):
    import pandas as pd

    from gdalcubes_cpp_spark.functions.image import normalize_orientation

    img = _scene(8, 40, 24)
    data = codecs.encode_jpeg(img, exif={
        "orientation": 6, "make": "synthcam", "model": "sc-2",
        "datetime": "2020:05:20 10:30:00"})
    df = spark.createDataFrame(pd.DataFrame(
        [{"image_id": "a", "w": 40, "h": 24, "bytes": data}]))
    out = normalize_orientation(df).collect()[0]
    d = jb.exif_dict(bytes(out["bytes"]))
    assert d == {"orientation": 1, "make": "synthcam", "model": "sc-2",
                 "datetime": "2020:05:20 10:30:00"}


def test_translate_jpeg_rejects_nan(spark):
    import pandas as pd

    from gdalcubes_cpp_spark.functions.image import translate_collection
    from gdalcubes_cpp_spark.sources.geotiff import gtiff_bytes

    planes = np.full((1, 8, 8), 100.0)
    planes[0, 3, 3] = np.nan
    payload = gtiff_bytes(planes, 0.1, 0.1, 0.0, 10.0, "EPSG:4326", "{}")
    df = spark.createDataFrame(pd.DataFrame([{
        "image_id": "n", "bytes": payload, "fmt": "gtiff",
        "left": 0.0, "right": 0.8, "bottom": 9.2, "top": 10.0,
        "w": 8, "h": 8}]))
    with pytest.raises(Exception, match="uint8-range"):
        translate_collection(df, "jpeg").collect()


# ---------------------------------------------------------------------------
# Lockstep batch decode (decode_jpeg_batch) vs the scalar decoder
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("case", [
    "scene", "rgb444", "rgb420", "rgb422", "rgb420_odd", "rgb422_odd",
    "band4_odd", "noise_q40", "flat", "optimize", "restart", "progressive",
])
def test_batch_matches_single(case):
    """Every payload of a batch decodes byte-identically to decode_jpeg.
    Baseline single-scan groups take the lockstep pass; restart-interval,
    progressive and per-image optimised-table payloads (each its own
    header signature) take the scalar route."""
    rng = np.random.default_rng(5)
    kw = {}
    lockstep = jb._LOCKSTEP_MIN
    if case == "scene":
        img = _scene(31, 48, 48)
    elif case.startswith("rgb"):
        img = _rgb()
        if case.endswith("_odd"):
            img = img[:33, :41]
        sub = case[3:6]
        kw = {"subsample": {"444": False, "420": True, "422": "422"}[sub]}
    elif case == "band4_odd":
        base = _scene(77, 41, 23)
        img = np.concatenate([base, base[:, :, ::-1]], axis=-1)
    elif case == "noise_q40":
        img = rng.integers(0, 256, (24, 40, 3), dtype=np.uint8)
        kw = {"quality": 40}
    elif case == "flat":
        img = np.full((16, 24), 128, dtype=np.uint8)
    else:
        img = _scene(8, 40, 24)
        kw = {"optimize": {"optimize": True}, "restart": {"restart_interval": 2},
              "progressive": {"progressive": True}}[case]
        lockstep = 0
    payloads = [jb.encode_jpeg(v, **kw) for v in _variants(img)]
    _assert_batch_identical(payloads, lockstep)


def test_batch_optimized_tables_shared():
    """Optimised tables are per image; payloads that carry the same ones
    (here: the same image) form a lockstep group like any other."""
    p = jb.encode_jpeg(_scene(21, 40, 24), optimize=True)
    _assert_batch_identical([p] * jb._LOCKSTEP_MIN, jb._LOCKSTEP_MIN)


def test_batch_crossover_both_sides():
    """A group one short of _LOCKSTEP_MIN stays scalar; at the minimum the
    whole group is lockstep.  Different sizes never share a group."""
    n = jb._LOCKSTEP_MIN
    a = [jb.encode_jpeg(v) for v in _variants(_scene(2, 24, 16), n)]
    b = [jb.encode_jpeg(v) for v in _variants(_scene(2, 16, 24), n - 1)]
    _assert_batch_identical(a[:n - 1], 0)
    _assert_batch_identical(a, n)
    _assert_batch_identical(a + b, n)
    _assert_batch_identical(b + a[:n - 1], 0)


def test_batch_split_passes_flushes_and_chunks(monkeypatch):
    """Small pass, log and assembly budgets split one group into several
    passes, flush the symbol log many times and assemble pixels in several
    lane chunks; every payload still decodes byte-identically, with a
    failing lane in the middle."""
    n = 3 * jb._LOCKSTEP_MIN + 5
    pays = [jb.encode_jpeg(v) for v in _variants(_scene(6, 24, 24), n)]
    nblocks = 2 * 9
    monkeypatch.setattr(jb, "_LOCKSTEP_BLOCKS", nblocks * (jb._LOCKSTEP_MIN + 4))
    monkeypatch.setattr(jb, "_LOCKSTEP_FLUSH", 500)
    monkeypatch.setattr(jb, "_ASSEMBLE_BLOCKS", nblocks * 5)
    _assert_batch_identical(pays, n)
    cut = pays[7][:len(pays[7]) - 60] + b"\xff\xd9"
    got = _lockstep_only(pays[:50] + [cut] + pays[50:])
    assert sorted(got) == [i for i in range(n + 1) if i != 50]
    for i, p in enumerate(pays[:50] + [None] + pays[50:]):
        if p is not None:
            np.testing.assert_array_equal(got[i], jb.decode_jpeg(p))


def test_codecs_decode_batch_mixed_in_input_order():
    """codecs.decode_batch over PNG, the lossy stand-in and several JPEG
    kinds (two lockstep groups of different sizes, optimised, restart,
    progressive), shuffled: every result is codecs.decode's, in order."""
    n = jb._LOCKSTEP_MIN
    pays = [jb.encode_jpeg(v) for v in _variants(_scene(3, 32, 24), n)]
    pays += [jb.encode_jpeg(v, quality=80) for v in _variants(_rgb(20, 28), n)]
    pays += [jb.encode_jpeg(_scene(4, 40, 24), optimize=True),
             jb.encode_jpeg(_scene(5, 40, 24), restart_interval=1),
             jb.encode_jpeg(_scene(6, 40, 24), progressive=True),
             codecs.encode_png(_scene(7, 20, 12)),
             codecs.encode_lossy(_scene(8, 12, 20))]
    order = np.random.default_rng(9).permutation(len(pays))
    pays = [pays[i] for i in order]
    got = codecs.decode_batch(pays)
    assert len(got) == len(pays)
    for g, p in zip(got, pays):
        want = codecs.decode(p)
        assert g.dtype == want.dtype and g.shape == want.shape
        np.testing.assert_array_equal(g, want)
    jpeg = [p for p in pays if p[:2] == b"\xff\xd8"]
    assert len(_lockstep_only(jpeg)) == 2 * n


def _malformed(good: bytes) -> dict:
    sos = good.index(b"\xff\xda")
    start = sos + 2 + int.from_bytes(good[sos + 2:sos + 4], "big")
    mid = (start + len(good)) // 2
    return {
        "cut_entropy_early_eoi": good[:start + 5] + b"\xff\xd9",
        "cut_entropy_mid_eoi": good[:mid] + b"\xff\xd9",
        "cut_entropy_late_eoi": good[:len(good) - 8] + b"\xff\xd9",
        "cut_entropy_mid": good[:mid],
        # 32 one-bits (stuffed): no Annex-K code is all ones
        "invalid_code": good[:mid] + b"\xff\x00\xff\x00" + good[mid:],
        "cut_header": good[:sos + 3],
        "cut_soi": good[:1],
        "dangling_ff": good[:-2] + b"\xff",
        "garbage_tail": good[:-2] + bytes(range(1, 200, 3)),
    }


def test_batch_malformed_payloads_raise_valueerror():
    """Truncated, garbage-tailed and Huffman-corrupted payloads inside a
    lockstep group: the batch raises decode_jpeg's ValueError (never an
    IndexError); the pass never returns the bad lane, and the lanes around
    it, which the bad lane might have run into, still decode exactly."""
    n = jb._LOCKSTEP_MIN
    good = [jb.encode_jpeg(v) for v in _variants(_scene(12, 32, 32), n)]
    want = [jb.decode_jpeg(p) for p in good]
    cases = _malformed(good[0])
    # Huffman-corrupted: scramble entropy bytes (no new 0xFF: markers stay)
    rng = np.random.default_rng(17)
    sos = good[0].index(b"\xff\xda")
    start = sos + 14
    for t in range(24):
        b = bytearray(good[0])
        for at in rng.integers(start, len(b) - 2, 1 + t % 4):
            if b[at] != 0xFF and b[at - 1] != 0xFF:
                b[at] = int(rng.integers(0, 255))
        cases["huffman_%d" % t] = bytes(b)
    raised = 0
    for name, bad in cases.items():
        batch = good[:n // 2] + [bad] + good[n // 2:]
        try:
            single = jb.decode_jpeg(bad)
        except ValueError:
            single = None
        got = _lockstep_only(batch)
        for i, p in enumerate(batch):
            if p is not bad:
                np.testing.assert_array_equal(
                    got[i], want[i if i < n // 2 else i - 1], err_msg=name)
        if single is None:
            raised += 1
            assert n // 2 not in got, name
            with pytest.raises(ValueError):
                jb.decode_jpeg_batch(batch)
        else:  # a corruption that still decodes: same pixels both ways
            np.testing.assert_array_equal(
                jb.decode_jpeg_batch(batch)[n // 2], single, err_msg=name)
    assert raised >= len(_malformed(good[0])) + 5


def _crafted(side: int, ac_syms: tuple, entropy: bytes) -> bytes:
    """side x side grayscale baseline JPEG with hand-made tables: DC codes
    '0' -> 0 and '1' -> 1 bit of difference, AC codes '0' and '1' ->
    ``ac_syms``.  Both codes are complete (every bit string decodes), so
    a lane that read into padding or a neighbour's bits would decode
    instead of failing."""
    bits = bytes([2] + [0] * 15)
    return (b"\xff\xd8"
            + b"\xff\xdb\x00\x43\x00" + bytes([1] * 64)
            + b"\xff\xc0\x00\x0b\x08" + side.to_bytes(2, "big") * 2
            + b"\x01\x01\x11\x00"
            + b"\xff\xc4\x00\x28\x00" + bits + b"\x00\x01"
            + b"\x10" + bits + bytes(ac_syms)
            + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
            + entropy + b"\xff\xd9")


def test_batch_lane_overrun_never_reaches_output():
    """With complete codes, only the segment end stops a lane whose bits
    run out, and only the block-end check stops an AC run past the last
    block: both lanes must fail (decode_jpeg's ValueError) and leave every
    neighbour's pixels exact."""
    n = jb._LOCKSTEP_MIN
    rng = np.random.default_rng(23)
    # 16x16 (4 blocks), AC {EOB, run 0 size 1}: one byte is too few bits
    good = [_crafted(16, (0x00, 0x01), bytes(rng.integers(0, 255, 40).tolist()))
            for _ in range(n)]
    short = _crafted(16, (0x00, 0x01), b"\xfe")
    # 8x8 (1 block), AC {EOB, run 15 size 1}: four runs pass coefficient 63
    good += [_crafted(8, (0x00, 0xF1), bytes([0x00, k])) for k in range(n)]
    overrun = _crafted(8, (0x00, 0xF1), b"\x7f\xfe")
    for bad in (short, overrun):
        with pytest.raises(ValueError):
            jb.decode_jpeg(bad)
        for at in (0, n // 2, n, 2 * n):
            batch = good[:at] + [bad] + good[at:]
            got = _lockstep_only(batch)
            assert sorted(got) == [i for i in range(2 * n + 1) if i != at]
            for i, p in enumerate(batch):
                if i != at:
                    np.testing.assert_array_equal(got[i], jb.decode_jpeg(p))
            with pytest.raises(ValueError):
                jb.decode_jpeg_batch(batch)


# ---------------------------------------------------------------------------
# Synth-population gate + Spark plumbing
# ---------------------------------------------------------------------------


def test_synth_jpeg_population_psnr40():
    """All synthetic lossy scenes (the driver's jpeg rows) clear 40 dB at
    the default quality (wider 6000-scene scan recorded worst = 41.0)."""
    for i in range(0, 60):
        m = synth.meta_arrays(np.array([i]))
        if m["fmt"][0] != "jpeg":
            continue
        img = synth.make_pixels(int(m["seed"][0]), int(m["w"][0]), int(m["h"][0]))
        assert codecs.psnr(img, jb.decode_jpeg(jb.encode_jpeg(img))) >= 40.0


def test_cube_from_real_jpeg_payloads(spark):
    """The cube_decode_suite 'jpegbase' member, pixel-exact vs the numpy
    chunk oracle decoding the SAME bytes: real .jpg payloads (plain,
    restart-marker, and lower-quality variants) decode inside the scan and
    warp/aggregate identically to the reference transliteration."""
    import pandas as pd

    from gdalcubes_cpp_spark.benchqueries import cube_jpegbase_decode
    from gdalcubes_cpp_spark.view import CubeView

    from . import oracle_np

    df = cube_jpegbase_decode(spark, "/root/testdata/sf0.001")
    got_rows = df.collect()
    assert len(got_rows) > 0

    rows = []
    for k, (ts, kw) in enumerate((
        ("2020-02-10", {}),
        ("2020-05-20", {"restart_interval": 3}),
        ("2020-08-15", {"quality": 85}),
        ("2020-11-10", {"progressive": True}),
    )):
        img = synth.make_pixels(7000 + k, 48, 48)
        rows.append({
            "image_id": "jpg_%d" % k, "bytes": codecs.encode_jpeg(img, **kw),
            "fmt": "jpeg", "ts": pd.Timestamp(ts),
            "left": -12.05, "right": -8.05, "bottom": 18.05, "top": 22.05,
        })
    v = CubeView.create(
        left=-12.0, right=-8.0, bottom=18.0, top=22.0, nx=20, ny=20,
        t0="2020-01-01", t1="2020-12-31", dt="P3M",
        aggregation="mean", resampling="near", chunk_size=(2, 10, 10),
    )
    want = oracle_np.dense_cube(pd.DataFrame(rows), v, resampling="near",
                                aggregation="mean", nb=2)
    for r in got_rows:
        for bi, band in ((0, "B1"), (1, "B2")):
            w = want[bi, r["it"], r["iy"], r["ix"]]
            g = r[band]
            assert (np.isnan(w) and (g is None or np.isnan(g))) or g == w, (
                r["it"], r["iy"], r["ix"], band, g, w)


def test_cube_scan_batch_decode_equals_per_image(spark):
    """With the default decode_fn, build_cube's scan decodes an Arrow batch
    of same-header JPEGs in one lockstep pass; the cube equals the one a
    custom decode_fn builds image by image, and that custom decode_fn is
    still called exactly once per image."""
    import pandas as pd

    from gdalcubes_cpp_spark.operators.build import build_cube
    from gdalcubes_cpp_spark.view import CubeView

    n = jb._LOCKSTEP_MIN + 8
    payloads = [jb.encode_jpeg(v) for v in _variants(_scene(40, 48, 48), n)]
    assert len(_lockstep_only(payloads)) == n
    rows = [{
        "image_id": "b%03d" % k, "bytes": p, "fmt": "jpeg",
        "ts": pd.Timestamp("2020-01-03") + pd.Timedelta(days=9 * k),
        "left": -12.0 + 0.03 * k, "right": -8.0 + 0.03 * k,
        "bottom": 18.0, "top": 22.0,
    } for k, p in enumerate(payloads)]
    # one partition, so the scan sees all n payloads in one Arrow batch
    images = spark.createDataFrame(pd.DataFrame(rows)).coalesce(1)
    v = CubeView.create(
        left=-12.0, right=-6.5, bottom=18.0, top=22.0, nx=22, ny=16,
        t0="2020-01-01", t1="2020-12-31", dt="P1M",
        aggregation="mean", resampling="near", chunk_size=(2, 8, 11),
    )
    calls = spark.sparkContext.accumulator(0)

    def per_image(data, fmt):
        calls.add(1)
        return codecs.decode(data, fmt)

    def cells(decode_fn=None):
        kw = {} if decode_fn is None else {"decode_fn": decode_fn}
        cube = build_cube(images, v, bands=("B1", "B2"), **kw)
        return sorted(tuple(r) for r in cube.df.collect())

    batched = cells()
    single = cells(per_image)
    assert calls.value == n
    assert batched == single and len(batched) > 0


def test_spark_mapinpandas_decode(spark):
    """Real-JPEG payloads flow through the standard Arrow-batched decode
    plumbing: per-row stats from mapInPandas equal direct numpy."""
    import pandas as pd
    from pyspark.sql import functions as F

    rows = []
    expect = {}
    for i in range(8):
        img = _scene(i * 31 + 1, 32 + 16 * (i % 3), 32)
        data = codecs.encode_jpeg(img)
        rows.append({"image_id": "j%d" % i, "bytes": data})
        expect["j%d" % i] = float(np.asarray(jb.decode_jpeg(data), np.float64).mean())
    df = spark.createDataFrame(pd.DataFrame(rows))

    def batch(it):
        for pdf in it:
            out = []
            for _, r in pdf.iterrows():
                img = codecs.decode(bytes(r["bytes"]))
                out.append({"image_id": r["image_id"],
                            "mean_px": float(np.asarray(img, np.float64).mean())})
            yield pd.DataFrame(out)

    got = {r["image_id"]: r["mean_px"]
           for r in df.mapInPandas(batch, "image_id string, mean_px double").collect()}
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9


def test_normalize_orientation_bad_row_passthrough(spark):
    """One truncated orientation>1 payload must not kill the whole
    mapInPandas batch: the bad row passes through with its original
    bytes/dims while good rows in the same batch are still fixed."""
    import pandas as pd

    from gdalcubes_cpp_spark.functions.image import normalize_orientation

    img = _scene(5, 40, 24)
    good = codecs.encode_jpeg(img, exif={"orientation": 6})
    bad = good[:len(good) - 12]  # truncated mid-entropy, EXIF intact
    df = spark.createDataFrame(pd.DataFrame([
        {"image_id": "good", "w": 40, "h": 24, "bytes": good},
        {"image_id": "bad", "w": 40, "h": 24, "bytes": bad},
    ])).coalesce(1)  # force one batch so a raise would take both rows down
    out = {r["image_id"]: r for r in normalize_orientation(df).collect()}
    assert bytes(out["bad"]["bytes"]) == bad  # untouched passthrough
    assert (out["bad"]["w"], out["bad"]["h"]) == (40, 24)
    assert (out["good"]["w"], out["good"]["h"]) == (24, 40)
    assert jb.exif_dict(bytes(out["good"]["bytes"]))["orientation"] == 1
