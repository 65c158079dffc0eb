"""Baseline JPEG codec (functions/jpeg.py): exact block-constant round
trips (the m_jpeg_real oracle contract), bounded lossy error in the
general case, decoding of HAND-ASSEMBLED spec-derived byte streams
(independent of the encoder), restart markers, and rejection of
unsupported stream classes."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from streams_spark.functions import jpeg as J
from streams_spark.functions.codecs import CHECKSUM_MOD, media_probe


def _block_constant(h: int, w: int, block: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    nby, nbx = (h + block - 1) // block, (w + block - 1) // block
    bv = (2 * rng.integers(0, 128, size=(nby, nbx))).astype(np.uint8)
    return np.repeat(np.repeat(bv, block, axis=0), block, axis=1)[:h, :w]


@pytest.mark.parametrize("shape", [(8, 8), (24, 16), (19, 29), (40, 33)])
def test_grey_block_constant_roundtrip_exact(shape):
    h, w = shape
    img = _block_constant(h, w, 8, seed=h * 100 + w)
    out = J.jpeg_decode(J.jpeg_encode(img, quality=50))
    assert out.shape == (h, w)
    assert np.array_equal(out, img)


@pytest.mark.parametrize("sub,block", [("4:4:4", 8), ("4:2:0", 16)])
@pytest.mark.parametrize("shape", [(16, 16), (32, 48), (23, 37)])
def test_rgb_block_constant_roundtrip_exact(sub, block, shape):
    h, w = shape
    grey = _block_constant(h, w, block, seed=h + w)
    img = np.stack([grey] * 3, axis=2)
    out = J.jpeg_decode(J.jpeg_encode(img, quality=50, subsampling=sub))
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, img)


def test_lossy_roundtrip_bounded_error_on_smooth_images():
    y, x = np.mgrid[0:32, 0:32]
    grey = (x * 4 + y * 3 + 20).clip(0, 255).astype(np.uint8)
    out = J.jpeg_decode(J.jpeg_encode(grey, quality=90))
    assert int(np.abs(out.astype(int) - grey.astype(int)).max()) <= 8
    rgb = np.stack(
        [(x * 4 + 20), (y * 4 + 20), ((x + y) * 2 + 50)], axis=2
    ).astype(np.uint8)
    for sub in ("4:4:4", "4:2:0"):
        out = J.jpeg_decode(J.jpeg_encode(rgb, quality=90, subsampling=sub))
        assert int(np.abs(out.astype(int) - rgb.astype(int)).max()) <= 10


def test_noise_decodes_and_quality_orders_error():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(24, 24)).astype(np.uint8)
    errs = []
    for q in (10, 50, 95):
        out = J.jpeg_decode(J.jpeg_encode(img, quality=q))
        errs.append(float(np.abs(out.astype(int) - img.astype(int)).mean()))
    assert errs[0] > errs[1] > errs[2]


def _std_headers(h: int, w: int) -> bytearray:
    """SOI + DQT(q50 luma) + SOF0(1 comp) + std luma DHTs + SOS."""
    qt = J._quality_scale(J.QUANT_LUMA, 50)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0)
    out += bytes(int(v) for v in qt.flatten()[J.ZIGZAG])
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1)
    out += bytes([1, 0x11, 0])
    for tc_th, (bits, values) in [(0x00, J._DC_LUMA), (0x10, J._AC_LUMA)]:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(values), tc_th)
        out += bytes(bits) + bytes(values)
    return out


def test_decodes_hand_assembled_spec_bytes():
    # Built bit-by-bit from T.81, never touching the encoder: one 8x8
    # block of constant 130. DC diff = round(8*(130-128)/16) = 1 ->
    # category 1 = code 010 + value bit 1, then EOB = 1010: 0x5A.
    out = _std_headers(8, 8)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00])
    out += b"\x00\x3f\x00" + bytes([0x5A]) + b"\xff\xd9"
    dec = J.jpeg_decode(bytes(out))
    assert np.array_equal(dec, np.full((8, 8), 130, np.uint8))


def test_decodes_restart_markers_with_dc_reset():
    # Two MCUs, DRI=1: the same 0x5A byte decodes to 130 in BOTH blocks
    # only if the DC predictor resets at RST0.
    out = _std_headers(8, 16)
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)
    sof_at = bytes(out).find(b"\xff\xc0")
    out = bytearray(bytes(out)[:sof_at] + dri + bytes(out)[sof_at:])
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00])
    out += b"\x00\x3f\x00"
    out += bytes([0x5A]) + b"\xff\xd0" + bytes([0x5A]) + b"\xff\xd9"
    dec = J.jpeg_decode(bytes(out))
    assert dec.shape == (8, 16)
    assert np.all(dec == 130)


def test_rejects_progressive_and_foreign_bytes():
    img = _block_constant(8, 8, 8, seed=1)
    good = J.jpeg_encode(img)
    assert good[:2] == b"\xff\xd8"
    with pytest.raises(ValueError):
        J.jpeg_decode(b"\x89PNG\r\n\x1a\nnope")
    progressive = bytearray(good)
    sof = progressive.find(b"\xff\xc0")
    progressive[sof + 1] = 0xC2  # SOF0 -> SOF2
    with pytest.raises(ValueError):
        J.jpeg_decode(bytes(progressive))


def test_encoder_validates_inputs():
    with pytest.raises(ValueError):
        J.jpeg_encode(np.zeros((4, 4), dtype=np.int32))
    with pytest.raises(ValueError):
        J.jpeg_encode(np.zeros((4, 4, 2), dtype=np.uint8))
    with pytest.raises(ValueError):
        J.jpeg_encode(np.zeros((4, 4), dtype=np.uint8), quality=0)
    with pytest.raises(ValueError):
        J.jpeg_encode(
            np.zeros((4, 4, 3), dtype=np.uint8), subsampling="4:2:2"
        )
    with pytest.raises(ValueError):
        J.jpeg_encode(np.zeros((0, 4), dtype=np.uint8))


def test_media_probe_routes_jpeg_checksum_over_decoded_pixels():
    img = _block_constant(19, 26, 8, seed=9)
    w, h, ch, csum = media_probe(J.jpeg_encode(img, quality=50))
    assert (w, h, ch) == (26, 19, 1)
    assert csum == int(img.astype(np.int64).sum()) % CHECKSUM_MOD
    rgb = np.stack([img] * 3, axis=2)
    w, h, ch, csum = media_probe(
        J.jpeg_encode(rgb, quality=50, subsampling="4:2:0")
    )
    assert (w, h, ch) == (26, 19, 3)
    assert csum == 3 * int(img.astype(np.int64).sum()) % CHECKSUM_MOD


# --- property-based coverage (no Spark jobs: pure codec laws) ---

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    block=st.sampled_from([8, 16]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    color=st.booleans(),
)
def test_property_block_constant_roundtrip_exact(h, w, block, seed, color):
    """The oracle contract, for EVERY geometry: block-constant
    even-valued images round-trip bit-exactly at quality 50 (grey and
    grey-valued RGB, both subsampling modes)."""
    img = _block_constant(h, w, block, seed)
    if color:
        rgb = np.stack([img] * 3, axis=2)
        sub = "4:2:0" if block == 16 else "4:4:4"
        out = J.jpeg_decode(J.jpeg_encode(rgb, quality=50, subsampling=sub))
        assert np.array_equal(out, rgb)
    else:
        out = J.jpeg_decode(J.jpeg_encode(img, quality=50))
        assert np.array_equal(out, img)


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=32),
    w=st.integers(min_value=1, max_value=32),
    q=st.integers(min_value=5, max_value=95),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_property_arbitrary_image_decodes_in_range(h, w, q, seed):
    """Any uint8 image at any quality must decode without error to the
    stated geometry with in-range pixels — the no-crash/no-garbage law
    a quarantine pipeline relies on."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out = J.jpeg_decode(J.jpeg_encode(img, quality=q))
    assert out.shape == (h, w)
    assert out.dtype == np.uint8


# ---------------------------------------------------------------------------
# Progressive (SOF2): functions/jpeg_progressive.py
# ---------------------------------------------------------------------------

from streams_spark.functions.jpeg_progressive import (  # noqa: E402
    jpeg_encode_progressive,
)


@pytest.mark.parametrize(
    "shape,sub",
    [
        ((8, 8), None),
        ((24, 17), None),
        ((16, 16, 3), "4:4:4"),
        ((33, 29, 3), "4:2:0"),
        ((7, 5), None),
        ((64, 48, 3), "4:2:0"),
    ],
)
def test_progressive_equals_baseline_bitexact(shape, sub):
    """Progressive packaging carries the same quantized coefficients as
    baseline (shared _fdct_quant), so decoding the SOF2 stream must be
    BIT-identical to decoding the baseline stream — across greyscale,
    4:4:4, 4:2:0, and non-MCU-multiple dims. This exercises every scan
    kind in the default script: interleaved DC first + refinement,
    banded AC firsts, and AC refinement with correction bits."""
    rng = np.random.default_rng(sum(shape) * 7 + 1)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    kw = {} if sub is None else {"subsampling": sub}
    base = J.jpeg_decode(J.jpeg_encode(img, **kw))
    prog = J.jpeg_decode(jpeg_encode_progressive(img, **kw))
    assert np.array_equal(base, prog)


@pytest.mark.parametrize("quality", [10, 50, 95])
def test_progressive_equals_baseline_across_qualities(quality):
    rng = np.random.default_rng(quality)
    img = rng.integers(0, 256, size=(40, 31, 3), dtype=np.uint8)
    base = J.jpeg_decode(J.jpeg_encode(img, quality=quality))
    prog = J.jpeg_decode(jpeg_encode_progressive(img, quality=quality))
    assert np.array_equal(base, prog)


def test_progressive_block_constant_roundtrip_exact():
    """The m_jpeg_progressive oracle contract: block-constant even-valued
    images round-trip exactly through the multi-scan wire format."""
    img = _block_constant(24, 17, 8, seed=5)
    assert np.array_equal(J.jpeg_decode(jpeg_encode_progressive(img)), img)
    rgb = np.repeat(_block_constant(19, 22, 16, seed=6)[:, :, None], 3, axis=2)
    out = J.jpeg_decode(jpeg_encode_progressive(rgb, subsampling="4:2:0"))
    assert np.array_equal(out, rgb)


def _prog_headers(h: int, w: int) -> bytearray:
    """SOI + DQT(q50 luma) + SOF2(1 comp) + std luma DHTs."""
    qt = J._quality_scale(J.QUANT_LUMA, 50)
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0)
    out += bytes(int(v) for v in qt.flatten()[J.ZIGZAG])
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1)
    out += bytes([1, 0x11, 0])
    for tc_th, (bits, values) in [(0x00, J._DC_LUMA), (0x10, J._AC_LUMA)]:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(values), tc_th)
        out += bytes(bits) + bytes(values)
    return out


def _sos(ns_comps: list[tuple[int, int]], ss: int, se: int, ahal: int) -> bytes:
    ns = len(ns_comps)
    out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
    for cid, tabs in ns_comps:
        out += struct.pack("BB", cid, tabs)
    return out + struct.pack("BBB", ss, se, ahal)


def test_decodes_hand_assembled_progressive_spec_bytes():
    # Built bit-by-bit from T.81, never touching the encoder: one 8x8
    # block of constant 130 split over a DC scan and an (all-zero) AC
    # scan. DC diff 1 -> Annex K cat-1 code 010 + bit 1, pad: 0x5F;
    # AC scan: EOB code 1010, pad: 0xAF.
    out = _prog_headers(8, 8)
    out += _sos([(1, 0x00)], 0, 0, 0x00) + bytes([0x5F])
    out += _sos([(1, 0x00)], 1, 63, 0x00) + bytes([0xAF])
    out += b"\xff\xd9"
    dec = J.jpeg_decode(bytes(out))
    assert np.array_equal(dec, np.full((8, 8), 130, np.uint8))


def test_progressive_eob_run_spans_blocks():
    # Three blocks (8x24); the AC scan covers ALL of them with a single
    # EOB1 symbol (eobrun = 2 + one extra bit = 3) from a custom DHT in
    # which EOB1 (symbol 0x10) is the one-bit code '0' — the EOBn>0 path
    # Annex K tables cannot express.
    out = _prog_headers(8, 24)
    # DC scan: three cat-1 diffs: 0101 (block1: diff 1), then diff 0 =
    # cat 0 code 00 twice: 0101 00 00 -> 01010000 = 0x50
    out += _sos([(1, 0x00)], 0, 0, 0x00) + bytes([0x50])
    # custom AC table: one symbol 0x10 (EOB1) at length 1
    out += b"\xff\xc4" + struct.pack(">HB", 20, 0x11)
    out += bytes([1] + [0] * 15) + bytes([0x10])
    # AC scan with the custom table: code '0' + 1 extra bit '1' -> run 3
    out += _sos([(1, 0x01)], 1, 63, 0x00) + bytes([0x5F])
    out += b"\xff\xd9"
    dec = J.jpeg_decode(bytes(out))
    assert dec.shape == (8, 24)
    assert np.all(dec == 130)


def test_progressive_restart_markers_reset_state():
    # DRI=1 over two blocks: DC predictors and EOB runs must reset at
    # every RSTn in BOTH scan kinds.
    out = _prog_headers(8, 16)
    sof_at = bytes(out).find(b"\xff\xc2")
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)
    out = bytearray(bytes(out)[:sof_at] + dri + bytes(out)[sof_at:])
    # DC scan: 0101 pad -> 0x5F, RST0, 0101 pad -> 0x5F (same byte only
    # decodes to the same value if the predictor reset)
    out += _sos([(1, 0x00)], 0, 0, 0x00)
    out += bytes([0x5F]) + b"\xff\xd0" + bytes([0x5F])
    # AC scan: EOB 1010 pad -> 0xAF, RST1, 0xAF
    out += _sos([(1, 0x00)], 1, 63, 0x00)
    out += bytes([0xAF]) + b"\xff\xd1" + bytes([0xAF])
    out += b"\xff\xd9"
    dec = J.jpeg_decode(bytes(out))
    assert np.array_equal(dec, np.full((8, 16), 130, np.uint8))


def test_progressive_dc_refinement_hand_assembled():
    # Successive approximation on DC: first scan at Al=1 sends diff 1
    # (-> coefficient 2 after the shift = quantized DC 2 -> 132), the
    # refinement scan's 0-bit keeps it (132), a 1-bit variant makes 134.
    for bit, want in ((0, 132), (1, 134)):
        out = _prog_headers(8, 8)
        out += _sos([(1, 0x00)], 0, 0, 0x01) + bytes([0x5F])  # Ah=0 Al=1
        refine = 0x80 if bit else 0x00  # one raw bit (MSB-first) + pad
        out += _sos([(1, 0x00)], 0, 0, 0x10) + bytes([refine])  # Ah=1 Al=0
        out += _sos([(1, 0x00)], 1, 63, 0x00) + bytes([0xAF])
        out += b"\xff\xd9"
        dec = J.jpeg_decode(bytes(out))
        assert np.all(dec == want), (bit, want, dec[0, 0])


def test_progressive_rejects_bad_scan_scripts():
    # a baseline stream relabeled SOF2 carries Ss=0,Se=63 — an illegal
    # progressive DC scan
    img = _block_constant(8, 8, 8, seed=1)
    relabeled = bytearray(J.jpeg_encode(img))
    relabeled[relabeled.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError):
        J.jpeg_decode(bytes(relabeled))
    # interleaved AC scan (ns=3 with Ss>0) is equally illegal
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    prog = bytearray(jpeg_encode_progressive(rgb, subsampling="4:4:4"))
    # find the first AC SOS (ns=1 at Ss=1) and corrupt ns byte path is
    # complex; instead assert the encoder itself refuses nothing here
    # and the decoder validates via a minimal hand-built stream
    out = _prog_headers(8, 8)
    out += b"\xff\xda" + struct.pack(">HB", 10, 2)
    out += bytes([1, 0x00, 1, 0x00]) + struct.pack("BBB", 1, 63, 0)
    out += bytes([0xAF]) + b"\xff\xd9"
    with pytest.raises(ValueError):
        J.jpeg_decode(bytes(out))


def test_media_probe_routes_progressive_jpeg():
    img = _block_constant(16, 16, 8, seed=9)
    payload = jpeg_encode_progressive(img)
    w, h, ch, checksum = media_probe(payload)
    assert (w, h, ch) == (16, 16, 1)
    assert checksum == int(img.astype(np.int64).sum()) % CHECKSUM_MOD


def test_corrupt_dht_raises_clean_valueerror():
    # ADVICE r7: a Kraft-violating DHT (bits=[3,0,...] assigns 3 codes
    # of length 1 — only 2 exist) must be ValueError('invalid DHT'),
    # not an IndexError from the 8-bit LUT fill.
    bits = [3] + [0] * 15
    with pytest.raises(ValueError, match="invalid DHT"):
        J._decode_table(bits, [0, 1, 2])
    # and end-to-end: patch a valid stream's DHT counts to be over-full
    img = _block_constant(8, 8, 8, seed=3)
    blob = bytearray(J.jpeg_encode(img))
    dht = blob.find(b"\xff\xc4")
    assert dht > 0
    blob[dht + 5] = 200  # length-1 code count: impossible
    with pytest.raises(ValueError):
        J.jpeg_decode(bytes(blob))


def test_oversized_bit_read_raises_clean_valueerror():
    # ADVICE r7: a corrupt size symbol > 32 must be a clear decode
    # error, not truncated garbage or a bare negative-shift ValueError.
    reader = J._BitReader(b"\x00" * 64, 0)
    with pytest.raises(ValueError, match="corrupt scan"):
        reader.bits(33)
    assert reader.bits(16) == 0  # normal reads still fine afterwards


# ---------------------------------------------------------------------------
# Container layer: multi-scan sequential frames, fill bytes
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "shape,sub", [((16, 16, 3), "4:4:4"), ((24, 40, 3), "4:2:0")]
)
def test_sequential_frame_split_into_one_scan_per_component(shape, sub):
    """T.81 lets a sequential frame spread its components over several
    scans. Three hand-built non-interleaved scans, each walking its
    component's own block raster (A.2.2), carry the baseline encoder's
    coefficients, so the stream must decode exactly like the encoder's
    one interleaved scan."""
    img = np.random.default_rng(sum(shape)).integers(0, 256, shape, np.uint8)
    interleaved = J.jpeg_encode(img, quality=50, subsampling=sub)
    frame = J._encode_front(img, 50, sub)
    h, w = shape[:2]
    luma = (J._canonical_codes(*J._DC_LUMA), J._canonical_codes(*J._AC_LUMA))
    chroma = (
        J._canonical_codes(*J._DC_CHROMA), J._canonical_codes(*J._AC_CHROMA)
    )
    out = bytearray(interleaved[: interleaved.find(b"\xff\xda")])
    for comp in frame.comps:
        ch, cw = (h, w)
        if comp.cid > 1 and sub == "4:2:0":
            ch, cw = (h + 1) // 2, (w + 1) // 2
        codes = chroma if comp.cid > 1 else luma
        tables = 0x11 if comp.cid > 1 else 0x00
        out += _sos([(comp.cid, tables)], 0, 63, 0x00)
        writer, pred = J._BitWriter(), 0
        for by in range((ch + 7) // 8):
            for bx in range((cw + 7) // 8):
                pred = J._encode_block(writer, comp.coef[by, bx], pred, *codes)
        out += writer.flush()
    out += b"\xff\xd9"
    split = J.jpeg_decode(bytes(out))
    assert split.shape == shape
    assert np.array_equal(split, J.jpeg_decode(interleaved))


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes — in
    the headers, between scans and before EOI, in every frame type."""
    from streams_spark.functions.jpeg_arith import jpeg_encode_arith

    img = np.random.default_rng(8).integers(0, 256, (19, 27, 3), np.uint8)
    for encode in (J.jpeg_encode, jpeg_encode_progressive, jpeg_encode_arith):
        data = encode(img, quality=75)
        dqt = data.find(b"\xff\xdb")
        filled = (data[:dqt] + b"\xff\xff" + data[dqt:-2]).replace(
            b"\xff\xda", b"\xff\xff\xda"
        ) + b"\xff\xff\xff" + data[-2:]
        assert len(filled) > len(data) + 5
        assert np.array_equal(J.jpeg_decode(filled), J.jpeg_decode(data))
