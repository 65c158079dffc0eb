"""Arithmetic-coded JPEG (functions/jpeg_arith.py): QM-coder
round-trips and coding efficiency (the state-table guard), bit-exact
block-constant round trips (the m_jpeg_arith oracle contract), the
Huffman-equivalence invariant (decode_arith(encode_arith(x)) must equal
decode(encode(x)) BIT-FOR-BIT for any image, since the two pipelines
share coefficients and entropy coding is lossless), carry/stuffing
paths, restart intervals, conditioning variants, and corrupt-stream
behavior (clean errors or spec-mandated zero-fill completion — never a
crash or hang)."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from streams_spark.functions import jpeg as J
from streams_spark.functions import jpeg_arith as JA
from streams_spark.functions.jpeg_progressive import jpeg_encode_progressive

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _block_constant(h: int, w: int, block: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    nby, nbx = (h + block - 1) // block, (w + block - 1) // block
    bv = (2 * rng.integers(0, 128, size=(nby, nbx))).astype(np.uint8)
    return np.repeat(np.repeat(bv, block, axis=0), block, axis=1)[:h, :w]


# ---------------------------------------------------------------------------
# State table: anchors and structural invariants
# ---------------------------------------------------------------------------


def test_state_table_structure():
    assert len(JA.QE) == 114
    # anchor rows (T.81 Table D.3)
    assert (JA.QE[0], JA.NLPS[0], JA.NMPS[0], JA.SWITCH[0]) == (0x5A1D, 1, 1, 1)
    assert (JA.QE[13], JA.NLPS[13], JA.NMPS[13]) == (0x0001, 12, 13)
    assert (JA.QE[112], JA.NLPS[112], JA.NMPS[112], JA.SWITCH[112]) == (
        0x59EB, 112, 111, 1,
    )
    # the fixed bin never adapts
    assert JA.NLPS[113] == JA.NMPS[113] == 113 and JA.SWITCH[113] == 0
    # fast-attack chain: indices 0..13 halve Qe roughly per MPS step
    for i in range(1, 13):
        assert JA.NMPS[i] == i + 1 and JA.QE[i + 1] < JA.QE[i]
    # every MPS/LPS successor is a valid index; switch rows have the
    # largest Qe values (near-equiprobable states)
    assert all(0 <= n <= 113 for n in JA.NLPS + JA.NMPS)
    assert all(JA.QE[i] >= 0x5000 for i in range(113) if JA.SWITCH[i])
    # following NextMPS from any state must reach a self-loop (steady
    # state) without leaving the table — no dangling chains
    for start in range(113):
        i, seen = start, set()
        while i not in seen:
            seen.add(i)
            i = JA.NMPS[i]


# ---------------------------------------------------------------------------
# Raw QM coder: exactness and efficiency
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("p", [0.5, 0.9, 0.99, 0.999, 0.05, 0.01])
def test_qm_coder_roundtrip_and_efficiency(p):
    rng = np.random.default_rng(int(p * 100000))
    bits = (rng.random(30000) < p).astype(np.uint8)
    stats = JA._Stats(1)
    enc = JA._ArithEncoder()
    for b in bits:
        enc.encode(stats, 0, int(b))
    out = enc.flush()
    stats2 = JA._Stats(1)
    dec = JA._ArithDecoder(out + b"\xff\xd9", 0)
    got = bytes(dec.decode(stats2, 0) for _ in bits)
    assert got == bits.tobytes()
    # a corrupted Table D.3 cannot track entropy across this bias
    # range; the published QM inefficiency is a few percent
    h_p = -(p * math.log2(p) + (1 - p) * math.log2(1 - p))
    rate = len(out) * 8 / len(bits)
    assert rate <= h_p * 1.15 + 0.02


def test_qm_coder_multicontext_and_extreme_runs():
    # long MPS runs exercise carry propagation + stacked-0xFF output;
    # interleaved contexts exercise independent state tracking
    rng = np.random.default_rng(3)
    stats = JA._Stats(8)
    enc = JA._ArithEncoder()
    seq = [
        (i * 7 % 8, int(b)) for i, b in enumerate(rng.random(20000) < 0.995)
    ]
    for c, b in seq:
        enc.encode(stats, c, b)
    out = enc.flush()
    stats2 = JA._Stats(8)
    dec = JA._ArithDecoder(out + b"\xff\xd9", 0)
    assert all(dec.decode(stats2, c) == b for c, b in seq)


def test_qm_decoder_truncation_raises():
    stats = JA._Stats(1)
    enc = JA._ArithEncoder()
    rng = np.random.default_rng(5)
    for b in (rng.random(5000) < 0.5):
        enc.encode(stats, 0, int(b))
    out = enc.flush()
    stats2 = JA._Stats(1)
    dec = JA._ArithDecoder(out[: len(out) // 2], 0)  # no trailing marker
    with pytest.raises(ValueError, match="truncated"):
        for _ in range(5000):
            dec.decode(stats2, 0)


# ---------------------------------------------------------------------------
# Block-constant exactness (the m_jpeg_arith oracle contract)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("shape", [(8, 8), (24, 16), (19, 29), (40, 33)])
def test_grey_block_constant_roundtrip_exact(shape):
    h, w = shape
    img = _block_constant(h, w, 8, seed=h * 100 + w)
    out = JA.jpeg_decode_arith(JA.jpeg_encode_arith(img, quality=50))
    assert out.shape == (h, w)
    assert np.array_equal(out, img)


@pytest.mark.parametrize("sub,block", [("4:4:4", 8), ("4:2:0", 16)])
@pytest.mark.parametrize("shape", [(16, 16), (32, 48), (23, 37)])
def test_rgb_block_constant_roundtrip_exact(sub, block, shape):
    h, w = shape
    grey = _block_constant(h, w, block, seed=h + w)
    img = np.stack([grey] * 3, axis=2)
    out = JA.jpeg_decode_arith(
        JA.jpeg_encode_arith(img, quality=50, subsampling=sub)
    )
    assert out.shape == (h, w, 3)
    assert np.array_equal(out, img)


# ---------------------------------------------------------------------------
# Huffman equivalence: the cross-pipeline pin
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("quality", [25, 50, 75, 95])
def test_huffman_equivalence_grey(quality):
    rng = np.random.default_rng(quality)
    img = rng.integers(0, 256, (37, 26), dtype=np.uint8)
    a = JA.jpeg_decode_arith(JA.jpeg_encode_arith(img, quality=quality))
    b = J.jpeg_decode(J.jpeg_encode(img, quality=quality))
    assert np.array_equal(a, b)


@pytest.mark.parametrize("sub", ["4:4:4", "4:2:0"])
def test_huffman_equivalence_rgb(sub):
    rng = np.random.default_rng(len(sub))
    img = rng.integers(0, 256, (29, 34, 3), dtype=np.uint8)
    a = JA.jpeg_decode_arith(
        JA.jpeg_encode_arith(img, quality=60, subsampling=sub)
    )
    b = J.jpeg_decode(J.jpeg_encode(img, quality=60, subsampling=sub))
    assert np.array_equal(a, b)


@_SETTINGS
@given(
    h=st.integers(4, 32),
    w=st.integers(4, 32),
    seed=st.integers(0, 2**31),
    quality=st.sampled_from([30, 50, 80]),
)
def test_huffman_equivalence_property(h, w, seed, quality):
    img = np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)
    a = JA.jpeg_decode_arith(JA.jpeg_encode_arith(img, quality=quality))
    b = J.jpeg_decode(J.jpeg_encode(img, quality=quality))
    assert np.array_equal(a, b)


def test_dispatch_via_jpeg_decode_and_media_probe():
    from streams_spark.functions.codecs import media_probe

    img = _block_constant(21, 18, 8, seed=9)
    data = JA.jpeg_encode_arith(img, quality=50)
    assert struct.unpack(">H", data[:2])[0] == 0xFFD8
    assert b"\xff\xca" in data and b"\xff\xcc" in data  # SOF10 + DAC
    out = J.jpeg_decode(data)  # front-door dispatch
    assert np.array_equal(out, img)
    w, h, ch, checksum = media_probe(data)
    assert (w, h, ch) == (18, 21, 1)
    assert checksum == int(img.astype(np.int64).sum()) % 1_000_000_007


# ---------------------------------------------------------------------------
# Restart intervals, stuffing, conditioning
# ---------------------------------------------------------------------------


def test_restart_interval_equivalence_and_reset():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (48, 40), dtype=np.uint8)
    base = J.jpeg_decode(J.jpeg_encode(img, quality=50))
    for ri in (1, 2, 7):
        data = JA.jpeg_encode_arith(img, quality=50, restart_interval=ri)
        assert any(
            bytes((0xFF, 0xD0 + i)) in data for i in range(8)
        ), "no RSTn emitted"
        assert np.array_equal(JA.jpeg_decode_arith(data), base)


def test_restart_marker_missing_raises():
    img = np.zeros((32, 32), dtype=np.uint8)
    data = bytearray(JA.jpeg_encode_arith(img, quality=50, restart_interval=1))
    # corrupt every RSTn marker into a stuffed pair: the decoder must
    # not resynchronize silently
    for i in range(len(data) - 1):
        if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
            data[i + 1] = 0x00
    with pytest.raises(ValueError):
        JA.jpeg_decode_arith(bytes(data))


def test_stuffed_ff_bytes_occur_and_decode():
    n_stuffed = 0
    for d in range(24):
        img = ((np.arange(24 * 24).reshape(24, 24) * (d * 37 + 1)) % 256
               ).astype(np.uint8)
        data = JA.jpeg_encode_arith(img, quality=90)
        scan = data[data.find(b"\xff\xda"):]
        if b"\xff\x00" in scan:
            n_stuffed += 1
        assert np.array_equal(
            JA.jpeg_decode_arith(data),
            J.jpeg_decode(J.jpeg_encode(img, quality=90)),
        )
    assert n_stuffed > 0  # the stuffing path genuinely ran


@pytest.mark.parametrize("kx", [1, 4, 63])
def test_nondefault_kx_conditioning(kx):
    rng = np.random.default_rng(kx)
    img = rng.integers(0, 256, (33, 29), dtype=np.uint8)
    data = JA.jpeg_encode_arith(img, quality=80, kx=kx)
    assert np.array_equal(
        JA.jpeg_decode_arith(data),
        J.jpeg_decode(J.jpeg_encode(img, quality=80)),
    )


# ---------------------------------------------------------------------------
# Corrupt / hostile streams
# ---------------------------------------------------------------------------


def test_truncated_scan_raises():
    img = np.random.default_rng(2).integers(0, 256, (40, 40), dtype=np.uint8)
    data = JA.jpeg_encode_arith(img, quality=75)
    sos = data.find(b"\xff\xda")
    with pytest.raises(ValueError):
        JA.jpeg_decode_arith(data[: sos + 40])  # scan cut, no marker


def test_early_eoi_completes_by_zero_fill():
    # T.81 convention: a marker mid-scan is LEGAL in arithmetic coding;
    # the decoder completes on zero-fill (the encoder suppresses
    # trailing zero bytes relying on exactly this)
    img = np.random.default_rng(4).integers(0, 256, (24, 24), dtype=np.uint8)
    data = JA.jpeg_encode_arith(img, quality=75)
    sos = data.find(b"\xff\xda")
    cut = data[: sos + 60] + b"\xff\xd9"
    out = JA.jpeg_decode_arith(cut)
    assert out.shape == (24, 24) and out.dtype == np.uint8


@pytest.mark.parametrize(
    "encode",
    [J.jpeg_encode, jpeg_encode_progressive, JA.jpeg_encode_arith],
    ids=["baseline", "progressive", "arith"],
)
def test_byte_flip_sweep_never_hangs_or_crashes(encode):
    # every byte after SOI, headers included, XOR 0x55, then every
    # truncation. A flipped byte may decode to legal-but-wrong pixels
    # (returns an array) or be rejected (ValueError); a truncated stream
    # lacks EOI and is rejected. Anything else is a defect.
    img = _block_constant(24, 24, 8, seed=1)
    data = encode(img, quality=50)
    first_scan = data.find(b"\xff\xda")
    outcomes = {"ok": 0, "error": 0}
    for i in range(2, len(data)):
        corrupt = bytearray(data)
        corrupt[i] ^= 0x55
        try:
            out = J.jpeg_decode(bytes(corrupt))
        except ValueError:
            outcomes["error"] += 1
            continue
        assert out.dtype == np.uint8
        if i > first_scan:  # the frame header is intact
            assert out.shape == (24, 24)
        outcomes["ok"] += 1
    assert outcomes["ok"] > 0 and outcomes["error"] > 0
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            J.jpeg_decode(data[:cut])


def test_guards():
    with pytest.raises(ValueError, match="uint8"):
        JA.jpeg_encode_arith(np.zeros((8, 8), dtype=np.int32))
    with pytest.raises(ValueError):
        JA.jpeg_encode_arith(np.zeros((8, 8, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="subsampling"):
        JA.jpeg_encode_arith(
            np.zeros((8, 8, 3), dtype=np.uint8), subsampling="4:2:2"
        )
    with pytest.raises(ValueError, match="kx"):
        JA.jpeg_encode_arith(np.zeros((8, 8), dtype=np.uint8), kx=0)
    with pytest.raises(ValueError, match="dimensions"):
        JA.jpeg_encode_arith(np.zeros((0, 8), dtype=np.uint8))
    # a baseline stream is not an SOF10 stream
    base = J.jpeg_encode(np.zeros((8, 8), dtype=np.uint8))
    with pytest.raises(ValueError, match="SOF10"):
        JA.jpeg_decode_arith(base)
    with pytest.raises(ValueError, match="not a JPEG"):
        JA.jpeg_decode_arith(b"\x00\x01\x02")


def test_bad_dac_rejected():
    img = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(JA.jpeg_encode_arith(img, quality=50))
    i = bytes(data).find(b"\xff\xcc")
    assert i >= 0
    # DC conditioning with L > U must be rejected
    data[i + 5] = (0 << 4) | 5  # U=0, L=5
    with pytest.raises(ValueError, match="conditioning"):
        JA.jpeg_decode_arith(bytes(data))
