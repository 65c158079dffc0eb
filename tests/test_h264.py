"""H.264 Annex-B I-frame codec: CAVLC table self-consistency, residual
round-trips incl. escape codes, prediction modes, corrupt/out-of-scope
streams — the cases the closed-form m_h264_keyframes oracle can't
express."""

import numpy as np
import pytest

from streams_spark.functions.h264 import (
    _CT_CHROMA_DC,
    _CT_NC0,
    _CT_NC2,
    _CT_NC4,
    _RUN_BEFORE,
    _TZ_4x4,
    _TZ_CHROMA_DC,
    BitReader,
    BitWriter,
    H264Error,
    annexb_split,
    dc_offset,
    ebsp_to_rbsp,
    encode_pps,
    encode_sps,
    h264_decode,
    h264_encode_rows,
    parse_pps,
    parse_sps,
    predict_16x16,
    predict_chroma_dc,
    read_residual_block,
    rbsp_to_ebsp,
    write_residual_block,
)


# ---------------------------------------------------------------------------
# VLC table hygiene
# ---------------------------------------------------------------------------


def _assert_prefix_free(entries):
    codes = [(ln, code) for ln, code in entries]
    assert len(set(codes)) == len(codes), "duplicate codes"
    for ln_a, a in codes:
        for ln_b, b in codes:
            if ln_a < ln_b:
                assert (b >> (ln_b - ln_a)) != a, (
                    f"{a:0{ln_a}b} prefixes {b:0{ln_b}b}"
                )


@pytest.mark.parametrize(
    "table", [_CT_NC0, _CT_NC2, _CT_NC4, _CT_CHROMA_DC]
)
def test_coeff_token_tables_prefix_free(table):
    _assert_prefix_free(table.values())


def test_total_zeros_and_run_tables_prefix_free():
    for entries in _TZ_4x4.values():
        _assert_prefix_free(entries)
    for entries in _TZ_CHROMA_DC.values():
        _assert_prefix_free(entries)
    for entries in _RUN_BEFORE.values():
        _assert_prefix_free(entries)


def test_exp_golomb_round_trip():
    bw = BitWriter()
    vals = [0, 1, 2, 7, 255, 100000]
    svals = [0, 1, -1, 3, -7, 4096]
    for v in vals:
        bw.ue(v)
    for v in svals:
        bw.se(v)
    br = BitReader(bw.to_bytes())
    assert [br.ue() for _ in vals] == vals
    assert [br.se() for _ in svals] == svals


def test_emulation_prevention_round_trip():
    for raw in (
        b"\x00\x00\x00\x00\x01",
        b"\x00\x00\x02\x00\x00\x03",
        b"abc\x00\x00\x01def",
        bytes(32),
    ):
        ebsp = rbsp_to_ebsp(raw)
        # no start-code-able pattern survives in the EBSP
        assert b"\x00\x00\x00" not in ebsp
        assert b"\x00\x00\x01" not in ebsp
        assert ebsp_to_rbsp(ebsp) == raw


# ---------------------------------------------------------------------------
# CAVLC residual round-trips
# ---------------------------------------------------------------------------

_PATTERNS_16 = [
    [0] * 16,
    [3] + [0] * 15,  # the fixture shape: one non-T1 DC level
    [1] + [0] * 15,  # single trailing one
    [-1, 1, -1] + [0] * 13,  # three trailing ones
    [2, -1, 1] + [0] * 13,  # T1s after a bigger level
    [5, 0, 0, -2, 0, 1] + [0] * 10,  # runs of zeros between coeffs
    [100] + [0] * 15,  # level escape (prefix 14/15 path)
    [2048, -4096] + [0] * 14,  # prefix >= 16 escape
    [1] * 16,  # full block
    [2] * 12 + [0] * 4,  # TotalCoeff > 10: initial suffixLength 1
    [0] * 15 + [7],  # lone highest-frequency coefficient
    [-3, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 9],
]


@pytest.mark.parametrize("nc", [0, 1, 2, 3, 4, 7, 8, 16])
@pytest.mark.parametrize("coeffs", _PATTERNS_16)
def test_residual_block_round_trip_4x4(nc, coeffs):
    bw = BitWriter()
    write_residual_block(bw, list(coeffs), nc)
    bw.rbsp_trailing()
    br = BitReader(bw.to_bytes())
    assert read_residual_block(br, 16, nc) == list(coeffs)


@pytest.mark.parametrize(
    "coeffs",
    [[0, 0, 0, 0], [1, 0, 0, 0], [0, -1, 2, 0], [3, 3, 3, 3]],
)
def test_residual_block_round_trip_chroma_dc(coeffs):
    bw = BitWriter()
    write_residual_block(bw, list(coeffs), -1)
    bw.rbsp_trailing()
    br = BitReader(bw.to_bytes())
    assert read_residual_block(br, 4, -1) == list(coeffs)


def test_residual_block_round_trip_ac15():
    for coeffs in ([0] * 15, [4, -1, 1] + [0] * 12, [0] * 7 + [2] + [0] * 7):
        bw = BitWriter()
        write_residual_block(bw, list(coeffs), 0)
        bw.rbsp_trailing()
        br = BitReader(bw.to_bytes())
        assert read_residual_block(br, 15, 0) == list(coeffs)


# ---------------------------------------------------------------------------
# Full picture round-trips (encoder is the fixture muxer's)
# ---------------------------------------------------------------------------


def _expected_luma(mw, mh, v0, levels, crop_r=0, crop_b=0):
    rows = [v0]
    for lv in levels:
        rows.append(rows[-1] + dc_offset(lv))
    h, w = 16 * mh - crop_b, 16 * mw - crop_r
    out = np.empty((h, w), dtype=np.int64)
    for y in range(h):
        out[y] = rows[y // 16]
    return np.minimum(out, 255).astype(np.uint8)  # decoder clips at 255


@pytest.mark.parametrize(
    "mw,mh,v0,levels",
    [
        (2, 2, 30, [2]),
        (3, 3, 100, [1, 0]),
        (4, 4, 60, [2, 1, 0]),
        (2, 4, 199, [0, 0, 0]),  # all-DC interior rows
    ],
)
def test_picture_round_trip(mw, mh, v0, levels):
    fr = h264_decode(h264_encode_rows(mw, mh, v0, levels))
    assert np.array_equal(fr.y, _expected_luma(mw, mh, v0, levels))
    assert (fr.cb == 128).all() and (fr.cr == 128).all()


def test_picture_cropping():
    fr = h264_decode(
        h264_encode_rows(3, 3, 80, [1, 2], crop_right=6, crop_bottom=4)
    )
    assert fr.y.shape == (44, 42)
    assert fr.cb.shape == (22, 21)
    assert np.array_equal(fr.y, _expected_luma(3, 3, 80, [1, 2], 6, 4))
    assert fr.sps.crop_right == 6 and fr.sps.crop_bottom == 4


def test_dc_offsets_are_the_documented_lattice():
    # qp=36 -> dcY = L * 10 * 16; offset = (160L + 32) >> 6
    assert [dc_offset(lv) for lv in range(4)] == [0, 3, 5, 8]


def test_sps_pps_round_trip():
    sps = parse_sps(ebsp_to_rbsp(encode_sps(5, 7, 4, 2)[5:]))
    assert sps.pic_width_in_mbs == 5 and sps.pic_height_in_mbs == 7
    assert sps.crop_right == 4 and sps.crop_bottom == 2
    assert sps.profile_idc == 66 and sps.pic_order_cnt_type == 2
    pps = parse_pps(ebsp_to_rbsp(encode_pps(31)[5:]))
    assert pps.pic_init_qp == 31 and pps.entropy_coding_mode == 0
    assert pps.deblocking_control_present == 1


# ---------------------------------------------------------------------------
# Prediction modes
# ---------------------------------------------------------------------------


def test_plane_prediction_constant_neighbors():
    plane = np.full((48, 48), 77, dtype=np.int64)
    pred = predict_16x16(plane, 1, 1, 3)
    assert (pred == 77).all()


def test_plane_prediction_matches_spec_formula():
    # independent transcription of 8.3.3.4 against the implementation
    rng = np.arange(48)
    plane = ((np.add.outer(rng * 3, rng * 5)) % 200 + 10).astype(np.int64)
    pred = predict_16x16(plane, 1, 1, 3)
    x0 = y0 = 16
    hsum = sum(
        (i + 1) * (int(plane[y0 - 1, x0 + 8 + i]) -
                   int(plane[y0 - 1, x0 + 6 - i]))
        for i in range(8)
    )
    vsum = sum(
        (i + 1) * (int(plane[y0 + 8 + i, x0 - 1]) -
                   int(plane[y0 + 6 - i, x0 - 1]))
        for i in range(7)
    ) + 8 * (int(plane[y0 + 15, x0 - 1]) - int(plane[y0 - 1, x0 - 1]))
    a = 16 * (int(plane[y0 + 15, x0 - 1]) + int(plane[y0 - 1, x0 + 15]))
    b = (5 * hsum + 32) >> 6
    c = (5 * vsum + 32) >> 6
    for y in range(16):
        for x in range(16):
            exp = min(255, max(0, (a + b * (x - 7) + c * (y - 7) + 16) >> 5))
            assert pred[y, x] == exp


def test_dc_prediction_fallbacks():
    plane = np.zeros((32, 32), dtype=np.int64)
    plane[15, 0:16] = 60  # bottom edge of MB (0,0)
    plane[0:16, 15] = 60  # right edge of MB (0,0)
    assert (predict_16x16(plane, 0, 0, 2) == 128).all()  # no neighbors
    assert (predict_16x16(plane, 1, 0, 2) == 60).all()  # left only
    assert (predict_16x16(plane, 0, 1, 2) == 60).all()  # top only


def test_chroma_dc_quadrant_rules():
    plane = np.zeros((16, 16), dtype=np.int64)
    plane[7, 0:4] = 40  # top edge above MB (0,1)'s left quadrants
    plane[7, 4:8] = 80  # top edge above its right quadrants
    pred = predict_chroma_dc(plane, 0, 1)  # top available, left not
    assert (pred[:, 0:4] == 40).all()
    assert (pred[:, 4:8] == 80).all()


def test_v_h_prediction_need_neighbors():
    plane = np.zeros((32, 32), dtype=np.int64)
    with pytest.raises(H264Error, match="without top"):
        predict_16x16(plane, 1, 0, 0)
    with pytest.raises(H264Error, match="without left"):
        predict_16x16(plane, 0, 1, 1)


# ---------------------------------------------------------------------------
# Corrupt / out-of-scope streams fail loudly
# ---------------------------------------------------------------------------


def _slice_nal(bits_fn):
    """Minimal IDR slice NAL with a custom body after the header."""
    bw = BitWriter()
    bits_fn(bw)
    bw.rbsp_trailing()
    return b"\x00\x00\x00\x01\x65" + rbsp_to_ebsp(bw.to_bytes())


def _header(bw, slice_type=7, qp_delta=0, deblock_idc=1):
    bw.ue(0)  # first_mb_in_slice
    bw.ue(slice_type)
    bw.ue(0)  # pps_id
    bw.u(0, 4)  # frame_num
    bw.ue(0)  # idr_pic_id
    bw.u(0, 1)
    bw.u(0, 1)
    bw.se(qp_delta)
    bw.ue(deblock_idc)


def test_p_slice_inside_idr_nal_rejected():
    # slice_type P carried in an IDR NAL unit is a contradiction
    # (7.4.3 forbids it); the stateless entry point must refuse
    buf = encode_sps(2, 2) + encode_pps() + _slice_nal(
        lambda bw: _header(bw, slice_type=5)
    )
    with pytest.raises(H264Error, match="P slice inside an IDR"):
        h264_decode(buf)


def test_b_slice_rejected():
    buf = encode_sps(2, 2) + encode_pps() + _slice_nal(
        lambda bw: _header(bw, slice_type=6)
    )
    with pytest.raises(H264Error, match="only I and P slices"):
        h264_decode(buf)


def test_truncated_intra_4x4_mb_raises():
    # Intra_4x4 is supported since r10 (tests/test_h264_intra4x4.py);
    # a bare mb_type 0 with no mode/cbp payload must still fail loudly
    def body(bw):
        _header(bw)
        bw.ue(0)  # mb_type 0: I_4x4, then nothing

    buf = encode_sps(2, 2) + encode_pps() + _slice_nal(body)
    with pytest.raises(H264Error):
        h264_decode(buf)


def test_deblocking_idc_out_of_range_rejected():
    # deblocking is implemented since r10 (tests/test_h264_deblock.py);
    # idc values beyond 2 remain invalid syntax
    buf = encode_sps(2, 2) + encode_pps() + _slice_nal(
        lambda bw: _header(bw, deblock_idc=3)
    )
    with pytest.raises(H264Error, match="idc out of range"):
        h264_decode(buf)


def test_cabac_rejected():
    good = h264_encode_rows(2, 2, 50, [1])
    pps_at = good.index(b"\x00\x00\x00\x01\x68")  # PPS NAL
    # entropy_coding_mode_flag is bit 2 of the PPS RBSP (after two
    # ue(0) '1' bits) -> 0x20 of its first payload byte
    patched = bytearray(good)
    patched[pps_at + 5] |= 0x20
    with pytest.raises(H264Error, match="CABAC"):
        h264_decode(bytes(patched))


def test_truncated_slice_raises():
    buf = h264_encode_rows(3, 3, 90, [2, 1])
    with pytest.raises(H264Error, match="truncated"):
        h264_decode(buf[:-20])


def test_no_start_code_raises():
    with pytest.raises(H264Error, match="start code"):
        h264_decode(b"not an annex-b stream")


def test_missing_sps_raises():
    full = h264_encode_rows(2, 2, 50, [1])
    # strip SPS+PPS: find the IDR NAL start
    idr = full.index(b"\x00\x00\x00\x01\x65")
    with pytest.raises(H264Error, match="before SPS/PPS"):
        h264_decode(full[idr:])


def test_high_profile_sps_rejected():
    bw = BitWriter()
    bw.u(100, 8)  # high profile
    bw.u(0, 8)
    bw.u(40, 8)
    bw.ue(0)
    bw.rbsp_trailing()
    with pytest.raises(H264Error, match="profile_idc 100"):
        parse_sps(bw.to_bytes())


def test_sei_and_aud_skipped():
    good = h264_encode_rows(2, 2, 50, [1])
    sei = b"\x00\x00\x00\x01\x06\x05\x01\x00\x80"
    aud = b"\x00\x00\x00\x01\x09\x10"
    fr = h264_decode(sei + aud + good)
    assert np.array_equal(
        fr.y, _expected_luma(2, 2, 50, [1])
    )


def test_annexb_split_3_and_4_byte_codes():
    nals = annexb_split(
        b"\x00\x00\x01\x67aa\x00\x00\x00\x01\x68bb\x00\x00\x01\x65cc"
    )
    assert [n[0] for n in nals] == [0x67, 0x68, 0x65]
    assert nals[1] == b"\x68bb"


# ---------------------------------------------------------------------------
# Fixture-level: the m_h264_keyframes shape without Spark
# ---------------------------------------------------------------------------


def test_mp4_h264_keyframe_fixture_end_to_end():
    from streams_spark.functions.mp4 import mp4_demux, mp4_mux

    d = 47  # doc_id % 3 == 2
    mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
    nf = 2 + (d // 27) % 3
    crop_r, crop_b = 2 * (d % 4), 2 * ((d // 5) % 3)
    frames = [
        h264_encode_rows(
            mw, mh, 40 + (7 * d + 11 * f) % 160,
            [(d + f + r) % 3 for r in range(1, mh)],
            crop_right=crop_r, crop_bottom=crop_b,
        )
        for f in range(nf)
    ]
    blob = mp4_mux(frames, 16 * mw - crop_r, 16 * mh - crop_b, sync_every=2)
    track, kept = mp4_demux(blob, keyframes_only=True)
    assert [s.index for s in track.samples] == list(range(0, nf, 2))
    for s, au in zip(track.samples, kept):
        fr = h264_decode(au)
        exp = _expected_luma(
            mw, mh, 40 + (7 * d + 11 * s.index) % 160,
            [(d + s.index + r) % 3 for r in range(1, mh)],
            crop_r, crop_b,
        )
        assert np.array_equal(fr.y, exp)
        assert s.dts == (s.index // 2) * 1536 + (s.index % 2) * 512


# ---------------------------------------------------------------------------
# Property tests (hypothesis): CAVLC round-trip over random blocks
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:

    @settings(max_examples=300, deadline=None)
    @given(
        coeffs=st.lists(
            st.integers(min_value=-30000, max_value=30000),
            min_size=16, max_size=16,
        ),
        nc=st.sampled_from([0, 1, 2, 3, 4, 5, 7, 8, 20]),
    )
    def test_cavlc_round_trip_random_blocks(coeffs, nc):
        bw = BitWriter()
        write_residual_block(bw, list(coeffs), nc)
        bw.rbsp_trailing()
        br = BitReader(bw.to_bytes())
        assert read_residual_block(br, 16, nc) == list(coeffs)

    @settings(max_examples=200, deadline=None)
    @given(
        coeffs=st.lists(
            st.integers(min_value=-400, max_value=400),
            min_size=4, max_size=4,
        )
    )
    def test_cavlc_round_trip_random_chroma_dc(coeffs):
        bw = BitWriter()
        write_residual_block(bw, list(coeffs), -1)
        bw.rbsp_trailing()
        br = BitReader(bw.to_bytes())
        assert read_residual_block(br, 4, -1) == list(coeffs)

    @settings(max_examples=100, deadline=None)
    @given(
        mw=st.integers(min_value=1, max_value=4),
        mh=st.integers(min_value=1, max_value=4),
        v0=st.integers(min_value=0, max_value=240),
        data=st.data(),
    )
    def test_picture_round_trip_random(mw, mh, v0, data):
        levels = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=3),
                min_size=max(0, mh - 1), max_size=max(0, mh - 1),
            )
        )
        fr = h264_decode(h264_encode_rows(mw, mh, v0, levels))
        assert np.array_equal(fr.y, _expected_luma(mw, mh, v0, levels))


def test_black_frame_exercises_emulation_prevention():
    # v0=0: the I_PCM macroblock writes 256 zero bytes, forcing
    # 00 00 0x patterns that MUST be escaped in the EBSP and
    # transparently removed on decode
    buf = h264_encode_rows(2, 2, 0, [1])
    assert b"\x00\x00\x03" in buf  # escapes really present
    fr = h264_decode(buf)
    assert np.array_equal(fr.y, _expected_luma(2, 2, 0, [1]))


def test_run_before_overrun_raises_h264error():
    # malformed stream: TotalCoeff=3 (all T1s), total_zeros=7, then a
    # class-7 run_before code meaning run=10 > zerosLeft -> must raise
    # the typed error, not KeyError on a negative table index
    bw = BitWriter()
    bw.u(0b00011, 5)  # coeff_token (3,3) nC<2
    bw.u(0, 3)  # three + signs
    bw.u(0b011, 3)  # total_zeros=7 for tc=3
    bw.u(0b000001, 6)  # run_before=10 in the zerosLeft>6 class
    bw.rbsp_trailing()
    with pytest.raises(H264Error, match="run_before exceeds"):
        read_residual_block(BitReader(bw.to_bytes()), 16, 0)


def test_residual_4x4_matches_unfused_primitives():
    # the fused hot path (zigzag -> rescale -> inverse transform ->
    # rounding, plain ints) must be bit-exact vs the reference-shaped
    # primitives it replaced, across qps, random levels, and the
    # DC-substitution mode
    import numpy as np

    from streams_spark.functions.h264 import (
        _zigzag_to_4x4,
        dequant_4x4,
        inverse_transform_4x4,
        residual_4x4,
    )

    rng = np.random.default_rng(77)
    for qp in (0, 5, 11, 12, 28, 36, 51):
        for _ in range(20):
            levels = [int(rng.integers(-40, 41)) for _ in range(16)]
            want = (
                inverse_transform_4x4(
                    dequant_4x4(_zigzag_to_4x4(levels), qp, skip_dc=False)
                )
                + 32
            ) >> 6
            assert (residual_4x4(levels, qp) == want).all(), qp
            # DC-substitution mode (chroma + Intra_16x16 paths)
            dc = int(rng.integers(-5000, 5001))
            d = dequant_4x4(_zigzag_to_4x4([0] + levels[:15]), qp, True)
            d[0, 0] = dc
            want = (inverse_transform_4x4(d) + 32) >> 6
            got = residual_4x4([0] + levels[:15], qp, dc=dc)
            assert (got == want).all(), qp
            # all-zero AC with DC only
            d = dequant_4x4(np.zeros((4, 4), dtype=np.int64), qp, True)
            d[0, 0] = dc
            want = (inverse_transform_4x4(d) + 32) >> 6
            assert (residual_4x4(None, qp, dc=dc) == want).all(), qp


def test_residual_4x4_batch_dc_only_result_is_read_only_view():
    # the DC-only closed form returns a broadcast view (no (n, 4, 4)
    # buffer); writing into it must fail loudly rather than scribble
    # over every block at once
    from streams_spark.functions.h264 import residual_4x4, residual_4x4_batch

    levels = np.zeros((3, 16), dtype=np.int64)
    levels[:, 0] = [4, -7, 0]
    out = residual_4x4_batch(levels, 28)
    assert not out.flags.writeable
    for k in range(3):
        assert (out[k] == residual_4x4(levels[k].tolist(), 28)).all()
    with pytest.raises(ValueError):
        out[0, 0, 0] = 1
    # an AC level takes the general path, whose result is writable
    levels[1, 3] = 2
    assert residual_4x4_batch(levels, 28).flags.writeable


def test_chroma_resid_add_pair_zero_residual_aliases_predictions():
    # zero-residual fast path (P_Skip / cbp-chroma 0): the results are
    # the prediction buffers themselves, not copies
    from streams_spark.functions.h264 import _chroma_resid_add_pair

    pred_cb = np.full((8, 8), 100, dtype=np.int64)
    pred_cr = np.full((8, 8), 50, dtype=np.int64)
    zero_dc = [[0, 0, 0, 0], [0, 0, 0, 0]]
    no_ac = [[None] * 4, [None] * 4]
    cb, cr = _chroma_resid_add_pair(pred_cb, pred_cr, 30, zero_dc, no_ac)
    assert cb is pred_cb and cr is pred_cr
    # a nonzero DC builds fresh reconstructions and leaves the
    # predictions untouched
    cb, cr = _chroma_resid_add_pair(
        pred_cb, pred_cr, 30, [[8, 0, 0, 0], [0, 0, 0, 0]], no_ac
    )
    assert not np.shares_memory(cb, pred_cb)
    assert not np.shares_memory(cr, pred_cr)
    assert (pred_cb == 100).all() and (pred_cr == 50).all()
    assert (cb != 100).any() and (cr == 50).all()
