"""H.264 ref_pic_list_modification (7.3.3.1 / 8.2.4.3.1) and MMCO-1
adaptive reference marking (7.3.3.3 / 8.2.5.4.1) tests.

These pin what the m_h264_rplm SQL oracle cannot see: the picNumLXPred
chaining rule across multiple ops, PicNum wraparound (FrameNumWrap,
8.2.4.1) in both list initialization and modification arithmetic,
per-SLICE modification (two slices of one picture resolving the same
ref_idx to different pictures), marking running AFTER the current
picture decodes, the non-conforming-stream raises (naming an absent
PicNum, DPB overflow under adaptive marking), and cross-slice
frame_num / marking consistency enforcement.

Fixture grammar: zero-MV zero-residual P_L0_16x16 pictures equal their
selected reference exactly, so decoded pixels identify WHICH DPB entry
every ref_idx resolved to — independent of encoder symmetry.
"""

import numpy as np
import pytest

from streams_spark.functions.h264 import (
    BitWriter,
    H264Decoder,
    H264Error,
    h264_encode_p_rows,
    h264_encode_rows,
    rbsp_to_ebsp,
)
from tests.test_h264_multiref import _nal, _p_header, _prime_frames


def _copy_au(frame_num, num_ref_active, ref, rplm=None, mmco=None,
             mw=2, mh=2, ref_idc=2):
    """A whole-picture zero-MV zero-residual P AU selecting `ref` for
    every MB: decodes to an exact copy of RefPicList0[ref]."""
    return h264_encode_p_rows(
        mw, mh, (0, 0), [0] * mh, frame_num=frame_num,
        row_refs=[ref] * mh, num_ref_active=num_ref_active,
        rplm=rplm, mmco_forget=mmco, ref_idc=ref_idc,
    )


# ---------------------------------------------------------------------------
# ref_pic_list_modification
# ---------------------------------------------------------------------------


def test_rplm_swap_reverses_selection():
    # DPB {F2, F1}; RPLM idc 0, abs_diff_m1 1 moves PicNum
    # CurrPicNum-2 = F1 to index 0 -> ref 0 now selects the OLDER pic
    for ref, want in ((0, -2), (1, -1)):
        dec, frames = _prime_frames(2)
        out = dec.decode(_copy_au(3, 2, ref, rplm=[(0, 1)]))
        assert np.array_equal(out.y, frames[want].y)


def test_rplm_identity_op_keeps_initial_order():
    # naming PicNum CurrPicNum-1 (the newest) at index 0 is the
    # identity modification
    dec, frames = _prime_frames(2)
    out = dec.decode(_copy_au(3, 2, 0, rplm=[(0, 0)]))
    assert np.array_equal(out.y, frames[-1].y)


def test_rplm_pred_chaining_two_ops():
    # 8.2.4.3.1: picNumLXPred carries BETWEEN ops. With CurrPicNum 4
    # and DPB {F3, F2, F1}: op(0, 2) -> picNum 1 at index 0 (pred 1),
    # then op(1, 0) -> pred + 1 = picNum 2 at index 1. Final list
    # [F1, F2, F3]: ref 2 selects F3 (a decoder restarting the
    # predictor from CurrPicNum would put picNum 5 -> error, and one
    # misordering the inserts diverges on ref 0/1 too).
    dec, frames = _prime_frames(3)
    for ref, want in ((0, 1), (1, 2), (2, 3)):
        d2, f2 = _prime_frames(3)
        out = d2.decode(
            _copy_au(4, 3, ref, rplm=[(0, 2), (1, 0)])
        )
        assert np.array_equal(out.y, f2[want].y)


def test_rplm_is_per_slice():
    # 8.2.4.3 runs per slice: slice A (MB row 0) swaps the list,
    # slice B (row 1) does not — the SAME ref_idx 0 resolves to
    # different pictures in the two slices of ONE coded picture.
    from streams_spark.functions.h264 import (
        _CBP_INTER_INV,
    )

    def p_slice(first_mb, frame_num, rplm_swap):
        bw = BitWriter()
        bw.ue(first_mb)
        bw.ue(5)
        bw.ue(0)
        bw.u(frame_num % 16, 4)
        bw.u(1, 1)  # override
        bw.ue(1)  # num_ref_idx_l0_active 2
        if rplm_swap:
            bw.u(1, 1)
            bw.ue(0)  # idc 0
            bw.ue(1)  # abs_diff_m1 1 -> older pic to index 0
            bw.ue(3)
        else:
            bw.u(0, 1)
        bw.u(0, 1)  # sliding window
        bw.se(-8)
        bw.ue(1)  # deblocking off
        for _ in range(2):  # one MB row of a 2x2 picture
            bw.ue(0)  # mb_skip_run
            bw.ue(0)  # P_L0_16x16
            bw.u(1, 1)  # te(v) bit 1 -> ref_idx 0
            bw.se(0)  # mvd x
            bw.se(0)  # mvd y
            bw.ue(_CBP_INTER_INV[0])  # cbp 0
        bw.rbsp_trailing()
        return _nal(bw)

    dec, frames = _prime_frames(2)
    au = p_slice(0, 3, True) + p_slice(2, 3, False)
    out = dec.decode(au)
    assert np.array_equal(out.y[:16], frames[-2].y[:16])  # swapped slice
    assert np.array_equal(out.y[16:], frames[-1].y[16:])  # initial order


def test_rplm_wraparound_picnum():
    # frame_num wraps at MaxFrameNum 16 (log2 4). With max_ref 2 the
    # DPB holds frames 14 and 15 when a P at frame_num 0 arrives:
    # FrameNumWrap (8.2.4.1) makes their PicNums -1 and -2, so the
    # initial order is {F15, F14}, and an RPLM op(0, 1) computes
    # picNumNoWrap 0-2 -> +16 -> 14 -> F14 to index 0.
    def primed():
        dec = H264Decoder()
        dec.decode(h264_encode_rows(2, 2, 60, [1], max_ref=2))
        f14 = dec.decode(
            h264_encode_p_rows(2, 2, (0, 0), [2, -2], frame_num=14)
        )
        f15 = dec.decode(
            h264_encode_p_rows(2, 2, (0, 0), [3, -3], frame_num=15)
        )
        assert f14.y.tobytes() != f15.y.tobytes()
        return dec, f14, f15

    dec, f14, f15 = primed()
    out = dec.decode(_copy_au(0, 2, 0))  # initial order: ref 0 = F15
    assert np.array_equal(out.y, f15.y)
    dec2, a14, _ = primed()
    out2 = dec2.decode(_copy_au(0, 2, 0, rplm=[(0, 1)]))
    assert np.array_equal(out2.y, a14.y)


def test_rplm_absent_picnum_raises():
    dec, _ = _prime_frames(2)
    with pytest.raises(H264Error, match="no such short-term"):
        dec.decode(_copy_au(3, 2, 0, rplm=[(0, 7)]))


# ---------------------------------------------------------------------------
# MMCO 1
# ---------------------------------------------------------------------------


def test_mmco_forgets_named_picture_not_recency():
    # F3 carries MMCO-1 forgetting F2 (diff_m1 0: PicNum 3-1 = 2).
    # The NEXT picture's DPB is {F3, F1}: ref 1 must resolve to F1.
    # A decoder that ignores marking (sliding window would keep
    # {F3, F2}) decodes F2's pixels instead.
    dec, frames = _prime_frames(2, max_ref=2)
    f3 = dec.decode(_copy_au(3, 2, 0, mmco=[0]))
    assert np.array_equal(f3.y, frames[-1].y)  # own decode unaffected
    out = dec.decode(_copy_au(4, 2, 1))
    assert np.array_equal(out.y, frames[1].y)  # F1, not F2


def test_mmco_runs_after_current_decode():
    # the marking picture itself still predicts from the pre-marking
    # DPB: F3 forgets F2 but SELECTS F2 (ref 0) in the same AU
    dec, frames = _prime_frames(2, max_ref=2)
    f3 = dec.decode(_copy_au(3, 2, 0, mmco=[0]))
    assert np.array_equal(f3.y, frames[2].y)


def test_mmco_absent_picnum_raises():
    dec, _ = _prime_frames(2, max_ref=2)
    with pytest.raises(H264Error, match="MMCO 1 names PicNum"):
        dec.decode(_copy_au(3, 2, 0, mmco=[6]))


def test_mmco_empty_adaptive_disables_sliding_window():
    # 8.2.5.4.1 note: when adaptive marking is signalled the sliding
    # window does NOT run — even a zero-op adaptive marking on a full
    # DPB overflows (non-conforming stream) instead of silently
    # evicting the oldest picture
    dec, _ = _prime_frames(2, max_ref=2)  # DPB full: {F2, F1}
    with pytest.raises(H264Error, match="exceeds max_num_ref_frames"):
        dec.decode(_copy_au(3, 2, 0, mmco=[]))


def test_mmco_double_forget_same_picture_raises():
    dec, _ = _prime_frames(2, max_ref=2)
    with pytest.raises(H264Error, match="MMCO 1 names PicNum"):
        dec.decode(_copy_au(3, 2, 0, mmco=[1, 1]))


def test_mmco_slices_must_agree():
    from streams_spark.functions.h264 import annexb_split

    dec, _ = _prime_frames(2, max_ref=2)
    # build a two-slice picture where only slice A carries MMCO
    au_a = _copy_au(3, 2, 0, mmco=[0], mw=2, mh=1)
    # second slice: first_mb 2, no mmco -- craft manually
    from streams_spark.functions.h264 import _CBP_INTER_INV

    bw = BitWriter()
    bw.ue(2)
    bw.ue(5)
    bw.ue(0)
    bw.u(3, 4)
    bw.u(1, 1)
    bw.ue(1)
    bw.u(0, 1)
    bw.u(0, 1)
    bw.se(-8)
    bw.ue(1)
    for _ in range(2):
        bw.ue(0)
        bw.ue(0)
        bw.u(1, 1)
        bw.se(0)
        bw.se(0)
        bw.ue(_CBP_INTER_INV[0])
    bw.rbsp_trailing()
    with pytest.raises(H264Error, match="disagree on dec_ref_pic_marking"):
        dec.decode(au_a + _nal(bw))


def test_frame_num_slices_must_agree():
    dec, _ = _prime_frames(1)
    au_a = _copy_au(2, 1, 0, mw=2, mh=1)

    bw = BitWriter()
    bw.ue(2)  # first_mb
    bw.ue(5)
    bw.ue(0)
    bw.u(9, 4)  # frame_num 9 != 2
    bw.u(0, 1)
    bw.u(0, 1)
    bw.u(0, 1)
    bw.se(-8)
    bw.ue(1)
    bw.ue(2)  # skip run covers the row
    bw.rbsp_trailing()
    with pytest.raises(H264Error, match="disagree on frame_num"):
        dec.decode(au_a + _nal(bw))


def test_gop_with_rplm_and_mmco_matches_plane_replay():
    # end-to-end: the m_h264_rplm fixture shape. F0 IDR, F1 single-ref,
    # F2 two-ref initial order, F3 RPLM-swapped + MMCO forgets F2,
    # F4 refs {F3, F1}. Non-zero MVs and residuals; replay every
    # frame's expected luma with numpy motion compensation over the
    # tracked reference planes.
    from streams_spark.functions.h264 import (
        _MC_PAD, inter_dc_offset, mc_luma, pad_ref,
    )

    dec = H264Decoder()
    mw = mh = 2
    dec.decode(h264_encode_rows(mw, mh, 72, [2], max_ref=2))
    # track uncropped planes via the decoder's DPB (crop-free fixture
    # geometry anyway, but the DPB is the authoritative state); the
    # DPB holds the padded luma, the picture is its interior
    def newest_luma():
        return dec._dpb[0][0][0][_MC_PAD:-_MC_PAD, _MC_PAD:-_MC_PAD]

    planes = [newest_luma()]

    def p(frame_num, mv, levels, refs_rows, num_ref, rplm=None, mmco=None):
        return h264_encode_p_rows(
            mw, mh, mv, levels, frame_num=frame_num,
            row_refs=refs_rows, num_ref_active=num_ref,
            rplm=rplm, mmco_forget=mmco,
        )

    def expect(ref_plane, mv, levels):
        out = np.zeros_like(ref_plane)
        for mby in range(mh):
            for mbx in range(mw):
                pred = mc_luma(
                    pad_ref(ref_plane), 16 * mbx, 16 * mby, 16, 16,
                    mv[0], mv[1],
                )
                out[16 * mby:16 * mby + 16, 16 * mbx:16 * mbx + 16] = (
                    np.clip(pred + inter_dc_offset(levels[mby], 28), 0, 255)
                )
        return out

    # F1: single ref
    dec.decode(p(1, (2, -3), [1, -1], [0, 0], 1))
    planes.append(newest_luma())
    assert np.array_equal(planes[1], expect(planes[0], (2, -3), [1, -1]))
    # F2: two refs, initial order, rows pick 0 then 1
    dec.decode(p(2, (-5, 1), [2, 0], [0, 1], 2))
    planes.append(newest_luma())
    row_h = 16
    exp2_r0 = expect(planes[1], (-5, 1), [2, 2])[:row_h]
    exp2_r1 = expect(planes[0], (-5, 1), [0, 0])[row_h:]
    assert np.array_equal(planes[2][:row_h], exp2_r0)
    assert np.array_equal(planes[2][row_h:], exp2_r1)
    # F3: RPLM swap (ref 0 -> F1), MMCO forgets F2
    dec.decode(p(3, (1, 6), [-2, 1], [0, 1], 2, rplm=[(0, 1)], mmco=[0]))
    planes.append(newest_luma())
    exp3_r0 = expect(planes[1], (1, 6), [-2, -2])[:row_h]  # swapped: F1
    exp3_r1 = expect(planes[2], (1, 6), [1, 1])[row_h:]    # ref 1: F2
    assert np.array_equal(planes[3][:row_h], exp3_r0)
    assert np.array_equal(planes[3][row_h:], exp3_r1)
    # DPB after marking: {F3, F1}
    assert [fn for _, fn in dec._dpb] == [3, 1]
    # F4: ref 1 resolves to F1 (not F2)
    dec.decode(p(4, (0, -7), [1, 2], [1, 0], 2))
    planes.append(newest_luma())
    exp4_r0 = expect(planes[1], (0, -7), [1, 1])[:row_h]   # F1
    exp4_r1 = expect(planes[3], (0, -7), [2, 2])[row_h:]   # F3
    assert np.array_equal(planes[4][:row_h], exp4_r0)
    assert np.array_equal(planes[4][row_h:], exp4_r1)
