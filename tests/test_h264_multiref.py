"""H.264 multi-reference P decode tests (8.2.4.2.1 / 8.2.5.3 / 9.1.1).

These pin exactly what the m_h264_multiref SQL oracle cannot see:
the te(v) single-bit INVERSION against hand-written bits (encoder and
decoder could share an inversion bug that a round-trip would cancel),
the ue(v) te form at cMax > 1, sliding-window eviction order,
IDR DPB reset, non-reference pictures staying out of the DPB,
per-MB ref mixing inside one row with 8.4.1.3.1 cur-ref MVP matching,
P_8x8ref0's implicit refs under num_ref_idx_l0_active > 1, and the
8.7.2.1 different-reference-picture bS rule.
"""

import numpy as np
import pytest

from streams_spark.functions.h264 import (
    _BLK_ORDER,
    _CBP_INTER_INV,
    _deblock_bs_grids,
    _mvp_16x16,
    _nc_luma,
    _PicState,
    _set_part_mv,
    BitWriter,
    H264Decoder,
    H264Error,
    h264_encode_p_rows,
    h264_encode_rows,
    inter_dc_offset,
    mc_chroma,
    mc_luma,
    pad_ref,
    rbsp_to_ebsp,
    write_residual_block,
)


def _nal(bw, ref_idc=2, ntype=1):
    return b"\x00\x00\x00\x01" + bytes(
        [(ref_idc << 5) | ntype]
    ) + rbsp_to_ebsp(bw.to_bytes())


def _p_header(bw, frame_num, num_ref_active=1, qp_delta=-8):
    """Slice header for a non-IDR P slice under the fixture SPS/PPS
    (log2_max_frame_num 4, pic_init_qp 36, deblocking control
    present); deblocking disabled (idc 1)."""
    bw.ue(0)  # first_mb_in_slice
    bw.ue(5)  # slice_type P
    bw.ue(0)  # pps_id
    bw.u(frame_num % 16, 4)
    if num_ref_active > 1:
        bw.u(1, 1)  # num_ref_idx_active_override_flag
        bw.ue(num_ref_active - 1)
    else:
        bw.u(0, 1)
    bw.u(0, 1)  # ref_pic_list_modification
    bw.u(0, 1)  # adaptive marking (sliding window)
    bw.se(qp_delta)
    bw.ue(1)  # disable_deblocking_filter_idc


def _prime_frames(n_p, mw=2, mh=2, max_ref=4, ref_idc=2):
    """Decoder primed with an IDR and n_p DISTINCT all-coded P
    pictures (nonzero per-row levels so every picture's pixels
    differ); returns (decoder, [uncropped luma planes...])."""
    dec = H264Decoder()
    frames = [dec.decode(
        h264_encode_rows(mw, mh, 60, [1] * (mh - 1), max_ref=max_ref)
    )]
    for f in range(1, n_p + 1):
        lv = [f if (f + r) % 2 else -f for r in range(mh)]
        frames.append(dec.decode(
            h264_encode_p_rows(mw, mh, (0, 0), lv, frame_num=f,
                               ref_idc=ref_idc)
        ))
    assert len({fr.y.tobytes() for fr in frames}) == len(frames)
    return dec, frames


# ---------------------------------------------------------------------------
# te(v) coding of ref_idx_l0
# ---------------------------------------------------------------------------


def test_te_single_bit_is_inverted():
    # 9.1.1: with cMax 1 (num_ref_idx_l0_active 2), te(v) is ONE bit
    # and the VALUE IS THE INVERSE of the bit: 1 -> ref 0, 0 -> ref 1.
    # A zero-MV zero-residual P_L0_16x16 picture equals its reference
    # picture exactly, so the decoded pixels identify which DPB entry
    # the bit selected — independent of any encoder symmetry.
    for bit, want_frame in ((1, -1), (0, -2)):  # ref 0 = newest
        dec, frames = _prime_frames(2)
        bw = BitWriter()
        _p_header(bw, 3, num_ref_active=2)
        for _ in range(4):  # 2x2 MBs, each explicitly coded
            bw.ue(0)  # mb_skip_run
            bw.ue(0)  # P_L0_16x16
            bw.u(bit, 1)  # ref_idx_l0 te(v), cMax 1
            bw.se(0)  # mvd x (predictors are all zero here)
            bw.se(0)  # mvd y
            bw.ue(_CBP_INTER_INV[0])  # cbp 0
        bw.rbsp_trailing()
        got = dec.decode(_nal(bw))
        assert (got.y == frames[want_frame].y).all()


def test_te_ue_form_at_three_active_refs():
    # cMax > 1: te(v) degenerates to plain ue(v) — codes 0,1,2 select
    # DPB entries newest-to-oldest.
    for ref, want_frame in ((0, -1), (1, -2), (2, -3)):
        dec, frames = _prime_frames(2, max_ref=3)
        bw = BitWriter()
        _p_header(bw, 3, num_ref_active=3)
        for _ in range(4):
            bw.ue(0)
            bw.ue(0)  # P_L0_16x16
            bw.ue(ref)  # te(v) == ue(v) at cMax 2
            bw.se(0)
            bw.se(0)
            bw.ue(_CBP_INTER_INV[0])
        bw.rbsp_trailing()
        got = dec.decode(_nal(bw))
        assert (got.y == frames[want_frame].y).all()


def test_ref_idx_out_of_range_raises():
    dec, _ = _prime_frames(2)
    bw = BitWriter()
    _p_header(bw, 3, num_ref_active=3)
    bw.ue(0)
    bw.ue(0)
    bw.ue(3)  # ref_idx 3 with num_ref_idx_l0_active 3
    bw.se(0)
    bw.se(0)
    bw.ue(_CBP_INTER_INV[0])
    bw.rbsp_trailing()
    with pytest.raises(H264Error, match="ref_idx_l0 3 out of range"):
        dec.decode(_nal(bw))


# ---------------------------------------------------------------------------
# DPB: sliding window, IDR reset, non-reference pictures
# ---------------------------------------------------------------------------


def test_sliding_window_evicts_oldest():
    # max_num_ref_frames=2: after IDR + P1 + P2 the IDR is evicted, so
    # ref 1 must resolve to P1 (not the IDR).
    dec, frames = _prime_frames(2, max_ref=2)
    bw = BitWriter()
    _p_header(bw, 3, num_ref_active=2)
    for _ in range(4):
        bw.ue(0)
        bw.ue(0)
        bw.u(0, 1)  # inverted bit -> ref 1 (the OLDER window entry)
        bw.se(0)
        bw.se(0)
        bw.ue(_CBP_INTER_INV[0])
    bw.rbsp_trailing()
    got = dec.decode(_nal(bw))
    assert (got.y == frames[1].y).all()  # P1, not frames[0] (IDR)
    assert not (got.y == frames[0].y).all()


def test_num_ref_exceeding_window_raises():
    dec, _ = _prime_frames(2, max_ref=2)  # window holds only 2
    bw = BitWriter()
    _p_header(bw, 3, num_ref_active=3)
    bw.rbsp_trailing()
    with pytest.raises(H264Error, match="exceeds the 2 decoded"):
        dec.decode(_nal(bw))


def test_idr_resets_dpb():
    # a fresh IDR marks all prior references unused (8.2.5.1): the
    # next P slice sees a 1-deep DPB and 2 active refs must raise.
    dec, _ = _prime_frames(2, max_ref=4)
    dec.decode(h264_encode_rows(2, 2, 90, [1], max_ref=4))
    bw = BitWriter()
    _p_header(bw, 1, num_ref_active=2)
    bw.rbsp_trailing()
    with pytest.raises(H264Error, match="exceeds the 1 decoded"):
        dec.decode(_nal(bw))


def test_non_reference_picture_stays_out_of_dpb():
    # nal_ref_idc=0 pictures are never marked as reference (7.4.1):
    # after IDR + non-ref P, ref 0 still resolves to the IDR.
    dec = H264Decoder()
    idr = dec.decode(h264_encode_rows(2, 2, 60, [1], max_ref=2))
    nonref = dec.decode(
        h264_encode_p_rows(2, 2, (0, 0), [1, -1], frame_num=1, ref_idc=0)
    )
    assert not (nonref.y == idr.y).all()
    bw = BitWriter()
    _p_header(bw, 1, num_ref_active=1)
    bw.ue(4)  # mb_skip_run 4: all-skip, zero MV -> copy of ref 0
    bw.rbsp_trailing()
    got = dec.decode(_nal(bw))
    assert (got.y == idr.y).all()


# ---------------------------------------------------------------------------
# Per-MB ref mixing + cur-ref MVP matching (8.4.1.3.1)
# ---------------------------------------------------------------------------


def _state(mb_w, mb_h):
    return _PicState(
        nnz=np.zeros((4 * mb_h, 4 * mb_w), dtype=np.int64),
        mv=np.zeros((4 * mb_h, 4 * mb_w, 2), dtype=np.int64),
        ref4=np.full((4 * mb_h, 4 * mb_w), -2, dtype=np.int64),
        inter=np.zeros((mb_h, mb_w), dtype=bool),
        avail=np.zeros((mb_h, mb_w), dtype=bool),
        mw=mb_w, mh=mb_h,
    )


def test_per_mb_mixed_refs_decode_against_numpy_mc():
    # 3x2 picture, every MB P_L0_16x16 with its own (ref, mv, level):
    # neighbors with UNLIKE refs are non-matching in the 8.4.1.3.1
    # derivation, so the mvd stream below only decodes correctly if
    # the decoder matches refs the way the spec does. Expected pixels
    # are stitched from the trusted (separately spec-pinned) MC kernel
    # over the chosen reference planes.
    mw, mh = 3, 2
    dec, frames = _prime_frames(2, mw=mw, mh=mh, max_ref=2)
    plan = {
        (0, 0): (0, (5, -3), 2),
        (1, 0): (1, (-2, 7), 0),
        (2, 0): (0, (9, 2), -1),
        (0, 1): (1, (0, 0), 1),
        (1, 1): (0, (-6, -5), 0),
        (2, 1): (1, (13, 1), 3),
    }
    bw = BitWriter()
    _p_header(bw, 3, num_ref_active=2)
    st = _state(mw, mh)
    for mby in range(mh):
        for mbx in range(mw):
            ref, (mvx, mvy), level = plan[(mbx, mby)]
            bw.ue(0)  # mb_skip_run
            bw.ue(0)  # P_L0_16x16
            bw.u(1 - ref, 1)  # te(v) cMax 1: inverted bit
            px, py = _mvp_16x16(st, mbx, mby, cur_ref=ref)
            bw.se(mvx - px)
            bw.se(mvy - py)
            cbp = 15 if level else 0
            bw.ue(_CBP_INTER_INV[cbp])
            if cbp:
                bw.se(0)
                for brow, bcol in _BLK_ORDER:
                    aby, abx = 4 * mby + brow, 4 * mbx + bcol
                    nc = _nc_luma(st.nnz, aby, abx)
                    tc = write_residual_block(bw, [level] + [0] * 15, nc)
                    st.nnz[aby, abx] = tc
            _set_part_mv(st, 4 * mbx, 4 * mby, 4, 4, (mvx, mvy), ref)
            st.inter[mby, mbx] = True
            st.avail[mby, mbx] = True
    bw.rbsp_trailing()
    got = dec.decode(_nal(bw))
    refs = [frames[-1], frames[-2]]  # RefPicList0: newest first
    exp = np.zeros((16 * mh, 16 * mw), dtype=np.int64)
    for (mbx, mby), (ref, (mvx, mvy), level) in plan.items():
        pred = mc_luma(
            pad_ref(refs[ref].y.astype(np.int64)), 16 * mbx, 16 * mby,
            16, 16, mvx, mvy,
        )
        exp[16 * mby:16 * mby + 16, 16 * mbx:16 * mbx + 16] = np.clip(
            pred + inter_dc_offset(level), 0, 255
        )
    assert (got.y == exp).all()
    # chroma rides the same per-MB ref selection (zero residual)
    expc = np.zeros((8 * mh, 8 * mw), dtype=np.int64)
    for (mbx, mby), (ref, (mvx, mvy), _lv) in plan.items():
        expc[8 * mby:8 * mby + 8, 8 * mbx:8 * mbx + 8] = mc_chroma(
            pad_ref(refs[ref].cb.astype(np.int64)), 8 * mbx, 8 * mby,
            8, 8, mvx, mvy,
        )
    assert (got.cb == expc).all()


def test_p8x8ref0_reads_no_ref_idx_under_multi_ref():
    # Table 7-13: P_8x8ref0 (mb_type 4) pins every sub-MB ref to 0 and
    # codes NO ref_idx_l0 elements even when num_ref_idx_l0_active > 1.
    # If the decoder wrongly read ref bits the stream below would
    # desync (the mvds would be misparsed); correct decode equals
    # ref 0 exactly.
    dec, frames = _prime_frames(2)
    bw = BitWriter()
    _p_header(bw, 3, num_ref_active=2)
    for _ in range(4):  # 2x2 MBs
        bw.ue(0)  # mb_skip_run
        bw.ue(4)  # P_8x8ref0
        for _ in range(4):
            bw.ue(0)  # sub_mb_type 8x8
        # NO ref_idx_l0 here
        for _ in range(4):
            bw.se(0)  # mvd per 8x8 (predictors all zero)
            bw.se(0)
        bw.ue(_CBP_INTER_INV[0])
    bw.rbsp_trailing()
    got = dec.decode(_nal(bw))
    assert (got.y == frames[-1].y).all()


# ---------------------------------------------------------------------------
# Deblocking bS: different reference pictures -> bS 1 (8.7.2.1)
# ---------------------------------------------------------------------------


def test_bs_different_ref_pictures_is_one():
    # bs_v[by, bx] is the vertical edge between block cols bx-1 and bx
    st = _state(2, 1)
    st.inter[:, :] = True
    st.nnz[:, :] = 0
    st.mv[:, :] = (0, 0)
    st.ref4[:, :4] = 0
    st.ref4[:, 4:] = 1
    bs_v, _ = _deblock_bs_grids(st)
    # internal edge of same ref on the left MB: identical mv, no coefs
    assert bs_v[0, 1] == 0
    # MB edge between unlike-ref blocks: bS 1 despite identical mv
    assert bs_v[0, 4] == 1
    # same refs, large mv difference still bS 1
    st.ref4[:, 4:] = 0
    st.mv[:, 4:] = (8, 0)
    bs_v, _ = _deblock_bs_grids(st)
    assert bs_v[0, 4] == 1


# ---------------------------------------------------------------------------
# Whole-GOP round-trip vs an independent numpy replay (with crops)
# ---------------------------------------------------------------------------


def test_multiref_gop_matches_numpy_replay():
    # mirrors the m_h264_multiref fixture family (crops included) and
    # replays it with an independent row-constant model
    def mc_rows(src_rows, mvy):
        H = len(src_rows)
        yf = ((mvy % 4) + 4) % 4
        yi = (mvy - yf) // 4

        def at(y):
            return src_rows[min(max(y, 0), H - 1)]

        out = []
        for y in range(H):
            h1 = (at(y + yi - 2) - 5 * at(y + yi - 1) + 20 * at(y + yi)
                  + 20 * at(y + yi + 1) - 5 * at(y + yi + 2)
                  + at(y + yi + 3))
            hv = 0 if h1 + 16 < 0 else min((h1 + 16) // 32, 255)
            full = at(y + yi)
            if yf == 0:
                out.append(full)
            elif yf == 1:
                out.append((full + hv + 1) // 2)
            elif yf == 2:
                out.append(hv)
            else:
                out.append((hv + at(y + yi + 1) + 1) // 2)
        return out

    for d in (1, 7, 13, 31, 55):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        nf = 4 + (d // 27) % 2
        crop_r, crop_b = 2 * (d % 4), 2 * ((d // 5) % 3)
        aus = [h264_encode_rows(
            mw, mh, 40 + (7 * d) % 160,
            [(d + r) % 3 for r in range(1, mh)],
            crop_right=crop_r, crop_bottom=crop_b, max_ref=2,
        )]
        for f in range(1, nf):
            mvx = ((5 * d + 3 * f) % 13) - 6
            mvy = ((3 * d + 7 * f) % 23) - 11
            levels = [[0, 1, -1][(d + 2 * f + r) % 3] for r in range(mh)]
            kw = {}
            if f >= 2:
                kw = dict(
                    row_refs=[(d + f + r) % 2 for r in range(mh)],
                    num_ref_active=2,
                )
            aus.append(h264_encode_p_rows(
                mw, mh, (mvx, mvy), levels, frame_num=f, **kw
            ))
        dec = H264Decoder()
        frames = [dec.decode(au) for au in aus]
        # model: uncropped row values, two-frame history
        hist = []
        rows0 = []
        v = 40 + (7 * d) % 160
        for r in range(mh):
            if r:
                v += [0, 3, 5][(d + r) % 3]
            rows0.extend([v] * 16)
        hist.append(rows0)
        for f in range(1, nf):
            mvy = ((3 * d + 7 * f) % 23) - 11
            new = []
            mc_prev = mc_rows(hist[-1], mvy)
            mc_pprev = mc_rows(hist[-2], mvy) if len(hist) > 1 else None
            for y in range(16 * mh):
                rr = (d + f + y // 16) % 2 if f >= 2 else 0
                base = mc_prev[y] if rr == 0 else mc_pprev[y]
                lv = [0, 1, -1][(d + 2 * f + y // 16) % 3]
                new.append(min(max(base + 4 * lv, 0), 255))
            hist.append(new)
        for f in range(nf):
            exp = np.array(hist[f][: 16 * mh - crop_b], dtype=np.int64)
            got = frames[f].y.astype(np.int64)
            assert got.shape == (16 * mh - crop_b, 16 * mw - crop_r), (d, f)
            assert (got == exp[:, None]).all(), (d, f)
