"""H.264 P-slice (inter) decode tests: quarter-pel motion compensation
against a literal per-pixel transcription of the spec, MV prediction /
P_Skip derivation edge cases, per-MB varying motion via a test-local
encoder, GOP round-trips against an independent numpy model, and the
loud-failure contract for out-of-scope or corrupt P streams.

These pin exactly what the m_h264_gop SQL oracle cannot see: the
fixture streams there are horizontally constant, so per-position
horizontal taps, the center-j half-pel path, and per-MB MV variation
are only observable here.
"""

import numpy as np
import pytest

from streams_spark.functions.h264 import (
    _BLK_ORDER,
    _CBP_INTER,
    _CBP_INTER_INV,
    _nc_luma,
    _PicState,
    _mvp_16x16,
    _set_part_mv,
    _skip_mv,
    BitWriter,
    H264Decoder,
    H264Error,
    dc_offset,
    encode_pps,
    encode_sps,
    h264_decode,
    h264_decode_gop,
    h264_encode_p_rows,
    h264_encode_rows,
    inter_dc_offset,
    mc_chroma,
    mc_luma,
    pad_ref,
    rbsp_to_ebsp,
    write_residual_block,
)

# ---------------------------------------------------------------------------
# Table 9-4 (inter column) structural pins
# ---------------------------------------------------------------------------


def test_cbp_inter_table_is_permutation():
    assert sorted(_CBP_INTER) == list(range(48))
    assert len(_CBP_INTER) == 48


def test_cbp_inter_anchor_rows():
    # spec Table 9-4: codeNum 0 -> 0, 1 -> 16, 2 -> 1, 11 -> 15 (the
    # all-luma/no-chroma pattern the fixture encoder uses), 12 -> 47
    assert _CBP_INTER[0] == 0
    assert _CBP_INTER[1] == 16
    assert _CBP_INTER[2] == 1
    assert _CBP_INTER[11] == 15
    assert _CBP_INTER[12] == 47
    assert _CBP_INTER_INV[15] == 11


# ---------------------------------------------------------------------------
# Quarter-pel luma MC vs a literal per-pixel spec transcription
# ---------------------------------------------------------------------------


def _mc_luma_spec(ref, x0, y0, mvx, mvy, w=16, h=16):
    """Direct 8.4.2.2.1 / Figure 8-4 / Table 8-12 transcription of the
    w x h partition at (x0, y0), one pixel at a time; the center j is derived from VERTICAL-first
    intermediates (the vectorized kernel uses horizontal-first), so
    agreement also checks the separability identity."""
    H, W = ref.shape
    xI, xF, yI, yF = mvx >> 2, mvx & 3, mvy >> 2, mvy & 3

    def P(y, x):
        return int(ref[min(max(y, 0), H - 1), min(max(x, 0), W - 1)])

    def b1(y, x):  # un-rounded half-x between (y,x) and (y,x+1)
        return (
            P(y, x - 2) - 5 * P(y, x - 1) + 20 * P(y, x)
            + 20 * P(y, x + 1) - 5 * P(y, x + 2) + P(y, x + 3)
        )

    def h1(y, x):  # un-rounded half-y between (y,x) and (y+1,x)
        return (
            P(y - 2, x) - 5 * P(y - 1, x) + 20 * P(y, x)
            + 20 * P(y + 1, x) - 5 * P(y + 2, x) + P(y + 3, x)
        )

    def clip1(v):
        return min(max(v, 0), 255)

    out = np.empty((h, w), dtype=np.int64)
    for i in range(h):
        for j in range(w):
            y, x = y0 + yI + i, x0 + xI + j
            G, Gx, Gy = P(y, x), P(y, x + 1), P(y + 1, x)
            b = clip1((b1(y, x) + 16) >> 5)
            s = clip1((b1(y + 1, x) + 16) >> 5)
            hh = clip1((h1(y, x) + 16) >> 5)
            m = clip1((h1(y, x + 1) + 16) >> 5)
            # center j from VERTICAL un-rounded intermediates
            j1 = (
                h1(y, x - 2) - 5 * h1(y, x - 1) + 20 * h1(y, x)
                + 20 * h1(y, x + 1) - 5 * h1(y, x + 2) + h1(y, x + 3)
            )
            jj = clip1((j1 + 512) >> 10)

            def av(u, v):
                return (u + v + 1) >> 1

            tab = {
                (0, 0): G, (1, 0): av(G, b), (2, 0): b, (3, 0): av(Gx, b),
                (0, 1): av(G, hh), (1, 1): av(b, hh),
                (2, 1): av(b, jj), (3, 1): av(b, m),
                (0, 2): hh, (1, 2): av(hh, jj),
                (2, 2): jj, (3, 2): av(jj, m),
                (0, 3): av(Gy, hh), (1, 3): av(hh, s),
                (2, 3): av(jj, s), (3, 3): av(m, s),
            }
            out[i, j] = tab[(xF, yF)]
    return out


def test_mc_luma_all_16_subpel_positions_match_spec():
    rng = np.random.default_rng(11)
    ref = rng.integers(0, 256, size=(48, 64)).astype(np.int64)
    pad = pad_ref(ref)
    for xF in range(4):
        for yF in range(4):
            for x0, y0, bx, by, w, h in [
                (0, 0, -9, -13, 16, 16),   # clamps past the top-left corner
                (16, 16, 5, 3, 16, 16),
                (48, 32, 22, 7, 16, 16),   # clamps past the bottom-right
                (32, 0, -2, 9, 16, 16),
                # ~300 samples outside the picture, every side
                (16, 16, -300, 7, 16, 16),
                (0, 32, 290, -310, 16, 16),
                (48, 0, 3, 305, 16, 16),
                # sub-8x8 windows, in and far out of the picture
                (8, 4, 1, -2, 8, 4),
                (56, 44, 302, 296, 8, 4),
                (12, 20, -3, 4, 4, 4),
                (0, 44, -297, 301, 4, 4),
            ]:
                mvx, mvy = 4 * bx + xF, 4 * by + yF
                got = mc_luma(pad, x0, y0, w, h, mvx, mvy)
                want = _mc_luma_spec(ref, x0, y0, mvx, mvy, w, h)
                assert (got == want).all(), (xF, yF, x0, y0, w, h)


def test_mc_luma_zero_mv_is_identity():
    rng = np.random.default_rng(3)
    ref = rng.integers(0, 256, size=(32, 32)).astype(np.int64)
    got = mc_luma(pad_ref(ref), 16, 16, 16, 16, 0, 0)
    assert (got == ref[16:32, 16:32]).all()


def test_mc_luma_integer_mv_is_clamped_shift():
    rng = np.random.default_rng(4)
    ref = rng.integers(0, 256, size=(32, 48)).astype(np.int64)
    got = mc_luma(pad_ref(ref), 16, 0, 16, 16, 4 * -20, 4 * 7)
    ys = np.clip(np.arange(7, 23), 0, 31)
    xs = np.clip(np.arange(-4, 12), 0, 47)
    assert (got == ref[np.ix_(ys, xs)]).all()


def test_mc_chroma_bilinear_matches_hand_formula():
    rng = np.random.default_rng(5)
    ref = rng.integers(0, 256, size=(16, 16)).astype(np.int64)
    ref2 = rng.integers(0, 256, size=(16, 16)).astype(np.int64)
    pad, pad2 = pad_ref(ref), pad_ref(np.stack((ref, ref2)))

    def P(y, x):
        return int(ref[min(max(y, 0), 15), min(max(x, 0), 15)])

    for x0, y0, w, h in [(8, 0, 8, 8), (4, 6, 4, 2), (14, 2, 2, 2)]:
        for mvx, mvy in [
            (0, 0), (3, 5), (-7, 9), (13, -11), (8, 8),
            # ~300 samples outside the picture (8 chroma eighths each)
            (-8 * 300 + 3, 5), (8 * 290 + 6, -8 * 310 + 1),
            (4, 8 * 305 + 7), (-8 * 297, -8 * 302 + 2),
        ]:
            got = mc_chroma(pad, x0, y0, w, h, mvx, mvy)
            xI, xF, yI, yF = mvx >> 3, mvx & 7, mvy >> 3, mvy & 7
            want = np.empty((h, w), dtype=np.int64)
            for i in range(h):
                for j in range(w):
                    y, x = y0 + yI + i, x0 + xI + j
                    want[i, j] = (
                        (8 - xF) * (8 - yF) * P(y, x)
                        + xF * (8 - yF) * P(y, x + 1)
                        + (8 - xF) * yF * P(y + 1, x)
                        + xF * yF * P(y + 1, x + 1) + 32
                    ) >> 6
            assert (got == want).all(), (x0, y0, w, h, mvx, mvy)
            # the stacked (cb, cr) form computes each component alike
            both = mc_chroma(pad2, x0, y0, w, h, mvx, mvy)
            assert (both[0] == got).all(), (x0, y0, w, h, mvx, mvy)
            assert (
                both[1] == mc_chroma(pad_ref(ref2), x0, y0, w, h, mvx, mvy)
            ).all()


def test_mc_on_constant_plane_is_exact_for_any_mv():
    ref = np.full((32, 32), 177, dtype=np.int64)
    for mvx in range(-6, 7, 3):
        for mvy in range(-9, 10, 3):
            pad = pad_ref(ref)
            assert (mc_luma(pad, 8, 8, 16, 16, mvx, mvy) == 177).all()
            assert (mc_chroma(pad, 8, 8, 8, 8, mvx, mvy) == 177).all()


# ---------------------------------------------------------------------------
# MV prediction & P_Skip derivation (8.4.1.1 / 8.4.1.3)
# ---------------------------------------------------------------------------


def _state(mw, mh):
    return _PicState(
        nnz=np.zeros((4 * mh, 4 * mw), dtype=np.int64),
        mv=np.zeros((4 * mh, 4 * mw, 2), dtype=np.int64),
        ref4=np.full((4 * mh, 4 * mw), -2, dtype=np.int64),
        inter=np.zeros((mh, mw), dtype=bool),
        avail=np.zeros((mh, mw), dtype=bool),
        mw=mw, mh=mh,
    )


def _mark(st, x, y, mv, inter=True):
    st.avail[y, x] = True
    st.inter[y, x] = inter
    if inter:
        _set_part_mv(st, 4 * x, 4 * y, 4, 4, mv)
    else:
        st.ref4[4 * y : 4 * y + 4, 4 * x : 4 * x + 4] = -1


def test_mvp_first_mb_is_zero():
    st = _state(3, 3)
    assert _mvp_16x16(st, 0, 0) == (0, 0)


def test_mvp_top_row_copies_a():
    # B and C unavailable, A available: B and C take A's motion data
    st = _state(3, 3)
    _mark(st, 0, 0, (12, -8))
    assert _mvp_16x16(st, 1, 0) == (12, -8)


def test_mvp_median_of_three():
    st = _state(3, 3)
    _mark(st, 0, 1, (4, 40))   # A
    _mark(st, 1, 0, (8, 10))   # B
    _mark(st, 2, 0, (16, 20))  # C
    assert _mvp_16x16(st, 1, 1) == (8, 20)


def test_mvp_exactly_one_refidx_match_short_circuits_median():
    # A intra (refIdx -1), C intra: only B matches refIdx 0 -> mvp=mvB
    st = _state(3, 3)
    _mark(st, 0, 1, (4, 4), inter=False)
    _mark(st, 1, 0, (8, 10))
    _mark(st, 2, 0, (16, 20), inter=False)
    assert _mvp_16x16(st, 1, 1) == (8, 10)


def test_mvp_d_substitution_when_c_unavailable():
    # last column: C out of bounds -> D (above-left) substitutes
    st = _state(2, 2)
    _mark(st, 0, 1, (2, 2))   # A
    _mark(st, 1, 0, (6, 6))   # B
    _mark(st, 0, 0, (4, 4))   # D
    assert _mvp_16x16(st, 1, 1) == (4, 4)  # median(2,6,4)


def test_skip_mv_zero_when_neighbor_missing_or_zero():
    st = _state(3, 3)
    assert _skip_mv(st, 0, 1) == (0, 0)  # A missing
    _mark(st, 0, 1, (4, 4))
    _mark(st, 1, 0, (0, 0))  # B is zero-motion refIdx 0
    assert _skip_mv(st, 1, 1) == (0, 0)
    _mark(st, 1, 0, (4, 4))
    _mark(st, 2, 0, (4, 4))
    assert _skip_mv(st, 1, 1) == (4, 4)


def test_skip_mv_intra_neighbor_is_not_zero_motion():
    # an intra A is refIdx -1: the zero-motion clause must NOT fire,
    # and the median path runs with mvA=(0,0)
    st = _state(3, 3)
    _mark(st, 0, 1, (0, 0), inter=False)  # A intra
    _mark(st, 1, 0, (4, 8))               # B
    _mark(st, 2, 0, (4, 8))               # C
    assert _skip_mv(st, 1, 1) == (4, 8)   # exactly-one rule? A,-1 B,0 C,0
    # B and C both match refIdx 0 -> median((0,0),(4,8),(4,8)) = (4,8)


# ---------------------------------------------------------------------------
# Test-local per-MB P-slice encoder (varying MV + mixed intra)
# ---------------------------------------------------------------------------


def _encode_p_custom(mb_w, mb_h, mbs, frame_num=1, qp_delta=-8,
                     deblock=False):
    """One P AU where mbs[(mbx,mby)] is either ('inter', (mvx,mvy),
    level), ('skip',) or ('intra16', v_level). Mirrors the decoder's
    neighbor bookkeeping so mvd/skip/nC are all spec-derived."""
    bw = BitWriter()
    bw.ue(0)
    bw.ue(5)  # P
    bw.ue(0)
    bw.u(frame_num % 16, 4)
    bw.u(0, 1)
    bw.u(0, 1)
    bw.u(0, 1)
    bw.se(qp_delta)
    if deblock:
        bw.ue(0)
        bw.se(0)
        bw.se(0)
    else:
        bw.ue(1)
    st = _state(mb_w, mb_h)
    pending = 0
    for mby in range(mb_h):
        for mbx in range(mb_w):
            kind = mbs[(mbx, mby)]
            if kind[0] == "skip":
                pending += 1
                _set_part_mv(
                    st, 4 * mbx, 4 * mby, 4, 4, _skip_mv(st, mbx, mby)
                )
                st.inter[mby, mbx] = True
                st.avail[mby, mbx] = True
                continue
            bw.ue(pending)
            pending = 0
            if kind[0] == "intra16":
                # I16x16 DC-pred, cbp 0, one DC level: P mb_type 5 + (it)
                level = kind[1]
                bw.ue(5 + 1 + 2)  # mb_type: I16x16, pred DC, cbp 0
                bw.ue(0)  # chroma DC
                bw.se(0)  # mb_qp_delta
                nc = _nc_luma(st.nnz, 4 * mby, 4 * mbx)
                write_residual_block(bw, [level] + [0] * 15, nc)
                st.inter[mby, mbx] = False
                st.ref4[4 * mby : 4 * mby + 4, 4 * mbx : 4 * mbx + 4] = -1
                st.avail[mby, mbx] = True
                continue
            _, (mvx, mvy), level = kind
            bw.ue(0)  # P_L0_16x16
            px, py = _mvp_16x16(st, mbx, mby)
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
            _set_part_mv(st, 4 * mbx, 4 * mby, 4, 4, (mvx, mvy))
            st.inter[mby, mbx] = True
            st.avail[mby, mbx] = True
    if pending:
        bw.ue(pending)
    bw.rbsp_trailing()
    return b"\x00\x00\x00\x01" + bytes([(2 << 5) | 1]) + rbsp_to_ebsp(
        bw.to_bytes()
    )


def _random_idr(rng, mb_w, mb_h):
    """A textured IDR: I_PCM anchor + per-row DC levels (the fixture
    encoder), then we read back the DECODED planes as ground truth."""
    v0 = int(rng.integers(40, 200))
    levels = [int(rng.integers(0, 3)) for _ in range(mb_h - 1)]
    au = h264_encode_rows(mb_w, mb_h, v0, levels)
    return au


def test_per_mb_varying_mv_decodes_to_spec_mc():
    rng = np.random.default_rng(17)
    mb_w, mb_h = 3, 2
    idr = _random_idr(rng, mb_w, mb_h)
    mvs = {
        (0, 0): ("inter", (7, -5), 1),
        (1, 0): ("inter", (-3, 9), 0),
        (2, 0): ("inter", (2, 2), -1),
        (0, 1): ("inter", (0, 0), 2),
        (1, 1): ("skip",),
        (2, 1): ("inter", (13, 6), 0),
    }
    p = _encode_p_custom(mb_w, mb_h, mvs)
    dec = H264Decoder()
    f0 = dec.decode(idr)
    f1 = dec.decode(p)
    ref = f0.y.astype(np.int64)  # no crop: decoded == reference plane

    # replay the decoder's own grid bookkeeping to learn the skip MV
    st = _state(mb_w, mb_h)
    for mby in range(mb_h):
        for mbx in range(mb_w):
            kind = mvs[(mbx, mby)]
            mv = kind[1] if kind[0] == "inter" else _skip_mv(st, mbx, mby)
            _mark(st, mbx, mby, mv)
            lvl = kind[2] if kind[0] == "inter" else 0
            pred = _mc_luma_spec(ref, 16 * mbx, 16 * mby, mv[0], mv[1])
            want = np.clip(pred + inter_dc_offset(lvl, 28), 0, 255)
            got = f1.y[16 * mby : 16 * mby + 16, 16 * mbx : 16 * mbx + 16]
            assert (got == want).all(), (mbx, mby)


def test_intra_mb_inside_p_slice():
    rng = np.random.default_rng(23)
    mb_w, mb_h = 2, 2
    idr = _random_idr(rng, mb_w, mb_h)
    mvs = {
        (0, 0): ("intra16", 1),       # DC-pred from nothing -> 128 base
        (1, 0): ("inter", (4, 4), 0),
        (0, 1): ("inter", (-4, 0), 1),
        (1, 1): ("inter", (4, 4), 0),
    }
    p = _encode_p_custom(mb_w, mb_h, mvs)
    dec = H264Decoder()
    f0 = dec.decode(idr)
    f1 = dec.decode(p)
    ref = f0.y.astype(np.int64)
    # intra MB: no neighbors -> DC 128, one Intra16x16 DC level at qp 28
    want00 = np.clip(128 + dc_offset(1, 28), 0, 255)
    assert (f1.y[:16, :16] == want00).all()
    # its inter neighbor at (1,0): mvp treats the intra MB as refIdx -1
    pred10 = _mc_luma_spec(ref, 16, 0, 4, 4)
    assert (f1.y[:16, 16:32] == np.clip(pred10, 0, 255)).all()


# ---------------------------------------------------------------------------
# GOP round-trips against an independent numpy model
# ---------------------------------------------------------------------------


def _gop_model_step(rows, mvy, levels, h):
    """The reduced vertical form on horizontally-constant pictures —
    independently re-derived (also the SQL oracle's arithmetic)."""
    yI, yF = mvy >> 2, mvy & 3

    def c(y):
        return min(max(y, 0), h - 1)

    out = np.empty_like(rows)
    for y in range(h):
        G, M = rows[c(y + yI)], rows[c(y + yI + 1)]
        h1 = (
            rows[c(y + yI - 2)] - 5 * rows[c(y + yI - 1)]
            + 20 * rows[c(y + yI)] + 20 * rows[c(y + yI + 1)]
            - 5 * rows[c(y + yI + 2)] + rows[c(y + yI + 3)]
        )
        hv = min(max((h1 + 16) >> 5, 0), 255)
        v = [G, (G + hv + 1) >> 1, hv, (hv + M + 1) >> 1][yF]
        out[y] = min(max(v + inter_dc_offset(levels[y // 16], 28), 0), 255)
    return out


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_gop_round_trip_random(seed):
    rng = np.random.default_rng(seed)
    mb_w = int(rng.integers(2, 5))
    mb_h = int(rng.integers(2, 5))
    h = 16 * mb_h
    v0 = int(rng.integers(40, 200))
    intra_levels = [int(rng.integers(0, 3)) for _ in range(mb_h - 1)]
    aus = [h264_encode_rows(mb_w, mb_h, v0, intra_levels)]
    rows = np.empty(h, dtype=np.int64)
    val = v0
    for r in range(mb_h):
        if r > 0:
            val += dc_offset(intra_levels[r - 1])
        rows[16 * r : 16 * r + 16] = val
    n_p = int(rng.integers(2, 5))
    for f in range(1, n_p + 1):
        mvx = int(rng.integers(-14, 15))
        mvy = int(rng.integers(-25, 26))  # clamps engage at the edges
        levels = [int(rng.integers(-1, 2)) for _ in range(mb_h)]
        aus.append(
            h264_encode_p_rows(mb_w, mb_h, (mvx, mvy), levels, frame_num=f)
        )
        rows = _gop_model_step(rows, mvy, levels, h)
    frames = h264_decode_gop(aus)
    assert len(frames) == n_p + 1
    assert (frames[-1].y == rows[:, None]).all()
    assert (frames[-1].cb == 128).all() and (frames[-1].cr == 128).all()


def test_gop_skip_runs_appear_and_decode():
    # all-zero levels + zero MV: every MB after the first coded one
    # skips; the whole P picture must equal its reference
    aus = [h264_encode_rows(3, 3, 90, [1, 2])]
    aus.append(h264_encode_p_rows(3, 3, (0, 0), [0, 0, 0], frame_num=1))
    frames = h264_decode_gop(aus)
    assert (frames[1].y == frames[0].y).all()
    # the skip-only P AU should be tiny (a couple of ue codes + header)
    assert len(aus[1]) < 24


def test_non_reference_picture_does_not_update_dpb():
    # a nal_ref_idc=0 P picture decodes but must not become the
    # reference for the next one
    aus = [h264_encode_rows(2, 2, 90, [1])]
    # ref_idc=0: dec_ref_pic_marking is absent from the slice header
    # AND the picture must not enter the DPB
    p1_nonref = h264_encode_p_rows(
        2, 2, (0, 0), [1, 1], frame_num=1, ref_idc=0
    )
    p2 = h264_encode_p_rows(2, 2, (0, 0), [0, 0], frame_num=2)
    dec = H264Decoder()
    f0 = dec.decode(aus[0])
    f1 = dec.decode(p1_nonref)
    f2 = dec.decode(p2)
    assert (f1.y == f0.y + inter_dc_offset(1, 28)).all()
    assert (f2.y == f0.y).all()  # predicted from f0, NOT f1


# ---------------------------------------------------------------------------
# Loud failure on out-of-scope / corrupt P streams
# ---------------------------------------------------------------------------


def _p_au(body_bits, header=True, ref_idc=2):
    bw = BitWriter()
    if header:
        bw.ue(0)
        bw.ue(5)
        bw.ue(0)
        bw.u(1, 4)
        bw.u(0, 1)
        bw.u(0, 1)
        bw.u(0, 1)
        bw.se(-8)
        bw.ue(1)
    body_bits(bw)
    bw.rbsp_trailing()
    return b"\x00\x00\x00\x01" + bytes([(ref_idc << 5) | 1]) + rbsp_to_ebsp(
        bw.to_bytes()
    )


def _primed_decoder(mb_w=2, mb_h=2):
    dec = H264Decoder()
    dec.decode(h264_encode_rows(mb_w, mb_h, 90, [1] * (mb_h - 1)))
    return dec


def test_p_slice_without_reference_raises():
    dec = H264Decoder()
    dec.sps = None
    with pytest.raises(H264Error, match="slice before SPS/PPS"):
        dec.decode(h264_encode_p_rows(2, 2, (0, 0), [0, 0]))
    dec2 = H264Decoder()
    # prime SPS/PPS only (no picture): IDR headers without the slice
    dec2.decode(h264_encode_rows(2, 2, 90, [1]))
    dec3 = H264Decoder()
    dec3.sps, dec3.pps = dec2.sps, dec2.pps
    with pytest.raises(H264Error, match="no decoded reference"):
        dec3.decode(h264_encode_p_rows(2, 2, (0, 0), [0, 0]))


def test_invalid_sub_mb_type_and_mb_type_rejected():
    # sub_mb_types 0..3 all decode since the r11 sub-partition
    # extension; Table 7-18 has nothing past 3, and the mb_type gap
    # between the partition modes and intra stays invalid
    dec = _primed_decoder()
    au = _p_au(
        lambda bw: (
            bw.ue(0), bw.ue(3),  # P_8x8
            bw.ue(4), bw.ue(0), bw.ue(0), bw.ue(0),
        )
    )
    with pytest.raises(H264Error, match="sub_mb_type"):
        dec.decode(au)
    au = _p_au(lambda bw: (bw.ue(0), bw.ue(9)))  # invalid mb_type gap
    with pytest.raises(H264Error):
        dec.decode(au)


def test_num_ref_beyond_dpb_rejected():
    # multi-reference P decode landed in r11; what must STILL fail
    # loudly is declaring more active L0 references than the DPB
    # holds (here: 2 active after a single IDR) — a conforming stream
    # cannot do that (8.2.4.2.1) and proceeding would leave ref_idx
    # values with no picture to resolve.
    dec = _primed_decoder()
    bw = BitWriter()
    bw.ue(0)
    bw.ue(5)
    bw.ue(0)
    bw.u(1, 4)
    bw.u(1, 1)  # num_ref_idx_active_override_flag
    bw.ue(1)    # num_ref_idx_l0_active_minus1 = 1 (two refs)
    bw.rbsp_trailing()
    au = b"\x00\x00\x00\x01\x41" + rbsp_to_ebsp(bw.to_bytes())
    with pytest.raises(H264Error, match="exceeds the 1 decoded"):
        dec.decode(au)


def test_ref_list_modification_long_term_rejected():
    # short-term RPLM is implemented (tests/test_h264_rplm.py); the
    # boundary is now LONG-TERM modification: idc 2 must still raise
    dec = _primed_decoder()
    bw = BitWriter()
    bw.ue(0)
    bw.ue(5)
    bw.ue(0)
    bw.u(1, 4)
    bw.u(0, 1)
    bw.u(1, 1)  # ref_pic_list_modification_flag_l0
    bw.ue(2)  # modification_of_pic_nums_idc 2: long_term_pic_num
    bw.ue(0)
    bw.rbsp_trailing()
    au = b"\x00\x00\x00\x01\x41" + rbsp_to_ebsp(bw.to_bytes())
    with pytest.raises(H264Error, match="long_term"):
        dec.decode(au)


def test_adaptive_ref_marking_long_term_rejected():
    # MMCO 1 (short-term forgetting) is implemented; ops 2/3/4/6
    # (long-term machinery) and 5 (reset) must still raise
    for op, pat in ((2, "MMCO 2"), (6, "MMCO 6"), (5, "MMCO 5")):
        dec = _primed_decoder()
        bw = BitWriter()
        bw.ue(0)
        bw.ue(5)
        bw.ue(0)
        bw.u(1, 4)
        bw.u(0, 1)
        bw.u(0, 1)
        bw.u(1, 1)  # adaptive_ref_pic_marking_mode_flag
        bw.ue(op)
        bw.rbsp_trailing()
        au = b"\x00\x00\x00\x01\x41" + rbsp_to_ebsp(bw.to_bytes())
        with pytest.raises(H264Error, match=pat):
            dec.decode(au)


def test_skip_run_past_picture_raises():
    dec = _primed_decoder()
    au = _p_au(lambda bw: bw.ue(40))  # 40 skips in a 4-MB picture
    with pytest.raises(H264Error, match="past the slice group"):
        dec.decode(au)


def test_cbp_codenum_out_of_range_raises():
    dec = _primed_decoder()

    def body(bw):
        bw.ue(0)   # skip run
        bw.ue(0)   # P_L0_16x16
        bw.se(0)
        bw.se(0)
        bw.ue(48)  # cbp codeNum out of range
    au = _p_au(body)
    with pytest.raises(H264Error, match="codeNum out of range"):
        dec.decode(au)


def test_truncated_p_slice_raises():
    dec = _primed_decoder(3, 3)
    good = h264_encode_p_rows(3, 3, (5, 7), [1, 2, 1], frame_num=1)
    with pytest.raises(H264Error):
        dec.decode(good[: len(good) // 2])


def test_reference_geometry_mismatch_raises():
    dec = _primed_decoder(2, 2)
    # new SPS/PPS with different geometry, then a P slice
    dec.sps = None
    dec.pps = None
    au = (
        encode_sps(3, 3) + encode_pps()
        + h264_encode_p_rows(3, 3, (0, 0), [0, 0, 0], frame_num=1)
    )
    with pytest.raises(H264Error, match="geometry mismatch"):
        dec.decode(au)


def test_undersized_p_slice_mb_count_raises():
    dec = _primed_decoder(3, 3)
    # a 2x2-worth of macroblocks in a 3x3 picture: the custom encoder
    # writes 4 coded MBs then trailing bits; decode must notice
    mbs = {(x, y): ("inter", (0, 0), 1) for x in range(2) for y in range(2)}
    au = _encode_p_custom(2, 2, mbs)
    with pytest.raises(H264Error, match="cover 4 of 9"):
        dec.decode(au)


def test_inter_dc_offset_lattice_pinned():
    # the GOP oracle hardcodes [0, 4, -4] at qp 28; pin the mapping
    assert [inter_dc_offset(v, 28) for v in (0, 1, -1)] == [0, 4, -4]
    assert inter_dc_offset(2, 28) == 8
    # and the fixture IDR lattice at qp 36 stays [0, 3, 5]
    assert [dc_offset(v) for v in (0, 1, 2)] == [0, 3, 5]


# ---------------------------------------------------------------------------
# Robustness: byte-flip sweep + hypothesis GOP round-trips
# ---------------------------------------------------------------------------


def test_p_slice_byte_flip_sweep_never_hangs_or_crashes():
    # every corrupted P AU must either decode to a correctly-shaped
    # frame (legal-but-wrong bits) or raise H264Error — any other
    # exception or a hang is a decoder defect
    idr = h264_encode_rows(3, 3, 90, [1, 2])
    p = h264_encode_p_rows(3, 3, (5, 7), [1, 0, -1], frame_num=1)
    outcomes = {"ok": 0, "error": 0}
    for i in range(5, len(p)):  # skip start code + NAL header byte
        corrupt = bytearray(p)
        corrupt[i] ^= 0x55
        dec = H264Decoder()
        dec.decode(idr)
        try:
            fr = dec.decode(bytes(corrupt))
            assert fr.y.shape == (48, 48)
            outcomes["ok"] += 1
        except H264Error:
            outcomes["error"] += 1
    assert outcomes["ok"] + outcomes["error"] == len(p) - 5
    assert outcomes["error"] > 0  # some flips must trip a guard


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:

    @settings(max_examples=40, deadline=None)
    @given(
        mb_w=st.integers(min_value=1, max_value=4),
        mb_h=st.integers(min_value=1, max_value=4),
        v0=st.integers(min_value=40, max_value=190),
        mvx=st.integers(min_value=-17, max_value=17),
        mvy=st.integers(min_value=-29, max_value=29),
        data=st.data(),
    )
    def test_gop_round_trip_hypothesis(mb_w, mb_h, v0, mvx, mvy, data):
        intra = [
            data.draw(st.integers(min_value=0, max_value=2))
            for _ in range(mb_h - 1)
        ]
        n_p = data.draw(st.integers(min_value=1, max_value=3))
        aus = [h264_encode_rows(mb_w, mb_h, v0, intra)]
        h = 16 * mb_h
        rows = np.empty(h, dtype=np.int64)
        val = v0
        for r in range(mb_h):
            if r > 0:
                val += dc_offset(intra[r - 1])
            rows[16 * r : 16 * r + 16] = val
        for f in range(1, n_p + 1):
            levels = [
                data.draw(st.integers(min_value=-1, max_value=1))
                for _ in range(mb_h)
            ]
            aus.append(
                h264_encode_p_rows(
                    mb_w, mb_h, (mvx, mvy), levels, frame_num=f
                )
            )
            rows = _gop_model_step(rows, mvy, levels, h)
        frames = h264_decode_gop(aus)
        assert (frames[-1].y == rows[:, None]).all()


# ---------------------------------------------------------------------------
# Sub-16x16 partitions: 16x8 / 8x16 / P_8x8
# ---------------------------------------------------------------------------

from streams_spark.functions.h264 import (  # noqa: E402
    _mvp_partition,
    h264_encode_p_partitions,
)


def test_mvp_directional_rules_16x8_8x16():
    # 16x8 partition 0 prefers B, partition 1 prefers A; 8x16
    # partition 0 prefers A, partition 1 prefers C — whenever that
    # neighbor is an inter (refIdx 0) partition
    st = _state(3, 3)
    _mark(st, 0, 1, (2, 2))    # A of MB (1,1)
    _mark(st, 1, 0, (6, 6))    # B
    _mark(st, 2, 0, (10, 10))  # C
    bx, by = 4, 4
    assert _mvp_partition(st, bx, by, 4, ("16x8", 0)) == (6, 6)
    assert _mvp_partition(st, bx, by + 2, 4, ("16x8", 1)) == (2, 2)
    assert _mvp_partition(st, bx, by, 2, ("8x16", 0)) == (2, 2)
    # 8x16 partition 1: C is above-right of the PARTITION (bx+2+2=8)
    assert _mvp_partition(st, bx + 2, by, 2, ("8x16", 1)) == (10, 10)
    # intra B: 16x8/0 falls through to the median path
    _mark(st, 1, 0, (0, 0), inter=False)
    assert _mvp_partition(st, bx, by, 4, ("16x8", 0)) == (2, 2)


def _partition_model_step(rows, row_modes, h):
    def c(y):
        return min(max(y, 0), h - 1)

    out = np.empty_like(rows)
    for y in range(h):
        mb_type, mv_top, mv_bot, level = row_modes[y // 16]
        mv = mv_top if (y % 16) < 8 else mv_bot
        out[y] = min(
            max(rows[c(y + (mv[1] >> 2))] + inter_dc_offset(level, 28), 0),
            255,
        )
    return out


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_partition_gop_round_trip(seed):
    rng = np.random.default_rng(seed)
    mb_w, mb_h = int(rng.integers(2, 5)), int(rng.integers(2, 5))
    h = 16 * mb_h
    v0 = int(rng.integers(60, 180))
    intra = [int(rng.integers(0, 3)) for _ in range(mb_h - 1)]
    aus = [h264_encode_rows(mb_w, mb_h, v0, intra)]
    rows = np.empty(h, dtype=np.int64)
    val = v0
    for r in range(mb_h):
        if r > 0:
            val += dc_offset(intra[r - 1])
        rows[16 * r : 16 * r + 16] = val
    for f in range(1, 4):
        row_modes = []
        for _ in range(mb_h):
            mt = int(rng.integers(1, 4))
            mv_t = (int(rng.integers(-6, 7)), 4 * int(rng.integers(-5, 6)))
            mv_b = mv_t if mt == 2 else (
                int(rng.integers(-6, 7)), 4 * int(rng.integers(-5, 6))
            )
            row_modes.append((mt, mv_t, mv_b, int(rng.integers(-1, 2))))
        aus.append(
            h264_encode_p_partitions(mb_w, mb_h, row_modes, frame_num=f)
        )
        rows = _partition_model_step(rows, row_modes, h)
    frames = h264_decode_gop(aus)
    assert (frames[-1].y == rows[:, None]).all()
    assert (frames[-1].cb == 128).all()


def test_partition_fractional_mv_against_spec_mc():
    """8x16 with a fully fractional MV on textured content: each half
    must equal the literal spec MC of its own partition geometry."""
    rng = np.random.default_rng(31)
    idr = _random_idr(rng, 2, 1)
    dec = H264Decoder()
    f0 = dec.decode(idr)
    ref = f0.y.astype(np.int64)
    mv = (7, 5)  # quarter-pel both axes
    p = h264_encode_p_partitions(
        2, 1, [(2, mv, mv, 0)], frame_num=1
    )
    f1 = dec.decode(p)
    for mbx in range(2):
        for half in range(2):
            x0 = 16 * mbx + 8 * half
            got = f1.y[:16, x0 : x0 + 8]
            want = mc_luma(pad_ref(ref), x0, 0, 8, 16, mv[0], mv[1])
            assert (got == np.clip(want, 0, 255)).all(), (mbx, half)


def test_p8x8_quadrants_with_distinct_mvs():
    rng = np.random.default_rng(37)
    idr = _random_idr(rng, 2, 2)
    dec = H264Decoder()
    f0 = dec.decode(idr)
    ref = f0.y.astype(np.int64)
    mv_t, mv_b = (5, 4 * 2), (-3, 4 * -1)
    p = h264_encode_p_partitions(
        2, 2, [(3, mv_t, mv_b, 0), (3, mv_b, mv_t, 0)], frame_num=1
    )
    f1 = dec.decode(p)
    for mby, (top, bot) in enumerate([(mv_t, mv_b), (mv_b, mv_t)]):
        for mbx in range(2):
            for q in range(4):
                ox, oy = 16 * mbx + 8 * (q % 2), 16 * mby + 8 * (q // 2)
                mv = top if q < 2 else bot
                want = mc_luma(pad_ref(ref), ox, oy, 8, 8, mv[0], mv[1])
                got = f1.y[oy : oy + 8, ox : ox + 8]
                assert (got == np.clip(want, 0, 255)).all(), (mby, mbx, q)


def test_partition_byte_flip_sweep():
    idr = h264_encode_rows(3, 2, 90, [1])
    p = h264_encode_p_partitions(
        3, 2,
        [(1, (3, 8), (-2, -4), 1), (3, (0, 4), (5, 0), -1)],
        frame_num=1,
    )
    ok = err = 0
    for i in range(5, len(p)):
        corrupt = bytearray(p)
        corrupt[i] ^= 0x55
        dec = H264Decoder()
        dec.decode(idr)
        try:
            fr = dec.decode(bytes(corrupt))
            assert fr.y.shape == (32, 48)
            ok += 1
        except H264Error:
            err += 1
    assert ok + err == len(p) - 5 and err > 0


def test_pps_multi_ref_l0_default_beyond_dpb_raises():
    # A conforming PPS may default num_ref_idx_l0_active to >1; a P
    # slice that does not override it inherits that default (7.4.3),
    # and with only one picture in the DPB the 2-entry RefPicList0
    # cannot be built — the slice header must fail loudly BEFORE the
    # macroblock layer would misparse the absent ref_idx elements.
    rng = np.random.default_rng(7)
    idr = _random_idr(rng, 2, 2)
    p = _encode_p_custom(2, 2, {(x, y): ("skip",) for x in range(2)
                                for y in range(2)})
    dec = H264Decoder()
    dec.decode(idr)
    bad_pps = encode_pps(qp=36, ref_l0_default=1)
    with pytest.raises(H264Error, match="exceeds the 1 decoded"):
        dec.decode(bad_pps + p)


def test_pps_multi_ref_l0_default_with_override_decodes():
    # Same PPS, but the slice pins num_ref_idx_l0_active back to 1 via
    # the override flag: decodes identically to the default-PPS stream.
    rng = np.random.default_rng(7)
    idr = _random_idr(rng, 2, 2)
    mvs = {(0, 0): ("inter", (4, -4), 1), (1, 0): ("skip",),
           (0, 1): ("skip",), (1, 1): ("inter", (0, 8), 0)}
    p_plain = _encode_p_custom(2, 2, mvs)
    # rebuild the P slice with override: flip the override flag bit and
    # add num_ref_idx_l0_active_minus1=0. The helper writes the three
    # flag bits together, so re-encode by hand here.
    bw = BitWriter()
    bw.ue(0)
    bw.ue(5)
    bw.ue(0)
    bw.u(1, 4)  # frame_num
    bw.u(1, 1)  # num_ref_idx_active_override_flag
    bw.ue(0)  # num_ref_idx_l0_active_minus1 -> 1 reference
    bw.u(0, 1)  # ref_pic_list_modification
    bw.u(0, 1)  # adaptive marking
    bw.se(-8)
    bw.ue(1)  # disable deblocking
    # macroblock layer: copy the plain slice's payload bit-exactly is
    # not possible post-header, so just use all-skip (mb_skip_run 4).
    bw.ue(4)
    bw.rbsp_trailing()
    p_override = b"\x00\x00\x00\x01" + bytes([(2 << 5) | 1]) + rbsp_to_ebsp(
        bw.to_bytes()
    )
    dec = H264Decoder()
    f0 = dec.decode(idr)
    f1 = dec.decode(encode_pps(qp=36, ref_l0_default=1) + p_override)
    # all-skip P picture with zero skip MVs: identical to the reference
    assert (f1.y == f0.y).all()


def test_constrained_intra_pred_p_slice_raises():
    # cip=1 requires intra-in-P neighbor availability gating this
    # decoder does not implement (8.3.1.1/8.3.1.2); decoding anyway
    # would be silently wrong, so the slice header must raise.
    rng = np.random.default_rng(9)
    idr = _random_idr(rng, 2, 2)
    p = _encode_p_custom(2, 2, {(x, y): ("skip",) for x in range(2)
                                for y in range(2)})
    dec = H264Decoder()
    dec.decode(idr)
    with pytest.raises(H264Error, match="constrained_intra_pred"):
        dec.decode(encode_pps(qp=36, cip=True) + p)


def test_constrained_intra_pred_i_only_still_decodes():
    # cip only constrains intra-in-P; an I-only stream under a cip=1
    # PPS decodes unchanged (every neighbor is intra).
    au = h264_encode_rows(2, 2, 80, [1])
    base = h264_decode(au)
    # splice the cip PPS in place of the original (SPS | PPS | slice)
    sps = encode_sps(2, 2)
    assert au.startswith(sps)
    rest = au[len(sps):]
    plain_pps = encode_pps()
    assert rest.startswith(plain_pps)
    swapped = sps + encode_pps(cip=True) + rest[len(plain_pps):]
    got = h264_decode(swapped)
    assert (got.y == base.y).all()


# ---------------------------------------------------------------------------
# r11: sub-8x8 partitions (8x4 / 4x8 / 4x4, Table 7-18)
# ---------------------------------------------------------------------------

_SUB_GEOM = {
    0: ((0, 0, 2, 2),),
    1: ((0, 0, 2, 1), (0, 1, 2, 1)),
    2: ((0, 0, 1, 2), (1, 0, 1, 2)),
    3: ((0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)),
}


class _SpecMvGrid:
    """Test-local literal 8.4.1.3 / 8.4.1.3.2 transcription,
    INDEPENDENT of the module's _mvp_partition: its own 4x4 mv/ref
    grids and decode-order mask. Any divergence between this and the
    decoder's derivation shows up as wrong pixels in the test below."""

    def __init__(self, mw, mh):
        self.mw, self.mh = mw, mh
        self.mv = {}  # (bx, by) -> (mvx, mvy)
        self.ref = {}  # (bx, by) -> 0 inter / -1 intra
        self.done = set()

    def _nb(self, bx, by):
        if not (0 <= bx < 4 * self.mw and 0 <= by < 4 * self.mh):
            return (0, 0), -1, False
        if (bx, by) not in self.done:
            return (0, 0), -1, False
        r = self.ref[(bx, by)]
        if r == -1:
            return (0, 0), -1, True
        return self.mv[(bx, by)], 0, True

    def mvp(self, bx, by, w4):
        mvA, rA, aA = self._nb(bx - 1, by)
        mvB, rB, aB = self._nb(bx, by - 1)
        mvC, rC, aC = self._nb(bx + w4, by - 1)
        if not aC:
            mvC, rC, aC = self._nb(bx - 1, by - 1)
        if not aB and not aC and aA:
            mvB, rB = mvA, rA
            mvC, rC = mvA, rA
        hits = [rA == 0, rB == 0, rC == 0]
        if sum(hits) == 1:
            return (mvA, mvB, mvC)[hits.index(True)]
        med = lambda a, b, c: a + b + c - min(a, b, c) - max(a, b, c)  # noqa: E731
        return (
            med(mvA[0], mvB[0], mvC[0]),
            med(mvA[1], mvB[1], mvC[1]),
        )

    def set_part(self, bx, by, w4, h4, mv):
        for dy in range(h4):
            for dx in range(w4):
                self.mv[(bx + dx, by + dy)] = mv
                self.ref[(bx + dx, by + dy)] = 0
                self.done.add((bx + dx, by + dy))


def _encode_p_sub8x8_custom(mb_w, mb_h, mbs, frame_num=1):
    """P AU where mbs[(mbx,mby)] is ('p8x8', subs[4], mvs-in-decode-
    order) or ('inter16', mv). mvd is coded against the TEST-LOCAL
    spec MVP transcription above — if the decoder's MVP differs, the
    reconstructed MVs (mvp_dec + mvd) differ and pixels go wrong."""
    bw = BitWriter()
    bw.ue(0)
    bw.ue(5)  # P
    bw.ue(0)
    bw.u(frame_num % 16, 4)
    bw.u(0, 1)
    bw.u(0, 1)
    bw.u(0, 1)
    bw.se(-8)
    bw.ue(1)  # deblocking off
    grid = _SpecMvGrid(mb_w, mb_h)
    for mby in range(mb_h):
        for mbx in range(mb_w):
            kind = mbs[(mbx, mby)]
            bw.ue(0)  # mb_skip_run
            bx0, by0 = 4 * mbx, 4 * mby
            if kind[0] == "inter16":
                bw.ue(0)
                mv = kind[1]
                px, py = grid.mvp(bx0, by0, 4)
                bw.se(mv[0] - px)
                bw.se(mv[1] - py)
                grid.set_part(bx0, by0, 4, 4, mv)
            else:
                _, subs, mvs = kind
                bw.ue(3)  # P_8x8
                for s in subs:
                    bw.ue(s)
                mi = 0
                for idx in range(4):
                    bx = bx0 + 2 * (idx % 2)
                    by = by0 + 2 * (idx // 2)
                    for sx, sy, w4, h4 in _SUB_GEOM[subs[idx]]:
                        mv = mvs[mi]
                        mi += 1
                        px, py = grid.mvp(bx + sx, by + sy, w4)
                        bw.se(mv[0] - px)
                        bw.se(mv[1] - py)
                        grid.set_part(bx + sx, by + sy, w4, h4, mv)
                assert mi == len(mvs)
            bw.ue(_CBP_INTER_INV[0])  # cbp 0: pure MC, no residual
    bw.rbsp_trailing()
    return b"\x00\x00\x00\x01" + bytes([(2 << 5) | 1]) + rbsp_to_ebsp(
        bw.to_bytes()
    )


def test_sub8x8_partitions_decode_to_spec_mc_with_spec_mvp():
    # every sub_mb_type, distinct MV per sub-partition, mvd coded
    # against an independent spec transcription of the MVP rules
    rng = np.random.default_rng(31)
    mb_w, mb_h = 3, 2
    idr = _random_idr(rng, mb_w, mb_h)

    def rmv():
        return (int(rng.integers(-13, 14)), int(rng.integers(-13, 14)))

    mbs = {
        (0, 0): ("p8x8", (3, 2, 1, 0), [rmv() for _ in range(9)]),
        (1, 0): ("p8x8", (1, 3, 0, 2), [rmv() for _ in range(9)]),
        (2, 0): ("inter16", rmv()),
        (0, 1): ("p8x8", (2, 0, 3, 1), [rmv() for _ in range(9)]),
        (1, 1): ("inter16", rmv()),
        (2, 1): ("p8x8", (3, 3, 3, 3), [rmv() for _ in range(16)]),
    }
    p = _encode_p_sub8x8_custom(mb_w, mb_h, mbs)
    dec = H264Decoder()
    f0 = dec.decode(idr)
    f1 = dec.decode(p)
    ref = f0.y.astype(np.int64)
    for (mbx, mby), kind in mbs.items():
        if kind[0] == "inter16":
            regions = [(0, 0, 16, 16, kind[1])]
        else:
            _, subs, mvs = kind
            regions, mi = [], 0
            for idx in range(4):
                for sx, sy, w4, h4 in _SUB_GEOM[subs[idx]]:
                    regions.append(
                        (
                            8 * (idx % 2) + 4 * sx,
                            8 * (idx // 2) + 4 * sy,
                            4 * w4, 4 * h4, mvs[mi],
                        )
                    )
                    mi += 1
        for ox, oy, w, h, mv in regions:
            x0, y0 = 16 * mbx + ox, 16 * mby + oy
            want = np.clip(
                _mc_luma_spec(ref, x0, y0, mv[0], mv[1], w, h), 0, 255
            )
            got = f1.y[y0 : y0 + h, x0 : x0 + w]
            assert (got == want).all(), (mbx, mby, ox, oy, w, h, mv)


def test_sub8x8_fixture_rows_byte_flip_sweep():
    # loud-failure contract over the sub-partitioned fixture shape
    idr = h264_encode_rows(3, 2, 90, [1])
    p = h264_encode_p_partitions(
        3, 2,
        [(4, (3, 8), (-2, -4), 1), (5, (0, 4), (0, -8), -1)],
        frame_num=1,
    )
    ok = err = 0
    for i in range(5, len(p)):
        corrupt = bytearray(p)
        corrupt[i] ^= 0x55
        dec = H264Decoder()
        dec.decode(idr)
        try:
            fr = dec.decode(bytes(corrupt))
            assert fr.y.shape == (32, 48)
            ok += 1
        except H264Error:
            err += 1
    assert ok + err == len(p) - 5 and err > 0
