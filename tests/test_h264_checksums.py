"""Bit-exact checksum gate for the H.264 decoder: one md5 over every
decoded y/cb/cr plane of a fixed ~500-frame corpus built by the
module's own fixture encoders.

The corpus covers every decode path the media rows run:

- the m_h264_gop groups of pictures (P_L0_16x16 + P_Skip, fractional
  MVs, cropping);
- h264_encode_p_partitions GOPs, 16x8 / 8x16 / P_8x8 and the 8x4,
  4x8 and 4x4 sub-partitions;
- one- and multi-column intra pictures (Intra_16x16 and Intra_4x4)
  with the in-loop deblocking filter on;
- P pictures over a filtered IDR, themselves filtered;
- multi-reference P pictures (two-deep DPB, per-row ref_idx);
- P pictures whose MVs reach far outside the picture (up to ~300
  samples), so motion compensation clamps into the padded reference.

Any change to the decoder that alters one sample changes the md5; a
change that keeps every sample keeps it."""

import hashlib
import time

import numpy as np

from streams_spark.functions import h264 as h
from streams_spark.operators.multimodal import _h264_gop_aus

CORPUS_MD5 = "29aa525801e0d12b116df2d8d83601eb"
CORPUS_FRAMES = 492


def _gop_corpus():
    # the m_h264_gop feed's GOPs (even doc ids 0..80: 3, 4 and 5 frames)
    for d in range(0, 81, 2):
        yield _h264_gop_aus(d)[0]


def _partition_corpus():
    # the m_h264_partitions feed's GOPs: row modes cycle 16x8, 8x16,
    # P_8x8, all-8x4 and mixed 4x8+4x4 sub-partitions
    for d in range(0, 90, 3):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        aus = [h.h264_encode_rows(
            mw, mh, 40 + (7 * d) % 160,
            [(d + r) % 3 for r in range(1, mh)],
            crop_right=2 * (d % 4), crop_bottom=2 * ((d // 5) % 3),
        )]
        for f in range(1, 3 + (d // 27) % 2):
            row_modes = []
            for r in range(mh):
                m = 1 + (d + f + r) % 5
                mv_t = (((5 * d + 3 * f + 11 * r) % 13) - 6,
                        4 * (((3 * d + 5 * f + 7 * r) % 9) - 4))
                mv_b = mv_t if m == 2 else (
                    ((5 * d + 3 * f + 11 * r + 4) % 13) - 6,
                    4 * (((d + 7 * f + 3 * r) % 9) - 4),
                )
                row_modes.append((m, mv_t, mv_b, [0, 1, -1][(d + f + r) % 3]))
            aus.append(h.h264_encode_p_partitions(mw, mh, row_modes, frame_num=f))
        yield aus


def _intra_deblock_corpus():
    mags = [0, 1, 2, 5, 9, 20, 26]
    for d in range(24):
        # one column, the m_h264_deblock shape
        mh = 2 + (d // 9) % 4
        la = (d % 7) - 3
        levels = [mags[(d + 2 * r) % 7] * (1 if (d + r) % 2 == 0 else -1)
                  for r in range(1, mh)]
        yield [h.h264_encode_rows(
            1, mh, 128 + h.dc_offset(la), levels,
            crop_right=2 * (d % 4), deblock=True, anchor_level=la,
        )]
        # several columns: vertical MB edges and the H/DC interior MBs
        mw = 2 + d % 3
        yield [h.h264_encode_rows(
            mw, mh, 128 + h.dc_offset(la), levels,
            deblock=True, anchor_level=la,
        )]
        # Intra_4x4 with the filter on
        yield [h.h264_encode_i4x4_rows(
            mw, mh, 40 + (7 * d) % 160, [(d + r) % 3 for r in range(1, mh)],
            [[[0, 1, -1][(d + 2 * r + 3 * q) % 3] for q in range(4)]
             for r in range(1, mh)],
            deblock=True,
        )]


def _p_over_filtered_idr_corpus():
    for d in range(12):
        mw, mh = 1 + d % 3, 2 + d % 3
        la = (d % 5) - 2
        levels = [[5, -9, 20, -26][(d + r) % 4] for r in range(1, mh)]
        aus = [h.h264_encode_rows(
            mw, mh, 128 + h.dc_offset(la), levels,
            deblock=True, anchor_level=la,
        )]
        for f in range(1, 4):
            aus.append(h.h264_encode_p_rows(
                mw, mh, (((3 * d + f) % 9) - 4, ((5 * d + 3 * f) % 17) - 8),
                [[0, 2, -2][(d + f + r) % 3] for r in range(mh)],
                frame_num=f, deblock=True,
            ))
        yield aus


def _multiref_corpus():
    # the m_h264_multiref shape: frame 1 single-ref, later frames two
    # active references with a per-row ref_idx
    for d in range(1, 60, 6):
        mw, mh = 2 + (d // 3) % 3, 2 + (d // 9) % 3
        aus = [h.h264_encode_rows(
            mw, mh, 40 + (7 * d) % 160, [(d + r) % 3 for r in range(1, mh)],
            max_ref=2,
        )]
        for f in range(1, 5):
            multi = {} if f == 1 else {
                "row_refs": [(d + f + r) % 2 for r in range(mh)],
                "num_ref_active": 2,
            }
            aus.append(h.h264_encode_p_rows(
                mw, mh, (((5 * d + 3 * f) % 13) - 6, ((3 * d + 7 * f) % 23) - 11),
                [[0, 1, -1][(d + 2 * f + r) % 3] for r in range(mh)],
                frame_num=f, **multi,
            ))
        yield aus


def _wild_mv_corpus():
    # MVs far past any pad margin: the first P picture shifts the MB-row
    # steps to a few samples from the top and bottom edges, so a window
    # clamped with too small a margin reads different samples than the
    # per-sample clip of eq. 8-227/8-228
    wild = [(4 * 300 + 1, -4 * 25 + 3), (-4 * 290 + 2, 4 * 27 + 1),
            (3, -4 * 40 + 2), (-4 * 21 + 3, 4 * 33), (4 * 18 + 2, -4 * 19 + 1)]
    for d in range(8):
        mw, mh = 2 + d % 2, 2 + d % 3
        aus = [h.h264_encode_i4x4_rows(
            mw, mh, 40 + 13 * d, [(d + r) % 3 for r in range(1, mh)],
            [[[0, 2, -2][(d + r + q) % 3] for q in range(4)]
             for r in range(1, mh)],
        )]
        aus.append(h.h264_encode_p_rows(
            mw, mh, (2, 4 * 13 + 2), [1] * mh, frame_num=1,
        ))
        for f in range(2, 6):
            aus.append(h.h264_encode_p_rows(
                mw, mh, wild[(d + f) % 5],
                [[0, 1, -1][(d + f + r) % 3] for r in range(mh)],
                frame_num=f,
            ))
        row_modes = []
        for r in range(mh):
            m = 1 + (d + r) % 5
            mv_t = wild[(d + r) % 5]
            mv_b = mv_t if m == 2 else wild[(d + r + 2) % 5]
            row_modes.append((m, mv_t, mv_b, [0, 1, -1][(d + r) % 3]))
        aus.append(h.h264_encode_p_partitions(mw, mh, row_modes, frame_num=6))
        yield aus


def _corpus():
    yield from _gop_corpus()
    yield from _partition_corpus()
    yield from _intra_deblock_corpus()
    yield from _p_over_filtered_idr_corpus()
    yield from _multiref_corpus()
    yield from _wild_mv_corpus()


def test_decoded_corpus_md5_is_pinned():
    t0 = time.perf_counter()
    md5 = hashlib.md5()
    frames = 0
    for aus in _corpus():
        for f in h.h264_decode_gop(aus):
            for plane in (f.y, f.cb, f.cr):
                md5.update(np.asarray(plane.shape, dtype=np.int64).tobytes())
                md5.update(np.ascontiguousarray(plane).tobytes())
            frames += 1
    elapsed = time.perf_counter() - t0
    print(frames, md5.hexdigest(), f"{elapsed:.2f}s")
    assert frames == CORPUS_FRAMES
    assert md5.hexdigest() == CORPUS_MD5
    assert elapsed < 10.0
