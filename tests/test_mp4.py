"""ISO BMFF (MP4) mux/demux: the general/edge cases no SQL oracle can
cover — 64-bit boxes, uniform sample sizes, corrupt tables, truncation.
The closed-form happy path is oracle-verified via m_mp4_frames."""

import struct

import numpy as np
import pytest

from streams_spark.functions.jpeg import jpeg_decode, jpeg_encode
from streams_spark.functions.mp4 import (
    Mp4Error,
    _box,
    _full,
    extract_samples,
    mp4_demux,
    mp4_mux,
    walk_boxes,
)


def _grey(d, f, w, h):
    y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    return (2 * ((x // 8 + 3 * (y // 8) + d + 5 * f) % 128)).astype(np.uint8)


def _mux(d=7, nf=5, w=23, h=20, **kw):
    frames = [jpeg_encode(_grey(d, f, w, h), quality=50) for f in range(nf)]
    return frames, mp4_mux(frames, w, h, **kw)


def test_round_trip_bit_exact():
    frames, blob = _mux()
    track, out = mp4_demux(blob)
    assert out == frames
    assert (track.codec, track.width, track.height) == ("mp4v", 23, 20)
    assert track.timescale == 12288
    # alternating 512/1024 stts -> cumulative DTS
    assert [s.dts for s in track.samples] == [0, 512, 1536, 2048, 3072]
    assert track.duration == 3584
    # and the samples really decode
    assert np.array_equal(np.squeeze(jpeg_decode(out[4])), _grey(7, 4, 23, 20))


def test_single_frame_and_two_frames():
    for nf in (1, 2):
        frames, blob = _mux(nf=nf)
        _, out = mp4_demux(blob)
        assert out == frames


def test_custom_uniform_durations_collapse_stts():
    frames, blob = _mux(nf=4, durations=[600] * 4)
    track, _ = mp4_demux(blob)
    assert [s.duration for s in track.samples] == [600] * 4
    assert [s.dts for s in track.samples] == [0, 600, 1200, 1800]
    # uniform durations must encode as ONE stts run
    stts = blob[blob.index(b"stts") + 8 :]
    assert struct.unpack_from(">I", stts, 0)[0] == 1


def test_walk_boxes_top_level():
    _, blob = _mux()
    types = [t for t, _, _ in walk_boxes(blob)]
    assert types == ["ftyp", "free", "mdat", "moov"]


def test_unknown_boxes_are_skipped():
    frames, blob = _mux(nf=2)
    # splice an unknown box between free and mdat; stco offsets shift,
    # so rebuild via mux with the insert simulated instead: wrap the
    # whole file's moov lookup path by prepending junk INSIDE moov is
    # invasive — instead verify the walker itself skips unknowns
    junk = _box(b"junk", b"\x00" * 11)
    buf = junk + blob
    types = [t for t, _, _ in walk_boxes(buf)]
    assert types[0] == "junk"
    # demux still finds moov but stco offsets are now shifted; samples
    # resolve to wrong bytes — that is the CORRECT absolute-offset
    # contract (stco is file-absolute), so only assert structure here
    track = extract_samples(buf)
    assert len(track.samples) == 2


def test_largesize_mdat_and_co64_path():
    # hand-build a file using a 64-bit largesize mdat and co64 offsets
    frames = [b"AAAA", b"BBBBBB", b"CC"]
    sizes = [len(f) for f in frames]
    payload = b"".join(frames)
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(payload)) + payload
    base = len(mdat) - len(payload)
    offsets = [base, base + sizes[0] + sizes[1]]  # chunks: [s0,s1], [s2]
    stsd = _full(
        b"stsd", 0, 0,
        struct.pack(">I", 1)
        + _box(
            b"mp4v",
            b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
            + struct.pack(">HH", 9, 7) + b"\x00" * 50,
        ),
    )
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, 3, 100))
    stsc = _full(
        b"stsc", 0, 0,
        struct.pack(">I", 2)
        + struct.pack(">III", 1, 2, 1)
        + struct.pack(">III", 2, 1, 1),
    )
    stsz = _full(
        b"stsz", 0, 0,
        struct.pack(">II", 0, 3) + b"".join(struct.pack(">I", s) for s in sizes),
    )
    co64 = _full(
        b"co64", 0, 0,
        struct.pack(">I", 2) + b"".join(struct.pack(">Q", o) for o in offsets),
    )
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + co64)
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, 1000, 300, 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide" + b"\x00" * 13)
    minf = _box(b"minf", _box(b"dinf", b"") + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", mdia)
    moov = _box(b"moov", trak)
    buf = mdat + moov
    track, out = mp4_demux(buf)
    assert out == frames
    assert (track.width, track.height) == (9, 7)
    assert [s.dts for s in track.samples] == [0, 100, 200]


def test_uniform_stsz():
    frames = [b"XYZW", b"QRST"]
    blob = mp4_mux(frames, 4, 4)
    # flip stsz to the uniform form IN PLACE (sample_size=4, count=2);
    # the old per-sample entries become trailing bytes inside stsz,
    # which the parser must ignore when sample_size != 0 (box sizes up
    # the tree stay valid because the length doesn't change)
    i = blob.index(b"stsz")
    start = i + 4 + 4  # past type + version/flags
    buf = blob[:start] + struct.pack(">II", 4, 2) + blob[start + 8 :]
    _, out = mp4_demux(buf)
    assert out == frames


def test_truncated_header_raises():
    _, blob = _mux(nf=2)
    with pytest.raises(Mp4Error):
        list(walk_boxes(blob[: len(blob) - 3], 0, len(blob) - 3))


def test_missing_moov_raises():
    with pytest.raises(Mp4Error, match="moov"):
        mp4_demux(_box(b"ftyp", b"isom") + _box(b"mdat", b"xx"))


def test_bad_box_size_raises():
    buf = struct.pack(">I", 3) + b"ftyp"  # size < header
    with pytest.raises(Mp4Error, match="bad size"):
        list(walk_boxes(buf))


def test_stts_undercoverage_raises():
    frames, blob = _mux(nf=3)
    # corrupt stts to cover only 1 sample: entry_count 1, count 1
    i = blob.index(b"stts")
    start = i + 4 + 4  # past type + version/flags
    patched = (
        blob[:start]
        + struct.pack(">III", 1, 1, 512)
        + blob[start + 12 :]
    )
    # keep total box length valid by rebuilding: easier — shrink count
    # in place: entry_count=1 with first run (1, 512); remaining old
    # run bytes become trailing garbage inside stts, which the parser
    # must ignore (it reads entry_count entries only)
    with pytest.raises(Mp4Error, match="stts covers"):
        extract_samples(patched)


def test_sample_past_eof_raises():
    frames, blob = _mux(nf=2)
    # truncate mdat mid-sample but keep moov intact by moving moov up
    types = {t: (p0, p1) for t, p0, p1 in walk_boxes(blob)}
    m0, m1 = types["moov"]
    moov = blob[m0 - 8 : m1]
    cut = blob[: types["mdat"][1] - 3]  # drop last 3 payload bytes
    with pytest.raises(Mp4Error):
        mp4_demux(cut[: len(cut)] + moov)


def test_sample_past_eof_raises_in_extract_samples():
    # an stsz entry that runs past EOF fails in the one demux entry
    # point, not later as a short slice inside a codec
    from streams_spark.operators.multimodal import _h264_gop_aus

    aus, w, h = _h264_gop_aus(2)
    blob = bytearray(mp4_mux(aus, w, h, sync_every=len(aus)))
    i = blob.index(b"stsz") + 4 + 4  # past type + version/flags
    _, count = struct.unpack_from(">II", blob, i)
    last = i + 8 + 4 * (count - 1)
    (size,) = struct.unpack_from(">I", blob, last)
    struct.pack_into(">I", blob, last, size + 5000)
    with pytest.raises(Mp4Error, match=f"sample {count - 1} extends past EOF"):
        extract_samples(bytes(blob))


def test_stss_keyframes_only():
    frames, _ = _mux(nf=6, d=11, w=16, h=12)
    blob = mp4_mux(frames, 16, 12, sync_every=3)  # syncs: samples 1, 4
    track, all_out = mp4_demux(blob)
    assert [s.sync for s in track.samples] == [
        True, False, False, True, False, False,
    ]
    assert all_out == frames
    ktrack, key_out = mp4_demux(blob, keyframes_only=True)
    assert key_out == [frames[0], frames[3]]
    assert [s.dts for s in ktrack.samples] == [0, 2048]


def test_no_stss_means_all_sync():
    frames, blob = _mux(nf=3)
    track, out = mp4_demux(blob, keyframes_only=True)
    assert out == frames  # MJPEG all-intra: every sample is sync
    assert all(s.sync for s in track.samples)


def test_video_track_selected_by_handler():
    # hand-build a two-track file with a 'soun' trak FIRST; the demuxer
    # must skip it and resolve the 'vide' trak's tables
    frames = [b"VID1VID1", b"VID2"]
    sizes = [len(f) for f in frames]
    payload = b"".join(frames)
    mdat = _box(b"mdat", payload)
    base = 8

    def _trak(handler: bytes, w: int, h: int, offs, szs):
        stsd = _full(
            b"stsd", 0, 0,
            struct.pack(">I", 1)
            + _box(
                b"mp4v",
                b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
                + struct.pack(">HH", w, h) + b"\x00" * 50,
            ),
        )
        stts = _full(b"stts", 0, 0, struct.pack(">III", 1, len(szs), 10))
        stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, len(szs), 1))
        stsz = _full(
            b"stsz", 0, 0,
            struct.pack(">II", 0, len(szs))
            + b"".join(struct.pack(">I", s) for s in szs),
        )
        stco = _full(
            b"stco", 0, 0,
            struct.pack(">I", len(offs))
            + b"".join(struct.pack(">I", o) for o in offs),
        )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        mdhd = _full(
            b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, 600, 20, 0x55C4, 0)
        )
        hdlr = _full(
            b"hdlr", 0, 0,
            struct.pack(">I", 0) + handler + b"\x00" * 13,
        )
        minf = _box(b"minf", stbl)
        return _box(b"trak", _box(b"mdia", mdhd + hdlr + minf))

    # the audio trak points at garbage offsets deliberately — if the
    # demuxer picks it, the extracted "frames" won't match
    audio = _trak(b"soun", 0, 0, [0], [4])
    video = _trak(b"vide", 9, 7, [base, base + sizes[0]], sizes)
    moov = _box(b"moov", audio + video)
    track, out = mp4_demux(mdat + moov)
    assert out == frames
    assert (track.width, track.height) == (9, 7)


def test_chunk_plan_partial_final_chunk():
    # 6 samples -> chunks [1, 2, 2, 1]: multi-run stsc with partial end
    frames, blob = _mux(nf=6, d=11, w=16, h=12)
    track, out = mp4_demux(blob)
    assert out == frames
    stsc = blob[blob.index(b"stsc") + 8 :]
    n_runs = struct.unpack_from(">I", stsc, 0)[0]
    assert n_runs == 3  # runs: (1,1), (2,2), (4,1)


def _patch_stsc_entry(blob: bytes, entry: int, first_chunk: int) -> bytes:
    # stsc box: type at index(b"stsc"); +4 version/flags, +8 entry_count,
    # +12 first (first_chunk, samples_per_chunk, desc_idx) triple
    at = blob.index(b"stsc") + 12 + 12 * entry
    return blob[:at] + struct.pack(">I", first_chunk) + blob[at + 4 :]


def test_stsc_first_chunk_zero_raises():
    # first_chunk=0 would silently wrap chunk_offsets[-1] via Python
    # negative indexing (wrong bytes, NO error) without the bounds check
    _, blob = _mux(nf=6, d=11, w=16, h=12)
    with pytest.raises(Mp4Error, match="first_chunk 0 outside"):
        extract_samples(_patch_stsc_entry(blob, 0, 0))


def test_stsc_first_chunk_past_chunks_raises():
    _, blob = _mux(nf=6, d=11, w=16, h=12)
    with pytest.raises(Mp4Error, match="outside 1..4"):
        extract_samples(_patch_stsc_entry(blob, 0, 999))


def test_stsc_nonmonotonic_runs_raise():
    # nf=6 muxes 3 stsc runs (see test_chunk_plan_partial_final_chunk);
    # rewind run 2's first_chunk onto run 1's -> spec violation 14496-12
    # §8.7.4 (entries ordered by first_chunk)
    _, blob = _mux(nf=6, d=11, w=16, h=12)
    with pytest.raises(Mp4Error, match="not strictly increasing"):
        extract_samples(_patch_stsc_entry(blob, 1, 1))


def test_hostile_stts_count_no_allocation_blowup():
    # a corrupt stts run count near 2^32 must NOT expand a multi-billion
    # element list: expansion is capped at the stsz sample count
    _, blob = _mux(nf=3)
    at = blob.index(b"stts") + 12  # first run's sample count
    patched = blob[:at] + struct.pack(">I", 0xFFFFFFF0) + blob[at + 4 :]
    track = extract_samples(patched)  # returns fast, bounded memory
    assert len(track.samples) == 3
    assert [s.duration for s in track.samples] == [512] * 3


def test_truncated_table_raises_mp4error_not_struct_error():
    # blow up stsz's declared count so unpack runs past the payload:
    # must surface as Mp4Error, not a bare struct.error (one exception
    # type for every corrupt-file shape)
    _, blob = _mux(nf=3)
    at = blob.index(b"stsz") + 12  # uniform=0 at +8, count at +12
    patched = blob[:at] + struct.pack(">I", 1 << 20) + blob[at + 4 :]
    with pytest.raises(Mp4Error, match="truncated/corrupt sample table"):
        extract_samples(patched)


# ---------------------------------------------------------------------------
# avc1/avcC packaging (14496-15)
# ---------------------------------------------------------------------------


def _gop_aus(mw=3, mh=2, nf=4):
    from streams_spark.functions.h264 import (
        h264_encode_p_rows, h264_encode_rows,
    )

    aus = [h264_encode_rows(mw, mh, 90, [1] * (mh - 1),
                            crop_right=2, crop_bottom=2)]
    for f in range(1, nf):
        aus.append(h264_encode_p_rows(
            mw, mh, (3, -5), [0] * (mh - 1) + [1], frame_num=f))
    return aus


def _decode_track(buf):
    from streams_spark.functions.h264 import H264Decoder
    from streams_spark.functions.mp4 import access_units

    track = extract_samples(buf)
    dec = H264Decoder()
    return track, [dec.decode(au) for _, au in access_units(buf, track)]


@pytest.mark.parametrize("nls", [2, 4])
def test_avc1_decodes_pixel_identical_to_annexb(nls):
    from streams_spark.functions.mp4 import mp4_mux_avc

    aus = _gop_aus()
    plain = mp4_mux(aus, 46, 30, sync_every=len(aus))
    avc = mp4_mux_avc(aus, 46, 30, nal_length_size=nls,
                      sync_every=len(aus))
    t0, ref = _decode_track(plain)
    t1, got = _decode_track(avc)
    assert t0.codec == "mp4v" and t0.avcc is None
    assert t1.codec == "avc1" and t1.avcc.nal_length_size == nls
    assert t1.avcc.profile == 66  # baseline, lifted from the SPS
    assert len(t1.avcc.sps) == 1 and len(t1.avcc.pps) == 1
    assert [s.sync for s in t1.samples] == [s.sync for s in t0.samples]
    for a, b in zip(ref, got):
        assert (a.y == b.y).all()
        assert (a.cb == b.cb).all() and (a.cr == b.cr).all()


def test_access_units_sync_only_gets_the_parameter_sets():
    # a sync-only walk of an avc1 track keeps the IDR alone, with the
    # avcC SPS/PPS in front of it: the unit decodes on its own to the
    # same picture as the full walk's first one
    from streams_spark.functions.h264 import h264_decode
    from streams_spark.functions.mp4 import access_units, mp4_mux_avc

    aus = _gop_aus()
    buf = mp4_mux_avc(aus, 46, 30, nal_length_size=2, sync_every=len(aus))
    track = extract_samples(buf)
    kept = list(access_units(buf, track, sync_only=True))
    assert [s.index for s, _ in kept] == [0]
    assert kept[0][1] == aus[0]  # SPS + PPS + IDR slice, start-coded
    _, ref = _decode_track(buf)
    assert (h264_decode(kept[0][1]).y == ref[0].y).all()
    # mp4v samples are already Annex-B: the walk hands them out as is
    plain = mp4_mux(aus, 46, 30, sync_every=2)
    units = access_units(plain, extract_samples(plain), sync_only=True)
    assert [(s.index, au) for s, au in units] == [(0, aus[0]), (2, aus[2])]


def test_avc1_samples_are_length_prefixed_not_annexb():
    # the point of the packaging: the first 4 bytes are the first
    # NAL's length (which exactly tiles the single-slice sample), and
    # the NAL that follows is the slice itself — no start codes, no
    # in-band parameter sets
    from streams_spark.functions.mp4 import mp4_mux_avc

    aus = _gop_aus(nf=1)
    buf = mp4_mux_avc(aus, 46, 30)
    track = extract_samples(buf)
    s = track.samples[0]
    raw = buf[s.offset : s.offset + s.size]
    (ln,) = struct.unpack_from(">I", raw, 0)
    assert ln == len(raw) - 4  # single slice NAL tiles the sample
    assert raw[4] & 0x1F == 5  # IDR slice, not SPS(7)/PPS(8)


def test_avcc_roundtrip_and_ps_dedup():
    from streams_spark.functions.mp4 import (
        build_avcc, mp4_mux_avc, parse_avcc,
    )

    aus = _gop_aus()
    # every AU repeats SPS/PPS in-band: dedup must keep exactly one
    sps_pps = aus[0][: aus[0].index(b"\x00\x00\x00\x01", 8)]
    buf = mp4_mux_avc([aus[0]] + [sps_pps + au for au in aus[1:]], 46, 30)
    track = extract_samples(buf)
    assert len(track.avcc.sps) == 1 and len(track.avcc.pps) == 1
    rec = build_avcc(list(track.avcc.sps), list(track.avcc.pps), 2)
    back = parse_avcc(rec)
    assert back.sps == track.avcc.sps and back.pps == track.avcc.pps
    assert back.nal_length_size == 2


def test_avc3_fourcc_also_selected():
    from streams_spark.functions.mp4 import mp4_mux_avc

    buf = bytearray(mp4_mux_avc(_gop_aus(nf=2), 46, 30))
    i = buf.index(b"avc1", 200)  # the stsd entry, past ftyp
    buf[i : i + 4] = b"avc3"
    track, got = _decode_track(bytes(buf))
    assert track.codec == "avc3" and track.avcc is not None
    assert len(got) == 2


def test_corrupt_avcc_version_rejected():
    from streams_spark.functions.mp4 import mp4_mux_avc

    buf = bytearray(mp4_mux_avc(_gop_aus(nf=1), 46, 30))
    i = buf.index(b"avcC") + 4
    buf[i] = 2  # configurationVersion
    with pytest.raises(Mp4Error, match="configurationVersion"):
        extract_samples(bytes(buf))


def test_corrupt_avcc_reserved_length_size_rejected():
    from streams_spark.functions.mp4 import mp4_mux_avc

    buf = bytearray(mp4_mux_avc(_gop_aus(nf=1), 46, 30))
    i = buf.index(b"avcC") + 4
    buf[i + 4] = (buf[i + 4] & 0xFC) | 2  # lengthSizeMinusOne=2
    with pytest.raises(Mp4Error, match="reserved"):
        extract_samples(bytes(buf))


def test_corrupt_avcc_truncated_sps_rejected():
    from streams_spark.functions.mp4 import mp4_mux_avc

    buf = bytearray(mp4_mux_avc(_gop_aus(nf=1), 46, 30))
    i = buf.index(b"avcC") + 4
    # SPS length field lives at offset 6..8 of the record; blow it up
    buf[i + 6] = 0xFF
    with pytest.raises(Mp4Error, match="length out of range"):
        extract_samples(bytes(buf))


def test_avc1_missing_avcc_rejected():
    from streams_spark.functions.mp4 import mp4_mux_avc

    buf = bytearray(mp4_mux_avc(_gop_aus(nf=1), 46, 30))
    i = buf.index(b"avcC")
    buf[i : i + 4] = b"avcX"
    with pytest.raises(Mp4Error, match="missing avcC"):
        extract_samples(bytes(buf))


def test_avc_sample_length_walk_desync_rejected():
    from streams_spark.functions.mp4 import avc_sample_to_annexb

    nal = b"\x65" + b"\xab" * 10
    good = len(nal).to_bytes(4, "big") + nal
    assert avc_sample_to_annexb(good, 4).endswith(nal)
    with pytest.raises(Mp4Error, match="out of range"):
        avc_sample_to_annexb(len(nal).to_bytes(4, "big")[:-1] + b"\xff" + nal, 4)
    with pytest.raises(Mp4Error, match="out of range"):
        avc_sample_to_annexb((0).to_bytes(4, "big") + nal, 4)
    with pytest.raises(Mp4Error, match="truncated NAL length"):
        avc_sample_to_annexb(good + b"\x00\x00", 4)
    with pytest.raises(Mp4Error, match="empty"):
        avc_sample_to_annexb(b"", 4)


def test_mux_avc_rejects_ps_only_au_and_oversize_nal():
    from streams_spark.functions.mp4 import mp4_mux_avc

    aus = _gop_aus(nf=1)
    sps_pps = aus[0][: aus[0].index(b"\x00\x00\x00\x01", 8)]
    with pytest.raises(Mp4Error, match="only parameter-set"):
        mp4_mux_avc([aus[0], sps_pps], 46, 30)
    big = b"\x00\x00\x00\x01\x65" + b"\x55" * 300
    with pytest.raises(Mp4Error, match="exceeds"):
        mp4_mux_avc([aus[0], big], 46, 30, nal_length_size=1)
