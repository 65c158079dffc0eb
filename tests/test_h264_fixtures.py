"""Byte pins of the ten staged H.264 fixture feeds: one md5 per feed over
its (doc_id, payload) rows sorted by doc_id. The oracles predict the
decoded pixels of exactly these streams, so a fixture edit that changes
one byte shows here first, by feed name."""

import hashlib

import pytest

import streams_spark.operators.multimodal as mm

FEED_MD5 = {
    "doch264": ("h264_table_real", "9e707e1ef200adc5b99de61afc826b4d"),
    "doch264gop": ("h264_gop_table_real", "172798a4a0fbd3914777a0f78f641243"),
    "doch264avc1": ("h264_avc1_table_real", "7c008085844ce720daea4e70a7c48ee7"),
    "doch264mref": (
        "h264_multiref_table_real", "ef63587d3d205e071f1e4591081d6bcd"
    ),
    "doch264rplm": ("h264_rplm_table_real", "20c89244a9a9bf74991e9180709fd8e3"),
    "doch264part": ("h264_part_table_real", "ddcf746a77d43077e6077a1b21763e2b"),
    "doch264i4": ("h264_i4x4_table_real", "e73164b1c57239359561c3537bb47b94"),
    "doch264db": ("h264_deblock_table_real", "be9bc6b5061920abf423467b91167139"),
    "doch264sl": ("h264_slices_table_real", "78487f5a21c83fcc8a47aafe1596c7d5"),
    "doch264fmo": ("h264_fmo_table_real", "823813c7365a2d29d74937ebcb6733d0"),
}


@pytest.mark.parametrize("feed", list(FEED_MD5))
def test_h264_fixture_bytes_are_pinned(spark, sf_dir, feed):
    builder, want = FEED_MD5[feed]
    rows = getattr(mm, builder)(spark, sf_dir).collect()
    md5 = hashlib.md5()
    for doc_id, payload in sorted((int(r[0]), bytes(r[1])) for r in rows):
        md5.update(f"{doc_id}:".encode() + payload)
    assert md5.hexdigest() == want
