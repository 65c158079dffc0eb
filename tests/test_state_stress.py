"""Fast pytest pin of the streaming state-growth stress (VERDICT r6 #7).

tools/stress_streaming_state.py proved per-batch latency and state size
stay flat from 10 to 100 micro-batches for the four stateful shapes;
these tests run the 20-batch variant in CI so a future lineage leak
(e.g. dropping the localCheckpoint in the engine's foreachBatch fold,
streaming_queries._fold, which the two fold shapes run through) or a
watermark-eviction regression fails the suite instead of waiting for
the next SCALING.md sweep.

Bounds are deliberately loose (ratio < 1.5 where the measured steady
state is 0.8-1.1) — they catch the LINEAR blowup a leak produces
(ratio 2-10 at 20 batches), not noise.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys
import tempfile

import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "stress_streaming_state.py",
)
_spec = importlib.util.spec_from_file_location("stress_streaming_state", _TOOL)
stress = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("stress_streaming_state", stress)
_spec.loader.exec_module(stress)

NB = 20
KEYS = 500
ROWS = 1000
RATIO_MAX = 1.5


@pytest.fixture(scope="module")
def feed(spark):
    root = tempfile.mkdtemp(prefix="pystreams_state_pin_")
    try:
        yield stress.gen_batches(spark, root, NB, KEYS, ROWS)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_session_window_state_plateaus(spark, feed):
    r = stress.run_session(spark, feed)
    assert r["batches"] == NB
    assert r["ratio"] is not None and r["ratio"] < RATIO_MAX, r
    # watermark eviction: closed sessions leave the store, so the live
    # state is O(open sessions) ~ O(keys), never O(history). Without
    # eviction 20 batches x ~KEYS sessions/batch accumulate ~NB*KEYS.
    assert r["state_rows_max"] <= 4 * KEYS, r
    # and it has PLATEAUED by mid-stream, not still climbing
    assert r["state_rows_final"] <= 2 * r["state_rows_mid"], r


def test_apply_in_pandas_state_is_o_keys(spark, feed):
    r = stress.run_run_stats(spark, feed, KEYS)
    assert r["batches"] == NB
    assert r["ratio"] is not None and r["ratio"] < RATIO_MAX, r
    # integer-moment state is exactly one row per key
    assert r["state_rows_final"] == KEYS, r


def test_ingest_fold_store_bounded_and_flat(spark, feed):
    r = stress.run_fold(spark, feed, "ingest")
    assert r["batches"] == NB
    # _fold's localCheckpoint per batch cuts lineage: every step gets a
    # one-node plan back. Without it the 20th step builds on 19 nested
    # unions and the final count re-reads every batch.
    assert r["lineage_max"] == 1, r
    assert r["ratio"] is not None and r["ratio"] < RATIO_MAX, r
    assert r["state_rows_final"] == KEYS, r


def test_cdc_fold_store_bounded_and_flat(spark, feed):
    r = stress.run_fold(spark, feed, "cdc")
    assert r["batches"] == NB
    assert r["lineage_max"] == 1, r
    assert r["ratio"] is not None and r["ratio"] < RATIO_MAX, r
    assert r["state_rows_final"] == KEYS, r
