"""Session cache (streams_spark/cache.py): one memo per (session, key),
replaced on a changed identity, released by clear(), skipped by bypass().
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from streams_spark import cache


def _counting(make):
    """A builder that records each call; `make` returns a new frame."""
    calls = []

    def build():
        calls.append(1)
        return make()

    return build, calls


def test_memo_same_key_returns_identical_object(spark):
    build, calls = _counting(lambda: spark.range(1))
    first = cache.memo(spark, ("test_cache", "same"), build)
    assert cache.memo(spark, ("test_cache", "same"), build) is first
    assert len(calls) == 1
    assert cache.memo(spark, ("test_cache", "other"), build) is not first
    assert len(calls) == 2


def test_memo_changed_identity_replaces_entry(spark):
    """One entry per key: after identity 2 replaced identity 1, going
    back to identity 1 builds again instead of finding the old frame."""
    build, calls = _counting(lambda: spark.range(1))
    key = ("test_cache", "identity")
    a = cache.memo(spark, key, build, identity=1)
    b = cache.memo(spark, key, build, identity=2)
    assert b is not a
    assert cache.memo(spark, key, build, identity=2) is b
    assert cache.memo(spark, key, build, identity=1) not in (a, b)
    assert len(calls) == 3


def test_clear_unpersists_cached_frame_and_next_call_builds(spark):
    build, calls = _counting(lambda: spark.range(4321).cache())
    key = ("test_cache", "clear")
    df = cache.memo(spark, key, build)
    assert df.count() == 4321
    assert df.storageLevel != StorageLevel.NONE

    cache.clear()
    assert df.storageLevel == StorageLevel.NONE
    again = cache.memo(spark, key, build)
    assert again is not df
    assert len(calls) == 2


def test_bypass_builds_every_call_and_stores_nothing(spark):
    build, calls = _counting(lambda: spark.range(1))
    key = ("test_cache", "bypass")
    kept = cache.memo(spark, key, build)
    fresh_key = ("test_cache", "bypass-fresh")
    with cache.bypass():
        a = cache.memo(spark, key, build)
        b = cache.memo(spark, key, build)
        cache.memo(spark, fresh_key, build)
    assert kept is not a and a is not b
    assert len(calls) == 4
    # the entry made before the block survives it; nothing made inside
    # it was stored
    assert cache.memo(spark, key, build) is kept
    assert len(calls) == 4
    cache.memo(spark, fresh_key, build)
    assert len(calls) == 5


def test_bypass_restores_memoizing_when_its_body_raises(spark):
    build, calls = _counting(lambda: spark.range(1))
    key = ("test_cache", "bypass-raise")
    with pytest.raises(RuntimeError):
        with cache.bypass():
            cache.memo(spark, key, build)
            raise RuntimeError("boom")
    first = cache.memo(spark, key, build)
    assert cache.memo(spark, key, build) is first
    assert len(calls) == 2
