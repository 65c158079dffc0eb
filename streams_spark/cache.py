"""Session cache: per-session DataFrames derived from files and held on
the driver.

What belongs here is a frame a driver-side builder makes from the files
under an sf_dir or a feed path and that later calls in the same Spark
session should get back as the same object: a resolved parquet scan, a
`.cache()`d signature table, edge list or element stream. Nothing on the
worker side belongs here (Python workers import only `functions/*`), and
nothing on disk: staged feeds persist across processes and stay in
`sources/feed_cache.py`.
"""

from __future__ import annotations

import contextlib

from py4j.protocol import Py4JError

# (applicationId, *key) -> (identity, frame)
_ENTRIES: dict = {}
_bypassing = False


def memo(spark, key: tuple, build, identity=None):
    """The frame memoized under `key` in this Spark session, made by
    `build()` on first use (or when `identity` no longer matches the one
    it was built against).

    The key starts with the session's applicationId: a frame belongs to
    one session, and a new session must not be handed a stopped one's.
    One entry per key, holding the identity it was built against: a
    changed identity (e.g. a parquet file rewritten in place) replaces
    the entry, so the cache stays bounded by the number of distinct
    keys. Builders call `.cache()` themselves where the rows should stay
    in executor memory; an uncached frame is still worth memoizing for
    its plan (a parquet source's footer read and DataSource resolution
    cost ~0.11 s of driver time per `spark.read.parquet`). Spark's
    CacheManager would also dedupe a repeated `.cache()` of the same
    plan, but rebuilding that plan each call costs 65-155 ms of driver
    time against ~0.2 ms for a memo hit (sf0.01, local[4]), and the memo
    makes each frame's lifetime visible and releasable by `clear()`."""
    if _bypassing:
        return build()
    k = (spark.sparkContext.applicationId, *key)
    hit = _ENTRIES.get(k)
    if hit is not None and hit[0] == identity:
        return hit[1]
    df = build()
    _ENTRIES[k] = (identity, df)
    return df


def clear() -> None:
    """Unpersist every memoized frame that was `.cache()`d and drop every
    entry."""
    for _, df in _ENTRIES.values():
        if df.is_cached:
            try:
                df.unpersist()
            except Py4JError:
                pass  # its session was stopped, and its blocks with it
    _ENTRIES.clear()


@contextlib.contextmanager
def bypass():
    """Inside the block every `memo` call builds afresh and stores
    nothing; entries made before it are kept for after it."""
    global _bypassing
    prev, _bypassing = _bypassing, True
    try:
        yield
    finally:
        _bypassing = prev
