"""Build every benchmark input, untimed, before any timed run starts.

- the canonical log that log_read queries (`readlog`), ~2.1 M entries;
- the staged media and streaming feeds: each query_mix row runs once, so
  the feed caches under the benchmark's private TMPDIR are filled (a
  first call after a codec edit would otherwise re-synthesize them
  inside a timed run);
- `manifest.json`, listing those feeds and a fingerprint of the program
  sources, so `run.py` knows when to prepare again and a timed run can
  tell that it had to build a feed.

    python3 perfbench/prepare.py    # normally started by run.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, readlog  # noqa: E402
from perfbench.workloads import QUERY_ROWS  # noqa: E402


def source_fingerprint() -> list:
    """(path, mtime, size) of every program source file; the feed caches
    key on module mtimes, so any change here means preparing again."""
    out = []
    src = os.path.join(common.ROOT, "streams_spark")
    for d, _, files in sorted(os.walk(src)):
        for name in sorted(files):
            if name.endswith(".py"):
                st = os.stat(os.path.join(d, name))
                out.append([os.path.relpath(os.path.join(d, name), common.ROOT),
                            st.st_mtime_ns, st.st_size])
    return out


def is_prepared() -> bool:
    try:
        with open(common.MANIFEST) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return False
    return (
        m.get("sources") == source_fingerprint()
        and os.path.exists(os.path.join(common.READ_LOG, "_SUCCESS"))
        and all(os.path.isdir(os.path.join(common.TMP, d)) for d in m["feeds"])
    )


def main() -> None:
    from streams_spark import store
    from streams_spark.registry import load_all
    from streams_spark.session import get_spark

    spark = get_spark("perfbench-prepare")
    if os.path.exists(common.MANIFEST):
        os.remove(common.MANIFEST)
    if not os.path.exists(os.path.join(common.READ_LOG, "_SUCCESS")):
        stage = common.READ_LOG + ".build"
        shutil.rmtree(stage, ignore_errors=True)
        store.write_event_log(readlog.build(spark), stage, mode="overwrite")
        os.replace(stage, common.READ_LOG)
    registry = load_all()
    for row in QUERY_ROWS:
        registry[row].fn(spark, common.SF_DIR).write.format("noop").mode("overwrite").save()
    spark.stop()
    with open(common.MANIFEST, "w") as f:
        json.dump({"sources": source_fingerprint(), "feeds": common.feed_dirs()}, f)


if __name__ == "__main__":
    main()
