"""The closed-loop workloads: one client, one process, ops back to back.

Each workload has a fixed warm-up (sized from the evidence recorded on
its class), then measured units (one append op, or one pass over the
query rows and read verbs) while the run's time lasts, and at least
`min_units`. Every op's output is checked outside its timed
region; a failed check or an exception counts the op as failed.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from functools import partial

from perfbench import common, readlog


@dataclass
class OpResult:
    kind: str          # verb, query row, or "append"
    latency: float     # call until the result is delivered
    ack: float         # call until the call returns
    items: int
    cpu: float         # CPU seconds of the program's processes over `latency`
    ok: bool = True
    unit: int = 0      # index of the measured unit the op belongs to
    parts: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    min_units = 1  # measured units a run makes even when --seconds is up
    trace_targets: list[tuple[str, str, str]] = []  # (module, attribute, span)

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.rng = random.Random(f"{self.name}:{seed}")

    def open(self) -> None:
        """Open the inputs (part of set-up)."""

    def warmup(self) -> Iterable[Callable[[], OpResult]]:
        """The fixed warm-up ops."""
        raise NotImplementedError

    def unit(self) -> Iterable[Callable[[], OpResult]]:
        """Ops of the next measured unit; units run whole. An op's inputs
        are built before it is yielded, outside its clock."""
        raise NotImplementedError

    def finish(self) -> list[tuple[str, bool]]:
        """Untimed end-of-run checks."""
        return []

    def layer_metrics(self, results: list[OpResult], layers: list[dict]) -> dict[str, float]:
        """Per-layer readings the workload computes itself; `layers` holds
        the per-op Spark readings of a traced run (empty otherwise)."""
        return {}


# ---------------------------------------------------------------------------
# log_append
# ---------------------------------------------------------------------------

APPEND_SPACES = 4
APPEND_SEGMENTS = 8
APPEND_PER_SEGMENT = 128
BATCH_SCHEMA = "space string, segment string, sequence long, payload binary"


class LogAppend(Workload):
    """The reference's Produce -> Consume path: peek the tails, produce a
    seeded batch (4 spaces x 8 segments x 128 records, 64-byte payloads), then
    drain exactly that batch with `ConsumerContext.consume_available`.

    Warm-up evidence (4 vCPUs, 4,096-record batches built before the
    clock starts, ten runs on a quiet host): produce+consume took
    9.2-11.4, 3.2-3.9, 2.3-2.9 and 2.0-2.8 s over the first four ops and
    1.7-2.4 s over the next seven, still drifting down a few % per op as
    the JIT compiler (~2.5 busy cores through these ops) settles. While
    other guests steal even 5-15% of the CPU every op is 1.3-2x slower.
    CPU seconds per op, JIT compiler threads left out, are flat within
    ~5% from the fifth op on (2.6-2.9 s in one run). Three warm-up ops reach the plateau's shoulder; the median over the
    measured ops absorbs the fourth op's excess. A 20 s run measures
    seven to nine ops on a quiet host and at least five (`min_units`) on
    a contended one, so a slow host does not stretch the run past its
    budget.
    """

    name = "log_append"
    warmup_ops = 3
    min_units = 5
    trace_targets = [
        ("streams_spark.client", "peek_all", "client.peek_all"),
        ("streams_spark.client", "produce", "client.produce"),
        ("streams_spark.streaming.produce", "stamp_records", "produce.stamp_records"),
        ("streams_spark.streaming.produce", "validate_batch", "produce.validate_batch"),
        ("streams_spark.streaming.produce", "segment_status", "produce.segment_status"),
        ("streams_spark.store", "write_event_log", "store.write_event_log"),
        ("streams_spark.streaming.consumer.ConsumerContext", "consume_available",
         "consumer.consume_available"),
    ]

    def open(self) -> None:
        from streams_spark.streaming.consumer import ConsumerContext

        run_dir = os.path.join(common.WORK, "append")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        self.log_dir = os.path.join(run_dir, "log")
        self.consumer = ConsumerContext(
            self.spark, self.log_dir, os.path.join(run_dir, "checkpoint")
        )
        self.salt = self.rng.getrandbits(64)
        self.appended = 0  # records per segment so far

    def _next_op(self):
        """The next append op. Its batch is generated here, before the
        op's clock (and a traced run's Spark snapshot) starts, and handed
        to Spark through Arrow, so produce runs no Python workers to read
        it. Returns the op, which checks its output after its clock stops."""
        import pandas as pd
        from pyspark.sql import functions as F

        from streams_spark import client, store

        n = APPEND_PER_SEGMENT
        first = self.appended + 1
        self.appended += n
        keys = [(f"a{s}", f"g{g}") for s in range(APPEND_SPACES) for g in range(APPEND_SEGMENTS)]
        want_status = {k: [first, first + n - 1, n] for k in keys}
        want_rows = {
            (sp, seg, q): readlog.payload(self.salt, sp, seg, q)
            for sp, seg in keys
            for q in range(first, first + n)
        }
        batch = self.spark.createDataFrame(
            pd.DataFrame([(*k, v) for k, v in want_rows.items()],
                         columns=["space", "segment", "sequence", "payload"]),
            BATCH_SCHEMA,
        )

        def op():
            delivered = []

            def handler(df, _batch_id):
                delivered.extend(df.collect())

            cpu0 = common.tree_cpu_s()
            t0 = time.perf_counter()
            tails = None
            if os.path.exists(self.log_dir):
                tails = client.peek_all(store.read_event_log(self.spark, self.log_dir)).select(
                    "space", "segment", F.col("sequence").alias("last_sequence")
                )
            status = client.produce(batch, self.log_dir, last_sequences=tails)
            t_ack = time.perf_counter()
            self.consumer.consume_available(handler)
            t_end = time.perf_counter()
            cpu = common.tree_cpu_s() - cpu0

            acked = {(r.space, r.segment): [r.first_sequence, r.last_sequence, r.n]
                     for r in status}
            got = {(r.space, r.segment, r.sequence): bytes(r.payload) for r in delivered}
            ok = acked == want_status and len(delivered) == len(want_rows) and got == want_rows
            return OpResult("append", t_end - t0, t_ack - t0, len(want_rows), cpu, ok)

        return op

    def warmup(self):
        for _ in range(self.warmup_ops):
            yield self._next_op()

    def unit(self):
        yield self._next_op()

    def finish(self) -> list[tuple[str, bool]]:
        from streams_spark import client, store

        log = store.read_event_log(self.spark, self.log_dir)
        rows = client.sequence_violations(log).collect()
        got = {(r.space, r.segment): (r.n_entries, r.max_sequence, r.violations) for r in rows}
        want = {
            (f"a{s}", f"g{g}"): (self.appended, self.appended, 0)
            for s in range(APPEND_SPACES)
            for g in range(APPEND_SEGMENTS)
        }
        self.files = sum(store.log_file_stats(self.spark, self.log_dir).values())
        return [("sequence_violations", got == want)]

    def layer_metrics(self, results, layers):
        return {"store.files": float(getattr(self, "files", 0))}


# ---------------------------------------------------------------------------
# client read verbs (part of query_mix)
# ---------------------------------------------------------------------------

READ_VERBS = ["peek", "get_segment_offset", "consume_segment", "consume_space", "consume"]
PAGE = 1_000
WINDOW_MS = 1_024


class ReadVerbs:
    """Point and range verbs over the canonical log of `readlog` (written
    untimed by the prepare step): `peek`, `get_segment_offset`, 1,000-entry
    `consume_segment` pages, and `consume_space` / 2-space `consume` from
    an offset over a 1,024 ms window (1,024 entries per space). The seed
    picks spaces, segments, pages and offsets; rows returned per verb are
    fixed.
    """

    def __init__(self, spark, rng: random.Random) -> None:
        from streams_spark import store

        if not os.path.exists(os.path.join(common.READ_LOG, "_SUCCESS")):
            raise FileNotFoundError(f"prepared input missing: {common.READ_LOG}")
        self.log = store.read_event_log(spark, common.READ_LOG)
        self.rng = rng

    def _pick(self, verb: str):
        """(call returning the verb's DataFrame, the rows it must return)."""
        from streams_spark import client

        rng = self.rng
        sp = rng.randrange(readlog.SPACES)
        seg = rng.randrange(readlog.SEGMENTS)
        space, segment = readlog.space(sp), readlog.segment(seg)
        if verb == "peek":
            return partial(client.peek, self.log, space, segment), [(sp, seg, readlog.ENTRIES)]
        if verb == "get_segment_offset":
            return partial(client.get_segment_offset, self.log, space, segment), [readlog.ENTRIES]
        if verb == "consume_segment":
            lo = rng.randrange(0, readlog.ENTRIES - PAGE)
            call = partial(client.consume_segment, self.log, space, segment,
                           min_sequence=lo, max_sequence=lo + PAGE)
            return call, [(sp, seg, q) for q in range(lo + 1, lo + PAGE + 1)]
        t = rng.randrange(readlog.FIRST_TICK, readlog.LAST_TICK - WINDOW_MS + 1)
        g, q = readlog.entry_at(t)
        offset = (readlog.timestamp(t), readlog.segment(g), q)
        until = readlog.timestamp(t + WINDOW_MS)
        ticks = range(t + 1, t + WINDOW_MS + 1)
        if verb == "consume_space":
            call = partial(client.consume_space, self.log, space,
                           max_timestamp=until, offset=offset)
            return call, [(sp, *readlog.entry_at(i)) for i in ticks]
        other = (sp + 1 + rng.randrange(readlog.SPACES - 1)) % readlog.SPACES
        spaces = sorted([sp, other])
        call = partial(client.consume, self.log, {readlog.space(s): offset for s in spaces},
                       max_timestamp=until)
        return call, [(s, *readlog.entry_at(i)) for i in ticks for s in spaces]

    def op(self, verb: str):
        call, want = self._pick(verb)

        def run():
            cpu0 = common.tree_cpu_s()
            t0 = time.perf_counter()
            df = call()
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            cpu = common.tree_cpu_s() - cpu0
            return OpResult(verb, t2 - t0, t1 - t0, 1, cpu, _read_ok(verb, rows, want),
                            parts={"build_s": t1 - t0, "collect_s": t2 - t1,
                                   "rows": len(rows)})

        return run


def _read_ok(verb: str, rows, want) -> bool:
    if verb == "get_segment_offset":
        return [r.offset_sequence for r in rows] == want
    space_ix = {readlog.space(i): i for i in range(readlog.SPACES)}
    seg_ix = {readlog.segment(i): i for i in range(readlog.SEGMENTS)}
    got = [(space_ix[r.space], seg_ix[r.segment], r.sequence) for r in rows]
    if got != want:
        return False
    return all(
        bytes(r.payload) == readlog.payload(*key)
        and round(r.timestamp.timestamp() * 1000) == readlog.BASE_MS + readlog.tick(*key[1:])
        for r, key in zip(rows, got)
    )


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

# One row per codec family (video, image, audio) and two analytics rows
# (TPC-H join, near-dup LSH). The read verbs stand in for the verb rows,
# log_append for the streaming rows; more rows would not fit the run budget.
DECODE_ROWS = ["m_h264_gop", "m_jpeg_progressive", "m_mp3_census"]
ANALYTICS_ROWS = ["q9_profit_by_nation_year", "d_minhash_lsh"]
QUERY_ROWS = DECODE_ROWS + ANALYTICS_ROWS
EXPECTED = os.path.join(common.BENCH_DIR, "expected_query_mix.json")


def checksum(df) -> list[int]:
    """[row count, order-insensitive hash]: the sum over rows of the low
    32 bits of xxhash64 of every column, doubles rounded to 4 places as
    the oracles round them, maps hashed through their JSON text."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    names = [f"c{i}" for i in range(len(df.columns))]
    df = df.toDF(*names)
    cols = []
    for name, f in zip(names, df.schema.fields):
        c = F.col(name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 4)
        elif isinstance(f.dataType, T.MapType):
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))
    r = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.coalesce(F.sum("h"), F.lit(0))).first()
    return [int(r[0]), int(r[1])]


class QueryMix(Workload):
    """What analysts and log readers run: every registered row below over
    the benchmark's copy of the sf0.01 tables, each written to the noop
    sink, and every client read verb (`ReadVerbs`) collected, in a
    seed-shuffled order each pass. Decode rows exercise the Python-worker
    codecs in `functions/` via `operators/multimodal`; analytics rows run
    JVM plans in `operators/`; the verbs exercise `client`, planning and
    parquet pruning.

    Warm-up is one pass. Evidence (4 cores): the first pass over twelve
    registered rows took 32 s against 11 s for the second, and later
    passes stayed within 10% of the second; the first call of a verb took
    2-3x its steady latency, the second ~1.3x, the third ~1.1x (a second
    warm-up call per verb would add ~4 s to every run). Warm-up rows
    compute the row's checksum instead of the noop write, compared with
    `expected_query_mix.json`.

    A run measures at least two passes (~9 s each; a 20 s run starts no
    third). With one (one sample per row and verb) items_per_s spread 13%
    (quartile distance over median) across ten seeds on a quiet host;
    with two, 9% across five.
    """

    name = "query_mix"
    min_units = 2
    trace_targets = [("streams_spark.client", v, f"client.{v}") for v in READ_VERBS]

    def open(self) -> None:
        from streams_spark.registry import load_all

        for table in ("lineitem", "events", "documents"):
            if not os.path.exists(os.path.join(common.SF_DIR, f"{table}.parquet")):
                raise FileNotFoundError(f"input missing: {common.SF_DIR}/{table}.parquet")
        registry = load_all()
        self.fns = {row: registry[row].fn for row in QUERY_ROWS}
        with open(EXPECTED) as f:
            self.expected = json.load(f)
        self.verbs = ReadVerbs(self.spark, self.rng)

    def _row(self, row: str, check: bool):
        def run():
            cpu0 = common.tree_cpu_s()
            t0 = time.perf_counter()
            df = self.fns[row](self.spark, common.SF_DIR)
            t1 = time.perf_counter()
            if check:
                ok = checksum(df) == self.expected[row]
            else:
                df.write.format("noop").mode("overwrite").save()
                ok = True
            t2 = time.perf_counter()
            cpu = common.tree_cpu_s() - cpu0
            return OpResult(row, t2 - t0, t1 - t0, 1, cpu, ok,
                            parts={"build_s": t1 - t0, "action_s": t2 - t1})

        return run

    def _pass(self, check: bool) -> list:
        names = QUERY_ROWS + READ_VERBS
        self.rng.shuffle(names)
        return [self._row(n, check) if n in self.fns else self.verbs.op(n) for n in names]

    def warmup(self) -> list:
        return self._pass(check=True)

    def unit(self) -> list:
        return self._pass(check=False)

    def layer_metrics(self, results, layers):
        out = {}
        for name in QUERY_ROWS + READ_VERBS:
            mine = [r for r in results if r.kind == name]
            parts = ("build_s", "action_s") if name in self.fns else ("build_s", "collect_s")
            prefix = name if name in self.fns else f"client.{name}"
            for part in parts:
                out[f"{prefix}.{part}"] = common.median([r.parts[part] for r in mine])
        passes = sorted({r.unit for r in results})
        for label, rows in (("decode", DECODE_ROWS), ("analytics", ANALYTICS_ROWS)):
            out[f"query.{label}_pass_s"] = common.median([
                sum(r.latency for r in results if r.unit == p and r.kind in rows)
                for p in passes
            ])
        returned = sum(r.parts["rows"] for r in results if r.kind in READ_VERBS)
        scanned = sum(row["spark.input_rows"] for row in layers if row["kind"] in READ_VERBS)
        if layers and returned:
            out["read.rows_scanned_per_row_returned"] = scanned / returned
        return out


WORKLOADS = {w.name: w for w in (LogAppend, QueryMix)}
