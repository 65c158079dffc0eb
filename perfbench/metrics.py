"""Metric names and units, and how per-op readings become one value.

END_TO_END is printed by every untraced run, PER_LAYER by every traced
run (a layer the workload does not exercise reads 0 and is listed as
absent, with the reason, in the run's layers file). BENCHMARK.json
repeats these lists; the self-test keeps the two in step.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import common
from perfbench.workloads import QUERY_ROWS, READ_VERBS

# What a user pays, in CPU seconds of the program's processes (driver,
# Spark JVM, Python workers; JIT compiler threads left out, see
# common.tree_cpu_s), except set-up, which is wall time. On a shared
# 4-vCPU guest, a log_append op's wall time rose 1.7x while other guests
# held 8% of the vCPUs' time and 1.55x beside two busy loops (each op
# waits on ~14 Spark jobs and ~1,100 driver-JVM round trips, and every
# hand-over between threads can wait for a vCPU); its CPU time rose 1.23x
# and 1.08x. The wall-clock figures are kept as per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    # CPU seconds of the fixed warm-up ops
    "warmup_cpu_s": "s",
    # median CPU seconds of a measured unit: one append (log_append), one
    # pass over every row and verb (query_mix)
    "op_cpu_s": "s",
    # items (records appended and delivered; rows and verbs completed)
    # per CPU second over the measured units
    "items_per_cpu_s": "1/s",
}

SPARK_ENGINE = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.input_rows": "count",
    "spark.output_bytes": "bytes",
    "driver.cpu_s": "s",
}
PRODUCE_STORE = {
    "client.peek_all_s": "s",
    "produce.stamp_records_s": "s",
    "produce.checkpoint_s": "s",
    "produce.validate_batch_s": "s",
    "store.write_event_log_s": "s",
    "produce.segment_status_s": "s",
    "store.files": "count",
}
CONSUMER = {
    "consumer.consume_available_s": "s",
    **{f"streaming.{k}_ms": "ms" for k in (
        "triggerExecution", "addBatch", "latestOffset", "queryPlanning",
        "walCommit", "commitOffsets")},
}
CLIENT = {
    **{f"client.{v}.{p}": "s" for v in READ_VERBS for p in ("build_s", "collect_s")},
    "read.rows_scanned_per_row_returned": "ratio",
}
OPERATORS = {
    **{f"{row}.{p}": "s" for row in QUERY_ROWS for p in ("build_s", "action_s")},
    "query.decode_pass_s": "s",
    "query.analytics_pass_s": "s",
    "python.worker_run_s": "s",
    "python.worker_init_s": "s",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
}
SETUP = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "sources.open_s": "s",
}
RUN = {
    # wall-clock counterparts of the end-to-end metrics: warm-up time,
    # median latency of a measured unit, items per second of the
    # measured window
    "warmup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    # median time from an op's call until the call returns (produce's
    # SegmentStatus rows; a verb's or row's DataFrame). Per layer, not end
    # to end: query_mix build times are ~0.1 s and spread 60% between runs.
    "ack_p50_s": "s",
    "host.probe_s": "s",
    "host.steal_s": "s",
    # tracing cost inside a measured unit's clock: spans times the
    # measured cost of one span, plus streaming listener callbacks
    "trace.overhead_s": "s",
    "fail_ratio": "ratio",
}
PER_LAYER = {**SETUP, **SPARK_ENGINE, **PRODUCE_STORE, **CONSUMER, **CLIENT, **OPERATORS, **RUN}

# Layers each workload exercises; the others read 0 on it.
LAYERS_OF = {
    "log_append": [SETUP, SPARK_ENGINE, PRODUCE_STORE, CONSUMER, RUN],
    "query_mix": [SETUP, SPARK_ENGINE, OPERATORS, CLIENT, RUN],
}


def render(declared: dict[str, str], values: dict[str, float]) -> dict:
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in declared.items()
    }


def absent(workload: str, values: dict[str, float]) -> dict[str, str]:
    """Declared per-layer metrics a traced run has no reading for, and why."""
    mine = {n for layer in LAYERS_OF[workload] for n in layer}
    return {
        name: "layer not exercised by this workload" if name not in mine
        else "no op produced a reading"
        for name in PER_LAYER
        if name not in values
    }


def layer_medians(rows: list[dict], workload: str) -> dict[str, float]:
    """Median per measured op of each per-op reading; for query_mix the
    readings of one pass are summed first, so the value is per pass."""
    if workload == "query_mix":
        per_pass: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        for row in rows:
            for k, v in row.items():
                if k not in ("unit", "kind"):
                    per_pass[row["unit"]][k] += v
        rows = list(per_pass.values())
    keys = {k for row in rows for k in row if k not in ("unit", "kind")}
    return {k: common.median([row[k] for row in rows if k in row]) for k in keys}
