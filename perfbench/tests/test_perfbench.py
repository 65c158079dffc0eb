"""Self-test of the benchmark: metric schema, and a short traced run of
each workload.

    python3 -m pytest perfbench/tests -q

The traced runs start Spark (and, in a fresh checkout, prepare the
inputs first), so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import common, metrics
from perfbench.workloads import WORKLOADS

BENCHMARK = os.path.join(common.ROOT, "BENCHMARK.json")

OWN_LAYER = {
    "log_append": metrics.PRODUCE_STORE,
    "query_mix": {**metrics.OPERATORS, **metrics.CLIENT},
}


def _declared(key: str) -> dict[str, str]:
    with open(BENCHMARK) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def test_benchmark_json_matches_metric_schema():
    with open(BENCHMARK) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert _declared("end_to_end") == metrics.END_TO_END
    assert _declared("per_layer") == metrics.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_every_workload_names_its_layers():
    assert set(metrics.LAYERS_OF) == set(WORKLOADS)
    for layers in metrics.LAYERS_OF.values():
        assert all(name in metrics.PER_LAYER for layer in layers for name in layer)


def test_parse_sql_metric():
    from perfbench.sparkstats import parse_metric

    assert parse_metric("12 ms") == pytest.approx(0.012)
    text = "total (min, med, max (stageId: taskId))\n807.9 KiB (269.3 KiB, ...)"
    assert parse_metric(text) == pytest.approx(807.9 * 1024)
    assert parse_metric("total (min, med, max)\n9.9 s (3.2 s, 3.3 s)") == pytest.approx(9.9)


def test_tracer_self_time_excludes_children():
    import types

    from perfbench.tracing import Tracer

    tracer = Tracer()
    mod = types.SimpleNamespace(inner=lambda: time.sleep(0.02))
    mod.outer = lambda: (time.sleep(0.01), mod.inner())
    tracer.wrap(mod, "inner", "inner")
    tracer.wrap(mod, "outer", "outer")
    mod.outer()  # recording off: no span
    tracer.op, tracer.active = 1, True
    mod.outer()
    total, own = tracer.times(1)
    assert len(tracer.spans) == 2
    assert total["outer"] >= 0.03 and total["inner"] >= 0.02
    assert own["outer"] == pytest.approx(total["outer"] - total["inner"])


def test_span_cost_is_measured_without_keeping_spans():
    from perfbench.tracing import Tracer

    tracer = Tracer()
    cost = tracer.span_cost(calls=2_000)
    assert 0.0 < cost < 1e-3
    assert tracer.spans == [] and not tracer.active


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(common.BENCH_DIR, "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "1"],
        cwd=common.ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == metrics.PER_LAYER
    with open(os.path.join(common.OUT, f"layers-{workload}-7.json")) as f:
        absent = json.load(f)["absent"]
    assert not set(absent) & set(OWN_LAYER[workload])
    assert not set(absent) & set(metrics.SPARK_ENGINE) - {"spark.shuffle_read_bytes",
                                                         "spark.shuffle_write_bytes"}
