"""One timed run of one workload, in a fresh process started by `run.py`.

Set-up is timed from the moment `run.py` started this process
(`PERFBENCH_T0`) until the first warm-up op can run: interpreter start,
session start, registry import and opening the inputs. Then the fixed
warm-up, then measured units: a unit starts while it can be expected
to end within `--seconds` of the first (the median unit so far), and
at least the workload's `min_units` run. Then the untimed end-of-run
checks. The result is one JSON object on the last line of stdout.

With `--trace 1` the run also reads Spark's status stores around every
measured op (outside its clock), registers a streaming progress
listener and wraps the layer entry points named by the workload. The
tracing overhead inside an op's clock is its span count times the
measured cost of one span, plus the time spent in listener callbacks.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

T0 = float(os.environ.get("PERFBENCH_T0", time.time()))

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, metrics  # noqa: E402
from perfbench.workloads import WORKLOADS, OpResult  # noqa: E402


def host_probe(spark) -> tuple[float, float]:
    """(seconds, steal seconds) of fixed pure-Spark plus pure-Python work
    that touches no repo code. Steal is CPU time the hypervisor gave to
    other guests while the probe ran, from /proc/stat."""
    spark.range(0, 1000, 1, 8).selectExpr("sum(xxhash64(id) % 1000)").collect()
    steal0, t0 = _steal_s(), time.perf_counter()
    spark.range(0, 4_000_000, 1, 8).selectExpr("sum(xxhash64(id) % 1000)").collect()
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0, _steal_s() - steal0


def _log(msg: str) -> None:
    """A line of the run's log, stamped with seconds since process start."""
    print(f"[{time.time() - T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def _steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _resolve(path: str):
    try:
        return importlib.import_module(path)
    except ImportError:
        mod, attr = path.rsplit(".", 1)
        return getattr(importlib.import_module(mod), attr)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    t = time.perf_counter()
    from streams_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}")
    layer = {"session.get_spark_s": time.perf_counter() - t}
    t = time.perf_counter()
    from streams_spark.registry import load_all

    load_all()
    layer["registry.load_all_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wl = WORKLOADS[workload](spark, seed)
    wl.open()
    layer["sources.open_s"] = time.perf_counter() - t
    setup_s = time.time() - T0
    _log(f"setup {setup_s:.3f} {layer}")

    tracer = stats = listener = None
    if trace:
        from perfbench.sparkstats import ProgressListener, SparkStats
        from perfbench.tracing import Tracer

        tracer = Tracer()
        span_cost = tracer.span_cost()
        for owner, attr, name in wl.trace_targets:
            tracer.wrap(_resolve(owner), attr, name)
        stats = SparkStats(spark)
        listener = ProgressListener(spark)

    attempted = failed = 0
    errors: list[str] = []

    def attempt(op) -> OpResult | None:
        nonlocal attempted, failed
        attempted += 1
        try:
            res = op()
        except Exception:  # an op that raises counts as failed; the run goes on
            failed += 1
            errors.append(traceback.format_exc(limit=3))
            return None
        if not res.ok:
            failed += 1
            errors.append(f"output check failed: {res.kind}")
        _log(f"op {res.kind} latency={res.latency:.3f} ack={res.ack:.3f} "
             f"cpu={res.cpu:.3f} ok={res.ok}")
        return res

    warmup = [res for res in map(attempt, wl.warmup()) if res is not None]
    probes = [host_probe(spark)]

    results: list[OpResult] = []
    layers: list[dict] = []
    start = time.perf_counter()
    index = n = 0
    unit_s: list[float] = []
    # a slower host gets fewer units, not a longer run
    while index < wl.min_units or (
        time.perf_counter() - start + common.median(unit_s) <= seconds
    ):
        unit_start = time.perf_counter()
        for op in wl.unit():
            n += 1
            if trace:
                snap = stats.snapshot()
                listener.take()  # drop progress of earlier ops
                tracer.op, tracer.active = n, True
            res = attempt(op)
            if trace:
                tracer.active = False
            if res is None:
                continue
            res.unit = index
            results.append(res)
            if trace:
                row = stats.since(snap)
                row.update(listener.take(), unit=index, kind=res.kind)
                total, own = tracer.times(n)
                row.update({f"{k}_s": v for k, v in total.items()})
                if "client.produce" in own:
                    row["produce.checkpoint_s"] = own["client.produce"]
                row["trace.overhead_s"] = (
                    tracer.count(n) * span_cost + row.pop("streaming.listener_s")
                )
                layers.append(row)
        unit_s.append(time.perf_counter() - unit_start)
        index += 1
    wall = time.perf_counter() - start
    probes.append(host_probe(spark))
    _log(f"host probes {probes}")

    for name, ok in _finish(wl, errors):
        attempted += 1
        failed += not ok
        if not ok:
            errors.append(f"end-of-run check failed: {name}")

    new_feeds = sorted(set(common.feed_dirs()) - set(_manifest()["feeds"]))
    if new_feeds:
        failed += 1
        errors.append(f"timed run created feed directories: {new_feeds}")

    _log("end-of-run checks done")
    for e in errors:
        print(e, file=sys.stderr)

    if not results:
        raise RuntimeError("no measured op completed")
    # a unit's cost is the sum of its ops' costs: every row and verb of
    # a query_mix pass counts, not only the ones near the median
    unit_cpu: dict[int, float] = {}
    unit_latency: dict[int, float] = {}
    for r in results:
        unit_cpu[r.unit] = unit_cpu.get(r.unit, 0.0) + r.cpu
        unit_latency[r.unit] = unit_latency.get(r.unit, 0.0) + r.latency
    items = sum(r.items for r in results)
    e2e = {
        "setup_s": setup_s,
        "warmup_cpu_s": sum(r.cpu for r in warmup),
        "op_cpu_s": common.median(list(unit_cpu.values())),
        "items_per_cpu_s": items / sum(r.cpu for r in results),
    }
    samples = {
        "setup_s": 1,
        "warmup_cpu_s": len(warmup),
        "op_cpu_s": len(unit_cpu),
        "items_per_cpu_s": len(results),
    }
    # wall-clock figures are per layer (see metrics.END_TO_END)
    layer.update(
        warmup_s=sum(r.latency for r in warmup),
        op_p50_s=common.median(list(unit_latency.values())),
        items_per_s=items / wall,
    )
    _log(f"end to end {e2e}; wall clock {layer}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not trace:
        out["metrics"] = metrics.render(metrics.END_TO_END, e2e)
        out["samples"] = samples
        return out

    layer["ack_p50_s"] = common.median([r.ack for r in results])
    layer.update(wl.layer_metrics(results, layers))
    layer.update(metrics.layer_medians(layers, wl.name))
    layer["host.probe_s"] = sum(p for p, _ in probes) / len(probes)
    layer["host.steal_s"] = sum(s for _, s in probes) / len(probes)
    layer["fail_ratio"] = failed / attempted
    tracer.dump(os.path.join(common.OUT, f"trace-{workload}-{seed}.json"))
    with open(os.path.join(common.OUT, f"layers-{workload}-{seed}.json"), "w") as f:
        json.dump({"values": layer, "absent": metrics.absent(workload, layer)}, f, indent=1)
    out["metrics"] = metrics.render(metrics.PER_LAYER, layer)
    return out


def _finish(wl, errors):
    try:
        return wl.finish()
    except Exception:
        errors.append(traceback.format_exc(limit=3))
        return [("finish", False)]


def _manifest() -> dict:
    with open(common.MANIFEST) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    with open(a.result, "w") as f:
        json.dump(out, f)
    _log("result written")


if __name__ == "__main__":
    main()
