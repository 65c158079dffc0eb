"""Spark's own accounting of one op, read through py4j from the status stores.

Works with `spark.ui.enabled=false`: the core store
(`SparkContext.statusStore`) still records jobs and stages, and the SQL
store records per-execution metrics such as Python-worker time. An op's
jobs are those with an id above the snapshot taken before it; the loop
is closed and single-client, so that also captures the jobs a streaming
query runs in its own thread.
"""

from __future__ import annotations

import os
import re
import time

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE = re.compile(r"([-\d.,]+)\s*([A-Za-z]+)")

# SQL metric name -> reported per-layer name
PYTHON_METRICS = {
    "time to run Python workers": "python.worker_run_s",
    "time to initialize Python workers": "python.worker_init_s",
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
}

STAGE_FIELDS = {
    "spark.tasks": lambda st: st.numCompleteTasks(),
    "spark.executor_run_s": lambda st: st.executorRunTime() / 1e3,
    "spark.executor_cpu_s": lambda st: st.executorCpuTime() / 1e9,
    "spark.jvm_gc_s": lambda st: st.jvmGcTime() / 1e3,
    "spark.shuffle_read_bytes": lambda st: st.shuffleReadBytes(),
    "spark.shuffle_write_bytes": lambda st: st.shuffleWriteBytes(),
    "spark.input_bytes": lambda st: st.inputBytes(),
    "spark.input_rows": lambda st: st.inputRecords(),
    "spark.output_bytes": lambda st: st.outputBytes(),
}


def parse_metric(text: str) -> float:
    """Value of a rendered SQL metric: either `12 ms` or
    `total (min, med, max (...))\\n9.9 s (...)`; the total comes first."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.search(line)
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class SparkStats:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def _settle(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        jobs = self.jsc.statusStore().jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def _executions(self):
        ex = self.sql.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    def snapshot(self) -> dict:
        self._settle()
        return {
            "job": max((j.jobId() for j in self._jobs()), default=-1),
            "exec": max((e.executionId() for e in self._executions()), default=-1),
            "py_cpu": time.process_time(),
            "jvm_cpu": _jvm_cpu_s(self.jvm_pid),
        }

    def since(self, snap: dict) -> dict[str, float]:
        """Totals for everything Spark ran after `snap` was taken."""
        self._settle()
        out = {name: 0.0 for name in ["spark.jobs", "spark.stages", *STAGE_FIELDS]}
        out.update({name: 0.0 for name in PYTHON_METRICS.values()})
        from py4j.protocol import Py4JJavaError

        store = self.jsc.statusStore()
        for job in self._jobs():
            if job.jobId() <= snap["job"]:
                continue
            out["spark.jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # NoSuchElementException: stage never submitted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                for name, get in STAGE_FIELDS.items():
                    out[name] += get(st)
        for ex in self._executions():
            if ex.executionId() <= snap["exec"]:
                continue
            names = {}
            plan_metrics = ex.metrics()
            for i in range(plan_metrics.size()):
                pm = plan_metrics.apply(i)
                if pm.name() in PYTHON_METRICS:
                    names[pm.accumulatorId()] = PYTHON_METRICS[pm.name()]
            if not names:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            it = values.iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in names:
                    out[names[kv._1()]] += parse_metric(kv._2())
        jvm_cpu = _jvm_cpu_s(self.jvm_pid) - snap["jvm_cpu"]
        out["driver.cpu_s"] = (
            time.process_time() - snap["py_cpu"]
            + max(0.0, jvm_cpu - out["spark.executor_cpu_s"])
        )
        return out


class ProgressListener:
    """Collects `durationMs` of every streaming progress event, through a
    `StreamingQueryListener` registered on the session, and the time its
    callbacks take (they run while the op's clock runs)."""

    KEYS = ["triggerExecution", "addBatch", "latestOffset", "queryPlanning",
            "walCommit", "commitOffsets"]

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        self.callback_s = 0.0
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t0 = time.perf_counter()
                outer.events.append(dict(event.progress.durationMs))
                outer.callback_s += time.perf_counter() - t0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def take(self) -> dict[str, float]:
        """Summed durations of the progress events since the last take,
        and the callback time spent collecting them."""
        events, self.events = self.events, []
        callback_s, self.callback_s = self.callback_s, 0.0
        out = {
            f"streaming.{k}_ms": float(sum(e.get(k, 0) for e in events))
            for k in self.KEYS
        }
        out["streaming.listener_s"] = callback_s
        return out
