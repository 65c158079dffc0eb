"""Paths, the pinned run environment and small statistics helpers.

Everything the benchmark reads or writes lives inside the checkout:
inputs under `perfbench/data`, prepared inputs, temp dirs and trace
files under `perfbench/.work` (ignored by git).
"""

from __future__ import annotations

import os
import re
import statistics
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
WORK = os.path.join(BENCH_DIR, ".work")
PREPARED = os.path.join(WORK, "prepared")
READ_LOG = os.path.join(PREPARED, "read_log")
MANIFEST = os.path.join(PREPARED, "manifest.json")
TMP = os.path.join(WORK, "tmp")
LOCAL_DIRS = os.path.join(WORK, "spark-local")
CONF_DIR = os.path.join(WORK, "conf")
OUT = os.path.join(WORK, "out")

# Physical-memory share given to the driver JVM. `session.py` defaults
# spark.driver.memory to 16g, more than some hosts have.
DRIVER_MEMORY_MB_MAX = 3072


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory() -> str:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(DRIVER_MEMORY_MB_MAX, phys // (4 << 20))}m"


def pinned_env() -> dict[str, str]:
    """Environment for every Spark process the benchmark starts: all
    cores, a driver heap below physical RAM, `streams_spark` importable
    from Python workers whatever their cwd, and private temp dirs."""
    for d in (TMP, LOCAL_DIRS, CONF_DIR, OUT):
        os.makedirs(d, exist_ok=True)
    # JVM options can only be passed at launch: spark-defaults.conf is
    # read by spark-submit, the session's own settings still win
    with open(os.path.join(CONF_DIR, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={TMP} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads\n"
        )
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    path = [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env.update(
        SPARK_GRAFT_CPUS=str(cpu_count()),
        SPARK_DRIVER_MEMORY=driver_memory(),
        PYTHONPATH=os.pathsep.join(path),
        TMPDIR=TMP,
        SPARK_LOCAL_DIRS=LOCAL_DIRS,
        SPARK_CONF_DIR=CONF_DIR,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def feed_dirs() -> list[str]:
    """Staged media/streaming feed directories under the private TMPDIR
    (`streams_spark.sources.feed_cache` keeps them there)."""
    out = []
    for root in sorted(os.listdir(TMP)) if os.path.isdir(TMP) else []:
        if root.startswith("pystreams_feeds-"):
            base = os.path.join(TMP, root)
            out += [os.path.join(root, d) for d in sorted(os.listdir(base))]
    return out


def descendants(root: int) -> set[int]:
    """Pids of every live process below `root`."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot compiler threads ("C2 CompilerThread0", cut to 15 characters);
# the JVM is started with a fixed number of them, so none exits and takes
# its CPU time into the process total
JIT_THREAD = re.compile(r"C[12] CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it
    (the Spark JVM, its Python workers), counting children that have
    already been reaped, less the JVM's JIT compiler threads: how much
    compiling lands in an op depends on how far the warm-up got, not on
    the op. Time the hypervisor gives to other guests is not CPU time."""
    total = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            name, fields = _stat(f"/proc/{pid}/stat")
            tids = os.listdir(f"/proc/{pid}/task") if name == "java" else []
        except OSError:  # ended since listed
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        for tid in tids:
            try:
                name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if JIT_THREAD.match(name):
                total -= int(fields[11]) + int(fields[12])
    return total / _TICK


def median(xs):
    return statistics.median(xs) if xs else float("nan")
