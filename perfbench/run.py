"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload log_append --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Pins the run environment, prepares the
inputs if this checkout has not got them yet (untimed; the first run
builds them), starts the timed run in a fresh process and prints its
result as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, with each one's sample
count on the line before the result; `--trace 1` the per-layer
metrics. Exits non-zero when an output check failed, the run failed,
or the program to measure is not there. Logs and trace files are kept
under perfbench/.work/out.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

PREPARE_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170


def _run(cmd: list[str], env: dict, log_path: str, timeout: float) -> int:
    """Run `cmd`; whatever happens, stop every process it started and
    wait until they have ended."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, env=env, cwd=common.WORK, stdout=log, stderr=log,
            start_new_session=True,
        )
        tree: set[int] = set()
        deadline = time.time() + timeout
        try:
            while proc.poll() is None:
                if time.time() > deadline:
                    print(f"timed out after {timeout:.0f} s: {cmd[1]}", file=sys.stderr)
                    return -1
                # remembered while the parent lives: Spark's Python
                # worker daemon starts its own session
                tree |= common.descendants(proc.pid)
                time.sleep(0.5)
            return proc.returncode
        finally:
            _stop({proc.pid} | tree | common.descendants(proc.pid))
            proc.wait()


def _stop(pids: set[int]) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while pids and time.time() < deadline:
            pids = {p for p in pids if _alive(p)}
            time.sleep(0.1)
        if not pids:
            return


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _tail(path: str, lines: int = 40) -> str:
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-lines:])


def _clean_temp() -> None:
    """Drop what earlier runs left in the private temp dirs; keep the
    prepared feeds."""
    import shutil

    for root in (common.TMP, common.LOCAL_DIRS):
        for name in os.listdir(root):
            if not name.startswith("pystreams_feeds-"):
                path = os.path.join(root, name)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(common.ROOT, "streams_spark")):
        print(f"no streams_spark package under {common.ROOT}", file=sys.stderr)
        return 2
    if not os.path.isdir(common.SF_DIR):
        print(f"benchmark tables missing: {common.SF_DIR}", file=sys.stderr)
        return 2

    env = common.pinned_env()
    _clean_temp()
    from perfbench.prepare import is_prepared

    if not is_prepared():
        log = os.path.join(common.OUT, "prepare.log")
        rc = _run([sys.executable, os.path.join(common.BENCH_DIR, "prepare.py")],
                  env, log, PREPARE_TIMEOUT_S)
        if rc != 0 or not is_prepared():
            print(f"prepare failed (rc={rc}):\n{_tail(log)}", file=sys.stderr)
            return 3
        _clean_temp()

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    result = os.path.join(common.OUT, f"result-{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    log = os.path.join(common.OUT, f"run-{tag}.log")
    cmd = [
        sys.executable, os.path.join(common.BENCH_DIR, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--result", result,
    ]
    env["PERFBENCH_T0"] = repr(time.time())
    rc = _run(cmd, env, log, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        print(f"run failed (rc={rc}):\n{_tail(log)}", file=sys.stderr)
        return 1
    with open(result) as f:
        out = json.load(f)
    if not out["correct"]:
        print(_tail(log), file=sys.stderr)
    # sample count of each end-to-end metric, on the line before the result
    samples = out.pop("samples", {})
    if samples:
        print("  ".join(f"{k}={v['value']:.4g} {v['unit']} (n={samples[k]})"
                        for k, v in out["metrics"].items()))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
