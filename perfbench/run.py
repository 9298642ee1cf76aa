"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 --trace 0

Runs one workload in a fresh worker process (`worker.py`) with its
own process group, waits for it, removes every process it left, and
prints the run's report on one line and the result on the last line
of standard output:

    {"correct": true, "attempted": 33, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones. Everything the run writes goes under
`perfbench/_work/` and is removed when it ends. Exits non-zero,
without a result line, when the run fails or the repository's
package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: local[k]: two task slots, leaving the rest of a 4-core host to the
#: JIT compiler, GC and the Python driver
CPUS = "2"
#: a run must end inside 180 s, clean-up (up to 20 s) included
DEADLINE_S = 150.0


def _group_alive(pgid: int) -> bool:
    """True while a non-zombie process of group `pgid` exists."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap_group(pgid: int) -> None:
    """Terminate what is left of the worker's process group and wait
    until none of it runs."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while time.monotonic() < end and _group_alive(pgid):
            time.sleep(0.1)


def _worker_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # no JVM of the run, spark-submit's launcher included, writes its
    # perf-data file to /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the package too
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": CPUS,
        # a run writes only inside its checkout, so the package's
        # scratch state goes there rather than to its default: a
        # RAM-backed /dev/shm when more than 16 GiB of it is free,
        # else tempfile's directory (see BENCHMARK.md, "Run hygiene")
        "SPARK_GRAFT_TMP": os.path.join(work, "state"),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_LAUNCHER_OPTS": java_opts,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options {shlex.quote(java_opts)} "
            "pyspark-shell"),
    })
    return env


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    work = os.path.join(HERE, "_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", work, "--result", result]
    try:
        env = _worker_env(work)
        spawned_at = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--spawned-at", repr(spawned_at)], env=env, cwd=work,
            stdin=subprocess.DEVNULL, stdout=sys.stderr,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            rc = None
            print(f"run exceeded {DEADLINE_S} s", file=sys.stderr)
        finally:
            _reap_group(proc.pid)
            proc.wait()
        if rc != 0 or not os.path.exists(result):
            print(f"worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": out.pop("report")}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
