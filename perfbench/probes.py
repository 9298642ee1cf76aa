"""Outside-in probes: host and process counters read from `/proc`,
JVM counters read over py4j, and Spark job/stage/task counts read
from the status tracker. Nothing here runs inside the program; every
probe is a call the benchmark makes before or after one of its ops.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a `/proc/.../stat` file after the command name."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(f"/proc/{name}/stat")
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by `root_pid` and every descendant: the
    Python driver, the JVM it launched and Spark's Python workers.
    Reaped children count through their parent's cutime/cstime, so
    the total only grows."""
    kids = _children_map()
    total = 0.0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        f = _stat_fields(f"/proc/{pid}/stat")
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15]) / _TICK
    return total


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class JvmProbe:
    """JVM-side counters of one SparkSession."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self.version = str(jvm.java.lang.System.getProperty("java.version"))
        mgmt = jvm.java.lang.management.ManagementFactory
        self._gcs = list(mgmt.getGarbageCollectorMXBeans())
        self._jit = mgmt.getCompilationMXBean()
        self._tracker = self._sc.statusTracker()

    def gc_ms(self) -> float:
        return float(sum(max(0, g.getCollectionTime()) for g in self._gcs))

    def jit_ms(self) -> float:
        """Time the JIT compilers have spent so far, summed over the
        compiler threads."""
        return float(self._jit.getTotalCompilationTime())

    def drain_listener_bus(self) -> None:
        """Wait until the status store has seen every posted event, so
        job and stage counts read right after an action are complete."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, group: str | None) -> set[int]:
        return set(self._tracker.getJobIdsForGroup(group))

    def count(self, job_ids: set[int]) -> tuple[int, int, int]:
        """(jobs, stages that ran, tasks of those stages)."""
        stages = tasks = 0
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return len(job_ids), stages, tasks


class ProgressListener:
    """Collects each micro-batch's progress of the live queries and
    lets the client wait for a given batch id to be reported."""

    def __init__(self):
        self._cv = threading.Condition()
        self._progress: dict[int, dict] = {}

    def on_progress(self, progress, seen_at: float) -> None:
        with self._cv:
            self._progress[progress.batchId] = {
                "seen_at": seen_at,
                "run_id": str(progress.runId),
                "rows": progress.numInputRows,
                "duration_ms": dict(progress.durationMs),
            }
            self._cv.notify_all()

    def wait(self, batch_id: int, timeout: float) -> dict | None:
        with self._cv:
            self._cv.wait_for(lambda: batch_id in self._progress, timeout)
            return self._progress.get(batch_id)


def make_spark_listener(spark, sink: ProgressListener):
    """Register a StreamingQueryListener that forwards progress
    events to `sink`, stamped with the monotonic time of arrival."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.on_progress(event.progress, time.monotonic())

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


def dir_usage(root: str) -> tuple[int, int]:
    """(bytes, files) under `root`."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            try:
                size += os.stat(os.path.join(dirpath, n)).st_size
                files += 1
            except OSError:
                pass
    return size, files
