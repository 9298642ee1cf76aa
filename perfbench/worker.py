"""One benchmark run: set up a workload, drive it in a closed loop for
the timed window, check its outputs, and write the result as JSON.

`run.py` starts this file in a fresh process per run; see
`BENCHMARK.md` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
import probes  # noqa: E402

#: one cycle of the analytics workload, in canonical (warm-up) order
MIX = ["scan_parquet", "agg_groupby", "join_inner_equi", "join_broadcast",
       "win_topk_per_group", "tpch_q3", "tpch_q5", "llm_dedup_minhash",
       "llm_simhash_hamming_knn", "llm_jaccard_knn_text", "agg_stats"]
ANALYTICS_SF = 0.01
#: untimed ops run before the window, sized from the warm-up curves
#: recorded in BENCHMARK.md
WARM_CYCLES = 3
WARM_BATCHES = 9
OP_TIMEOUT_S = 60.0
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution")
READS = ("top_k", "between", "group_agg", "min_max")
TOPK = 10

#: every per-layer metric and its unit; a layer a workload never
#: calls reports 0
LAYER_UNITS = {
    "session.start_s": "s",
    "queries.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    **{f"queries.{q}.{m}": u for q in MIX
       for m, u in (("ms", "ms"), ("jobs", "count"))},
    "streaming.ingest_ms": "ms",
    **{f"streaming.{p}_ms": "ms" for p in PHASES},
    "streaming.trigger_wait_ms": "ms",
    **{f"views.{r}_ms": "ms" for r in READS},
    "views.read_p50_ms": "ms",
    "state_store.bytes_per_change": "B",
    "state_store.files_per_batch": "count",
    "jvm.gc_ms_per_op": "ms",
    "jvm.jit_ms_per_op": "ms",
    "host.steal_pct": "%",
    "trace.op_gmean_ms": "ms",
}
E2E_UNITS = {"setup_s": "s", "op_gmean_ms": "ms", "work_per_s": "1/s",
             "cpu_ms_per_op": "ms"}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _op_gmean(recs: list[dict]) -> float:
    """Geometric mean, over the kinds of op in the mix, of each kind's
    median latency: every query of the analytics mix weighs the same,
    and one op slowed by a burst of host steal moves only its query's
    median, when that query ran at least three times."""
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        by_kind.setdefault(r["kind"], []).append(r["latency_ms"])
    return statistics.geometric_mean(
        statistics.median(v) for v in by_kind.values()) if recs else 0.0


class Analytics:
    """One client cycling through the registry mix; one op is one
    query planned by its registry callable and written to `noop`."""

    rows_per_op = 1  # work_per_s counts queries
    min_units = 3  # cycles per window: three latencies per query

    def __init__(self, spark, probe, seed: int, work: str):
        from db_realtime_changefeed_spark.queries import (
            all_oracles,
            all_queries,
        )

        self.spark, self.probe, self.seed = spark, probe, seed
        self.data = os.path.join(work, "tables")
        self.work = work
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.results: dict[str, tuple[list, list]] = {}
        self.attempted = 0

    def setup(self) -> None:
        inputs.make_tables(self.data, self.seed, ANALYTICS_SF)
        # the first warm-up cycle collects each result for the checks,
        # the others run as the timed ops do
        for name in MIX:
            df = self.queries[name](self.spark, self.data)
            self.results[name] = (list(df.columns),
                                  [tuple(r) for r in df.collect()])
            self.attempted += 1
        for _ in range(WARM_CYCLES - 1):
            for name in MIX:
                self.op(name, traced=False)

    def unit(self, k: int) -> list[str]:
        return inputs.cycle_order(MIX, self.seed, k)

    def op(self, name: str, traced: bool) -> dict:
        sc = self.spark.sparkContext
        if traced:
            group = f"perfbench-{self.attempted}"
            sc.setJobGroup(group, name)
            loose = self.probe.job_ids(None)
        self.attempted += 1
        t0 = time.monotonic()
        df = self.queries[name](self.spark, self.data)
        t1 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.monotonic()
        rec = {"op": name, "kind": name, "latency_ms": (t2 - t0) * 1e3}
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.probe.drain_listener_bus()
            ids = self.probe.job_ids(group) | (self.probe.job_ids(None) - loose)
            rec["counts"] = self.probe.count(ids)
            rec["self_ms"] = {"queries.plan": (t1 - t0) * 1e3,
                              "spark.exec": (t2 - t1) * 1e3}
        return rec

    def check(self) -> list[str]:
        con = checks.connect(self.work, self.data, inputs.TABLES)
        errs = []
        for name in MIX:
            cols, rows = self.results[name]
            if name in self.oracles:
                err = checks.check_query(con, name, cols, rows,
                                         self.oracles[name])
            else:
                err = checks.check_minhash(con, cols, rows)
            if err:
                errs.append(err)
        con.close()
        return errs

    def layer_metrics(self, recs: list[dict]) -> dict:
        out = {
            "queries.plan_ms": _median(
                [r["self_ms"]["queries.plan"] for r in recs]),
            "spark.exec_ms": _median(
                [r["self_ms"]["spark.exec"] for r in recs]),
        }
        for q in MIX:
            mine = [r for r in recs if r["op"] == q]
            out[f"queries.{q}.ms"] = _median(
                [r["latency_ms"] for r in mine])
            out[f"queries.{q}.jobs"] = _median(
                [r["counts"][0] for r in mine])
        return out

    def close(self) -> None:
        pass


class LiveViews:
    """One maintained-views runner on a live source; one op is one
    ingested change file, ended when the listener reports its batch
    committed. After each commit the reader serves four view reads."""

    rows_per_op = inputs.ROWS_PER_CHANGE_FILE  # work_per_s counts changes
    min_units = 3  # ops per window

    def __init__(self, spark, probe, seed: int, work: str):
        from db_realtime_changefeed_spark.api import StandingViews
        from db_realtime_changefeed_spark.streaming.views import (
            MaintainedViewsRunner,
        )

        self.spark, self.probe, self.seed = spark, probe, seed
        self.work = work
        self.changes = os.path.join(work, "changes")
        os.makedirs(self.changes)
        self.files: list[str] = []
        self.listener = probes.ProgressListener()
        self._handle = probes.make_spark_listener(spark, self.listener)
        # the runner's root holds only its stores, logs and checkpoint:
        # the live source dir and Spark's local dirs lie outside it, so
        # walking the root measures the state the write path keeps.
        # `sf_dir` feeds only the replay mode, which this workload
        # never runs.
        self.runner = MaintainedViewsRunner(
            spark, sf_dir=self.changes, delete_on=None, k=TOPK,
            root=os.path.join(work, "views"))
        self.source = os.path.join(work, "live")
        os.makedirs(self.source)
        self.views = StandingViews(self.runner)
        self.run_id: str | None = None
        self.attempted = 0
        self.read_rng = inputs.rng(seed, "reads")

    def setup(self) -> None:
        self.runner.start_live(self.source, processing_time="0 seconds")
        for _ in range(WARM_BATCHES):
            self.op(None, traced=False)

    def unit(self, k: int) -> list[None]:
        return [None]

    def op(self, _label, traced: bool) -> dict:
        i = len(self.files)
        path = inputs.make_change_file(
            os.path.join(self.changes, f"c-{i:05d}.parquet"), self.seed, i)
        if traced:
            loose = self.probe.job_ids(None)
            grouped = self.probe.job_ids(self.run_id)
            usage = probes.dir_usage(self.runner.root)
        self.attempted += 1
        t0 = time.monotonic()
        self.runner.ingest(path)
        t1 = time.monotonic()
        self.files.append(path)
        prog = self.listener.wait(i, OP_TIMEOUT_S)
        if prog is None:
            raise TimeoutError(f"batch {i} not committed in {OP_TIMEOUT_S} s")
        if prog["rows"] != inputs.ROWS_PER_CHANGE_FILE:
            raise RuntimeError(f"batch {i} read {prog['rows']} rows")
        self.run_id = prog["run_id"]
        latency = (prog["seen_at"] - t0) * 1e3
        rec = {"op": i, "kind": "batch", "latency_ms": latency}
        if traced:
            self.probe.drain_listener_bus()
            ids = ((self.probe.job_ids(None) - loose)
                   | (self.probe.job_ids(self.run_id) - grouped))
            rec["counts"] = self.probe.count(ids)
            size, files = probes.dir_usage(self.runner.root)
            rec["state"] = (size - usage[0], files - usage[1])
            d = prog["duration_ms"]
            rec["ingest_ms"] = (t1 - t0) * 1e3
            rec["phases"] = {p: float(d.get(p, 0)) for p in PHASES}
            rec["self_ms"] = {
                "streaming.trigger_wait":
                    latency - rec["phases"]["triggerExecution"],
                **{f"streaming.{p}": rec["phases"][p]
                   for p in PHASES if p != "triggerExecution"},
            }
        rec["reads"] = self._reads()
        return rec

    def _reads(self) -> dict:
        lo = float(self.read_rng.integers(0, 550))
        out = {}
        for name, call in (
                ("top_k", self.views.top_k),
                ("between", lambda: self.views.between(lo, lo + 50).collect()),
                ("group_agg", lambda: self.views.group_agg().collect()),
                ("min_max", lambda: self.views.min_max().collect())):
            t = time.monotonic()
            call()
            out[name] = (time.monotonic() - t) * 1e3
        return out

    def check(self) -> list[str]:
        con = checks.connect(self.work, None, ())
        err = checks.check_views(
            con, self.files,
            [tuple(r) for r in self.views.group_agg().collect()],
            self.views.top_k(), TOPK)
        con.close()
        return [err] if err else []

    def layer_metrics(self, recs: list[dict]) -> dict:
        out = {"streaming.ingest_ms": _median([r["ingest_ms"] for r in recs]),
               "streaming.trigger_wait_ms": _median(
                   [r["self_ms"]["streaming.trigger_wait"] for r in recs])}
        # means, not medians: durationMs has whole milliseconds, and a
        # median of a few of them often repeats exactly from run to run
        for p in PHASES:
            out[f"streaming.{p}_ms"] = statistics.fmean(
                r["phases"][p] for r in recs)
        for name in READS:
            out[f"views.{name}_ms"] = _median([r["reads"][name] for r in recs])
        out["views.read_p50_ms"] = _median(
            [v for r in recs for v in r["reads"].values()])
        out["state_store.bytes_per_change"] = statistics.fmean(
            r["state"][0] / self.rows_per_op for r in recs)
        out["state_store.files_per_batch"] = statistics.fmean(
            r["state"][1] for r in recs)
        return out

    def close(self) -> None:
        self.runner.stop_live()
        self.spark.streams.removeListener(self._handle)


WORKLOADS = {"analytics": Analytics, "live_views": LiveViews}


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(a) -> dict:
    import pyspark

    from db_realtime_changefeed_spark.session import get_spark

    env = {"local": f"local[{os.environ.get('SPARK_GRAFT_CPUS')}]",
           "nproc": os.cpu_count(), "pyspark": pyspark.__version__,
           "load_start": probes.loadavg()}
    host_start = probes.host_cpu()
    t = time.monotonic()
    spark = get_spark("perfbench")
    session_s = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    probe = probes.JvmProbe(spark)
    env["jvm"] = probe.version
    wl = WORKLOADS[a.workload](spark, probe, a.seed, a.work)
    recs: list[dict] = []
    errors: list[str] = []
    #: (seconds, CPU seconds, ops) of each unit the window completed
    units: list[tuple[float, float, int]] = []
    try:
        wl.setup()
        t_first = time.monotonic()
        gc0, host0 = probe.gc_ms(), probes.host_cpu()
        jit0 = probe.jit_ms()
        k = 0
        while ((k < wl.min_units or time.monotonic() - t_first < a.seconds)
               and not errors):
            u0, n0 = time.monotonic(), len(recs)
            cpu0 = probes.tree_cpu_s(os.getpid())
            for label in wl.unit(k):
                try:
                    recs.append(wl.op(label, a.trace))
                except Exception as e:  # noqa: BLE001 - a failed op is a result
                    errors.append(f"op {label}: {type(e).__name__}: {e}")
                    break
            units.append((time.monotonic() - u0,
                          probes.tree_cpu_s(os.getpid()) - cpu0,
                          len(recs) - n0))
            k += 1
        t_end = time.monotonic()
        gc1, host1 = probe.gc_ms(), probes.host_cpu()
        jit1 = probe.jit_ms()
        if not errors:
            try:
                errors += wl.check()
            except Exception as e:  # noqa: BLE001 - a failed check is a result
                errors.append(f"check: {type(e).__name__}: {e}")
    finally:
        wl.close()
        _stop_spark(spark)
    env["load_end"] = probes.loadavg()
    env["steal_pct_run"] = probes.steal_pct(host_start, probes.host_cpu())
    n = max(1, len(recs))
    window = t_end - t_first
    lat = [r["latency_ms"] for r in recs]
    done = [u for u in units if u[2]]
    # medians over the window's units (an analytics cycle, a live
    # batch with its reads), so one unit slowed by a burst of host
    # steal or a late JIT compile does not move the run's figure
    e2e = {
        "setup_s": t_first - a.spawned_at,
        "op_gmean_ms": _op_gmean(recs),
        "work_per_s": _median([ops * wl.rows_per_op / secs
                               for secs, _, ops in done]),
        "cpu_ms_per_op": _median([cpu * 1e3 / ops for _, cpu, ops in done]),
    }
    report = {"workload": a.workload, "seed": a.seed, "env": env,
              "ops": len(recs), "window_s": window,
              "warmup_ops": wl.attempted - len(recs),
              "steal_pct_window": probes.steal_pct(host0, host1),
              "latencies_ms": lat, "op_p50_ms": _median(lat),
              "units": [{"s": secs, "cpu_s": cpu, "ops": ops}
                        for secs, cpu, ops in units],
              "gc_ms_per_op": (gc1 - gc0) / n,
              "jit_ms_per_op": (jit1 - jit0) / n,
              "errors": errors}
    if a.trace:
        layer = {name: 0.0 for name in LAYER_UNITS}
        if recs:
            counts = [r["counts"] for r in recs]
            layer.update({
                "session.start_s": session_s,
                "spark.jobs_per_op": statistics.fmean(c[0] for c in counts),
                "spark.stages_per_op": statistics.fmean(c[1] for c in counts),
                "spark.tasks_per_op": statistics.fmean(c[2] for c in counts),
                "jvm.gc_ms_per_op": report["gc_ms_per_op"],
                "jvm.jit_ms_per_op": report["jit_ms_per_op"],
                "host.steal_pct": report["steal_pct_window"],
                "trace.op_gmean_ms": e2e["op_gmean_ms"],
                **wl.layer_metrics(recs),
            })
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in layer.items()}
        report["bases"] = {"ops": len(recs), "window_s": window,
                           "changes_per_op": wl.rows_per_op}
        report["decomposition"] = [
            {"op": r["op"], "latency_ms": r["latency_ms"],
             "self_ms": r["self_ms"],
             "accounted": sum(r["self_ms"].values()) / r["latency_ms"]}
            for r in recs]
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    return {"correct": not errors and bool(recs),
            "attempted": wl.attempted, "failed": len(errors),
            "metrics": metrics, "report": report}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--spawned-at", type=float, required=True)
    p.add_argument("--result", required=True)
    a = p.parse_args()
    out = run(a)
    with open(a.result, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
