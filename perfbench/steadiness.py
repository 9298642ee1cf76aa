"""Steadiness report: run each workload over several seeds and write
per-metric medians, quartiles and spreads, with each run's steal.

    python3 perfbench/steadiness.py --workloads analytics live_views \
        --seeds 31-40 --seconds 8 --traced 2 --out perfbench/STEADINESS-3.md

The spread of a metric is (Q3 - Q1) / median over the runs, with the
quartiles of `statistics.quantiles(values, n=4)`. `--traced N` adds N
traced runs per workload, which give the tracing overhead: the traced
runs' median `trace.op_gmean_ms` minus the untraced median
`op_gmean_ms`. Each run is a fresh `run.py` process, one after
another. The raw results go to `<out>.json` beside the report.
`--compare EARLIER.json` adds how far each median moved from that
earlier set, against the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["report"] = json.loads(lines[-2])["report"]
    out["wall_s"] = time.monotonic() - t
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def _median_of(runs: list[dict], name: str) -> float:
    return statistics.median(r["metrics"][name]["value"] for r in runs)


def comparison(results: dict[str, list[dict]], earlier: dict[str, list[dict]],
               bounds: dict[str, float], better: dict[str, str]) -> list[str]:
    """Rows comparing this set's medians with an earlier set's: the
    change, signed so that positive is worse, as a share of the
    earlier median."""
    out = ["## Against the earlier set", "",
           "| workload | metric | earlier median | this median | "
           "worse by | bound | within |", "|---|---|---|---|---|---|---|"]
    for wl, runs in results.items():
        for name in runs[0]["metrics"]:
            old, new = _median_of(earlier[wl], name), _median_of(runs, name)
            worse = (new - old) / old * (1 if better[name] == "lower" else -1)
            out.append(f"| {wl} | {name} | {old:.4g} | {new:.4g} | "
                       f"{worse:+.2%} | {bounds[name]} | "
                       f"{'yes' if worse <= bounds[name] else 'no'} |")
    return out + [""]


def report(results: dict[str, list[dict]], traced: dict[str, list[dict]],
           bounds: dict[str, float]) -> str:
    out = ["# Steadiness report", "",
           "Generated by `perfbench/steadiness.py`. Spread is "
           "(Q3 - Q1) / median over the runs; a metric is steady when its "
           "spread is below a third of its bound (`setup_s` is exempt from "
           "the spread rule).", ""]
    for wl, runs in results.items():
        out += [f"## {wl}", "",
                f"{len(runs)} untraced runs, seeds "
                f"{', '.join(str(r['report']['seed']) for r in runs)}.", "",
                "| metric | median | Q1 | Q3 | spread | bound | spread < bound/3 |",
                "|---|---|---|---|---|---|---|"]
        for name in runs[0]["metrics"]:
            med, q1, q3, sp = spread([r["metrics"][name]["value"]
                                      for r in runs])
            b = bounds.get(name)
            ok = "exempt" if name == "setup_s" else (
                "yes" if b and sp < b / 3 else "no")
            out.append(f"| {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                       f"{sp:.2%} | {b} | {ok} |")
        out += ["", "| seed | correct | ops | steal % (window) | "
                "steal % (run) | load start | load end | run wall s |",
                "|---|---|---|---|---|---|---|---|"]
        for r in runs:
            rep = r["report"]
            out.append(
                f"| {rep['seed']} | {r['correct']} | {rep['ops']} | "
                f"{rep['steal_pct_window']:.2f} | "
                f"{rep['env']['steal_pct_run']:.2f} | "
                f"{rep['env']['load_start'][0]:.2f} | "
                f"{rep['env']['load_end'][0]:.2f} | {r['wall_s']:.1f} |")
        if traced.get(wl):
            t_op = statistics.median(r["metrics"]["trace.op_gmean_ms"]["value"]
                                     for r in traced[wl])
            u_op = statistics.median(r["metrics"]["op_gmean_ms"]["value"]
                                     for r in runs)
            acc = [d["accounted"] for r in traced[wl]
                   for d in r["report"]["decomposition"]]
            out += ["", f"Tracing overhead: traced op_gmean_ms {t_op:.1f} - "
                    f"untraced {u_op:.1f} = {t_op - u_op:+.1f} ms "
                    f"({len(traced[wl])} traced runs). Self times over op "
                    f"latency, per traced op: min {min(acc):.3f}, "
                    f"max {max(acc):.3f}."]
        out.append("")
    env = next(iter(results.values()))[0]["report"]["env"]
    out += [f"Host: {env['local']} on nproc={env['nproc']}, "
            f"PySpark {env['pyspark']}, JVM {env['jvm']}.", ""]
    return "\n".join(out)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--out", required=True)
    p.add_argument("--compare", help="raw results of an earlier set")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    bounds = {m["name"]: m["bound"] for m in e2e}
    results: dict[str, list[dict]] = {}
    traced: dict[str, list[dict]] = {}
    for wl in a.workloads:
        seeds = _seeds(a.seeds)
        for seed in seeds:
            r = run_once(wl, seed, a.seconds, 0)
            results.setdefault(wl, []).append(r)
            print(wl, seed, json.dumps({k: round(v["value"], 4) for k, v in
                                        r["metrics"].items()}), flush=True)
        for seed in seeds[:a.traced]:
            traced.setdefault(wl, []).append(run_once(wl, seed, a.seconds, 1))
    text = report(results, traced, bounds)
    if a.compare:
        with open(a.compare) as f:
            earlier = json.load(f)["untraced"]
        text += "\n".join(comparison(results, earlier, bounds,
                                     {m["name"]: m["better"] for m in e2e}))
    with open(a.out, "w") as f:
        f.write(text)
    with open(os.path.splitext(a.out)[0] + ".json", "w") as f:
        json.dump({"untraced": results, "traced": traced}, f)


if __name__ == "__main__":
    main()
