#!/usr/bin/env python3
"""Runs a workload over several seeds and reports each metric's spread.

    python3 perfbench/spread.py --workload etl_cycles --seeds 1-10 [--trace 1]

For every metric of the final JSON line: the median over the runs and the
distance between the first and third quartiles (statistics.quantiles, n=4)
as a share of the median, next to the metric's bound in BENCHMARK.json.
With --overhead each seed also runs traced, and the traced run's
`trace.run_s`/`trace.op_p50_s` minus the untraced `run_s`/`op_p50_s` is
reported as the tracing overhead.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"seed {seed} failed:\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    secs = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    results, traced = [], []
    for s in seeds(a.seeds):
        results.append(run(a.workload, s, secs, a.trace))
        if a.overhead:
            traced.append(run(a.workload, s, secs, 1))
        vals = {k: round(v["value"], 4) for k, v in results[-1]["metrics"].items()
                if k in bounds or a.trace}
        print(f"seed {s}: correct={results[-1]['correct']} {vals}", flush=True)
    for name in results[0]["metrics"]:
        vs = [r["metrics"][name]["value"] for r in results]
        if len(vs) < 2:
            continue
        med, sp = spread(vs)
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if sp < b / 3 else "  WIDE")
        print(f"{a.workload} {name}: median={med:.4f} spread={sp:.3f} bound={b}{flag}")
    if traced:
        for e2e, tr in (("run_s", "trace.run_s"), ("op_p50_s", "trace.op_p50_s")):
            u = statistics.median(r["metrics"][e2e]["value"] for r in results)
            t = statistics.median(r["metrics"][tr]["value"] for r in traced)
            print(f"{a.workload} tracing overhead {e2e}: traced {t:.4f} - untraced {u:.4f}"
                  f" = {t - u:+.4f} s ({(t - u) / u:+.1%})")
    print(f"{a.workload} all correct: {all(r['correct'] for r in results + traced)}")


if __name__ == "__main__":
    main()
