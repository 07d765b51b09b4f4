#!/usr/bin/env python3
"""Runs one workload of the end-to-end benchmark and prints its metrics.

    python3 perfbench/run.py --workload etl_cycles --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
fixtures (see build.py). Each run starts its own JVM on local[<cores>], sets
up, warms up, runs a fixed number of ops sized to --seconds, checks every
output against an independent oracle and records the box.

Output: one line per workload metric (with unit and sample count), then as
the last line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The full run record (every sample, the
lake-growth curve, the box probes) is kept under .bench_build/records/.

--break-check corrupts the first expected value of the run's checks, to
show that a failing check makes the run incorrect.
"""

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import stats  # noqa: E402

RUN_TIMEOUT_S = 170


def summary(rec):
    lines = []
    for name, m in stats.workload_metrics(rec).items():
        v = m["value"]
        if v is None:
            lines.append(f"{rec['workload']} {name} = n/a (n={m['n']}, needs n>={m['needs_n']})")
            continue
        v = f"p{v['p']} {v['value']:.4f}" if isinstance(v, dict) else f"{v:.4f}"
        n = f" (n={m['n']})" if "n" in m else ""
        lines.append(f"{rec['workload']} {name} = {v} {m['unit']}{n}")
    box = rec["box"]
    single = "n/a" if box["probe_sec"] is None else f"{box['probe_sec']:.4f}"
    lines.append(f"{rec['workload']} box probe_sec={single} "
                 f"probe_par_sec={box['probe_par_sec']:.4f} nproc={box['nproc']} "
                 f"heap_max_mb={box['heap_max_mb']:.0f}")
    j = rec["jvm"]
    lines.append(f"{rec['workload']} gc in ops {j['gc_in_ops_s']:.3f} s, between ops "
                 f"{max(0.0, j['gc_between_ops_s']):.3f} s, forced by harness {j['forced_gcs']}")
    bad = [c for c in rec["checks"] if not c["ok"]]
    lines.append(f"{rec['workload']} checks {len(rec['checks']) - len(bad)}/{len(rec['checks'])} ok"
                 + "".join(f"\n  FAILED {c['name'][:200]}: {c['detail'][:300]}" for c in bad[:5])
                 + "".join(f"\n  ERROR {e[:300]}" for e in rec["errors"][:5]))
    return "\n".join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--break-check", action="store_true")
    a = ap.parse_args(argv)
    build.exit_on_sigterm()

    spec_file = build.ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        print(f"no {spec_file}", file=sys.stderr)
        return 2
    spec = json.loads(spec_file.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        print(f"unknown workload {a.workload}", file=sys.stderr)
        return 2
    try:
        classes, fixtures, jars = build.ensure()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    run_dir = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        build.jvm(classes, jars, run_dir / "tmp", [
            "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf", str(build.testdata()), "--fixtures", str(fixtures),
            "--rundir", str(run_dir), "--out", str(run_dir / "record.json"),
            "--cpus", str(build.cpus()), "--break-check", "1" if a.break_check else "0"],
            cwd=fixtures, timeout=RUN_TIMEOUT_S, cds=fixtures / "app.jsa")
        rec = json.loads((run_dir / "record.json").read_text())
    except build.BuildError as e:
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    records = build.BUILD / "records"
    records.mkdir(exist_ok=True)
    (records / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(rec))
    print(summary(rec))
    defs = spec["per_layer"] if a.trace else spec["end_to_end"]
    print(json.dumps(stats.result(rec, defs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
