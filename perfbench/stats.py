"""Turns a run record written by graftbench.Main into the benchmark's metrics.

Percentile rule: a timing is reported as its median and as the highest
percentile among 99, 95, 90 and 75 that has at least ten samples beyond it,
always with the sample count. A named tail percentile (the `p95` metrics of
the run record) is reported only when at least ten samples lie beyond it;
otherwise its value is null and the record says how many samples it needs.
"""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_PERCENTILES = (99, 95, 90, 75)
MIN_BEYOND = 10


def valid_name(name):
    return bool(NAME_RE.match(name))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    s = sorted(xs)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail(xs):
    """(p, value) for the highest percentile with ten samples beyond it, or
    None when even the 75th has fewer."""
    for p in TAIL_PERCENTILES:
        if beyond(len(xs), p) >= MIN_BEYOND:
            return p, percentile(xs, p)
    return None


def samples_needed(p):
    """Fewest samples that leave ten beyond the p-th percentile."""
    return MIN_BEYOND * 100 // (100 - p)


def p95(xs):
    """The 95th percentile if at least ten samples lie beyond it, else None."""
    return percentile(xs, 95) if beyond(len(xs), 95) >= MIN_BEYOND else None


def failed_op_share(rec):
    return rec["failed"] / rec["attempted"] if rec["attempted"] else 1.0


def run_seconds(rec):
    """Wall time of the measured loop at the planned input size; a loop cut
    by the safety stop is scaled to the planned op count."""
    loop = rec["loop"]
    if loop["capped"] and loop["done_ops"]:
        return loop["wall_s"] * loop["planned_ops"] / loop["done_ops"]
    return loop["wall_s"]


def unit_samples(rec):
    return rec["samples"].get(rec["loop"]["unit"], [])


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec):
    """The gated metrics (trace 0)."""
    return {
        "setup_s": rec["setup"]["setup_s"],
        "run_s": run_seconds(rec),
        "op_p50_s": median_or_zero(unit_samples(rec)),
    }


def workload_metrics(rec):
    """The workload's own named metrics, each with its unit and, for a
    timing, its sample count and the percentile rule applied."""
    s = rec["samples"]
    w = rec["workload"]
    out = {}

    def timing(prefix, kinds):
        xs = [x for k in kinds for x in s.get(k, [])]
        t = tail(xs)
        out[f"{prefix}_p50_s"] = {"value": statistics.median(xs) if xs else None,
                                  "unit": "s", "n": len(xs)}
        out[f"{prefix}_p95_s"] = {"value": p95(xs), "unit": "s", "n": len(xs),
                                  "needs_n": samples_needed(95)}
        out[f"{prefix}_tail_s"] = {"value": {"p": t[0], "value": t[1]} if t else None,
                                   "unit": "s", "n": len(xs),
                                   "needs_n": samples_needed(TAIL_PERCENTILES[-1])}

    if w in ("etl_cycles", "lake_history"):
        timing("etl_cycle", ["cycle"])
        rows = rec["record"].get("rows_appended", 0)
        out["etl_rows_per_s"] = {"value": rows / run_seconds(rec), "unit": "rows/s"}
    if w == "lake_history":
        timing("snapshot_read", ["read", "tt_read"])
    if w == "report_daily":
        timing("report", ["report"])
    if w == "dashboard_session":
        timing("dash_session", ["session"])
        timing("dash_chart", ["chart"])
        timing("dash_fill", ["fill"])
    out["setup_s"] = {"value": rec["setup"]["setup_s"], "unit": "s"}
    out["run_s"] = {"value": run_seconds(rec), "unit": "s"}
    out["heap_peak_mb"] = {"value": rec["jvm"]["live_heap_peak_mb"], "unit": "MB"}
    out["failed_op_share"] = {"value": failed_op_share(rec), "unit": "ratio"}
    return out


def per_layer(rec, names):
    """Every named per-layer metric (trace 1); a layer the workload does not
    touch reads 0. The traced run's own end-to-end figures ride along as
    `trace.run_s` and `trace.op_p50_s`."""
    layers = dict(rec.get("layers", {}))
    layers["trace.run_s"] = run_seconds(rec)
    layers["trace.op_p50_s"] = median_or_zero(unit_samples(rec))
    return {n: layers.get(n, 0.0) for n in names}


def result(rec, metric_defs):
    """The contract's last line: correct/attempted/failed plus metrics."""
    names = [m["name"] for m in metric_defs]
    values = per_layer(rec, names) if rec["trace"] else end_to_end(rec)
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in metric_defs}}
