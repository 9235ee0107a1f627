"""Compare two sets of benchmark runs, e.g. the parent commit and a change.

    python3 perfbench/compare.py PARENT CHANGE
    python3 perfbench/compare.py RUNS          # one set: spread per metric

PARENT and CHANGE are result files written by ``run.py`` (in
``.perfbench_runs/results``) or directories holding them. One row
is printed per (workload, metric): the end-to-end metrics gated by
``BENCHMARK.json`` and the per-operation metrics. Each row gives both
sides' median and quartiles, the change's pair win rate (runs paired by
seed where both sides have it, otherwise in order) and a verdict:

- ``unresolved``: either side's quartile spread, as a share of its
  median, exceeds the metric's bound;
- ``worse``: the change's median is worse than the parent's by more
  than the bound;
- ``better``: the change wins at least 9 of 10 pairs and the medians
  differ by more than the parent's quartile spread;
- ``within bound`` otherwise: no worse than the parent by more than the
  bound, with no claimable gain.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench.layers import END_TO_END, OP_METRICS  # noqa: E402

#: bound for per-operation metrics, which BENCHMARK.json does not gate
OP_BOUND = 0.15
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def load_runs(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "end_to_end" in rec and not rec["env"].get("trace"):
            runs.append(rec)
    return runs


def metric_specs() -> dict:
    """metric -> (unit, better, bound)."""
    with open(BENCH) as f:
        bench = json.load(f)
    specs = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    for name, (unit, _) in OP_METRICS.items():
        better = "higher" if name.endswith("_per_s") else "lower"
        specs[name] = (unit, better, OP_BOUND)
    return specs


def values(runs: list[dict], workload: str, metric: str) -> dict[int, float]:
    out = {}
    for i, r in enumerate(runs):
        if r["env"]["workload"] != workload:
            continue
        v = r["end_to_end"].get(metric, r["ops"].get(metric))
        if v is not None:
            out[r["env"]["seed"] if r["env"]["seed"] not in out else -1 - i] = v
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(q) -> float:
    q1, med, q3 = q
    return (q3 - q1) / abs(med) if med else (0.0 if q3 == q1 else float("inf"))


def compare_metric(parent: dict, change: dict, better: str, bound: float) -> dict:
    sign = 1.0 if better == "higher" else -1.0
    common = sorted(set(parent) & set(change))
    if len(common) >= min(len(parent), len(change)):
        pairs = [(parent[k], change[k]) for k in common]
    else:
        pairs = list(zip(parent.values(), change.values()))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    qp, qc = quartiles(list(parent.values())), quartiles(list(change.values()))
    rel = sign * (qc[1] - qp[1]) / abs(qp[1]) if qp[1] else 0.0
    if max(spread(qp), spread(qc)) > bound:
        verdict = "unresolved"
    elif rel < -bound:
        verdict = "worse"
    elif wins >= 0.9 * len(pairs) and abs(qc[1] - qp[1]) > (qp[2] - qp[0]):
        verdict = "better"
    else:
        verdict = "within bound"
    return {"parent": qp, "change": qc, "rel": rel, "wins": wins, "pairs": len(pairs), "verdict": verdict}


def print_spreads(runs: list[dict], specs: dict) -> int:
    """One set of runs: median, quartile spread as a share of the
    median, and whether that spread is under a third of the bound."""
    fmt = "{:10s} {:22s} {:>8s} {:>4s} {:>12s} {:>8s} {:>7s}  {}"
    print(fmt.format("workload", "metric", "unit", "n", "median", "spread%", "bound%", "steady"))
    for wl in sorted({r["env"]["workload"] for r in runs}):
        for metric in list(END_TO_END) + list(OP_METRICS):
            v = list(values(runs, wl, metric).values())
            if not v:
                continue
            unit, _, bound = specs[metric]
            sp = spread(quartiles(v))
            print(
                fmt.format(
                    wl, metric, unit, str(len(v)), f"{quartiles(v)[1]:.5g}", f"{100 * sp:.1f}",
                    f"{100 * bound:.0f}", "yes" if sp < bound / 3 else "NO",
                )
            )
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("parent")
    p.add_argument("change", nargs="?")
    args = p.parse_args(argv)
    specs = metric_specs()
    parent = load_runs(args.parent)
    if args.change is None:
        return print_spreads(parent, specs)
    change = load_runs(args.change)
    workloads = sorted({r["env"]["workload"] for r in parent} & {r["env"]["workload"] for r in change})
    if not workloads:
        print("no workload has runs on both sides", file=sys.stderr)
        return 1
    fmt = "{:10s} {:22s} {:>8s} {:>30s} {:>30s} {:>8s} {:>6s}  {}"
    print(fmt.format("workload", "metric", "unit", "parent med [q1, q3]", "change med [q1, q3]", "better%", "wins", "verdict"))
    for wl in workloads:
        for metric in list(END_TO_END) + list(OP_METRICS):
            pv, cv = values(parent, wl, metric), values(change, wl, metric)
            if not pv or not cv:
                continue
            unit, better, bound = specs[metric]
            r = compare_metric(pv, cv, better, bound)
            print(
                fmt.format(
                    wl,
                    metric,
                    unit,
                    "{:.4g} [{:.4g}, {:.4g}]".format(r["parent"][1], r["parent"][0], r["parent"][2]),
                    "{:.4g} [{:.4g}, {:.4g}]".format(r["change"][1], r["change"][0], r["change"][2]),
                    f"{100 * r['rel']:+.1f}",
                    f"{r['wins']}/{r['pairs']}",
                    r["verdict"],
                )
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
