"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload webgraph --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout, in a fresh local[nproc] JVM started by
this process. Inputs are generated from ``--seed``; set-up is the
JVM launch and session start plus loading the inputs into persisted,
counted tables; the workload's operations then
run in cycles, one cycle and then as many more as fit in ``--seconds``
seconds, every result is checked against an oracle, and the last line
of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` at least two cycles run untraced, then the session
restarts with Spark's event log on and a cycle runs with spans around
every layer, and the metrics are the per-layer ones, including each
operation's tracing overhead (traced minus the warm untraced cycles).
``--smoke`` uses tiny inputs and fails unless every metric is emitted
with its unit.

Everything the run writes stays under ``.perfbench_runs/`` in the
current directory: its scratch directory (Spark local dirs, warehouse,
inputs, checkpoints, the event log) is removed before exit, and its
result record, with the traced run's spans, is written to
``.perfbench_runs/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

STARTED = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# run as a script, sys.path[0] is this directory; import from the root
# instead so the package's module names cannot shadow the stdlib's
sys.path[0] = ROOT

from perfbench import host  # noqa: E402
from perfbench.layers import END_TO_END, OP_METRICS, PER_LAYER, nonzero_metrics  # noqa: E402

WORKLOADS = ("webgraph", "crawl", "resume")
RESULTS_DIR = os.path.join(".perfbench_runs", "results")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one cycle per phase")
    p.add_argument("--perturb", metavar="OP", help="alter OP's collected output before its check")
    return p.parse_args(argv)


def pin_env(run_dir: str, cpus: int, driver_mem_mb: int) -> dict:
    """Point every scratch path of Spark, the JVM and Python workers
    into the run directory, and size the session to this host."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb}m",
        SPARK_GRAFT_LOCAL_DIR=dirs["local"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        TMPDIR=dirs["tmp"],
        # the short-lived JVM that spark-submit runs to build the driver
        # command line; without these it writes under /tmp
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def start_session(dirs: dict, eventlog: bool):
    from pregel_spark.session import get_spark

    # a fixed heap, all of it resident from the start: otherwise the JVM's
    # RSS grows with every young region G1 first touches, so its peak
    # measured how far the run got towards the heap size, not what the
    # program holds; with it, peak RSS moves with off-heap and driver
    # memory only
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(eventlog).lower(),
    }
    if eventlog:
        conf.update(
            {
                "spark.eventLog.dir": dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for both the
    JVM and any Python workers it left behind to exit."""
    from pyspark import SparkContext

    others = host.descendants()
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    host.reap(others)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean_step_ms(results) -> float:
    return sum(sum(r.steps_ms) for r in results) / sum(r.supersteps for r in results)


def end_to_end(setup, cycles, rss_mb) -> dict:
    """Medians over cycles."""
    superstep_ops = [[r for r in c if r.supersteps] for c in cycles]
    return {
        "setup_s": setup,
        "wall_s": median([sum(r.wall_s for r in c) for c in cycles]),
        "step_ms": median([_mean_step_ms(c) for c in superstep_ops if c]),
        "edges_per_s": median(
            [sum(r.edges * r.supersteps for r in c) / sum(r.wall_s for r in c) for c in superstep_ops if c]
        ),
        "peak_rss_mb": rss_mb,
    }


def per_op(cycles, workload) -> dict:
    """Medians over cycles, and the share of ops that failed."""
    results = [r for c in cycles for r in c]
    out = {}
    for op in {r.op for r in results}:
        rs = [r for r in results if r.op == op and not r.error]
        if op == "extract":
            out["extract_pages_per_s"] = median([r.pages / r.wall_s for r in rs])
            continue
        out[f"{op}_s"] = median([r.wall_s for r in rs])
        if op == "pagerank":
            out["pagerank_edges_per_s"] = median([r.edges * r.supersteps / r.wall_s for r in rs])
    out["ops_failed_frac"] = sum(1 for r in results if r.error) / len(results)
    return {k: out[k] for k in OP_METRICS if workload in OP_METRICS[k][1]}


def run(args) -> dict:
    from perfbench.workloads import SIZES, Workload

    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_dir = os.path.abspath(
        os.path.join(".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}")
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus, ram_mb = host.cpus(), host.ram_mb()
    dirs = pin_env(run_dir, cpus, min(2048, ram_mb // 4))
    sizes = SIZES["smoke" if args.smoke else "full"][args.workload]
    wl = Workload(args.workload, args.seed, sizes, run_dir)
    wl.perturb = args.perturb
    cpu0 = host.cpu_times()
    marks = [("start", STARTED), ("imports", time.perf_counter())]
    spark = rss = None
    try:
        # set-up: the JVM launch and session start, then loading the
        # inputs; generating them and the oracles in between is not timed
        t0 = time.perf_counter()
        spark = start_session(dirs, eventlog=False)
        t1 = time.perf_counter()
        session_start = t1 - t0
        marks.append(("session", t1))
        wl.generate(spark)
        wl.prepare()
        marks.append(("inputs+oracles", time.perf_counter()))
        t2 = time.perf_counter()
        wl.load(spark)
        setup = time.perf_counter() - t2 + session_start
        marks.append(("load", time.perf_counter()))
        # VmHWM is a lifetime peak, so sampling from here still counts the
        # set-up, and not the oracle child, which has ended
        rss = host.RssPeak().start()
        # the first cycle is also the first use of each op in this JVM,
        # as for a user's fresh session; a traced run needs a second,
        # warm one to measure tracing overhead against
        window = args.seconds / 2 if args.trace else args.seconds
        cycles = run_cycles(wl, spark, window, nullcontext, min_cycles=1 + args.trace)
        marks.append(("cycles", time.perf_counter()))
        rss.stop()
        e2e = end_to_end(setup, cycles, rss.mb)
        ops = per_op(cycles, args.workload)
        layer = spans = None
        if args.trace:
            from perfbench import layerstats

            wl.release()
            spark.stop()
            spark = start_session(dirs, eventlog=True)
            wl.load(spark)
            traced, tracer = layerstats.traced_cycles(wl, spark, window, run_cycles, len(cycles))
            spark.stop()
            layer = layerstats.layer_metrics(
                wl, tracer, traced, cycles, dirs["eventlog"], cpus, session_start,
            )
            spans = [s.__dict__ for s in tracer.spans]
            cycles = cycles + traced
            marks.append(("traced", time.perf_counter()))
    finally:
        if rss is not None:
            rss.stop()
        stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    marks.append(("stop", time.perf_counter()))
    steal, load = host.steal_pct(cpu0, host.cpu_times()), os.getloadavg()
    if layer is not None:
        layer["host.steal_pct"] = steal
    results = [r for c in cycles for r in c]
    errors = sorted({f"{r.op}: {r.error}" for r in results if r.error})
    f = wl.facts
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "smoke": args.smoke,
        "nproc": cpus,
        "ram_mb": ram_mb,
        "driver_mem_mb": int(os.environ["SPARK_GRAFT_DRIVER_MEM"][:-1]),
        "steal_pct": steal,
        "peak_rss_tree_mb": rss.tree_mb,
        "loadavg": load,
        "versions": host.versions(),
        "sizes": sizes,
        "input": {"edges": f.get("edges"), "vertices": f.get("vertices"), "pages": f.get("pages")},
        "cycles": len(cycles),
        "ops": list(wl.ops),
    }
    return {
        "env": env,
        "end_to_end": e2e,
        "ops": ops,
        "per_layer": layer,
        "errors": errors,
        "timeline_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])},
        "op_walls_s": [{r.op: round(r.wall_s, 4) for r in c} for c in cycles],
        "op_steps_ms": [{r.op: [round(ms, 1) for ms in r.steps_ms] for r in c} for c in cycles],
        "attempted": len(results),
        "failed": sum(1 for r in results if r.error),
        "spans": spans,
        "run_dir": run_dir,
    }


def run_cycles(wl, spark, seconds, span, first=0, min_cycles=1):
    """Run at least ``min_cycles`` cycles, then more while another cycle
    as long as the last one still fits in ``seconds``."""
    cycles, t0 = [], time.perf_counter()
    while True:
        tc = time.perf_counter()
        with span("cycle"):
            cycles.append(wl.run_cycle(spark, first + len(cycles), span))
        last = time.perf_counter() - tc
        if len(cycles) >= min_cycles and time.perf_counter() - t0 + last > seconds:
            return cycles


def report(rec: dict, trace: int) -> dict:
    """Print the human-readable table and environment, and return the
    result object for the last line of stdout."""
    rows = [(k, v, END_TO_END[k]) for k, v in rec["end_to_end"].items()]
    rows += [(k, v, OP_METRICS[k][0]) for k, v in rec["ops"].items()]
    if rec["per_layer"] is not None:
        rows += [(k, rec["per_layer"][k], u) for k, u in PER_LAYER.items()]
    for name, value, unit in rows:
        print(f"{name:40s} {value:>16.6g} {unit}")
    for e in rec["errors"]:
        print(f"FAILED {e}")
    print("env " + json.dumps(rec["env"], sort_keys=True))
    if trace:
        metrics = {k: {"value": rec["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }


def check_smoke(rec: dict, out: dict) -> list[str]:
    """Names of metrics a smoke run failed to emit with a unit, or
    reported as 0 where it runs their operation or layer (an op whose
    every result failed has no time)."""
    workload = rec["env"]["workload"]
    failed_ops = {e.split(":", 1)[0] for e in rec["errors"]}
    missing = [k for k in END_TO_END if not rec["end_to_end"].get(k)]
    want_ops = [k for k, (_, wls) in OP_METRICS.items() if workload in wls and k != "ops_failed_frac"]
    missing += [k for k in want_ops if k not in rec["ops"] or not (rec["ops"][k] or k.split("_")[0] in failed_ops)]
    missing += [k for k in PER_LAYER if not out["metrics"].get(k, {}).get("unit")]
    missing += [k for k in nonzero_metrics(workload) if not rec["per_layer"][k]]
    return missing


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.smoke:
        args.trace = 1
    rec = run(args)
    out = report(rec, args.trace)
    rec["result"] = out
    os.makedirs(RESULTS_DIR, exist_ok=True)
    path = os.path.join(RESULTS_DIR, os.path.basename(rec["run_dir"]) + ".json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    if args.smoke:
        missing = check_smoke(rec, out)
        if missing:
            print("smoke: metrics missing or 0: " + ", ".join(missing), file=sys.stderr)
            return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
