"""Per-layer metrics of a traced run.

The traced cycles run with spans around each operation (``op.<name>``),
each forcing of a result (``force``), and the engine entry points that
:func:`spans.instrument` wraps. Task metrics from Spark's event log are
attributed to spans by job group, and each layer metric below is
computed per traced cycle and reported as the median over them; step
distributions pool every traced cycle's supersteps.
"""

from __future__ import annotations

import math
import statistics

from .layers import OPS_ALL, PER_LAYER
from .spans import Attribution, Tracer, instrument, parse_eventlog

TABLEIO = ("tableio.save", "tableio.load", "tableio.metrics_append")


def traced_cycles(wl, spark, seconds, run_cycles, first):
    """Run cycles with spans and layer wrappers on; returns the cycles
    and the tracer holding their spans."""
    tracer = Tracer(spark.sparkContext)
    restore = instrument(tracer)
    try:
        cycles = run_cycles(wl, spark, seconds, tracer.span, first)
    finally:
        restore()
    return cycles, tracer


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _skew(tasks) -> float:
    runs = [t.run_ms for t in tasks]
    med = _median(runs)
    return max(runs) / med if runs and med else 0.0


def _sum(tasks, attr) -> int:
    return sum(getattr(t, attr) for t in tasks)


def step_tail(steps_s: list[float]) -> tuple[float, float]:
    """(percentile, nearest-rank value): the highest whole percentile
    with at least ten steps beyond it, or the median when there are too
    few steps for any percentile above it to qualify."""
    n = len(steps_s)
    if n == 0:
        return 0.0, 0.0
    pct = max(50, math.floor(100 * (1 - 10 / n)))
    return float(pct), sorted(steps_s)[math.ceil(pct / 100 * n) - 1]


class _Cycle:
    """Layer metrics of one traced cycle."""

    def __init__(self, att: Attribution, cycle_sid: str, results, cpus: int):
        self.att, self.cpus = att, cpus
        self.ops = {}
        for sid in att.children.get(cycle_sid, ()):
            sp = att.spans[sid]
            if sp.name.startswith("op."):
                self.ops[sp.name[3:]] = sp
        self.results = {r.op: r for r in results}
        self.root = cycle_sid

    def _loop(self, op: str, loop_name: str):
        """(loop spans, loop subtree without checkpoint I/O, steps)."""
        op_sp = self.ops[op]
        loops = self.att.find(op_sp.sid, loop_name)
        sids = [s for lp in loops for s in self.att.subtree(lp.sid, exclude=TABLEIO)]
        return loops, sids, self.results[op].supersteps

    def _busy(self, loops, sids) -> float:
        wall = sum(lp.dur for lp in loops)
        run_s = _sum(self.att.tasks_of(sids), "run_ms") / 1000
        return run_s / (wall * self.cpus) if wall else 0.0

    def _force_s(self, op: str) -> float:
        return sum(s.dur for s in self.att.find(self.ops[op].sid, "force"))

    def pagerank(self) -> dict:
        out = {}
        prs = [op for op in ("pagerank", "resume") if op in self.ops]
        if not prs:
            return out
        att = self.att
        prep = [s for op in prs for s in att.find(self.ops[op].sid, "pagerank.prepare")]
        prep_sids = [x for s in prep for x in att.subtree(s.sid)]
        loops, sids, steps = [], [], 0
        finalize = 0.0
        for op in prs:
            lp, sd, st = self._loop(op, "pagerank.loop")
            if not lp:
                continue
            loops += lp
            sids += sd
            steps += st
            end = max(s.end for s in lp)
            finalize += self._force_s(op) + sum(
                att.spans[c].dur
                for c in att.children.get(self.ops[op].sid, ())
                if att.spans[c].name == "materialize" and att.spans[c].start >= end
            )
        tasks = att.tasks_of(sids)
        op_tasks = att.tasks_of([x for op in prs for x in att.subtree(self.ops[op].sid)])
        out.update(
            {
                "pagerank.prepare_s": sum(s.dur for s in prep),
                "pagerank.prepare_jobs": len(att.jobs_of(prep_sids)),
                "pagerank.loop_s": sum(sum(self.results[op].steps_ms) for op in prs) / 1000,
                "pagerank.finalize_s": finalize,
                "pagerank.supersteps": steps,
                "pagerank.jobs_per_step": len(att.jobs_of(sids)) / steps if steps else 0.0,
                "pagerank.shuffle_read_bytes_per_step": _sum(tasks, "shuffle_read") / steps if steps else 0.0,
                "pagerank.shuffle_write_bytes_per_step": _sum(tasks, "shuffle_write") / steps if steps else 0.0,
                "pagerank.spill_bytes": _sum(op_tasks, "spill"),
                "pagerank.task_skew": _skew(tasks),
                "pagerank.busy_frac": self._busy(loops, sids),
            }
        )
        return out

    def loop_op(self, op: str, prefix: str, loop_name: str) -> dict:
        if op not in self.ops:
            return {}
        loops, sids, steps = self._loop(op, loop_name)
        op_tasks = self.att.tasks_of(self.att.subtree(self.ops[op].sid))
        loop_s = sum(self.results[op].steps_ms) / 1000
        return {
            f"{prefix}.setup_s": self.ops[op].dur - loop_s - self._force_s(op),
            f"{prefix}.loop_s": loop_s,
            f"{prefix}.supersteps": steps,
            f"{prefix}.jobs_per_step": len(self.att.jobs_of(sids)) / steps if steps else 0.0,
            f"{prefix}.shuffle_bytes": _sum(op_tasks, "shuffle_read") + _sum(op_tasks, "shuffle_write"),
            f"{prefix}.spill_bytes": _sum(op_tasks, "spill"),
            f"{prefix}.busy_frac": self._busy(loops, sids),
            f"{prefix}.python_bytes_sent": _sum(op_tasks, "py_sent"),
        }

    def triangles(self) -> dict:
        if "triangles" not in self.ops:
            return {}
        sids = self.att.subtree(self.ops["triangles"].sid)
        tasks = self.att.tasks_of(sids)
        return {
            "triangles.jobs": len(self.att.jobs_of(sids)),
            "triangles.shuffle_bytes": _sum(tasks, "shuffle_read") + _sum(tasks, "shuffle_write"),
            "triangles.spill_bytes": _sum(tasks, "spill"),
            "triangles.task_skew": _skew(tasks),
        }

    def extraction(self) -> dict:
        if "extract" not in self.ops:
            return {}
        tasks = self.att.tasks_of(self.att.subtree(self.ops["extract"].sid))
        return {
            "extraction.s": self.ops["extract"].dur,
            "extraction.tasks_s": _sum(tasks, "run_ms") / 1000,
            "extraction.links": self.results["extract"].edges,
            "extraction.python_bytes_sent": _sum(tasks, "py_sent"),
            "extraction.python_bytes_received": _sum(tasks, "py_recv"),
        }

    def whole(self) -> dict:
        att = self.att
        sids = att.subtree(self.root)
        spans = [att.spans[s] for s in sids]
        mats = [s for s in spans if s.name == "materialize"]
        tasks = att.tasks_of(sids)

        def dur(name):
            return sum(s.dur for s in spans if s.name == name)

        return {
            "engine.materialize_calls": len(mats),
            "engine.materialize_s": sum(s.dur for s in mats),
            "tableio.saves": sum(1 for s in spans if s.name == "tableio.save"),
            "tableio.save_s": dur("tableio.save"),
            "tableio.load_s": dur("tableio.load"),
            "tableio.metrics_append_s": dur("tableio.metrics_append"),
            "spark.jobs": len(att.jobs_of(sids)),
            "spark.tasks": len(tasks),
            "spark.tasks_failed": sum(1 for t in tasks if t.failed),
            "spark.gc_s": _sum(tasks, "gc_ms") / 1000,
        }


def layer_metrics(wl, tracer, traced, untraced, log_dir, cpus, session_start) -> dict:
    """Every per-layer metric (0 where the workload does not run the
    layer), medians over the traced cycles; keys a layer computes but
    the catalogue does not list are dropped."""
    att = Attribution(tracer.spans, parse_eventlog(log_dir))
    cycle_sids = [s.sid for s in tracer.spans if s.name == "cycle"]
    per_cycle = []
    for sid, results, ckpt in zip(cycle_sids, traced, wl.ckpt_bytes[-len(traced):]):
        c = _Cycle(att, sid, results, cpus)
        m = {}
        m.update(c.pagerank())
        m.update(c.loop_op("cc", "cc", "cc.loop"))
        m.update(c.loop_op("lpa", "lpa", "lpa.loop"))
        m.update(c.loop_op("maxprop", "maxprop", "engine.loop"))
        m.update(c.triangles())
        m.update(c.extraction())
        m.update(c.whole())
        m["tableio.ckpt_bytes"] = ckpt
        per_cycle.append(m)
    out = {k: _median([m[k] for m in per_cycle if k in m]) for k in PER_LAYER}
    pr_steps = [
        ms / 1000 for results in traced for r in results if r.op in ("pagerank", "resume") for ms in r.steps_ms
    ]
    pct, tail = step_tail(pr_steps)
    out.update(
        {
            "pagerank.step_p50_s": _median(pr_steps),
            "pagerank.step_tail_s": tail,
            "pagerank.step_tail_pct": pct,
            "pagerank.step_count": len(pr_steps),
            "session.start_s": session_start,
        }
    )
    for op in OPS_ALL:
        t = [r.wall_s for c in traced for r in c if r.op == op]
        u = [r.wall_s for c in untraced[1:] for r in c if r.op == op]
        out[f"trace.overhead.{op}_s"] = _median(t) - _median(u) if t and u else 0.0
    return out
