"""Metric catalogue: names, units, and which end-to-end metric each
per-layer metric is expected to move on which workload.

``BENCHMARK.json`` gates the workload-wide end-to-end metrics. The
per-operation metrics below are printed by every untraced run and
compared by ``compare.py``; the per-layer metrics come from a traced
run only (``--trace 1``).
"""

from __future__ import annotations

#: gated end-to-end metrics, reported by every workload
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "step_ms": "ms",
    "edges_per_s": "edges/s",
    "peak_rss_mb": "MB",
}

#: the timed operations of each workload, in the order a cycle runs them
OPS = {
    "webgraph": ("pagerank", "lpa", "triangles"),
    "crawl": ("extract", "cc", "maxprop"),
    "resume": ("pagerank", "resume"),
}

#: per-operation end-to-end metrics; each workload reports the ones of
#: the operations it runs
OP_METRICS = {
    "pagerank_s": ("s", ("webgraph", "resume")),
    "pagerank_edges_per_s": ("edges/s", ("webgraph", "resume")),
    "lpa_s": ("s", ("webgraph",)),
    "triangles_s": ("s", ("webgraph",)),
    "extract_pages_per_s": ("pages/s", ("crawl",)),
    "cc_s": ("s", ("crawl",)),
    "maxprop_s": ("s", ("crawl",)),
    "resume_s": ("s", ("resume",)),
    "ops_failed_frac": ("fraction", ("webgraph", "crawl", "resume")),
}

OPS_ALL = ("pagerank", "lpa", "triangles", "extract", "cc", "maxprop", "resume")

# layer -> (metric names, the end-to-end metric they should move, where)
LAYERS = {
    "session": (("session.start_s",), "setup_s", ("webgraph", "crawl", "resume")),
    "graph.build.edges_from_pages": (
        (
            "extraction.s",
            "extraction.tasks_s",
            "extraction.links",
            "extraction.python_bytes_sent",
            "extraction.python_bytes_received",
        ),
        "extract_pages_per_s, wall_s",
        ("crawl",),
    ),
    "graph.pagerank": (
        (
            "pagerank.prepare_s",
            "pagerank.prepare_jobs",
            "pagerank.loop_s",
            "pagerank.finalize_s",
            "pagerank.supersteps",
            "pagerank.step_p50_s",
            "pagerank.step_tail_s",
            "pagerank.step_tail_pct",
            "pagerank.step_count",
            "pagerank.jobs_per_step",
            "pagerank.shuffle_read_bytes_per_step",
            "pagerank.shuffle_write_bytes_per_step",
            "pagerank.spill_bytes",
            "pagerank.task_skew",
            "pagerank.busy_frac",
        ),
        "pagerank_s, resume_s, step_ms, edges_per_s",
        ("webgraph", "resume"),
    ),
    "graph.components": (
        tuple(
            f"cc.{m}"
            for m in ("setup_s", "loop_s", "supersteps", "jobs_per_step", "shuffle_bytes", "spill_bytes", "busy_frac")
        ),
        "cc_s, step_ms",
        ("crawl",),
    ),
    "graph.lpa": (
        tuple(
            f"lpa.{m}"
            for m in ("setup_s", "loop_s", "supersteps", "jobs_per_step", "shuffle_bytes", "spill_bytes", "busy_frac")
        ),
        "lpa_s, step_ms",
        ("webgraph",),
    ),
    "graph.triangles": (
        ("triangles.jobs", "triangles.shuffle_bytes", "triangles.spill_bytes", "triangles.task_skew"),
        "triangles_s, wall_s",
        ("webgraph",),
    ),
    "graph.engine": (
        (
            "maxprop.supersteps",
            "maxprop.jobs_per_step",
            "maxprop.python_bytes_sent",
            "maxprop.busy_frac",
            "engine.materialize_calls",
            "engine.materialize_s",
        ),
        "maxprop_s, step_ms",
        ("crawl",),
    ),
    "tableio": (
        ("tableio.saves", "tableio.save_s", "tableio.load_s", "tableio.metrics_append_s", "tableio.ckpt_bytes"),
        "pagerank_s, resume_s",
        ("resume",),
    ),
    "run": (
        ("spark.jobs", "spark.tasks", "spark.tasks_failed", "spark.gc_s", "host.steal_pct"),
        "wall_s",
        ("webgraph", "crawl", "resume"),
    ),
    "tracing": (
        tuple(f"trace.overhead.{op}_s" for op in OPS_ALL),
        "(cost of tracing; traced minus untraced op wall)",
        ("webgraph", "crawl", "resume"),
    ),
}


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf == "s":
        return "s"
    if leaf.endswith("_pct"):
        return "%"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf in ("task_skew", "busy_frac"):
        return "ratio"
    return "count"


#: every per-layer metric with its unit, in catalogue order
PER_LAYER = {m: _unit(m) for metrics, _, _ in LAYERS.values() for m in metrics}

#: suffixes of per-layer metrics that may be 0 where their layer runs:
#: nothing spilled, no task retried, no CPU stolen by a hypervisor
MAY_BE_ZERO = ("spill_bytes", "spark.tasks_failed", "host.steal_pct")


def nonzero_metrics(workload: str) -> list[str]:
    """Per-layer metrics a traced run of ``workload`` must report as
    non-zero: those of every layer it runs, except the ones that may be
    0, with the tracing overhead only of the operations it runs (an
    overhead may be negative)."""
    out = [
        m
        for layer, (metrics, _, wls) in LAYERS.items()
        if workload in wls and layer != "tracing"
        for m in metrics
        if not m.endswith(MAY_BE_ZERO)
    ]
    return out + [f"trace.overhead.{op}_s" for op in OPS[workload]]
