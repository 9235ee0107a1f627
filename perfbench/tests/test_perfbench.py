"""Tests of the benchmark itself: oracles, checks, event-log attribution,
the compare command, and smoke runs of every workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start a local Spark JVM per workload and take a few
minutes in total; everything else runs in seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, layerstats, oracles  # noqa: E402
from perfbench.layers import END_TO_END, OP_METRICS, PER_LAYER, nonzero_metrics  # noqa: E402
from perfbench.spans import Attribution, Span, parse_eventlog  # noqa: E402
from tests.graphs import lpa_oracle  # noqa: E402

RUN = os.path.join(ROOT, "perfbench", "run.py")


def graph(pairs):
    return oracles.Graph(np.array([a for a, _ in pairs]), np.array([b for _, b in pairs]))


def frame(g, col, values):
    return pd.DataFrame({"id": g.ids, col: values})


# ---------------------------------------------------------------- oracles


def test_pagerank_matches_closed_form_and_keeps_mass():
    cycle = graph([("a", "b"), ("b", "c"), ("c", "a")])
    r, steps = oracles.pagerank_steps(cycle, tol=1e-12)
    assert steps == 1 and np.allclose(r, 1 / 3)
    # a dangling sink: its mass is spread over every vertex each step
    g = graph([("a", "c"), ("b", "c")])
    r, _ = oracles.pagerank_steps(g, max_iter=1)
    d, n = 0.85, 3
    sink = (1 - d) / n + d * (2 * (1 / n) + (1 / n) / n)
    assert np.isclose(r[2], sink) and np.isclose(r.sum(), 1.0)


def test_components_and_max_propagation():
    g = graph([("a", "b"), ("b", "c"), ("x", "y")])
    assert list(g.ids[oracles.min_label_fixpoint(g)]) == ["a", "a", "a", "x", "x"]
    vals = np.array([5, 1, 9, 2, 3])  # a b c x y
    assert list(oracles.max_value_rounds(g, vals, 1)) == [5, 9, 9, 3, 3]
    assert list(oracles.max_value_rounds(g, vals, 10)) == [9, 9, 9, 3, 3]


def test_lpa_matches_the_repos_python_oracle():
    rng = np.random.default_rng(3)
    pairs = [(f"v{a}", f"v{b}") for a, b in rng.integers(0, 40, size=(120, 2))]
    for rounds in (1, 2, 3):
        got = oracles.lpa_labels(graph(pairs), rounds).set_index("id")["label"].to_dict()
        want = lpa_oracle(pairs, max_iter=rounds)
        assert {v: got[v] for v in want} == want


def test_triangle_count():
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    assert oracles.triangle_total(graph(k4)) == 4
    assert oracles.triangle_total(graph(k4 + [(b, a) for a, b in k4] + [("d", "e")])) == 4


# ---------------------------------------------------------------- checks


def test_checks_accept_the_oracle_and_reject_a_perturbed_result():
    g = graph([("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    ranks, _ = oracles.pagerank_steps(g, max_iter=4)
    assert oracles.check_ranks(g, frame(g, "rank", ranks), ranks) is None
    bad = ranks.copy()
    bad[[0, 1]] = bad[[1, 0]] * [1.0001, 0.9999]
    assert oracles.check_ranks(g, frame(g, "rank", bad), ranks)
    assert oracles.check_ranks(g, frame(g, "rank", ranks).iloc[1:], ranks)

    comp = oracles.min_label_fixpoint(g)
    labels = frame(g, "component", g.ids[comp])
    assert oracles.check_labels(g, labels, "component", comp) is None
    labels.loc[3, "component"] = "d"
    assert oracles.check_labels(g, labels, "component", comp)

    vals = np.arange(g.n)
    want = oracles.max_value_rounds(g, vals, 5)
    assert oracles.check_values(g, frame(g, "value", want), want) is None
    assert oracles.check_values(g, frame(g, "value", want - 1), want)

    lpa = oracles.lpa_labels(g, 2)
    assert oracles.check_lpa(lpa.copy(), lpa) is None
    wrong = lpa.copy()
    wrong.loc[0, "label"] = "zz"
    assert oracles.check_lpa(wrong, lpa)

    assert oracles.check_count(3, 3, "n") is None and oracles.check_count(4, 3, "n")
    assert oracles.check_edge_set({(1, 2)}, {(1, 2)}) is None
    assert oracles.check_edge_set({(1, 2)}, {(1, 2), (2, 3)})


def test_extracted_links_drop_self_links_and_duplicates():
    pages = pd.DataFrame(
        {
            "url": ["http://a.example/", "http://b.example/"],
            "html": [
                b'<a href="http://b.example/">x</a><a href="http://b.example/">y</a>',
                b'<a href="http://b.example/">self</a><a href="/rel">r</a>',
            ],
        }
    )
    assert oracles.extracted_links(pages) == {
        ("http://a.example/", "http://b.example/"),
        ("http://b.example/", "http://b.example/rel"),
    }


# -------------------------------------------------------- event log


def _task(stage, run_ms, *, read=0, write=0, spill=0, py=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {
            "Failed": failed,
            "Accumulables": [{"Name": "data sent to Python workers", "Update": str(py)}] if py else [],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 1,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    }


def test_event_log_attribution_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pb1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "pb2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        _task(0, 10, write=100),
        _task(1, 30, read=100, py=7),
        _task(2, 50, spill=9, failed=True),
        _task(3, 70),
    ]
    (tmp_path / "app").write_text("".join(json.dumps(e) + "\n" for e in events))
    log = parse_eventlog(str(tmp_path))
    spans = [
        Span("pb0", "cycle", None, 0.0, 10.0),
        Span("pb1", "op.x", "pb0", 1.0, 4.0),
        Span("pb2", "tableio.save", "pb1", 2.0, 3.0),
    ]
    att = Attribution(spans, log)
    # stage 1 belongs to the first job listing it; stage 3 has no group
    assert att.jobs_of(["pb1"]) == [0] and att.jobs_of(["pb2"]) == [1]
    whole = att.tasks_of(att.subtree("pb0"))
    assert sorted(t.run_ms for t in whole) == [10, 30, 50]
    outside = att.tasks_of(att.subtree("pb1", exclude=("tableio.save",)))
    assert sum(t.py_sent for t in outside) == 7 and sum(t.shuffle_read for t in outside) == 100
    assert [t.failed for t in whole].count(True) == 1


def test_step_tail_percentile():
    assert layerstats.step_tail([]) == (0.0, 0.0)
    assert layerstats.step_tail([3.0, 1.0, 2.0]) == (50.0, 2.0)
    steps = [float(i) for i in range(1, 101)]
    assert layerstats.step_tail(steps) == (90.0, 90.0)


def test_every_per_layer_metric_has_a_unit():
    assert all(PER_LAYER.values()) and all(END_TO_END.values())
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


# ---------------------------------------------------------------- compare


def test_compare_verdicts():
    parent = {s: 10.0 + 0.1 * (s % 3) for s in range(10)}
    same = compare.compare_metric(parent, dict(parent), "lower", 0.15)
    assert same["verdict"] == "within bound" and same["wins"] == 0
    faster = compare.compare_metric(parent, {s: v * 0.7 for s, v in parent.items()}, "lower", 0.15)
    assert faster["verdict"] == "better" and faster["wins"] == 10
    slower = compare.compare_metric(parent, {s: v * 1.3 for s, v in parent.items()}, "lower", 0.15)
    assert slower["verdict"] == "worse"
    noisy = compare.compare_metric(parent, {s: 5.0 + 10 * (s % 2) for s in range(10)}, "lower", 0.15)
    assert noisy["verdict"] == "unresolved"


# --------------------------------------------------------------- runs


def _run(args, cwd, timeout=600):
    return subprocess.run(
        [sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and '"correct"' not in p.stdout


@pytest.mark.parametrize("workload,perturb", [("webgraph", "triangles"), ("crawl", None), ("resume", None)])
def test_smoke(workload, perturb, tmp_path):
    args = ["--workload", workload, "--seed", "5", "--seconds", "1", "--smoke"]
    p = _run(args + (["--perturb", perturb] if perturb else []), cwd=tmp_path)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out["metrics"]) == set(PER_LAYER)
    assert all(m["unit"] == PER_LAYER[k] for k, m in out["metrics"].items())
    # every layer the workload runs was measured, not left at 0
    assert [k for k in nonzero_metrics(workload) if not out["metrics"][k]["value"]] == []
    (rec_file,) = (tmp_path / ".perfbench_runs" / "results").iterdir()
    rec = json.loads(rec_file.read_text())
    assert set(rec["end_to_end"]) == set(END_TO_END)
    assert set(rec["ops"]) == {k for k, (_, wls) in OP_METRICS.items() if workload in wls}
    if perturb:
        # the perturbed op fails its oracle in every cycle, and nothing else
        assert out["failed"] == rec["env"]["cycles"] and not out["correct"]
        assert rec["ops"]["ops_failed_frac"] == out["failed"] / out["attempted"]
    else:
        assert out["correct"] and out["failed"] == 0 and rec["ops"]["ops_failed_frac"] == 0
