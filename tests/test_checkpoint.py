"""Checkpoint/resume: interrupted run + resume == uninterrupted run
(SURVEY.md §5 item 5; north_rule 'resumes mid-superstep'), for every
loop on the shared superstep driver (``engine.run_supersteps``)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from pregel_spark import tableio
from pregel_spark.graph import connected_components, label_propagation, pagerank
from pregel_spark.graph.build import undirect, vertices_from_edges
from pregel_spark.graph.engine import Pregel
from pregel_spark.graph.maxprop import PROGRAM, _compute as maxprop_compute
from pregel_spark.tableio import CheckpointManager, read_manifest, write_table
from pyspark.sql import functions as F
from tests.conftest import edges_df
from tests.graphs import TOY7, two_components


def test_tableio_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    man = write_table(df, str(tmp_path / "t"), meta={"x": 1})
    assert read_manifest(str(tmp_path / "t"))["meta"] == {"x": 1}
    back = spark.read.parquet(str(tmp_path / "t"))
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


# Each loop: (runner, its output column, graph, checkpoint interval,
# superstep the interrupted run stops at). The stop is a multiple of
# the interval before convergence, so the interrupted run's metrics
# are all persisted and the resume recomputes none of them.


def _pagerank(spark, e, resume=False, max_steps=100, **ck):
    return pagerank(spark, e, tol=5e-2, max_iter=max_steps, resume=resume, **ck)


def _cc(spark, e, resume=False, max_steps=50, **ck):
    return connected_components(spark, e, max_iter=max_steps, resume=resume, **ck)


def _lpa(mode):
    def run(spark, e, resume=False, max_steps=20, **ck):
        return label_propagation(
            spark, e, max_iter=max_steps, mode=mode, resume=resume, **ck
        )

    return run


def _maxprop(program):
    """``max_propagation``'s program on the generic tier, driven through
    ``Pregel.run`` so the run can resume: compiled, or as the pandas
    ``compute``."""

    def run(spark, e, resume=False, max_steps=30, **ck):
        ue = undirect(e)
        verts = vertices_from_edges(ue).select(
            "id", (F.abs(F.hash("id")) % 97).cast("long").alias("value")
        )
        kw = {} if program else {"combiner": "max"}
        res = Pregel(spark, verts, ue, **ck).run(
            compute=PROGRAM if program else maxprop_compute,
            value_type="long",
            msg_type="long",
            max_supersteps=max_steps,
            resume=resume,
            **kw,
        )
        res.vertices = res.vertices.select("id", "value")
        return res

    return run


# small graphs that converge in 4-7 supersteps: every run pays Spark's
# per-job floor, so a longer run only adds wall time, not coverage
CHAIN = [(f"c{i}", f"c{i + 1}") for i in range(4)]
LPA_GRAPH = two_components(n=16, p=0.5)

CASES = {
    "pagerank": (_pagerank, "rank", TOY7, 3, 3),
    "cc": (_cc, "component", two_components(n=20), 3, 3),
    "lpa_rescatter": (_lpa("rescatter"), "label", LPA_GRAPH, 3, 3),
    "lpa_frontier": (_lpa("frontier"), "label", LPA_GRAPH, 3, 3),
    "max_propagation": (_maxprop(False), "value", CHAIN, 2, 2),
    "max_propagation_program": (_maxprop(True), "value", CHAIN, 2, 2),
}


@pytest.mark.parametrize("loop", list(CASES))
def test_resume_identical(spark, tmp_path, loop):
    run, col, pairs, interval, stop = CASES[loop]
    e = edges_df(spark, pairs)
    full = run(spark, e)
    want = {r["id"]: r[col] for r in full.vertices.collect()}
    assert full.converged and full.supersteps > stop

    ck = str(tmp_path / "ck")
    cm = CheckpointManager(ck, "r1")
    kw = dict(checkpoint_dir=ck, run_id="r1", checkpoint_interval=interval)
    # run 1: "killed" after superstep `stop`. CC and LPA keep their
    # state in vid space: run 1 builds its vid map under 3 partitions
    # and the resume under the session's 8, as on another host, and
    # must still read the same vids
    vid_loops = ("cc", "lpa_rescatter", "lpa_frontier")
    n_part = {"num_partitions": 3} if loop in vid_loops else {}
    part = run(spark, e, max_steps=stop, **kw, **n_part)
    assert part.supersteps == stop and not part.converged
    assert cm.completed_supersteps() == list(range(interval, stop + 1, interval))
    # run 2: resume from the latest checkpoint and continue to convergence
    res = run(spark, e, resume=True, **kw)
    got = {r["id"]: r[col] for r in res.vertices.collect()}
    assert set(got) == set(want)
    if col == "rank":
        for v in want:
            assert np.isclose(got[v], want[v], rtol=0, atol=1e-14), v
    else:
        assert got == want
    assert res.converged and res.supersteps == full.supersteps
    assert len(res.metrics) == full.supersteps - stop
    assert cm.latest() == full.supersteps

    # exactly one persisted metrics row per superstep, across the resume
    steps = [r["superstep"] for r in cm.read_metrics(spark).collect()]
    assert sorted(steps) == list(range(1, full.supersteps + 1))
    # I5 per-partition rows: every recorded superstep's rows sum to N
    by_step: dict[int, int] = {}
    for r in cm.read_partition_metrics(spark).collect():
        by_step[r["superstep"]] = by_step.get(r["superstep"], 0) + r["rows"]
    assert sorted(by_step) == list(range(1, full.supersteps + 1))
    assert all(n == len(want) for n in by_step.values()), by_step

    # resuming from the converged checkpoint returns at once: no
    # superstep runs, no checkpoint or metrics row is added
    again = run(spark, e, resume=True, **kw)
    assert again.converged and again.supersteps == full.supersteps
    assert again.metrics == []
    assert {r["id"]: r[col] for r in again.vertices.collect()} == got
    assert cm.read_metrics(spark).count() == full.supersteps


def test_torn_step_manifest_is_ignored(spark, tmp_path, monkeypatch):
    """A crash while the step manifest is being written leaves no
    manifest: the step is not completed, and the previous one loads."""
    cm = CheckpointManager(str(tmp_path / "ck"), "r1")
    df = spark.createDataFrame([("a", 1.0)], "id string, rank double")
    cm.save(1, df, meta={"dm": 0.5})

    real_dump = json.dump

    def torn_dump(obj, f):
        if "superstep" not in obj:  # the tables' own manifests
            return real_dump(obj, f)
        f.write(json.dumps(obj)[:7])  # the step manifest, torn
        raise OSError("killed mid-write")

    monkeypatch.setattr(tableio.json, "dump", torn_dump)
    with pytest.raises(OSError, match="mid-write"):
        cm.save(2, df, meta={"dm": 0.25})
    monkeypatch.undo()

    assert cm.completed_supersteps() == [1]
    assert cm.latest() == 1
    st, msgs, meta = cm.load(spark, 1)
    assert meta == {"dm": 0.5} and msgs is None
    assert [tuple(r) for r in st.collect()] == [("a", 1.0)]
