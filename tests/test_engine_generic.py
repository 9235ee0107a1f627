"""Generic Pregel tier: aggregators, no-combiner inbox, halting, and
compiled vertex programs against their pandas reference."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pregel_spark.graph import Pregel, VertexProgram
from pregel_spark.graph.maxprop import PROGRAM, _compute as maxprop_compute
from tests.conftest import edges_df
from tests.graphs import TOY7


def test_aggregator_roundtrip_and_collect_inbox(spark):
    """Superstep 1: every vertex sends its value to neighbors (no
    combiner -> full inbox list). Superstep 2: each vertex stores the
    SUM of its inbox plus the global aggregator value from superstep 1
    (aggregator = total of all vertex values — visible next superstep,
    reference README.md:274-279)."""
    pairs = TOY7
    ids = sorted({x for e in pairs for x in e})
    vdf = spark.createDataFrame(
        [(v, i + 1) for i, v in enumerate(ids)], "id string, value long"
    )

    def compute(pdf: pd.DataFrame, ctx) -> pd.DataFrame:
        out = []
        values = []
        for _, row in pdf.iterrows():
            if ctx.superstep == 1:
                dsts = row["dsts"] if isinstance(row.get("dsts"), (list,)) else (
                    list(row["dsts"]) if row.get("dsts") is not None else []
                )
                out.append([(d, int(row["value"])) for d in dsts])
                values.append(int(row["value"]))
            else:
                msgs = row["msgs"]
                inbox = list(msgs) if msgs is not None else []
                total = int(ctx.aggregators.get("total_value", 0))
                values.append(int(sum(inbox)) + total)
                out.append([])
        return pd.DataFrame(
            {"id": pdf["id"], "value": values, "halted": True, "out": out}
        )

    res = Pregel(spark, vdf, edges_df(spark, pairs)).run(
        compute=compute,
        value_type="long",
        msg_type="long",
        combiner=None,
        max_supersteps=3,
        aggregators={
            "total_value": (0, lambda df: F.sum("value"))
        },
    )
    got = {r["id"]: r["value"] for r in res.vertices.collect()}
    vals = {v: i + 1 for i, v in enumerate(ids)}
    total_after_s1 = sum(vals.values())
    inbox = {v: 0 for v in ids}
    for s, t in pairs:
        inbox[t] += vals[s]
    # vertices with no inbox halt and never recompute in superstep 2
    want = {
        v: (inbox[v] + total_after_s1 if inbox[v] > 0 else vals[v])
        for v in ids
    }
    assert got == want
    assert res.converged


def test_compute_driven_mutations_barrier_order(spark):
    """Reference M1-M4 requested from compute (pregel/vertex.lua:140-210),
    applied at the barrier: superstep 1 vertex 'a' deletes edge a->b,
    deletes vertex 'c' (cascading), adds vertex 'z' (value 99) and edge
    a->z; superstep 2 'a' messages all its (mutated) neighbors; the new
    vertex must receive it and 'b' must not."""
    vdf = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, value long"
    )
    e = edges_df(spark, [("a", "b"), ("a", "c"), ("c", "a")])

    def compute(pdf: pd.DataFrame, ctx) -> pd.DataFrame:
        out, muts, values, halted = [], [], [], []
        for _, row in pdf.iterrows():
            o, m = [], []
            v = int(row["value"])
            if ctx.superstep == 1 and row["id"] == "a":
                m = [
                    (0, "a", "b", 0),    # delete edge a->b
                    (1, "c", None, 0),   # delete vertex c (cascade)
                    (2, "z", None, 99),  # add vertex z
                    (3, "a", "z", 0),    # add edge a->z
                ]
            elif ctx.superstep == 2 and row["id"] == "a":
                dsts = row.get("dsts")
                if dsts is not None and isinstance(dsts, (list, tuple)) or (
                    dsts is not None and len(list(dsts)) >= 0
                ):
                    o = [(d, 1000 + v) for d in list(dsts)]
            elif ctx.superstep >= 2:
                msgs = row.get("msgs")
                if msgs is not None and len(list(msgs)) > 0:
                    v = max(int(x) for x in list(msgs))
            out.append(o)
            muts.append(m)
            values.append(v)
            halted.append(ctx.superstep >= 2 and row["id"] != "a")
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "value": values,
                "halted": halted,
                "out": out,
                "muts": muts,
            }
        )

    res = Pregel(spark, vdf, e).run(
        compute=compute,
        value_type="long",
        msg_type="long",
        combiner="max",
        max_supersteps=4,
        with_mutations=True,
    )
    got = {r["id"]: r["value"] for r in res.vertices.collect()}
    assert "c" not in got            # deleted vertex gone
    assert got["z"] == 1001          # new vertex got a's superstep-2 msg
    assert got["b"] == 2             # edge a->b deleted before scatter
    assert got["a"] == 1


def test_worker_context_lookup(spark):
    """U6: an arbitrary user blackboard (here a bonus lookup table) is
    broadcast once and readable from compute via ctx.worker_context
    (reference pregel/worker.lua:378,401 / vertex.lua:211-213)."""
    vdf = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0)], "id string, value long"
    )

    def compute(pdf: pd.DataFrame, ctx) -> pd.DataFrame:
        bonus = ctx.worker_context["bonus"]
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "value": [bonus.get(i, -1) for i in pdf["id"]],
                "halted": True,
                "out": [[] for _ in range(len(pdf))],
            }
        )

    res = Pregel(
        spark, vdf, worker_context={"bonus": {"a": 10, "b": 20}}
    ).run(
        compute=compute,
        value_type="long",
        msg_type="long",
        combiner="sum",
        max_supersteps=2,
        with_adjacency=False,
    )
    got = {r["id"]: r["value"] for r in res.vertices.collect()}
    assert got == {"a": 10, "b": 20, "c": -1}
    # per-partition I5 metrics surfaced on the result
    assert res.partition_metrics
    assert {m["superstep"] for m in res.partition_metrics} <= {1, 2}
    assert sum(m["rows"] for m in res.partition_metrics
               if m["superstep"] == 1) == 3


# directed, two components: a cycle a-b-c with a sink s and an edge to
# "ghost", which the vertex table lacks (its mail is dropped but still
# counted as sent); a chain d->e->f->g with a parallel d->e edge
# (counted twice); an isolated vertex i
MAXPROP_EDGES = [
    ("a", "b"), ("b", "c"), ("c", "a"), ("c", "s"), ("a", "ghost"),
    ("d", "e"), ("d", "e"), ("e", "f"), ("f", "g"),
]
MAXPROP_VALUES = {"a": 1, "b": 5, "c": 2, "s": 0, "d": 9, "e": 3, "f": 1, "g": 4, "i": 7}


def _maxprop_run(spark, compute, max_supersteps):
    vdf = spark.createDataFrame(list(MAXPROP_VALUES.items()), "id string, value long")
    kw = {} if compute is PROGRAM else {"combiner": "max"}
    return Pregel(spark, vdf, edges_df(spark, MAXPROP_EDGES)).run(
        compute=compute,
        value_type="long",
        msg_type="long",
        max_supersteps=max_supersteps,
        **kw,
    )


@pytest.mark.parametrize("max_supersteps", [2, 30])
def test_maxprop_program_matches_pandas_compute(spark, max_supersteps):
    """The compiled program and the pandas ``compute`` are one program on
    two paths: same values, superstep count, convergence and per-step
    message and active counts, at a cap and to the fixpoint."""
    runs = []
    for compute in (PROGRAM, maxprop_compute):
        res = _maxprop_run(spark, compute, max_supersteps)
        runs.append(
            (
                {r["id"]: r["value"] for r in res.vertices.collect()},
                res.supersteps,
                res.converged,
                [(m["msgs_out"], m["active"]) for m in res.metrics],
            )
        )
    assert runs[0] == runs[1]
    values, supersteps, converged, counts = runs[0]
    # superstep 1: every vertex is active and sends along all 9 edges
    assert counts[0] == (9, 0)
    if max_supersteps == 2:
        assert supersteps == 2 and not converged
    else:
        # the fixpoint: each vertex holds the max over the vertices
        # that reach it
        reach = {v: {v} for v in MAXPROP_VALUES}
        for _ in MAXPROP_VALUES:
            for s, t in MAXPROP_EDGES:
                if s in reach and t in reach:
                    reach[t] |= reach[s]
        assert values == {v: max(MAXPROP_VALUES[u] for u in us) for v, us in reach.items()}
        assert converged and counts[-1] == (0, 0)


@pytest.mark.parametrize(
    "kwargs",
    [
        {"with_mutations": True},
        {"aggregators": {"total": (0, lambda df: F.sum("value"))}},
        {"initial_msgs": "df"},
        {"combiner": None},
    ],
    ids=["with_mutations", "aggregators", "initial_msgs", "combiner=None"],
)
def test_program_rejects_python_path_features(spark, kwargs):
    """Features only the applyInPandas path has raise with a program;
    ``combiner=None`` is a program with no combiner (a no-combiner
    inbox)."""
    vdf = spark.createDataFrame([("a", 1)], "id string, value long")
    prog = PROGRAM
    if "combiner" in kwargs:
        prog = VertexProgram(kwargs.pop("combiner"), PROGRAM.apply, PROGRAM.send)
    if kwargs.get("initial_msgs") == "df":
        kwargs["initial_msgs"] = spark.createDataFrame([("a", 2)], "id string, msg long")
    with pytest.raises(ValueError):
        Pregel(spark, vdf, edges_df(spark, [("a", "a")])).run(
            compute=prog, value_type="long", msg_type="long", **kwargs
        )
