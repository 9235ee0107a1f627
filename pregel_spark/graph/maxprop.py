"""Max-value propagation — parity port of the reference's only in-tree
algorithm (``example/test-worker.lua:25-43``), on the GENERIC Pregel
tier (``engine.Pregel``), the U1/U2 callback surface:

- the vertex program: adopt max(inbox ∪ {value}); if improved (or first
  superstep) send the new value to all out-neighbors; always vote halt
  (woken by mail — ``pregel/worker.lua:158``);
- ``combine='max'`` (the example's ``math.max``,
  ``example/test-worker.lua:54``);
- termination by quiescence with a 30-superstep cap
  (``example/test-worker.lua:28-29``, ``pregel/master.lua:77-84``).

:data:`PROGRAM` writes it as Column expressions, which
:func:`max_propagation` runs compiled (one Catalyst job per superstep,
no Python in the row path). :func:`_compute` is the same program as a
pandas ``compute`` for the ``applyInPandas`` path, kept as the
reference the compiled one is tested against.

Run over the symmetrized graph, the fixpoint is the per-component max
(union-find oracle, FIXTURES.md §6).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import undirect, vertices_from_edges
from .engine import ComputeContext, Pregel, PregelResult, VertexProgram


def _is_seq(x) -> bool:
    import numpy as np

    return isinstance(x, (list, tuple, np.ndarray)) and len(x) > 0


def _compute(pdf: pd.DataFrame, ctx: ComputeContext) -> pd.DataFrame:
    import numpy as np

    vals = pdf["value"].astype("int64")
    inbox = pd.to_numeric(
        pdf["msgs"].map(lambda ms: max(ms) if _is_seq(ms) else None)
    )
    new_value = np.where(
        inbox.notna() & (inbox > vals), inbox.fillna(0), vals
    ).astype("int64")
    improved = (new_value > vals.to_numpy()) | (ctx.superstep == 1)
    dsts = pdf["dsts"] if "dsts" in pdf.columns else pd.Series([None] * len(pdf))
    out = [
        [(str(d), int(v)) for d in ds] if (send and _is_seq(ds)) else []
        for ds, v, send in zip(dsts.tolist(), new_value.tolist(), improved.tolist())
    ]
    return pd.DataFrame(
        {
            "id": pdf["id"],
            "value": new_value,
            "halted": True,
            "out": out,
        }
    )


PROGRAM = VertexProgram(
    combine="max",
    apply=lambda value, msg: F.greatest(value, msg),
    send=lambda old, new, superstep: F.when((superstep == 1) | (new > old), new),
)


def max_propagation(
    spark: SparkSession,
    vertices: DataFrame,
    edges: DataFrame,
    max_supersteps: int = 30,
    undirected: bool = True,
    **engine_kwargs,
) -> PregelResult:
    """vertices: (id, value long). Returns fixpoint state (id, value)."""
    e = undirect(edges) if undirected else edges
    verts = (
        vertices_from_edges(e)
        .join(vertices, "id", "left_outer")
        .select("id", F.coalesce("value", F.lit(0)).cast("long").alias("value"))
    )
    eng = Pregel(spark, verts, e, **engine_kwargs)
    res = eng.run(
        compute=PROGRAM,
        value_type="long",
        msg_type="long",
        max_supersteps=max_supersteps,
    )
    res.vertices = res.vertices.select("id", "value")
    return res
