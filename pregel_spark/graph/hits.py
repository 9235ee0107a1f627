"""HITS (Kleinberg hubs & authorities): second native-expression
eigenvector kernel beside PageRank.

The reference ships PageRank as its worked example
(``examples/pagerank.lua``); HITS exercises the same BSP machinery
with the one structural twist PageRank lacks — each superstep sends
messages along BOTH edge directions (authority gather over in-edges,
hub gather over out-edges), i.e. the reference's scatter would need
the transpose adjacency. Spark-first mapping:

- the static link table is persisted TWICE, hash-partitioned on
  ``src`` and on ``dst`` (``links`` / ``links_rev``) — 2x storage for
  zero per-superstep re-exchange of the O(E) side in either join (the
  same load-bearing-repartition argument as pagerank.py, measured
  there as ~27% loop cost when dropped);
- per superstep both gathers run UNNORMALIZED back to back —
  ``hub_raw = A (Aᵀ h)`` — because the L2 normalizer of the inner
  result cancels algebraically in the outer normalization
  (``A (a/‖a‖) / ‖A (a/‖a‖)‖ = A a / ‖A a‖``); this folds the
  classic four-phase iteration into ONE lineage with a single
  materialization barrier and one tiny norm/convergence action;
- norms and ``max |Δ|`` convergence ride one driver action over the
  checkpointed O(V) state, exactly like PageRank's dangling-mass
  aggregator (A3).

Semantics (matching the unrolled DuckDB oracle ``hits_k5`` and the
NumPy oracle in tests): h₀ = 1; per iteration
``a ← Aᵀ h / ‖Aᵀ h‖₂``, ``h ← A Aᵀ h / ‖A Aᵀ h‖₂``; vertices with no
in-edges have authority 0, no out-edges hub 0; a zero norm (empty
side) yields all-zeros rather than NaN.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tableio import CheckpointManager
from .build import vertices_from_edges
from .engine import (
    PregelResult,
    ShuffleDelta,
    bsp_loop_confs,
    materialize,
)


def hits(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 20,
    tol: float = 0.0,
    num_partitions: int | None = None,
    pre_deduped: bool = False,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 10,
    resume: bool = False,
) -> PregelResult:
    """Run HITS for ``max_iter`` supersteps (or to ``max |Δauth|,
    |Δhub| < tol`` when ``tol > 0``). Returns (id, auth, hub).

    Parallel edges collapse (standard link-graph semantics); callers
    with an already-distinct edge table pass ``pre_deduped=True`` to
    skip that one-time O(E) shuffle.
    """
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None

    dedup = edges.select("src", "dst")
    if not pre_deduped:
        dedup = dedup.distinct()
    # the reverse copy and the vertex set both read the persisted
    # links, not the source derivation — one upstream scan total
    links = dedup.repartition(n_part, "src").persist()
    links.count()
    links_rev = links.repartition(n_part, "dst").persist()
    links_rev.count()

    verts = vertices_from_edges(links)
    n = verts.count()
    if n == 0:
        empty = edges.select("src").limit(0).select(
            F.col("src").alias("id"),
            F.lit(0.0).alias("auth"),
            F.lit(0.0).alias("hub"),
        )
        return PregelResult(
            vertices=empty, supersteps=0, converged=True, metrics=[], run_id=run_id
        )

    state = materialize(
        verts.select(
            "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
        ).repartition(n_part, "id")
    )

    start_step, metrics = 1, []
    n_metrics_appended = 0
    if resume and ckpt is not None:
        latest = ckpt.latest()
        if latest is not None:
            st, _, _meta = ckpt.load(spark, latest)
            state = materialize(st.repartition(n_part, "id"))
            start_step = latest + 1

    converged = False
    superstep = start_step - 1
    shufd = ShuffleDelta(spark)
    with bsp_loop_confs(spark):
        for superstep in range(start_step, max_iter + 1):
            t0 = time.monotonic()
            # inner gather: authority_raw = A^T h (messages over in-edges)
            ar = (
                links.join(
                    state.select(F.col("id").alias("src"), "hub"), "src"
                )
                .groupBy("dst")
                .agg(F.sum("hub").alias("ar"))
            )
            # materialized: the hub gather below references with_ar a
            # second time — without the cut the authority join+agg
            # would execute twice per superstep
            with_ar = materialize(
                state.join(
                    ar.withColumnRenamed("dst", "id"), "id", "left_outer"
                ).select(
                    "id", "auth", "hub", F.coalesce("ar", F.lit(0.0)).alias("ar")
                )
            )
            # outer gather feeds the UNNORMALIZED ar back out along
            # out-edges: hub_raw = A (A^T h); the inner norm cancels
            hr = (
                links_rev.join(
                    with_ar.select(F.col("id").alias("dst"), "ar"), "dst"
                )
                .groupBy("src")
                .agg(F.sum("ar").alias("hr"))
            )
            nxt = materialize(
                with_ar.join(hr.withColumnRenamed("src", "id"), "id", "left_outer")
                .select(
                    "id",
                    "auth",
                    "hub",
                    "ar",
                    F.coalesce("hr", F.lit(0.0)).alias("hr"),
                )
            )
            # one tiny pass for the two L2 norms, then one for the
            # convergence deltas (both scans of the checkpointed O(V)
            # state — the norms must exist before the deltas do)
            row = nxt.agg(
                F.sqrt(F.sum(F.col("ar") * F.col("ar"))).alias("na"),
                F.sqrt(F.sum(F.col("hr") * F.col("hr"))).alias("nh"),
            ).collect()[0]
            na = row["na"] or 0.0
            nh = row["nh"] or 0.0
            new_auth = (F.col("ar") / na if na > 0 else F.lit(0.0)).alias("auth")
            new_hub = (F.col("hr") / nh if nh > 0 else F.lit(0.0)).alias("hub")
            if tol > 0:
                drow = nxt.agg(
                    F.max(
                        F.greatest(
                            F.abs(new_auth - F.col("auth")),
                            F.abs(new_hub - F.col("hub")),
                        )
                    ).alias("d")
                ).collect()[0]
                max_delta = drow["d"] or 0.0
            else:
                max_delta = float("nan")
            state = nxt.select("id", new_auth, new_hub)
            metrics.append(
                {
                    "run_id": run_id,
                    "superstep": superstep,
                    "wall_ms": (time.monotonic() - t0) * 1000,
                    "delta_max": max_delta,
                    **shufd.sample(),
                }
            )
            done = tol > 0 and max_delta < tol
            if ckpt is not None and (
                superstep % checkpoint_interval == 0 or done or superstep == max_iter
            ):
                # normalized state (the loop-carried table), not the raw sums
                ckpt.save(superstep, state.select("id", "auth", "hub"), meta={})
                ckpt.append_metrics(spark, metrics[n_metrics_appended:])
                n_metrics_appended = len(metrics)
            if done:
                converged = True
                break

    out = materialize(state)
    links.unpersist()
    links_rev.unpersist()
    return PregelResult(
        vertices=out,
        supersteps=superstep,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
    )


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 5,
    num_partitions: int | None = None,
    pre_deduped: bool = False,
    run_id: str | None = None,
) -> PregelResult:
    """SALSA (Lempel & Moran 2001): hubs & authorities as two coupled
    STOCHASTIC random walks on the bipartite support graph — the
    degree-normalized cousin of HITS, famously the core of
    related-page / who-to-follow systems. Unlike HITS there is no
    norm to compute: both chains conserve probability mass exactly
    (every hop divides by the degree it fans over), so a superstep is
    pure join+agg with no driver-side normalizer.

    Per iteration (matching the unrolled oracle and NumPy test):
        b(i)  = sum_{i->j} a(j) / indeg(j)      (backward hop)
        a'(k) = sum_{i->k} b(i) / outdeg(i)     (forward hop)
        c(j)  = sum_{i->j} h(i) / outdeg(i)     (forward hop)
        h'(i) = sum_{i->j} c(j) / indeg(j)      (backward hop)
    with a0 uniform over authority-side nodes (indeg > 0) and h0
    uniform over hub-side nodes (outdeg > 0); nodes off a side keep
    score 0.0 for it. Fixed ``max_iter`` iterations (the walk mixes
    fast; its fixpoint is indeg/outdeg-proportional per component).

    Scale: the same double-persisted link layout as :func:`hits`
    (hash-partitioned on src AND dst, degrees attached once at build),
    four SHJ join+partial-agg exchanges per superstep over O(E), one
    materialization barrier, lineage cut every superstep.
    """
    import uuid as _uuid

    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or _uuid.uuid4().hex[:12]
    dedup = edges.select("src", "dst")
    if not pre_deduped:
        dedup = dedup.distinct()
    od = dedup.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))
    idg = dedup.groupBy("dst").agg(F.count(F.lit(1)).cast("double").alias("indeg"))
    links = (
        dedup.join(od, "src").join(idg, "dst").repartition(n_part, "src").persist()
    )
    links.count()
    links_rev = links.repartition(n_part, "dst").persist()
    links_rev.count()

    # verts re-enters the final join EVERY superstep — materialize once,
    # id-partitioned, instead of re-deriving the distinct per round
    verts = materialize(
        vertices_from_edges(links.select("src", "dst")).repartition(n_part, "id")
    )
    hubs = links.select("src").distinct()
    auths = links.select("dst").distinct()
    nh, na = hubs.count(), auths.count()
    if na == 0:
        empty = edges.select("src").limit(0).select(
            F.col("src").alias("id"),
            F.lit(0.0).alias("authority"),
            F.lit(0.0).alias("hub"),
        )
        return PregelResult(
            vertices=empty, supersteps=0, converged=True, metrics=[], run_id=run_id
        )
    state = materialize(
        verts.join(auths.withColumnRenamed("dst", "id").withColumn("a0", F.lit(1.0)), "id", "left")
        .join(hubs.withColumnRenamed("src", "id").withColumn("h0", F.lit(1.0)), "id", "left")
        .select(
            "id",
            (F.coalesce("a0", F.lit(0.0)) / na).alias("authority"),
            (F.coalesce("h0", F.lit(0.0)) / nh).alias("hub"),
        )
        .repartition(n_part, "id")
    )
    metrics = []
    shufd = ShuffleDelta(spark)
    superstep = 0
    with bsp_loop_confs(spark):
        for superstep in range(1, max_iter + 1):
            t0 = time.monotonic()
            b = (
                links_rev.join(
                    state.select(F.col("id").alias("dst"), "authority"), "dst"
                )
                .groupBy("src")
                .agg(F.sum(F.col("authority") / F.col("indeg")).alias("b"))
            )
            a2 = (
                links.join(b, "src")
                .groupBy("dst")
                .agg(F.sum(F.col("b") / F.col("outdeg")).alias("a2"))
            )
            c = (
                links.join(state.select(F.col("id").alias("src"), "hub"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("hub") / F.col("outdeg")).alias("c"))
            )
            h2 = (
                links_rev.join(c, "dst")
                .groupBy("src")
                .agg(F.sum(F.col("c") / F.col("indeg")).alias("h2"))
            )
            nxt = materialize(
                verts.join(a2.withColumnRenamed("dst", "id"), "id", "left")
                .join(h2.withColumnRenamed("src", "id"), "id", "left")
                .select(
                    "id",
                    F.coalesce("a2", F.lit(0.0)).alias("authority"),
                    F.coalesce("h2", F.lit(0.0)).alias("hub"),
                )
                .repartition(n_part, "id")
            )
            state = nxt
            metrics.append(
                {
                    "run_id": run_id,
                    "superstep": superstep,
                    "wall_ms": (time.monotonic() - t0) * 1000,
                    **shufd.sample(),
                }
            )
    links.unpersist()
    links_rev.unpersist()
    return PregelResult(
        vertices=state,
        supersteps=superstep,
        converged=False,
        metrics=metrics,
        run_id=run_id,
    )
