"""Time-respecting reachability: earliest-arrival over temporal edges.

A web crawl is a TEMPORAL graph: every link (src, dst) is observed at
a crawl timestamp, and "page A could have led a crawler (or a reader,
or a piece of information) to page B" holds only along paths whose
edge timestamps are non-decreasing — the foremost-journey semantics of
Wu et al., "Path Problems in Temporal Graphs" (PVLDB 2014). The
reference engine's vertex API (``pregel/vertex.lua`` send_message /
vote_halt) expresses exactly this family of monotone relaxations; we
provide the temporal variant natively, as a frontier BSP loop with the
same shape as ``sssp.shortest_paths``:

- edge table ``(src, dst, t)`` persisted hash-partitioned on ``src``
  once — the O(E) side never re-exchanges inside the loop;
- a superstep relaxes only OUT of the frontier (vertices whose
  arrival improved last round): messages are the edge timestamps ``t``
  of edges whose departure is feasible (``t >= arrival(src)``),
  min-combined per ``dst`` with map-side partial aggregation — and the
  combine is FUSED with the state merge: state rows and raw feasible
  timestamps flow through one union + ``groupBy(id)`` min, so a
  superstep has exactly one hash exchange, no join, no sorts, and the
  aggregation's hash partitioning survives the per-step checkpoint
  (the former full-outer merge planned as a SortMergeJoin with
  UnknownPartitioning output, re-exchanging + re-sorting the state
  every superstep — measured 0.65 scaling efficiency at 2→8 cores vs
  a 0.94 same-session PageRank control);
- the loop-carried state is the REACHED set only — O(reached), not
  O(V) (the same lesson as sssp.py: at 10^12 documents a wave touches
  a tiny fraction of the graph for many supersteps);
- arrivals only decrease (relaxation is monotone), so the k-capped
  run equals a k-round full relaxation exactly — which is what makes
  the fixed-k unrolled DuckDB oracle (``temporal_reach_k6``) exact —
  and empty-frontier termination is sound (the reference's
  ``__messages == 0`` rule, ``pregel/master.lua``).

Parallel edges (the same arc observed at several crawl times) need no
pre-dedup: the feasibility filter + min-combiner absorb them, and they
are exactly what makes the problem temporal.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .build import vertices_from_edges
from .engine import (
    PregelResult,
    ShuffleDelta,
    bsp_loop_confs,
    materialize,
)
from .sssp import _PRUNE_B, _PRUNE_FRONTIER_CAP, _as_source_df


def earliest_arrival(
    spark: SparkSession,
    tedges: DataFrame,
    sources: list | DataFrame,
    t0: float = float("-inf"),
    max_iter: int = 100,
    strict: bool = False,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> PregelResult:
    """Earliest arrival time at every vertex reachable from ``sources``
    along time-respecting paths starting no earlier than ``t0``.

    ``tedges``: (src, dst, t) with ``t`` numeric (epoch days/seconds —
    any totally ordered double). ``strict=True`` requires strictly
    increasing timestamps along a path (no two hops in the same
    instant); the default allows equality, matching the foremost-
    journey convention for coarse (e.g. daily) timestamps.

    Returns (id, arrival) over ALL vertices; ``arrival`` is NULL where
    no time-respecting journey exists. Sources themselves carry
    ``arrival = t0``. The default ``t0 = -inf`` means "any start time";
    external oracles should pin a finite ``t0`` (contract fixtures use
    ``0.0``) since ``-inf`` round-trips poorly across SQL engines.
    """
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]

    # `_b` + sortWithinPartitions: cache-batch pruning clustering, the
    # same scheme as sssp.py (see its links-build note) — narrow waves
    # scan only the cached batches their frontier hashes into.
    links = materialize(
        tedges.select("src", "dst", F.col("t").cast("double").alias("t"))
        .withColumn(
            "_b", F.pmod(F.xxhash64("src"), F.lit(_PRUNE_B)).cast("int")
        )
        .repartition(n_part, "src")
        .sortWithinPartitions("_b")
    )
    src_df = _as_source_df(spark, sources)

    state = materialize(
        src_df.select(
            "id",
            F.lit(float(t0)).cast("double").alias("arrival"),
            F.lit(True).alias("changed"),
        ).repartition(n_part, "id")
    )
    n_frontier = state.count()

    feasible = (
        (F.col("t") > F.col("arrival")) if strict else (F.col("t") >= F.col("arrival"))
    )
    converged = n_frontier == 0
    superstep = 0
    metrics: list[dict] = []
    shufd = ShuffleDelta(spark)
    with bsp_loop_confs(spark):
        for superstep in range(1, max_iter + 1):
            if converged:
                superstep -= 1
                break
            t_start = time.monotonic()
            frontier = state.filter("changed").select(
                F.col("id").alias("src"), "arrival"
            )
            # cache-batch pruning, gated on the known frontier count
            # (sssp.py's scheme): small waves list their hash buckets
            # with one tiny driver job and scan only those batches
            links_t = links
            if 0 < n_frontier <= _PRUNE_FRONTIER_CAP:
                blist = [
                    r["b"]
                    for r in frontier.select(
                        F.pmod(F.xxhash64("src"), F.lit(_PRUNE_B))
                        .cast("int")
                        .alias("b")
                    )
                    .distinct()
                    .collect()
                ]
                if len(blist) <= _PRUNE_B // 2:
                    links_t = links.filter(F.col("_b").isin(blist))
            # Message combine FOLDED INTO the state merge (round-3
            # scaling finding, BASELINE.md "next lever"): the old shape
            # — groupBy(dst).min ⋈FULL-OUTER state — planned as an SMJ
            # whose output partitioning is UNKNOWN, so every superstep
            # re-exchanged AND re-sorted the O(reached) state on top of
            # the O(msgs) exchange (measured 0.65 scaling at 2→8 vs a
            # 0.94 same-session PageRank control). Union-then-aggregate
            # does the same min-relaxation with ONE hash exchange and
            # zero sorts: raw feasible timestamps ride the SAME
            # map-side partial min as the state rows, and the
            # aggregation's hashpartitioning(id, n_part) output
            # SURVIVES the checkpoint, keeping the loop exchange-shaped
            # like pagerank.py's.
            raw = (
                links_t.join(frontier, "src")
                .filter(feasible)
                .select(
                    F.col("dst").alias("id"),
                    F.lit(None).cast("double").alias("arrival"),
                    F.col("t").alias("ma"),
                )
            )
            merged = (
                state.select(
                    "id", "arrival", F.lit(None).cast("double").alias("ma")
                )
                .unionByName(raw)
                .groupBy("id")
                .agg(F.min("arrival").alias("_old"), F.min("ma").alias("_ma"))
            )
            improved = F.col("_ma").isNotNull() & (
                F.col("_old").isNull() | (F.col("_ma") < F.col("_old"))
            )
            # the frontier count (reference __messages termination
            # counter) rides the SAME eager-checkpoint action via
            # observe() — no separate per-superstep count job
            obs = Observation(f"nf_{run_id}_{superstep}")
            nxt = materialize(
                merged.select(
                    "id",
                    F.when(improved, F.col("_ma"))
                    .otherwise(F.col("_old"))
                    .alias("arrival"),
                    improved.alias("changed"),
                ).observe(
                    obs, F.sum(F.col("changed").cast("long")).alias("nf")
                )
            )
            n_frontier = int(obs.get["nf"] or 0)
            state = nxt
            metrics.append(
                {
                    "run_id": run_id,
                    "superstep": superstep,
                    "wall_ms": (time.monotonic() - t_start) * 1000,
                    "frontier": n_frontier,
                    **shufd.sample(),
                }
            )
            if n_frontier == 0:
                converged = True
                break

    verts = vertices_from_edges(links).unionByName(src_df).distinct()
    out = materialize(
        verts.join(state.select("id", "arrival"), "id", "left_outer").select(
            "id", "arrival"
        )
    )
    links.unpersist()
    return PregelResult(
        vertices=out,
        supersteps=superstep,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
    )
