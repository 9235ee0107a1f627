"""Connected components by min-label propagation (undirected).

The BSP analog of the reference's only in-tree algorithm (max-value
propagation, ``example/test-worker.lua:25-43``) with ``min`` as the
combiner and label = vertex id. Labels are compared as strings
(lexicographic min) — the same total order the DuckDB/union-find
oracles use, so assignments are exact.

Frontier optimization (the reference's active-vertex filter F2,
``pregel/worker.lua:143-146``): only vertices whose label improved last
superstep scatter — the per-superstep join shrinks as the algorithm
converges. Termination = empty frontier (quiescence,
``pregel/master.lua:77-84``).

Scale note: plain min-label needs O(component diameter) supersteps —
fine for web graphs (small diameter); each superstep is one scatter
join + one min-combine with map-side partial aggregation (hub-safe).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tableio import CheckpointManager
from .build import undirected_vid_graph, vid_edges
from .engine import (
    PregelResult,
    ShuffleDelta,
    Superstep,
    bsp_loop_confs,
    materialize,
    materialize_step,
    run_supersteps,
)


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 50,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> PregelResult:
    """Returns (id, component) — component = lexicographic min vertex id
    reachable treating edges as undirected.

    The loop runs on an ORDER-PRESERVING long mapping of the string ids
    (``order_preserving_id_map``: monotone, non-negative, dense) —
    min-label semantics survive because the mapping is monotone, the
    per-superstep shuffle carries 8-byte keys instead of urls, and the
    final labels map back to the identical strings. The vid map and the
    symmetric vid edge table come from ``build.undirected_vid_graph``,
    shared with LPA.
    """
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None

    vmap, ue = undirected_vid_graph(edges, n_part)
    # labels cover ALL vertices of the original edge table (including
    # self-loop-only vertices that undirect() drops as edges)
    labels = vmap.select(F.col("vid").alias("id"), F.col("vid").alias("component"))

    def step(superstep, labels, frontier, _meta):
        # scatter J2 + min-combine A1 (combiner = min, pregel/queue.lua:39-52);
        # the frontier is hash-partitioned on id like ue on src, so a
        # shuffled-hash join needs no exchange — never a broadcast job
        msgs = ue.join(
            frontier.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
        ).select(
            F.col("dst").alias("id"), F.col("component").alias("cand")
        )
        mins = msgs.groupBy("id").agg(F.min("cand").alias("cand"))
        plan = labels.join(mins, "id", "left_outer").select(
            "id",
            F.least(F.col("component"), F.coalesce("cand", F.col("component"))).alias(
                "component"
            ),
            (
                F.col("cand").isNotNull() & (F.col("cand") < F.col("component"))
            ).alias("_changed"),
        )
        nxt, stats, parts = materialize_step(
            plan, ckpt is not None, changed=("sum", F.col("_changed").cast("long"))
        )
        changed = stats["changed"]
        return Superstep(
            nxt.select("id", "component"),
            stats,
            changed == 0,
            # only improved vertices scatter next superstep (F2)
            second=nxt.filter(F.col("_changed")).select("id", "component")
            if changed else None,
            partitions=parts,
        )

    with bsp_loop_confs(spark):
        # superstep 1: every vertex announces its label
        res = run_supersteps(
            step,
            labels,
            second=labels,
            run_id=run_id,
            max_steps=max_iter,
            num_partitions=n_part,
            ckpt=ckpt,
            checkpoint_interval=checkpoint_interval,
            resume=resume,
        )

    res.vertices = (
        res.vertices.withColumnRenamed("id", "_v")
        .join(vmap.withColumnRenamed("vid", "_v"), "_v")
        .withColumnRenamed("component", "_c")
        .join(
            vmap.select(F.col("vid").alias("_c"), F.col("id").alias("component")),
            "_c",
        )
        .select("id", "component")
    )
    return res


def _star_round(e: DataFrame, large: bool) -> DataFrame:
    """One large-star / small-star step (Kiveris et al., 'Connected
    Components in MapReduce and Beyond'): view the current edge set
    symmetrically, find each node's minimum over {self} ∪ neighbors,
    and re-point the > (large) or <= (small) neighbors at that minimum.

    Single-pass shape: ONE aggregation computes, per node, BOTH the
    minimum and the (condition-filtered, deduped) neighbor list, and a
    row-local ``explode`` re-points them — no join, no second consumer
    of the symmetrized edges. That makes a star step exactly one O(E)
    exchange (the groupBy itself) plus narrow work, and the only
    materialization per step is the step OUTPUT. Earlier shapes that
    looked shuffle-minimal on paper (repartition once + partition-
    aligned dedup/min/join) measured ~1.9x SLOWER at 100M edges: each
    multi-consumer intermediate (``sym``, ``mins``) had to be
    localCheckpoint-ed to stop Catalyst re-planning it per consumer,
    and caching 2E-row intermediates 4-6x per round costs more wall
    than the exchanges it saved (BENCH_SCALING_cc_star telemetry,
    BASELINE.md). Dedup is row-local for free via ``array_distinct``
    (duplicates across groups are tolerated round-over-round: each
    input row emits at most one output row, so the multiset never
    grows; a single final dedup runs before label extraction).

    Skew note: a node's collected neighbor list is its adjacency —
    the same CSR-blocking bound as ``build.adjacency``. For web-scale
    mega-hubs (degree ~1e8+) route the hot keys through
    ``skew.salted_collect_list`` first; at this tier the min is
    algebraic so hub lists could also be two-phase salted, kept simple
    here."""
    sym = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
    agg = sym.groupBy("u").agg(
        F.min("v").alias("_mv"),
        F.array_distinct(
            F.collect_list(F.when(cond, F.col("v")))
        ).alias("tgt"),
    ).select("u", F.least("_mv", F.col("u")).alias("m"), "tgt")
    if not large:
        # small star also re-points u itself at m
        agg = agg.select("m", F.concat("tgt", F.array("u")).alias("tgt"))
    out = agg.select(
        F.explode("tgt").alias("u"), F.col("m").alias("v")
    )
    return out.filter(F.col("u") != F.col("v"))


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 30,
    num_partitions: int | None = None,
) -> PregelResult:
    """Alternating large-star/small-star connected components —
    O(log n) rounds instead of min-label's O(component diameter), the
    right algorithm for high-diameter graphs at scale. Returns the
    identical (id, component = lexicographic-min member) labels as
    :func:`connected_components` (verified against the union-find
    oracle), via the order-preserving numeric id mapping.
    """
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    vmap, d = vid_edges(edges, n_part)
    # canonical undirected pairs (E rows, not the 2E symmetric table);
    # dedup folded into the repartition: partitioned-on-u input makes
    # dropDuplicates(u, v) exchange-free (subset rule)
    e = materialize(
        d.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .repartition(n_part, "u")
        .dropDuplicates(["u", "v"])
    )

    metrics: list[dict] = []
    converged = False
    rounds = 0
    prev_sig = None
    shufd = ShuffleDelta(spark)
    with bsp_loop_confs(spark):
        for rounds in range(1, max_rounds + 1):
            t0 = time.monotonic()
            # materialize BETWEEN the stars: the small star references
            # its input twice (union with swap) — unmaterialized, the
            # large-star subtree would compute twice per round
            e = materialize(_star_round(e, large=True))
            e = materialize(_star_round(e, large=False))
            row = e.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal sum: a long sum overflows under ANSI mode
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("sig"),
            ).collect()[0]
            sig = (row["n"], row["sig"])
            m = {
                "superstep": rounds,
                "wall_ms": (time.monotonic() - t0) * 1000,
                "edges": row["n"],
            }
            m.update(shufd.sample())
            metrics.append(m)
            if sig == prev_sig:
                converged = True
                break
            prev_sig = sig

    # the loop's edge multiset may carry duplicates (dedup runs at the
    # head of each star step, not on its output) — dedup once before
    # label extraction
    e = e.dropDuplicates(["u", "v"])
    # fixpoint is a star forest: non-roots point at their component min
    roots = vmap.select(F.col("vid").alias("u")).join(
        e.select("u").distinct(), "u", "left_anti"
    )
    comp_num = e.select("u", F.col("v").alias("c")).unionByName(
        roots.select("u", F.col("u").alias("c"))
    )
    labels = (
        comp_num.withColumnRenamed("u", "_v")
        .join(vmap.withColumnRenamed("vid", "_v"), "_v")
        .withColumnRenamed("c", "_c")
        .join(vmap.select(F.col("vid").alias("_c"), F.col("id").alias("component")), "_c")
        .select("id", "component")
    )
    return PregelResult(
        vertices=labels,
        supersteps=rounds,
        converged=converged,
        metrics=metrics,
        run_id="star",
    )
