"""Synchronous label propagation clustering (deterministic).

Every superstep every vertex adopts the most frequent label among its
neighbors (undirected), ties broken by the lexicographically smallest
label (FIXTURES.md §6 — determinism is required for the exact oracle
match; the classic randomized-async LPA is not reproducible). Vertices
with no neighbors keep their label. Stops when no label changes or at
``max_iter`` (sync LPA may oscillate on bipartite structures — the cap
is part of the pinned semantics, oracle uses the same cap).

Two physical modes, identical results (property-tested):

- ``rescatter`` (the classic shape): every superstep re-announces every
  label — scatter join + ``groupBy(id,label).count`` + argmax. Two
  O(E)-sized exchanges per superstep regardless of how many labels
  still change.
- ``frontier``: carry a decremental
  neighbor-label count table ``cmap: map<label, n>`` INSIDE the vertex
  state, hash-partitioned by ``id`` and preserved across supersteps by
  ``localCheckpoint`` (see ``materialize``). The argmax is then
  row-local (``array_max`` over ``map_entries`` — no shuffle at all),
  and only vertices whose label CHANGED scatter ``(-1 old, +1 new)``
  deltas over their edges; the merge back is a partition-aligned
  left-outer join + ``map_zip_with``/``map_filter``. Per-superstep
  shuffle volume is O(frontier-incident edges), not O(E) — as the
  frontier collapses (LPA converges fast), supersteps become almost
  shuffle-free. The left-outer merge is sound because the vertex-id
  domain is static; a (vertex,label)-keyed row table would need a
  partitioning-destroying full-outer join instead. Hub caveat: a
  vertex's ``cmap`` holds one entry per DISTINCT label among its
  neighbors (degree-bounded early, ~1 at convergence); for
  pathological hubs (degree ~10^8) prefer ``mode='rescatter'``, whose
  count rows shard across partitions.

Which mode wins is a measured question, not a stylistic one. The
100M-edge A/B (BASELINE.md round 3; BENCH_SCALING_lpa_frontier.json vs
BENCH_SCALING_lpa.json, identical input/protocol): this power-law graph
converges in 5 supersteps, and frontier LOST end-to-end — loop 754s vs
rescatter 401s at 8 cores, 430s vs 189s at 32 — because the one-time
cmap seed plus the near-full early frontiers move ~9.8/5.6/3.3 GB in
steps 1-3 (vs rescatter's flat per-step volume), while the cheap tail
(step 4: 1.9 GB, step 5: 0 GB, ~0s) is only 2 supersteps long. Frontier
pays O(E) up front to make LATE supersteps free, so it wins only when
many low-churn supersteps remain after the crossover (long ``max_iter``
label-oscillation regimes, incremental re-runs on slightly-changed
inputs). ``auto`` therefore picks ``rescatter``; choose ``frontier``
explicitly when the convergence profile has a long tail.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tableio import CheckpointManager
from .build import undirected_vid_graph
from .engine import (
    PregelResult,
    Superstep,
    bsp_loop_confs,
    materialize,
    materialize_step,
    run_supersteps,
)


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 10,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    mode: str = "auto",
) -> PregelResult:
    """Returns (id, label) after synchronous LPA.

    The loop runs on the order-preserving long mapping (see
    ``connected_components``; monotone, non-negative, dense) — the
    mode count is relabel-invariant and the min tie-break survives a
    monotone mapping, so assignments are byte-identical after mapping
    back.

    ``mode``: ``'rescatter'`` | ``'frontier'`` | ``'auto'`` (module
    docstring). ``'auto'`` picks ``'rescatter'`` — the measured winner
    end-to-end at 100M edges (frontier's O(E) cmap seed only amortizes
    over a long low-churn tail; see the module docstring's A/B)."""
    if mode == "auto":
        mode = "rescatter"
    if mode not in ("rescatter", "frontier"):
        raise ValueError(
            f"unknown mode {mode!r}: expected 'auto', 'rescatter' or 'frontier'"
        )
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None

    vmap, ue = undirected_vid_graph(edges, n_part)
    labels = vmap.select(F.col("vid").alias("id"), F.col("vid").alias("label"))
    step = _frontier_step if mode == "frontier" else _rescatter_step

    with bsp_loop_confs(spark):
        res = run_supersteps(
            lambda superstep, state, _second, _meta: step(
                ue, state, n_part, ckpt is not None
            ),
            labels,
            run_id=run_id,
            max_steps=max_iter,
            num_partitions=n_part,
            ckpt=ckpt,
            checkpoint_interval=checkpoint_interval,
            resume=resume,
        )

    res.vertices = (
        res.vertices.select(F.col("id").alias("_v"), F.col("label").alias("_l"))
        .join(vmap.withColumnRenamed("vid", "_v"), "_v")
        .join(
            vmap.select(F.col("vid").alias("_l"), F.col("id").alias("label")),
            "_l",
        )
        .select("id", "label")
    )
    return res


def _rescatter_step(ue, labels, n_part, per_partition) -> Superstep:
    """Classic full-rescatter superstep: 2 O(E) exchanges per round."""
    # co-partitioned with ue: a shuffled-hash join with no exchange,
    # never a broadcast job
    msgs = ue.join(
        labels.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
    ).select(
        F.col("dst").alias("id"), F.col("label").alias("cand")
    )
    counts = msgs.groupBy("id", "cand").agg(F.count(F.lit(1)).alias("n"))
    # the deterministic argmax (n desc, cand asc) is max(struct(n,
    # -cand)) on numeric labels — one aggregation, no row_number window
    best = (
        counts.groupBy("id")
        .agg(F.max(F.struct(F.col("n"), (-F.col("cand")).alias("nc"))).alias("m"))
        .select("id", (-F.col("m.nc")).alias("new_label"))
    )
    plan = labels.join(best, "id", "left_outer").select(
        "id",
        F.coalesce("new_label", F.col("label")).alias("label"),
        (
            F.col("new_label").isNotNull()
            & (F.col("new_label") != F.col("label"))
        ).alias("_changed"),
    )
    nxt, stats, parts = materialize_step(
        plan, per_partition, changed=("sum", F.col("_changed").cast("long"))
    )
    return Superstep(
        nxt.select("id", "label"), stats, stats["changed"] == 0, partitions=parts
    )


def _frontier_step(ue, state, n_part, per_partition) -> Superstep:
    """Decremental-count superstep (module docstring): state is
    ``(id, label, cmap)`` hash-partitioned by ``id``; per round the
    argmax is row-local and only the changed frontier shuffles. The
    first superstep of a run seeds ``cmap`` from ``(id, label)``; a
    checkpoint carries it, so a resumed run does not reseed.

    Exchange audit (everything else partition-aligned, verified via
    ``.explain``): one O(E) exchange to seed ``cmap``; then per round
    ONE exchange of the frontier's ±1 delta messages. The seeding
    ``groupBy(id, cand)`` and the delta merge both ride
    ``HashPartitioning(id)`` (subset-of-grouping-keys rule), and the
    left-outer merge join preserves the streamed side's partitioning,
    which ``localCheckpoint`` carries into the next round. The merge
    and the changed count are one action: a round where nothing
    changed merges an empty delta map and leaves the state as it was."""
    if "cmap" not in state.columns:
        # Seed cmap: one full scatter — the same O(E) exchange a single
        # rescatter superstep pays, paid once.
        cmap0 = (
            ue.join(
                state.withColumnRenamed("id", "src")
                .withColumnRenamed("label", "cand")
                .hint("shuffle_hash"),
                "src",
            )
            .select(F.col("dst").alias("id"), "cand")
            .repartition(n_part, "id")
            .groupBy("id", "cand")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("id")
            .agg(F.map_from_entries(F.collect_list(F.struct("cand", "n"))).alias("cmap"))
        )
        state = materialize(
            state.join(cmap0, "id", "left_outer").select("id", "label", "cmap")
        )
    # Row-local deterministic argmax over the neighbor-label counts:
    # max(struct(n, -cand)) == (count desc, label asc). Empty/NULL
    # cmap (isolated vertex) keeps its label.
    m = F.array_max(
        F.transform(
            F.map_entries("cmap"),
            lambda e: F.struct(e["value"].alias("n"), (-e["key"]).alias("nc")),
        )
    )
    cur = state.select(
        "id",
        F.col("label").alias("_old"),
        F.coalesce(-m["nc"], F.col("label")).alias("label"),
        "cmap",
    )
    # Only the frontier scatters: retract old label, announce new, over
    # each changed vertex's edges.
    delta = cur.filter(F.col("label") != F.col("_old")).select(
        F.col("id").alias("src"), "_old", F.col("label").alias("_new")
    )
    dmsgs = (
        ue.join(delta.hint("shuffle_hash"), "src")
        .select(
            F.col("dst").alias("id"),
            F.explode(
                F.array(
                    F.struct(
                        F.col("_old").alias("cand"),
                        F.lit(-1).cast("long").alias("dn"),
                    ),
                    F.struct(
                        F.col("_new").alias("cand"),
                        F.lit(1).cast("long").alias("dn"),
                    ),
                )
            ).alias("e"),
        )
        .select("id", F.col("e.cand").alias("cand"), F.col("e.dn").alias("dn"))
    )
    dmap = (
        dmsgs.repartition(n_part, "id")
        .groupBy("id", "cand")
        .agg(F.sum("dn").alias("dn"))
        .filter(F.col("dn") != 0)
        .groupBy("id")
        .agg(F.map_from_entries(F.collect_list(F.struct("cand", "dn"))).alias("dmap"))
    )
    plan = cur.join(dmap, "id", "left_outer").select(
        "id",
        "label",
        F.when(F.col("dmap").isNull(), F.col("cmap"))
        .otherwise(
            F.map_filter(
                F.map_zip_with(
                    "cmap",
                    "dmap",
                    lambda k, v1, v2: F.coalesce(v1, F.lit(0))
                    + F.coalesce(v2, F.lit(0)),
                ),
                lambda k, v: v > F.lit(0),
            )
        )
        .alias("cmap"),
        (F.col("label") != F.col("_old")).alias("_changed"),
    )
    nxt, stats, parts = materialize_step(
        plan, per_partition, changed=("sum", F.col("_changed").cast("long"))
    )
    return Superstep(
        nxt.select("id", "label", "cmap"),
        stats,
        stats["changed"] == 0,
        partitions=parts,
    )
