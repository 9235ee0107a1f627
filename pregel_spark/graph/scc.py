"""Strongly connected components + bowtie decomposition of a directed
web graph.

The reference's BSP vertex API (``pregel/vertex.lua``: send_message /
vote_halt over directed edges) expresses reachability kernels; SCC is
the canonical composition of them for the web: Broder et al., "Graph
structure in the Web" (WWW 2000) — the giant SCC / IN / OUT / TENDRILS
/ TUBES "bowtie" — is THE classic link-graph analysis, and every piece
of it is a frontier BFS this engine already runs at scale.

Algorithm (FW-BW-Trim with Orzan-style coloring; Hong et al. PPoPP'13
shape, re-expressed as DataFrame joins):

1. **Trim** (to fixpoint): a vertex with no in-edges or no out-edges
   in the remaining subgraph is a singleton SCC. On web crawls this
   peels the huge tendril mass before any quadratic-ish work.
2. **Color**: propagate ``color(v) = min id that can reach v`` forward
   to fixpoint — a frontier min-label loop identical in shape to
   ``connected_components`` (one O(frontier-edges) exchange per
   superstep, min-combiner collapses hub fan-in map-side).
3. **Collect**: for each color class its pivot is the color vertex
   itself; ``SCC(c) = {v : color(v)=c and v reaches c}``. Every path
   v->c inside SCC(c) stays within color c (anything touching a
   smaller-colored vertex would have recolored v), so ONE backward
   frontier BFS from ALL pivots simultaneously over intra-color edges
   finds every pivot's SCC in parallel.
4. Remove found SCCs, repeat. Each round settles at least every
   current pivot's SCC; rounds needed = depth of the SCC condensation
   visited by successive minima — small on bowtie-shaped graphs where
   the giant SCC plus trim absorbs most of the mass.

Labels are the lexicographic-min member id (DuckDB ``min(varchar)``
agrees, which keeps the fixture oracle value-exact).

Scale notes: no collect() on the data plane; all joins are key-
partitioned with the static side repartitioned once per round; the
per-superstep exchanges are O(frontier edges), and the remaining-
subgraph tables shrink monotonically. ``materialize`` cuts lineage at
every loop-carried step (see engine.materialize for why).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tableio import CheckpointManager
from .build import vertices_from_edges
from .engine import PregelResult, ShuffleDelta, bsp_loop_confs, materialize


def _reach(
    edges: DataFrame,
    seeds: DataFrame,
    n_part: int,
    metrics: list,
    run_id: str,
    phase: str,
    shufd: ShuffleDelta,
    max_iter: int,
) -> tuple[DataFrame, bool]:
    """Frontier BFS closure: every vertex reachable from ``seeds``
    (inclusive) along ``edges`` (src -> dst). One O(frontier-edges)
    exchange per superstep; visited set grows monotonically.

    Returns ``(visited, complete)`` — ``complete`` is False when the
    frontier was still non-empty after ``max_iter`` supersteps, i.e.
    ``visited`` is a truncated (proper) subset of the true closure.
    Callers MUST NOT treat a truncated closure as exact."""
    visited = materialize(seeds.select("id").distinct().repartition(n_part, "id"))
    frontier = visited
    complete = False
    for it in range(1, max_iter + 1):
        t0 = time.monotonic()
        nbrs = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        new = materialize(
            nbrs.join(visited, "id", "left_anti").repartition(n_part, "id")
        )
        n_new = new.count()
        metrics.append(
            {
                "run_id": run_id,
                "phase": phase,
                "superstep": it,
                "wall_ms": (time.monotonic() - t0) * 1000,
                "frontier": n_new,
                **shufd.sample(),
            }
        )
        if n_new == 0:
            complete = True
            break
        visited = materialize(
            visited.unionByName(new).repartition(n_part, "id")
        )
        frontier = new
    return visited, complete


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 30,
    max_iter: int = 500,
    num_partitions: int | None = None,
    trim: bool = True,
    pre_deduped: bool = False,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> PregelResult:
    """SCC of the directed graph. Returns (id, scc); ``scc`` is the
    lexicographic-min member id. ``converged`` is False if
    ``max_rounds`` outer rounds did not exhaust the graph, or if an
    inner fixpoint loop (min-color propagation / backward reach) was
    still progressing after ``max_iter`` supersteps — raising
    ``max_iter`` is then required for paths/cycles longer than it. In
    both cases the assignment computed so far is correct and the
    unfinished vertices are absent from the output; a truncated round
    is never converted into labels.

    ``checkpoint_dir``: snapshot (assigned, remaining vertices) after
    every OUTER round — the natural resume grain: rounds are the
    expensive unit, and the remaining edge subgraph is recomputed from
    the input in one semi-join on resume rather than stored."""
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None
    dedup = edges.select("src", "dst")
    if not pre_deduped:
        dedup = dedup.distinct()
    rem_e = materialize(dedup.repartition(n_part, "src"))
    rem_v = materialize(vertices_from_edges(rem_e).repartition(n_part, "id"))
    assigned = rem_v.select("id", F.col("id").alias("scc")).limit(0)
    metrics: list[dict] = []
    supersteps = 0
    start_round = 1
    n_metrics_appended = 0
    shufd = ShuffleDelta(spark)
    converged = False

    def _sub_edges(e: DataFrame, keep: DataFrame) -> DataFrame:
        return materialize(
            e.join(keep.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .repartition(n_part, "src")
        )

    if resume and ckpt is not None:
        latest = ckpt.latest()
        if latest is not None:
            asg, remv, meta = ckpt.load(spark, latest)
            assigned = materialize(asg.repartition(n_part, "id"))
            rem_v = materialize(remv.repartition(n_part, "id"))
            if rem_v.count():
                rem_e = _sub_edges(rem_e, rem_v)
            supersteps = meta.get("supersteps", 0)
            start_round = latest + 1

    with bsp_loop_confs(spark):
        for rnd in range(start_round, max_rounds + 1):
            n_rem = rem_v.count()
            if n_rem == 0:
                converged = True
                break
            if trim:
                while n_rem > 0:
                    t0 = time.monotonic()
                    keep = materialize(
                        rem_v.join(
                            rem_e.select(F.col("src").alias("id")).distinct(),
                            "id",
                            "left_semi",
                        )
                        .join(
                            rem_e.select(F.col("dst").alias("id")).distinct(),
                            "id",
                            "left_semi",
                        )
                        .repartition(n_part, "id")
                    )
                    n_keep = keep.count()
                    supersteps += 1
                    metrics.append(
                        {
                            "run_id": run_id,
                            "phase": "trim",
                            "round": rnd,
                            "superstep": supersteps,
                            "wall_ms": (time.monotonic() - t0) * 1000,
                            "trimmed": n_rem - n_keep,
                            **shufd.sample(),
                        }
                    )
                    if n_keep == n_rem:
                        break
                    assigned = materialize(
                        assigned.unionByName(
                            rem_v.join(keep, "id", "left_anti").select(
                                "id", F.col("id").alias("scc")
                            )
                        )
                    )
                    rem_v = keep
                    n_rem = n_keep
                    if n_rem:
                        rem_e = _sub_edges(rem_e, rem_v)
                if n_rem == 0:
                    if ckpt is not None:
                        ckpt.save(rnd, assigned, rem_v,
                                  meta={"supersteps": supersteps})
                        ckpt.append_metrics(spark, metrics[n_metrics_appended:])
                        n_metrics_appended = len(metrics)
                    continue
            # forward min-label colors to fixpoint (frontier loop)
            colors = materialize(
                rem_v.select("id", F.col("id").alias("color"))
                .repartition(n_part, "id")
            )
            frontier = colors
            color_complete = False
            for _ in range(max_iter):
                t0 = time.monotonic()
                mins = (
                    rem_e.join(frontier.withColumnRenamed("id", "src"), "src")
                    .select(F.col("dst").alias("id"), F.col("color").alias("cand"))
                    .groupBy("id")
                    .agg(F.min("cand").alias("cand"))
                )
                nxt = materialize(
                    colors.join(mins, "id", "left_outer").select(
                        "id",
                        F.least(
                            F.col("color"), F.coalesce("cand", F.col("color"))
                        ).alias("color"),
                        (
                            F.col("cand").isNotNull()
                            & (F.col("cand") < F.col("color"))
                        ).alias("_ch"),
                    )
                )
                changed = nxt.filter("_ch").count()
                supersteps += 1
                metrics.append(
                    {
                        "run_id": run_id,
                        "phase": "color",
                        "round": rnd,
                        "superstep": supersteps,
                        "wall_ms": (time.monotonic() - t0) * 1000,
                        "changed": changed,
                        **shufd.sample(),
                    }
                )
                colors = nxt.select("id", "color")
                if changed == 0:
                    color_complete = True
                    break
                frontier = nxt.filter("_ch").select("id", "color")
            if not color_complete:
                # colors are not the reachability fixpoint: the
                # backward-reach partition of a color set would split
                # true SCCs into wrong labels. Stop with the partial
                # (correct-so-far) assignment and converged=False
                # rather than emit silently wrong components.
                break
            # backward reach from all pivots over intra-color edges
            intra_rev = materialize(
                rem_e.join(
                    colors.select(
                        F.col("id").alias("src"), F.col("color").alias("c_src")
                    ),
                    "src",
                )
                .join(
                    colors.select(
                        F.col("id").alias("dst"), F.col("color").alias("c_dst")
                    ),
                    "dst",
                )
                .filter(F.col("c_src") == F.col("c_dst"))
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                .repartition(n_part, "src")
            )
            pivots = colors.filter(F.col("id") == F.col("color")).select("id")
            reached, reach_complete = _reach(
                intra_rev, pivots, n_part, metrics, run_id,
                f"bwd_r{rnd}", shufd, max_iter,
            )
            if not reach_complete:
                # truncated backward closure would assign a proper
                # subset of an SCC and split it — abort, flagged
                break
            supersteps += 0  # _reach already appended per-superstep rows
            found = materialize(
                colors.join(reached, "id", "left_semi").select(
                    "id", F.col("color").alias("scc")
                )
            )
            assigned = materialize(assigned.unionByName(found))
            rem_v = materialize(
                rem_v.join(found, "id", "left_anti").repartition(n_part, "id")
            )
            if rem_v.count():
                rem_e = _sub_edges(rem_e, rem_v)
            if ckpt is not None:
                ckpt.save(rnd, assigned, rem_v, meta={"supersteps": supersteps})
                ckpt.append_metrics(spark, metrics[n_metrics_appended:])
                n_metrics_appended = len(metrics)
        else:
            converged = rem_v.count() == 0

    return PregelResult(
        vertices=assigned,
        supersteps=supersteps,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
    )


def condense(
    spark: SparkSession,
    edges: DataFrame,
    labels: DataFrame | None = None,
    **scc_kwargs,
) -> DataFrame:
    """Condensation DAG: contract every SCC to one supervertex (its
    lexicographic-min member id) and keep the distinct cross-component
    edges — acyclic by construction. The web-graph view where cyclic
    cores (mutual-link cliques, session loops) collapse so downstream
    DAG-only passes (topological rollups, crawl-frontier scheduling)
    apply.

    ``labels``: reuse a precomputed ``(id, scc)`` assignment; when
    None, SCC runs here first (and refuses a truncated run — an
    unconverged assignment would split components and fabricate edges).

    Returns ``(src, dst)`` over scc ids.

    Scale: two hash joins of E against the label table — each shuffles
    on the edge endpoint being mapped, the same key the SCC loop
    already partitioned by — then one distinct over the contracted
    (much smaller) edge set.
    """
    if labels is None:
        res = strongly_connected_components(spark, edges, **scc_kwargs)
        if not res.converged:
            raise RuntimeError(
                "SCC did not converge; raise max_rounds/max_iter before condensing"
            )
        labels = res.vertices
    lab = labels.select("id", "scc")
    return (
        edges.select("src", "dst")
        .join(
            lab.select(F.col("id").alias("src"), F.col("scc").alias("_s")), "src"
        )
        .join(
            lab.select(F.col("id").alias("dst"), F.col("scc").alias("_d")), "dst"
        )
        .select(F.col("_s").alias("src"), F.col("_d").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


_REGIONS = ("CORE", "IN", "OUT", "TUBES", "TENDRILS", "DISC")


def bowtie(
    spark: SparkSession,
    edges: DataFrame,
    scc_vertices: DataFrame | None = None,
    num_partitions: int | None = None,
    max_iter: int = 500,
    pre_deduped: bool = False,
    run_id: str | None = None,
) -> PregelResult:
    """Broder bowtie decomposition. Returns (id, region) with region in
    CORE (the largest SCC; ties broken by min scc id), IN (reaches
    CORE), OUT (reachable from CORE), TUBES (on an IN->OUT path that
    bypasses CORE), TENDRILS (hang off IN, or lead into OUT, one side
    only), DISC (everything else).

    ``scc_vertices``: pass a precomputed (id, scc) table to skip the
    SCC phase (the expensive part); otherwise it is computed here.
    Four frontier BFS closures do the rest — each O(frontier edges)
    per superstep, no collect() on the data plane."""
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    dedup = edges.select("src", "dst")
    if not pre_deduped:
        dedup = dedup.distinct()
    e = materialize(dedup.repartition(n_part, "src"))
    rev = materialize(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition(n_part, "src")
    )
    verts = materialize(vertices_from_edges(e).repartition(n_part, "id"))
    metrics: list[dict] = []
    shufd = ShuffleDelta(spark)
    if scc_vertices is None:
        sres = strongly_connected_components(
            spark, e, num_partitions=n_part, pre_deduped=True, run_id=run_id
        )
        scc_vertices = sres.vertices
        metrics.extend(sres.metrics)
    giant = (
        scc_vertices.groupBy("scc")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("scc"))
        .limit(1)
        .collect()[0]["scc"]
    )
    core = materialize(
        scc_vertices.filter(F.col("scc") == giant).select("id")
        .repartition(n_part, "id")
    )
    with bsp_loop_confs(spark):
        fwd, c1 = _reach(e, core, n_part, metrics, run_id, "fwd_core", shufd, max_iter)
        bwd, c2 = _reach(rev, core, n_part, metrics, run_id, "bwd_core", shufd, max_iter)
        out_v = materialize(fwd.join(core, "id", "left_anti"))
        in_v = materialize(bwd.join(core, "id", "left_anti"))
        known = materialize(core.unionByName(out_v).unionByName(in_v))
        fi, c3 = _reach(e, in_v, n_part, metrics, run_id, "fwd_in", shufd, max_iter)
        fwd_in = materialize(fi.join(known, "id", "left_anti"))
        bo, c4 = _reach(rev, out_v, n_part, metrics, run_id, "bwd_out", shufd, max_iter)
        bwd_out = materialize(bo.join(known, "id", "left_anti"))
    reaches_complete = c1 and c2 and c3 and c4
    tubes = fwd_in.join(bwd_out, "id", "left_semi")
    tendrils = (
        fwd_in.unionByName(bwd_out).distinct().join(tubes, "id", "left_anti")
    )
    disc = (
        verts.join(known, "id", "left_anti")
        .join(fwd_in, "id", "left_anti")
        .join(bwd_out, "id", "left_anti")
    )
    out = materialize(
        core.select("id", F.lit("CORE").alias("region"))
        .unionByName(in_v.select("id", F.lit("IN").alias("region")))
        .unionByName(out_v.select("id", F.lit("OUT").alias("region")))
        .unionByName(tubes.select("id", F.lit("TUBES").alias("region")))
        .unionByName(tendrils.select("id", F.lit("TENDRILS").alias("region")))
        .unionByName(disc.select("id", F.lit("DISC").alias("region")))
    )
    return PregelResult(
        vertices=out,
        supersteps=len(metrics),
        # False when any of the four closures was truncated at
        # max_iter (regions touching it would be misclassified —
        # raise max_iter for chains deeper than it)
        converged=reaches_complete,
        metrics=metrics,
        run_id=run_id,
    )
