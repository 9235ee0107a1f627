"""Neighborhood function: |ball(v, t)| = how many vertices are within
t hops of v — per vertex, and summed into N(t) (the number of
reachable pairs at distance <= t), from which the effective diameter
of the web graph falls out.

This is HyperANF (Boldi-Rosa-Vigna, WWW 2011) re-expressed on Spark:
the BSP recurrence is

    ball_0(v)     = {v}
    ball_t(v)     = ball_{t-1}(v)  ∪  ⋃_{v -> w} ball_{t-1}(w)

and the only thing that changes between the exact and the scale mode
is the SET REPRESENTATION carried through the same gather-union loop:

- ``mode='exact'``: the ball is an ``array<string>`` deduped with
  ``array_distinct`` — exact counts, O(V * ball) state; right for
  graphs that fit comfortably (and for the DuckDB oracle row).
- ``mode='hll'``: the ball is a datasketches HyperLogLog sketch in a
  BINARY column; the union is ``hll_union_agg`` / ``hll_union`` and
  the count is ``hll_sketch_estimate`` — ALL JVM-native (no Python in
  the row path), state is O(V * 2^lgk) bytes regardless of ball size.
  At 10^12 documents per-vertex balls reach ~the whole reachable web,
  so exact sets are impossible by construction — constant-size
  mergeable sketches are the entire trick of the HyperANF paper, and
  Spark ships the sketch algebra built in.

Both modes run the identical superstep: msgs = edges ⋈ state(dst)
grouped by src with the union-aggregate (map-side partial combine
collapses hub fan-in), one full-outer-free left join back (every
vertex keeps its ball), lineage cut per superstep, early stop when no
ball/sketch changed (binary equality is exact for sketches: the union
is deterministic).

The reference engine's vertex API expresses this as send_message of
the full set per superstep (pregel/vertex.lua); carrying a mergeable
summary instead is what makes it feasible at web scale.
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


def neighborhood_function(
    spark: SparkSession,
    edges: DataFrame,
    max_radius: int = 16,
    mode: str = "auto",
    lgk: int = 12,
    exact_limit: int = 20_000,
    num_partitions: int | None = None,
    pre_deduped: bool = False,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    direction: str = "out",
    harmonic: bool = False,
) -> PregelResult:
    """Per-vertex ball sizes at radius ``max_radius`` (following
    out-edges; ``direction='in'`` follows reversed edges). Returns
    (id, reach); ``metrics[t-1]['n_pairs']`` holds N(t) per superstep,
    and the loop stops early once no ball grew.

    ``harmonic=True`` additionally carries HyperBall's running
    accumulator — the per-radius increment Δ|ball|/t — and emits it as
    an ``h`` column (see :func:`harmonic_centrality` for semantics).

    ``mode='auto'`` picks exact sets below ``exact_limit`` vertices and
    HLL sketches above — mirroring ``pipeline/dedup.py``'s auto
    boundary pattern: the exact path physically cannot be the default
    at scale, so the crossover is explicit and testable."""
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None
    # per-partition I5 rows ride checkpointed runs (engine.materialize_step)
    partition_metrics = ckpt is not None
    dedup = edges.select("src", "dst")
    if direction == "in":
        dedup = dedup.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    elif direction != "out":
        raise ValueError(f"unknown direction {direction!r}")
    if not pre_deduped:
        dedup = dedup.distinct()
    links = materialize(dedup.repartition(n_part, "dst"))
    verts = vertices_from_edges(links)
    n = verts.count()
    if mode == "auto":
        mode = "exact" if n <= exact_limit else "hll"
    if mode not in ("exact", "hll"):
        raise ValueError(f"unknown mode {mode!r}")

    if mode == "exact":
        ball = F.array("id").alias("ball")
        merge_agg = F.array_distinct(
            F.flatten(F.collect_list("ball"))
        ).alias("mball")
        combine = F.array_distinct(
            F.concat(
                "ball",
                F.coalesce("mball", F.array().cast("array<string>")),
            )
        )
        size_of = F.size
        size_col = F.size("ball")
        # a ball that did not grow reproduces its array byte-for-byte
        # (array_distinct keeps first occurrences), so != is exact
        changed_expr = F.col("mball").isNotNull() & (
            F.col("nball") != F.col("ball")
        )
    else:
        ball = F.hll_sketch_agg("id", F.lit(lgk)).alias("ball")
        merge_agg = F.hll_union_agg("ball").alias("mball")
        combine = F.when(
            F.col("mball").isNull(), F.col("ball")
        ).otherwise(F.hll_union("ball", "mball"))
        size_of = F.hll_sketch_estimate
        size_col = F.hll_sketch_estimate("ball")
        # sketch BYTES may differ after a no-op union (representation
        # promotions), so quiescence compares ESTIMATES — approximate
        # termination for an approximate mode; max_radius still bounds
        changed_expr = F.col("mball").isNotNull() & (
            F.hll_sketch_estimate("nball") != F.hll_sketch_estimate("ball")
        )

    if mode == "exact":
        state = verts.select("id", ball)
    else:
        state = verts.groupBy("id").agg(ball)
    if harmonic:
        state = state.withColumn("h", F.lit(0.0))
    state_cols = ["id", "ball"] + (["h"] if harmonic else [])
    state = materialize(state.repartition(n_part, "id"))
    n_pairs = state.agg(F.sum(size_col).alias("s")).collect()[0]["s"] or 0

    start_step, metrics = 1, []
    part_metrics: list[dict] = []
    n_metrics_appended = 0
    n_pmetrics_appended = 0
    if resume and ckpt is not None:
        latest = ckpt.latest()
        if latest is not None:
            st, _, meta = ckpt.load(spark, latest)
            if meta.get("mode") != mode or bool(meta.get("harmonic")) != harmonic:
                raise ValueError(
                    f"checkpoint mode {meta.get('mode')!r}/harmonic="
                    f"{meta.get('harmonic')!r} != requested {mode!r}/{harmonic}"
                )
            state = materialize(st.repartition(n_part, "id"))
            n_pairs = meta["n_pairs"]
            start_step = latest + 1

    shufd = ShuffleDelta(spark)
    converged = False
    superstep = start_step - 1
    with bsp_loop_confs(spark):
        for superstep in range(start_step, max_radius + 1):
            t0 = time.monotonic()
            # gather: every vertex pulls its out-neighbors' balls and
            # unions them — ONE exchange keyed by src; the union
            # aggregate partial-combines map-side in both modes
            msgs = (
                links.join(state.withColumnRenamed("id", "dst"), "dst")
                .groupBy("src")
                .agg(merge_agg)
                .withColumnRenamed("src", "id")
            )
            upd = state.join(msgs, "id", "left_outer").withColumn(
                "nball", combine
            )
            if harmonic:
                # HyperBall: vertices entering the ball at radius t are
                # at distance exactly t -> they contribute 1/t
                upd = upd.withColumn(
                    "h",
                    F.col("h")
                    + (size_of(F.col("nball")) - size_of(F.col("ball"))).cast(
                        "double"
                    )
                    / F.lit(float(superstep)),
                )
            nxt = materialize(
                upd.select(
                    "id",
                    "nball",
                    *(["h"] if harmonic else []),
                    changed_expr.alias("_ch"),
                ).withColumnRenamed("nball", "ball")
            )
            # ONE action serves N(t) + quiescence + (when enabled) the
            # per-partition I5 rows, same pattern as pagerank.py
            if partition_metrics:
                prows = nxt.groupBy(F.spark_partition_id().alias("pid")).agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(size_col).alias("s"),
                    F.sum(F.col("_ch").cast("long")).alias("ch"),
                ).collect()
                n_pairs = sum(r["s"] or 0 for r in prows)
                changed = sum(r["ch"] or 0 for r in prows)
                part_metrics.extend(
                    {
                        "run_id": run_id,
                        "superstep": superstep,
                        "partition_id": r["pid"],
                        "rows": r["rows"],
                    }
                    for r in prows
                )
            else:
                row = nxt.agg(
                    F.sum(size_col).alias("s"),
                    F.sum(F.col("_ch").cast("long")).alias("ch"),
                ).collect()[0]
                n_pairs, changed = row["s"] or 0, row["ch"] or 0
            state = nxt.select(*state_cols)
            metrics.append(
                {
                    "run_id": run_id,
                    "superstep": superstep,
                    "wall_ms": (time.monotonic() - t0) * 1000,
                    "n_pairs": float(n_pairs),
                    "changed": changed,
                    **shufd.sample(),
                }
            )
            done = changed == 0
            if ckpt is not None and (
                superstep % checkpoint_interval == 0 or done
            ):
                ckpt.save(
                    superstep,
                    state,
                    meta={
                        "mode": mode,
                        "n_pairs": float(n_pairs),
                        "harmonic": harmonic,
                    },
                )
                ckpt.append_metrics(spark, metrics[n_metrics_appended:])
                n_metrics_appended = len(metrics)
                ckpt.append_partition_metrics(
                    spark, part_metrics[n_pmetrics_appended:]
                )
                n_pmetrics_appended = len(part_metrics)
            if done:
                converged = True
                break

    out = materialize(
        state.select(
            "id",
            size_col.cast("double").alias("reach"),
            *(["h"] if harmonic else []),
        )
    )
    return PregelResult(
        vertices=out,
        supersteps=superstep,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
        partition_metrics=part_metrics,
    )


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    max_radius: int = 16,
    mode: str = "auto",
    **kw,
) -> PregelResult:
    """Harmonic centrality H(v) = Σ_{u≠v reaching v} 1/d(u,v) — the
    centrality HyperBall (Boldi-Vigna, 2013) was built to compute on
    web graphs, and the principled replacement for closeness on
    disconnected graphs (Axioms for Centrality, 2014). Runs the
    neighborhood loop over REVERSED edges (balls grow over the set of
    vertices that can reach v) accumulating Δ|ball|/t per radius —
    vertices entering the ball at radius t sit at distance exactly t.
    Returns (id, harmonic); exact below the auto boundary, HLL-sketch
    estimates above it."""
    res = neighborhood_function(
        spark,
        edges,
        max_radius=max_radius,
        mode=mode,
        direction="in",
        harmonic=True,
        **kw,
    )
    return PregelResult(
        vertices=res.vertices.select("id", F.col("h").alias("harmonic")),
        supersteps=res.supersteps,
        converged=res.converged,
        metrics=res.metrics,
        run_id=res.run_id,
        partition_metrics=res.partition_metrics,
    )


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    q: float = 0.9,
    max_radius: int = 64,
    mode: str = "auto",
    **kw,
) -> dict:
    """HyperANF's headline number: the smallest t (linearly
    interpolated) at which N(t) >= q * N(max) — run the neighborhood
    function to quiescence and read the per-radius totals off the
    metrics. Returns {'effective_diameter', 'radius', 'n_pairs',
    'converged', 'run_id'}."""
    res = neighborhood_function(
        spark, edges, max_radius=max_radius, mode=mode, **kw
    )
    n0 = float(
        res.vertices.count()
    )  # N(0) = one pair per vertex (itself)
    series = [n0] + [m["n_pairs"] for m in res.metrics]
    target = q * series[-1]
    eff = float(len(series) - 1)
    for t in range(len(series)):
        if series[t] >= target:
            if t == 0:
                eff = 0.0
            else:
                prev, cur = series[t - 1], series[t]
                eff = t - 1 + (target - prev) / (cur - prev) if cur > prev else float(t)
            break
    return {
        "effective_diameter": eff,
        "radius": res.supersteps,
        "n_pairs": series,
        "converged": res.converged,
        "run_id": res.run_id,
    }
