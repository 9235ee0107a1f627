"""k-core decomposition by iterative peeling.

The k-core of a graph is the maximal subgraph where every vertex has
degree >= k (Seidman 1983); peeling — repeatedly deleting vertices of
degree < k — converges to it. This is the canonical BSP "delete and
recount" kernel: the reference expresses it with vertex mutations
(``pregel/worker.lua`` delete path, M3) + halt votes; here each round
is one degree aggregation over the surviving subgraph.

Spark plan per round (ONE O(E) exchange, the minimum — a degree
recount inherently moves each edge's endpoint credit to the gathering
key once):

- the static symmetrized edge table stays hash-partitioned on ``src``
  and never re-exchanges (the load-bearing-repartition rule from
  pagerank.py);
- "alive neighbor count" is a scatter along co-partitioned ``src``
  (zero E movement: semi-join against the alive set on the aligned
  key) followed by ``groupBy(dst).count`` — the single O(E_surviving)
  exchange, with map-side partial aggregation collapsing hubs;
- survivors = that count table (already dst-partitioned) semi-joined
  back to the alive set and filtered ``>= k``; symmetry of the edge
  table makes "alive in-neighbors" equal "alive neighbors";
- termination: the survivor count is the convergence aggregator (one
  driver scalar per round); it can only decrease, so equality means
  fixpoint.

``max_rounds`` bounds the peel for fixed-round cross-engine checks
(the ``kcore3_r4`` contract row unrolls exactly 4 peels in DuckDB);
the default (None) runs to the true k-core. Peeling is idempotent at
the fixpoint, so early convergence under ``max_rounds`` yields the
same set as running all rounds. At 100 TB the recount is O(E) only in
the first rounds — the semi-join shrinks the scattered edge set as
vertices die.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..tableio import CheckpointManager
from .build import undirect, vertices_from_edges
from .engine import (
    PregelResult,
    ShuffleDelta,
    bsp_loop_confs,
    materialize,
)


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 2,
    max_rounds: int | None = None,
    num_partitions: int | None = None,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 10,
    resume: bool = False,
) -> PregelResult:
    """Vertices of the k-core (undirected degree >= k after peeling to
    fixpoint, or after exactly ``max_rounds`` peels). Returns (id,).

    The input is treated as undirected (symmetrized, self-loops
    dropped, parallel edges collapsed) — degree = number of distinct
    neighbors, matching the standard k-core definition. ``k >= 1``
    (at k=0 the k-core is every vertex and no peel is needed).
    """
    if k < 1:
        raise ValueError("k_core requires k >= 1")
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None
    limit = max_rounds if max_rounds is not None else 1_000_000_000

    ue = undirect(edges).select("src", "dst").repartition(n_part, "src").persist()
    ue.count()

    alive = materialize(vertices_from_edges(ue).repartition(n_part, "id"))
    n_alive = alive.count()

    metrics: list[dict] = []
    n_metrics_appended = 0
    converged = False
    rounds = 0
    if resume and ckpt is not None:
        latest = ckpt.latest()
        if latest is not None:
            st, _, meta = ckpt.load(spark, latest)
            alive = materialize(st.repartition(n_part, "id"))
            n_alive = meta["survivors"]
            rounds = latest
    shufd = ShuffleDelta(spark)
    with bsp_loop_confs(spark):
        while rounds < limit and n_alive > 0:
            rounds += 1
            t0 = time.monotonic()
            # scatter along aligned src (no E exchange), gather on dst
            # (the one O(E_surviving) exchange); symmetry => alive
            # in-neighbor count == alive neighbor count
            cnt = (
                ue.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
                .groupBy("dst")
                .agg(F.count(F.lit(1)).alias("deg"))
            )
            # survivor count rides the checkpoint action via observe()
            obs = Observation(f"nk_{run_id}_{rounds}")
            nxt = materialize(
                cnt.join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .filter(F.col("deg") >= k)
                .select(F.col("dst").alias("id"))
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            n_next = int(obs.get["n"] or 0)
            alive = nxt
            metrics.append(
                {
                    "run_id": run_id,
                    "superstep": rounds,
                    "wall_ms": (time.monotonic() - t0) * 1000,
                    "survivors": n_next,
                    **shufd.sample(),
                }
            )
            done = n_next in (n_alive, 0)
            if ckpt is not None and (
                rounds % checkpoint_interval == 0 or done or rounds >= limit
            ):
                ckpt.save(rounds, alive, meta={"survivors": n_next})
                ckpt.append_metrics(spark, metrics[n_metrics_appended:])
                n_metrics_appended = len(metrics)
            if n_next == n_alive:
                converged = True
                n_alive = n_next
                break
            n_alive = n_next

    if n_alive == 0:
        converged = True
    out = materialize(alive.select("id"))
    ue.unpersist()
    return PregelResult(
        vertices=out,
        supersteps=rounds,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
    )


def coreness(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int | None = None,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> PregelResult:
    """FULL core-number decomposition: every vertex's coreness (the
    largest k such that it survives the k-core peel), not just one
    fixed-k membership set.

    Algorithm: the H-index fixpoint of Lü, Zhou, Zhang & Stanley 2016
    ("The H-index of a network node and its relation to degree and
    coreness", Nat. Commun. 7:10168) — initialise c0(v) = deg(v), then
    repeatedly set c(v) to the H-index of its neighbors' current
    values (the largest h with >= h neighbors valued >= h). The
    sequence is pointwise non-increasing and converges exactly to the
    core number. This beats running the ``k_core`` peel once per k
    (O(k_max) nested loops): one loop, and each round is the same
    O(E) gather a PageRank superstep moves.

    Spark plan per round (the gather minimum):
    - static symmetrized edge table persisted hash-partitioned on
      ``dst`` (the value-join key — the load-bearing-repartition rule
      from pagerank.py), never re-exchanged;
    - current values (O(V)) repartitioned on id and joined on the
      aligned ``dst`` — the only O(V) exchange;
    - the H-index per gathering vertex via ONE window over the joined
      edge set: ``row_number() over (partition by src order by val
      desc)`` then ``max(least(rn, val))`` — the single O(E) exchange.
      Ties in val cannot change ``max(min(rank, val))``, so the value
      is deterministic and integer-exact regardless of sort tie-break
      (the same expression unrolls verbatim in the DuckDB oracle);
    - convergence aggregator: sum of values. Values are pointwise
      non-increasing, so an unchanged sum proves a pointwise fixpoint
      — one driver scalar per round, no change-count join.

    ``max_rounds`` bounds the loop for fixed-round cross-engine
    contracts (``coreness_r3``); iteration count to the true fixpoint
    is bounded by the longest strictly-decreasing chain (small on
    power-law web graphs; Lü et al. report O(10) rounds at web scale).
    """
    from pyspark.sql import Window

    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    limit = max_rounds if max_rounds is not None else 1_000_000_000

    ue = undirect(edges).select("src", "dst").repartition(n_part, "dst").persist()
    ue.count()

    cur = materialize(
        ue.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .repartition(n_part, "id")
    )
    prev_sum = cur.agg(F.sum("c")).collect()[0][0]

    metrics: list[dict] = []
    converged = False
    rounds = 0
    w = Window.partitionBy("src").orderBy(F.desc("val"))
    shufd = ShuffleDelta(spark)
    with bsp_loop_confs(spark):
        while rounds < limit:
            rounds += 1
            t0 = time.monotonic()
            gathered = ue.join(
                cur.select(F.col("id").alias("dst"), F.col("c").alias("val")),
                "dst",
            ).select("src", "val")
            nxt = materialize(
                gathered.withColumn("rn", F.row_number().over(w))
                .groupBy(F.col("src").alias("id"))
                .agg(F.max(F.least(F.col("rn").cast("long"), F.col("val"))).alias("c"))
                .repartition(n_part, "id")
            )
            new_sum = nxt.agg(F.sum("c")).collect()[0][0]
            cur = nxt
            metrics.append(
                {
                    "run_id": run_id,
                    "superstep": rounds,
                    "wall_ms": (time.monotonic() - t0) * 1000,
                    "value_sum": new_sum,
                    **shufd.sample(),
                }
            )
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum

    out = materialize(cur.select("id", F.col("c").alias("coreness")))
    ue.unpersist()
    return PregelResult(
        vertices=out,
        supersteps=rounds,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
    )
