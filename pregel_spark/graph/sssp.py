"""Single-source shortest paths: frontier Bellman-Ford as a BSP loop.

SSSP is the worked example of the original Pregel paper (Malewicz et
al., SIGMOD 2010 §2) — the reference engine's vertex API
(``pregel/vertex.lua``: ``send_message`` / ``vote_halt``) exists to
express exactly this kernel; we provide it natively. Spark-first
mapping of the textbook algorithm:

- static weighted link table persisted hash-partitioned on ``src``
  (the same load-bearing repartition as pagerank.py — the O(E) side
  never re-exchanges inside the loop);
- the frontier IS the reference's active-vertex set (F2/F7): only
  vertices whose distance improved last superstep scatter
  ``dist + w`` messages, so per-superstep shuffle volume tracks the
  wave of relaxations instead of staying O(E) — message volume is
  O(edges out of the frontier), the textbook Pregel win;
- the min-combiner (A1) is a ``groupBy(id).min`` with map-side partial
  aggregation, so hub fan-in collapses before the shuffle — FUSED with
  the delta merge (see ``_delta_relax``): raw relaxations and the
  uncompacted deltas share one union + aggregation, one exchange, no
  sorts;
- the loop-carried state is the VISITED set only — O(reached), not
  O(V) — and it is DELTA-REPRESENTED (``_delta_relax``): a compacted
  ``base`` table plus one small materialized delta per superstep,
  unioned at read. The first 100M-edge protocol run carried a full
  O(V) dist table and spent 17-25s per superstep materializing ~94M
  mostly-NULL rows (BENCH_SCALING_sssp.json); round 4's O(reached)
  state still re-exchanged and re-checkpointed every visited row
  every superstep. Now per-step exchange and checkpoint traffic are
  O(delta + msgs); ``base`` is only streamed as the probe side of a
  co-partitioned hash join and rewritten every ``_COMPACT_EVERY``
  supersteps. Unreached vertices are implicit until one final
  ``verts LEFT JOIN dist`` projection;
- termination = empty frontier (the reference's ``__messages == 0``
  rule, ``pregel/master.lua``): Bellman-Ford relaxation is monotone,
  so extra supersteps after quiescence are no-ops — which is what
  makes the fixed-k unrolled DuckDB oracle (``sssp_k8``) exact.

Unreached vertices keep ``dist = NULL`` (infinity). Parallel edges
need no pre-dedup: the min-combiner absorbs them.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..tableio import CheckpointManager
from .build import order_preserving_id_map, vertices_from_edges
from .engine import (
    PregelResult,
    ShuffleDelta,
    bsp_loop_confs,
    materialize,
)

# Cache-batch pruning of the persisted link table (see shortest_paths):
# bucket count for the src-hash clustering column, and the frontier
# size above which pruning is skipped (large waves touch most buckets
# and the tiny bucket-listing job would be pure overhead).
_PRUNE_B = 256
_PRUNE_FRONTIER_CAP = 100_000

# Below this edge count the scale machinery (dense numeric-id mapping,
# `_b` bucket clustering + sortWithinPartitions) is skipped: its fixed
# setup cost dominates small inputs (sssp_k8 at 591k edges measured
# 5.9 s -> 10.0 s when the rework was unconditional, round-4 verdict)
# while its benefits (16x cache-batch prune, 9x long-key probe) only
# amortize on big loops. At 100M edges the same machinery cut the loop
# 2.45x — the threshold keeps both regimes on their best path.
_SMALL_GRAPH_EDGES = 10_000_000

# Compact the delta chain (see _delta_relax) back into one base table
# every this many supersteps: bounds the per-step union fan-in and the
# plan size while keeping the per-step materialization O(delta).
_COMPACT_EVERY = 8


def _as_source_df(spark: SparkSession, sources: list | DataFrame) -> DataFrame:
    if isinstance(sources, DataFrame):
        return sources.select("id").distinct()
    return spark.createDataFrame([(s,) for s in sources], "id string").distinct()


def _symmetrize(e: DataFrame, directed: bool) -> DataFrame:
    if directed:
        return e
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )


def _frontier(delta: DataFrame) -> DataFrame:
    """The next superstep's scatter set IS the last superstep's delta
    (the rows whose distance improved) — O(delta), no full-state scan."""
    return delta.select(F.col("id").alias("src"), "dist")


def _delta_relax(
    base: DataFrame,
    deltas: list[DataFrame],
    frontier: DataFrame,
    links_t: DataFrame,
    obs: Observation | None = None,
) -> DataFrame:
    """ONE Bellman-Ford superstep over DELTA-REPRESENTED state, shared
    by the in-memory and the bucket-indexed loops (their results are
    asserted identical by the sssp_k8 / sssp_k8_indexed contract rows —
    one body, no drift). The visited set is carried as
    ``base ∪ deltas`` (union at read): ``base`` is the last compacted
    full table, each ``delta`` holds only the rows one superstep
    improved. Per superstep this

    - scatters ``dist + w`` out of the frontier (O(frontier edges)),
    - min-combines messages WITH the uncompacted deltas in one union +
      ``groupBy(id)`` — the exchange carries O(deltas + msgs) rows, not
      O(reached),
    - resolves against ``base`` with a co-partitioned shuffled-hash
      LEFT join (both sides hashpartitioned on ``id`` — zero exchange;
      the ``shuffle_hash`` hint puts the build side on the small
      candidate set so ``base`` is only ever streamed), and
    - materializes ONLY the improved rows.

    Round-5 shape change (the round-4 verdict's delta-state item): the
    previous merge unioned the FULL visited set into the aggregation,
    so every superstep re-exchanged AND re-checkpointed O(reached)
    rows even when a handful changed — the named residual behind the
    0.736 2→8 scaling pair. Delta state cuts both: per-step exchange
    and checkpoint traffic are O(delta + msgs); the O(reached) table
    is only read (cached probe side) and only rewritten at compaction
    points (every ``_COMPACT_EVERY`` steps). Distances are
    byte-identical — ``min`` over the same candidate multiset. When
    ``obs`` is given, the new-frontier count (the reference's
    ``__messages`` termination counter) rides the SAME
    eager-checkpoint action — no separate per-superstep count job."""
    raw = links_t.join(frontier, "src").select(
        F.col("dst").alias("id"),
        F.lit(None).cast("double").alias("_dd"),
        (F.col("dist") + F.col("weight")).alias("_md"),
    )
    cand = raw
    for d in deltas:
        cand = cand.unionByName(
            d.select(
                "id",
                F.col("dist").alias("_dd"),
                F.lit(None).cast("double").alias("_md"),
            )
        )
    cand = cand.groupBy("id").agg(
        F.min("_dd").alias("_dd"), F.min("_md").alias("_md")
    )
    j = cand.hint("shuffle_hash").join(
        base.select("id", F.col("dist").alias("_db")), "id", "left_outer"
    )
    # best distance through the previous superstep: min over the
    # compacted base and the uncompacted deltas (least skips NULLs)
    old = F.least("_dd", "_db")
    improved = F.col("_md").isNotNull() & (old.isNull() | (F.col("_md") < old))
    plan = j.filter(improved).select("id", F.col("_md").alias("dist"))
    if obs is not None:
        plan = plan.observe(obs, F.count(F.lit(1)).alias("nf"))
    return materialize(plan)


def _compact(base: DataFrame, deltas: list[DataFrame]) -> DataFrame:
    """Fold the delta chain back into one full visited table:
    ``min(dist)`` per id over base ∪ deltas (improvements are monotone
    decreasing, so min IS the current value). One O(reached) exchange +
    materialization, paid every ``_COMPACT_EVERY`` steps instead of
    every step. Called inside ``bsp_loop_confs`` (AQE off), so the
    aggregation's ``hashpartitioning(id, n)`` survives the checkpoint
    and the next superstep's base join stays exchange-free."""
    if not deltas:
        return base
    full = base.select("id", "dist")
    for d in deltas:
        full = full.unionByName(d.select("id", "dist"))
    return materialize(full.groupBy("id").agg(F.min("dist").alias("dist")))


def shortest_paths(
    spark: SparkSession,
    edges: DataFrame,
    sources: list | DataFrame,
    max_iter: int = 100,
    num_partitions: int | None = None,
    directed: bool = True,
    run_id: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 10,
    resume: bool = False,
    numeric_ids: bool = True,
) -> PregelResult:
    """Weighted shortest distances from a source set. Returns
    (id, dist) over ALL vertices; ``dist`` is NULL where unreachable.

    ``sources``: vertex ids (list, or a DataFrame with an ``id``
    column); distance 0 at every source. ``directed=False``
    symmetrizes the edge list first (each edge relaxes both ways).
    Negative weights are rejected — with a frontier stop rule they
    would require the full |V|-1 Bellman-Ford rounds to be sound.

    ``numeric_ids`` (connected_components' scheme): map string ids to
    dense longs once and run the loop on 8-byte keys. The per-superstep
    floor is the probe of the cached O(E) link table against the
    frontier hash map, and a long-key probe (LongHashedRelation)
    measured ~9x cheaper than string keys at equal row count — string
    hashing + equality dominate an otherwise-tiny superstep. Distances
    are id-representation-independent, so results are byte-identical.
    Applied only above ``_SMALL_GRAPH_EDGES`` (together with the
    cache-batch clustering): below it the fixed setup cost outweighs
    the per-superstep savings (round-4 verdict, sssp_k8 5.9s -> 10.0s).

    Checkpoints stamp the id mode (``meta["id_mode"]``) — a resume
    whose recomputed mode (or a pre-stamp checkpoint) does not match
    raises instead of silently join-coercing string ids against long
    keys to NULL (= every vertex unreachable).
    """
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None
    # per-partition I5 rows ride checkpointed runs (engine.materialize_step)
    partition_metrics = ckpt is not None

    e = _symmetrize(
        edges.select("src", "dst", F.col("weight").cast("double").alias("weight")),
        directed,
    )
    src_df = _as_source_df(spark, sources)
    # size the setup machinery with ONE cheap count of the INPUT table
    # (a plain count over a parquet-backed frame is footer-served or a
    # single no-shuffle scan — measured far cheaper than persisting a
    # throwaway string-id cache first, which cost ~90 s of setup at
    # 100M edges / 2 cores)
    n_edges = edges.count() * (1 if directed else 2)
    vmap = None
    if numeric_ids and n_edges >= _SMALL_GRAPH_EDGES:
        # Big graphs: build the cached table on dense long ids,
        # clustered by a src-hash bucket `_b` + sortWithinPartitions so
        # the in-memory columnar scan's per-batch min/max stats can
        # SKIP batches under a `_b IN (...)` filter — the
        # cache-resident twin of write_edge_buckets' directory pruning.
        # Motivation (BENCH_SCALING_sssp.json, round 4): a BFS wave's
        # near-empty early supersteps still paid a FULL O(E) cache scan
        # to join a handful of frontier rows — 40-75 s/step at 2 cores
        # on 100M edges with <2 MB of real work. sortWithinPartitions
        # preserves the hash(src) layout, so loop joins stay
        # exchange-free.
        verts_all = vertices_from_edges(e).unionByName(src_df).distinct()
        vmap = materialize(
            order_preserving_id_map(verts_all, n_part).repartition(n_part, "vid")
        )
        e = (
            e.join(vmap.withColumnRenamed("id", "src"), "src")
            .select(F.col("vid").alias("src"), "dst", "weight")
            .join(vmap.withColumnRenamed("id", "dst"), "dst")
            .select("src", F.col("vid").alias("dst"), "weight")
            .withColumn(
                "_b", F.pmod(F.xxhash64("src"), F.lit(_PRUNE_B)).cast("int")
            )
            .repartition(n_part, "src")
            .sortWithinPartitions("_b")
        )
        src_df = src_df.join(vmap, "id").select(F.col("vid").alias("id"))
        links = e.persist()
    else:
        links = e.repartition(n_part, "src").persist()
    links.count()
    # validated on the persisted table — no second upstream scan
    if links.filter(F.col("weight") < 0).limit(1).count() > 0:
        links.unpersist()
        raise ValueError("shortest_paths requires non-negative edge weights")
    can_prune = "_b" in links.columns
    id_mode = "numeric" if vmap is not None else "string"

    # delta-represented visited set (see _delta_relax): base = last
    # compacted full table, deltas = per-superstep improved rows, the
    # newest delta IS the frontier. At superstep 0 all three are the
    # source rows.
    base = materialize(
        src_df.select("id", F.lit(0.0).alias("dist")).repartition(n_part, "id")
    )
    delta = base
    deltas: list[DataFrame] = []
    n_frontier = base.count()

    start_step, metrics = 1, []
    part_metrics: list[dict] = []
    n_metrics_appended = 0
    n_pmetrics_appended = 0
    if resume and ckpt is not None:
        latest = ckpt.latest()
        if latest is not None:
            st, _, meta = ckpt.load(spark, latest)
            saved_mode = meta.get("id_mode")
            if saved_mode != id_mode:
                raise ValueError(
                    f"checkpoint {checkpoint_dir}/{run_id} superstep {latest} "
                    f"was written with id_mode={saved_mode!r} but this run "
                    f"resolves to id_mode={id_mode!r} (numeric_ids="
                    f"{numeric_ids}, {n_edges} edges); resuming across id "
                    "representations would silently join string ids against "
                    "long keys to NULL — rerun with matching settings or "
                    "without resume"
                )
            base = materialize(
                st.select("id", "dist").repartition(n_part, "id")
            )
            delta = materialize(
                st.filter("changed").select("id", "dist").repartition(n_part, "id")
            )
            deltas = []
            n_frontier = meta["frontier"]
            start_step = latest + 1

    converged = n_frontier == 0
    superstep = start_step - 1
    shufd = ShuffleDelta(spark)
    with bsp_loop_confs(spark):
        for superstep in range(start_step, max_iter + 1):
            if converged:
                superstep -= 1
                break
            t0 = time.monotonic()
            frontier = _frontier(delta)
            # cache-batch pruning (see the links rebuild note): when the
            # frontier is small, one tiny driver job lists its hash
            # buckets and the scatter scans only the matching cached
            # batches instead of all of E. Gated on the known frontier
            # count so large waves skip both the extra job and a
            # useless IN filter.
            links_t, b_scanned = links, None
            if can_prune and 0 < n_frontier <= _PRUNE_FRONTIER_CAP:
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
                    b_scanned = len(blist)
            # the new-frontier count rides the checkpoint action via
            # observe() unless per-partition I5 stats are on (those
            # need one grouped pass over the cached delta)
            obs = (
                None
                if partition_metrics
                else Observation(f"nf_{run_id}_{superstep}")
            )
            nxt = _delta_relax(
                base, deltas, frontier, links_t, obs=obs
            )
            if partition_metrics:
                prows = nxt.groupBy(F.spark_partition_id().alias("pid")).agg(
                    F.count(F.lit(1)).alias("rows"),
                ).collect()
                n_frontier = sum(r["rows"] or 0 for r in prows)
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
                n_frontier = int(obs.get["nf"] or 0)
            delta = nxt
            deltas.append(delta)
            checkpoint_due = ckpt is not None and (
                superstep % checkpoint_interval == 0 or n_frontier == 0
            )
            compacted = False
            if len(deltas) >= _COMPACT_EVERY or checkpoint_due or n_frontier == 0:
                # inside the step timer: compaction is loop work and its
                # wall is charged to the superstep that triggered it
                base = _compact(base, deltas)
                deltas = []
                compacted = True
            m = {
                "run_id": run_id,
                "superstep": superstep,
                "wall_ms": (time.monotonic() - t0) * 1000,
                "frontier": n_frontier,
                **shufd.sample(),
            }
            if compacted:
                m["compacted"] = True
            if b_scanned is not None:
                m["buckets_scanned"] = b_scanned
            metrics.append(m)
            if checkpoint_due:
                # saved schema matches the pre-delta layout: full
                # (id, dist, changed) with changed marking the frontier
                fl = base.join(
                    delta.select("id", F.lit(True).alias("changed")),
                    "id",
                    "left_outer",
                ).select("id", "dist", F.coalesce("changed", F.lit(False)).alias("changed"))
                ckpt.save(
                    superstep,
                    fl,
                    meta={"frontier": n_frontier, "id_mode": id_mode},
                )
                ckpt.append_metrics(spark, metrics[n_metrics_appended:])
                n_metrics_appended = len(metrics)
                ckpt.append_partition_metrics(spark, part_metrics[n_pmetrics_appended:])
                n_pmetrics_appended = len(part_metrics)
            if n_frontier == 0:
                converged = True
                break
        full = _compact(base, deltas)

    # one final O(V) projection: every vertex (plus foreign sources),
    # NULL dist where the wave never arrived; numeric mode maps the
    # dense vids back to the original string ids
    verts = vertices_from_edges(links).unionByName(src_df).distinct()
    out = verts.join(full.select("id", "dist"), "id", "left_outer").select(
        "id", "dist"
    )
    if vmap is not None:
        out = (
            out.withColumnRenamed("id", "_v")
            .join(vmap.withColumnRenamed("vid", "_v"), "_v")
            .select("id", "dist")
        )
    out = materialize(out)
    links.unpersist()
    return PregelResult(
        vertices=out,
        supersteps=superstep,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
        partition_metrics=part_metrics,
    )


def write_edge_buckets(
    edges: DataFrame,
    path: str,
    buckets: int = 256,
    directed: bool = True,
) -> None:
    """The SSSP 100 TB path, step 1 (same shape as the IVF index,
    ``pipeline/simsearch.write_ivf_index``): symmetrize/cast ONCE,
    map string ids to DENSE LONGS once (the ``order_preserving_id_map``
    every big in-memory loop builds per-run — here it is part of the
    static corpus layout and amortizes over every query against the
    index), and write

    - ``edges`` — (src, dst, weight) in vid space, parquet-partitioned
      by ``bucket = pmod(xxhash64(src), buckets)``;
    - ``vmap`` — (id string, vid long), for source mapping at query
      entry and id map-back at exit;
    - ``meta`` — bucket count.

    Why buckets: at 10^12 documents the edge table does not fit in
    executor memory, so every superstep of a plain BSP loop re-scans
    the full table from storage even when the frontier is a handful of
    vertices (measured on the 100M-edge protocol: ~20s/superstep of
    pure O(E) scan while the frontier shuffle was ~0 MB). A frontier
    that touches f of the B buckets prunes the scan to f/B of the
    bytes — the inverted-list trick, expressed as parquet partition
    pruning. Why numeric ids in the layout: the loop's per-superstep
    floor is the link-table probe, and a long-key probe measured ~9x
    cheaper than string keys (round 4) — storing strings would make
    every query pay a per-RUN 2x-join remap or run 3-5x slower
    post-cutover (measured, round 5)."""
    e = _symmetrize(
        edges.select("src", "dst", F.col("weight").cast("double").alias("weight")),
        directed,
    )
    spark = edges.sparkSession
    vmap = materialize(order_preserving_id_map(vertices_from_edges(e)))
    vmap.write.mode("overwrite").parquet(f"{path}/vmap")
    e = (
        e.join(vmap.withColumnRenamed("id", "src"), "src")
        .select(F.col("vid").alias("src"), "dst", "weight")
        .join(vmap.withColumnRenamed("id", "dst"), "dst")
        .select("src", F.col("vid").alias("dst"), "weight")
    )
    e.withColumn("bucket", F.pmod(F.xxhash64("src"), F.lit(buckets))).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{path}/edges")
    # validate on the WRITTEN data (one cheap min over parquet stats)
    # so shortest_paths_indexed can rely on non-negative weights
    wmin = (
        spark.read.parquet(f"{path}/edges")
        .agg(F.min("weight").alias("m"))
        .collect()[0]["m"]
    )
    if wmin is not None and wmin < 0:
        raise ValueError("write_edge_buckets requires non-negative edge weights")
    spark.createDataFrame(
        [(buckets,)], "buckets int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def shortest_paths_indexed(
    spark: SparkSession,
    path: str,
    sources: list | DataFrame,
    max_iter: int = 100,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> PregelResult:
    """The SSSP 100 TB path, step 2: run the same frontier Bellman-Ford
    over a :func:`write_edge_buckets` layout, scanning ONLY the bucket
    directories the current frontier's vertices hash into (static
    ``bucket IN (...)`` partition filter — verified by an
    ``inputFiles()`` test). Results are identical to
    :func:`shortest_paths` on the same (pre-symmetrized) edges;
    weights were validated non-negative at write time by the caller.

    Pruning-saturation cutover (round-4 verdict: after 2 supersteps of
    a 100M-edge BFS the frontier touched 256/256 buckets, every later
    superstep re-read AND re-shuffled 1.5-2.4 GB of parquet, and the
    loop ran ~4x slower than the in-memory path): the per-step bucket
    telemetry already knows when the index stops helping, so the first
    time the frontier's bucket set exceeds HALF the directory the loop
    loads the table ONCE into the in-memory loop's cached,
    hash-partitioned layout (``repartition(n, src).persist()`` —
    MEMORY_AND_DISK, so bigger-than-RAM tables spill instead of
    thrashing the parquet decoder) and runs the remaining supersteps
    exchange-free. Metrics rows carry ``mode`` ("indexed"/"cached")
    and the cutover step records ``cutover: true``; a wave that never
    saturates (the 100 TB regime this entry point exists for) never
    pays the load."""
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    buckets = spark.read.parquet(f"{path}/meta").collect()[0]["buckets"]
    edges_path = f"{path}/edges"

    # the index stores edges in dense-long vid space (see
    # write_edge_buckets); sources map in at entry, results map back at
    # exit. Foreign sources (ids absent from the graph) get
    # deterministic NEGATIVE vids (never colliding with the index's
    # dense non-negative space) so they still appear in the output.
    vmap = spark.read.parquet(f"{path}/vmap")
    src_in = _as_source_df(spark, sources)
    fmap = order_preserving_id_map(
        src_in.join(vmap, "id", "left_anti").select("id")
    ).select("id", (-1 - F.col("vid")).alias("vid"))
    allmap = materialize(
        vmap.unionByName(fmap).repartition(n_part, "vid")
    )
    src_df = materialize(
        src_in.join(allmap, "id")
        .select(F.col("vid").alias("id"))
        .repartition(n_part, "id")
    )

    base = materialize(
        src_df.select("id", F.lit(0.0).alias("dist")).repartition(n_part, "id")
    )
    delta = base
    deltas: list[DataFrame] = []
    n_frontier = base.count()

    metrics: list[dict] = []
    converged = n_frontier == 0
    superstep = 0
    cached_links: DataFrame | None = None
    shufd = ShuffleDelta(spark)
    with bsp_loop_confs(spark):
        for superstep in range(1, max_iter + 1):
            if converged:
                superstep -= 1
                break
            t0 = time.monotonic()
            frontier = _frontier(delta)
            cutover = False
            if cached_links is None:
                # the frontier's bucket set: one tiny driver action over
                # the cached O(delta) frontier; the IN-list is a STATIC
                # filter, so Spark prunes bucket directories at scan
                # planning time
                blist = [
                    r["b"]
                    for r in frontier.select(
                        F.pmod(F.xxhash64("src"), F.lit(buckets)).alias("b")
                    )
                    .distinct()
                    .collect()
                ]
                if len(blist) > buckets // 2:
                    # same layout as the in-memory big-graph path:
                    # already-numeric keys from the index, `_b` batch
                    # clustering for the post-cutover tail's pruning
                    cached_links = (
                        spark.read.parquet(edges_path)
                        .select("src", "dst", "weight")
                        .withColumn(
                            "_b",
                            F.pmod(F.xxhash64("src"), F.lit(_PRUNE_B)).cast("int"),
                        )
                        .repartition(n_part, "src")
                        .sortWithinPartitions("_b")
                        .persist()
                    )
                    cached_links.count()
                    links_t, b_scanned, cutover = cached_links, buckets, True
                else:
                    links_t = spark.read.parquet(edges_path).filter(
                        F.col("bucket").isin(blist)
                    )
                    b_scanned = len(blist)
            else:
                links_t, b_scanned = cached_links, buckets
                # cache-batch pruning for the decaying tail (same gate
                # as the in-memory loop)
                if 0 < n_frontier <= _PRUNE_FRONTIER_CAP:
                    blist2 = [
                        r["b"]
                        for r in frontier.select(
                            F.pmod(F.xxhash64("src"), F.lit(_PRUNE_B))
                            .cast("int")
                            .alias("b")
                        )
                        .distinct()
                        .collect()
                    ]
                    if len(blist2) <= _PRUNE_B // 2:
                        links_t = cached_links.filter(F.col("_b").isin(blist2))
            obs = Observation(f"nf_{run_id}_{superstep}")
            nxt = _delta_relax(
                base, deltas, frontier, links_t, obs=obs
            )
            n_frontier = int(obs.get["nf"] or 0)
            delta = nxt
            deltas.append(delta)
            compacted = False
            if len(deltas) >= _COMPACT_EVERY or n_frontier == 0:
                base = _compact(base, deltas)
                deltas = []
                compacted = True
            m = {
                "run_id": run_id,
                "superstep": superstep,
                "wall_ms": (time.monotonic() - t0) * 1000,
                "frontier": n_frontier,
                "buckets_scanned": b_scanned,
                "mode": "cached" if cached_links is not None else "indexed",
                **shufd.sample(),
            }
            if compacted:
                m["compacted"] = True
            if cutover:
                m["cutover"] = True
            metrics.append(m)
            if n_frontier == 0:
                converged = True
                break
        full = _compact(base, deltas)

    verts = vertices_from_edges(
        spark.read.parquet(edges_path).select("src", "dst")
    ).unionByName(src_df).distinct()
    out = verts.join(full.select("id", "dist"), "id", "left_outer").select(
        "id", "dist"
    )
    # map dense vids back to the original string ids
    out = materialize(
        out.withColumnRenamed("id", "_v")
        .join(allmap.withColumnRenamed("vid", "_v"), "_v")
        .select("id", "dist")
    )
    if cached_links is not None:
        cached_links.unpersist()
    return PregelResult(
        vertices=out,
        supersteps=superstep,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
    )


def pseudo_diameter(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 32,
    num_partitions: int | None = None,
) -> DataFrame:
    """Double-sweep BFS diameter lower bound of the undirected simple
    graph (Magnien, Latapy & Habib 2009 — the standard web-graph
    diameter estimator): BFS from a deterministic start (the minimum
    vertex id), hop to the farthest reached vertex (ties broken by
    minimum id), BFS again from there; ``diameter_lb = max`` of the
    two eccentricities. Exact on trees; a tight lower bound in
    practice on web graphs. Returns ONE row
    (start_id, start_ecc, far_id, far_ecc, diameter_lb) — integer hop
    counts, eccentricities WITHIN the start's component (unreachable
    vertices are excluded, per :func:`shortest_paths` NULL semantics).

    Plan: two frontier Bellman-Ford waves (unit weights == BFS) over
    the same statically partitioned edge cache, plus three
    driver-scalar round-trips (min-id source, argmax hop, final max)
    — the same documented scalar-pick idiom as the SSSP bench source.
    ``max_iter`` caps each wave; callers must size it >= the true
    eccentricity (the waves stop early at frontier exhaustion, so the
    cap only bites on pathological chains; contract fixtures pin it).
    """
    e = edges.select("src", "dst").withColumn("weight", F.lit(1.0))
    src1 = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .agg(F.min("id").alias("m"))
        .collect()[0]["m"]
    )
    r1 = shortest_paths(
        spark, e, [src1], max_iter=max_iter, directed=False,
        num_partitions=num_partitions,
    )
    far = (
        r1.vertices.filter(F.col("dist").isNotNull())
        .orderBy(F.col("dist").desc(), F.col("id").asc())
        .limit(1)
        .collect()[0]
    )
    r2 = shortest_paths(
        spark, e, [far["id"]], max_iter=max_iter, directed=False,
        num_partitions=num_partitions,
    )
    ecc2 = (
        r2.vertices.agg(F.max("dist").alias("m")).collect()[0]["m"] or 0.0
    )
    ecc1, ecc2 = int(far["dist"]), int(ecc2)
    return spark.createDataFrame(
        [(src1, ecc1, far["id"], ecc2, max(ecc1, ecc2))],
        "start_id string, start_ecc int, far_id string, far_ecc int,"
        " diameter_lb int",
    )
