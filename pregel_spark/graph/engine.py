"""The BSP superstep engine: a driver-side loop over DataFrame jobs.

Architecture (SURVEY.md §3.1): the Spark driver program plays the
reference's *master* (``pregel/master.lua:54-88``); each superstep is
one DataFrame job playing all *workers* (``pregel/worker.lua:140-180``).
The mapping, operator by operator:

- gather join (inbox lookup by receiver, ``pregel/vertex.lua:102-104``)
  -> ``state ⟕ msgs_agg on id`` hash join;
- message combine (``pregel/queue.lua:39-52``) -> ``groupBy(id).agg``
  (Catalyst partial aggregation = the reference's sender-side combine);
  no combiner -> hub-salted ``collect_list`` (skew.py);
- active-vertex filter (``pregel/worker.lua:143-146``) -> keep a vertex
  iff NOT (inbox empty AND halted); skipped rows pass through;
- wake-before-compute (``pregel/worker.lua:158``) -> participating rows
  enter compute with ``halted=false``;
- the user ``compute`` callback (``pregel/worker.lua:159``) -> two
  forms. A :class:`VertexProgram` (a combiner plus ``apply`` / ``send``
  Column expressions) compiles to the plan shape of the native kernels:
  ``edges ⋈ senders`` -> ``groupBy(id).agg(combine)`` -> ``state ⟕
  inbox``, one Catalyst job per superstep with no Python in the row
  path. An arbitrary Python ``compute`` runs as Arrow-batched
  ``applyInPandas`` over hash buckets of vertices, which is also the
  path for no-combiner inboxes, mutations, aggregators and initial
  messages;
- double-buffered queues (``pregel/worker.lua:181-195``) -> loop
  variable rebinding of immutable DataFrames;
- global aggregators (``pregel/aggregator.lua``) -> driver-collected
  scalar aggregates, visible next superstep (``README.md:274-279``);
- termination: pending messages == 0 AND active vertices == 0
  (``pregel/master.lua:77-84``), with a superstep cap (the example's
  30, ``example/test-worker.lua:29``); superstep numbering starts at 1
  (``pregel/master.lua:57``);
- snapshots (``pregel/master.lua:101-103``) -> per-superstep parquet
  checkpoints via ``CheckpointManager``, resumable;
- the master loop itself -> :func:`run_supersteps`, one driver shared by
  the generic tier and the native PageRank / CC / LPA kernels: superstep
  numbering, per-superstep metrics rows, checkpoint cadence, resume and
  the convergence break. :func:`materialize_step` is its per-superstep
  barrier: the ``localCheckpoint`` that cuts lineage also carries the
  convergence counts and aggregators as ``observe()`` metrics, so a
  native superstep is one action (checkpointed runs add one tiny
  per-partition collect for the I5 rows).

Scale notes: every loop-carried DataFrame is ``localCheckpoint``-ed
each superstep — lineage truncation is mandatory for iterative Spark
(plan growth is the #1 failure mode); state is hash-partitioned on
``id`` with a constant partition count so the gather join starts
aligned superstep over superstep (the consistent-hash placement of
``pregel/mpool.lua:29-42``).
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from ..tableio import CheckpointManager
from .build import adjacency as build_adjacency
from .skew import salted_collect_list


def _clamp_checkpoint_stats(df: DataFrame) -> DataFrame:
    """Drop the inherited plan statistics from a localCheckpoint leaf
    when they have blown up.

    Spark 4.1's ``localCheckpoint`` builds a ``LogicalRDD`` that
    CARRIES OVER the pre-checkpoint plan's computed ``sizeInBytes``
    (``LogicalRDD.fromDataset`` → ``rewriteStatsAndConstraints``,
    ExistingRDD.scala:200/263). ``SizeInBytesOnlyStatsPlanVisitor``
    estimates a join as the PRODUCT of its children, so a loop whose
    round joins two frames derived from the same checkpointed state
    (pointer doubling, alternating star-CC) SQUARES the carried BigInt
    every round — its bit-width doubles, and after ~20 squarings a
    single stats multiplication inside the NEXT ``localCheckpoint``
    call runs for minutes of driver CPU (observed live: a 20-minute
    ``BigInteger.multiplyToomCook3`` stall planning ``mst_boruvka`` /
    ``near_dup_clusters`` at sf0.1; reproduced in miniature — 14 bits
    → 13,123 bits in 9 doubling rounds). Materialization does not save
    you BECAUSE the blown-up number itself is inherited through every
    checkpoint.

    Fix: when the checkpointed leaf's ``sizeInBytes`` exceeds 64 bits
    (i.e. it is already an impossible size, beyond Long.MaxValue ≈
    9.2 EB), rebuild the ``LogicalRDD`` with ``originStats = None`` so
    stats fall back to ``spark.sql.defaultSizeInBytes``. Join-strategy
    effect: none — a >2^64-byte estimate and the conservative default
    both mean "never broadcast". Real (small) stats are kept, so
    legitimately broadcastable checkpointed frames stay broadcastable.
    ``output``/``rdd``/``outputPartitioning``/``outputOrdering`` are
    preserved, so the load-bearing co-partitioning guarantee (below)
    is untouched. With the clamp applied at every materialization,
    carried stats never exceed a few hundred bits between cuts, so the
    (leaf-only) stats read here stays cheap."""
    jdf = df._jdf
    plan = jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return df
    if int(plan.stats().sizeInBytes()).bit_length() <= 64:
        return df
    jvm = df.sparkSession._jvm
    none = getattr(getattr(jvm.scala, "None$"), "MODULE$")
    jsess = df.sparkSession._jsparkSession
    newplan = plan.copy(
        plan.output(), plan.rdd(), plan.outputPartitioning(),
        plan.outputOrdering(), plan.isStreaming(), plan.stream(),
        jsess, none, none,
    )
    njdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(jsess, newplan)
    return DataFrame(njdf, df.sparkSession)


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage + cache: the per-superstep barrier materialization.

    Note (measured on Spark 4.1): ``localCheckpoint`` PRESERVES the
    physical ``outputPartitioning`` — a loop-carried table checkpointed
    after ``repartition(n, key)`` re-enters the next superstep's
    joins/aggregations on ``key`` with NO new exchange. The loops below
    rely on this. Inherited plan statistics are clamped — see
    :func:`_clamp_checkpoint_stats` for the BigInt-squaring stall this
    prevents.

    Lineage must be cut EVERY superstep: BSP state is referenced
    twice per superstep (gather join + message derivation), so an
    uncut (``persist``-ed) logical plan doubles in tree size each
    superstep — measured: exponential planning time and a driver
    ``OutOfMemoryError`` in ``TreeNode.generateTreeString`` within ~30
    supersteps. A checkpointed table is left to the ContextCleaner
    (unpersisting a localCheckpointed RDD would drop its only data).

    AQE caveat (measured, round 4): the guarantee above holds only
    when the checkpoint is PLANNED with AQE off — an
    ``AdaptiveSparkPlanExec``-wrapped checkpoint yields a
    ``LogicalRDD`` with ``UnknownPartitioning``, so a loop-static
    table materialized outside :func:`bsp_loop_confs` was silently
    re-exchanged on EVERY superstep (the temporal loop's 2.4 GB/step
    plateau — the whole link table, shipped 13 times). When the plan
    root is an explicit ``RepartitionByExpression`` the fixed-count
    hash exchange is the point of the query and AQE has nothing to
    optimize (it never coalesces a user repartition), so this plans it
    with AQE off and keeps the metadata. Non-repartition roots keep
    AQE (skew-join handling in the heavy one-shot checkpoints)."""
    spark = df.sparkSession
    # unwrap partitioning-preserving nodes (sortWithinPartitions,
    # column projections) to find an explicit-repartition root. A Sort
    # node only preserves partitioning when global=false — a global
    # orderBy RANGE-partitions its output, so unwrapping it would take
    # the AQE-off path on the false premise that hashpartitioning
    # survives.
    node = df._jdf.queryExecution().logical()
    root = node.getClass().getSimpleName()
    while (
        root == "Project"
        or (root == "Sort" and not getattr(node, "global")())
    ) and node.children().size() == 1:
        node = node.children().head()
        root = node.getClass().getSimpleName()
    if (
        root == "RepartitionByExpression"
        and spark.conf.get("spark.sql.adaptive.enabled") == "true"
    ):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = df.localCheckpoint(eager=True)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
    else:
        out = df.localCheckpoint(eager=True)
    return _clamp_checkpoint_stats(out)


def shuffle_totals(spark: SparkSession) -> tuple[int, int] | None:
    """(shuffle_write_bytes, shuffle_read_bytes) summed over completed
    stages, via the UI REST API. Returns None when the UI is disabled
    (the default session) — callers record deltas per superstep only in
    measurement runs (scripts/bench_scaling.py enables the UI)."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    try:
        import json as _json
        import urllib.request

        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=5,
        ) as r:
            stages = _json.load(r)
        return (
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
            sum(s.get("shuffleReadBytes", 0) for s in stages),
        )
    except Exception:
        return None


class ShuffleDelta:
    """Per-superstep shuffle-byte deltas for loop telemetry. Free when
    the UI is disabled (``sample()`` returns ``{}``); measurement runs
    (scripts/bench_scaling.py) enable the UI and get
    ``shuffle_{write,read}_bytes`` keys merged into each superstep's
    metrics row — the per-round exchange-volume evidence behind the
    scaling analysis in BASELINE.md."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._prev = shuffle_totals(spark)

    def sample(self) -> dict:
        cur = shuffle_totals(self._spark)
        out: dict = {}
        if cur is not None and self._prev is not None:
            # spark.ui.retainedStages eviction can shrink the completed-
            # stage sum in very long runs; floor at 0 so such a window
            # records a conservative delta, never garbage negatives
            # (measurement workers raise the retention limit)
            out = {
                "shuffle_write_bytes": max(0, cur[0] - self._prev[0]),
                "shuffle_read_bytes": max(0, cur[1] - self._prev[1]),
            }
        self._prev = cur
        return out


@contextmanager
def bsp_loop_confs(spark: SparkSession):
    """Loop-scoped Spark confs for BSP supersteps. Measured effects:

    - AQE off: adaptive re-planning adds ~2x wall per superstep
      (479ms -> 193ms on toy graphs) and buys nothing — superstep jobs
      have a fixed, known shape.
    - Broadcast threshold down to 4 MB: with the default threshold a
      1M-vertex rank table broadcasts on EVERY superstep, and the
      broadcast build (driver-side collect + hashed-relation build +
      ship) is serial — measured scaling efficiency collapsed to 0.33
      at 20M edges because cores idle behind it. Genuinely tiny
      frontiers still broadcast.
    - Prefer shuffled-hash over sort-merge join: SMJ re-sorts the O(E)
      link table every superstep; SHJ builds a hash map per partition
      from the small loop-carried side instead.

    AQE and the 64 MB broadcast threshold stay on outside loops where
    they earn their keep (one-shot scans, skewed ad-hoc joins).
    """
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(4 * 1024 * 1024),
        "spark.sql.join.preferSortMergeJoin": "false",
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@dataclass
class ComputeContext:
    """What the reference exposes via the vertex API, minus the vertex
    itself: superstep counter (``pregel/vertex.lua:124-126``), global
    aggregator values from the previous superstep
    (``pregel/vertex.lua:127-129``), the vertex count, and the user
    blackboard (U6)."""

    superstep: int
    aggregators: dict[str, float]
    num_vertices: int
    _user_bc: object = None

    @property
    def worker_context(self):
        """The user-supplied per-worker blackboard (the reference's
        ``worker_context``, ``pregel/worker.lua:378,401`` read from
        compute via ``pregel/vertex.lua:211-213``) — broadcast ONCE to
        executors and exposed read-only: BSP semantics forbid
        compute-visible mutation outside the barrier, so unlike the
        reference's mutable Lua table, writes here are not propagated
        (use aggregators or mutations for cross-superstep state)."""
        return self._user_bc.value if self._user_bc is not None else None


@dataclass
class PregelResult:
    vertices: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    run_id: str = ""
    #: per-(superstep, partition) rows — I5 parity with the reference's
    #: per-worker superstep log (pregel/master.lua:60-63)
    partition_metrics: list[dict] = field(default_factory=list)
    #: final driver-scalar aggregates an algorithm chooses to surface
    #: (A3 analog; e.g. topo_levels reports n_unleveled)
    aggregates: dict = field(default_factory=dict)


ComputeFn = Callable[[pd.DataFrame, ComputeContext], pd.DataFrame]

def _make_apply_fn(compute: "ComputeFn", ctx: "ComputeContext", cols=None):
    """applyInPandas requires a 1-arg function; close over (compute,
    ctx) via a factory rather than default args (which break pyspark's
    signature introspection)."""
    cols = cols or ["id", "value", "halted", "out"]

    def _fn(pdf):
        res = compute(pdf, ctx)
        return res[cols]

    return _fn


_COMBINERS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
}
_FOLDS = {"sum": sum, "max": max, "min": min}


@dataclass(frozen=True)
class VertexProgram:
    """A vertex program written as Column expressions, which
    :meth:`Pregel.run` compiles to one Catalyst job per superstep.

    - ``combine``: the message combiner (``pregel/queue.lua:39-52``), a
      key of ``_COMBINERS``;
    - ``apply(value, msg)``: the new value; ``msg`` is the combined
      inbox, null when no mail arrived;
    - ``send(old, new, superstep)``: the message to every out-neighbor,
      null to send none.

    Every vertex that computes votes to halt, and mail wakes it
    (``pregel/worker.lua:158``), as on the pandas path."""

    combine: str
    apply: Callable[[Column, Column], Column]
    send: Callable[[Column, Column, Column], Column]


def materialize_step(
    plan: DataFrame, per_partition: bool, **stats: tuple[str, Column]
) -> tuple[DataFrame, dict, list[dict]]:
    """Materialize one superstep's plan; returns ``(table, stats,
    partitions)``.

    ``stats`` maps a name to ``(fold, column)``, fold one of ``sum`` /
    ``max`` / ``min``; a fold over no non-null value reads 0. Without
    ``per_partition`` the stats ride the materialization itself as
    ``observe()`` metrics — one action per superstep. With it (the
    checkpointed runs) a ``groupBy(spark_partition_id)`` collect over
    the materialized table folds the same stats from one tiny row per
    physical partition, and also yields the I5 per-partition row
    counts (the reference's per-worker superstep log,
    ``pregel/master.lua:60-63``) as ``{"partition_id", "rows"}``."""
    aggs = [_COMBINERS[fold](col).alias(k) for k, (fold, col) in stats.items()]
    if not per_partition:
        obs = Observation()
        out = materialize(plan.observe(obs, *aggs))
        got = obs.get
        return out, {k: got[k] or 0 for k in stats}, []
    out = materialize(plan)
    rows = out.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.count(F.lit(1)).alias("rows"), *aggs
    ).collect()
    folded = {}
    for k, (fold, _) in stats.items():
        vals = [r[k] for r in rows if r[k] is not None]
        folded[k] = _FOLDS[fold](vals) if vals else 0
    parts = [{"partition_id": r["pid"], "rows": r["rows"]} for r in rows]
    return out, folded, parts


@dataclass
class Superstep:
    """One superstep's output, as :func:`run_supersteps` consumes it.

    ``state`` and ``second`` (an optional second loop-carried table: a
    frontier, an outbox) are what the next superstep reads and what a
    checkpoint saves; ``meta`` holds the loop-carried driver scalars
    (global aggregators); ``stats`` are this superstep's metrics-row
    scalars; ``done`` is the convergence test."""

    state: DataFrame
    stats: dict
    done: bool
    second: DataFrame | None = None
    meta: dict = field(default_factory=dict)
    partitions: list[dict] = field(default_factory=list)


def resume_point(ckpt: CheckpointManager | None, resume: bool) -> int | None:
    """The superstep :func:`run_supersteps` resumes from: the latest
    completed checkpoint when ``resume`` is set, else None (a cold
    start)."""
    return ckpt.latest() if resume and ckpt is not None else None


def run_supersteps(
    step: Callable[[int, DataFrame, DataFrame | None, dict], Superstep],
    state: DataFrame,
    *,
    run_id: str,
    max_steps: int,
    num_partitions: int,
    second: DataFrame | None = None,
    meta: dict | None = None,
    ckpt: CheckpointManager | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> PregelResult:
    """The master loop (``pregel/master.lua:54-88``) shared by every
    superstep loop: ``step(superstep, state, second, meta)`` builds and
    materializes one superstep, and this driver owns the rest.

    - Resume: with ``resume`` and a completed checkpoint, the latest
      one's state, second table and meta replace the arguments
      (re-hashed on ``id`` into ``num_partitions``); a checkpoint of the
      converging superstep returns at once. :func:`resume_point` names
      that checkpoint, so a caller can skip building a start state the
      resume would replace.
    - Numbering from 1 (``pregel/master.lua:57``) up to ``max_steps``,
      with each superstep's ``wall_ms`` and its metrics row (plus
      shuffle deltas when the UI is on, :class:`ShuffleDelta`).
    - Snapshots (``pregel/master.lua:101-103``): every
      ``checkpoint_interval`` supersteps and on the converging one, the
      state, second table and ``meta`` + ``stats`` + ``converged`` are
      saved, then the metrics and per-partition rows not yet persisted
      are appended — each row once, also across a resume.
    - The convergence break.

    Callers enter ``bsp_loop_confs`` around the call and map
    ``vertices`` of the returned result back to their output shape."""
    spark = state.sparkSession
    meta = meta or {}
    start = 1
    latest = resume_point(ckpt, resume)
    if latest is not None:
        st, sec, meta = ckpt.load(spark, latest)
        state = materialize(st.repartition(num_partitions, "id"))
        second = (
            materialize(sec.repartition(num_partitions, "id"))
            if sec is not None else None
        )
        if meta.get("converged"):
            return PregelResult(state, latest, True, run_id=run_id)
        start = latest + 1

    metrics: list[dict] = []
    parts: list[dict] = []
    n_saved = n_parts_saved = 0  # high-water marks: each row appended once
    shufd = ShuffleDelta(spark)
    converged = False
    superstep = start - 1
    for superstep in range(start, max_steps + 1):
        t0 = time.monotonic()
        out = step(superstep, state, second, meta)
        state, second, meta = out.state, out.second, out.meta
        metrics.append(
            {
                "run_id": run_id,
                "superstep": superstep,
                "wall_ms": (time.monotonic() - t0) * 1000,
                **out.stats,
                **shufd.sample(),
            }
        )
        parts.extend(
            {"run_id": run_id, "superstep": superstep, **p} for p in out.partitions
        )
        if ckpt is not None and (superstep % checkpoint_interval == 0 or out.done):
            ckpt.save(
                superstep, state, second,
                meta={**meta, **out.stats, "converged": out.done},
            )
            ckpt.append_metrics(spark, metrics[n_saved:])
            n_saved = len(metrics)
            ckpt.append_partition_metrics(spark, parts[n_parts_saved:])
            n_parts_saved = len(parts)
        if out.done:
            converged = True
            break
    return PregelResult(
        vertices=state,
        supersteps=superstep,
        converged=converged,
        metrics=metrics,
        run_id=run_id,
        partition_metrics=parts,
    )


class Pregel:
    """Generic vertex-centric BSP executor (the reference's U1-U4
    callback surface, ``pregel/worker.lua:372-386``).

    ``vertices``: DataFrame (id string, value <V>, halted boolean) —
    ``halted`` optional, defaults false (``pregel/worker.lua:335``).
    ``edges``: DataFrame (src, dst, weight); adjacency is CSR-blocked
    into a Python compute's input when ``with_adjacency``, while a
    :class:`VertexProgram` joins its senders to the edges directly.
    """

    def __init__(
        self,
        spark: SparkSession,
        vertices: DataFrame,
        edges: DataFrame | None = None,
        num_partitions: int | None = None,
        checkpoint_dir: str | None = None,
        run_id: str | None = None,
        checkpoint_interval: int = 5,
        salt_buckets: int = 16,
        hot_key_threshold: int = 1000,
        worker_context: object = None,
    ):
        self.spark = spark
        self.num_partitions = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        if "halted" not in vertices.columns:
            vertices = vertices.withColumn("halted", F.lit(False))
        self.vertices = vertices.select("id", "value", "halted")
        self.edges = edges
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.ckpt = (
            CheckpointManager(checkpoint_dir, self.run_id) if checkpoint_dir else None
        )
        self.checkpoint_interval = checkpoint_interval
        self.salt_buckets = salt_buckets
        self.hot_key_threshold = hot_key_threshold
        self.worker_context = worker_context

    # -- message plane -------------------------------------------------
    def _aggregate_inbox(
        self, msgs: DataFrame, combiner: str | Callable[[Column], Column] | None
    ) -> DataFrame:
        """(id, msg) -> (id, msgs array). With a combiner the inbox
        collapses to one element (``pregel/queue.lua:39-52`` — at most
        one message per receiver); without, a hub-salted collect_list
        (the reference's squash-free enqueue, ``pregel/queue.lua:86``).
        """
        if combiner is not None:
            agg = _COMBINERS[combiner] if isinstance(combiner, str) else combiner
            folded = msgs.groupBy("id").agg(agg(F.col("msg")).alias("_m"))
            return folded.select("id", F.array("_m").alias("msgs"))
        hot = None
        if self.hot_key_threshold > 0:
            hot = (
                msgs.groupBy("id")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") >= self.hot_key_threshold)
                .select("id")
            )
        return salted_collect_list(
            msgs, "id", "msg", self.salt_buckets, hot_keys=hot
        )

    # -- barrier mutations ---------------------------------------------
    def _apply_barrier_mutations(
        self,
        state: DataFrame,
        edges: DataFrame | None,
        mut_rows: DataFrame,
        value_type: str,
        with_adjacency: bool,
        n_part: int,
    ):
        """Apply compute-requested topology mutations in the
        reference's barrier order (``pregel/worker.lua:196-309``):
        delete-edges, delete-vertices (cascading incident edges),
        add-vertices (unhalted, ``pregel/worker.lua:335``), add-edges.
        Returns (state, edges, adjacency)."""
        from .mutations import (
            add_edges as m_add_edges,
            delete_edges as m_delete_edges,
            delete_vertices as m_delete_vertices,
        )

        de = mut_rows.filter(F.col("kind") == 0).select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        )
        dv = mut_rows.filter(F.col("kind") == 1).select(F.col("a").alias("id"))
        av = mut_rows.filter(F.col("kind") == 2).select(
            F.col("a").alias("id"),
            F.col("value"),
            F.lit(False).alias("halted"),
        )
        ae = mut_rows.filter(F.col("kind") == 3).select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
        if edges is not None:
            edges = m_delete_edges(edges, de)
            state, edges = m_delete_vertices(state, edges, dv)
        else:
            state = state.join(dv, "id", "left_anti")
        # existing vertices win: only genuinely new ids are inserted
        # (dropDuplicates alone keeps an arbitrary row — not deterministic)
        new_verts = av.dropDuplicates(["id"]).join(state, "id", "left_anti")
        state = state.unionByName(new_verts)
        if edges is not None:
            edges = materialize(
                m_add_edges(edges, ae).repartition(n_part, "src")
            )
        adj = None
        if with_adjacency and edges is not None:
            adj = materialize(
                build_adjacency(edges).repartition(n_part, "src")
            )
        return state, edges, adj

    # -- the compiled loop ---------------------------------------------
    def _run_program(
        self,
        prog: VertexProgram,
        value_type: str,
        msg_type: str,
        max_supersteps: int,
        resume: bool,
    ) -> PregelResult:
        """One superstep = one job: deliver last superstep's messages
        (``edges ⋈ senders``, combined by ``groupBy(id)``), then compute
        every participant (not halted, or mailed) in the same projection
        over ``state ⟕ inbox``. The state carries each vertex's outgoing
        message ``_out`` (what a checkpoint saves in place of an outbox)
        and its out-degree ``_deg``, so ``msgs_out`` is the count of
        messages the send fans out to."""
        n_part = self.num_partitions
        # edges on src and state on id share one hash layout: the
        # scatter join plans no exchange, and no broadcast job
        edges = materialize(self.edges.select("src", "dst").repartition(n_part, "src"))
        deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("dst").alias("_deg"))
        state = materialize(
            self.vertices.join(deg, "id", "left_outer")
            .select(
                "id", "value", "halted",
                F.coalesce("_deg", F.lit(0)).alias("_deg"),
                F.lit(None).cast(msg_type).alias("_out"),
            )
            .repartition(n_part, "id")
        )
        combine = _COMBINERS[prog.combine]

        def step(superstep, state, _second, _meta):
            senders = state.filter(F.col("_out").isNotNull()).select(
                F.col("id").alias("src"), "_out"
            )
            inbox = (
                edges.join(senders.hint("shuffle_hash"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(combine("_out").alias("_msg"))
            )
            value = F.col("value")
            new = prog.apply(value, F.col("_msg")).cast(value_type)
            # wake-before-compute: halted vertices with mail participate;
            # the rest pass through unchanged and send nothing. Every
            # participant votes to halt, so after the step all are halted
            go = ~F.col("halted") | F.col("_msg").isNotNull()
            plan = state.join(inbox, "id", "left_outer").select(
                "id",
                F.when(go, new).otherwise(value).alias("value"),
                F.lit(True).alias("halted"),
                "_deg",
                F.when(go, prog.send(value, new, F.lit(superstep)))
                .cast(msg_type)
                .alias("_out"),
            )
            nxt, stats, parts = materialize_step(
                plan,
                self.ckpt is not None,
                msgs_out=("sum", F.when(F.col("_out").isNotNull(), F.col("_deg"))),
            )
            return Superstep(
                nxt,
                {**stats, "active": 0},
                stats["msgs_out"] == 0,
                partitions=parts,
            )

        with bsp_loop_confs(self.spark):
            res = run_supersteps(
                step,
                state,
                run_id=self.run_id,
                max_steps=max_supersteps,
                num_partitions=n_part,
                ckpt=self.ckpt,
                checkpoint_interval=self.checkpoint_interval,
                resume=resume,
            )
        res.vertices = res.vertices.select("id", "value", "halted")
        return res

    # -- the loop ------------------------------------------------------
    def run(
        self,
        compute: ComputeFn | VertexProgram,
        value_type: str,
        msg_type: str,
        combiner: str | Callable[[Column], Column] | None = None,
        initial_msgs: DataFrame | None = None,
        max_supersteps: int = 30,
        with_adjacency: bool = True,
        aggregators: dict[str, tuple[float, Callable[[DataFrame], Column]]] | None = None,
        resume: bool = False,
        with_mutations: bool = False,
    ) -> PregelResult:
        """``compute``: a :class:`VertexProgram`, compiled to one
        Catalyst job per superstep, or a Python function over pandas
        batches of vertices, run through ``applyInPandas``. A program
        owns its combiner and sends along the edges; the features only
        the Python path has (``combiner``, ``initial_msgs``,
        ``aggregators``, ``with_mutations``, ``worker_context``) raise
        ``ValueError`` with a program.

        ``with_mutations``: the compute output gains a ``muts``
        column — ``array<struct<kind:int, a:string, b:string,
        value:V>>`` with kind 0=delete-edge(a->b), 1=delete-vertex(a),
        2=add-vertex(a, value), 3=add-edge(a->b) — applied at the
        superstep barrier in the reference's fixed order
        (``pregel/worker.lua:196-309``); adjacency is rebuilt only on
        supersteps that actually mutated."""
        if isinstance(compute, VertexProgram):
            if compute.combine not in _COMBINERS:
                raise ValueError(
                    f"a VertexProgram needs a combiner, one of {sorted(_COMBINERS)}; "
                    "no-combiner inboxes run on a Python compute"
                )
            extra = [
                name
                for name, given in (
                    ("combiner", combiner is not None),
                    ("initial_msgs", initial_msgs is not None),
                    ("aggregators", bool(aggregators)),
                    ("with_mutations", with_mutations),
                    ("worker_context", self.worker_context is not None),
                    ("edges=None", self.edges is None),
                )
                if given
            ]
            if extra:
                raise ValueError(
                    f"a VertexProgram does not take {', '.join(extra)}; "
                    "use a Python compute"
                )
            return self._run_program(
                compute, value_type, msg_type, max_supersteps, resume
            )
        spark = self.spark
        n_part = self.num_partitions
        out_schema = (
            f"id string, value {value_type}, halted boolean, "
            f"out array<struct<dst:string,msg:{msg_type}>>"
        )
        if with_mutations:
            out_schema += (
                f", muts array<struct<kind:int,a:string,b:string,value:{value_type}>>"
            )
        cur_edges = self.edges
        adj = None
        if with_adjacency and cur_edges is not None:
            adj = materialize(
                build_adjacency(cur_edges).repartition(n_part, "src")
            )

        agg_values = {k: v[0] for k, v in (aggregators or {}).items()}
        state = materialize(self.vertices.repartition(n_part, "id"))
        n_vertices = state.count()
        user_bc = (
            spark.sparkContext.broadcast(self.worker_context)
            if self.worker_context is not None
            else None
        )
        out_cols = ["id", "value", "halted", "out"] + (
            ["muts"] if with_mutations else []
        )

        def step(superstep, state, msgs, meta):
            nonlocal cur_edges, adj
            agg_values, n_vertices = meta["aggregators"], meta["num_vertices"]
            if msgs is not None:
                inbox = self._aggregate_inbox(msgs, combiner)
                joined = state.join(inbox, "id", "left_outer")
            else:
                joined = state.withColumn(
                    "msgs", F.lit(None).cast(f"array<{msg_type}>")
                )
            participate = (~F.col("halted")) | F.col("msgs").isNotNull()
            passthrough = joined.filter(~participate).select("id", "value", "halted")
            active_in = joined.filter(participate).withColumn(
                "halted", F.lit(False)
            )  # wake-before-compute (pregel/worker.lua:158)
            if adj is not None:
                active_in = active_in.join(
                    adj.withColumnRenamed("src", "id"), "id", "left_outer"
                )

            ctx = ComputeContext(superstep, dict(agg_values), n_vertices, user_bc)
            _fn = _make_apply_fn(compute, ctx, out_cols)
            computed = (
                active_in.groupBy(
                    F.pmod(F.xxhash64("id"), F.lit(n_part)).alias("_bucket")
                )
                .applyInPandas(_fn, schema=out_schema)
            )
            computed = materialize(computed.repartition(n_part, "id"))

            new_state = computed.select("id", "value", "halted").unionByName(
                passthrough
            )
            vertex_set_mutated = False
            if with_mutations:
                mut_rows = materialize(
                    computed.select(F.explode("muts").alias("m")).select("m.*")
                )
                if mut_rows.count() > 0:
                    new_state, cur_edges, adj = self._apply_barrier_mutations(
                        new_state, cur_edges, mut_rows, value_type,
                        with_adjacency, n_part,
                    )
                    # add/delete-vertex changes N for every later
                    # superstep (ComputeContext.num_vertices and the
                    # checkpointed meta that resume trusts)
                    vertex_set_mutated = (
                        mut_rows.filter(F.col("kind").isin(1, 2)).count() > 0
                    )
            state = materialize(new_state.repartition(n_part, "id"))
            if vertex_set_mutated:
                n_vertices = state.count()
            msgs = materialize(
                computed.select(F.explode("out").alias("o"))
                .select(F.col("o.dst").alias("id"), F.col("o.msg").alias("msg"))
                .filter(F.col("id").isNotNull())
                .repartition(n_part, "id")
            )

            msg_cnt = msgs.count()
            # active count grouped by physical partition: same single
            # action as a global count, plus the I5 per-partition rows
            srows = state.groupBy(F.spark_partition_id().alias("pid")).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.when(~F.col("halted"), 1).otherwise(0)).alias("active"),
            ).collect()
            active_cnt = sum(r["active"] or 0 for r in srows)
            if aggregators:
                row = state.agg(
                    *[fn(state).alias(k) for k, (_, fn) in aggregators.items()]
                ).collect()[0]
                agg_values = {k: row[k] for k in aggregators}
            return Superstep(
                state,
                {"msgs_out": msg_cnt, "active": active_cnt},
                msg_cnt == 0 and active_cnt == 0,
                second=msgs,
                meta={"aggregators": agg_values, "num_vertices": n_vertices},
                partitions=[
                    {"partition_id": r["pid"], "rows": r["rows"]} for r in srows
                ],
            )

        with bsp_loop_confs(spark):
            return run_supersteps(
                step,
                state,
                second=initial_msgs,
                meta={"aggregators": agg_values, "num_vertices": n_vertices},
                run_id=self.run_id,
                max_steps=max_supersteps,
                num_partitions=n_part,
                ckpt=self.ckpt,
                checkpoint_interval=self.checkpoint_interval,
                resume=resume,
            )
