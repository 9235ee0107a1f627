"""PageRank: the flagship native-expression BSP kernel.

Semantics (FIXTURES.md §6, matching the NumPy power-iteration oracle):
damping d=0.85; dangling mass redistributed uniformly; converged when
``max |Δrank| < tol``. Each superstep:

    r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outdeg(u)  +  DM/N )
    DM    = Σ_{dangling u} r(u)

Spark plan per superstep (see module docstring of engine.py for the
reference mapping):
- scatter join J2: ``links ⋈ ranks`` on ``src`` — both sides hash-
  partitioned on the key with the same partition count, so the
  shuffled-hash join (hinted on the ranks, which it builds) starts
  aligned: no exchange of the static, cached ``links`` side and no
  broadcast job for the ranks;
- gather+combine A1/J1: ``groupBy(dst).sum(contrib)`` — Catalyst's
  partial aggregation is the map-side combine, which already collapses
  hub skew for algebraic sums (see skew.py for why salting is not
  needed here, and ``use_salted`` to force the two-phase path);
- aggregator A3 (dangling mass) and the convergence test ride the
  superstep's one materialization (``engine.materialize_step``):
  ``max(delta)`` and ``sum(rank WHERE dangling)`` are ``observe()``
  metrics of the ``localCheckpoint`` that cuts the new ranks' lineage,
  so a superstep fires no separate aggregation job — the reference
  needs a full barrier round-trip for the same
  (``pregel/aggregator.lua``, ``pregel/master.lua:64-75``).
  Checkpointed runs instead fold both from the per-partition rows
  (one extra tiny job, the I5 stats);
- loop-carried ranks are ``localCheckpoint``-ed every superstep (the
  new state references the old state twice, rank update + delta, so an
  uncut plan doubles per iteration — see ``engine.materialize``); AQE
  is disabled inside the loop (``bsp_loop_confs``, ~2x per-superstep
  overhead for zero benefit on fixed-shape jobs);
  ``engine.run_supersteps`` owns the loop: metrics rows, parquet
  snapshots via ``checkpoint_dir`` and resume
  (``pregel/master.lua:101-103``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import (
    Column,
    DataFrame,
    Observation,
    SparkSession,
    Window,
    functions as F,
)

from ..tableio import CheckpointManager
from .engine import (
    PregelResult,
    Superstep,
    bsp_loop_confs,
    materialize,
    materialize_step,
    resume_point,
    run_supersteps,
)
from .skew import salted_sum


def key_hash(col: str) -> Column:
    """The loop key of a vertex id in the numeric-id mode:
    ``xxhash64(id)``. The vertex map, the edges, personalization sources
    and warm-start ranks all hash through this one function."""
    return F.xxhash64(col)


def _key(col: str, numeric: bool) -> Column:
    """The loop key of the id column ``col``: :func:`key_hash` of it in
    the numeric-id mode, else the id string itself."""
    return key_hash(col) if numeric else F.col(col)


class PreparedGraph:
    """The static per-run structures PageRank builds before its loop —
    degree-normalized link shares (persisted hash-partitioned on
    ``src``) and the vertex map ``(vid, id, has_out)`` keyed like the
    links — bundled so MULTI-RUN consumers (``spam_mass`` runs uniform
    + personalized PageRank over the SAME graph; warm-start recrawl
    sweeps rerun over one snapshot) pay the O(E) dedup/hash/persist
    setup ONCE. At web scale the setup is two full passes over the edge
    table; sharing it halves the fixed cost of every PageRank after the
    first.

    ``numeric``: the loop key is :func:`key_hash` of the id; else it is
    the id string itself (``vid == id``).

    Callers own the lifecycle: ``release()`` frees the persisted link
    table when the last run is done (``pagerank`` only unpersists links
    it built itself)."""

    def __init__(self, links, vmap, n, n_part, weighted, numeric):
        self.links = links
        self.vmap = vmap
        self.n = n
        self.n_part = n_part
        self.weighted = weighted
        self.numeric = numeric

    def key(self, col: str) -> Column:
        """The loop key of the id column ``col``."""
        return _key(col, self.numeric)

    def release(self) -> None:
        self.links.unpersist()


def prepare_graph(
    spark: SparkSession,
    edges: DataFrame,
    num_partitions: int | None = None,
    numeric_ids: bool = True,
    pre_deduped: bool = False,
    weighted: bool = False,
) -> PreparedGraph:
    """Build the static PageRank structures once (see
    :class:`PreparedGraph`) — the setup :func:`pagerank` runs inline —
    in two actions:

    1. the vertex map: ONE aggregation over the exploded endpoints,
       ``groupBy(key).agg(min(id), max(id), max(is_src))``, whose
       ``observe()`` metrics are the vertex count and the number of
       keys shared by two ids (``min(id) != max(id)``). A 64-bit
       collision (P ~ V^2 / 2^65) rebuilds the map on string keys;
    2. the links: edges keyed, repartitioned on ``src``, deduped (or
       weight-summed when ``weighted``) and divided by their per-src
       weight sum, all on that one layout, then persisted and counted.

    Unweighted edges carry weight 1.0, so both modes compute
    ``share = w / Σw`` (exactly ``1 / outdeg`` when unweighted)."""
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("id"), F.lit(True).alias("out")),
                F.struct(F.col("dst").alias("id"), F.lit(False).alias("out")),
            )
        ).alias("e")
    ).select("e.id", "e.out")
    for numeric in (True, False) if numeric_ids else (False,):
        obs = Observation()
        vmap = materialize(
            ends.groupBy(_key("id", numeric).alias("vid"))
            .agg(
                F.min("id").alias("id"),
                F.max("id").alias("_hi"),
                F.max("out").alias("has_out"),
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("id") != F.col("_hi")).cast("long")).alias("shared"),
            )
            .select("vid", "id", "has_out")
            .repartition(n_part, "vid")
        )
        if not obs.get["shared"]:
            break
    keyed = edges.select(
        _key("src", numeric).alias("src"),
        _key("dst", numeric).alias("dst"),
        (F.col("weight") if weighted else F.lit(1.0)).alias("w"),
    ).repartition(n_part, "src")
    # on the src layout the dedup and the per-src window sum need no
    # exchange of their own (their keys include src); a groupBy + join
    # for the sum would plan the keyed shuffle twice
    if weighted:
        dedup = keyed.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    elif pre_deduped:
        dedup = keyed
    else:
        dedup = keyed.dropDuplicates(["src", "dst"])
    share = F.col("w") / F.sum("w").over(Window.partitionBy("src"))
    # persist (NOT localCheckpoint): keeps hashpartitioning(src) visible
    # to Catalyst, so the per-superstep scatter join never re-exchanges
    # this O(E) side — only the O(V) ranks side shuffles (dropping the
    # src layout measured as a ~27% loop slowdown at 100M edges). The
    # closing repartition plans no exchange on the src-partitioned
    # window output; it pins that layout for the cached plan.
    links = (
        dedup.select("src", "dst", share.alias("share"))
        .repartition(n_part, "src")
        .persist()
    )
    links.count()
    return PreparedGraph(links, vmap, obs.get["n"], n_part, weighted, numeric)


def pagerank(
    spark: SparkSession,
    edges: DataFrame | None,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    run_id: str | None = None,
    checkpoint_interval: int = 10,
    resume: bool = False,
    use_salted: bool = False,
    numeric_ids: bool = True,
    pre_deduped: bool = False,
    weighted: bool = False,
    sources: list[str] | None = None,
    initial_ranks: DataFrame | None = None,
    prepared: PreparedGraph | None = None,
) -> PregelResult:
    """Run PageRank to ``tol`` convergence (or exactly ``max_iter``
    supersteps when ``tol=0``). Returns ranks as (id, rank).

    ``numeric_ids``: run the loop on ``xxhash64(id)`` long keys instead
    of url strings — shuffle rows shrink from ~40 to 16 bytes and
    hash/compare costs drop, which is where a memory-bandwidth-bound
    superstep spends its time (PageRank semantics never order by id, so
    results are identical). A one-time collision check falls back to
    string keys if the 64-bit space ever collides (P ~ V^2 / 2^65).

    ``weighted``: rank flows proportionally to edge weight (the
    reference's integer edge values, ``pregel/loader.lua:105``):
    share(u->v) = w(u,v) / Σ_x w(u,x); parallel edges sum their
    weights. Default is the unweighted uniform split.

    ``sources``: personalized PageRank — the (1-d) restart mass and
    dangling mass both return to the given source vertices (uniformly
    over those present in the graph) instead of all vertices.

    ``initial_ranks``: warm start from a previous run's
    ``result.vertices`` (string-id ``(id, rank)``; mapped to numeric
    keys internally when ``numeric_ids``). The recurrence is a
    d-contraction in L1, so ANY start vector converges to the same
    unique fixpoint — warm starting changes only the superstep count,
    which is the production recrawl pattern: after mutating a small
    fraction of a web-scale edge table, restart from yesterday's ranks
    and converge in a few supersteps instead of dozens. Vertices new
    to the graph fall back to the cold value; vanished vertices are
    dropped (the vertex set always comes from the CURRENT graph). The
    start vector is renormalized to total mass 1.

    ``prepared``: a :class:`PreparedGraph` from :func:`prepare_graph` —
    skips the O(E) setup entirely (``edges`` may then be None) and
    leaves the caller the owner of the persisted link table. The
    multi-run pattern: ``spam_mass`` and warm-start sweeps build once,
    run many. ``numeric_ids``/``pre_deduped``/``weighted``/
    ``num_partitions`` are ignored in favor of the prepared values.
    """
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    run_id = run_id or uuid.uuid4().hex[:12]
    ckpt = CheckpointManager(checkpoint_dir, run_id) if checkpoint_dir else None

    # static structures: out-degree-normalized link shares, dangling
    # flag — built by prepare_graph (multi-edge collapse, numeric-id
    # map + collision check, persisted hash-partitioned links). Callers
    # running SEVERAL PageRanks over one graph pass ``prepared=`` and
    # pay this once; they then own the link-table lifecycle.
    owns_links = prepared is None
    if prepared is None:
        prepared = prepare_graph(
            spark,
            edges,
            num_partitions=n_part,
            numeric_ids=numeric_ids,
            pre_deduped=pre_deduped,
            weighted=weighted,
        )
    links, vmap = prepared.links, prepared.vmap
    n, n_part, key = prepared.n, prepared.n_part, prepared.key
    if n == 0:
        if owns_links:
            links.unpersist()
        return PregelResult(
            vertices=vmap.limit(0).select(F.col("id"), F.lit(0.0).alias("rank")),
            supersteps=0,
            converged=True,
            metrics=[],
            run_id=run_id,
        )
    src_df = None
    if sources is not None:
        src_df = (
            spark.createDataFrame([(s,) for s in sources], "id string")
            .select(key("id").alias("id"))
            .distinct()
            .join(vmap.select(F.col("vid").alias("id")), "id", "left_semi")
        )
        n_restart = src_df.count()
        if n_restart == 0:
            raise ValueError("no personalization source is present in the graph")
    else:
        n_restart = n
    warm = None
    if initial_ranks is not None:
        warm = initial_ranks.select(
            key("id").alias("id"), F.col("rank").alias("_warm")
        )
        # a duplicate id in initial_ranks would fan out the vertex
        # table through the left join and silently inflate rank mass;
        # resolve deterministically (max) instead
        warm = warm.groupBy("id").agg(F.max("_warm").alias("_warm"))
    base = vmap.select(F.col("vid").alias("id"), "has_out")
    if src_df is not None:
        base = base.join(src_df.withColumn("_s", F.lit(True)), "id", "left_outer")
        cold = (
            F.when(F.col("_s").isNotNull(), F.lit(1.0 / n_restart))
            .otherwise(F.lit(0.0))
        )
    else:
        cold = F.lit(1.0 / n)
    if warm is not None:
        base = base.join(warm, "id", "left_outer")
        init = F.coalesce(F.col("_warm"), cold)
    else:
        init = cold
    cols = [
        F.col("id"),
        init.alias("rank"),
        (~F.col("has_out")).alias("is_dangling"),
    ]
    if src_df is not None:
        cols.append(F.col("_s").isNotNull().alias("is_source"))
    ranks = base.select(*cols).repartition(n_part, "id")
    dm = 0.0
    # a resume replaces the start vector and its dangling mass with the
    # checkpoint's state and meta: build neither
    if resume_point(ckpt, resume) is None:
        ranks = ranks.persist()
        if warm is not None:
            tot = ranks.agg(F.sum("rank").alias("t")).collect()[0]["t"] or 1.0
            # withColumn preserves the hash partitioning on id (narrow dep)
            normalized = ranks.withColumn(
                "rank", F.col("rank") / F.lit(float(tot))
            ).persist()
            normalized.count()
            ranks.unpersist()
            ranks = normalized
        row = ranks.agg(
            F.sum(F.when(F.col("is_dangling"), F.col("rank"))).alias("dm")
        ).collect()[0]
        dm = row["dm"] or 0.0
    start = ranks  # persisted unless resuming; freed once the first superstep replaced it
    keep = ["id", "rank", "is_dangling"] + (["is_source"] if src_df is not None else [])

    def step(superstep, ranks, _, meta):
        dm = meta["dm"]
        # the ranks are hash-partitioned on id like the links on src: a
        # shuffled-hash join needs no exchange, and no broadcast job
        contribs = links.join(
            ranks.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
        ).select("dst", (F.col("rank") * F.col("share")).alias("contrib"))
        if use_salted:
            sums = salted_sum(contribs, "dst", "contrib").withColumnRenamed(
                "sum_contrib", "s"
            )
        else:
            sums = contribs.groupBy("dst").agg(F.sum("contrib").alias("s"))
        if src_df is not None:
            restart = F.when(
                F.col("is_source"),
                F.lit((1.0 - d) / n_restart) + F.lit(d * dm / n_restart),
            ).otherwise(F.lit(0.0))
            new_rank = restart + F.lit(d) * F.coalesce(F.col("s"), F.lit(0.0))
        else:
            new_rank = (
                F.lit((1.0 - d) / n)
                + F.lit(d) * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dm / n))
            )
        plan = (
            ranks.join(sums.withColumnRenamed("dst", "id"), "id", "left_outer")
            .select(
                "id",
                new_rank.alias("new_rank"),
                F.abs(new_rank - F.col("rank")).alias("delta"),
                *keep[2:],
            )
            .withColumnRenamed("new_rank", "rank")
        )
        # convergence and the dangling-mass aggregator for the next
        # superstep ride the materialization (engine.materialize_step)
        nxt, stats, parts = materialize_step(
            plan,
            ckpt is not None,
            delta_max=("max", F.col("delta")),
            dm=("sum", F.when(F.col("is_dangling"), F.col("rank"))),
        )
        if start.is_cached:
            start.unpersist()
        return Superstep(
            nxt.select(*keep),
            {"delta_max": stats["delta_max"]},
            tol > 0 and stats["delta_max"] < tol,
            meta={"dm": stats["dm"]},
            partitions=parts,
        )

    with bsp_loop_confs(spark):
        res = run_supersteps(
            step,
            ranks,
            meta={"dm": dm},
            run_id=run_id,
            max_steps=max_iter,
            num_partitions=n_part,
            ckpt=ckpt,
            checkpoint_interval=checkpoint_interval,
            resume=resume,
        )

    # the static link table is no longer needed by THIS run — free
    # executor storage unless the caller shared it via ``prepared=``
    # (they release())
    final = materialize(res.vertices.select("id", "rank", "is_dangling"))
    if owns_links:
        links.unpersist()
    out = final.select("id", "rank")
    if prepared.numeric:
        out = (
            out.withColumnRenamed("id", "vid")
            .join(vmap, "vid")
            .select("id", "rank")
        )
    res.vertices = out
    return res


def spam_mass(
    spark: SparkSession,
    edges: DataFrame,
    trusted: list[str],
    max_iter: int = 4,
    d: float = 0.85,
    pre_deduped: bool = False,
    **kwargs,
) -> DataFrame:
    """TrustRank spam-mass estimation (Gyongyi et al. 2004/2005): run
    uniform PageRank ``p`` and trust-seeded personalized PageRank
    ``t`` (restart + dangling mass return to ``trusted``) over the
    SAME graph, and report the relative spam mass
    ``(p - t) / p`` per page — the fraction of a page's rank that
    does NOT flow from the trusted seed set. Near 1 for link-spam
    targets, near/below 0 for pages well-connected to the seeds. The
    classic web-spam demotion signal, and the canonical consumer of
    the engine's ``sources=`` PPR mode.

    Returns (id, pr, tr, spam_mass), all unrounded doubles; contract
    queries round at the boundary. ``p > 0`` always (the (1-d)/n
    uniform floor), so the division is total.

    Scale: exactly two PageRank runs (each the audited per-superstep
    plan) + one final hash join on id — and the runs share ONE
    :class:`PreparedGraph`, so the O(E) dedup, numeric-id map, and
    persisted link-share build happen once, not twice. At sf0.1 the
    saving is modest (~1-2s — local-mode per-job overhead dominates
    the tiny setup scans); the point is the 100 TB shape, where the
    setup is two full O(E) edge-table passes plus an O(E) persist and
    repeating it doubles the fixed cost of the pair. Parallel arcs
    collapse once here (standard
    link-graph semantics, same as ``pagerank``'s default; pass
    ``pre_deduped=True`` to skip that one-time O(E) shuffle).
    ``**kwargs`` forwards the remaining knobs (checkpointing, numeric
    ids, partitions) to the shared build and BOTH runs; ``sources`` is
    owned by the trust run and may not be overridden.
    """
    for k in ("sources", "pre_deduped"):
        if k in kwargs:
            raise ValueError(f"spam_mass owns the '{k}' knob; see docstring")
    # both runs share ONE PreparedGraph: the O(E) dedup + numeric-id
    # map + persisted link-share table are built once, not per run —
    # at web scale that halves the fixed cost of the pair
    prep = prepare_graph(
        spark,
        edges,
        num_partitions=kwargs.get("num_partitions"),
        numeric_ids=kwargs.pop("numeric_ids", True),
        pre_deduped=pre_deduped,
        weighted=kwargs.pop("weighted", False),
    )
    try:
        p = pagerank(
            spark, None, d=d, tol=0.0, max_iter=max_iter, prepared=prep, **kwargs
        ).vertices.select("id", F.col("rank").alias("pr"))
        t = pagerank(
            spark, None, d=d, tol=0.0, max_iter=max_iter, prepared=prep,
            sources=trusted, **kwargs
        ).vertices.select("id", F.col("rank").alias("tr"))
        out = p.join(t, "id").select(
            "id", "pr", "tr",
            ((F.col("pr") - F.col("tr")) / F.col("pr")).alias("spam_mass"),
        )
        # both runs' vertices are materialized; the shared links can go
        return materialize(out)
    finally:
        prep.release()
