"""Recrawl comparison — the ops a continuously-crawled link graph
runs between snapshots.

A production web index holds (at least) two link-graph snapshots at
any time: the serving crawl and the incoming one. The two standing
questions are "what changed in the graph?" (``crawl_delta`` — feeds
crawl scheduling and spam surface monitoring) and "whose importance
moved?" (``rank_shift`` — the rank-delta feed behind freshness
boosts and link-spam alarms; pairs naturally with
``pagerank(initial_ranks=...)`` warm starts, where the OLD snapshot's
ranks seed the NEW snapshot's iteration).

Scale: ``crawl_delta`` is one full-outer hash join on (src, dst) —
both sides shuffle once on the same key; ``rank_shift`` is two
PageRank runs (each the audited per-superstep plan) + one outer hash
join on id. Nothing quadratic, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def crawl_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """(src, dst, status) over the union of both snapshots' distinct
    arcs: 'added' (new only), 'removed' (old only), 'kept' (both)."""
    o = old.select("src", "dst").distinct().withColumn("in_old", F.lit(1))
    n = new.select("src", "dst").distinct().withColumn("in_new", F.lit(1))
    j = o.join(n, ["src", "dst"], "full_outer")
    status = (
        F.when(F.col("in_old").isNull(), F.lit("added"))
        .when(F.col("in_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
    )
    return j.select("src", "dst", status.alias("status"))


def rank_shift(
    spark: SparkSession,
    old_edges: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 3,
    d: float = 0.85,
    **kwargs,
) -> DataFrame:
    """(id, rank_old, rank_new, shift): fixed-``max_iter`` PageRank on
    each snapshot, outer-joined. Pages absent from a snapshot carry
    NULL for that side's rank and for ``shift`` (a page that appeared
    has no defined delta — callers decide how to treat births/deaths
    rather than inheriting a fake zero). ``**kwargs`` forwards
    pagerank's knobs to BOTH runs."""
    from .pagerank import pagerank

    p_old = pagerank(
        spark, old_edges, d=d, tol=0.0, max_iter=max_iter, **kwargs
    ).vertices.select("id", F.col("rank").alias("rank_old"))
    p_new = pagerank(
        spark, new_edges, d=d, tol=0.0, max_iter=max_iter, **kwargs
    ).vertices.select("id", F.col("rank").alias("rank_new"))
    return p_old.join(p_new, "id", "full_outer").select(
        "id",
        "rank_old",
        "rank_new",
        (F.col("rank_new") - F.col("rank_old")).alias("shift"),
    )


def incremental_components(
    spark: SparkSession,
    prior_labels: DataFrame,
    delta_edges: DataFrame,
    **kw,
):
    """Connected components of (old snapshot ∪ added edges) WITHOUT
    rescanning the old edge table — the recrawl companion to
    ``pagerank(initial_ranks=...)`` warm starts.

    Each prior ``(id, component)`` row is re-read as an undirected
    star edge id—component. A star preserves the old component's
    connectivity exactly (every member reaches the representative in
    one hop), so CC over (stars ∪ delta) equals CC over
    (old_edges ∪ delta); and because min-label CC assigns the
    CANONICAL minimum vertex id as the component label, the result is
    byte-identical to a full recompute on the union — which is exactly
    what the contract oracle checks.

    Scale: the loop's edge side shrinks from |E_old| + |Δ| to
    |V_old| + |Δ| (stars have diameter 2, so convergence is bounded by
    the merge-chain length the delta induces, not the old graph's
    diameter). At a 10^12-page crawl with a ~1% daily delta this turns
    a full-graph O(E·diameter) recompute into a few supersteps over
    roughly the vertex table. Limitation (standard for incremental
    CC): edge REMOVALS can split components and cannot be expressed
    against labels alone — deletions require a full recompute over the
    surviving edge set.

    ``**kw`` forwards ``connected_components`` knobs (checkpointing,
    partitions, ``max_iter``). Returns its ``PregelResult``.
    """
    from .components import connected_components

    stars = prior_labels.select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    )
    union = stars.unionByName(delta_edges.select("src", "dst"))
    return connected_components(spark, union, **kw)


def crawl_frontier(
    edges: DataFrame,
    crawled: DataFrame,
    host_fn=None,
    per_host_cap: int = 10,
    budget: int | None = None,
) -> DataFrame:
    """The next fetch batch of a continuous crawl: uncrawled link
    targets, scored by how many distinct known pages cite them (in a
    crawl the edge table's sources ARE the fetched pages, so this is
    the classic indegree-from-crawled frontier priority), subject to a
    per-host politeness cap. Rows ``(url, host, score, host_rank)``
    with ``host_rank`` the 1-based position within the host by
    ``(score desc, url asc)`` and ``host_rank <= per_host_cap``;
    with ``budget`` set, additionally the global top-``budget`` by the
    same order. Reference scope: the loader/ingestion side
    (`pregel/loader.lua`) consumes exactly such batches.

    ``crawled``: one-column DataFrame (any column name — the FIRST
    column is taken) of already-fetched page ids. ``host_fn``: Column
    -> Column grouping a page id into its politeness domain (same
    contract as ``contract_graph``'s ``group_fn``); default = each
    page its own host (cap vacuous).

    Scale: one distinct pass over E, one left-anti hash join against
    the crawled set (at 10^12 pages ship the crawled side as
    fingerprints, as ``incremental_exact`` does for text), one
    groupBy(url) count, then a per-host window. The window shuffles
    once on host and sorts per host — bounded by the biggest host's
    UNCRAWLED candidate set, and every row it ranks was already paid
    for in the groupBy; the politeness cap then bounds the OUTPUT per
    host. ``budget`` is a global TakeOrdered (O(n log k), no single-
    partition sort of the full frontier).
    """
    from pyspark.sql import Window

    seen = crawled.select(F.col(crawled.columns[0]).alias("url")).distinct()
    cites = edges.select("src", F.col("dst").alias("url")).distinct()
    cand = (
        cites.join(seen, "url", "left_anti")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    host = host_fn(F.col("url")) if host_fn is not None else F.col("url")
    w = Window.partitionBy("host").orderBy(
        F.col("score").desc(), F.col("url").asc()
    )
    out = (
        cand.withColumn("host", host)
        .withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= per_host_cap)
        .select("url", "host", "score", "host_rank")
    )
    if budget is not None:
        out = out.orderBy(
            F.col("score").desc(), F.col("url").asc()
        ).limit(budget)
    return out
