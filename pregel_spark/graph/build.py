"""Edge-table materialization and graph-shaped derivations.

The reference embeds out-edges inside each vertex tuple
(``pregel/vertex.lua:5-11``, ``pregel/worker.lua:424``); our engine
normalizes that into a first-class ``edges(src, dst, weight)`` table —
the north rule's edge table — plus derived CSR-blocked adjacency and
degree tables.

Scale notes:
- ``edges_from_pages`` keeps extraction in one Arrow-batched pandas UDF
  followed by ``explode`` — one scan, no per-row Python UDF; the
  ``groupBy(src, dst)`` dedup is a single shuffle with map-side partial
  aggregation.
- ``adjacency`` is the reference's embedded adjacency recovered on
  demand (``groupBy(src).agg(collect_list(...))``) for gather-scatter
  kernels that want CSR blocking.
- writes use ``repartition(n, src)`` so downstream joins on ``src``
  start hash-aligned (the consistent-hash placement of
  ``pregel/mpool.lua:29-42``, done with Spark's HashPartitioner).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..extraction import extract_anchors_udf, extract_links_udf


def edges_from_pages(pages: DataFrame, weighted: bool = False) -> DataFrame:
    """pages(url, html, ...) -> edges(src, dst, weight).

    Duplicate links collapse to one edge; ``weighted=True`` keeps the
    multiplicity as the weight (the reference's integer edge value,
    ``pregel/loader.lua:105``), else weight = 1.0.
    """
    links = pages.select(
        F.col("url").alias("src"),
        F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    agg = links.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    if weighted:
        return agg.select("src", "dst", F.col("n").cast("double").alias("weight"))
    return agg.select("src", "dst", F.lit(1.0).alias("weight"))


def anchors_from_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (src, dst, anchor): one row per <a>
    occurrence in document order, duplicates preserved (each occurrence
    is an independent description of the TARGET page — the signal
    anchor-text ranking aggregates). Same single Arrow-batched UDF +
    explode shape as :func:`edges_from_pages`; self-links dropped."""
    return (
        pages.select(
            F.col("url").alias("src"),
            F.explode(extract_anchors_udf(F.col("html"), F.col("url"))).alias("a"),
        )
        .select("src", F.col("a.dst").alias("dst"), F.col("a.anchor").alias("anchor"))
        .filter(F.col("src") != F.col("dst"))
    )


def anchor_index(links: DataFrame, top_k: int = 3) -> DataFrame:
    """(src, dst, anchor) -> (dst, term, n, rank): the top_k most
    frequent lowercase anchor terms pointing at each target, ties
    broken lexicographically — the inverted anchor-text index web
    search builds (anchor terms describe the target better than the
    target's own text).

    Scale shape: ONE shuffle for the (dst, term) count with map-side
    partial aggregation (hub fan-in collapses before the exchange),
    then a per-dst top-k window over the already-collapsed distinct
    terms — bounded by each target's anchor vocabulary, not its
    in-degree."""
    from pyspark.sql import Window

    terms = links.select(
        "dst", F.explode(F.split(F.lower("anchor"), " ")).alias("term")
    ).filter(F.length("term") >= 1)
    counts = terms.groupBy("dst", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("dst").orderBy(F.desc("n"), F.asc("term"))
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_k
    )


def undirect(edges: DataFrame) -> DataFrame:
    """Symmetrize + dedup: both directions present exactly once, no
    self-loops. Used by CC / LPA / triangles (which treat the link graph
    as undirected, per FIXTURES.md §6)."""
    e = edges.select("src", "dst")
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return (
        sym.filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex out/in degrees: (id, out_deg, in_deg).

    One shuffle per side + a full outer join; both aggregations benefit
    from partial aggregation so hub skew collapses map-side.
    """
    out_d = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def vertices_from_edges(edges: DataFrame) -> DataFrame:
    """Distinct vertex ids appearing as src or dst."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def order_preserving_id_map(
    vertices: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """(id string, vid long) with vid = the rank of id in the id set:
    monotone, non-negative, dense.

    Lets min-label algorithms (connected components, LPA tie-breaks)
    run their loops on 8-byte longs while producing byte-identical
    label assignments after mapping back: ``min(vid)`` picks the same
    vertex as ``min(id)`` because the mapping is monotone. The vid is a
    function of the id set alone — not of ``num_partitions``, the
    sampled range bounds or the input's row order — so a checkpoint
    stored in vid space (CC, LPA, SSSP's numeric loop) resumes against
    a map rebuilt under any partitioning.

    Fully native construction (no Python in the row path):

    1. range-repartition by id and sort within partitions, so
       partitions are globally ordered and internally sorted; there
       ``monotonically_increasing_id`` is ``(partition << 33) | row``
       (its documented construction);
    2. freeze that layout with one materialization (the ids are
       nondeterministic until then);
    3. one tiny per-partition count ``collect`` gives each partition's
       offset, applied as a literal-array lookup:
       ``vid = offset[partition] + row``.

    The returned plan is deterministic: read it as often as needed.
    Requires distinct ids (callers pass the distinct vertex set); ties
    would get arbitrary relative order across a range boundary.
    """
    from .engine import materialize

    n_part = num_partitions or int(
        vertices.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    base = materialize(
        vertices.select("id")
        .repartitionByRange(n_part, "id")
        .sortWithinPartitions("id")
        .withColumn("_m", F.monotonically_increasing_id())
    )
    part = F.shiftrightunsigned("_m", 33)
    counts = dict(
        base.groupBy(part.alias("_p")).agg(F.count(F.lit(1)).alias("_c")).collect()
    )
    offsets, cum = [], 0
    for p in range(max(counts, default=0) + 1):
        offsets.append(cum)
        cum += counts.get(p, 0)
    off = F.array(*[F.lit(o).cast("long") for o in offsets])
    return base.select(
        "id",
        (
            F.element_at(off, (part + 1).cast("int"))
            + F.col("_m").bitwiseAND(F.lit((1 << 33) - 1))
        ).alias("vid"),
    )


def vid_edges(
    edges: DataFrame, num_partitions: int
) -> tuple[DataFrame, DataFrame]:
    """``(vmap, d)``: the vid map over every endpoint of ``edges``
    (:func:`order_preserving_id_map`), materialized hash-partitioned on
    ``vid`` — a projection of it is a loop's initial state with no
    further exchange — and the directed E rows in vid space, self-loops
    dropped (a plan). The base of the undirected loops' static graphs
    (:func:`undirected_vid_graph`, star CC's canonical pairs)."""
    from .engine import materialize

    vmap = materialize(
        order_preserving_id_map(vertices_from_edges(edges), num_partitions)
        .repartition(num_partitions, "vid")
    )
    d = (
        edges.select("src", "dst")
        .join(vmap.withColumnRenamed("id", "src"), "src")
        .select(F.col("vid").alias("src"), "dst")
        .join(vmap.withColumnRenamed("id", "dst"), "dst")
        .select("src", F.col("vid").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return vmap, d


def undirected_vid_graph(
    edges: DataFrame, num_partitions: int
) -> tuple[DataFrame, DataFrame]:
    """The static graph of the min-label loops (CC, LPA): ``(vmap, ue)``.

    - ``vmap`` — see :func:`vid_edges`;
    - ``ue`` — (src, dst) in vid space, both directions present exactly
      once, no self-loops (:func:`undirect` semantics), materialized
      hash-partitioned on ``src`` so the loop's scatter join starts
      aligned.

    The directed E rows are mapped to vids first, so the symmetrize +
    dedup runs on 16-byte long pairs instead of 2E url pairs, and each
    endpoint is joined once instead of once per direction."""
    from .engine import materialize

    vmap, d = vid_edges(edges, num_partitions)
    both = F.explode(
        F.array(
            F.struct("src", "dst"),
            F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )
    )
    # dedup on the src layout: the distinct needs no exchange of its
    # own, and the closing repartition (what materialize keys its
    # partitioning-preserving plan on) is planned away as redundant
    ue = materialize(
        d.select(both.alias("e"))
        .select("e.src", "e.dst")
        .repartition(num_partitions, "src")
        .distinct()
        .repartition(num_partitions, "src")
    )
    return vmap, ue


def save_edges_bucketed(
    edges: DataFrame,
    table: str,
    buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist the edge table bucketed by ``src`` (Iceberg
    ``bucket(N, src)`` partition-transform analog for the
    parquet/Hive-catalog fallback): scans start hash-aligned on the
    scatter-join key, so joins against an equally-bucketed side skip
    the exchange entirely. Read back with ``spark.table(table)``."""
    (
        edges.write.mode(mode)
        .bucketBy(buckets, "src")
        .sortBy("src")
        .format("parquet")
        .saveAsTable(table)
    )


def adjacency(edges: DataFrame) -> DataFrame:
    """CSR-blocked adjacency: (src, dsts array, weights array, deg).

    The reference's in-tuple edge array (``pregel/vertex.lua:88-101``)
    as a derived table; useful when a kernel wants one row per source.
    """
    return edges.groupBy("src").agg(
        F.collect_list("dst").alias("dsts"),
        F.collect_list("weight").alias("weights"),
        F.count(F.lit(1)).alias("deg"),
    )


def contract_graph(
    edges: DataFrame,
    group_fn=None,
    mapping: DataFrame | None = None,
    drop_loops: bool = False,
) -> DataFrame:
    """Coarsen the graph by a vertex->group mapping: the host/domain
    rollup of a web link graph (page edges -> host edges), and the
    coarsening step of multi-level partitioners. Returns
    (src, dst, weight, n_edges) at group granularity — ``weight`` sums
    the member-edge weights, ``n_edges`` counts them.

    Two mapping forms, in increasing cost:
    - ``group_fn``: a Column function applied to each endpoint id
      (e.g. extract the registered domain from a url). ZERO joins —
      one projection + one aggregation shuffle on the group keys;
      this is the 100 TB path when the group is derivable from the id
      (hosts from urls always are).
    - ``mapping``: an (id, group) DataFrame for mappings that need a
      table (e.g. a learned clustering). Two hash joins (src then
      dst) before the aggregation; broadcast it yourself with
      ``F.broadcast`` if it is small.

    ``drop_loops`` removes intra-group edges (host self-links), which
    usually dominate a web rollup and are noise for inter-host
    analytics.
    """
    if (group_fn is None) == (mapping is None):
        raise ValueError("pass exactly one of group_fn / mapping")
    if group_fn is not None:
        g = edges.select(
            group_fn(F.col("src")).alias("gsrc"),
            group_fn(F.col("dst")).alias("gdst"),
            "weight",
        )
    else:
        g = (
            edges.join(
                mapping.select(F.col("id").alias("src"), F.col("group").alias("gsrc")),
                "src",
            )
            .join(
                mapping.select(F.col("id").alias("dst"), F.col("group").alias("gdst")),
                "dst",
            )
            .select("gsrc", "gdst", "weight")
        )
    if drop_loops:
        g = g.filter(F.col("gsrc") != F.col("gdst"))
    return g.groupBy(F.col("gsrc").alias("src"), F.col("gdst").alias("dst")).agg(
        F.sum("weight").alias("weight"),
        F.count(F.lit(1)).alias("n_edges"),
    )


def vertex_sample_pred(col, fraction: float, seed: int = 0):
    """Boolean Column: keep vertex ``col`` with probability ~fraction,
    decided by the portable seeded 60-bit hash (``pipeline/hashing``),
    NOT ``df.sample`` — so membership is a pure function of (id, seed):
    identical across runs, partitionings, engines (DuckDB twin below),
    and across every table the id appears in. That last property is
    what makes vertex-INDUCED sampling possible with zero joins.
    Resolution 1e-6 (fraction is quantized to ppm)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    from ..pipeline.hashing import seeded_hash60

    return F.pmod(seeded_hash60(seed, col), F.lit(1_000_000)) < int(
        round(fraction * 1_000_000)
    )


def sample_subgraph(edges: DataFrame, fraction: float, seed: int = 0) -> DataFrame:
    """Deterministic vertex-induced subgraph: an edge survives iff BOTH
    endpoints pass :func:`vertex_sample_pred`. The dev-at-scale slice —
    iterate on fraction=0.01 of a 100 TB graph with degree structure
    intact *within* the sample (every kept vertex keeps exactly its
    edges to other kept vertices, unlike independent edge sampling).

    Scale shape: a single filter evaluated at the scan — no shuffle, no
    join, no state; E[surviving edges] = fraction^2 * |E|.
    """
    return edges.filter(
        vertex_sample_pred(F.col("src"), fraction, seed)
        & vertex_sample_pred(F.col("dst"), fraction, seed)
    )


def duckdb_vertex_sample_pred(x: str, fraction: float, seed: int = 0) -> str:
    """DuckDB twin of :func:`vertex_sample_pred` (oracle surface)."""
    from ..pipeline.hashing import duckdb_seeded_hash60

    return (
        f"(({duckdb_seeded_hash60(seed, x)}) % 1000000) < "
        f"{int(round(fraction * 1_000_000))}"
    )


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Log2-binned in/out-degree histogram — the first plot drawn of
    any web graph (power-law check; hub mass). Returns
    (kind, bin, n_vertices) with kind in ('in','out') and
    bin = floor(log2(degree)) for degree >= 1, -1 for degree 0
    (vertices with no edges in that direction).

    The bin is computed EXACTLY as base-2 string length - 1
    (``conv(deg, 10, 2)``), not floating ``log2`` — double rounding at
    2^k boundaries could differ between engines, and the DuckDB twin
    (``length(printf('%b', deg)) - 1``) must agree bit-for-bit.
    Scale shape: two partial-agg shuffles over O(V) degree rows.
    """
    deg = degrees(edges)  # (id, out_deg, in_deg)
    def binned(col):
        return F.when(F.col(col) == 0, F.lit(-1)).otherwise(
            (F.length(F.conv(F.col(col).cast("string"), 10, 2)) - 1).cast("int")
        )
    out = deg.select(F.lit("out").alias("kind"), binned("out_deg").alias("bin"))
    inn = deg.select(F.lit("in").alias("kind"), binned("in_deg").alias("bin"))
    return (
        out.unionByName(inn)
        .groupBy("kind", "bin")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def temporal_edges_from_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, ...) -> temporal edges (src, dst, t):
    one row per (link, crawl observation), ``t`` the page's ``warc_ts``
    as epoch seconds (double). The direct input to
    :func:`~pregel_spark.graph.temporal.earliest_arrival` — a recrawled
    page contributes one arc per snapshot, which is exactly the
    parallel-arc multiplicity foremost-journey semantics expects
    (the feasibility filter + min-combiner absorb duplicates; no
    dedup here, unlike :func:`edges_from_pages`).

    Same single Arrow-batched UDF + explode shape as
    :func:`edges_from_pages`; self-links dropped. At 100 TB this is
    one map-side pass over the pages table — no shuffle at all until
    the BSP loop repartitions the result once.
    """
    return (
        pages.select(
            F.col("url").alias("src"),
            # warc_ts may be TIMESTAMP_NTZ (parquet default), which has
            # no direct numeric cast — hop through TIMESTAMP first
            F.col("warc_ts").cast("timestamp").cast("double").alias("t"),
            F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", "t")
    )
