"""Structural graph statistics: clustering coefficient, reciprocity,
degree assortativity, and common-neighbor link prediction.

These are the one-pass descriptive statistics every web-graph study
reports next to PageRank/CC (reference scope: the engine's analytics
surface; no per-file counterpart — the reference ships only the BSP
loops, SURVEY.md §2.9 extras). All are pure DataFrame compositions —
no iteration, no Python row path — and every float that crosses the
oracle boundary is either derived from integer-exact sufficient
statistics or explicitly rounded in the contract query.

Scale notes per function are inline; the common theme is that each is
a constant number of partial-agg shuffles over O(E) or O(V), except
``adamic_adar`` whose wedge fan-out is explicitly capped by
``max_center_degree`` (the same df-cutoff idiom as
``pipeline.dedup.max_shingle_df``) so hub centers can never explode
the candidate-pair join at web scale.

Checkpointing note (measured, sf0.1 A/B): the multi-referenced
subtrees here (symmetrized edge sets feeding SELF-joins keyed the
same on both sides — cocitation pivots, adamic/jaccard neighbor
lists) are already deduplicated for free by Spark's ReusedExchange
(both sides canonicalize to the identical hash exchange). Wrapping
them in ``engine.materialize`` REGRESSED every one of them (e.g.
cocitation 8.5s -> 15.2s) by replacing the free reuse with an eager
extra job + storage pass. Contrast ``triangles._oriented``, whose
three references partition on DIFFERENT keys (src vs dst) so no
exchange can be reused — there the checkpoint measurably wins. Rule:
checkpoint only when the references need different partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .build import undirect
from .triangles import triangle_count_per_vertex


def _udeg(ue: DataFrame) -> DataFrame:
    """Undirected degree from a symmetrized edge set: (id, deg)."""
    return ue.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient on the undirected
    simple graph: (id, deg, triangles, lcc) with
    ``lcc = 2*T(v) / (deg(v) * (deg(v) - 1))`` and 0.0 when deg < 2.

    Reuses the degree-ordered-orientation triangle counter
    (``triangles.py``) so the wedge join is arboricity-bounded — the
    naive "count closed wedges per center" explodes on hubs; this
    never does. Two extra O(V) joins on top of the triangle pass.
    The lcc division is (int, int) -> double, identical IEEE ops in
    any engine given equal integers, so the value is portable without
    rounding (contract queries still round to 6 for hygiene).
    """
    tri = triangle_count_per_vertex(edges)  # (id, triangles), 0-filled
    deg = _udeg(undirect(edges))
    return tri.join(deg, "id").select(
        "id",
        "deg",
        "triangles",
        F.when(F.col("deg") < 2, F.lit(0.0))
        .otherwise(
            (2.0 * F.col("triangles")) / (F.col("deg") * (F.col("deg") - 1.0))
        )
        .alias("lcc"),
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """One-row (n_edges, n_reciprocal, reciprocity) over the directed
    simple graph (self-loops and duplicate arcs removed first).

    ``reciprocity`` is the classic dyad ratio: the fraction of arcs
    whose reverse arc also exists. For a crawl graph this measures
    mutual linking (blogrolls, nav templates) vs one-way citation.
    Cost: one distinct + one self-equi-join on (src, dst) — both
    hash-partitioned on the same key pair, and the join is
    partial-agg-free but 1:0/1:1 so no fan-out. O(E) shuffle twice.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("_r")
    )
    return (
        e.join(rev, ["src", "dst"], "left_outer")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.coalesce(F.sum("_r"), F.lit(0)).alias("n_reciprocal"),
        )
        .select(
            "n_edges",
            "n_reciprocal",
            (F.col("n_reciprocal") / F.col("n_edges")).alias("reciprocity"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One-row degree assortativity (Newman 2002): the Pearson
    correlation of the endpoint degrees over every ordered copy of
    every undirected edge. Negative for web-like graphs (hubs link to
    leaves), positive for social graphs.

    Engine-portable by construction: the five sufficient statistics
    (n, Σx, Σxy, Σx², with Σy=Σx and Σy²=Σx² by symmetry of the
    symmetrized pair set) are BIGINT sums of BIGINT products — exact
    and order-independent — and the final r is computed from those
    integers with the same IEEE double ops in any engine. No
    ``corr()`` builtin (whose float accumulation order differs per
    engine/partitioning). Overflow headroom: Σxy < E·maxdeg², fine
    through ~10^18 (E=10^12 needs the decimal path — documented, not
    hit at any test scale).

    Shape: one degree agg (O(E) partial-agg shuffle) + two O(E)
    broadcast-or-shuffle joins + a scalar agg. Shifting both
    variables by a constant leaves Pearson r unchanged, so the
    deg-vs-excess-deg convention ambiguity does not exist here.
    """
    ue = undirect(edges).select("src", "dst")
    deg = _udeg(ue)
    pairs = (
        ue.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "dx"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "dy"), "dst")
        .select(F.col("dx").cast("long").alias("dx"), F.col("dy").cast("long").alias("dy"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("n").alias("n_pairs"),
        (num.cast("double") / den.cast("double")).alias("assortativity"),
    )


def adamic_adar(
    edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int | None = 100,
) -> DataFrame:
    """Common-neighbor link prediction over the undirected simple
    graph: for every non-adjacent unordered pair (u, w) sharing at
    least ``min_common`` neighbors, return
    (u, w, n_common, aa_score) where
    ``aa_score = Σ_{v ∈ N(u) ∩ N(w)} 1 / ln(deg(v))``
    (Adamic-Adar 2003; every common neighbor v has deg(v) ≥ 2, so
    ln(deg) > 0). Pairs are canonical u < w.

    Scale: the wedge self-join fans out quadratically in the CENTER
    degree, so centers above ``max_center_degree`` are skipped — the
    standard LSH/posting-list cutoff (cf. ``dedup.max_shingle_df``):
    a mega-hub's neighbor pairs carry ~1/ln(hub) ≈ 0 signal each and
    would alone dominate the join cost. The cutoff is a pure function
    of the exact integer degree, so an external oracle applies it
    identically. With cutoff d, work is Σ_centers deg² ≤ E·d — linear
    in E. n_common is integer-exact; aa_score is a small float sum
    (round it at the contract boundary).
    """
    from .engine import materialize

    # checkpoint the symmetrized simple-edge set ONLY: ue feeds the
    # degree census, the wedge input, and the adjacency anti-join —
    # left lazy, each reference re-runs the symmetrize+distinct
    # exchange (measured: 10 parquet scans / 36 aggregates in one
    # sf0.01 plan, zero ReusedExchange; interleaved sf0.1 A/B:
    # 12.7s -> 6.9s). The wedge input itself stays lazy: from the
    # checkpointed ue it is one projection+join per side, and
    # checkpointing it too measured SLOWER (8.3s) — an eager block
    # write of near-O(E) rows buys back less than it costs when the
    # recompute is this cheap. Same trade as triangles._oriented
    ue = materialize(undirect(edges).select("src", "dst"))
    deg = _udeg(ue)
    # a degree-1 center has a single neighbor and closes no pair:
    # dropping it shrinks the wedge input AND removes the 1/ln(1)
    # division (Infinity lazily unreachable, but prune it anyway)
    centers = (
        deg.withColumnRenamed("id", "v")
        .withColumnRenamed("deg", "dv")
        .filter(F.col("dv") >= 2)
    )
    if max_center_degree is not None:
        centers = centers.filter(F.col("dv") <= max_center_degree)
    nbrs = (
        ue.select(F.col("src").alias("v"), F.col("dst").alias("x"))
        .join(centers, "v")
        .select("v", "x", (1.0 / F.log(F.col("dv").cast("double"))).alias("inv_ln"))
    )
    a = nbrs.select("v", F.col("x").alias("u"), "inv_ln")
    b = nbrs.select("v", F.col("x").alias("w"))
    pairs = (
        a.join(b, "v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("inv_ln").alias("aa_score"),
        )
        .filter(F.col("n_common") >= min_common)
    )
    adj = ue.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w")
    )
    return pairs.join(adj, ["u", "w"], "left_anti").select(
        "u", "w", "n_common", "aa_score"
    )


def jaccard_pairs(
    edges: DataFrame,
    min_common: int = 2,
    max_center_degree: int | None = 100,
) -> DataFrame:
    """Jaccard neighbor-overlap link prediction over the undirected
    simple graph: for every non-adjacent unordered pair (u, w) sharing
    at least ``min_common`` neighbors, return
    (u, w, n_common, jaccard) where
    ``jaccard = |N(u) ∩ N(w)| / |N(u) ∪ N(w)|``
    — the second classic common-neighbor score next to
    ``adamic_adar`` (Liben-Nowell & Kleinberg 2003 use both).

    Same wedge shape and the same ``max_center_degree`` posting-list
    cutoff as ``adamic_adar`` (common neighbors are counted only
    through centers with deg ≤ cutoff — a pure function of exact
    integer degrees, so an external oracle applies it identically);
    the DENOMINATOR degrees deg(u), deg(w) are the full uncut
    degrees. Both numerator and denominator are integer-exact, so the
    ratio is one (int, int) → double division — engine-portable
    without rounding (contract queries still round to 6 for hygiene).

    Scale: the wedge join is the adamic_adar join (Σ deg² over kept
    centers ≤ E·cutoff); the two degree lookups are O(V) hash joins
    on the pair endpoints.
    """
    from .engine import materialize

    # same ue-only checkpoint policy as adamic_adar (ue: degree census
    # + wedge + anti-join + two denominator lookups; deg is O(V) tiny
    # so cutting it too is cheap); the wedge input stays lazy — see
    # adamic_adar's measured rationale
    ue = materialize(undirect(edges).select("src", "dst"))
    deg = materialize(_udeg(ue))
    # degree-1 centers close no pair — prune them (see adamic_adar)
    centers = (
        deg.withColumnRenamed("id", "v")
        .withColumnRenamed("deg", "dv")
        .filter(F.col("dv") >= 2)
    )
    if max_center_degree is not None:
        centers = centers.filter(F.col("dv") <= max_center_degree)
    nbrs = (
        ue.select(F.col("src").alias("v"), F.col("dst").alias("x"))
        .join(centers.select("v"), "v")
    )
    a = nbrs.select("v", F.col("x").alias("u"))
    b = nbrs.select("v", F.col("x").alias("w"))
    pairs = (
        a.join(b, "v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    adj = ue.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w")
    )
    du = deg.withColumnRenamed("id", "u").withColumnRenamed("deg", "du")
    dw = deg.withColumnRenamed("id", "w").withColumnRenamed("deg", "dw")
    return (
        pairs.join(adj, ["u", "w"], "left_anti")
        .join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("du") + F.col("dw") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def co_link_pairs(
    edges: DataFrame,
    direction: str = "cocitation",
    min_common: int = 2,
    max_pivot_degree: int | None = 100,
) -> DataFrame:
    """Co-citation / bibliographic coupling on the DIRECTED simple
    graph (Small 1973 / Kessler 1963 — the two classic link-based
    document-similarity measures, still the backbone of related-page
    and citation-recommendation features on web graphs):

    - ``direction='cocitation'``: (u, w, n_common) where n_common =
      |{p : p→u and p→w}| — pages cited together. Pivot = the citing
      page, fan-out bounded by its OUT-degree.
    - ``direction='coupling'``: n_common = |{p : u→p and w→p}| —
      pages sharing references. Pivot = the cited page, fan-out
      bounded by its IN-degree.

    Pairs are canonical u < w; self-loops and duplicate arcs dropped.

    Scale: identical shape to ``adamic_adar`` — the pivot self-join
    fans out quadratically in pivot degree, so pivots above
    ``max_pivot_degree`` are skipped (a nav-template page that cites
    10^5 URLs, or a hub cited by every page, contributes ~zero
    per-pair signal but would alone dominate the join). The cutoff is
    a pure function of the exact integer degree, so an external
    oracle applies it identically. With cutoff d, work is
    Σ_pivots deg² ≤ E·d — linear in E. n_common is integer-exact: no
    float crosses the contract boundary at all.
    """
    if direction == "cocitation":
        piv, item = "src", "dst"
    elif direction == "coupling":
        piv, item = "dst", "src"
    else:
        raise ValueError(f"direction must be 'cocitation' or 'coupling': {direction}")
    # deliberately NO checkpoints here (unlike adamic_adar): the arc
    # table feeds only the pivot census and the neighbor list, and the
    # interleaved sf0.1 A/B measured lazy 4.3-5.6s vs 10.3-10.6s with
    # either subtree checkpointed — two references to a cheap
    # distinct-scan recompute beat an eager O(E) block write, and the
    # identical self-join sides share their exchange
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    pivots = e.groupBy(F.col(piv).alias("v")).agg(F.count(F.lit(1)).alias("pdeg"))
    if max_pivot_degree is not None:
        pivots = pivots.filter(F.col("pdeg") <= max_pivot_degree)
    nb = e.select(F.col(piv).alias("v"), F.col(item).alias("x")).join(pivots, "v")
    a = nb.select("v", F.col("x").alias("u"))
    b = nb.select("v", F.col("x").alias("w"))
    return (
        a.join(b, "v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def butterflies(
    edges: DataFrame,
    direction: str = "cocitation",
    max_pivot_degree: int | None = 100,
) -> DataFrame:
    """Butterfly (2x2-biclique / rectangle) census of the directed
    graph viewed bipartitely as citing-side x cited-side (Wang et al.
    2019, "Vertex Priority Based Butterfly Counting for Large-scale
    Bipartite Networks" — the standard cohesion census for host/url,
    user/page and other two-mode web structures, where triangles
    cannot exist by construction).

    A butterfly is two same-side vertices sharing two distinct
    neighbors on the other side. Counting reduces exactly to the
    co-link pair table: a pair (u, w) with ``n_common`` shared
    neighbors closes C(n_common, 2) butterflies, so

        n_butterflies = sum over pairs of n_common*(n_common-1)/2

    Returns ONE row ``(n_pairs, n_butterflies)`` — ``n_pairs`` = pairs
    with >= 2 shared neighbors (each contributes >= 1 butterfly).
    ``direction`` picks the side being paired, as in
    ``co_link_pairs``: 'cocitation' pairs cited pages over shared
    citing pivots; 'coupling' pairs citing pages over shared cited
    pivots.

    Scale: inherits ``co_link_pairs``'s pivot-degree cutoff — the
    Σ deg² fan-out is capped at E·d, and the census on top is one
    map-side-combinable aggregation to a single row. Pure integer
    arithmetic end to end (DIV 2 on an even product), so the census
    is engine-portable with no rounding.
    """
    pairs = co_link_pairs(
        edges, direction=direction, min_common=2, max_pivot_degree=max_pivot_degree
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(
            F.sum(F.expr("(n_common * (n_common - 1)) DIV 2")), F.lit(0)
        )
        .cast("long")
        .alias("n_butterflies"),
    )


def edge_embeddedness(edges: DataFrame) -> DataFrame:
    """Per-edge embeddedness on the undirected simple graph: for every
    canonical edge (u < v), the number of common neighbors
    (= triangles through the edge), and whether the edge is a LOCAL
    BRIDGE — an edge whose endpoints share no neighbors, so deleting
    it lengthens the u–v distance beyond 2 (Granovetter 1973 via
    Easley & Kleinberg ch. 3; on web graphs these are the
    cross-community links that tie otherwise-disjoint clusters).

    Returns ``(u, v, n_common, is_local_bridge)`` for EVERY undirected
    edge, embeddedness-0 edges included — those are the bridges.

    Scale: one arboricity-bounded triangle enumeration (the
    degree-ordered wedge join from ``triangles.py`` — never a hub
    fan-out), a 3-way edge-credit union + count, and a left join back
    onto the O(E) canonical edge set. Integer-exact.
    """
    from .engine import materialize
    from .triangles import _triangles

    ce = materialize(
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    tris = materialize(_triangles(edges))
    credits = (
        tris.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .unionByName(
            tris.select(F.least("u", "w").alias("u"), F.greatest("u", "w").alias("v"))
        )
        .unionByName(
            tris.select(F.least("v", "w").alias("u"), F.greatest("v", "w").alias("v"))
        )
    )
    sup = credits.groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_common"))
    return ce.join(sup, ["u", "v"], "left_outer").select(
        "u",
        "v",
        F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
        (F.coalesce("n_common", F.lit(0)) == 0).alias("is_local_bridge"),
    )


def modularity(
    edges: DataFrame, labels: DataFrame, label_col: str = "label"
) -> DataFrame:
    """Newman modularity of a vertex partition over the undirected
    simple graph: per-community rows ``(label, intra_edges, deg_sum, m,
    contrib)`` with ``m`` the graph's edge count and
    ``contrib = intra_edges/m - (deg_sum/(2m))**2``; ``Q = sum(contrib)``
    (exactly ``sum(4*m*intra_edges - deg_sum**2) / (4*m**2)``). The
    quality number every community detection (LPA here) is judged by —
    reference scope: §2.9 analytics extras.

    Scale: one distinct-pair pass over E (the same least/greatest
    canonicalization as the triangle counter), two hash joins of the
    pair list against the label table, then ONE groupBy(label) partial
    agg — output is O(#communities). The graph total ``m`` is a 1-row
    aggregate re-injected via the sanctioned broadcast cross join
    (same shape as BM25's corpus stats; linear, since the broadcast
    side is exactly one row): nothing quadratic, no Python. Vertices
    labeled but absent from the simple graph (isolated / self-loop-only) carry
    deg 0 and contribute 0, matching the convention that modularity is
    defined on the edge set.

    Portability: intra_edges, deg_sum and m are exact integers; the
    two divisions are IEEE double ops identical in any engine, rounded
    to 6 at the contract boundary.
    """
    lab = labels.select("id", F.col(label_col).alias("_lbl"))
    up = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    lu = (
        up.join(lab.withColumnRenamed("id", "u"), "u")
        .withColumnRenamed("_lbl", "_lu")
        .join(lab.withColumnRenamed("id", "v"), "v")
        .withColumnRenamed("_lbl", "_lv")
    )
    intra = (
        lu.filter(F.col("_lu") == F.col("_lv"))
        .groupBy(F.col("_lu").alias("_lbl"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    deg = _udeg(undirect(edges))
    degsum = (
        lab.join(deg, "id", "left_outer")
        .groupBy("_lbl")
        .agg(F.sum(F.coalesce("deg", F.lit(0))).alias("deg_sum"))
    )
    m_df = up.agg(F.count(F.lit(1)).alias("_m"))
    return (
        degsum.join(intra, "_lbl", "left_outer")
        .crossJoin(F.broadcast(m_df))
        .select(
            F.col("_lbl").alias(label_col),
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
            "deg_sum",
            F.col("_m").alias("m"),
            (
                F.coalesce("intra_edges", F.lit(0)) / F.col("_m")
                # x*x, not pow(x,2): bit-identical in every engine
                - (F.col("deg_sum") / (2.0 * F.col("_m")))
                * (F.col("deg_sum") / (2.0 * F.col("_m")))
            ).alias("contrib"),
        )
    )


def refine_modularity(
    edges: DataFrame, labels: DataFrame, label_col: str = "label"
) -> DataFrame:
    """One synchronized Louvain/Leiden-style LOCAL-MOVE round: every
    vertex simultaneously moves to the neighboring community with the
    highest modularity gain (staying allowed), returning the new
    ``(id, label)`` partition. The standard post-LPA refinement step —
    LPA optimizes nothing, so moving against actual Q is how its
    partitions are cleaned up.

    Each gain is exact FOR A SOLO MOVE; when many vertices move in the
    same synchronized round their interactions are unaccounted (the
    price every distributed Louvain pays), so a round is NOT guaranteed
    to raise Q — vertices simultaneously leaving a community can
    strand each other. Hence ONE round per call: iterate at the
    caller, scoring each round with :func:`modularity` (an O(#labels)
    output — the guard is nearly free) and keeping the best partition
    seen. On a locally-optimal partition the round is a no-op (strict
    improvement + stay-bias), so guarded iteration terminates.

    Engine-exact by construction: the gain of moving v (degree d) into
    community B with k = |edges v->B| and community degree sum S'
    (excluding v) is dQ = k/m - d*S'/(2m^2); comparing candidates only
    needs the INTEGER score ``s = 2m*k - d*S'`` (dQ * 2m^2 > 0), so the
    argmax is exact 64-bit arithmetic — no float ordering to diverge
    between engines (fits in a long for m < ~2^31 undirected edges
    even at d*S' extremes; at bigger m, scale both terms by m's common
    factor offline). Tie-break: smallest label. A vertex whose best
    score ties its current community's stays put (strict improvement
    only), so the step is idempotent on a locally-optimal partition.

    Scale: deg + community sums are two partial-agg passes; k is one
    scatter hash join of ue against the label table + groupBy
    (v, community) — the exact LPA superstep shape; argmax is
    ``min(struct(-s, label))`` in the same aggregation (no window).
    Nothing quadratic, no Python, no iteration inside.
    """
    lab = labels.select("id", F.col(label_col).alias("_lbl"))
    ue = undirect(edges).select("src", "dst")
    deg = _udeg(ue)
    m_df = ue.agg((F.count(F.lit(1)) / 2).cast("long").alias("_m"))
    sig = (
        lab.join(deg, "id", "left_outer")
        .groupBy("_lbl")
        .agg(F.sum(F.coalesce("deg", F.lit(0))).alias("_sig"))
    )
    # k_vB: edges from v into each neighboring community B
    k = (
        ue.join(lab.withColumnRenamed("id", "dst"), "dst")
        .groupBy(F.col("src").alias("id"), F.col("_lbl").alias("_cand"))
        .agg(F.count(F.lit(1)).alias("_k"))
    )
    # candidate set = neighbor communities ∪ own community (k=0 there
    # unless v already has intra-community edges)
    own = lab.select("id", F.col("_lbl").alias("_cand"))
    cands = (
        k.unionByName(own.withColumn("_k", F.lit(0)), allowMissingColumns=False)
        .groupBy("id", "_cand")
        .agg(F.max("_k").alias("_k"))
    )
    scored = (
        cands.join(lab, "id")
        .join(deg.withColumnRenamed("deg", "_d"), "id", "left_outer")
        .withColumn("_d", F.coalesce("_d", F.lit(0)))
        .join(sig.withColumnRenamed("_lbl", "_cand"), "_cand")
        .withColumn(
            "_sigx",
            F.col("_sig")
            - F.when(F.col("_cand") == F.col("_lbl"), F.col("_d")).otherwise(0),
        )
        .crossJoin(F.broadcast(m_df))
        .withColumn(
            "_s", 2 * F.col("_m") * F.col("_k") - F.col("_d") * F.col("_sigx")
        )
    )
    # strict improvement: bias the CURRENT community's struct so ties
    # (and the argmax tie-break ordering) favor staying put
    pick = scored.groupBy("id").agg(
        F.min(
            F.struct(
                (-F.col("_s")).alias("neg"),
                F.when(F.col("_cand") == F.col("_lbl"), F.lit(0))
                .otherwise(1)
                .alias("stay"),
                F.col("_cand").alias("cand"),
            )
        ).alias("best")
    )
    return pick.select("id", F.col("best.cand").alias(label_col))


def powerlaw_alpha(edges: DataFrame, dmin: int = 2) -> DataFrame:
    """Degree-distribution power-law exponent, the Clauset-Shalizi-
    Newman continuous-approximation MLE (SIAM Rev. 2009, eq. 3.7) —
    the one-number summary behind every "the web is scale-free" plot
    (``degree_histogram`` draws it; this fits it):

        alpha = 1 + n_tail / sum_{d >= dmin} ln(d / (dmin - 0.5))

    computed for in- and out-degrees over the tail ``d >= dmin``.
    Returns (kind, dmin, n_tail, alpha), kind in ('in', 'out');
    a direction with an empty tail yields a NULL alpha rather than a
    division by zero.

    Scale shape: one degree aggregation (O(E) partial-agg shuffle),
    then ONE whole-tail agg of (count, sum-of-ln) per direction — two
    scalar rows cross the wire. The per-row ``ln`` is IEEE double on
    both engines (1-ulp gap absorbed by the contract round-6; the sum
    is O(V_tail) values of order 1, so accumulation noise is ~1e-12).
    """
    if dmin < 1:
        raise ValueError(f"dmin must be >= 1, got {dmin}")
    from .build import degrees

    deg = degrees(edges)

    def fit(col, kind):
        tail = deg.filter(F.col(col) >= dmin)
        agg = tail.agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum(F.log(F.col(col) / F.lit(dmin - 0.5))).alias("_s"),
        )
        return agg.select(
            F.lit(kind).alias("kind"),
            F.lit(dmin).alias("dmin"),
            "n_tail",
            (F.lit(1.0) + F.col("n_tail") / F.col("_s")).alias("alpha"),
        )

    return fit("in_deg", "in").unionByName(fit("out_deg", "out"))


def rich_club(edges: DataFrame) -> DataFrame:
    """Rich-club coefficient spectrum of the undirected simple graph:
    (k, n_k, e_k, phi) for every integer degree threshold k in
    [0, max_deg) with n_k >= 2, where

      n_k = #{v : deg(v) > k}
      e_k = #{undirected edges {u,w} : deg(u) > k AND deg(w) > k}
      phi = 2 * e_k / (n_k * (n_k - 1))

    (Zhou & Mondragón 2004; Colizza et al. 2006 is the null-model
    normalization, which callers apply against a rewired baseline —
    this returns the raw spectrum). phi ~ 1 at high k means hubs form
    a near-clique; on web graphs the rich-club trend separates
    hub-interlinked cores (portals/link farms) from star-like hubs.

    Plan: two O(E) partial-agg passes (degree census; per-edge
    min-endpoint-degree census) reduce the graph to two histograms of
    at most max_deg rows, then all n_k/e_k suffix sums and the
    [lo, hi] threshold intervals come from single-partition windows
    over those histograms (explicitly tiny: #distinct degrees <<
    max_deg << V; a 10^12-edge graph has max_deg ~ 1e7 so the window
    input is at most a few million 3-int rows on one task) and a
    ``sequence`` explode back to one row per k. No driver collect, no
    theta join of k x degree (that would be O(max_deg^2)).

    Float portability: n_k/e_k are exact BIGINTs; phi is one IEEE
    division per row (contract queries round to 6 for hygiene).
    """
    from pyspark.sql import Window

    ue = undirect(edges)
    deg = _udeg(ue)
    # one row per undirected edge {u,w}, keyed by min endpoint degree
    half = ue.filter(F.col("src") < F.col("dst"))
    em = (
        half.join(deg.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("deg", "deg_u")
        .join(deg.withColumnRenamed("id", "dst"), "dst")
        .select(F.least("deg_u", "deg").alias("m"))
    )
    deg_hist = deg.groupBy(F.col("deg").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("cv")
    )
    em_hist = em.groupBy(F.col("m").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("ce")
    )

    def suffix_intervals(hist: DataFrame, val: str) -> DataFrame:
        """(k, val) for every k in [0, max(d)): the suffix sum
        sum(cnt | d > k), materialized per-k via interval explode —
        for k in [prev_distinct_d, d-1] the suffix at d applies."""
        w_ord = Window.orderBy("d")
        w_suf = Window.orderBy(F.col("d").desc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        iv = hist.select(
            "d",
            F.sum(hist.columns[1]).over(w_suf).alias("suf"),
            F.coalesce(F.lag("d").over(w_ord), F.lit(0)).alias("lo"),
        )
        return iv.select(
            F.explode(F.sequence("lo", F.col("d") - 1)).alias("k"),
            F.col("suf").alias(val),
        )

    nk = suffix_intervals(deg_hist, "n_k")
    ek = suffix_intervals(em_hist, "e_k")
    return (
        nk.join(ek, "k", "left_outer")
        .select(
            "k",
            "n_k",
            F.coalesce("e_k", F.lit(0)).alias("e_k"),
        )
        .filter(F.col("n_k") >= 2)
        .withColumn(
            "phi",
            F.lit(2.0)
            * F.col("e_k").cast("double")
            / (F.col("n_k") * (F.col("n_k") - 1)).cast("double"),
        )
    )
