"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query (PageRank over an edge
table derived from the sf0.001 tables). ``queries()`` exposes one
callable per implemented operator (SURVEY.md §2 + pipeline ops);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible one (the driver cross-checks at sf=0.01).

Conventions for oracle parity:
- graph queries run over edge tables DERIVED deterministically from
  the testdata tables by shared SQL (``EDGES_SQL`` for the bipartite
  part-supplier graph; ``TRI_EDGES_SQL`` for a circulant customer
  graph that actually contains triangles); the oracle embeds the same
  derivation as a CTE, so both engines see the identical graph;
- float results are rounded to 6 decimals on BOTH sides;
- integer widths are aligned (Spark ``size``/``row_number`` are int32
  -> DuckDB casts to INTEGER; ``count(*)`` is int64 on both);
- every computed column is aliased identically on both sides.

Iterative-to-convergence algorithms are checked via fixed-k unrolled
SQL (pagerank_k3/k8, lpa_k2) or recursive CTEs (connected components,
maxprop, dedup_clusters). Hash-based dedup operators use the
engine-portable md5-derived hash family (pipeline/hashing.py), so
MinHash signatures, SimHash fingerprints (md5-quarter token hashes,
64 vote columns) and winnowing fingerprints are all value-exact
against DuckDB.
Only pagerank_full (iterate-to-convergence) and simsearch_ivf
(approximate by design) are rows-only — both have exact NumPy oracles
in tests/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# --- shared graph derivations (identical text runs on Spark + DuckDB) ---

# Every TPC-H-derived link fixture above/below is ACYCLIC (bipartite
# part->supplier, forward-only circulants), so SCC / bowtie get a
# hand-designed cyclic core exercising all six Broder regions: giant
# ring CORE g20..g39; IN chain g00..g09 (inner cycle g03-05) entering
# at g22; OUT chain g40..g48 (inner cycle g42-44) leaving from g35;
# tube g07->g50->g51->g45; tendrils g06->g52->g53 and g54->g55->g46;
# disconnected g56->g57, g58->g59. The customer table grafts an
# sf-scaled IN fringe (every customer points at g00, which reaches the
# core), so row counts and the trim phase scale with the input.
_BOWTIE_PAIRS = (
    [(i, i + 1) for i in range(20, 39)] + [(39, 20)]
    + [(i, i + 1) for i in range(0, 9)] + [(9, 22), (5, 3)]
    + [(35, 40)] + [(i, i + 1) for i in range(40, 48)] + [(44, 42)]
    + [(7, 50), (50, 51), (51, 45)]
    + [(6, 52), (52, 53), (54, 55), (55, 46)]
    + [(56, 57), (58, 59)]
)

BOWTIE_EDGES_SQL = (
    "SELECT 'g' || lpad(CAST(a AS STRING), 2, '0') AS src,\n"
    "       'g' || lpad(CAST(b AS STRING), 2, '0') AS dst\n"
    "FROM (VALUES "
    + ",".join(f"({a},{b})" for a, b in _BOWTIE_PAIRS)
    + ") AS t(a, b)\n"
    "UNION ALL\n"
    "SELECT 'x' || lpad(CAST(c_custkey AS STRING), 8, '0') AS src,\n"
    "       'g00' AS dst\n"
    "FROM customer"
)

# anchor-text fixture: part names play the anchor strings pointing at
# supplier pages (the html->anchors extraction itself is pytest-pinned
# byte-identically; this contract row checks the AGGREGATION)
ANCHOR_SQL = """
SELECT 'p' || CAST(l_partkey AS STRING) AS src,
       's' || CAST(l_suppkey AS STRING) AS dst,
       p_name AS anchor
FROM lineitem JOIN part ON p_partkey = l_partkey
"""

# transitive closure + mutual-pair SCC of the bowtie fixture — the
# shared CTE prefix of the scc_fixture and bowtie_fixture oracles
_SCC_CLOSURE_CTES = f"""e0 AS ({BOWTIE_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e
                               UNION ALL SELECT dst AS id FROM e) vu),
r(a, b) AS (SELECT src, dst FROM e
            UNION
            SELECT r.a, e.dst FROM r JOIN e ON e.src = r.b),
m AS (SELECT r1.a, r1.b FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a),
sccs AS (SELECT v.id, least(v.id, COALESCE(min(m.b), v.id)) AS scc
         FROM v LEFT JOIN m ON m.a = v.id GROUP BY v.id)"""

EDGES_SQL = """
SELECT DISTINCT 'p' || CAST(l_partkey AS STRING) AS src,
                's' || CAST(l_suppkey AS STRING) AS dst,
                CAST(1.0 AS DOUBLE) AS weight
FROM lineitem
"""

# mirror-detection fixture: the part->supplier link graph plus exact
# 'q'-prefixed mirror copies of every 20th part page — guarantees
# byte-identical outlink sets (real mirror structure) at every SF,
# on top of the natural supplier-set near-overlaps
_MIRROR_EDGES_SQL = f"""
{EDGES_SQL}
UNION ALL
SELECT DISTINCT 'q' || CAST(l_partkey AS STRING) AS src,
                's' || CAST(l_suppkey AS STRING) AS dst,
                CAST(1.0 AS DOUBLE) AS weight
FROM lineitem WHERE l_partkey % 20 = 0
"""

# adjacency documents for the mirror-pairs row: sorted distinct
# outlink set per source as whitespace-joined text (graph.mirrors.
# outlink_docs twin), exact-collapsed to min-member representatives
_MIRROR_DOCS_SQL = f"""
SELECT min(doc_id) AS doc_id, text FROM (
    SELECT src AS doc_id,
           array_to_string(list_sort(list(DISTINCT dst)), ' ') AS text
    FROM ({_MIRROR_EDGES_SQL}) GROUP BY src
    HAVING count(DISTINCT dst) >= 2
) GROUP BY text
"""

_MIRROR_EXACT_SQL = f"""
WITH docs AS (
    SELECT src AS doc_id,
           array_to_string(list_sort(list(DISTINCT dst)), ' ') AS text
    FROM ({_MIRROR_EDGES_SQL}) GROUP BY src
    HAVING count(DISTINCT dst) >= 2)
SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
FROM docs GROUP BY text HAVING count(*) >= 2
"""

TRI_EDGES_SQL = """
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + 1 AS STRING) AS dst,
       CAST(1.0 AS DOUBLE) AS weight
FROM customer
WHERE c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)
UNION ALL
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + 2 AS STRING) AS dst,
       CAST(1.0 AS DOUBLE) AS weight
FROM customer
WHERE c_custkey + 2 <= (SELECT max(c_custkey) FROM customer)
"""

# temporal-edge fixture: each order is one observation of the
# c_k -> c_{k+1} arc at the order date (several orders per customer ->
# parallel arcs with different timestamps, exactly what makes the
# problem temporal). The day number is engine-portable arithmetic
# (year/month/day exist identically in Spark SQL and DuckDB; 372 > any
# month*31 span keeps it strictly monotone in the calendar date)
TEMPORAL_EDGES_SQL = """
SELECT 'c' || CAST(o_custkey AS STRING) AS src,
       'c' || CAST(o_custkey + 1 AS STRING) AS dst,
       CAST((year(o_orderdate) - 1992) * 372 + (month(o_orderdate) - 1) * 31
            + day(o_orderdate) AS DOUBLE) AS t
FROM orders
WHERE o_custkey + 1 <= (SELECT max(o_custkey) FROM orders)
"""

# 4-clique fixture: circulant offsets {1,2,3} over customers -- every
# consecutive quadruple is a K4 (n-3 of them), nothing else is
QUAD_EDGES_SQL = """
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + k.o AS STRING) AS dst
FROM customer, (SELECT 1 AS o UNION ALL SELECT 2 UNION ALL SELECT 3) k
WHERE c_custkey + k.o <= (SELECT max(c_custkey) FROM customer)
"""

# weighted circulant over customers: multi-hop chains with varied
# positive integer weights — the SSSP fixture (both engines derive it
# from this same text; weights depend only on the source key, so the
# DISTINCT-free union is deterministic per edge)
W_EDGES_SQL = """
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + 1 AS STRING) AS dst,
       CAST(c_custkey % 5 + 1 AS DOUBLE) AS weight
FROM customer
WHERE c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)
UNION ALL
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + 2 AS STRING) AS dst,
       CAST(c_custkey % 7 + 2 AS DOUBLE) AS weight
FROM customer
WHERE c_custkey + 2 <= (SELECT max(c_custkey) FROM customer)
"""

# k-truss fixture: circulant {+1,+2,+3} chain (every edge closes
# triangles, but supports max out at 4 mid-chain) grafted with a K6 on
# customers 1-6 — 5-truss peeling unravels the whole chain in two
# rounds while the clique core survives; both engines derive it from
# this text
TRUSS_EDGES_SQL = """
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + d AS STRING) AS dst
FROM customer, (VALUES (1), (2), (3)) AS t(d)
WHERE c_custkey + d <= (SELECT max(c_custkey) FROM customer)
UNION ALL
SELECT 'c' || CAST(a.c_custkey AS STRING) AS src,
       'c' || CAST(b.c_custkey AS STRING) AS dst
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE a.c_custkey <= 6 AND b.c_custkey <= 6
"""

# recrawl fixture: the NEW snapshot of the part->supplier link graph —
# every 7th part's links vanish (pages dropped from the crawl), every
# 11th part gains a link to a low-numbered supplier (fresh outlinks);
# both engines derive old (EDGES_SQL) and new from shared text
# Boruvka fixture: the customer chain+chord circulant, re-weighted so
# the exact MST is derivable in closed form (the SQL oracle below):
# path edges (c, c+1) cost 1+(c%7) EXCEPT every 10th (c%10=0), which
# costs 500; chords (c, c+2) cost 10+(c%89). Every cheap path edge is
# cheaper than every chord, so Kruskal keeps all cheap path edges,
# reconnects each break via the cheaper of its two crossing chords
# ((c0-1, c0+1) at 10+((c0-1)%89) vs (c0, c0+2) at 10+(c0%89) — always
# distinct), and rejects everything else as cycles. The engine runs
# full multi-round Boruvka with no knowledge of this structure.
MST_EDGES_SQL = """
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + 1 AS STRING) AS dst,
       CAST(CASE WHEN c_custkey % 10 = 0 THEN 500
                 ELSE 1 + (c_custkey % 7) END AS DOUBLE) AS weight
FROM customer
WHERE c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)
UNION ALL
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + 2 AS STRING) AS dst,
       CAST(10 + (c_custkey % 89) AS DOUBLE) AS weight
FROM customer
WHERE c_custkey + 2 <= (SELECT max(c_custkey) FROM customer)
"""

NEW_EDGES_SQL = """
SELECT DISTINCT 'p' || CAST(l_partkey AS STRING) AS src,
                's' || CAST(l_suppkey AS STRING) AS dst,
                CAST(1.0 AS DOUBLE) AS weight
FROM lineitem WHERE l_partkey % 7 <> 0
UNION
SELECT DISTINCT 'p' || CAST(l_partkey AS STRING) AS src,
                's' || CAST(l_suppkey % 10 AS STRING) AS dst,
                CAST(1.0 AS DOUBLE) AS weight
FROM lineitem WHERE l_partkey % 11 = 0
"""

# PII fixture: synthesized contact strings (email / intl phone /
# dotted-quad IP per customer, second email on every third) — the
# testdata corpus itself contains no PII, so both engines derive this
# text identically and the counts are non-trivial
PII_DOCS_SQL = """
SELECT c_custkey AS doc_id,
       'contact user' || CAST(c_custkey AS STRING) || '@example.com or +1415'
       || CAST(1000000 + c_custkey AS STRING) || ' at 10.0.'
       || CAST(c_custkey % 256 AS STRING) || '.1 '
       || CASE WHEN c_custkey % 3 = 0 THEN 'second@mail.example.org ' ELSE '' END
       || c_name AS text
FROM customer
"""

# redirect fixture: descending chains of <= 9 hops (u_c -> u_{c-1},
# broken at c % 10 == 1 so u_{10k+1} are the terminals) plus one
# 3-cycle r1 -> r2 -> r3 -> r1 — both engines derive it from this text
REDIRECTS_SQL = """
SELECT 'u' || CAST(c_custkey AS STRING) AS src,
       'u' || CAST(c_custkey - 1 AS STRING) AS dst
FROM customer WHERE c_custkey % 10 <> 1
UNION ALL
SELECT 'r' || CAST(c_custkey AS STRING) AS src,
       'r' || CAST(c_custkey % 3 + 1 AS STRING) AS dst
FROM customer WHERE c_custkey <= 3
"""

# circulant chain with the c%3==0 links reciprocated — the dyad
# fixture for reciprocity (both engines build it from this same text)
RECIP_EDGES_SQL = """
SELECT 'c' || CAST(c_custkey AS STRING) AS src,
       'c' || CAST(c_custkey + 1 AS STRING) AS dst,
       CAST(1.0 AS DOUBLE) AS weight
FROM customer
WHERE c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)
UNION ALL
SELECT 'c' || CAST(c_custkey + 1 AS STRING) AS src,
       'c' || CAST(c_custkey AS STRING) AS dst,
       CAST(1.0 AS DOUBLE) AS weight
FROM customer
WHERE c_custkey % 3 = 0
  AND c_custkey + 1 <= (SELECT max(c_custkey) FROM customer)
"""

# host-level rollup of the part-supplier link graph: page->host analog
# ('p123' -> 'hp3'); shared text so both engines build identical groups
HOST_EDGES_SQL = f"""
SELECT 'h' || substring(src, 1, 1)
           || CAST(CAST(substring(src, 2) AS BIGINT) % 20 AS STRING) AS src,
       'h' || substring(dst, 1, 1)
           || CAST(CAST(substring(dst, 2) AS BIGINT) % 20 AS STRING) AS dst,
       CAST(sum(weight) AS DOUBLE) AS weight,
       count(*) AS n_edges
FROM ({EDGES_SQL}) be
GROUP BY 1, 2
"""

# two synchronous LPA rounds over ue -> lbl(id, label); shared by the
# modularity_lpa and refine_modularity oracles (must mirror
# label_propagation(max_iter=2) exactly: count ties break min label)
_LPA2_LBL_CTE = """
v AS (SELECT src AS id FROM ue UNION SELECT dst FROM ue),
l0 AS (SELECT id, id AS label FROM v),
c1 AS (SELECT ue.dst AS id, l.label AS cand, count(*) AS n
       FROM ue JOIN l0 l ON l.id = ue.src GROUP BY ue.dst, l.label),
p1 AS (SELECT id, cand AS label FROM (
         SELECT id, cand, ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, cand ASC) AS rn
         FROM c1) t WHERE rn = 1),
l1 AS (SELECT v.id, COALESCE(p1.label, v.id) AS label FROM v LEFT JOIN p1 ON p1.id = v.id),
c2 AS (SELECT ue.dst AS id, l.label AS cand, count(*) AS n
       FROM ue JOIN l1 l ON l.id = ue.src GROUP BY ue.dst, l.label),
p2 AS (SELECT id, cand AS label FROM (
         SELECT id, cand, ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, cand ASC) AS rn
         FROM c2) t WHERE rn = 1),
lbl AS (SELECT v.id, COALESCE(p2.label, v.id) AS label FROM v LEFT JOIN p2 ON p2.id = v.id)"""

_UE_CTE = """
ue AS (
    SELECT src, dst FROM e0 WHERE src <> dst
    UNION
    SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst
)
"""

# min-label propagation to its fixpoint: round ``it`` holds every
# vertex's label (the min over itself and its neighbors' labels of round
# it-1; ``nb`` adds the self pairs), ``go`` whether any label fell. The
# recursion stops one round after nothing changed; memory is V rows per
# round (a diameter's worth of rounds), not the (vertex, reachable
# vertex) pairs a reachability closure enumerates.
_CC_CTE = """
nb(src, dst) AS (
    SELECT src, dst FROM ue
    UNION ALL
    SELECT DISTINCT src, src FROM ue
),
lp(it, id, lbl, go) AS (
    SELECT 0, src, src, true FROM (SELECT DISTINCT src FROM ue)
    UNION ALL
    SELECT it + 1, id, lbl, bool_or(lbl < own) OVER () FROM (
        SELECT max(lp.it) AS it, nb.dst AS id, min(lp.lbl) AS lbl,
               min(lp.lbl) FILTER (WHERE nb.src = nb.dst) AS own
        FROM lp JOIN nb ON nb.src = lp.id
        WHERE lp.go
        GROUP BY nb.dst
    )
),
comp AS (SELECT id, lbl AS component FROM lp WHERE it = (SELECT max(it) FROM lp))
"""


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).createOrReplaceTempView(t)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(EDGES_SQL)


def _tri_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(TRI_EDGES_SQL)


def _w_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    return spark.sql(W_EDGES_SQL)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


# --------------------------- flagship ---------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank to 1e-6 over the sf0.001-derived edge table;
    top-100 ranks with degrees."""
    from pregel_spark.graph import degrees, pagerank

    sf_dir = "/root/testdata/sf0.001"
    edges = _edges(spark, sf_dir)
    res = pagerank(spark, edges, tol=1e-6, max_iter=100, pre_deduped=True)
    deg = degrees(edges)
    return (
        res.vertices.join(deg, "id")
        .select("id", F.round("rank", 6).alias("rank"), "out_deg", "in_deg")
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(100)
    )


# --------------------------- graph queries ----------------------------

def q_edges_build(spark, sf_dir):
    return _edges(spark, sf_dir)


def q_degrees(spark, sf_dir):
    from pregel_spark.graph import degrees

    return degrees(_edges(spark, sf_dir))


def q_pagerank_k3(spark, sf_dir):
    from pregel_spark.graph import pagerank

    res = pagerank(spark, _edges(spark, sf_dir), tol=0.0, max_iter=3, pre_deduped=True)
    return res.vertices.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_k8(spark, sf_dir):
    from pregel_spark.graph import pagerank

    res = pagerank(spark, _edges(spark, sf_dir), tol=0.0, max_iter=8, pre_deduped=True)
    return res.vertices.select("id", F.round("rank", 6).alias("rank"))


def q_ppr_k4(spark, sf_dir):
    """Personalized PageRank (TrustRank-style): restart + dangling mass
    return to a seed set instead of all vertices. Seeds = the two
    lexicographically-smallest link sources — the same pick the oracle
    makes, so both engines personalize on identical vertices."""
    from pregel_spark.graph import pagerank

    edges = _edges(spark, sf_dir)
    seeds = [
        r["src"]
        for r in edges.select("src").distinct().orderBy("src").limit(2).collect()
    ]
    res = pagerank(
        spark, edges, tol=0.0, max_iter=4, pre_deduped=True, sources=seeds
    )
    return res.vertices.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_weighted_k3(spark, sf_dir):
    """Weighted PageRank (reference integer edge values,
    pregel/loader.lua:105): rank flows proportionally to edge weight."""
    from pregel_spark.graph import pagerank

    res = pagerank(
        spark, _w_edges(spark, sf_dir), tol=0.0, max_iter=3, weighted=True
    )
    return res.vertices.select("id", F.round("rank", 6).alias("rank"))


def q_pagerank_full(spark, sf_dir):
    from pregel_spark.graph import pagerank

    res = pagerank(spark, _edges(spark, sf_dir), tol=1e-6, max_iter=100, pre_deduped=True)
    return res.vertices.select("id", F.round("rank", 6).alias("rank"))


def q_connected_components(spark, sf_dir):
    from pregel_spark.graph import connected_components

    res = connected_components(spark, _edges(spark, sf_dir))
    return res.vertices.select("id", "component")


def q_connected_components_star(spark, sf_dir):
    from pregel_spark.graph import connected_components_star

    res = connected_components_star(spark, _edges(spark, sf_dir))
    return res.vertices.select("id", "component")


def q_cc_incremental(spark, sf_dir):
    """Recrawl-incremental CC: the edge table splits 19:1 into an 'old
    snapshot' and a 'delta' by a portable hash of the arc; prior
    labels come from CC on the old part, the delta folds in through
    prior-label star edges (graph.crawl.incremental_components). The
    oracle is a FULL CC over the union — byte-equality proves
    incremental == full recompute (min-id labels are canonical)."""
    from pregel_spark.graph import connected_components, incremental_components
    from pregel_spark.pipeline.hashing import hash60

    edges = _edges(spark, sf_dir)
    h = hash60(F.concat_ws(">", "src", "dst")) % 20
    prior = connected_components(spark, edges.filter(h != 0)).vertices
    res = incremental_components(spark, prior, edges.filter(h == 0))
    return res.vertices.select("id", "component")


def q_modularity(spark, sf_dir):
    """Newman modularity of the 2-round LPA partition on the circulant
    fixture; per-community sufficient statistics and the integer
    numerator of the contribution,
    ``q_num = 4*m*intra_edges - deg_sum*deg_sum`` (``contrib = q_num /
    (4*m*m)``): every hashed value is an exact integer, so no float
    rendering reaches the contract surface."""
    from pregel_spark.graph import label_propagation, modularity

    edges = _tri_edges(spark, sf_dir)
    labels = label_propagation(spark, edges, max_iter=2).vertices
    return modularity(edges, labels).select(
        "label",
        "intra_edges",
        "deg_sum",
        "m",
        (
            F.lit(4) * F.col("m") * F.col("intra_edges")
            - F.col("deg_sum") * F.col("deg_sum")
        ).cast("bigint").alias("q_num"),
    )


def q_refine_modularity(spark, sf_dir):
    """One integer-exact local-move round over the 2-round LPA
    partition: each vertex moves to the neighbor community maximizing
    the modularity gain (argmax over the INTEGER score 2m*k - d*sig',
    so no float ordering crosses the engine boundary)."""
    from pregel_spark.graph import label_propagation, refine_modularity

    edges = _tri_edges(spark, sf_dir)
    labels = label_propagation(spark, edges, max_iter=2).vertices
    return refine_modularity(edges, labels).select("id", "label")


def q_comp_sizes_topk(spark, sf_dir):
    from pregel_spark.graph import connected_components

    res = connected_components(spark, _edges(spark, sf_dir))
    return (
        res.vertices.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"), F.asc("component"))
        .limit(5)
    )


def q_triangle_count(spark, sf_dir):
    from pregel_spark.graph import triangle_count

    return triangle_count(_tri_edges(spark, sf_dir))


def q_triangle_per_vertex(spark, sf_dir):
    from pregel_spark.graph import triangle_count_per_vertex

    return triangle_count_per_vertex(_tri_edges(spark, sf_dir))


def q_lpa_k2(spark, sf_dir):
    from pregel_spark.graph import label_propagation

    res = label_propagation(spark, _tri_edges(spark, sf_dir), max_iter=2)
    return res.vertices.select("id", "label")


def q_maxprop(spark, sf_dir):
    from pregel_spark.graph import max_propagation

    edges = _edges(spark, sf_dir)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.expr("CAST(substring(id, 2) AS BIGINT)").alias("value"))
    )
    res = max_propagation(spark, verts, edges)
    return res.vertices.select("id", "value")


def q_salsa_k4(spark, sf_dir):
    """SALSA on the bipartite part->supplier link graph (its native
    habitat: parts are hubs, suppliers authorities)."""
    from pregel_spark.graph import salsa

    res = salsa(spark, _edges(spark, sf_dir), max_iter=4)
    return res.vertices.select(
        "id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def q_hits_k5(spark, sf_dir):
    from pregel_spark.graph import hits

    res = hits(spark, _edges(spark, sf_dir), max_iter=5, pre_deduped=True)
    return res.vertices.select(
        "id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


def q_anchor_terms_k3(spark, sf_dir):
    """Inverted anchor-text index: top-3 anchor terms per target."""
    from pregel_spark.graph import anchor_index

    _register_views(spark, sf_dir)
    return anchor_index(spark.sql(ANCHOR_SQL), top_k=3)


def q_sssp_k8_indexed(spark, sf_dir):
    """The same 8 Bellman-Ford rounds through the bucket-partitioned
    on-disk index (graph/sssp.write_edge_buckets) — proves the
    edges-bigger-than-memory path against the identical oracle."""
    import tempfile

    from pregel_spark.graph.sssp import shortest_paths_indexed, write_edge_buckets

    path = tempfile.mkdtemp(prefix="sssp_idx_contract_")
    write_edge_buckets(_w_edges(spark, sf_dir), path, buckets=32)
    res = shortest_paths_indexed(spark, path, sources=["c0"], max_iter=8)
    return res.vertices.filter(F.col("dist").isNotNull()).select(
        "id", F.round("dist", 6).alias("dist")
    )


def q_neigh_k3(spark, sf_dir):
    """Neighborhood function at radius 3 (exact-set mode; the HLL
    sketch mode is the scale path, pytest-bounded against this one)."""
    from pregel_spark.graph import neighborhood_function

    res = neighborhood_function(
        spark, _tri_edges(spark, sf_dir), max_radius=3, mode="exact"
    )
    return res.vertices.select("id", "reach")


def q_harmonic_k3(spark, sf_dir):
    """Harmonic centrality truncated at radius 3 (exact mode; oracle =
    min-distance bounded closure summing 1/d per target)."""
    from pregel_spark.graph import harmonic_centrality

    res = harmonic_centrality(
        spark, _tri_edges(spark, sf_dir), max_radius=3, mode="exact"
    )
    return res.vertices.select("id", F.round("harmonic", 6).alias("harmonic"))


def q_scc_fixture(spark, sf_dir):
    """SCC over the cyclic bowtie fixture (labels = lexicographic-min
    member; the oracle is a recursive-CTE transitive closure filtered
    to mutual pairs)."""
    from pregel_spark.graph import strongly_connected_components

    _register_views(spark, sf_dir)
    res = strongly_connected_components(spark, spark.sql(BOWTIE_EDGES_SQL))
    return res.vertices.select("id", "scc")


def q_bowtie_fixture(spark, sf_dir):
    """Broder bowtie regions over the same fixture."""
    from pregel_spark.graph import bowtie

    _register_views(spark, sf_dir)
    res = bowtie(spark, spark.sql(BOWTIE_EDGES_SQL))
    return res.vertices.select("id", "region")


def q_scc_condense(spark, sf_dir):
    """Condensation DAG of the bowtie fixture: SCCs contracted to
    min-member supervertices, distinct cross-component edges kept."""
    from pregel_spark.graph import condense

    _register_views(spark, sf_dir)
    return condense(spark, spark.sql(BOWTIE_EDGES_SQL))


def q_topo_levels(spark, sf_dir):
    """Kahn layering of the bowtie condensation (level = longest path
    from a source = the round Kahn's peeling removes the vertex)."""
    from pregel_spark.graph import condense, topo_levels

    _register_views(spark, sf_dir)
    dag = condense(spark, spark.sql(BOWTIE_EDGES_SQL))
    res = topo_levels(spark, dag, pre_deduped=True)
    assert res.converged
    return res.vertices


def q_sssp_k8(spark, sf_dir):
    from pregel_spark.graph import shortest_paths

    # frontier Bellman-Ford == plain Bellman-Ford per round, so 8
    # supersteps match the 8-round unrolled oracle exactly
    res = shortest_paths(spark, _w_edges(spark, sf_dir), sources=["c0"], max_iter=8)
    return res.vertices.filter(F.col("dist").isNotNull()).select(
        "id", F.round("dist", 6).alias("dist")
    )


def _host_group(c):
    return F.concat(
        F.lit("h"),
        F.substring(c, 1, 1),
        (F.substring(c, 2, 30).cast("long") % 20).cast("string"),
    )


def q_host_graph(spark, sf_dir):
    from pregel_spark.graph import contract_graph

    return contract_graph(_edges(spark, sf_dir), group_fn=_host_group)


def q_host_pagerank_k3(spark, sf_dir):
    from pregel_spark.graph import contract_graph, pagerank

    host = contract_graph(_edges(spark, sf_dir), group_fn=_host_group)
    res = pagerank(spark, host, tol=0.0, max_iter=3, pre_deduped=True)
    return res.vertices.select("id", F.round("rank", 6).alias("rank"))


def q_kcore3_r4(spark, sf_dir):
    from pregel_spark.graph import k_core

    res = k_core(spark, _tri_edges(spark, sf_dir), k=3, max_rounds=4)
    return res.vertices.select("id")


def q_coreness_r3(spark, sf_dir):
    """First 3 H-index rounds of the core-number fixpoint (fixed-round
    contract like kcore3_r4): each round is pure integer window+agg
    arithmetic, so DuckDB unrolls it exactly (graph/kcore.py)."""
    from pregel_spark.graph import coreness

    res = coreness(spark, _tri_edges(spark, sf_dir), max_rounds=3)
    return res.vertices.select("id", "coreness")


def q_butterflies(spark, sf_dir):
    """Bipartite 2x2-biclique census over the cocitation view —
    integer-exact composition on top of the co-link pair table."""
    from pregel_spark.graph import butterflies

    return butterflies(_edges(spark, sf_dir), "cocitation", max_pivot_degree=100)


def q_edge_embed(spark, sf_dir):
    """Per-edge common-neighbor count + local-bridge flag on the
    undirected simple graph (graph/structure.py edge_embeddedness)."""
    from pregel_spark.graph import edge_embeddedness

    return edge_embeddedness(_tri_edges(spark, sf_dir))


def q_temporal_reach_k6(spark, sf_dir):
    """Time-respecting earliest arrival (graph/temporal.py) from every
    source whose id ends in '0', start time 0, capped at 6 supersteps —
    monotone relaxation makes the k-capped run equal the 6-round
    unrolled DuckDB oracle exactly (same argument as sssp_k8)."""
    from pregel_spark.graph import earliest_arrival

    _register_views(spark, sf_dir)
    tedges = spark.sql(TEMPORAL_EDGES_SQL)
    sources = tedges.filter("src LIKE '%0'").select(F.col("src").alias("id"))
    res = earliest_arrival(spark, tedges, sources, t0=0.0, max_iter=6)
    return res.vertices.filter(F.col("arrival").isNotNull()).select(
        "id", F.round("arrival", 6).alias("arrival")
    )


def q_four_cliques(spark, sf_dir):
    """K4 census on the quad circulant (graph/triangles.four_cliques);
    the oracle is the naive 6-way canonical-pair join, the engine the
    orientation-anchored triangle extension -- same single number."""
    from pregel_spark.graph import four_cliques

    _register_views(spark, sf_dir)
    return four_cliques(spark.sql(QUAD_EDGES_SQL))


def q_louvain_l2(spark, sf_dir):
    """Two-level integer-exact Louvain on the circulant fixture
    (graph/louvain.py): fixed 2-rounds-per-level schedule with the
    portable hash60 move-parity gate, so the 2-level unrolled DuckDB
    oracle replicates every move bit-exactly."""
    from pregel_spark.graph import louvain

    res = louvain(spark, _tri_edges(spark, sf_dir), levels=2, rounds=2)
    return res.select("id", "label")


def q_clustering(spark, sf_dir):
    from pregel_spark.graph import clustering_coefficient

    return clustering_coefficient(_tri_edges(spark, sf_dir)).select(
        "id", "deg", "triangles", F.round("lcc", 6).alias("lcc")
    )


def q_reciprocity(spark, sf_dir):
    from pregel_spark.graph import reciprocity

    _register_views(spark, sf_dir)
    return reciprocity(spark.sql(RECIP_EDGES_SQL)).select(
        "n_edges", "n_reciprocal", F.round("reciprocity", 6).alias("reciprocity")
    )


def q_assortativity(spark, sf_dir):
    from pregel_spark.graph import degree_assortativity

    return degree_assortativity(_edges(spark, sf_dir)).select(
        "n_pairs", F.round("assortativity", 6).alias("assortativity")
    )


def _mirror_edges(spark, sf_dir):
    _register_views(spark, sf_dir)
    return spark.sql(_MIRROR_EDGES_SQL)


def q_mirror_exact(spark, sf_dir):
    from pregel_spark.graph import exact_mirror_groups

    return exact_mirror_groups(_mirror_edges(spark, sf_dir), min_out=2)


def q_mirror_pairs(spark, sf_dir):
    from pregel_spark.graph import mirror_pairs

    return mirror_pairs(_mirror_edges(spark, sf_dir), threshold=0.4, min_out=2)


def q_adamic_adar(spark, sf_dir):
    from pregel_spark.graph import adamic_adar

    # p-s bipartite graph: supplier hubs (deg ~600) are over the
    # center cutoff at every sf, so pairs come from part centers only
    return adamic_adar(
        _edges(spark, sf_dir), min_common=2, max_center_degree=100
    ).select("u", "w", "n_common", F.round("aa_score", 6).alias("aa_score"))


def q_jaccard(spark, sf_dir):
    from pregel_spark.graph import jaccard_pairs

    # same p-s bipartite graph and center cutoff as adamic_adar;
    # denominators are the full uncut degrees
    return jaccard_pairs(
        _edges(spark, sf_dir), min_common=2, max_center_degree=100
    ).select("u", "w", "n_common", F.round("jaccard", 6).alias("jaccard"))


def q_katz_k4(spark, sf_dir):
    """Truncated Katz over the cyclic bowtie page graph: BIGINT-exact
    per-level walk counts, fixed-order attenuation polynomial."""
    from pregel_spark.graph import katz_centrality

    _register_views(spark, sf_dir)
    return katz_centrality(
        spark, spark.sql(BOWTIE_EDGES_SQL), alpha=0.05, k=4
    ).select("id", F.round("katz", 6).alias("katz"))


def q_eigenvector_k4(spark, sf_dir):
    """Truncated eigenvector centrality (4-step power iteration from
    all-ones) over the cyclic bowtie graph: the un-normalized iterate
    is the BIGINT-exact length-4 walk census; the only float op is the
    final cnt/total division (graph/katz.py eigenvector_centrality)."""
    from pregel_spark.graph import eigenvector_centrality

    _register_views(spark, sf_dir)
    return eigenvector_centrality(
        spark, spark.sql(BOWTIE_EDGES_SQL), k=4
    ).select("id", F.round("score", 6).alias("score"))


def q_pseudo_diameter(spark, sf_dir):
    """Double-sweep BFS diameter lower bound on the undirected bowtie
    fixture (graph/sssp.py pseudo_diameter): exact integer hop counts;
    max_iter=20 > the fixture's eccentricity 19, so both waves run to
    frontier exhaustion and the oracle's fixed 20-round unroll is the
    converged fixpoint."""
    from pregel_spark.graph import pseudo_diameter

    _register_views(spark, sf_dir)
    return pseudo_diameter(spark, spark.sql(BOWTIE_EDGES_SQL), max_iter=20)


def q_rich_club(spark, sf_dir):
    """Rich-club coefficient spectrum of the undirected link graph:
    exact (n_k, e_k) suffix censuses per degree threshold, one IEEE
    division per row (graph/structure.py rich_club)."""
    from pregel_spark.graph import rich_club

    return rich_club(_edges(spark, sf_dir)).select(
        "k", "n_k", "e_k", F.round("phi", 6).alias("phi")
    )


def q_anf_r3(spark, sf_dir):
    """ANF neighborhood function (3 rounds, k=4 FM sketches) over the
    symmetrized link graph: exact BIGINT sketch statistic per round,
    one IEEE division for the reach estimate. The oracle replays the
    identical bit algebra (md5-derived rho, bit_or recurrence,
    lowest-zero-bit) unrolled in DuckDB."""
    from pregel_spark.graph import anf

    e = _edges(spark, sf_dir).select("src", "dst")
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return anf(spark, sym, rounds=3, k=4, cap=24, seed=0).select(
        "round", "sum_pow2b", F.round("reach_est", 4).alias("reach_est")
    )


def q_mst(spark, sf_dir):
    """Multi-round Boruvka over the re-weighted customer circulant;
    the oracle derives the same forest from the fixture's structure."""
    from pregel_spark.graph import minimum_spanning_forest

    _register_views(spark, sf_dir)
    res = minimum_spanning_forest(spark, spark.sql(MST_EDGES_SQL))
    assert res.converged
    return res.vertices.select("u", "w", "weight")


def q_crawl_delta(spark, sf_dir):
    from pregel_spark.graph import crawl_delta

    _register_views(spark, sf_dir)
    return crawl_delta(spark.sql(EDGES_SQL), spark.sql(NEW_EDGES_SQL))


def q_crawl_frontier(spark, sf_dir):
    """Next fetch batch: uncrawled link targets (here: suppliers,
    which never appear as src) scored by distinct citing pages, capped
    at 5 per politeness host group."""
    from pregel_spark.graph import crawl_frontier

    edges = _edges(spark, sf_dir)
    crawled = edges.select("src").distinct()
    return crawl_frontier(
        edges, crawled, host_fn=_host_group, per_host_cap=5
    )


def q_rank_shift_k3(spark, sf_dir):
    from pregel_spark.graph import rank_shift

    _register_views(spark, sf_dir)
    r = rank_shift(
        spark, spark.sql(EDGES_SQL), spark.sql(NEW_EDGES_SQL),
        max_iter=3, pre_deduped=True,
    )
    return r.select(
        "id",
        F.round("rank_old", 6).alias("rank_old"),
        F.round("rank_new", 6).alias("rank_new"),
        F.round("shift", 6).alias("shift"),
    )


def q_mis(spark, sf_dir):
    """Deterministic Luby MIS on the circulant customer graph —
    portable-hash priorities make the selected set engine-exact."""
    from pregel_spark.graph import maximal_independent_set

    return maximal_independent_set(spark, _tri_edges(spark, sf_dir), seed=0)


def q_coloring_r4(spark, sf_dir):
    """Deterministic Jones-Plassmann greedy coloring, first 4 rounds
    on the circulant customer graph (fixed portable-hash priorities,
    strict local-max winners, mex colors) — the conflict-free
    scheduling primitive; partial fixed-round mode is exactly
    unrollable (graph/coloring.py)."""
    from pregel_spark.graph.coloring import greedy_coloring

    return greedy_coloring(spark, _tri_edges(spark, sf_dir), seed=0, rounds=4)


def q_betweenness_l4(spark, sf_dir):
    """Bounded-distance (<=4 hop) Brandes betweenness from the three
    lexicographically-smallest sources on the circulant customer graph
    (offset-3 targets have two equal-length paths, so sigma splitting
    is exercised); the same pick/truncation the oracle makes."""
    from pregel_spark.graph import betweenness

    edges = _tri_edges(spark, sf_dir)
    sources = [
        r["src"]
        for r in edges.select("src").distinct().orderBy("src").limit(3).collect()
    ]
    return betweenness(spark, edges, sources, max_depth=4).select(
        "id", F.round("betweenness", 6).alias("betweenness")
    )


def q_truss5_r2(spark, sf_dir):
    """Two 5-truss peel rounds (fixed-round contract, like kcore3_r4):
    the chain cascades away, the K6 core survives with its round-2
    supports."""
    from pregel_spark.graph import k_truss

    _register_views(spark, sf_dir)
    return k_truss(spark, spark.sql(TRUSS_EDGES_SQL), k=5, max_rounds=2)


def q_redirects(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling: terminal URL +
    exact hop count per source, cycles flagged."""
    from pregel_spark.graph import resolve_redirects

    _register_views(spark, sf_dir)
    return resolve_redirects(spark, spark.sql(REDIRECTS_SQL))


def q_spam_mass_k4(spark, sf_dir):
    """TrustRank spam mass (Gyongyi et al.): uniform PageRank vs
    seed-personalized PageRank over the SAME graph, spam_mass =
    (pr - tr) / pr. Seeds = the two lexicographically-smallest link
    sources — the identical pick the oracle makes."""
    from pregel_spark.graph import spam_mass

    edges = _edges(spark, sf_dir)
    seeds = [
        r["src"]
        for r in edges.select("src").distinct().orderBy("src").limit(2).collect()
    ]
    return spam_mass(spark, edges, seeds, max_iter=4, pre_deduped=True).select(
        "id",
        F.round("pr", 6).alias("pr"),
        F.round("tr", 6).alias("tr"),
        F.round("spam_mass", 6).alias("spam_mass"),
    )


def q_cocitation(spark, sf_dir):
    from pregel_spark.graph import co_link_pairs

    # pivots = citing part pages (out-deg well under the cutoff at
    # every sf); supplier hubs only ever appear as pair members, so
    # the n_common counts vary with co-citing part overlap
    return co_link_pairs(
        _edges(spark, sf_dir), "cocitation", min_common=2, max_pivot_degree=100
    )


def q_random_walks_l3(spark, sf_dir):
    from pregel_spark.graph import random_walks

    # deterministic md5-picked walks: bit-identical on any engine
    return random_walks(
        spark, _tri_edges(spark, sf_dir), walk_length=3, walks_per_vertex=1, seed=42
    )


# --------------------------- pipeline queries -------------------------

def q_dedup_exact(spark, sf_dir):
    from pregel_spark.pipeline import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    from pregel_spark.pipeline import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.1, k=3)


def q_dedup_containment(spark, sf_dir):
    """Directional shingle containment (quote-inclusion near-dups that
    Jaccard misses); same inverted index + df cutoff as the Jaccard
    query."""
    from pregel_spark.pipeline import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), threshold=0.5, k=3)


def q_dedup_minhash(spark, sf_dir):
    from pregel_spark.pipeline import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.1)


def q_dedup_clusters(spark, sf_dir):
    from pregel_spark.pipeline import near_dup_clusters

    # pipeline x graph composition: inverted-index near-dup pairs ->
    # alternating-star connected components -> keep-min-per-cluster
    return near_dup_clusters(spark, _docs(spark, sf_dir), threshold=0.1)


def q_dedup_simhash(spark, sf_dir):
    from pregel_spark.pipeline import simhash_pairs

    # max_hamming=7 -> 8 bands of 8 bits: the classic 64-bit SimHash
    # near-dup operating point (wider radii admit ~1/3 of ALL pairs on
    # this corpus — not dedup). Banding recall is 1 for ANY max_hamming
    # (simhash_bands pigeonhole; property-tested at 3/10/16).
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=7)


def q_dedup_embedding(spark, sf_dir):
    from pregel_spark.pipeline import embedding_near_dup_pairs

    # testdata embeddings are random-ish (max pairwise cosine ~0.51);
    # 0.4 keeps a meaningful tail for the oracle comparison
    return embedding_near_dup_pairs(_embs(spark, sf_dir), threshold=0.4)


def q_winnow_fingerprints(spark, sf_dir):
    from pregel_spark.pipeline import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=8, window=4)


def q_winnow_near_dup(spark, sf_dir):
    from pregel_spark.pipeline import winnow_near_dup_pairs

    return winnow_near_dup_pairs(_docs(spark, sf_dir), threshold=0.3)


def q_fingerprint(spark, sf_dir):
    from pregel_spark.pipeline import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_curate(spark, sf_dir):
    """End-to-end curation verdicts: exact/near dedup + language +
    length + quality + repetition chained with pinned reason priority
    — the composition row for the whole LLM-pipeline surface."""
    from pregel_spark.pipeline import curate_corpus

    return curate_corpus(
        spark, _docs(spark, sf_dir),
        allowed_langs=("en", "de"),
        min_tokens=20,
        min_quality=0.6,
        max_top2_frac=0.1,
        near_dup_threshold=0.1,
    )


def q_unigram_lm(spark, sf_dir):
    from pregel_spark.pipeline import unigram_logprob

    r = unigram_logprob(_docs(spark, sf_dir))
    return r.select(
        "doc_id", "n_tokens", F.round("mean_logprob", 6).alias("mean_logprob")
    )


def q_pii_scan(spark, sf_dir):
    from pregel_spark.pipeline import pii_counts

    _register_views(spark, sf_dir)
    return pii_counts(spark.sql(PII_DOCS_SQL))


def q_sessions(spark, sf_dir):
    """Gap-based sessionization rollup over the events table (30-min
    cut, integer-microsecond time arithmetic)."""
    from pregel_spark.pipeline import session_stats

    _register_views(spark, sf_dir)
    ev = spark.table("events")
    return session_stats(ev).select(
        "user_id", "session_idx", "n_events", "start_us", "end_us",
        F.round("duration_sec", 6).alias("duration_sec"),
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic training-mix sampling: per-language rates via the
    portable seeded hash — identical member sets in any engine."""
    from pregel_spark.pipeline import stratified_sample

    rates = {"en": 0.8, "de": 0.2, "fr": 0.5}
    return stratified_sample(
        _docs(spark, sf_dir), rates, default_rate=0.1, seed=7
    ).select("doc_id", "lang")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights: raw = all documents, target = the
    deterministic 10% hash sample (seed 1) — the 'curated slice' a
    real pipeline would tilt toward; hashed 1+2-gram features into
    1024 buckets. Round-6 absorbs the documented 1-ulp ln gap."""
    from pregel_spark.pipeline import (
        importance_weights,
        stratified_sample,
    )

    docs = _docs(spark, sf_dir)
    target = stratified_sample(docs, {}, default_rate=0.1, seed=1)
    r = importance_weights(docs, target, buckets=1024, ns=(1, 2), seed=0)
    return r.select(
        "doc_id", "n_feats", F.round("logratio", 6).alias("logratio")
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup: k-means topic clusters (k=4, 2 Lloyd rounds, same
    deterministic recipe as kmeans_k4), then drop every vector with a
    smaller-id same-cluster neighbor at cosine >= 0.4 (testdata
    embeddings peak near 0.51, so 0.4 exercises real drops)."""
    from pregel_spark.pipeline import semantic_dedup

    return semantic_dedup(
        spark, _embs(spark, sf_dir), k=4, iters=2, threshold=0.4
    )


def q_repetition(spark, sf_dir):
    from pregel_spark.pipeline import repetition_stats

    r = repetition_stats(_docs(spark, sf_dir), ns=(2, 3))
    return r.select(
        "doc_id", "n_tokens", "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top2_frac", 6).alias("top2_frac"),
        F.round("dup2_frac", 6).alias("dup2_frac"),
        F.round("top3_frac", 6).alias("top3_frac"),
        F.round("dup3_frac", 6).alias("dup3_frac"),
    )


def q_decontam(spark, sf_dir):
    """Benchmark decontamination: eval set = every 25th document,
    train = the rest; 4-gram overlap (n=13 finds nothing on a 31-word
    synthetic vocabulary — the n=13 default is for real text)."""
    from pregel_spark.pipeline import contamination_overlap

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 25 == 0)
    tr = docs.filter(F.col("doc_id") % 25 != 0)
    return contamination_overlap(tr, ev, n=4).select(
        "train_id", "eval_id", "n_overlap", "eval_ngrams",
        F.round("frac", 6).alias("frac"),
    )


def q_bm25(spark, sf_dir):
    from pregel_spark.pipeline import bm25_scores

    # the synthetic corpus has a 31-term vocabulary with median
    # df ~ 0.78N — any stopword cutoff would empty the table, so the
    # contract row keeps all terms; the cutoff path is pytest-covered
    return bm25_scores(_docs(spark, sf_dir), max_df_ratio=None).select(
        "term", "doc_id", "tf", "df", "dl", F.round("score", 6).alias("score")
    )


def q_tfidf(spark, sf_dir):
    from pregel_spark.pipeline import tfidf_scores

    return tfidf_scores(_docs(spark, sf_dir), max_df_ratio=None).select(
        "term", "doc_id", "tf", "df", F.round("score", 6).alias("score")
    )


def q_token_stats(spark, sf_dir):
    from pregel_spark.pipeline import token_stats

    return token_stats(_docs(spark, sf_dir))


def q_line_dedup(spark, sf_dir):
    """C4-style line dedup over 10-token pseudo-lines (the synthetic
    corpus has no newlines, so both engines chunk the whitespace token
    stream into identical spans first)."""
    from pregel_spark.pipeline import chunk_lines, line_dedup

    docs = _docs(spark, sf_dir)
    return line_dedup(chunk_lines(docs, n_tokens=10), docs, sep=" ")


def q_dup_spans(spark, sf_dir):
    """Lee et al. ExactSubstr duplicate spans: maximal merged covers of
    8-token gram runs occurring >= 2 times corpus-wide (same-doc
    repeats count), gram keys from the portable md5-60 family so the
    oracle replays the census bit-exactly (pipeline/spans.py)."""
    from pregel_spark.pipeline.spans import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), k=8)


def q_dup_span_strip(spark, sf_dir):
    """ExactSubstr strip: every duplicated 8-gram span removed from
    every document (all copies — survivor choice would be
    partition-order-dependent); rebuilt text + kept/dropped counts."""
    from pregel_spark.pipeline.spans import strip_duplicate_spans

    return strip_duplicate_spans(_docs(spark, sf_dir), k=8)


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich): 8 merge rounds
    over the corpus word census — pair censuses on the vocabulary-sized
    table only, greedy merges as native array folds, deterministic
    max-count / lexicographic tie-break (pipeline/bpe.py). The oracle
    replays all 8 rounds as materialized CTEs."""
    from pregel_spark.pipeline.bpe import bpe_learn, merges_df

    res = bpe_learn(_docs(spark, sf_dir), n_merges=8)
    res.vocab.unpersist()
    return merges_df(spark, res.merges)


def q_bpe_encode(spark, sf_dir):
    """Per-document word/subword counts under the 8 learned merges:
    the merge replay touches only the distinct-word table; documents
    join the encoded vocabulary once."""
    from pregel_spark.pipeline.bpe import bpe_encode_stats, bpe_learn

    docs = _docs(spark, sf_dir)
    res = bpe_learn(docs, n_merges=8)
    out = bpe_encode_stats(docs, res.merges)
    res.vocab.unpersist()
    return out


def q_nb_lang(spark, sf_dir):
    """Distributed multinomial Naive Bayes self-classification on the
    lang labels: training is pure per-class token censuses (the model
    is vocabulary-sized, never corpus-sized), scoring one hash join +
    per-doc agg; scores rounded to 6 BEFORE the argmax with a pinned
    smallest-label tie-break (pipeline/classify.py)."""
    from pregel_spark.pipeline.classify import nb_score, nb_train

    docs = _docs(spark, sf_dir)
    return nb_score(docs, nb_train(docs))


def q_sketch_count_min(spark, sf_dir):
    """Count-Min sketch (4x256) of the corpus token stream: every
    counter an exact BIGINT the oracle rebuilds from the same md5
    bucket hashing."""
    from pregel_spark.pipeline import count_min
    from pregel_spark.pipeline.dedup import tokens_col

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens_col("text")).alias("token")
    )
    return count_min(toks, width=256, depth=4, seed=0)


def q_sketch_hll(spark, sf_dir):
    """HLL register table (b=10) of the distinct corpus tokens —
    integer registers only; the float estimate stays driver-side
    (pipeline.hll_estimate)."""
    from pregel_spark.pipeline import hll_registers
    from pregel_spark.pipeline.dedup import tokens_col

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens_col("text")).alias("token")
    )
    return hll_registers(toks, b=10, seed=0)


def q_boilerplate_strip(spark, sf_dir):
    """Host-level boilerplate removal over the same 10-token
    pseudo-lines: a line repeating in >= max(2, ceil(5% of a source's
    docs)) documents of that source is dropped from EVERY document
    (unlike line_dedup's keep-the-first)."""
    from pregel_spark.pipeline import chunk_lines, strip_boilerplate

    docs = _docs(spark, sf_dir)
    return strip_boilerplate(
        chunk_lines(docs, n_tokens=10), docs,
        frac=0.05, min_docs=2, host_col="source", sep=" ",
    )


def q_pack_sequences(spark, sf_dir):
    from pregel_spark.pipeline import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512)


def q_dedup_incremental(spark, sf_dir):
    """Recrawl-batch dedup: docs with id % 5 == 0 are the 'new crawl',
    the rest the already-ingested base corpus."""
    from pregel_spark.pipeline import incremental_exact

    docs = _docs(spark, sf_dir)
    return incremental_exact(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
    )


def q_top_ngrams(spark, sf_dir):
    from pregel_spark.pipeline import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=20)


def q_quality_score(spark, sf_dir):
    from pregel_spark.pipeline import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    from pregel_spark.pipeline import language_id

    return language_id(_docs(spark, sf_dir))


def q_simsearch_topk(spark, sf_dir):
    from pregel_spark.pipeline import brute_force_topk

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    return brute_force_topk(embs, queries, k=5)


def q_simsearch_ivf(spark, sf_dir):
    from pregel_spark.pipeline import ivf_topk

    embs = _embs(spark, sf_dir)
    queries = embs.filter(F.col("vec_id") < 8)
    return ivf_topk(embs, queries, k=5, n_centroids=16, nprobe=4)


def q_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means (k=4, 2 full-corpus update rounds,
    hash60-ordered deterministic init); the oracle unrolls the same two
    rounds over unnested dims in DuckDB."""
    from pregel_spark.pipeline import kmeans_assign

    return kmeans_assign(spark, _embs(spark, sf_dir), k=4, iters=2).select(
        F.col("id").alias("vec_id"), "cluster"
    )


def q_media_features(spark, sf_dir):
    from pregel_spark.pipeline import media_feature_rows, media_from_documents

    # documents.text bytes play the opaque binary payload: the full
    # mapInPandas decode plumbing runs, and the scalar-per-dim output is
    # sortable + DuckDB-checkable (strided byte means, see multimodal.py)
    return media_feature_rows(media_from_documents(_docs(spark, sf_dir)))


#: Deterministic messy-URL table derived from documents — shared by the
#: Spark query and the DuckDB oracle so only the canonicalizer differs.
#: Covers: mixed-case scheme/host, default + non-default ports, empty
#: paths, utm params (both cases), bare '?', fragments, a non-http
#: scheme, and NULLs.
MESSY_URLS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 11 = 10
                 THEN 'ftp://files.example.org/' || CAST(doc_id AS STRING)
            WHEN doc_id % 17 = 16 THEN NULL
            ELSE (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
                 || '://'
                 || (CASE WHEN doc_id % 3 = 0
                          THEN 'WWW.Example' ELSE 'cdn.example' END)
                 || CAST(doc_id % 13 AS STRING) || '.COM'
                 || (CASE WHEN doc_id % 5 = 0
                          THEN (CASE WHEN doc_id % 2 = 0
                                     THEN ':80' ELSE ':443' END)
                          WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END)
                 || (CASE WHEN doc_id % 4 = 0
                          THEN '' ELSE '/Articles/' || CAST(doc_id AS STRING) END)
                 || (CASE doc_id % 6 WHEN 0 THEN '?utm_source=feed&b=2&a=1'
                                     WHEN 1 THEN '?b=2&a=1&UTM_campaign=x'
                                     WHEN 2 THEN '?z=9'
                                     WHEN 3 THEN '?' ELSE '' END)
                 || (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)
       END AS url
FROM documents
"""


def q_degree_hist(spark, sf_dir):
    """Log2-binned in/out-degree histogram (power-law check); bins are
    exact base-2 string lengths so both engines agree bit-for-bit."""
    from pregel_spark.graph import degree_histogram

    return degree_histogram(_edges(spark, sf_dir))


def q_pmi(spark, sf_dir):
    """Top-20 bigram collocations by PMI (min pair count 5) — pinned
    double op order; ordering on the round-6 value."""
    from pregel_spark.pipeline import pmi_ngrams

    return pmi_ngrams(_docs(spark, sf_dir), min_count=5, k=20)


def q_token_quantiles(spark, sf_dir):
    """Exact corpus token-count quantiles by value-domain bisection —
    constant executor memory, log2(range) conditional-count scans;
    rank spec pinned to ceil(q*n) lower-quantile (no interpolation, so
    the result is always an observed value)."""
    from pregel_spark.pipeline import quantile_table, token_stats

    return quantile_table(
        token_stats(_docs(spark, sf_dir)),
        "n_tokens",
        (0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
    )


def q_powerlaw(spark, sf_dir):
    """Clauset-Shalizi-Newman power-law exponent MLE over the in/out
    degree tails (d >= 2) — the scale-free fit behind degree_hist."""
    from pregel_spark.graph import powerlaw_alpha

    return powerlaw_alpha(_edges(spark, sf_dir), dmin=2).select(
        "kind", "dmin", "n_tail", F.round("alpha", 6).alias("alpha")
    )


def q_sample_subgraph(spark, sf_dir):
    """Deterministic vertex-induced subgraph sample (fraction 0.5,
    seed 7) — membership is a pure function of (id, seed) via the
    portable hash, so DuckDB reproduces the exact surviving edge set."""
    from pregel_spark.graph import sample_subgraph

    return sample_subgraph(_edges(spark, sf_dir), fraction=0.5, seed=7)


def q_canonical_urls(spark, sf_dir):
    """Crawl-dedup URL canonicalization (extraction.canonical_url_col):
    100% native columns, value-exact vs the DuckDB twin expression."""
    from pregel_spark.extraction import canonical_url_col

    _register_views(spark, sf_dir)
    return spark.sql(MESSY_URLS_SQL).select(
        "doc_id", "url", canonical_url_col("url").alias("curl")
    )


# ----------------- programmatic DuckDB oracle builders ----------------


def _dup_span_cte(k: int = 8, min_count: int = 2) -> str:
    """Shared CTE chain replaying pipeline/spans.py: whitespace tokens,
    md5-60 gram keys, corpus-wide census, overlap-or-touch island merge
    (gaps-and-islands over a running-max window). Ends at ``sp`` =
    (doc_id, span_start, span_end)."""
    gk = "(('0x' || substr(md5(array_to_string(w[i:i+{km1}], ' ')), 1, 15))::UBIGINT::BIGINT)".format(
        km1=k - 1
    )
    return f"""
t AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\\s+') END AS w
    FROM documents),
g AS (
    SELECT doc_id,
           CAST(unnest(range(1, len(w) - {k} + 2)) AS INT) AS start,
           unnest([{gk} for i in range(1, len(w) - {k} + 2)]) AS gk
    FROM t WHERE len(w) >= {k}),
c AS (SELECT gk FROM g GROUP BY gk HAVING count(*) >= {min_count}),
h AS (SELECT doc_id, start, start + {k - 1} AS e
      FROM g SEMI JOIN c USING (gk)),
f AS (
    SELECT doc_id, start, e,
           CASE WHEN start > COALESCE(max(e) OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                THEN 1 ELSE 0 END AS nw
    FROM h),
isl AS (
    SELECT doc_id, start, e,
           sum(nw) OVER (PARTITION BY doc_id ORDER BY start
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
    FROM f),
sp AS (
    SELECT doc_id, CAST(min(start) AS INT) AS span_start,
           CAST(max(e) AS INT) AS span_end
    FROM isl GROUP BY doc_id, grp)"""


def _dup_spans_sql(k: int = 8, min_count: int = 2) -> str:
    return f"""
WITH {_dup_span_cte(k, min_count)}
SELECT doc_id, span_start, span_end,
       CAST(span_end - span_start + 1 AS INT) AS n_tokens
FROM sp"""


def _dup_span_strip_sql(k: int = 8, min_count: int = 2) -> str:
    return f"""
WITH {_dup_span_cte(k, min_count)},
tok AS (
    SELECT doc_id, CAST(unnest(range(1, len(w) + 1)) AS INT) AS pos,
           unnest(w) AS tok
    FROM t WHERE len(w) > 0),
kept AS (
    SELECT tok.doc_id, tok.pos, tok.tok
    FROM tok LEFT JOIN sp
      ON tok.doc_id = sp.doc_id AND tok.pos BETWEEN sp.span_start AND sp.span_end
    WHERE sp.doc_id IS NULL),
reb AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
           count(*) AS nk
    FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, len(w) AS n FROM t)
SELECT d.doc_id, COALESCE(reb.text, '') AS text,
       CAST(COALESCE(reb.nk, 0) AS INT) AS n_tokens_kept,
       CAST(tot.n - COALESCE(reb.nk, 0) AS INT) AS n_tokens_dropped
FROM documents d JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)"""


def _bpe_round_sql(r: int) -> str:
    """One BPE merge round as materialized CTEs (inlining would
    re-evaluate the multi-referenced vocab/position subtrees
    exponentially across rounds): best pair -> per-position match
    flags -> greedy odd-rank selection within runs of consecutive
    matches (exactly the Spark fold's semantics) -> rebuilt vocab."""
    p = f"v{r - 1}"
    return f"""
b{r} AS MATERIALIZED (
    SELECT l, rt, sum(n) AS cnt FROM (
        SELECT n, unnest(s[1:len(s)-1]) AS l, unnest(s[2:len(s)]) AS rt
        FROM {p} WHERE len(s) >= 2)
    GROUP BY l, rt ORDER BY cnt DESC, l, rt LIMIT 1),
px{r} AS MATERIALIZED (
    SELECT word, n, bl, br,
           unnest(range(1, len(s)+1)) AS i,
           unnest(s) AS a,
           unnest([CASE WHEN j < len(s) AND s[j] = bl AND s[j+1] = br
                        THEN 1 ELSE 0 END
                   for j in range(1, len(s)+1)]) AS m
    FROM (SELECT v.*, b.l AS bl, b.rt AS br FROM {p} v CROSS JOIN b{r} b)),
sel{r} AS MATERIALIZED (
    SELECT word, i FROM (
        SELECT word, i,
               row_number() OVER (PARTITION BY word, i - rn ORDER BY i) AS k
        FROM (SELECT word, i,
                     row_number() OVER (PARTITION BY word ORDER BY i) AS rn
              FROM px{r} WHERE m = 1))
    WHERE k % 2 = 1),
v{r} AS MATERIALIZED (
    SELECT p.word, any_value(p.n) AS n,
           list(CASE WHEN s1.i IS NOT NULL THEN p.bl || p.br ELSE p.a END
                ORDER BY p.i) AS s
    FROM px{r} p
    LEFT JOIN sel{r} s1 ON s1.word = p.word AND s1.i = p.i
    LEFT JOIN sel{r} s2 ON s2.word = p.word AND s2.i = p.i - 1
    WHERE s2.word IS NULL
    GROUP BY p.word)"""


def _bpe_cte(n_merges: int) -> str:
    head = r"""
v0 AS MATERIALIZED (
    SELECT word, n,
           [substr(word, i, 1) ||
            CASE WHEN i = length(word) THEN '</w>' ELSE '' END
            for i in range(1, length(word)+1)] AS s
    FROM (SELECT word, count(*) AS n FROM (
              SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
              FROM documents WHERE length(trim(text)) > 0)
          GROUP BY word))"""
    return head + "," + ",".join(_bpe_round_sql(r) for r in range(1, n_merges + 1))


def _bpe_merges_sql(n_merges: int) -> str:
    rows = "\nUNION ALL ".join(
        f'SELECT {r} AS rank, l AS "left", rt AS "right", '
        f"CAST(cnt AS BIGINT) AS cnt FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_cte(n_merges)}\n{rows}"


def _bpe_encode_sql(n_merges: int) -> str:
    return rf"""
WITH {_bpe_cte(n_merges)},
enc AS (SELECT word, len(s) AS k FROM v{n_merges}),
ex AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
       FROM documents WHERE length(trim(text)) > 0),
per AS (SELECT doc_id, count(*) AS w, sum(k) AS sub
        FROM ex JOIN enc USING (word) GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(per.w, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(per.sub, 0) AS BIGINT) AS n_subwords
FROM documents d LEFT JOIN per USING (doc_id)"""


def _pagerank_unrolled_sql(k: int, edges_sql: str, round_final: bool = True) -> str:
    """k supersteps of the exact PageRank recurrence (damping 0.85,
    uniform dangling redistribution) as an unrolled CTE chain — DuckDB
    has no loop construct, so each superstep is one (dangling-mass,
    scatter-sum, update) CTE triple. ``round_final=False`` emits
    unrounded ranks for composition (rank_shift joins two chains and
    rounds AFTER the subtraction, like the Spark side). Each ``r{i}`` is
    read twice (dangling mass and scatter), so it is ``MATERIALIZED``:
    inlined, the chain would grow as 2^k."""
    steps = []
    for i in range(k):
        steps.append(f"""
d{i} AS (SELECT COALESCE(sum(rank), 0.0) AS dm FROM r{i}
        WHERE id NOT IN (SELECT src FROM od)),
s{i + 1} AS (SELECT e.dst AS id, sum(r{i}.rank / od.c) AS s
        FROM e JOIN od ON e.src = od.src JOIN r{i} ON r{i}.id = e.src
        GROUP BY e.dst),
r{i + 1} AS MATERIALIZED (SELECT v.id,
        (1 - 0.85) / nn + 0.85 * (COALESCE(s{i + 1}.s, 0.0) + d{i}.dm / nn) AS rank
        FROM v CROSS JOIN n CROSS JOIN d{i}
        LEFT JOIN s{i + 1} ON s{i + 1}.id = v.id)""")
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM v),
od AS (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src),
r0 AS MATERIALIZED (SELECT id, 1.0 / nn AS rank FROM v CROSS JOIN n),{",".join(steps)}
SELECT id, {"round(rank, 6)" if round_final else "rank"} AS rank FROM r{k}
"""
def _anf_unrolled_sql(
    rounds: int, edges_sql: str, k: int = 4, cap: int = 24, symmetrize: bool = True
) -> str:
    """The ANF sketch recurrence (graph/anf.py) unrolled in DuckDB:
    identical md5-derived trailing-zero init, per-round bit_or
    gather, lowest-zero-bit statistic — all two's-complement integer
    ops both engines share bit-for-bit. One CTE pair (gather, OR-in)
    per round, one stat SELECT per round, UNION ALL'd."""
    from pregel_spark.pipeline.hashing import duckdb_seeded_hash60

    sc = [f"s{i}" for i in range(k)]
    init = ", ".join(
        f"(CAST(1 AS BIGINT) << least(bit_count(((h{i}) & -(h{i})) - 1), {cap}))"
        f" AS {c}"
        for i, c in enumerate(sc)
    )
    hashes = ", ".join(
        f"{duckdb_seeded_hash60(i, 'id')} AS h{i}" for i in range(k)
    )
    lowz = " + ".join(
        f"(CAST(1 AS BIGINT) << bit_count(((~({c})) & -(~({c}))) - 1))"
        for c in sc
    )
    sym = (
        "SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0"
        if symmetrize
        else "SELECT src, dst FROM e0"
    )
    steps, stats = [], []
    stats.append(
        f"SELECT 0 AS round, CAST(sum({lowz}) AS BIGINT) AS sum_pow2b FROM sk0"
    )
    for t in range(1, rounds + 1):
        ors = ", ".join(f"bit_or(p.{c}) AS m{i}" for i, c in enumerate(sc))
        mix = ", ".join(
            f"(sk{t - 1}.{c} | COALESCE(m{t}.m{i}, 0)) AS {c}"
            for i, c in enumerate(sc)
        )
        steps.append(f"""
m{t} AS (SELECT e.src AS id, {ors}
        FROM e JOIN sk{t - 1} p ON p.id = e.dst GROUP BY e.src),
sk{t} AS (SELECT sk{t - 1}.id, {mix}
        FROM sk{t - 1} LEFT JOIN m{t} ON m{t}.id = sk{t - 1}.id)""")
        stats.append(
            f"SELECT {t} AS round, CAST(sum({lowz}) AS BIGINT)"
            f" AS sum_pow2b FROM sk{t}"
        )
    union = " UNION ALL ".join(stats)
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src, dst FROM ({sym}) su),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e
                               UNION ALL SELECT dst AS id FROM e) vu),
h AS (SELECT id, {hashes} FROM v),
sk0 AS (SELECT id, {init} FROM h),{",".join(steps)}
SELECT round, sum_pow2b,
       round(CAST(sum_pow2b AS DOUBLE) / ({k} * 0.77351), 4) AS reach_est
FROM ({union}) u ORDER BY round
"""


def _ppr_unrolled_sql(k: int, edges_sql: str) -> str:
    """k supersteps of personalized PageRank: the (1-d) restart mass
    and the dangling mass both return (uniformly) to the seed set —
    here the two lexicographically-smallest src vertices, the same
    pick ``q_ppr_k4`` makes on the Spark side. Float-op order mirrors
    graph/pagerank.py's ``sources`` branch exactly."""
    steps = []
    for i in range(k):
        steps.append(f"""
d{i} AS (SELECT COALESCE(sum(rank), 0.0) AS dm FROM r{i}
        WHERE id NOT IN (SELECT src FROM od)),
s{i + 1} AS (SELECT e.dst AS id, sum(r{i}.rank / od.c) AS s
        FROM e JOIN od ON e.src = od.src JOIN r{i} ON r{i}.id = e.src
        GROUP BY e.dst),
r{i + 1} AS MATERIALIZED (SELECT v.id,
        CASE WHEN sv{i}.id IS NOT NULL
             THEN (1 - 0.85) / ns + 0.85 * d{i}.dm / ns
             ELSE 0.0 END
        + 0.85 * COALESCE(s{i + 1}.s, 0.0) AS rank
        FROM v CROSS JOIN nsrc CROSS JOIN d{i}
        LEFT JOIN sv sv{i} ON sv{i}.id = v.id
        LEFT JOIN s{i + 1} ON s{i + 1}.id = v.id)""")
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
sv AS (SELECT DISTINCT src AS id FROM e ORDER BY src LIMIT 2),
nsrc AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sv),
od AS (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src),
r0 AS (SELECT v.id, CASE WHEN s.id IS NOT NULL THEN 1.0 / ns
                         ELSE 0.0 END AS rank
       FROM v CROSS JOIN nsrc LEFT JOIN sv s ON s.id = v.id),{",".join(steps)}
SELECT id, round(rank, 6) AS rank FROM r{k}
"""


def _spam_mass_unrolled_sql(k: int, edges_sql: str) -> str:
    """k supersteps of BOTH the uniform (r-chain) and seed-personalized
    (p-chain) PageRank recurrences over shared e/v/od CTEs, joined into
    the TrustRank relative spam mass (pr - tr) / pr. Float-op order
    mirrors graph/pagerank.spam_mass exactly; seeds = the two
    lexicographically-smallest srcs, same as the Spark query."""
    steps = []
    for i in range(k):
        steps.append(f"""
d{i} AS (SELECT COALESCE(sum(rank), 0.0) AS dm FROM r{i}
        WHERE id NOT IN (SELECT src FROM od)),
s{i + 1} AS (SELECT e.dst AS id, sum(r{i}.rank / od.c) AS s
        FROM e JOIN od ON e.src = od.src JOIN r{i} ON r{i}.id = e.src
        GROUP BY e.dst),
r{i + 1} AS MATERIALIZED (SELECT v.id,
        (1 - 0.85) / nn + 0.85 * (COALESCE(s{i + 1}.s, 0.0) + d{i}.dm / nn) AS rank
        FROM v CROSS JOIN n CROSS JOIN d{i}
        LEFT JOIN s{i + 1} ON s{i + 1}.id = v.id),
pd{i} AS (SELECT COALESCE(sum(rank), 0.0) AS dm FROM p{i}
        WHERE id NOT IN (SELECT src FROM od)),
ps{i + 1} AS (SELECT e.dst AS id, sum(p{i}.rank / od.c) AS s
        FROM e JOIN od ON e.src = od.src JOIN p{i} ON p{i}.id = e.src
        GROUP BY e.dst),
p{i + 1} AS MATERIALIZED (SELECT v.id,
        CASE WHEN sv{i}.id IS NOT NULL
             THEN (1 - 0.85) / ns + 0.85 * pd{i}.dm / ns
             ELSE 0.0 END
        + 0.85 * COALESCE(ps{i + 1}.s, 0.0) AS rank
        FROM v CROSS JOIN nsrc CROSS JOIN pd{i}
        LEFT JOIN sv sv{i} ON sv{i}.id = v.id
        LEFT JOIN ps{i + 1} ON ps{i + 1}.id = v.id)""")
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM v),
sv AS (SELECT DISTINCT src AS id FROM e ORDER BY src LIMIT 2),
nsrc AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sv),
od AS (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src),
r0 AS (SELECT id, 1.0 / nn AS rank FROM v CROSS JOIN n),
p0 AS (SELECT v.id, CASE WHEN s.id IS NOT NULL THEN 1.0 / ns
                         ELSE 0.0 END AS rank
       FROM v CROSS JOIN nsrc LEFT JOIN sv s ON s.id = v.id),{",".join(steps)}
SELECT u.id, round(u.rank, 6) AS pr, round(p.rank, 6) AS tr,
       round((u.rank - p.rank) / u.rank, 6) AS spam_mass
FROM r{k} u JOIN p{k} p ON p.id = u.id
"""


def _wpagerank_unrolled_sql(k: int, edges_sql: str) -> str:
    """k supersteps of weighted PageRank: parallel (src,dst) edges sum
    their weights, share(u->v) = w / Σ_x w(u,x) (precomputed per edge,
    matching the Spark links table), dangling = no out-edges."""
    steps = []
    for i in range(k):
        steps.append(f"""
d{i} AS (SELECT COALESCE(sum(rank), 0.0) AS dm FROM r{i}
        WHERE id NOT IN (SELECT src FROM ws)),
s{i + 1} AS (SELECT ws.dst AS id, sum(r{i}.rank * ws.share) AS s
        FROM ws JOIN r{i} ON r{i}.id = ws.src
        GROUP BY ws.dst),
r{i + 1} AS MATERIALIZED (SELECT v.id,
        (1 - 0.85) / nn + 0.85 * (COALESCE(s{i + 1}.s, 0.0) + d{i}.dm / nn) AS rank
        FROM v CROSS JOIN n CROSS JOIN d{i}
        LEFT JOIN s{i + 1} ON s{i + 1}.id = v.id)""")
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT src, dst, sum(weight) AS w FROM e0 GROUP BY src, dst),
v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM v),
od AS (SELECT src, sum(w) AS wsum FROM e GROUP BY src),
ws AS (SELECT e.src, e.dst, e.w / od.wsum AS share
       FROM e JOIN od ON od.src = e.src),
r0 AS MATERIALIZED (SELECT id, 1.0 / nn AS rank FROM v CROSS JOIN n),{",".join(steps)}
SELECT id, round(rank, 6) AS rank FROM r{k}
"""


def _hits_unrolled_sql(k: int, edges_sql: str) -> str:
    """k HITS iterations (h0 = 1; a <- A^T h / ||.||2,
    h <- A A^T h / ||.||2 — the inner norm cancels, matching
    graph/hits.py's single-lineage superstep) as unrolled CTEs."""
    steps = []
    for i in range(k):
        steps.append(f"""
ar{i} AS (SELECT e.dst AS id, sum(h{i}.h) AS ar
          FROM e JOIN h{i} ON h{i}.id = e.src GROUP BY e.dst),
af{i} AS (SELECT v.id, COALESCE(ar{i}.ar, CAST(0.0 AS DOUBLE)) AS ar
          FROM v LEFT JOIN ar{i} ON ar{i}.id = v.id),
hr{i} AS (SELECT e.src AS id, sum(af.ar) AS hr
          FROM e JOIN af{i} af ON af.id = e.dst GROUP BY e.src),
hf{i} AS (SELECT v.id, COALESCE(hr{i}.hr, CAST(0.0 AS DOUBLE)) AS hr
          FROM v LEFT JOIN hr{i} ON hr{i}.id = v.id),
na{i} AS (SELECT sqrt(sum(ar * ar)) AS na FROM af{i}),
nh{i} AS (SELECT sqrt(sum(hr * hr)) AS nh FROM hf{i}),
a{i + 1} AS (SELECT id, CASE WHEN na > 0 THEN ar / na
                             ELSE CAST(0.0 AS DOUBLE) END AS a
             FROM af{i} CROSS JOIN na{i}),
h{i + 1} AS (SELECT id, CASE WHEN nh > 0 THEN hr / nh
                             ELSE CAST(0.0 AS DOUBLE) END AS h
             FROM hf{i} CROSS JOIN nh{i})""")
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS h FROM v),{",".join(steps)}
SELECT a{k}.id, round(a{k}.a, 6) AS auth, round(h{k}.h, 6) AS hub
FROM a{k} JOIN h{k} ON h{k}.id = a{k}.id
"""


def _sssp_unrolled_sql(k: int, edges_sql: str, source: str) -> str:
    """k Bellman-Ford relaxation rounds from ``source`` (min-plus over
    all edges each round == graph/sssp.py's frontier variant after the
    same number of supersteps); unreached rows are dropped."""
    steps = []
    for i in range(k):
        steps.append(f"""
m{i} AS (SELECT e0.dst AS id, min(d{i}.dist + e0.weight) AS md
         FROM e0 JOIN d{i} ON d{i}.id = e0.src
         WHERE d{i}.dist IS NOT NULL GROUP BY e0.dst),
d{i + 1} AS (SELECT d.id,
                    CASE WHEN d.dist IS NULL THEN m.md
                         WHEN m.md IS NULL THEN d.dist
                         ELSE least(d.dist, m.md) END AS dist
             FROM d{i} d LEFT JOIN m{i} m ON m.id = d.id)""")
    return f"""
WITH e0 AS ({edges_sql}),
v AS (SELECT src AS id FROM e0 UNION SELECT dst AS id FROM e0),
d0 AS (SELECT id, CASE WHEN id = '{source}'
                       THEN CAST(0.0 AS DOUBLE) END AS dist FROM v),{",".join(steps)}
SELECT id, round(dist, 6) AS dist FROM d{k} WHERE dist IS NOT NULL
"""


def _temporal_unrolled_sql(k: int, edges_sql: str) -> str:
    """k earliest-arrival relaxation rounds from the LIKE-'%0' source
    set at t0=0 (min-t over FEASIBLE edges each round == graph/
    temporal.py's frontier variant after k supersteps; monotone, so
    the cap is exact). Unreached rows are dropped."""
    steps = []
    for i in range(k):
        steps.append(f"""
tm{i} AS (SELECT e0.dst AS id, min(e0.t) AS ma
          FROM e0 JOIN ta{i} ON ta{i}.id = e0.src AND e0.t >= ta{i}.arrival
          WHERE ta{i}.arrival IS NOT NULL GROUP BY e0.dst),
ta{i + 1} AS (SELECT a.id,
                     CASE WHEN a.arrival IS NULL THEN m.ma
                          WHEN m.ma IS NULL THEN a.arrival
                          ELSE least(a.arrival, m.ma) END AS arrival
              FROM ta{i} a LEFT JOIN tm{i} m ON m.id = a.id)""")
    return f"""
WITH e0 AS ({edges_sql}),
v AS (SELECT src AS id FROM e0 UNION SELECT dst AS id FROM e0),
s0 AS (SELECT DISTINCT src AS id FROM e0 WHERE src LIKE '%0'),
ta0 AS (SELECT v.id, CASE WHEN s0.id IS NOT NULL
                          THEN CAST(0.0 AS DOUBLE) END AS arrival
        FROM v LEFT JOIN s0 ON s0.id = v.id),{",".join(steps)}
SELECT id, round(arrival, 6) AS arrival FROM ta{k} WHERE arrival IS NOT NULL
"""


def _louvain_round_ctes(pfx: str, prev: str, ws: str, lp: str, v: str, parity: int) -> str:
    """One weighted integer-exact local-move round (graph/louvain.py's
    local_move_round) as MATERIALIZED CTEs: weighted degree incl.
    2*self-weight, integer score 2m*k - d*sig', stay-biased argmax,
    and the hash60-parity move gate. Emits ``{pfx}`` = new labels."""
    h60 = "(('0x' || substr(md5(p.id), 1, 15))::UBIGINT::BIGINT)"
    return f"""
{pfx}deg AS MATERIALIZED (
  SELECT vv.id, COALESCE(d.sw, 0) + 2 * COALESCE(l.c, 0) AS deg
  FROM {v} vv
  LEFT JOIN (SELECT src AS id, SUM(w) AS sw FROM {ws} GROUP BY src) d ON d.id = vv.id
  LEFT JOIN {lp} l ON l.id = vv.id),
{pfx}m AS MATERIALIZED (
  SELECT (SELECT COALESCE(SUM(w), 0) // 2 FROM {ws})
       + (SELECT COALESCE(SUM(c), 0) FROM {lp}) AS m),
{pfx}sig AS MATERIALIZED (
  SELECT p.label, SUM(d.deg) AS sig
  FROM {prev} p JOIN {pfx}deg d ON d.id = p.id GROUP BY p.label),
{pfx}k AS MATERIALIZED (
  SELECT e.src AS id, p.label AS cand, SUM(e.w) AS k
  FROM {ws} e JOIN {prev} p ON p.id = e.dst GROUP BY e.src, p.label),
{pfx}cands AS MATERIALIZED (
  SELECT id, cand, MAX(k) AS k FROM (
    SELECT id, cand, k FROM {pfx}k
    UNION ALL SELECT id, label AS cand, 0 AS k FROM {prev}) u
  GROUP BY id, cand),
{pfx}scored AS MATERIALIZED (
  SELECT c.id, c.cand, p.label AS cur, d.deg AS d, c.k,
         s.sig - CASE WHEN c.cand = p.label THEN d.deg ELSE 0 END AS sigx
  FROM {pfx}cands c
  JOIN {prev} p ON p.id = c.id
  JOIN {pfx}deg d ON d.id = c.id
  JOIN {pfx}sig s ON s.label = c.cand),
{pfx}pick AS MATERIALIZED (
  SELECT id, cand, ROW_NUMBER() OVER (PARTITION BY id ORDER BY
           2 * mm.m * k - d * sigx DESC,
           CASE WHEN cand = cur THEN 0 ELSE 1 END ASC,
           cand ASC) AS rn
  FROM {pfx}scored CROSS JOIN {pfx}m mm),
{pfx} AS MATERIALIZED (
  SELECT p.id, CASE WHEN {h60} % 2 = {parity} THEN w.cand ELSE p.label END AS label
  FROM {prev} p JOIN (SELECT id, cand FROM {pfx}pick WHERE rn = 1) w ON w.id = p.id)"""


def _louvain_unrolled_sql(edges_sql: str, rounds: int = 2) -> str:
    """Two Louvain levels of ``rounds`` local-move rounds each
    (graph/louvain.py's fixed schedule): weighted-simple fold of the
    arc fixture, level-1 rounds from singletons, contraction (intra
    weight + carried self-weights fold into supervertex self-weight),
    level-2 rounds, then the vertex->community map-down. All integer
    arithmetic; the hash60 parity gate replicates exactly."""
    parts = [f"""e0 AS ({edges_sql}),
arcs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
wp1 AS MATERIALIZED (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v, COUNT(*) AS w
  FROM arcs WHERE src <> dst GROUP BY 1, 2),
ws1 AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM wp1
                     UNION ALL SELECT v, u, w FROM wp1),
lp1 AS MATERIALIZED (SELECT src AS id, COUNT(*) AS c FROM arcs
                     WHERE src = dst GROUP BY src),
v1 AS MATERIALIZED (SELECT DISTINCT src AS id FROM ws1
                    UNION SELECT id FROM lp1),
a0 AS MATERIALIZED (SELECT id, id AS label FROM v1)"""]
    for r in range(rounds):
        parts.append(_louvain_round_ctes(f"a{r + 1}", f"a{r}", "ws1", "lp1", "v1", r % 2))
    af = f"a{rounds}"
    parts.append(f"""cm AS MATERIALIZED (
  SELECT e.w, pa.label AS ga, pb.label AS gb
  FROM ws1 e JOIN {af} pa ON pa.id = e.src JOIN {af} pb ON pb.id = e.dst
  WHERE e.src < e.dst),
wp2 AS MATERIALIZED (
  SELECT least(ga, gb) AS u, greatest(ga, gb) AS v, SUM(w) AS w
  FROM cm WHERE ga <> gb GROUP BY 1, 2),
ws2 AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM wp2
                     UNION ALL SELECT v, u, w FROM wp2),
lp2 AS MATERIALIZED (
  SELECT id, SUM(c) AS c FROM (
    SELECT ga AS id, SUM(w) AS c FROM cm WHERE ga = gb GROUP BY ga
    UNION ALL
    SELECT p.label AS id, SUM(l.c) AS c FROM lp1 l
    JOIN {af} p ON p.id = l.id GROUP BY p.label) u GROUP BY id),
v2 AS MATERIALIZED (SELECT DISTINCT src AS id FROM ws2
                    UNION SELECT id FROM lp2),
b0 AS MATERIALIZED (SELECT id, id AS label FROM v2)""")
    for r in range(rounds):
        parts.append(_louvain_round_ctes(f"b{r + 1}", f"b{r}", "ws2", "lp2", "v2", r % 2))
    bf = f"b{rounds}"
    return f"""
WITH {",".join(parts)}
SELECT a.id, b.label FROM {af} a JOIN {bf} b ON b.id = a.label
"""


def _bfs_sweep_ctes(prefix: str, k: int, source_expr: str) -> str:
    """k unit-weight BFS relaxation rounds over the shared symmetrized
    CTEs ``ue``/``v`` from a scalar-subquery source — one sweep of the
    pseudo_diameter oracle (same min-plus recurrence as
    _sssp_unrolled_sql with weight 1)."""
    # every round CTE is referenced twice (gather + carry-forward); at
    # 20 chained rounds un-materialized inlining re-evaluates the
    # prefix 2^i times — MATERIALIZED makes each round run exactly once
    parts = [
        f"""
{prefix}0 AS MATERIALIZED (SELECT id, CASE WHEN id = {source_expr}
                   THEN CAST(0.0 AS DOUBLE) END AS dist FROM v)"""
    ]
    for i in range(k):
        parts.append(f"""
{prefix}m{i} AS MATERIALIZED (SELECT ue.dst AS id, min(s.dist + 1.0) AS md
        FROM ue JOIN {prefix}{i} s ON s.id = ue.src
        WHERE s.dist IS NOT NULL GROUP BY ue.dst),
{prefix}{i + 1} AS MATERIALIZED (SELECT d.id,
              CASE WHEN d.dist IS NULL THEN m.md
                   WHEN m.md IS NULL THEN d.dist
                   ELSE least(d.dist, m.md) END AS dist
       FROM {prefix}{i} d LEFT JOIN {prefix}m{i} m ON m.id = d.id)""")
    return ",".join(parts)


def _pseudo_diameter_sql(k: int, edges_sql: str) -> str:
    """Two chained _bfs_sweep_ctes sweeps: sweep a from min(id), the
    deterministic argmax hop (dist DESC, id ASC LIMIT 1), sweep b from
    there; k rounds must exceed both eccentricities (fixture-pinned)."""
    # MATERIALIZED: every BFS round references ue — inlined, DuckDB
    # would re-open the fixture parquet ~2k times and trip ulimit -n
    return f"""
WITH e0 AS ({edges_sql}),
sym AS (SELECT src, dst FROM e0
        UNION ALL SELECT dst AS src, src AS dst FROM e0),
ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM sym WHERE src <> dst),
v AS MATERIALIZED (SELECT DISTINCT src AS id FROM ue),
{_bfs_sweep_ctes("a", k, "(SELECT min(id) FROM v)")},
far AS (SELECT id, dist FROM a{k} WHERE dist IS NOT NULL
        ORDER BY dist DESC, id ASC LIMIT 1),
{_bfs_sweep_ctes("b", k, "(SELECT id FROM far)")}
SELECT (SELECT min(id) FROM v) AS start_id,
       CAST((SELECT dist FROM far) AS INT) AS start_ecc,
       (SELECT id FROM far) AS far_id,
       CAST((SELECT max(dist) FROM b{k}) AS INT) AS far_ecc,
       greatest(CAST((SELECT dist FROM far) AS INT),
                CAST((SELECT max(dist) FROM b{k}) AS INT)) AS diameter_lb
"""


def _walks_unrolled_sql(walk_length: int, edges_sql: str, seed: int) -> str:
    """``walk_length`` deterministic walk hops (graph/walks.py with
    walks_per_vertex=1): sorted-distinct adjacency, next =
    nbrs[hash60(seed:start:walk:t:cur) % deg + 1] — the portable md5
    pick reproduces Spark's element_at exactly."""
    steps = []
    selects = [
        "SELECT start, walk, CAST(0 AS INTEGER) AS step, cur AS id FROM w0"
    ]
    for t in range(1, walk_length + 1):
        h = _H60.format(
            x=f"('{seed}:' || w.start || ':' || CAST(w.walk AS VARCHAR) "
            f"|| ':{t}:' || w.cur)"
        )
        steps.append(f"""
w{t} AS (SELECT w.start, w.walk,
                a.nbrs[CAST({h} % len(a.nbrs) AS INTEGER) + 1] AS cur
         FROM w{t - 1} w JOIN adj a ON a.src = w.cur)""")
        selects.append(
            f"SELECT start, walk, CAST({t} AS INTEGER) AS step, cur AS id FROM w{t}"
        )
    return f"""
WITH e0 AS ({edges_sql}),
adj AS (SELECT src, list_sort(list_distinct(list(dst))) AS nbrs
        FROM e0 GROUP BY src),
v AS (SELECT src AS id FROM e0 UNION SELECT dst AS id FROM e0),
w0 AS (SELECT id AS start, CAST(0 AS INTEGER) AS walk, id AS cur FROM v),{",".join(steps)}
{" UNION ALL ".join(selects)}
"""


def _kcore_unrolled_sql(k: int, rounds: int, edges_sql: str) -> str:
    """``rounds`` peel iterations at threshold ``k`` over the
    symmetrized graph (graph/kcore.py with max_rounds=rounds)."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
d{i + 1} AS (SELECT ue.src AS id, count(*) AS c
             FROM ue JOIN v{i} a ON a.id = ue.src
                     JOIN v{i} b ON b.id = ue.dst
             GROUP BY ue.src),
v{i + 1} AS (SELECT id FROM d{i + 1} WHERE c >= {k})""")
    return f"""
WITH e0 AS ({edges_sql}),
{_UE_CTE},
v0 AS (SELECT src AS id FROM ue UNION SELECT dst AS id FROM ue),{",".join(steps)}
SELECT id FROM v{rounds}
"""


def _coreness_unrolled_sql(rounds: int, edges_sql: str) -> str:
    """``rounds`` H-index iterations of the core-number fixpoint
    (graph/kcore.py coreness with max_rounds=rounds): c0 = degree,
    c_{i+1}(v) = max over desc-sorted neighbor values of
    min(rank, value) — pure integer arithmetic, deterministic under
    sort ties, so it unrolls verbatim."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
c{i + 1} AS (
    SELECT t.id, max(least(t.rn, t.val)) AS c
    FROM (SELECT ue.src AS id, v.c AS val,
                 row_number() OVER (PARTITION BY ue.src
                                    ORDER BY v.c DESC) AS rn
          FROM ue JOIN c{i} v ON v.id = ue.dst) t
    GROUP BY t.id)""")
    return f"""
WITH e0 AS ({edges_sql}),
{_UE_CTE},
c0 AS (SELECT src AS id, count(*) AS c FROM ue GROUP BY src),{",".join(steps)}
SELECT id, c AS coreness FROM c{rounds}
"""


# All reproduce Spark-side operators bit-exactly because those operators
# hash with the engine-portable 60-bit md5 hash (pipeline/hashing.py).

_H60 = "(('0x' || substr(md5({x}), 1, 15))::UBIGINT::BIGINT)"

_WINNOW_FP_CTE = rf"""
g AS (
    SELECT doc_id, i AS pos,
           {_H60.format(x="substr(text, i, 8)")} AS h
    FROM documents, UNNEST(range(1, greatest(length(text) - 7, 0) + 1)) AS u(i)
),
wm AS (
    SELECT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM g
),
fps AS (SELECT DISTINCT doc_id AS id, fp FROM wm)
"""

WINNOW_FP_SQL = f"WITH {_WINNOW_FP_CTE} SELECT id AS doc_id, fp FROM fps"

WINNOW_PAIRS_SQL = f"""
WITH {_WINNOW_FP_CTE},
sizes AS (SELECT id, count(*) AS sz FROM fps GROUP BY id),
dfreq AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp),
rare AS (SELECT f.id, f.fp FROM fps f JOIN dfreq USING (fp) WHERE dfreq.c <= 100),
inter AS (SELECT x.id AS a, y.id AS b, count(*) AS i
          FROM rare x JOIN rare y ON x.fp = y.fp AND x.id < y.id
          GROUP BY x.id, y.id),
ov AS (SELECT a, b, round(i / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6) AS overlap
       FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b)
SELECT a, b, overlap FROM ov WHERE overlap >= 0.3
"""


def _salsa_unrolled_sql(k: int, edges_sql: str) -> str:
    """k SALSA iterations (two stochastic chains, degree-normalized
    hops) as unrolled CTEs — mirrors graph.hits.salsa's float-op
    order per term; round-6 absorbs sum-order ulps."""
    steps = []
    for i in range(k):
        steps.append(f"""
b{i} AS (SELECT e.src AS id, sum(a{i}.a / idg.c) AS v
        FROM e JOIN idg ON idg.dst = e.dst JOIN a{i} ON a{i}.id = e.dst
        GROUP BY e.src),
a{i + 1} AS (SELECT e.dst AS id, sum(b{i}.v / od.c) AS a
        FROM e JOIN od ON od.src = e.src JOIN b{i} ON b{i}.id = e.src
        GROUP BY e.dst),
c{i} AS (SELECT e.dst AS id, sum(h{i}.h / od.c) AS v
        FROM e JOIN od ON od.src = e.src JOIN h{i} ON h{i}.id = e.src
        GROUP BY e.dst),
h{i + 1} AS (SELECT e.src AS id, sum(c{i}.v / idg.c) AS h
        FROM e JOIN idg ON idg.dst = e.dst JOIN c{i} ON c{i}.id = e.dst
        GROUP BY e.src)""")
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src, dst FROM e0),
od AS (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src),
idg AS (SELECT dst, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY dst),
v AS (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
nh AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM od),
na AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM idg),
a0 AS (SELECT dst AS id, 1.0 / n AS a FROM idg CROSS JOIN na),
h0 AS (SELECT src AS id, 1.0 / n AS h FROM od CROSS JOIN nh),{",".join(steps)}
SELECT v.id, round(COALESCE(a{k}.a, 0.0), 6) AS authority,
       round(COALESCE(h{k}.h, 0.0), 6) AS hub
FROM v LEFT JOIN a{k} ON a{k}.id = v.id LEFT JOIN h{k} ON h{k}.id = v.id
"""


def _mis_unrolled_sql(rounds: int, edges_sql: str, seed: int = 0) -> str:
    """Deterministic Luby MIS unrolled: per round, portable-hash
    priorities (md5-60, same family as graph.mis), neighbor-min over
    the live edge set, strict-local-minimum winners, neighborhood
    removal. Priorities compare as the zero-padded hex encoding
    'h:id' whose lexicographic order equals the Spark (h, id) struct
    order. Extra rounds past quiescence are empty no-ops."""
    steps = []
    uni = ["SELECT id, 0 AS round FROM iso"]
    for r in range(1, rounds + 1):
        h = _H60.format(x=f"('{seed}:{r}:' || id)")
        steps.append(f"""
p{r} AS MATERIALIZED (SELECT id, printf('%015x', {h}) || ':' || id AS p FROM lv{r - 1}),
el{r} AS MATERIALIZED (SELECT ue.u, ue.v FROM ue
          WHERE ue.u IN (SELECT id FROM lv{r - 1})
            AND ue.v IN (SELECT id FROM lv{r - 1})),
nm{r} AS MATERIALIZED (SELECT el.u AS id, min(p.p) AS nmin
          FROM el{r} el JOIN p{r} p ON p.id = el.v GROUP BY el.u),
w{r} AS MATERIALIZED (SELECT p.id FROM p{r} p LEFT JOIN nm{r} n ON n.id = p.id
         WHERE n.nmin IS NULL OR p.p < n.nmin),
d{r} AS MATERIALIZED (SELECT id FROM w{r}
         UNION
         SELECT el.v AS id FROM el{r} el JOIN w{r} w ON w.id = el.u),
lv{r} AS MATERIALIZED (SELECT id FROM lv{r - 1}
          WHERE id NOT IN (SELECT id FROM d{r}))""")
        uni.append(f"SELECT id, {r} AS round FROM w{r}")
    return f"""
WITH e0 AS ({edges_sql}),
ue AS MATERIALIZED (SELECT src AS u, dst AS v FROM e0 WHERE src <> dst
       UNION
       SELECT dst AS u, src AS v FROM e0 WHERE src <> dst),
allv AS (SELECT src AS id FROM e0 UNION SELECT dst AS id FROM e0),
lv0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM ue),
iso AS (SELECT id FROM allv WHERE id NOT IN (SELECT id FROM lv0)),{",".join(steps)}
SELECT id, round FROM ({" UNION ALL ".join(uni)}) z
"""


def _coloring_unrolled_sql(rounds: int, edges_sql: str, seed: int = 0) -> str:
    """Deterministic Jones-Plassmann unrolled: FIXED portable-hash
    priorities (md5-60 of '<seed>:id', id tie-break via the same
    '%015x:id' encoding as the MIS oracle), per round strict
    local-max winners against uncolored neighbors, minimal-excludant
    color over already-colored neighbors (list-comprehension mex ==
    the Spark ascending fold)."""
    h = _H60.format(x=f"('{seed}:' || id)")
    steps = []
    uni = ["SELECT id, 0 AS color, 0 AS round FROM iso"]
    for r in range(1, rounds + 1):
        steps.append(f"""
nm{r} AS MATERIALIZED (
    SELECT ue.u AS id, max(p.p) AS nmax
    FROM ue JOIN pall p ON p.id = ue.v
    WHERE ue.u IN (SELECT id FROM lv{r - 1})
      AND ue.v IN (SELECT id FROM lv{r - 1})
    GROUP BY ue.u),
w{r} AS MATERIALIZED (
    SELECT v.id FROM lv{r - 1} v
    JOIN pall p ON p.id = v.id
    LEFT JOIN nm{r} n ON n.id = v.id
    WHERE n.nmax IS NULL OR p.p > n.nmax),
used{r} AS MATERIALIZED (
    SELECT ue.u AS id, list_sort(list(DISTINCT c.color)) AS ncs
    FROM ue JOIN w{r} w ON w.id = ue.u
    JOIN col{r - 1} c ON c.id = ue.v
    GROUP BY ue.u),
new{r} AS MATERIALIZED (
    SELECT w.id,
           CAST(COALESCE(
               ([i FOR i IN range(0, len(u.ncs) + 2)
                   IF NOT list_contains(u.ncs, i)])[1], 0) AS INT) AS color,
           {r} AS round
    FROM w{r} w LEFT JOIN used{r} u ON u.id = w.id),
col{r} AS MATERIALIZED (
    SELECT id, color FROM col{r - 1}
    UNION ALL SELECT id, color FROM new{r}),
lv{r} AS MATERIALIZED (
    SELECT id FROM lv{r - 1}
    WHERE id NOT IN (SELECT id FROM w{r}))""")
        uni.append(f"SELECT id, color, round FROM new{r}")
    return f"""
WITH e0 AS ({edges_sql}),
ue AS MATERIALIZED (SELECT src AS u, dst AS v FROM e0 WHERE src <> dst
       UNION
       SELECT dst AS u, src AS v FROM e0 WHERE src <> dst),
allv AS (SELECT src AS id FROM e0 UNION SELECT dst AS id FROM e0),
lv0 AS MATERIALIZED (SELECT DISTINCT u AS id FROM ue),
iso AS (SELECT id FROM allv WHERE id NOT IN (SELECT id FROM lv0)),
pall AS MATERIALIZED (
    SELECT id, printf('%015x', {h}) || ':' || id AS p FROM lv0),
col0 AS MATERIALIZED (SELECT id, 0 AS color FROM iso),{",".join(steps)}
SELECT id, color, round FROM ({" UNION ALL ".join(uni)}) z
"""


def _betweenness_unrolled_sql(depth: int, edges_sql: str, n_sources: int = 3) -> str:
    """Bounded-depth k-source Brandes as unrolled CTEs: ``depth``
    forward levels (frontier scatter + sigma sum + visited anti-join)
    then ``depth`` backward dependency levels — mirrors
    graph.betweenness.betweenness's float-op order per term."""
    fwd = []
    for d in range(depth):
        fwd.append(f"""
m{d} AS (SELECT f.s, e.dst AS v, sum(f.sigma) AS sigma
        FROM l{d} f JOIN e ON e.src = f.v GROUP BY f.s, e.dst),
l{d + 1} AS (SELECT m.s, m.v, CAST(sum(m.sigma) AS BIGINT) AS sigma
        FROM m{d} m
        WHERE NOT EXISTS (SELECT 1 FROM vis{d} x
                          WHERE x.s = m.s AND x.v = m.v)
        GROUP BY m.s, m.v),
vis{d + 1} AS (SELECT s, v FROM vis{d}
               UNION ALL SELECT s, v FROM l{d + 1})""")
    bwd = []
    for d in range(depth, 0, -1):
        prev_delta = (
            f"COALESCE(dl{d}.delta, 0.0)" if d < depth else "0.0"
        )
        prev_join = (
            f"LEFT JOIN dl{d} ON dl{d}.s = w.s AND dl{d}.v = w.v" if d < depth else ""
        )
        bwd.append(f"""
dl{d - 1} AS (SELECT w.s, e.src AS v,
        sum(CAST(pv.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
            * (1.0 + {prev_delta})) AS delta
        FROM l{d} w {prev_join}
        JOIN e ON e.dst = w.v
        JOIN l{d - 1} pv ON pv.s = w.s AND pv.v = e.src
        GROUP BY w.s, e.src)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT s, v, delta FROM dl{d}" for d in range(depth)
    )
    return f"""
WITH e0 AS ({edges_sql}),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
sv AS (SELECT DISTINCT src AS s FROM e ORDER BY src LIMIT {n_sources}),
l0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM sv),
vis0 AS (SELECT s, v FROM l0),{",".join(fwd)},{",".join(bwd)}
SELECT v AS id, round(sum(delta), 6) AS betweenness
FROM ({unions}) ad WHERE v <> s GROUP BY v
"""


def _truss_unrolled_sql(k: int, rounds: int, edges_sql: str) -> str:
    """``rounds`` k-truss peel rounds: per-round edge support = common
    neighbors over the CURRENT canonical edge set (adjacency
    self-join), filter support >= k-2 — mirrors graph.triangles.k_truss
    with max_rounds=rounds. Edges closing zero triangles have no
    support row and drop via the inner join, exactly like Spark."""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
ad{i} AS (SELECT u AS x, v AS w FROM e{i}
          UNION ALL SELECT v AS x, u AS w FROM e{i}),
s{i} AS (SELECT e.u, e.v, count(*) AS support
         FROM e{i} e JOIN ad{i} a ON a.x = e.u
                     JOIN ad{i} b ON b.x = e.v AND b.w = a.w
         GROUP BY e.u, e.v),
e{i + 1} AS (SELECT u, v FROM s{i} WHERE support >= {k - 2})""")
    return f"""
WITH e0x AS ({edges_sql}),
e1 AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       FROM e0x WHERE src <> dst),{",".join(steps)}
SELECT u, v, support FROM s{rounds} WHERE support >= {k - 2}
"""


def _minhash_sql(threshold=0.1, num_hashes=32, bands=8, max_k=3, docs_sql=None) -> str:
    """Unrolled MinHash+LSH: seeded 60-bit signature mins, band-key
    equality candidates, true-Jaccard verify — mirrors
    dedup.minhash_lsh_pairs(hash_fn='md5') exactly.

    ``docs_sql``: optional SELECT producing (doc_id, text) to run the
    pipeline over instead of the documents table (e.g. the outlink
    adjacency documents of ``graph.mirrors``). ``max_k=1`` switches
    shingles to the distinct tokens themselves (set semantics)."""
    r = num_hashes // bands
    # four 32-bit hashes per md5 digest (8 hex chars each), matching
    # dedup.minhash_signatures(hash_fn='md5')
    hash_cols = ",\n           ".join(
        f"(('0x' || substr(md5('{i // 4}:' || sh), {(i % 4) * 8 + 1}, 8))"
        f"::UBIGINT::BIGINT) AS h{i}"
        for i in range(num_hashes)
    )
    sig_cols = ", ".join(f"min(h{i}) AS m{i}" for i in range(num_hashes))
    band_selects = "\nUNION ALL\n".join(
        "SELECT id, {b} AS band, {ks} FROM sig".format(
            b=bi,
            ks=", ".join(f"m{bi * r + j} AS k{j}" for j in range(r)),
        )
        for bi in range(bands)
    )
    band_eq = " AND ".join(f"x.k{j} = y.k{j}" for j in range(r))
    src_cte = f"srcdocs AS ({docs_sql}),\n" if docs_sql else ""
    src_tab = "srcdocs" if docs_sql else "documents"
    if max_k == 1:
        sh0_sql = "SELECT doc_id, list_distinct(w) AS shs FROM toks WHERE len(w) >= 1"
    else:
        sh0_sql = (
            f"SELECT doc_id,\n"
            f"           list_distinct([array_to_string(w[i:i+{max_k - 1}], ' ')\n"
            f"                          for i in range(1, len(w) - {max_k - 2})]) AS shs\n"
            f"    FROM toks WHERE len(w) >= {max_k}"
        )
    return rf"""
WITH {src_cte}toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM {src_tab} WHERE length(trim(text)) > 0),
sh0 AS (
    {sh0_sql}),
sh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM sh0),
hs AS (
    SELECT id, sh,
           {hash_cols}
    FROM sh),
sig AS (SELECT id, {sig_cols} FROM hs GROUP BY id),
bandtab AS ({band_selects}),
cand AS (
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM bandtab x JOIN bandtab y
      ON x.band = y.band AND {band_eq} AND x.id < y.id),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
iv AS (
    SELECT c.a, c.b, count(*) AS i
    FROM cand c
    JOIN sh sx ON sx.id = c.a
    JOIN sh sy ON sy.id = c.b AND sy.sh = sx.sh
    GROUP BY c.a, c.b),
j AS (SELECT a, b, round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
      FROM iv JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b)
SELECT a, b, jaccard FROM j WHERE jaccard >= {threshold}
"""


def _kmeans_sql(k=4, iters=2, tail=None) -> str:
    """Unrolled Lloyd k-means mirroring pipeline.cluster.kmeans_assign:
    hash60-ordered seed pick, per-iteration argmin assignment (ties to
    the smaller cluster id) and per-dim mean update with empty-cluster
    carry, final assignment under the last centroids. All arithmetic is
    double on both engines; assignments are integer-stable far from any
    argmin boundary."""
    dist = (
        "list_sum(list_transform(p.v, (x, i) ->"
        " (x - c.cv[i]) * (x - c.cv[i])))"
    )

    def assign(name, cents):
        return f"""
{name} AS (
  SELECT id, v, cl FROM (
    SELECT p.id, p.v, c.cl,
           row_number() OVER (PARTITION BY p.id
                              ORDER BY {dist}, c.cl) AS rn
    FROM pts p CROSS JOIN {cents} c) WHERE rn = 1)"""

    parts = [f"""WITH pts AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE embedding IS NOT NULL),
c0 AS (
  SELECT cl - 1 AS cl, v AS cv FROM (
    SELECT row_number() OVER (
             ORDER BY {_H60.format(x='CAST(id AS VARCHAR)')}, id) AS cl, v
    FROM pts) WHERE cl <= {k})"""]
    for it in range(1, iters + 1):
        parts.append(assign(f"a{it}", f"c{it - 1}"))
        parts.append(f"""
u{it} AS (
  SELECT cl, list(m ORDER BY dim) AS cv FROM (
    SELECT cl, dim, sum(val) / count(*) AS m FROM (
      SELECT cl, unnest(v) AS val, unnest(range(1, len(v) + 1)) AS dim
      FROM a{it}) GROUP BY cl, dim) GROUP BY cl),
c{it} AS (
  SELECT c.cl, coalesce(u.cv, c.cv) AS cv
  FROM c{it - 1} c LEFT JOIN u{it} u ON c.cl = u.cl)""")
    parts.append(assign("fin", f"c{iters}"))
    if tail is None:
        tail = "\nSELECT id AS vec_id, CAST(cl AS INTEGER) AS cluster FROM fin"
    return ",".join(parts) + tail


def _semantic_dedup_sql(k=4, iters=2, threshold=0.4) -> str:
    """SemDeDup oracle: the identical unrolled k-means CTE chain, then
    within-cluster pairs at round(cosine, 6) >= threshold mark the
    larger id dropped (same rounded-compare guard as dedup_embedding)."""
    return _kmeans_sql(
        k=k,
        iters=iters,
        tail=f""",
dropped AS (
  SELECT DISTINCT y.id AS id
  FROM fin x JOIN fin y ON x.cl = y.cl AND x.id < y.id
  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold})
SELECT f.id AS vec_id, CAST(f.cl AS INTEGER) AS cluster,
       d.id IS NULL AS keep
FROM fin f LEFT JOIN dropped d USING (id)""",
    )


def _dsir_sql(buckets=1024, seed=0, target_seed=1, target_ppm=100_000) -> str:
    """DSIR oracle: hashed 1+2-gram census for raw (all documents) and
    target (the seeded 10% hash sample), add-1-smoothed bucket
    log-ratios as ONE ln of an exactly-mirrored product ratio, per-doc
    instance-weighted sum rounded at 6."""
    h = _H60.format(x=f"('{seed}:' || g)")
    th = _H60.format(x=f"('{target_seed}:' || doc_id)")
    tpred = f"(({th}) % 1000000) < {target_ppm}"
    return rf"""
WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
                ELSE string_split_regex(trim(text), '\s+') END AS w
           FROM documents),
g1 AS (SELECT doc_id, unnest(w) AS g FROM t),
g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i + 1]
                              for i in range(1, len(w))]) AS g
       FROM t WHERE len(w) >= 2),
feats AS (SELECT doc_id, ({h}) % {buckets} AS b
          FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)),
tfeats AS (SELECT f.b FROM feats f JOIN documents d USING (doc_id)
           WHERE {tpred}),
cr AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
ct AS (SELECT b, count(*) AS ct FROM tfeats GROUP BY b),
tot AS (SELECT (SELECT count(*) FROM feats) AS tr,
               (SELECT count(*) FROM tfeats) AS tt),
lr AS (
  SELECT cr.b,
         ln(((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0)
             * (CAST(tot.tr AS DOUBLE) + 1.0 * {buckets}))
            / ((CAST(cr.cr AS DOUBLE) + 1.0)
               * (CAST(tot.tt AS DOUBLE) + 1.0 * {buckets}))) AS lr
  FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot),
db AS (SELECT doc_id, b, count(*) AS n FROM feats GROUP BY doc_id, b),
sc AS (SELECT doc_id, sum(n) AS n_feats, sum(n * lr) AS logratio
       FROM db JOIN lr USING (b) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
       round(COALESCE(sc.logratio, 0.0), 6) AS logratio
FROM documents d LEFT JOIN sc USING (doc_id)
"""


def _simhash_sql(max_hamming=16) -> str:
    """Unrolled SimHash: the same two 32-bit md5-quarter token hashes
    as dedup.simhash_fingerprints (portable: DuckDB md5 of VARCHAR
    hashes UTF-8 bytes, identical to Spark — non-ASCII corpora match),
    per-bit majority votes, exact all-pairs Hamming filter. Candidates
    need no banding in the oracle — the pair SET is what is compared,
    and banding recall is 1 by construction (dedup.simhash_bands), so
    exact all-pairs equals the Spark result."""
    votes = ",\n           ".join(
        f"sum(CASE WHEN (h{b // 32} >> {b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    fp_sum = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END"
        for b in range(64)
    )
    return rf"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents),
tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
h AS (
    SELECT doc_id,
           ('0x' || substr(md5(tk), 1, 8))::UBIGINT::BIGINT AS h0,
           ('0x' || substr(md5(tk), 9, 8))::UBIGINT::BIGINT AS h1
    FROM tok),
votes AS (
    SELECT doc_id,
           {votes}
    FROM h GROUP BY doc_id),
fph AS (SELECT doc_id, ({fp_sum}) AS f FROM votes),
fp AS (
    SELECT d.doc_id,
           COALESCE(CASE WHEN fph.f >= 9223372036854775808::HUGEINT
                         THEN (fph.f - 18446744073709551616)::BIGINT
                         ELSE fph.f::BIGINT END, 0) AS fp
    FROM (SELECT doc_id FROM documents) d LEFT JOIN fph USING (doc_id))
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
FROM fp x JOIN fp y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.fp, y.fp)) <= {max_hamming}
"""


# --------------------------- relational -------------------------------

PRICING_SQL = """
SELECT l_returnflag,
       l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

TOP_CUSTOMERS_SQL = """
SELECT c.c_custkey AS custkey,
       round(sum(o.o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
ORDER BY revenue DESC, custkey ASC
LIMIT 10
"""

CUBE_ORDERS_SQL = """
SELECT o_orderpriority,
       o_orderstatus,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""

WINDOW_RUNNING_SQL = """
SELECT o_custkey,
       o_orderkey,
       round(sum(o_totalprice) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS running_total,
       CAST(row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
       ) AS INTEGER) AS order_seq
FROM orders
"""

DISTINCT_AGG_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""

EVENTS_HOURLY_SQL = """
SELECT event_type,
       date_trunc('hour', ts) AS hour,
       count(*) AS n,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


def _sql_query(sql: str):
    def run(spark, sf_dir):
        _register_views(spark, sf_dir)
        return spark.sql(sql)

    return run


# --------------------------- the contract -----------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "edges_build": q_edges_build,
        "degrees": q_degrees,
        "pagerank_k3": q_pagerank_k3,
        "pagerank_k8": q_pagerank_k8,
        "ppr_k4": q_ppr_k4,
        "pagerank_weighted_k3": q_pagerank_weighted_k3,
        "pagerank_full": q_pagerank_full,
        "connected_components": q_connected_components,
        "connected_components_star": q_connected_components_star,
        "cc_incremental": q_cc_incremental,
        "modularity_lpa": q_modularity,
        "refine_modularity": q_refine_modularity,
        "crawl_frontier": q_crawl_frontier,
        "dedup_containment": q_dedup_containment,
        "comp_sizes_topk": q_comp_sizes_topk,
        "triangle_count": q_triangle_count,
        "triangle_per_vertex": q_triangle_per_vertex,
        "lpa_k2": q_lpa_k2,
        "maxprop": q_maxprop,
        "hits_k5": q_hits_k5,
        "salsa_k4": q_salsa_k4,
        "sssp_k8": q_sssp_k8,
        "sssp_k8_indexed": q_sssp_k8_indexed,
        "anchor_terms_k3": q_anchor_terms_k3,
        "neigh_k3": q_neigh_k3,
        "harmonic_k3": q_harmonic_k3,
        "scc_fixture": q_scc_fixture,
        "scc_condense": q_scc_condense,
        "topo_levels": q_topo_levels,
        "bowtie_fixture": q_bowtie_fixture,
        "host_graph": q_host_graph,
        "host_pagerank_k3": q_host_pagerank_k3,
        "kcore3_r4": q_kcore3_r4,
        "coreness_r3": q_coreness_r3,
        "butterflies": q_butterflies,
        "temporal_reach_k6": q_temporal_reach_k6,
        "four_cliques": q_four_cliques,
        "louvain_l2": q_louvain_l2,
        "edge_embed": q_edge_embed,
        "crawl_delta": q_crawl_delta,
        "rank_shift_k3": q_rank_shift_k3,
        "mis": q_mis,
        "betweenness_l4": q_betweenness_l4,
        "truss5_r2": q_truss5_r2,
        "redirects": q_redirects,
        "spam_mass_k4": q_spam_mass_k4,
        "cocitation": q_cocitation,
        "random_walks_l3": q_random_walks_l3,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash": q_dedup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_embedding": q_dedup_embedding,
        "dedup_simhash": q_dedup_simhash,
        "fingerprint": q_fingerprint,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_near_dup": q_winnow_near_dup,
        "curate": q_curate,
        "unigram_lm": q_unigram_lm,
        "pii_scan": q_pii_scan,
        "sessions": q_sessions,
        "stratified_sample": q_stratified_sample,
        "dsir_weights": q_dsir_weights,
        "repetition": q_repetition,
        "decontam": q_decontam,
        "bm25": q_bm25,
        "tfidf": q_tfidf,
        "line_dedup": q_line_dedup,
        "dup_spans": q_dup_spans,
        "dup_span_strip": q_dup_span_strip,
        "bpe_merges": q_bpe_merges,
        "bpe_encode": q_bpe_encode,
        "nb_lang": q_nb_lang,
        "coloring_r4": q_coloring_r4,
        "boilerplate_strip": q_boilerplate_strip,
        "sketch_count_min": q_sketch_count_min,
        "sketch_hll": q_sketch_hll,
        "pack_sequences": q_pack_sequences,
        "dedup_incremental": q_dedup_incremental,
        "top_ngrams": q_top_ngrams,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "language_id": q_language_id,
        "simsearch_topk": q_simsearch_topk,
        "simsearch_ivf": q_simsearch_ivf,
        "media_features": q_media_features,
        "canonical_urls": q_canonical_urls,
        "sample_subgraph": q_sample_subgraph,
        "degree_hist": q_degree_hist,
        "token_quantiles": q_token_quantiles,
        "pmi_top": q_pmi,
        "powerlaw_alpha": q_powerlaw,
        "clustering_coeff": q_clustering,
        "reciprocity": q_reciprocity,
        "assortativity": q_assortativity,
        "adamic_adar": q_adamic_adar,
        "jaccard_pairs": q_jaccard,
        "katz_k4": q_katz_k4,
        "eigenvector_k4": q_eigenvector_k4,
        "rich_club": q_rich_club,
        "pseudo_diameter": q_pseudo_diameter,
        "anf_r3": q_anf_r3,
        "mst_boruvka": q_mst,
        "kmeans_k4": q_kmeans,
        "semantic_dedup": q_semantic_dedup,
        "mirror_exact": q_mirror_exact,
        "mirror_pairs": q_mirror_pairs,
        "pricing_summary": _sql_query(PRICING_SQL),
        "top_customers": _sql_query(TOP_CUSTOMERS_SQL),
        "events_hourly": _sql_query(EVENTS_HOURLY_SQL),
        "cube_orders": _sql_query(CUBE_ORDERS_SQL),
        "window_running": _sql_query(WINDOW_RUNNING_SQL),
        "distinct_agg": _sql_query(DISTINCT_AGG_SQL),
    }


def oracle_sql() -> dict[str, str]:
    from pregel_spark.extraction import duckdb_canonical_url as _duckdb_canonical_url
    from pregel_spark.graph.build import (
        duckdb_vertex_sample_pred as _duckdb_sample_pred,
    )
    from pregel_spark.pipeline import (
        duckdb_stratified_sample_pred as _duckdb_strat_pred,
    )

    edges_cte = f"e0 AS ({EDGES_SQL})"
    tri_cte = f"e0 AS ({TRI_EDGES_SQL})"
    return {
        "edges_build": EDGES_SQL,
        "degrees": f"""
WITH {edges_cte},
out_d AS (SELECT src AS id, count(*) AS out_deg FROM e0 GROUP BY src),
in_d AS (SELECT dst AS id, count(*) AS in_deg FROM e0 GROUP BY dst),
ids AS (SELECT id FROM out_d UNION SELECT id FROM in_d)
SELECT ids.id,
       COALESCE(out_d.out_deg, 0) AS out_deg,
       COALESCE(in_d.in_deg, 0) AS in_deg
FROM ids LEFT JOIN out_d ON ids.id = out_d.id LEFT JOIN in_d ON ids.id = in_d.id
""",
        "pagerank_k3": _pagerank_unrolled_sql(3, EDGES_SQL),
        "anf_r3": _anf_unrolled_sql(3, EDGES_SQL),
        "pagerank_k8": _pagerank_unrolled_sql(8, EDGES_SQL),
        "ppr_k4": _ppr_unrolled_sql(4, EDGES_SQL),
        "spam_mass_k4": _spam_mass_unrolled_sql(4, EDGES_SQL),
        "crawl_frontier": f"""
WITH {edges_cte},
seen AS (SELECT DISTINCT src AS url FROM e0),
cites AS (SELECT DISTINCT src, dst AS url FROM e0),
cand AS (SELECT c.url, count(*) AS score
         FROM cites c LEFT JOIN seen s ON s.url = c.url
         WHERE s.url IS NULL GROUP BY c.url),
h AS (SELECT url,
             'h' || substring(url, 1, 1)
                 || CAST(CAST(substring(url, 2) AS BIGINT) % 20 AS STRING) AS host,
             score
      FROM cand),
r AS (SELECT url, host, score,
             ROW_NUMBER() OVER (PARTITION BY host
                                ORDER BY score DESC, url ASC) AS host_rank
      FROM h)
SELECT url, host, score, host_rank FROM r WHERE host_rank <= 5
""",
        "crawl_delta": f"""
WITH o AS (SELECT DISTINCT src, dst FROM ({EDGES_SQL}) x),
n AS (SELECT DISTINCT src, dst FROM ({NEW_EDGES_SQL}) y)
SELECT COALESCE(o.src, n.src) AS src, COALESCE(o.dst, n.dst) AS dst,
       CASE WHEN o.src IS NULL THEN 'added'
            WHEN n.src IS NULL THEN 'removed'
            ELSE 'kept' END AS status
FROM o FULL JOIN n ON o.src = n.src AND o.dst = n.dst
""",
        "rank_shift_k3": f"""
SELECT COALESCE(a.id, b.id) AS id,
       round(a.rank, 6) AS rank_old,
       round(b.rank, 6) AS rank_new,
       round(b.rank - a.rank, 6) AS shift
FROM ({_pagerank_unrolled_sql(3, EDGES_SQL, round_final=False)}) a
FULL JOIN ({_pagerank_unrolled_sql(3, NEW_EDGES_SQL, round_final=False)}) b
  ON a.id = b.id
""",
        "mis": _mis_unrolled_sql(6, TRI_EDGES_SQL),
        "betweenness_l4": _betweenness_unrolled_sql(4, TRI_EDGES_SQL),
        "truss5_r2": _truss_unrolled_sql(5, 2, TRUSS_EDGES_SQL),
        "redirects": f"""
WITH RECURSIVE m AS (
    SELECT src, min(dst) AS dst FROM ({REDIRECTS_SQL}) GROUP BY src),
walk(src, cur, hops) AS (
    SELECT src, dst, CAST(1 AS BIGINT) FROM m
    UNION ALL
    SELECT w.src, m.dst, w.hops + 1 FROM walk w JOIN m ON m.src = w.cur
    WHERE w.hops <= 12),
resolved AS (SELECT src, cur AS final_url, hops AS n_hops FROM walk
             WHERE cur NOT IN (SELECT src FROM m))
SELECT m.src, r.final_url, r.n_hops,
       CASE WHEN r.src IS NULL THEN 'cycle' ELSE 'resolved' END AS status
FROM m LEFT JOIN resolved r ON r.src = m.src
""",
        "cocitation": f"""
WITH {edges_cte},
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
piv AS (SELECT src AS v FROM e GROUP BY src HAVING count(*) <= 100),
nb AS (SELECT e.src AS v, e.dst AS x FROM e JOIN piv ON piv.v = e.src)
SELECT u, w, count(*) AS n_common
FROM (SELECT a.x AS u, b.x AS w FROM nb a JOIN nb b ON a.v = b.v AND a.x < b.x) p
GROUP BY u, w HAVING count(*) >= 2
""",
        "curate": r"""
WITH RECURSIVE toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0),
sh0 AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS shs
    FROM toks WHERE len(w) >= 3),
sh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM sh0),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
dfreq AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
rare AS (SELECT s.id, s.sh FROM sh s JOIN dfreq ON s.sh = dfreq.sh WHERE dfreq.c <= 100),
inter AS (SELECT x.id AS a, y.id AS b, count(*) AS i
          FROM rare x JOIN rare y ON x.sh = y.sh AND x.id < y.id
          GROUP BY x.id, y.id),
p AS (SELECT a, b FROM inter
      JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
      WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.1),
uep AS (SELECT a AS s, b AS d FROM p UNION SELECT b, a FROM p),
reach(id, lbl) AS (
    SELECT s, s FROM uep
    UNION
    SELECT uep.d, r.lbl FROM reach r JOIN uep ON uep.s = r.id),
comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
ex AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
       FROM documents),
t2 AS (SELECT doc_id, text,
              CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                   ELSE string_split_regex(trim(text), '\s+') END AS w
       FROM documents),
lv AS (SELECT doc_id,
              len(list_filter(w, x -> list_contains(['der','die','und','das','ist','ein','nicht'], lower(x)))) AS v_de,
              len(list_filter(w, x -> list_contains(['the','a','and','of','to','in','is','it'], lower(x)))) AS v_en,
              len(list_filter(w, x -> list_contains(['el','la','y','de','que','los','es'], lower(x)))) AS v_es,
              len(list_filter(w, x -> list_contains(['le','la','et','les','des','est','un'], lower(x)))) AS v_fr
       FROM t2),
lg AS (SELECT doc_id,
              CASE WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'und'
                   WHEN v_de = greatest(v_de, v_en, v_es, v_fr) THEN 'de'
                   WHEN v_en = greatest(v_de, v_en, v_es, v_fr) THEN 'en'
                   WHEN v_es = greatest(v_de, v_en, v_es, v_fr) THEN 'es'
                   ELSE 'fr' END AS lang_pred
       FROM lv),
qm AS (SELECT doc_id,
              CAST(len(w) AS INTEGER) AS n_tokens,
              len(regexp_extract_all(text, '[.!?,;:]'))
                / CAST(greatest(length(text), 1) AS DOUBLE) AS pr,
              len(list_filter(w, x -> list_contains(
                    ['the','a','and','of','to','in','is','it'], lower(x))))
                / CAST(greatest(len(w), 1) AS DOUBLE) AS sr
       FROM t2),
qq AS (SELECT doc_id, n_tokens,
              round(0.4 * least(1.0, n_tokens / 50.0)
                    + 0.3 * (1.0 - least(1.0, pr * 10))
                    + 0.3 * least(1.0, sr * 5), 6) AS quality
       FROM qm),
g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
                              for i in range(1, len(w))]) AS g
       FROM t2 WHERE len(w) >= 2),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
rp AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top2
       FROM c2 GROUP BY doc_id),
nd AS (SELECT d.doc_id,
              (d.doc_id = COALESCE(c.cluster_id, d.doc_id)) AS nd_keep
       FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
verdict AS (
    SELECT ex.doc_id,
           CASE WHEN ex.doc_id <> ex.keep_id THEN 'exact_dup'
                WHEN NOT nd.nd_keep THEN 'near_dup'
                WHEN lg.lang_pred NOT IN ('en', 'de') THEN 'lang'
                WHEN qq.n_tokens < 20 THEN 'too_short'
                WHEN qq.n_tokens > 1000000 THEN 'too_long'
                WHEN qq.quality < 0.6 THEN 'low_quality'
                WHEN COALESCE(rp.top2, 0.0) > 0.1 THEN 'repetitive'
                ELSE 'ok' END AS reason
    FROM ex JOIN nd USING (doc_id) JOIN lg USING (doc_id)
            JOIN qq USING (doc_id) LEFT JOIN rp USING (doc_id))
SELECT doc_id, (reason = 'ok') AS keep, reason FROM verdict
""",
        "unigram_lm": r"""
WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
                ELSE string_split_regex(trim(text), '\s+') END AS w
           FROM documents),
i AS (SELECT doc_id, unnest(w) AS term FROM t),
tc AS (SELECT term, CAST(count(*) AS DOUBLE) AS c FROM i GROUP BY term),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM i),
sc AS (SELECT doc_id, avg(ln(c / n)) AS mlp
       FROM i JOIN tc USING (term) CROSS JOIN tot GROUP BY doc_id)
SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
       round(COALESCE(sc.mlp, 0.0), 6) AS mean_logprob
FROM t LEFT JOIN sc USING (doc_id)
""",
        "pii_scan": f"""
WITH p AS ({PII_DOCS_SQL})
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INTEGER)
           AS emails,
       CAST(len(regexp_extract_all(text,
            '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS INTEGER) AS ipv4s,
       CAST(len(regexp_extract_all(text, '\\+[0-9]{{7,15}}')) AS INTEGER)
           AS intl_phones
FROM p
""",
        "sessions": """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
s AS (SELECT user_id, event_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS st
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
x AS (SELECT user_id, us, event_id,
             CAST(sum(st) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_idx
      FROM s)
SELECT user_id, session_idx, count(*) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       round((max(us) - min(us)) / 1000000.0, 6) AS duration_sec
FROM x GROUP BY user_id, session_idx
""",
        "stratified_sample": (
            "SELECT doc_id, lang FROM documents WHERE "
            + _duckdb_strat_pred(
                {"en": 0.8, "de": 0.2, "fr": 0.5}, default_rate=0.1, seed=7
            )
        ),
        "repetition": r"""
WITH t AS (SELECT doc_id,
                  CASE WHEN length(trim(text)) = 0 THEN []
                       ELSE string_split_regex(trim(text), '\s+') END AS w,
                  string_split(text, chr(10)) AS lines
           FROM documents),
l AS (SELECT doc_id, unnest(lines) AS ln FROM t),
lc AS (SELECT doc_id, ln, count(*) AS c FROM l GROUP BY doc_id, ln),
ls AS (SELECT doc_id,
              CAST(sum(c) AS BIGINT) AS n_lines,
              CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dupl,
              CAST(sum(c * length(ln)) AS BIGINT) AS chars,
              CAST(sum(CASE WHEN c >= 2 THEN c * length(ln) ELSE 0 END) AS BIGINT) AS dupchars
       FROM lc GROUP BY doc_id),
g2 AS (SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
                              for i in range(1, len(w))]) AS g
       FROM t WHERE len(w) >= 2),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
a2 AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top, CAST(sum(c) AS BIGINT) AS tot,
              CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
       FROM c2 GROUP BY doc_id),
g3 AS (SELECT doc_id, unnest([array_to_string(w[i:i+2], ' ')
                              for i in range(1, len(w) - 1)]) AS g
       FROM t WHERE len(w) >= 3),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
a3 AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top, CAST(sum(c) AS BIGINT) AS tot,
              CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup
       FROM c3 GROUP BY doc_id)
SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens, ls.n_lines,
       round(CAST(ls.dupl AS DOUBLE) / ls.n_lines, 6) AS dup_line_frac,
       round(CASE WHEN ls.chars > 0
                  THEN CAST(ls.dupchars AS DOUBLE) / ls.chars ELSE 0.0 END, 6)
           AS dup_line_char_frac,
       round(COALESCE(CAST(a2.top AS DOUBLE) / a2.tot, 0.0), 6) AS top2_frac,
       round(COALESCE(CAST(a2.dup AS DOUBLE) / a2.tot, 0.0), 6) AS dup2_frac,
       round(COALESCE(CAST(a3.top AS DOUBLE) / a3.tot, 0.0), 6) AS top3_frac,
       round(COALESCE(CAST(a3.dup AS DOUBLE) / a3.tot, 0.0), 6) AS dup3_frac
FROM t JOIN ls USING (doc_id)
LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
""",
        "decontam": r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0),
sh0 AS (
    SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                  for i in range(1, len(w) - 2)]) AS shs
    FROM toks WHERE len(w) >= 4),
sh AS (SELECT doc_id, unnest(shs) AS sh FROM sh0),
ev AS (SELECT * FROM sh WHERE doc_id % 25 = 0),
tr AS (SELECT * FROM sh WHERE doc_id % 25 <> 0),
evsz AS (SELECT doc_id AS eval_id, count(*) AS eval_ngrams FROM ev GROUP BY doc_id),
hits AS (
    SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, count(*) AS n_overlap
    FROM tr JOIN ev USING (sh) GROUP BY tr.doc_id, ev.doc_id)
SELECT train_id, eval_id, n_overlap, eval_ngrams,
       round(n_overlap / CAST(eval_ngrams AS DOUBLE), 6) AS frac
FROM hits JOIN evsz USING (eval_id)
""",
        "bm25": r"""
WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
                ELSE string_split_regex(trim(text), '\s+') END AS w
           FROM documents),
dlen AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS dl FROM t),
idx AS (SELECT doc_id, unnest(w) AS term FROM t),
tfp AS (SELECT term, doc_id, count(*) AS tf FROM idx GROUP BY term, doc_id),
dfp AS (SELECT term, count(*) AS df FROM tfp GROUP BY term),
st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
              avg(CAST(dl AS DOUBLE)) AS avgdl FROM dlen)
SELECT tfp.term, tfp.doc_id, tfp.tf, dfp.df, dlen.dl,
       round(
         ln(1.0 + (n_docs - CAST(dfp.df AS DOUBLE) + 0.5)
                  / (CAST(dfp.df AS DOUBLE) + 0.5))
         * (CAST(tfp.tf AS DOUBLE) * 2.2)
         / (CAST(tfp.tf AS DOUBLE)
            + 1.2 * (0.25 + 0.75 * CAST(dlen.dl AS DOUBLE) / avgdl)),
         6) AS score
FROM tfp JOIN dfp USING (term) JOIN dlen USING (doc_id) CROSS JOIN st
""",
        "tfidf": r"""
WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
                ELSE string_split_regex(trim(text), '\s+') END AS w
           FROM documents),
idx AS (SELECT doc_id, unnest(w) AS term FROM t),
tfp AS (SELECT term, doc_id, count(*) AS tf FROM idx GROUP BY term, doc_id),
dfp AS (SELECT term, count(*) AS df FROM tfp GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT tfp.term, tfp.doc_id, tfp.tf, dfp.df,
       round(CAST(tfp.tf AS DOUBLE)
             * ln(1.0 + n_docs / CAST(dfp.df AS DOUBLE)), 6) AS score
FROM tfp JOIN dfp USING (term) CROSS JOIN n
""",
        "pagerank_weighted_k3": _wpagerank_unrolled_sql(3, W_EDGES_SQL),
        "connected_components": f"""
WITH RECURSIVE {edges_cte},
{_UE_CTE},
{_CC_CTE}
SELECT id, component FROM comp
""",
        "connected_components_star": f"""
WITH RECURSIVE {edges_cte},
{_UE_CTE},
{_CC_CTE}
SELECT id, component FROM comp
""",
        # full CC over old ∪ delta — equality IS the incremental claim
        "cc_incremental": f"""
WITH RECURSIVE {edges_cte},
{_UE_CTE},
{_CC_CTE}
SELECT id, component FROM comp
""",
        "comp_sizes_topk": f"""
WITH RECURSIVE {edges_cte},
{_UE_CTE},
{_CC_CTE}
SELECT component, count(*) AS sz FROM comp
GROUP BY component ORDER BY sz DESC, component ASC LIMIT 5
""",
        "triangle_count": f"""
WITH {tri_cte},
{_UE_CTE},
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
ce AS (SELECT ue.src, ue.dst FROM ue
       JOIN deg a ON a.id = ue.src JOIN deg b ON b.id = ue.dst
       WHERE a.deg < b.deg OR (a.deg = b.deg AND ue.src < ue.dst)),
wed AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM ce e1 JOIN ce e2 ON e1.src = e2.src AND e1.dst < e2.dst),
tri AS (SELECT u, v, w FROM wed
        JOIN (SELECT LEAST(src, dst) AS v, GREATEST(src, dst) AS w FROM ce) c
        USING (v, w))
SELECT count(*) AS n_triangles FROM tri
""",
        "triangle_per_vertex": f"""
WITH {tri_cte},
{_UE_CTE},
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
ce AS (SELECT ue.src, ue.dst FROM ue
       JOIN deg a ON a.id = ue.src JOIN deg b ON b.id = ue.dst
       WHERE a.deg < b.deg OR (a.deg = b.deg AND ue.src < ue.dst)),
wed AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        FROM ce e1 JOIN ce e2 ON e1.src = e2.src AND e1.dst < e2.dst),
tri AS (SELECT u, v, w FROM wed
        JOIN (SELECT LEAST(src, dst) AS v, GREATEST(src, dst) AS w FROM ce) c
        USING (v, w)),
credit AS (SELECT u AS id FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri),
verts AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
cnt AS (SELECT id, count(*) AS triangles FROM credit GROUP BY id)
SELECT verts.id, COALESCE(cnt.triangles, 0) AS triangles
FROM verts LEFT JOIN cnt ON verts.id = cnt.id
""",
        "lpa_k2": f"""
WITH {tri_cte},
{_UE_CTE},
v AS (SELECT src AS id FROM ue UNION SELECT dst FROM ue),
l0 AS (SELECT id, id AS label FROM v),
c1 AS (SELECT ue.dst AS id, l.label AS cand, count(*) AS n
       FROM ue JOIN l0 l ON l.id = ue.src GROUP BY ue.dst, l.label),
p1 AS (SELECT id, cand AS label FROM (
         SELECT id, cand, ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, cand ASC) AS rn
         FROM c1) t WHERE rn = 1),
l1 AS (SELECT v.id, COALESCE(p1.label, v.id) AS label FROM v LEFT JOIN p1 ON p1.id = v.id),
c2 AS (SELECT ue.dst AS id, l.label AS cand, count(*) AS n
       FROM ue JOIN l1 l ON l.id = ue.src GROUP BY ue.dst, l.label),
p2 AS (SELECT id, cand AS label FROM (
         SELECT id, cand, ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, cand ASC) AS rn
         FROM c2) t WHERE rn = 1)
SELECT v.id, COALESCE(p2.label, v.id) AS label FROM v LEFT JOIN p2 ON p2.id = v.id
""",
        "modularity_lpa": f"""
WITH {tri_cte},
{_UE_CTE},
{_LPA2_LBL_CTE},
up AS (SELECT src AS u, dst AS w FROM ue WHERE src < dst),
m AS (SELECT count(*) AS m FROM up),
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
degsum AS (SELECT l.label, SUM(COALESCE(deg.deg, 0)) AS deg_sum
           FROM lbl l LEFT JOIN deg ON deg.id = l.id GROUP BY l.label),
intra AS (SELECT la.label, count(*) AS intra_edges
          FROM up JOIN lbl la ON la.id = up.u JOIN lbl lb ON lb.id = up.w
          WHERE la.label = lb.label GROUP BY la.label)
SELECT d.label, COALESCE(i.intra_edges, 0) AS intra_edges, d.deg_sum, m.m,
       CAST(4 * m.m * COALESCE(i.intra_edges, 0) - d.deg_sum * d.deg_sum
            AS BIGINT) AS q_num
FROM degsum d LEFT JOIN intra i ON i.label = d.label CROSS JOIN m
""",
        # integer-exact local-move argmax: score 2m*k - d*sig' (= gain
        # * 2m^2), current community biased to win ties (strict
        # improvement only), then min label
        "refine_modularity": f"""
WITH {tri_cte},
{_UE_CTE},
{_LPA2_LBL_CTE},
m AS (SELECT count(*) // 2 AS m FROM ue),
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
k AS (SELECT ue.src AS id, l.label AS cand, count(*) AS k
      FROM ue JOIN lbl l ON l.id = ue.dst GROUP BY ue.src, l.label),
cands AS (SELECT id, cand, max(k) AS k FROM (
            SELECT id, cand, k FROM k
            UNION ALL SELECT id, label AS cand, 0 AS k FROM lbl) u
          GROUP BY id, cand),
sig AS (SELECT l.label, SUM(COALESCE(deg.deg, 0)) AS sig
        FROM lbl l LEFT JOIN deg ON deg.id = l.id GROUP BY l.label),
scored AS (SELECT c.id, c.cand, l.label AS cur, COALESCE(d.deg, 0) AS d, c.k,
                  s.sig - CASE WHEN c.cand = l.label
                               THEN COALESCE(d.deg, 0) ELSE 0 END AS sigx
           FROM cands c JOIN lbl l ON l.id = c.id
           LEFT JOIN deg d ON d.id = c.id
           JOIN sig s ON s.label = c.cand),
pick AS (SELECT id, cand,
                ROW_NUMBER() OVER (PARTITION BY id ORDER BY
                    2 * m.m * k - d * sigx DESC,
                    CASE WHEN cand = cur THEN 0 ELSE 1 END ASC,
                    cand ASC) AS rn
         FROM scored CROSS JOIN m)
SELECT id, cand AS label FROM pick WHERE rn = 1
""",
        "maxprop": f"""
WITH RECURSIVE {edges_cte},
{_UE_CTE},
{_CC_CTE},
vals AS (SELECT id, CAST(substring(id, 2) AS BIGINT) AS value FROM comp),
mx AS (SELECT c.component, max(vals.value) AS mv
       FROM comp c JOIN vals ON vals.id = c.id GROUP BY c.component)
SELECT c.id, mx.mv AS value FROM comp c JOIN mx ON mx.component = c.component
""",
        "hits_k5": _hits_unrolled_sql(5, EDGES_SQL),
        "salsa_k4": _salsa_unrolled_sql(4, EDGES_SQL),
        "sssp_k8": _sssp_unrolled_sql(8, W_EDGES_SQL, "c0"),
        "temporal_reach_k6": _temporal_unrolled_sql(6, TEMPORAL_EDGES_SQL),
        "louvain_l2": _louvain_unrolled_sql(TRI_EDGES_SQL, rounds=2),
        "four_cliques": f"""
WITH e0 AS ({QUAD_EDGES_SQL}),
sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS x,
                           greatest(src, dst) AS y
     FROM sym WHERE src <> dst)
SELECT count(*) AS n_quads
FROM ue ab JOIN ue ac ON ac.x = ab.x JOIN ue ad ON ad.x = ab.x
JOIN ue bc ON bc.x = ab.y AND bc.y = ac.y
JOIN ue bd ON bd.x = ab.y AND bd.y = ad.y
JOIN ue cd ON cd.x = ac.y AND cd.y = ad.y
WHERE ab.y < ac.y AND ac.y < ad.y
""",
        "sssp_k8_indexed": _sssp_unrolled_sql(8, W_EDGES_SQL, "c0"),
        "anchor_terms_k3": f"""
WITH a AS ({ANCHOR_SQL}),
t AS (SELECT dst, unnest(string_split(lower(anchor), ' ')) AS term FROM a),
c AS (SELECT dst, term, count(*) AS n FROM t
      WHERE length(term) >= 1 GROUP BY dst, term),
r AS (SELECT dst, term, n,
             row_number() OVER (PARTITION BY dst
                                ORDER BY n DESC, term ASC) AS rank
      FROM c)
SELECT dst, term, n, rank FROM r WHERE rank <= 3
""",
        "neigh_k3": f"""
WITH RECURSIVE e0 AS ({TRI_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e
                               UNION ALL SELECT dst AS id FROM e) vu),
r(a, b, d) AS (SELECT id, id, 0 FROM v
               UNION
               SELECT r.a, e.dst, r.d + 1
               FROM r JOIN e ON e.src = r.b WHERE r.d < 3)
SELECT a AS id, CAST(count(DISTINCT b) AS DOUBLE) AS reach
FROM r GROUP BY a
""",
        "harmonic_k3": f"""
WITH RECURSIVE e0 AS ({TRI_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e
                               UNION ALL SELECT dst AS id FROM e) vu),
r(a, b, d) AS (SELECT id, id, 0 FROM v
               UNION
               SELECT r.a, e.dst, r.d + 1
               FROM r JOIN e ON e.src = r.b WHERE r.d < 3),
md AS (SELECT a, b, min(d) AS d FROM r GROUP BY a, b)
SELECT b AS id,
       round(sum(CASE WHEN d > 0 THEN 1.0 / d ELSE 0.0 END), 6) AS harmonic
FROM md GROUP BY b
""",
        "scc_fixture": f"""
WITH RECURSIVE {_SCC_CLOSURE_CTES}
SELECT id, scc FROM sccs
""",
        "scc_condense": f"""
WITH RECURSIVE {_SCC_CLOSURE_CTES}
SELECT DISTINCT sa.scc AS src, sb.scc AS dst
FROM e JOIN sccs sa ON sa.id = e.src JOIN sccs sb ON sb.id = e.dst
WHERE sa.scc <> sb.scc
""",
        "topo_levels": f"""
WITH RECURSIVE {_SCC_CLOSURE_CTES},
ce AS (SELECT DISTINCT sa.scc AS src, sb.scc AS dst
       FROM e JOIN sccs sa ON sa.id = e.src JOIN sccs sb ON sb.id = e.dst
       WHERE sa.scc <> sb.scc),
cv AS (SELECT src AS id FROM ce UNION SELECT dst FROM ce),
lp(id, d) AS (
    SELECT id, 0 FROM cv WHERE id NOT IN (SELECT dst FROM ce)
    UNION ALL
    SELECT ce.dst, lp.d + 1 FROM lp JOIN ce ON ce.src = lp.id)
SELECT id, CAST(max(d) AS INT) AS level FROM lp GROUP BY id
""",
        "bowtie_fixture": f"""
WITH RECURSIVE {_SCC_CLOSURE_CTES},
giant AS (SELECT scc FROM sccs GROUP BY scc
          ORDER BY count(*) DESC, scc ASC LIMIT 1),
core AS (SELECT id FROM sccs WHERE scc = (SELECT scc FROM giant)),
fwd AS (SELECT DISTINCT id FROM (SELECT id FROM core UNION ALL
        SELECT r.b AS id FROM r JOIN core ON r.a = core.id) fu),
bwd AS (SELECT DISTINCT id FROM (SELECT id FROM core UNION ALL
        SELECT r.a AS id FROM r JOIN core ON r.b = core.id) bu),
outv AS (SELECT f.id FROM fwd f LEFT JOIN core c ON c.id = f.id
         WHERE c.id IS NULL),
inv AS (SELECT b.id FROM bwd b LEFT JOIN core c ON c.id = b.id
        WHERE c.id IS NULL),
known AS (SELECT DISTINCT id FROM (SELECT id FROM core
          UNION ALL SELECT id FROM outv
          UNION ALL SELECT id FROM inv) ku),
fin AS (SELECT DISTINCT r.b AS id FROM r JOIN inv ON r.a = inv.id
        LEFT JOIN known k ON k.id = r.b WHERE k.id IS NULL),
bout AS (SELECT DISTINCT r.a AS id FROM r JOIN outv ON r.b = outv.id
         LEFT JOIN known k ON k.id = r.a WHERE k.id IS NULL),
tubes AS (SELECT f.id FROM fin f JOIN bout b ON b.id = f.id),
tend AS (SELECT DISTINCT u.id
         FROM (SELECT id FROM fin UNION ALL SELECT id FROM bout) u
         LEFT JOIN tubes t ON t.id = u.id WHERE t.id IS NULL)
SELECT v.id,
       CASE WHEN c.id IS NOT NULL THEN 'CORE'
            WHEN i.id IS NOT NULL THEN 'IN'
            WHEN o.id IS NOT NULL THEN 'OUT'
            WHEN tb.id IS NOT NULL THEN 'TUBES'
            WHEN td.id IS NOT NULL THEN 'TENDRILS'
            ELSE 'DISC' END AS region
FROM v
LEFT JOIN core c ON c.id = v.id
LEFT JOIN inv i ON i.id = v.id
LEFT JOIN outv o ON o.id = v.id
LEFT JOIN tubes tb ON tb.id = v.id
LEFT JOIN tend td ON td.id = v.id
""",
        "host_graph": HOST_EDGES_SQL,
        "host_pagerank_k3": _pagerank_unrolled_sql(3, HOST_EDGES_SQL),
        "kcore3_r4": _kcore_unrolled_sql(3, 4, TRI_EDGES_SQL),
        "coreness_r3": _coreness_unrolled_sql(3, TRI_EDGES_SQL),
        "butterflies": f"""
WITH {edges_cte},
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
piv AS (SELECT src AS v FROM e GROUP BY src HAVING count(*) <= 100),
nb AS (SELECT e.src AS v, e.dst AS x FROM e JOIN piv ON piv.v = e.src),
pr AS (SELECT u, w, count(*) AS n_common
       FROM (SELECT a.x AS u, b.x AS w FROM nb a
             JOIN nb b ON a.v = b.v AND a.x < b.x) p
       GROUP BY u, w HAVING count(*) >= 2)
SELECT count(*) AS n_pairs,
       COALESCE(CAST(sum((n_common * (n_common - 1)) // 2) AS BIGINT), 0)
           AS n_butterflies
FROM pr
""",
        "edge_embed": f"""
WITH e0 AS ({TRI_EDGES_SQL}),
{_UE_CTE},
ce AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM ue),
cn AS (SELECT ce.u, ce.v, count(*) AS n_common
       FROM ce JOIN ue a ON a.src = ce.u JOIN ue b ON b.src = ce.v
                        AND a.dst = b.dst
       GROUP BY ce.u, ce.v)
SELECT ce.u, ce.v,
       COALESCE(cn.n_common, 0) AS n_common,
       (COALESCE(cn.n_common, 0) = 0) AS is_local_bridge
FROM ce LEFT JOIN cn ON cn.u = ce.u AND cn.v = ce.v
""",
        "random_walks_l3": _walks_unrolled_sql(3, TRI_EDGES_SQL, 42),
        "dedup_exact": """
SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
FROM documents GROUP BY md5(text)
""",
        "dedup_ngram_jaccard": r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0),
sh0 AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS shs
    FROM toks WHERE len(w) >= 3),
sh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM sh0),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
dfreq AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
rare AS (SELECT s.id, s.sh FROM sh s JOIN dfreq ON s.sh = dfreq.sh WHERE dfreq.c <= 100),
inter AS (SELECT x.id AS a, y.id AS b, count(*) AS i
          FROM rare x JOIN rare y ON x.sh = y.sh AND x.id < y.id
          GROUP BY x.id, y.id),
j AS (SELECT a, b,
             round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) AS jaccard
      FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b)
SELECT a, b, jaccard FROM j WHERE jaccard >= 0.1
""",
        "dedup_containment": r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0),
sh0 AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS shs
    FROM toks WHERE len(w) >= 3),
sh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM sh0),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
dfreq AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
rare AS (SELECT s.id, s.sh FROM sh s JOIN dfreq ON s.sh = dfreq.sh WHERE dfreq.c <= 100),
inter AS (SELECT x.id AS a, y.id AS b, count(*) AS i
          FROM rare x JOIN rare y ON x.sh = y.sh AND x.id < y.id
          GROUP BY x.id, y.id),
bi AS (SELECT a, b, i FROM inter UNION ALL SELECT b AS a, a AS b, i FROM inter),
c AS (SELECT bi.a AS inner_id, bi.b AS outer_id,
             round(i / CAST(sa.sz AS DOUBLE), 6) AS containment
      FROM bi JOIN sizes sa ON sa.id = bi.a)
SELECT inner_id, outer_id, containment FROM c WHERE containment >= 0.5
""",
        "dedup_minhash": _minhash_sql(threshold=0.1),
        "mirror_exact": _MIRROR_EXACT_SQL,
        "mirror_pairs": _minhash_sql(
            threshold=0.4,
            num_hashes=32,
            bands=16,
            max_k=1,
            docs_sql=_MIRROR_DOCS_SQL,
        ),
        "dedup_clusters": r"""
WITH RECURSIVE toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
    FROM documents WHERE length(trim(text)) > 0),
sh0 AS (
    SELECT doc_id,
           list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS shs
    FROM toks WHERE len(w) >= 3),
sh AS (SELECT doc_id AS id, unnest(shs) AS sh FROM sh0),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
dfreq AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
rare AS (SELECT s.id, s.sh FROM sh s JOIN dfreq ON s.sh = dfreq.sh WHERE dfreq.c <= 100),
inter AS (SELECT x.id AS a, y.id AS b, count(*) AS i
          FROM rare x JOIN rare y ON x.sh = y.sh AND x.id < y.id
          GROUP BY x.id, y.id),
p AS (SELECT a, b FROM inter
      JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
      WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 6) >= 0.1),
ue AS (SELECT a AS s, b AS d FROM p UNION SELECT b, a FROM p),
reach(id, lbl) AS (
    SELECT s, s FROM ue
    UNION
    SELECT ue.d, r.lbl FROM reach r JOIN ue ON ue.s = r.id),
comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       (d.doc_id = COALESCE(c.cluster_id, d.doc_id)) AS keep
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
""",
        "dedup_simhash": _simhash_sql(max_hamming=7),
        "winnow_fingerprints": WINNOW_FP_SQL,
        "winnow_near_dup": WINNOW_PAIRS_SQL,
        "dedup_embedding": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
""",
        "fingerprint": r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents
""",
        "line_dedup": r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents),
ch AS (
    SELECT doc_id,
           unnest(range(1, CAST(ceil(len(w) / 10.0) AS INT) + 1)) AS pos,
           unnest([array_to_string(w[(i-1)*10+1:i*10], ' ')
                   for i in range(1, CAST(ceil(len(w) / 10.0) AS INT) + 1)]) AS line
    FROM t WHERE len(w) > 0),
rk AS (
    SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
    FROM ch),
reb AS (
    SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text,
           count(*) AS k
    FROM rk WHERE rn = 1 GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(reb.text, '') AS text,
       CAST(COALESCE(reb.k, 0) AS BIGINT) AS n_lines_kept,
       CAST(COALESCE(tot.n, 0) - COALESCE(reb.k, 0) AS BIGINT) AS n_lines_dropped
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
""",
        "dup_spans": _dup_spans_sql(k=8),
        "dup_span_strip": _dup_span_strip_sql(k=8),
        "bpe_merges": _bpe_merges_sql(8),
        "bpe_encode": _bpe_encode_sql(8),
        "nb_lang": r"""
WITH inst AS MATERIALIZED (
    SELECT lang AS label,
           unnest(string_split_regex(trim(text), '\s+')) AS term
    FROM documents WHERE length(trim(text)) > 0),
nd AS MATERIALIZED (SELECT lang AS label, count(*) AS n FROM documents GROUP BY 1),
ntk AS MATERIALIZED (SELECT label, count(*) AS n FROM inst GROUP BY 1),
cnt AS MATERIALIZED (SELECT term, label, count(*) AS c FROM inst GROUP BY 1, 2),
vv AS MATERIALIZED (SELECT count(DISTINCT term) AS v FROM cnt),
tot AS MATERIALIZED (SELECT sum(n) AS t FROM nd),
dt AS MATERIALIZED (
    SELECT doc_id, term, count(*) AS k FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0)
    GROUP BY 1, 2),
sc AS MATERIALIZED (
    SELECT dt.doc_id, nd.label,
           round(sum(dt.k * (ln(COALESCE(cnt.c, 0) + 1.0) - ln(ntk.n + vv.v)))
                 + ln(nd.n) - ln(tot.t), 6) AS score
    FROM dt CROSS JOIN nd CROSS JOIN vv CROSS JOIN tot
    JOIN ntk ON ntk.label = nd.label
    LEFT JOIN cnt ON cnt.term = dt.term AND cnt.label = nd.label
    GROUP BY dt.doc_id, nd.label, nd.n, tot.t),
emp AS (
    SELECT d.doc_id, nd.label, round(ln(nd.n) - ln(tot.t), 6) AS score
    FROM documents d CROSS JOIN nd CROSS JOIN tot
    WHERE length(trim(d.text)) = 0)
SELECT doc_id, label, score FROM (
    SELECT doc_id, label, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, label) AS rn
    FROM (SELECT * FROM sc UNION ALL SELECT * FROM emp))
WHERE rn = 1
""",
        "coloring_r4": _coloring_unrolled_sql(4, TRI_EDGES_SQL),
        "sketch_count_min": r"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
    FROM documents WHERE length(trim(text)) > 0),
cells AS (
    SELECT d.d AS depth,
           CAST((('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || token), 1, 15))::UBIGINT::BIGINT)
                % 256 AS INTEGER) AS bucket
    FROM toks CROSS JOIN (VALUES (0), (1), (2), (3)) d(d))
SELECT CAST(depth AS INTEGER) AS depth, bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY depth, bucket
""",
        "sketch_hll": r"""
WITH toks AS (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
    FROM documents WHERE length(trim(text)) > 0),
h AS (SELECT (('0x' || substr(md5('0:' || token), 1, 15))::UBIGINT::BIGINT) AS h
      FROM toks)
SELECT CAST(h % 1024 AS INTEGER) AS bucket,
       CAST(max(least(bit_count(((h >> 10) & -(h >> 10)) - 1), 50) + 1) AS INTEGER) AS r
FROM h GROUP BY bucket
""",
        "boilerplate_strip": r"""
WITH t AS (
    SELECT doc_id, source,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents),
ch AS (
    SELECT doc_id, source,
           unnest(range(1, CAST(ceil(len(w) / 10.0) AS INT) + 1)) AS pos,
           unnest([array_to_string(w[(i-1)*10+1:i*10], ' ')
                   for i in range(1, CAST(ceil(len(w) / 10.0) AS INT) + 1)]) AS line
    FROM t WHERE len(w) > 0),
hd AS (SELECT source, count(DISTINCT doc_id) AS nd FROM documents GROUP BY source),
lc AS (SELECT source, line, count(DISTINCT doc_id) AS c
       FROM ch GROUP BY source, line),
bp AS (SELECT lc.source, lc.line
       FROM lc JOIN hd USING (source)
       WHERE lc.c >= greatest(2, CAST(ceil(0.05 * hd.nd) AS BIGINT))),
kept AS (SELECT ch.doc_id, ch.pos, ch.line
         FROM ch LEFT JOIN bp
           ON bp.source = ch.source AND bp.line = ch.line
         WHERE bp.line IS NULL),
reb AS (SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text,
               count(*) AS k
        FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(reb.text, '') AS text,
       CAST(COALESCE(reb.k, 0) AS BIGINT) AS n_lines_kept,
       CAST(COALESCE(tot.n, 0) - COALESCE(reb.k, 0) AS BIGINT) AS n_lines_dropped
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
""",
        "pack_sequences": r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents),
s AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens FROM t),
c AS (
    SELECT doc_id, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
    FROM s)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 512 AS BIGINT) AS shard_id
FROM c
""",
        "dedup_incremental": """
WITH base AS (
    SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 5 <> 0),
fresh AS (
    SELECT md5(text) AS h, min(doc_id) AS doc_id
    FROM documents WHERE doc_id % 5 = 0 GROUP BY md5(text))
SELECT f.doc_id, f.h
FROM fresh f LEFT JOIN base b ON f.h = b.h
WHERE b.h IS NULL
""",
        "top_ngrams": r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents),
g AS (
    SELECT doc_id,
           unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS ngram
    FROM t WHERE len(w) >= 2)
SELECT ngram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM g GROUP BY ngram
ORDER BY n_occurrences DESC, ngram LIMIT 20
""",
        "token_stats": r"""
WITH t AS (
    SELECT doc_id,
           text,
           length(text) AS n_chars_text,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents)
SELECT doc_id,
       CAST(len(w) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS INTEGER) AS n_subwords,
       CAST(n_chars_text AS INTEGER) AS n_chars_text,
       round(COALESCE(list_sum(list_transform(w, x -> CAST(length(x) AS DOUBLE))), 0.0)
             / greatest(len(w), 1), 6) AS avg_token_len
FROM t
""",
        "quality_score": r"""
WITH t AS (
    SELECT doc_id, text,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents),
m AS (
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_tokens,
           len(regexp_extract_all(text, '[.!?,;:]'))
             / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
           len(list_filter(w, x -> list_contains(
                 ['the','a','and','of','to','in','is','it'], lower(x))))
             / CAST(greatest(len(w), 1) AS DOUBLE) AS stop_ratio
    FROM t)
SELECT doc_id,
       n_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round(0.4 * least(1.0, n_tokens / 50.0)
             + 0.3 * (1.0 - least(1.0, punct_ratio * 10))
             + 0.3 * least(1.0, stop_ratio * 5), 6) AS quality
FROM m
""",
        "language_id": r"""
WITH t AS (
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                ELSE string_split_regex(trim(text), '\s+') END AS w
    FROM documents),
v AS (
    SELECT doc_id,
           len(list_filter(w, x -> list_contains(['der','die','und','das','ist','ein','nicht'], lower(x)))) AS v_de,
           len(list_filter(w, x -> list_contains(['the','a','and','of','to','in','is','it'], lower(x)))) AS v_en,
           len(list_filter(w, x -> list_contains(['el','la','y','de','que','los','es'], lower(x)))) AS v_es,
           len(list_filter(w, x -> list_contains(['le','la','et','les','des','est','un'], lower(x)))) AS v_fr
    FROM t)
SELECT doc_id,
       CASE WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'und'
            WHEN v_de = greatest(v_de, v_en, v_es, v_fr) THEN 'de'
            WHEN v_en = greatest(v_de, v_en, v_es, v_fr) THEN 'en'
            WHEN v_es = greatest(v_de, v_en, v_es, v_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM v
""",
        # NOTE: ascii(text[i]) / length(text) iterate CHARACTERS while
        # the Spark side strides UTF-8 BYTES (encode(text,'UTF-8')) —
        # they agree only on ASCII corpora (true of this testdata; a
        # byte-exact oracle would use encode()/blob indexing).
        # COALESCE(length,0) matches Spark's n_bytes=0 for NULL text.
        "media_features": """
WITH b AS (
    SELECT doc_id AS media_id,
           (doc_id % 3) AS kd,
           COALESCE(length(text), 0) AS n_bytes,
           (i - 1) % 16 AS dim,
           ascii(text[i]) AS byte
    FROM documents, UNNEST(range(1, COALESCE(length(text), 0) + 1)) AS u(i)
),
f AS (
    SELECT media_id, kd, n_bytes, dim, round(avg(byte) / 255.0, 6) AS value
    FROM b GROUP BY media_id, kd, n_bytes, dim
),
dims AS (
    SELECT m.media_id, m.kd, m.n_bytes, d.dim
    FROM (SELECT doc_id AS media_id, (doc_id % 3) AS kd,
                 COALESCE(length(text), 0) AS n_bytes
          FROM documents) m,
         UNNEST(range(0, 16)) AS d(dim)
)
SELECT dims.media_id,
       CASE dims.kd WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       dims.n_bytes,
       CAST(dims.dim AS INTEGER) AS dim,
       COALESCE(f.value, 0.0) AS value
FROM dims LEFT JOIN f
  ON f.media_id = dims.media_id AND f.dim = dims.dim
""",
        "canonical_urls": f"""
SELECT doc_id, url, {_duckdb_canonical_url("url")} AS curl
FROM ({MESSY_URLS_SQL}) m
""",
        "sample_subgraph": f"""
WITH {edges_cte}
SELECT src, dst, weight FROM e0
WHERE ({_duckdb_sample_pred("src", 0.5, 7)})
  AND ({_duckdb_sample_pred("dst", 0.5, 7)})
""",
        "pmi_top": r"""
WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                       ELSE string_split_regex(trim(text), '\s+') END AS w
           FROM documents),
u AS (SELECT unnest(w) AS tk FROM t),
uc AS (SELECT tk, count(*) AS c FROM u GROUP BY tk),
g AS (SELECT unnest([array_to_string(w[i:i+1], ' ')
                     for i in range(1, len(w))]) AS ngram
      FROM t WHERE len(w) >= 2),
pc AS (SELECT ngram, count(*) AS n_pair FROM g GROUP BY ngram
       HAVING count(*) >= 5),
sp AS (SELECT ngram, n_pair,
              string_split(ngram, ' ')[1] AS a,
              string_split(ngram, ' ')[2] AS b
       FROM pc),
tot AS (SELECT CAST((SELECT count(*) FROM u) AS DOUBLE) AS t1,
               CAST((SELECT count(*) FROM g) AS DOUBLE) AS t2)
SELECT ngram, n_pair,
       round(ln(((CAST(n_pair AS DOUBLE) * t1) * t1)
                / ((CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) * t2)),
             6) AS pmi
FROM sp JOIN uc ua ON sp.a = ua.tk JOIN uc ub ON sp.b = ub.tk
CROSS JOIN tot
ORDER BY pmi DESC, ngram LIMIT 20
""",
        "token_quantiles": r"""
WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS n
           FROM documents),
s AS (SELECT n, row_number() OVER (ORDER BY n) AS rn FROM t),
c AS (SELECT count(*) AS cnt FROM t),
qs AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q)
SELECT qs.q, CAST(s.n AS BIGINT) AS value
FROM qs CROSS JOIN c
JOIN s ON s.rn = least(greatest(CAST(ceil(qs.q * c.cnt) AS BIGINT), 1), c.cnt)
""",
        "powerlaw_alpha": f"""
WITH {edges_cte},
out_d AS (SELECT src AS id, count(*) AS out_deg FROM e0 GROUP BY src),
in_d AS (SELECT dst AS id, count(*) AS in_deg FROM e0 GROUP BY dst),
ids AS (SELECT id FROM out_d UNION SELECT id FROM in_d),
deg AS (SELECT ids.id,
               COALESCE(out_d.out_deg, 0) AS out_deg,
               COALESCE(in_d.in_deg, 0) AS in_deg
        FROM ids LEFT JOIN out_d ON ids.id = out_d.id
                 LEFT JOIN in_d ON ids.id = in_d.id),
fin AS (SELECT 'in' AS kind, 2 AS dmin, count(*) AS n_tail,
               round(1.0 + count(*) / sum(ln(in_deg / 1.5)), 6) AS alpha
        FROM deg WHERE in_deg >= 2),
fout AS (SELECT 'out' AS kind, 2 AS dmin, count(*) AS n_tail,
                round(1.0 + count(*) / sum(ln(out_deg / 1.5)), 6) AS alpha
         FROM deg WHERE out_deg >= 2)
SELECT * FROM fin UNION ALL SELECT * FROM fout
""",
        "degree_hist": f"""
WITH {edges_cte},
out_d AS (SELECT src AS id, count(*) AS out_deg FROM e0 GROUP BY src),
in_d AS (SELECT dst AS id, count(*) AS in_deg FROM e0 GROUP BY dst),
ids AS (SELECT id FROM out_d UNION SELECT id FROM in_d),
d AS (SELECT ids.id,
             COALESCE(out_d.out_deg, 0) AS out_deg,
             COALESCE(in_d.in_deg, 0) AS in_deg
      FROM ids LEFT JOIN out_d ON ids.id = out_d.id
               LEFT JOIN in_d ON ids.id = in_d.id),
u AS (
  SELECT 'out' AS kind,
         CAST(CASE WHEN out_deg = 0 THEN -1
                   ELSE length(printf('%b', out_deg)) - 1 END AS INTEGER) AS bin
  FROM d
  UNION ALL
  SELECT 'in' AS kind,
         CAST(CASE WHEN in_deg = 0 THEN -1
                   ELSE length(printf('%b', in_deg)) - 1 END AS INTEGER) AS bin
  FROM d
)
SELECT kind, bin, count(*) AS n_vertices FROM u GROUP BY kind, bin
""",
        "clustering_coeff": f"""
WITH {tri_cte},
{_UE_CTE},
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
tri AS (
  SELECT e1.src AS id, count(*) AS triangles
  FROM ue e1
  JOIN ue e2 ON e2.src = e1.src AND e1.dst < e2.dst
  JOIN ue e3 ON e3.src = e1.dst AND e3.dst = e2.dst
  GROUP BY e1.src
)
SELECT d.id, d.deg, COALESCE(t.triangles, 0) AS triangles,
       CASE WHEN d.deg < 2 THEN 0.0
            ELSE round(2.0 * COALESCE(t.triangles, 0)
                       / (d.deg * (d.deg - 1.0)), 6) END AS lcc
FROM deg d LEFT JOIN tri t ON t.id = d.id
""",
        "reciprocity": f"""
WITH e0 AS ({RECIP_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
f AS (SELECT e.src, e.dst,
             CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS has_rev
      FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src)
SELECT count(*) AS n_edges,
       sum(has_rev) AS n_reciprocal,
       round(CAST(sum(has_rev) AS DOUBLE) / count(*), 6) AS reciprocity
FROM f
""",
        "assortativity": f"""
WITH {edges_cte},
{_UE_CTE},
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
p AS (SELECT du.deg AS dx, dv.deg AS dy
      FROM ue JOIN deg du ON du.id = ue.src JOIN deg dv ON dv.id = ue.dst),
s AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(dx) AS BIGINT) AS sx,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx
      FROM p)
SELECT n AS n_pairs,
       round(CAST(n * sxy - sx * sx AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS assortativity
FROM s
""",
        "adamic_adar": f"""
WITH {edges_cte},
{_UE_CTE},
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
nb AS (SELECT ue.src AS v, ue.dst AS x, 1.0 / ln(d.deg) AS inv_ln
       FROM ue JOIN deg d ON d.id = ue.src WHERE d.deg <= 100),
p AS (SELECT a.x AS u, b.x AS w,
             count(*) AS n_common, sum(a.inv_ln) AS aa
      FROM nb a JOIN nb b ON b.v = a.v AND a.x < b.x
      GROUP BY a.x, b.x
      HAVING count(*) >= 2)
SELECT p.u, p.w, p.n_common, round(p.aa, 6) AS aa_score
FROM p
WHERE NOT EXISTS (SELECT 1 FROM ue
                  WHERE ue.src = p.u AND ue.dst = p.w)
""",
        "jaccard_pairs": f"""
WITH {edges_cte},
{_UE_CTE},
deg AS (SELECT src AS id, count(*) AS deg FROM ue GROUP BY src),
nb AS (SELECT ue.src AS v, ue.dst AS x
       FROM ue JOIN deg d ON d.id = ue.src WHERE d.deg <= 100),
p AS (SELECT a.x AS u, b.x AS w, count(*) AS n_common
      FROM nb a JOIN nb b ON b.v = a.v AND a.x < b.x
      GROUP BY a.x, b.x
      HAVING count(*) >= 2)
SELECT p.u, p.w, p.n_common,
       round(CAST(p.n_common AS DOUBLE)
             / CAST(du.deg + dw.deg - p.n_common AS DOUBLE), 6) AS jaccard
FROM p JOIN deg du ON du.id = p.u JOIN deg dw ON dw.id = p.w
WHERE NOT EXISTS (SELECT 1 FROM ue
                  WHERE ue.src = p.u AND ue.dst = p.w)
""",
        # attenuation factors are inlined as the exact Python doubles
        # (repr(0.05**l)) so both engines evaluate the identical
        # fixed-order polynomial over BIGINT-exact walk counts
        "katz_k4": f"""
WITH e0 AS ({BOWTIE_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e
                               UNION ALL SELECT dst AS id FROM e) vu),
c1 AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY dst),
c2 AS (SELECT e.dst AS id, CAST(sum(c1.c) AS BIGINT) AS c
       FROM e JOIN c1 ON c1.id = e.src GROUP BY e.dst),
c3 AS (SELECT e.dst AS id, CAST(sum(c2.c) AS BIGINT) AS c
       FROM e JOIN c2 ON c2.id = e.src GROUP BY e.dst),
c4 AS (SELECT e.dst AS id, CAST(sum(c3.c) AS BIGINT) AS c
       FROM e JOIN c3 ON c3.id = e.src GROUP BY e.dst)
SELECT v.id,
       round({0.05 ** 1!r} * CAST(COALESCE(c1.c, 0) AS DOUBLE)
             + {0.05 ** 2!r} * CAST(COALESCE(c2.c, 0) AS DOUBLE)
             + {0.05 ** 3!r} * CAST(COALESCE(c3.c, 0) AS DOUBLE)
             + {0.05 ** 4!r} * CAST(COALESCE(c4.c, 0) AS DOUBLE), 6) AS katz
FROM v LEFT JOIN c1 ON c1.id = v.id
       LEFT JOIN c2 ON c2.id = v.id
       LEFT JOIN c3 ON c3.id = v.id
       LEFT JOIN c4 ON c4.id = v.id
""",
        # same walk-census CTEs as katz_k4; the score is the single
        # IEEE division of two exact BIGINTs (level-4 count / total)
        "eigenvector_k4": f"""
WITH e0 AS ({BOWTIE_EDGES_SQL}),
e AS (SELECT DISTINCT src, dst FROM e0),
v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e
                               UNION ALL SELECT dst AS id FROM e) vu),
c1 AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY dst),
c2 AS (SELECT e.dst AS id, CAST(sum(c1.c) AS BIGINT) AS c
       FROM e JOIN c1 ON c1.id = e.src GROUP BY e.dst),
c3 AS (SELECT e.dst AS id, CAST(sum(c2.c) AS BIGINT) AS c
       FROM e JOIN c2 ON c2.id = e.src GROUP BY e.dst),
c4 AS (SELECT e.dst AS id, CAST(sum(c3.c) AS BIGINT) AS c
       FROM e JOIN c3 ON c3.id = e.src GROUP BY e.dst),
t AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS tot FROM c4)
SELECT v.id,
       round(CASE WHEN t.tot = 0 THEN 0.0
             ELSE CAST(COALESCE(c4.c, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE)
             END, 6) AS score
FROM v LEFT JOIN c4 ON c4.id = v.id CROSS JOIN t
""",
        "pseudo_diameter": _pseudo_diameter_sql(20, BOWTIE_EDGES_SQL),
        # exact suffix censuses over the two degree histograms; DuckDB
        # decorrelates the scalar subqueries into joins — fine at
        # oracle scale (the engine side uses windowed suffix sums
        # instead, see graph/structure.py rich_club)
        "rich_club": f"""
WITH e0 AS ({EDGES_SQL}),
sym AS (SELECT src, dst FROM e0
        UNION ALL SELECT dst AS src, src AS dst FROM e0),
ue AS (SELECT DISTINCT src, dst FROM sym WHERE src <> dst),
half AS (SELECT src, dst FROM ue WHERE src < dst),
deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        FROM ue GROUP BY src),
em AS (SELECT least(d1.deg, d2.deg) AS m
       FROM half h JOIN deg d1 ON d1.id = h.src
                   JOIN deg d2 ON d2.id = h.dst),
ks AS (SELECT unnest(generate_series(
           0, (SELECT CAST(max(deg) AS INT) - 1 FROM deg))) AS k),
cnts AS (SELECT ks.k,
                (SELECT count(*) FROM deg WHERE deg.deg > ks.k) AS n_k,
                (SELECT count(*) FROM em WHERE em.m > ks.k) AS e_k
         FROM ks)
SELECT k, n_k, e_k,
       round(2.0 * CAST(e_k AS DOUBLE)
             / CAST(n_k * (n_k - 1) AS DOUBLE), 6) AS phi
FROM cnts WHERE n_k >= 2
""",
        # closed-form MST of the re-weighted circulant (see
        # MST_EDGES_SQL): all cheap path edges + per break the cheaper
        # crossing chord; least/greatest mirrors the engine's
        # canonicalization of string vertex ids
        "mst_boruvka": """
WITH mx AS (SELECT max(c_custkey) AS m, min(c_custkey) AS mn FROM customer),
keep1 AS (
    SELECT least('c' || CAST(c_custkey AS STRING),
                 'c' || CAST(c_custkey + 1 AS STRING)) AS u,
           greatest('c' || CAST(c_custkey AS STRING),
                    'c' || CAST(c_custkey + 1 AS STRING)) AS w,
           CAST(1 + (c_custkey % 7) AS DOUBLE) AS weight
    FROM customer, mx
    WHERE c_custkey + 1 <= m AND c_custkey % 10 <> 0),
breaks AS (
    SELECT c_custkey AS c0 FROM customer, mx
    WHERE c_custkey % 10 = 0 AND c_custkey + 1 <= m),
cand AS (
    SELECT c0,
           least('c' || CAST(c0 - 1 AS STRING),
                 'c' || CAST(c0 + 1 AS STRING)) AS u,
           greatest('c' || CAST(c0 - 1 AS STRING),
                    'c' || CAST(c0 + 1 AS STRING)) AS w,
           CAST(10 + ((c0 - 1) % 89) AS DOUBLE) AS weight
    FROM breaks, mx WHERE c0 - 1 >= mn
    UNION ALL
    SELECT c0,
           least('c' || CAST(c0 AS STRING),
                 'c' || CAST(c0 + 2 AS STRING)) AS u,
           greatest('c' || CAST(c0 AS STRING),
                    'c' || CAST(c0 + 2 AS STRING)) AS w,
           CAST(10 + (c0 % 89) AS DOUBLE) AS weight
    FROM breaks, mx WHERE c0 + 2 <= m),
best AS (
    SELECT u, w, weight FROM (
        SELECT u, w, weight,
               ROW_NUMBER() OVER (PARTITION BY c0
                                  ORDER BY weight, u, w) AS rn
        FROM cand) r
    WHERE rn = 1)
SELECT u, w, weight FROM keep1
UNION ALL
SELECT u, w, weight FROM best
""",
        "simsearch_topk": """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])), 6) AS score
    FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.vec_id),
ranked AS (
    SELECT query_id, neighbor_id, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS INTEGER) AS rank
    FROM scored)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5
""",
        "kmeans_k4": _kmeans_sql(k=4, iters=2),
        "semantic_dedup": _semantic_dedup_sql(k=4, iters=2, threshold=0.4),
        "dsir_weights": _dsir_sql(buckets=1024, seed=0, target_seed=1),
        "pricing_summary": PRICING_SQL,
        "top_customers": TOP_CUSTOMERS_SQL,
        "events_hourly": EVENTS_HOURLY_SQL,
        "cube_orders": CUBE_ORDERS_SQL,
        "window_running": WINDOW_RUNNING_SQL,
        "distinct_agg": DISTINCT_AGG_SQL,
        # rows-only (non-SQL-expressible; exact pytest oracles instead):
        # pagerank_full (iterate-to-convergence), simsearch_ivf
        # (approximate by design; exact NumPy oracle in tests/)
    }
