"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full plan executes,
nothing collects to the driver). PageRank also reports edges/sec and
supersteps — the north metric (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from pregel_spark.session import DEFAULT_CPUS, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = DEFAULT_CPUS

# the round-1/round-2 headline set: cross-round totals compare on this
R2_COMPARABLE = [
    "edges_build",
    "degrees",
    "pagerank_full",
    "connected_components",
    "triangle_count",
    "lpa_k2",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "token_stats",
    "quality_score",
    "simsearch_topk",
    "pricing_summary",
    "events_hourly",
]

# round-3 additions (HITS / SSSP / k-core / host-rollup PageRank);
# "value" sums everything, "r2_comparable_sec" isolates the old set
R3_CORE = R2_COMPARABLE + [
    "hits_k5",
    "sssp_k8",
    "kcore3_r4",
    "host_pagerank_k3",
    "neigh_k3",
    "mirror_pairs",
]
# late round-3 additions (ranking / decontamination / repetition /
# SALSA / truss / redirects / co-citation); "r3_core_sec" isolates the
# set above for mid-round comparisons
HEADLINE = R3_CORE + [
    "salsa_k4",
    "spam_mass_k4",
    "bm25",
    "repetition",
    "decontam",
    "cocitation",
    "truss5_r2",
    "redirects",
    "betweenness_l4",
    "sessions",
    "unigram_lm",
    "pii_scan",
    "stratified_sample",
    "mis",
    "curate",
    # latest data-scale additions: k-means / Boruvka / link prediction /
    # incremental CC / frontier scheduling / containment / modularity /
    # line-level text ops — everything that scans an SF-scaled table
    "kmeans_k4",
    "mst_boruvka",
    "adamic_adar",
    "jaccard_pairs",
    "cc_incremental",
    "crawl_frontier",
    "dedup_containment",
    "modularity_lpa",
    "refine_modularity",
    "line_dedup",
    "pack_sequences",
    "dedup_incremental",
    "top_ngrams",
    "anf_r3",
    "boilerplate_strip",
    "sketch_count_min",
    "sketch_hll",
    "dsir_weights",
    "semantic_dedup",
    "token_quantiles",
    "powerlaw_alpha",
    "pmi_top",
    "dup_spans",
    "dup_span_strip",
    "bpe_merges",
    "bpe_encode",
    "nb_lang",
    "coloring_r4",
    "coreness_r3",
    "butterflies",
    "edge_embed",
    "temporal_reach_k6",
    "four_cliques",
    "louvain_l2",
]
# scc_fixture / bowtie_fixture / katz_k4 / topo_levels / scc_condense
# stay correctness-only: they run on the constant ~60-vertex cyclic
# fixture, so their wall time is ~100 tiny supersteps of fixed job
# overhead (measured 30s/44s at sf0.1) — pure driver-overhead noise
# that says nothing about data-plane throughput


def force(df):
    df.write.format("noop").mode("overwrite").save()


def _cpu_ticks():
    """First `/proc/stat` cpu line as ints; None off-Linux."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts and parts[0] == "cpu":
            return [int(x) for x in parts[1:]]
    except OSError:
        pass
    return None


def _steal_pct(before, after):
    """Hypervisor steal %% over the window (field 8 of the cpu line).

    Emitted into BENCH_r*.json so a contended artifact is
    self-describing — the round-2 "CC 2x regression" took a whole round
    to attribute to a 20-24%% steal window (BASELINE.md); now the
    number rides along with every run."""
    if before is None or after is None:
        return None
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    if total <= 0 or len(d) < 8:
        return None
    return round(100.0 * d[7] / total, 2)


def main():
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    spark = get_spark(
        "pregel_spark_bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    # the north-metric PageRank run IS the pagerank_full headline entry
    # (running it twice doubled the benchmark's largest line item)
    from pregel_spark.graph import pagerank

    res = None
    ticks0 = _cpu_ticks()
    for name in HEADLINE:
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        t0 = time.monotonic()
        if name == "pagerank_full":
            edges = entrymod._edges(spark, SF_DIR)
            res = pagerank(spark, edges, tol=1e-6, max_iter=100, pre_deduped=True)
            force(res.vertices)
            wall = time.monotonic() - t0
        else:
            force(qs[name](spark, SF_DIR))
        timings[name] = round(time.monotonic() - t0, 3)
    n_edges = entrymod._edges(spark, SF_DIR).count()
    loop_sec = sum(m["wall_ms"] for m in res.metrics) / 1000.0 or wall
    extra["pagerank_supersteps"] = res.supersteps
    extra["pagerank_wall_sec"] = round(wall, 3)
    extra["pagerank_loop_sec"] = round(loop_sec, 3)
    extra["pagerank_edges_per_sec"] = round(n_edges * res.supersteps / loop_sec, 1)
    extra["pagerank_supersteps_per_hour"] = round(
        res.supersteps / loop_sec * 3600, 1
    )
    extra["n_edges"] = n_edges

    total = round(sum(timings.values()), 3)
    r2_comparable = round(sum(timings[q] for q in R2_COMPARABLE), 3)
    r3_core = round(sum(timings[q] for q in R3_CORE), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "r2_comparable_sec": r2_comparable,
                "r3_core_sec": r3_core,
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "pagerank": extra,
                "cpus": CPUS,
                "steal_pct": _steal_pct(ticks0, _cpu_ticks()),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
