"""Graph layer: edge materialization, BSP engine, algorithms."""

from .build import (
    adjacency,
    anchor_index,
    anchors_from_pages,
    contract_graph,
    degree_histogram,
    degrees,
    edges_from_pages,
    sample_subgraph,
    temporal_edges_from_pages,
    undirect,
    vertex_sample_pred,
)
from .engine import Pregel, PregelResult, VertexProgram
from .pagerank import PreparedGraph, pagerank, prepare_graph, spam_mass
from .components import connected_components, connected_components_star
from .lpa import label_propagation
from .triangles import (
    four_cliques,
    k_truss,
    triangle_count,
    triangle_count_per_vertex,
)
from .maxprop import max_propagation
from .hits import hits, salsa
from .sssp import pseudo_diameter, shortest_paths
from .kcore import coreness, k_core
from .neighborhood import (
    effective_diameter,
    harmonic_centrality,
    neighborhood_function,
)
from .dag import topo_levels
from .scc import bowtie, condense, strongly_connected_components
from .mirrors import exact_mirror_groups, mirror_pairs, outlink_docs
from .betweenness import betweenness
from .crawl import crawl_delta, crawl_frontier, incremental_components, rank_shift
from .mis import maximal_independent_set
from .coloring import greedy_coloring
from .redirects import resolve_redirects
from .structure import (
    adamic_adar,
    butterflies,
    clustering_coefficient,
    co_link_pairs,
    edge_embeddedness,
    degree_assortativity,
    jaccard_pairs,
    modularity,
    powerlaw_alpha,
    rich_club,
    reciprocity,
    refine_modularity,
)
from .anf import anf, anf_effective_diameter
from .katz import eigenvector_centrality, katz_centrality
from .mst import minimum_spanning_forest
from .walks import random_walks
from .temporal import earliest_arrival
from .louvain import local_move_round, louvain, modularity_weighted
from .mutations import (
    add_edges,
    add_vertices,
    apply_mutations,
    delete_edges,
    delete_vertices,
)

__all__ = [
    "add_edges",
    "add_vertices",
    "apply_mutations",
    "delete_edges",
    "delete_vertices",
    "adjacency",
    "anchor_index",
    "anchors_from_pages",
    "contract_graph",
    "degree_histogram",
    "degrees",
    "edges_from_pages",
    "sample_subgraph",
    "temporal_edges_from_pages",
    "undirect",
    "vertex_sample_pred",
    "Pregel",
    "earliest_arrival",
    "local_move_round",
    "louvain",
    "modularity_weighted",
    "four_cliques",
    "PregelResult",
    "VertexProgram",
    "PreparedGraph",
    "pagerank",
    "prepare_graph",
    "connected_components",
    "connected_components_star",
    "label_propagation",
    "k_truss",
    "triangle_count",
    "triangle_count_per_vertex",
    "max_propagation",
    "hits",
    "salsa",
    "shortest_paths",
    "k_core",
    "coreness",
    "random_walks",
    "strongly_connected_components",
    "condense",
    "topo_levels",
    "bowtie",
    "neighborhood_function",
    "effective_diameter",
    "harmonic_centrality",
    "adamic_adar",
    "jaccard_pairs",
    "anf",
    "anf_effective_diameter",
    "katz_centrality",
    "eigenvector_centrality",
    "minimum_spanning_forest",
    "clustering_coefficient",
    "co_link_pairs",
    "butterflies",
    "edge_embeddedness",
    "degree_assortativity",
    "modularity",
    "refine_modularity",
    "powerlaw_alpha",
    "rich_club",
    "pseudo_diameter",
    "reciprocity",
    "spam_mass",
    "outlink_docs",
    "exact_mirror_groups",
    "mirror_pairs",
    "resolve_redirects",
    "betweenness",
    "maximal_independent_set",
    "greedy_coloring",
    "crawl_delta",
    "crawl_frontier",
    "incremental_components",
    "rank_shift",
]
