"""Operator library: graph traversals/analytics, dedup, similarity search,
text analysis, multimodal plumbing."""

from distributed_graph_database_system_spark.operators.graph import (
    GraphStore,
    bfs,
    connected_components,
    degrees,
    dfs_leaves,
    pagerank,
    has_cycle,
    shortest_path_lengths,
    sssp_weighted,
    topo_levels,
    triangle_count,
)
from distributed_graph_database_system_spark.operators.sketch import (
    cm_estimate,
    cm_merge,
    cm_sketch,
)

__all__ = [
    "GraphStore",
    "bfs",
    "connected_components",
    "degrees",
    "dfs_leaves",
    "pagerank",
    "has_cycle",
    "shortest_path_lengths",
    "sssp_weighted",
    "topo_levels",
    "triangle_count",
    "cm_estimate",
    "cm_merge",
    "cm_sketch",
]
