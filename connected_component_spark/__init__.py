"""connected_component_spark — a PySpark-native graph-analytics engine.

Brand-new DataFrame-first implementation of the capabilities of
kwartile/connected-component (alternating Large-Star/Small-Star
connected components at extreme scale), plus the relational query
surface and LLM-data-pipeline operators (dedup, similarity search,
text analysis, multimodal plumbing) that reuse CC as their
clustering backbone.
"""

from connected_component_spark.graph.cc import (
    CCResult,
    component_rosters,
    connected_components,
)
from connected_component_spark.graph.cliques import (
    cliques_to_edges,
    cliques_to_edges_pairwise,
    format_rosters_text,
    read_cliques_text,
)
from connected_component_spark.graph.bfs import shortest_paths
from connected_component_spark.graph.kcore import k_core
from connected_component_spark.graph.pagerank import pagerank
from connected_component_spark.graph.triangles import triangle_stats
from connected_component_spark.operators.asof import asof_join
from connected_component_spark.operators.fuzzy import fuzzy_join, fuzzy_self_pairs
from connected_component_spark.operators.clustering import (
    kmeans_assign,
    kmeans_centroids,
)
from connected_component_spark.operators.packing import (
    concat_pack,
    exclusive_prefix_sum,
)
from connected_component_spark.operators.rangejoin import interval_join, overlap_join
from connected_component_spark.operators.sampling import (
    hash_sample,
    hash_split,
    stratified_topn,
    weighted_mixture_sample,
)
from connected_component_spark.session import get_spark
from connected_component_spark.graph.lpa import label_propagation
from connected_component_spark.graph.linkpred import common_neighbor_candidates
from connected_component_spark.operators.similarity import (
    auto_planes,
    cosine_radius_search,
    cosine_topk,
    embedding_dedup_clusters,
    lsh_bucketed_topk,
    semantic_dedup,
    similarity_clusters,
)
from connected_component_spark.operators.dedup import (
    minhash_dedup_clusters,
    ngram_dedup_clusters,
    substring_dup_stats,
)
from connected_component_spark.operators.text import (
    chunk_documents,
    distinctive_terms,
    source_divergence,
    token_rarity,
)
from connected_component_spark.sources.compaction import compact_parquet
from connected_component_spark.sources.upsert import merge_upsert, read_snapshot
from connected_component_spark.sources.zorder import write_zordered, zorder_value

__all__ = [
    "CCResult",
    "connected_components",
    "component_rosters",
    "cliques_to_edges",
    "cliques_to_edges_pairwise",
    "read_cliques_text",
    "format_rosters_text",
    "get_spark",
    "pagerank",
    "triangle_stats",
    "asof_join",
    "fuzzy_join",
    "fuzzy_self_pairs",
    "interval_join",
    "overlap_join",
    "hash_sample",
    "hash_split",
    "stratified_topn",
    "exclusive_prefix_sum",
    "concat_pack",
    "compact_parquet",
    "shortest_paths",
    "k_core",
    "kmeans_assign",
    "kmeans_centroids",
    "auto_planes",
    "zorder_value",
    "write_zordered",
    "weighted_mixture_sample",
    "label_propagation",
    "common_neighbor_candidates",
    "cosine_topk",
    "cosine_radius_search",
    "lsh_bucketed_topk",
    "similarity_clusters",
    "embedding_dedup_clusters",
    "semantic_dedup",
    "minhash_dedup_clusters",
    "ngram_dedup_clusters",
    "substring_dup_stats",
    "chunk_documents",
    "distinctive_terms",
    "source_divergence",
    "token_rarity",
    "merge_upsert",
    "read_snapshot",
]

__version__ = "0.1.0"
