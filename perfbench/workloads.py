"""The benchmark's workloads: which catalog queries one pass runs, in order,
and which input tables those queries read. Why each was chosen is in
README.md."""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # pair-verify fan-out exchanges, the scan spread and the cosine fold
    # (operators.dedup / similarity, functions.vectors)
    "llm_dedup": ("semdedup_clusters", "knn_cells"),
    # eager per-round loops with a localCheckpoint each round (operators.graph)
    "graph_iterate": ("pagerank",),
}

# Untimed passes after the cold one and the heap reading. With the JIT held
# at C1, pass walls are flat from the first warm pass on; these two absorb
# the slower passes that follow the heap reading's forced GCs (README.md,
# "Warm-up").
WARMUP_PASSES: dict[str, int] = {"llm_dedup": 2, "graph_iterate": 2}

TABLES: dict[str, tuple[str, ...]] = {
    "llm_dedup": ("embeddings",),
    "graph_iterate": ("lineitem", "orders"),
}
