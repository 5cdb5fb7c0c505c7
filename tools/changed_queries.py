"""Derive the driver-window changed-query set mechanically (VERDICT r6 #2).

Each round, queries whose implementation changed MUST be inside the
driver's 50-row correctness window, or a regression would hide behind a
stale green row.  Round 6 curated that list by hand and under-counted;
this tool derives it from ``git diff --name-only <range>`` through an
explicit source-module -> query-family map.

Usage:
    python tools/changed_queries.py <git-range>     # e.g. 7a0dd5a..HEAD

Prints the must-stay-in-window query names (one per line, sorted) plus a
summary to stderr.  Paste the output into ``_ROUND<N>_CHANGED`` in
__spark_entry__.py with the generating command in the comment.

Known limitation: edits to __spark_entry__.py itself (query definitions
and oracle SQL) are NOT attributed to individual queries — window
bookkeeping changes there every round and would degenerate to "all".
A query-body edit there must still be added by hand.
"""

from __future__ import annotations

import subprocess
import sys


def query_families() -> dict[str, list[str]]:
    """Query names per family, read from __spark_entry__'s dicts so the
    map cannot drift from the declared queries."""
    sys.path.insert(0, ".")
    import __spark_entry__ as e

    cypher = list(e._CYPHER_QUERIES) + [
        # planner-backed entries living in other dicts
        "percentile_disc_global", "construct_requery", "ddl_graph",
        "graph_union", "driving_table",
    ]
    return {
        "cypher": cypher,
        "dedup": ["dedup_exact_keep", "dedup_exact_groups",
                  "ngram_jaccard_pairs", "minhash_lsh_pairs",
                  "simhash_pairs", "dedup_incremental",
                  "near_dup_incremental", "near_dup_clusters"],
        "similarity": ["similarity_topk", "similarity_topk_lsh",
                       "similarity_topk_ivf", "similarity_topk_join",
                       "similarity_topk_lsh_indexed",
                       "similarity_topk_ivf_indexed",
                       "similarity_topk_quantized",
                       "cosine_near_dup_pairs", "cosine_near_dup_lsh",
                       "pq_topk",                        # round 10
                       "similarity_topk_ivfpq"],         # round 11
        "components": ["near_dup_clusters"],
        "sampling": ["sample_stratified", "sample_weighted",
                     "domain_mixture", "pack_sequences",
                     "contamination_check"],
        "text": ["text_profile", "top_ngrams", "tfidf_top_terms",
                 "rolling_fingerprints", "repetition_profile", "pii_scrub",
                 "chunk_documents", "curate_corpus",
                 "bm25_retrieval"],                      # round 10
        "asof": ["asof_attribution",
                 "asof_forward",                         # round 11
                 "asof_nearest"],                        # round 11
        "timeseries": ["resample_fill_forward",          # round 10
                       "rolling_time_agg",
                       "resample_interpolate"],          # round 11
        "pipeline": ["curate_corpus"],
        "multimodal": ["media_decode"],
        "graph_algos": ["pagerank", "bfs_shortest_paths", "triangle_count",
                        "degree_histogram", "k_core", "node_similarity",
                        "personalized_pagerank",
                        # round 8
                        "weighted_shortest_paths", "label_propagation",
                        "hits_scores", "betweenness_sampled",
                        "call_triangle_count",
                        # round 9
                        "scc_components", "closeness_centrality",
                        "random_walks", "skipgram_pairs", "k_truss",
                        # round 10
                        "node2vec_walks", "call_random_walks",
                        "pagerank_weighted", "mis_conflict_free",
                        # round 11
                        "louvain_communities", "louvain_weighted",
                        "fastrp_embeddings", "local_clustering"],
        "clustering": ["kmeans_embeddings"],
        "procedures": ["call_triangle_count", "call_random_walks"],
        "streaming": ["events_sessions", "events_sliding_counts",
                      "correlated_events"],
        "ddl": ["ddl_graph"],
    }


# source path prefix -> families whose driver rows exercise it
PKG = "cypher_for_apache_flink_spark/"
PATH_FAMILIES = {
    PKG + "parser/": ["cypher"],
    PKG + "plans/": ["cypher"],
    PKG + "operators/": ["cypher"],
    PKG + "ir/": ["cypher"],
    PKG + "graph.py": ["cypher"],
    PKG + "session.py": ["cypher"],
    PKG + "errors.py": [],            # error paths produce no result rows
    PKG + "tck/": [],                 # TCK harness: no driver rows
    PKG + "procedures.py": ["procedures"],  # CALL algo.* driver rows
    PKG + "sources/create.py": [],    # CREATE fixtures: tests/TCK only
    PKG + "sources/tpch.py": ["cypher"],
    PKG + "sources/ddl.py": ["ddl"],
    PKG + "functions/dedup.py": ["dedup"],
    PKG + "functions/similarity.py": ["similarity"],
    PKG + "functions/components.py": ["components"],
    PKG + "functions/sampling.py": ["sampling"],
    PKG + "functions/text.py": ["text"],
    PKG + "functions/asof.py": ["asof"],
    PKG + "functions/timeseries.py": ["timeseries"],
    PKG + "functions/pipeline.py": ["pipeline"],
    PKG + "functions/multimodal.py": ["multimodal"],
    PKG + "functions/graph_algos.py": ["graph_algos"],
    PKG + "functions/clustering.py": ["clustering"],
    PKG + "streaming/": ["streaming"],
}


def changed_queries(git_range: str) -> tuple[list[str], list[str]]:
    paths = subprocess.run(
        ["git", "diff", "--name-only", git_range],
        capture_output=True, text=True, check=True).stdout.split()
    fams = query_families()
    hit_families: set[str] = set()
    unmapped = []
    for p in paths:
        if not p.startswith(PKG) or not p.endswith(".py"):
            continue
        for prefix, families in PATH_FAMILIES.items():
            if p.startswith(prefix):
                hit_families.update(families)
                break
        else:
            unmapped.append(p)
    names: set[str] = set()
    for f in hit_families:
        names.update(fams[f])
    return sorted(names), unmapped


def main():
    rng = sys.argv[1] if len(sys.argv) > 1 else "HEAD~1..HEAD"
    names, unmapped = changed_queries(rng)
    for n in names:
        print(n)
    print(f"# {len(names)} changed queries for {rng}", file=sys.stderr)
    if unmapped:
        print(f"# UNMAPPED package paths (add to PATH_FAMILIES!): "
              f"{unmapped}", file=sys.stderr)


if __name__ == "__main__":
    main()
