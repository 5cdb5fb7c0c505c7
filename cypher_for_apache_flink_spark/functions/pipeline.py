"""End-to-end training-corpus curation: the LLM-pipeline operators composed
the way a 100 TB data pipeline chains them.

    raw docs ──quality filter──▶ exact dedup ──▶ near-dup removal ──▶ corpus

Every stage is one of this repo's deterministic operators, so the whole
pipeline is SQL-oracle-checkable end to end.  Removal rule for near-dups:
the HIGHER doc_id of any candidate pair above the Jaccard threshold is
dropped (deterministic, order-independent — no greedy chains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import layout
from .dedup import dedup_exact, minhash_lsh_pairs
from .text import quality_score


def curate_corpus(docs: DataFrame, quality_min: float = 0.4,
                  jaccard_threshold: float = 0.3,
                  text_col: str = "text", id_col: str = "doc_id",
                  transitive: bool = False) -> DataFrame:
    """Returns the surviving documents (all original columns).

    Stages: (1) drop docs under the quality threshold; (2) exact dedup
    keeping the lowest id per normalized-text fingerprint; (3) drop the
    higher id of every MinHash-LSH near-duplicate pair among survivors.

    ``transitive=True`` switches stage 3 to cluster semantics: near-dup
    pairs are closed into connected components and only the minimum id per
    component survives — stricter (A~B and B~C drops C even though A and C
    were never a matching pair), the policy large corpus dedups usually
    want.
    """
    # size_aware: the heavy minhash stage runs downstream of the dedup
    # window shuffle (parallel regardless); only a genuinely fat single
    # file is worth a pre-shuffle here.
    scored = layout.ensure_parallelism(docs, size_aware=True).where(
        quality_score(F.col(text_col)) >= quality_min)
    # The dedup survivors feed BOTH the near-dup pair generation and the
    # final anti-join; without a persist the quality filter + fingerprint
    # window subtree is replicated per consumer (measured: 15 Window nodes,
    # 10 scans in one curate plan).  MEMORY_AND_DISK (cache default) spills
    # rather than OOMs at warehouse scale; the result is a checkpoint, so
    # the cache is dropped on return.
    deduped = dedup_exact(scored, text_col=text_col, id_col=id_col).cache()
    try:
        pairs = minhash_lsh_pairs(deduped, threshold=jaccard_threshold,
                                  text_col=text_col, id_col=id_col)
        if transitive:
            from .components import connected_components
            cc = connected_components(pairs)
            losers = cc.where(F.col("node") != F.col("cc")) \
                .select(F.col("node").alias(id_col))
        else:
            losers = pairs.select(F.col("b").alias(id_col)).distinct()
        return layout.materialize(
            deduped.join(losers, id_col, "left_anti"))[0]
    finally:
        deduped.unpersist()
