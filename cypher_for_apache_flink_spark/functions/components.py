"""Connected components over pair edges — the transitive-closure step that
turns pairwise near-duplicate matches into duplicate CLUSTERS.

Without it, chains break: A~B and B~C (but not A~C) would keep both A and C
if deduplication only looks at pairs.  Components give each chain one
representative.

Scale design: iterative min-label propagation entirely in DataFrame ops —
per round one join edges⋈labels + one groupBy-min, both shuffling on node
ids.  Rounds needed = component diameter, which for near-duplicate clusters
is tiny (dups of a doc are dups of each other, so diameters of 2-4 dominate
even at corpus scale).  Each round's labels are cached and convergence is
checked with a cheap anti-equality probe, mirroring the standard
MapReduce-CC formulation (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — the small-star contraction specialises to
min-label propagation on small-diameter graphs).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import layout


def connected_components(pairs: DataFrame, a: str = "a", b: str = "b",
                         max_iter: int = 25) -> DataFrame:
    """(node, component) for every node in ``pairs``; the component id is
    the minimum node id in the component."""
    # Materialize the (possibly expensive) pair computation exactly once —
    # nodes, edges, and every round derive from the checkpointed copy.
    pairs, _ = layout.materialize(
        pairs.select(F.col(a).alias("a"), F.col(b).alias("b")))
    nodes = (pairs.select(F.col("a").alias("node"))
             .unionByName(pairs.select(F.col("b").alias("node")))
             .distinct())
    # localCheckpoint (not cache): each round's plan must TRUNCATE, or the
    # labels⋈labels convergence probe doubles the logical plan every
    # iteration and planning itself blows up long before the data does.
    labels, _ = layout.materialize(
        nodes.select("node", F.col("node").alias("cc")))
    bi = (pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
          .unionByName(pairs.select(F.col("b").alias("u"),
                                    F.col("a").alias("v"))))

    # Pointer doubling is CAPPED (round 10, ADVICE r9): the doubling step
    # self-joins the per-iteration label state, the exact iterated-
    # self-join shape measured (SCC fixpoint experiment, graph_algos.py)
    # to DOUBLE per-iteration driver time past ~15 rounds despite
    # localCheckpoint truncation.  14 doubling rounds already chase
    # chains of 2^14 = 16k links — beyond any realistic near-duplicate
    # component diameter — so later iterations (reachable only under an
    # adversarial max_iter bump) fall back to plain edge propagation,
    # which stays flat per iteration indefinitely.
    doubling_rounds = min(max_iter, 14)
    for it in range(max_iter):
        neighbor_min = (bi.join(labels.withColumnRenamed("node", "u")
                                .withColumnRenamed("cc", "ucc"), "u")
                        .groupBy(F.col("v").alias("node"))
                        .agg(F.min("ucc").alias("ncc")))
        prop = (labels.join(neighbor_min, "node", "left")
                .select("node",
                        F.least(F.col("cc"),
                                F.coalesce("ncc", "cc")).alias("cc"),
                        F.col("cc").alias("__old")))
        if it < doubling_rounds:
            # pointer doubling: cc <- min(cc, cc[cc]).  Labels are node
            # ids, and "m labels v" means m and v share a component, so
            # the label of v's label is also in v's component — chasing
            # it halves the remaining chain every round.  Turns
            # worst-case convergence from O(diameter) rounds (a 10k-link
            # chain would blow any budget at 100 TB) into
            # O(log diameter), for one extra label-keyed join.
            mapping = prop.select(F.col("node").alias("__k"),
                                  F.col("cc").alias("__v"))
            prop = (prop.join(mapping, prop["cc"] == F.col("__k"),
                              "left")
                    .select("node",
                            F.least(F.col("cc"),
                                    F.coalesce("__v", "cc")).alias("cc"),
                            "__old"))
        # Convergence probe fused into the checkpoint (round 12): labels
        # only ever DECREASE, so "changed" is computable inline as
        # cc != old cc — the old probe was a labels⋈labels join plus a
        # second action per round; now the changed-count rides the job
        # that materializes the checkpoint.  Same predicate, same
        # rounds, identical labels.
        new_labels, changed = layout.materialize(
            prop.select("node", "cc",
                        (F.col("cc") != F.col("__old")).alias("__chg")),
            where=F.col("__chg"))
        labels = new_labels.select("node", "cc")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds the bound — raise max_iter)")


def dedup_clusters(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Duplicate clusters from near-dup pairs: (component, keep_id, n_docs)
    per cluster — ``keep_id`` is the minimum member, everything else in the
    component is a removable duplicate."""
    cc = connected_components(pairs, a, b)
    return (cc.groupBy(F.col("cc").alias("component"))
            .agg(F.min("node").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_docs")))
