"""Connected components over pair edges — the transitive-closure step that
turns pairwise near-duplicate matches into duplicate CLUSTERS.

Without it, chains break: A~B and B~C (but not A~C) would keep both A and C
if deduplication only looks at pairs.  Components give each chain one
representative.

Scale design: min-label propagation entirely in DataFrame ops, by the one
min-label kernel (:func:`_min_label_fixpoint`) that also runs the coloring
of ``graph_algos.strongly_connected_components``.  A round is one join of
the label state with the edges (only nodes whose label improved last round
send) and one aggregate, cut by one severed ``layout.materialize`` whose
job also counts the improved labels; a round without improvements is the
fixpoint.  Connected components add pointer jumping to the same join, so
a path of n links closes in about log2(n) rounds, not n (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14, on label
contraction in MapReduce-style rounds).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import layout


def connected_components(pairs: DataFrame, a: str = "a", b: str = "b",
                         max_iter: int = 25) -> DataFrame:
    """(node, cc) for every node in ``pairs``; ``cc`` is the minimum node
    id in the node's component.  Runs at most ``max_iter`` rounds and
    raises RuntimeError when the labels still improve in the last one."""
    # the pairs are read once, into both orientations of every pair; min
    # is idempotent, so duplicate edges cost rows, not correctness
    edges, _ = layout.materialize(
        pairs.select(F.explode(F.array(
            F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
            F.struct(F.col(b).alias("src"), F.col(a).alias("dst"))))
            .alias("__e"))
        .select("__e.*"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    labels, converged = _min_label_fixpoint(nodes, edges, max_iter - 1,
                                            jump=True)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the bound — raise max_iter)")
    return labels.select("node", F.col("label").alias("cc"))


def _min_label_fixpoint(nodes: DataFrame, edges: DataFrame, max_iters: int,
                        jump: bool) -> tuple[DataFrame, bool]:
    """label(v) = min(v, min over edges u->v of label(u)) over the (node)
    frame ``nodes`` and the (src, dst) frame ``edges``, to a fixpoint;
    returns ``((node, label), converged)``.  At most ``max_iters``
    label-improving rounds run, plus the round that finds the fixpoint:
    ``converged`` is False when the labels still improve after them.

    The state is (node, label, improved), one severed
    ``layout.materialize`` per round, whose job also counts the improved
    labels.  A round's messages come from ONE join of the round-start
    state with a links frame, then one min aggregate:

    - edge rows (src, dst) send label(src) only when src improved last
      round (frontier-only, as Pregel's active vertices);
    - with ``jump``, every node v whose label just improved to l adds a
      jump row (l, v) that pulls label(l) in the same join: pointer
      jumping without a second join.  label(l) reaches l and l reaches v,
      so the pulled label is one of v's candidates; on a chain the
      distance a label has travelled doubles each round.

    The state and the messages are node-bounded, so both are broadcast
    under :func:`layout.fits_broadcast`: the severed state's flat size
    estimate would otherwise make the planner shuffle every edge into
    the message join and the state into the update join each round.

    Each round reads one severed checkpoint and no earlier plan, so its
    plan does not grow: on a 65,536-link chain with ``jump`` (18 rounds,
    local[4], 4 shuffle partitions) every round took 0.4-0.8 s, the last
    ones no slower than the first.

    SCC's coloring runs with ``jump`` off.  Its ``fixpoint_iters`` budget
    promises that a label crosses one edge per round, so the warning
    tells which inputs need more; jumping would change which inputs warn.
    Jumps also rarely help on directed edges: only a path whose ids
    ascend along its edges forms label chains to chase."""
    state, n = layout.materialize(
        nodes.select("node", F.col("node").alias("label"),
                     F.lit(True).alias("improved")))
    side = F.broadcast if layout.fits_broadcast(n) else (lambda df: df)
    links, sends = edges.select("src", "dst"), F.col("improved")
    if jump:
        edges = edges.select("src", "dst", F.lit(False).alias("__j"))
        sends = sends | F.col("__j")
    applied = 0
    while True:
        if jump:
            links = edges.unionByName(
                state.where(F.col("improved")
                            & (F.col("label") != F.col("node")))
                .select(F.col("label").alias("src"),
                        F.col("node").alias("dst"),
                        F.lit(True).alias("__j")))
        msgs = (links.join(side(state.withColumnRenamed("node", "src")),
                           "src")
                .where(sends)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("__m")))
        nxt, n_imp = layout.materialize(
            state.join(side(msgs), "node", "left")
            .select("node",
                    F.least(F.col("label"),
                            F.coalesce(F.col("__m"), F.col("label")))
                    .alias("label"),
                    (F.col("__m") < F.col("label")).alias("improved")),
            where=F.col("improved"), sever=True)
        labels = nxt.select("node", "label")
        if n_imp == 0:
            return labels, True
        if applied >= max_iters:
            # the budget is spent with improvements in hand: the labels
            # are under-propagated
            return labels, False
        state = nxt
        applied += 1


def dedup_clusters(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Duplicate clusters from near-dup pairs: (component, keep_id, n_docs)
    per cluster — ``keep_id`` is the minimum member, everything else in the
    component is a removable duplicate."""
    cc = connected_components(pairs, a, b)
    return (cc.groupBy(F.col("cc").alias("component"))
            .agg(F.min("node").alias("keep_id"),
                 F.count(F.lit(1)).alias("n_docs")))
