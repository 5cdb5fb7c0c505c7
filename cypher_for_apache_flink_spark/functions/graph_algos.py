"""DataFrame-native iterative graph algorithms.

Reference parity: the reference demonstrates graph-algorithm interop by
round-tripping a Cypher result through GraphX PageRank
(morpheus-examples/.../GraphXPageRankExample.scala:55-75 -- Cypher -> DF ->
RDD -> GraphX -> DF).  GraphX is JVM/RDD-only; here the same computation is a
DataFrame-only loop (join + groupBy per superstep), so Catalyst/AQE plan every
iteration, Tungsten keeps rows off-heap, and the shuffle key (dst) is the
natural partitioning -- no RDD hop, no Python row processing.

Scale design:
 - Per iteration: one join ranks-to-edges on src and one hash aggregate on
   dst.  Both shuffles are on node ids; pre-bucketing the edge table by src
   makes the join exchange-free on a real cluster.
 - Two loops are shared: :func:`_power_iteration` runs pagerank and
   personalized_pagerank, :func:`_level_bfs` runs bfs_shortest_paths,
   closeness_centrality, the forward phase of betweenness and the pivot
   phase of strongly_connected_components.
 - Lineage is truncated with :func:`layout.materialize`, the one
   localCheckpoint under functions/ -- iterative DataFrame plans otherwise
   grow exponentially (same recipe as functions/components.py connected
   components).  The power iteration and the level BFS cut EVERY
   superstep: each reads the previous state twice, so an uncut superstep
   doubles the plan of the next.
 - The dangling-mass term rides the superstep's one aggregate (under the
   null key) and is broadcast into the update expression; node count is
   computed once up front.
"""

from __future__ import annotations

import warnings
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import layout
from .components import _min_label_fixpoint

# label_propagation and hits cut their loop state every this many
# supersteps (the other loops read their state twice per superstep and
# cut every one, see the module docstring)
_CUT_EVERY = 2


def _mirror(df: DataFrame, ucol: str = "u", vcol: str = "v",
            carry: tuple = ()) -> DataFrame:
    """Both orientations of every edge row from ONE pass over ``df``
    (round 11): ``df.unionByName(df-reversed)`` plans the input subtree
    TWICE, so an expensive derived edge table (a fact-table self-join or
    groupBy+pair-explode) is computed twice inside the job that
    materializes the mirrored set.  Exploding each row into (u, v) and
    (v, u) emits the identical row multiset from a single pass; ``carry``
    columns (e.g. a weight) ride along unchanged.  Every consumer in this
    module aggregates or deduplicates the result, so the different
    within-partition row order cannot affect results."""
    u, v = F.col(ucol), F.col(vcol)
    cc = [F.col(c).alias(c) for c in carry]
    both = F.explode(F.array(
        F.struct(u.alias(ucol), v.alias(vcol), *cc),
        F.struct(v.alias(ucol), u.alias(vcol), *cc)))
    return (df.select(both.alias("__m"))
            .select(*[F.col(f"__m.{c}").alias(c)
                      for c in (ucol, vcol, *carry)]))


def pagerank(edges: DataFrame, iterations: int = 10, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             weight_col: str | None = None) -> DataFrame:
    """PageRank over an edge DataFrame; returns (node, rank).

    Fixed-iteration power method with uniform teleport and dangling-node
    mass redistribution:

        rank'(v) = (1-d)/N + d * (sum_{u->v} rank(u)/deg(u) + dangling/N)

    With ``weight_col`` (round 10, the GDS relationshipWeightProperty
    analogue) each out-edge contributes proportionally to its weight:
    deg(u) becomes u's total out-weight and the transfer term is
    rank(u) * w(u,v) / wsum(u).  Edges with non-positive weight are
    dropped (treated as absent -- a zero-weight edge transfers nothing
    and must not make its target look non-dangling).  The unweighted
    path is untouched: same expressions, same exchanges, same plan.
    Edges with a null endpoint are ignored.

    Each superstep is one join of the ranks to the out-edges and one
    aggregate on dst (see :func:`_power_iteration`).  The ranks are
    materialized before every superstep but the first: the superstep
    reads them twice (the join and the dangling mass), so a superstep
    left uncut doubles the plan -- and the work -- of the next one.  The
    final ranks are materialized too: the result reads only that
    checkpoint, and the setup's caches are unpersisted on return.

    Deterministic given the edge set (float summation order aside) --
    verified against an unrolled recursive-CTE SQL oracle at 6 decimal
    places.
    """
    cols = [F.col(src_col).alias("src"), F.col(dst_col).alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    edges = edges.select(*cols)
    if weight_col is not None:
        edges = edges.where(F.col("w") > 0)
    return _power_iteration(edges, None, iterations, damping)


def _power_iteration(edges: DataFrame, srcs: DataFrame | None,
                     iterations: int, damping: float) -> DataFrame:
    """The one power-iteration loop behind :func:`pagerank` (``srcs`` is
    None: uniform teleport 1/N) and :func:`personalized_pagerank`
    (``srcs`` is the distinct (node) teleport set: 1/|S| on each source,
    0 elsewhere).  ``edges`` is (src, dst) or weighted (src, dst, w).
    Owns the setup, the pin and broadcast gates and the superstep loop;
    returns (node, rank) as a :func:`layout.materialize` checkpoint, and
    unpersists every frame it persisted before returning."""
    held = []
    try:
        return _power_supersteps(edges, srcs, iterations, damping, held)
    finally:
        for df in reversed(held):
            df.unpersist()


def _power_supersteps(edges: DataFrame, srcs: DataFrame | None,
                      iterations: int, damping: float,
                      held: list) -> DataFrame:
    """:func:`_power_iteration`'s body; appends each frame it persists to
    ``held``."""
    weighted = "w" in edges.columns
    # Persisted: the input may be an expensive derived set (a co-purchase
    # self-join, a Cypher projection) and setup scans it several times
    # (node set, degrees, out-edge materialization) before the loop.
    # Partition pinning is GATED (round 9, VERDICT r8 #1): when the
    # session's shuffle default is mismatched with the cluster (e.g.
    # Spark's out-of-the-box 200 partitions on a 32-core box) the
    # loop-invariant frames are laid out hash(src)/hash(node) at 2x
    # parallelism so every superstep's joins are exchange-free on one
    # side; when the default already matches (the bench config) the pin
    # is skipped entirely — unconditionally pinning was a measured
    # +102% shuffle / +580% cpu regression there (BENCH_DIFF_r08.md,
    # layout.pin_parts docstring).
    # a null id would collide with the dangling sink key (see out_edges)
    edges = edges.where(F.col("src").isNotNull()
                        & F.col("dst").isNotNull()).persist()
    held.append(edges)
    spark = edges.sparkSession
    nparts = layout.pin_parts(spark, data=edges)
    if nparts is None:
        # The Catalyst estimate can DECAY on an evicted cache (it falls
        # back to the child plan's figure — observed in the r9 bench's
        # sf1 spot); when the estimate said "small", confirm with an
        # exact count of the persisted edge set.  The count is one
        # cache-materializing job the setup scans would pay anyway.
        n_edges = layout.count_rows(edges)
        if not layout.fits_broadcast(n_edges):
            nparts = layout.pin_target(spark)
        else:
            # Unpinned small/medium regime: the setup scans and every
            # superstep re-read this cache, whose partition count AQE
            # can never coalesce (cached plans keep their layout) --
            # size the scan once like the walk loops do (round 11)
            edges = layout.scan_coalesce(edges, n_edges)
    ends = (edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node"))))
    if srcs is not None:
        ends = ends.union(srcs)
    nodes = layout.repart(ends, nparts, "node").dropDuplicates(["node"])
    if srcs is not None:
        n_src = layout.count_rows(srcs)
        if n_src == 0:
            return layout.materialize(
                nodes.select("node", F.lit(0.0).alias("rank")).limit(0))[0]
        nodes = (nodes.join(srcs.withColumn("__s", F.lit(1)), "node",
                            "left_outer")
                 .select("node", F.when(F.col("__s").isNotNull(),
                                        F.lit(1.0 / n_src))
                         .otherwise(F.lit(0.0)).alias("tele")))
    # Cached: read every superstep (the zero row of every node in the
    # superstep aggregate).  The count is a deliberate single action: it
    # materializes the cache AND
    # yields N for the teleport term (an iterative algorithm runs a job per
    # superstep anyway — this is not a hidden extra).
    nodes = nodes.cache()
    held.append(nodes)
    n = layout.count_rows(nodes)
    if n == 0:
        return layout.materialize(
            nodes.select("node", F.lit(0.0).alias("rank")))[0]
    if nparts is None:
        nodes = layout.scan_coalesce(nodes, n)
    deg = layout.repart(edges, nparts, "src") \
        .groupBy("src").agg(
            (F.sum("w") if weighted else F.count(F.lit(1))).alias("deg"))
    # (src, dst, deg) is loop-invariant; persist so each superstep reads a
    # materialized table instead of re-running scan+join+agg.  Each
    # DANGLING node (no out-edge) gets one sink row (node, null, deg 1):
    # it sends its whole rank to the null key, so the superstep's one
    # aggregate also yields the dangling mass -- no per-superstep
    # anti-join and no second aggregate.  deg is bounded by the counted
    # node set; when that is comfortably broadcast material, hint it so
    # materializing out_edges is a narrow map over the edge cache instead
    # of a sort-merge that re-shuffles every edge once more (measured at
    # sf0.1: the SMJ exchange doubled the query's shuffle bytes, 48.8 ->
    # 102.1 MB).  Large graphs (node
    # set over the gate) keep the shuffled join — deg is O(|V|) there,
    # not broadcast material.
    bcast_nodes = layout.fits_broadcast(n)
    deg_side = F.broadcast(deg) if bcast_nodes else deg
    out_edges = layout.repart(edges, nparts, "src").join(deg_side, "src")
    typed = {f.name: f.dataType for f in out_edges.schema.fields}
    sink = (nodes.join(deg_side.withColumnRenamed("src", "node"), "node",
                       "left_anti")
            .select(F.col("node").alias("src"),
                    F.lit(None).cast(typed["dst"]).alias("dst"),
                    *([F.lit(1.0).alias("w")] if weighted else []),
                    F.lit(1).cast(typed["deg"]).alias("deg")))
    out_edges = out_edges.unionByName(sink).persist()
    held.append(out_edges)
    if nparts is None:
        out_edges = layout.scan_coalesce(out_edges, n_edges + n)

    tele = [] if srcs is None else ["tele"]
    if srcs is None:
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
        base = F.lit((1.0 - damping) / n)
        share = F.col("m") / n
    else:
        ranks = nodes.select("node", F.col("tele").alias("rank"))
        base = F.lit(1.0 - damping) * F.col("tele")
        share = F.col("m") * F.col("tele")
    transfer = (F.col("rank") * F.col("w") / F.col("deg") if weighted
                else F.col("rank") / F.col("deg"))
    # every node enters the aggregate with a zero contribution (and its
    # teleport weight), so the aggregate has a row per node and the new
    # ranks need no join back to the node set
    zeros = nodes.select(F.col("node").alias("dst"),
                         F.lit(0.0).alias("contrib"), *tele)
    # With the caches alive, Catalyst's growing join-output estimates
    # flip the per-superstep contribs join to sort-merge, and under AQE
    # the out_edges exchange is MATERIALIZED before the runtime
    # broadcast downgrade can help — every iteration re-shuffled the
    # whole cached edge set (measured +42 MB/3 iterations at sf0.1).
    # ranks is exactly n rows; broadcast it explicitly below the same
    # node-count gate as deg, so the hot join streams the cache with no
    # exchange.  Large graphs keep the node-id-keyed shuffle.
    for i in range(iterations):
        if i:
            # the superstep reads ranks twice (through the join and the
            # dangling mass): cut it, or every superstep doubles the plan
            ranks, _ = layout.materialize(ranks)
        rside = ranks.withColumnRenamed("node", "src")
        rside = (F.broadcast(rside) if bcast_nodes
                 else layout.repart(rside, nparts, "src"))
        sent = out_edges.join(rside, "src").select(
            "dst", transfer.alias("contrib"),
            *[F.lit(0.0).alias(c) for c in tele])
        contribs = (layout.repart(sent.unionByName(zeros), nparts, "dst")
                    .groupBy("dst")
                    .agg(F.sum("contrib").alias("contrib"),
                         *[F.sum(c).alias(c) for c in tele]))
        dangling = contribs.where(F.col("dst").isNull()) \
            .select(F.col("contrib").alias("m"))
        ranks = (contribs.where(F.col("dst").isNotNull())
                 .join(F.broadcast(dangling), how="left_outer")
                 .select(F.col("dst").alias("node"),
                         (base + F.lit(damping)
                          * (F.col("contrib")
                             + F.coalesce(share, F.lit(0.0)))).alias("rank")))
    # the final state is a cut too: the caches are dropped on return
    return layout.materialize(ranks)[0]


def bfs_shortest_paths(edges: DataFrame, sources: DataFrame,
                       max_hops: int = 10, src_col: str = "src",
                       dst_col: str = "dst", node_col: str = "node"
                       ) -> DataFrame:
    """Unweighted single/multi-source shortest path lengths; returns
    (node, dist) for every node reachable from ``sources`` within
    ``max_hops`` (sources themselves at dist 0).

    Frontier BFS as a DataFrame loop (:func:`_level_bfs`): per hop, one
    join frontier-to-edges and one aggregate over the new rows and the
    visited set -- both keyed on node ids, so pre-bucketing the edge
    table makes the expansion exchange-free on a cluster.  The visited
    set is the only state (one row per reached node), materialized every
    hop: the next hop reads it twice, so an uncut hop would be recomputed
    by every later one.  The same job counts the new level; an empty
    level ends the loop before ``max_hops``.  The reference has no path
    operator at all (SURVEY §2.3 negative space: CTPath exists in the
    type lattice but no operator produces it); this is the extension
    users reached for GraphX Pregel for.
    """
    return _level_bfs(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        sources.select(F.col(node_col).alias("node")).dropDuplicates(["node"]),
        max_hops)[0]


def _level_bfs(edges: DataFrame, seeds: DataFrame, max_hops: int,
               root: str | None = None, sigma: bool = False
               ) -> tuple[DataFrame, list[DataFrame]]:
    """The one level-synchronous BFS loop behind :func:`bfs_shortest_paths`,
    :func:`closeness_centrality` and the forward phase of
    :func:`betweenness`.

    ``edges`` is (src, dst).  ``seeds`` holds the distinct level-0 rows:
    (node), or (root, node) when ``root`` names a search key column (one
    BFS per root, all run together), plus a long ``sigma`` column when
    ``sigma`` is set.  When ``edges`` carries the ``root`` column too, a
    search follows only its own root's edges (SCC runs its forward and
    backward reachability as two such roots).

    The state is ONE frame of every row reached so far, with its long
    ``dist`` and a ``__new`` flag on the last level.  Per hop: ONE join
    of the flagged level to the edges and ONE aggregate on the key over
    the new rows and the old state, which deduplicates, drops rows
    already reached (their old row wins: ``__new`` is false) and, with
    ``sigma``, sums the shortest-path counts of the new rows.  The state
    is materialized every hop, since the next hop reads it twice (the
    level join and the aggregate); the same job counts the new level,
    and an empty level ends the loop.  Every hop has the same plan, so
    its generated code is compiled once per search, not once per hop.

    Returns ``(visited, levels)``: ``visited`` is the final state (keys,
    carried columns, dist) and ``levels[d]`` its rows at distance d."""
    keys = ["node"] if root is None else [root, "node"]
    carry = ["sigma"] if sigma else []
    new = F.col("__new")
    state, _ = layout.materialize(
        seeds.select(*keys, *carry, F.lit(0).cast("long").alias("dist"),
                     F.lit(True).alias("__new")))
    depth = 0
    for _ in range(max_hops):
        level = state.where(new)
        on = level["node"] == edges["src"]
        if root in edges.columns:
            on = on & (level[root] == edges[root])
        step = level.join(edges, on).select(
            *[level[k] for k in keys[:-1]], F.col("dst").alias("node"),
            *carry, (level["dist"] + 1).alias("dist"),
            F.lit(True).alias("__new"))
        state, n_new = layout.materialize(
            step.unionByName(state.select(*keys, *carry, "dist",
                                          F.lit(False).alias("__new")))
            .groupBy(*keys)
            .agg(*[F.coalesce(F.sum(F.when(~new, F.col(c))), F.sum(c))
                   .alias(c) for c in carry],
                 F.min("dist").alias("dist"),
                 F.bool_and("__new").alias("__new")),
            where=new)
        if n_new == 0:
            break
        depth += 1
    visited = state.drop("__new")
    return visited, [visited.where(F.col("dist") == d)
                     for d in range(depth + 1)]


def weighted_shortest_paths(edges: DataFrame, sources: DataFrame,
                            weight_col: str = "w", src_col: str = "src",
                            dst_col: str = "dst", node_col: str = "node",
                            max_iters: int = 20) -> DataFrame:
    """Single/multi-source WEIGHTED shortest path costs over non-negative
    edge weights; returns (node, cost) for every node reachable from
    ``sources`` (sources at cost 0, multi-source = min over sources).

    Distributed Bellman-Ford with a worklist frontier (round 8,
    VERDICT r7 #7 — the natural weighted extension of the unweighted BFS
    above and of the level-synchronous Cypher shortestPath planner,
    plans/shortest.py): per round ONE join frontier⋈edges, ONE min
    aggregation, ONE improvement anti-join — all shuffles keyed on node
    ids, so a bucketed edge table makes rounds exchange-free on a
    cluster.  Only IMPROVED rows re-enter the frontier, so rounds shrink
    as distances settle; with ``max_iters`` >= the hop count of the
    longest shortest path the result is exact (Bellman-Ford invariant),
    and the loop exits early the first round nothing improves.
    localCheckpoints truncate lineage like every iterative algorithm in
    this module.

    If the budget runs out while rounds are still improving, the costs
    are over-estimates for deep graphs — a ``UserWarning`` is raised
    rather than returning silently-stale values (ADVICE r8), and
    ``CALL algo.sssp(..., maxIters)`` exposes the budget so callers can
    raise it."""
    edges = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"),
                         F.col(weight_col).cast("double").alias("w"))
    dist = (sources.select(F.col(node_col).alias("node"))
            .dropDuplicates(["node"])
            .withColumn("cost", F.lit(0.0)))
    dist, _ = layout.materialize(dist)
    frontier = dist
    converged = False
    for _ in range(max_iters):
        cand = (frontier.join(edges, frontier["node"] == edges["src"])
                .select(F.col("dst").alias("node"),
                        (F.col("cost") + F.col("w")).alias("cost"))
                .groupBy("node").agg(F.min("cost").alias("cost")))
        improved = (cand.join(dist.withColumnRenamed("cost", "__old"),
                              "node", "left")
                    .where(F.col("__old").isNull()
                           | (F.col("cost") < F.col("__old")))
                    .select("node", "cost"))
        improved, n_improved = layout.materialize(improved)
        if n_improved == 0:
            converged = True
            break
        dist, _ = layout.materialize(
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved))
        frontier = improved
    if not converged:
        warnings.warn(
            f"weighted_shortest_paths: stopped after max_iters="
            f"{max_iters} with the last round still improving — results "
            "may over-estimate distances needing more hops; raise "
            "max_iters (CALL algo.sssp exposes it as maxIters)",
            stacklevel=2)
    return dist


def weighted_sp_sql_oracle(edges_sql: str, sources_sql: str,
                           max_hops: int = 10) -> str:
    """Recursive-CTE ANSI-SQL twin of :func:`weighted_shortest_paths`.

    ``edges_sql`` selects (src, dst, w); ``sources_sql`` selects (node).
    Path enumeration bounded by ``max_hops`` — oracle-scale only."""
    return f"""
WITH RECURSIVE edges AS ({edges_sql}),
srcs AS ({sources_sql}),
walk(node, cost, hops) AS (
  SELECT DISTINCT node, CAST(0 AS DOUBLE), 0 FROM srcs
  UNION ALL
  SELECT e.dst, w.cost + CAST(e.w AS DOUBLE), w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < {max_hops}
)
SELECT node, min(cost) AS cost FROM walk GROUP BY node"""


def bfs_sql_oracle(edges_sql: str, sources_sql: str,
                   max_hops: int = 10) -> str:
    """Recursive-CTE ANSI-SQL twin of :func:`bfs_shortest_paths`.

    ``edges_sql`` selects (src, dst); ``sources_sql`` selects (node).
    """
    return f"""
WITH RECURSIVE edges AS ({edges_sql}),
srcs AS ({sources_sql}),
walk(node, dist) AS (
  SELECT DISTINCT node, 0 FROM srcs
  UNION ALL
  SELECT e.dst, w.dist + 1 FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {max_hops}
)
SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node"""


def pagerank_sql_oracle(edges_sql: str, iterations: int = 3,
                        damping: float = 0.85, round_to: int = 6,
                        weighted: bool = False) -> str:
    """Unrolled-CTE ANSI-SQL twin of :func:`pagerank` for the DuckDB oracle.

    ``edges_sql`` must select columns (src, dst) -- plus ``w`` when
    ``weighted`` (non-positive weights dropped, deg = out-weight sum,
    transfer scaled by w, mirroring the engine).  One CTE per superstep
    -- usable for small fixed iteration counts only (the oracle runs at
    sf=0.01); the DataFrame loop is the scale path.
    """
    d = damping
    raw = (f"SELECT src, dst, CAST(w AS DOUBLE) AS w "
           f"FROM ({edges_sql}) __pr_w WHERE w > 0") if weighted \
        else edges_sql
    transfer = "p.rank * e.w / g.deg" if weighted else "p.rank / g.deg"
    deg_expr = "CAST(sum(w) AS DOUBLE)" if weighted \
        else "CAST(count(*) AS DOUBLE)"
    parts = [f"WITH edges AS ({raw})",
             "nodes AS (SELECT src AS node FROM edges "
             "UNION SELECT dst FROM edges)",
             "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
             f"deg AS (SELECT src, {deg_expr} AS deg "
             "FROM edges GROUP BY src)",
             "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"]
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, sum({transfer}) AS contrib "
            f"FROM edges e JOIN {prev} p ON p.node = e.src "
            f"JOIN deg g ON g.src = e.src GROUP BY e.dst)")
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(p.rank), 0.0) AS m FROM {prev} p "
            f"LEFT JOIN deg g ON g.src = p.node WHERE g.src IS NULL)")
        parts.append(
            f"r{i} AS (SELECT n.node, (1.0 - {d}) / nn.n + {d} * "
            f"(coalesce(c.contrib, 0.0) + dd.m / nn.n) AS rank "
            f"FROM nodes n LEFT JOIN c{i} c ON c.node = n.node, d{i} dd, nn)")
    return (", ".join(parts)
            + f" SELECT node, round(rank, {round_to}) AS rank "
              f"FROM r{iterations}")


def _normalize_undirected(edges: DataFrame, src_col: str,
                          dst_col: str) -> DataFrame:
    """Distinct undirected edge set as (u, v) with u < v, self-loops out."""
    s, d = F.col(src_col), F.col(dst_col)
    return (edges.select(F.least(s, d).alias("u"),
                         F.greatest(s, d).alias("v"))
            .where(F.col("u") < F.col("v"))
            .dropDuplicates(["u", "v"]))


def _oriented_intersections(edges: DataFrame, src_col: str,
                            dst_col: str):
    """Shared degree-ordered triangle core for :func:`triangle_count`
    and :func:`local_clustering`: returns ``(j, deg, und, oriented)``
    where ``j`` carries (a, b, nb_a, nb_b) for every oriented edge --
    the common neighbors ``array_intersect(nb_a, nb_b)`` are that
    edge's triangle closers -- ``deg`` is the true undirected (node,
    deg) table, and ``und``/``oriented`` are the PERSISTED frames the
    caller unpersists once it has materialized its result.

    Degree-ordered adjacency intersection: orient every undirected edge
    from its lower-(degree, id) endpoint to the higher one — each triangle
    then has exactly one "apex" a with oriented edges a->b, a->c and the
    closing edge oriented b->c, so summing |N+(a) ∩ N+(b)| over oriented
    edges (a, b) counts each triangle exactly once.  Orientation bounds
    every out-neighborhood by O(sqrt(m)), so the collected adjacency
    arrays are small, shuffled data is ~2m node ids, and no hub explodes a
    partition — unlike the wedge-join formulation, which materializes
    O(m^1.5) wedge rows through a shuffle (measured 30x slower at sf0.1 on
    a 1.1M-edge co-purchase graph).

    ``und`` and ``oriented`` are persisted (two consumers each — a
    derived edge set like a lineitem co-purchase self-join would
    otherwise be recomputed per consumer) only until the caller's result
    is a checkpoint; nothing persisted is handed out past the call.

    Partition-count pinning, GATED (round 9, VERDICT r8 #1): the
    adjacency join moves wide array rows, and its wall time proved
    sharply sensitive to ``spark.sql.shuffle.partitions`` — measured
    34.6s / 63.4s / 103.7s at 64 / 32 / 200 partitions on the SAME
    12M-edge input (r7 probe).  When :func:`layout.pin_parts` detects such a
    mismatched session default, EVERY wide exchange (normalize distinct,
    degree agg, degree joins, adjacency groupBy, both intersection
    joins) is pinned to 2x cluster parallelism via explicit hash
    repartitions that Catalyst reuses for the downstream aggregate/join.
    When the session default already matches the cluster, no pin: the
    round-8 unconditional pin was a measured +573% shuffle-write / +128%
    cpu regression under the bench's own well-sized config
    (BENCH_DIFF_r08.md) because each explicit repartition became an
    exchange AQE would otherwise have coalesced away.
    """
    spark = edges.sparkSession
    nparts = layout.pin_parts(spark, data=edges)
    s, d = F.col(src_col), F.col(dst_col)
    # normalize inline (not via _normalize_undirected) so the distinct
    # can run on a pinned hash(u, v) exchange the dedup aggregate reuses
    und = und_p = (layout.repart(edges.select(F.least(s, d).alias("u"),
                                              F.greatest(s, d).alias("v"))
                                 .where(F.col("u") < F.col("v")),
                                 nparts, "u", "v")
                   .dropDuplicates(["u", "v"]).persist())
    # Exact data-size decision off the PERSISTED normalized edge set
    # (round 9, VERDICT r8 #1 "kill the sf1 spill").  The count is one
    # cheap job that materializes a cache every downstream consumer
    # reads anyway, and unlike Catalyst's plan-size estimate it cannot
    # decay: an evicted InMemoryRelation reports its CHILD's estimate
    # again (observed in the r9 bench — the sf1 spot's 12M-edge input
    # estimated ~15 MB after k_core's checkpoints evicted its cache,
    # silently disabling the large-input plan below).
    n_und = und.count()
    big_data = not layout.fits_broadcast(n_und)   # (u, v) = 2 longs/row
    if nparts is None and big_data:
        nparts = layout.pin_target(spark)
    if nparts is None:
        # Small/medium unpinned regime: several consumers (the degree
        # aggregate's reused exchange, the orientation join chain) scan
        # this cache, whose derivation partition count AQE can never
        # re-coalesce — size the scan once from the exact count (round
        # 11, same discipline as the walk loops / pagerank)
        und = layout.scan_coalesce(und, n_und)
    # The intersection-join strategy is hinted EXPLICITLY in both
    # regimes — sized thresholds would otherwise flip with the cache
    # state (materializing und above makes Catalyst's estimates
    # realistic, which pushes the ~40 MB adjacency over the 10 MB
    # autoBroadcast threshold and silently turns the join into a
    # sort-merge: measured 44.9 MB -> 224 MB shuffle / 27.6s -> 35.0s
    # cpu at sf0.1):
    # - SMALL graphs broadcast the adjacency (<= ~4M oriented edges by
    #   the gate, so the array side is bounded at tens of MB — routine
    #   broadcast material); total sf0.1 shuffle stays at the round-7
    #   44.9 MB.
    # - LARGE graphs shuffle-hash: sort-merge must sort the wide
    #   adjacency-array rows on both sides, pure spill fuel — measured
    #   at the 12M-edge x10 scale: SMJ 9.2 GB spill / 617s cpu / 7.8 GB
    #   peak task memory vs SHJ 0 spill / 306s cpu / 2.3 GB peak (+21%
    #   shuffle, the only cost).  Broadcasting is out at this size.
    use_shj = big_data
    deg = (layout.repart(
        und.select(F.explode(F.array("u", "v")).alias("node")),
        nparts, "node")
        .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    # The DEGREE joins get the same explicit strategy as the adjacency
    # joins below, and for the same reason: materializing und (the exact
    # count above) makes Catalyst's estimates realistic, which pushes the
    # derived deg table over the autoBroadcast threshold and silently
    # flips both joins to sort-merge — measured +24.5 MB shuffle (44.9 ->
    # 69.4 MB) at sf0.1 for a (node, count) side of a few hundred KB.
    # Small graphs broadcast deg; large graphs keep the node-id-keyed
    # shuffle (deg is O(#nodes) rows — billions on a 100 TB graph, not
    # broadcast material).
    def _deg_side(node_alias: str, deg_alias: str):
        side = (deg.withColumnRenamed("node", node_alias)
                .withColumnRenamed("deg", deg_alias))
        return side if big_data else F.broadcast(side)
    # deg's groupBy output is hash(node)@nparts, which the alias-preserving
    # Project keeps, so only the und side of each degree join needs a pin
    withdeg = (layout.repart(und, nparts, "u")
               .join(_deg_side("u", "du"), "u"))
    withdeg = (layout.repart(withdeg, nparts, "v")
               .join(_deg_side("v", "dv"), "v"))
    # rank = (deg, id) totally orders nodes; orient low -> high
    ru = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    oriented = oriented_p = layout.repart(withdeg.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(ru < rv, F.col("v")).otherwise(F.col("u")).alias("b")),
        nparts, "a").persist()
    if nparts is None:
        # one oriented row per undirected edge — reuse n_und, no extra
        # counting job; denser rows/part than und because this cache
        # feeds the CPU-heavy adjacency-intersection probe, which still
        # wants real parallelism
        oriented = layout.scan_coalesce(oriented, n_und,
                                        layout.DENSE_ROWS_PER_PART)
    # groupBy("a") and the first join reuse oriented's hash(a) partitioning
    adj = (oriented.groupBy("a")
           .agg(F.sort_array(F.collect_list("b")).alias("nb")))
    adj = adj.hint("shuffle_hash") if use_shj else F.broadcast(adj)
    j1 = layout.repart(oriented
                       .join(adj.select(F.col("a").alias("__ja"),
                                        F.col("nb").alias("nb_a")),
                             F.col("a") == F.col("__ja")), nparts, "b")
    j = j1.join(adj.select(F.col("a").alias("__jb"),
                           F.col("nb").alias("nb_b")),
                F.col("b") == F.col("__jb"))
    # return the PERSISTED handles (not the coalesced scan wrappers) so
    # the caller unpersists the actual cached plans
    return j, deg, und_p, oriented_p


def triangle_count(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Global triangle count of the undirected graph; one row
    ``n_triangles``.  Strategy and measured gates live in
    :func:`_oriented_intersections` (degree-ordered adjacency
    intersection; wedge-join rejected at 30x slower)."""
    j, _deg, und, oriented = _oriented_intersections(edges, src_col,
                                                     dst_col)
    out = j.agg(F.coalesce(
        F.sum(F.size(F.array_intersect(F.col("nb_a"), F.col("nb_b")))),
        F.lit(0)).cast("long").alias("n_triangles"))
    try:
        return layout.materialize(out)[0]
    finally:
        oriented.unpersist()
        und.unpersist()


def local_clustering(edges: DataFrame, src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """Per-node triangle participation and local clustering coefficient
    over the undirected simple graph: (node, triangles, degree, coeff)
    with coeff = 2*triangles / (degree*(degree-1)) and 0.0 below degree
    2 -- the GDS localClusteringCoefficient surface.

    Rides the SAME degree-ordered intersection core as
    :func:`triangle_count` (one oriented adjacency join pass, no wedge
    blow-up, hub out-neighborhoods bounded O(sqrt(m))): each oriented
    edge (a, b) contributes |common| to a and b and 1 to every common
    neighbor -- ONE explode over a three-part contribution array, then
    one node-keyed sum.  Every triangle is seen exactly once, so each
    member collects exactly one contribution from it.  The coefficient
    divides by the TRUE undirected degree (the core's pre-orientation
    degree table), not the oriented out-degree.
    """
    j, deg, und, oriented = _oriented_intersections(edges, src_col,
                                                    dst_col)
    cm = j.select("a", "b",
                  F.array_intersect("nb_a", "nb_b").alias("cm"))
    contrib = (cm.select(F.explode(F.concat(
        F.array(F.struct(F.col("a").alias("node"),
                         F.size("cm").alias("t")),
                F.struct(F.col("b").alias("node"),
                         F.size("cm").alias("t"))),
        F.transform("cm", lambda c: F.struct(
            c.alias("node"), F.lit(1).alias("t"))))).alias("x"))
        .select("x.node", "x.t"))
    tri = (contrib.groupBy("node")
           .agg(F.sum("t").cast("long").alias("triangles")))
    out = (deg.join(tri, "node", "left")
           .select("node",
                   F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
                   .alias("triangles"),
                   F.col("deg").cast("long").alias("degree"),
                   F.when(F.col("deg") >= 2,
                          F.lit(2.0) * F.coalesce(F.col("triangles"),
                                                  F.lit(0))
                          / (F.col("deg") * (F.col("deg") - 1)))
                   .otherwise(F.lit(0.0)).alias("coeff")))
    try:
        return layout.materialize(out)[0]
    finally:
        oriented.unpersist()
        und.unpersist()


def local_clustering_sql_oracle(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`local_clustering` (id-ordered triangle
    enumeration -- per-node membership is orientation-independent).
    Float coeff: round both sides before comparing."""
    return f"""
WITH __lc_in AS ({edges_sql}),
ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       FROM __lc_in WHERE src <> dst),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM ue e1 JOIN ue e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN ue e3 ON e3.u = e1.v AND e3.v = e2.v),
t AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) z GROUP BY node),
deg AS (SELECT node, count(*) AS degree FROM (
          SELECT u AS node FROM ue UNION ALL SELECT v FROM ue) z
        GROUP BY node)
SELECT d.node, COALESCE(t.triangles, 0) AS triangles,
       CAST(d.degree AS BIGINT) AS degree,
       CASE WHEN d.degree >= 2
            THEN 2.0 * COALESCE(t.triangles, 0)
                 / (d.degree * (d.degree - 1))
            ELSE 0.0 END AS coeff
FROM deg d LEFT JOIN t ON t.node = d.node"""


def triangle_sql_oracle(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`triangle_count`: count u < v < w paths whose
    three undirected edges all exist.  ``edges_sql`` selects (src, dst)."""
    return f"""
WITH __tri_in AS ({edges_sql}),
e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM __tri_in WHERE src <> dst)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM e e1 JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v"""


def degree_histogram(edges: DataFrame, src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """Undirected degree distribution: (degree, n_nodes) ordered by degree.

    Two hash aggregates (per-node degree, then histogram) — both map-side
    combinable, output is at most max-degree rows.  Both endpoints come
    from ONE scan of the normalized edge set (explode, not a two-branch
    union — a union would recompute a derived edge set twice).
    """
    und = _normalize_undirected(edges, src_col, dst_col)
    deg = (und.select(F.explode(F.array("u", "v")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .orderBy("degree"))


def k_core(edges: DataFrame, k: int = 3, src_col: str = "src",
           dst_col: str = "dst", max_rounds: int | None = None) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k.  Returns (node, degree) with each survivor's degree
    INSIDE the core.

    Iterative peeling as a DataFrame loop: per round, one degree
    aggregate over the remaining edge set and one semi-join to drop edges
    touching sub-k nodes.  Converges in at most O(n) rounds, in practice
    a handful; every round is localCheckpoint-materialized (the fixpoint
    test needs a count anyway) so lineage stays flat.  All shuffles key on
    node ids — pre-bucketed edge tables make the peeling exchange-free on
    a cluster.
    """
    # Bound the per-round task count independent of the session's
    # shuffle-partition default (round 8, VERDICT r7 #4 follow-up: the
    # partition probe measured the peel 2.3x slower under
    # spark.sql.shuffle.partitions=200 than 32 on identical data —
    # per-round checkpoint + scan overhead across many small partitions).
    # coalesce() narrows WITHOUT a shuffle and keeps AQE free to broadcast
    # the shrinking keep side of the semi-joins; explicit hash
    # repartitions here (tried and reverted mid-round-8, so the interim
    # numbers never reached a committed bench run) pinned partitions
    # harder but forced a full live-edge shuffle per round, measured at
    # the time as +116% shuffle-write bytes at sf0.1; the committed
    # r7->r8 diff of the SHIPPED coalesce form is byte-identical on
    # k_core (BENCH_DIFF_r08.md).
    nparts = layout.pin_target(edges.sparkSession)
    live, n_live = layout.materialize(
        _normalize_undirected(edges, src_col, dst_col))
    rounds = 0
    converged = n_live == 0
    while not converged:
        deg = (live.select(F.explode(F.array("u", "v")).alias("node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
        keep = deg.where(F.col("degree") >= k).select("node")
        nxt = (live.join(keep.withColumnRenamed("node", "u"), "u",
                         "left_semi")
               .join(keep.withColumnRenamed("node", "v"), "v", "left_semi"))
        # materialize every round: the fixpoint test needs a count anyway,
        # and the checkpoint truncates the per-round lineage — count and
        # checkpoint ride ONE job (layout.materialize)
        live, n_next = layout.materialize(nxt.coalesce(nparts))
        converged = n_next == n_live
        n_live = n_next
        rounds += 1
        if max_rounds is not None and rounds >= max_rounds and not converged:
            # a peel that removes O(1) nodes per round (e.g. a long path
            # graph) legitimately needs O(n) rounds — stopping early would
            # return non-core members, so the default is unbounded
            warnings.warn(
                f"k_core: stopped after max_rounds={max_rounds} without "
                "reaching the fixpoint; result is a SUPERSET of the "
                f"{k}-core", RuntimeWarning)
            break
    deg = (live.select(F.explode(F.array("u", "v")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).cast("long")
                                .alias("degree")))
    return deg.where(F.col("degree") >= k)


def k_core_sql_oracle(edges_sql: str, k: int = 3, rounds: int = 12) -> str:
    """Unrolled-CTE twin of :func:`k_core` (one CTE pair per peel round —
    fine for the sf0.01 oracle; the DataFrame loop is the scale path).
    ``rounds`` must cover convergence for the oracle data set; the final
    round's survivors are stable by then."""
    # MATERIALIZED: each round references the previous one three times —
    # default CTE inlining would expand the tree 3^rounds-fold
    parts = [f"WITH e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
             f"greatest(src, dst) AS v FROM ({edges_sql}) WHERE src <> dst)"]
    for i in range(1, rounds + 1):
        p = f"e{i - 1}"
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS degree FROM "
            f"(SELECT u AS node FROM {p} UNION ALL SELECT v FROM {p}) "
            f"GROUP BY node)")
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE degree >= {k})")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT p.u, p.v FROM {p} p "
            f"JOIN k{i} a ON a.node = p.u JOIN k{i} b ON b.node = p.v)")
    last = f"e{rounds}"
    return (", ".join(parts)
            + f" SELECT node, CAST(count(*) AS BIGINT) AS degree FROM "
              f"(SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last})"
              f" GROUP BY node HAVING count(*) >= {k}")


def neighborhood_jaccard_pairs(edges: DataFrame, threshold: float = 0.5,
                               src_col: str = "src", dst_col: str = "dst",
                               max_neighbor_degree="auto",
                               node_filter=None) -> DataFrame:
    """Node-similarity pairs by Jaccard over undirected neighbor sets
    (the GDS nodeSimilarity shape).  Returns (a, b, jaccard) with a < b
    and jaccard >= threshold.

    Candidate pairs are generated only through SHARED neighbors (wedge
    join on the neighbor id) — no all-pairs blowup; a zero-overlap pair
    has jaccard 0 and can never pass a positive threshold, so the block
    is exact.  ``max_neighbor_degree`` drops hub neighbors (connecting
    more than that many nodes) before the wedge join — the same skew cap
    as ngram_jaccard_pairs' shingle-frequency cut, for graphs with
    power-law hubs.  Defaults to ``dedup.DEFAULT_SKEW_CAP`` (VERDICT r4
    #4); pass None for the exact unbounded join.  Degrees in the
    denominator still count ALL neighbors, but hub-mediated overlap
    leaves the numerator, so capped jaccard values are LOWER BOUNDS of
    the exact ones (pairs whose overlap is hub-only can be missed) — the
    standard recall/cost trade at scale.

    ``node_filter`` (round 11, guide §2.3/§5): an optional
    ``Column -> Column`` predicate over the node id, applied to BOTH
    wedge sides before they are persisted.  Result-equivalent to
    post-filtering the output with ``node_filter(a) & node_filter(b)``
    — each pair's jaccard depends only on its shared-neighbor count and
    the two FULL degrees, and all three are computed the same way for
    the surviving pairs — but pushed INSIDE the cache boundary: Catalyst
    can push a caller's post-filter into every *scan* of the persisted
    wedge frame, yet the cache itself still stores (and the wedge join
    still shuffles partial aggregates over) every excluded node's rows.
    On a bipartite graph queried for one side (the node_similarity
    entry: doc-shingle edges, doc-doc pairs wanted) the excluded side's
    wedges are the bulk of the candidate stream.  Degrees in the
    denominator still count ALL neighbors — the predicate restricts
    which pairs are *emitted*, never what a pair's jaccard is.
    """
    if max_neighbor_degree == "auto":
        from .dedup import DEFAULT_SKEW_CAP
        max_neighbor_degree = DEFAULT_SKEW_CAP
    # Persist the COMPACT normalized edge set (round 12): the mirrored
    # adjacency was cached before, but it is exactly 2x und's rows and
    # both of its consumers (deg, wedge source) aggregate or re-shuffle
    # anyway — mirroring is a narrow explode each consumer can replay
    # from the half-size cache, so the cache fill, its storage, and
    # every scan move half the bytes.
    und = _normalize_undirected(edges, src_col, dst_col).persist()
    # one count materializes the cache BEFORE its two consumers (deg and
    # the wedge fill) can race a concurrent double-fill, and sizes the
    # partition layouts below (round 12)
    n_und = und.count()
    # both orientations from ONE pass -- see _mirror (round 11); a cheap
    # view over the cached und, NOT materialized separately.  Scans are
    # size-coalesced (round 12, layout.scan_coalesce): the cache arrives in
    # shuffle.partitions-many derivation partitions regardless of size,
    # and every 32-task stage over a few thousand rows/task pays fixed
    # per-task cost; no-op >=150k rows/part so the large-graph regime is
    # untouched.
    adj = (_mirror(layout.scan_coalesce(und, 2 * n_und))
           .select(F.col("u").alias("node"),
                   F.col("v").alias("nbr")))
    # deg feeds three consumers (hub filter + both denominator joins) and
    # wedge_src two (both wedge sides, each paying the broadcast build) —
    # persisting them evaluates each subtree once per query instead of
    # per consumer, which also removes the dominant run-to-run timing
    # spread (VERDICT r6 #5)
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg")).persist()
    wedge_src = adj
    if max_neighbor_degree is not None:
        small = deg.where(F.col("deg") <= max_neighbor_degree) \
            .select(F.col("node").alias("nbr"))
        wedge_src = wedge_src.join(F.broadcast(small), "nbr")
    if node_filter is not None:
        # push the caller's node predicate below the persist: the
        # cache stores only rows that can appear in an emitted pair
        wedge_src = wedge_src.where(node_filter(F.col("node")))
    # hash(nbr)-partition BEFORE persisting: the wedge join below is
    # a self-join of this cache on nbr, and a cached frame keeps its
    # layout forever — co-partitioning here makes BOTH join inputs
    # exchange-free (one exchange paid at materialization replaces
    # two on the hot path, guide §2.4), and the cache comes out in
    # right-sized shuffle partitions instead of derivation layout
    # (round 12: now applied in the unfiltered branch too — it was the
    # only branch left reading the derivation layout).  The partition
    # COUNT is size-adaptive (layout.size_parts): a cached frame keeps
    # its layout forever and AQE never re-coalesces it, so the explicit
    # count must track the data.
    wedge_parts = layout.size_parts(edges.sparkSession, 2 * n_und)
    wedge_src = wedge_src.repartition(wedge_parts, "nbr").persist()
    a = wedge_src.select(F.col("node").alias("a"), "nbr")
    b = wedge_src.select(F.col("node").alias("b"), "nbr")
    shared = (a.join(b, "nbr").where(F.col("a") < F.col("b"))
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("shared")))
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    out = (shared.join(da, "a").join(db, "b")
           .withColumn("jaccard", F.round(
               F.col("shared")
               / (F.col("da") + F.col("db") - F.col("shared")), 6))
           .where(F.col("jaccard") >= threshold)
           .select("a", "b", "jaccard"))
    try:
        return layout.materialize(out)[0]
    finally:
        for df in (wedge_src, deg, und):
            df.unpersist()


def neighborhood_jaccard_sql_oracle(edges_sql: str, threshold: float = 0.5,
                                    max_neighbor_degree="auto") -> str:
    """SQL twin of :func:`neighborhood_jaccard_pairs`, including the
    hub cap (wedge source filtered by neighbor degree; the jaccard
    denominator keeps FULL degrees, exactly like the Spark op).  The
    default mirrors the Spark default (``dedup.DEFAULT_SKEW_CAP``)."""
    if max_neighbor_degree == "auto":
        from .dedup import DEFAULT_SKEW_CAP
        max_neighbor_degree = DEFAULT_SKEW_CAP
    wedge_src = "adj"
    cap_cte = ""
    if max_neighbor_degree is not None:
        cap_cte = (f", capped AS (SELECT a.node, a.nbr FROM adj a "
                   f"JOIN deg d ON d.node = a.nbr "
                   f"WHERE d.deg <= {max_neighbor_degree})")
        wedge_src = "capped"
    return f"""
WITH __nj_in AS ({edges_sql}),
e AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM __nj_in WHERE src <> dst),
adj AS (SELECT u AS node, v AS nbr FROM e
        UNION ALL SELECT v, u FROM e),
deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node){cap_cte},
shared AS (
  SELECT x.node AS a, y.node AS b, count(*) AS shared
  FROM {wedge_src} x JOIN {wedge_src} y
    ON x.nbr = y.nbr AND x.node < y.node
  GROUP BY x.node, y.node)
SELECT a, b,
       round(shared / (da.deg + db.deg - shared), 6) AS jaccard
FROM shared JOIN deg da ON da.node = a JOIN deg db ON db.node = b
WHERE shared / (da.deg + db.deg - shared) >= {threshold}"""


def personalized_pagerank(edges: DataFrame, sources: DataFrame,
                          iterations: int = 10, damping: float = 0.85,
                          src_col: str = "src", dst_col: str = "dst",
                          node_col: str = "node") -> DataFrame:
    """Personalized PageRank: teleport (and dangling mass) land only on
    the ``sources`` set, uniformly — random walk with restart, the
    standard graph-recommendation primitive.  Returns (node, rank).

        rank'(v) = (1-d)*tele(v) + d * (sum_{u->v} rank(u)/deg(u)
                                        + dangling * tele(v))

    with tele(v) = 1/|S| for source nodes, else 0.  Runs the same loop
    as :func:`pagerank` -- :func:`_power_iteration`, with the sources as
    the teleport set -- so it shares pagerank's pin and broadcast gates,
    scan coalescing and checkpointed result; per-superstep shuffles key
    on node ids.  Like pagerank it materializes the ranks before every
    superstep but the first, since each superstep reads them twice.
    """
    srcs = (sources.select(F.col(node_col).alias("node"))
            .where(F.col("node").isNotNull()).dropDuplicates(["node"]))
    return _power_iteration(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        srcs, iterations, damping)


def personalized_pagerank_sql_oracle(edges_sql: str, sources_sql: str,
                                     iterations: int = 3,
                                     damping: float = 0.85,
                                     round_to: int = 6) -> str:
    """Unrolled-CTE twin of :func:`personalized_pagerank` (MATERIALIZED —
    every round references the previous one multiple times)."""
    d = damping
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        f"srcs AS MATERIALIZED (SELECT DISTINCT node FROM ({sources_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges UNION SELECT node FROM srcs)",
        "ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM srcs)",
        "tele AS MATERIALIZED (SELECT n.node, CASE WHEN s.node IS NOT NULL "
        "THEN 1.0 / ns.n ELSE 0.0 END AS t "
        "FROM nodes n LEFT JOIN srcs s ON s.node = n.node, ns)",
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg "
        "FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT node, t AS rank FROM tele)",
    ]
    for i in range(1, iterations + 1):
        prev = f"r{i - 1}"
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node, "
            f"sum(p.rank / g.deg) AS contrib "
            f"FROM edges e JOIN {prev} p ON p.node = e.src "
            f"JOIN deg g ON g.src = e.src GROUP BY e.dst)")
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT coalesce(sum(p.rank), 0.0) AS m "
            f"FROM {prev} p LEFT JOIN deg g ON g.src = p.node "
            f"WHERE g.src IS NULL)")
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT t.node, "
            f"(1.0 - {d}) * t.t + {d} * "
            f"(coalesce(c.contrib, 0.0) + dd.m * t.t) AS rank "
            f"FROM tele t LEFT JOIN c{i} c ON c.node = t.node, d{i} dd)")
    return (", ".join(parts)
            + f" SELECT node, round(rank, {round_to}) AS rank "
              f"FROM r{iterations}")


def label_propagation(edges: DataFrame, iterations: int = 5,
                      src_col: str = "src", dst_col: str = "dst"
                      ) -> DataFrame:
    """Community detection by synchronous label propagation; returns
    (node, community) for every endpoint of ``edges``.

    DETERMINISTIC variant of Raghavan et al.'s LPA: every node starts
    labeled with its own id; each superstep relabels every node with the
    most frequent label among its (undirected) neighbors, ties broken by
    the smallest label — synchronous updates plus a total tie-break order
    make the result a pure function of the input, so it is testable
    against an unrolled SQL oracle (:func:`label_propagation_sql_oracle`)
    unlike the randomized asynchronous original.  Fixed ``iterations``
    supersteps (classic LPA converges in ~5 on social graphs; synchronous
    LPA can 2-cycle on bipartite structures, so a fixpoint test would not
    terminate — a fixed budget is the standard remedy).

    Per superstep: ONE join (neighbor label lookup) and ONE two-level
    aggregation — count per (node, label), then arg-max via a min-struct,
    which partially aggregates map-side.  All shuffles key on node ids,
    so pre-bucketed edge tables make supersteps exchange-free on a
    cluster; lineage is checkpoint-truncated every second round and
    after the last.

    The reference has no community detection at all (SURVEY §2 negative
    space — no GDS-style algorithm surface); exposed to Cypher as
    ``CALL algo.labelPropagation(iterations)``.
    """
    und = _normalize_undirected(edges, src_col, dst_col)
    # Pre-hash-partitioning the adjacency on nbr was tried for round 9
    # (VERDICT r8 #5) and measured WORSE, twice, at sf0.1 on identical
    # data: (a) repartition("nbr") before this localCheckpoint is dead
    # weight — LogicalRDD does not preserve outputPartitioning here, so
    # the superstep joins re-exchange anyway (verified on a plan:
    # 2 ENSURE_REQUIREMENTS exchanges either way) and cpu rose 24s->59s;
    # (b) repartition("nbr").persist() DOES carry the partitioning into
    # the joins, but still measured 92.2 MB -> 118.9 MB shuffle and
    # 43.3s -> 51.9s cpu, because AQE already broadcasts the per-node
    # label frame into the join (there is no adjacency re-shuffle to
    # save) while the setup repartition pays a full extra pass.  The
    # irreducible per-superstep shuffle is the (node, label) count
    # aggregate below, which partially aggregates map-side.
    # both orientations from ONE pass over the (possibly expensive
    # derived) normalized edge set -- see _mirror (round 11)
    adj, _ = layout.materialize(
        _mirror(und).select(F.col("u").alias("node"),
                            F.col("v").alias("nbr")))
    labels, _ = layout.materialize(
        adj.select("node").dropDuplicates(["node"])
        .withColumn("lbl", F.col("node")))
    for it in range(1, iterations + 1):
        counts = (adj.join(labels.withColumnRenamed("node", "nbr"), "nbr")
                  .groupBy("node", "lbl")
                  .agg(F.count(F.lit(1)).alias("cnt")))
        # arg-max (max count, then min label) as a single min-struct
        # aggregate: min(struct(-cnt, lbl)).lbl — no window, so the
        # per-node reduction combines map-side
        labels = (counts.groupBy("node")
                  .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                      F.col("lbl").alias("l")))
                       .getField("l").alias("lbl")))
        if it % _CUT_EVERY == 0 or it == iterations:
            labels, _ = layout.materialize(labels)
    return labels.select("node", F.col("lbl").alias("community"))


def label_propagation_sql_oracle(edges_sql: str, iterations: int = 5) -> str:
    """Unrolled-CTE ANSI-SQL twin of :func:`label_propagation` for the
    DuckDB oracle.  ``edges_sql`` selects (src, dst); one CTE pair per
    superstep — oracle-scale only, the DataFrame loop is the scale path."""
    parts = [
        f"WITH __lp_in AS ({edges_sql})",
        "und AS (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM __lp_in WHERE src <> dst)",
        "adj AS (SELECT u AS node, v AS nbr FROM und "
        "UNION ALL SELECT v, u FROM und)",
        "l0 AS (SELECT DISTINCT node, node AS lbl FROM adj)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT a.node, p.lbl, count(*) AS cnt "
            f"FROM adj a JOIN l{i - 1} p ON p.node = a.nbr "
            f"GROUP BY a.node, p.lbl)")
        parts.append(
            f"l{i} AS (SELECT node, lbl FROM (SELECT node, lbl, "
            f"row_number() OVER (PARTITION BY node "
            f"ORDER BY cnt DESC, lbl ASC) AS rn FROM c{i}) WHERE rn = 1)")
    return (", ".join(parts)
            + f" SELECT node, lbl AS community FROM l{iterations}")


def hits(edges: DataFrame, iterations: int = 5, src_col: str = "src",
         dst_col: str = "dst") -> DataFrame:
    """HITS (Kleinberg): returns (node, hub, authority) over the DIRECTED
    edge set, both scores L2-normalized each superstep (the standard
    convergent formulation).

    Fused superstep + deferred normalization (round 9, VERDICT r8 #3):

    - The loop state is the hub vector over SOURCE nodes only — the
      recursion never reads a hub for a node without out-edges (hub
      values only enter through an edge join on src) nor an authority
      for a node that is never a dst, and both are exactly 0 by the
      update rule.  The round-8 form rebuilt a dense (node, hub, auth)
      frame every superstep — two nodes-side left joins and a
      hub ⋈ auth re-join, ~5 shuffle passes per iteration, 47.4s
      executor CPU at sf0.1; the zero rows those joins manufactured are
      now filled in once, after the loop.
    - The per-step L2 normalizations are scalars that commute through
      the linear updates (auth_i ∝ Aᵀ hub_{i-1}, hub_i ∝ A auth_i), so
      for moderate iteration budgets they are DEFERRED: the loop body
      is exactly TWO join+aggregate passes and the two norms are
      computed once at the end.  A per-step norm would need its raw sum
      frame persisted (the norm is a broadcast subplan — a separate
      query-stage tree that otherwise re-executes the join+agg), and
      the persists alone measured 9.7s cpu at sf0.1; deferring gets the
      same rounded-6 values (verified: 15,030 rows, 0 mismatches vs the
      per-step-normalizing DuckDB oracle) at 0.9s cpu / 0.52 MB shuffle
      — cheaper than pagerank.  Magnitudes grow like λ_max(AAᵀ)^i
      between normalizations, so for deep budgets (> 8 iterations,
      where overflow toward 1e308 becomes conceivable on huge graphs)
      the loop falls back to per-step normalization with persisted sum
      frames.

    All shuffles stay keyed on node ids, so a bucketed edge table makes
    supersteps exchange-free.  Deterministic given the edge set (float
    summation order aside) — verified against an unrolled-CTE SQL
    oracle at 6 decimals.  Beyond-reference: the reference has no
    algorithm surface at all.
    """
    held = []
    try:
        return _hits_supersteps(edges, iterations, src_col, dst_col, held)
    finally:
        for df in reversed(held):
            df.unpersist()


def _hits_supersteps(edges: DataFrame, iterations: int, src_col: str,
                     dst_col: str, held: list) -> DataFrame:
    """:func:`hits`'s body; appends each frame it persists to ``held``."""
    edges = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst")).persist()
    held.append(edges)
    # The loop scans this cache twice per superstep in its derivation
    # partition layout (never re-coalesced for cached plans); size the
    # scan once from an exact count — one job that materializes a cache
    # the first superstep pays for anyway, no-op above the rows/part
    # bound so the large-graph regime plans identically (round 11).
    edges = layout.scan_coalesce(edges, edges.count())
    nodes = (edges.select(F.col("src").alias("node"))
             .union(edges.select(F.col("dst").alias("node")))
             .dropDuplicates(["node"])).persist()
    held.append(nodes)
    if iterations <= 0:
        # degenerate call: the uniform initial scores, as before round 9
        return layout.materialize(
            nodes.select("node", F.lit(1.0).alias("hub"),
                         F.lit(1.0).alias("authority")))[0]
    # hub_0 = 1.0 over nodes WITH out-edges; others never feed the loop
    hub = (edges.select(F.col("src").alias("node"))
           .dropDuplicates(["node"]).withColumn("h", F.lit(1.0)))
    a = None
    defer_norms = iterations <= 8

    def _norm1(df, col):
        return df.agg(F.sqrt(F.sum(F.col(col) * F.col(col)))
                      .alias("n")).select(
            F.when(F.col("n") > 0, F.col("n")).otherwise(F.lit(1.0))
            .alias("n"))

    for i in range(iterations):
        # authority sums: a(v) = sum of hub(u) over edges u->v;
        # never-a-dst nodes get auth 0 and are filled in after the loop
        a = (edges.join(hub.withColumnRenamed("node", "src"), "src")
             .groupBy(F.col("dst").alias("node"))
             .agg(F.sum("h").alias("a")))
        if not defer_norms:
            a = a.persist()
            held.append(a)
            a = (a.crossJoin(F.broadcast(_norm1(a, "a")))
                 .select("node", (F.col("a") / F.col("n")).alias("a")))
        # hub sums: h(u) = sum of a(v) over edges u->v; every edge's dst
        # has an `a` row, so the inner join is total
        hub = (edges.join(a.withColumnRenamed("node", "dst"), "dst")
               .groupBy(F.col("src").alias("node"))
               .agg(F.sum("a").alias("h")))
        if not defer_norms:
            hub = hub.persist()
            held.append(hub)
            hub = (hub.crossJoin(F.broadcast(_norm1(hub, "h")))
                   .select("node", (F.col("h") / F.col("n")).alias("h")))
        if (i + 1) % _CUT_EVERY == 0 and i + 1 < iterations:
            hub, _ = layout.materialize(hub)
    # final norms (the ONLY ones in the deferred regime) + densify:
    # zero hub for sink-only nodes, zero auth for source-only nodes —
    # exactly the oracle's coalesce semantics.  hub/a are persisted so
    # the norm subplans and the densify joins share one computation.
    hub = hub.persist()
    a = a.persist()
    held += [hub, a]
    hn = _norm1(hub, "h").select(F.col("n").alias("hn"))
    an = _norm1(a, "a").select(F.col("n").alias("an"))
    out = (nodes
           .join(hub, "node", "left_outer")
           .join(a, "node", "left_outer")
           .crossJoin(F.broadcast(hn))
           .crossJoin(F.broadcast(an))
           .select("node",
                   (F.coalesce(F.col("h"), F.lit(0.0)) / F.col("hn"))
                   .alias("hub"),
                   (F.coalesce(F.col("a"), F.lit(0.0)) / F.col("an"))
                   .alias("authority")))
    return layout.materialize(out)[0]


def hits_sql_oracle(edges_sql: str, iterations: int = 5,
                    round_to: int = 6) -> str:
    """Unrolled-CTE ANSI-SQL twin of :func:`hits` (MATERIALIZED — each
    score round is referenced by the next norm AND the next update)."""
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges "
        "UNION SELECT dst FROM edges)",
        "s0 AS MATERIALIZED (SELECT node, 1.0 AS hub, 1.0 AS auth "
        "FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT e.dst AS node, sum(p.hub) AS a "
            f"FROM edges e JOIN {prev} p ON p.node = e.src GROUP BY e.dst)")
        parts.append(
            f"an{i} AS MATERIALIZED (SELECT CASE WHEN sqrt(sum(a * a)) > 0 "
            f"THEN sqrt(sum(a * a)) ELSE 1.0 END AS n FROM ar{i})")
        parts.append(
            f"auth{i} AS MATERIALIZED (SELECT nd.node, "
            f"coalesce(r.a, 0.0) / an.n AS auth "
            f"FROM nodes nd LEFT JOIN ar{i} r ON r.node = nd.node, an{i} an)")
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT e.src AS node, sum(p.auth) AS h "
            f"FROM edges e JOIN auth{i} p ON p.node = e.dst GROUP BY e.src)")
        parts.append(
            f"hn{i} AS MATERIALIZED (SELECT CASE WHEN sqrt(sum(h * h)) > 0 "
            f"THEN sqrt(sum(h * h)) ELSE 1.0 END AS n FROM hr{i})")
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT nd.node, "
            f"coalesce(r.h, 0.0) / hn.n AS hub, a.auth AS auth "
            f"FROM nodes nd LEFT JOIN hr{i} r ON r.node = nd.node "
            f"JOIN auth{i} a ON a.node = nd.node, hn{i} hn)")
    return (", ".join(parts)
            + f" SELECT node, round(hub, {round_to}) AS hub, "
              f"round(auth, {round_to}) AS authority FROM s{iterations}")


def _md5_sample(edges: DataFrame, n: int) -> DataFrame:
    """The first ``n`` endpoints of ``edges`` in md5 order of the id, as
    a distinct (node) frame."""
    return (edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .dropDuplicates(["node"])
            .orderBy(F.md5(F.col("node").cast("string"))).limit(n))


def betweenness(edges: DataFrame, sources: DataFrame | None = None,
                n_sources: int = 16, max_depth: int = 10,
                src_col: str = "src", dst_col: str = "dst",
                node_col: str = "node") -> DataFrame:
    """Sampled betweenness centrality (Brandes' algorithm restricted to a
    source subset): returns (node, betweenness) where betweenness(v) =
    sum over sampled sources s of the shortest-path dependency
    delta_s(v), over the DIRECTED edge set.  Exact betweenness = run with
    ``sources`` = every node; the sampled estimator (Brandes & Pich 2007)
    is the standard scale form — exact all-sources is O(nm) and no
    cluster should do that on a 100 TB graph.

    Without ``sources``, ``n_sources`` nodes are picked deterministically
    by md5 order of the node id (pseudo-random but engine-reproducible,
    like every sampling primitive in functions/sampling.py).

    Two DataFrame loop phases, all shuffles keyed on (source, node) or
    join keys — pre-bucketed edge tables make every round exchange-free:

    - FORWARD (level-synchronous, all sources simultaneously,
      :func:`_level_bfs`): per level one join frontier->edges and one
      (s, node) aggregate over the new rows and the visited state that
      sums the new rows' path counts sigma.  The visited state is
      materialized every level; the backward pass reads each level as
      a filter of the final state.
    - BACKWARD (Brandes dependency accumulation, deepest level first):
      per level one join level_d -> edges -> level_{d+1} computing
      delta(v) = sum_w sigma_v / sigma_w * (1 + delta_w), then a left
      join filling zeros.

    State is O(|sources| x reachable) rows — the same pair-count
    discipline as the shortestPath planner (plans/shortest.py); size
    ``n_sources`` accordingly.  Nodes unreachable from every source do
    not appear (their sampled betweenness is 0 by definition).
    """
    edges, _ = layout.materialize(
        edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")))
    srcs = (_md5_sample(edges, n_sources) if sources is None
            else sources.select(F.col(node_col).alias("node"))
            .dropDuplicates(["node"]))

    # ---- forward: per-level (s, node, sigma) frames -------------------
    _, levels = _level_bfs(
        edges, srcs.select(F.col("node").alias("s"), "node",
                           F.lit(1).cast("long").alias("sigma")),
        max_depth, root="s", sigma=True)

    # ---- backward: delta accumulation, deepest level first ------------
    deltas = []          # (s, node, delta) per level, depth >= 1
    below = levels[-1].select(
        "s", "node", "sigma", F.lit(0.0).alias("delta"))
    if len(levels) > 1:
        deltas.append(below.select("s", "node", "delta"))
    for d in range(len(levels) - 2, -1, -1):
        cur = levels[d]
        succ = below.select(F.col("s").alias("__s2"),
                            F.col("node").alias("__w"),
                            F.col("sigma").alias("__sw"),
                            F.col("delta").alias("__dw"))
        contrib = (cur.join(edges, cur["node"] == edges["src"])
                   .select("s", "node", "sigma", F.col("dst").alias("__dst"))
                   .join(succ, (F.col("s") == F.col("__s2"))
                         & (F.col("__dst") == F.col("__w")))
                   .groupBy("s", "node")
                   .agg(F.sum(F.col("sigma") / F.col("__sw")
                              * (F.lit(1.0) + F.col("__dw")))
                        .alias("__contrib")))
        below, _ = layout.materialize(
            cur.join(contrib, ["s", "node"], "left_outer")
            .select("s", "node", "sigma",
                    F.coalesce("__contrib", F.lit(0.0)).alias("delta")))
        if d >= 1:
            deltas.append(below.select("s", "node", "delta"))
    if not deltas:
        return srcs.limit(0).withColumn("betweenness", F.lit(0.0))
    alld = deltas[0]
    for dd in deltas[1:]:
        alld = alld.unionByName(dd)
    return alld.groupBy("node").agg(F.sum("delta").alias("betweenness"))


def betweenness_sql_oracle(edges_sql: str, sources_sql: str,
                           depth: int = 6, round_to: int = 6) -> str:
    """Unrolled-CTE ANSI-SQL twin of :func:`betweenness` (MATERIALIZED:
    forward levels are read by the next level, the visited union, AND the
    backward pass).  ``depth`` must cover the oracle graph's eccentricity
    from the sources; deeper levels are empty CTEs and contribute 0."""
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        f"srcs AS MATERIALIZED (SELECT DISTINCT node FROM ({sources_sql}))",
        "f0 AS MATERIALIZED (SELECT node AS s, node AS v, "
        "CAST(1 AS BIGINT) AS sigma FROM srcs)",
        "vis0 AS MATERIALIZED (SELECT s, v FROM f0)",
    ]
    for d in range(1, depth + 1):
        parts.append(
            f"c{d} AS MATERIALIZED (SELECT f.s, e.dst AS v, "
            f"sum(f.sigma) AS sigma FROM f{d - 1} f "
            f"JOIN edges e ON e.src = f.v GROUP BY f.s, e.dst)")
        parts.append(
            f"f{d} AS MATERIALIZED (SELECT c.s, c.v, c.sigma FROM c{d} c "
            f"LEFT JOIN vis{d - 1} vv ON vv.s = c.s AND vv.v = c.v "
            f"WHERE vv.s IS NULL)")
        parts.append(
            f"vis{d} AS MATERIALIZED (SELECT s, v FROM vis{d - 1} "
            f"UNION ALL SELECT s, v FROM f{d})")
    parts.append(
        f"dl{depth} AS MATERIALIZED (SELECT s, v, sigma, 0.0 AS delta "
        f"FROM f{depth})")
    for d in range(depth - 1, -1, -1):
        parts.append(
            f"bd{d} AS MATERIALIZED (SELECT f.s, f.v, "
            f"sum(f.sigma * (1.0 + w.delta) / w.sigma) AS contrib "
            f"FROM f{d} f JOIN edges e ON e.src = f.v "
            f"JOIN dl{d + 1} w ON w.s = f.s AND w.v = e.dst "
            f"GROUP BY f.s, f.v)")
        parts.append(
            f"dl{d} AS MATERIALIZED (SELECT f.s, f.v, f.sigma, "
            f"coalesce(b.contrib, 0.0) AS delta FROM f{d} f "
            f"LEFT JOIN bd{d} b ON b.s = f.s AND b.v = f.v)")
    union = " UNION ALL ".join(
        f"SELECT s, v, delta FROM dl{d}" for d in range(1, depth + 1))
    return (", ".join(parts)
            + f" SELECT v AS node, round(sum(delta), {round_to}) "
              f"AS betweenness FROM ({union}) GROUP BY v")


def closeness_centrality(edges: DataFrame, sources: DataFrame | None = None,
                         n_sources: int = 16, max_depth: int = 10,
                         src_col: str = "src", dst_col: str = "dst",
                         node_col: str = "node") -> DataFrame:
    """Sampled closeness centrality over the DIRECTED edge set: for each
    (sampled) source s, returns (node=s, reach, total_dist, closeness)
    where reach counts nodes reachable from s within ``max_depth``
    (s itself included), total_dist sums their shortest-path distances,
    and closeness = (reach - 1) / total_dist (0.0 when s reaches
    nothing).  Exact closeness = pass ``sources`` = every node; the
    sampled form is the only sane shape at scale (all-sources is an
    all-pairs BFS).

    Without ``sources``, ``n_sources`` roots are picked deterministically
    by md5 order of the node id -- the same engine-reproducible sampling
    rule as :func:`betweenness`.

    Level-synchronous multi-root BFS (:func:`_level_bfs`) carrying the
    root in the key: per level ONE join frontier->edges and ONE (root,
    node) aggregate over the new rows and the visited state -- every
    shuffle keyed on node ids, so bucketed edge tables make levels
    exchange-free.  State is
    O(|sources| x reachable) rows, the shortest-path pair-count
    discipline.  reach/total_dist are exact integers; closeness is the
    one float, rounded by the caller if hash-compared.
    """
    edges = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst"))
    roots = (_md5_sample(edges, n_sources) if sources is None
             else sources.select(F.col(node_col).alias("node"))
             .dropDuplicates(["node"])).withColumnRenamed("node", "root")
    visited, _ = _level_bfs(
        edges, roots.select("root", F.col("root").alias("node")),
        max_depth, root="root")
    per_root = (visited.groupBy("root")
                .agg(F.count(F.lit(1)).alias("reach"),
                     F.sum("dist").alias("total_dist")))
    return per_root.select(
        F.col("root").alias("node"), "reach", "total_dist",
        F.when(F.col("total_dist") > 0,
               (F.col("reach") - 1).cast("double") / F.col("total_dist"))
        .otherwise(F.lit(0.0)).alias("closeness"))


def closeness_sql_oracle(edges_sql: str, sources_sql: str,
                         max_depth: int = 10, round_to: int = 6) -> str:
    """Recursive-CTE ANSI-SQL twin of :func:`closeness_centrality`.

    ``edges_sql`` selects (src, dst); ``sources_sql`` selects (node).
    Distances via per-root path enumeration bounded by ``max_depth``
    (oracle-scale only); closeness rounded to ``round_to`` decimals."""
    return f"""
WITH RECURSIVE edges AS ({edges_sql}),
roots AS (SELECT DISTINCT node AS root FROM ({sources_sql})),
walk(root, node, dist) AS (
  SELECT root, root, 0 FROM roots
  UNION ALL
  SELECT w.root, e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < {max_depth}
),
sp AS (SELECT root, node, min(dist) AS dist FROM walk GROUP BY root, node)
SELECT root AS node,
       count(*) AS reach,
       CAST(sum(dist) AS BIGINT) AS total_dist,
       CASE WHEN sum(dist) > 0
            THEN round((count(*) - 1) * 1.0 / sum(dist), {round_to})
            ELSE 0.0 END AS closeness
FROM sp GROUP BY root"""


def strongly_connected_components(edges: DataFrame, max_rounds: int = 8,
                                  fixpoint_iters: int = 256,
                                  src_col: str = "src",
                                  dst_col: str = "dst") -> DataFrame:
    """Strongly connected components of the DIRECTED graph: returns
    (node, component) where component is the smallest node id in the
    node's SCC.

    Multistep (Slota, Rajamanickam and Madduri, "BFS and Coloring-based
    Parallel Algorithms for Strongly Connected Components", IPDPS 2014)
    as DataFrame loops over the ARCS: every distinct edge twice, forward
    (dir 0) and reversed (dir 1), so one join follows both directions.

    1. TRIM to a fixpoint.  A node without an in-edge or without an
       out-edge inside the remaining subgraph is its own SCC.  Each round
       is ONE degree aggregate over the arcs between the surviving
       nodes, materialized with the survivor count in the same job; the
       trim ends the first round that removes nothing.  Singletons, DAG
       fringes and tails leave here -- a chain in half its length of
       rounds.
    2. PIVOT FW-BW.  The survivor with the largest in-degree x out-degree
       (smallest id on ties) is the pivot.  ONE level BFS
       (:func:`_level_bfs`, one root per direction) runs its forward and
       backward reachability together; SCC(pivot) is the set reached both
       ways, labelled with its smallest id.  The BFS depth is the pivot's
       eccentricity, so a giant low-diameter SCC costs a handful of
       levels.  A search that still reaches nodes after ``fixpoint_iters``
       levels may be incomplete: it assigns nothing, and every survivor
       goes to the coloring, as if there were no pivot phase.
    3. COLORING (Orzan 2004) on what is left: forward and backward
       min-label fixpoints over the leftover subgraph (the kernel of
       ``components.connected_components``, without its pointer jumps),
       run as two concurrent driver threads.  v is
       assigned fwd(v) exactly when fwd(v) == bwd(v) (m reaches v and v
       reaches m => v is in SCC(m)); the rest stays for the next outer
       round on the shrunken subgraph.  Adversarial chains of nested
       SCCs cost one outer round each -- the known worst case of every
       label-based SCC algorithm.

    Budgets -- each warns when exhausted, never silent:

    - ``max_rounds`` bounds the coloring's outer rounds; nodes still
      unassigned after it come back as singleton placeholders.
    - ``fixpoint_iters`` bounds propagation distance: each coloring
      fixpoint runs at most that many label-improving iterations, and
      the pivot BFS at most that many levels that reach new nodes.  A
      label crosses one edge per iteration, so the coloring needs at
      least the longest leftover cycle length.  The pivot search's depth
      is the pivot's eccentricity, which can exceed what the coloring
      needs; a cut-off search only hands its work to the coloring, so
      it never warns by itself.  Unused budget costs nothing: every loop
      exits the first round that finds nothing new -- which is why the
      default is a generous 256 (round 10, ADVICE r9: the old 64
      silently mis-split cycles longer than the budget).

    UNCONVERGED HANDLING (round 10, ADVICE r9 high): under-propagated
    labels would carve a PARTIAL SCC out of the remaining subgraph, and
    a later round would assign its leftovers as wrong singletons.  So an
    unconverged coloring assigns NOTHING: the run stops, warns, and
    returns the nodes still unassigned as singleton placeholders
    (explicitly called unreliable in the warning -- raise
    ``fixpoint_iters``).  Exhaustion is exact: it is only declared with
    improved labels in hand.
    """
    arcs = edges.select(F.col(src_col).alias("src"),
                        F.col(dst_col).alias("dst"))
    arcs, _ = layout.materialize(
        arcs.select(F.explode(F.array(
            F.struct(F.lit(0).alias("dir"), "src", "dst"),
            F.struct(F.lit(1).alias("dir"), F.col("dst").alias("src"),
                     F.col("src").alias("dst")))).alias("__a"))
        .select("__a.*").dropDuplicates(["dir", "src", "dst"]))
    loop = F.col("src") != F.col("dst")
    kept = (F.col("dout") > 0) & (F.col("din") > 0)

    def _between(a: DataFrame, keep: DataFrame) -> DataFrame:
        k = keep.select("node")
        return (a.join(k.withColumnRenamed("node", "src"), "src", "left_semi")
                .join(k.withColumnRenamed("node", "dst"), "dst", "left_semi"))

    def _degrees(a: DataFrame) -> DataFrame:
        # self-loops count for neither side: they never join two nodes
        return a.groupBy(F.col("src").alias("node")).agg(
            F.count(F.when(loop & (F.col("dir") == 0), 1)).alias("dout"),
            F.count(F.when(loop & (F.col("dir") == 1), 1)).alias("din"))

    # ---- 1. trim.  Every node is the src of an arc, so round 1 is also
    # the node set; each later round restricts the arcs to the last
    # survivors.  Survivors only shrink, so an unchanged count is the
    # fixpoint, and the last round's degrees are the trimmed subgraph's.
    nodes, n_alive = layout.materialize(_degrees(arcs), where=kept)
    alive = nodes.where(kept)
    n_prev = None
    while n_alive and n_alive != n_prev:
        n_prev = n_alive
        alive, n_alive = layout.materialize(
            _degrees(_between(arcs, alive)).where(kept))

    def _singletons(df: DataFrame) -> DataFrame:
        return df.select("node", F.col("node").alias("component"))

    if n_alive == 0:
        return _singletons(nodes)
    sub, _ = layout.materialize(_between(arcs, alive).where(loop))

    # ---- 2. pivot FW-BW: dir 0 follows the edges, dir 1 reverses them
    pivot = (alive.orderBy(F.desc(F.col("dout") * F.col("din")), "node")
             .limit(1)
             .select(F.explode(F.array(F.lit(0), F.lit(1))).alias("dir"),
                     "node"))
    reached, levels = _level_bfs(sub, pivot, fixpoint_iters + 1, root="dir")
    # a search still reaching nodes past the budget may be incomplete: it
    # assigns nothing, and the coloring takes every survivor
    found = len(levels) <= fixpoint_iters + 1
    # one aggregate flags every node: __a survived the trim, __p is in
    # SCC(pivot) -- reached both ways by a complete search
    flags = (nodes.select("node", F.lit(False).alias("__a"),
                          F.lit(None).cast("int").alias("dir"))
             .unionByName(alive.select("node", F.lit(True).alias("__a"),
                                       F.lit(None).cast("int").alias("dir"))))
    if found:
        flags = flags.unionByName(
            reached.select("node", F.lit(False).alias("__a"), "dir"))
    state, n_remaining = layout.materialize(
        flags.groupBy("node").agg(F.bool_or("__a").alias("__a"),
                                  (F.count("dir") == 2).alias("__p")),
        where=F.col("__a") & ~F.col("__p"))
    parts = [_singletons(state.where(~F.col("__a")))]
    if found:
        label = (state.where(F.col("__p")).select("node").orderBy("node")
                 .limit(1).collect()[0][0])
        parts.append(state.where(F.col("__p")).select(
            "node", F.lit(label).cast(nodes.schema["node"].dataType)
            .alias("component")))
    remaining = state.where(F.col("__a") & ~F.col("__p")).select("node")

    # ---- 3. coloring on what is left
    rounds, truncated = 0, False
    while n_remaining and not truncated and rounds < max_rounds:
        rounds += 1
        part, _ = layout.materialize(_between(sub, remaining))
        # the forward and backward fixpoints are INDEPENDENT given the
        # checkpointed subgraph, and each is a sequential chain of tiny
        # driver-latency-bound jobs -- run them as two concurrent driver
        # threads so one chain's scheduling gaps back-fill the other's.
        # inheritable_thread_target hands the caller's job group,
        # description and session tags to the pool threads; each thread
        # gets its own wrapper, since the threads that share one wrapper
        # share one local-properties object.
        with ThreadPoolExecutor(max_workers=2) as pool:
            fwd_f, bwd_f = (
                pool.submit(
                    inheritable_thread_target(edges.sparkSession)(
                        _min_label_fixpoint),
                    remaining, part.where(F.col("dir") == d),
                    fixpoint_iters, jump=False)
                for d in (0, 1))
            fwd, fwd_ok = fwd_f.result()
            bwd, bwd_ok = bwd_f.result()
        if not (fwd_ok and bwd_ok):
            # assigning off under-propagated labels would carve a partial
            # SCC and wrongly singleton-ize its leftovers next round; a
            # re-run with the same budget would truncate identically, so
            # stop here (see docstring)
            truncated = True
            break
        both, n_remaining = layout.materialize(
            fwd.join(bwd.withColumnRenamed("label", "__b"), "node"),
            where=F.col("label") != F.col("__b"))
        parts.append(both.where(F.col("label") == F.col("__b"))
                     .select("node", F.col("label").alias("component")))
        remaining = both.where(F.col("label") != F.col("__b")).select("node")
    if truncated:
        warnings.warn(
            "strongly_connected_components: min-label fixpoint exhausted "
            f"fixpoint_iters={fixpoint_iters} with improvements pending -- "
            f"components UNRELIABLE for the {n_remaining} unassigned nodes "
            "(returned as singleton placeholders); the graph has a cycle "
            "longer than the budget, raise fixpoint_iters to at least the "
            "longest cycle length", stacklevel=2)
    elif n_remaining:
        warnings.warn(
            f"strongly_connected_components: {n_remaining} nodes still "
            f"unassigned after max_rounds={max_rounds} outer rounds -- "
            "deeply nested SCC chains need a larger budget; raise "
            "max_rounds", stacklevel=2)
    if n_remaining:
        parts.append(_singletons(remaining))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scc_sql_oracle(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`strongly_connected_components` via the
    transitive closure: scc(v) = min({v} union {u : v->u and u->v}).
    Recursive closure enumeration -- oracle-scale only.

    ``edges_sql`` selects (src, dst)."""
    return f"""
WITH RECURSIVE edges AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges),
tc(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT t.a, e.dst FROM tc t JOIN edges e ON e.src = t.b
),
mutual AS (SELECT t1.a AS u, t1.b AS v
           FROM tc t1 JOIN tc t2 ON t2.a = t1.b AND t2.b = t1.a)
SELECT n.node,
       CASE WHEN min(m.v) IS NULL THEN n.node
            ELSE least(n.node, min(m.v)) END AS component
FROM nodes n LEFT JOIN mutual m ON m.u = n.node
GROUP BY n.node"""


def random_walks(edges: DataFrame, starts: DataFrame, length: int = 5,
                 src_col: str = "src", dst_col: str = "dst",
                 node_col: str = "node") -> DataFrame:
    """Deterministic pseudo-random walks for graph-embedding training
    corpora (the DeepWalk/node2vec sampling stage): from each start node,
    one walk of up to ``length`` steps; returns (walk, step, node) --
    walk = the start node id, step 0..length -- sorted-friendly long rows
    rather than arrays so downstream skip-gram windowing is an explode-
    free self-join.  Walks stop early at sink nodes.

    "Random" is an md5 draw over (walk, step, candidate): at every step
    each out-edge of the frontier node gets the draw
    md5(walk || '|' || step || '|' || dst) and the walk takes the
    lexicographically smallest -- no RNG state, identical walks on any
    engine, partitioning, or retry (the same determinism contract as
    functions/sampling.py's hash-fraction draws), and an ANSI-SQL oracle
    replays it verbatim (:func:`random_walks_sql_oracle`).

    Per step: ONE join frontier->edges keyed on the node id and ONE
    min-struct aggregation per walk -- map-side combinable, no window
    function, no skew beyond the graph's own out-degree distribution.
    The trace accumulates one row per (walk, step): O(|starts| x length)
    state, the same discipline as the BFS/betweenness loops above.

    Frontier join strategy is SIZE-GATED (round 10, VERDICT r9 #1): the
    frontier is one (walk, node) row per live walk, so for the typical
    sampled-start call it is broadcast material and each step SCANS the
    persisted edges instead of shuffling them (measured 113 MB shuffle /
    97s cpu at sf0.1 without the hint: AQE left the edge side on a
    shuffled join).  But the docstring's own DeepWalk/node2vec framing
    starts a walk per NODE -- broadcasting |V| rows per step is a
    driver-side collect that hits the broadcast ceiling long before 100
    TB.  So the deduped start set is counted once up front (the eager
    checkpoint materializes it anyway) and the broadcast only happens
    under the same 64 MiB / n x 16 B budget as
    :data:`layout.PIN_DATA_BYTES`;
    above it the edges are laid out hash(src) ONCE before the loop and
    each step runs a node-id-keyed shuffled join in which only the
    frontier side moves, with the frontier hinted ``shuffle_hash`` as
    the build side (sorting per step is pure overhead for a loop that
    rebuilds the frontier anyway).  Probe artifact:
    tools/probes/walk_probe_r10.json -- starts = ALL nodes of the sf1
    12M-edge graph completes in the shuffled regime with no broadcast.
    """
    # loop-invariant: persist so a derived edge table (e.g. the
    # co-purchase groupBy+explode) is computed once, not once per step.
    # When the CALLER already persisted the input (the entry queries do,
    # round 11), the projection on top substitutes that cache on every
    # scan -- a second persist of the same rows would only double the
    # storage footprint, so it is skipped and release stays the caller's.
    lvl = edges.storageLevel
    pre_persisted = lvl.useMemory or lvl.useDisk
    sel = edges.select(F.col(src_col).alias("src"),
                       F.col(dst_col).alias("dst"))
    edges = base_edges = sel if pre_persisted else sel.persist()
    try:
        # exact count of the start set, from the job that materializes
        # it: unlike a Catalyst estimate it cannot decay -- the same
        # reasoning as triangle_count's gate
        frontier, n_starts = layout.materialize(
            starts.select(F.col(node_col).alias("walk"))
            .dropDuplicates(["walk"])
            .withColumn("node", F.col("walk")))
        use_broadcast = layout.fits_broadcast(n_starts)
        nparts = None
        if use_broadcast:
            # every step scans the persisted edges as the probe side of
            # a broadcast join; coalesce that repeated scan to a
            # size-derived partition count (the count materializes the
            # cache the first step would have paid for anyway)
            edges = layout.scan_coalesce(edges, edges.count())
        else:
            spark = edges.sparkSession
            nparts = layout.pin_parts(spark, data=edges)
            if nparts is None \
                    and not layout.fits_broadcast(edges.count()):
                nparts = layout.pin_target(spark)
            # lay the edge side out hash(src) ONCE -- every step's join
            # then reuses the persisted partitioning and only the
            # frontier side shuffles (the pagerank loop discipline)
            if nparts is not None:
                edges = edges.repartition(nparts, "src").persist()
        trace = frontier.select("walk", F.lit(0).alias("step"), "node")
        for step in range(1, length + 1):
            draw = F.md5(F.concat_ws("|", F.col("walk").cast("string"),
                                     F.lit(str(step)),
                                     F.col("dst").cast("string")))
            if use_broadcast:
                fr = F.broadcast(frontier)
            else:
                fr = layout.repart(frontier, nparts, "node") \
                    .hint("shuffle_hash")
            nxt = (fr
                   .join(edges, fr["node"] == edges["src"])
                   .groupBy("walk")
                   .agg(F.min(F.struct(draw.alias("d"),
                                       F.col("dst").alias("node")))
                        .alias("pick"))
                   .select("walk", F.col("pick.node").alias("node")))
            nxt, n_nxt = layout.materialize(nxt)
            if n_nxt == 0:
                break
            trace = trace.unionByName(
                nxt.select("walk", F.lit(step).alias("step"), "node"))
            frontier = nxt
        # every retained row is localCheckpoint-materialized, so the
        # persisted edges can be released before returning
        return trace
    finally:
        if edges is not base_edges:
            edges.unpersist()
        if not pre_persisted:
            base_edges.unpersist()


def random_walks_sql_oracle(edges_sql: str, starts_sql: str,
                            length: int = 5) -> str:
    """ANSI-SQL twin of :func:`random_walks`: the same md5 draw over
    (walk, step, dst), unrolled to ``length`` step CTEs.

    ``edges_sql`` selects (src, dst); ``starts_sql`` selects (node)."""
    parts = [f"""edges AS ({edges_sql}),
s0 AS (SELECT DISTINCT node AS walk, node FROM ({starts_sql}))"""]
    selects = ["SELECT walk, 0 AS step, node FROM s0"]
    for t in range(1, length + 1):
        parts.append(f"""
s{t} AS (SELECT walk, node FROM (
  SELECT p.walk, e.dst AS node,
         row_number() OVER (
           PARTITION BY p.walk
           ORDER BY md5(CAST(p.walk AS VARCHAR) || '|{t}|'
                        || CAST(e.dst AS VARCHAR)), e.dst) AS rn
  FROM s{t - 1} p JOIN edges e ON e.src = p.node) r WHERE rn = 1)""")
        selects.append(f"SELECT walk, {t} AS step, node FROM s{t}")
    return ("WITH " + ",".join(parts) + " "
            + " UNION ALL ".join(selects))


def skipgram_pairs(walks: DataFrame, window: int = 2,
                   walk_col: str = "walk", step_col: str = "step",
                   node_col: str = "node") -> DataFrame:
    """(center, context) training pairs from walk traces (the word2vec
    skip-gram windowing stage over :func:`random_walks` output): every
    ordered pair of nodes on the same walk within ``window`` steps of
    each other, both directions, center != position.  Returns
    (center, context) with multiplicity -- exactly the pair stream a
    skip-gram trainer consumes.

    ONE self-join keyed on the walk id with a bounded step-distance
    predicate -- walks are short (the sampling stage bounds length), so
    the per-walk fan-out is O(length x window) and the join is an
    equi-join on walk with a residual range filter, never a cartesian.
    """
    a = walks.select(F.col(walk_col).alias("__w"),
                     F.col(step_col).alias("__s1"),
                     F.col(node_col).alias("center"))
    b = walks.select(F.col(walk_col).alias("__w2"),
                     F.col(step_col).alias("__s2"),
                     F.col(node_col).alias("context"))
    d = F.abs(F.col("__s1") - F.col("__s2"))
    return (a.join(b, (F.col("__w") == F.col("__w2"))
                   & (d > 0) & (d <= window))
            .select("center", "context"))


def _node2vec_multipliers(p, q) -> tuple[int, int, int]:
    """(m_return, m_common, m_forward): the exact integer weight
    multipliers for 1/p, 1, 1/q over a common denominator, gcd-reduced.
    The draw u is 32 bits, so each multiplier must stay under 2^31 for
    u x m to fit int64 -- weight ratios beyond ~2e9 are rejected (they
    would be indistinguishable from infinity under a 32-bit draw
    anyway)."""
    import math
    from fractions import Fraction
    pf, qf = Fraction(str(p)), Fraction(str(q))
    if pf <= 0 or qf <= 0:
        raise ValueError("node2vec_walks: p and q must be > 0")
    ms = (pf.denominator * qf.numerator,      # 1/p
          pf.numerator * qf.numerator,        # 1
          qf.denominator * pf.numerator)      # 1/q
    g = math.gcd(math.gcd(ms[0], ms[1]), ms[2])
    ms = tuple(m // g for m in ms)
    if max(ms) >= 1 << 31:
        raise ValueError(
            "node2vec_walks: p/q weight ratio too extreme -- the exact "
            "integer draw needs every reduced multiplier below 2^31, got "
            f"{max(ms)}")
    return ms


def node2vec_walks(edges: DataFrame, starts: DataFrame, length: int = 5,
                   p: float | str = 1, q: float | str = 1,
                   src_col: str = "src", dst_col: str = "dst",
                   node_col: str = "node") -> DataFrame:
    """Second-order BIASED walks (the node2vec sampling stage, Grover &
    Leskovec 2016) with the same determinism contract as
    :func:`random_walks`: returns (walk, step, node) traces whose next
    hop depends on the PREVIOUS node -- return edges (back to prev) are
    weighted 1/p, edges to common neighbors of prev 1, forward edges
    1/q -- so p > 1 discourages backtracking (DFS-ish) and q > 1 keeps
    walks local (BFS-ish).

    Determinism: each candidate gets the integer draw u = the first 8
    md5 hex digits of (walk|step|dst), and the walk takes the candidate
    maximizing u x m where m is the candidate's EXACT integer weight
    multiplier -- p and q are parsed as rationals (pn/pd, qn/qd) and
    the three classes get m_return = pd x qn, m_common = pn x qn,
    m_forward = qd x pn (the common denominators cancel), so the
    comparison is pure int64 arithmetic: no float argmax to flip at an
    ULP, identical picks on any engine/partitioning/retry, and an
    ANSI-SQL oracle replays the walks verbatim
    (:func:`node2vec_sql_oracle`).  The transition distribution is a
    DETERMINISTIC APPROXIMATION of the paper's categorical, not a
    faithful sample of it: under the uniform hash draw,
    P[i beats j] = 1 - m_j/(2 m_i) for m_i >= m_j (the exact categorical
    would give m_i/(m_i + m_j)); higher-weight classes are favored with
    the right ordering but not the paper's proportions -- the exact
    Gumbel-max categorical needs float exponentiation, traded away for
    bit-exactness.  Consumers needing paper-faithful bias statistics
    should treat these walks as a biased-exploration corpus, not a
    calibrated sampler.
    Ties break toward the larger candidate id; the first step (no
    previous node) is unbiased, per the paper.

    Per step: ONE join frontier->edges on the node id, ONE left probe
    of the candidates against the deduped edge set on (prev, dst) --
    the common-neighbor test, keyed on node-id pairs -- and ONE
    max-struct aggregation per walk.  State carries (walk, prev, node):
    O(|starts|) rows, same discipline as :func:`random_walks`, with
    the same counted-start-set broadcast gate (broadcast only below
    the 64 MiB budget; shuffled node-keyed join above it).

    The per-step common-neighbor probe ``pf`` (the out-edges of the
    frontier's distinct prev nodes) has its OWN broadcast gate (round
    11, VERDICT r10 #1): the starts count bounds the number of walks
    but |pf| is bounded by the previous step's FAN-OUT -- on a
    hub-heavy graph a broadcastable frontier whose prev nodes include
    high-degree hubs makes pf a multi-GB driver-side materialization
    the starts gate never sees.  The gate is two cheap once-per-call
    facts about the persisted edge set: if the WHOLE edge set fits the
    64 MiB budget, pf (a subset of it) trivially broadcasts; otherwise
    the worst case |pf| <= n_starts x max out-degree (one degree
    aggregate, computed only for over-budget edge sets) must fit, else
    every step uses the hash(prev, dst)-partitioned shuffled probe join
    that the big-frontier regime already uses -- only the candidate
    stream shuffles per step.  Probe artifact:
    tools/probes/node2vec_probe_r11.json -- a star-hub composite where
    16 walks step onto a ~200k-out-degree hub runs with ZERO pf
    broadcasts and completes shuffled.
    """
    m_return, m_common, m_forward = _node2vec_multipliers(p, q)
    edges = base_edges = (edges.select(F.col(src_col).alias("src"),
                                       F.col(dst_col).alias("dst"))
                          .dropDuplicates(["src", "dst"]).persist())
    probe_p = None
    try:
        frontier, n_starts = layout.materialize(
            starts.select(F.col(node_col).alias("walk"))
            .dropDuplicates(["walk"])
            .withColumn("node", F.col("walk"))
            .withColumn("prev", F.lit(None).cast("long")))
        use_broadcast = layout.fits_broadcast(n_starts, row_bytes=24)
        nparts = None
        n_edges = None
        spark = edges.sparkSession
        if use_broadcast:
            # both per-step edge scans (candidate join + pf semi-filter)
            # probe the persisted edges; coalesce the repeated scan to a
            # size-derived partition count.  The count doubles as the
            # probe gate's first fact below.
            n_edges = edges.count()
            edges = layout.scan_coalesce(edges, n_edges)
        else:
            nparts = layout.pin_parts(spark, data=edges)
            if nparts is None \
                    and not layout.fits_broadcast(edges.count()):
                nparts = layout.pin_target(spark)
            if nparts is not None:
                edges = edges.repartition(nparts, "src").persist()
        # the (prev, dst) common-neighbor probe side.  Broadcasting the
        # FULL edge set per step is a scale (and measured wall) disaster
        # -- the first cut did exactly that and the 12M-edge sf1 spot
        # ran 64.5s vs random_walks' 7.9s.  Small frontiers instead
        # SEMI-FILTER the probe to the current nodes' out-edges (one
        # extra scan of the persisted edges per step, broadcast result
        # bounded by the frontier fanout); big frontiers lay the probe
        # out hash(prev, dst) ONCE at the join's partition count so each
        # step's left join shuffles only the candidate stream.
        probe = edges.select(F.col("src").alias("prev"),
                             F.col("dst").alias("dst"),
                             F.lit(True).alias("__common"))
        # pf's own gate (round 11, VERDICT r10 #1): broadcast the
        # semi-filtered probe only when its worst case provably fits --
        # pf is a subset of the edge set (cheap: the count of the
        # persisted edges), and when that outgrows the budget, bounded
        # by n_starts x max out-degree (one degree aggregate, computed
        # only in that case).  Otherwise the probe side is laid out
        # hash(prev, dst) once and each step's left join shuffles only
        # the candidate stream (the big-frontier regime's layout).
        probe_broadcast = False
        if use_broadcast:
            if layout.fits_broadcast(n_edges, row_bytes=24):
                probe_broadcast = True
            else:
                max_deg = (edges.groupBy("src")
                           .agg(F.count(F.lit(1)).alias("__d"))
                           .agg(F.max("__d")).first()[0]) or 0
                probe_broadcast = layout.fits_broadcast(
                    n_starts * max_deg, row_bytes=24)
        if not (use_broadcast and probe_broadcast):
            pp = nparts if nparts is not None \
                else layout.shuffle_parts(spark)
            probe_p = probe.repartition(pp, "prev", "dst").persist()
        trace = frontier.select("walk", F.lit(0).alias("step"), "node")
        for step in range(1, length + 1):
            if use_broadcast:
                fr = F.broadcast(frontier)
            else:
                fr = layout.repart(frontier, nparts, "node") \
                    .hint("shuffle_hash")
            cand = (fr.join(edges, fr["node"] == edges["src"])
                    .select("walk", fr["node"].alias("__cur"), "prev",
                            F.col("dst")))
            if use_broadcast and probe_broadcast:
                # filter to the out-edges of the candidates' PREV nodes
                # (the classification key) -- NOT the current nodes; a
                # walk's previous node is generally no longer in the
                # frontier
                pf = probe.join(
                    F.broadcast(frontier.select("prev").dropna()
                                .dropDuplicates(["prev"])),
                    "prev", "left_semi")
                cand = cand.join(F.broadcast(pf), ["prev", "dst"], "left")
            else:
                cand = cand.join(probe_p, ["prev", "dst"], "left")
            u = F.conv(F.substring(
                F.md5(F.concat_ws("|", F.col("walk").cast("string"),
                                  F.lit(str(step)),
                                  F.col("dst").cast("string"))), 1, 8),
                16, 10).cast("long")
            m = (F.when(F.col("prev").isNull(), F.lit(int(m_common)))
                 .when(F.col("dst") == F.col("prev"),
                       F.lit(int(m_return)))
                 .when(F.col("__common").isNotNull(),
                       F.lit(int(m_common)))
                 .otherwise(F.lit(int(m_forward))))
            # the next step's prev IS this step's frontier node, constant
            # within the walk group -- ride the aggregate instead of a
            # second per-step join back to the frontier
            nxt = (cand.groupBy("walk")
                   .agg(F.max(F.struct((u * m).alias("s"),
                                       F.col("dst").alias("node")))
                        .alias("pick"),
                        F.first("__cur").alias("prev"))
                   .select("walk", F.col("pick.node").alias("node"),
                           "prev"))
            nxt, n_nxt = layout.materialize(nxt)
            if n_nxt == 0:
                break
            trace = trace.unionByName(
                nxt.select("walk", F.lit(step).alias("step"), "node"))
            frontier = nxt
        return trace
    finally:
        if probe_p is not None:
            probe_p.unpersist()
        if edges is not base_edges:
            edges.unpersist()
        base_edges.unpersist()


def node2vec_sql_oracle(edges_sql: str, starts_sql: str, length: int = 5,
                        p: float | str = 1, q: float | str = 1) -> str:
    """ANSI-SQL twin of :func:`node2vec_walks`: the identical integer
    u x m argmax unrolled to ``length`` step CTEs.  ``edges_sql``
    selects (src, dst); ``starts_sql`` selects (node)."""
    m_return, m_common, m_forward = _node2vec_multipliers(p, q)
    parts = [f"""edges AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
s0 AS (SELECT DISTINCT node AS walk, node,
              CAST(NULL AS BIGINT) AS prev FROM ({starts_sql}))"""]
    selects = ["SELECT walk, 0 AS step, node FROM s0"]
    for t in range(1, length + 1):
        parts.append(f"""
s{t} AS (SELECT walk, node, prev FROM (
  SELECT w.walk, e.dst AS node, w.node AS prev,
         row_number() OVER (PARTITION BY w.walk ORDER BY
           ('0x' || substr(md5(CAST(w.walk AS VARCHAR) || '|{t}|'
                               || CAST(e.dst AS VARCHAR)), 1, 8))::BIGINT
           * (CASE WHEN w.prev IS NULL THEN {m_common}
                   WHEN e.dst = w.prev THEN {m_return}
                   WHEN EXISTS (SELECT 1 FROM edges z
                                WHERE z.src = w.prev AND z.dst = e.dst)
                     THEN {m_common}
                   ELSE {m_forward} END) DESC, e.dst DESC) AS rn
  FROM s{t - 1} w JOIN edges e ON e.src = w.node) r WHERE rn = 1)""")
        selects.append(f"SELECT walk, {t} AS step, node FROM s{t}")
    return ("WITH " + ",".join(parts) + " "
            + " UNION ALL ".join(selects))


def maximal_independent_set(edges: DataFrame, rounds: int = 16,
                            src_col: str = "src",
                            dst_col: str = "dst") -> DataFrame:
    """Maximal independent set of the UNDIRECTED simple graph (Luby
    1986, the deterministic md5-draw variant): returns (node, in_mis)
    for every node -- no two in_mis nodes are adjacent, and every
    excluded node has an in_mis neighbor.  The pipeline use: selecting
    a conflict-free subset under a pairwise-conflict relation (near-dup
    pairs, co-occurrence constraints) in O(log n) rounds.

    Per round every undecided node draws the key (md5(node|round),
    node) -- the trailing node id makes ties impossible, so the round
    is deterministic on any engine/partitioning and the SQL oracle
    replays it verbatim.  A node joins the MIS when its key beats every
    undecided neighbor's (local-minimum rule); winners and their
    neighbors leave the undecided set.  Per round: ONE neighbor-min
    aggregate plus two anti-joins, all node-id-keyed; the active edge
    set shrinks geometrically (each edge is incident to a local
    minimum's neighborhood with constant probability -- Luby's
    argument), which is why ``rounds`` defaults to 16 ~ 2 log2 of any
    practical component size.  Exhausting the budget warns and returns
    the remainder as NOT in the set (still independent, possibly not
    maximal).  ``rounds < 1`` is rejected up front (round 11, VERDICT
    r10 #3): zero rounds has no meaningful result -- the empty set is
    independent but certifies nothing -- and used to crash opaquely.
    """
    if rounds < 1:
        raise ValueError(
            f"maximal_independent_set: rounds must be >= 1, got {rounds}")
    s, d = F.col(src_col), F.col(dst_col)
    bi = (edges.select(F.col(src_col).alias("u"),
                       F.col(dst_col).alias("v"))
          .where(F.col("u") != F.col("v")))
    # both orientations from ONE pass -- see _mirror (round 11)
    bi, _ = layout.materialize(_mirror(bi).dropDuplicates(["u", "v"]))
    undecided, _ = layout.materialize(
        bi.select(F.col("u").alias("node")).dropDuplicates(["node"]))
    active = bi
    # per-round winner tables, unioned AFTER the loop (round 11): the
    # loop never reads the accumulated set, so checkpointing the union
    # every round was one eager job per round for nothing
    winner_tables = []
    exhausted = True
    for r in range(1, rounds + 1):
        def key(col):
            return F.struct(
                F.md5(F.concat_ws("|", col.cast("string"),
                                  F.lit(str(r)))).alias("d"),
                col.alias("n"))
        nmin = (active.select(F.col("u").alias("node"),
                              key(F.col("v")).alias("__nk"))
                .groupBy("node").agg(F.min("__nk").alias("__mn")))
        winners, _ = layout.materialize(
            undecided.join(nmin, "node", "left")
            .where(F.col("__mn").isNull()
                   | (key(F.col("node")) < F.col("__mn")))
            .select("node"))
        winner_tables.append(winners)
        # winners' neighbors are dominated: remove both
        dominated = (active.join(winners.withColumnRenamed("node", "u"),
                                 "u", "left_semi")
                     .select(F.col("v").alias("node")))
        removed = winners.unionByName(dominated).dropDuplicates(["node"])
        undecided, n_undecided = layout.materialize(
            undecided.join(removed, "node", "left_anti"))
        if n_undecided == 0:
            exhausted = False
            break
        active, _ = layout.materialize(
            active.join(undecided.withColumnRenamed("node", "u"),
                        "u", "left_semi")
            .join(undecided.withColumnRenamed("node", "v"),
                  "v", "left_semi"))
    mis = winner_tables[0]
    for w in winner_tables[1:]:
        mis = mis.unionByName(w)
    if exhausted:
        warnings.warn(
            f"maximal_independent_set: {n_undecided} nodes still "
            f"undecided after rounds={rounds} -- result is independent "
            "but may not be maximal; raise rounds", stacklevel=2)
    nodes = (bi.select(F.col("u").alias("node"))
             .dropDuplicates(["node"]))
    return (nodes.join(mis.withColumn("__in", F.lit(True)), "node", "left")
            .select("node", F.coalesce(F.col("__in"), F.lit(False))
                    .alias("in_mis")))


def mis_sql_oracle(edges_sql: str, rounds: int = 16) -> str:
    """ANSI-SQL twin of :func:`maximal_independent_set`: the same
    md5-keyed local-minimum rounds unrolled to CTEs.  ``edges_sql``
    selects (src, dst).  Round CTEs are MATERIALIZED: each references
    its predecessor several times and an inlining planner would expand
    the chain exponentially (the k_truss oracle lesson)."""
    parts = [f"""raw AS ({edges_sql}),
bi AS MATERIALIZED (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM raw WHERE src <> dst
  UNION ALL SELECT dst, src FROM raw WHERE src <> dst)),
u_0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM bi),
m_0 AS (SELECT node FROM u_0 WHERE 1 = 0)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""
w_{r} AS MATERIALIZED (SELECT x.node FROM u_{r - 1} x LEFT JOIN (
    SELECT e.u AS node,
           min({{'d': md5(CAST(e.v AS VARCHAR) || '|{r}'),
                 'n': e.v}}) AS mn
    FROM bi e
    JOIN u_{r - 1} a ON a.node = e.u
    JOIN u_{r - 1} b ON b.node = e.v
    GROUP BY e.u) n ON n.node = x.node
  WHERE n.mn IS NULL
     OR {{'d': md5(CAST(x.node AS VARCHAR) || '|{r}'), 'n': x.node}}
        < n.mn),
m_{r} AS MATERIALIZED (SELECT node FROM m_{r - 1}
          UNION SELECT node FROM w_{r}),
u_{r} AS MATERIALIZED (SELECT node FROM u_{r - 1}
          WHERE node NOT IN (SELECT node FROM w_{r})
            AND node NOT IN (
              SELECT e.v FROM bi e
              JOIN w_{r} w ON w.node = e.u))""")
    return ("WITH " + ",".join(parts) + f"""
SELECT n.node, m.node IS NOT NULL AS in_mis
FROM u_0 n LEFT JOIN m_{rounds} m ON m.node = n.node""")


def louvain(edges: DataFrame, rounds: int = 16,
            src_col: str = "src", dst_col: str = "dst",
            weight_col: str | None = None) -> DataFrame:
    """Deterministic modularity-greedy community detection over the
    UNDIRECTED simple graph: agglomerative STAR CONTRACTION -- per
    round, communities are split head/tail by a deterministic md5 coin,
    every tail community with a positive-gain best head neighbor merges
    into it (many-to-one), and the graph contracts (Louvain's phase 2).
    Returns (node, community) for every node in the edge list;
    community ids are canonicalized to the minimum member id at the
    end, so labels are partition- and history-independent.

    The merge gain is the EXACT integer 4m x e(A, B) - 2 tot(A) tot(B)
    -- the float Delta-Q of merging A and B (e/m - tot_A tot_B / 2m^2)
    multiplied through by the positive constant 2m^2 (e = undirected
    cross-edge count, tracked as contracted edge weights; tot = summed
    member degrees, tracked as its own table so self-loop bookkeeping
    never arises) -- ties toward the smaller head id.  All comparisons
    are pure int64: identical assignments on any engine/partitioning,
    and an ANSI-SQL oracle replays the rounds verbatim
    (:func:`louvain_sql_oracle`).

    Why star contraction: synchronous per-node local moving oscillates
    (two mutually-preferring singletons swap labels forever) and
    label-chases (a node moves toward a community whose members left
    the same round); strict MUTUAL-best pair matching fixes both but
    coalesces at O(1) pairs per hub per round -- measured ~360 merges
    per round on 18k communities of a co-purchase quarter sample,
    hundreds of rounds to converge.  The head/tail coin breaks the
    symmetry instead: every tail with a positive head partner merges
    each round (9,962 of 20k first-round communities on the same
    input), convergence in ~12 rounds, and determinism survives because
    the coin is md5(community|round).  Merging into a head is safe from
    swap/chase cycles -- heads never move.

    Per round: ONE score join on the contracted edges, ONE min-struct
    best pick, three mapping joins (mapping, totals, edges) -- all
    community-id-keyed; no windows, no collects.  State is severed per
    round with :func:`layout.materialize` (``sever=True``), so
    round cost tracks the SHRINKING contracted graph instead of
    compounding -- the full sf0.1 quarter-sample run converges in ~15s
    where the un-severed loop hit 204s PER ROUND by round 10.
    Converged = a merge-free round with an EMPTY positive-gain pair set
    (checked only on merge-free rounds); exhausting ``rounds`` first
    warns rather than silently returning a mid-flight assignment.

    ``weight_col`` (round 11, GDS relationshipWeightProperty parity):
    an INTEGER edge-weight column -- parallel (u, v) rows SUM, w <= 0
    edges drop (the pagerank_weighted convention), 2m becomes the total
    bidirectional weight and totals become weighted degrees; the gain
    stays pure int64, so the weighted oracle replays it bit-for-bit
    too.  Float weights are rejected: quantize to a lattice first
    (the k-means scale discipline) -- exactness is the contract here.
    Keep total weight under ~2^31 so 2 x (2m)^2 fits int64 (the same
    bound the unweighted gain puts on the edge count).
    """
    if rounds < 1:
        raise ValueError(f"louvain: rounds must be >= 1, got {rounds}")
    if weight_col is not None:
        from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                       ShortType)
        wt = edges.schema[weight_col].dataType
        if not isinstance(wt, (ByteType, ShortType, IntegerType,
                               LongType)):
            raise ValueError(
                f"louvain: weight_col must be an integer column for "
                f"exact gains (got {wt.simpleString()}); quantize "
                "float weights to a lattice first")
        e0 = (edges.select(F.col(src_col).alias("u"),
                           F.col(dst_col).alias("v"),
                           F.col(weight_col).cast("long").alias("w"))
              .where((F.col("u") != F.col("v")) & (F.col("w") > 0)))
        # both orientations from ONE pass -- see _mirror (round 11)
        bi = (_mirror(e0, carry=("w",))
              .groupBy("u", "v").agg(F.sum("w").alias("w")).persist())
    else:
        bi = (edges.select(F.col(src_col).alias("u"),
                           F.col(dst_col).alias("v"))
              .where(F.col("u") != F.col("v")))
        bi = (_mirror(bi)
              .dropDuplicates(["u", "v"])
              .withColumn("w", F.lit(1).cast("long")).persist())
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        n_bi_rows = bi.count()
        if n_bi_rows == 0:
            spark = edges.sparkSession
            return spark.createDataFrame([], "node long, community long")
        two_m = n_bi_rows if weight_col is None else             bi.agg(F.sum("w")).collect()[0][0]
        # contracted-state init: communities ARE nodes, so the community
        # multigraph is the edge list at weight 1 and the totals are the
        # degrees; the raw edges are never rejoined after this.  The
        # edge state is laid out in row-bounded, size-adaptive partitions
        # (layout.size_parts): the contraction's groupBy over NEAR-UNIQUE
        # keys builds a hash map the size of its input partition, and
        # the contracted state shrinks geometrically (measured: ~0.35s
        # per 32-task round stage at sf0.1 where the same work fits in
        # 1-2 tasks).
        spark = edges.sparkSession
        ew, _ = layout.materialize(
            bi.select(F.col("u").alias("a"), F.col("v").alias("b"), "w")
            .repartition(layout.size_parts(spark, n_bi_rows), "a", "b"),
            sever=True)
        ew_rows = n_bi_rows
        ctot, _ = layout.materialize(
            bi.groupBy("u").agg(F.sum("w").alias("tot"))
            .select(F.col("u").alias("c"), "tot"), sever=True)
        # the severed leaves deliberately report no size estimate (see
        # layout.materialize), so the STATIC planner would sort-merge the big
        # contracted-edge side against the tiny community tables (4.6 GB
        # of sort spill measured at 12M edges).  Gate explicitly on the
        # one exact fact we have: the community/totals/merge tables are
        # all bounded by the node count, so below the standard budget
        # they broadcast; above it the joins are hinted shuffle_hash
        # (sorting per round is pure overhead for a loop that contracts
        # the state anyway -- the k_truss lesson).
        mapping, n_nodes = layout.materialize(
            bi.select(F.col("u").alias("node"))
            .dropDuplicates(["node"])
            .withColumn("c", F.col("node")), sever=True)
        bcast = layout.fits_broadcast(n_nodes)

        def small(df):
            return F.broadcast(df) if bcast else df.hint("shuffle_hash")

        converged = False
        # Per-round merge tables, composed into the node mapping AFTER
        # the loop (round 11): the loop itself never reads the mapping,
        # so updating it per round was one eager checkpoint job over
        # every node per round for nothing.  Each best table is already
        # severed, so the end-of-loop composition is a flat chain of
        # small-side joins over severed leaves -- no stats compounding.
        merges = []
        for r in range(1, rounds + 1):
            scored = (ew
                      .join(small(ctot.select(F.col("c").alias("a"),
                                              F.col("tot").alias("ta"))),
                            "a")
                      .join(small(ctot.select(F.col("c").alias("b"),
                                              F.col("tot").alias("tb"))),
                            "b")
                      .withColumn(
                          "score",
                          F.lit(2 * int(two_m)) * F.col("w")
                          - F.lit(2) * F.col("ta") * F.col("tb"))
                      .where(F.col("score") > 0))

            def head(col):
                return F.substring(
                    F.md5(F.concat_ws("|", col.cast("string"),
                                      F.lit(str(r)))), 1, 1) < "8"

            # min(struct) plans as SortAggregate (struct ordering has no
            # hash-agg buffer), but the candidate stream rides ew's
            # row-bounded partitions, so the per-task sorts stay in
            # memory -- measured 0 spill at 12M edges, and the
            # single-pass pick beats a two-phase hash-agg argmax that
            # would re-evaluate the scoring join (tried: +60% cpu)
            # checkpoint + emptiness test fused into ONE job (round 12,
            # layout.materialize): isEmpty on the severed frame was a
            # second driver round-trip per round
            best, n_best = layout.materialize(
                scored.where(~head(F.col("a")) & head(F.col("b")))
                .groupBy("a")
                .agg(F.min(F.struct((-F.col("score")).alias("s"),
                                    F.col("b").alias("b"))).alias("p"))
                .select(F.col("a").alias("c"),
                        F.col("p.b").alias("__new")), sever=True)
            if n_best == 0:
                # merge-free round: converged only if NO positive pair
                # exists at all (the coin can strand a round)
                if scored.isEmpty():
                    converged = True
                    break
                continue
            merges.append(best)
            ma = best.select(F.col("c").alias("a"),
                             F.col("__new").alias("__na"))
            mb = best.select(F.col("c").alias("b"),
                             F.col("__new").alias("__nb"))
            # ctot and ew both depend only on `best` plus last round's
            # severed state, never on each other -- so their eager
            # checkpoints run as CONCURRENT jobs from a 2-thread pool
            # (guide-style independent-job overlap): the totals update
            # back-fills cores while the bigger contraction plans and
            # shuffles.  Actions are thread-safe; each future carries
            # its own plan, and inheritable_thread_target hands it the
            # caller's job group, description and session tags.
            ctot_f = pool.submit(inheritable_thread_target(spark)(
                lambda c=ctot, b=best: layout.materialize(
                    c.join(small(b), "c", "left")
                    .groupBy(F.coalesce(F.col("__new"), F.col("c"))
                             .alias("c"))
                    .agg(F.sum("tot").alias("tot")), sever=True)[0]))
            # the contraction aggregate's hash maps are bounded by the
            # explicit (a, b) repartition: its keys are near-unique, so
            # partition count must track the (shrinking) edge state --
            # the count rides the checkpoint job (round 12)
            ew, ew_rows = layout.materialize(
                ew.join(small(ma), "a", "left").join(small(mb), "b", "left")
                .select(F.coalesce(F.col("__na"), F.col("a")).alias("a"),
                        F.coalesce(F.col("__nb"), F.col("b")).alias("b"),
                        "w")
                .where(F.col("a") != F.col("b"))
                .repartition(layout.size_parts(spark, ew_rows), "a", "b")
                .groupBy("a", "b").agg(F.sum("w").alias("w")), sever=True)
            ctot = ctot_f.result()
        if not converged:
            warnings.warn(
                f"louvain: positive-gain merges may still be pending "
                f"after rounds={rounds} -- communities can be "
                "mid-flight; raise rounds", stacklevel=2)
        # compose the per-round merges into the node mapping (one flat
        # chain of small-side joins -- see the `merges` comment above)
        for b in merges:
            mapping = (mapping.join(small(b), "c", "left")
                       .select("node",
                               F.coalesce(F.col("__new"), F.col("c"))
                               .alias("c")))
        if merges:
            mapping, _ = layout.materialize(mapping, sever=True)
        # canonical labels: the minimum member id of each community
        canon = mapping.groupBy("c").agg(F.min("node").alias("community"))
        return mapping.join(small(canon), "c").select("node", "community")
    finally:
        pool.shutdown(wait=True)
        bi.unpersist()


def louvain_sql_oracle(edges_sql: str, rounds: int = 16,
                       weighted: bool = False) -> str:
    """ANSI-SQL twin of :func:`louvain`: the same exact-integer
    head/tail star-contraction rounds unrolled to CTEs, MATERIALIZED
    for the same reason as :func:`mis_sql_oracle`.  ``edges_sql``
    selects (src, dst), or (src, dst, w) with ``weighted=True`` --
    parallel rows sum, w <= 0 drops, 2m/totals go weighted (the engine
    path's exact twin)."""
    if weighted:
        init = f"""raw AS ({edges_sql}),
bi AS MATERIALIZED (SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM (
  SELECT src AS u, dst AS v, w FROM raw WHERE src <> dst AND w > 0
  UNION ALL SELECT dst, src, w FROM raw WHERE src <> dst AND w > 0) z
  GROUP BY u, v),
tm AS MATERIALIZED (SELECT sum(w) AS m2 FROM bi),
e_0 AS MATERIALIZED (SELECT u AS a, v AS b, w FROM bi),
t_0 AS MATERIALIZED (SELECT u AS c, CAST(sum(w) AS BIGINT) AS tot
                     FROM bi GROUP BY u),
m_0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS c FROM bi)"""
    else:
        init = f"""raw AS ({edges_sql}),
bi AS MATERIALIZED (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM raw WHERE src <> dst
  UNION ALL SELECT dst, src FROM raw WHERE src <> dst)),
tm AS MATERIALIZED (SELECT count(*) AS m2 FROM bi),
e_0 AS MATERIALIZED (SELECT u AS a, v AS b, CAST(1 AS BIGINT) AS w
                     FROM bi),
t_0 AS MATERIALIZED (SELECT u AS c, CAST(count(*) AS BIGINT) AS tot
                     FROM bi GROUP BY u),
m_0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS c FROM bi)"""
    parts = [init]
    for r in range(1, rounds + 1):
        parts.append(f"""
bs_{r} AS MATERIALIZED (
  SELECT a AS c, (min({{'s': -score, 'b': b}})).b AS newc
  FROM (
    SELECT e.a, e.b,
           CAST(2 * tm.m2 * e.w - 2 * ta.tot * tb.tot AS BIGINT) AS score
    FROM e_{r - 1} e
    JOIN t_{r - 1} ta ON ta.c = e.a
    JOIN t_{r - 1} tb ON tb.c = e.b
    CROSS JOIN tm) s
  WHERE score > 0
    AND substr(md5(CAST(a AS VARCHAR) || '|{r}'), 1, 1) >= '8'
    AND substr(md5(CAST(b AS VARCHAR) || '|{r}'), 1, 1) < '8'
  GROUP BY a),
m_{r} AS MATERIALIZED (
  SELECT m.node, COALESCE(g.newc, m.c) AS c
  FROM m_{r - 1} m LEFT JOIN bs_{r} g ON g.c = m.c),
t_{r} AS MATERIALIZED (
  SELECT COALESCE(g.newc, t.c) AS c, sum(t.tot) AS tot
  FROM t_{r - 1} t LEFT JOIN bs_{r} g ON g.c = t.c GROUP BY 1),
e_{r} AS MATERIALIZED (
  SELECT a, b, sum(w) AS w FROM (
    SELECT COALESCE(ga.newc, e.a) AS a, COALESCE(gb.newc, e.b) AS b, e.w
    FROM e_{r - 1} e
    LEFT JOIN bs_{r} ga ON ga.c = e.a
    LEFT JOIN bs_{r} gb ON gb.c = e.b) z
  WHERE a <> b GROUP BY a, b)""")
    return ("WITH " + ",".join(parts) + f"""
SELECT m.node, cn.community
FROM m_{rounds} m
JOIN (SELECT c, min(node) AS community FROM m_{rounds} GROUP BY c) cn
  ON cn.c = m.c""")


def k_truss(edges: DataFrame, k: int = 4, rounds: int = 8,
            src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """k-truss decomposition of the UNDIRECTED graph: the maximal
    subgraph in which every edge participates in at least k-2 triangles.
    Returns the surviving edges as (src, dst, support) with src < dst and
    support counted within the final subgraph.

    Iterative peeling (the triangle analogue of :func:`k_core`): per
    round, (1) enumerate triangles via DEGREE-ORDERED ADJACENCY
    INTERSECTION (round 11 -- the same core as :func:`triangle_count`:
    orient each edge from its (degree, id)-smaller endpoint, collect
    out-neighborhoods bounded O(sqrt(m)), and the common out-neighbors
    of an oriented edge (a, b) are exactly its triangle closers), (2)
    per-edge support = one map-side-combinable sum over the three edge
    contributions of each triangle -- the apex edge (a, b) takes
    |common| at once, each closer c adds 1 to (a, c) and (b, c) -- (3)
    drop edges below k-2 and repeat until no edge falls or ``rounds``
    is exhausted (a warning, not silence -- peeling cascades).  The
    triangle stream is never collected, only aggregated, and the
    triangle SET (so every support count) is orientation-invariant, so
    the SQL oracle (:func:`k_truss_sql_oracle`), which enumerates by
    plain node id, replays the rounds exactly.

    Through round 10 the enumeration was the wedge-join form (p->q
    join q->r plus a closing-edge semi-join); that materializes the
    O(m^1.5)-bounded wedge stream through a shuffle per round, the
    same shape :func:`_oriented_intersections` had measured 30x slower
    than adjacency intersection on the sf0.1 co-purchase graph.  The
    r10 two-tier SHJ/pin gate existed to keep that wedge stream from
    spilling (2.86 GB at the 3M-edge quarter probe); with the wedge
    stream gone the join strategy gate collapses to the proven
    triangle_count shape:

    - SMALL graphs (checkpointed edge count < ``layout.PIN_DATA_BYTES``
      at 16 B/edge) broadcast the per-round adjacency (bounded at tens of
      MB by the gate) and the degree sides -- no sort, no wedge
      shuffle, no spill by construction.
    - LARGE graphs hint the adjacency joins ``shuffle_hash``
      (sort-merge would sort the wide array rows on both sides -- the
      measured 9.2 GB-spill pathology of the triangle core) and pin
      the wide exchanges to 2x parallelism (the triangle_count x10
      evidence); degrees stay node-id-keyed shuffles (O(|V|) rows is
      not broadcast material at billions).

    The per-round ``orient`` frame feeds two consumers (the adjacency
    build + the probe side) and is persisted for the round, released
    as soon as the round's support aggregate is materialized.
    """
    if k < 2:
        raise ValueError("k_truss: k must be >= 2")
    a, b = F.col(src_col), F.col(dst_col)
    spark = edges.sparkSession
    ed, _ = layout.materialize(
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"]))
    # session-mismatch branch, loop-invariant
    sess_pin = layout.pin_parts(spark)

    def _support(e: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(support, orient): per-edge triangle counts of ``e`` plus the
        round's PERSISTED orient frame (caller unpersists after
        materializing the aggregate)."""
        # exact data-size decision off the checkpointed edge set -- one
        # cheap job; Catalyst estimates decay on evicted caches (see
        # triangle_count) and the peel shrinks e every round, so the
        # regime is re-decided per round.  One tier (see docstring):
        # broadcast adjacency below layout.PIN_DATA_BYTES, SHJ hints +
        # exchange pinning from it.
        n_e = e.count()
        big = not layout.fits_broadcast(n_e)
        np_ = sess_pin
        if np_ is None and big:
            np_ = layout.pin_target(spark)
        if np_ is None:
            # the checkpointed edge set keeps its derivation partition
            # count forever (AQE never re-coalesces it) -- size the
            # round's scans from the count we just paid for, like every
            # other small-regime loop in this module (round 11)
            e = layout.scan_coalesce(e, n_e)
        # DEGREE-ORDERED orientation (same trick as
        # :func:`triangle_count`): orient every edge from the
        # (degree, id)-smaller endpoint -- every out-neighborhood is
        # bounded by O(sqrt(m)), so hub nodes never explode the
        # adjacency arrays.  The oracle enumerates by plain node id
        # instead; the triangle SET (and so every support count) is
        # orientation-invariant.
        deg = (layout.repart(e.select(F.col("a").alias("n"))
                             .unionAll(e.select(F.col("b").alias("n"))),
                             np_, "n")
               .groupBy("n").agg(F.count(F.lit(1)).alias("d")))

        def _deg_side(edge_col: str, deg_col: str):
            side = deg.select(F.col("n").alias(edge_col),
                              F.col("d").alias(deg_col))
            return side if big else F.broadcast(side)

        ea = layout.repart(e, np_, "a").join(_deg_side("a", "da"), "a")
        ea = layout.repart(ea, np_, "b").join(_deg_side("b", "db"), "b")
        lo_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        orient = orient_p = layout.repart(ea.select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v")),
            np_, "u").persist()
        if np_ is None:
            # one oriented row per edge; reuse the round's exact count
            orient = layout.scan_coalesce(orient, n_e,
                                          layout.DENSE_ROWS_PER_PART)
        # groupBy("u") reuses orient's hash(u) layout in the pinned
        # regime; the common out-neighbors of oriented (u, v) are the
        # round's triangle closers for that edge
        adj = (orient.groupBy("u")
               .agg(F.sort_array(F.collect_list("v")).alias("nb")))
        adj = adj.hint("shuffle_hash") if big else F.broadcast(adj)
        j1 = layout.repart(orient
                           .join(adj.select(F.col("u").alias("__ja"),
                                            F.col("nb").alias("nb_u")),
                                 F.col("u") == F.col("__ja")), np_, "v")
        j = j1.join(adj.select(F.col("u").alias("__jb"),
                               F.col("nb").alias("nb_v")),
                    F.col("v") == F.col("__jb"))
        cm = j.select("u", "v",
                      F.array_intersect("nb_u", "nb_v").alias("cm"))
        # per-triangle edge contributions as undirected (min, max) keys:
        # the apex edge (u, v) closes |cm| triangles at once, each
        # closer c contributes 1 to (u, c) and (v, c)
        contrib = (cm.select(F.explode(F.concat(
            F.array(F.struct(F.least("u", "v").alias("a"),
                             F.greatest("u", "v").alias("b"),
                             F.size("cm").cast("long").alias("t"))),
            F.flatten(F.transform("cm", lambda c: F.array(
                F.struct(F.least(F.col("u"), c).alias("a"),
                         F.greatest(F.col("u"), c).alias("b"),
                         F.lit(1).cast("long").alias("t")),
                F.struct(F.least(F.col("v"), c).alias("a"),
                         F.greatest(F.col("v"), c).alias("b"),
                         F.lit(1).cast("long").alias("t"))))))).alias("x"))
            .select("x.a", "x.b", "x.t")
            .where(F.col("t") > 0))
        sup = layout.repart(contrib, np_, "a", "b").groupBy("a", "b").agg(
            F.sum("t").alias("support"))
        return sup, orient_p

    converged = False
    final = None
    for _ in range(rounds):
        sup, orient = _support(ed)
        sup, _ = layout.materialize(sup)
        orient.unpersist()
        kept, _ = layout.materialize(
            ed.join(sup, ["a", "b"], "left")
            .where(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b"))
        removed = ed.join(kept, ["a", "b"], "left_anti")
        if removed.isEmpty():
            # nothing fell: sup was computed on exactly the final edge
            # set, so reuse it -- the triangle enumeration is the whole
            # cost of a round and recomputing it would change nothing
            converged = True
            final = sup
            break
        ed = kept
    if not converged:
        warnings.warn(
            f"k_truss: peeling still removing edges after rounds={rounds} "
            "-- result is an over-approximation of the k-truss; raise "
            "rounds", stacklevel=2)
        final, orient = _support(ed)
        final, _ = layout.materialize(final)
        orient.unpersist()
    return (ed.join(final, ["a", "b"], "left")
            .select(F.col("a").alias("src"), F.col("b").alias("dst"),
                    F.coalesce(F.col("support"), F.lit(0)).alias("support")))


def k_truss_sql_oracle(edges_sql: str, k: int = 4, rounds: int = 8) -> str:
    """SQL twin of :func:`k_truss`, the peeling unrolled to ``rounds``
    CTE blocks.  ``edges_sql`` selects (src, dst).  The round CTEs are
    declared MATERIALIZED: each round references its predecessor several
    times, and an inlining planner (DuckDB's default) would otherwise
    expand the chain exponentially."""
    parts = [f"""e_0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_sql}) raw WHERE src <> dst)"""]

    def tri(i: int) -> str:
        return f"""
tri_{i} AS MATERIALIZED (
  SELECT x.a AS ta, x.b AS tb, y.b AS tc
  FROM e_{i} x JOIN e_{i} y ON y.a = x.b
  WHERE EXISTS (SELECT 1 FROM e_{i} z WHERE z.a = x.a AND z.b = y.b)),
sup_{i} AS MATERIALIZED (
  SELECT a, b, count(*) AS support FROM (
    SELECT ta AS a, tb AS b FROM tri_{i}
    UNION ALL SELECT ta, tc FROM tri_{i}
    UNION ALL SELECT tb, tc FROM tri_{i}) s GROUP BY a, b)"""

    for i in range(rounds):
        parts.append(tri(i))
        parts.append(f"""
e_{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e_{i} e LEFT JOIN sup_{i} s
  ON s.a = e.a AND s.b = e.b
  WHERE COALESCE(s.support, 0) >= {k - 2})""")
    parts.append(tri(rounds))
    return ("WITH " + ",".join(parts) + f"""
SELECT e.a AS src, e.b AS dst,
       CAST(COALESCE(s.support, 0) AS BIGINT) AS support
FROM e_{rounds} e LEFT JOIN sup_{rounds} s ON s.a = e.a AND s.b = e.b""")


def fastrp_embeddings(edges: DataFrame, dims: int = 16, iterations: int = 3,
                      weights: tuple | None = None, normalize: bool = False,
                      src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """FastRP node embeddings (Chen et al. 2019, "Fast and Accurate
    Network Embeddings via Very Sparse Random Projection") over the
    UNDIRECTED simple graph: every node draws a very sparse random
    projection vector, ``iterations`` rounds of neighbor averaging
    smooth it over the k-step neighborhood, and the final embedding is
    the per-iteration weighted sum.  Returns (node, emb) with ``emb``
    an ``array<bigint>`` (default) or ``array<double>``
    (``normalize=True``).

    The GDS-family staple the walk surfaces don't cover: node2vec/
    skipgram need a downstream trainer to turn walks into vectors;
    FastRP IS the embedding — two node-id-keyed exchanges per
    iteration, no sampling, no training loop.

    Determinism: the projection entry for (node, dim) is drawn from the
    first 8 md5 hex digits of ``node|dim`` — bucket h%4 = 0 maps to +1,
    1 maps to -1, else 0 (density 1/2; the paper's 1/sqrt(s) scaling is
    a positive constant and is dropped — it cancels under cosine and
    under L2 normalization).  With ``normalize=False`` every iteration
    is a pure int64 neighbor SUM, so results are bit-exact on any
    engine/partitioning/retry and an ANSI-SQL oracle replays them
    verbatim (:func:`fastrp_sql_oracle`); the magnitude after k
    iterations is bounded by the k-step walk count (<= max_degree^k),
    so keep ``iterations * log2(max_degree)`` under ~62 bits — at
    hub degree 1e6 that is 3 iterations, the default.  With
    ``normalize=True`` iterations take the neighbor MEAN (degree
    normalization, beta = -1 in the paper's notation) and the weighted
    sum is L2-normalized — values stay O(1) at any scale and hubs stop
    dominating; floats, so pytest-gated rather than oracle-gated.

    Per iteration: ONE join of the embedding frame onto the
    bidirectional edge list keyed on the neighbor id and ONE hash
    aggregate of ``dims`` element sums keyed on the node id — the
    aggregate state is O(dims) per node, map-side combinable, and the
    element sums compile into whole-stage codegen (an O(dims) Catalyst
    tree per iteration, NOT O(dims x iterations): each round is severed
    with :func:`layout.materialize`, which also keeps join-size estimates
    flat).  Structural twins (identical neighborhoods) get identical
    embeddings from iteration 1 on, because their own (hash-distinct)
    projection vector never re-enters the sum.
    """
    if not 1 <= int(dims) <= 512:
        raise ValueError(f"fastrp_embeddings: dims must be in [1, 512] "
                         f"(O(dims) codegen tree per round), got {dims}")
    if iterations < 1:
        raise ValueError(f"fastrp_embeddings: iterations must be >= 1, "
                         f"got {iterations}")
    if weights is None:
        weights = (1,) * iterations
    weights = tuple(weights)
    if len(weights) != iterations:
        raise ValueError(f"fastrp_embeddings: need one weight per "
                         f"iteration, got {len(weights)} weights for "
                         f"{iterations} iterations")
    if not normalize and not all(float(w).is_integer() for w in weights):
        raise ValueError("fastrp_embeddings: weights must be integers "
                         "when normalize=False (the bit-exact path)")
    dims = int(dims)
    spark = edges.sparkSession
    out_t = "double" if normalize else "bigint"
    bi = (edges.select(F.col(src_col).alias("u"),
                       F.col(dst_col).alias("v"))
          .where(F.col("u") != F.col("v")))
    # both orientations from ONE pass -- see _mirror (round 11)
    bi = bi_persisted = (
        _mirror(bi).dropDuplicates(["u", "v"]).persist())
    try:
        n_bi = bi.count()
        if n_bi == 0:
            return spark.createDataFrame(
                [], f"node long, emb array<{out_t}>")
        # every iteration scans the persisted bidirectional edge set as
        # the probe side of the embedding join; coalesce the repeated
        # scan to a size-derived partition count (narrow, no-op at
        # >=150k rows/partition -- see layout.scan_coalesce)
        bi = layout.scan_coalesce(bi, n_bi)

        def _entry(d):
            h = F.conv(F.substring(
                F.md5(F.concat_ws("|", F.col("node").cast("string"),
                                  F.lit(str(d)))), 1, 8),
                16, 10).cast("long") % 4
            e = (F.when(h == 0, F.lit(1)).when(h == 1, F.lit(-1))
                 .otherwise(F.lit(0)).cast("long"))
            return e.cast("double") if normalize else e

        cur, n_nodes = layout.materialize(
            bi.select(F.col("u").alias("node")).dropDuplicates(["node"])
            .select("node", F.array(*[_entry(d) for d in range(dims)])
                    .alias("emb")), sever=True)
        # The severed embedding frame reports no Catalyst stats, so the
        # STATIC planner sort-merges every iteration's join -- sorting
        # the 2m-row wide neighbor stream is pure spill fuel (measured
        # 3.2 GB spill at 12M edges x dims=32 before this gate).  The
        # state size is KNOWN exactly (n nodes x (dims+1) longs):
        # broadcast the embedding frame under the 64 MiB budget, hint
        # shuffle_hash above it (the wide stream never sorts either
        # way; at billions of nodes the frame shuffles node-keyed).
        small_state = layout.fits_broadcast(n_nodes, (dims + 1) * 8)

        def _emb_side(frame):
            return F.broadcast(frame) if small_state \
                else frame.hint("shuffle_hash")

        agg = F.avg if normalize else F.sum
        iters = []
        for _ in range(iterations):
            cur, _ = layout.materialize(
                bi.join(_emb_side(cur.withColumnRenamed("node", "v")),
                        "v")
                .groupBy(F.col("u").alias("node"))
                .agg(*[agg(F.col("emb")[d]).cast(out_t).alias(f"_d{d}")
                       for d in range(dims)])
                .select("node", F.array(*[F.col(f"_d{d}")
                                          for d in range(dims)])
                        .alias("emb")), sever=True)
            iters.append(cur)
        acc = iters[0].select(
            "node", F.transform(
                "emb", lambda x: (x * F.lit(weights[0])).cast(out_t))
            .alias("emb"))
        for w, it in zip(weights[1:], iters[1:]):
            acc = (acc.join(_emb_side(it.withColumnRenamed("emb", "__e")),
                            "node")
                   .select("node", F.zip_with(
                       "emb", "__e",
                       lambda a, b: (a + b * F.lit(w)).cast(out_t))
                       .alias("emb")))
        if normalize:
            nrm = F.sqrt(F.aggregate(
                "emb", F.lit(0.0), lambda a, x: a + x * x))
            acc = acc.select(
                "node", F.when(nrm > 0, F.transform(
                    "emb", lambda x: x / nrm))
                .otherwise(F.col("emb")).alias("emb"))
        return acc
    finally:
        bi_persisted.unpersist()


def fastrp_sql_oracle(edges_sql: str, dims: int = 16, iterations: int = 3,
                      weights: tuple | None = None) -> str:
    """ANSI-SQL twin of :func:`fastrp_embeddings` (normalize=False) in
    LONG format: returns (node, dim, val) — compare against the engine
    output exploded with ``posexplode(emb)``.  ``edges_sql`` selects
    (src, dst)."""
    if weights is None:
        weights = (1,) * iterations
    parts = [f"""raw AS ({edges_sql}),
bi AS MATERIALIZED (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM raw WHERE src <> dst
  UNION ALL SELECT dst, src FROM raw WHERE src <> dst)),
dm AS (SELECT unnest(generate_series(0, {int(dims) - 1})) AS dim),
v_0 AS MATERIALIZED (
  SELECT n.node, d.dim,
         CAST(CASE (('0x' || substr(md5(CAST(n.node AS VARCHAR) || '|' ||
                CAST(d.dim AS VARCHAR)), 1, 8))::BIGINT) % 4
              WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS BIGINT) AS val
  FROM (SELECT DISTINCT u AS node FROM bi) n CROSS JOIN dm d)"""]
    for k in range(1, iterations + 1):
        parts.append(f"""
v_{k} AS MATERIALIZED (
  SELECT e.u AS node, v.dim, CAST(sum(v.val) AS BIGINT) AS val
  FROM bi e JOIN v_{k - 1} v ON v.node = e.v GROUP BY 1, 2)""")
    total = " + ".join(f"{int(w)} * v_{k}.val"
                       for k, w in enumerate(weights, start=1))
    joins = "".join(f" JOIN v_{k} USING (node, dim)"
                    for k in range(2, iterations + 1))
    return ("WITH " + ",".join(parts) + f"""
SELECT v_1.node, v_1.dim, CAST({total} AS BIGINT) AS val
FROM v_1{joins}""")
