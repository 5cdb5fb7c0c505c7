"""shortestPath() / allShortestPaths() — distributed BFS planning.

Beyond-reference surface: the reference engine has no shortest-path
support at all (its var-length expand enumerates every path).  Here
``MATCH p = shortestPath((a)-[:T*..hi]-(b))`` plans as a level-
synchronous BFS over the bound (a, b) pairs:

 - one edge DataFrame (type- and direction-filtered) built once and
   persisted for the query;
 - per level: frontier ⋈ edges, an anti-join against the per-source
   visited set (guarantees minimality AND termination — each (source,
   node) is expanded at most once), and a semi-join against the still-
   unresolved pairs so finished sources stop expanding;
 - pairs are resolved at the FIRST level that reaches their target;
   ``allShortestPaths`` keeps every path of that level, ``shortestPath``
   keeps one (deterministically — the struct-least path).

Wall-clock is O(diameter) driver-coordinated rounds of pure DataFrame
joins — the same shape as the pagerank/k_core iterations, no driver-side
path enumeration.  Path hop arrays live in one struct column, so the
result binds exactly like a var-length named path (nodes(p) /
relationships(p) / length(p) and downstream comprehensions work
unchanged).
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F

from ..errors import PlanError
from ..functions.layout import materialize
from ..ir import expr as E
from ..operators.header import column_name, _san
from ..operators.records import Records
from ..parser import ast as A

_MAX_LEVELS = 50        # hard guard: raise rather than loop forever


def _rewrite_expr(e, f):
    """Bottom-up structural rewrite of a frozen-dataclass expression tree:
    ``f(node)`` returning a different node replaces the whole subtree."""
    e2 = f(e)
    if e2 is not e:
        return e2
    changes = {}
    for fld in dataclasses.fields(e):
        v = getattr(e, fld.name)
        if isinstance(v, E.Expr):
            nv = _rewrite_expr(v, f)
            if nv is not v:
                changes[fld.name] = nv
        elif isinstance(v, tuple):
            nv = tuple(
                _rewrite_expr(x, f) if isinstance(x, E.Expr)
                else tuple(_rewrite_expr(y, f) if isinstance(y, E.Expr)
                           else y for y in x) if isinstance(x, tuple)
                else x
                for x in v)
            if nv != v:
                changes[fld.name] = nv
    return dataclasses.replace(e, **changes) if changes else e


def edge_predicate_of(pl, conjunct, path_var, rel_var):
    """When ``conjunct`` is ``all/none(r IN relationships(p) WHERE pred)``
    (or over the var-length rel variable directly) and ``pred`` touches
    only the lambda variable, return the per-relationship predicate to
    push into the BFS edge set (negated for ``none``) — matching Neo4j,
    which finds the shortest path SATISFYING such predicates rather than
    post-filtering the unconstrained shortest path.  None = not pushable."""
    if not isinstance(conjunct, E.ListPredicate) \
            or conjunct.kind not in ("all", "none"):
        return None
    le = conjunct.list_expr
    over_rels = (
        (isinstance(le, E.FuncCall) and le.name == "relationships"
         and len(le.args) == 1 and isinstance(le.args[0], E.Var)
         and path_var is not None and le.args[0].name == path_var)
        or (isinstance(le, (E.Var, E.ListRelVar))
            and rel_var is not None and le.name == rel_var))
    if not over_rels:
        return None
    lam = conjunct.var
    names = {v.name for v in E.collect_vars(conjunct.where)}

    def _locals(x):
        if isinstance(x, E.LocalVar):
            names.add(x.name)
        for c in x.children():
            _locals(c)
    _locals(conjunct.where)
    if not names <= {lam}:
        return None                     # touches outer scope: not pushable
    pred = _rewrite_expr(
        conjunct.where,
        lambda x: (E.RelVar("__sp_r")
                   if isinstance(x, (E.Var, E.LocalVar))
                   and not isinstance(x, (E.NodeVar, E.ListRelVar,
                                          E.ListNodeVar))
                   and x.name == lam else x))
    return E.Not(pred) if conjunct.kind == "none" else pred


def _edge_df(pl, rp: A.RelPattern, rel_pred=None):
    """(src, dst, rid) over the selected rel types, oriented per the
    pattern (undirected unions both orientations).  ``rel_pred`` is an
    optional per-relationship predicate (over RelVar ``__sp_r``) applied
    to the edge set before the BFS — a pushed-down
    ``all(r IN relationships(p) WHERE ...)``."""
    from ..operators.columns import ExprContext, to_column
    from ..operators.records import scan_rels

    if rel_pred is not None:
        var = E.RelVar("__sp_r")
        rec = scan_rels(pl.session, pl.graph, "__sp_r", rp.types or ())
        ctx = ExprContext(rec.header, rec.df, pl.params)
        filtered = rec.df.where(to_column(rel_pred, ctx))
        src = rec.header.col(E.StartNode(var))
        dst = rec.header.col(E.EndNode(var))
        rid = rec.header.col(var)
        fwd = filtered.select(F.col(src).alias("src"),
                              F.col(dst).alias("dst"),
                              F.col(rid).alias("rid"))
        rev = filtered.select(F.col(dst).alias("src"),
                              F.col(src).alias("dst"),
                              F.col(rid).alias("rid"))
        if rp.direction == "out":
            return fwd
        if rp.direction == "in":
            return rev
        return fwd.unionByName(rev)

    tables = pl.graph.rel_tables
    types = rp.types or tuple(tables)
    parts = []
    for t in types:
        df = tables.get(t)
        if df is None:
            continue
        fwd = df.select(F.col("source").alias("src"),
                        F.col("target").alias("dst"),
                        F.col("id").alias("rid"))
        if rp.direction == "out":
            parts.append(fwd)
        elif rp.direction == "in":
            parts.append(df.select(F.col("target").alias("src"),
                                   F.col("source").alias("dst"),
                                   F.col("id").alias("rid")))
        else:
            parts.append(fwd)
            parts.append(df.select(F.col("target").alias("src"),
                                   F.col("source").alias("dst"),
                                   F.col("id").alias("rid")))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def plan_shortest_path(pl, records, part: A.PatternPart,
                       rel_pred=None):
    """Plan one shortestPath/allShortestPaths pattern part; returns the
    extended Records (path var, endpoints, optional rel-list var bound)."""
    from .planner import resolve_vars

    named = pl._name_pattern(dataclasses.replace(part, shortest=None))
    if len(named.elements) != 3:
        raise PlanError(
            "shortestPath() takes a single relationship pattern "
            "(a)-[*..]-(b)", code="InvalidShortestPath")
    na, rp, nb = named.elements
    if not rp.var_length:
        raise PlanError("shortestPath() requires a variable-length "
                        "relationship", code="InvalidShortestPath")
    if rp.props:
        raise PlanError("relationship properties are not supported inside "
                        "shortestPath()", code="InvalidShortestPath")
    lo = rp.lo if rp.lo is not None else 1
    hi = rp.hi if rp.hi is not None else _MAX_LEVELS
    if lo > 1:
        # same restriction as Neo4j: the visited-set BFS certifies
        # minimality only from the first level, so a higher minimum would
        # silently miss paths re-visiting earlier-reached nodes
        raise PlanError(
            "shortestPath() does not support a minimal length other than "
            "0 or 1", code="InvalidShortestPathMinLength")

    # ---- bind endpoints (scans / cartesian via the normal machinery) ---
    for np in (na, nb):
        if records is None or records.header.var(np.var) is None:
            records = pl.plan_match(
                records, A.MatchClause((A.PatternPart((np,)),), None))
    header = records.header
    a_col = header.col(header.var(na.var))
    b_col = header.col(header.var(nb.var))

    edges = _edge_df(pl, rp, rel_pred)
    pairs = (records.df.select(F.col(a_col).alias("a"),
                               F.col(b_col).alias("b"))
             .where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
             .dropDuplicates())

    spark = pl.session.spark
    sources = pairs.select("a").dropDuplicates()
    # checkpoint + cardinality in ONE RDD-count job each (round 12,
    # layout.materialize): the loop's per-level emptiness tests then read
    # the already-known counts instead of scheduling isEmpty probes —
    # the eager-ckpt-then-isEmpty idiom cost 3 driver round-trips per
    # materialization
    frontier, n_frontier = materialize(sources.select(
        "a", F.col("a").alias("node"),
        F.array().cast("array<long>").alias("rels"),
        F.array(F.col("a")).alias("nodes")))
    visited, _ = materialize(sources.select("a", F.col("a").alias("node")))
    remaining, n_remaining = materialize(pairs)
    found = None        # (a, b, rels, nodes)

    def record_found(cand, remaining, n_remaining):
        nonlocal found
        hits = cand.join(remaining,
                         (cand["a"] == remaining["a"])
                         & (cand["node"] == remaining["b"]),
                         "left_semi") \
            .select("a", F.col("node").alias("b"), "rels", "nodes")
        hits, n_hits = materialize(hits)
        if n_hits == 0:
            return remaining, n_remaining
        found = hits if found is None else found.unionByName(hits)
        return materialize(remaining.join(
            hits.select("a", "b").dropDuplicates(), ["a", "b"],
            "left_anti"))

    if lo == 0:
        remaining, n_remaining = record_found(frontier, remaining,
                                              n_remaining)

    if edges is not None:
        # read by every level's join; the result reads only the loop's
        # checkpoints, so the cache is dropped once the loop ends
        edges = edges.persist()
    level = 0
    try:
        while edges is not None and level < hi:
            level += 1
            if n_remaining == 0 or n_frontier == 0:
                break
            nxt = (frontier.join(edges, frontier["node"] == edges["src"])
                   .select("a", F.col("dst").alias("node"),
                           F.concat("rels", F.array("rid")).alias("rels"),
                           F.concat("nodes", F.array("dst")).alias("nodes")))
            nxt = nxt.join(visited, ["a", "node"], "left_anti")
            # finished sources stop expanding
            nxt, n_nxt = materialize(
                nxt.join(remaining.select("a").dropDuplicates(), ["a"],
                         "left_semi"))
            if n_nxt == 0:
                break
            if level >= lo:
                remaining, n_remaining = record_found(nxt, remaining,
                                                      n_remaining)
            visited, _ = materialize(visited.unionByName(
                nxt.select("a", "node").dropDuplicates()))
            frontier, n_frontier = nxt, n_nxt
    finally:
        if edges is not None:
            edges.unpersist()
    if level >= _MAX_LEVELS and n_remaining > 0:
        raise PlanError(
            f"shortestPath() did not converge within {_MAX_LEVELS} levels",
            code="ShortestPathBound")

    if found is None:
        found = spark.createDataFrame(
            [], "a long, b long, rels array<long>, nodes array<long>")
    if part.shortest == "single":
        # deterministic representative: the struct-least (rels, nodes)
        found = (found.groupBy("a", "b")
                 .agg(F.min(F.struct("rels", "nodes")).alias("__p"))
                 .select("a", "b", F.col("__p.rels").alias("rels"),
                         F.col("__p.nodes").alias("nodes")))

    # ---- join paths back onto the binding rows -------------------------
    pv = named.path_var
    ren = {"rels": f"__sp_rels_{pl.fresh_name()}",
           "nodes": f"__sp_nodes_{pl.fresh_name()}"}
    fdf = found.select(F.col("a").alias("__sp_a"), F.col("b").alias("__sp_b"),
                       F.col("rels").alias(ren["rels"]),
                       F.col("nodes").alias(ren["nodes"]))
    out_df = records.df.join(
        fdf, (F.col(a_col) == F.col("__sp_a"))
        & (F.col(b_col) == F.col("__sp_b")), "inner") \
        .drop("__sp_a", "__sp_b")
    hdr = header
    if rp.var and not rp.var.startswith("_a"):
        lv = E.ListRelVar(rp.var)
        hdr = hdr.added(lv, ren["rels"])
        # hop-node array (src, n1, ..., nk) for comprehension machinery
        hop = f"__vlnodes_{rp.var}"
        out_df = out_df.withColumn(hop, F.col(ren["nodes"]))
        hdr = hdr.added(E.Var(hop), hop)
    if pv is not None:
        pcol = f"__path_{_san(pv)}"
        out_df = out_df.withColumn(
            pcol, F.struct(F.col(ren["nodes"]).alias("nodes"),
                           F.col(ren["rels"]).alias("rels")))
        hdr = hdr.added(E.Var(pv), pcol)
        pl._paths[pv] = ([na.var, nb.var], [rp.var], True)
    return Records(pl.session, hdr, out_df)
