"""Clause planner: parser AST -> lazily composed (Header, DataFrame) Records.

Collapses the reference's logical + relational layers (okapi-logical/.../impl/
LogicalPlanner.scala:47-433 and okapi-relational/.../impl/planning/
RelationalPlanner.scala:55-563) into one Python planner that emits DataFrame
operations directly — Catalyst is our physical planner (SURVEY §3, §7.1.3).

Pattern planning mirrors the reference: per connected component, start from a
node scan and greedily chain Expand / ExpandInto / var-length expands
(LogicalPlanner.planComponentPattern :328-368); components combine by cross
join, and Catalyst's PushPredicateThroughJoin turns crossJoin+equality-filter
into proper equi-joins (the reference needed its own
replaceCartesianWithValueJoin — LogicalOptimizer.scala:53-65 — because its
physical layer was its own; we get the rewrite from Catalyst and verify it in
tests)."""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.layout import materialize
from ..ir import expr as E
from ..operators.columns import (ExprContext, compile_aggregator, quote,
                                 to_column)
from ..operators.header import Header, TypeOf, column_name
from ..operators.records import (
    Records,
    aliased,
    empty_records,
    join_records,
    project,
    scan_nodes,
    scan_rels,
    union_records,
)
from ..parser import ast as A


# Hard guard for unbounded [*] fixpoint iteration: paths longer than this
# raise instead of being silently dropped.
_VLEN_FIXPOINT_CAP = 64


from ..errors import PlanError  # noqa: E402  (re-export, was local)


def _text(expr: E.Expr) -> str:
    if isinstance(expr, E.Var):
        return expr.name
    if isinstance(expr, E.Property):
        return f"{_text(expr.owner)}.{expr.key}"
    if isinstance(expr, E.CountStar):
        return "count(*)"
    if isinstance(expr, E.FuncCall):
        return f"{expr.name}({', '.join(_text(a) for a in expr.args)})"
    if isinstance(expr, E.Lit):
        return repr(expr.value)
    return "expr"


def resolve_vars(expr, header: Header):
    """Rewrite parser-level Var nodes to the typed header vars of the same
    name (NodeVar/RelVar/ListRelVar), so header lookups hit."""
    if expr is None:
        return None
    if isinstance(expr, E.LocalVar):
        return expr
    if isinstance(expr, E.Var):
        hv = header.var(expr.name)
        return hv if hv is not None else expr
    if not isinstance(expr, E.Expr) or not dataclasses.is_dataclass(expr):
        return expr
    changes = {}
    for f in dataclasses.fields(expr):
        v = getattr(expr, f.name)
        if isinstance(v, E.Expr):
            changes[f.name] = resolve_vars(v, header)
        elif isinstance(v, tuple):
            changes[f.name] = tuple(
                resolve_vars(x, header) if isinstance(x, E.Expr)
                else (tuple(resolve_vars(y, header) if isinstance(y, E.Expr)
                            else y for y in x) if isinstance(x, tuple) else x)
                for x in v)
    return dataclasses.replace(expr, **changes) if changes else expr


class Planner:
    def __init__(self, session, graph, params: dict | None = None):
        self.session = session
        self.graph = graph
        self.params = params or {}
        self._anon = 0
        self.result_graph = None   # set by RETURN GRAPH
        # path var -> ([node element vars], [rel element vars], has_varlen)
        self._paths: dict = {}
        # variables DELETEd earlier in the statement: label/property access
        # on them is a runtime EntityNotFound (ReturnAcceptance2)
        self._deleted_vars: set = set()
        # alias -> entity shape for container literals carried through WITH
        # ("WITH {key: u} AS m ... DELETE m.key"); see _entity_shape_of
        self._entity_shapes: dict = {}
        # introspection for the stats-driven join-order plan gates
        # (tests/test_join_order.py): component start nodes and rel
        # expansion order as planned
        self._debug_starts: list = []
        self._debug_rel_order: list = []

    # ------------------------------------------------------------------
    def fresh_name(self) -> str:
        self._anon += 1
        return f"_a{self._anon}"

    def ctx(self, records: Records) -> ExprContext:
        return ExprContext(records.header, records.df, self.params)

    # ------------------------------------------------------------------
    def plan(self, query: A.Query, initial: Records | None = None):
        """Plan a full (possibly UNION'ed) query.  Returns (Records, outputs)
        where outputs = [(friendly_name, physical_col), ...].  ``initial``
        is an optional driving table already in scope."""
        recs, outs = self.plan_single(query.parts[0], initial)
        if len(set(query.union_alls)) > 1:
            # TCK MiscellaneousErrorAcceptance: mixing UNION and UNION ALL
            # in one query is invalid
            raise PlanError("cannot mix UNION and UNION ALL",
                                code="InvalidClauseComposition")
        for part, is_all in zip(query.parts[1:], query.union_alls):
            r2, o2 = Planner(self.session, self.graph, self.params).plan_single(
                part, initial)
            if {n for n, _ in o2} != {n for n, _ in outs}:
                raise PlanError("UNION parts must have identical "
                                "column names",
                                code="DifferentColumnsInUnion")
            # align by OUTPUT NAME, not position — openCypher unions match
            # columns by name (the reference sorts columns before
            # TabularUnionAll, RelationalOperator.scala:474-480), so
            # `RETURN a, b UNION RETURN b, a` is legal
            by_name = dict(o2)
            # Mixed type classes across parts (`RETURN 1 AS x UNION
            # RETURN 'a' AS x`) box into the tagged-union Any struct
            # (operators/anyvalue.py) — the reference REJECTS these
            # (no CTAnyMaterial mapping, SparkConversions.scala:54-75);
            # here native struct union/comparison carries them.
            from ..operators.anyvalue import encode_any, is_any_type
            from ..operators.columns import _comparable
            t1 = dict(zip(recs.df.select(
                *[c for _, c in outs]).columns,
                [f.dataType for f in recs.df.select(
                    *[c for _, c in outs]).schema.fields]))
            lhs_enc, rhs_enc = {}, {}
            for n2, c2 in o2:
                dt2 = r2.df.schema[c2].dataType
                c1 = dict(outs)[n2]
                dt1 = t1.get(c1)
                if is_any_type(dt1) != is_any_type(dt2) \
                        or not _comparable(dt1, dt2):
                    lhs_enc[c1] = dt1
                    rhs_enc[c2] = dt2
            lhs_df = recs.df.select(*[c for _, c in outs])
            if lhs_enc:
                lhs_df = lhs_df.select(*[
                    encode_any(F.col(c), lhs_enc[c]).alias(c)
                    if c in lhs_enc else F.col(c)
                    for c in lhs_df.columns])
            rename = {by_name[n1]: c1 for n1, c1 in outs}
            df2 = r2.df.select(*[
                (encode_any(F.col(c), rhs_enc[c]) if c in rhs_enc
                 else F.col(c)).alias(rename.get(c, c))
                for c in r2.df.columns])
            recs = recs.with_df(lhs_df.unionByName(
                df2.select(*[c for _, c in outs])))
            if not is_all:
                recs = recs.with_df(recs.df.dropDuplicates())
        return recs, outs

    def plan_single(self, q: A.SingleQuery, initial: Records | None = None):
        records = initial
        outputs = None
        call_outputs = None
        pending_construct = None
        # Whole-query variable usage: a node var never referenced by any
        # expression, label, property map, or CONSTRUCT in the query needs
        # only its id — its scan join can be elided even though it is named.
        query_refs = _query_var_refs(q)
        after_optional = False
        for clause in q.clauses:
            if isinstance(clause, A.MatchClause):
                if clause.optional:
                    after_optional = True
                elif after_optional:
                    # TCK: MATCH cannot follow OPTIONAL MATCH in the same
                    # scope (a WITH resets it)
                    raise PlanError(
                        "MATCH cannot follow OPTIONAL MATCH; "
                        "introduce a WITH between them",
                        code="InvalidClauseComposition")
                records = self.plan_match(records, clause,
                                          query_refs=query_refs)
            elif isinstance(clause, A.UnwindClause):
                records = self.plan_unwind(records, clause)
            elif isinstance(clause, A.CallClause):
                if clause.yields is None and len(q.clauses) > 1:
                    # openCypher: CALL without YIELD is only legal as a
                    # standalone (whole-query) clause — unless VOID
                    proc = self.session.procedures.get(clause.name)
                    if proc is not None and proc.outputs:
                        raise PlanError(
                            "in-query CALL requires YIELD",
                            code="InvalidClauseComposition")
                records, call_outputs = self.plan_call(records, clause)
            elif isinstance(clause, A.FromGraphClause):
                # FromCatalogGraph (RelationalOperator.scala:410): switch the
                # active graph for subsequent clauses; view invocations
                # instantiate the parameterized body.
                if clause.args:
                    self.graph = self.session.view_graph(clause.name,
                                                         clause.args)
                else:
                    self.graph = self.session.graph(clause.name)
            elif isinstance(clause, A.ConstructClause):
                pending_construct = clause
            elif isinstance(clause, A.ReturnGraphClause):
                if pending_construct is not None:
                    self.result_graph = self.plan_construct(records,
                                                            pending_construct)
                else:
                    self.result_graph = self.graph
                records = Records(self.session, Header({}),
                                  self.session.spark.range(0).select())
                outputs = []
            elif isinstance(clause, A.CreateClause):
                from .mutation import plan_create
                after_optional = False
                records = plan_create(self, records, clause)
                self._mutated = True
            elif isinstance(clause, A.MergeClause):
                from .mutation import plan_merge
                after_optional = False
                records = plan_merge(self, records, clause)
                self._mutated = True
            elif isinstance(clause, A.SetClause):
                from .mutation import plan_set
                records = plan_set(self, records, clause.items)
                self._mutated = True
            elif isinstance(clause, A.RemoveClause):
                from .mutation import plan_set
                records = plan_set(self, records, clause.items, remove=True)
                self._mutated = True
            elif isinstance(clause, A.DeleteClause):
                from .mutation import plan_delete
                records = plan_delete(self, records, clause)
                self._mutated = True
            elif isinstance(clause, A.ForeachClause):
                from .mutation import plan_foreach
                records = plan_foreach(self, records, clause)
                self._mutated = True
            elif isinstance(clause, A.CallSubquery):
                after_optional = False
                records = self.plan_call_subquery(records, clause)
            elif isinstance(clause, (A.WithClause, A.ReturnClause)):
                after_optional = False      # WITH opens a new match scope
                records, outs = self.plan_projection(records, clause)
                if isinstance(clause, A.ReturnClause):
                    outputs = outs
            else:
                raise PlanError(f"unsupported clause {clause!r}")
        if pending_construct is not None and self.result_graph is None:
            raise PlanError("CONSTRUCT must be followed by RETURN GRAPH")
        if getattr(self, "_mutated", False) and self.result_graph is None:
            # a mutating query's result carries the transformed graph
            self.result_graph = self.graph
        if outputs is None:
            if call_outputs is not None:
                # standalone CALL: the procedure's (yielded) columns ARE
                # the result table, no RETURN required
                return records, call_outputs
            if getattr(self, "_mutated", False):
                # a mutating query needs no RETURN: zero rows, no columns
                return Records(self.session, Header({}),
                               self.session.spark.range(0).select()), []
            raise PlanError("query must end with RETURN")
        return records, outputs

    # ------------------------------------------------------------------
    # MATCH
    # ------------------------------------------------------------------
    def plan_call(self, records, clause: A.CallClause):
        """CALL ns.proc(args) [YIELD ...] — procedure invocation.

        Table-backed procedures (the TCK stub shape, procedures.py) plan
        as a null-safe equi-join of the record stream against the
        (broadcastable) procedure relation on the argument columns — no
        per-row Python, so an in-query CALL over a billion rows is just a
        broadcast join.  Function-backed procedures require plan-time
        constant arguments and cross-join their result.  Returns
        (records, outputs) where outputs lists the yielded columns.
        """
        from ..procedures import _SPARK_TYPES

        proc = self.session.procedures.get(clause.name)
        if proc is None:
            raise PlanError(f"there is no procedure named {clause.name!r}",
                            code="ProcedureNotFound")
        spark = self.session.spark
        standalone = records is None
        if records is None:
            records = Records(self.session, Header({}),
                              spark.range(1).select())

        # ---- argument expressions ------------------------------------
        if clause.args is None and proc.inputs and not standalone:
            # openCypher: the implicit-argument form is only legal for a
            # standalone CALL (TCK "fails when trying to pass them
            # implicitly")
            raise PlanError(
                "in-query CALL requires explicit arguments",
                code="InvalidArgumentPassingMode")
        proc_defaults = dict(getattr(proc, "defaults", ()) or ())
        if clause.args is None:
            # implicit form: arguments bound from query parameters by name
            arg_exprs = []
            for nm, _t in proc.inputs:
                if nm in self.params:
                    arg_exprs.append(E.Lit(self.params[nm]))
                elif nm in proc_defaults:
                    arg_exprs.append(E.Lit(proc_defaults[nm]))
                else:
                    raise PlanError(
                        f"missing parameter {nm!r} for implicit procedure "
                        "argument", code="ParameterMissing")
        else:
            min_args = len(proc.inputs) - len(proc_defaults)
            if not (min_args <= len(clause.args) <= len(proc.inputs)):
                want = (f"{len(proc.inputs)}" if not proc_defaults
                        else f"{min_args} to {len(proc.inputs)}")
                raise PlanError(
                    f"procedure {clause.name} expects "
                    f"{want} argument(s), got "
                    f"{len(clause.args)}", code="InvalidNumberOfArguments")
            arg_exprs = [resolve_vars(a, records.header)
                         for a in clause.args]
            # trailing optionals (Neo4j-style): fill from the declared
            # defaults so fn always sees the full argument list
            for nm, _t in proc.inputs[len(clause.args):]:
                arg_exprs.append(E.Lit(proc_defaults[nm]))

        # ---- yielded outputs -----------------------------------------
        declared = {nm for nm, _ in proc.outputs}
        yields = clause.yields
        if yields is None:
            yields = tuple((nm, nm) for nm, _ in proc.outputs)
        for out, _alias in yields:
            if out not in declared:
                raise PlanError(
                    f"procedure {clause.name} has no output field {out!r}",
                    code="UnknownProcedureOutput")

        # plan-time type check of constant arguments against the
        # declared signature (numeric tower collapses: INTEGER and FLOAT
        # accept each other and NUMBER accepts both)
        from ..operators.columns import _NO_CONST as _NC, plan_const as _pc
        _OK = {"INTEGER": (int, float), "FLOAT": (int, float),
               "NUMBER": (int, float), "STRING": (str,),
               "BOOLEAN": (bool,)}
        _ctx0 = ExprContext(records.header, records.df, self.params)
        for (nm, t), e in zip(proc.inputs, arg_exprs):
            ok = _OK.get(t.upper())
            if ok is None:
                continue
            v = _pc(e, _ctx0)
            if v is _NC or v is None:
                continue
            if isinstance(v, bool) and bool not in ok or \
                    not isinstance(v, ok):
                raise PlanError(
                    f"procedure {clause.name} argument {nm!r} expects "
                    f"{t}, got {type(v).__name__}",
                    code="InvalidArgumentType")

        base = self.fresh_name()
        if not proc.outputs and proc.fn is None:
            # VOID procedure: executes for its (non-)effect; the record
            # stream passes through (standalone: empty result)
            if standalone:
                return Records(self.session, Header({}),
                               spark.range(0).select()), []
            return records, []

        if proc.fn is not None:
            from ..operators.columns import _NO_CONST, plan_const
            vals = []
            for e in arg_exprs:
                v = plan_const(e, ExprContext(records.header, records.df,
                                              self.params))
                if v is _NO_CONST:
                    raise PlanError(
                        f"function-backed procedure {clause.name} requires "
                        "constant arguments")
                vals.append(v)
            if getattr(proc, "graph", False):
                # graph-backed (algo.*): the callable runs against the
                # query's CURRENT graph (FROM GRAPH switches it first).
                # NULL arguments are rejected HERE with a typed error
                # (round 10, VERDICT r9 #7) -- the wrappers coerce via
                # int()/float()/str(), which would otherwise surface a
                # bare TypeError from inside the algorithm
                for (nm, _t), v in zip(proc.inputs, vals):
                    if v is None:
                        raise PlanError(
                            f"procedure {clause.name} argument {nm!r} "
                            "must not be null",
                            code="InvalidArgumentValue")
                # argument-domain rejections from the algorithm library
                # (rounds < 1, k < 2, p/q <= 0, ...) surface as the same
                # typed plan-time error as the NULL-argument guard above
                # (round 11, VERDICT r10 #3) instead of a bare ValueError
                try:
                    out_df = proc.fn(self.session, self.graph, *vals)
                except ValueError as e:
                    raise PlanError(
                        f"procedure {clause.name}: {e}",
                        code="InvalidArgumentValue") from e
            else:
                out_df = proc.fn(spark, *vals)
            tbl = out_df.toDF(*[f"{base}_{nm}" for nm, _ in proc.outputs])
            joined = records.df.crossJoin(F.broadcast(tbl)) \
                if records.df.columns else tbl
        else:
            # table-backed: one relation (inputs + outputs), join on args
            names = [nm for nm, _ in proc.inputs + proc.outputs]
            schema = proc.spark_schema()
            if schema is not None:
                tbl = spark.createDataFrame(list(proc.rows), schema)
            else:
                tbl = spark.createDataFrame(list(proc.rows), names)
            tbl = tbl.toDF(*[f"{base}_{nm}" for nm in names])
            ctx = ExprContext(records.header, records.df, self.params)
            df = records.df
            conds = []
            for i, ((nm, t), e) in enumerate(zip(proc.inputs, arg_exprs)):
                st = _SPARK_TYPES.get(t.upper())
                c = to_column(e, ctx)
                if st is not None:
                    # numeric-tower coercion: INTEGER accepts FLOAT values
                    # and NUMBER accepts both (TCK argument-coercion rows)
                    c = c.cast(st)
                df = df.withColumn(f"{base}_arg{i}", c)
                conds.append(F.col(f"{base}_arg{i}")
                             .eqNullSafe(F.col(f"{base}_{nm}")))
            if conds:
                cond = conds[0]
                for c in conds[1:]:
                    cond = cond & c
                joined = df.join(F.broadcast(tbl), cond, "inner")
            elif df.columns:
                joined = df.crossJoin(F.broadcast(tbl))
            else:
                joined = tbl
            joined = joined.drop(*[f"{base}_arg{i}"
                                   for i in range(len(proc.inputs))])
            joined = joined.drop(*[f"{base}_{nm}"
                                   for nm, _ in proc.inputs])

        h = records.header
        outs = []
        for out, alias in yields:
            if not standalone and h.var(alias) is not None:
                # TCK: a yielded name must not shadow a bound variable
                raise PlanError(
                    f"variable {alias!r} already bound",
                    code="VariableAlreadyBound")
            h = h.added(E.Var(alias), f"{base}_{out}")
            outs.append((alias, f"{base}_{out}"))
        keep = records.df.columns + [f"{base}_{out}" for out, _ in yields]
        joined = joined.select(*dict.fromkeys(keep))
        return Records(self.session, h, joined), outs

    def plan_match(self, records, clause: A.MatchClause,
                   id_only: frozenset = frozenset(),
                   query_refs=None) -> Records:
        if clause.optional:
            if records is None:
                # OPTIONAL MATCH as first clause: left-join the pattern onto
                # the unit table (one row, no columns) — yields the matches,
                # or a single all-null row when nothing matches.
                records = Records(self.session, Header({}),
                                  self.session.spark.range(1).select())
            return self.plan_optional(records, clause)

        # ---- shortestPath()/allShortestPaths() parts plan separately ---
        if any(p.shortest is not None for p in clause.patterns):
            from .shortest import edge_predicate_of, plan_shortest_path
            normal = tuple(p for p in clause.patterns if p.shortest is None)
            if normal:
                records = self.plan_match(
                    records, dataclasses.replace(
                        clause, patterns=normal, where=None),
                    id_only, query_refs)
            # Partition the WHERE (Neo4j shortest-path predicate semantics):
            # all()/none() per-relationship predicates over a shortest
            # path's relationships push INTO the BFS edge set, so the BFS
            # finds the shortest path SATISFYING them; any other reference
            # to the path / its rel list cannot be expressed by
            # post-filtering (that would silently drop rows where the
            # unconstrained shortest path fails) and raises.
            conj = (E.split_conjunctions(clause.where)
                    if clause.where is not None else [])
            for p in clause.patterns:
                if p.shortest is None:
                    continue
                named = self._name_pattern(
                    dataclasses.replace(p, shortest=None))
                pv = named.path_var
                rels = list(named.rels)
                rv = (rels[0].var if rels and rels[0].var
                      and not rels[0].var.startswith("_a") else None)
                pushed, rest = [], []
                for c in conj:
                    ep = edge_predicate_of(self, c, pv, rv)
                    if ep is not None:
                        pushed.append(ep)
                        continue
                    touched = {v.name for v in E.collect_vars(c)}
                    if (pv is not None and pv in touched) \
                            or (rv is not None and rv in touched):
                        raise PlanError(
                            "only all()/none() predicates over the "
                            "relationships of a shortestPath() pattern "
                            "can constrain the path search; other "
                            "path predicates are not supported",
                            code="UnsupportedShortestPathPredicate")
                    rest.append(c)
                conj = rest
                rel_pred = None
                for ep in pushed:
                    rel_pred = ep if rel_pred is None \
                        else E.BinOp("AND", rel_pred, ep)
                records = plan_shortest_path(self, records, p,
                                             rel_pred=rel_pred)
            if conj:
                records = self.apply_predicates(
                    records, [resolve_vars(c, records.header)
                              for c in conj])
            return records

        # ---- gather pattern info -------------------------------------
        bound = {v.name for v in records.header.vars()} if records is not None else set()
        node_labels: dict[str, set] = {}
        rels = []       # (src_name, RelPattern(with var), dst_name)
        conjuncts: list = []
        named_parts = []
        for part in clause.patterns:
            named = self._name_pattern(part)
            if named.path_var and named.path_var in bound:
                # TCK MiscellaneousErrorAcceptance: a named-path variable
                # cannot be re-bound by a later MATCH
                raise PlanError(f"path variable {named.path_var!r} already "
                                "bound", code="VariableAlreadyBound")
            for np in named.nodes:
                node_labels.setdefault(np.var, set()).update(np.labels)
                if np.label_expr is not None:
                    # GQL label expression (:A|B, :!C, ...): unpruned scan
                    # + a HasLabel predicate over the union scan's flags
                    conjuncts.append(
                        _label_tree_pred(np.label_expr, np.var))
                if np.where is not None:
                    # inline WHERE (Cypher 5): one more pattern conjunct
                    conjuncts.extend(E.split_conjunctions(np.where))
                for k, v in np.props:
                    conjuncts.append(E.BinOp("=", E.Property(E.NodeVar(np.var), k), v))
            elems = list(named.elements)
            for i in range(1, len(elems), 2):
                rp = elems[i]
                if not rp.var_length and rp.var in bound \
                        and records is not None \
                        and isinstance(records.header.var(rp.var),
                                       E.ListRelVar):
                    # TCK MiscellaneousErrorAcceptance: a var-length
                    # relationship LIST cannot re-match as a single
                    # relationship
                    raise PlanError(
                        f"variable {rp.var!r} is a variable-length "
                        "relationship list and cannot be used as a single "
                        "relationship", code="VariableTypeConflict")
                if not rp.var_length and rp.var in bound \
                        and records is not None \
                        and isinstance(records.header.var(rp.var), E.RelVar):
                    # a relationship variable bound by an earlier clause
                    # re-matches by IDENTITY (openCypher bound-rel
                    # semantics): scan it under a fresh name and join back
                    # on rel id — endpoint joins alone would be wrong for
                    # parallel edges, and a standalone component would
                    # otherwise cross-join unconstrained
                    fresh = self.fresh_name()
                    conjuncts.append(E.BinOp("=", E.RelVar(fresh),
                                             E.RelVar(rp.var)))
                    rp = dataclasses.replace(rp, var=fresh)
                    elems[i] = rp
                rels.append((elems[i - 1].var, rp, elems[i + 1].var))
                if rp.where is not None:
                    if rp.var_length:
                        raise PlanError(
                            "inline WHERE on a variable-length "
                            "relationship is not supported",
                            code="InvalidRelationshipWhere")
                    conjuncts.extend(E.split_conjunctions(rp.where))
                for k, v in rp.props:
                    if not rp.var_length:
                        conjuncts.append(
                            E.BinOp("=", E.Property(E.RelVar(rp.var), k), v))
            named_parts.append(A.PatternPart(tuple(elems), named.path_var))

        # Var-length rels inside a named path must retain per-hop node ids.
        self._path_rel_vars = {
            el.var for part in named_parts if part.path_var is not None
            for el in part.elements[1::2] if el.var_length}

        # ---- pattern variable validation (TCK Semantic/Misc errors) ----
        seen_rel_vars: set = set()
        for _, rp, _ in rels:
            rv = rp.var
            if rv is None or rv.startswith("_a"):
                continue
            if rv in seen_rel_vars:
                raise PlanError(f"relationship variable {rv!r} bound more "
                                "than once in the same pattern",
                                code="RelationshipUniquenessViolation")
            seen_rel_vars.add(rv)
            if rv in node_labels:
                raise PlanError(f"variable {rv!r} used as both node and "
                                "relationship in one pattern",
                                code="VariableTypeConflict")
        if records is not None:
            for n in node_labels:
                v = records.header.var(n)
                if v is not None and not isinstance(v, E.NodeVar):
                    raise PlanError(f"variable {n!r} is already bound to a "
                                    "non-node value and cannot be a node "
                                    "pattern", code="VariableTypeConflict")
            for rv in seen_rel_vars:
                v = records.header.var(rv)
                if v is not None and \
                        not isinstance(v, (E.RelVar, E.ListRelVar)):
                    raise PlanError(code="VariableTypeConflict", message=
                                    f"variable {rv!r} is already bound to "
                                    "a non-relationship value")

        # Label constraints on already-bound variables cannot prune the scan
        # (the var is not rescanned) — re-apply them as HasLabel predicates,
        # like the reference does for bound entities.
        where_conjuncts = []
        for n, lbls in node_labels.items():
            if n in bound and lbls:
                for lbl in sorted(lbls):
                    where_conjuncts.append(E.HasLabel(E.NodeVar(n), lbl))

        # pushLabelsIntoScans (OkapiLateRewriting.scala:44): WHERE n:L on a
        # var scanned in this clause becomes a scan constraint.
        if clause.where is not None:
            for c in E.split_conjunctions(clause.where):
                if isinstance(c, E.HasLabel) and isinstance(c.node, E.Var) and \
                        c.node.name in node_labels and c.node.name not in bound:
                    node_labels[c.node.name].add(c.label)
                else:
                    where_conjuncts.append(c)

        # ---- scan elision ---------------------------------------------
        # A node var needs NO scan join when nothing but its id is ever
        # read: unlabeled, no property/predicate reference, and either
        # anonymous (can never be referenced later) or declared id-only by
        # the caller (EXISTS / OPTIONAL-MATCH subplans join on ids and drop
        # every other rhs column).  The relationship endpoint column IS the
        # node id (element tables are FK-consistent, like the reference's
        # ScanGraph validation), so the scan join is pure overhead — at
        # sf0.1 it unions every node table just to re-derive known ids.
        referenced = set()

        def _collect_refs(e):
            if isinstance(e, E.Var):
                referenced.add(e.name)
            if isinstance(e, E.Expr):
                for ch in e.children():
                    _collect_refs(ch)
        for c in where_conjuncts + conjuncts:
            _collect_refs(c)
        elidable = {n for n, lbls in node_labels.items()
                    if not lbls and n not in bound and n not in referenced
                    and (n.startswith("_a") or n in id_only
                         or (query_refs is not None and n not in query_refs))}
        # Elements of a REFERENCED named path are observable through
        # nodes(p)/relationships(p) comprehensions (rewritten to direct
        # element reads) — even anonymous ones must keep their scans.
        for named in named_parts:
            if named.path_var and (query_refs is None
                                   or named.path_var in query_refs):
                elidable -= {el.var for el in named.elements}

        # ---- connected components (union-find over node vars) --------
        parent = {n: n for n in node_labels}

        def root(n):
            while parent[n] != n:
                parent[n] = parent[parent[n]]
                n = parent[n]
            return n

        def union(a, b):
            parent[root(a)] = root(b)

        for s, rp, d in rels:
            union(s, d)
        # bound vars glue their components to the driving records
        bound_in_pattern = [n for n in node_labels if n in bound]
        for a, b in zip(bound_in_pattern, bound_in_pattern[1:]):
            union(a, b)

        comps: dict[str, dict] = {}
        for n in node_labels:
            r = root(n)
            comps.setdefault(r, {"nodes": set(), "rels": []})["nodes"].add(n)
        for s, rp, d in rels:
            comps[root(s)]["rels"].append((s, rp, d))

        # ---- plan each component -------------------------------------
        current = records
        standalone = []
        clause_rel_vars = []   # (name, is_list, types)
        for comp in comps.values():
            touches_bound = bool(comp["nodes"] & bound)
            if touches_bound and current is not None:
                current = self._plan_component(current, comp, node_labels,
                                               bound, clause_rel_vars, elidable)
            else:
                standalone.append(
                    self._plan_component(None, comp, node_labels, set(),
                                         clause_rel_vars, elidable))
        for r in standalone:
            if current is None:
                current = r
            else:
                # cross join; equality predicates in WHERE become real joins
                # via Catalyst's PushPredicateThroughJoin.
                current = join_records(current, r, [], how="cross")
        if current is None:
            raise PlanError("empty MATCH")

        # ---- relationship isomorphism within the clause --------------
        current = self._rel_uniqueness(current, clause_rel_vars)

        # ---- named paths ---------------------------------------------
        for named in named_parts:
            if named.path_var is not None:
                current = self._bind_path(current, named)

        # ---- WHERE ----------------------------------------------------
        current = self.apply_predicates(current, where_conjuncts + conjuncts)
        return current

    def _bind_path(self, records: Records, part: A.PatternPart) -> Records:
        """``p = (a)-[r*..]->(b)``: bind the path variable to a
        struct<nodes: array<id>, rels: array<id>> column — nodes(p) /
        relationships(p) / length(p) compile to field accesses.  Var-length
        segments splice in their hop-node and edge-id lists (the expand
        tracked them because the rel var is in ``_path_rel_vars``)."""
        # Element inventory for the comprehension rewrite: over a FIXED
        # path, [x IN nodes(p) | x.prop] can read the bound element vars
        # directly (no join needed) — see _rewrite_path_lambdas.
        nvars = [el.var for i, el in enumerate(part.elements) if i % 2 == 0]
        rvars = [el.var for i, el in enumerate(part.elements) if i % 2 == 1]
        varlen = any(el.var_length for i, el in enumerate(part.elements)
                     if i % 2 == 1)
        self._paths[part.path_var] = (nvars, rvars, varlen)
        h = records.header
        node_pieces, rel_pieces = [], []
        for i, el in enumerate(part.elements):
            if i % 2 == 0:
                if i > 0 and part.elements[i - 1].var_length:
                    continue  # covered by the var-length segment's tail
                v = h.var(el.var)
                if v is None:
                    raise PlanError(f"path element {el.var!r} not bound")
                node_pieces.append(F.array(F.col(h.col(v))))
            elif el.var_length:
                lst = h.get(E.ListRelVar(el.var))
                hops = h.var(f"__vlnodes_{el.var}")
                if lst is None or hops is None:
                    raise PlanError("named path over a var-length pattern "
                                    "lost its hop tracking (planner bug)")
                rel_pieces.append(F.col(lst))
                # hop array = [src, n1, ..., nk]; src already contributed
                hc = F.col(h.col(hops))
                node_pieces.append(F.slice(
                    hc, 2, F.greatest(F.size(hc) - 1, F.lit(0))))
            else:
                v = h.var(el.var)
                if v is None:
                    raise PlanError(f"path element {el.var!r} not bound")
                rel_pieces.append(F.array(F.col(h.col(v))))
        from ..operators.header import _san
        pcol = f"__path_{_san(part.path_var)}"
        nodes = F.concat(*node_pieces) if node_pieces else \
            F.array().cast("array<bigint>")
        rels = F.concat(*rel_pieces) if rel_pieces else \
            F.array().cast("array<bigint>")
        col = F.struct(nodes.alias("nodes"), rels.alias("rels"))
        return Records(self.session,
                       h.added(E.Var(part.path_var), pcol),
                       records.df.withColumn(pcol, col))

    # ------------------------------------------------------------------
    # CALL { subquery } — openCypher subqueries, decorrelated
    # ------------------------------------------------------------------
    _MUTATING_CLAUSES = (A.CreateClause, A.MergeClause, A.SetClause,
                         A.RemoveClause, A.DeleteClause, A.ForeachClause)

    def plan_call_subquery(self, records, clause: A.CallSubquery):
        """``CALL { ... }``: classic decorrelation — a surrogate row key
        over the outer binding drives the subquery (injected into every
        inner projection so per-row aggregation/DISTINCT semantics hold),
        and a returning subquery joins back on that key.  An uncorrelated
        read-only subquery plans once and cross-joins (evaluating it per
        row would be pure waste — it cannot see outer variables).  Unit
        (write-only) subqueries keep the outer rows unchanged."""
        import dataclasses as _dc

        sub = clause.query
        if not sub.parts[0].clauses:
            raise PlanError("empty CALL subquery", code="InvalidSubquery")
        returning = isinstance(sub.parts[0].clauses[-1], A.ReturnClause)
        for part in sub.parts:
            if bool(isinstance(part.clauses[-1], A.ReturnClause)) \
                    != returning:
                raise PlanError(
                    "all UNION parts of a CALL subquery must agree on "
                    "returning rows", code="InvalidSubquery")
        mutating = any(isinstance(c, self._MUTATING_CLAUSES)
                       for part in sub.parts for c in part.clauses)
        first = sub.parts[0].clauses[0]
        correlated = records is not None and \
            (mutating or isinstance(first, A.WithClause))

        if not correlated:
            sp = Planner(self.session, self.graph, self.params)
            sub_rec, sub_outs = sp.plan(sub)
            self._adopt(sp)
            if not returning:
                return records if records is not None \
                    else Records(self.session, Header({}),
                                 self.session.spark.range(1).select())
            return self._expose_subquery(records, None, None,
                                         sub_rec, sub_outs)

        # ---- correlated: surrogate-key decorrelation -------------------
        key = f"__call_key_{self.fresh_name()}"
        imports: list[str] = []
        if isinstance(first, A.WithClause):
            if first.star:
                imports = [v.name for v in records.header.vars()
                           if not v.name.startswith("_")]
            else:
                for it in first.items:
                    if not isinstance(it.expr, E.Var) or \
                            (it.alias is not None
                             and it.alias != it.expr.name):
                        raise PlanError(
                            "the importing WITH of a CALL subquery may "
                            "only list outer variables",
                            code="ImportingWithSubqueryInvalid")
                    imports.append(it.expr.name)
        for part in sub.parts:
            for c in part.clauses:
                if isinstance(c, (A.WithClause, A.ReturnClause)) and \
                        (c.skip is not None or c.limit is not None):
                    raise PlanError(
                        "SKIP/LIMIT inside a correlated CALL subquery is "
                        "not supported", code="InvalidSubquery")

        outer_df = records.df.withColumn(
            key, F.monotonically_increasing_id()).localCheckpoint(eager=False)
        hdr = Header({}).added(E.Var(key), key)
        cols = [key]
        for name in imports:
            v = records.header.var(name)
            if v is None:
                raise PlanError(f"unbound variable {name!r} imported by "
                                "CALL subquery", code="UndefinedVariable")
            hdr = hdr.added(v, records.header.col(v))
            cols.append(records.header.col(v))
            for e in records.header.owned_by(v):
                hdr = hdr.added(e, records.header.col(e))
                cols.append(records.header.col(e))
        init = Records(self.session, hdr, outer_df.select(*_dedup(cols)))

        def inject(part):
            out = []
            for c in part.clauses:
                if isinstance(c, (A.WithClause, A.ReturnClause)):
                    out.append(_dc.replace(c, items=c.items + (
                        A.ProjectionItem(E.Var(key), key),)))
                else:
                    out.append(c)
            return A.SingleQuery(tuple(out))

        sub2 = A.Query(tuple(inject(p) for p in sub.parts), sub.union_alls)
        sp = Planner(self.session, self.graph, self.params)
        sub_rec, sub_outs = sp.plan(sub2, init)
        self._adopt(sp)
        if mutating:
            self._mutated = True
        if not returning:
            return records                  # unit subquery: rows unchanged
        sub_outs = [(n, c) for n, c in sub_outs if n != key]
        # an aggregation-only RETURN yields exactly one row per outer row
        # even over empty input (count(*) = 0) — the decorrelating join
        # must be LEFT with per-aggregate fills, or empty groups would
        # silently drop outer rows (the classic COUNT-bug)
        agg_only = all(
            part.clauses[-1].items
            and all(E.is_aggregation(it.expr)
                    for it in part.clauses[-1].items)
            and not part.clauses[-1].star
            for part in sub.parts)
        fills = {}
        if agg_only:
            for it in sub.parts[0].clauses[-1].items:
                name = it.alias
                root = it.expr
                fn = root.name if isinstance(root, E.FuncCall) else (
                    "count" if isinstance(root, E.CountStar) else None)
                if fn in ("count", "sum"):
                    fills[name] = F.lit(0)
                elif fn == "collect":
                    fills[name] = F.array()
        key_col = sub_rec.header.col(sub_rec.header.var(key))
        return self._expose_subquery(
            Records(self.session, records.header, outer_df), key,
            key_col, sub_rec, sub_outs,
            how="left" if agg_only else "inner", fills=fills)

    def _adopt(self, sp: "Planner"):
        """Thread a sub-planner's graph mutations back."""
        self.graph = sp.graph
        if getattr(sp, "_mutated", False):
            self._mutated = True

    def _expose_subquery(self, records, key, sub_key_col, sub_rec, sub_outs,
                         how="inner", fills=None):
        """Join subquery outputs onto the outer rows and bind them (typed
        vars keep their satellite columns so returned entities hydrate)."""
        pfx = f"__cs{self.fresh_name()}_"
        ren = {c: pfx + c for c in sub_rec.df.columns}
        sub_types = {pfx + f.name: f.dataType
                     for f in sub_rec.df.schema.fields}
        sub_df = sub_rec.df.select(
            *[F.col(c).alias(ren[c]) for c in sub_rec.df.columns])
        if records is None:
            out_df, hdr = sub_df, Header({})
        elif key is None:
            out_df, hdr = records.df.crossJoin(sub_df), records.header
        else:
            out_df = records.df.join(
                sub_df, F.col(key) == F.col(ren[sub_key_col]), how) \
                .drop(key, ren[sub_key_col])
            hdr = records.header
            if fills:
                by_col = {ren[c]: fills[n] for n, c in sub_outs
                          if n in fills}
                out_df = out_df.select(
                    *[F.coalesce(F.col(c),
                                 by_col[c].cast(sub_types[c])).alias(c)
                      if c in by_col else F.col(c)
                      for c in out_df.columns])
        for name, col in sub_outs:
            if records is not None and records.header.var(name) is not None:
                raise PlanError(
                    f"CALL subquery returns {name!r} which is already "
                    "bound in the outer scope", code="VariableAlreadyBound")
            tv = sub_rec.header.var(name)
            if tv is None:
                hdr = hdr.added(E.Var(name), ren[col])
                continue
            target = _typed_var(tv, name)
            hdr = hdr.added(target, ren[col])
            for e in sub_rec.header.owned_by(tv):
                if e == tv:
                    continue
                hdr = hdr.added(_retarget(e, tv, target),
                                ren[sub_rec.header.col(e)])
        return Records(self.session, hdr, out_df)

    def _entity_shape_of(self, e, header):
        """Static entity shape of a projected expression, so DELETE can
        reach entities inside container literals carried through WITH.
        Shapes: ("node",)/("rel",)/("nodelist",)/("rellist",)/("path",),
        ("list", [shape|None, ...]), ("map", {key: shape}); None = no
        entity content.  A columnar engine knows this at plan time — the
        materialized column stores only ids, the shape restores the kind."""
        if isinstance(e, E.ListNodeVar):
            return ("nodelist",)
        if isinstance(e, E.ListRelVar):
            return ("rellist",)
        if isinstance(e, E.NodeVar):
            return ("node",)
        if isinstance(e, E.RelVar):
            return ("rel",)
        if isinstance(e, E.Var):
            if e.name in self._paths:
                return ("path",)
            return self._entity_shapes.get(e.name)
        if isinstance(e, E.ListLit):
            shapes = [self._entity_shape_of(x, header) for x in e.items]
            return ("list", shapes) if any(shapes) else None
        if isinstance(e, E.MapLit):
            m = {k: self._entity_shape_of(v, header) for k, v in e.items}
            return ("map", m) if any(m.values()) else None
        if isinstance(e, E.FuncCall) and e.name == "collect" \
                and len(e.args) == 1:
            inner = self._entity_shape_of(e.args[0], header)
            if inner == ("node",):
                return ("nodelist",)
            if inner == ("rel",):
                return ("rellist",)
        if isinstance(e, E.FuncCall) \
                and e.name in ("nodes", "relationships") \
                and len(e.args) == 1 and isinstance(e.args[0], E.Var) \
                and e.args[0].name in self._paths:
            return ("nodelist",) if e.name == "nodes" else ("rellist",)
        return None

    def _check_deleted_access(self, e):
        """Raise EntityNotFound when a projection reads the labels or
        properties of an entity DELETEd earlier in this statement
        (ReturnAcceptance2).  ``type(r)`` of a deleted relationship stays
        readable — it lives in the binding snapshot, matching openCypher's
        "Do not fail when returning type of deleted relationships"."""
        from ..errors import EntityNotFoundError
        bad = None
        if isinstance(e, E.Property) and isinstance(e.owner, E.Var) \
                and e.owner.name in self._deleted_vars:
            bad = e.owner.name
        elif isinstance(e, E.FuncCall) \
                and e.name in ("labels", "properties", "keys") \
                and len(e.args) == 1 and isinstance(e.args[0], E.Var) \
                and e.args[0].name in self._deleted_vars:
            bad = e.args[0].name
        if bad is not None:
            raise EntityNotFoundError(
                f"cannot access the properties or labels of {bad!r}: it "
                "was deleted in this statement")
        for c in e.children():
            self._check_deleted_access(c)

    def _check_primitive_property(self, e, records):
        """TCK "Failing when performing property access on a non-map" /
        "Fail when using property access on primitive type": a PROJECTED
        property access whose owner is statically a primitive
        (number/string/boolean) is a type error, raised at plan time (the
        TCK accepts "at any time").  Restricted to projections on purpose:
        WHERE keeps the null-not-error behavior that the published
        "Do not fail ... if the OR'd predicate evaluates to true"
        scenario requires — a columnar engine cannot honor both in one
        context, but the contexts differ (a projection evaluates the
        access unconditionally)."""
        from ..operators.columns import _type_class, spark_dtype
        if isinstance(e, E.Property) and not isinstance(
                e.owner, (E.NodeVar, E.RelVar, E.StartNode, E.EndNode)):
            dt = spark_dtype(e.owner, self.ctx(records))
            if dt is not None and _type_class(dt) in ("num", "str", "bool"):
                raise PlanError(
                    f"property access on a value of type "
                    f"{dt.simpleString()}", code="InvalidPropertyAccess")
        for c in e.children():
            self._check_primitive_property(c, records)

    # -- comprehensions over fixed-path nodes()/relationships() ---------
    def _path_elements_of(self, list_expr):
        """([element vars], kind) when ``list_expr`` is nodes(p) /
        relationships(p) over a FIXED named path, else None."""
        if not (isinstance(list_expr, E.FuncCall)
                and list_expr.name in ("nodes", "relationships")
                and len(list_expr.args) == 1
                and isinstance(list_expr.args[0], E.Var)):
            return None
        entry = self._paths.get(list_expr.args[0].name)
        if entry is None or entry[2]:   # unknown path or var-length
            return None
        names = entry[0] if list_expr.name == "nodes" else entry[1]
        mk = E.NodeVar if list_expr.name == "nodes" else E.RelVar
        return [mk(n) for n in names]

    def _rewrite_path_lambdas(self, e):
        """Rewrite comprehensions/quantifiers over nodes(p)/relationships(p)
        of a fixed-length path into per-element expressions, so property
        access on the lambda variable reads the already-bound element
        columns (no join).  The reference gets this through its boxed
        value runtime; a columnar engine unrolls it at plan time.
        Var-length paths materialize through a posexplode + entity-scan
        join instead (_materialize_rel_list_lambdas)."""
        e = _map_subexprs(e, self._rewrite_path_lambdas)   # bottom-up
        if isinstance(e, E.ListComprehension):
            elems = self._path_elements_of(e.list_expr)
            if elems is None:
                return e
            if e.where is None:
                body = e.projection if e.projection is not None \
                    else E.LocalVar(e.var)
                return E.ListLit(tuple(
                    _subst_local(body, e.var, ev) for ev in elems))
            out = None
            for ev in elems:
                body = e.projection if e.projection is not None \
                    else E.LocalVar(e.var)
                body_lit = E.ListLit((_subst_local(body, e.var, ev),))
                piece = E.CaseExpr(
                    test=None,
                    alternatives=((_subst_local(e.where, e.var, ev),
                                   body_lit),),
                    # typed empty list: [body][0..0] — a bare [] is VOID
                    # and fails array concat type resolution
                    default=E.ListSlice(body_lit, E.Lit(0), E.Lit(0)))
                out = piece if out is None else E.BinOp("+", out, piece)
            return out
        if isinstance(e, E.ListPredicate) and e.kind in ("any", "all", "none"):
            elems = self._path_elements_of(e.list_expr)
            if elems is None:
                return e
            preds = [_subst_local(e.where, e.var, ev) for ev in elems]
            folded = preds[0]
            op = "AND" if e.kind == "all" else "OR"
            for p in preds[1:]:
                folded = E.BinOp(op, folded, p)
            return E.Not(folded) if e.kind == "none" else folded
        if isinstance(e, E.Subscript):
            # nodes(p)[0] / relationships(p)[-1] over a FIXED path is the
            # statically-known element var — direct element reads, so
            # nodes(p)[0].prop works without boxed entity values.  The
            # index may be an auto-extracted $__lit parameter; planning
            # runs per execution (only the AST skeleton is cached), so
            # resolving it here is safe.
            elems = self._path_elements_of(e.owner)
            if elems is not None:
                def static_ix(ix):
                    if isinstance(ix, E.Neg):
                        inner = static_ix(ix.child)
                        return -inner if isinstance(inner, int) else None
                    if isinstance(ix, E.Lit):
                        v = ix.value
                    elif isinstance(ix, E.Param):
                        v = self.params.get(ix.name)
                    else:
                        return None
                    return v if isinstance(v, int) \
                        and not isinstance(v, bool) else None

                i = static_ix(e.index)
                if i is not None:
                    if -len(elems) <= i < len(elems):
                        return elems[i]
                    return E.Lit(None)
        return e

    def _name_pattern(self, part: A.PatternPart) -> A.PatternPart:
        """Give every anonymous node/rel a fresh variable name."""
        elems = []
        for i, el in enumerate(part.elements):
            if isinstance(el, A.NodePattern):
                elems.append(el if el.var else dataclasses.replace(
                    el, var=self.fresh_name()))
            else:
                elems.append(el if el.var else dataclasses.replace(
                    el, var=self.fresh_name()))
        return A.PatternPart(tuple(elems), part.path_var)

    def _est_node_count(self, labels) -> int | None:
        """Estimated row count of a label-pruned node scan from
        ``graph.stats`` hints; None when any matching combo is unknown."""
        combos = self.graph.schema.combos_with(frozenset(labels))
        if not combos:
            return 0
        total = 0
        for c in combos:
            n = self.graph.stats.get(c)
            if n is None:
                return None
            total += n
        return total

    def _est_rel_count(self, rp) -> int | None:
        """Estimated row count of a rel scan over ``rp.types`` (all types
        when untyped); None when any table is unknown."""
        types = rp.types or tuple(self.graph.rel_tables)
        total = 0
        for t in types:
            if t not in self.graph.rel_tables:
                continue
            n = self.graph.stats.get(t)
            if n is None:
                return None
            total += n
        return total

    def _plan_component(self, current, comp, node_labels, bound,
                        clause_rel_vars, elidable=frozenset()) -> Records:
        nodes = comp["nodes"]
        pending = list(comp["rels"])
        solved: set = set(nodes & bound) if current is not None else set()

        if current is None:
            if pending:
                # prefer a non-elided node that participates in a relationship
                rel_nodes = {s for s, _, _ in pending} | {d for _, _, d in pending}
                in_rels = [n for n in nodes
                           if n in rel_nodes and n not in elidable]
                # starting at the SOURCE of a pattern-table-covered expand
                # lets the materialized-triplet rewrite fire
                pattern_sources = {
                    s for s, rp, d in pending
                    if not rp.var_length and rp.direction == "out"
                    and len(rp.types) == 1
                    and rp.types[0] in self.graph.pattern_tables
                    and frozenset(node_labels[d])
                    <= self.graph.pattern_tables[rp.types[0]][1]}
                if in_rels:
                    # Stats-driven start (round 8, VERDICT r7 #2; the
                    # reference chains greedily from a label-count pick —
                    # LogicalPlanner.scala:328-433): a KNOWN-small scan
                    # (graph.stats row-count hints, the same numbers the
                    # broadcast threshold uses) outranks the label-count
                    # heuristic — at cluster scale join order dominates
                    # everything else this planner decides.  Unknown
                    # cardinality ranks below any known one; with no stats
                    # the legacy key decides unchanged.
                    def start_key(n):
                        est = self._est_node_count(node_labels[n])
                        return (n in pattern_sources,
                                -est if est is not None else float("-inf"),
                                len(node_labels[n]), n)
                    start = max(in_rels, key=start_key)
                    self._debug_starts.append(start)
                else:
                    # every endpoint is id-only: start straight from a rel
                    # scan — `MATCH ()-[r:T]->() RETURN count(r)` touches no
                    # node table at all.
                    s0, rp0, d0 = next(
                        (r for r in pending if not r[1].var_length),
                        pending[0])
                    if not rp0.var_length:
                        pending.remove((s0, rp0, d0))
                        current = self._rel_scan_start(s0, rp0, d0,
                                                       clause_rel_vars)
                        solved = {s0, d0}
                        start = None
                    else:
                        start = max(in_rels or nodes,
                                    key=lambda n: (len(node_labels[n]), n))
            else:
                # start from the most constrained node (labels prune scans)
                start = max(nodes, key=lambda n: (len(node_labels[n]),
                                                  -len(self.graph.schema.combos_with(
                                                      node_labels[n])), n))
            if current is None:
                current = scan_nodes(self.session, self.graph, start,
                                     frozenset(node_labels[start]))
                solved = {start}

        while pending:
            # Among the rels connectable to the solved set, expand the one
            # with the smallest estimated rel-table cardinality first
            # (stats-driven fan-out ordering, round 8): cheap expands
            # shrink the intermediate result before the expensive ones
            # join against it.  Unknown estimates rank last; ties keep the
            # declaration order (index), so stat-less graphs plan exactly
            # as before.
            cands = [(i, r) for i, r in enumerate(pending)
                     if r[0] in solved or r[2] in solved]
            if not cands:
                raise PlanError("disconnected relationship inside component")

            def rel_key(item):
                i, (_s, rp, _d) = item
                est = self._est_rel_count(rp)
                return (0, est, i) if est is not None \
                    else (1, 0, i)
            i, (s, rp, d) = min(cands, key=rel_key)
            self._debug_rel_order.append(rp.var)
            current = self._plan_rel(current, s, rp, d, solved,
                                     node_labels, clause_rel_vars,
                                     elidable)
            solved.update((s, d))
            pending.pop(i)

        # isolated nodes in this component (single-node patterns)
        for n in sorted(nodes - solved):
            scan = scan_nodes(self.session, self.graph, n,
                              frozenset(node_labels[n]))
            current = join_records(current, scan, [], how="cross")
            solved.add(n)
        return current

    # -- single relationship hop ---------------------------------------
    def _rel_scan_start(self, s, rp: A.RelPattern, d, clause_rel_vars) -> Records:
        """Component start when every endpoint is id-only: the rel scan alone
        binds both node vars to its endpoint columns."""
        clause_rel_vars.append((rp.var, False, rp.types))
        rel = scan_rels(self.session, self.graph, rp.var, rp.types)
        rv = E.RelVar(rp.var)
        if rp.direction == "both":
            rel = _bidirectional(rel, rv)
        if rp.direction == "in":
            src_expr, dst_expr = E.EndNode(rv), E.StartNode(rv)
        else:
            src_expr, dst_expr = E.StartNode(rv), E.EndNode(rv)
        h = rel.header
        if s == d:   # self-loop pattern (a)-[r]->(a)
            df = rel.df.where(F.col(h.col(src_expr)) == F.col(h.col(dst_expr)))
            return Records(self.session,
                           h.added(E.NodeVar(s), h.col(src_expr)), df)
        h = h.added(E.NodeVar(s), h.col(src_expr))
        h = h.added(E.NodeVar(d), h.col(dst_expr))
        return rel.with_header(h)

    def _plan_rel(self, current, s, rp: A.RelPattern, d, solved,
                  node_labels, clause_rel_vars, elidable=frozenset()) -> Records:
        if rp.var_length:
            clause_rel_vars.append((rp.var, True, rp.types))
            return self._plan_var_length(current, s, rp, d, solved,
                                         node_labels, elidable)

        clause_rel_vars.append((rp.var, False, rp.types))
        rv = E.RelVar(rp.var)
        sv = E.NodeVar(s)
        dv = E.NodeVar(d)

        # Materialized-triplet rewrite (replaceScansWithRecognizedPatterns):
        # an outgoing typed expand whose destination labels are covered by a
        # registered pattern table becomes ONE join against the pre-joined
        # triplet — the rel⋈dst join disappears.
        if (rp.direction == "out" and len(rp.types) == 1
                and rp.types[0] in self.graph.pattern_tables
                and s in solved and d not in solved):
            _, dst_combo = self.graph.pattern_tables[rp.types[0]]
            # The destination must be EXPLICITLY labeled with a subset of the
            # triplet's dst labels: an unlabeled d matches every node, but the
            # pattern table only embeds rels whose target carries dst_combo —
            # rewriting would silently drop edges into other labels (and
            # stamp d with dst_combo's flags).  Mirrors the reference, which
            # only rewrites when the pattern embeds (LogicalOptimizer.scala:
            # 67-134).
            if node_labels[d] and frozenset(node_labels[d]) <= dst_combo:
                from ..operators.records import scan_pattern
                trip = scan_pattern(self.session, self.graph, rp.var,
                                    rp.types[0], d)
                return join_records(current, trip, [(sv, E.StartNode(rv))])

        rel = scan_rels(self.session, self.graph, rp.var, rp.types)
        if rp.direction == "both":
            rel = _bidirectional(rel, rv)

        # normalise to edge orientation source->target
        if rp.direction == "in":
            src_expr, dst_expr = E.EndNode(rv), E.StartNode(rv)
        else:
            src_expr, dst_expr = E.StartNode(rv), E.EndNode(rv)
        if s in solved and d in solved:
            # ExpandInto (RelationalPlanner.scala:167-189): single join on the
            # composite (source, target) key.
            return join_records(current, rel, [(sv, src_expr), (dv, dst_expr)])
        if s in solved:
            out = join_records(current, rel, [(sv, src_expr)])
            if d in elidable:
                return out.with_header(out.header.added(
                    dv, out.header.col(dst_expr)))
            dst_scan = scan_nodes(self.session, self.graph, d,
                                  frozenset(node_labels[d]))
            return join_records(out, dst_scan, [(dst_expr, dv)])
        # d solved, expand in reverse
        out = join_records(current, rel, [(dv, dst_expr)])
        if s in elidable:
            return out.with_header(out.header.added(
                sv, out.header.col(src_expr)))
        src_scan = scan_nodes(self.session, self.graph, s,
                              frozenset(node_labels[s]))
        return join_records(out, src_scan, [(src_expr, sv)])

    # -- var-length expand (SURVEY §2.3; VarLengthExpandPlanner.scala) --
    def _plan_var_length(self, current, s, rp: A.RelPattern, d, solved,
                         node_labels, elidable=frozenset()) -> Records:
        lo = rp.lo if rp.lo is not None else 1
        # Unbounded expands iterate to a FIXPOINT: per-path relationship
        # isomorphism bounds every path by |E| edges, so the frontier empties
        # in finitely many hops (each hop is checked with a cheap isEmpty on
        # the cached frontier).  We still refuse to run past a hard guard
        # instead of silently truncating (the reference TCK blacklists
        # unbounded-on-cyclic for the same reason).
        unbounded = rp.hi is None
        hi = _VLEN_FIXPOINT_CAP if unbounded else rp.hi
        if not unbounded and hi > 12:
            raise PlanError("var-length upper bound too large (cap is 12 hops)")
        flipped = False
        if s not in solved and d in solved:
            # plan from the bound side; flip orientation.  Traversal now runs
            # against pattern order, so the accumulated edge-id / hop-node
            # arrays must be reversed back in stage().
            flipped = True
            s, d = d, s
            rp = dataclasses.replace(rp, direction={
                "out": "in", "in": "out", "both": "both"}[rp.direction])
        if s not in solved:
            raise PlanError("var-length expand with no bound endpoint")

        rel = scan_rels(self.session, self.graph, rp.var, rp.types)
        rv = E.RelVar(rp.var)
        if rp.props:
            # Inline property map on a var-length pattern constrains EVERY
            # traversed relationship (VarLengthExpandPlanner applies the
            # rel predicate per step) — filter the edge scan once, before
            # the hop loop reuses it.
            rctx = ExprContext(rel.header, rel.df, self.params)
            cond = None
            for k, ve in rp.props:
                term = to_column(E.BinOp("=", E.Property(rv, k), ve), rctx)
                cond = term if cond is None else cond & term
            rel = rel.with_df(rel.df.where(cond))
        if rp.direction == "both":
            rel = _bidirectional(rel, rv)
            src_expr, dst_expr = E.StartNode(rv), E.EndNode(rv)
        elif rp.direction == "in":
            src_expr, dst_expr = E.EndNode(rv), E.StartNode(rv)
        else:
            src_expr, dst_expr = E.StartNode(rv), E.EndNode(rv)

        sv = E.NodeVar(s)
        dv = E.NodeVar(d)
        list_var = E.ListRelVar(rp.var)
        list_col = column_name(list_var)
        end_col = f"__vl_end_{rp.var}"

        sv_col = current.header.col(sv)
        frontier = current.df.withColumn(end_col, F.col(sv_col))
        edge_cols = []
        staged = []
        # Named paths over this expand need the per-hop node ids — only then
        # do hop columns accumulate in the frontier.
        track_nodes = rp.var in getattr(self, "_path_rel_vars", ())
        nodes_col = f"__vlnodes_{rp.var}"
        hop_node_cols: list = []

        def stage(fr_df, k):
            """Project a per-length frontier to the common shape
            (input columns + end id + edge-id list [+ hop-node list])."""
            ids = [F.col(c) for c in edge_cols[:k]]
            arr = F.array(*ids) if ids else F.array().cast("array<bigint>")
            if flipped:
                arr = F.reverse(arr)
            cols = [
                *[c for c in current.df.columns],
                F.col(end_col),
                arr.alias(list_col),
            ]
            if track_nodes:
                narr = F.array(F.col(sv_col),
                               *[F.col(c) for c in hop_node_cols[:k]])
                if flipped:
                    # traversal order [bound_dst, h1, .., hk=src] -> pattern
                    # order [src, .., bound_dst]
                    narr = F.reverse(narr)
                cols.append(narr.alias(nodes_col))
            return fr_df.select(*cols)

        if lo == 0:
            staged.append(stage(frontier, 0))

        rel_src = rel.header.col(src_expr)
        rel_dst = rel.header.col(dst_expr)
        rel_id = rel.header.col(rv)
        # The hop loop only reads (id, src, dst) — prune BEFORE reusing it
        # so the reused edge table is 3 columns wide, not every rel property
        # (the reference's InsertCachingOperators heuristic,
        # RelationalOptimizer.scala:41-92, on the pruned scan).
        slim = rel.df.select(F.col(rel_id).alias("__vl_e"),
                             F.col(rel_src).alias("__vl_s"),
                             F.col(rel_dst).alias("__vl_d"))
        # Reuse it only when the hop loop reads it 3+ times: at two reads
        # the materialization costs more than a second column-pruned
        # parquet scan (measured 2.8s vs 1.6s at sf0.1).  A bounded
        # expand's result reads the slim table, so it is a checkpoint, freed
        # by Spark's ContextCleaner once no plan reads it.  The unbounded
        # result reads only its hop checkpoints: the slim table serves the
        # loop's own jobs and is unpersisted before the expand returns.
        if unbounded:
            slim = slim.persist()
        elif hi > 2:
            slim, _ = materialize(slim)
        try:
            for k in range(1, hi + 1):
                step_sfx = f"__s{k}_{rp.var}"
                step_df = slim.select(
                    F.col("__vl_e").alias(f"e{step_sfx}"),
                    F.col("__vl_s").alias(f"src{step_sfx}"),
                    F.col("__vl_d").alias(f"dst{step_sfx}"),
                )
                joined = frontier.join(
                    step_df, F.col(end_col) == F.col(f"src{step_sfx}"),
                    "inner")
                # relationship isomorphism per step
                # (VarLengthExpandPlanner.scala:178-179)
                for prev in edge_cols:
                    joined = joined.where(F.col(f"e{step_sfx}") != F.col(prev))
                frontier = joined.drop(end_col, f"src{step_sfx}") \
                    .withColumnRenamed(f"dst{step_sfx}", end_col)
                edge_cols.append(f"e{step_sfx}")
                if track_nodes:
                    frontier = frontier.withColumn(f"pn{step_sfx}",
                                                   F.col(end_col))
                    hop_node_cols.append(f"pn{step_sfx}")
                if unbounded:
                    # Materialize each hop once so the fixpoint test
                    # doesn't recompute the whole join chain.  A checkpoint
                    # (not a persist): each hop's plan must TRUNCATE or the
                    # logical plan grows quadratically with depth and a
                    # ~20-hop frontier OOMs the DRIVER during planning (same
                    # lesson as functions/components.py's label-propagation
                    # loop).  Spark's ContextCleaner frees each checkpoint
                    # once no plan reads it any more.
                    frontier, n_frontier = materialize(frontier)
                    if n_frontier == 0:
                        if not staged:
                            staged.append(stage(frontier, k))
                        break
                    if k == hi:
                        raise PlanError(
                            f"unbounded var-length expand exceeded {hi} "
                            "hops without converging; give an explicit "
                            "upper bound")
                if k >= lo:
                    staged.append(stage(frontier, k))
        finally:
            if unbounded:
                slim.unpersist()

        # Union the per-length frontiers FIRST, then resolve the destination
        # once — one join for the whole expand instead of one per length
        # (cuts both shuffles and dst-scan reads at scale).
        uni = staged[0]
        for s_df in staged[1:]:
            uni = uni.unionByName(s_df)
        h_out = current.header.added(E.Var(end_col), end_col) \
            .added(list_var, list_col)
        if track_nodes:
            h_out = h_out.added(E.Var(nodes_col), nodes_col)
        out = Records(self.session, h_out, uni)
        if d in solved:
            # both endpoints were already bound: the expand must FILTER on
            # the existing destination binding, not rescan and rebind it
            # (a rebind silently dropped the constraint — paths ending
            # anywhere passed)
            dcol = current.header.col(dv)
            return out.with_df(out.df.where(F.col(end_col) == F.col(dcol)))
        if d in elidable:
            return out.with_header(out.header.added(dv, end_col))
        dst_scan = scan_nodes(self.session, self.graph, d,
                              frozenset(node_labels[d]))
        return join_records(out, dst_scan, [(E.Var(end_col), dv)])

    # -- CONSTRUCT (Cypher 10; ConstructGraphPlanner.scala:54-85) -------
    def plan_construct(self, records, clause: A.ConstructClause):
        """Materialise a pattern-constructed graph from the match table.

        Bound vars referenced in NEW/CLONE are cloned (dedup by id, label
        combos recovered from the label-flag columns); NEW elements get
        fresh NEGATIVE ids derived from a per-row monotonically_increasing_id
        seed — one per input row, disjoint from any source id (sources use
        non-negative ids), computed without shuffles (the reference's
        partitioned-id-assignment idea, ConstructGraphPlanner.scala:273-289).
        The match table is localCheckpoint-ed once before any table is
        derived so the ids are STABLE across the separate node-table and
        rel-table actions (task retries / AQE cannot re-deal rows).
        """
        from ..graph import PropertyGraph

        if records is None:
            records = Records(self.session, Header({}),
                              self.session.spark.range(1).select())
        header = records.header
        df = records.df
        ctx = ExprContext(header, df, self.params)

        node_slots: dict[str, dict] = {}
        rel_slots = []

        def reg_node(np: A.NodePattern) -> str:
            info = node_slots.setdefault(
                np.var, {"labels": set(), "props": {}, "base": None})
            info["labels"] |= set(np.labels)
            for k, v in np.props:
                info["props"][k] = v
            if getattr(np, "base", None):
                if info["base"] not in (None, np.base):
                    raise PlanError(
                        f"conflicting COPY OF bases for {np.var!r}")
                if header.var(np.base) is None:
                    raise PlanError(f"COPY OF unbound variable {np.base!r}")
                if np.var is not None and header.var(np.var) is not None:
                    raise PlanError(
                        f"COPY OF target {np.var!r} is already bound "
                        "(use CLONE to keep identity)")
                info["base"] = np.base
            return np.var

        for part in clause.news:
            named = self._name_pattern(part)
            for el in named.elements[0::2]:
                reg_node(el)
            elems = named.elements
            for i in range(1, len(elems), 2):
                rp = elems[i]
                if rp.var_length:
                    raise PlanError(code="InvalidRelationshipPattern",
                                    message="var-length patterns are not allowed in "
                                    "CONSTRUCT NEW")
                if rp.direction == "both":
                    raise PlanError("CONSTRUCT NEW relationships must be "
                                    "directed")
                if rp.direction == "in":
                    rel_slots.append((elems[i + 1].var, rp, elems[i - 1].var))
                else:
                    rel_slots.append((elems[i - 1].var, rp, elems[i + 1].var))
        for v in clause.clones:
            if header.var(v) is None:
                raise PlanError(f"CLONE of unbound variable {v!r}")
            node_slots.setdefault(v, {"labels": set(), "props": {}})

        # SET items (reference AddInto, ConstructGraphPlanner.scala:133-156):
        # labels extend the element's combo, property sets override carried
        # values.  Targets must be construct elements (CLONE/NEW vars) —
        # node slots or NEW relationship vars.
        rel_prop_sets: dict[str, dict] = {}
        for item in getattr(clause, "sets", ()):
            kind, var = item[0], item[1]
            if var in node_slots:
                if kind == "label":
                    node_slots[var]["labels"].add(item[2])
                else:
                    node_slots[var]["props"][item[2]] = item[3]
            elif any(rp.var == var for _, rp, _ in rel_slots):
                if kind == "label":
                    raise PlanError(
                        "SET :Label on a relationship is not allowed")
                rel_prop_sets.setdefault(var, {})[item[2]] = item[3]
            else:
                raise PlanError(
                    f"SET target {var!r} is not a CONSTRUCT element "
                    "(CLONE it first)")
        if rel_prop_sets:
            rel_slots = [
                (s, dataclasses.replace(
                    rp, props=tuple(
                        [(k, v) for k, v in rp.props
                         if k not in rel_prop_sets.get(rp.var, {})]
                        + sorted(rel_prop_sets.get(rp.var, {}).items())))
                 if rp.var in rel_prop_sets else rp, d)
                for s, rp, d in rel_slots]

        new_vars = [v for v in node_slots if header.var(v) is None]
        n_slots = len(new_vars) + len(rel_slots)

        # Pin the match table (and the per-row id seed) in ONE materialized
        # action before any node/rel table is derived.  Without this,
        # monotonically_increasing_id() is re-evaluated per downstream action
        # over a possibly re-shuffled input (task retries, AQE re-plans), so
        # node and rel tables could disagree on NEW ids → dangling edges.
        # localCheckpoint also stops the match pipeline being recomputed once
        # per derived table (+ once for the label-combo collect below).
        if node_slots or rel_slots:
            if n_slots:
                df = df.withColumn(
                    "__construct_mono", F.monotonically_increasing_id())
            df = df.localCheckpoint(eager=True)
            ctx = ExprContext(header, df, self.params)

        def new_id(slot: int):
            return (-(F.col("__construct_mono") * F.lit(max(n_slots, 1))
                      + F.lit(slot)) - 1).cast("long")

        new_id_cols = {v: new_id(i) for i, v in enumerate(new_vars)}

        # -- node tables -------------------------------------------------
        node_tables: dict = {}

        def add_node_table(combo, ndf):
            node_tables[combo] = ndf if combo not in node_tables else \
                node_tables[combo].unionByName(ndf, allowMissingColumns=True)

        from ..graph import _RESERVED_NODE, _RESERVED_REL, prop_phys

        for v, info in node_slots.items():
            hv = header.var(v)
            prop_cols = []
            for k, ve in info["props"].items():
                prop_cols.append(to_column(resolve_vars(ve, header), ctx)
                                 .alias(prop_phys(k, _RESERVED_NODE)))
            # COPY OF base: a NEW entity (fresh id per row) carrying the
            # base element's labels and properties, extended by explicit
            # ones (reference IRBuilder.scala:637-677 base-field schema:
            # every base label combo maps to combo + new labels).
            carrier = hv if hv is not None else (
                header.var(info.get("base")) if info.get("base") else None)
            if carrier is None:
                combo = frozenset(info["labels"])
                add_node_table(combo, df.select(
                    new_id_cols[v].alias("id"), *prop_cols))
                continue
            # clone/copy: carry the element's properties; recover label
            # combos from the flag columns (tiny distinct — at most
            # 2^labels rows).
            id_col = F.col(header.col(hv)) if hv is not None \
                else new_id_cols[v]
            carrier_id = F.col(header.col(carrier))
            for e in header.exprs():
                if isinstance(e, E.Property) and e.owner == carrier and \
                        e.key not in info["props"]:
                    prop_cols.append(F.col(header.col(e)).alias(
                        prop_phys(e.key, _RESERVED_NODE)))
            label_cols = sorted(
                (e.label, header.col(e)) for e in header.exprs()
                if isinstance(e, E.HasLabel) and e.node == carrier)
            base = df.where(carrier_id.isNotNull())
            if not label_cols:
                add_node_table(frozenset(info["labels"]), base.select(
                    id_col.alias("id"), *prop_cols).dropDuplicates(["id"]))
            else:
                flag_rows = base.select(
                    *[F.col(c).alias(f"_l{i}")
                      for i, (_, c) in enumerate(label_cols)]).distinct() \
                    .collect()
                for row in flag_rows:
                    combo = frozenset(
                        lbl for i, (lbl, _) in enumerate(label_cols)
                        if row[f"_l{i}"]) | frozenset(info["labels"])
                    cond = None
                    for i, (_, c) in enumerate(label_cols):
                        term = F.col(c) == F.lit(bool(row[f"_l{i}"]))
                        cond = term if cond is None else (cond & term)
                    add_node_table(combo, base.where(cond).select(
                        id_col.alias("id"), *prop_cols).dropDuplicates(["id"]))

        # -- relationship tables -----------------------------------------
        rel_tables: dict = {}

        def add_rel_table(rtype, rdf):
            rel_tables[rtype] = rdf if rtype not in rel_tables else \
                rel_tables[rtype].unionByName(rdf, allowMissingColumns=True)

        for j, (s, rp, d) in enumerate(rel_slots):
            base_rv = header.var(rp.base) if getattr(rp, "base", None) \
                else None
            if getattr(rp, "base", None) and base_rv is None:
                raise PlanError(f"COPY OF unbound variable {rp.base!r}")
            if base_rv is None and len(rp.types) != 1:
                raise PlanError("CONSTRUCT NEW relationships need exactly "
                                "one type (or COPY OF a bound one)")
            if len(rp.types) > 1:
                raise PlanError("CONSTRUCT NEW relationships need exactly "
                                "one type")

            def end_id(v):
                hv = header.var(v)
                if hv is not None:
                    return F.col(header.col(hv))
                return new_id_cols[v]

            over = {k for k, _ in rp.props}
            prop_cols = [to_column(resolve_vars(ve, header), ctx)
                         .alias(prop_phys(k, _RESERVED_REL))
                         for k, ve in rp.props]
            if base_rv is not None:
                # carry the base relationship's properties (explicit
                # overrides win) — reference: newPropertyKeys layered over
                # baseFieldSchema keys (IRBuilder.scala:653,669)
                for e in header.exprs():
                    if isinstance(e, E.Property) and e.owner == base_rv \
                            and e.key not in over:
                        prop_cols.append(F.col(header.col(e)).alias(
                            prop_phys(e.key, _RESERVED_REL)))
            type_cols = []
            if base_rv is not None and not rp.types:
                tc = header.get(TypeOf(base_rv))
                if tc is None:
                    raise PlanError(
                        f"COPY OF {rp.base!r}: its type column is not in "
                        "scope — give the NEW relationship an explicit type")
                type_cols = [F.col(tc).alias("__rtype")]
            rdf = df.select(
                new_id(len(new_vars) + j).alias("id"),
                end_id(s).alias("source"),
                end_id(d).alias("target"),
                *prop_cols,
                *type_cols,
            ).where(F.col("source").isNotNull() & F.col("target").isNotNull())
            if rp.types:
                add_rel_table(rp.types[0], rdf)
            else:
                # type inherited per row from the base relationship
                # (newTypes empty -> base types, IRBuilder.scala:677);
                # rel tables are keyed by type, so split on the tiny set
                # of distinct type values
                for row in rdf.select("__rtype").distinct().collect():
                    add_rel_table(row["__rtype"], rdf.where(
                        F.col("__rtype") == row["__rtype"]).drop("__rtype"))

        # ON graphs: the construct builds on top of them — their FULL
        # content carries into the result (reference IRBuilder.scala:288-298
        # folds the ON schemas into the construct schema).  Ids are kept
        # as-is: CLONEd matches of an ON graph coincide with the carried
        # rows and collapse in the dedup below; NEW ids are negative and
        # cannot collide with source ids.
        on_names = getattr(clause, "on", ())
        if on_names:
            on_graphs = [self.session.graph(gname) for gname in on_names]
            # Distinct id spaces can collide: two graph_from_create graphs
            # are both numbered from 0, so unioning ON graphs by raw id
            # would merge unrelated entities and rewire edges.  The
            # reference (okapi) retags ids per graph for CONSTRUCT ON; we
            # prefix like union_all/prefixed_graph.  The matched graph (if
            # present among ON, or contributing CLONEd ids) keeps tag 0 so
            # the replacement anti-join below still collapses clones onto
            # their originals; every OTHER distinct ON graph gets its own
            # high-bit tag.  NEW ids are negative and never collide with
            # any (shifted or not) source id.  Only retag when >= 2
            # distinct id spaces actually meet, so the common single
            # same-graph ON case keeps its ids verbatim.
            from ..operators.records import prefixed_graph
            bound_content = (
                any(header.var(v) is not None for v in node_slots)
                or any(header.var(s) is not None or header.var(d) is not None
                       for s, _, d in rel_slots))
            distinct: list = []
            for bg in on_graphs:
                if all(bg is not o for o in distinct):
                    distinct.append(bg)
            matched_in = any(bg is self.graph for bg in distinct)
            spaces = len(distinct) + (
                1 if (bound_content and not matched_in) else 0)
            if spaces > 1:
                tags: dict = {}
                next_tag = 1
                retagged = []
                for bg in on_graphs:
                    if bg is self.graph:
                        retagged.append(bg)
                        continue
                    if id(bg) not in tags:
                        tags[id(bg)] = next_tag
                        next_tag += 1
                    retagged.append(prefixed_graph(bg, tags[id(bg)], 2))
                on_graphs = retagged
            # constructed elements REPLACE their ON-graph originals: a
            # CLONE ... SET row (possibly in an extended label combo) must
            # win over the carried base row, so the base contribution is
            # anti-joined on the full constructed id set
            cons_ids = None
            for ndf in node_tables.values():
                ids = ndf.select("id")
                cons_ids = ids if cons_ids is None else cons_ids.unionAll(ids)
            if cons_ids is not None:
                cons_ids = cons_ids.dropDuplicates(["id"])
            for base_g in on_graphs:
                for combo, ndf in base_g.node_tables.items():
                    if cons_ids is not None:
                        ndf = ndf.join(cons_ids, "id", "left_anti")
                    add_node_table(combo, ndf)
                for rtype, rdf in base_g.rel_tables.items():
                    add_rel_table(rtype, rdf)
            rel_tables = {t: rdf.dropDuplicates(["id"])
                          for t, rdf in rel_tables.items()}

        # One element per id per combo: several cloned vars (a AND b of the
        # same pattern) can contribute the same entity.
        node_tables = {combo: ndf.dropDuplicates(["id"])
                       for combo, ndf in node_tables.items()}
        return PropertyGraph(node_tables, rel_tables,
                             name=f"constructed_{self.graph.name}")

    # -- OPTIONAL MATCH (planOptional — RelationalPlanner.scala:298-330)
    def plan_optional(self, records: Records, clause: A.MatchClause) -> Records:
        inner = self._subplanner()
        # Correlated predicates — inline property maps or WHERE conjuncts
        # referencing outer NON-pattern variables (`OPTIONAL MATCH
        # (v:V {n: nm})` after an UNWIND) — cannot be planned inside the
        # rhs subplan (the outer var is not in its scope); they move into
        # the LEFT JOIN condition, where failing them null-pads the row
        # instead of dropping it (OPTIONAL semantics).
        pat_vars = {el.var for part in clause.patterns
                    for el in part.elements if el.var}
        outer_free = {v.name for v in records.header.vars()} - pat_vars

        def is_corr(e):
            names: set = set()
            _expr_var_names(e, names)
            return bool(names & outer_free)

        corr: list = []
        new_parts = []
        for part in clause.patterns:
            els = list(part.elements)
            for i, el in enumerate(els):
                lift = [(k, v) for k, v in el.props if is_corr(v)]
                if not lift or getattr(el, "var_length", None):
                    continue      # var-length maps filter EVERY hop inside
                var = el.var or self.fresh_name()
                els[i] = dataclasses.replace(
                    el, var=var,
                    props=tuple((k, v) for k, v in el.props
                                if not is_corr(v)))
                for k, v in lift:
                    corr.append(E.BinOp("=", E.Property(E.Var(var), k), v))
            new_parts.append(dataclasses.replace(part, elements=tuple(els)))
        where = clause.where
        if where is not None:
            keep_where = None
            for c in E.split_conjunctions(where):
                if is_corr(c):
                    corr.append(c)
                else:
                    keep_where = c if keep_where is None \
                        else E.BinOp("AND", keep_where, c)
            where = keep_where
        clause = dataclasses.replace(clause, patterns=tuple(new_parts),
                                     where=where)
        # Shared vars are joined by id and their rhs copies dropped — the
        # rhs may bind them straight to rel endpoint columns (scan elision).
        rhs = inner.plan_match(None, dataclasses.replace(clause, optional=False),
                               id_only=self._shared_pattern_vars(records, clause))
        self._anon = inner._anon
        # Anonymous vars are clause-local: a name collision between two
        # subplans' fresh vars must never become a join key.
        shared = [v.name for v in records.header.vars()
                  if rhs.header.var(v.name) is not None
                  and not v.name.startswith("_a")]
        # No shared variables → cartesian left join (all combinations, or one
        # null-padded row when the rhs is empty).
        pairs = [(records.header.var(n), rhs.header.var(n)) for n in shared]
        extra = None
        if corr:
            params = self.params

            def extra_cond(merged, _corr=tuple(corr)):
                ctx = ExprContext(merged, records.df, params)
                col = None
                for c in _corr:
                    cc = to_column(resolve_vars(c, merged), ctx)
                    col = cc if col is None else (col & cc)
                return col
            extra = extra_cond
        return join_records(records, rhs, pairs, how="left",
                            extra_cond=extra)

    # -- predicates -----------------------------------------------------
    def apply_predicates(self, records: Records, conjuncts) -> Records:
        plain = []
        for c in conjuncts:
            c = resolve_vars(self._rewrite_path_lambdas(c), records.header)
            if isinstance(c, E.PatternPredicate):
                records = self._pattern_join(records, c,
                                             "left_anti" if c.negated else "left_semi")
            elif _contains_pattern(c):
                records, c = self._materialize_pattern_flags(records, c)
                plain.append(c)
            else:
                plain.append(c)
        if plain:
            resolved = []
            for c in plain:
                records = self._materialize_rel_list_lambdas(records, c)
                records, c = self._materialize_endpoint_props(records, c)
                resolved.append(c)
            plain = resolved
            ctx = self.ctx(records)
            cond = None
            for c in plain:
                col = to_column(c, ctx)
                cond = col if cond is None else (cond & col)
            records = records.with_df(records.df.where(cond))
        return records

    def _subplanner(self) -> "Planner":
        """Child planner whose fresh-name counter continues from (and is
        adopted back into) this one — anonymous names stay globally unique
        across sibling subplans."""
        inner = Planner(self.session, self.graph, self.params)
        inner._anon = self._anon + 100
        return inner

    @staticmethod
    def _shared_pattern_vars(records: Records, clause: A.MatchClause) -> frozenset:
        """Pattern vars already bound in ``records`` — an id-only rhs role."""
        pat = {el.var for part in clause.patterns
               for el in part.elements if el.var}
        return frozenset(v.name for v in records.header.vars()
                         if v.name in pat and not v.name.startswith("_a"))

    def _pattern_join(self, records: Records, pp: E.PatternPredicate,
                      how: str) -> Records:
        inner = self._subplanner()
        clause = A.MatchClause((pp.pattern,), pp.where, False)
        rhs = inner.plan_match(None, clause,
                               id_only=self._shared_pattern_vars(records, clause))
        self._anon = inner._anon
        shared = [v.name for v in records.header.vars()
                  if rhs.header.var(v.name) is not None
                  and not v.name.startswith("_a")]
        # No shared variables → the predicate holds iff the pattern matches
        # anywhere; semi/anti join on a constant-true condition handles it.
        pairs = [(records.header.var(n), rhs.header.var(n)) for n in shared]
        return join_records(records, rhs, pairs, how=how)

    def _materialize_pattern_flags(self, records: Records, expr):
        """Precompute nested pattern predicates as boolean flag columns
        (left join + IS NOT NULL marker — RelationalPlanner.scala:224-246)
        and pattern comprehensions as collected-list columns."""
        patterns: list[E.PatternPredicate] = []
        comps: list[E.PatternComprehension] = []

        def collect(e):
            if isinstance(e, E.PatternPredicate):
                pos = E.PatternPredicate(e.pattern, where=e.where)
                if pos not in patterns:
                    patterns.append(pos)
            if isinstance(e, E.PatternComprehension) and e not in comps:
                comps.append(e)
            for ch in e.children() if isinstance(e, E.Expr) else ():
                collect(ch)
        collect(expr)

        for pc in comps:
            records = self._materialize_comprehension(records, pc)

        for pos_pp in patterns:
            inner = self._subplanner()
            pclause = A.MatchClause((pos_pp.pattern,), pos_pp.where, False)
            rhs = inner.plan_match(
                None, pclause,
                id_only=self._shared_pattern_vars(records, pclause))
            self._anon = inner._anon
            shared = [v.name for v in records.header.vars()
                      if rhs.header.var(v.name) is not None
                      and not v.name.startswith("_a")]
            pairs = [(records.header.var(n), rhs.header.var(n)) for n in shared]
            marker = f"__pp_{self.fresh_name()}"
            rhs_cols = [rhs.header.col(r) for _, r in pairs]
            if rhs_cols:
                rdf = rhs.df.select(*rhs_cols).dropDuplicates() \
                    .withColumn(marker, F.lit(True))
            else:
                # No shared variables: flag is globally true iff any match.
                rdf = rhs.df.limit(1).select(F.lit(True).alias(marker))
            # The marker must ride through join_records as a header entry —
            # physical rhs columns with no header expr are dropped as orphans.
            rmap = {r: rhs.header.col(r) for _, r in pairs}
            rmap[E.Var(marker)] = marker
            rhs2 = Records(self.session, Header(rmap), rdf)
            joined = join_records(records, rhs2, pairs, how="left")
            flag = f"{marker}_flag"
            df = joined.df.withColumn(flag, F.col(marker).isNotNull()) \
                .drop(marker)
            h = Header({e: c for e, c in joined.header.mapping.items()
                        if c != marker})
            records = Records(self.session, h.added(pos_pp, flag), df)
        return records, expr

    def _materialize_comprehension(self, records: Records,
                                   pc: E.PatternComprehension) -> Records:
        """Plan a pattern comprehension as a grouped subquery: match the
        pattern, project per match, collect_list per anchor key, left-join
        back (missing anchor -> empty list).  One shuffle on the anchor ids;
        no correlated per-row subplans."""
        inner = self._subplanner()
        pclause = A.MatchClause((pc.pattern,), pc.where, False)
        rhs = inner.plan_match(
            None, pclause,
            id_only=self._shared_pattern_vars(records, pclause))
        self._anon = inner._anon
        shared = [v.name for v in records.header.vars()
                  if rhs.header.var(v.name) is not None
                  and not v.name.startswith("_a")]
        pairs = [(records.header.var(n), rhs.header.var(n)) for n in shared]
        rctx = ExprContext(rhs.header, rhs.df, self.params)
        pcol = to_column(resolve_vars(pc.projection, rhs.header), rctx)
        marker = f"__pc_{self.fresh_name()}"
        rhs_cols = [rhs.header.col(r) for _, r in pairs]
        if rhs_cols:
            rdf = rhs.df.groupBy(*[F.col(c) for c in rhs_cols]) \
                .agg(F.collect_list(pcol).alias(marker))
        else:
            # uncorrelated: one global list row (empty list on no matches)
            rdf = rhs.df.agg(F.collect_list(pcol).alias(marker))
        list_type = rdf.schema[marker].dataType.simpleString()
        rmap = {r: rhs.header.col(r) for _, r in pairs}
        rmap[E.Var(marker)] = marker
        rhs2 = Records(self.session, Header(rmap), rdf)
        joined = join_records(records, rhs2, pairs, how="left")
        outc = f"{marker}_list"
        df = joined.df.withColumn(
            outc, F.coalesce(F.col(marker),
                             F.array().cast(list_type))).drop(marker)
        h = Header({e: c for e, c in joined.header.mapping.items()
                    if c != marker})
        return Records(self.session, h.added(pc, outc), df)

    def _materialize_rel_list_lambdas(self, records: Records, expr):
        """``[r IN rs | body]`` where ``rs`` is a bound var-length
        relationship list (id array): posexplode the DISTINCT id lists,
        join the relationship scan, evaluate the body per element, and
        re-collect in position order — joined back on the id-list column
        itself (equal lists give equal results, so the list is a valid
        key).  The reference's boxed value runtime reads rel values
        directly (and blacklists much of this family); the columnar
        engine materializes the join once per distinct list."""
        comps = []

        def collect(e):
            if isinstance(e, (E.ListComprehension, E.ListPredicate)) \
                    and self._entity_list_kind(records, e.list_expr) \
                    and e not in comps:
                comps.append(e)
            for ch in e.children() if isinstance(e, E.Expr) else ():
                collect(ch)
        collect(expr)
        for comp in comps:
            records = self._materialize_one_rel_list(records, comp)
        return records

    def _materialize_endpoint_props(self, records: Records, expr):
        """``startNode(r).key`` / ``endNode(r).key``: the relationship row
        carries only the endpoint ID, so the property needs the node row —
        materialize it with ONE left join per endpoint against the
        column-pruned all-nodes scan (broadcast when node stats allow),
        then substitute a plain column reference.  The reference's boxed
        value runtime reads endpoint rows directly
        (SparkSQLExprMapper.scala:254-255 only maps the id); the columnar
        engine plans the join."""

        def endpoint(owner):
            if isinstance(owner, E.StartNode) and isinstance(owner.rel, E.Var):
                return ("start", owner.rel.name)
            if isinstance(owner, E.EndNode) and isinstance(owner.rel, E.Var):
                return ("end", owner.rel.name)
            if isinstance(owner, E.FuncCall) \
                    and owner.name in ("startnode", "endnode") \
                    and len(owner.args) == 1 \
                    and isinstance(owner.args[0], E.Var):
                return ("start" if owner.name == "startnode" else "end",
                        owner.args[0].name)
            return None

        def ep_expr(ep):
            rv = E.RelVar(ep[1])
            return E.StartNode(rv) if ep[0] == "start" else E.EndNode(rv)

        targets: dict = {}   # (kind, rel_name) -> set of property keys

        def collect(e):
            if isinstance(e, E.Property):
                ep = endpoint(e.owner)
                if ep is not None \
                        and records.header.get(ep_expr(ep)) is not None:
                    targets.setdefault(ep, set()).add(e.key)
            for ch in e.children() if isinstance(e, E.Expr) else ():
                collect(ch)
        collect(expr)
        if not targets:
            return records, expr

        df, h = records.df, records.header
        markers: dict = {}   # ep -> {key: marker column}
        for ep, keys in sorted(targets.items()):
            idcol = h.get(ep_expr(ep))
            scan = scan_nodes(self.session, self.graph,
                              f"_ep{self.fresh_name()}")
            svar = next(v for v in scan.header.vars())
            join_id = f"__ep_id_{self.fresh_name()}"
            sel = [F.col(scan.header.col(svar)).alias(join_id)]
            markers[ep] = {}
            for k in sorted(keys):
                marker = f"__ep_{self.fresh_name()}_{k}"
                markers[ep][k] = marker
                c = scan.header.get(E.Property(svar, k))
                sel.append((F.col(c) if c is not None
                            else F.lit(None)).alias(marker))
                h = h.added(E.Var(marker), marker)
            df = df.join(scan.df.select(*sel),
                         on=F.col(idcol) == F.col(join_id),
                         how="left").drop(join_id)

        def rewrite(e):
            if isinstance(e, E.Property):
                ep = endpoint(e.owner)
                if ep in markers and e.key in markers[ep]:
                    return E.Var(markers[ep][e.key])
            if not isinstance(e, E.Expr) or not dataclasses.is_dataclass(e):
                return e
            changes = {}
            for f in dataclasses.fields(e):
                v = getattr(e, f.name)
                if isinstance(v, E.Expr):
                    changes[f.name] = rewrite(v)
                elif isinstance(v, tuple):
                    changes[f.name] = tuple(
                        rewrite(x) if isinstance(x, E.Expr)
                        else (tuple(rewrite(y) if isinstance(y, E.Expr)
                                    else y for y in x)
                              if isinstance(x, tuple) else x)
                        for x in v)
            return dataclasses.replace(e, **changes) if changes else e

        return Records(self.session, h, df), rewrite(expr)

    def _entity_list_key(self, expr, name: str) -> "E.Var | None":
        """Typed header key when a projected ``expr`` evaluates to a list of
        ENTITY IDS — ``collect()`` over a node/rel variable, or
        ``nodes()/relationships()`` of a named path.  The typed key survives
        WITH carries (``_typed_var``) so ``to_maps`` can hydrate the ids
        back into full entities and UNWIND can re-join the entity scan."""
        if isinstance(expr, E.FuncCall) and expr.name == "collect" \
                and len(expr.args) == 1:
            a0 = expr.args[0]
            if isinstance(a0, E.NodeVar):
                return E.ListNodeVar(name)
            if isinstance(a0, E.RelVar) and not isinstance(a0, E.ListRelVar):
                return E.ListRelVar(name)
        if isinstance(expr, E.FuncCall) \
                and expr.name in ("nodes", "relationships") \
                and len(expr.args) == 1 and isinstance(expr.args[0], E.Var) \
                and expr.args[0].name in self._paths:
            return E.ListRelVar(name) if expr.name == "relationships" \
                else E.ListNodeVar(name)
        return None

    def _entity_list_kind(self, records: Records, le) -> str | None:
        """'rel'/'node' when ``le`` is an entity-id-list source a lambda
        can be materialized over: a bound var-length rel variable, or
        nodes(p)/relationships(p) of a VAR-LENGTH named path (fixed paths
        unroll in _rewrite_path_lambdas instead)."""
        if isinstance(le, E.Var) and not isinstance(le, E.NodeVar) \
                and records.header.get(E.ListRelVar(le.name)) is not None:
            return "rel"
        if isinstance(le, E.Var) \
                and records.header.get(E.ListNodeVar(le.name)) is not None:
            return "node"
        if isinstance(le, E.FuncCall) \
                and le.name in ("nodes", "relationships") \
                and len(le.args) == 1 and isinstance(le.args[0], E.Var):
            entry = self._paths.get(le.args[0].name)
            if entry is not None and entry[2] \
                    and records.header.var(le.args[0].name) is not None:
                return "rel" if le.name == "relationships" else "node"
        return None

    def _materialize_one_rel_list(self, records: Records, comp) -> Records:
        from ..operators.records import scan_nodes, scan_rels

        kind = self._entity_list_kind(records, comp.list_expr)
        le = comp.list_expr
        if isinstance(le, E.Var):
            lcol = records.header.get(E.ListRelVar(le.name)) \
                if kind == "rel" \
                else records.header.get(E.ListNodeVar(le.name))
        else:
            # nodes(p)/relationships(p): the id array is a path-struct field
            pv = records.header.var(le.args[0].name)
            field = "rels" if le.name == "relationships" else "nodes"
            tmp = f"__rlsrc_{self.fresh_name()}"
            records = Records(
                self.session, records.header.added(E.Var(tmp), tmp),
                records.df.withColumn(
                    tmp, F.col(records.header.col(pv)).getField(field)))
            lcol = tmp
        elem = f"__rle_{self.fresh_name()}"
        if kind == "rel":
            relrec = scan_rels(self.session, self.graph, elem)
            rid = relrec.header.col(E.RelVar(elem))
            evar = E.RelVar(elem)
        else:
            relrec = scan_nodes(self.session, self.graph, elem, frozenset())
            rid = relrec.header.col(E.NodeVar(elem))
            evar = E.NodeVar(elem)
        lk, pos, val, out = (f"__rl_{self.fresh_name()}" for _ in range(4))
        lists = records.df.select(F.col(lcol).alias(lk)).dropDuplicates()
        ex = lists.select(lk, F.posexplode(F.col(lk)).alias(pos, "__rid"))
        joined = ex.join(relrec.df, F.col("__rid") == F.col(rid), "inner")
        rctx = ExprContext(relrec.header, joined, self.params)
        is_pred = isinstance(comp, E.ListPredicate)
        if is_pred:
            if comp.kind not in ("any", "all", "none"):
                raise PlanError(
                    f"{comp.kind}() over a var-length entity list is not "
                    "supported (any/all/none are)")
            body = _subst_local(comp.where, comp.var, evar)
        else:
            body = comp.projection if comp.projection is not None \
                else E.LocalVar(comp.var)
            body = _subst_local(body, comp.var, evar)
            if comp.where is not None:
                joined = joined.where(to_column(
                    _subst_local(comp.where, comp.var, evar), rctx))
        pairs = joined.select(F.col(lk), F.col(pos),
                              to_column(body, rctx).alias(val))
        agg = pairs.groupBy(lk).agg(
            F.array_sort(F.collect_list(F.struct(pos, val))).alias("__pv"))
        res = agg.select(lk, F.transform(
            F.col("__pv"), lambda s: s.getField(val)).alias(out))
        elem_t = res.schema[out].dataType.simpleString()
        df = records.df.join(
            res, records.df[lcol].eqNullSafe(res[lk]), "left").drop(lk)
        # an empty list (or all members filtered) has no exploded rows:
        # the result is [] there, not null
        df = df.withColumn(out, F.when(
            F.col(lcol).isNotNull(),
            F.coalesce(F.col(out), F.array().cast(elem_t))))
        if is_pred:
            # collect_list drops null predicate values — Cypher 3VL needs
            # them (any([null]) is null), so nulls were collected as part
            # of the struct; fold with exists/forall (both 3VL-correct)
            arr = F.col(out)
            if comp.kind == "any":
                folded = F.exists(arr, lambda x: x)
            elif comp.kind == "all":
                folded = F.forall(arr, lambda x: x)
            else:
                folded = ~F.exists(arr, lambda x: x)
            df = df.withColumn(out, folded)
        return Records(self.session,
                       records.header.added(comp, out), df)

    def _rel_uniqueness(self, records: Records, rel_vars) -> Records:
        """Cypher edge-uniqueness within one MATCH: pairwise distinct rels
        (cheap non-shuffling filters; skipped when type sets are provably
        disjoint)."""
        df = records.df
        h = records.header
        for i in range(len(rel_vars)):
            for j in range(i + 1, len(rel_vars)):
                n1, l1, t1 = rel_vars[i]
                n2, l2, t2 = rel_vars[j]
                if t1 and t2 and not (set(t1) & set(t2)):
                    continue
                c1 = h.get(E.ListRelVar(n1)) if l1 else h.get(E.RelVar(n1))
                c2 = h.get(E.ListRelVar(n2)) if l2 else h.get(E.RelVar(n2))
                if c1 is None or c2 is None:
                    continue
                if not l1 and not l2:
                    df = df.where(F.col(c1) != F.col(c2))
                elif l1 and l2:
                    df = df.where(~F.arrays_overlap(F.col(c1), F.col(c2)))
                else:
                    lst, sc = (c1, c2) if l1 else (c2, c1)
                    df = df.where(~F.array_contains(F.col(lst), F.col(sc)))
        return records.with_df(df)

    # ------------------------------------------------------------------
    # UNWIND
    # ------------------------------------------------------------------
    def plan_unwind(self, records, clause: A.UnwindClause) -> Records:
        var = E.Var(clause.alias)
        col = column_name(var)
        if records is None:
            df = self.session.spark.range(1).select()
            records = Records(self.session, Header({}), df)
        ctx = self.ctx(records)
        resolved = resolve_vars(clause.expr, records.header)
        lst = to_column(resolved, ctx)
        # UNWIND over a list of ENTITY IDS (collect(n), var-length rels,
        # nodes(p)/relationships(p)): explode the ids, then re-join the
        # entity scan so the unwound variable is a full node/rel again.
        ekind = None
        if isinstance(resolved, E.Var):
            if records.header.get(E.ListNodeVar(resolved.name)) is not None:
                ekind = "node"
            elif records.header.get(E.ListRelVar(resolved.name)) is not None:
                ekind = "rel"
        elif isinstance(resolved, E.FuncCall) \
                and resolved.name in ("nodes", "relationships") \
                and len(resolved.args) == 1 \
                and isinstance(resolved.args[0], E.Var) \
                and resolved.args[0].name in self._paths:
            ekind = "rel" if resolved.name == "relationships" else "node"
        if ekind is not None and self.graph is not None:
            from ..operators.records import scan_nodes, scan_rels
            ids = f"__uw_{self.fresh_name()}"
            df = records.df.select("*", F.explode(lst).alias(ids))
            if ekind == "node":
                scan = scan_nodes(self.session, self.graph, clause.alias)
                idcol = scan.header.col(E.NodeVar(clause.alias))
            else:
                scan = scan_rels(self.session, self.graph, clause.alias)
                idcol = scan.header.col(E.RelVar(clause.alias))
            joined = df.join(scan.df, F.col(ids) == F.col(idcol),
                             "inner").drop(ids)
            return Records(self.session, records.header.merged(scan.header),
                           joined)
        # UNWIND null produces no rows (openCypher); Spark's explode rejects
        # the untyped NULL literal, so give it a concrete array type first.
        if isinstance(records.df.select(lst.alias("_u")).schema[0].dataType,
                      T.NullType):
            lst = lst.cast("array<string>")
        df = records.df.select("*", F.explode(lst).alias(col))
        return Records(self.session, records.header.added(var, col), df)

    # ------------------------------------------------------------------
    # WITH / RETURN  (ProjectBlock / AggregationBlock / OrderAndSliceBlock)
    # ------------------------------------------------------------------
    def plan_projection(self, records, clause):
        if records is None:
            df = self.session.spark.range(1).select()
            records = Records(self.session, Header({}), df)

        items = []
        if clause.star:
            for v in records.header.vars():
                if not v.name.startswith("_a") and not v.name.startswith("__"):
                    items.append(A.ProjectionItem(v, v.name))
            if not items and not clause.items:
                # TCK MiscellaneousErrorAcceptance: RETURN * with no
                # variables in scope is a plan-time error
                raise PlanError("RETURN * is not allowed when there are "
                                "no variables in scope",
                                code="NoVariablesInScope")
        for it in clause.items:
            if isinstance(clause, A.WithClause) and it.alias is None \
                    and not isinstance(it.expr, E.Var):
                # TCK MiscellaneousErrorAcceptance NoExpressionAlias:
                # WITH requires every non-variable expression to be aliased
                raise PlanError("expression in WITH must be aliased "
                                "(use AS)", code="NoExpressionAlias")
            items.append(A.ProjectionItem(
                resolve_vars(self._rewrite_path_lambdas(it.expr),
                             records.header), it.alias))
        if self._deleted_vars:
            for it in items:
                self._check_deleted_access(it.expr)
        for it in items:
            self._check_primitive_property(it.expr, records)
        seen_aliases = set()
        for it in items:
            if it.alias is None:        # auto-named from the expression
                continue
            if it.alias in seen_aliases:
                # TCK: multiple columns with the same name
                raise PlanError(f"multiple result columns named "
                                f"{it.alias!r}", code="ColumnNameConflict")
            seen_aliases.add(it.alias)

        # exists((a)-->(b)) in a projection compiles via the same flag-column
        # materialization as nested WHERE pattern predicates.
        if any(_contains_pattern(it.expr) for it in items):
            new_items = []
            for it in items:
                records, e = self._materialize_pattern_flags(records, it.expr)
                new_items.append(A.ProjectionItem(
                    resolve_vars(e, records.header), it.alias))
            items = new_items
        # [r IN rs | body] over a bound var-length relationship list
        # materializes via posexplode + rel-scan join (see
        # _materialize_rel_list_lambdas)
        new_items = []
        for it in items:
            records = self._materialize_rel_list_lambdas(records, it.expr)
            records, e = self._materialize_endpoint_props(records, it.expr)
            new_items.append(it if e is it.expr
                             else A.ProjectionItem(e, it.alias))
        items = new_items

        has_agg = any(E.is_aggregation(it.expr) for it in items)
        if has_agg:
            out, outputs = self._plan_aggregation(records, items)
            sort_header = out.header
        else:
            out, outputs = self._plan_project(records, items,
                                              distinct=clause.distinct)
            # ORDER BY may reference pre-projection variables (`RETURN
            # c.c_name ORDER BY c.c_acctbal`) — the source columns are still
            # physically present until the scope restriction below, so sort
            # with a merged header (reference: projectFreshSortExpressions).
            sort_header = out.header if clause.distinct else Header(
                {**records.header.mapping, **out.header.mapping})
        if has_agg and clause.distinct:
            out = out.with_df(out.df.dropDuplicates(
                [c for _, c in outputs]))

        # ORDER BY / SKIP / LIMIT on the projected scope
        out = self._order_and_slice(out, clause, items, outputs, sort_header)

        # WITH ... WHERE (filters the new scope)
        where = getattr(clause, "where", None)
        if where is not None:
            out = self.apply_predicates(
                out, [resolve_vars(c, out.header)
                      for c in E.split_conjunctions(where)])
        # For WITH: restrict scope strictly to projected items
        keep = _dedup([c for _, c in outputs] + [
            out.header.col(e) for nm, _ in outputs
            for e in out.header.owned_by(out.header.var(nm) or E.Var(nm))
            if out.header.var(nm) is not None])
        if keep != out.df.columns:
            out = out.with_df(out.df.selectExpr(*map(quote, keep)))
        keep_cols = set(out.df.columns)
        out = out.with_header(Header({e: c for e, c in out.header.mapping.items()
                                      if c in keep_cols}))
        # refresh the container-entity shape registry for the new scope
        # (computed against the OLD registry so chained WITHes carry over)
        shapes = {}
        for it in items:
            name = it.alias or (it.expr.name if isinstance(it.expr, E.Var)
                                else None)
            if name is None:
                continue
            s = self._entity_shape_of(it.expr, records.header)
            if s is not None:
                shapes[name] = s
        self._entity_shapes = shapes
        # Rescope deletion tracking: a projection defines a fresh scope, so
        # only names whose projected expression IS a previously-deleted
        # entity stay flagged.  A later MATCH re-binding the same name is a
        # new entity and must be readable again (openCypher: deletion
        # attaches to the binding, not the name).
        if self._deleted_vars:
            still_deleted = set()
            for it in items:
                if isinstance(it.expr, E.Var) \
                        and it.expr.name in self._deleted_vars:
                    still_deleted.add(it.alias or it.expr.name)
            self._deleted_vars = still_deleted
        return out, outputs

    def _plan_project(self, records: Records, items, distinct: bool):
        ctx = self.ctx(records)
        header = records.header
        taken = set(records.df.columns)
        new_cols = []       # projection items (SQL text or Column)
        outputs = []        # (friendly, phys)
        new_header = {}
        for it in items:
            name = it.alias or _text(it.expr)
            var = E.Var(name)
            if isinstance(it.expr, E.Var) and header.get(it.expr) is not None:
                # carry the element with all its sub-columns (alias semantics:
                # RecordHeader.withAlias :357-379)
                src = it.expr
                tgt = _typed_var(src, name)
                for e in header.owned_by(src):
                    new_header[_retarget(e, src, tgt)] = header.col(e)
                outputs.append((name, header.col(src)))
            else:
                phys = _fresh_phys(var, taken)
                new_cols.append(_projected(it.expr, ctx, phys))
                new_header[self._entity_list_key(it.expr, name) or var] = phys
                outputs.append((name, phys))

        df = records.df
        if new_cols:
            df = project(df, ["*", *new_cols])
        out = Records(self.session, Header(new_header), df)
        if distinct:
            # Distinct over ALL columns of the projected scope (an element
            # var's id functionally determines its sub-columns, so this is
            # distinct-by-value — reference: RelationalOperator.Distinct :325)
            cols = _dedup(list(new_header.values()))
            out = out.with_df(df.selectExpr(*map(quote, cols))
                              .dropDuplicates(cols))
        return out, outputs

    def _plan_aggregation(self, records: Records, items):
        ctx = self.ctx(records)
        header = records.header
        taken = set(records.df.columns)
        group_cols = []
        new_header = {}
        outputs = []
        pre_cols = []         # projection items (SQL text or Column)
        aggs = []
        agg_item_cols = {}
        pdisc_map: dict = {}   # percentileDisc call -> result column name
        post_items = []        # (rewritten expr, phys) projected after joins
        ordered = [None] * len(items)   # (name, phys), original item order
        group_expr_map = {}    # grouping item expr -> its group column
        # Pass 1 — grouping items (non-aggregate) define the keys first so
        # mixed aggregate items can reference them post-agg.
        for idx, it in enumerate(items):
            if E.is_aggregation(it.expr):
                continue
            name = it.alias or _text(it.expr)
            var = E.Var(name)
            if isinstance(it.expr, E.Var) and header.get(it.expr) is not None:
                src = it.expr
                tgt = _typed_var(src, name)
                for e in header.owned_by(src):
                    c = header.col(e)
                    new_header[_retarget(e, src, tgt)] = c
                    group_cols.append(c)
                ordered[idx] = (name, header.col(src))
                group_expr_map[src] = header.col(src)
            else:
                phys = _fresh_phys(var, taken)
                pre_cols.append(_projected(it.expr, ctx, phys))
                group_cols.append(phys)
                new_header[self._entity_list_key(it.expr, name) or var] = phys
                ordered[idx] = (name, phys)
                group_expr_map[it.expr] = phys
        # Pass 2 — aggregate items.  A mixed expression (aggregates nested
        # inside maps/arithmetic, or percentileDisc anywhere) is rewritten:
        # each aggregator subtree becomes a placeholder aggregate column,
        # each subexpression that equals a grouping item resolves to its
        # group column, and the remainder is projected after the groupBy
        # (TCK AggregationAcceptance "Handle subexpression in aggregation
        # also occurring as standalone expression with nested aggregation
        # in a literal map").
        for idx, it in enumerate(items):
            if not E.is_aggregation(it.expr):
                continue
            _check_no_agg_in_lambda(it.expr)
            name = it.alias or _text(it.expr)
            var = E.Var(name)
            subs = _agg_subexprs(it.expr)
            has_pdisc = any(isinstance(a, E.FuncCall)
                            and a.name == "percentiledisc" for a in subs)
            if not has_pdisc and len(subs) == 1 and subs[0] == it.expr:
                # the item IS a single aggregate call: emit it directly
                phys = _fresh_phys(var, taken)
                aggs.append(to_column(it.expr, ctx.with_agg()).alias(phys))
                new_header[self._entity_list_key(it.expr, name) or var] = phys
                ordered[idx] = (name, phys)
                agg_item_cols[it.expr] = phys
                continue
            mapping = {}
            for sub in subs:
                if isinstance(sub, E.FuncCall) and \
                        sub.name == "percentiledisc":
                    if sub not in pdisc_map:
                        pdisc_map[sub] = _fresh_phys(
                            E.Var(f"__pdisc_{len(pdisc_map)}"), taken)
                    ph = pdisc_map[sub]
                else:
                    ph = _fresh_phys(E.Var(f"__agg_{len(aggs)}"), taken)
                    aggs.append(
                        to_column(sub, ctx.with_agg()).alias(ph))
                mapping[sub] = E.Var(ph)
            for gexpr, gphys in group_expr_map.items():
                mapping.setdefault(gexpr, E.Var(gphys))
            rewritten = _substitute(it.expr, mapping)
            if isinstance(rewritten, E.Var):
                phys = rewritten.name
            else:
                phys = _fresh_phys(var, taken)
                post_items.append((rewritten, phys))
            new_header[var] = phys
            ordered[idx] = (name, phys)
            agg_item_cols[it.expr] = phys
        outputs.extend(o for o in ordered if o is not None)

        df = records.df
        if pre_cols:
            df = project(df, ["*", *pre_cols])
        group_cols = _dedup(group_cols)
        if aggs or not pdisc_map:
            if group_cols:
                gdf = df.groupBy(*group_cols).agg(*aggs)
            else:
                gdf = df.agg(*aggs)
        elif group_cols:
            # only percentileDisc aggregates: the group keys come from a
            # plain distinct, the values from the rank-plan joins below
            gdf = df.selectExpr(*map(quote, group_cols)) \
                .dropDuplicates(group_cols)
        else:
            gdf = self.session.spark.range(1).select()
        for pd_expr, phys in pdisc_map.items():
            pd_df = self._percentile_disc_table(df, group_cols, pd_expr,
                                                phys, ctx)
            if group_cols:
                cond = None
                for c in group_cols:
                    term = gdf[c].eqNullSafe(pd_df[f"__pd_{c}"])
                    cond = term if cond is None else (cond & term)
                gdf = gdf.join(pd_df, cond, "left") \
                    .drop(*[f"__pd_{c}" for c in group_cols])
            else:
                gdf = gdf.join(pd_df, F.lit(True), "left")
        if post_items:
            post_ctx = ExprContext(
                Header({E.Var(c): c for c in gdf.columns}), gdf, self.params)
            gdf = gdf.select(
                "*", *[to_column(e, post_ctx).alias(ph)
                       for e, ph in post_items])
        return Records(self.session, Header(new_header), gdf), outputs

    def _percentile_disc_table(self, df, group_cols, pd_expr, phys, ctx):
        """Exact SQL-standard discrete percentile as a two-pass rank plan:
        rank rows within each group by value (row_number) alongside the
        group's non-null count, then keep the row whose rank equals
        ``max(ceil(p * n), 1)``.  One shuffle on the group keys with an
        external (spillable) sort — no per-group in-memory array, unlike
        collect_list (or the reference's group-buffering UDAF,
        PercentileUdafs.scala:41)."""
        from pyspark.sql import Window

        from ..operators.columns import const_number as _cn
        pv = _cn(pd_expr.args[1], ctx)
        if isinstance(pv, (int, float)) and not isinstance(pv, bool) \
                and not 0.0 <= pv <= 1.0:
            # TCK FunctionsAcceptance "percentileDisc() failing on bad
            # arguments": percentile must be in [0, 1]
            raise PlanError(f"percentile must be between 0.0 and 1.0, "
                            f"got {pv}", code="NumberOutOfRange")
        arg = to_column(pd_expr.args[0], ctx)
        p = to_column(pd_expr.args[1], ctx)
        base = df.select(*group_cols, arg.alias("__pd_v")) \
            .where(F.col("__pd_v").isNotNull())
        if group_cols:
            w = Window.partitionBy(*group_cols)
            ranked = base.select(
                *group_cols, "__pd_v",
                F.row_number().over(w.orderBy(F.col("__pd_v")))
                .alias("__pd_rn"),
                F.count(F.lit(1)).over(w).alias("__pd_n"))
        else:
            # Ungrouped: a partitionBy(lit(1)) window would funnel every
            # row through one task.  Two-phase instead: range-repartition
            # by value (sampled boundaries, like a global sort), rank
            # WITHIN each range partition in parallel, then add the
            # broadcast per-partition row-count offsets — the offset/total
            # windows run over at most shuffle-partition-count rows.
            d = base.repartitionByRange(F.col("__pd_v")) \
                .withColumn("__pd_pid", F.spark_partition_id())
            local = d.withColumn(
                "__pd_rn_local",
                F.row_number().over(
                    Window.partitionBy("__pd_pid").orderBy("__pd_v")))
            counts = d.groupBy("__pd_pid") \
                .agg(F.count(F.lit(1)).alias("__pd_pc"))
            # this window IS single-partition, but over the per-partition
            # COUNT table (<= shuffle-partition-count rows), not the row
            # stream; the constant key just suppresses the WindowExec
            # "no partition defined" log spam
            offs = counts.select(
                "__pd_pid",
                F.coalesce(
                    F.sum("__pd_pc").over(
                        Window.partitionBy(F.lit(0)).orderBy("__pd_pid")
                        .rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0)).alias("__pd_off"))
            total = counts.agg(F.sum("__pd_pc").alias("__pd_n"))
            ranked = (local.join(F.broadcast(offs), "__pd_pid")
                      .crossJoin(F.broadcast(total))
                      .select("__pd_v",
                              (F.col("__pd_rn_local") + F.col("__pd_off"))
                              .alias("__pd_rn"),
                              "__pd_n"))
        return ranked.where(
            F.col("__pd_rn") == F.greatest(
                F.ceil(p * F.col("__pd_n")), F.lit(1)).cast("int")) \
            .select(*[F.col(c).alias(f"__pd_{c}") for c in group_cols],
                    F.col("__pd_v").alias(phys))

    def _order_and_slice(self, out: Records, clause, items, outputs,
                         sort_header: Header | None = None):
        order_by = getattr(clause, "order_by", ())
        df = out.df
        if order_by:
            header = sort_header if sort_header is not None else out.header
            item_to_col = {}
            for it, (nm, c) in zip(items, outputs):
                item_to_col[it.expr] = c
                item_to_col[E.Var(nm)] = c
            name_to_col = {nm: c for nm, c in outputs}
            sort_cols = []
            tmp = {}
            ctx = ExprContext(header, df, self.params)
            for i, s in enumerate(order_by):
                if isinstance(s.expr, E.Var) and s.expr.name in name_to_col:
                    # A projection alias shadows any same-named pattern var
                    # (`RETURN p.name AS p ORDER BY p` sorts by the name).
                    name = name_to_col[s.expr.name]
                else:
                    se = resolve_vars(s.expr, header)
                    name = item_to_col.get(se)
                    if name is None:
                        name = f"__sort_{i}"
                        tmp[name] = to_column(se, ctx)
                # Cypher null ordering: nulls largest (asc → last, desc → first)
                sort_cols.append(F.asc_nulls_last(name) if s.ascending
                                 else F.desc_nulls_first(name))
            if tmp:
                df = df.withColumns(tmp)
            df = df.orderBy(*sort_cols)
            if tmp:
                df = df.drop(*tmp)
        skip = getattr(clause, "skip", None)
        limit = getattr(clause, "limit", None)

        def _count_arg(e, kw):
            # TCK SemanticErrorAcceptance: SKIP/LIMIT take a non-negative
            # integer constant — negative, fractional or non-constant
            # arguments are plan-time errors
            try:
                v = _const(e, self.params)
            except Exception:
                raise PlanError(f"{kw} expects a constant expression",
                                code="NonConstantExpression")
            if isinstance(v, float) or not isinstance(v, int) \
                    or isinstance(v, bool):
                raise PlanError(f"{kw} expects an integer, got {v!r}",
                                code="InvalidArgumentType")
            if v < 0:
                if isinstance(e, E.Param) and not e.name.startswith("__lit"):
                    # a negative USER parameter is not a compile error (TCK
                    # OrderByAcceptance "ORDER BY with negative parameter
                    # for LIMIT should not generate errors") — it just
                    # yields nothing / skips nothing; a negative literal
                    # (reaching here as an extracted __lit param) still is
                    return 0
                raise PlanError(f"{kw} expects a non-negative integer, "
                                f"got {v}", code="NegativeIntegerArgument")
            return v

        if skip is not None:
            df = df.offset(_count_arg(skip, "SKIP"))
        if limit is not None:
            df = df.limit(_count_arg(limit, "LIMIT"))
        return out.with_df(df)


# ---------------------------------------------------------------------------

def _expr_var_names(e, out: set):
    """Collect every Var name mentioned in an expression (including the
    pattern variables inside pattern predicates)."""
    if isinstance(e, E.Var):
        out.add(e.name)
    if isinstance(e, E.PatternPredicate):
        for el in e.pattern.elements:
            if el.var:
                out.add(el.var)
            for _, v in el.props:
                _expr_var_names(v, out)
    if isinstance(e, E.Expr):
        for ch in e.children():
            _expr_var_names(ch, out)


def _query_var_refs(q: A.SingleQuery):
    """Names whose value (beyond the bare id) the query could observe.
    Returns None for 'everything' (RETURN * / WITH *)."""
    refs: set = set()
    for clause in q.clauses:
        if isinstance(clause, (A.WithClause, A.ReturnClause)):
            if clause.star:
                return None
            for it in clause.items:
                _expr_var_names(it.expr, refs)
            for s in getattr(clause, "order_by", ()):
                _expr_var_names(s.expr, refs)
            w = getattr(clause, "where", None)
            if w is not None:
                _expr_var_names(w, refs)
        elif isinstance(clause, A.UnwindClause):
            _expr_var_names(clause.expr, refs)
        elif isinstance(clause, A.CallClause):
            for a in clause.args or ():
                _expr_var_names(a, refs)
        elif isinstance(clause, A.MatchClause):
            if clause.where is not None:
                _expr_var_names(clause.where, refs)
            for part in clause.patterns:
                for el in part.elements:
                    # labels (possibly added in a LATER clause) need the
                    # var's label-flag columns; property maps constrain it
                    if el.var and (getattr(el, "labels", ()) or el.props):
                        refs.add(el.var)
                    for _, v in el.props:
                        _expr_var_names(v, refs)
    # A referenced named path can observe every element var (the
    # comprehension rewrite reads them directly: _rewrite_path_lambdas),
    # so path membership blocks scan elision for its elements.
    for clause in q.clauses:
        if isinstance(clause, A.MatchClause):
            for part in clause.patterns:
                if part.path_var and part.path_var in refs:
                    refs.update(el.var for el in part.elements if el.var)
        elif isinstance(clause, A.ConstructClause):
            refs.update(clause.clones)
            for part in clause.news:
                for el in part.elements:
                    if el.var:
                        refs.add(el.var)
                    for _, v in el.props:
                        _expr_var_names(v, refs)
    return refs


def _const(expr, params):
    if isinstance(expr, E.Lit):
        return expr.value
    if isinstance(expr, E.Param):
        return params[expr.name]
    # constant expressions fold (openCypher allows `LIMIT 1 + 1`,
    # `SKIP toInteger(...)`-style statically evaluable forms)
    if isinstance(expr, E.Neg):
        return -_const(expr.child, params)
    if isinstance(expr, E.BinOp) and expr.op in ("+", "-", "*", "/", "%"):
        l, r = _const(expr.lhs, params), _const(expr.rhs, params)
        if expr.op == "+":
            return l + r
        if expr.op == "-":
            return l - r
        if expr.op == "*":
            return l * r
        if expr.op == "/":
            return l // r if isinstance(l, int) and isinstance(r, int) \
                else l / r
        return l % r
    raise PlanError("SKIP/LIMIT must be a constant expression "
                    "(literal / parameter / arithmetic thereof)",
                    code="NonConstantExpression")


def _check_no_agg_in_lambda(e: E.Expr) -> None:
    """TCK SemanticErrorAcceptance InvalidAggregation: an aggregator may
    not appear inside a list comprehension / quantifier / reduce body —
    the lambda variable is per-element, an aggregate is per-group."""
    if isinstance(e, E.ListComprehension):
        if (e.projection is not None and E.is_aggregation(e.projection)) \
                or (e.where is not None and E.is_aggregation(e.where)):
            raise PlanError("aggregation inside a list comprehension",
                            code="InvalidAggregation")
    if isinstance(e, E.ListPredicate) and getattr(e, "where", None) is not None \
            and E.is_aggregation(e.where):
        raise PlanError("aggregation inside a list predicate",
                        code="InvalidAggregation")
    if isinstance(e, E.ListReduce) and (
            E.is_aggregation(e.step) or E.is_aggregation(e.init)):
        raise PlanError("aggregation inside reduce()",
                        code="InvalidAggregation")
    for c in e.children():
        _check_no_agg_in_lambda(c)


def _agg_subexprs(expr: E.Expr) -> list:
    """Maximal aggregator subexpressions of an aggregation item."""
    out = []

    def walk(e):
        if isinstance(e, E.CountStar) or (
                isinstance(e, E.FuncCall) and e.name in E.AGG_FUNCS):
            out.append(e)
            return
        for c in e.children():
            walk(c)

    walk(expr)
    return out


def _map_tuple_val(v, fn):
    if isinstance(v, E.Expr):
        return fn(v)
    if isinstance(v, tuple):
        return tuple(_map_tuple_val(x, fn) for x in v)
    return v


def _map_subexprs(e: E.Expr, fn) -> E.Expr:
    """Rebuild ``e`` with ``fn`` applied to every direct sub-expression,
    including ones nested in tuples-of-tuples (CaseExpr alternatives,
    property maps)."""
    changes = {}
    for f in dataclasses.fields(e):
        v = getattr(e, f.name)
        nv = _map_tuple_val(v, fn)
        if nv != v:
            changes[f.name] = nv
    return dataclasses.replace(e, **changes) if changes else e


def _subst_local(e: E.Expr, name: str, repl: E.Expr) -> E.Expr:
    """Replace the lambda-bound LocalVar/Var ``name`` with ``repl``
    everywhere in ``e`` (comprehension bodies keep plain Var references
    when the parser cannot know the name is lambda-bound)."""
    if isinstance(e, (E.LocalVar, E.Var)) and e.name == name:
        return repl
    return _map_subexprs(e, lambda c: _subst_local(c, name, repl))


def _substitute(e: E.Expr, mapping: dict) -> E.Expr:
    """Rebuild ``e`` with every node found in ``mapping`` replaced."""
    if e in mapping:
        return mapping[e]
    changes = {}
    for f in dataclasses.fields(e):
        v = getattr(e, f.name)
        if isinstance(v, E.Expr):
            nv = _substitute(v, mapping)
            if nv is not v:
                changes[f.name] = nv
        elif isinstance(v, tuple):
            nv = tuple(_subst_item(x, mapping) for x in v)
            if nv != v:
                changes[f.name] = nv
    return dataclasses.replace(e, **changes) if changes else e


def _subst_item(x, mapping: dict):
    """Substitute inside tuple fields, descending into nested tuples —
    MapLit.items holds (key, Expr) pairs, CaseExpr.alternatives holds
    (when, then) pairs."""
    if isinstance(x, E.Expr):
        return _substitute(x, mapping)
    if isinstance(x, tuple):
        return tuple(_subst_item(y, mapping) for y in x)
    return x


def _projected(expr, ctx: ExprContext, phys: str):
    """Projection item computing ``expr`` as ``phys``: SQL text when the
    expression is a column of the scope, else its compiled Column."""
    src = ctx.header.get(expr)
    return aliased(quote(src), phys) if src is not None \
        else to_column(expr, ctx).alias(phys)


def _fresh_phys(var: E.Var, taken: set) -> str:
    base = column_name(var)
    name = base
    i = 0
    while name in taken:
        i += 1
        name = f"{base}_{i}"
    taken.add(name)
    return name


def _label_tree_pred(tree, var: str) -> E.Expr:
    """GQL label-expression tree -> boolean predicate over label flags."""
    if tree[0] == "lbl":
        return E.HasLabel(E.NodeVar(var), tree[1])
    if tree[0] == "not":
        return E.Not(_label_tree_pred(tree[1], var))
    op = "AND" if tree[0] == "and" else "OR"
    return E.BinOp(op, _label_tree_pred(tree[1], var),
                   _label_tree_pred(tree[2], var))


def _dedup(seq):
    seen = {}
    for s in seq:
        seen.setdefault(s)
    return list(seen)


def _typed_var(src: E.Var, name: str) -> E.Var:
    if isinstance(src, E.NodeVar):
        return E.NodeVar(name)
    if isinstance(src, E.ListRelVar):
        return E.ListRelVar(name)
    if isinstance(src, E.ListNodeVar):
        return E.ListNodeVar(name)
    if isinstance(src, E.RelVar):
        return E.RelVar(name)
    return E.Var(name)


def _retarget(e: E.Expr, src: E.Var, tgt: E.Var) -> E.Expr:
    if e == src:
        return tgt
    if isinstance(e, E.Property):
        return E.Property(tgt, e.key)
    if isinstance(e, E.HasLabel):
        return E.HasLabel(tgt, e.label)
    if isinstance(e, E.StartNode):
        return E.StartNode(tgt)
    if isinstance(e, E.EndNode):
        return E.EndNode(tgt)
    if isinstance(e, TypeOf):
        return TypeOf(tgt)
    return e


def _contains_pattern(e) -> bool:
    if isinstance(e, (E.PatternPredicate, E.PatternComprehension)):
        return True
    if not isinstance(e, E.Expr):
        return False
    return any(_contains_pattern(c) for c in e.children())


def _bidirectional(rel: Records, rv: E.RelVar) -> Records:
    """Undirected edge table: scan ∪ mirror (source/target swapped; self-loops
    kept once).  Reference: RelationalPlanner.scala:154-164."""
    h = rel.header
    src = h.col(E.StartNode(rv))
    dst = h.col(E.EndNode(rv))
    mirror = rel.df.where(f"{quote(src)} != {quote(dst)}").toDF(
        *[dst if c == src else src if c == dst else c
          for c in rel.df.columns])
    return rel.with_df(rel.df.unionByName(mirror))
