"""Graph mutation planning: CREATE / MERGE / SET / REMOVE / DELETE.

Beyond-reference surface: the reference engine is read-only — it
wont_fix-blacklists the openCypher TCK's entire mutation corpus
(morpheus-tck/src/test/resources/wont_fix_blacklist names the
CreateAcceptance / DeleteAcceptance / MergeNodeAcceptance /
SetAcceptance / RemoveAcceptance families wholesale).  Here a mutating
query is an immutable graph TRANSFORMATION — the only mutation model
that makes sense on Spark: element tables are never updated in place;
each mutating clause derives NEW node/rel DataFrames (unions and joins
over the previous ones) and the query result carries the new
:class:`PropertyGraph` (``CypherResult.graph``).  At warehouse scale the
derived tables are exactly what a write pipeline persists back to
storage; nothing here collects data to the driver (the only driver-side
values are two scalar aggregates: the id ceiling and the created-row
count).

Determinism: like CONSTRUCT (planner.plan_construct), the binding table
is localCheckpoint-ed with a per-row ``monotonically_increasing_id``
seed before any table is derived, so created ids are stable across the
separate node-table / rel-table / downstream-clause actions (task
retries or AQE re-plans cannot re-deal rows).

Cypher visibility semantics hold clause-by-clause: each mutating clause
updates the planner's working graph, so a later MATCH scans the mutated
tables, while the already-planned binding columns keep their snapshot —
which is exactly openCypher's "a clause sees the writes of the clauses
before it" rule.
"""

from __future__ import annotations

import dataclasses
import itertools

from pyspark.sql import functions as F

from ..errors import PlanError
from ..graph import _RESERVED_NODE, _RESERVED_REL, PropertyGraph, prop_phys
from ..ir import expr as E
from ..operators.columns import ExprContext, quote, to_column
from ..operators.header import Header, TypeOf, column_name, type_column_name
from ..operators.records import Records, aliased, project, sql_str
from ..parser import ast as A

_MONO = "__mut_mono"


class DeleteConnectedNodeError(Exception):
    """Plain DELETE of a node that still has relationships.

    openCypher files this as a ConstraintVerificationFailed /
    DeleteConnectedNode runtime error; mutation executes within the
    statement, so the error carries ``phase = 'runtime'`` for the TCK
    runner's phase assertion."""

    code = "DeleteConnectedNode"
    phase = "runtime"


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def graph_max_id(graph: PropertyGraph) -> int:
    """Ceiling of all element ids in ``graph`` (0 when empty).

    One scalar aggregate over a union of per-table maxes, cached on the
    graph instance — the single driver-side value id allocation needs.
    """
    hint = getattr(graph, "_max_id_hint", None)
    if hint is not None:
        return hint
    parts = [df.selectExpr("max(CAST(`id` AS BIGINT)) AS m")
             for df in itertools.chain(graph.node_tables.values(),
                                       graph.rel_tables.values())]
    mx = 0
    if parts:
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        row = u.agg(F.max("m").alias("m")).first()
        mx = row["m"] if row["m"] is not None else 0
    graph._max_id_hint = max(mx, 0)
    return graph._max_id_hint


def _widen(t1, t2, key):
    """Result type for a property present with two Spark types."""
    from pyspark.sql import types as T
    if t1 == t2:
        return t1
    numeric = {T.LongType(), T.DoubleType(), T.IntegerType(), T.FloatType()}
    if t1 in numeric and t2 in numeric:
        return T.DoubleType() if T.DoubleType() in (t1, t2) else T.LongType()
    if isinstance(t1, T.NullType):
        return t2
    if isinstance(t2, T.NullType):
        return t1
    if isinstance(t1, T.ArrayType) and isinstance(t2, T.ArrayType):
        return T.ArrayType(_widen(t1.elementType, t2.elementType, key),
                           t1.containsNull or t2.containsNull)
    raise PlanError(
        f"property {key!r} would hold both {t1.simpleString()} and "
        f"{t2.simpleString()}; a columnar engine cannot box mixed-type "
        "columns", code="IncompatiblePropertyTypes")


# struct field-name signatures of the engine's temporal/spatial encodings
# — the only struct-typed values a property may store
_TEMPORAL_SIGS = {
    frozenset({"months", "days", "microseconds"}),      # duration
    frozenset({"time_us", "tz_us"}),                    # time
    frozenset({"localtime_us"}),                        # localtime
    frozenset({"epoch_us", "tz_us", "zone"}),           # zoned datetime
    frozenset({"x", "y", "z", "crs"}),                  # spatial point
}


def _check_storable(df, col, key):
    """openCypher property values are primitives, temporal values, or
    lists thereof — maps (and lists of maps) are not storable
    (TCK: TypeError / InvalidPropertyType)."""
    from pyspark.sql import types as T
    dt = df.select(col).schema[0].dataType

    def ok(t):
        if isinstance(t, T.ArrayType):
            return ok(t.elementType)
        if isinstance(t, T.MapType):
            return False
        if isinstance(t, T.StructType):
            return frozenset(f.name for f in t.fields) in _TEMPORAL_SIGS
        return True

    if not ok(dt):
        raise PlanError(
            f"property {key!r} cannot store a value of type "
            f"{dt.simpleString()}: only primitives, temporal values and "
            "lists thereof are storable", code="InvalidPropertyType")
    return col


def _union_aligned(old, new):
    """unionByName with missing-column padding and numeric widening."""
    old_t = {f.name: f.dataType for f in old.schema.fields}
    new_t = {f.name: f.dataType for f in new.schema.fields}
    casts_old, casts_new = {}, {}
    for c in set(old_t) & set(new_t):
        w = _widen(old_t[c], new_t[c], c)
        if w != old_t[c]:
            casts_old[c] = w
        if w != new_t[c]:
            casts_new[c] = w
    if casts_old:
        old = old.select(*[F.col(c).cast(casts_old[c]) if c in casts_old
                           else F.col(c) for c in old.columns])
    if casts_new:
        new = new.select(*[F.col(c).cast(casts_new[c]) if c in casts_new
                           else F.col(c) for c in new.columns])
    return old.unionByName(new, allowMissingColumns=True)


def _updated_graph(graph: PropertyGraph, node_tables, rel_tables,
                   max_id_hint=None) -> PropertyGraph:
    """New PropertyGraph with replaced/extended element tables."""
    nodes = dict(graph.node_tables)
    rels = dict(graph.rel_tables)
    nodes.update(node_tables)
    rels.update(rel_tables)
    # drop emptied tables is unnecessary (scans of empty DataFrames are
    # cheap and schema-preserving); row-count hints for touched tables are
    # no longer trustworthy
    stats = {k: v for k, v in graph.stats.items()
             if k not in node_tables and k not in rel_tables}
    g2 = PropertyGraph(nodes, rels, name=graph.name, stats=stats)
    if max_id_hint is not None:
        g2._max_id_hint = max_id_hint
    return g2


def _unit_records(pl) -> Records:
    return Records(pl.session, Header({}), pl.session.spark.range(1).select())


def _seeded(df):
    """Pin the binding table with a per-row id seed (see module doc)."""
    df = df.withColumn(_MONO, F.monotonically_increasing_id())
    df = df.localCheckpoint(eager=True)
    row = df.agg(F.expr(f"max({quote(_MONO)}) AS m"),
                 F.expr("count(1) AS n")).first()
    return df, (row["m"] if row["m"] is not None else -1), row["n"]


# ---------------------------------------------------------------------------
# CREATE
# ---------------------------------------------------------------------------

def plan_create(pl, records, clause: A.CreateClause):
    """Plan one CREATE clause; returns updated Records (header extended
    with the created variables) and swaps ``pl.graph`` for the mutated
    graph."""
    from .planner import resolve_vars

    if records is None:
        records = _unit_records(pl)
    header = records.header

    node_slots: dict[str, dict] = {}      # var -> {labels, props}
    rel_slots: list = []                  # (src_var, RelPattern, dst_var)
    for part in clause.patterns:
        named = pl._name_pattern(part)
        if named.path_var is not None:
            raise PlanError("named paths cannot be used in CREATE",
                            code="InvalidPattern")
        if len(named.elements) == 1 and \
                header.var(named.elements[0].var) is not None:
            # a bound variable may only be an endpoint of a new
            # relationship — CREATE (a) alone re-declares it
            raise PlanError(
                f"variable {named.elements[0].var!r} is already bound",
                code="VariableAlreadyBound")
        for np in named.nodes:
            if np.label_expr is not None:
                raise PlanError(
                    "label expressions cannot be used when creating nodes",
                    code="InvalidLabelExpression")
            if np.where is not None:
                raise PlanError(
                    "WHERE is not allowed inside a CREATE pattern",
                    code="InvalidSyntax")
            bound = header.var(np.var) is not None
            seen = np.var in node_slots
            if (bound or seen) and (np.labels or np.props):
                raise PlanError(
                    f"variable {np.var!r} is already bound and cannot be "
                    "created with labels or properties",
                    code="VariableAlreadyBound")
            if bound and not isinstance(header.var(np.var), E.NodeVar):
                raise PlanError(
                    f"variable {np.var!r} is not a node",
                    code="VariableTypeConflict")
            if not bound and not seen:
                node_slots[np.var] = {"labels": set(np.labels),
                                      "props": dict(np.props)}
        elems = named.elements
        for i in range(1, len(elems), 2):
            rp = elems[i]
            if rp.where is not None:
                raise PlanError(
                    "WHERE is not allowed inside a CREATE pattern",
                    code="InvalidSyntax")
            if rp.var_length:
                raise PlanError(
                    "variable-length relationships cannot be created",
                    code="CreatingVarLength")
            if rp.direction == "both":
                raise PlanError(
                    "relationships in CREATE must be directed",
                    code="RequiresDirectedRelationship")
            if len(rp.types) != 1:
                raise PlanError(
                    "relationships in CREATE need exactly one type",
                    code="NoSingleRelationshipType")
            if header.var(rp.var) is not None or \
                    any(r.var == rp.var for _, r, _ in rel_slots):
                raise PlanError(
                    f"relationship variable {rp.var!r} is already bound",
                    code="VariableAlreadyBound")
            s, d = elems[i - 1].var, elems[i + 1].var
            if rp.direction == "in":
                s, d = d, s
            rel_slots.append((s, rp, d))

    new_node_vars = list(node_slots)
    k = len(new_node_vars) + len(rel_slots)
    base = graph_max_id(pl.graph)
    df, max_mono, _n_rows = _seeded(records.df)
    ctx = ExprContext(header, df, pl.params)

    def slot_id(i):
        return (f"CAST({base + 1} + {quote(_MONO)} * {max(k, 1)} + {i} "
                "AS BIGINT)")

    # ---- extend the binding table with the created element columns ----
    # projection items: SQL text or (aliased) Column
    add_cols = []
    hdr = header
    for i, v in enumerate(new_node_vars):
        nv = E.NodeVar(v)
        add_cols.append(aliased(slot_id(i), column_name(nv)))
        hdr = hdr.added(nv)
        for lbl in sorted(node_slots[v]["labels"]):
            e = E.HasLabel(nv, lbl)
            add_cols.append(aliased("true", column_name(e)))
            hdr = hdr.added(e)
        for key, ve in node_slots[v]["props"].items():
            e = E.Property(nv, key)
            add_cols.append(_check_storable(
                df, to_column(resolve_vars(ve, header), ctx), key)
                .alias(column_name(e)))
            hdr = hdr.added(e)
    for j, (s, rp, d) in enumerate(rel_slots):
        rv = E.RelVar(rp.var)
        add_cols.append(aliased(slot_id(len(new_node_vars) + j),
                                 column_name(rv)))
        hdr = hdr.added(rv)

        def end_col(name):
            if header.var(name) is not None:
                return quote(header.col(header.var(name)))
            return slot_id(new_node_vars.index(name))

        add_cols.append(aliased(end_col(s), column_name(E.StartNode(rv))))
        add_cols.append(aliased(end_col(d), column_name(E.EndNode(rv))))
        hdr = hdr.added(E.StartNode(rv))
        hdr = hdr.added(E.EndNode(rv))
        add_cols.append(aliased(sql_str(rp.types[0]), type_column_name(rv)))
        hdr = hdr.added(TypeOf(rv), type_column_name(rv))
        for key, ve in rp.props:
            e = E.Property(rv, key)
            add_cols.append(_check_storable(
                df, to_column(resolve_vars(ve, header), ctx), key)
                .alias(column_name(e)))
            hdr = hdr.added(e)

    df2 = project(df, ["*", *add_cols]) if add_cols else df

    # ---- derive the new element tables --------------------------------
    node_updates: dict = {}
    for v in new_node_vars:
        nv = E.NodeVar(v)
        combo = frozenset(node_slots[v]["labels"])
        sel = [aliased(quote(column_name(nv)), "id")]
        for key in node_slots[v]["props"]:
            sel.append(aliased(quote(column_name(E.Property(nv, key))),
                                prop_phys(key, _RESERVED_NODE)))
        ndf = df2.selectExpr(*sel)
        prev = node_updates.get(combo, pl.graph.node_tables.get(combo))
        node_updates[combo] = ndf if prev is None else _union_aligned(prev, ndf)
    rel_updates: dict = {}
    for s, rp, d in rel_slots:
        rv = E.RelVar(rp.var)
        sel = [aliased(quote(column_name(rv)), "id"),
               aliased(quote(column_name(E.StartNode(rv))), "source"),
               aliased(quote(column_name(E.EndNode(rv))), "target")]
        for key, _ve in rp.props:
            sel.append(aliased(quote(column_name(E.Property(rv, key))),
                                prop_phys(key, _RESERVED_REL)))
        rdf = df2.selectExpr(*sel).where(
            "`source` IS NOT NULL AND `target` IS NOT NULL")
        prev = rel_updates.get(rp.types[0],
                               pl.graph.rel_tables.get(rp.types[0]))
        rel_updates[rp.types[0]] = rdf if prev is None \
            else _union_aligned(prev, rdf)

    new_max = base + 1 + (max_mono if max_mono >= 0 else 0) * max(k, 1) + k
    pl.graph = _updated_graph(pl.graph, node_updates, rel_updates,
                              max_id_hint=new_max)
    return Records(pl.session, hdr, df2.drop(_MONO))


# ---------------------------------------------------------------------------
# DELETE
# ---------------------------------------------------------------------------

def _arrays_from_shape(col, shape):
    """(node_ids, rel_ids) array Columns for a materialized container
    column whose entity shape was recorded at projection time."""
    kind = shape[0]
    if kind == "node":
        return F.array(col), None
    if kind == "rel":
        return None, F.array(col)
    if kind == "nodelist":
        return col, None
    if kind == "rellist":
        return None, col
    if kind == "path":
        return col.getField("nodes"), col.getField("rels")
    nodes, rels = [], []
    if kind == "list":
        parts = [(F.element_at(col, i + 1), s)
                 for i, s in enumerate(shape[1]) if s is not None]
    else:                               # map (struct column)
        parts = [(col.getField(k), s)
                 for k, s in shape[1].items() if s is not None]
    for c, s in parts:
        na, ra = _arrays_from_shape(c, s)
        if na is not None:
            nodes.append(na)
        if ra is not None:
            rels.append(ra)
    return (F.concat(*nodes) if nodes else None,
            F.concat(*rels) if rels else None)


def _index_literal(pl, idx):
    """Plan-time int value of a subscript index (literals arrive as
    auto-extracted parameters), or None."""
    if isinstance(idx, E.Lit) and isinstance(idx.value, int) \
            and not isinstance(idx.value, bool):
        return idx.value
    if isinstance(idx, E.Param):
        v = pl.params.get(idx.name)
        if isinstance(v, int) and not isinstance(v, bool):
            return v
    return None


def _shape_chain(pl, header, e):
    """(Column, shape) for Property/Subscript chains rooted at a WITH
    alias that carries a recorded entity shape; None when not such a
    chain."""
    if isinstance(e, E.Var) and not isinstance(e, (E.NodeVar, E.RelVar)) \
            and e.name in pl._entity_shapes and header.get(e) is not None:
        return F.col(header.col(e)), pl._entity_shapes[e.name]
    if isinstance(e, E.Property):
        base = _shape_chain(pl, header, e.owner)
        if base is not None and base[1][0] == "map" \
                and e.key in base[1][1] and base[1][1][e.key] is not None:
            return base[0].getField(e.key), base[1][1][e.key]
    if isinstance(e, E.Subscript):
        i = _index_literal(pl, e.index)
        base = _shape_chain(pl, header, e.owner) if i is not None else None
        if base is not None:
            col, shape = base
            # 1-based positive / negative-from-the-end element_at position
            pos = i + 1 if i >= 0 else i
            if shape[0] == "list":
                j = i if i >= 0 else len(shape[1]) + i
                if 0 <= j < len(shape[1]) and shape[1][j] is not None:
                    return F.element_at(col, j + 1), shape[1][j]
            if shape[0] == "nodelist":
                return F.try_element_at(col, F.lit(pos)), ("node",)
            if shape[0] == "rellist":
                return F.try_element_at(col, F.lit(pos)), ("rel",)
    return None


def _entity_id_arrays(pl, header, ctx, e):
    """Resolve a DELETE operand into (node_ids, rel_ids) array Columns
    (either may be None).  Beyond bare variables, entities may arrive
    inside lists, maps, nested structures, subscripts, or named paths —
    openCypher's DeleteAcceptance "Delete node from a list" family — so
    this walks the expression tree statically (entity KIND is always
    derivable at plan time in a columnar engine) and emits pure array
    expressions; the caller explodes them into one distinct id set."""
    chained = _shape_chain(pl, header, e)
    if chained is not None:
        return _arrays_from_shape(*chained)
    if isinstance(e, E.ListNodeVar):
        return F.col(header.col(e)), None
    if isinstance(e, E.ListRelVar):
        return None, F.col(header.col(e))
    if isinstance(e, E.NodeVar):
        return F.array(F.col(header.col(e))), None
    if isinstance(e, E.RelVar):
        return None, F.array(F.col(header.col(e)))
    if isinstance(e, E.Var) and header.get(e) is not None:
        # a named path binds struct<nodes: array, rels: array>
        col = F.col(header.col(e))
        from pyspark.sql import types as T
        dt = dict(zip(ctx.df.columns,
                      (f.dataType for f in ctx.df.schema.fields))
                  ).get(header.col(e))
        if isinstance(dt, T.StructType) and \
                {f.name for f in dt.fields} == {"nodes", "rels"}:
            return col.getField("nodes"), col.getField("rels")
        raise PlanError(
            f"DELETE target {e.name!r} is not a node, relationship or "
            "path", code="InvalidDelete")
    if isinstance(e, E.Lit) and e.value is None:
        return None, None               # DELETE null is a no-op
    if isinstance(e, E.ListLit):
        nodes, rels = [], []
        for it in e.items:
            na, ra = _entity_id_arrays(pl, header, ctx, it)
            if na is not None:
                nodes.append(na)
            if ra is not None:
                rels.append(ra)
        return (F.concat(*nodes) if nodes else None,
                F.concat(*rels) if rels else None)
    if isinstance(e, E.Property) and isinstance(e.owner, E.MapLit):
        for k, v in e.owner.items:
            if k == e.key:
                return _entity_id_arrays(pl, header, ctx, v)
        return None, None               # missing key -> null -> no-op
    if isinstance(e, E.MapLit):
        nodes, rels = [], []
        for _k, v in e.items:
            na, ra = _entity_id_arrays(pl, header, ctx, v)
            if na is not None:
                nodes.append(na)
            if ra is not None:
                rels.append(ra)
        return (F.concat(*nodes) if nodes else None,
                F.concat(*rels) if rels else None)
    if isinstance(e, E.Subscript):
        na, ra = _entity_id_arrays(pl, header, ctx, e.owner)
        # Cypher is 0-based, element_at 1-based; negative indices count
        # from the end in both (mirror the normal subscript path,
        # columns.py try_element_at — ns[-1] must not become index 0).
        raw = to_column(e.index, ctx)
        idx = F.when(raw >= 0, raw + 1).otherwise(raw).cast("int")
        pick = lambda a: F.array(F.try_element_at(a, idx))  # noqa: E731
        return (pick(na) if na is not None else None,
                pick(ra) if ra is not None else None)
    if isinstance(e, E.ListSlice):
        na, ra = _entity_id_arrays(pl, header, ctx, e.owner)
        lo = to_column(e.lo, ctx) + F.lit(1) if e.lo is not None else F.lit(1)
        n = (to_column(e.hi, ctx) + F.lit(1) if e.hi is not None
             else F.lit(1 << 30)) - lo
        pick = lambda a: F.slice(a, lo, F.greatest(n, F.lit(0)))  # noqa: E731
        return (pick(na) if na is not None else None,
                pick(ra) if ra is not None else None)
    if isinstance(e, E.FuncCall) and e.name in ("nodes", "relationships") \
            and len(e.args) == 1:
        na, ra = _entity_id_arrays(pl, header, ctx, e.args[0])
        return (na, None) if e.name == "nodes" else (None, ra)
    raise PlanError(
        "DELETE expects nodes, relationships or paths (possibly inside "
        "lists or maps)", code="InvalidDelete")


def plan_delete(pl, records, clause: A.DeleteClause):
    from .planner import resolve_vars

    if records is None:
        raise PlanError("DELETE needs matched variables",
                        code="InvalidDelete")
    header = records.header
    ctx = ExprContext(header, records.df, pl.params)
    node_arrays, rel_arrays = [], []
    for e in clause.exprs:
        r = resolve_vars(e, header)
        na, ra = _entity_id_arrays(pl, header, ctx, r)
        if na is not None:
            node_arrays.append(na)
        if ra is not None:
            rel_arrays.append(ra)
        if isinstance(r, (E.NodeVar, E.RelVar)):
            # later clauses may not read a deleted entity's labels or
            # properties (ReturnAcceptance2 "Fail when returning ... of
            # deleted ..."); type(r) stays readable from the binding
            pl._deleted_vars.add(r.name)

    def id_set(arrays):
        if not arrays:
            return None
        parts = [records.df.select(F.explode(a).alias("__del_id"))
                 for a in arrays]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u.where(F.col("__del_id").isNotNull()).distinct()

    del_nodes = id_set(node_arrays)
    del_rels = id_set(rel_arrays)

    rel_updates: dict = {}
    for rtype, rdf in pl.graph.rel_tables.items():
        out = rdf
        if del_rels is not None:
            out = out.join(del_rels, out["id"] == del_rels["__del_id"],
                           "left_anti")
        if del_nodes is not None and clause.detach:
            out = out.join(del_nodes, out["source"] == del_nodes["__del_id"],
                           "left_anti")
            out = out.join(del_nodes, out["target"] == del_nodes["__del_id"],
                           "left_anti")
        if out is not rdf:
            rel_updates[rtype] = out

    if del_nodes is not None and not clause.detach:
        # plain DELETE: a surviving relationship touching a deleted node is
        # a constraint violation (openCypher DeleteConnectedNode) — checked
        # with one bounded probe over the surviving rel endpoints
        survivors = None
        for rtype, rdf in pl.graph.rel_tables.items():
            out = rel_updates.get(rtype, rdf)
            ends = out.select(F.col("source").alias("__e")).unionByName(
                out.select(F.col("target").alias("__e")))
            survivors = ends if survivors is None \
                else survivors.unionByName(ends)
        if survivors is not None and not survivors.join(
                del_nodes, survivors["__e"] == del_nodes["__del_id"],
                "left_semi").isEmpty():
            raise DeleteConnectedNodeError(
                "cannot delete a node that still has relationships "
                "(use DETACH DELETE)")

    node_updates: dict = {}
    if del_nodes is not None:
        for combo, ndf in pl.graph.node_tables.items():
            node_updates[combo] = ndf.join(
                del_nodes, ndf["id"] == del_nodes["__del_id"], "left_anti")

    pl.graph = _updated_graph(pl.graph, node_updates, rel_updates,
                              max_id_hint=graph_max_id(pl.graph))
    return records


# ---------------------------------------------------------------------------
# SET / REMOVE
# ---------------------------------------------------------------------------

def _expand_map_items(pl, header, item: A.SetItem):
    """``SET n = {..}`` / ``SET n += {..}`` -> per-key prop items (+ the
    replace flag).  The map must be a literal or parameter map — a
    columnar engine assigns per-column, so the key set must be known at
    plan time."""
    m = item.value
    if isinstance(m, E.Param):
        v = pl.params.get(m.name)
        if not isinstance(v, dict):
            raise PlanError(f"SET {item.var} = $ {m.name} needs a map "
                            "parameter", code="InvalidArgumentType")
        pairs = [(k, E.Lit(x)) for k, x in v.items()]
    elif isinstance(m, E.MapLit):
        pairs = list(m.items)
    elif isinstance(m, E.Var):
        # SET a = b / SET a += b (copy properties between entities):
        # expand to the source entity's in-scope property columns
        src = header.var(m.name)
        if src is None:
            raise PlanError(f"unbound variable {m.name!r}",
                            code="UndefinedVariable")
        pairs = [(e.key, e) for e in header.owned_by(src)
                 if isinstance(e, E.Property)]
    else:
        raise PlanError(
            "SET with a map expects a map literal, map parameter, or "
            "entity variable", code="InvalidArgumentType")
    return [A.SetItem("prop", item.var, key=k, value=ve) for k, ve in pairs]


def plan_set(pl, records, items, remove: bool = False, branch_col=None):
    """Plan SET (or REMOVE when ``remove``) items; updates pl.graph and
    returns Records whose binding columns reflect the new values.

    ``branch_col``: optional boolean column name — only rows where it is
    true apply their updates (MERGE ON CREATE / ON MATCH)."""
    from .planner import resolve_vars

    if records is None:
        raise PlanError("SET/REMOVE needs matched variables",
                        code="InvalidSet")
    header = records.header

    # group per target variable
    per_var: dict[str, dict] = {}
    for item in items:
        if item.kind in ("map_replace", "map_add"):
            expanded = _expand_map_items(pl, header, item)
            g = per_var.setdefault(item.var, {
                "props": {}, "add_labels": set(), "del_labels": set(),
                "replace": False})
            if item.kind == "map_replace":
                g["replace"] = True
                g["props"] = {}
            for it in expanded:
                g["props"][it.key] = it.value
            continue
        g = per_var.setdefault(item.var, {
            "props": {}, "add_labels": set(), "del_labels": set(),
            "replace": False})
        if item.kind == "label":
            (g["del_labels"] if remove else g["add_labels"]).update(
                item.labels)
        else:
            g["props"][item.key] = None if remove else item.value

    df = records.df
    hdr = header
    working_nodes = dict(pl.graph.node_tables)
    working_rels = dict(pl.graph.rel_tables)

    for var_name, g in per_var.items():
        target = header.var(var_name)
        if target is None:
            raise PlanError(f"unbound variable {var_name!r}",
                            code="UndefinedVariable")
        is_node = isinstance(target, E.NodeVar)
        if not is_node and not isinstance(target, E.RelVar):
            raise PlanError(
                f"SET/REMOVE target {var_name!r} must be a node or "
                "relationship", code="InvalidSet")
        if not is_node and (g["add_labels"] or g["del_labels"]):
            raise PlanError("labels can only be set on nodes",
                            code="InvalidSet")
        id_col = header.col(target)
        ctx = ExprContext(hdr, df, pl.params)
        reserved = _RESERVED_NODE if is_node else _RESERVED_REL

        # ---- computed value columns (per binding row) -----------------
        # SQL text ("NULL" for REMOVE) or a compiled Column
        val_cols = {}
        for key, ve in g["props"].items():
            if ve is None:
                val_cols[key] = "NULL"
            else:
                val_cols[key] = _check_storable(
                    df, to_column(resolve_vars(ve, header), ctx), key)
        upd_keys = list(val_cols)

        # ---- updates table: one row per touched entity ---------------
        apply_rows = df.where(f"{quote(id_col)} IS NOT NULL")
        if branch_col is not None:
            apply_rows = apply_rows.where(quote(branch_col))
        # One row per touched entity.  dropDuplicates picks an arbitrary
        # binding row when several update the same entity (openCypher
        # leaves the winner to evaluation order); the lazy checkpoint pins
        # the pick so every derived table sees the same winner.
        upd = project(apply_rows, [f"{quote(id_col)} AS __uid", *[
            aliased(v, f"__set_{i}") for i, v in enumerate(val_cols.values())
        ]]).dropDuplicates(["__uid"]).localCheckpoint(eager=False)

        replace = g["replace"]
        tables = working_nodes if is_node else working_rels
        # Bounded probe: which element tables actually hold updated ids?
        # Untouched tables keep their original DataFrame — no rewrite, no
        # empty move-target tables polluting the schema, and later scans
        # of unrelated labels keep their original (pushdown-able) plans.
        tkeys = list(tables)
        on_uid = F.expr("`id` = `__uid`")
        probes = [tables[tkey].join(upd, on_uid, "left_semi")
                  .selectExpr(f"{i} AS i").limit(1)
                  for i, tkey in enumerate(tkeys)]
        present: set = set()
        if probes:
            u = probes[0]
            for p in probes[1:]:
                u = u.unionByName(p)
            present = {row["i"] for row in u.collect()}
        # Every TOUCHED table re-emits ALL its rows into `pieces`
        # (updated-in-place, stayed, or moved to another label combo), so
        # the new table for a key is exactly the union of its pieces.
        hit = "`__uid` IS NOT NULL"
        pieces: dict = {}
        for i, tkey in enumerate(tkeys):
            tdf = tables[tkey]
            if i not in present:
                continue
            new_combo = tkey if not is_node else \
                (tkey | frozenset(g["add_labels"])) \
                - frozenset(g["del_labels"])
            j = tdf.join(upd, on_uid, "left")
            cols = []
            for c in tdf.columns:
                key = c[len("prop__"):] if c.startswith("prop__") else c
                if c in reserved or not (key in val_cols or replace):
                    cols.append(quote(c))
                    continue
                new = f"`__set_{upd_keys.index(key)}`" if key in val_cols \
                    else "NULL"
                cols.append(f"CASE WHEN {hit} THEN {new} ELSE {quote(c)} "
                            f"END AS {quote(c)}")
            for key in val_cols:
                phys = prop_phys(key, reserved)
                if phys not in tdf.columns:
                    cols.append(f"CASE WHEN {hit} THEN "
                                f"`__set_{upd_keys.index(key)}` ELSE NULL "
                                f"END AS {quote(phys)}")
            if new_combo == tkey:
                pieces.setdefault(tkey, []).append(j.selectExpr(*cols))
            else:
                updated = j.selectExpr(*cols, "`__uid`")
                pieces.setdefault(tkey, []).append(
                    updated.where("`__uid` IS NULL").drop("__uid"))
                pieces.setdefault(new_combo, []).append(
                    updated.where(hit).drop("__uid"))
        touched_keys = {tkeys[i] for i in present}
        for tkey, dfs in pieces.items():
            # a move-target table that was not itself touched keeps its
            # original rows under the movers
            out = tables.get(tkey) if tkey not in touched_keys else None
            for d in dfs:
                out = d if out is None else _union_aligned(out, d)
            tables[tkey] = out

        # ---- refresh the binding columns ------------------------------
        # SQL text or Column per replaced/added binding column
        apply_here = f"{quote(id_col)} IS NOT NULL"
        if branch_col is not None:
            apply_here += f" AND coalesce({quote(branch_col)}, false)"
        df_cols = df.columns
        new_cols = {}
        for key, vc in val_cols.items():
            e = E.Property(target, key)
            cname = hdr.get(e) or column_name(e)
            old = quote(cname) if cname in df_cols else "NULL"
            new_cols[cname] = (
                f"CASE WHEN {apply_here} THEN {vc} ELSE {old} END"
                if isinstance(vc, str) else
                F.when(F.expr(apply_here), vc).otherwise(F.expr(old)))
            hdr = hdr.added(e, cname)
        if replace:
            for e in hdr.owned_by(target):
                if isinstance(e, E.Property) and e.key not in val_cols:
                    cname = hdr.col(e)
                    new_cols[cname] = (f"CASE WHEN {apply_here} THEN NULL "
                                       f"ELSE {quote(cname)} END")
        for lbl in sorted(g["add_labels"] | g["del_labels"]):
            e = E.HasLabel(target, lbl)
            cname = hdr.get(e) or column_name(e)
            val = str(lbl in g["add_labels"]).lower()
            old = quote(cname) if cname in df_cols else "false"
            new_cols[cname] = \
                f"CASE WHEN {apply_here} THEN {val} ELSE {old} END"
            hdr = hdr.added(e, cname)
        if new_cols:
            df = project(df, [
                *[aliased(new_cols.pop(c), c) if c in new_cols else quote(c)
                  for c in df_cols],
                *[aliased(v, n) for n, v in new_cols.items()]])

    hint = getattr(pl.graph, "_max_id_hint", None)
    pl.graph = PropertyGraph(working_nodes, working_rels,
                             name=pl.graph.name)
    if hint is not None:
        pl.graph._max_id_hint = hint
    return Records(pl.session, hdr, df)


# ---------------------------------------------------------------------------
# FOREACH
# ---------------------------------------------------------------------------

def plan_foreach(pl, records, clause: A.ForeachClause):
    """``FOREACH (x IN list | ...)``: run the updating clauses once per
    list element.  The element column is an ``explode`` over the binding
    table (null/empty lists contribute no rows — openCypher no-op), the
    body mutates ``pl.graph`` clause by clause, and the ORIGINAL records
    are returned unchanged: the loop variable never enters the outer
    scope.  Fully distributed — one narrow explode, no driver iteration."""
    from .planner import resolve_vars

    if records is None:
        records = _unit_records(pl)
    header = records.header
    ctx = ExprContext(header, records.df, pl.params)
    le = resolve_vars(clause.list_expr, header)

    # element typing: entity lists bind NodeVar/RelVar elements so SET /
    # DELETE / CREATE endpoints inside the body resolve as entities
    shape = pl._entity_shape_of(le, header)
    def _homogeneous(s, kind):
        # ('list', [...]) of uniformly node/rel elements types like the
        # dedicated list kind: FOREACH (x IN [a] | DELETE x) is valid
        # openCypher, the loop var must bind as an entity
        return (s is not None and s[0] == "list" and s[1]
                and all(x == (kind,) for x in s[1]))
    if isinstance(le, E.ListNodeVar) or shape == ("nodelist",) \
            or _homogeneous(shape, "node"):
        ev = E.NodeVar(clause.var)
    elif isinstance(le, E.ListRelVar) or shape == ("rellist",) \
            or _homogeneous(shape, "rel"):
        ev = E.RelVar(clause.var)
    else:
        ev = E.Var(clause.var)
    if header.var(clause.var) is not None:
        raise PlanError(f"FOREACH variable {clause.var!r} shadows a bound "
                        "variable", code="VariableAlreadyBound")

    col = to_column(le, ctx)
    from pyspark.sql import types as T
    ltype = records.df.select(col.alias("__l")).schema[0].dataType
    if isinstance(ltype, T.NullType):
        return records                  # statically-null list: no-op
    if not isinstance(ltype, T.ArrayType):
        raise PlanError(
            f"FOREACH expects a list, got {ltype.simpleString()}",
            code="InvalidArgumentType")
    cname = column_name(ev)
    body = Records(pl.session, header.added(ev, cname),
                   records.df.withColumn(cname, F.explode(col)))
    for cl in clause.clauses:
        if isinstance(cl, A.CreateClause):
            body = plan_create(pl, body, cl)
        elif isinstance(cl, A.MergeClause):
            body = plan_merge(pl, body, cl)
        elif isinstance(cl, A.SetClause):
            body = plan_set(pl, body, cl.items)
        elif isinstance(cl, A.RemoveClause):
            body = plan_set(pl, body, cl.items, remove=True)
        elif isinstance(cl, A.DeleteClause):
            body = plan_delete(pl, body, cl)
        elif isinstance(cl, A.ForeachClause):
            body = plan_foreach(pl, body, cl)
        else:                           # unreachable: grammar-enforced
            raise PlanError("FOREACH allows only updating clauses",
                            code="InvalidForeach")
    return records


# ---------------------------------------------------------------------------
# MERGE
# ---------------------------------------------------------------------------

def plan_merge(pl, records, clause: A.MergeClause):
    """MERGE = correlated OPTIONAL MATCH of the whole pattern, then CREATE
    for the rows with no match.

    Creation is deduplicated by the merge key — the bound endpoint ids
    plus every computed pattern-property value — so identical missing
    rows share one created instance, which is what openCypher's
    row-sequential semantics observably produce for key-determined
    patterns (a later row always re-matches what an earlier identical
    row created).  ON CREATE SET / ON MATCH SET apply branch-filtered.
    """
    from .planner import resolve_vars

    if records is None:
        records = _unit_records(pl)
    header = records.header
    named = pl._name_pattern(clause.pattern)
    # MERGE p = (a)-[:R]->(b): every element is bound after the merge, so
    # the path binds with the same machinery as a fixed MATCH path
    path_part = named if named.path_var is not None else None
    if path_part is not None:
        named = dataclasses.replace(named, path_var=None)

    new_node_vars = []
    for np in named.nodes:
        if np.label_expr is not None:
            raise PlanError(
                "label expressions cannot be used in MERGE patterns",
                code="InvalidLabelExpression")
        if np.where is not None:
            raise PlanError(
                "WHERE is not allowed inside a MERGE pattern",
                code="InvalidSyntax")
        hv = header.var(np.var)
        if hv is not None:
            if np.labels:
                raise PlanError(
                    f"variable {np.var!r} is already bound and cannot be "
                    "merged with new labels", code="VariableAlreadyBound")
            if not isinstance(hv, E.NodeVar):
                raise PlanError(f"variable {np.var!r} is not a node",
                                code="VariableTypeConflict")
        elif np.var not in new_node_vars:
            new_node_vars.append(np.var)
    rel_vars = []
    for rp in named.rels:
        if rp.where is not None:
            raise PlanError(
                "WHERE is not allowed inside a MERGE pattern",
                code="InvalidSyntax")
        if rp.var_length:
            raise PlanError(
                "variable-length relationships cannot be merged",
                code="CreatingVarLength")
        # an undirected MERGE relationship matches either orientation and
        # CREATEs left-to-right (openCypher MergeRelationshipAcceptance
        # "Use outgoing direction when unspecified")
        if len(rp.types) != 1:
            raise PlanError("relationships in MERGE need exactly one type",
                            code="NoSingleRelationshipType")
        if header.var(rp.var) is not None:
            raise PlanError(
                f"relationship variable {rp.var!r} is already bound",
                code="VariableAlreadyBound")
        rel_vars.append(rp.var)
    probe_vars = new_node_vars + rel_vars
    if not probe_vars:
        raise PlanError("MERGE pattern binds no new variable",
                        code="VariableAlreadyBound")
    for el in named.elements:
        for k, ve in el.props:
            if isinstance(ve, E.Lit) and ve.value is None:
                # openCypher: merging on a null property value can never
                # match and must be rejected at compile time
                raise PlanError(
                    f"cannot merge using null property value for {k!r}",
                    code="MergeNullProperty")

    # ---- 1. correlated optional match of the whole pattern ------------
    mc = A.MatchClause((named,), None, optional=True)
    matched = pl.plan_match(records, mc)
    probe_col = matched.header.col(matched.header.var(probe_vars[0]))
    hit_df = matched.df.where(F.col(probe_col).isNotNull())
    miss_df = matched.df.where(F.col(probe_col).isNull())

    # ---- 2. merge key: bound endpoint ids + computed prop values ------
    octx = ExprContext(header, records.df, pl.params)
    key_cols = []
    bound_eps = [np.var for np in named.nodes
                 if header.var(np.var) is not None]
    for v in bound_eps:
        key_cols.append(F.col(header.col(header.var(v))))
    prop_slots = []              # (owner_var, key, mk_col_name)
    for el in named.elements:
        owner = el.var
        for k, ve in el.props:
            mk = f"__mk_{len(key_cols)}"
            key_cols.append(to_column(resolve_vars(ve, header), octx))
            prop_slots.append((owner, k, mk))
    mk_names = ([f"__mkb_{i}" for i in range(len(bound_eps))]
                + [s[2] for s in prop_slots])
    # keep the FULL matched shape (probe-var columns are null here) so the
    # union with the hit branch and downstream projections resolve
    miss_src = miss_df.select(
        *matched.df.columns,
        *[c.alias(n) for c, n in zip(key_cols, mk_names)])

    dedup = miss_src.select(*mk_names).dropDuplicates()

    # create over the deduped key table: synthesize a header that binds
    # the bound endpoints (by id) and each property value column
    ded_hdr = Header({})
    for i, v in enumerate(bound_eps):
        ded_hdr = ded_hdr.added(E.NodeVar(v), f"__mkb_{i}")
    for owner, k, mk in prop_slots:
        ded_hdr = ded_hdr.added(E.Var(mk), mk)
    create_part = _pattern_with_value_refs(named, header)
    ded_records = Records(pl.session, ded_hdr, dedup)
    created = plan_create(pl, ded_records,
                          A.CreateClause((create_part,)))

    # ---- 3. join the miss rows back onto their created entities -------
    cdf = created.df
    rename = {c: f"__cr_{c}" for c in cdf.columns}
    cdf = cdf.select(*[F.col(c).alias(rename[c]) for c in cdf.columns])
    cond = None
    for n in mk_names:
        term = F.col(n).eqNullSafe(F.col(rename[n]))
        cond = term if cond is None else cond & term
    joined = miss_src.join(cdf, cond, "left")

    # replace the (all-null) probe-var columns with the created values
    probe_set = set(probe_vars)
    created_labels = {np.var: set(np.labels) for np in named.nodes
                      if np.var in set(new_node_vars)}
    derived = {}
    for e, c in matched.header.mapping.items():
        owner = _owner_var(e)
        if owner is None or owner.name not in probe_set:
            continue
        src = created.header.get(e)
        if src is not None:
            derived[c] = F.col(rename[src])
        elif isinstance(e, E.HasLabel) and owner.name in created_labels:
            # a created node carries exactly the pattern labels — any other
            # label flag the matched scan tracks is definitively false
            derived[c] = F.lit(e.label in created_labels[owner.name])
    out_cols = []
    mdf_types = dict(zip(matched.df.columns,
                         [f.dataType for f in matched.df.schema.fields]))
    for c in matched.df.columns:
        if c in derived:
            out_cols.append(derived[c].cast(mdf_types[c]).alias(c))
        else:
            out_cols.append(F.col(c))
    # created-side exprs the match scan never saw (e.g. a property on a
    # brand-new label): null on the hit side, created value on the miss side
    out_hdr = matched.header
    extra_miss, extra_hit = [], []
    for e, c in created.header.mapping.items():
        owner = _owner_var(e)
        if owner is None or owner.name not in probe_set or e in out_hdr:
            continue
        cname = column_name(e) if not isinstance(e, TypeOf) \
            else type_column_name(owner)
        if cname in matched.df.columns:
            continue
        out_hdr = out_hdr.added(e, cname)
        extra_miss.append(F.col(rename[c]).alias(cname))
        extra_hit.append(F.lit(None).alias(cname))
    miss_full = joined.select(*out_cols, *extra_miss)

    flag = "__merge_created"
    out_df = _union_aligned(
        hit_df.select("*", *extra_hit).withColumn(flag, F.lit(False)),
        miss_full.withColumn(flag, F.lit(True)))
    out = Records(pl.session, out_hdr, out_df)

    # ---- 4. ON CREATE / ON MATCH -------------------------------------
    if clause.on_create:
        out = plan_set(pl, out, clause.on_create, branch_col=flag)
    if clause.on_match:
        inv = "__merge_matched"
        out = Records(pl.session, out.header,
                      out.df.withColumn(inv, ~F.col(flag)))
        out = plan_set(pl, out, clause.on_match, branch_col=inv)
        out = out.with_df(out.df.drop(inv))
    out = out.with_df(out.df.drop(flag))
    if path_part is not None:
        out = pl._bind_path(out, path_part)
    return out


def _owner_var(e):
    if isinstance(e, E.Var):
        return e
    if isinstance(e, E.Property):
        return _owner_var(e.owner)
    if isinstance(e, E.HasLabel):
        return _owner_var(e.node)
    if isinstance(e, (E.StartNode, E.EndNode)):
        return _owner_var(e.rel)
    if isinstance(e, TypeOf):
        return _owner_var(e.rel)
    return None


def _pattern_with_value_refs(named: A.PatternPart, header) -> A.PatternPart:
    """Create-side pattern: bound endpoints become bare references, and
    every property value expression becomes a reference to its
    pre-computed merge-key column."""
    import dataclasses as _dc
    out = []
    i = 0
    n_bound = sum(1 for np in named.nodes if header.var(np.var) is not None)
    slot = [n_bound]          # running __mk index (bound keys come first)

    def subst_props(props):
        newp = []
        for k, _ve in props:
            newp.append((k, E.Var(f"__mk_{slot[0]}")))
            slot[0] += 1
        return tuple(newp)

    for el in named.elements:
        if isinstance(el, A.NodePattern):
            if header.var(el.var) is not None:
                out.append(A.NodePattern(el.var, (), (), None))
                continue
            out.append(_dc.replace(el, props=subst_props(el.props)))
        else:
            # undirected MERGE rels CREATE left-to-right
            out.append(_dc.replace(
                el, props=subst_props(el.props),
                direction="out" if el.direction == "both" else el.direction))
    return A.PatternPart(tuple(out), None)
