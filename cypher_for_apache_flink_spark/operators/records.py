"""Records = RecordHeader + DataFrame, plus the physical operator helpers.

This is the PySpark realisation of the reference's backend table contract
(okapi-relational/.../api/table/Table.scala:43-177 — 15 ops) and scan/join
machinery (ScanGraph.scala:59-105, RelationalPlanner.scala:434-563).  Each
helper transforms (header, DataFrame) pairs; nothing here executes — the
DataFrame stays lazy until the session collects (SURVEY §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..graph import (NODE_ID, PropertyGraph, REL_ID, REL_SOURCE, REL_TARGET,
                     _RESERVED_NODE, _RESERVED_REL, prop_name, prop_phys)
from ..ir import expr as E
from .columns import col, quote
from .header import Header, TypeOf, column_name, type_column_name

# Graph-prefix bits reserved in the high end of the 64-bit id space
# (Spark-first replacement for the reference's byte-prefixed binary ids:
# EncodeLong.scala:40, AddPrefix.scala — SURVEY §1.6).
PREFIX_SHIFT = 48

# Scans whose declared row count is below this get an explicit broadcast
# hint (well under the default 10 MB autoBroadcastJoinThreshold for
# dimension-shaped tables).
BROADCAST_ROW_THRESHOLD = 100_000


class Records:
    """A table of records with a header describing its columns."""

    __slots__ = ("session", "header", "df")

    def __init__(self, session, header: Header, df: DataFrame):
        self.session = session
        self.header = header
        self.df = df

    def with_df(self, df: DataFrame) -> "Records":
        return Records(self.session, self.header, df)

    def with_header(self, header: Header) -> "Records":
        return Records(self.session, header, self.df)

    def cache(self) -> "Records":
        return self.with_df(self.df.cache())


# ---------------------------------------------------------------------------
# Scans (reference: ScanGraph.scanOperator ScanGraph.scala:59-86 with
# alignment RelationalPlanner.alignExpressions :447-523)
# ---------------------------------------------------------------------------

def _prop_types(tables, reserved) -> dict:
    """Property -> DataType across element tables, the first table's type
    winning (``GraphSchema.union_props``), taken from the schemas' own
    DataType objects so no type string goes to the JVM parser.  Nested
    nullability is relaxed, as a simpleString round trip would leave it,
    so every branch can cast to it."""
    out: dict = {}
    for df in tables:
        for f in df.schema.fields:
            if f.name not in reserved:
                out.setdefault(prop_name(f.name, reserved),
                               _relaxed(f.dataType))
    return out


def _relaxed(dt):
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relaxed(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_relaxed(dt.keyType), _relaxed(dt.valueType), True)
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _relaxed(f.dataType))
                             for f in dt.fields])
    return dt


def _typed_props(df, keys, types, reserved) -> list:
    """A scan branch's property values: the column itself when it already
    has the union type, else a cast (a null when the table lacks the
    property)."""
    have = {f.name: f.dataType for f in df.schema.fields}
    out = []
    for key in keys:
        phys = prop_phys(key, reserved)
        if have.get(phys) == types[key]:
            out.append(quote(phys))
        else:
            src = F.lit(None) if phys not in have else col(phys)
            out.append(src.cast(types[key]))
    return out


def sql_str(v: str):
    """A string literal as SQL text, or a Column when it needs escaping."""
    return f"'{v}'" if "'" not in v and "\\" not in v else F.lit(v)


def aliased(v, name: str):
    """SQL text or Column ``v`` as a projection item named ``name``."""
    return f"{v} AS {quote(name)}" if isinstance(v, str) else v.alias(name)


def project(df: DataFrame, items) -> DataFrame:
    """One projection of SQL-text and (aliased) Column items.  Text items
    cost one py4j round trip each under ``selectExpr`` (when every item is
    text) and three under ``F.expr``; building the same expression with
    ``F.col`` and ``Column`` methods costs about 11 per call while
    pyspark's call-site capture is on (``columns.col``)."""
    if all(isinstance(i, str) for i in items):
        return df.selectExpr(*items)
    return df.select(*[F.expr(i) if isinstance(i, str) else i
                       for i in items])


def _aligned(session, graph: PropertyGraph, key, var_name: str,
             header: Header, branches, counts) -> Records:
    """Scan records over the graph's memoized aligned frame for ``key``.

    The frame is built once per graph (element tables are fixed and
    mutation returns a new graph): ``branches()`` yields each table with
    its values in header order, projected to positional ``_0 .. _n``
    columns and unioned.  A variable names the columns with one ``toDF``,
    memoized too, so a variable name that recurs across queries (query
    templates) scans without a py4j round trip."""
    memo = graph._aligned_scans
    named = memo.get((*key, var_name))
    if named is None:
        df = memo.get(key)
        if df is None:
            for t, values in branches():
                b = project(t, [aliased(v, f"_{i}")
                                for i, v in enumerate(values)])
                df = b if df is None else df.unionByName(b)
            if all(n is not None for n in counts) and \
                    sum(counts) <= BROADCAST_ROW_THRESHOLD:
                df = F.broadcast(df)
            memo[key] = df
        named = memo[(*key, var_name)] = df.toDF(*header.columns())
    return Records(session, header, named)


def scan_nodes(session, graph: PropertyGraph, var_name: str,
               labels: frozenset = frozenset()) -> Records:
    """Union-aligned scan of all node tables whose label combo ⊇ labels.

    Each branch projects:  id  →  var column,  literal true/false per label,
    null-filled property columns — so Catalyst sees a ``Union`` of parquet
    scans with pruned columns; a label predicate on top folds literal-false
    branches away entirely (the planner also prunes here, which is the
    graph-side partition pruning of ScanGraph.scansForType).
    """
    var = E.NodeVar(var_name)
    combos = graph.schema.combos_with(labels)
    all_labels = sorted(set().union(*combos)) if combos else sorted(labels)
    props = graph.schema.union_props(combos)

    header = Header({var: column_name(var)})
    for lbl in all_labels:
        e = E.HasLabel(var, lbl)
        header = header.added(e)
    for key in sorted(props):
        e = E.Property(var, key)
        header = header.added(e)

    if not combos:
        return empty_records(session, header)

    def branches():
        types = _prop_types([graph.node_tables[c] for c in combos],
                            _RESERVED_NODE)
        for combo in combos:
            df = graph.node_tables[combo]
            yield df, [f"CAST({quote(NODE_ID)} AS BIGINT)",
                       *[str(lbl in combo).lower() for lbl in all_labels],
                       *_typed_props(df, sorted(props), types,
                                     _RESERVED_NODE)]

    return _aligned(session, graph, ("nodes", frozenset(labels)), var_name,
                    header, branches, [graph.stats.get(c) for c in combos])


def scan_rels(session, graph: PropertyGraph, var_name: str,
              types: tuple = ()) -> Records:
    """Union-aligned scan of relationship tables (all types, or the given
    subset — type pruning happens here, not in a filter)."""
    var = E.RelVar(var_name)
    rtypes = sorted(types) if types else sorted(graph.rel_tables)
    rtypes = tuple(t for t in rtypes if t in graph.rel_tables)

    props: dict = {}
    for t in rtypes:
        for k, dt in graph.schema.rel_props[t].items():
            props.setdefault(k, dt)

    header = Header({var: column_name(var)})
    header = header.added(E.StartNode(var))
    header = header.added(E.EndNode(var))
    header = header.added(TypeOf(var), type_column_name(var))
    for key in sorted(props):
        header = header.added(E.Property(var, key))

    if not rtypes:
        return empty_records(session, header)

    def branches():
        types = _prop_types([graph.rel_tables[t] for t in rtypes],
                            _RESERVED_REL)
        for t in rtypes:
            df = graph.rel_tables[t]
            yield df, [f"CAST({quote(REL_ID)} AS BIGINT)",
                       f"CAST({quote(REL_SOURCE)} AS BIGINT)",
                       f"CAST({quote(REL_TARGET)} AS BIGINT)",
                       sql_str(t),
                       *_typed_props(df, sorted(props), types,
                                     _RESERVED_REL)]

    return _aligned(session, graph, ("rels", rtypes), var_name, header,
                    branches, [graph.stats.get(t) for t in rtypes])


def scan_pattern(session, graph: PropertyGraph, rel_var_name: str,
                 rel_type: str, dst_var_name: str) -> Records:
    """Scan a materialized triplet table: relationship + destination node in
    one read, no join (reference: replaceScansWithRecognizedPatterns /
    TripletPattern — Pattern.scala:182, LogicalOptimizer.scala:67-134)."""
    df, dst_combo = graph.pattern_tables[rel_type]
    rvar = E.RelVar(rel_var_name)
    dvar = E.NodeVar(dst_var_name)

    rel_props = graph.schema.rel_props[rel_type]
    dst_props = graph.schema.union_props([dst_combo])

    header = Header({rvar: column_name(rvar)})
    header = header.added(E.StartNode(rvar))
    header = header.added(E.EndNode(rvar))
    header = header.added(TypeOf(rvar), type_column_name(rvar))
    items = [
        aliased(f"CAST({quote(REL_ID)} AS BIGINT)", column_name(rvar)),
        aliased(f"CAST({quote(REL_SOURCE)} AS BIGINT)",
                column_name(E.StartNode(rvar))),
        aliased(f"CAST({quote(REL_TARGET)} AS BIGINT)",
                column_name(E.EndNode(rvar))),
        aliased(sql_str(rel_type), type_column_name(rvar)),
    ]
    for key in sorted(rel_props):
        e = E.Property(rvar, key)
        header = header.added(e)
        items.append(aliased(quote(prop_phys(key, _RESERVED_REL)),
                             column_name(e)))
    # destination node rides along: id = target, labels literal, props t_*
    header = header.added(dvar, column_name(E.EndNode(rvar)))
    for lbl in sorted(dst_combo):
        e = E.HasLabel(dvar, lbl)
        header = header.added(e)
        items.append(aliased("true", column_name(e)))
    for key in sorted(dst_props):
        e = E.Property(dvar, key)
        header = header.added(e)
        items.append(aliased(quote("t_" + prop_phys(key, _RESERVED_NODE)),
                             column_name(e)))
    return Records(session, header, project(df, items))


def empty_records(session, header: Header) -> Records:
    # column types match what a non-empty scan would produce: the rel-type
    # column is a string, label flags are boolean, ids are long — so unions
    # against created/matched rows (mutation MERGE) align without casts
    by_col: dict = {}
    for e, c in header.mapping.items():
        if isinstance(e, TypeOf):
            by_col[c] = T.StringType()
        elif isinstance(e, E.HasLabel):
            by_col.setdefault(c, T.BooleanType())
    fields = [T.StructField(c, by_col.get(c, T.LongType()))
              for c in header.columns()]
    df = session.spark.createDataFrame([], T.StructType(fields))
    return Records(session, header, df)


# ---------------------------------------------------------------------------
# Join / union (reference: RelationalOperator.Join :423, withDisjointColumnNames
# RelationalPlanner.scala:524-545, TabularUnionAll :451)
# ---------------------------------------------------------------------------

def join_records(lhs: Records, rhs: Records, pairs, how: str = "inner",
                 extra_cond=None) -> Records:
    """Join on (lhs_expr, rhs_expr) pairs.  Always rename-before-join so the
    two plans never share column names (Catalyst ambiguity discipline —
    SURVEY §4.3); rhs join columns are dropped afterwards and their exprs
    remapped onto the lhs columns.

    ``extra_cond(merged_header) -> Column`` contributes additional join
    predicates compiled against the post-rename merged header — used for
    correlated OPTIONAL MATCH predicates, which must null-pad (join
    condition) rather than drop rows (post-join filter)."""
    lcols = [lhs.header.col(le) for le, _ in pairs]
    rcols = [rhs.header.col(re_) for _, re_ in pairs]

    # Disjointness: rename every rhs column that collides with an lhs column.
    lset = set(lhs.df.columns)
    rnames = rhs.df.columns
    rename = {c: f"__r_{c}" for c in rnames if c in lset}
    rdf = rhs.df.toDF(*[rename.get(c, c) for c in rnames]) if rename \
        else rhs.df
    rheader = rhs.header.renamed(rename)

    if pairs or extra_cond is not None:
        cond = F.expr(" AND ".join(
            f"{quote(lc)} = {quote(rename.get(rc, rc))}"
            for lc, rc in zip(lcols, rcols))) if pairs else None
        if extra_cond is not None:
            # lhs entries win key collisions (shared vars resolve left)
            merged = Header({**rheader.mapping, **lhs.header.mapping})
            ec = extra_cond(merged)
            cond = ec if cond is None else (cond & ec)
        joined = lhs.df.join(rdf, cond, how)
    else:
        joined = lhs.df.crossJoin(rdf) if how == "cross" else \
            lhs.df.join(rdf, F.lit(True), how)

    if how in ("left_semi", "left_anti"):
        return Records(lhs.session, lhs.header, joined)

    # Drop rhs join columns; remap their exprs (and aliases of them) to lhs.
    merged = dict(lhs.header.mapping)
    rjoin_cols = {rename.get(c, c): lhs.header.col(le)
                  for (le, _), c in zip(pairs, rcols)}
    for e, c in rheader.mapping.items():
        if c in rjoin_cols:
            merged.setdefault(e, rjoin_cols[c])
        else:
            merged.setdefault(e, c)
    # Orphaned rhs columns: physical rhs columns whose every expr already
    # resolved to an lhs column (shared variables in OPTIONAL MATCH / EXISTS
    # — the rhs copy of the element's sub-columns is redundant).
    used = set(merged.values())
    drop = list(rjoin_cols) + [
        c for c in (rename.get(c, c) for c in rnames)
        if c not in rjoin_cols and c not in used]
    if drop:
        joined = joined.drop(*drop)
    return Records(lhs.session, Header(merged), joined)


def union_records(lhs: Records, rhs: Records) -> Records:
    """UNION ALL with by-name alignment (RelationalOperator.scala:474-480).
    Headers must describe the same expression set."""
    lnames = lhs.df.columns
    rdf, rnames = rhs.df, rhs.df.columns
    if set(lnames) != set(rnames):
        # Align rhs physical names via shared exprs.
        rename = {}
        for e, c in rhs.header.mapping.items():
            lc = lhs.header.get(e)
            if lc is not None and lc != c:
                rename[c] = lc
        rnames = [rename.get(c, c) for c in rnames]
        rdf = rdf.toDF(*rnames)
    if rnames != lnames:
        rdf = rdf.selectExpr(*map(quote, lnames))
    return lhs.with_df(lhs.df.unionByName(rdf))


# ---------------------------------------------------------------------------
# Graph union id-prefixing (reference: PrefixId / AddPrefix — SURVEY §1.6)
# ---------------------------------------------------------------------------

def prefixed_graph(g: PropertyGraph, index: int, total: int) -> PropertyGraph:
    if total <= 1:
        return g
    shift = F.lit(index << PREFIX_SHIFT).cast("long")

    def prefix(df, cols):
        out = df
        for c in cols:
            out = out.withColumn(c, (F.col(c).cast("long") + shift))
        return out

    nodes = {combo: prefix(df, [NODE_ID]) for combo, df in g.node_tables.items()}
    rels = {t: prefix(df, [REL_ID, REL_SOURCE, REL_TARGET])
            for t, df in g.rel_tables.items()}
    return PropertyGraph(nodes, rels, name=f"{g.name}_p{index}")
