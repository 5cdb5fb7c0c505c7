"""CypherSession: graph catalog + query entry point.

Reference: ``CypherSession`` / ``RelationalCypherSession``
(okapi-api/.../api/graph/CypherSession.scala:42-99,
okapi-relational/.../api/graph/RelationalCypherSession.scala:130-266).
The result stays lazy: planning composes one DataFrame expression and the
only cluster-side actions are the terminal collect/count/show/write
(SURVEY §3 step 7).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph import PropertyGraph
from .operators.columns import quote
from .parser.parser import parse, parse_parameterized
from .plans.planner import Planner

_CATALOG_RE = re.compile(
    r"^CATALOG\s+(CREATE|DELETE)\s+GRAPH\s+([A-Za-z_][A-Za-z0-9_.]*)"
    r"\s*(?:\{(.*)\})?\s*$",
    re.IGNORECASE | re.DOTALL)

# CATALOG CREATE VIEW v($g1, $g2) { FROM GRAPH $g1 ... RETURN GRAPH }
# (CatalogDDLTests.scala parameterized graph views.)
_CATALOG_VIEW_RE = re.compile(
    r"^CATALOG\s+(CREATE|DELETE)\s+VIEW\s+([A-Za-z_][A-Za-z0-9_.]*)"
    r"\s*(?:\(([^)]*)\))?\s*(?:\{(.*)\})?\s*$",
    re.IGNORECASE | re.DOTALL)


def _pytime(v):
    """Row with a TIME/LOCALTIME/Any struct signature -> the Python value
    (recursing into lists and nested Rows); everything else passes
    through."""
    import datetime as _dt

    from pyspark.sql import Row

    from .operators.anyvalue import _FIELDS as _ANY_FIELDS, decode_any_py
    if isinstance(v, Row):
        f = tuple(v.__fields__)
        if f == _ANY_FIELDS:
            return decode_any_py(v)
        if f == ("time_us", "tz_us") and v.time_us is not None:
            us = v.time_us
            return _dt.time(
                us // 3_600_000_000, us // 60_000_000 % 60,
                us // 1_000_000 % 60, us % 1_000_000,
                tzinfo=_dt.timezone(_dt.timedelta(microseconds=v.tz_us)))
        if f == ("localtime_us",) and v.localtime_us is not None:
            us = v.localtime_us
            return _dt.time(us // 3_600_000_000, us // 60_000_000 % 60,
                            us // 1_000_000 % 60, us % 1_000_000)
        if f == ("epoch_us", "tz_us", "zone") and v.epoch_us is not None:
            # zoned datetime: a named zone hydrates through zoneinfo so
            # rendering keeps the [Zone/Name] designator
            if v.zone and not v.zone[0] in "+-Z":
                from zoneinfo import ZoneInfo
                tz = ZoneInfo(v.zone)
            else:
                tz = _dt.timezone(_dt.timedelta(microseconds=v.tz_us))
            return (_dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                    + _dt.timedelta(microseconds=v.epoch_us)).astimezone(tz)
        # generic struct (map value): decode any nested Any/temporal fields
        if any(isinstance(x, (Row, list)) for x in v):
            return Row(**{k: _pytime(x) for k, x in zip(f, v)})
        return v
    if isinstance(v, list):
        return [_pytime(x) for x in v]
    return v


class CypherResult:
    """Lazy query result; ``df`` has user-facing column names.  Queries
    ending in RETURN GRAPH set ``graph`` instead (empty table)."""

    def __init__(self, records, outputs, graph: PropertyGraph | None = None,
                 source_graph: PropertyGraph | None = None):
        self.records = records
        self.outputs = outputs
        self.graph = graph
        # the graph the query ran against — lets to_maps() hydrate RETURNed
        # path values (node/rel id arrays) into full entities
        self.source_graph = source_graph

    @property
    def df(self) -> DataFrame:
        cols = []
        seen = set()
        for name, phys in self.outputs:
            if name in seen:
                continue
            seen.add(name)
            cols.append(f"{quote(phys)} AS {quote(name)}")
        return self.records.df.selectExpr(*cols)

    def collect(self):
        return self.df.collect()

    def to_bag(self):
        """Multiset of row-dicts (the reference's Bag comparison —
        okapi-testing/.../Bag.scala)."""
        from collections import Counter
        return Counter(tuple(sorted(r.asDict().items(), key=lambda kv: kv[0]))
                       for r in self.collect())

    def to_maps(self):
        """Rows as dicts with full ENTITY values (the reference's
        ``records.toMaps`` — CypherMap with MorpheusNode/Relationship): a
        returned node renders as {"id", "labels", "properties"}, a returned
        relationship as {"id", "source", "target", "type", "properties"};
        scalar columns pass through unchanged."""
        from .ir import expr as E
        from .operators.header import TypeOf

        h = self.records.header
        plans = []   # (name, kind, extras)
        sel = []
        seen = set()
        for name, phys in self.outputs:
            if name in seen:
                continue
            seen.add(name)
            v = h.var(name)
            if isinstance(v, (E.ListNodeVar, E.ListRelVar)) \
                    and self.source_graph is not None:
                # a list of entity ids (var-length rels, collect(n),
                # nodes(p)/relationships(p)): hydrate ids into entities
                plans.append((
                    name,
                    "node_list" if isinstance(v, E.ListNodeVar)
                    else "rel_list", None))
                sel.append(F.col(phys).alias(name))
            elif isinstance(v, E.NodeVar) or (
                    isinstance(v, E.Var) and not isinstance(v, E.RelVar)
                    and v is not None and any(
                        isinstance(e, E.HasLabel) and e.node == v
                        for e in h.exprs())):
                labels = sorted((e.label, h.col(e)) for e in h.exprs()
                                if isinstance(e, E.HasLabel) and e.node == v)
                props = sorted((e.key, h.col(e)) for e in h.exprs()
                               if isinstance(e, E.Property) and e.owner == v)
                plans.append((name, "node", (labels, props)))
                sel.append(F.col(phys).alias(f"__id_{name}"))
                sel += [F.col(c).alias(f"__l_{name}_{i}")
                        for i, (_, c) in enumerate(labels)]
                sel += [F.col(c).alias(f"__p_{name}_{i}")
                        for i, (_, c) in enumerate(props)]
            elif isinstance(v, E.RelVar):
                props = sorted((e.key, h.col(e)) for e in h.exprs()
                               if isinstance(e, E.Property) and e.owner == v)
                src = h.get(E.StartNode(v))
                dst = h.get(E.EndNode(v))
                typ = h.get(TypeOf(v))
                plans.append((name, "rel", props))
                sel.append(F.col(phys).alias(f"__id_{name}"))
                sel.append((F.col(src) if src else F.lit(None)).alias(f"__s_{name}"))
                sel.append((F.col(dst) if dst else F.lit(None)).alias(f"__t_{name}"))
                sel.append((F.col(typ) if typ else F.lit(None)).alias(f"__y_{name}"))
                sel += [F.col(c).alias(f"__p_{name}_{i}")
                        for i, (_, c) in enumerate(props)]
            else:
                dt = dict(self.records.df.dtypes).get(phys)
                path_dt = "struct<nodes:array<bigint>,rels:array<bigint>>"
                if dt == path_dt and self.source_graph is not None:
                    # a named path: hydrate its id arrays into entities
                    plans.append((name, "path", None))
                elif dt == f"array<{path_dt}>" \
                        and self.source_graph is not None:
                    # a collected list of paths (pattern comprehension)
                    plans.append((name, "path_list", None))
                else:
                    plans.append((name, "scalar", None))
                sel.append(F.col(phys).alias(name))

        rows = self.records.df.select(*sel).collect()
        node_lu, rel_lu = self._path_entity_lookup(plans, rows)
        out = []
        for r in rows:
            d = {}
            for name, kind, extra in plans:
                if kind == "scalar":
                    d[name] = _pytime(r[name])
                elif kind == "path":
                    p = r[name]
                    d[name] = None if p is None else {
                        "nodes": [node_lu.get(i) for i in p["nodes"]],
                        "rels": [rel_lu.get(i) for i in p["rels"]],
                    }
                elif kind == "path_list":
                    arr = r[name]
                    d[name] = None if arr is None else [
                        {"nodes": [node_lu.get(i) for i in p["nodes"]],
                         "rels": [rel_lu.get(i) for i in p["rels"]]}
                        for p in arr]
                elif kind == "node_list":
                    arr = r[name]
                    d[name] = None if arr is None else \
                        [node_lu.get(i) for i in arr]
                elif kind == "rel_list":
                    arr = r[name]
                    d[name] = None if arr is None else \
                        [rel_lu.get(i) for i in arr]
                elif kind == "node":
                    labels, props = extra
                    d[name] = {
                        "id": r[f"__id_{name}"],
                        "labels": {lbl for i, (lbl, _) in enumerate(labels)
                                   if r[f"__l_{name}_{i}"]},
                        "properties": {k: r[f"__p_{name}_{i}"]
                                       for i, (k, _) in enumerate(props)
                                       if r[f"__p_{name}_{i}"] is not None},
                    }
                else:
                    props = extra
                    d[name] = {
                        "id": r[f"__id_{name}"],
                        "source": r[f"__s_{name}"],
                        "target": r[f"__t_{name}"],
                        "type": r[f"__y_{name}"],
                        "properties": {k: r[f"__p_{name}_{i}"]
                                       for i, (k, _) in enumerate(props)
                                       if r[f"__p_{name}_{i}"] is not None},
                    }
            out.append(d)
        return out

    def _path_entity_lookup(self, plans, rows):
        """id -> entity dicts for every node/rel id referenced by a path
        column in ``rows``.  Driver-side and bounded by the (already
        collected) result size; the per-table probes are id-IN-set filtered
        scans."""
        hydrated = ("path", "path_list", "node_list", "rel_list")
        if not any(kind in hydrated for _, kind, _ in plans):
            return {}, {}
        node_ids, rel_ids = set(), set()
        for r in rows:
            for name, kind, _ in plans:
                if kind not in hydrated or r[name] is None:
                    continue
                if kind == "path":
                    node_ids.update(r[name]["nodes"])
                    rel_ids.update(r[name]["rels"])
                elif kind == "path_list":
                    for p in r[name]:
                        node_ids.update(p["nodes"])
                        rel_ids.update(p["rels"])
                elif kind == "node_list":
                    node_ids.update(i for i in r[name] if i is not None)
                else:
                    rel_ids.update(i for i in r[name] if i is not None)
        g = self.source_graph
        node_lu, rel_lu = {}, {}
        if node_ids:
            for combo, df in g.node_tables.items():
                hit = df.where(F.col("id").isin(*node_ids)).collect()
                for row in hit:
                    d = row.asDict()
                    ent = node_lu.setdefault(d["id"], {
                        "id": d["id"], "labels": set(), "properties": {}})
                    ent["labels"] |= set(combo)
                    ent["properties"].update(
                        {k: v for k, v in d.items()
                         if k != "id" and v is not None})
        if rel_ids:
            for rtype, df in g.rel_tables.items():
                hit = df.where(F.col("id").isin(*rel_ids)).collect()
                for row in hit:
                    d = row.asDict()
                    rel_lu[d["id"]] = {
                        "id": d["id"], "source": d["source"],
                        "target": d["target"], "type": rtype,
                        "properties": {k: v for k, v in d.items()
                                       if k not in ("id", "source", "target")
                                       and v is not None}}
        return node_lu, rel_lu

    def cache(self) -> "CypherResult":
        """Persist the underlying table (reference: Cache operator /
        CacheTests) — reuse across several terminal actions."""
        self.records = self.records.cache()
        return self

    def show(self, n: int = 20):
        self.df.show(n)

    def explain(self, mode: str = "formatted"):
        self.df.explain(mode)


_UNFREEZABLE = object()
#: plan-cache admission marker: a key seen ONCE.  Entries are admitted on
#: the SECOND sighting (2Q-style), so one-shot queries — ad-hoc
#: exploration, test corpora — retain ~100 bytes instead of a fully
#: analyzed plan + the checkpoints it reads.  (Round 8: first-use
#: admission held up to PLAN_CACHE_MAX analyzed plans per session and a
#: 1,784-scenario TCK run exhausted a 4g driver heap.)  A repeated
#: dashboard replans its queries exactly twice, then hits forever — the
#: amortized win the cache exists for is unchanged.
_SEEN_ONCE = object()


def _freeze(v):
    """Deep-freeze a parameter binding into a hashable plan-cache key;
    ``_UNFREEZABLE`` = skip the cache for this query."""
    if isinstance(v, dict):
        out = []
        for k in sorted(v):
            fv = _freeze(v[k])
            if fv is _UNFREEZABLE:
                return _UNFREEZABLE
            out.append((k, fv))
        return ("__map__",) + tuple(out)
    if isinstance(v, (list, tuple)):
        out = []
        for x in v:
            fv = _freeze(x)
            if fv is _UNFREEZABLE:
                return _UNFREEZABLE
            out.append(fv)
        return ("__list__",) + tuple(out)
    if isinstance(v, (str, int, float, bool, bytes)) or v is None:
        return (type(v).__name__, v)
    return _UNFREEZABLE


class CypherSession:
    """Session catalog of named property graphs + ``cypher()`` entry."""

    #: planned-query cache capacity (LRU; per session)
    PLAN_CACHE_MAX = 128

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or SparkSession.builder.getOrCreate()
        self.catalog: dict[str, PropertyGraph] = {}
        # name -> (param names, body text) graph views (CatalogDDLTests)
        self.views: dict[str, tuple] = {}
        # name -> procedures.Procedure (CALL ... YIELD ...); pre-seeded
        # with the built-in algo.* graph algorithms (GDS-style surface)
        from .procedures import builtin_graph_procedures
        self.procedures: dict = {p.name: p
                                 for p in builtin_graph_procedures()}
        # Plan cache: (skeleton, graph id, frozen params) -> planner
        # output.  The reference extracts literals to parameters precisely
        # for this (CypherParser.scala:72,
        # RelationalCypherSession.scala:146-149); here the planned
        # DataFrame itself is reused, so a dashboard re-issuing the same
        # dozen queries skips parsing AND planning AND Catalyst analysis.
        # Sound because PropertyGraphs are immutable (mutation returns a
        # NEW graph) and plans embed no session state — the epoch counter
        # invalidates on catalog/view/procedure (re)registration.
        self._plan_cache: dict = {}
        self._plan_epoch = 0
        self.plan_cache_stats = {"hits": 0, "misses": 0}

    def register_procedure(self, proc) -> None:
        """Register a :class:`~.procedures.Procedure` for ``CALL``."""
        self.procedures[proc.name] = proc
        self._plan_epoch += 1

    @classmethod
    def for_graph(cls, graph: PropertyGraph) -> "CypherSession":
        spark = None
        for df in list(graph.node_tables.values()) + list(graph.rel_tables.values()):
            spark = df.sparkSession
            break
        s = cls(spark)
        s.register(graph.name, graph)
        return s

    # -- catalog (CypherSession.scala:70-83) ----------------------------
    def register(self, name: str, graph: PropertyGraph) -> None:
        self.catalog[name] = graph
        self._plan_epoch += 1

    def deregister(self, name: str) -> None:
        self.catalog.pop(name, None)
        self._plan_epoch += 1

    def graph(self, name: str) -> PropertyGraph:
        # Graphs shadow views of the same name (CatalogDDLTests "can still
        # resolve a graph when a view with the same name exists").
        if name in self.catalog:
            return self.catalog[name]
        if name in self.views:
            return self.view_graph(name, ())
        raise KeyError(f"no graph or view named {name!r}")

    def view_graph(self, name: str, args: tuple) -> PropertyGraph:
        """Instantiate a catalog view: substitute the graph-name arguments
        for the view's `$param` placeholders and run its body."""
        if name not in self.views:
            raise KeyError(f"no view named {name!r}")
        params, body = self.views[name]
        if len(args) != len(params):
            raise ValueError(
                f"view {name} takes {len(params)} graph argument(s), "
                f"got {len(args)}")
        text = body
        for p, a in zip(params, args):
            if a not in self.catalog and a not in self.views:
                raise KeyError(f"view argument {a!r} is not a catalog graph")
            text = re.sub(r"\$" + re.escape(p) + r"\b", a, text)
        res = self.cypher(text)
        if res.graph is None:
            raise ValueError(f"view {name} body must RETURN GRAPH")
        return res.graph

    # -- graph construction helpers ------------------------------------
    def create_graph(self, name: str, nodes: dict, rels: dict | None = None
                     ) -> PropertyGraph:
        g = PropertyGraph(nodes, rels or {}, name=name)
        self.register(name, g)
        return g

    # -- query ----------------------------------------------------------
    def cypher(self, query: str, params: dict | None = None,
               graph: PropertyGraph | str | None = None,
               driving_table: DataFrame | None = None,
               procedures=None) -> CypherResult:
        """Run a Cypher query.  ``driving_table`` threads an input DataFrame
        into the plan as the initial scope (reference: DrivingTable leaf —
        LogicalOperator.scala:342, RelationalPlanner.scala:90): each of its
        columns is a bound scalar variable in the first clause."""
        stmt = _CATALOG_RE.match(query.strip())
        if stmt:
            return self._catalog_statement(stmt, params)
        vstmt = _CATALOG_VIEW_RE.match(query.strip())
        if vstmt:
            return self._view_statement(vstmt)
        if isinstance(graph, str):
            graph = self.catalog[graph]
        if graph is None:
            if not self.catalog:
                raise ValueError("no graph registered")
            # Multi-graph catalogs: first registered graph is the default;
            # the query can switch with FROM GRAPH, or pass graph=...
            graph = next(iter(self.catalog.values()))
        # Literal->parameter extraction: same-shaped queries share a cached
        # AST skeleton; the literal values are rebound as auto-params.
        ast, auto_params, skeleton = parse_parameterized(query)
        if params:
            auto_params.update(params)
        if procedures:
            for p in procedures:
                self.register_procedure(p)

        # ---- plan cache -------------------------------------------------
        # Key on the skeleton + the EXACT parameter values: this engine
        # resolves plan-time constants (LIMIT, label pruning, index
        # literals) while planning, so a plan is reusable only for an
        # identical binding — which is exactly the repeated-dashboard /
        # pipeline-loop case the cache exists for.
        key = None
        admit = False
        if driving_table is None and not procedures:
            fp = _freeze(auto_params)
            if fp is not _UNFREEZABLE:
                key = (skeleton, id(graph), self._plan_epoch, fp)
                hit = self._plan_cache.get(key)
                if hit is _SEEN_ONCE:
                    # second sighting: replan once more and ADMIT below
                    admit = True
                # id() keys can be reused after GC: verify graph identity
                elif hit is not None and hit[0]() is graph:
                    self.plan_cache_stats["hits"] += 1
                    _, records, outputs, src_graph = hit
                    # LRU touch
                    self._plan_cache[key] = self._plan_cache.pop(key)
                    return CypherResult(records, outputs, graph=None,
                                        source_graph=src_graph)
                self.plan_cache_stats["misses"] += 1

        planner = Planner(self, graph, auto_params)
        initial = None
        if driving_table is not None:
            from .ir import expr as E
            from .operators.header import Header
            from .operators.records import Records
            initial = Records(
                self, Header({E.Var(c): c for c in driving_table.columns}),
                driving_table)
        records, outputs = planner.plan(ast, initial)
        # entity/path hydration must see the writes of a mutating query —
        # the planner's final working graph, not the input snapshot
        hydration_graph = planner.graph if getattr(planner, "_mutated",
                                                   False) else graph
        if key is not None and planner.result_graph is None \
                and not getattr(planner, "_mutated", False):
            # cache only pure tabular reads; mutation/CONSTRUCT results
            # carry graphs whose ids must mint fresh per execution.
            # Admission on SECOND use (see _SEEN_ONCE): the first sighting
            # stores only a marker, so one-shot queries never pin plans.
            import weakref
            if len(self._plan_cache) >= self.PLAN_CACHE_MAX:
                self._plan_cache.pop(next(iter(self._plan_cache)))
            self._plan_cache[key] = (
                (weakref.ref(graph), records, outputs, hydration_graph)
                if admit else _SEEN_ONCE)
        return CypherResult(records, outputs, graph=planner.result_graph,
                            source_graph=hydration_graph)

    def _catalog_statement(self, stmt, params) -> "CypherResult":
        """CATALOG CREATE GRAPH name { inner query } / CATALOG DELETE GRAPH
        name (reference: RelationalCypherSession.scala:179-195)."""
        action, name, inner = stmt.group(1).lower(), stmt.group(2), stmt.group(3)
        if action == "create":
            res = self.cypher(inner, params=params)
            if res.graph is None:
                raise ValueError("CATALOG CREATE GRAPH inner query must "
                                 "RETURN GRAPH")
            self.register(name, res.graph)
            return res
        self.deregister(name)
        from .operators.header import Header
        from .operators.records import Records
        empty = Records(self, Header({}), self.spark.range(0).select())
        return CypherResult(empty, [])

    def _view_statement(self, stmt) -> "CypherResult":
        """CATALOG CREATE VIEW name($p, ...) { body } / CATALOG DELETE VIEW
        (CatalogDDLTests parameterized views).  The body is stored as text
        and instantiated per invocation — `FROM GRAPH name(g1, ...)`."""
        action, name, raw_params, body = (stmt.group(1).lower(), stmt.group(2),
                                          stmt.group(3), stmt.group(4))
        if action == "create":
            if not body:
                raise ValueError("CATALOG CREATE VIEW needs a { body }")
            params = []
            for p in (raw_params or "").split(","):
                p = p.strip()
                if p:
                    if not p.startswith("$"):
                        raise ValueError(
                            f"view parameters are $names, got {p!r}")
                    params.append(p[1:])
            self.views[name] = (tuple(params), body)
            self._plan_epoch += 1
        else:
            self.views.pop(name, None)
            self._plan_epoch += 1
        from .operators.header import Header
        from .operators.records import Records
        empty = Records(self, Header({}), self.spark.range(0).select())
        return CypherResult(empty, [])

    def sql(self, query: str) -> DataFrame:
        """Escape hatch (MorpheusSession.sql — MorpheusSession.scala:84)."""
        return self.spark.sql(query)
