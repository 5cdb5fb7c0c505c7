"""Property graph = a bag of element DataFrames plus an explicit schema.

Reference model: ``ScanGraph[T](scans, schema)`` (okapi-relational/.../impl/
graph/ScanGraph.scala:43) over ``ElementTable``s (okapi-relational/.../api/io/
ElementTable.scala:43) whose ``ElementMapping`` declares id/source/target/
label/property columns (okapi-api/.../api/io/conversion/ElementMapping.scala:53).

Spark-first simplifications (SURVEY §1.6, §7.1):
 - ids are plain ``LongType`` (no binary encoding — the reference's own JMH
   harness ranks long join keys fastest; EncodeLong.scala:40 is obsolete here);
 - node tables are keyed by *label combination* (frozenset of labels), rel
   tables by relationship type — exactly one DataFrame per combo/type, which is
   the reference's on-disk layout (GraphDirectoryStructure.scala);
 - every node DataFrame has column ``id`` + property columns; every rel
   DataFrame has ``id, source, target`` + property columns (FIXTURES.md).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

NODE_ID = "id"
REL_ID = "id"
REL_SOURCE = "source"
REL_TARGET = "target"

_RESERVED_NODE = {NODE_ID}
_RESERVED_REL = {REL_ID, REL_SOURCE, REL_TARGET}

# A *property* spelled like a reserved column ("id", "source", "target" —
# common in user data and throughout the openCypher TCK fixtures) is stored
# in element tables under this escape prefix; the schema and the scans map
# between the property name and its physical column in both directions.
PROP_ESCAPE = "prop__"


def prop_phys(key: str, reserved: set) -> str:
    """Physical column name for property ``key`` in an element table."""
    return PROP_ESCAPE + key if key in reserved else key


def prop_name(col: str, reserved: set) -> str:
    """Property name for a physical element-table column."""
    return col[len(PROP_ESCAPE):] if col.startswith(PROP_ESCAPE) else col


@dataclass
class GraphSchema:
    """Explicit, per-label-combination schema (reference:
    PropertyGraphSchema.scala:62-165).  Property types are Spark simpleString
    type names (e.g. ``bigint``, ``string``, ``array<float>``)."""

    node_props: dict = field(default_factory=dict)   # frozenset[str] -> {prop: dtype}
    rel_props: dict = field(default_factory=dict)    # str -> {prop: dtype}
    patterns: set = field(default_factory=set)       # (src_combo, rel_type, dst_combo)

    @property
    def labels(self) -> set:
        out = set()
        for combo in self.node_props:
            out |= combo
        return out

    @property
    def relationship_types(self) -> set:
        return set(self.rel_props)

    def combos_with(self, labels) -> list:
        """Label combinations containing all ``labels`` (scan pruning —
        ScanGraph.scansForType, ScanGraph.scala:89-105)."""
        want = frozenset(labels)
        return [c for c in self.node_props if want <= c]

    def union_props(self, combos) -> dict:
        """Property name -> dtype union across combos (first wins on conflict,
        mirroring the reference's schema join semantics)."""
        out: dict = {}
        for c in combos:
            for k, t in self.node_props[c].items():
                out.setdefault(k, t)
        return out

    def to_json(self) -> str:
        return json.dumps({
            "nodes": [{"labels": sorted(c), "properties": p}
                      for c, p in sorted(self.node_props.items(), key=lambda kv: sorted(kv[0]))],
            "relationships": [{"type": t, "properties": p}
                              for t, p in sorted(self.rel_props.items())],
            "patterns": sorted([sorted(s), t, sorted(d)] for s, t, d in self.patterns),
        }, indent=2)

    @classmethod
    def from_json(cls, text: str) -> "GraphSchema":
        raw = json.loads(text)
        return cls(
            node_props={frozenset(n["labels"]): dict(n["properties"]) for n in raw["nodes"]},
            rel_props={r["type"]: dict(r["properties"]) for r in raw["relationships"]},
            patterns={(frozenset(s), t, frozenset(d)) for s, t, d in raw.get("patterns", [])},
        )


class PropertyGraph:
    """A queryable property graph over plain DataFrames.

    ``node_tables``: {frozenset(labels): DataFrame(id, *props)}
    ``rel_tables``:  {rel_type: DataFrame(id, source, target, *props)}
    """

    def __init__(self, node_tables: dict, rel_tables: dict | None = None,
                 name: str = "graph", stats: dict | None = None):
        self.name = name
        # Optional row-count hints {frozenset(labels) | rel_type: rows}.
        # Scans of provably small element tables get an explicit broadcast
        # hint: derived unions have no file statistics, so at cluster scale
        # AQE may not see that a Region/Nation dimension is 5/25 rows.
        self.stats: dict = dict(stats or {})
        # Materialized triplet tables {rel_type: (df, dst_combo)}: the rel
        # table pre-joined with its destination node table (dst property
        # columns prefixed ``t_``).  The planner substitutes them for
        # rel-scan ⋈ dst-scan expands — the reference's
        # replaceScansWithRecognizedPatterns rewrite
        # (LogicalOptimizer.scala:67-134) as a materialized view.
        self.pattern_tables: dict = {}
        self.node_tables: dict = {}
        self.rel_tables: dict = {}
        for labels, df in (node_tables or {}).items():
            combo = frozenset([labels] if isinstance(labels, str) else labels)
            if NODE_ID not in df.columns:
                raise ValueError(f"node table {sorted(combo)} lacks '{NODE_ID}' column")
            self.node_tables[combo] = df
        for rtype, df in (rel_tables or {}).items():
            missing = _RESERVED_REL - set(df.columns)
            if missing:
                raise ValueError(f"rel table {rtype} lacks columns {sorted(missing)}")
            self.rel_tables[rtype] = df
        self.schema = self._derive_schema()
        # Aligned scan frames {("nodes", labels) | ("rels", types): df},
        # and their per-variable renames under (*that key, var name);
        # filled by operators/records.py on first use.  Element tables are
        # fixed at construction and mutation builds a new graph, so an
        # entry never goes stale.
        self._aligned_scans: dict = {}

    # ------------------------------------------------------------------
    def _derive_schema(self) -> GraphSchema:
        s = GraphSchema()
        for combo, df in self.node_tables.items():
            s.node_props[combo] = {
                prop_name(f.name, _RESERVED_NODE): f.dataType.simpleString()
                for f in df.schema.fields if f.name not in _RESERVED_NODE
            }
        for rtype, df in self.rel_tables.items():
            s.rel_props[rtype] = {
                prop_name(f.name, _RESERVED_REL): f.dataType.simpleString()
                for f in df.schema.fields if f.name not in _RESERVED_REL
            }
        return s

    # ------------------------------------------------------------------
    def cypher(self, query: str, params: dict | None = None,
               procedures=None):
        """Run an openCypher query against this graph (primary entry point;
        reference: PropertyGraph.cypher, PropertyGraph.scala:99).  The
        implicit session is memoized on the graph so repeated queries hit
        the session plan cache (session.py)."""
        from .session import CypherSession
        s = self.__dict__.get("_implicit_session")
        if s is None:
            s = CypherSession.for_graph(self)
            self.__dict__["_implicit_session"] = s
        return s.cypher(query, params=params, graph=self,
                        procedures=procedures)

    def close(self) -> None:
        """Drop the memoized implicit session and its plan cache (ADVICE
        r8): the graph <-> session reference pair is a cycle, so
        short-lived graphs otherwise wait for a cyclic-GC pass before the
        cached plans let go of the checkpoints they read (a var-length
        expand's slim edges, for one), which Spark's ContextCleaner then
        frees.  Mirrors the TCK runner's eviction (tck/runner.py);
        idempotent, and the graph remains usable — the next cypher()
        simply builds a fresh session."""
        s = self.__dict__.pop("_implicit_session", None)
        if s is not None:
            s._plan_cache.clear()

    def __enter__(self) -> "PropertyGraph":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def nodes(self, var: str = "n", labels=()) -> DataFrame:
        """Typed node scan (PropertyGraph.scala:69)."""
        from .operators.records import scan_nodes
        from .session import CypherSession
        session = CypherSession.for_graph(self)
        return scan_nodes(session, self, var, frozenset(labels)).df

    def relationships(self, var: str = "r", types=()) -> DataFrame:
        """Typed relationship scan (PropertyGraph.scala:78)."""
        from .operators.records import scan_rels
        from .session import CypherSession
        session = CypherSession.for_graph(self)
        return scan_rels(session, self, var, tuple(types)).df

    def union_all(self, *others: "PropertyGraph") -> "PropertyGraph":
        """Graph union with id-prefixing to keep ids disjoint
        (reference: GraphUnionAll + PrefixId, SURVEY §2.2/§1.6).  Ids are
        re-prefixed into the high bits of the long id."""
        from .operators.records import prefixed_graph
        graphs = [self, *others]
        prefixed = [prefixed_graph(g, i, len(graphs)) for i, g in enumerate(graphs)]
        nodes: dict = {}
        rels: dict = {}
        for g in prefixed:
            for combo, df in g.node_tables.items():
                nodes[combo] = nodes[combo].unionByName(df, allowMissingColumns=True) \
                    if combo in nodes else df
            for rtype, df in g.rel_tables.items():
                rels[rtype] = rels[rtype].unionByName(df, allowMissingColumns=True) \
                    if rtype in rels else df
        return PropertyGraph(nodes, rels, name=f"union_{self.name}")

    def with_pattern_table(self, rel_type: str, dst_labels,
                           cache: bool = True) -> "PropertyGraph":
        """Materialise the (rel ⋈ destination-node) triplet for ``rel_type``
        so expands over it skip the destination join.  At warehouse scale
        this is a persisted/bucketed view; locally it is cached."""
        from pyspark.sql import functions as F
        combo = frozenset([dst_labels] if isinstance(dst_labels, str)
                          else dst_labels)
        if combo not in self.node_tables:
            raise ValueError(f"no node table for labels {sorted(combo)}")
        rel = self.rel_tables[rel_type]
        dst = self.node_tables[combo]
        prefixed = dst.select(
            F.col(NODE_ID).alias("__t_id"),
            *[F.col(c).alias(f"t_{c}") for c in dst.columns if c != NODE_ID])
        joined = rel.join(prefixed, rel[REL_TARGET] == prefixed["__t_id"],
                          "inner").drop("__t_id")
        self.pattern_tables[rel_type] = (joined.cache() if cache else joined,
                                         combo)
        return self

    def cache(self) -> "PropertyGraph":
        for df in self.node_tables.values():
            df.cache()
        for df in self.rel_tables.values():
            df.cache()
        return self
