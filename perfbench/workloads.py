"""The workloads: op templates, seeded op streams, execution and
correctness checks.

Every read op has a DuckDB SQL twin over the same parquet; every write op
is read back through Cypher after the measured window; every algorithm
call is compared with the library's ``*_sql_oracle`` run in DuckDB or, for
the algorithms whose oracle enumerates walks or a transitive closure and
so cannot finish on a skewed graph, with a plain-Python reference.
"""

from __future__ import annotations

import math
import os
import re
import warnings
from collections import deque
from contextlib import nullcontext
from dataclasses import dataclass

import duckdb

from inputs import (REGIONS, STATUSES, rmat_edges, rng, table_counts,
                    write_tpch, zipf_index)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")


@dataclass
class Op:
    idx: int
    pass_no: int
    template: str
    params: dict
    kind: str = "read"              # read | write | algo
    graph_of: int | None = None     # write op whose graph a read runs on


@dataclass(frozen=True)
class Template:
    name: str
    cypher: str
    sql: str
    kind: str = "read"              # read | write
    # write ops: Cypher read-back on the returned graph, and the SQL-free
    # expected rows built from the op's own parameters
    readback: str | None = None
    expect: object = None


# ---------------------------------------------------------------- literals

def _cypher_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, list):
        return "[" + ", ".join(_cypher_lit(x) for x in v) + "]"
    return repr(v)


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, list):
        return "(" + ", ".join(_sql_lit(x) for x in v) + ")"
    return repr(v)


def render(text: str, params: dict, lit) -> str:
    """Substitute ``$name`` placeholders with literals: clients send
    literal text, and the library's literal extraction is what lets the
    plan cache match same-shaped queries."""
    return re.sub(r"\$(\w+)", lambda m: lit(params[m.group(1)]), text)


def same_rows(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    return all(len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
               for a, b in zip(got, want))


def _same(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        if x is None or y is None:
            return x is None and y is None
        # engine and DuckDB sum doubles in different orders
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=0.015)
    return x == y


def _rows(rows) -> list:
    return [tuple(r) for r in rows]


# ------------------------------------------------------------ templates

INTERACTIVE = [
    Template(
        "cust_lookup",
        "MATCH (c:Customer {c_name: $c}) "
        "RETURN c.c_acctbal AS bal, c.c_mktsegment AS seg",
        "SELECT c_acctbal, c_mktsegment FROM customer WHERE c_name = $c"),
    Template(
        "supp_nation",
        "MATCH (s:Supplier {s_name: $s})-[:FROM_NATION]->(n:Nation) "
        "RETURN s.s_acctbal AS bal, n.n_name AS nation",
        "SELECT s_acctbal, n_name FROM supplier JOIN nation "
        "ON s_nationkey = n_nationkey WHERE s_name = $s"),
    Template(
        "cust_orders",
        "MATCH (c:Customer {c_name: $c})-[:PLACED]->(o:Order) "
        "RETURN o.o_totalprice AS price, o.o_orderstatus AS st "
        "ORDER BY price DESC, id(o) LIMIT 5",
        "SELECT o_totalprice, o_orderstatus FROM customer JOIN orders "
        "ON o_custkey = c_custkey WHERE c_name = $c "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"),
    Template(
        "cust_parts",
        "MATCH (c:Customer {c_name: $c})-[:PLACED]->(o:Order)"
        "-[l:CONTAINS]->(p:Part) "
        "RETURN p.p_name AS part, l.l_quantity AS qty "
        "ORDER BY qty DESC, id(l) LIMIT 10",
        "SELECT p_name, l_quantity FROM customer JOIN orders "
        "ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN part ON p_partkey = l_partkey WHERE c_name = $c "
        "ORDER BY l_quantity DESC, l_orderkey * 8 + l_linenumber LIMIT 10"),
    Template(
        "nation_segments",
        "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation {n_name: $n}) "
        "RETURN c.c_mktsegment AS seg, count(*) AS k ORDER BY seg",
        "SELECT c_mktsegment, count(*) FROM customer JOIN nation "
        "ON c_nationkey = n_nationkey WHERE n_name = $n "
        "GROUP BY 1 ORDER BY 1"),
    Template(
        "supplier_brands",
        "MATCH (p:Part)-[:SUPPLIED_BY]->(s:Supplier {s_name: $s}) "
        "RETURN p.p_brand AS brand, count(*) AS k "
        "ORDER BY k DESC, brand LIMIT 5",
        "SELECT p_brand, count(*) AS k FROM lineitem JOIN part "
        "ON p_partkey = l_partkey JOIN supplier ON s_suppkey = l_suppkey "
        "WHERE s_name = $s GROUP BY 1 ORDER BY k DESC, 1 LIMIT 5"),
    Template(
        "cust_optional",
        "MATCH (c:Customer {c_name: $c}) "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order {o_orderstatus: $st}) "
        "RETURN c.c_mktsegment AS seg, count(o) AS n",
        "SELECT c_mktsegment, count(o_orderkey) FROM customer "
        "LEFT JOIN orders ON o_custkey = c_custkey AND o_orderstatus = $st "
        "WHERE c_name = $c GROUP BY 1"),
    Template(
        "price_band",
        "MATCH (o:Order)-[l:CONTAINS]->(p:Part) "
        "WHERE o.o_totalprice >= $lo AND o.o_totalprice < $hi "
        "RETURN count(*) AS n, round(sum(l.l_quantity), 1) AS qty",
        "SELECT count(*), coalesce(round(sum(l_quantity), 1), 0.0) "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE o_totalprice >= $lo AND o_totalprice < $hi"),
    Template(
        "region_suppliers",
        "MATCH (r:Region {r_name: $r})<-[:IN_REGION]-(n:Nation)"
        "<-[:FROM_NATION]-(s:Supplier) "
        "RETURN n.n_name AS nation, count(*) AS k ORDER BY nation",
        "SELECT n_name, count(*) FROM supplier JOIN nation "
        "ON s_nationkey = n_nationkey JOIN region ON r_regionkey = n_regionkey "
        "WHERE r_name = $r GROUP BY 1 ORDER BY 1"),
    Template(
        "set_balance",
        "MATCH (c:Customer {c_name: $c}) SET c.c_acctbal = $bal "
        "RETURN c.c_acctbal AS bal",
        "", kind="write",
        readback="MATCH (c:Customer {c_name: $c}) RETURN c.c_acctbal AS bal",
        expect=lambda p: [(p["bal"],)]),
    Template(
        "create_review",
        "MATCH (c:Customer {c_name: $c}) "
        "CREATE (c)-[:REVIEWED {stars: $k}]->(:Review {note: $t}) "
        "RETURN count(*) AS n",
        "", kind="write",
        readback="MATCH (c:Customer {c_name: $c})-[r:REVIEWED]->(v:Review) "
                 "RETURN r.stars AS stars, v.note AS note",
        expect=lambda p: [(p["k"], p["t"])]),
]

ALGORITHMS = ["pagerank", "label_propagation",
              "strongly_connected_components", "k_core",
              "bfs_shortest_paths", "louvain", "connected_components"]


# ------------------------------------------------------------ interactive

class Interactive:
    """Short Cypher ops over TPC-H sf0.01: point lookups, 1-2 hop expands
    with LIMIT, small group-bys, OPTIONAL MATCH, and one write per pass
    (SET or CREATE).  The two reads after a write run on the graph it
    returned; every other op runs on the base graph.

    Each workload class has the same surface: ``setup`` builds the seeded
    inputs, ``ops`` yields the seeded op stream pass by pass, ``run_op``
    runs one op, ``check`` verifies executed ops outside Spark."""

    name = "interactive"
    PASS_SECONDS = 5.0
    templates = INTERACTIVE
    by_name = {t.name: t for t in INTERACTIVE}
    sf = 0.01
    ZIPF_S = 1.2
    # distinct bindings per key domain; over all templates the distinct
    # (template, binding) keys exceed CypherSession.PLAN_CACHE_MAX (128)
    N_CUSTOMERS, N_SUPPLIERS, N_BANDS = 48, 24, 24
    READS_AFTER_WRITE = 2

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.data_dir = os.path.join(work_dir, f"tpch-sf{self.sf}-seed{seed}")
        counts = table_counts(self.sf)
        g = rng(seed, 100)
        self.customers = [f"Customer#{i:09d}" for i in
                          g.choice(counts["customer"], self.N_CUSTOMERS,
                                   replace=False)]
        self.suppliers = [f"Supplier#{i:09d}" for i in
                          g.choice(counts["supplier"], self.N_SUPPLIERS,
                                   replace=False)]
        self.nations = [f"NATION_{i}" for i in g.permutation(25)]
        self.regions = [REGIONS[i] for i in g.permutation(5)]
        self.bands = [float(x) for x in
                      g.choice(495, self.N_BANDS, replace=False) * 1000.0
                      + 1000.0]
        self.ops_by_idx: dict = {}

    def setup(self, spark, tracer) -> None:
        from cypher_for_apache_flink_spark import CypherSession
        from cypher_for_apache_flink_spark.sources import tpch

        write_tpch(self.data_dir, self.sf, self.seed)
        self.base = tpch.tpch_graph(spark, self.data_dir)
        self.session = CypherSession(spark)
        self.session.register("tpch", self.base)
        self.graphs: dict = {}

    def warm_up(self) -> None:
        """Every template once, on the base graph, with bindings from a
        stream of its own: each template's first run pays for a cold JIT
        and code generation."""
        g = rng(self.seed, 101)
        for i, t in enumerate(self.templates):
            self.run_op(Op(-1 - i, -1, t.name, self._params(t.name, g),
                           kind=t.kind), nullcontext)

    def run_op(self, op: Op, span):
        t = self.by_name[op.template]
        graph = self.graphs[op.graph_of] if op.graph_of is not None \
            else self.base
        res = self.session.cypher(render(t.cypher, op.params, _cypher_lit),
                                  graph=graph)
        with span("execute"):
            df = res.df
            rows = _rows(df.collect())
        if t.kind == "write":
            self.graphs[op.idx] = res.graph
        return rows, df

    def check(self, done: list) -> list:
        """[(op, ok, detail)] for every executed op, in order."""
        con = duckdb.connect()
        out = []
        try:
            con.execute("SET threads TO 2")
            for name in TABLES:
                path = os.path.join(self.data_dir, f"{name}.parquet")
                con.execute(
                    f"CREATE TABLE {name}_base AS SELECT * FROM '{path}'")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM {name}_base")
            for op, rows in done:
                try:
                    ok, detail = self._check_one(con, op, rows)
                except Exception as exc:  # a broken check is a failed op
                    ok, detail = False, f"check raised {exc!r}"
                out.append((op, ok, detail))
        finally:
            con.close()
        return out

    def _check_one(self, con, op: Op, rows):
        t = self.by_name[op.template]
        if t.kind == "write":
            want = t.expect(op.params)
            back = _rows(self.session.cypher(
                render(t.readback, op.params, _cypher_lit),
                graph=self.graphs[op.idx]).df.collect())
            ok = same_rows(back, want)
            return ok, "" if ok else f"read-back {back} != {want}"
        self._overlay(con, op)
        want = _rows(con.execute(render(t.sql, op.params, _sql_lit))
                     .fetchall())
        ok = same_rows(rows, want)
        return ok, "" if ok else f"{rows[:5]} != {want[:5]}"

    def _overlay(self, con, op: Op) -> None:
        """Point the ``customer`` view at the write the read ran after."""
        w = self.ops_by_idx.get(op.graph_of)
        if w is not None and w.template == "set_balance":
            con.execute(
                "CREATE OR REPLACE VIEW customer AS SELECT c_custkey, c_name, "
                "c_nationkey, CASE WHEN c_name = "
                f"{_sql_lit(w.params['c'])} THEN {w.params['bal']!r} "
                "ELSE c_acctbal END AS c_acctbal, c_mktsegment "
                "FROM customer_base")
        else:
            con.execute("CREATE OR REPLACE VIEW customer AS "
                        "SELECT * FROM customer_base")

    def _params(self, name: str, g) -> dict:
        z = lambda dom: dom[zipf_index(g, len(dom), self.ZIPF_S)]  # noqa: E731
        if name in ("cust_lookup", "cust_orders", "cust_parts"):
            return {"c": z(self.customers)}
        if name in ("supp_nation", "supplier_brands"):
            return {"s": z(self.suppliers)}
        if name == "nation_segments":
            return {"n": z(self.nations)}
        if name == "region_suppliers":
            return {"r": z(self.regions)}
        if name == "cust_optional":
            return {"c": z(self.customers), "st": z(STATUSES)}
        if name == "price_band":
            lo = z(self.bands)
            return {"lo": lo, "hi": lo + 2000.0}
        if name == "set_balance":
            return {"c": z(self.customers),
                    "bal": round(float(g.uniform(-999, 9999)), 2)}
        if name == "create_review":
            return {"c": z(self.customers), "k": int(g.integers(1, 6)),
                    "t": f"note-{int(g.integers(10**6))}"}
        raise KeyError(name)

    def ops(self):
        g = rng(self.seed, 102)
        reads = [t.name for t in self.templates if t.kind == "read"]
        idx, pass_no, follow = 0, 0, (None, 0)
        while True:
            write = "set_balance" if pass_no % 2 == 0 else "create_review"
            names = reads + [write]
            batch = []
            for j in g.permutation(len(names)):
                name = names[j]
                op = Op(idx, pass_no, name, self._params(name, g))
                if name == write:
                    op.kind = "write"
                    follow = (idx, self.READS_AFTER_WRITE)
                elif follow[1] > 0:
                    op.graph_of = follow[0]
                    follow = (follow[0], follow[1] - 1)
                self.ops_by_idx[idx] = op
                batch.append(op)
                idx += 1
            yield batch
            pass_no += 1


# --------------------------------------------------------- graph_iterative

class GraphIterative:
    """Iterative graph algorithms from ``functions.graph_algos`` and
    ``functions.components`` over a seeded R-MAT edge list, each once per
    pass in a fixed order (so every seed warms the JIT the same way)."""

    name = "graph_iterative"
    PASS_SECONDS = 25.0
    SCALE, EDGES = 11, 30_000
    PR_ITERS, LPA_ITERS, KCORE_K, LOUVAIN_ROUNDS = 3, 2, 3, 2
    BFS_SOURCES, BFS_HOPS = 2, 3
    SCC_MAX_ROUNDS = 32

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.edge_path = os.path.join(
            work_dir, f"rmat-s{self.SCALE}-e{self.EDGES}-seed{seed}")

    def setup(self, spark, tracer) -> None:
        with tracer.span("sources.graph_build"):
            (rmat_edges(spark, self.SCALE, self.EDGES, self.seed)
             .coalesce(4).write.mode("overwrite").parquet(self.edge_path))
            self.edges = spark.read.parquet(self.edge_path)
        self.spark = spark
        self._load_sources()

    def warm_up(self) -> None:
        """One superstep, so the first measured op does not pay for a cold
        JIT alone (a whole warm-up pass would cost as much as the run)."""
        from cypher_for_apache_flink_spark.functions import graph_algos

        graph_algos.pagerank(self.edges, iterations=1).collect()

    def _load_sources(self) -> None:
        con = duckdb.connect()
        try:
            self.src_nodes = [r[0] for r in con.execute(
                f"SELECT DISTINCT src FROM '{self.edge_path}/*.parquet' "
                "ORDER BY src").fetchall()]
        finally:
            con.close()

    def ops(self):
        g = rng(self.seed, 302)
        idx, pass_no = 0, 0
        while True:
            batch = []
            for name in ALGORITHMS:
                params = {}
                if name == "bfs_shortest_paths":
                    params["sources"] = sorted(
                        int(self.src_nodes[i]) for i in
                        g.choice(len(self.src_nodes), self.BFS_SOURCES,
                                 replace=False))
                batch.append(Op(idx, pass_no, name, params, kind="algo"))
                idx += 1
            yield batch
            pass_no += 1

    def run_op(self, op: Op, span):
        from pyspark.sql import functions as F

        from cypher_for_apache_flink_spark.functions import (components,
                                                             graph_algos)
        e = self.edges
        with warnings.catch_warnings():
            # the round budget is deliberate: louvain warns that merges
            # may be pending, and its oracle replays the same rounds
            warnings.filterwarnings("ignore", message="louvain: ")
            if op.template == "pagerank":
                df = graph_algos.pagerank(e, iterations=self.PR_ITERS)
            elif op.template == "label_propagation":
                df = graph_algos.label_propagation(e, iterations=self.LPA_ITERS)
            elif op.template == "strongly_connected_components":
                df = graph_algos.strongly_connected_components(
                    e, max_rounds=self.SCC_MAX_ROUNDS)
            elif op.template == "k_core":
                df = graph_algos.k_core(e, k=self.KCORE_K)
            elif op.template == "bfs_shortest_paths":
                src = self.spark.createDataFrame(
                    [(s,) for s in op.params["sources"]], "node long")
                df = graph_algos.bfs_shortest_paths(e, src,
                                                    max_hops=self.BFS_HOPS)
            elif op.template == "louvain":
                df = graph_algos.louvain(e, rounds=self.LOUVAIN_ROUNDS)
            else:
                df = components.connected_components(e, a="src", b="dst") \
                    .select("node", F.col("cc").alias("component"))
        with span("execute"):
            rows = _rows(df.collect())
        return rows, df

    # ---- references, computed once per run outside the measured window
    def check(self, done: list) -> list:
        ref = References(self.edge_path, self)
        out = []
        try:
            for op, rows in done:
                try:
                    ok, detail = ref.check(op, rows)
                except Exception as exc:  # a broken check is a failed op
                    ok, detail = False, f"check raised {exc!r}"
                out.append((op, ok, detail))
        finally:
            ref.close()
        return out


class References:
    """Expected algorithm outputs: the library's SQL oracles in DuckDB for
    pagerank, label propagation, k-core and louvain; plain Python for SCC,
    BFS and connected components (their oracles enumerate walks or a
    transitive closure, which does not finish on a skewed graph)."""

    def __init__(self, edge_path: str, wl: GraphIterative):
        self.wl = wl
        self.edges_sql = f"SELECT src, dst FROM '{edge_path}/*.parquet'"
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        pairs = self.con.execute(self.edges_sql).fetchall()
        self.out_adj: dict = {}
        for s, d in pairs:
            self.out_adj.setdefault(s, []).append(d)
        self.nodes = {n for pair in pairs for n in pair}
        self._cache: dict = {}

    def close(self):
        self.con.close()

    def _sql(self, sql) -> dict:
        return {r[0]: r[1] for r in self.con.execute(sql).fetchall()}

    def expected(self, name: str) -> dict:
        from cypher_for_apache_flink_spark.functions import graph_algos as G

        if name not in self._cache:
            w = self.wl
            if name == "pagerank":
                v = self._sql(G.pagerank_sql_oracle(
                    self.edges_sql, iterations=w.PR_ITERS, round_to=15))
            elif name == "label_propagation":
                v = self._sql(G.label_propagation_sql_oracle(
                    self.edges_sql, iterations=w.LPA_ITERS))
            elif name == "k_core":
                v = self._sql(G.k_core_sql_oracle(
                    self.edges_sql, k=w.KCORE_K, rounds=64))
            elif name == "louvain":
                v = self._sql(G.louvain_sql_oracle(
                    self.edges_sql, rounds=w.LOUVAIN_ROUNDS))
            elif name == "strongly_connected_components":
                v = scc_reference(self.nodes, self.out_adj)
            else:
                v = cc_reference(self.nodes, self.out_adj)
            self._cache[name] = v
        return self._cache[name]

    def check(self, op: Op, rows: list):
        name = op.template
        if name == "bfs_shortest_paths":
            want = bfs_reference(op.params["sources"], self.out_adj,
                                 self.wl.BFS_HOPS)
        else:
            want = self.expected(name)
        got = {r[0]: r[1] for r in rows}
        if len(got) != len(rows):
            return False, "duplicate nodes in result"
        if got.keys() != want.keys():
            return False, (f"node sets differ: {len(got)} vs {len(want)} "
                           f"({len(got.keys() ^ want.keys())} differ)")
        if name == "pagerank":
            bad = [n for n in want if not math.isclose(
                got[n], want[n], rel_tol=1e-6, abs_tol=1e-12)]
        else:
            bad = [n for n in want if got[n] != want[n]]
        return not bad, "" if not bad else f"{len(bad)} nodes differ"


def scc_reference(nodes, out_adj) -> dict:
    """Iterative Tarjan; component id = smallest node id in the SCC."""
    index, low, on_stack, stack, comp = {}, {}, set(), [], {}
    counter = 0
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, iter(out_adj.get(root, ())))]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(out_adj.get(w, ()))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
    return comp


def cc_reference(nodes, out_adj) -> dict:
    """Union-find over undirected edges; id = smallest node id."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, ds in out_adj.items():
        for d in ds:
            a, b = find(s), find(d)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {n: find(n) for n in nodes}


def bfs_reference(sources, out_adj, max_hops) -> dict:
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        v = q.popleft()
        if dist[v] == max_hops:
            continue
        for w in out_adj.get(v, ()):
            if w not in dist:
                dist[w] = dist[v] + 1
                q.append(w)
    return dist


WORKLOADS = {w.name: w for w in (Interactive, GraphIterative)}
