"""DataFrame-native PageRank."""

import pytest
from pyspark.sql import functions as F

from cypher_for_apache_flink_spark.functions import layout
from cypher_for_apache_flink_spark.functions.graph_algos import (
    bfs_shortest_paths, bfs_sql_oracle, pagerank, pagerank_sql_oracle)


def _ranks(df):
    return {r.node: r.rank for r in df.collect()}


def test_pagerank_cycle_is_uniform(spark):
    # a -> b -> c -> a: symmetric, every node converges to 1/3
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    got = _ranks(pagerank(edges, iterations=20))
    for v in got.values():
        assert v == pytest.approx(1 / 3, abs=1e-9)


def test_pagerank_matches_power_iteration(spark):
    # hub-and-authority shape with a dangling node d
    edge_list = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = _ranks(pagerank(edges, iterations=15, damping=0.85))

    nodes = sorted({x for e in edge_list for x in e})
    n = len(nodes)
    out = {}
    for s, d in edge_list:
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(15):
        contrib = {v: 0.0 for v in nodes}
        dangling = sum(r for v, r in ranks.items() if v not in out)
        for s, ds in out.items():
            for d in ds:
                contrib[d] += ranks[s] / len(ds)
        ranks = {v: 0.15 / n + 0.85 * (contrib[v] + dangling / n)
                 for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(ranks[v], abs=1e-9)


def test_pagerank_mass_conserved_and_deterministic(spark):
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17) for i in range(17)] +
        [(i, (i * 5 + 2) % 17) for i in range(17)],
        "src long, dst long")
    pr = pagerank(edges, iterations=8)
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-9)
    again = pagerank(edges.repartition(5), iterations=8)
    a = {r.node: round(r.rank, 12) for r in pr.collect()}
    b = {r.node: round(r.rank, 12) for r in again.collect()}
    assert a == b


def test_pagerank_sql_oracle_matches(spark):
    import duckdb
    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.node: round(r.rank, 6)
           for r in pagerank(edges, iterations=3).collect()}
    vals = ", ".join(f"('{s}', '{d}')" for s, d in edge_list)
    sql = pagerank_sql_oracle(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)", iterations=3)
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


def _dists(df):
    return {r.node: r.dist for r in df.collect()}


def test_bfs_basic_distances(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("x", "y")],
        "src string, dst string")
    srcs = spark.createDataFrame([("a",)], "node string")
    got = _dists(bfs_shortest_paths(edges, srcs, max_hops=10))
    # shortest, not just any, path: c is 1 hop via the direct edge
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}  # x/y unreachable


def test_bfs_terminates_on_cycle(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    srcs = spark.createDataFrame([("a",)], "node string")
    got = _dists(bfs_shortest_paths(edges, srcs, max_hops=50))
    assert got == {"a": 0, "b": 1, "c": 2}


def test_bfs_multi_source_takes_min(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("z", "c")], "src string, dst string")
    srcs = spark.createDataFrame([("a",), ("z",)], "node string")
    got = _dists(bfs_shortest_paths(edges, srcs, max_hops=10))
    assert got == {"a": 0, "z": 0, "b": 1, "c": 1}


def test_bfs_max_hops_bound(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string")
    srcs = spark.createDataFrame([("a",)], "node string")
    got = _dists(bfs_shortest_paths(edges, srcs, max_hops=2))
    assert got == {"a": 0, "b": 1, "c": 2}  # d beyond the bound


def test_bfs_sql_oracle_matches(spark):
    import duckdb
    edge_list = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    srcs = spark.createDataFrame([("a",)], "node string")
    got = _dists(bfs_shortest_paths(edges, srcs, max_hops=4))
    vals = ", ".join(f"('{s}', '{d}')" for s, d in edge_list)
    sql = bfs_sql_oracle(f"SELECT * FROM (VALUES {vals}) t(src, dst)",
                         "SELECT 'a' AS node", max_hops=4)
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


_RELEASE_CASES = {
    "two_cycle": ([("a", "b", 1.0), ("b", "a", 1.0)], None),
    "empty": ([], None),
    "all_negative_weights": ([("a", "b", -1.0), ("b", "a", 0.0)], "w"),
    "personalized": ([("a", "b", 1.0), ("b", "c", 1.0)], "ppr"),
}


@pytest.mark.parametrize("case", sorted(_RELEASE_CASES))
def test_pagerank_releases_caches(spark, monkeypatch, case):
    """Nothing the power iteration persisted survives its return, the
    early exits (no node, no positive weight) included.  The only RDDs
    the call may leave persisted are its own cuts -- at most one per
    superstep after the first plus the final state the result reads:
    local checkpoints, which Spark's ContextCleaner frees once the JVM
    has collected every plan reading them."""
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        personalized_pagerank)
    rows, mode = _RELEASE_CASES[case]
    jsc = spark.sparkContext._jsc
    cuts = set()
    materialize = layout.materialize

    def spy(*args, **kwargs):
        # the cut's job also fills lazy caches: keep the checkpoint only
        ids = set(jsc.getPersistentRDDs())
        out = materialize(*args, **kwargs)
        cuts.update(rid for rid, rdd in jsc.getPersistentRDDs().items()
                    if rid not in ids and rdd.rdd().isLocallyCheckpointed())
        return out

    monkeypatch.setattr(layout, "materialize", spy)
    iterations = 2
    before = set(jsc.getPersistentRDDs())
    edges = spark.createDataFrame(rows, "src string, dst string, w double")
    if mode == "ppr":
        srcs = spark.createDataFrame([("a",)], "node string")
        out = personalized_pagerank(edges, srcs, iterations=iterations)
    else:
        out = pagerank(edges, iterations=iterations, weight_col=mode)
    assert set(jsc.getPersistentRDDs()) - before <= cuts
    out.collect()
    assert set(jsc.getPersistentRDDs()) - before <= cuts
    assert 1 <= len(cuts) <= iterations


def test_ppr_from_every_node_equals_pagerank(spark):
    """Teleporting to every node is uniform teleport: the shared power
    iteration must give pagerank's ranks, dangling mass included (d has
    no out-edge), through three superstep cuts."""
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        personalized_pagerank)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("b", "d")],
        "src string, dst string")
    srcs = spark.createDataFrame([(x,) for x in "abcd"], "node string")
    want = _ranks(pagerank(edges, iterations=4))
    got = _ranks(personalized_pagerank(edges, srcs, iterations=4))
    assert got.keys() == want.keys() == set("abcd")
    for node, rank in want.items():
        assert got[node] == pytest.approx(rank, abs=1e-9)


def test_closeness_agrees_with_bfs_per_root(spark):
    """closeness and bfs_shortest_paths run the same level BFS: for each
    root, reach is bfs's row count and total_dist its dist sum (cycle
    1->2->3->1 with a tail 3->4; node 5 is reachable from no root)."""
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        closeness_centrality)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 1)], "src long, dst long")
    roots = [1, 2, 3, 4]
    src = spark.createDataFrame([(r,) for r in roots], "node long")
    got = {r.node: (r.reach, r.total_dist)
           for r in closeness_centrality(edges, src, max_depth=3).collect()}
    want = {}
    for root in roots:
        one = spark.createDataFrame([(root,)], "node long")
        dists = _dists(bfs_shortest_paths(edges, one, max_hops=3))
        assert 5 not in dists
        want[root] = (len(dists), sum(dists.values()))
    assert got == want
    assert got[1] == (4, 6) and got[4] == (1, 0)


def _flat_plan_len(df):
    """Optimized-plan length with every number (expression ids, rdd ids,
    literals) folded to one digit."""
    import re
    return len(re.sub(r"\d+", "0",
                      df._jdf.queryExecution().optimizedPlan().toString()))


@pytest.mark.parametrize("algo", ["pagerank", "personalized_pagerank",
                                  "bfs_shortest_paths"])
def test_superstep_lineage_stays_flat(spark, algo):
    """Every superstep is cut, so the returned frame's plan is one
    superstep deep whatever the iteration or hop count: equal lengths at
    2, 3 and 6 supersteps fail any cut interval above 1 (a 12-cycle with
    chords keeps all six BFS levels non-empty)."""
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        personalized_pagerank)
    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9)],
        "src long, dst long")
    one = spark.createDataFrame([(0,)], "node long")

    def run(k):
        if algo == "pagerank":
            return pagerank(edges, iterations=k)
        if algo == "personalized_pagerank":
            return personalized_pagerank(edges, one, iterations=k)
        return bfs_shortest_paths(edges, one, max_hops=k)

    base = _flat_plan_len(run(2))
    assert _flat_plan_len(run(3)) == base
    assert _flat_plan_len(run(6)) == base
    if algo == "bfs_shortest_paths":
        assert max(_dists(run(6)).values()) == 6


def test_closeness_default_sampling_with_node_col(spark):
    """Without ``sources`` the md5 sample is the root set whatever
    ``node_col`` names (it used to select a missing ``id`` column)."""
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        closeness_centrality)
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17) for i in range(17)], "src long, dst long")
    got = sorted(map(tuple, closeness_centrality(
        edges, n_sources=3, max_depth=2, node_col="id").collect()))
    assert got == sorted(map(tuple, closeness_centrality(
        edges, n_sources=3, max_depth=2).collect()))
    assert len(got) == 3


def test_betweenness_default_sampling_with_node_col(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        betweenness)
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17) for i in range(17)]
        + [(i, (i * 5 + 2) % 17) for i in range(17)], "src long, dst long")
    got = sorted((r.node, round(r.betweenness, 9)) for r in betweenness(
        edges, n_sources=3, max_depth=2, node_col="id").collect())
    want = sorted((r.node, round(r.betweenness, 9)) for r in betweenness(
        edges, n_sources=3, max_depth=2).collect())
    assert got == want and got


# ---------------------------------------------------------------------------
# Triangle counting / degree histogram
# ---------------------------------------------------------------------------

from cypher_for_apache_flink_spark.functions.graph_algos import (  # noqa: E402
    degree_histogram, triangle_count, triangle_sql_oracle)


def _tri(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    return triangle_count(edges).collect()[0].n_triangles


def test_triangle_single(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 1)]) == 1


def test_triangle_none_on_path(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == 0


def test_triangle_k4_has_four(spark):
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    assert _tri(spark, k4) == 4


def test_triangle_ignores_direction_dupes_loops(spark):
    # same triangle encoded with reversed/duplicate edges and a self-loop
    assert _tri(spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)]) == 1


def test_triangle_matches_duckdb_oracle(spark):
    import duckdb

    import random
    rng = random.Random(7)
    edge_list = list({(rng.randint(1, 30), rng.randint(1, 30))
                      for _ in range(150)})
    got = _tri(spark, edge_list)
    con = duckdb.connect()
    con.execute("CREATE TABLE raw (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO raw VALUES (?, ?)", edge_list)
    want = con.execute(
        triangle_sql_oracle("SELECT src, dst FROM raw")).fetchone()[0]
    assert got == want > 0


def test_degree_histogram(spark):
    # star 1-(2,3,4) plus edge 2-3: degrees 1:3, 2:2, 3:2, 4:1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "src long, dst long")
    got = {r.degree: r.n_nodes for r in degree_histogram(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 1}


def test_triangle_plan_has_no_cartesian(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                  "src long, dst long")
    plan = (triangle_count(edges)._jdf.queryExecution()
            .executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# k-core decomposition
# ---------------------------------------------------------------------------

from cypher_for_apache_flink_spark.functions.graph_algos import (  # noqa: E402
    k_core, k_core_sql_oracle)


def test_k_core_triangle_with_tail(spark):
    # triangle 1-2-3 plus tail 3-4: 2-core = the triangle, 4 peeled off
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    got = {(r.node, r.degree) for r in k_core(edges, k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_k_core_cascading_peel(spark):
    # path 1-2-3-4-5: 2-core empty (peeling cascades from both endpoints)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    assert k_core(edges, k=2).collect() == []


def test_k_core_long_path_runs_to_fixpoint(spark):
    """ADVICE r4: peeling a path graph removes only the two endpoints per
    round, so a long chain legitimately needs O(n) rounds.  The default is
    now unbounded (loop until the count stops changing); an explicit
    max_rounds that stops early must warn and is documented as returning a
    superset."""
    import warnings as _w
    n = 30
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src long, dst long")
    assert k_core(edges, k=2).collect() == []          # true 2-core: empty
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        early = k_core(edges, k=2, max_rounds=3).collect()
    assert len(early) > 0                              # superset remains
    assert any("max_rounds" in str(w.message) for w in rec)


def test_k_core_k1_keeps_everything(spark):
    edges = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    got = {r.node for r in k_core(edges, k=1).collect()}
    assert got == {1, 2, 3, 4}


def test_k_core_matches_duckdb_oracle(spark):
    import duckdb
    import random
    rng = random.Random(11)
    edge_list = list({(rng.randint(1, 25), rng.randint(1, 25))
                      for _ in range(80)})
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {(r.node, r.degree) for r in k_core(edges, k=4).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE raw (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO raw VALUES (?, ?)", edge_list)
    want = set(con.execute(
        k_core_sql_oracle("SELECT src, dst FROM raw", k=4,
                          rounds=12)).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# Neighborhood Jaccard node similarity
# ---------------------------------------------------------------------------

from cypher_for_apache_flink_spark.functions.graph_algos import (  # noqa: E402
    neighborhood_jaccard_pairs, neighborhood_jaccard_sql_oracle)


def test_neighborhood_jaccard_basic(spark):
    # K2,2: N(1)=N(2)={3,4} and N(3)=N(4)={1,2} -> both pairs at 1.0
    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 3), (2, 4)], "src long, dst long")
    got = {(r.a, r.b): r.jaccard
           for r in neighborhood_jaccard_pairs(edges, threshold=0.9).collect()}
    assert got == {(1, 2): 1.0, (3, 4): 1.0}


def test_neighborhood_jaccard_partial_overlap(spark):
    # N(1)={3,4}, N(2)={4,5}: shared 1, union 3 -> 1/3
    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (2, 4), (2, 5)], "src long, dst long")
    got = {(r.a, r.b): r.jaccard
           for r in neighborhood_jaccard_pairs(edges, threshold=0.3).collect()}
    assert got[(1, 2)] == pytest.approx(1 / 3, abs=1e-6)


def test_neighborhood_jaccard_matches_duckdb(spark):
    import duckdb
    import random
    rng = random.Random(13)
    edge_list = list({(rng.randint(1, 20), rng.randint(1, 20))
                      for _ in range(60)})
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {(r.a, r.b, r.jaccard)
           for r in neighborhood_jaccard_pairs(edges,
                                               threshold=0.25).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE raw (src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO raw VALUES (?, ?)", edge_list)
    want = set(map(tuple, con.execute(neighborhood_jaccard_sql_oracle(
        "SELECT src, dst FROM raw", threshold=0.25)).fetchall()))
    assert got == want and len(got) > 0


def test_neighborhood_jaccard_cap_prunes_only_candidates(spark):
    # hub 9 connects to everyone; cap excludes it from wedge generation,
    # but degrees still count it, so jaccard values shrink accordingly
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (1, 9), (2, 9), (4, 9)], "src long, dst long")
    uncapped = {(r.a, r.b): r.jaccard for r in
                neighborhood_jaccard_pairs(edges, threshold=0.0).collect()}
    capped = {(r.a, r.b): r.jaccard for r in
              neighborhood_jaccard_pairs(
                  edges, threshold=0.0,
                  max_neighbor_degree=2).collect()}
    # via hub 9 only: pair (1,4) disappears under the cap
    assert (1, 4) in uncapped and (1, 4) not in capped
    # pair (1,2) still found via neighbor 3; the capped value is a lower
    # bound (hub-mediated overlap no longer counted in the numerator)
    assert uncapped[(1, 2)] == 1.0
    assert 0 < capped[(1, 2)] <= uncapped[(1, 2)]


def test_neighborhood_jaccard_node_filter_equals_post_filter(spark):
    # bipartite doc-shingle shape (the node_similarity entry): pushing
    # the doc-side predicate below the persisted wedge frame must emit
    # EXACTLY the post-filtered pairs, with identical jaccard values
    # (full degrees in the denominator either way)
    from pyspark.sql import functions as F
    import random
    rng = random.Random(7)
    edge_list = list({(f"D{rng.randint(1, 12)}", f"s{rng.randint(1, 15)}")
                      for _ in range(70)})
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    full = neighborhood_jaccard_pairs(edges, threshold=0.2,
                                      max_neighbor_degree=100)
    want = {(r.a, r.b, r.jaccard)
            for r in full.where(F.col("a").startswith("D")
                                & F.col("b").startswith("D")).collect()}
    got = {(r.a, r.b, r.jaccard)
           for r in neighborhood_jaccard_pairs(
               edges, threshold=0.2, max_neighbor_degree=100,
               node_filter=lambda c: c.startswith("D")).collect()}
    assert got == want and len(got) > 0
    # and without the hub cap (the node_filter-only persist branch)
    want_nc = {(r.a, r.b, r.jaccard)
               for r in neighborhood_jaccard_pairs(
                   edges, threshold=0.2, max_neighbor_degree=None)
               .where(F.col("a").startswith("D")
                      & F.col("b").startswith("D")).collect()}
    got_nc = {(r.a, r.b, r.jaccard)
              for r in neighborhood_jaccard_pairs(
                  edges, threshold=0.2, max_neighbor_degree=None,
                  node_filter=lambda c: c.startswith("D")).collect()}
    assert got_nc == want_nc and len(got_nc) > 0


# ---------------------------------------------------------------------------
# Personalized PageRank
# ---------------------------------------------------------------------------

from cypher_for_apache_flink_spark.functions.graph_algos import (  # noqa: E402
    personalized_pagerank, personalized_pagerank_sql_oracle)


def test_ppr_mass_conserved_and_biased_to_source(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        "src string, dst string")
    srcs = spark.createDataFrame([("a",)], "node string")
    pr = personalized_pagerank(edges, srcs, iterations=20)
    got = {r.node: r.rank for r in pr.collect()}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # restart node dominates its far neighbors
    assert got["a"] > got["c"] and got["a"] > got["d"]


def test_ppr_zero_outside_reachable_set(spark):
    # component {a,b} with source a; disconnected {x,y} gets zero mass
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")],
        "src string, dst string")
    srcs = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.rank
           for r in personalized_pagerank(edges, srcs, iterations=10)
           .collect()}
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert got["a"] > 0 and got["b"] > 0


def test_ppr_matches_duckdb_oracle(spark):
    import duckdb
    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
                 ("c", "d")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    srcs = spark.createDataFrame([("a",), ("d",)], "node string")
    got = {r.node: round(r.rank, 6)
           for r in personalized_pagerank(edges, srcs,
                                          iterations=3).collect()}
    vals = ", ".join(f"('{s}', '{d}')" for s, d in edge_list)
    sql = personalized_pagerank_sql_oracle(
        f"SELECT * FROM (VALUES {vals}) t(src, dst)",
        "SELECT 'a' AS node UNION ALL SELECT 'd'", iterations=3)
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_ppr_empty_sources(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    srcs = spark.createDataFrame([], "node string")
    assert personalized_pagerank(edges, srcs, iterations=3).collect() == []


# ---------------------------------------------------------------------------
# weighted shortest paths (round 8)
# ---------------------------------------------------------------------------

def _costs(df):
    return {r.node: r.cost for r in df.collect()}


def test_weighted_sp_prefers_cheap_detour(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        weighted_shortest_paths,
    )
    # a -1-> b -1-> d  vs  a -9-> d: the 2-hop route wins on cost
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "d", 1.0), ("a", "d", 9.0)],
        "src string, dst string, w double")
    srcs = spark.createDataFrame([("a",)], "node string")
    got = _costs(weighted_shortest_paths(edges, srcs))
    assert got == {"a": 0.0, "b": 1.0, "d": 2.0}


def test_weighted_sp_multi_source_min(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        weighted_shortest_paths,
    )
    edges = spark.createDataFrame(
        [("a", "x", 5.0), ("b", "x", 2.0)],
        "src string, dst string, w double")
    srcs = spark.createDataFrame([("a",), ("b",)], "node string")
    got = _costs(weighted_shortest_paths(edges, srcs))
    assert got == {"a": 0.0, "b": 0.0, "x": 2.0}


def test_weighted_sp_relaxes_through_longer_hops(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        weighted_shortest_paths,
    )
    # a chain of cheap edges beats a direct expensive one even at depth 4
    rows = [("n0", "n1", 1.0), ("n1", "n2", 1.0), ("n2", "n3", 1.0),
            ("n3", "n4", 1.0), ("n0", "n4", 99.0)]
    edges = spark.createDataFrame(rows, "src string, dst string, w double")
    srcs = spark.createDataFrame([("n0",)], "node string")
    got = _costs(weighted_shortest_paths(edges, srcs))
    assert got["n4"] == 4.0


def test_weighted_sp_cycle_terminates(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        weighted_shortest_paths,
    )
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0), ("b", "c", 1.0)],
        "src string, dst string, w double")
    srcs = spark.createDataFrame([("a",)], "node string")
    got = _costs(weighted_shortest_paths(edges, srcs, max_iters=50))
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0}


def test_weighted_sp_matches_duckdb_oracle(spark):
    import duckdb

    from cypher_for_apache_flink_spark.functions.graph_algos import (
        weighted_shortest_paths, weighted_sp_sql_oracle,
    )
    import random
    rng = random.Random(7)
    nodes = [f"v{i}" for i in range(30)]
    rows = sorted({(rng.choice(nodes), rng.choice(nodes),
                    float(rng.randint(1, 9))) for _ in range(120)})
    rows = [(s, d, w) for s, d, w in rows if s != d]
    edges = spark.createDataFrame(rows, "src string, dst string, w double")
    srcs = spark.createDataFrame([("v0",), ("v1",)], "node string")
    got = _costs(weighted_shortest_paths(edges, srcs, max_iters=30))

    vals = ", ".join(f"('{s}', '{d}', {w})" for s, d, w in rows)
    sql = weighted_sp_sql_oracle(
        f"SELECT * FROM (VALUES {vals}) AS t(src, dst, w)",
        "SELECT * FROM (VALUES ('v0'), ('v1')) AS s(node)",
        max_hops=8)
    want = {n: c for n, c in duckdb.sql(sql).fetchall()}
    # the oracle bounds hops at 8; compare the overlap exactly and
    # require spark to be <= oracle elsewhere (more hops available)
    for n, c in want.items():
        assert got[n] <= c + 1e-9
    agree = sum(1 for n in want if abs(got[n] - want[n]) < 1e-9)
    assert agree >= len(want) * 0.9


# --- partition-pin gate (round 9, VERDICT r8 #1) ------------------------

def test_pin_gate_skips_when_session_well_sized(spark):
    """No explicit repartitions when shuffle.partitions is within 2x of
    2x defaultParallelism — the r8 unconditional pin regressed exactly
    this config (BENCH_DIFF_r08.md)."""
    target = 2 * spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for sp in (target // 2, target, target * 2):
            spark.conf.set("spark.sql.shuffle.partitions", str(sp))
            assert layout.pin_parts(spark) is None
        for sp in (max(1, target // 2 - 1), target * 2 + 1, 200 * target):
            spark.conf.set("spark.sql.shuffle.partitions", str(sp))
            assert layout.pin_parts(spark) == target
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_pagerank_no_inloop_exchange_pins_when_gate_off(spark, monkeypatch):
    """With the gate deciding 'no pin', the pagerank superstep plans must
    not contain the r8 RoundRobin/hash repartitions — count the explicit
    RepartitionByExpression nodes in the analyzed plan of every state
    the loop materializes (the result itself is a checkpoint)."""
    plans = []
    materialize = layout.materialize

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().analyzed().toString())
        return materialize(df, *args, **kwargs)

    monkeypatch.setattr(layout, "materialize", spy)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long")
    pagerank(edges, iterations=2)
    assert len(plans) == 2
    assert all("RepartitionByExpression" not in p for p in plans)


def test_pin_gate_large_data_estimate_pins(spark, monkeypatch):
    """Data-size branch (round 9): a 64 MiB+ Catalyst estimate pins even
    under a matched session default — measured 1.7x at the x10 probe
    scale (tools/probes/partition_probe_r9.json)."""
    target = 2 * spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        small = spark.range(10).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        assert layout.pin_parts(spark, data=small) is None
        monkeypatch.setattr(layout, "PIN_DATA_BYTES", 1)
        assert layout.pin_parts(spark, data=small) == target
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_weighted_sp_warns_on_exhausted_budget(spark):
    """ADVICE r8: exhausting max_iters mid-improvement warns instead of
    returning silently stale costs."""
    import warnings as _w
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        weighted_shortest_paths,
    )
    # a 4-hop path; budget of 2 cannot settle nodes 3 hops out
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(4)], "src long, dst long, w double")
    srcs = spark.createDataFrame([(0,)], "node long")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got = {r.node: r.cost
               for r in weighted_shortest_paths(edges, srcs,
                                                max_iters=2).collect()}
    assert any("max_iters" in str(r.message) for r in rec)
    assert got[2] == 2.0 and 4 not in got
    # a sufficient budget converges silently
    with _w.catch_warnings(record=True) as rec2:
        _w.simplefilter("always")
        got2 = {r.node: r.cost
                for r in weighted_shortest_paths(edges, srcs,
                                                 max_iters=10).collect()}
    assert not any("max_iters" in str(r.message) for r in rec2)
    assert got2[4] == 4.0


# ---------------------------------------------------------------------------
# strongly connected components / closeness centrality (round 9)

def test_scc_mixed_cycles_and_dag(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    # SCC {1,2,3,7}, SCC {4,5}, singleton 6, DAG edges between them
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (5, 6), (3, 7),
         (7, 1)], "src long, dst long")
    got = sorted((r.node, r.component)
                 for r in strongly_connected_components(edges).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6), (7, 1)]


def test_scc_matches_duckdb_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        scc_sql_oracle, strongly_connected_components)
    # deterministic pseudo-random directed graph with plenty of cycles
    pairs = sorted({(i % 13, (i * 5 + 3) % 13) for i in range(40)}
                   | {((i * 7 + 1) % 13, i % 13) for i in range(20)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted((r.node, r.component)
                 for r in strongly_connected_components(edges).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = sorted(map(tuple, con.execute(
        scc_sql_oracle("SELECT src, dst FROM e")).fetchall()))
    assert got == want


def test_scc_nested_chain_needs_multiple_rounds(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    # chain of 2-cycles 1<->2 -> 3<->4 -> 5<->6: coloring assigns one
    # SCC per outer round, so this exercises the multi-round path
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6), (6, 5)],
        "src long, dst long")
    got = sorted((r.node, r.component)
                 for r in strongly_connected_components(edges).collect())
    assert got == [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (6, 5)]


def test_scc_warns_when_budget_exhausted(spark):
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (4, 5), (5, 6), (6, 5)],
        "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = sorted((r.node, r.component)
                     for r in strongly_connected_components(
                         edges, max_rounds=1).collect())
    assert any("max_rounds" in str(w.message) for w in caught)
    # budget fallback: unassigned nodes become singletons, every node
    # still appears exactly once
    assert [n for n, _ in got] == [1, 2, 3, 4, 5, 6]


def test_closeness_hand_computed(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        closeness_centrality)
    # path 1 -> 2 -> 3 -> 4: from 1, dists 0+1+2+3=6 over reach 4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long")
    src = spark.createDataFrame([(1,), (4,)], "node long")
    got = {r.node: (r.reach, r.total_dist, round(r.closeness, 9))
           for r in closeness_centrality(edges, src).collect()}
    assert got[1] == (4, 6, 0.5)
    assert got[4] == (1, 0, 0.0)  # sink: reaches nothing


def test_closeness_matches_duckdb_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        closeness_centrality, closeness_sql_oracle)
    pairs = sorted({(i % 11, (i * 3 + 2) % 11) for i in range(30)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    src = spark.createDataFrame([(0,), (4,), (7,)], "node long")
    got = sorted((r.node, r.reach, r.total_dist, round(r.closeness, 6))
                 for r in closeness_centrality(edges, src).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = sorted((a, b, c, float(d)) for a, b, c, d in con.execute(
        closeness_sql_oracle(
            "SELECT src, dst FROM e",
            "SELECT 0 AS node UNION ALL SELECT 4 UNION ALL SELECT 7"))
        .fetchall())
    assert got == want


def test_closeness_default_sampling_is_deterministic(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        closeness_centrality)
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17) for i in range(17)], "src long, dst long")
    a = sorted(map(tuple, closeness_centrality(
        edges, n_sources=4).collect()))
    b = sorted(map(tuple, closeness_centrality(
        edges.repartition(5), n_sources=4).collect()))
    assert a == b and len(a) == 4


def test_random_walks_shape_and_determinism(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        random_walks)
    pairs = [(i, (i * 3 + 1) % 17) for i in range(17)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(0,), (5,)], "node long")
    a = sorted(map(tuple, random_walks(edges, starts, length=4).collect()))
    # every walk starts at its start node at step 0
    assert (0, 0, 0) in a and (5, 0, 5) in a
    # full-length walks: 2 walks x 5 rows (steps 0..4)
    assert len(a) == 10
    b = sorted(map(tuple, random_walks(
        edges.repartition(5), starts, length=4).collect()))
    assert a == b


def test_random_walks_stop_at_sinks(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        random_walks)
    # 1 -> 2 -> 3, 3 is a sink: the walk must stop at step 2
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    starts = spark.createDataFrame([(1,)], "node long")
    got = sorted(map(tuple, random_walks(edges, starts, length=9).collect()))
    assert got == [(1, 0, 1), (1, 1, 2), (1, 2, 3)]


def test_random_walks_match_duckdb_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        random_walks, random_walks_sql_oracle)
    pairs = sorted({(i % 11, (i * 3 + 2) % 11) for i in range(30)}
                   | {(i % 11, (i * 7 + 5) % 11) for i in range(20)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(0,), (3,), (9,)], "node long")
    got = sorted(map(tuple, random_walks(edges, starts, length=5).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = sorted(map(tuple, con.execute(random_walks_sql_oracle(
        "SELECT src, dst FROM e",
        "SELECT 0 AS node UNION ALL SELECT 3 UNION ALL SELECT 9",
        length=5)).fetchall()))
    assert got == want


def test_skipgram_pairs_hand_computed(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        skipgram_pairs)
    # one walk a->b->c: window 1 pairs = (a,b),(b,a),(b,c),(c,b)
    walks = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (1, 2, "c")],
        "walk long, step long, node string")
    got = sorted(map(tuple, skipgram_pairs(walks, window=1).collect()))
    assert got == [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    # window 2 adds (a,c) and (c,a)
    got2 = sorted(map(tuple, skipgram_pairs(walks, window=2).collect()))
    assert got2 == sorted(got + [("a", "c"), ("c", "a")])


def test_skipgram_pairs_never_cross_walks(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        skipgram_pairs)
    walks = spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (2, 0, "x"), (2, 1, "y")],
        "walk long, step long, node string")
    got = sorted(map(tuple, skipgram_pairs(walks, window=3).collect()))
    assert got == [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")]


def test_k_truss_k5_keeps_only_the_clique(spark):
    import itertools
    from cypher_for_apache_flink_spark.functions.graph_algos import k_truss
    # K5 (every edge in 3 triangles) + pendant triangle {4,6,7} + tail 7-8
    pairs = (list(itertools.combinations(range(5), 2))
             + [(4, 6), (4, 7), (6, 7), (7, 8)])
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted(map(tuple, k_truss(edges, k=5, rounds=4).collect()))
    assert got == sorted((a, b, 3) for a, b
                         in itertools.combinations(range(5), 2))
    # k=3 keeps every triangle edge (support >= 1), drops the tail only
    got3 = {(a, b) for a, b, _ in k_truss(edges, k=3, rounds=4).collect()}
    assert got3 == set(itertools.combinations(range(5), 2)) \
        | {(4, 6), (4, 7), (6, 7)}


def test_k_truss_cascading_peel(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import k_truss
    # diamond 0-1-2-3 with chord 1-2: edges (0,3) missing.  k=4 demands
    # support >= 2: only the chord (1,2) has it, but removing the others
    # cascades -- the 4-truss is empty, and reaching that takes >1 round
    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    assert k_truss(edges, k=4, rounds=4).count() == 0


def test_k_truss_warns_on_budget(spark):
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import k_truss
    pairs = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        n = k_truss(edges, k=4, rounds=1).count()
    assert any("rounds" in str(w.message) for w in caught)
    assert n > 0  # over-approximation, loudly flagged


def test_k_truss_matches_duckdb_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        k_truss, k_truss_sql_oracle)
    pairs = sorted({(min(i % 9, (i * 5 + 2) % 9), max(i % 9, (i * 5 + 2) % 9))
                    for i in range(40)}
                   | {(min(i % 9, (i * 7 + 1) % 9), max(i % 9, (i * 7 + 1) % 9))
                      for i in range(25)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    for k in (3, 4, 5):
        got = sorted(map(tuple, k_truss(edges, k=k, rounds=4).collect()))
        con = duckdb.connect()
        con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
        con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
        want = sorted(map(tuple, con.execute(
            k_truss_sql_oracle("SELECT src, dst FROM e",
                               k=k, rounds=4)).fetchall()))
        assert got == want, f"k={k}"


def test_round9_ops_empty_inputs(spark):
    """Empty-graph / empty-source edge cases return empty (or the lone
    step-0 row for a sink start) instead of raising."""
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        closeness_centrality, k_truss, random_walks, skipgram_pairs,
        strongly_connected_components)
    empty_e = spark.createDataFrame([], "src long, dst long")
    empty_n = spark.createDataFrame([], "node long")
    one_e = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert strongly_connected_components(empty_e).count() == 0
    assert closeness_centrality(empty_e, empty_n).count() == 0
    assert closeness_centrality(one_e, empty_n).count() == 0
    assert k_truss(empty_e).count() == 0
    assert skipgram_pairs(
        spark.createDataFrame([], "walk long, step long, node long")
    ).count() == 0
    assert random_walks(one_e, empty_n).count() == 0
    # a start with no out-edges yields exactly its step-0 row
    lone = random_walks(empty_e,
                        spark.createDataFrame([(1,)], "node long"))
    assert sorted(map(tuple, lone.collect())) == [(1, 0, 1)]

# ---------------------------------------------------------------------------
# round 10: SCC truncation honesty, size-gated walk frontier, k-truss
# big-regime plan

def test_scc_long_cycle_default_budget(spark):
    """A 70-node directed cycle is ONE SCC under default budgets (ADVICE
    r9 high: the old fixpoint_iters=64 default silently split it into
    ~11 components)."""
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    n = 70
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                                  "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = sorted((r.node, r.component)
                     for r in strongly_connected_components(edges).collect())
    assert got == [(i, 0) for i in range(n)]
    assert not [w for w in caught
                if "strongly_connected_components" in str(w.message)]


def test_scc_truncated_fixpoint_warns_and_skips_assignment(spark):
    """A cycle longer than fixpoint_iters must WARN (not silently
    mis-split) and assign nothing off the under-propagated labels: every
    node comes back as a flagged singleton placeholder."""
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    n = 24
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                                  "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = sorted((r.node, r.component)
                     for r in strongly_connected_components(
                         edges, fixpoint_iters=8).collect())
    assert any("fixpoint_iters" in str(w.message)
               and "UNRELIABLE" in str(w.message) for w in caught)
    # skip-assignment semantics: no partial SCC carved out -- all
    # placeholders, each node exactly once
    assert got == [(i, i) for i in range(n)]


def test_scc_budget_exactly_sufficient_no_warning(spark):
    """fixpoint_iters = cycle length - 1 is exactly enough improving
    iterations; the convergence probe must not flag it."""
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    n = 10
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)],
                                  "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = sorted((r.node, r.component)
                     for r in strongly_connected_components(
                         edges, fixpoint_iters=n - 1).collect())
    assert got == [(i, 0) for i in range(n)]
    assert not [w for w in caught
                if "strongly_connected_components" in str(w.message)]


_SCC_PHASE_CASES = {
    # DAG fringe: every node is trimmed, no search runs
    "trim_only": ([(1, 2), (2, 3), (1, 3), (3, 4), (5, 3), (4, 6)],
                  {n: n for n in range(1, 7)}, 0, 0),
    # one 12-cycle with a chord and a tail: the tail is trimmed, the
    # pivot's FW-BW takes the rest
    "pivot": ([(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (11, 20)],
              {**{n: 0 for n in range(12)}, 20: 20}, 1, 0),
    # two disjoint cycles: the pivot (smallest id on the degree tie)
    # takes 0..4, one coloring round takes 10..12
    "pivot_and_coloring": (
        [(i, (i + 1) % 5) for i in range(5)]
        + [(10, 11), (11, 12), (12, 10)],
        {**{n: 0 for n in range(5)}, **{n: 10 for n in (10, 11, 12)}},
        1, 2),
}


@pytest.mark.parametrize("case", sorted(_SCC_PHASE_CASES))
def test_scc_multistep_phases(spark, monkeypatch, case):
    """Each case stops in exactly one Multistep phase: count the pivot
    searches and the coloring fixpoints it ran."""
    import warnings as W

    import cypher_for_apache_flink_spark.functions.graph_algos as ga
    pairs, want, n_bfs, n_fix = _SCC_PHASE_CASES[case]
    calls = {"bfs": 0, "fix": 0}

    def spy(name, fn):
        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapped

    monkeypatch.setattr(ga, "_level_bfs", spy("bfs", ga._level_bfs))
    monkeypatch.setattr(ga, "_min_label_fixpoint",
                        spy("fix", ga._min_label_fixpoint))
    edges = spark.createDataFrame(pairs, "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = {r.node: r.component
               for r in ga.strongly_connected_components(edges).collect()}
    assert got == want
    assert (calls["bfs"], calls["fix"]) == (n_bfs, n_fix)
    assert not [w for w in caught
                if "strongly_connected_components" in str(w.message)]


def test_scc_pivot_search_cut_off_falls_back_to_coloring(spark):
    """The pivot's eccentricity can exceed what the coloring needs: in a
    bidirected path 10-11-12-13-0-14-15-16-17 with 2-cycles from 10 to
    20, 21 and 22, the pivot is 10 and reaches 17 only at level 8, while
    label 0 reaches every node in 5 iterations.  With fixpoint_iters=6
    the cut-off search assigns nothing and the coloring finds the one
    component exactly, without a warning."""
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    path = [10, 11, 12, 13, 0, 14, 15, 16, 17]
    pairs = list(zip(path, path[1:])) + [(10, 20), (10, 21), (10, 22)]
    edges = spark.createDataFrame(pairs + [(v, u) for u, v in pairs],
                                  "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = {r.node: r.component for r in strongly_connected_components(
            edges, fixpoint_iters=6).collect()}
    assert got == {n: 0 for n in path + [20, 21, 22]}
    assert not [w for w in caught
                if "strongly_connected_components" in str(w.message)]


def test_scc_empty_and_self_loop_inputs(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    empty = strongly_connected_components(
        spark.createDataFrame([], "src long, dst long"))
    assert empty.columns == ["node", "component"]
    assert empty.collect() == []
    # a self-loop joins no two nodes: 1 and 2 stay singletons
    loops = spark.createDataFrame([(1, 1), (1, 2), (2, 2)],
                                  "src long, dst long")
    assert sorted(map(tuple, strongly_connected_components(loops)
                      .collect())) == [(1, 1), (2, 2)]


def _jobs_in_group(spark, monkeypatch, run):
    """(jobs the status store files under a job group set around
    ``run``, (id, name) of each job missing a session tag added around
    it, jobs submitted meanwhile).  Fails when pyspark warns that a
    thread target was wrapped without the session, which drops the
    tags."""
    import uuid
    import warnings
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = tag = f"probe-{uuid.uuid4().hex}"
    counting = f"{tag}-count"
    count_rows = layout.count_rows

    def marked(df):
        # the RDD count runs outside any SQL execution, so no session tag
        # reaches it, from any thread: its jobs are marked instead
        old = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(counting)
        try:
            return count_rows(df)
        finally:
            sc.setLocalProperty("spark.job.description", old)

    monkeypatch.setattr(layout, "count_rows", marked)
    first = jsc.dagScheduler().nextJobId()
    sc.setJobGroup(group, "job group inheritance probe")
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            run()
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    end = jsc.dagScheduler().nextJobId()
    assert not [w for w in caught if "Tags will not be inherited"
                in str(w.message)]
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()

    def tagged(jid):
        # a session tag reaches a job as spark-session-<id>-...-<tag>
        job = store.job(jid)
        tags, about = job.jobTags(), job.description()
        return (about.isDefined() and about.get() == counting
                or any(tags.apply(i).endswith("-" + tag)
                       for i in range(tags.size())))

    return (len(sc.statusTracker().getJobIdsForGroup(group)),
            [(j, store.job(j).name()) for j in range(first, end)
             if not tagged(j)], end - first)


def test_scc_pool_threads_inherit_job_group(spark, monkeypatch):
    """The coloring's fixpoint threads run under the caller's job group
    and session tags (two disjoint cycles: one is left for the
    coloring)."""
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        strongly_connected_components)
    edges = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)] + [(10, 11), (11, 12), (12, 10)],
        "src long, dst long")
    grouped, untagged, total = _jobs_in_group(
        spark, monkeypatch,
        lambda: strongly_connected_components(edges).collect())
    assert total > 0 and grouped == total and untagged == []


def test_louvain_pool_thread_inherits_job_group(spark, monkeypatch):
    from cypher_for_apache_flink_spark.functions.graph_algos import louvain
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src long, dst long")
    grouped, untagged, total = _jobs_in_group(
        spark, monkeypatch, lambda: louvain(edges, rounds=2).collect())
    assert total > 0 and grouped == total and untagged == []


def test_random_walks_shuffled_regime_matches_broadcast(spark, monkeypatch):
    """Forcing the big-frontier shuffled join (VERDICT r9 #1 gate) must
    produce byte-identical walks to the broadcast plan."""
    import cypher_for_apache_flink_spark.functions.graph_algos as ga
    pairs = [(i, (i * 3 + 1) % 29) for i in range(29)] \
        + [(i, (i * 7 + 2) % 29) for i in range(29)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(i,) for i in range(0, 29, 3)],
                                   "node long")
    want = sorted(map(tuple, ga.random_walks(edges, starts,
                                             length=5).collect()))
    monkeypatch.setattr(layout, "PIN_DATA_BYTES", 1)   # every frontier "big"
    got = sorted(map(tuple, ga.random_walks(edges, starts,
                                            length=5).collect()))
    assert got == want and len(got) == 10 * 6


def test_k_truss_big_regime_matches_small(spark, monkeypatch):
    """Forcing the big-data branch (pinned exchanges + shuffle_hash
    enumeration joins, VERDICT r9 #2) must not change the truss."""
    import cypher_for_apache_flink_spark.functions.graph_algos as ga
    pairs = sorted({(min(i % 9, (i * 5 + 2) % 9), max(i % 9, (i * 5 + 2) % 9))
                    for i in range(40)}
                   | {(min(i % 9, (i * 7 + 1) % 9),
                       max(i % 9, (i * 7 + 1) % 9)) for i in range(25)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    want = sorted(map(tuple, ga.k_truss(edges, k=3, rounds=3).collect()))
    monkeypatch.setattr(layout, "PIN_DATA_BYTES", 1)
    got = sorted(map(tuple, ga.k_truss(edges, k=3, rounds=3).collect()))
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# round 10: node2vec-biased walks

def test_node2vec_p_bias_controls_backtracking(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        node2vec_walks)
    # star with a tail: 1 <-> 2, 2 <-> 3.  From 1 the walk must go to 2;
    # at 2 the choices are return (1) or forward (3).
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long")
    starts = spark.createDataFrame([(1,)], "node long")
    # 1/p dwarfs 1/q (ratio 1e6): backtrack at every biased step
    back = {(r.walk, r.step): r.node for r in node2vec_walks(
        edges, starts, length=4, p="1/1000", q=1000).collect()}
    assert [back[(1, s)] for s in range(5)] == [1, 2, 1, 2, 1]
    # 1/q dwarfs return/common: never return to the previous node when
    # a forward edge exists (2 with prev=3 moves ON to 1, not back to 3;
    # 3 has only the return edge so the walk must take it)
    fwd = {(r.walk, r.step): r.node for r in node2vec_walks(
        edges, starts, length=4, p=1000, q="1/1000").collect()}
    assert [fwd[(1, s)] for s in range(5)] == [1, 2, 3, 2, 1]


def test_node2vec_deterministic_and_first_step_unbiased(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        node2vec_walks)
    pairs = [(i, (i * 3 + 1) % 17) for i in range(17)] \
        + [(i, (i * 5 + 2) % 17) for i in range(17)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(0,), (4,), (9,)], "node long")
    a = sorted(map(tuple, node2vec_walks(edges, starts, length=5,
                                         p=2, q="0.5").collect()))
    b = sorted(map(tuple, node2vec_walks(edges.repartition(5), starts,
                                         length=5, p=2, q="0.5").collect()))
    assert a == b and len(a) == 3 * 6
    # step-0 rows are the starts themselves
    assert {(w, n) for w, s, n in a if s == 0} == {(0, 0), (4, 4), (9, 9)}


def test_node2vec_invalid_pq_raises(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        node2vec_walks)
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    starts = spark.createDataFrame([(1,)], "node long")
    import pytest as pt
    with pt.raises(ValueError, match="p and q"):
        node2vec_walks(edges, starts, p=0)


def test_node2vec_matches_duckdb_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        node2vec_sql_oracle, node2vec_walks)
    pairs = sorted({(i % 13, (i * 5 + 3) % 13) for i in range(50)}
                   | {((i * 7 + 1) % 13, i % 13) for i in range(30)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(0,), (3,), (7,), (11,)], "node long")
    got = sorted(map(tuple, node2vec_walks(
        edges, starts, length=6, p=4, q="0.25").collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = sorted(map(tuple, con.execute(node2vec_sql_oracle(
        "SELECT src, dst FROM e",
        "SELECT 0 AS node UNION ALL SELECT 3 UNION ALL SELECT 7 "
        "UNION ALL SELECT 11",
        length=6, p=4, q="0.25")).fetchall()))
    assert got == want


def test_node2vec_shuffled_regime_matches_broadcast(spark, monkeypatch):
    import cypher_for_apache_flink_spark.functions.graph_algos as ga
    pairs = [(i, (i * 3 + 1) % 23) for i in range(23)] \
        + [(i, (i * 7 + 2) % 23) for i in range(23)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(i,) for i in range(0, 23, 4)],
                                   "node long")
    want = sorted(map(tuple, ga.node2vec_walks(
        edges, starts, length=4, p=2, q=3).collect()))
    monkeypatch.setattr(layout, "PIN_DATA_BYTES", 1)
    got = sorted(map(tuple, ga.node2vec_walks(
        edges, starts, length=4, p=2, q=3).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# round 10: weighted PageRank

def test_weighted_pagerank_hand_case(spark):
    # a -> b (w=3), a -> c (w=1): b receives 3x c's transfer from a
    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0)], "src string, dst string, w double")
    got = _ranks(pagerank(edges, iterations=1, damping=0.85,
                          weight_col="w"))
    base = 0.15 / 3
    # a holds 1/3; transfers 0.85 * (1/3) split 3:1; b,c dangle their mass
    dangling = (1 / 3 + 1 / 3) / 3  # b and c are dangling at iteration 1
    assert got["b"] == pytest.approx(
        base + 0.85 * ((1 / 3) * 0.75 + dangling), abs=1e-12)
    assert got["c"] == pytest.approx(
        base + 0.85 * ((1 / 3) * 0.25 + dangling), abs=1e-12)


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 17, 2.5) for i in range(17)]
        + [(i, (i * 5 + 2) % 17, 2.5) for i in range(17)],
        "src long, dst long, w double")
    a = {r.node: round(r.rank, 10)
         for r in pagerank(edges, iterations=5, weight_col="w").collect()}
    b = {r.node: round(r.rank, 10)
         for r in pagerank(edges, iterations=5).collect()}
    assert a == b


def test_weighted_pagerank_drops_nonpositive_edges(spark):
    # the w=0 edge to d must not count: d stays out of the node set
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0), ("a", "d", 0.0)],
        "src string, dst string, w double")
    got = _ranks(pagerank(edges, iterations=3, weight_col="w"))
    assert set(got) == {"a", "b"}


def test_weighted_pagerank_matches_duckdb_oracle(spark):
    import duckdb
    edge_list = [("a", "b", 3.0), ("b", "c", 1.5), ("c", "a", 2.0),
                 ("a", "c", 1.0), ("d", "a", 4.0), ("d", "c", 0.5)]
    edges = spark.createDataFrame(edge_list,
                                  "src string, dst string, w double")
    got = {r.node: round(r.rank, 6)
           for r in pagerank(edges, iterations=3, weight_col="w").collect()}
    vals = ", ".join(f"('{s}', '{d}', {w})" for s, d, w in edge_list)
    sql = pagerank_sql_oracle(
        f"SELECT * FROM (VALUES {vals}) t(src, dst, w)", iterations=3,
        weighted=True)
    want = dict(duckdb.connect().execute(sql).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# round 10: maximal independent set (Luby, deterministic md5 draws)

def _check_mis(pairs, result):
    """Independence + maximality against the raw edge list."""
    nbrs = {}
    for a, b in pairs:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    inset = {n for n, f in result.items() if f}
    for a, b in pairs:
        assert not (a in inset and b in inset and a != b), (a, b)
    for n, f in result.items():
        if not f:
            assert nbrs.get(n, set()) & inset, f"{n} excluded w/o reason"


def test_mis_path_and_star(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        maximal_independent_set)
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: r.in_mis
           for r in maximal_independent_set(edges).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 10, 11, 12, 13}
    _check_mis(pairs, got)


def test_mis_deterministic_and_valid_on_random_graph(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        maximal_independent_set)
    pairs = sorted({(i % 23, (i * 7 + 3) % 23) for i in range(80)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    a = {r.node: r.in_mis
         for r in maximal_independent_set(edges).collect()}
    b = {r.node: r.in_mis
         for r in maximal_independent_set(edges.repartition(5)).collect()}
    assert a == b
    _check_mis(pairs, a)


def test_mis_warns_on_exhausted_rounds(spark):
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        maximal_independent_set)
    pairs = [(i, i + 1) for i in range(30)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        got = {r.node: r.in_mis
               for r in maximal_independent_set(edges, rounds=1).collect()}
    assert any("maximal" in str(w.message) for w in caught)
    # still independent even if not maximal
    inset = {n for n, f in got.items() if f}
    for a, b in pairs:
        assert not (a in inset and b in inset)


def test_mis_matches_duckdb_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        maximal_independent_set, mis_sql_oracle)
    pairs = sorted({(i % 17, (i * 5 + 2) % 17) for i in range(60)}
                   | {((i * 3 + 1) % 17, i % 17) for i in range(40)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted((r.node, r.in_mis)
                 for r in maximal_independent_set(edges, rounds=6)
                 .collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = sorted(map(tuple, con.execute(
        mis_sql_oracle("SELECT src, dst FROM e", rounds=6)).fetchall()))
    assert got == want


def test_node2vec_oracle_on_sparse_graph_with_distinct_prev(spark):
    """Regression (round 10): the common-neighbor probe must be keyed by
    the walk's PREVIOUS node — on a larger sparse graph the previous
    node is generally not in the current frontier, which the 13-node
    oracle test could not distinguish (every node was someone's current
    node).  Caught by the sf0.01 driver replay."""
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        node2vec_sql_oracle, node2vec_walks)
    pairs = sorted({(i % 61, (i * 17 + 5) % 61) for i in range(150)}
                   | {(i % 61, (i * 29 + 11) % 61) for i in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(i,) for i in range(0, 61, 9)],
                                   "node long")
    got = sorted(map(tuple, node2vec_walks(
        edges, starts, length=8, p=3, q="0.2").collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    starts_sql = " UNION ALL ".join(
        f"SELECT {i} AS node" for i in range(0, 61, 9))
    want = sorted(map(tuple, con.execute(node2vec_sql_oracle(
        "SELECT src, dst FROM e", starts_sql,
        length=8, p=3, q="0.2")).fetchall()))
    assert got == want


def test_mis_rejects_nonpositive_rounds(spark):
    """Round 11 (VERDICT r10 #3): rounds < 1 is a typed ValueError up
    front, not a NoneType crash after the loop never runs."""
    import pytest
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        maximal_independent_set)
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="rounds must be >= 1"):
            maximal_independent_set(edges, rounds=bad)


def test_node2vec_probe_gate_regime_independent(spark, monkeypatch):
    """Round 11 (VERDICT r10 #1): the middle regime -- a broadcastable
    frontier whose prev fan-out outgrows the probe budget -- must fall
    back to the shuffled (prev, dst) probe join and return bit-identical
    walks.  The budget is patched so a hub-star graph (max out-degree
    60) trips the n_starts x max_deg bound while the 3-row start set
    still broadcasts."""
    import cypher_for_apache_flink_spark.functions.graph_algos as ga
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        node2vec_walks)
    # hub 0 -> 1..60, spokes chain back onto the hub, plus a path so
    # walks have real prev-keyed choices
    pairs = [(0, i) for i in range(1, 61)]
    pairs += [(i, 0) for i in range(1, 61)]
    pairs += [(i, i + 1) for i in range(1, 60)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    starts = spark.createDataFrame([(0,), (5,), (30,)], "node long")
    want = sorted(map(tuple, node2vec_walks(
        edges, starts, length=4, p=4, q="0.25").collect()))
    # n_starts*24 = 72 < 2000; edges.count()*24 = 4296 >= 2000;
    # n_starts*max_deg*24 = 3*60*24 = 4320 >= 2000 -> shuffled probe
    monkeypatch.setattr(layout, "PIN_DATA_BYTES", 2000)
    calls = {"pf": 0}
    real_broadcast = ga.F.broadcast

    def counting(df):
        # pf broadcasts carry the __common marker column; frontier and
        # prev-set broadcasts do not
        if "__common" in df.columns:
            calls["pf"] += 1
        return real_broadcast(df)

    monkeypatch.setattr(ga.F, "broadcast", counting)
    got = sorted(map(tuple, node2vec_walks(
        edges, starts, length=4, p=4, q="0.25").collect()))
    assert calls["pf"] == 0
    assert got == want


# --- Louvain (round 11) -----------------------------------------------------

def _two_cliques(spark):
    # two 4-cliques joined by one bridge edge: the canonical community
    # fixture -- modularity-greedy must split them at the bridge
    pairs = []
    for base in (0, 10):
        ns = [base + i for i in range(4)]
        pairs += [(a, b) for a in ns for b in ns if a < b]
    pairs.append((3, 10))
    return pairs, spark.createDataFrame(pairs, "src long, dst long")


def test_louvain_separates_cliques(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import louvain
    pairs, edges = _two_cliques(spark)
    got = {r.node: r.community for r in louvain(edges, rounds=8).collect()}
    assert set(got) == {0, 1, 2, 3, 10, 11, 12, 13}
    a = {got[n] for n in (0, 1, 2, 3)}
    b = {got[n] for n in (10, 11, 12, 13)}
    assert len(a) == 1 and len(b) == 1 and a != b


def test_louvain_deterministic_across_partitionings(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import louvain
    pairs = sorted({(i % 29, (i * 11 + 5) % 29) for i in range(120)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    a = sorted(map(tuple, louvain(edges, rounds=6).collect()))
    b = sorted(map(tuple, louvain(edges.repartition(7), rounds=6).collect()))
    assert a == b


def test_louvain_empty_input_and_bad_rounds(spark):
    import pytest
    from cypher_for_apache_flink_spark.functions.graph_algos import louvain
    empty = spark.createDataFrame([], "src long, dst long")
    assert louvain(empty).count() == 0
    with pytest.raises(ValueError, match="rounds must be >= 1"):
        louvain(empty, rounds=0)


def test_louvain_warns_when_budget_exhausted(spark):
    import warnings as W
    from cypher_for_apache_flink_spark.functions.graph_algos import louvain
    # a long even cycle keeps synchronous local moving busy well past
    # one round
    pairs = [(i, (i + 1) % 20) for i in range(20)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        louvain(edges, rounds=1).collect()
    assert any("louvain" in str(w.message) for w in caught)


def test_louvain_matches_sql_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        louvain, louvain_sql_oracle)
    pairs = sorted({((i * 7) % 31, (i * 13 + 2) % 31) for i in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted(map(tuple, louvain(edges, rounds=4).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = sorted(map(tuple, con.execute(
        louvain_sql_oracle("SELECT src, dst FROM e", rounds=4)
        + " ORDER BY node").fetchall()))
    assert got == want


def test_fastrp_matches_sql_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from pyspark.sql import functions as F
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        fastrp_embeddings, fastrp_sql_oracle)
    pairs = sorted({((i * 7) % 31, (i * 13 + 2) % 31) for i in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted(map(tuple, fastrp_embeddings(
        edges, dims=4, iterations=2, weights=(1, 2))
        .select("node", F.posexplode("emb").alias("dim", "val"))
        .collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE e(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", pairs)
    want = sorted(map(tuple, con.execute(
        fastrp_sql_oracle("SELECT src, dst FROM e", dims=4,
                          iterations=2, weights=(1, 2))).fetchall()))
    assert got == want


def test_fastrp_deterministic_across_partitionings(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        fastrp_embeddings)
    pairs = sorted({(i % 29, (i * 11 + 5) % 29) for i in range(120)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    a = sorted((r.node, tuple(r.emb)) for r in
               fastrp_embeddings(edges, dims=6).collect())
    b = sorted((r.node, tuple(r.emb)) for r in
               fastrp_embeddings(edges.repartition(7), dims=6).collect())
    assert a == b


def test_fastrp_structural_twins_and_unit_norm(spark):
    """Nodes with identical neighborhoods embed identically (their own
    hash-distinct projection never re-enters the neighbor sum), and the
    normalized variant returns unit-norm float vectors."""
    from pyspark.sql import functions as F
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        fastrp_embeddings)
    # 1 and 2 both connect to exactly {3, 4, 5}; never to each other
    pairs = [(1, 3), (1, 4), (1, 5), (2, 3), (2, 4), (2, 5), (3, 4)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    emb = {r.node: tuple(r.emb) for r in
           fastrp_embeddings(edges, dims=8, iterations=3).collect()}
    assert emb[1] == emb[2]
    assert emb[1] != emb[3]
    norms = (fastrp_embeddings(edges, dims=8, iterations=2,
                               normalize=True, weights=(0.5, 1.5))
             .select(F.round(F.sqrt(F.aggregate(
                 "emb", F.lit(0.0), lambda a, x: a + x * x)), 9)
                 .alias("n")).collect())
    assert {r.n for r in norms} == {1.0}


def test_fastrp_empty_input_and_bad_args(spark):
    import pytest as PT
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        fastrp_embeddings)
    empty = spark.createDataFrame([], "src long, dst long")
    out = fastrp_embeddings(empty)
    assert out.count() == 0 and out.columns == ["node", "emb"]
    with PT.raises(ValueError, match="dims must be in"):
        fastrp_embeddings(empty, dims=0)
    with PT.raises(ValueError, match="iterations must be >= 1"):
        fastrp_embeddings(empty, iterations=0)
    with PT.raises(ValueError, match="one weight per iteration"):
        fastrp_embeddings(empty, iterations=2, weights=(1,))
    with PT.raises(ValueError, match="weights must be integers"):
        fastrp_embeddings(empty, iterations=1, weights=(0.5,))


def test_local_clustering_hand_case(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        local_clustering)
    # triangle 1-2-3 plus pendant 3-4: coeffs 1, 1, 1/3, 0
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: (r.triangles, r.degree, round(r.coeff, 6))
           for r in local_clustering(edges).collect()}
    assert got == {1: (1, 2, 1.0), 2: (1, 2, 1.0),
                   3: (1, 3, round(1 / 3, 6)), 4: (0, 1, 0.0)}


def test_local_clustering_matches_sql_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        local_clustering, local_clustering_sql_oracle)
    # modulus edges plus an explicit 5-clique so triangles exist
    pairs = sorted({(i % 17, (i * i + 1) % 17) for i in range(120)}
                   | {(a, b) for a in range(5) for b in range(a + 1, 5)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = sorted((r.node, r.triangles, r.degree, round(r.coeff, 6))
                 for r in local_clustering(edges).collect())
    assert any(t > 0 for _, t, _, _ in got)   # fixture sanity
    con = duckdb.connect()
    con.execute("CREATE TABLE g(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO g VALUES (?, ?)", pairs)
    want = sorted((n, t, d, round(c, 6)) for n, t, d, c in con.execute(
        local_clustering_sql_oracle("SELECT src, dst FROM g")).fetchall())
    assert got == want


def test_local_clustering_totals_match_triangle_count(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        local_clustering, triangle_count)
    pairs, edges = _two_cliques(spark)
    per_node = local_clustering(edges).collect()
    total = triangle_count(edges).collect()[0].n_triangles
    # every triangle contributes once to each of its three members
    assert sum(r.triangles for r in per_node) == 3 * total
    # interior clique members have coefficient 1; the two bridge
    # endpoints (3 and 10) see 3 triangles over degree 4 -> 0.5
    by = {r.node: round(r.coeff, 9) for r in per_node}
    assert by[3] == by[10] == 0.5
    assert all(v == 1.0 for n, v in by.items() if n not in (3, 10))


def test_louvain_weighted_matches_sql_oracle(spark):
    duckdb = pytest.importorskip("duckdb")
    from cypher_for_apache_flink_spark.functions.graph_algos import (
        louvain, louvain_sql_oracle)
    rows = sorted({((i * 7) % 23, (i * 13 + 2) % 23, (i % 5) + 1)
                   for i in range(80)})
    rows = [(a, b, w) for a, b, w in rows if a != b]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = sorted(map(tuple, louvain(edges, rounds=4,
                                    weight_col="w").collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE g(src BIGINT, dst BIGINT, w BIGINT)")
    con.executemany("INSERT INTO g VALUES (?, ?, ?)", rows)
    want = sorted(map(tuple, con.execute(
        louvain_sql_oracle("SELECT src, dst, w FROM g", rounds=4,
                           weighted=True) + " ORDER BY node").fetchall()))
    assert got == want


def test_louvain_weight_changes_the_split(spark):
    from cypher_for_apache_flink_spark.functions.graph_algos import louvain
    # a 4-cycle with one heavy diagonal-ish pair: unweighted louvain
    # sees a symmetric cycle; weighting edge (1,2) and (3,4) heavily
    # must pull {1,2} and {3,4} together
    rows = [(1, 2, 10), (2, 3, 1), (3, 4, 10), (4, 1, 1)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {r.node: r.community
           for r in louvain(edges, rounds=8, weight_col="w").collect()}
    assert got[1] == got[2] and got[3] == got[4]
    assert got[1] != got[3]


def test_louvain_weighted_rejects_floats_and_drops_nonpositive(spark):
    import pytest as PT
    from cypher_for_apache_flink_spark.functions.graph_algos import louvain
    fed = spark.createDataFrame([(1, 2, 1.5)],
                                "src long, dst long, w double")
    with PT.raises(ValueError, match="integer column"):
        louvain(fed, weight_col="w")
    # w <= 0 edges drop entirely: only the positive edge remains
    ed = spark.createDataFrame([(1, 2, 0), (2, 3, -4), (4, 5, 2)],
                               "src long, dst long, w long")
    got = {r.node for r in louvain(ed, rounds=2,
                                   weight_col="w").collect()}
    assert got == {4, 5}
