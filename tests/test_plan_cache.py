"""Session plan cache (round 8, VERDICT r7 #6).

The reference extracts literals to parameters for plan-cache friendliness
(CypherParser.scala:72, RelationalCypherSession.scala:146-149); here the
planned DataFrame itself is memoized per (skeleton, graph, params), so a
dashboard re-issuing the same queries skips parse+plan+Catalyst analysis.
"""

import gc

import pytest
from test_cache_hygiene import _cached_ids, _freed_after_jvm_gc

from cypher_for_apache_flink_spark import CypherSession, PropertyGraph
from cypher_for_apache_flink_spark.sources.create import graph_from_create


@pytest.fixture()
def sess_graph(spark):
    g = graph_from_create(spark, "CREATE (:A {x: 1})-[:R]->(:B {x: 2})")
    s = CypherSession.for_graph(g)
    return s, g


def test_identical_query_hits(sess_graph):
    # admission on SECOND use: sighting 1 stores a marker, sighting 2
    # replans and admits, sighting 3+ hit -- one-shot queries never pin
    # an analyzed plan (round-8 heap fix)
    s, g = sess_graph
    q = "MATCH (a:A) RETURN a.x AS x"
    r1 = s.cypher(q).to_maps()
    r2 = s.cypher(q).to_maps()
    r3 = s.cypher(q).to_maps()
    assert r1 == r2 == r3 == [{"x": 1}]
    assert s.plan_cache_stats == {"hits": 1, "misses": 2}


def test_different_literal_misses(sess_graph):
    s, g = sess_graph
    assert s.cypher("MATCH (a:A) WHERE a.x < 5 RETURN a.x AS x").to_maps() \
        == [{"x": 1}]
    assert s.cypher("MATCH (a:A) WHERE a.x < 1 RETURN a.x AS x").to_maps() \
        == []
    assert s.plan_cache_stats["hits"] == 0


def test_explicit_params_key_the_cache(sess_graph):
    s, g = sess_graph
    q = "MATCH (a:A) WHERE a.x = $v RETURN a.x AS x"
    assert s.cypher(q, params={"v": 1}).to_maps() == [{"x": 1}]
    assert s.cypher(q, params={"v": 2}).to_maps() == []
    assert s.cypher(q, params={"v": 1}).to_maps() == [{"x": 1}]
    assert s.cypher(q, params={"v": 1}).to_maps() == [{"x": 1}]
    assert s.plan_cache_stats == {"hits": 1, "misses": 3}


def test_mutating_queries_not_cached(sess_graph):
    s, g = sess_graph
    r1 = s.cypher("CREATE (:C {y: 1}) RETURN 1 AS one")
    r2 = s.cypher("CREATE (:C {y: 1}) RETURN 1 AS one")
    # each execution mints a fresh result graph
    assert r1.graph is not None and r2.graph is not None
    assert r1.graph is not r2.graph
    assert s.plan_cache_stats["hits"] == 0


def test_register_invalidates(sess_graph):
    s, g = sess_graph
    q = "FROM GRAPH other MATCH (n:Z) RETURN n.z AS z"
    g2 = graph_from_create(g.node_tables.get(
        frozenset({"A"})).sparkSession if g.node_tables else None,
        "CREATE (:Z {z: 1})")
    s.register("other", g2)
    assert s.cypher(q).to_maps() == [{"z": 1}]
    g3 = graph_from_create(g2.node_tables[
        frozenset({"Z"})].sparkSession, "CREATE (:Z {z: 9})")
    s.register("other", g3)     # re-registration bumps the epoch
    assert s.cypher(q).to_maps() == [{"z": 9}]


def test_graph_identity_guards_the_hit(spark):
    # same session, same query text, DIFFERENT graph object: no stale hit
    s = CypherSession(spark)
    g1 = graph_from_create(spark, "CREATE (:A {x: 1})")
    g2 = graph_from_create(spark, "CREATE (:A {x: 2})")
    s.register("g1", g1)
    s.register("g2", g2)
    q = "MATCH (a:A) RETURN a.x AS x"
    assert s.cypher(q, graph=g1).to_maps() == [{"x": 1}]
    assert s.cypher(q, graph=g2).to_maps() == [{"x": 2}]
    assert s.cypher(q, graph=g1).to_maps() == [{"x": 1}]
    assert s.cypher(q, graph=g1).to_maps() == [{"x": 1}]
    assert s.plan_cache_stats["hits"] == 1


def test_cache_bounded(sess_graph):
    s, g = sess_graph
    s.PLAN_CACHE_MAX = 4
    for i in range(10):
        s.cypher(f"RETURN 'k{i}' AS tag, {i} AS v").to_maps()
    assert len(s._plan_cache) <= 4


def test_graph_cypher_memoizes_session(spark):
    g = graph_from_create(spark, "CREATE (:A {x: 1})")
    q = "MATCH (a:A) RETURN a.x AS x"
    assert g.cypher(q).to_maps() == [{"x": 1}]
    assert g.cypher(q).to_maps() == [{"x": 1}]
    assert g.cypher(q).to_maps() == [{"x": 1}]
    s = g.__dict__["_implicit_session"]
    assert s.plan_cache_stats["hits"] >= 1


def test_no_stale_hit_across_mutation(sess_graph):
    """VERDICT r8 #7 gate: mutation returns a NEW graph object, so its
    queries can never resolve to the pre-mutation plan (key embeds the
    graph identity, hit re-verifies via weakref)."""
    s, g = sess_graph
    q = "MATCH (a:A) RETURN a.x AS x"
    for _ in range(3):   # admit + hit on the original graph
        assert s.cypher(q, graph=g).to_maps() == [{"x": 1}]
    assert s.plan_cache_stats["hits"] == 1
    g2 = s.cypher("MATCH (a:A) SET a.x = 99 RETURN a.x AS x",
                  graph=g).graph
    assert g2 is not None and g2 is not g
    # the mutated graph must not see the cached x=1 plan
    assert s.cypher(q, graph=g2).to_maps() == [{"x": 99}]
    # and the original graph's cached plan still answers for g
    assert s.cypher(q, graph=g).to_maps() == [{"x": 1}]


@pytest.mark.parametrize("q", [
    "MATCH (a:A)-[:R*]->(b:B) RETURN count(*) AS c",
    "MATCH (a:A)-[:R*1..3]->(b:B) RETURN count(*) AS c",
], ids=["unbounded", "bounded"])
def test_hit_reads_the_same_checkpoint(spark, q):
    """A hit reuses the admitted plan's var-length checkpoints: it builds
    no new one, and dropping an earlier result does not free them."""
    s = CypherSession(spark)
    g = graph_from_create(
        spark, "CREATE (:A {x: 1})-[:R]->(:B), (:A {x: 2})-[:R]->(:B)")
    s.register("g", g)
    s.cypher(q, graph=g)                                   # first sighting
    before = _cached_ids(spark)
    r = s.cypher(q, graph=g)                               # admitted
    admitted = _cached_ids(spark) - before
    assert admitted
    assert r.to_maps() == [{"c": 2}]
    del r
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    before_hit = _cached_ids(spark)
    hit = s.cypher(q, graph=g)
    assert s.plan_cache_stats["hits"] == 1
    assert hit.to_maps() == [{"c": 2}]
    assert admitted <= _cached_ids(spark)
    assert not (_cached_ids(spark) - before_hit)


def test_graph_close_releases_plan_cache(spark):
    """ADVICE r8: close() breaks the graph<->session cycle, so the
    checkpoints the cached plans read are freed; the graph stays usable."""
    g = graph_from_create(
        spark, "CREATE (:A {x: 1})-[:R]->(:B), (:A {x: 2})-[:R]->(:B)")
    q = "MATCH (a:A)-[:R*]->(b:B) RETURN count(*) AS c"
    before = _cached_ids(spark)
    for _ in range(3):
        assert g.cypher(q).to_maps() == [{"c": 2}]
    s = g.__dict__["_implicit_session"]
    pinned = _cached_ids(spark) - before
    assert pinned
    g.close()
    assert "_implicit_session" not in g.__dict__
    assert not s._plan_cache
    del s
    assert _freed_after_jvm_gc(spark, pinned)
    # idempotent + graph still works (fresh session)
    g.close()
    assert g.cypher(q).to_maps() == [{"c": 2}]


def test_graph_context_manager_closes(spark):
    with graph_from_create(spark, "CREATE (:A {x: 5})") as g:
        assert g.cypher("MATCH (a:A) RETURN a.x AS x").to_maps() \
            == [{"x": 5}]
    assert "_implicit_session" not in g.__dict__
