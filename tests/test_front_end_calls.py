"""py4j round trips of the Cypher front end, and the per-graph scan memo.

Planning is driver-side py4j traffic: with pyspark's default
``spark.python.sql.dataFrameDebugging.enabled`` every ``F.col`` and
``Column`` method call pays about 11 round trips for call-site capture.
The planner builds each graph's aligned scan frames once
(``PropertyGraph._aligned_scans``) and writes projections, joins and SET
rewrites as SQL text; this pins the call budget of a 3-hop read and what
the memo must not change.
"""

import gc

import py4j.java_gateway as jg
import pytest

from cypher_for_apache_flink_spark import CypherSession
from cypher_for_apache_flink_spark.sources.tpch import tpch_graph

SF = "/root/testdata/sf0.001"

CUST_PARTS = (
    "MATCH (c:Customer {c_name: $c})-[:PLACED]->(o:Order)"
    "-[l:CONTAINS]->(p:Part) "
    "RETURN p.p_name AS part, l.l_quantity AS qty "
    "ORDER BY qty DESC, id(l) LIMIT 10")


@pytest.fixture
def calls(monkeypatch):
    """Running count of py4j commands sent to the JVM."""
    n = [0]
    send = jg.GatewayClient.send_command

    def counting(self, *args, **kwargs):
        n[0] += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counting)
    return n


@pytest.fixture(scope="module", autouse=True)
def _tpch_read(spark):
    # reads the parquet footers once; each test then takes its own copy
    # (a fresh graph, so a fresh scan memo) from the session-wide memo
    tpch_graph(spark, SF)


def _planned(session, graph, calls, query, **params):
    # py4j releases a collected Java reference with one more command, so
    # earlier garbage is collected first and the cycle collector kept out
    # of the count
    gc.collect()
    gc.disable()
    try:
        before = calls[0]
        session.cypher(query, params=params, graph=graph)
        return calls[0] - before
    finally:
        gc.enable()


def test_cust_parts_plans_within_call_budget(spark, calls):
    g = tpch_graph(spark, SF)
    s = CypherSession(spark)
    cold = _planned(s, g, calls, CUST_PARTS, c="Customer#000000001")
    # a new binding misses the plan cache and plans again over the memo
    warm = _planned(s, g, calls, CUST_PARTS, c="Customer#000000002")
    assert warm <= 700, warm
    assert cold <= 700, cold
    frames = {k for k in g._aligned_scans if len(k) == 2}
    assert frames == {
        ("nodes", frozenset({"Customer"})), ("nodes", frozenset({"Order"})),
        ("nodes", frozenset({"Part"})), ("rels", ("PLACED",)),
        ("rels", ("CONTAINS",))}
    # one renamed frame per (frame, variable); the second plan reused them
    assert len(g._aligned_scans) == 2 * len(frames)


def test_self_join_over_one_memoized_scan(spark):
    g = tpch_graph(spark, SF)
    res = g.cypher(
        "MATCH (a:Customer)-[:FROM_NATION]->(n:Nation)"
        "<-[:FROM_NATION]-(b:Customer) RETURN count(*) AS k")
    assert res.df.collect()[0]["k"] == 894
    # both Customer variables renamed one memoized frame
    customer = [k[2:] for k in g._aligned_scans
                if k[:2] == ("nodes", frozenset({"Customer"}))]
    assert sorted(customer) == [(), ("a",), ("b",)]


def test_set_leaves_the_old_graph_and_its_memo_alone(spark):
    g = tpch_graph(spark, SF)
    read = "MATCH (c:Customer {c_name: $c}) RETURN c.c_acctbal AS bal"
    name = "Customer#000000003"
    old = g.cypher(read, params={"c": name}).df.collect()[0]["bal"]
    g2 = g.cypher("MATCH (c:Customer {c_name: $c}) SET c.c_acctbal = $bal "
                  "RETURN c.c_acctbal AS bal",
                  params={"c": name, "bal": -1.5}).graph
    assert g2 is not g and g2._aligned_scans is not g._aligned_scans
    assert g2.cypher(read, params={"c": name}).df.collect()[0]["bal"] == -1.5
    assert g.cypher(read, params={"c": name}).df.collect()[0]["bal"] == old
    assert old != -1.5
