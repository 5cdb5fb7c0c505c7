"""Expression-surface gap coverage: map projection, bitwise, toId/prefixId,
BigDecimal (reference Expr.scala:518,667,676,788,916-948)."""

import decimal

import pytest

from cypher_for_apache_flink_spark import PropertyGraph
from cypher_for_apache_flink_spark.operators.records import PREFIX_SHIFT


@pytest.fixture(scope="module")
def people(spark):
    nodes = {
        frozenset({"Person"}): spark.createDataFrame(
            [(1, "Alice", 42, 1500.5), (2, "Bob", 23, 99.99)],
            "id long, name string, age long, balance double"),
    }
    return PropertyGraph(nodes, {}, name="people")


def one(result):
    rows = result.collect()
    assert len(rows) == 1
    return rows[0]


def test_map_projection_explicit(people):
    r = one(people.cypher(
        "MATCH (p:Person) WHERE p.age = 42 "
        "RETURN p {.name, doubled: p.age * 2} AS m"))
    assert r["m"]["name"] == "Alice" and r["m"]["doubled"] == 84


def test_map_projection_all_props(people):
    r = one(people.cypher(
        "MATCH (p:Person) WHERE p.age = 23 RETURN p {.*} AS m"))
    assert r["m"].asDict() == {"age": 23, "balance": 99.99, "name": "Bob"}


def test_map_projection_override(people):
    # explicit item wins over .* expansion
    r = one(people.cypher(
        "MATCH (p:Person) WHERE p.age = 23 "
        "RETURN p {.*, age: 99} AS m"))
    assert r["m"]["age"] == 99 and r["m"]["name"] == "Bob"


def test_bitwise_functions(people):
    r = one(people.cypher(
        "MATCH (p:Person) WHERE p.age = 42 "
        "RETURN shiftLeft(p.age, 2) AS sl, shiftRightUnsigned(p.age, 1) AS sr, "
        "bitwiseAnd(p.age, 15) AS ba, bitwiseOr(p.age, 1) AS bo, "
        "bitwiseXor(p.age, 255) AS bx"))
    assert tuple(r) == (42 << 2, 42 >> 1, 42 & 15, 42 | 1, 42 ^ 255)


def test_toid_prefixid(people):
    r = one(people.cypher(
        "MATCH (p:Person) WHERE p.age = 42 "
        "RETURN toId(p.age) AS t, prefixId(id(p), 3) AS pre"))
    assert r["t"] == 42
    assert r["pre"] == 1 + (3 << PREFIX_SHIFT)


def test_bigdecimal(people):
    r = one(people.cypher(
        "MATCH (p:Person) WHERE p.age = 42 "
        "RETURN bigDecimal(p.balance, 10, 2) AS d"))
    assert r["d"] == decimal.Decimal("1500.50")


def test_literal_extraction_shares_ast_skeleton(spark):
    """Two literal-differing queries of the same shape parse ONE skeleton
    (AstRewriting literal extraction, CypherParser.scala:72); results match
    the literal forms exactly."""
    from cypher_for_apache_flink_spark import CypherSession, PropertyGraph
    from cypher_for_apache_flink_spark.parser import parser as P

    g = PropertyGraph({frozenset({"V"}): spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, x long")}, {}, name="lits")
    s = CypherSession.for_graph(g)
    q1 = "MATCH (v:V) WHERE v.x > 15 RETURN count(*) AS n"
    q2 = "MATCH (v:V) WHERE v.x > 25 RETURN count(*) AS n"
    sk1, vals1 = P.parameterize(q1)
    sk2, vals2 = P.parameterize(q2)
    assert sk1 == sk2 and vals1 == {"__lit0": 15} and vals2 == {"__lit0": 25}
    before = dict(P.ast_cache_stats)
    assert s.cypher(q1).collect()[0]["n"] == 2
    assert s.cypher(q2).collect()[0]["n"] == 1
    gained_hits = P.ast_cache_stats["hits"] - before["hits"]
    assert gained_hits >= 1, P.ast_cache_stats
    # var-length bounds and slices survive extraction untouched
    sk3, vals3 = P.parameterize("MATCH (a)-[:R*1..2]->(b) RETURN [1,2,3][0..2] AS s")
    assert "*1..2" in sk3.replace(" ", "") and "[$__lit0,$__lit1,$__lit2]" in sk3.replace(" ", "")
    # explicit user params still win over auto-params
    assert s.cypher("MATCH (v:V) WHERE v.x > $t RETURN count(*) AS n",
                    params={"t": 15}).collect()[0]["n"] == 2


def test_percentile_disc_various_p_vs_duckdb(spark):
    """Exact discrete percentile across p values and group shapes, including
    p where ceil(p*n) hits the group edges."""
    import duckdb

    from cypher_for_apache_flink_spark import PropertyGraph

    rows = [(i, f"g{i % 3}", float(v)) for i, v in enumerate(
        [5, 1, 9, 2, 8, 3, 7, 4, 6, 0, 2.5, 9.5])]
    g = PropertyGraph({frozenset({"V"}): spark.createDataFrame(
        rows, "id long, grp string, x double")}, {}, name="pd")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, grp TEXT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    for p in (0.01, 0.25, 0.5, 0.75, 0.99, 1.0):
        got = {r["grp"]: r["v"] for r in g.cypher(
            f"MATCH (v:V) RETURN v.grp AS grp, "
            f"percentileDisc(v.x, {p}) AS v").collect()}
        want = dict(con.execute(
            f"SELECT grp, percentile_disc({p}) WITHIN GROUP (ORDER BY x) "
            f"FROM t GROUP BY grp").fetchall())
        assert got == want, (p, got, want)


def test_dynamic_subscript_on_propertyless_entity_is_null(spark):
    """ADVICE r4: n[key] on an entity whose label declares no properties
    must be Cypher null, not an AnalysisException from try_element_at on
    the id column."""
    from cypher_for_apache_flink_spark.sources.create import graph_from_create

    g = graph_from_create(spark, "CREATE (:Bare), (:Bare)")
    rows = g.cypher("MATCH (n:Bare) RETURN n['x'] AS v").collect()
    assert [r["v"] for r in rows] == [None, None]
    # computed key too
    rows = g.cypher(
        "WITH 'k' AS key MATCH (n:Bare) RETURN n[key] AS v").collect()
    assert [r["v"] for r in rows] == [None, None]


def test_two_pattern_comprehensions_one_return(spark):
    from cypher_for_apache_flink_spark.sources.create import graph_from_create

    g = graph_from_create(
        spark,
        'CREATE (a:P {n: "a"}), (b:P {n: "b"}), (c:P {n: "c"}), '
        "(a)-[:X]->(b), (a)-[:Y]->(c), (a)-[:Y]->(b)")
    row = g.cypher(
        'MATCH (p:P {n: "a"}) RETURN '
        "[(p)-[:X]->(m) | m.n] AS xs, "
        "size([(p)-[:Y]->(m) | m.n]) AS n_y").collect()[0]
    assert list(row["xs"]) == ["b"] and row["n_y"] == 2


def test_startnode_endnode_property_access(spark):
    """startNode(r).key / endNode(r).key materialize via one left join
    against the column-pruned all-nodes scan (planner
    _materialize_endpoint_props) — in RETURN and in WHERE."""
    from cypher_for_apache_flink_spark.sources.create import graph_from_create
    g = graph_from_create(
        spark, 'CREATE (:S {n: "a"})-[:R]->(:T {n: "b"})')
    row = g.cypher("MATCH ()-[r:R]->() RETURN startNode(r).n AS s, "
                   "endNode(r).n AS e").df.collect()[0]
    assert (row["s"], row["e"]) == ("a", "b")
    rows = g.cypher('MATCH ()-[r:R]->() WHERE startNode(r).n = "a" '
                    "RETURN endNode(r).n AS e").df.collect()
    assert [r["e"] for r in rows] == ["b"]
    # unknown property -> null, not an error
    row = g.cypher("MATCH ()-[r:R]->() RETURN startNode(r).nope AS x") \
        .df.collect()[0]
    assert row["x"] is None


def test_missing_column_or_struct_key_types_as_none(spark):
    """Type probes on an absent column or struct key answer None (the
    caller falls back to its untyped path) rather than raising."""
    from cypher_for_apache_flink_spark.ir import expr as E
    from cypher_for_apache_flink_spark.operators.columns import (
        ExprContext, spark_dtype)
    from cypher_for_apache_flink_spark.operators.header import Header

    df = spark.createDataFrame([((1,),)], "m struct<a: long>")
    m = E.Var("m")
    ctx = ExprContext(Header({m: "m", E.Var("gone"): "gone"}), df)
    assert ctx.dtype("gone") is None
    assert spark_dtype(E.Var("gone"), ctx) is None
    assert spark_dtype(E.Property(m, "a"), ctx).typeName() == "long"
    assert spark_dtype(E.Property(m, "b"), ctx) is None
