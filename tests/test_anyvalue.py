"""Tagged-union Any column encoding (operators/anyvalue.py, round 8).

Beyond-reference: the reference rejects mixed-type columns at plan time
(no CTAnyMaterial mapping — SparkConversions.scala:54-75) and blacklists
the Any-type TCK scenarios; here they run.
"""

import pytest
from pyspark.errors import AnalysisException

from cypher_for_apache_flink_spark import PropertyGraph
from cypher_for_apache_flink_spark.errors import PlanError
from cypher_for_apache_flink_spark.sources.create import graph_from_create


@pytest.fixture(scope="module")
def empty(spark):
    return PropertyGraph({}, {})


def maps(g, q):
    return g.cypher(q).to_maps()


# ---------------------------------------------------------------------------
# the seven formerly-blacklisted behaviors
# ---------------------------------------------------------------------------

def test_union_mixed_types(empty):
    out = maps(empty, "RETURN 1 AS x UNION RETURN 'a' AS x")
    assert sorted(out, key=repr) == sorted([{"x": 1}, {"x": "a"}], key=repr)


def test_union_mixed_distinct_dedupes(empty):
    out = maps(empty, "RETURN 1 AS x UNION RETURN 1 AS x "
                      "UNION RETURN 'a' AS x")
    assert sorted(out, key=repr) == sorted([{"x": 1}, {"x": "a"}], key=repr)


def test_min_max_over_mixed(empty):
    assert maps(empty, "UNWIND [1, 'a'] AS x RETURN min(x) AS m") \
        == [{"m": 1}]
    assert maps(empty, "UNWIND [1, 'a'] AS x RETURN max(x) AS m") \
        == [{"m": "a"}]


def test_min_mixed_skips_nulls(empty):
    assert maps(empty, "UNWIND [null, 'a', 1, null] AS x "
                       "RETURN min(x) AS m, max(x) AS x2") \
        == [{"m": 1, "x2": "a"}]


def test_tostring_on_any(empty):
    out = maps(empty, "UNWIND [{v: 1}, {v: 'a'}, {v: true}] AS m "
                      "RETURN toString(m.v) AS x")
    assert sorted(r["x"] for r in out) == ["1", "a", "true"]


def test_property_access_on_primitive_raises(empty):
    for q in ("WITH 1 AS x RETURN x.prop AS y",
              "WITH 'string' AS x RETURN x.prop AS y"):
        with pytest.raises(PlanError, match="property access"):
            empty.cypher(q)


def test_property_access_on_node_property_raises(spark):
    g = graph_from_create(spark, "CREATE (:A {name: 'A'})")
    with pytest.raises(PlanError, match="property access"):
        g.cypher("MATCH (n:A) WITH n.name AS x RETURN x.prop AS y")


def test_ord_predicate_null_not_error_preserved(spark):
    # the published counterpart scenario: inside WHERE the illegal access
    # must stay null-not-error so the OR short-circuits
    g = graph_from_create(spark, "CREATE (:A {name: 'A', num: 1})")
    assert maps(g, "MATCH (n:A) WHERE true OR n.num.foo = 1 "
                   "RETURN n.name AS name") == [{"name": "A"}]


# ---------------------------------------------------------------------------
# Any interplay with the rest of the surface
# ---------------------------------------------------------------------------

def test_property_access_on_any_raises(empty):
    with pytest.raises(PlanError, match="mixed-type"):
        empty.cypher("UNWIND [{prop: 1}, 2] AS x RETURN x.prop AS p")


def test_tointeger_tofloat_on_any(empty):
    assert maps(empty, "UNWIND [{v: '42'}, {v: 42}] AS m "
                       "RETURN toInteger(m.v) AS x") \
        == [{"x": 42}, {"x": 42}]
    assert maps(empty, "UNWIND [{v: '0.5'}, {v: 0.5}] AS m "
                       "RETURN toFloat(m.v) AS x") \
        == [{"x": 0.5}, {"x": 0.5}]


def test_mixed_list_renders_faithfully(empty):
    # the list itself (no UNWIND): decode restores the original values
    out = maps(empty, "RETURN [1, 'a', true, 2.5] AS l")
    assert out == [{"l": [1, "a", True, 2.5]}]


def test_mixed_list_with_containers(empty):
    out = maps(empty, "RETURN [1, [2, 3], {k: 'v'}] AS l")
    (row,) = out
    lst = row["l"]
    assert lst[0] == 1 and lst[1] == [2, 3]
    assert dict(lst[2].asDict() if hasattr(lst[2], "asDict") else lst[2]) \
        == {"k": "v"}


def test_mixed_unwind_order_by(empty):
    # ORDER BY over an Any column: tag rank (numbers < strings < booleans)
    out = maps(empty, "UNWIND [true, 'b', 2, 1, 'a'] AS x "
                      "RETURN x ORDER BY x")
    assert [r["x"] for r in out] == [1, 2, "a", "b", True]


def test_mixed_distinct(empty):
    out = maps(empty, "UNWIND [1, 'a', 1, 'a', true] AS x "
                      "RETURN DISTINCT x ORDER BY x")
    assert [r["x"] for r in out] == [1, "a", True]


def test_collect_mixed(empty):
    out = maps(empty, "UNWIND [1, 'a'] AS x WITH x ORDER BY x "
                      "RETURN collect(x) AS l")
    assert out == [{"l": [1, "a"]}]


def test_union_three_parts_mixed(empty):
    out = maps(empty, "RETURN 1 AS x UNION RETURN 'a' AS x "
                      "UNION RETURN true AS x")
    assert sorted(out, key=repr) == sorted(
        [{"x": 1}, {"x": True}, {"x": "a"}], key=repr)


def test_union_all_mixed(empty):
    out = maps(empty, "RETURN 1 AS x UNION ALL RETURN 'a' AS x "
                      "UNION ALL RETURN 1 AS x")
    assert sorted(out, key=repr) == sorted(
        [{"x": 1}, {"x": 1}, {"x": "a"}], key=repr)


def test_homogeneous_lists_stay_native(empty):
    # int+float widens natively (no Any struct in the schema)
    res = empty.cypher("RETURN [1, 2.5] AS l")
    assert "__any_tag" not in res.df.schema.simpleString()
    assert maps(empty, "RETURN [1, 2.5] AS l") == [{"l": [1.0, 2.5]}]


def test_mixed_list_over_columns_probes_item_types(spark):
    # the static classes disagree, so the planner asks Spark for each
    # item's type: the list plans as Any structs
    g = graph_from_create(spark, "CREATE (:A {n: 1, s: 'x', l: [1, 2]})")
    res = g.cypher("MATCH (a:A) RETURN [1, 'a', [a.n]] AS l")
    assert "__any_tag" in res.df.schema.simpleString()
    assert res.to_maps() == [{"l": [1, "a", [1]]}]
    # an item Spark cannot analyze on its own raises its own typed error
    with pytest.raises(AnalysisException, match="DATA_DIFF_TYPES"):
        g.cypher("MATCH (a:A) RETURN [1, 'a', a.l + a.s] AS l")


def test_mixed_temporal_rejected_with_typed_error(empty):
    with pytest.raises(PlanError, match="mixed"):
        empty.cypher("RETURN [1, date('2020-01-01')] AS l")


def test_tostring_on_any_container_unwraps(empty):
    # ADVICE r8: container Any values render as their JSON form, not the
    # internal {"v": ...} storage wrapper
    out = maps(empty, "UNWIND [[1, 2], 'a'] AS x "
                      "RETURN toString(x) AS s")
    assert sorted(r["s"] for r in out) == ["[1,2]", "a"]
