"""Query-scoped cache hygiene (VERDICT r3 #6/#4).

One lifetime rule for the Cypher planner and the ``functions/`` operators:
what a result reads after planning is a ``layout.materialize`` checkpoint,
which Spark's ContextCleaner frees once no plan reads it, and every frame
persisted for the planner's or operator's own jobs is unpersisted before
it returns.  Planning may run jobs (the unbounded var-length and
shortestPath loops, and the slim-edge checkpoint of a bounded var-length
expand over 3+ hops); a result holds nothing that needs releasing."""

import gc

import pytest

from pyspark.sql import functions as F

from cypher_for_apache_flink_spark import CypherSession, PropertyGraph
from cypher_for_apache_flink_spark.functions import dedup, graph_algos


@pytest.fixture()
def chain_graph(spark):
    nodes = {frozenset({"N"}): spark.createDataFrame(
        [(i,) for i in range(20)], "id long")}
    rels = {"R": spark.createDataFrame(
        [(100 + i, i, i + 1) for i in range(19)],
        "id long, source long, target long")}
    return PropertyGraph(nodes, rels, name="chain")


def _cached_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0}


def _all_checkpoints(spark, ids):
    # a helper, so no handle on the JVM's RDD map outlives the check and
    # keeps the RDDs reachable
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    return all(persisted[i].rdd().isLocallyCheckpointed() for i in ids)


def _freed_after_jvm_gc(spark, ids, rounds=20):
    """True once none of the RDD ``ids`` is cached any more.  Checkpoints
    are freed by Spark's ContextCleaner after the JVM has collected every
    plan reading them, so each round asks the JVM for a GC first."""
    import time

    for _ in range(rounds):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if not (_cached_ids(spark) & ids):
            return True
        time.sleep(0.25)
    return False


def test_var_length_cache_released_by_gc(spark, chain_graph):
    # track by RDD id, not by count: other tests' dead checkpoints drain
    # asynchronously and would offset a count
    before = _cached_ids(spark)
    res = CypherSession.for_graph(chain_graph).cypher(
        "MATCH (a:N)-[:R*1..3]->(b:N) RETURN count(*) AS n")
    df = res.df
    # the slim pruned edge table is a checkpoint built while planning
    fresh = _cached_ids(spark) - before
    assert fresh and _all_checkpoints(spark, fresh)
    assert df.collect()[0]["n"] == 19 + 18 + 17
    del res, df
    assert _freed_after_jvm_gc(spark, fresh)


def test_dropping_one_result_keeps_anothers_checkpoint(spark, chain_graph):
    """Two var-length results over the same rel type each read their own
    slim-edge checkpoint: dropping one leaves the other's plan reading
    its checkpoint, not rescanning the rel table."""
    s = CypherSession.for_graph(chain_graph)
    before = _cached_ids(spark)
    r1 = s.cypher("MATCH (a:N)-[:R*1..3]->(b:N) RETURN count(*) AS n")
    ids1 = _cached_ids(spark) - before
    r2 = s.cypher("MATCH (a:N)-[:R*1..4]->(b:N) RETURN count(*) AS n")
    ids2 = _cached_ids(spark) - before - ids1
    assert ids1 and ids2
    del r1
    assert _freed_after_jvm_gc(spark, ids1)
    assert ids2 <= _cached_ids(spark)
    plan = r2.df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "InMemoryTableScan" not in plan
    assert r2.collect()[0]["n"] == 19 + 18 + 17 + 16


@pytest.fixture()
def chain6(spark):
    nodes = {frozenset({"N"}): spark.createDataFrame(
        [(i, i) for i in range(6)], "id long, v long")}
    rels = {"R": spark.createDataFrame(
        [(100 + i, i, i + 1) for i in range(5)],
        "id long, source long, target long")}
    return PropertyGraph(nodes, rels, name="chain6")


_LOOP_QUERIES = {
    "var_length": ("MATCH (a:N)-[:R*]->(b:N) WHERE a.v = 0 "
                   "RETURN count(*) AS n", 5),
    "shortest_path": ("MATCH p = shortestPath((a:N {v: 0})-[:R*]->"
                      "(b:N {v: 2})) RETURN length(p) AS n", 2),
}


@pytest.mark.parametrize("name", sorted(_LOOP_QUERIES))
def test_unbounded_frontier_caches_released(spark, chain6, name):
    """The unbounded var-length and shortestPath loops materialize one
    frontier per hop (plan truncation — a deep chain used to OOM the
    DRIVER during planning) and unpersist the edge table they persist for
    their own jobs before cypher() returns.  What stays persisted is the
    checkpoints the result reads, freed by Spark's ContextCleaner once no
    plan reads them."""
    query, want = _LOOP_QUERIES[name]
    before = _cached_ids(spark)
    res = CypherSession.for_graph(chain6).cypher(query)
    fresh = _cached_ids(spark) - before
    assert fresh and _all_checkpoints(spark, fresh)
    assert res.collect()[0]["n"] == want
    del res
    assert _freed_after_jvm_gc(spark, fresh)


def test_unbounded_var_length_frame_outlives_its_result(spark, chain6):
    """A frame derived from ``res.df`` keeps the hop checkpoints it reads
    alive after the result itself is garbage-collected."""
    res = CypherSession.for_graph(chain6).cypher(
        "MATCH (a:N)-[:R*]->(b:N) RETURN id(a) AS x, id(b) AS y")
    df = res.df.where("x < 2")
    assert df.count() == 9
    del res
    gc.collect()
    rows = df.collect()
    assert len(rows) == 9
    assert {(r.x, r.y) for r in rows} == {
        (x, y) for x in range(2) for y in range(x + 1, 6)}


def _edges(spark):
    # a 12-node ring with chords: triangles, no dangling node.  Built on
    # a Range so a plan that re-derives from the input shows it.
    ring = spark.range(12).select(F.col("id").alias("src"),
                                  ((F.col("id") + 1) % 12).alias("dst"))
    chords = spark.range(12).select(F.col("id").alias("src"),
                                    ((F.col("id") + 2) % 12).alias("dst"))
    return ring.unionByName(chords)


def _docs(spark):
    return spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("the quick brown fox "),
                 (F.col("id") % 3).cast("string"),
                 F.lit(" jumps over the lazy dog")).alias("text"))


_RESULTS = {
    "pagerank": lambda spark: graph_algos.pagerank(_edges(spark),
                                                   iterations=3),
    "triangle_count": lambda spark: graph_algos.triangle_count(
        _edges(spark)),
    "hits": lambda spark: graph_algos.hits(_edges(spark), iterations=3),
    "minhash_lsh_pairs": lambda spark: dedup.minhash_lsh_pairs(
        _docs(spark), threshold=0.5),
}


@pytest.mark.parametrize("name", sorted(_RESULTS))
def test_derived_result_reads_its_checkpoint(spark, name):
    """A transform of a functions-layer result, collected after the
    result itself is gone, returns the same rows from the result's
    checkpoint instead of re-deriving them from the input."""
    out = _RESULTS[name](spark)
    want = sorted(out.collect())
    assert want
    derived = out.select("*")
    del out
    gc.collect()
    assert sorted(derived.collect()) == want
    plan = derived._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "Range" not in plan and "InMemoryTableScan" not in plan


def test_minhash_shingle_cache_released_by_gc(spark):
    before = _cached_ids(spark)
    pairs = dedup.minhash_lsh_pairs(_docs(spark), threshold=0.5)
    # the shingle cache is gone on return; only the result's checkpoint
    # stays, until no plan reads it
    fresh = _cached_ids(spark) - before
    assert fresh and _all_checkpoints(spark, fresh)
    assert pairs.count() > 0
    del pairs
    assert _freed_after_jvm_gc(spark, fresh)


def test_cosine_near_dup_requires_dims_not_a_job(spark):
    from cypher_for_apache_flink_spark.functions.similarity import (
        cosine_near_dup_pairs,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>")
    # no hidden head() probe: dims is an explicit plan-time parameter ...
    with pytest.raises(ValueError, match="dims"):
        cosine_near_dup_pairs(empty, threshold=0.9)
    # ... and with it, plan construction works even on an EMPTY input
    # (the old head() probe raised IndexError here)
    out = cosine_near_dup_pairs(empty, threshold=0.9, dims=8)
    assert out.collect() == []
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    got = {(r["a"], r["b"]) for r in
           cosine_near_dup_pairs(vecs, threshold=0.99, dims=2).collect()}
    assert got == {(1, 2)}
