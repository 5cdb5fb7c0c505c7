"""Query-scoped cache hygiene (VERDICT r3 #6/#4): planner caches are
released once the result is done; plan construction never runs jobs."""

import gc

import pytest

from pyspark.sql import functions as F

from cypher_for_apache_flink_spark import CypherSession, PropertyGraph
from cypher_for_apache_flink_spark.functions import dedup, graph_algos


def _cached_rdds(spark):
    return [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0]


@pytest.fixture()
def chain_graph(spark):
    nodes = {frozenset({"N"}): spark.createDataFrame(
        [(i,) for i in range(20)], "id long")}
    rels = {"R": spark.createDataFrame(
        [(100 + i, i, i + 1) for i in range(19)],
        "id long, source long, target long")}
    return PropertyGraph(nodes, rels, name="chain")


def _cached_ids(spark):
    return {i.id() for i in _cached_rdds(spark)}


def test_var_length_cache_released_explicitly(spark, chain_graph):
    # track by RDD id, not by count: other tests' dead leases drain
    # asynchronously and would offset the +1/-1 this test asserts
    before = _cached_ids(spark)
    res = CypherSession.for_graph(chain_graph).cypher(
        "MATCH (a:N)-[:R*1..3]->(b:N) RETURN count(*) AS n")
    assert res.collect()[0]["n"] == 19 + 18 + 17
    # the slim pruned edge cache was materialized by the collect
    fresh = _cached_ids(spark) - before
    assert fresh
    res.release()
    assert not (_cached_ids(spark) & fresh)


def test_var_length_cache_released_by_gc(spark, chain_graph):
    before = len(_cached_rdds(spark))
    res = CypherSession.for_graph(chain_graph).cypher(
        "MATCH (a:N)-[:R*2..4]->(b:N) RETURN count(*) AS n")
    df = res.df
    df.collect()
    del res, df
    gc.collect()
    assert len(_cached_rdds(spark)) <= before


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


@pytest.fixture()
def chain6(spark):
    nodes = {frozenset({"N"}): spark.createDataFrame(
        [(i, i) for i in range(6)], "id long, v long")}
    rels = {"R": spark.createDataFrame(
        [(100 + i, i, i + 1) for i in range(5)],
        "id long, source long, target long")}
    return PropertyGraph(nodes, rels, name="chain6")


def test_unbounded_frontier_caches_released(spark, chain6):
    # The unbounded loop materializes one frontier per hop (plan
    # truncation — a deep chain used to OOM the DRIVER during planning).
    # The checkpoints are freed by Spark's ContextCleaner once no plan
    # reads them; explicit release only drops the slim edge cache.
    before = _cached_ids(spark)
    res = CypherSession.for_graph(chain6).cypher(
        "MATCH (a:N)-[:R*]->(b:N) WHERE a.v = 0 RETURN count(*) AS n")
    assert res.collect()[0]["n"] == 5
    fresh = _cached_ids(spark) - before
    assert fresh
    res.release()
    assert res.collect()[0]["n"] == 5
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


def _all_checkpoints(spark, ids):
    # a helper, so no handle on the JVM's RDD map outlives the check and
    # keeps the RDDs reachable
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    return all(persisted[i].rdd().isLocallyCheckpointed() for i in ids)


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


def test_release_after_stop_is_silent(tmp_path):
    """``CacheLease.release()`` on a stopped SparkContext swallows the
    Py4JJavaError that ``unpersist`` raises there."""
    import os
    import pathlib
    import subprocess
    import sys

    script = tmp_path / "stopped.py"
    script.write_text(
        "from py4j.protocol import Py4JJavaError\n"
        "from pyspark.sql import SparkSession\n"
        "from cypher_for_apache_flink_spark.cache import CacheLease\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = spark.range(3).cache()\n"
        "df.count()\n"
        "lease = CacheLease()\n"
        "lease.add(df)\n"
        "spark.stop()\n"
        "try:\n"
        "    df.unpersist()\n"
        "except Py4JJavaError:\n"
        "    print('RAISES')\n"
        "lease.release()\n"
        "print('RELEASED')\n")
    repo = str(pathlib.Path(__file__).resolve().parents[1])
    out = subprocess.run([sys.executable, str(script)], capture_output=True,
                         text=True, timeout=300,
                         env={**os.environ, "PYTHONPATH": repo})
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["RAISES", "RELEASED"]


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


def test_release_swallows_only_py4j_java_errors(spark):
    """A JVM-side unpersist failure (what a stopped context raises) does
    not stop the release of the other frames; any other error surfaces."""
    from py4j.protocol import Py4JJavaError

    from cypher_for_apache_flink_spark.cache import CacheLease

    class Failing:
        def __init__(self, exc):
            self.exc = exc

        def unpersist(self):
            raise self.exc

    try:
        # the NullPointerException a stopped context's unpersist raises
        spark.sparkContext._jvm.java.util.Objects.requireNonNull(None)
    except Py4JJavaError as exc:
        java_error = exc
    df = spark.range(3).cache()
    df.count()
    before = _cached_ids(spark)
    lease = CacheLease()
    lease.add(Failing(java_error))
    lease.add(df)
    lease.release()
    assert len(_cached_ids(spark)) < len(before)
    lease.add(Failing(RuntimeError("not a JVM error")))
    with pytest.raises(RuntimeError):
        lease.release()
