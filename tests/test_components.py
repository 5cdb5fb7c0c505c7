"""Connected-components tests: transitive near-dup clustering."""
import random

import pytest
from pyspark.sql import functions as F

from cypher_for_apache_flink_spark.functions import layout
from cypher_for_apache_flink_spark.functions.components import (
    connected_components, dedup_clusters)


def test_chain_is_one_component(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    cc = {r["node"]: r["cc"] for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_clusters_keep_min(spark):
    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (7, 8)], "a long, b long")
    out = {(r["component"], r["keep_id"], r["n_docs"])
           for r in dedup_clusters(pairs).collect()}
    assert out == {(2, 2, 3), (7, 7, 2)}


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-12: diameter 12, still < max_iter rounds because
    # min-label propagation halves distances through the min(cc) rewiring
    pairs = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "a long, b long")
    cc = connected_components(pairs)
    assert cc.select("cc").distinct().count() == 1


def test_real_near_dup_pairs_cluster(spark):
    from cypher_for_apache_flink_spark.functions.dedup import ngram_jaccard_pairs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.3, max_shingle_freq=100)
    if pairs.head(1):
        clusters = dedup_clusters(pairs)
        total_nodes = clusters.agg(F.sum("n_docs")).head()[0]
        distinct_docs = (pairs.select(F.col("a").alias("d"))
                         .union(pairs.select("b")).distinct().count())
        assert total_nodes == distinct_docs


def test_long_chain_converges_logarithmically(spark):
    """Pointer doubling (round 9): a 600-link chain has diameter 600 —
    far past the 25-round budget of plain min-label propagation — but
    label-of-label chasing closes it in ~log2(600) rounds."""
    from cypher_for_apache_flink_spark.functions.components import (
        connected_components)
    pairs = [(i, i + 1) for i in range(600)]
    df = spark.createDataFrame(pairs, "a long, b long")
    out = connected_components(df)
    comps = out.select("cc").distinct().collect()
    assert len(comps) == 1 and comps[0][0] == 0


def _union_find(pairs):
    """node -> smallest id of its component, by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        # a root is the smallest id of its set, so the smaller root wins
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@pytest.mark.parametrize("regime", ["broadcast", "shuffled"])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_matches_union_find(spark, monkeypatch, seed, regime):
    """Random pairs, self-loops and a chain whose ids descend away from
    its smallest member, in the broadcast and the shuffled regime."""
    if regime == "shuffled":
        monkeypatch.setattr(layout, "fits_broadcast", lambda *a, **k: False)
    rng = random.Random(seed)
    ids = rng.sample(range(1000), 60)
    pairs = [tuple(rng.sample(ids[:40], 2)) for _ in range(25)]
    pairs += [(i, i) for i in rng.sample(ids, 4)]
    chain = sorted(ids[40:], reverse=True)
    pairs += [(chain[i], chain[i + 1]) for i in range(len(chain) - 1)]
    rng.shuffle(pairs)
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {r["node"]: r["cc"] for r in connected_components(df).collect()}
    assert got == _union_find(pairs)


def test_max_iter_bounds_the_rounds(spark, monkeypatch):
    """max_iter is the number of rounds: a chain converges with exactly
    the rounds it needs and raises with one fewer."""
    df = spark.createDataFrame([(i, i + 1) for i in range(16)],
                               "a long, b long")
    rounds = []
    materialize = layout.materialize

    def spy(frame, *args, **kwargs):
        out = materialize(frame, *args, **kwargs)
        if "where" in kwargs:   # a round: its job counts the improved
            rounds.append(out[1])
        return out

    monkeypatch.setattr(layout, "materialize", spy)
    connected_components(df).collect()
    n = len(rounds)
    assert rounds[-1] == 0 and 3 <= n < 16
    got = connected_components(df, max_iter=n).select("cc").distinct()
    assert [r[0] for r in got.collect()] == [0]
    with pytest.raises(RuntimeError, match=f"did not converge in {n - 1} "):
        connected_components(df, max_iter=n - 1)


def test_65536_link_chain_converges_at_default_max_iter(spark):
    """Pointer jumping doubles the distance a label has travelled each
    round, so a 2**16-link chain closes inside the default 25 rounds."""
    n = 1 << 16
    df = spark.range(n).select(F.col("id").alias("a"),
                               (F.col("id") + 1).alias("b"))
    out = connected_components(df)
    assert out.agg(F.count("*"), F.max("cc")).head() == (n + 1, 0)
