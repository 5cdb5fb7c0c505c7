"""functions/layout.py: the one loop-state materialization and the one
owner of the size, partition and broadcast gates."""

import pathlib
import uuid

import pytest
from pyspark.sql import functions as F

from cypher_for_apache_flink_spark.functions import layout


def _size_bits(df) -> int:
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(str(size)).bit_length()


def _stats_bit_lengths(spark, sever: bool, rounds: int = 8) -> list[int]:
    state, _ = layout.materialize(
        spark.range(8).select(F.col("id").alias("k"),
                              F.col("id").alias("v")), sever=sever)
    bits = []
    for _ in range(rounds):
        # a join's size estimate is the PRODUCT of its children's, so a
        # carried leaf estimate squares every round
        state, _ = layout.materialize(
            state.join(state.withColumnRenamed("v", "v2"), "k")
            .select("k", "v"), sever=sever)
        bits.append(_size_bits(state))
    return bits


def test_sever_keeps_stats_flat_over_rounds(spark):
    severed = _stats_bit_lengths(spark, sever=True)
    assert len(set(severed)) == 1
    carried = _stats_bit_lengths(spark, sever=False)
    assert all(b > a for a, b in zip(carried, carried[1:]))
    assert carried[-1] > 8 * severed[-1]


class _NoInternalCreate:
    """A JVM session stand-in whose private constructor is gone."""

    def __init__(self, real):
        self._real = real

    def internalCreateDataFrame(self, *args):
        raise RuntimeError("internalCreateDataFrame unavailable")

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_sever_raises_without_internal_create(spark, monkeypatch):
    df = spark.range(5)
    monkeypatch.setattr(spark, "_jsparkSession",
                        _NoInternalCreate(spark._jsparkSession))
    with pytest.raises(RuntimeError, match="internalCreateDataFrame"):
        layout.materialize(df, sever=True)


def _jobs_of(spark, fn):
    """(result, number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    group = f"layout-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_where_counts_matches_in_same_jobs(spark):
    def frame():
        # a fresh plan per call: a re-executed Dataset reuses its
        # finished adaptive stages and would run fewer jobs
        base = spark.range(200).select((F.col("id") % 17).alias("k"),
                                       F.col("id").alias("v"))
        return base.groupBy("k").agg(F.sum("v").alias("s")).join(base, "k")

    (_, n_all), jobs_all = _jobs_of(spark, lambda: layout.materialize(
        frame()))
    (full, n_even), jobs_where = _jobs_of(spark, lambda: layout.materialize(
        frame(), where=F.col("v") % 2 == 0))
    assert n_all == 200 and n_even == 100
    assert full.count() == 200
    assert jobs_where == jobs_all > 0


_GUARDED = ["localCheckpoint(", "toRdd().count()",
            "internalCreateDataFrame", "os.environ",
            "64 << 20", "150_000", "50_000"]


def test_layout_is_the_only_owner():
    """Every localCheckpoint (eager or lazy), checkpoint+count, the stats
    sever, env-var knobs and the numeric gate thresholds live in
    layout.py only, so new algorithms reuse them instead of growing
    another copy."""
    pkg = pathlib.Path(layout.__file__).parent.parent
    files = sorted((pkg / "functions").glob("*.py"))
    files.append(pkg / "plans" / "shortest.py")
    found = [(f.relative_to(pkg).as_posix(), token)
             for f in files if f.name != "layout.py"
             for token in _GUARDED if token in f.read_text()]
    assert found == []
