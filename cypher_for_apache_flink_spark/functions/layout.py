"""Loop-state materialization and the size, partition and broadcast gates.

The iterative algorithms (``graph_algos``, ``components``) and the Cypher
shortestPath loop (``plans/shortest.py``) run each superstep as a join plus
an aggregate.  This module is the one owner of the two decisions they share:

- how loop state is materialized between supersteps (:func:`materialize`);
- which physical layout a data size gets: pinned exchanges
  (:func:`pin_parts`), coalesced scans of cached frames
  (:func:`scan_coalesce`, :func:`size_parts`), broadcast sides
  (:func:`fits_broadcast`) and widened thin inputs
  (:func:`ensure_parallelism`).

The thresholds are module globals read at call time, so a test can move a
regime boundary with ``monkeypatch.setattr(layout, "PIN_DATA_BYTES", ...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Budget shared by the pin gate and every broadcast gate.  Pin when the
# edge input reaches it, even under a well-sized session default;
# broadcast a node- or frontier-bounded side only below it.  Calibrated
# from tools/probes/partition_probe_r9.json: at the 12M-edge x10 scale
# (estimate 191 MB) pinning wins even at matched partitions (triangle
# 43.0s/920s-cpu unpinned@32 vs 24.8s/532s-cpu pinned), while the sf0.1
# bench inputs estimate ~1.5 MB and lose to the pin (r8 regression).
# 64 MiB splits the two regimes with margin.
PIN_DATA_BYTES = 64 << 20

# Rows per partition of a cached frame a loop scans every step.  Above it
# a size-derived coalesce is a no-op, so the large-graph regime is
# untouched; below it each per-step task pays ~0.1s of fixed cost (task
# deser, codegen init, block locks) for milliseconds of probe work.
SCAN_ROWS_PER_PART = 150_000

# The denser tier, for caches that feed a CPU-heavy probe (adjacency
# intersection) or a near-unique-key aggregate that still wants real
# parallelism.
DENSE_ROWS_PER_PART = 50_000

# ensure_parallelism's size-aware mode only widens when each target
# partition would receive at least this many bytes.  Used where the next
# stage is CHEAP per row (a quality filter): there the repartition shuffle
# plus per-task scheduling on every downstream stage costs more than the
# parallelism buys.
_MIN_BYTES_PER_PARTITION = 8 << 20

# An input whose plan-size estimate is at least target_partitions x this is
# already naturally wide (Spark splits file scans at maxPartitionBytes =
# 128 MiB) -- widening it would re-shuffle warehouse-scale data for nothing.
_NATURALLY_WIDE_BYTES = 128 << 20


def materialize(df: DataFrame, where=None,
                sever: bool = False) -> tuple[DataFrame, int]:
    """Checkpoint ``df`` and count it in ONE job; returns ``(frame, n)``.

    The checkpoint is lazy and is forced by an ``RDD.count()`` over the
    checkpointed rows -- as many jobs as an eager ``localCheckpoint``,
    where an eager checkpoint followed by ``DataFrame.count()`` (itself a
    2-job AQE aggregate) or ``isEmpty()`` pays 2 more.  With ``where``, n
    counts only the matching rows; the job still materializes every
    partition, and the returned frame holds all rows.

    ``sever=True`` also drops the statistics the checkpoint carries.
    ``localCheckpoint`` cuts the plan and the lineage but copies the
    checkpointed plan's Catalyst statistics onto the new leaf.  Join size
    estimates are PRODUCTS of their children's ``sizeInBytes``, so a loop
    whose state is built from joins of last round's checkpoints multiplies
    the carried estimates every round: the estimate's bit length grows
    geometrically (26, 51, 100, 199, ... over join+checkpoint rounds on
    Spark 4.1), and from ~round 8 the driver spends its time in BigInteger
    multiplication inside stats propagation -- measured on louvain as 0.8s
    -> 3s -> 23s -> 204s per round with flat executor work, ending in a
    driver OOM.  The severed frame is rebuilt over the same rows with
    ``internalCreateDataFrame``, whose leaf reports the flat
    ``defaultSizeInBytes``.  AQE re-plans every exchange from runtime
    sizes, but the STATIC planner reads the leaf estimate, so callers
    keep their own sever choice and gate small sides explicitly."""
    ck = df.localCheckpoint(eager=False)
    n = count_rows(ck if where is None else ck.where(where))
    if sever:
        jdf, spark = ck._jdf, ck.sparkSession
        ck = DataFrame(spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False), spark)
    return ck, n


def count_rows(df: DataFrame) -> int:
    """Row count of ``df`` as an ``RDD.count()`` over its executed plan.
    ``DataFrame.count()`` adds an aggregate, which under AQE runs its
    shuffle stage as one more job.  Over a persisted frame the count also
    fills the cache."""
    return df._jdf.queryExecution().toRdd().count()


def fits_broadcast(rows: int, row_bytes: int = 16) -> bool:
    """True when ``rows`` rows of ``row_bytes`` bytes stay under
    :data:`PIN_DATA_BYTES` -- broadcast material.  Callers pass an EXACT
    count: a Catalyst estimate can decay (an evicted cache reports its
    child plan's figure again)."""
    return rows * row_bytes < PIN_DATA_BYTES


def shuffle_parts(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions``."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def pin_target(spark) -> int:
    """Partition count of a pinned exchange: 2x cluster parallelism."""
    return max(2 * spark.sparkContext.defaultParallelism, 1)


def pin_parts(spark, data: DataFrame | None = None) -> int | None:
    """Partition count for explicitly pinning an iterative algorithm's
    wide exchanges, or ``None`` to leave them to the session default plus
    AQE.

    Pin when EITHER holds (both measured, artifact
    tools/probes/partition_probe_r9.json, 2 scales x 2 modes x {32, 64,
    200} partitions):

    - The session's ``spark.sql.shuffle.partitions`` is more than 2x off
      :func:`pin_target` in either direction.  Spark's out-of-the-box 200
      partitions made triangle_count ~3.6x slower than the pinned plan on
      a 32-core local mode at the 12M-edge scale (55.7s/790s-cpu vs
      20.6s/446s-cpu): per-round scheduling and checkpoint overhead
      across many small partitions.
    - ``data`` has a Catalyst size estimate of at least
      :data:`PIN_DATA_BYTES`: at that volume the wide exchanges want the
      pin regardless of the session default (triangle x10@32: 43.0s
      unpinned vs 24.8s pinned).

    Otherwise no pin: when the default matches the cluster and the data
    is small, explicit repartitions only ADD exchanges that AQE would
    coalesce or elide -- the round-8 unconditional pin measured
    triangle_count shuffle-write +573% / cpu +128% and pagerank cpu +580%
    / tasks +876% on identical data (BENCH_DIFF_r08.md).  Callers holding
    an exact row count add the data branch themselves with
    :func:`fits_broadcast`, since the estimate can decay."""
    target = pin_target(spark)
    if data is not None:
        est = plan_size_bytes(data)
        if est is not None and est >= PIN_DATA_BYTES:
            return target
    if target / 2 <= shuffle_parts(spark) <= target * 2:
        return None
    return target


def repart(df: DataFrame, nparts: int | None, *cols: str) -> DataFrame:
    """Hash-repartition when exchange pinning is active, identity when the
    gate (:func:`pin_parts`) left the layout to the session and AQE."""
    return df if nparts is None else df.repartition(nparts, *cols)


def scan_coalesce(df: DataFrame, n_rows: int,
                  rows_per_part: int | None = None) -> DataFrame:
    """Size-derived ``coalesce`` of a persisted or checkpointed frame a
    loop scans every step.  Such a frame keeps its derivation partition
    count forever (AQE never re-coalesces a cached plan), so a cached
    co-purchase edge set arrives in 32-64 partitions and each per-step
    probe pays the fixed per-task cost per partition -- measured 50-75s
    of executor CPU on the sf0.1 walk queries.  ``coalesce`` is narrow
    and never increases the partition count, so above ``rows_per_part``
    (default :data:`SCAN_ROWS_PER_PART`) rows per partition it is a
    no-op."""
    per = SCAN_ROWS_PER_PART if rows_per_part is None else rows_per_part
    return df.coalesce(max(1, int(n_rows) // per + 1))


def size_parts(spark, rows: int) -> int:
    """Explicit partition count for a frame that is repartitioned before
    it is cached or checkpointed, and so keeps that count for every later
    scan.  Row-bounded above (:data:`SCAN_ROWS_PER_PART` keys per task,
    the spill bound of an aggregate over near-unique keys: 12M louvain
    keys over 32 tasks spilled 4.1 GB), size-adaptive below
    (:data:`DENSE_ROWS_PER_PART` rows per task) so a shrinking loop state
    stops paying 32-task stages for a few thousand rows.  Above ~50k rows
    per core both bounds coincide with defaultParallelism, so the
    large-graph regime plans identically."""
    big = max(spark.sparkContext.defaultParallelism,
              int(rows) // SCAN_ROWS_PER_PART + 1)
    return max(1, min(big, int(rows) // DENSE_ROWS_PER_PART + 1))


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the plan (exact file bytes for a bare
    scan, propagated estimate above it).  None when the estimate is the
    unknown-size sentinel."""
    raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    size = raw if isinstance(raw, int) else int(raw.toString())
    return size if 0 <= size < (1 << 50) else None


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None,
                       size_aware: bool = False) -> DataFrame:
    """Widen thin inputs before heavy per-row compute.

    A corpus often arrives as ONE parquet file = one partition, which
    serializes tokenize/shingle/minhash work onto a single core (measured:
    minhash_lsh_pairs over 5k docs is 5x slower unwidened).  Default mode
    widens any input whose size estimate says it cannot already be wide —
    per-row signature compute dwarfs the shuffle of the input bytes.

    ``size_aware=True`` is for call sites whose NEXT stage is cheap and
    whose heavy stages sit downstream of a natural shuffle: it only widens
    when each target partition would get at least 8 MiB.

    The decision uses ONLY Catalyst's plan-size estimate — never
    ``df.rdd.getNumPartitions()``, which under AQE materializes every
    query stage below the plan, i.e. silently RUNS the upstream job at
    pipeline-construction time (measured: 4x slowdown of curate_corpus
    from exactly that).  Inputs estimated at >= partitions x 128 MiB pass
    through untouched, so no shuffle is ever added at 100 TB.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    size = plan_size_bytes(df)
    if size is None or size >= target * _NATURALLY_WIDE_BYTES:
        return df
    if size_aware:
        target = min(target, max(1, size // _MIN_BYTES_PER_PARTITION))
    if target <= 1:
        return df
    return df.repartition(target)
