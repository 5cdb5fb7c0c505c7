"""Benchmark of record for the Cypher engine and its graph algorithms.

Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

One client in a closed loop sends the next op only after the previous one
finished, on ``local[N]`` with N = the usable cores and N shuffle
partitions.  Workloads (templates in ``workloads.py``):

* ``interactive``: short Cypher reads and writes over TPC-H sf0.01 with
  Zipf-distributed literal bindings; the front end (parser, planner, plan
  cache, Catalyst) dominates and the executor does little.
* ``graph_iterative``: seven iterative algorithms over a seeded R-MAT
  edge list; per-round jobs, checkpoints and the driver gap dominate and
  the Cypher front end does nothing.

A run sets up ``SETUP_REPS`` times (Spark session, seeded inputs, graph
build), then warms the JIT up once.  It then runs ``round(--seconds /
PASS_SECONDS)`` whole passes over the workload's templates (at least one;
``PASS_SECONDS`` is a pass's nominal length on 4 cores) and checks every
op against an answer computed outside Spark.  A fixed pass count, not a
deadline, keeps the op list of a seed the same on a fast and a slow
machine.  The last stdout line is the JSON result; with ``--trace 0`` it
holds the end-to-end metrics, with ``--trace 1`` the per-layer ones.

The end-to-end times are engine CPU seconds (the JVM's and this process's
scheduler clocks, see ``CpuClock``), not wall seconds.  On a shared host
whole runs take up to twice as long while the host gives the virtual CPUs
to other tenants; the kernel leaves that steal time out of CPU time.
CPU time still grows by 20-30% while the host is loaded (shared caches
and cores run slower), but over 10 seeds on a loaded 4-core host its
quartiles lay 0.17-0.18 of the median apart, against 0.43-0.78 for wall
time.

* ``setup_s``: CPU of the median set-up plus the warm-up (a second
  warm-up in the same JVM would already be warm).
* ``run_cpu_s``: CPU of one pass, as each template's median per op times
  its count per pass, summed.
* ``ok_ratio``: share of ops that ran and matched the reference.

The wall-clock figures (set-up, ``run_s``, ``throughput_ops_s``,
``latency_p50_ms``) are printed on the ``#`` info line before the result.
The JVM runs C1-compiled code only: the default C2 tier keeps compiling
for minutes, so a short run would measure how far the JIT got.

The traced run installs timing shims around each layer's public entry
points, records spans (name, start, end, parent, op) and writes them to
``perfbench/.work/spans-<workload>-seed<seed>.jsonl``.  Its ``_ms``
figures are per-op medians over the ops where the layer ran (0 where it
never ran); job, stage, task, record and byte counts are per-run totals,
so two traced runs with one seed give the same counts.  The tracing
overhead of a workload is its traced ``trace.run_cpu_s`` minus its
untraced ``run_cpu_s`` (``trace.run_s`` against the info line's wall
``run_s`` for wall time).

Which end-to-end metric each per-layer metric should move:

* ``parser.*``, ``session.*``, ``plans.*``: ``interactive``
  ``run_cpu_s`` (and wall latency and throughput); no change on
  ``graph_iterative``.
* ``catalyst.*``: ``interactive`` ``run_cpu_s`` (and wall latency).
* ``spark.jobs``, ``spark.stages``, ``spark.tasks``, ``spark.job_ms``,
  ``spark.driver_gap_ms``: ``run_cpu_s`` on both workloads.
* other ``spark.*`` (executor time, shuffle, spill, input, memory):
  ``graph_iterative`` ``run_cpu_s``; no change on ``interactive``.
* ``functions.*``: ``graph_iterative`` ``run_cpu_s`` only.
* ``cache.*``: ``ok_ratio`` and ``run_cpu_s`` (a lease freed early
  recomputes, one freed late leaks).
* ``sources.graph_build_s``: ``setup_s``.
* ``*.self_ms``: the same metrics as the layer they belong to.

Not covered on purpose, since no open roadmap item targets them:
``functions.dedup``, ``similarity``, ``text``, ``multimodal``,
``timeseries``, ``asof``, ``streaming`` and ``tck``.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import os
import statistics
import sys
import time

import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_REPS = 3

END_TO_END = {"setup_s": "s", "run_cpu_s": "s", "ok_ratio": "ratio"}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(n: int):
    from pyspark.sql import SparkSession

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             # every job and stage of a run must stay in the status store
             .config("spark.ui.retainedJobs", "1000000")
             .config("spark.ui.retainedStages", "1000000")
             .config("spark.driver.memory", "3g")
             .config("spark.local.dir", os.path.join(WORK, "spark-local"))
             .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
             # C1 only: the default C2 tier keeps compiling for minutes,
             # so a short run would measure how far the JIT got, not the
             # engine; C1 code is steady after the warm-up
             .config("spark.driver.extraJavaOptions",
                     "-XX:TieredStopAtLevel=1 "
                     f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                     f"-Dderby.system.home={os.path.join(WORK, 'derby')}")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class CpuClock:
    """CPU seconds the engine has used: the JVM's and this process's
    scheduler clocks, summed over all their threads, dead ones included,
    at nanosecond resolution.  The kernel leaves out steal time (time the
    host gives a virtual CPU to someone else), so a busy neighbour on a
    shared host does not inflate it the way it inflates wall time."""

    def __init__(self):
        from pyspark import SparkContext

        # CPUCLOCK_SCHED of the whole process, as clock_getcpuclockid(3)
        # would return it for the gateway's JVM
        self.jvm = ((~SparkContext._gateway.proc.pid) << 3) | 2

    def __call__(self) -> float:
        return time.clock_gettime(self.jvm) + time.process_time()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_window(wl, passes, tracer, status, cpu):
    """Run the first ``passes`` passes of the op stream.  Returns
    (per-op records, window seconds)."""
    records = []
    t0 = time.perf_counter()
    for batch in itertools.islice(wl.ops(), passes):
        for op in batch:
            records.append(run_one(wl, op, tracer, status, cpu))
    return records, time.perf_counter() - t0


def run_one(wl, op, tracer, status, cpu) -> dict:
    rec = {"op": op, "rows": None, "error": None}
    tracer.op = op.idx
    j0 = status.next_job_id() if status else None
    cpu0 = cpu()
    start = time.perf_counter()
    try:
        with tracer.span("op"):
            rows, df = wl.run_op(op, tracer.span)
        rec["rows"] = rows
    except Exception as exc:  # a failed op counts against ok_ratio
        rec["error"] = repr(exc)
        df = None
    rec["wall"] = time.perf_counter() - start
    rec["cpu"] = cpu() - cpu0
    if status is not None:
        op_span = next(s for s in reversed(tracer.spans)
                       if s["name"] == "op" and s["op"] == op.idx)
        jobs = status.jobs(j0, status.next_job_id())
        rec["jobs"] = jobs
        for j in jobs:
            tracer.add("spark.job", j["start"], j["end"], op.idx)
        if df is not None:
            for name, s, e in tracing.catalyst_phases(df, op_span["start"]):
                tracer.add(f"catalyst.{name}", s, e, op.idx)
        rec["cache"] = status.cache_state()
    return rec


def per_pass(records, passes, key="wall") -> float:
    """Wall or CPU seconds of one pass: each template's median per op
    times its count per pass, summed."""
    by_t: dict = {}
    for r in records:
        if r["error"] is None:
            by_t.setdefault(r["op"].template, []).append(r[key])
    counts: dict = {}
    for r in records:
        counts[r["op"].template] = counts.get(r["op"].template, 0) + 1
    return sum(statistics.median(v) * counts[t] / passes
               for t, v in by_t.items())


def wall_figures(records, passes, window) -> dict:
    """Wall-clock figures of the window.  They are printed with the run's
    info line, not as metrics: on a shared host they move with the
    neighbours' load (see ``end_to_end``)."""
    lat = [r["wall"] * 1000 for r in records if r["error"] is None]
    return {"run_s": per_pass(records, passes),
            "throughput_ops_s": len(records) / window,
            "latency_p50_ms": statistics.median(lat) if lat else 0.0}


def end_to_end(setup_s, records, passes, failed) -> dict:
    """The gated metrics.  Times are engine CPU time, not wall time: on a
    shared host whole runs slow down by up to twofold while the host takes
    the virtual CPUs away, and CPU time leaves that steal out."""
    n = len(records)
    return {
        "setup_s": setup_s,
        "run_cpu_s": per_pass(records, passes, "cpu"),
        "ok_ratio": (n - failed) / n,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cypher_for_apache_flink_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    n = cores()
    os.makedirs(WORK, exist_ok=True)
    wl = WORKLOADS[args.workload](args.seed, WORK)
    if args.trace:
        tracer = tracing.Tracer()
        tracer.install()
    else:
        tracer = tracing.NullTracer()

    spark, cpu, setup_times, setup_cpu = None, None, [], []
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            gc.collect()
            # the first set-up starts the JVM, whose clock starts at zero
            c0 = cpu() if cpu else time.process_time()
            t0 = time.perf_counter()
            spark = start_spark(n)
            tracer.op = f"setup{rep}"
            wl.setup(spark, tracer)
            setup_times.append(time.perf_counter() - t0)
            cpu = cpu or CpuClock()
            setup_cpu.append(cpu() - c0)
        # JIT warm-up happens once per JVM, so it is timed once and added
        tracer.op = "warmup"
        c0, t0 = cpu(), time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
        warm_up_cpu = cpu() - c0

        # a fixed number of passes, not a deadline: every run of a seed
        # runs the same op list however fast the machine is
        passes = max(1, round(args.seconds / wl.PASS_SECONDS))
        if args.trace:
            from cypher_for_apache_flink_spark.parser import parser
            status = tracing.SparkStatus(spark)
            before = cache_counters(parser, wl)
            records, window = run_window(wl, passes, tracer, status, cpu)
            ratios = cache_ratios(before, cache_counters(parser, wl))
            tracer.uninstall()
            tracer.write(os.path.join(
                WORK, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            records, window = run_window(wl, passes, tracer, None, cpu)

        checked = wl.check([(r["op"], r["rows"]) for r in records
                            if r["error"] is None])
    finally:
        if spark is not None:
            stop_spark(spark)

    failures = [(r["op"], r["error"]) for r in records if r["error"]]
    failures += [(op, detail) for op, ok, detail in checked if not ok]
    by_t: dict = {}
    for r in records:
        by_t.setdefault(r["op"].template, []).append(r)
    for t, rs in by_t.items():
        w = [round(r["wall"] * 1000) for r in rs]
        c = [round(r["cpu"] * 1000) for r in rs]
        print(f"perfbench: {t}: {len(rs)} ops, median wall "
              f"{statistics.median(w):.0f} ms, cpu {statistics.median(c):.0f}"
              f" ms; wall {w}, cpu {c}", file=sys.stderr)
    for op, detail in failures[:20]:
        print(f"perfbench: FAILED op {op.idx} {op.template} "
              f"{op.params}: {detail}", file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(tracer, records, passes, window, ratios)
        units = {k: u for k, (_, u) in metrics.items()}
        values = {k: v for k, (v, _) in metrics.items()}
    else:
        values = end_to_end(statistics.median(setup_cpu) + warm_up_cpu,
                            records, passes, len(failures))
        units = END_TO_END
    info = {"workload": args.workload, "seed": args.seed, "cores": n,
            "seconds": args.seconds, "trace": args.trace, "passes": passes,
            "ops": len(records), "setup_cpu_s": setup_cpu,
            "warm_up_cpu_s": warm_up_cpu, "wall": {
                "setup_runs_s": setup_times, "warm_up_s": warm_up_s,
                "setup_s": statistics.median(setup_times) + warm_up_s,
                **wall_figures(records, passes, window)}}
    print("# " + json.dumps(info))
    print(f"perfbench {args.workload} seed={args.seed} cores={n}: "
          f"{len(records)} ops in {passes} passes, {len(failures)} failed",
          file=sys.stderr)
    result = {"correct": not failures, "attempted": len(records),
              "failed": len(failures),
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in values.items()}}
    print(json.dumps(result), flush=True)
    return 0


def cache_counters(parser, wl) -> dict:
    """Hit and miss counters of the parser's AST cache and the session's
    plan cache (zero for workloads that run no Cypher)."""
    plan = getattr(wl, "session", None)
    return {"parser.ast_cache_hit_ratio": dict(parser.ast_cache_stats),
            "session.plan_cache_hit_ratio":
                dict(plan.plan_cache_stats) if plan
                else {"hits": 0, "misses": 0}}


def cache_ratios(before, after) -> dict:
    out = {}
    for name, now in after.items():
        hits = now["hits"] - before[name]["hits"]
        total = hits + now["misses"] - before[name]["misses"]
        out[name] = hits / total if total else 0.0
    return out


def layer_metrics(tracer, records, passes, window, ratios) -> dict:
    """Per-layer metrics: {name: (value, unit)}."""
    spans = [s for s in tracer.spans if s["end"] is not None]
    by_op: dict = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    selfs = tracing.self_times(spans)

    def span_ms(op_idx, name):
        """Wall time the op spent inside spans of ``name``, or None."""
        ivs = [(s["start"], s["end"]) for s in by_op.get(op_idx, ())
               if s["name"] == name]
        return tracing.union_length(ivs) * 1000 if ivs else None

    def med(vals):
        vals = [v for v in vals if v is not None]
        return statistics.median(vals) if vals else 0.0

    def layer_ms(name):
        return med(span_ms(r["op"].idx, name) for r in records)

    def self_ms(name):
        return med(selfs[(r["op"].idx, name)] * 1000 for r in records
                   if (r["op"].idx, name) in selfs)

    m = {}
    m["parser.parse_ms"] = (layer_ms("parser.parse"), "ms")
    m["parser.ast_cache_hit_ratio"] = (
        ratios["parser.ast_cache_hit_ratio"], "ratio")
    m["session.cypher_ms"] = (layer_ms("session.cypher"), "ms")
    m["session.plan_cache_hit_ratio"] = (
        ratios["session.plan_cache_hit_ratio"], "ratio")
    m["plans.planner.plan_ms"] = (layer_ms("plans.planner.plan"), "ms")
    m["plans.mutation.plan_ms"] = (layer_ms("plans.mutation.plan"), "ms")
    for ph in tracing.CATALYST_PHASES:
        m[f"catalyst.{ph}_ms"] = (layer_ms(f"catalyst.{ph}"), "ms")

    def job_sum(rs, key):
        return sum(st[key] for r in rs for j in r["jobs"]
                   for st in j["stages"])

    m["spark.jobs"] = (sum(len(r["jobs"]) for r in records), "count")
    m["spark.stages"] = (sum(len(j["stages"]) for r in records
                             for j in r["jobs"]), "count")
    m["spark.tasks"] = (job_sum(records, "tasks"), "count")
    m["spark.job_ms"] = (med(sum(j["end"] - j["start"] for j in r["jobs"])
                             * 1000 for r in records), "ms")

    def gap(r):
        op_span = next(s for s in by_op[r["op"].idx] if s["name"] == "op")
        lo, hi = op_span["start"], op_span["end"]
        busy = tracing.union_length((max(j["start"], lo), min(j["end"], hi))
                               for j in r["jobs"])
        return (hi - lo - busy) * 1000

    m["spark.driver_gap_ms"] = (med(gap(r) for r in records), "ms")
    for key in ("executor_run_ms", "executor_cpu_ms"):
        m[f"spark.{key}"] = (med(job_sum([r], key) for r in records), "ms")
    for key in ("shuffle_write_bytes", "shuffle_write_records",
                "shuffle_read_bytes", "spill_bytes", "input_bytes"):
        m[f"spark.{key}"] = (job_sum(records, key),
                             "count" if key.endswith("records") else "bytes")
    m["spark.peak_execution_memory_bytes"] = (max(
        [st["peak_execution_memory_bytes"] for r in records
         for j in r["jobs"] for st in j["stages"]], default=0),
        "bytes")

    for span in tracing.ALGORITHM_SPANS:
        m[f"{span}_s"] = (layer_ms(span) / 1000, "s")
        n_jobs = 0
        for r in records:
            ivs = [(s["start"], s["end"]) for s in by_op.get(r["op"].idx, ())
                   if s["name"] == span]
            n_jobs += sum(1 for j in r["jobs"]
                          if any(lo - 0.001 <= j["start"] <= hi + 0.001
                                 for lo, hi in ivs))
        m[f"{span}.jobs"] = (n_jobs, "count")

    m["cache.persisted_rdds_after_op"] = (
        max((r["cache"][0] for r in records), default=0), "count")
    m["cache.storage_bytes_after_op"] = (
        max((r["cache"][1] for r in records), default=0), "bytes")
    builds = [s["end"] - s["start"] for s in spans
              if s["name"] == "sources.graph_build"]
    m["sources.graph_build_s"] = (med(builds), "s")
    for name in ("op", "session.cypher", "plans.planner.plan", "execute"):
        m[f"{name}.self_ms"] = (self_ms(name), "ms")
    for span in tracing.ALGORITHM_SPANS:
        m[f"{span}.self_ms"] = (self_ms(span), "ms")
    # tracing overhead = this run_s minus the untraced run's run_s; the
    # tracer's own reads between ops are outside every op's latency
    m["trace.run_s"] = (per_pass(records, passes), "s")
    m["trace.run_cpu_s"] = (per_pass(records, passes, "cpu"), "s")
    m["trace.between_ops_s"] = (
        (window - sum(r["wall"] for r in records)) / passes, "s")
    return m


if __name__ == "__main__":
    sys.exit(main())
