"""Layer tracing for the benchmark's traced run.

Spans are taken from outside the program, around calls into each layer's
public functions, by timing shims that ``Tracer.install`` puts in place
and ``Tracer.uninstall`` removes; the untraced run never sees them.  Spark
jobs and Catalyst phases become spans too, read after each op from the
status store and from ``queryExecution().tracker()`` over py4j.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager, nullcontext

CATALYST_PHASES = ("analysis", "optimization", "planning")

MUTATION_PLANNERS = ("plan_create", "plan_set", "plan_delete", "plan_merge",
                     "plan_foreach")
# one span per algorithm entry point, named functions.<module>.<function>
ALGORITHM_SPANS = tuple(f"functions.graph_algos.{n}" for n in (
    "pagerank", "label_propagation", "strongly_connected_components",
    "k_core", "bfs_shortest_paths", "louvain")) + (
    "functions.components.connected_components",)


def shim_targets():
    """(owner, attribute, span name) for every timed public function.

    ``session`` binds ``parse_parameterized`` at import, so its binding is
    replaced too; the planner and the ``algo.*`` procedures import the
    mutation planners and algorithms at call time, so replacing the module
    attributes reaches those calls."""
    from cypher_for_apache_flink_spark import session
    from cypher_for_apache_flink_spark.functions import components, graph_algos
    from cypher_for_apache_flink_spark.parser import parser
    from cypher_for_apache_flink_spark.plans import mutation, planner
    from cypher_for_apache_flink_spark.sources import tpch

    modules = {"graph_algos": graph_algos, "components": components}
    targets = [
        (session, "parse_parameterized", "parser.parse"),
        (parser, "parse_parameterized", "parser.parse"),
        (planner.Planner, "plan", "plans.planner.plan"),
        (session.CypherSession, "cypher", "session.cypher"),
        (tpch, "tpch_graph", "sources.graph_build"),
    ]
    targets += [(mutation, n, "plans.mutation.plan")
                for n in MUTATION_PLANNERS]
    targets += [(modules[span.split(".")[1]], span.rsplit(".", 1)[1], span)
                for span in ALGORITHM_SPANS]
    return targets


class NullTracer:
    """The untraced run's stand-in: spans cost nothing and record nothing."""

    op = None

    def span(self, name):
        return nullcontext()


class Tracer:
    """Collects spans (name, start, end, parent, op) in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        if threading.current_thread() is not threading.main_thread():
            # thread-pool work inside an algorithm is covered by the
            # calling span; one stack serves the single client thread
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "external": False}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return timed

    def install(self):
        for owner, attr, name in shim_targets():
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self):
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def add(self, name: str, start: float, end: float, op):
        """Record a span measured elsewhere (a Spark job, a Catalyst phase)
        under the innermost shim span of ``op`` that contains its start
        (JVM clocks tick in milliseconds, hence the slack)."""
        parent = None
        for rec in self.spans:
            if rec["op"] == op and not rec["external"] \
                    and rec["start"] - 0.001 <= start <= rec["end"] + 0.001:
                if parent is None or rec["start"] >= parent["start"]:
                    parent = rec
        self.spans.append({"id": len(self.spans), "name": name, "op": op,
                           "parent": parent["id"] if parent else None,
                           "start": start, "end": end, "external": True})

    def write(self, path: str):
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict:
    """{(op, name): summed self seconds}: a span's duration minus the part
    of its interval that its child spans cover."""
    children: dict = {}
    for rec in spans:
        if rec["parent"] is not None:
            children.setdefault(rec["parent"], []).append(rec)
    out: dict = {}
    for rec in spans:
        lo, hi = rec["start"], rec["end"]
        ivs = sorted((max(c["start"], lo), min(c["end"], hi))
                     for c in children.get(rec["id"], ()))
        covered = union_length(ivs)
        key = (rec["op"], rec["name"])
        out[key] = out.get(key, 0.0) + max(hi - lo - covered, 0.0)
    return out


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals, overlaps once."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkStatus:
    """Exact per-op job and stage figures from the Spark status store.

    Jobs are numbered in submission order, so with one client the jobs of
    an op are those numbered between the scheduler's next job id before
    and after it, including jobs that algorithms submit from thread pools.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jsc = sc._jsc
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def jobs(self, first: int, end: int) -> list[dict]:
        """Every job numbered ``first <= id < end``, after the listener bus
        has recorded all of them as ended; raises when one was evicted."""
        if end <= first:
            return []
        deadline = time.time() + 60
        store = self._sc.statusStore()
        while True:
            self._sc.listenerBus().waitUntilEmpty(60_000)
            out, pending = [], False
            for jid in range(first, end):
                try:
                    jd = store.job(jid)
                except Exception as exc:  # py4j wraps NoSuchElementException
                    raise RuntimeError(
                        f"job {jid} is missing from the status store "
                        "(evicted or never recorded)") from exc
                status = jd.status().toString()
                if status in ("RUNNING", "UNKNOWN") \
                        or jd.completionTime().isEmpty():
                    pending = True
                    break
                out.append(self._job_record(store, jd, status))
            if not pending:
                return out
            if time.time() > deadline:
                raise RuntimeError(f"jobs {first}..{end - 1} never ended")
            time.sleep(0.01)

    def _job_record(self, store, jd, status) -> dict:
        stages = []
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            attempts = store.stageData(sid, False,
                                       self._jvm.java.util.ArrayList(), False,
                                       self._gw.new_array(self._jvm.double, 0))
            if attempts.size() == 0:
                raise RuntimeError(
                    f"stage {sid} of job {jd.jobId()} was evicted from the "
                    "status store; raise spark.ui.retainedStages")
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "SKIPPED":
                    continue
                stages.append({
                    "tasks": sd.numCompleteTasks(),
                    "executor_run_ms": sd.executorRunTime(),
                    "executor_cpu_ms": sd.executorCpuTime() / 1e6,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "shuffle_write_records": sd.shuffleWriteRecords(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "spill_bytes": sd.memoryBytesSpilled()
                    + sd.diskBytesSpilled(),
                    "input_bytes": sd.inputBytes(),
                    "peak_execution_memory_bytes": sd.peakExecutionMemory(),
                })
        return {"id": jd.jobId(), "status": status,
                "start": jd.submissionTime().get().getTime() / 1000.0,
                "end": jd.completionTime().get().getTime() / 1000.0,
                "stages": stages}

    def cache_state(self) -> tuple[int, int]:
        """(persisted RDD count, bytes they hold in memory and on disk)."""
        infos = self._sc.getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return int(self._jsc.getPersistentRDDs().size()), int(held)


def catalyst_phases(df, since: float) -> list[tuple[str, float, float]]:
    """(phase, start, end) of the Catalyst phases the DataFrame's query
    execution ran at or after ``since`` (earlier runs of a reused plan
    are not this op's work)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    for name in CATALYST_PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            p = opt.get()
            start, end = p.startTimeMs() / 1000.0, p.endTimeMs() / 1000.0
            if start >= since - 0.001:
                out.append((name, start, end))
    return out
