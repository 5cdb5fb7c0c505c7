"""Execute TCK scenarios against the engine, with the reference's
blacklist semantics.

Reference analogue (morpheus-tck/.../TckSparkCypherTest.scala):
 - whitelisted scenarios MUST pass (:58-67);
 - blacklisted scenarios are still RUN and must KEEP failing — a passing
   blacklisted scenario is itself a failure (:70-81);
 - a per-feature coverage report is computed from the white/black split
   (:83-105).
"""
from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

from .gherkin import Scenario, load_features
from .values import (
    TckValueError,
    canon_expected_value,
    canon_result_value,
    parse_tck_value,
)


class ScenarioFailure(AssertionError):
    pass


_ERROR_RE = re.compile(
    r"^an?\s+(\w+)\s+should be raised at\s+(compile time|runtime|any time)"
    r"\s*:?\s*(\S*)\s*$", re.IGNORECASE)
_RESULT_RE = re.compile(
    r"^the result should be(,?\s*in (any )?order)?"
    r"(,?\s*ignoring element order for lists)?\s*:?\s*$", re.IGNORECASE)


def _param_value(v):
    """Canonical tagged value -> plain Python parameter value."""
    tag = v[0]
    if tag == "null":
        return None
    if tag in ("bool", "int", "float", "str"):
        return v[1]
    if tag == "list":
        return [_param_value(x) for x in v[1]]
    if tag == "map":
        return {k: _param_value(x) for k, x in v[1]}
    raise TckValueError(f"unsupported parameter value {v!r}")


@dataclass
class _Plan:
    setup: list
    query: str | None
    params: dict
    expect_error: str | None          # error type name, or None
    expect_rows: list | None          # table rows (incl. header), or None
    ordered: bool
    unordered_lists: bool
    expect_empty: bool
    error_phase: str | None = None    # "compile time" / "runtime" / "any time"
    error_detail: str | None = None   # TCK detail code (asserted when given)
    procedures: list = None           # [(signature, rows), ...] stubs
    side_effects: dict | None = None  # {"+nodes": 2, ...}; {} = none


def _interpret(steps) -> _Plan:
    plan = _Plan([], None, {}, None, None, False, False, False)
    for step in steps:
        text = step.text.rstrip(":").strip() if step.docstring is None \
            else step.text.strip()
        low = text.lower().rstrip(":")
        if low in ("an empty graph", "any graph"):
            # a scenario-level Given RESETS the fixture — it replaces any
            # Background graph rather than stacking on top of it (Gherkin
            # Backgrounds run first, so scenario setup starts fresh here)
            plan.setup = []
            continue
        if low == "having executed" or low == "having defined":
            plan.setup.append(step.docstring)
            continue
        if low == "parameters are" or low == "parameter values are":
            for row in (step.table or []):
                plan.params[row[0]] = _param_value(parse_tck_value(row[1]))
            continue
        if low.startswith("there exists a procedure"):
            # "there exists a procedure <signature>:" with a value table
            # (header row = input names + output names) — registers a
            # table-backed stub, the TCK's procedure fixture shape
            sig = text[len("there exists a procedure"):].strip()
            rows = [tuple(_param_value(parse_tck_value(c)) for c in r)
                    for r in (step.table or [])[1:]]
            plan.procedures = (plan.procedures or []) + [(sig, rows)]
            continue
        if low == "executing query" or low == "executing control query":
            plan.query = step.docstring
            continue
        if low == "no side effects":
            plan.side_effects = {}
            continue
        if low.startswith("the side effects"):
            # value table: | +nodes | 2 | — asserted via state diff
            plan.side_effects = {row[0]: int(row[1])
                                 for row in (step.table or [])}
            continue
        m = _ERROR_RE.match(text)
        if m:
            plan.expect_error = m.group(1)
            plan.error_phase = m.group(2).lower()
            plan.error_detail = m.group(3) or None
            continue
        if low == "the result should be empty":
            plan.expect_empty = True
            continue
        m = _RESULT_RE.match(text)
        if m:
            plan.ordered = m.group(1) is not None and m.group(2) is None
            plan.unordered_lists = m.group(3) is not None
            plan.expect_rows = step.table or []
            continue
        raise TckValueError(f"unsupported TCK step: {step.text!r}")
    return plan


# LRU-bounded (round 8): an unbounded cache plus the implicit-session
# memo on every graph (graph.py cypher()) retained each graph's session
# plan cache — up to 128 fully-analyzed plans, and the checkpoints they
# read, PER GRAPH — and a 1,784-scenario run exhausted a 4g driver heap.
# Evicting the oldest graph drops its session and plan cache to GC (the
# ContextCleaner frees checkpoints no plan reads any more), which bounds
# JVM retention while keeping the reuse win for clustered scenarios
# (features repeat the same Background/CREATE text back-to-back).
_GRAPH_CACHE_MAX = 48
_graph_cache: dict = {}


def _build_graph(spark, setup: list):
    from ..graph import PropertyGraph
    from ..sources.create import graph_from_create

    key = "\n".join(setup)
    if key in _graph_cache:
        _graph_cache[key] = _graph_cache.pop(key)      # LRU touch
    else:
        while len(_graph_cache) >= _GRAPH_CACHE_MAX:
            evicted = _graph_cache.pop(next(iter(_graph_cache)))
            # break the session -> plan cache -> Records -> session cycle
            # so py4j wrappers free without waiting for a cyclic-GC pass
            s = evicted.__dict__.pop("_implicit_session", None)
            if s is not None:
                s._plan_cache.clear()
        if not key.strip():
            _graph_cache[key] = PropertyGraph({}, {}, name="empty")
        else:
            try:
                # fast path: literal CREATE statements build driver-side
                _graph_cache[key] = graph_from_create(spark, key)
            except Exception:
                # general path: run each setup statement through the engine
                # (MATCH ... CREATE, MERGE, SET ... — the mutation surface),
                # threading the transformed graph through
                g = PropertyGraph({}, {}, name="empty")
                for stmt in setup:
                    res = g.cypher(stmt)
                    res.to_maps()               # force mutation pipeline
                    if res.graph is not None:
                        g = res.graph
                _graph_cache[key] = g
    return _graph_cache[key]


# ---------------------------------------------------------------------------
# Side-effect measurement: openCypher TCK state-diff semantics — nodes and
# relationships by id, labels as (node, label) pairs, properties as
# (entity, key, value) triples (so changing a value counts +1/-1).
# ---------------------------------------------------------------------------

def _canon_cell(v):
    if isinstance(v, list):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    return v


def _graph_state(g):
    from ..graph import (_RESERVED_NODE, _RESERVED_REL, prop_name)

    cached = getattr(g, "_tck_state", None)
    if cached is not None:
        return cached
    nodes: dict = {}
    for combo, df in g.node_tables.items():
        for row in df.collect():
            d = row.asDict(recursive=True)
            nid = d.pop("id")
            props = frozenset(
                (prop_name(k, _RESERVED_NODE), _canon_cell(v))
                for k, v in d.items() if v is not None)
            nodes[nid] = (frozenset(combo), props)
    rels: dict = {}
    for rtype, df in g.rel_tables.items():
        for row in df.collect():
            d = row.asDict(recursive=True)
            rid, src, tgt = d.pop("id"), d.pop("source"), d.pop("target")
            props = frozenset(
                (prop_name(k, _RESERVED_REL), _canon_cell(v))
                for k, v in d.items() if v is not None)
            rels[rid] = (src, tgt, rtype, props)
    state = (nodes, rels)
    g._tck_state = state
    return state


def graph_side_effects(before, after) -> dict:
    """Non-zero side-effect counters between two PropertyGraphs."""
    n0, r0 = _graph_state(before)
    n1, r1 = _graph_state(after)
    out = {}

    def put(key, n):
        if n:
            out[key] = n

    put("+nodes", len(set(n1) - set(n0)))
    put("-nodes", len(set(n0) - set(n1)))
    put("+relationships", len(set(r1) - set(r0)))
    put("-relationships", len(set(r0) - set(r1)))
    lab0 = {(i, l) for i, (combo, _) in n0.items() for l in combo}
    lab1 = {(i, l) for i, (combo, _) in n1.items() for l in combo}
    put("+labels", len(lab1 - lab0))
    put("-labels", len(lab0 - lab1))
    p0 = {(i, k, v) for i, (_, props) in n0.items() for k, v in props} | \
         {(i, k, v) for i, (_, _, _, props) in r0.items() for k, v in props}
    p1 = {(i, k, v) for i, (_, props) in n1.items() for k, v in props} | \
         {(i, k, v) for i, (_, _, _, props) in r1.items() for k, v in props}
    put("+properties", len(p1 - p0))
    put("-properties", len(p0 - p1))
    return out


# TCK error-type name -> engine exception class names that legitimately
# report it.  The openCypher TCK files "semantic" violations (undefined
# variables, nested aggregation...) under SyntaxError, so plan-time
# PlanError qualifies for both.  Runtime kinds map to the Spark-raised
# classes the engine lets propagate (captured py4j exceptions keep their
# JVM simple names as the Python class name).
_ERROR_CLASSES = {
    "syntaxerror": {"CypherSyntaxError", "PlanError", "DdlError"},
    "semanticerror": {"CypherSyntaxError", "PlanError", "DdlError"},
    "typeerror": {"PlanError", "AnalysisException", "TypeError",
                  "SparkRuntimeException", "PySparkTypeError"},
    "argumenterror": {"PlanError", "ValueError", "IllegalArgumentException",
                      "AnalysisException"},
    "arithmeticerror": {"ArithmeticException", "SparkArithmeticException",
                        "PySparkArithmeticException", "ZeroDivisionError"},
    "parametermissing": {"PlanError", "KeyError"},
    "constraintverificationfailed": {"DeleteConnectedNodeError"},
    "constraintvalidationfailed": {"DeleteConnectedNodeError"},
    "entitynotfound": {"EntityNotFoundError"},
}


# TCK detail codes raised by Spark itself rather than the engine's typed
# hierarchy — matched by JVM/driver exception class name, since those
# errors carry no engine `code` attribute.
_SPARK_DETAIL_CLASSES = {
    "DivideByZero": {"ArithmeticException", "SparkArithmeticException",
                     "PySparkArithmeticException", "ZeroDivisionError"},
}


def _detail_matches(exc: BaseException, detail: str) -> bool:
    code = getattr(exc, "code", None)
    if code is not None:
        return code == detail
    allowed = _SPARK_DETAIL_CLASSES.get(detail)
    if allowed is None:
        return False                    # engine error without a code: fail
    return any(c.__name__ in allowed for c in type(exc).__mro__)


class HarnessError(Exception):
    """A failure in the harness itself (graph build, value grammar) —
    never satisfies an expected-error step (ADVICE r5: a broken fixture
    must not count as a SemanticErrorAcceptance pass)."""


def _error_matches(exc: BaseException, kind: str) -> bool:
    allowed = _ERROR_CLASSES.get(kind.lower())
    if allowed is None:                 # unknown kind: any ENGINE error
        return True
    return any(c.__name__ in allowed for c in type(exc).__mro__)


def run_scenario(spark, scenario: Scenario, background=()) -> None:
    """Run one scenario; raise ScenarioFailure (or the engine's own error)
    on mismatch.  Returning normally means the scenario PASSED.

    Expected-error steps assert like the reference's tck-api runner: the
    raised error must be an ENGINE error of the declared TCK type, in the
    declared phase (compile time = while planning ``cypher()``; runtime =
    while materializing).  Harness-side errors (graph build, TCK value
    grammar) always propagate as failures.
    """
    plan = _interpret(list(background) + list(scenario.steps))
    if plan.query is None:
        raise TckValueError(f"{scenario}: no 'When executing query' step")

    try:                                # harness territory: never "expected"
        g = _build_graph(spark, plan.setup)
    except Exception as e:
        raise HarnessError(f"{scenario}: graph setup failed: {e}") from e

    procs = None
    if plan.procedures:
        from ..procedures import table_procedure
        try:
            procs = [table_procedure(sig, rows)
                     for sig, rows in plan.procedures]
        except Exception as e:
            raise HarnessError(
                f"{scenario}: procedure fixture failed: {e}") from e

    phase, rows = "compile time", None
    try:
        res = g.cypher(plan.query, params=plan.params or None,
                       procedures=procs)
        phase = "runtime"
        rows = res.to_maps()
    except TckValueError:
        raise                           # harness value-grammar bug
    except Exception as e:
        if not plan.expect_error:
            raise
        if not _error_matches(e, plan.expect_error):
            raise ScenarioFailure(
                f"{scenario}: expected a {plan.expect_error} but got "
                f"{type(e).__name__}: {e}") from e
        # mutation executes within the statement; its typed errors carry
        # the phase they belong to (e.g. DeleteConnectedNode = runtime)
        phase = getattr(e, "phase", phase)
        if plan.error_phase not in (None, "any time", phase):
            raise ScenarioFailure(
                f"{scenario}: expected {plan.expect_error} at "
                f"{plan.error_phase} but it was raised at {phase}") from e
        if plan.error_detail and not _detail_matches(e, plan.error_detail):
            raise ScenarioFailure(
                f"{scenario}: expected error detail "
                f"{plan.error_detail!r} but got "
                f"code={getattr(e, 'code', None)!r} "
                f"({type(e).__name__}: {e})") from e
        return
    if plan.expect_error:
        raise ScenarioFailure(
            f"{scenario}: expected {plan.expect_error} but the query "
            f"succeeded with {len(rows)} rows")

    if plan.side_effects is not None:
        # read-only queries (res.graph is None) trivially diff to {};
        # only mutating queries pay the state collection
        actual = {} if res.graph is None else graph_side_effects(g, res.graph)
        if actual != plan.side_effects:
            raise ScenarioFailure(
                f"{scenario}: side effects {actual} != expected "
                f"{plan.side_effects}")

    if plan.expect_empty:
        if rows:
            raise ScenarioFailure(f"{scenario}: expected empty result, "
                                  f"got {len(rows)} rows")
        return
    if plan.expect_rows is None:
        return                          # no assertion step: running is enough

    table = plan.expect_rows
    header, data = (table[0], table[1:]) if table else ([], [])
    got_cols = sorted(rows[0].keys()) if rows else None
    if rows and sorted(header) != got_cols:
        raise ScenarioFailure(f"{scenario}: columns {got_cols} != expected "
                              f"{sorted(header)}")
    order = sorted(range(len(header)), key=lambda k: header[k])
    want = [tuple(canon_expected_value(parse_tck_value(row[k]),
                                       plan.unordered_lists)
                  for k in order) for row in data]
    got = [tuple(canon_result_value(r[header[k]], plan.unordered_lists)
                 for k in order) for r in rows]
    if plan.ordered:
        if got != want:
            raise ScenarioFailure(
                f"{scenario}: ordered mismatch\n got: {got}\nwant: {want}")
    else:
        if Counter(got) != Counter(want):
            miss = Counter(want) - Counter(got)
            extra = Counter(got) - Counter(want)
            raise ScenarioFailure(
                f"{scenario}: bag mismatch\n missing: {dict(miss)}\n "
                f"unexpected: {dict(extra)}")


class TckSuite:
    """Feature corpus + blacklists (the reference's ``ScenariosFor``)."""

    def __init__(self, features_dir: str, blacklist_files: dict[str, str]):
        self.features = load_features(features_dir)
        self.blacklists: dict[str, set] = {}
        for name, path in blacklist_files.items():
            with open(path, encoding="utf-8") as f:
                self.blacklists[name] = {
                    ln.strip() for ln in f
                    if ln.strip() and not ln.strip().startswith("//")}
        self._all_black = set().union(*self.blacklists.values()) \
            if self.blacklists else set()

    def scenarios(self):
        for feat in self.features:
            for sc in feat.scenarios:
                yield feat, sc

    @property
    def white_list(self):
        return [(f, s) for f, s in self.scenarios()
                if str(s) not in self._all_black]

    @property
    def black_list(self):
        return [(f, s) for f, s in self.scenarios()
                if str(s) in self._all_black]

    def stale_blacklist_entries(self):
        """Blacklist lines matching no parsed scenario (typos/renames)."""
        known = {str(s) for _, s in self.scenarios()}
        return sorted(self._all_black - known)

    def coverage_report(self) -> str:
        """Per-feature pass coverage, like TckSparkCypherTest.scala:83-105."""
        white = Counter(f.name for f, _ in self.white_list)
        black = Counter(f.name for f, _ in self.black_list)
        lines = ["TCK coverage (whitelisted / total per feature):"]
        for feat in sorted(set(white) | set(black)):
            w, b = white.get(feat, 0), black.get(feat, 0)
            lines.append(f"  {feat}: {w}/{w + b} ({100.0 * w / (w + b):.1f}%)")
        tw, tb = sum(white.values()), sum(black.values())
        lines.append(f"overall: {tw}/{tw + tb} "
                     f"({100.0 * tw / max(tw + tb, 1):.1f}%)")
        for name, entries in sorted(self.blacklists.items()):
            lines.append(f"blacklist {name}: {len(entries)} entries")
        return "\n".join(lines)
