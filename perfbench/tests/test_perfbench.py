"""The benchmark's inputs come from the seed alone, and its traced counts
repeat.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

import itertools
import json
import os
import subprocess
import sys

import pytest

from inputs import edge_digest
from tracing import NullTracer
from workloads import GraphIterative, Interactive

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op_list(wl, passes=3):
    return [op for batch in itertools.islice(wl.ops(), passes)
            for op in batch]


def test_interactive_ops_follow_the_seed(tmp_path):
    a = op_list(Interactive(1, str(tmp_path)))
    assert a == op_list(Interactive(1, str(tmp_path)))
    assert a != op_list(Interactive(2, str(tmp_path)))
    assert len(a) == 30 and sum(op.kind == "write" for op in a) == 3


def test_graph_inputs_follow_the_seed(spark, tmp_path):
    runs = {}
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        wl = GraphIterative(seed, str(tmp_path / name))
        wl.setup(spark, NullTracer())
        runs[name] = (edge_digest(wl.edge_path), op_list(wl, passes=2))
    assert runs["a"] == runs["b"]
    assert runs["a"][0] != runs["c"][0]
    assert runs["a"][1] != runs["c"][1]
    n_edges, _ = runs["a"][0]
    # duplicates and self-loops of the skewed draw are dropped
    assert GraphIterative.EDGES / 2 < n_edges < GraphIterative.EDGES


def traced(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(BENCH), capture_output=True, text=True,
        timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["interactive", "graph_iterative"])
def test_traced_spark_counts_repeat(workload):
    runs = [traced(workload, 7) for _ in range(2)]
    counts = [{k: v["value"] for k, v in r["metrics"].items()
               if k.startswith("spark.") and not k.endswith("_ms")}
              for r in runs]
    assert all(r["correct"] for r in runs)
    assert counts[0] == counts[1]
    assert counts[0]["spark.jobs"] > 0
