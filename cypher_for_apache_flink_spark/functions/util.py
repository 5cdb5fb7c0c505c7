"""Shared helpers for the pipeline operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind_once(col: Column, f) -> Column:
    """Let-binding for column expressions: evaluate ``col`` once per row and
    pass the bound value to ``f`` as a lambda variable.

    Spark evaluates higher-order-function lambda bodies interpreted, once
    per array element — a non-trivial subtree referenced inside the lambda
    (e.g. a regex-split token array) is RE-EVALUATED per element, turning an
    O(tokens) shingle pass into O(tokens^2).  Measured 8.2x on the sf0.1
    corpus (round 12, ``tools/probes/shingle_microbench.py``).  Wrapping the
    subtree as the input of a single-element ``transform`` binds it to a
    lambda variable, which inner lambdas then reference for free.  Result
    semantics are identical: ``f`` receives exactly the value of ``col``
    (including null), and ``transform``'s lambda is applied to that one
    element.
    """
    return F.transform(F.array(col), f)[0]
