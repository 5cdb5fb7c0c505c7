"""Query-scoped lease over planner-created caches.

The var-length expand and the shortestPath loop cache their pruned edge
tables so each hop doesn't recompute the join chain.  Those StorageLevels
must not outlive the query: in a long-lived session executor storage
would accumulate one slim-edge cache per var-length query (VERDICT r3 #6).

Only the Cypher planner leases.  A ``CacheLease`` is owned by the planner
and co-owned by every object handed to the user (the ``CypherResult`` and
the DataFrame its ``df`` returns).  When the last holder is
garbage-collected — or ``release()`` is called explicitly — every leased
DataFrame is unpersisted.  Unpersist is correctness-neutral (Spark
recomputes), so an early release can only cost time, never answers.

Loop checkpoints are not leased: the planner's unbounded frontiers and
every result under ``functions/`` are ``layout.materialize`` checkpoints,
which Spark's ContextCleaner frees once no plan reads them.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError


class CacheLease:
    def __init__(self):
        self.dfs = []

    def add(self, df):
        """Track a cached/persisted DataFrame; returns it unchanged."""
        self.dfs.append(df)
        return df

    def release(self):
        dfs, self.dfs = self.dfs, []
        for d in dfs:
            try:
                d.unpersist()
            except Py4JJavaError:
                pass   # the SparkContext is stopped: its storage is gone

    def __del__(self):
        self.release()
