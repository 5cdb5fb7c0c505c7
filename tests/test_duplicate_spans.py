"""Exact substring duplicate spans (functions/dedup.py duplicate_spans):
the Lee-et-al.-2021 exact-substring dedup primitive, suffix-array-free.
"""

import pytest

from cypher_for_apache_flink_spark.functions.dedup import (
    duplicate_spans, duplicate_spans_sql_oracle)


DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "intro text alpha beta gamma delta outro words here"),
    (3, "unique content with no repeats whatsoever at all"),
    (4, "alpha beta gamma delta epsilon zeta eta theta"),   # exact dup of 1
    (5, "xx alpha beta gamma yy alpha beta gamma zz"),      # within-doc dup
    (6, "tiny"),                                            # shorter than n
    (7, ""),                                                # empty
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def spans(df, **kw):
    return sorted(tuple(r) for r in duplicate_spans(df, **kw).collect())


def test_exact_dup_docs_fully_covered(docs_df):
    got = spans(docs_df, n=3)
    assert (1, 0, 8) in got and (4, 0, 8) in got


def test_cross_doc_substring_span(docs_df):
    # "alpha beta gamma delta" sits at tokens 2..5 of doc 2: windows at
    # positions 2 and 3 merge to the half-open span [2, 6)
    got = spans(docs_df, n=3)
    assert (2, 2, 6) in got


def test_within_doc_repeat_two_islands(docs_df):
    got = [s for s in spans(docs_df, n=3) if s[0] == 5]
    assert got == [(5, 1, 4), (5, 5, 8)]


def test_unique_and_short_docs_absent(docs_df):
    ids = {d for d, _, _ in spans(docs_df, n=3)}
    assert 3 not in ids and 6 not in ids and 7 not in ids


def test_min_count_threshold(docs_df):
    # "alpha beta gamma" occurs 5x corpus-wide, "beta gamma delta" 3x;
    # raising min_count to 4 keeps only the former's windows, and no
    # window reaches 6
    got4 = spans(docs_df, n=3, min_count=4)
    assert got4 == [(1, 0, 3), (2, 2, 5), (4, 0, 3), (5, 1, 4), (5, 5, 8)]
    assert spans(docs_df, n=3, min_count=6) == []


def test_matches_duckdb_oracle(docs_df):
    duckdb = pytest.importorskip("duckdb")
    got = spans(docs_df, n=3)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", DOCS)
    want = sorted(tuple(r) for r in con.execute(duplicate_spans_sql_oracle(
        "SELECT doc_id, text FROM documents", n=3)).fetchall())
    assert got == want


def test_window_length_boundary(spark):
    # an n-token doc duplicated yields exactly one window -> one full span
    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")],
                               "doc_id long, text string")
    assert spans(df, n=3) == [(1, 0, 3), (2, 0, 3)]


def test_no_driver_side_loops(docs_df, monkeypatch):
    # distributed shape: the plan is pure DataFrame ops (window merge +
    # aggregations), no collect-based driver iteration.  The result is a
    # checkpoint, so read the plan it was materialized from.
    from cypher_for_apache_flink_spark.functions import layout
    plans = []
    materialize = layout.materialize

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return materialize(df, *args, **kwargs)

    monkeypatch.setattr(layout, "materialize", spy)
    duplicate_spans(docs_df, n=3)
    [plan] = plans
    assert "Window" in plan
