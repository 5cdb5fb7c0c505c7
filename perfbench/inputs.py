"""Seeded inputs for the benchmark: every table, edge and binding derives
from the ``--seed`` value alone, so one seed always yields the same inputs.

* TPC-H-shaped tables are written as parquet by DuckDB from hash-derived
  columns (``hash(seed, salt, key)``), so they need no external data set
  and DuckDB can read the very same files as the correctness oracle.
* The R-MAT edge list is built with Spark column expressions: each edge id
  picks one quadrant per recursion level from ``xxhash64(seed, id, level)``,
  which keeps the edges independent of partitioning.
* Literal bindings come from a numpy ``PCG64`` generator seeded with the
  seed and a per-purpose salt.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

# TPC-H row counts per unit scale factor.
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]

# R-MAT quadrant probabilities (a, b, c; d = 1 - a - b - c), the Graph500
# defaults: they give the heavy-tailed degrees the TPC-H graph lacks.
RMAT_ABC = (0.57, 0.19, 0.19)


def rng(seed: int, salt: int) -> np.random.Generator:
    """Independent generator per purpose, reproducible from the seed."""
    return np.random.Generator(np.random.PCG64([seed, salt]))


def zipf_index(gen: np.random.Generator, n: int, s: float) -> int:
    """Rank in ``range(n)`` drawn with P(r) proportional to 1/(r+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return int(gen.choice(n, p=p / p.sum()))


def table_counts(sf: float) -> dict:
    return {k: max(int(v * sf), 1) for k, v in ROWS_PER_SF.items()}


def _uniform(seed: int, salt: int, key: str) -> str:
    """SQL for a uniform [0, 1) draw that depends on seed, salt and key."""
    return f"((hash({seed}, {salt}, {key}) % 1000003) / 1000003.0)"


def _pick(options: list, seed: int, salt: int, key: str) -> str:
    lst = "[" + ", ".join(f"'{o}'" for o in options) + "]"
    return (f"{lst}[CAST(floor({_uniform(seed, salt, key)} * {len(options)})"
            f" AS INTEGER) + 1]")


def tpch_sql(sf: float, seed: int) -> dict:
    """DuckDB SELECT per table, with the column names and types of the
    TPC-H-shaped schema the library's ``sources.tpch`` mapping reads."""
    n = table_counts(sf)
    u = lambda salt, key="i": _uniform(seed, salt, key)  # noqa: E731
    li = "o * 8 + l"
    return {
        "region": "SELECT CAST(i AS INTEGER) AS r_regionkey, "
                  f"{REGIONS}[i + 1] AS r_name FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INTEGER) AS n_nationkey, "
                  "'NATION_' || i AS n_name, "
                  "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)",
        "customer": (
            "SELECT i AS c_custkey, "
            "'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name, "
            f"CAST(floor({u(1)} * 25) AS INTEGER) AS c_nationkey, "
            f"round({u(2)} * 10999 - 999, 2) AS c_acctbal, "
            f"{_pick(SEGMENTS, seed, 3, 'i')} AS c_mktsegment "
            f"FROM range({n['customer']}) t(i)"),
        "supplier": (
            "SELECT i AS s_suppkey, "
            "'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name, "
            f"CAST(floor({u(4)} * 25) AS INTEGER) AS s_nationkey, "
            f"round({u(5)} * 10999 - 999, 2) AS s_acctbal "
            f"FROM range({n['supplier']}) t(i)"),
        "part": (
            "SELECT i AS p_partkey, "
            f"{_pick(['small', 'red', 'large', 'blue', 'steel'], seed, 6, 'i')}"
            f" || ' ' || {_pick(['ring', 'widget', 'bolt', 'gear'], seed, 7, 'i')}"
            " AS p_name, "
            f"'Brand#' || (1 + CAST(floor({u(8)} * 25) AS INTEGER)) AS p_brand, "
            f"{_pick(['ECONOMY', 'STANDARD', 'PROMO', 'LARGE', 'SMALL'], seed, 9, 'i')}"
            " AS p_type, "
            f"CAST(1 + floor({u(10)} * 50) AS INTEGER) AS p_size, "
            f"round(900 + (i % 1000) * 0.1 + floor({u(11)} * 100), 2) "
            "AS p_retailprice "
            f"FROM range({n['part']}) t(i)"),
        "orders": (
            "SELECT i AS o_orderkey, "
            f"CAST(floor({u(12)} * {n['customer']}) AS BIGINT) AS o_custkey, "
            f"{_pick(STATUSES, seed, 13, 'i')} AS o_orderstatus, "
            f"round(1000 + {u(14)} * 499000, 2) AS o_totalprice, "
            "TIMESTAMP '1992-01-01' + "
            f"to_days(CAST(floor({u(15)} * 2400) AS INTEGER)) AS o_orderdate, "
            f"{_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], seed, 16, 'i')}"
            " AS o_orderpriority "
            f"FROM range({n['orders']}) t(i)"),
        # 1-7 lines per order; the library keys lineitem rels on
        # orderkey * 8 + linenumber, so linenumber stays below 8
        "lineitem": (
            "SELECT o AS l_orderkey, "
            f"CAST(floor({u(17, li)} * {n['part']}) AS BIGINT) AS l_partkey, "
            f"CAST(floor({u(18, li)} * {n['supplier']}) AS BIGINT) AS l_suppkey, "
            "CAST(l AS INTEGER) AS l_linenumber, "
            f"CAST(1 + floor({u(19, li)} * 50) AS DOUBLE) AS l_quantity, "
            f"round(900 + {u(20, li)} * 99000, 2) AS l_extendedprice, "
            f"round(floor({u(21, li)} * 11) / 100, 2) AS l_discount, "
            f"round(floor({u(22, li)} * 9) / 100, 2) AS l_tax, "
            f"{_pick(['A', 'N', 'R'], seed, 23, li)} AS l_returnflag, "
            f"{_pick(['F', 'O'], seed, 24, li)} AS l_linestatus, "
            "TIMESTAMP '1992-01-02' + "
            f"to_days(CAST(floor({u(25, li)} * 2500) AS INTEGER)) AS l_shipdate "
            f"FROM range({n['orders']}) a(o), range(1, 8) b(l) "
            f"WHERE l <= 1 + (hash({seed}, 26, o) % 7)"),
    }


def write_tpch(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, sql in tpch_sql(sf, seed).items():
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()


def rmat_edges(spark, scale: int, n_edges: int, seed: int):
    """Distinct directed R-MAT edges (src, dst) without self-loops over
    ``2**scale`` node ids, as a Spark DataFrame."""
    from pyspark.sql import functions as F

    a, b, c = RMAT_ABC
    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for level in range(scale):
        r = (F.abs(F.xxhash64(F.lit(seed), F.col("id"), F.lit(level)))
             % 1_000_000) / 1_000_000.0
        src_bit = (r >= a + b).cast("long")
        dst_bit = (((r >= a) & (r < a + b)) | (r >= a + b + c)).cast("long")
        src = src + F.shiftleft(src_bit, level)
        dst = dst + F.shiftleft(dst_bit, level)
    return (spark.range(n_edges)
            .select(src.alias("src"), dst.alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def edge_digest(path: str) -> tuple:
    """(row count, order-independent hash) of a parquet edge list."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*), bit_xor(hash(src, dst)) "
            f"FROM '{path}/*.parquet'").fetchone()
    finally:
        con.close()
