"""Correctness gate: the benchmark's read-backs and query results against
DuckDB over the generated source files.

For `backfill` and `steady` each backed-up table's per-month row count, key
sum and exact value sum (DECIMAL(18,2)) must equal DuckDB's; for `query`
each named query must equal its SQL twin. Returns (checks, mismatches).
"""
import os
import re
from decimal import Decimal

import duckdb

DEC = re.compile(r"-?\d+\.\d+")

# table -> (date column or None for the snapshot dim, key column, value column)
TABLES = {
    "orders": ("o_orderdate", "o_orderkey", "o_totalprice"),
    "lineitem": ("l_shipdate", "l_orderkey", "l_extendedprice"),
    "customer": (None, "c_custkey", "c_acctbal"),
}


def norm(v):
    if isinstance(v, str) and DEC.fullmatch(v):
        return Decimal(v)
    if isinstance(v, Decimal):
        return v
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, int):
        return int(v)
    return v


def rows(rs):
    return [[norm(v) for v in r] for r in rs]


def month(col):
    return f"(year({col}) * 100 + month({col}))"


def sums_sql(src, table):
    date, key, val = TABLES[table]
    pid = month(date) if date else "0"
    return (f"SELECT {pid} AS pid, count(*), sum({key}), sum({val}::DECIMAL(18,2)) "
            f"FROM {src} GROUP BY 1 ORDER BY 1")


def parquet(paths):
    return "read_parquet([" + ", ".join(f"'{p}'" for p in paths) + "])"


def query_twins(inputs, p):
    o = parquet([os.path.join(inputs, "orders.parquet")])
    c = parquet([os.path.join(inputs, "customer.parquet")])
    m = month("o_orderdate")
    price = "o_totalprice::DECIMAL(18,2)"
    return {
        "q_month_counts": f"SELECT {m}, count(*), sum(o_orderkey), sum({price}) "
                          f"FROM {o} GROUP BY 1 ORDER BY 1",
        "q_point_month": f"SELECT o_orderkey, o_custkey, {price} FROM {o} "
                         f"WHERE {m} = {p['point']} AND o_orderpriority = '1-URGENT' "
                         f"ORDER BY o_orderkey",
        "q_trailing_range": f"SELECT o_orderpriority, count(*), sum({price}) FROM {o} "
                            f"WHERE {m} BETWEEN {p['trailing_lo']} AND {p['trailing_hi']} "
                            f"GROUP BY 1 ORDER BY 1",
        "q_join_dim": f"SELECT c_mktsegment, count(*), sum({price}), "
                      f"count(DISTINCT o_custkey) FROM {o} AS o JOIN {c} AS c ON o_custkey = c_custkey "
                      f"WHERE {m} >= {p['join_from']} GROUP BY 1 ORDER BY 1",
        "q_topk": f"SELECT o_orderkey, {price} AS price FROM {o} "
                  f"WHERE {m} BETWEEN {p['top_lo']} AND {p['top_hi']} "
                  f"ORDER BY price DESC, o_orderkey LIMIT 10",
    }


def check(workload, inputs, result):
    """Compare; return (number of checks, list of mismatch descriptions)."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    got = result.get("checks", {})
    want = {}
    if workload == "backfill":
        for t in TABLES:
            want[t] = sums_sql(parquet([os.path.join(inputs, f"{t}.parquet")]), t)
        actual = got.get("readback", {})
    elif workload == "steady":
        files = [os.path.join(inputs, "waves", f"orders-{m}.parquet")
                 for m in got.get("landed", [])]
        want["orders"] = sums_sql(parquet(files), "orders") if files else None
        actual = got.get("readback", {})
    else:
        want = query_twins(inputs, got.get("params", {}))
        actual = got.get("results", {})
    bad = []
    for name, sql in want.items():
        if sql is None or name not in actual:
            bad.append(f"{name}: no result to check")
            continue
        w = rows(con.execute(sql).fetchall())
        a = rows(actual[name])
        if w != a:
            diff = next((i for i, (x, y) in enumerate(zip(w, a)) if x != y), min(len(w), len(a)))
            bad.append(f"{name}: {len(a)} rows vs DuckDB {len(w)}; first difference at row "
                       f"{diff}: {a[diff] if diff < len(a) else None} vs "
                       f"{w[diff] if diff < len(w) else None}")
    con.close()
    return len(want), bad
