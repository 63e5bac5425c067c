"""Seeded input generator for the benchmark.

Writes `orders`, `lineitem` and `customer` as single parquet files with the
schemas `graft.Tables` loads (timestamps as TIMESTAMP(MICROS) without the
adjusted-to-UTC flag, as the testdata generator writes them), across a
configurable span of calendar months. Row counts per month are fixed, so
every seed gives a workload of the same size; only the values change.

It can also write the `orders` rows of each month as its own parquet file
(`waves/orders-YYYYMM.parquet`), which the `steady` workload lands into a
lake one month at a time. `perfbench/run.py` calls it for each workload.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

START = (2019, 1)
ORDERS_PER_MONTH = 1500
CUSTOMERS = 1500
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
FLAGS = np.array(["A", "N", "R"])
LINE_STATUS = np.array(["F", "O"])


def month_list(months, start=START):
    y, m = start
    out = []
    for _ in range(months):
        out.append((y, m))
        y, m = (y + 1, 1) if m == 12 else (y, m + 1)
    return out


def _days_in(y, m):
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    return (dt.date(ny, nm, 1) - dt.date(y, m, 1)).days


def _money(rng, lo, hi, n):
    # two decimals, so sums cast to DECIMAL(18,2) are exact on every engine
    return np.round(rng.uniform(lo, hi, n), 2)


def orders_for(rng, months, first_key):
    """Orders rows of `months`, ORDERS_PER_MONTH each, keys from first_key."""
    keys, dates = [], []
    k = first_key
    for (y, m) in months:
        days = rng.integers(0, _days_in(y, m), ORDERS_PER_MONTH)
        base = np.datetime64(f"{y:04d}-{m:02d}-01", "D")
        dates.append((base + days).astype("datetime64[us]"))
        keys.append(np.arange(k, k + ORDERS_PER_MONTH, dtype=np.int64))
        k += ORDERS_PER_MONTH
    n = len(months) * ORDERS_PER_MONTH
    return pa.table({
        "o_orderkey": pa.array(np.concatenate(keys), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, n), pa.int64()),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 900.0, 500000.0, n), pa.float64()),
        "o_orderdate": pa.array(np.concatenate(dates), pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
    })


def lineitem_for(rng, orders, last_month):
    """1-7 lines per order, shipped 1-45 days after the order date, but
    never past the last generated month (so both facts span the same months).
    """
    okeys = orders.column("o_orderkey").to_numpy()
    odates = orders.column("o_orderdate").to_numpy()
    per = rng.integers(1, 8, len(okeys))
    lk = np.repeat(okeys, per)
    ln = np.concatenate([np.arange(1, p + 1, dtype=np.int32) for p in per])
    ship = np.repeat(odates, per) + rng.integers(1, 46, len(lk)).astype("timedelta64[D]")
    y, m = last_month
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    cap = np.datetime64(f"{ny:04d}-{nm:02d}-01", "D").astype("datetime64[us]") - np.timedelta64(1, "D")
    ship = np.minimum(ship, cap)
    n = len(lk)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 100000.0, n), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(FLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(LINE_STATUS[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def customer_for(rng):
    keys = np.arange(CUSTOMERS, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.0, 9999.0, CUSTOMERS), pa.float64()),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, CUSTOMERS)]),
    })


def generate(out_dir, seed, months, tables=("orders", "lineitem", "customer"),
             waves=False):
    """Write the tables (and, with `waves`, one orders file per month) and
    return a summary of what was written: rows, bytes and months.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    span = month_list(months)
    summary = {"seed": seed, "months": months, "tables": {}}
    per_month = [orders_for(rng, [ym], i * ORDERS_PER_MONTH)
                 for i, ym in enumerate(span)]
    orders = pa.concat_tables(per_month)
    built = {"orders": orders, "customer": customer_for(rng)}
    if "lineitem" in tables:
        built["lineitem"] = lineitem_for(rng, orders, span[-1])
    for name in tables:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(built[name], path, compression="snappy")
        summary["tables"][name] = {"rows": built[name].num_rows,
                                   "bytes": os.path.getsize(path)}
    if waves:
        wdir = os.path.join(out_dir, "waves")
        os.makedirs(wdir, exist_ok=True)
        files = []
        for (y, m), t in zip(span, per_month):
            path = os.path.join(wdir, f"orders-{y:04d}{m:02d}.parquet")
            pq.write_table(t, path, compression="snappy")
            files.append(path)
        summary["waves"] = {"files": len(files),
                            "bytes": sum(os.path.getsize(f) for f in files)}
    return summary


def write_stages(out_dir, months, stages):
    """Split the generated `orders` into `stages` cumulative inputs:
    `stage-i/` holds the first (i+1)/stages of the months (and `customer`),
    so backfilling them in turn copies an equal share of history each time.
    """
    orders = pq.read_table(os.path.join(out_dir, "orders.parquet"))
    span = month_list(months)
    per = months // stages
    for i in range(stages):
        y, m = span[(i + 1) * per - 1]
        ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
        end = pa.scalar(dt.datetime(ny, nm, 1), pa.timestamp("us"))
        sub = orders.filter(pa.compute.less(orders.column("o_orderdate"), end))
        d = os.path.join(out_dir, f"stage-{i}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(sub, os.path.join(d, "orders.parquet"), compression="snappy")
        for t in ("customer",):
            src = os.path.join(out_dir, f"{t}.parquet")
            if os.path.exists(src):
                with open(src, "rb") as a, open(os.path.join(d, f"{t}.parquet"), "wb") as b:
                    b.write(a.read())
