"""Seeded input generators. The same seed always gives the same inputs;
the engine only ever sees the files written here.

- ``write_star``: the lake tables the analyst mix reads (customer,
  orders, lineitem), in the committed fixtures' schemas, several parquet
  files per fact table so scans split natively.
- the vocabularies the stream's job postings draw from (titles that hit
  every category and experience rule, "Not Specified" levels, Zipf-skewed
  companies).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = dt.datetime(1992, 1, 1)


def _write(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _days(rng, n) -> np.ndarray:
    return np.array(
        [EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, 2900, n)],
        dtype="datetime64[us]",
    )


def write_star(sf_dir: str, seed: int, n_orders: int = 6000) -> dict:
    """Write the mix tables under ``sf_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, n_orders // 10)
    n_part = max(50, n_orders // 8)
    n_supp = max(10, n_orders // 150)
    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    okeys = rng.permutation(n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(_days(rng, n_orders), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    l_order = np.repeat(okeys, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    li = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li), pa.timestamp("us")),
    })
    li = li.take(pa.array(rng.permutation(n_li)))
    _write(cust, os.path.join(sf_dir, "customer.parquet"), 1)
    _write(orders, os.path.join(sf_dir, "orders.parquet"), 4)
    _write(li, os.path.join(sf_dir, "lineitem.parquet"), 4)
    return {"customer": n_cust, "orders": n_orders, "lineitem": n_li}


# --- job postings -------------------------------------------------------

COMPANIES = [f"{w} {s}" for w in ("Acme", "Globex", "Initech", "Umbrella",
             "Hooli", "Stark", "Wayne", "Wonka", "Tyrell", "Cyberdyne",
             "Soylent", "Aperture", "Vandelay", "Gringotts", "Monarch",
             "Oscorp", "Pied Piper", "Massive", "Nakatomi", "Virtucon")
             for s in ("Corp", "Labs", "Group", "Systems", "Partners")]
TITLES = [
    "Senior Data Engineer", "Data Scientist", "Junior Software Developer",
    "Machine Learning Engineer", "UX Designer", "Marketing Manager",
    "Sales Account Executive", "HR Recruiter", "Finance Accountant",
    "Product Manager", "Customer Support Specialist", "Lead Platform Engineer",
    "Intern Data Analyst", "Head of Content", "Staff Programmer",
    "Warehouse Associate", "Graduate Analyst", "Principal Designer",
]
LEVELS = ["Not Specified", "Not Specified", "Mid-Senior level", "Entry level",
          "Director", "Associate"]
COUNTRIES = ["US", "UK", "DE", "FR", None]


def zipf_company(rng) -> str:
    """A Zipf-skewed company: a few employers post most of the jobs."""
    return COMPANIES[min(int(rng.zipf(1.3)) - 1, len(COMPANIES) - 1)]
