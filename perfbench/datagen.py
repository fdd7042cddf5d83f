"""Synthetic TPC-H-shaped tables for the benchmark.

The benchmark must not depend on data outside its checkout, so it writes
its own parquet files. The tables keep the column names and types of the
TPC-H subset that ``__spark_entry__.py`` queries (lineitem, orders,
customer, part, supplier), and add ``l_shipmode`` and a ``partsupp`` pair
table for wide KeySets.

The data is a pure function of the scale factor: one fixed generator
seed, so every run and every commit measures the same bytes. Workload
seeds vary the queries, not the data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated data changes, so cached copies are rebuilt.
DATA_VERSION = 1
DATA_SEED = 20240601

RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
ORDERSTATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]
TYPES = [
    f"{a} {b} {c}"
    for a in ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
    for b in ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
    for c in ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
]
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
DAYS_SPAN = 2400


def _ts(days: np.ndarray) -> pa.Array:
    us = EPOCH_1992 + days.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(sf: float) -> dict:
    rng = np.random.default_rng([DATA_SEED, int(sf * 1000)])
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    out = {}

    pk = np.arange(1, n_part + 1, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"part {k}" for k in pk]),
        "p_brand": _pick(rng, BRANDS, n_part),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) + rng.random(n_part), 2),
    })
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    # TPC-H's partsupp rule: four suppliers per part, spread over the range.
    ps_part = np.repeat(pk, 4)
    ps_i = np.tile(np.arange(4, dtype=np.int64), n_part)
    ps_supp = (ps_part + ps_i * (n_supp // 4 + (ps_part - 1) // n_supp)) % n_supp + 1
    out["partsupp"] = pa.table({"ps_partkey": ps_part, "ps_suppkey": ps_supp})

    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })

    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    odays = rng.integers(0, DAYS_SPAN, n_ord)
    lines_per_order = rng.integers(1, 8, n_ord)
    # Trim or pad the line counts so lineitem has exactly n_li rows.
    total = int(lines_per_order.sum())
    while total != n_li:
        i = rng.integers(0, n_ord)
        if total > n_li and lines_per_order[i] > 1:
            lines_per_order[i] -= 1
            total -= 1
        elif total < n_li and lines_per_order[i] < 7:
            lines_per_order[i] += 1
            total += 1

    l_order = np.repeat(ok, lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    l_si = rng.integers(0, 4, n_li)
    l_supp = (l_part + l_si * (n_supp // 4 + (l_part - 1) // n_supp)) % n_supp + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * (900 + (l_part % 1000)) / 10.0, 2)
    ship_days = odays[l_order - 1] + rng.integers(1, 122, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": l_supp.astype(np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, RETURNFLAGS, n_li),
        "l_linestatus": _pick(rng, LINESTATUS, n_li),
        "l_shipdate": _ts(ship_days),
        "l_shipmode": _pick(rng, SHIPMODES, n_li),
    })
    order_total = np.bincount(l_order - 1, weights=price, minlength=n_ord)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        # A skewed customer draw, so some IDs own many orders and
        # per-ID truncation has work to do.
        "o_custkey": (np.minimum(rng.zipf(1.3, n_ord), n_cust) * 7919 % n_cust + 1).astype(np.int64),
        "o_orderstatus": _pick(rng, ORDERSTATUS, n_ord),
        "o_totalprice": np.round(order_total, 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    return out


def ensure(cache_root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``cache_root`` once; return the dir.

    A finished directory is renamed into place, so an interrupted write
    never leaves a half-written copy that a later run would trust.
    """
    name = f"v{DATA_VERSION}-sf{sf:g}"
    final = os.path.join(cache_root, name)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for table, data in _tables(sf).items():
        pq.write_table(data, os.path.join(tmp, f"{table}.parquet"))
    os.replace(tmp, final)
    return final
