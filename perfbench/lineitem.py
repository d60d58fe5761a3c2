"""Seeded synthetic TPC-H ``lineitem`` rows.

Same columns and value ranges as TPC-H lineitem at scale factor 0.1
(150k orders of 1-7 lines, ~600k rows). Each (l_orderkey,
l_linenumber) pair is unique, so MERGE keys are well defined. The same
seed gives the same rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

ORDERS_SF01 = 150_000
PRICE_LO, PRICE_HI = 900.0, 105_000.0
KEY_HI = 4 * ORDERS_SF01     # TPC-H order keys are sparse: 1..4*orders

SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def lineitem(seed: int, orders: int = ORDERS_SF01) -> pa.Table:
    """All lines of ``orders`` orders, in a seeded random row order."""
    rng = np.random.default_rng([seed, 0x11E])
    okeys = np.sort(rng.choice(np.arange(1, KEY_HI + 1), orders,
                               replace=False))
    lines = rng.integers(1, 8, orders)
    n = int(lines.sum())
    orderkey = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    perm = rng.permutation(n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(PRICE_LO, PRICE_HI, n), 2)
    days = rng.integers(0, 2526, n).astype("timedelta64[D]")
    ship = (np.datetime64("1992-01-02") + days).astype("datetime64[us]")
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    cols = [orderkey, rng.integers(1, 20_001, n), rng.integers(1, 1_001, n),
            linenumber, qty, price, rng.integers(0, 11, n) / 100.0,
            rng.integers(0, 9, n) / 100.0, flags, status, ship]
    return pa.table([pa.array(c[perm], type=f.type)
                     for c, f in zip(cols, SCHEMA)], schema=SCHEMA)
