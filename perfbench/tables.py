"""Seeded fixture tables for the ``query_mix`` workload.

The registry queries read ``events``, ``orders`` and ``lineitem`` from a
scale-factor directory. The benchmark must not depend on any data outside
its checkout, so it writes those three tables itself, with the schemas,
per-column distributions and (scaled) row and key counts of the
repository's fixtures (TESTDATA.md): events over the first 30 days of 2024
with event ids in time order and exponential values of mean 50; every key,
category, price and date uniform over the fixtures' ranges. At scale factor
0.01 that is 10,000 events from 150 users, 15,000 orders from 1,500
customers and 60,000 line items over 2,000 parts and 100 suppliers. The
same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE_FACTOR = 0.01
# row and key counts at scale factor 1
SIZES = {
    "events": 1_000_000,
    "users": 15_000,
    "orders": 1_500_000,
    "customers": 150_000,
    "lineitems": 6_000_000,
    "parts": 200_000,
    "suppliers": 10_000,
}

_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
_STATUSES = np.array(["O", "F", "P"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_US_PER_DAY = 86_400 * 1_000_000


def _round(x: np.ndarray, digits: int) -> np.ndarray:
    scale = 10.0**digits
    return np.round(x * scale) / scale


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    """Uniform midnight timestamps between two dates, inclusive."""
    d0 = np.datetime64(first, "D").astype(np.int64)
    d1 = np.datetime64(last, "D").astype(np.int64)
    us = rng.integers(d0, d1 + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def events(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    n_events = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(t0 + offsets, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["users"], n_events)),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(_round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )


def orders(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    n_orders = n["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customers"], n_orders)),
            "o_orderstatus": pa.array(_STATUSES[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(_round(rng.uniform(1000.0, 500_000.0, n_orders), 2)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
            "o_orderpriority": pa.array(
                _PRIORITIES[rng.integers(0, 5, n_orders)]
            ),
        }
    )


def lineitem(rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    n_items = n["lineitems"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n_items)),
            "l_partkey": pa.array(rng.integers(0, n["parts"], n_items)),
            "l_suppkey": pa.array(rng.integers(0, n["suppliers"], n_items)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_items).astype(np.float64)),
            "l_extendedprice": pa.array(_round(rng.uniform(900.0, 105_000.0, n_items), 2)),
            "l_discount": pa.array(_round(rng.uniform(0.0, 0.1, n_items), 2)),
            "l_tax": pa.array(_round(rng.uniform(0.0, 0.08, n_items), 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_items)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_items)]),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_items),
        }
    )


TABLES = {"events": events, "orders": orders, "lineitem": lineitem}


def write_tables(sf_dir: str, seed: int, scale_factor: float = SCALE_FACTOR) -> None:
    """Write every table as ``<sf_dir>/<name>.parquet``."""
    n = {k: round(v * scale_factor) for k, v in SIZES.items()}
    os.makedirs(sf_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng, n), os.path.join(sf_dir, f"{name}.parquet"))
