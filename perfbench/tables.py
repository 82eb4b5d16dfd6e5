"""Seeded synthetic tables for the batch workloads.

The engine's batch queries read parquet tables by name from one
directory. This module writes the tables `read_api` touches (`events`,
`lineitem`) with the schemas of the engine's test tables (TESTDATA.md at
the repository root). TESTDATA.md gives only their row counts; the value
distributions below were read off the sf0.001, sf0.01 and sf0.1 test
tables themselves, and README.md compares the read queries' result row
counts on these tables with the engine's committed sf0.01 results.

At scale factor `sf`:
- events: 1,000,000·sf rows, timestamps uniform over 30 days from
  2024-01-01 (sorted, ids in time order), 15,000·sf users, 5 equally
  likely event types, values exponential with mean 50 rounded to cents,
  `props` a JSON object with one key `k` uniform in 0..99;
- lineitem: 6,000,000·sf rows over 1,500,000·sf orders, 200,000·sf parts
  and 10,000·sf suppliers, each key uniform and independent; quantity
  uniform in 1..50, price uniform in [900, 105000], discount and tax
  uniform in [0, 0.10] and [0, 0.08] rounded to cents, return flag and
  line status uniform and independent of each other and of the ship
  date, which is uniform in 1995-01-02..2001-11-04.
"""
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    offs = np.sort(rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng: np.random.Generator, n: int, orders: int, parts: int,
             suppliers: int) -> pa.Table:
    first = np.datetime64("1995-01-02", "D")
    days = (np.datetime64("2001-11-04", "D") - first).astype(int)
    ship = first + rng.integers(0, days + 1, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def stage(out: Path, sf: float, seed: int) -> Path:
    """Writes the tables once; a completed directory is reused."""
    done = out / "_COMPLETE"
    if done.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    pq.write_table(events(rng, int(1_000_000 * sf), int(15_000 * sf)), out / "events.parquet")
    pq.write_table(lineitem(rng, int(6_000_000 * sf), int(1_500_000 * sf),
                            int(200_000 * sf), int(10_000 * sf)),
                   out / "lineitem.parquet")
    done.write_text(dt.datetime.now(dt.timezone.utc).isoformat())
    return out
