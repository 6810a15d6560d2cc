"""Seeded input generation for the benchmark.

Every table is a pure function of ``(seed, sizes)``: a numpy
``Generator`` seeded from the workload seed draws the values, and
pyarrow writes one row group per table with a fixed schema, so equal
seeds give byte-identical parquet files.  The schemas and value ranges
follow the synthetic tables the catalog is written against: the
``events`` table and the TPC-H style ``orders`` and ``lineitem``.

Generated inputs are cached per seed under the work directory; a
``.done`` marker makes a half-written directory count as missing.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_EPOCH = dt.datetime(1970, 1, 1)
_EVENTS_FROM = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
_EVENTS_SPAN_US = 30 * 86400 * 10**6
_ORDERS_FROM_DAY = (dt.datetime(1995, 1, 1) - _EPOCH).days
_ORDERS_SPAN_DAYS = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(
        table, path, compression="snappy", row_group_size=max(1, table.num_rows)
    )


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _day_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.int64()).cast(
        pa.timestamp("us")
    )


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over January 2024; ``event_id`` follows ``ts``."""
    users = max(150, n * 15 // 1000)
    ts = np.sort(rng.integers(0, _EVENTS_SPAN_US, n)) + _EVENTS_FROM
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props[rng.integers(0, 100, n)], pa.string()),
        }
    )


def order_tables(rng: np.random.Generator, customers: int) -> dict[str, pa.Table]:
    """``orders`` and ``lineitem`` for ``customers`` buyers (1,500 ~ sf0.01):
    ten orders per customer, one to seven lines per order."""
    c, p, o = customers, customers * 4 // 3, customers * 10
    odays = rng.integers(0, _ORDERS_SPAN_DAYS, o) + _ORDERS_FROM_DAY
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2)),
        "o_orderdate": _day_ts(odays),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    lines = rng.integers(1, 8, o)
    n = int(lines.sum())
    okey = np.repeat(np.arange(o, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, p, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, c // 15), n), pa.int64()),
        "l_linenumber": pa.array((np.arange(n) - starts + 1).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _day_ts(odays[okey] + rng.integers(1, 122, n)),
    })
    return {"orders": orders, "lineitem": lineitem}


def write_tables(out_dir: str, seed: int, *, events: int, customers: int) -> None:
    """Write the tables for one seed into ``out_dir`` (created): ``events``
    when ``events`` > 0, ``orders`` and ``lineitem`` when ``customers`` > 0."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, events, customers])
    tables = order_tables(rng, customers) if customers else {}
    if events:
        tables["events"] = events_table(rng, events)
    for name, table in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table)


def cached_tables(cache_root: str, seed: int, *, events: int, customers: int) -> str:
    """Directory holding the tables for ``seed``; generated on first use."""
    out = os.path.join(cache_root, f"ev{events}-c{customers}-s{seed}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(out, ignore_errors=True)
        write_tables(out, seed, events=events, customers=customers)
        with open(os.path.join(out, ".done"), "w") as f:
            json.dump({"seed": seed, "events": events, "customers": customers}, f)
    return out
