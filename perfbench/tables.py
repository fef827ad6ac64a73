"""Seeded registry tables for the registry probe of traced runs.

The registry queries read an ``sf_dir`` holding ten tables: TPC-H style
ones plus ``events``, ``documents`` and ``embeddings``. This writes a
seeded ``events`` table shaped like the sf0.1 one (event ids,
micro-second timestamps over 30 days, 1500 users, five event types, a
small JSON ``props``) and the other nine tables with their schemas but
no rows, so the catalog registers every view and only the
events-reading queries do work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

_I32, _I64, _F64, _STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
_TS = pa.timestamp("us")

SCHEMAS = {
    "region": [("r_regionkey", _I32), ("r_name", _STR)],
    "nation": [("n_nationkey", _I32), ("n_name", _STR), ("n_regionkey", _I32)],
    "customer": [
        ("c_custkey", _I64), ("c_name", _STR), ("c_nationkey", _I32),
        ("c_acctbal", _F64), ("c_mktsegment", _STR),
    ],
    "supplier": [
        ("s_suppkey", _I64), ("s_name", _STR), ("s_nationkey", _I32),
        ("s_acctbal", _F64),
    ],
    "part": [
        ("p_partkey", _I64), ("p_name", _STR), ("p_brand", _STR),
        ("p_type", _STR), ("p_size", _I32), ("p_retailprice", _F64),
    ],
    "orders": [
        ("o_orderkey", _I64), ("o_custkey", _I64), ("o_orderstatus", _STR),
        ("o_totalprice", _F64), ("o_orderdate", _TS),
        ("o_orderpriority", _STR),
    ],
    "lineitem": [
        ("l_orderkey", _I64), ("l_partkey", _I64), ("l_suppkey", _I64),
        ("l_linenumber", _I32), ("l_quantity", _F64),
        ("l_extendedprice", _F64), ("l_discount", _F64), ("l_tax", _F64),
        ("l_returnflag", _STR), ("l_linestatus", _STR), ("l_shipdate", _TS),
    ],
    "documents": [
        ("doc_id", _I64), ("text", _STR), ("lang", _STR), ("source", _STR),
        ("n_chars", _I64),
    ],
    "embeddings": [
        ("vec_id", _I64), ("embedding", pa.list_(pa.float32())),
        ("label", _I32),
    ],
}


def write_events_dir(path: str, seed: int, n: int) -> None:
    """Write the ten tables under ``path`` (``<table>.parquet`` each)."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n)) + start
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts, type=_TS),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype="int64")),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist()
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                ['{"k": %d}' % k for k in rng.integers(0, 100, n)]
            ),
        }
    )
    pq.write_table(events, os.path.join(path, "events.parquet"))
    for name, fields in SCHEMAS.items():
        empty = pa.schema(fields).empty_table()
        pq.write_table(empty, os.path.join(path, f"{name}.parquet"))
