"""Deterministic benchmark inputs, made from the workload seed.

The tables follow the layout and value distributions of the repository's
``events`` and ``customer`` test tables (TESTDATA.md): ``events`` plays the
tick stream (user_id = symbol, ts = trade time, value = price, props.k =
volume) and ``customer`` the company dimension the dashboard joins.  Prices
are drawn i.i.d. like the test tables, so about 1 in 10,000 ticks has a zero
price and is rejected by the validation filter.

Everything here is numpy/pyarrow: generating inputs starts no Spark job.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, the test tables' origin
SPAN_US = 30 * 86_400 * 1_000_000  # the test tables span 30 days
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])

# tick-stream columns the streaming pipeline reads (tests/test_streaming.py
# feeds the same projection of ``ticks_from_events``)
TICK_SCHEMA = pa.schema([
    ("company_id", pa.string()),
    ("tick_id", pa.int64()),
    ("trade_datetime", pa.timestamp("us", tz="UTC")),
    ("current_price", pa.float64()),
    ("volume", pa.int64()),
])


def events_frame(seed: int, n_ticks: int, n_symbols: int) -> pd.DataFrame:
    """The ``events`` table: ticks in time order, every symbol with the same
    number of ticks (±1) in a seeded interleaving, so seeds vary values and
    order but not the per-symbol work."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, SPAN_US, n_ticks)) + EPOCH_US
    symbols = rng.permutation(np.arange(n_ticks) % n_symbols)
    return pd.DataFrame({
        "event_id": np.arange(n_ticks, dtype=np.int64),
        "ts": pd.to_datetime(ts, unit="us"),
        "user_id": symbols.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_ticks)],
        "value": np.round(rng.exponential(50.0, n_ticks), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ticks)],
    })


def customer_frame(seed: int, n_symbols: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 1)
    keys = np.arange(n_symbols, dtype=np.int64)
    return pd.DataFrame({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n_symbols).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_symbols), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n_symbols)],
    })


def write_tables(sf_dir: str, seed: int, n_ticks: int, n_symbols: int) -> pd.DataFrame:
    """Write ``events.parquet`` and ``customer.parquet`` under ``sf_dir``
    (the layout ``sources.readers.load_table`` reads) and return events."""
    os.makedirs(sf_dir, exist_ok=True)
    events = events_frame(seed, n_ticks, n_symbols)
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False),
                   os.path.join(sf_dir, "events.parquet"))
    pq.write_table(pa.Table.from_pandas(customer_frame(seed, n_symbols), preserve_index=False),
                   os.path.join(sf_dir, "customer.parquet"))
    return events


def ticks_of(events: pd.DataFrame) -> pd.DataFrame:
    """events → the tick-stream projection (``sources.readers.ticks_from_events``
    with company_id as a string key, as the streaming tests feed it)."""
    return pd.DataFrame({
        "company_id": events["user_id"].astype(str),
        "tick_id": events["event_id"].to_numpy(),
        "trade_datetime": events["ts"].dt.tz_localize("UTC"),
        "current_price": events["value"].to_numpy(),
        "volume": events["props"].map(lambda s: json.loads(s)["k"]).astype(np.int64),
    })


def write_tick_file(path: str, ticks: pd.DataFrame) -> None:
    pq.write_table(pa.Table.from_pandas(ticks, schema=TICK_SCHEMA, preserve_index=False), path)


def split_ticks(ticks: pd.DataFrame, src_dir: str, n_files: int) -> list[str]:
    """Time-ordered split: file i holds the i-th slice of the tick stream
    and an older modification time than file i+1, so ``maxFilesPerTrigger=1``
    reads one slice per micro-batch in order."""
    os.makedirs(src_dir, exist_ok=True)
    paths = []
    for i, part in enumerate(np.array_split(np.arange(len(ticks)), n_files)):
        path = os.path.join(src_dir, f"f{i:03d}.parquet")
        write_tick_file(path, ticks.iloc[part])
        os.utime(path, (EPOCH_US // 1_000_000 + i, EPOCH_US // 1_000_000 + i))
        paths.append(path)
    return paths
