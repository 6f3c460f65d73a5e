"""Seeded input generation, done with numpy/pandas/pyarrow outside Spark.

The events table has the shape of the engine's ``events`` fixture (sf0.1:
100k events over 30 days, 1500 users, five event types, ``props`` a JSON
object with an integer ``k``); ``customer`` is the 15k-row dimension the
segment query joins. Replicas repeat the month with event time shifted by
30 days per replica and fresh event ids, so a longer feed stays in ``ts``
order and every hourly window keeps the same density.

Wire files are JSON lines with every field a string, the way a Kafka
producer would send them; the stream reads them through the text file
source and ``SchemaContract.parse_json``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_PER_MONTH = 100_000  # sf0.1
USERS = 1_500
CUSTOMERS = 15_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
MONTH_US = 30 * 24 * 3600 * 1_000_000
EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def make_events(seed: int, replicas: int = 1) -> pd.DataFrame:
    """``replicas`` time-shifted copies of one seeded month, in ``ts`` order."""
    rng = np.random.default_rng(seed)
    n = EVENTS_PER_MONTH
    offs = np.sort(rng.integers(10_000_000, MONTH_US - 10_000_000, n))
    user = rng.integers(0, USERS, n)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    cents = np.round(rng.exponential(50.0, n) * 100).astype(np.int64)
    k = rng.integers(0, 100, n)
    parts = []
    for r in range(replicas):
        parts.append(
            pd.DataFrame(
                {
                    "event_id": np.arange(n, dtype=np.int64) + r * n,
                    "ts": EPOCH + (offs + r * MONTH_US).astype("timedelta64[us]"),
                    "user_id": user,
                    "event_type": etype,
                    "value": cents / 100.0,
                    "k": k,
                }
            )
        )
    ev = pd.concat(parts, ignore_index=True)
    ev["props"] = '{"k": ' + ev["k"].astype(str) + "}"
    return ev.drop(columns="k")


def make_customer(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed + 1)
    keys = np.arange(CUSTOMERS, dtype=np.int64)
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": pd.Series(keys).map("Customer#{:09d}".format),
            "c_nationkey": rng.integers(0, 25, CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), CUSTOMERS)],
        }
    )


def write_fixture_dir(root: str, events: pd.DataFrame, customer: pd.DataFrame) -> str:
    """``events.parquet`` + ``customer.parquet`` laid out like the engine's
    fixture directories (``ts`` as nanosecond timestamps, as the fixtures
    store it), so catalog-based registry queries and their DuckDB oracles
    read the generated data."""
    os.makedirs(root, exist_ok=True)
    et = pa.Table.from_pandas(events, preserve_index=False)
    et = et.set_column(
        et.schema.get_field_index("ts"), "ts", et.column("ts").cast(pa.timestamp("ns"))
    )
    pq.write_table(et, os.path.join(root, "events.parquet"))
    pq.write_table(
        pa.Table.from_pandas(customer, preserve_index=False),
        os.path.join(root, "customer.parquet"),
    )
    return root


def wire_lines(ev: pd.DataFrame) -> bytes:
    """JSON-lines payload, every field a string (``props`` stays an escaped
    JSON string, as the producer forwards it)."""
    ts = ev["ts"].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    value = ev["value"].map("{:.2f}".format)
    props = ev["props"].str.replace('"', '\\"', regex=False)
    lines = (
        '{"event_id":"' + ev["event_id"].astype(str)
        + '","ts":"' + ts
        + '","user_id":"' + ev["user_id"].astype(str)
        + '","event_type":"' + ev["event_type"]
        + '","value":"' + value
        + '","props":"' + props + '"}\n'
    )
    return "".join(lines.tolist()).encode()


def split_files(ev: pd.DataFrame, sizes: list[int], seed: int) -> list[pd.DataFrame]:
    """Consecutive slices of the ``ts``-ordered feed, of the given sizes,
    each shuffled internally by the workload seed (order across files is
    kept, so no event is ever behind the watermark)."""
    rng = np.random.default_rng(seed + 2)
    out, start = [], 0
    for n in sizes:
        chunk = ev.iloc[start : start + n]
        out.append(chunk.iloc[rng.permutation(len(chunk))])
        start += n
    return out
