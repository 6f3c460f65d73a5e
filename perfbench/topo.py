"""The six-query reference topology as the benchmark drives it.

Everything here goes through the engine's public entry points with their
defaults: ``sources.files.read_stream`` (text) -> ``SchemaContract.parse_json``
-> ``EventsTopologyBuilder(...).build(Topology(...))`` -> ``ParquetSink``.
The benchmark supplies only deployment settings: paths, checkpoint root and
a sink factory whose sink times each ``ParquetSink`` call and writes every
epoch to its own directory, so results can be paired with their inputs
afterwards without touching the batch.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from stream_processing_pipeline_spark.schema import ColumnRule, SchemaContract
from stream_processing_pipeline_spark.sources.files import read_stream
from stream_processing_pipeline_spark.streaming import Topology
from stream_processing_pipeline_spark.streaming.sinks import ForeachBatchSink, ParquetSink
from stream_processing_pipeline_spark.streaming.topology import EventsTopologyBuilder

EVENTS_CONTRACT = SchemaContract(
    rules=[
        ColumnRule("event_id", "bigint"),
        ColumnRule("ts", "timestamp"),
        ColumnRule("user_id", "bigint"),
        ColumnRule("event_type"),
        ColumnRule("value", "double"),
        ColumnRule("props"),
    ]
)

# Sink names: stable whichever way the builder groups sinks into queries
# (one query per sink by default; one fan-out query for the stateless three).
STATELESS = ("typed_events", "abnormal_minutes", "value_discrepancy")
WINDOWED = ("avg_value_per_hour", "event_counts_per_hour", "counts_by_segment")
SINKS = STATELESS + WINDOWED


class SinkLog:
    """Thread-safe record of every sink call: (query, epoch, start, end)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.calls: list[tuple[str, int, float, float]] = []

    def add(self, name: str, epoch: int, t0: float, t1: float) -> None:
        with self._lock:
            self.calls.append((name, epoch, t0, t1))

    def snapshot(self) -> list[tuple[str, int, float, float]]:
        with self._lock:
            return list(self.calls)


class TimedParquetSink(ForeachBatchSink):
    """``ParquetSink`` per epoch directory, with the call timed."""

    def __init__(self, name: str, root: str, log: SinkLog) -> None:
        self.name, self.root, self.log = name, root, log

    def __call__(self, batch_df, epoch_id: int) -> None:
        t0 = time.perf_counter()
        ParquetSink(os.path.join(self.root, self.name, f"epoch={epoch_id}"))(
            batch_df, epoch_id
        )
        self.log.add(self.name, epoch_id, t0, time.perf_counter())


def build_topology(spark, in_dir: str, customer_path: str, ckpt: str, out: str, log: SinkLog):
    stream = EVENTS_CONTRACT.parse_json(read_stream(spark, in_dir, fmt="text"))
    topo = Topology(spark, checkpoint_root=ckpt)
    EventsTopologyBuilder(
        events_stream=stream,
        customer_dim=spark.read.parquet(customer_path),
        sink_factory=lambda name: TimedParquetSink(name, out, log),
    ).build(topo)
    return topo


def sink_feeds(topology) -> dict[str, str]:
    """Sink name -> name of the query whose micro-batches it writes (and
    whose checkpoint is ``<root>/<query>``), found by walking each query's
    foreachBatch sink: a fan-out sink holds several timed sinks."""
    feeds: dict[str, str] = {}

    def walk(obj, query: str, depth: int) -> None:
        if isinstance(obj, TimedParquetSink):
            feeds[obj.name] = query
            return
        if depth == 0:
            return
        if isinstance(obj, (list, tuple)):
            children = list(obj)
        else:
            children = list(getattr(obj, "__dict__", {}).values())
            children += [c.cell_contents for c in getattr(obj, "__closure__", None) or ()]
        for c in children:
            walk(c, query, depth - 1)

    for spec in topology.specs:
        walk(spec.sink, spec.name, 4)
    missing = set(SINKS) - set(feeds)
    if missing:
        raise RuntimeError(f"no query feeds sinks {sorted(missing)}")
    return feeds


def _read_json_lines(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(x) for x in f.read().splitlines()[1:] if x.startswith("{")]


def _log_entries(src: str, upto: int) -> list[tuple[int, str]]:
    """(source log id, file path) for every file-source log entry up to
    ``upto``; the log is compacted every few ids into ``<id>.compact``."""
    compacts = [
        int(p.split(".")[0])
        for p in os.listdir(src)
        if p.endswith(".compact") and int(p.split(".")[0]) <= upto
    ]
    out, start = [], 0
    if compacts:
        c = max(compacts)
        out = [(e["batchId"], e["path"]) for e in _read_json_lines(os.path.join(src, f"{c}.compact"))]
        start = c + 1
    for i in range(start, upto + 1):
        out += [(i, e["path"]) for e in _read_json_lines(os.path.join(src, str(i)))]
    return out


def _log_offset(ckpt_q: str, batch: int) -> int:
    off = _read_json_lines(os.path.join(ckpt_q, "offsets", str(batch)))
    return off[-1]["logOffset"] if off else -1


def committed_watermark_ms(ckpt_q: str) -> int:
    """Event-time watermark (epoch ms) the last committed batch ran with."""
    commits = [int(p) for p in os.listdir(os.path.join(ckpt_q, "commits")) if p.isdigit()]
    meta = _read_json_lines(os.path.join(ckpt_q, "offsets", str(max(commits))))[0]
    return int(meta["batchWatermarkMs"])


def batch_of_file(ckpt_q: str) -> dict[str, int]:
    """File name -> id of the committed micro-batch that read it."""
    commits = sorted(int(p) for p in os.listdir(os.path.join(ckpt_q, "commits")) if p.isdigit())
    if not commits:
        return {}
    ends = [(_log_offset(ckpt_q, b), b) for b in commits]
    entries = _log_entries(os.path.join(ckpt_q, "sources", "0"), max(e for e, _ in ends))
    out = {}
    for log_id, path in entries:
        # The first committed batch whose source offset reaches the entry.
        batch = next((b for e, b in ends if e >= log_id), None)
        if batch is not None:
            out[os.path.basename(path)] = batch
    return out


def wait_drained(ckpt: str, queries, n_files: int, timeout: float) -> bool:
    """Poll every query's checkpoint until all ``n_files`` are committed."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        try:
            if all(len(batch_of_file(os.path.join(ckpt, q))) >= n_files for q in queries):
                return True
        except (FileNotFoundError, ValueError, json.JSONDecodeError):
            pass  # a log file caught mid-write; poll again
        time.sleep(0.1)
    return False


def wait_idle(queries, timeout: float) -> None:
    """Wait until no query is inside a trigger, so stopping interrupts no
    batch (a stop mid-commit logs state-store errors)."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        if not any(q.status["isTriggerActive"] for q in queries):
            return
        time.sleep(0.05)


def read_epochs(out: str, name: str) -> dict[int, pd.DataFrame]:
    """Sink output of one query, per epoch (empty epochs included)."""
    res = {}
    for d in glob.glob(os.path.join(out, name, "epoch=*")):
        epoch = int(d.rsplit("=", 1)[1])
        files = [f for f in glob.glob(os.path.join(d, "*.parquet"))]
        res[epoch] = (
            pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
            if files
            else pd.DataFrame()
        )
    return res


def window_keys(df: pd.DataFrame, with_segment: bool) -> list[tuple]:
    if df.empty:
        return []
    start = pd.to_datetime(df["date"].astype(str) + " " + df["start_time"])
    if with_segment:
        return list(zip(start, df["segment"].where(df["segment"].notna(), None)))
    return list(start)


def newest_file_per_window(events: pd.DataFrame, file_of: np.ndarray) -> tuple[dict, dict]:
    """For each hourly window (and window x segment), the index of the file
    holding its newest event."""
    hour = events["ts"].dt.floor("h")
    f = pd.Series(file_of[events["event_id"].to_numpy() - events["event_id"].min()])
    per_hour = f.groupby(hour.to_numpy()).max().to_dict()
    seg = events["segment"].to_numpy()
    per_seg = f.groupby([hour.to_numpy(), seg]).max().to_dict()
    return per_hour, per_seg
