"""The two streaming workloads.

``stream_rate``: an open-loop generator (one thread, fixed schedule) moves
one JSON-lines file every four seconds into a watched directory while the
six-query topology runs on the default trigger. Freshness comes from the
results whose newest input was created inside the timed window.

``stream_backlog``: a pre-written backlog of the same wire files is drained
by the same topology with ``availableNow``, several times on fresh
checkpoints; each drain is timed from ``start_all`` until every query ends.

Both return a ``Result``: the pooled freshness samples, the events and
seconds behind ``throughput_eps``, and every correctness problem found.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import procmem
import stats
import topo as T
from stream_processing_pipeline_spark.plans import transforms
from stream_processing_pipeline_spark.streaming.sinks import ParquetSink

RATE_EPS = 500  # offered events per second
# One wire file per period. On four cores a trigger over one file takes
# about 1.3 s (p90 1.8 s) with six queries running, and each windowed query
# runs a second, no-data trigger to emit the windows the first one closed:
# a 4 s period keeps every query below capacity, so each file is its own
# micro-batch and freshness follows per-trigger cost, not a queue.
RATE_PERIOD_S = 4.0
RATE_WARM_S = 12  # open-loop seconds before the timed window
RATE_TAIL_S = 4  # seconds fed after the window so its windows close
PREWARM_JOBS = 6  # batch runs of the six transforms + ParquetSink before streaming
BACKLOG_EVENTS = 50_000  # events per drain, half an sf0.1 month
BACKLOG_FILES = 10  # wire files in the backlog
BACKLOG_WARM_DRAINS = 2
BACKLOG_MIN_DRAINS = 3


@dataclass
class Result:
    samples: list[float]  # freshness, seconds
    fresh_p50: float
    fresh_p90: float
    events: int  # events behind throughput_eps
    busy_s: float  # seconds behind throughput_eps
    live_mb: float  # driver JVM memory in use after a full collection
    attempted: int
    problems: list[str]
    layer: dict = field(default_factory=dict)  # per-layer inputs for the traced run


class Feed:
    """Generated events, their wire files and the event -> file map."""

    def __init__(self, seed: int, sizes: list[int]) -> None:
        months = max(1, math.ceil(sum(sizes) / gen.EVENTS_PER_MONTH))
        ev = gen.make_events(seed, replicas=months).iloc[: sum(sizes)].reset_index(drop=True)
        self.customer = gen.make_customer(seed)
        seg = self.customer.set_index("c_custkey")["c_mktsegment"]
        ev["segment"] = seg.reindex(ev["user_id"]).to_numpy()
        self.events = ev
        self.sizes = sizes
        files = gen.split_files(ev.drop(columns="segment"), sizes, seed)
        self.payloads = [gen.wire_lines(f) for f in files]
        self.file_of = np.repeat(np.arange(len(sizes)), sizes)
        self.newest_hour, self.newest_seg = T.newest_file_per_window(ev, self.file_of)

    @staticmethod
    def name(i: int) -> str:
        return f"part-{i:05d}.json"

    def write_customer(self, path: str) -> str:
        self.customer.to_parquet(path, index=False)
        return path

    def put(self, in_dir: str, i: int) -> None:
        """Write file ``i`` under a dot name the source ignores, then rename
        it into the watched directory atomically."""
        tmp = os.path.join(in_dir, "." + self.name(i))
        with open(tmp, "wb") as f:
            f.write(self.payloads[i])
        os.rename(tmp, os.path.join(in_dir, self.name(i)))


def reference_frames(ev, customer) -> dict:
    return {
        "typed_events": transforms.typed_events(ev),
        "abnormal_minutes": transforms.abnormal_minutes(ev),
        "value_discrepancy": transforms.value_discrepancy(ev),
        "avg_value_per_hour": transforms.avg_value_per_hour(ev),
        "event_counts_per_hour": transforms.event_counts_per_hour(ev),
        "counts_by_segment": transforms.counts_by_segment(ev, customer),
    }


def prewarm(ctx, spark, feed: Feed, customer_path: str) -> None:
    """Warm the JVM before the stream starts (its JIT takes minutes to
    settle otherwise): batch runs of the six transforms over three wire
    files of this feed, each written through ParquetSink."""
    (w_in,) = ctx.dirs("warm_in")
    for i in range(3):
        feed.put(w_in, i)
    ev = T.EVENTS_CONTRACT.parse_json(spark.read.text(w_in))
    jobs = reference_frames(ev, spark.read.parquet(customer_path))
    for n in range(PREWARM_JOBS):
        ParquetSink(ctx.path("warm_out", str(n)))(jobs[T.SINKS[n % len(jobs)]], n)


def sink_returns(log: T.SinkLog) -> dict[str, dict[int, float]]:
    out: dict[str, dict[int, float]] = {}
    for name, epoch, _t0, t1 in log.snapshot():
        out.setdefault(name, {})[epoch] = t1
    return out


def freshness_samples(feed: Feed, out: str, log: T.SinkLog, created, window=None):
    """Pool freshness samples from all six queries (see ``stats``); also
    return each query's output row count."""
    returns = sink_returns(log)
    samples: list[float] = []
    rows = {}
    for name in T.SINKS:
        epochs = T.read_epochs(out, name)
        rows[name] = sum(len(df) for df in epochs.values())
        # A sink call cut short by the final stop has no return time.
        epochs = {e: df for e, df in epochs.items() if e in returns.get(name, {})}
        if name in T.STATELESS:
            epoch_files = {
                e: np.unique(feed.file_of[df["event_id"].to_numpy()]).tolist()
                for e, df in epochs.items()
                if len(df)
            }
            samples += stats.file_result_samples(epoch_files, returns[name], created, window)
        else:
            seg = name == "counts_by_segment"
            keyed = {e: T.window_keys(df, seg) for e, df in epochs.items() if len(df)}
            newest = feed.newest_seg if seg else feed.newest_hour
            samples += stats.window_result_samples(keyed, newest, returns[name], created, window)
    return samples, rows


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Comparable frame: naive-UTC nanosecond timestamps, plain index."""
    df = df.reset_index(drop=True).copy()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    return df


def multiset_diff(got: pd.DataFrame, ref: pd.DataFrame) -> tuple[int, int]:
    """(rows only in ``got``, rows only in ``ref``), duplicates counted."""
    cols = list(ref.columns)
    if got.empty or ref.empty:
        return len(got), len(ref)
    a, b = _canonical(got[cols]), _canonical(ref)
    a["__n"] = a.groupby(cols, dropna=False).cumcount()
    b["__n"] = b.groupby(cols, dropna=False).cumcount()
    m = a.merge(b, how="outer", on=cols + ["__n"], indicator=True)
    return int((m["_merge"] == "left_only").sum()), int((m["_merge"] == "right_only").sum())


def check_outputs(
    spark, in_dir: str, customer_path: str, out: str, ckpt: str, feeds: dict[str, str]
) -> list[str]:
    """Sink rows vs the batch transforms over the same input: stateless
    queries as a multiset, windowed queries on the windows they emitted
    (each exactly once), and every window the last committed batch's
    watermark had closed must have been emitted."""
    ev = T.EVENTS_CONTRACT.parse_json(spark.read.text(in_dir))
    refs = reference_frames(ev, spark.read.parquet(customer_path))
    problems = []
    for name, ref_df in refs.items():
        ref = ref_df.toPandas()
        parts = [df for df in T.read_epochs(out, name).values() if len(df)]
        got = pd.concat(parts, ignore_index=True) if parts else ref.iloc[:0]
        if name in T.WINDOWED:
            keys = [c for c in ("date", "start_time", "segment") if c in ref.columns]
            if got.empty:
                problems.append(f"{name}: no window emitted")
            dup = int(got.duplicated(keys).sum())
            if dup:
                problems.append(f"{name}: {dup} windows emitted twice")
            emitted = got[keys].drop_duplicates()
            wm = T.committed_watermark_ms(os.path.join(ckpt, feeds[name]))
            end_ms = (
                pd.to_datetime(ref["date"].astype(str) + " " + ref["start_time"])
                + pd.Timedelta(hours=1)
            ).astype("datetime64[ms]").astype("int64")
            closed = ref.loc[end_ms.to_numpy() <= wm, keys]
            unemitted = len(closed.merge(emitted, on=keys, how="left", indicator=True)
                            .query("_merge == 'left_only'"))
            if unemitted:
                problems.append(f"{name}: {unemitted} closed windows never emitted")
            ref = ref.merge(emitted, on=keys, how="inner")
        extra, missing = multiset_diff(got, ref)
        if extra or missing:
            problems.append(f"{name}: {extra} unexpected rows, {missing} missing rows")
    return problems


def failed_queries(queries: dict) -> list[str]:
    return [f"{name}: query failed" for name, q in queries.items() if q.exception()]


def rows_in(queries: dict, feeds: dict[str, str]) -> dict[str, int]:
    """Per sink, the input rows of the query feeding it (``numInputRows``
    summed over the query's recent progress)."""
    per_query = {
        name: sum(p.numInputRows for p in q.recentProgress) for name, q in queries.items()
    }
    return {sink: per_query[q] for sink, q in feeds.items()}


def run_rate(ctx, seconds: int) -> Result:
    per_file = int(RATE_EPS * RATE_PERIOD_S)
    n_files = int((RATE_WARM_S + seconds + RATE_TAIL_S) / RATE_PERIOD_S)
    n_warm = int(RATE_WARM_S / RATE_PERIOD_S)
    with ctx.phase("gen.build"):
        feed = Feed(ctx.seed, [per_file] * n_files)
        in_dir, ckpt, out = ctx.dirs("in", "ckpt", "out")
        cust = feed.write_customer(ctx.path("customer.parquet"))
    spark = ctx.session()
    with ctx.phase("session.warmup"):
        prewarm(ctx, spark, feed, cust)
    log = T.SinkLog()
    topology = T.build_topology(spark, in_dir, cust, ckpt, out, log)
    ctx.listen()

    due = [0.0] * n_files
    sent = [0.0] * n_files
    listened: list[bool] = []

    def generate(t0: float) -> None:
        for i in range(n_files):
            due[i] = t0 + i * RATE_PERIOD_S
            delay = due[i] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            with ctx.tracer.span("gen.write", file=i):
                feed.put(in_dir, i)
            sent[i] = time.perf_counter()
            if ctx.trace and i >= n_warm:
                # Alternate the listener per file inside the window, so
                # traced and untraced freshness can be compared.
                listened.append(ctx.listen((i - n_warm) % 2 == 1))

    with ctx.tracer.span("runner.start_all"):
        queries = topology.start_all()
    feeds = T.sink_feeds(topology)
    t0 = time.perf_counter()
    win = (t0 + RATE_WARM_S - 0.5, t0 + RATE_WARM_S + seconds - 0.5)
    # Set-up ends when the stream starts; the open-loop lead-in before the
    # window is schedule time, the same for every program.
    ctx.setup_end = t0
    generator = threading.Thread(target=generate, args=(t0,), name="open-loop-generator")
    generator.start()
    generator.join()
    with ctx.tracer.span("runner.drain"):
        drained = T.wait_drained(ckpt, queries, n_files, timeout=60)
        T.wait_idle(queries.values(), timeout=10)
    live_mb = procmem.jvm_live_mb(spark)
    with ctx.tracer.span("runner.stop_all"):
        topology.stop_all()

    with ctx.tracer.span("check.freshness"):
        samples, rows = freshness_samples(feed, out, log, sent, win)
    problems = [] if drained else ["stream did not drain within 60 s"]
    problems += failed_queries(queries)
    with ctx.tracer.span("check.outputs"):
        problems += check_outputs(spark, in_dir, cust, out, ckpt, feeds)

    # Throughput: in-window files over the span between the moments the
    # slowest sink returned with the first and the last of them.
    in_win = [i for i in range(n_files) if win[0] <= sent[i] < win[1]]
    returns = sink_returns(log)
    batch_of = {q: T.batch_of_file(os.path.join(ckpt, q)) for q in queries}
    first, last = (
        max(returns[s][batch_of[q][Feed.name(i)]] for s, q in feeds.items())
        for i in (in_win[0], in_win[-1])
    )
    overhead = 0.0
    if ctx.trace:
        # listened[k] is the listener state after file n_warm + k was sent.
        slot = {True: [], False: []}
        for k in range(n_warm, n_files - 1):
            on = listened[k - n_warm]
            s, _ = freshness_samples(feed, out, log, sent, (sent[k], sent[k + 1]))
            slot[on] += s
        overhead = stats.median(slot[True]) / stats.median(slot[False])
    return Result(
        samples=samples,
        fresh_p50=stats.percentile(samples, 50),
        fresh_p90=stats.percentile(samples, 90),
        events=(len(in_win) - 1) * per_file,
        busy_s=last - first,
        live_mb=live_mb,
        attempted=len(log.snapshot()),
        problems=problems,
        layer={
            "due": due, "sent": sent, "rows": rows, "rows_in": rows_in(queries, feeds),
            "feeds": feeds, "ckpt": ckpt, "out": out,
            "log": log, "files": n_files, "events": sum(feed.sizes),
            "in_dir": in_dir, "cust": cust, "feed": feed, "overhead_ratio": overhead,
        },
    )


def drain(ctx, spark, feed: Feed, in_dir: str, cust: str, tag: str) -> dict:
    """One ``availableNow`` drain of the backlog on fresh checkpoints."""
    ckpt, out = ctx.dirs(f"ckpt-{tag}", f"out-{tag}")
    log = T.SinkLog()
    topology = T.build_topology(spark, in_dir, cust, ckpt, out, log)
    with ctx.tracer.span("runner.drain", tag=tag):
        t0 = time.perf_counter()
        with ctx.tracer.span("runner.start_all"):
            queries = topology.start_all(available_now=True)
        with ctx.tracer.span("runner.await_all"):
            topology.await_all()
        wall = time.perf_counter() - t0
    topology.stop_all()
    feeds = T.sink_feeds(topology)
    return {"wall": wall, "t0": t0, "log": log, "ckpt": ckpt, "out": out, "feeds": feeds,
            "rows_in": rows_in(queries, feeds), "failed": failed_queries(queries)}


def make_backlog(ctx) -> tuple[Feed, str, str]:
    n_events = BACKLOG_EVENTS
    with ctx.phase("gen.build"):
        feed = Feed(ctx.seed, [n_events // BACKLOG_FILES] * BACKLOG_FILES)
        (in_dir,) = ctx.dirs("in")
        for i in range(BACKLOG_FILES):
            with ctx.tracer.span("gen.write", file=i):
                feed.put(in_dir, i)
        cust = feed.write_customer(ctx.path("customer.parquet"))
    return feed, in_dir, cust


def run_backlog(ctx, seconds: int) -> Result:
    feed, in_dir, cust = make_backlog(ctx)
    spark = ctx.session()
    with ctx.phase("session.warmup"):
        for k in range(BACKLOG_WARM_DRAINS):
            drain(ctx, spark, feed, in_dir, cust, f"warm{k}")
    ctx.setup_end = time.perf_counter()
    drains = []
    min_drains = BACKLOG_MIN_DRAINS + (1 if ctx.trace else 0)
    while len(drains) < min_drains or time.perf_counter() - ctx.setup_end < seconds:
        # A traced run alternates the listener per drain to price tracing.
        on = ctx.listen(len(drains) % 2 == 0)
        drains.append(drain(ctx, spark, feed, in_dir, cust, f"timed{len(drains)}"))
        drains[-1]["listened"] = on
        drains[-1]["live_mb"] = procmem.jvm_live_mb(spark)

    samples: list[float] = []
    problems: list[str] = []
    rows_by_drain, p50s, p90s = [], [], []
    with ctx.tracer.span("check.freshness"):
        for d in drains:
            s, rows = freshness_samples(feed, d["out"], d["log"], [d["t0"]] * BACKLOG_FILES)
            samples += s
            p50s.append(stats.percentile(s, 50))
            p90s.append(stats.percentile(s, 90))
            rows_by_drain.append(rows)
            problems += d["failed"]
    # Every drain must emit the same rows; the last is checked row by row.
    problems += [
        f"drain {i}: row counts {r} differ from the last drain's"
        for i, r in enumerate(rows_by_drain)
        if r != rows_by_drain[-1]
    ]
    with ctx.tracer.span("check.outputs"):
        last = drains[-1]
        problems += check_outputs(spark, in_dir, cust, last["out"], last["ckpt"], last["feeds"])
    walls = [d["wall"] for d in drains]
    overhead = 0.0
    if ctx.trace:
        on = [d["wall"] for d in drains if d["listened"]]
        off = [d["wall"] for d in drains if not d["listened"]]
        overhead = stats.median(on) / stats.median(off)
    # Freshness: every result counts from the moment the backlog is there
    # (start_all); per-drain percentiles, median over the drains.
    return Result(
        samples=samples,
        fresh_p50=stats.median(p50s),
        fresh_p90=stats.median(p90s),
        events=sum(feed.sizes),
        busy_s=stats.median(walls),
        live_mb=stats.median([d["live_mb"] for d in drains]),
        attempted=sum(len(d["log"].snapshot()) for d in drains),
        problems=problems,
        layer={
            "drains": drains, "walls": walls, "rows": rows_by_drain[-1],
            "rows_in": last["rows_in"], "feeds": last["feeds"],
            "files": BACKLOG_FILES, "events": sum(feed.sizes), "in_dir": in_dir,
            "cust": cust, "ckpt": drains[-1]["ckpt"], "out": drains[-1]["out"],
            "log": drains[-1]["log"], "feed": feed, "overhead_ratio": overhead,
        },
    )
