"""Runs one workload and reduces it to the result line.

Untraced (``--trace 0``) runs report the end-to-end metrics. The traced run
(``--trace 1``) attaches the progress listener, records spans, runs the
standalone layer probes (schema parse, registry plans) and the single-core
baseline drain, and reports the per-layer metrics.
"""

from __future__ import annotations

import bisect
import json
import os
import subprocess
import sys
import time

import layers
import stats
import topo as T
import wl_stream
from procmem import PeakWorkerRss

RUNNERS = {"stream_rate": wl_stream.run_rate, "stream_backlog": wl_stream.run_backlog}


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json at the root of the checkout declares them."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def with_units(values: dict[str, float], kind: str) -> dict:
    units = declared(kind)
    if set(values) != set(units):
        raise ValueError(f"{kind} metrics differ from BENCHMARK.json: {set(values) ^ set(units)}")
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def end_to_end(ctx, res: wl_stream.Result, t_proc0: float, workers: PeakWorkerRss) -> dict:
    s = res.samples
    if not stats.supports(len(s), 90):
        res.problems.append(f"only {len(s)} freshness samples: p90 needs 100")
    return with_units(
        {
            "setup_s": ctx.setup_end - t_proc0,
            "throughput_eps": res.events / res.busy_s,
            "freshness_p50_s": res.fresh_p50,
            "freshness_p90_s": res.fresh_p90,
            "memory_mb": res.live_mb + workers.peak_mb,
        },
        "end_to_end",
    )


def run(ctx, seconds: int, t_proc0: float) -> dict:
    with PeakWorkerRss() as workers:
        res = RUNNERS[ctx.workload](ctx, seconds)
        if ctx.trace:
            metrics = per_layer(ctx, res)
    if not ctx.trace:
        metrics = end_to_end(ctx, res, t_proc0, workers)
    _log(
        f"{ctx.workload} seed={ctx.seed}: {len(res.samples)} freshness samples, "
        f"timed drains {[round(w, 2) for w in res.layer.get('walls', [])]}, "
        f"jvm live {res.live_mb:.1f} MB, workers peak {workers.peak_mb:.1f} MB, "
        f"phases {{{', '.join(f'{k}: {v:.2f}' for k, v in ctx.times.items())}}}"
    )
    for p in res.problems:
        _log(f"FAILED {p}")
    bad = stats.check_metric_names(metrics)
    if bad:
        raise ValueError(f"bad metric names {bad}")
    return {
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": len(res.problems),
        "metrics": metrics,
    }


# ---------------------------------------------------------------- traced run


def parse_probe(ctx, spark, in_dir: str, n_events: int) -> float:
    """``SchemaContract.parse_json`` alone over the workload's wire files,
    into a noop sink: events per second, median of three passes."""
    rates = []
    for _ in range(3):
        with ctx.tracer.span("schema.parse_json") as sp:
            t0 = time.perf_counter()
            df = T.EVENTS_CONTRACT.parse_json(spark.read.text(in_dir))
            df.write.format("noop").mode("overwrite").save()
            sp["wall"] = time.perf_counter() - t0
        rates.append(n_events / sp["wall"])
    return stats.median(rates)


PLAN_PROBE = (
    "q1_typed_events",
    "q2_abnormal_minutes",
    "q3_value_discrepancy",
    "q4_avg_value_per_hour",
    "q5_event_counts_per_hour",
    "q6_counts_by_segment",
)


def plans_probe(ctx, spark, feed) -> tuple[dict, list[str]]:
    """The registry's parity queries over the generated events, batch:
    plan build time, noop-write wall time and task count per query, then
    each checked against its DuckDB oracle."""
    import gen
    from stream_processing_pipeline_spark.plans import REGISTRY

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tests"))
    from oracle_harness import check_query

    fixture = gen.write_fixture_dir(
        ctx.path("fixture"), feed.events.drop(columns="segment"), feed.customer
    )
    sc = spark.sparkContext
    out, problems = {}, []
    for name in PLAN_PROBE:
        q = REGISTRY[name]
        with ctx.tracer.span("plans.build", query=name) as sp:
            t0 = time.perf_counter()
            df = q.fn(spark, fixture)
            sp["ms"] = (time.perf_counter() - t0) * 1000
        sc.setJobGroup(f"probe-{name}", name)
        with ctx.tracer.span("query.noop_write", query=name) as sw:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            sw["wall"] = time.perf_counter() - t0
        tasks = 0
        for job in sc.statusTracker().getJobIdsForGroup(f"probe-{name}"):
            info = sc.statusTracker().getJobInfo(job)
            for stage in info.stageIds if info else ():
                st = sc.statusTracker().getStageInfo(stage)
                tasks += st.numTasks if st else 0
        out[f"plans.{name}.build_ms"] = sp["ms"]
        out[f"query.{name}.wall_s"] = sw["wall"]
        out[f"query.{name}.tasks"] = float(tasks)
        problems += [f"{name}: {p}" for p in check_query(spark, name, fixture)]
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out, problems


def single_core_drain(ctx) -> float:
    """Drain the backlog once in a fresh process at ``local[1]``; returns
    its events per second."""
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "baseline.py"),
           "--seed", str(ctx.seed)]
    done = subprocess.run(cmd, capture_output=True, text=True, timeout=150, check=False)
    if done.returncode != 0:
        raise RuntimeError(f"local[1] drain failed: {done.stderr[-2000:]}")
    return float(json.loads(done.stdout.strip().splitlines()[-1])["throughput_eps"])


def file_commits(ckpt: str, log: T.SinkLog, feeds: dict[str, str]) -> dict[str, list[float]]:
    """Per sink, the sorted times at which each input file's batch returned
    from it (from the feeding query's checkpoint: batch -> file log)."""
    returns = wl_stream.sink_returns(log)
    out = {}
    for sink, q in feeds.items():
        batches = T.batch_of_file(os.path.join(ckpt, q)).values()
        out[sink] = sorted(returns[sink][b] for b in batches if b in returns.get(sink, {}))
    return out


def lag_files(sent: list[float] | None, commits: dict[str, list[float]], n_files: int) -> float:
    """Most files written but not yet through the slowest sink, at any
    moment (a backlog starts with every file unread)."""
    if sent is None:
        return float(n_files)
    sent = sorted(sent)
    worst = 0
    for t in sorted(set(sent).union(*commits.values())):
        done = min(bisect.bisect_right(c, t) for c in commits.values())
        worst = max(worst, bisect.bisect_right(sent, t) - done)
    return float(worst)


def per_layer(ctx, res: wl_stream.Result) -> dict:
    spark = ctx.spark
    L = res.layer
    progress = ctx.listener.snapshot()
    m = {
        "fresh.p50_s": res.fresh_p50,
        "fresh.p90_s": res.fresh_p90,
        "fresh.samples": float(len(res.samples)),
        "session.start_s": ctx.times.get("session.start", 0.0),
        "session.warmup_s": ctx.times.get("session.warmup", 0.0),
        "gen.late_p90_s": stats.percentile(stats.lateness(L["due"], L["sent"]), 90)
        if "due" in L else 0.0,
        "gen.files": float(L["files"]),
        "gen.events": float(L["events"]),
    }
    m.update(layers.progress_metrics(progress))
    commits = file_commits(L["ckpt"], L["log"], L["feeds"])
    m["sources.lag_files_max"] = lag_files(L.get("sent"), commits, L["files"])
    m["ckpt.bytes"] = layers.dir_bytes(L["ckpt"])
    calls = L["log"].snapshot()
    for name, epoch, t0, t1 in calls:
        ctx.tracer.add("sinks.write", t0, t1, query=name, epoch=epoch)
    writes = [t1 - t0 for _n, _e, t0, t1 in calls]
    m["sinks.write_ms_p50"] = stats.percentile(writes, 50) * 1000
    m["sinks.write_ms_p90"] = stats.percentile(writes, 90) * 1000
    m["sinks.rows"] = float(sum(L["rows"].values()))
    m["sinks.bytes"] = layers.dir_bytes(L["out"])
    for s in T.SINKS:
        m[f"ops.{s}.rows_in"] = float(L["rows_in"][s])
        m[f"ops.{s}.rows_out"] = float(L["rows"][s])

    m["schema.parse_eps"] = parse_probe(ctx, spark, L["in_dir"], L["events"])
    plan_m, problems = plans_probe(ctx, spark, L["feed"])
    m.update(plan_m)
    res.problems += problems
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    m["jvm.heap_used_mb"] = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    m["tracing.overhead_ratio"] = L["overhead_ratio"]
    m["baseline.local1_eps"] = single_core_drain(ctx)
    ctx.tracer.dump(ctx.spans_path())
    return with_units(m, "per_layer")
