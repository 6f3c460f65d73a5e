"""The benchmark's own arithmetic. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pandas as pd
import pytest

import gen
import report
import stats
import wl_stream

BENCH_JSON = os.path.join(os.path.dirname(stats.__file__), "..", "BENCHMARK.json")


def test_percentile_matches_numpy_linear():
    rng = random.Random(7)
    xs = [rng.random() for _ in range(101)]
    for q in (0, 10, 50, 90, 99, 100):
        assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_ten_samples_beyond_rule():
    assert stats.tail_count(100, 90) == 10
    assert stats.supports(100, 90)
    assert not stats.supports(99, 90)
    assert stats.supports(20, 50) and not stats.supports(19, 50)


def test_file_results_pair_each_contributing_file_with_its_batch():
    created = [0.0, 1.0, 2.0, 3.0]
    # epoch 0 read files 0 and 1; epoch 1 read files 2 and 3.
    epoch_files = {0: [0, 1], 1: [2, 3]}
    returns = {0: 2.5, 1: 4.0}
    assert sorted(stats.file_result_samples(epoch_files, returns, created)) == [1.0, 1.5, 2.0, 2.5]
    # Only files created inside the window are sampled.
    assert sorted(stats.file_result_samples(epoch_files, returns, created, (1.0, 3.0))) == [1.5, 2.0]


def test_window_results_start_at_the_newest_contributing_file():
    created = [10.0, 11.0, 12.0]
    # Window A's newest event sits in file 1, window B's in file 2.
    newest = {"A": 1, "B": 2, ("A", "seg"): 0}
    samples = stats.window_result_samples(
        {5: ["A", ("A", "seg")], 6: ["B"]}, newest, {5: 13.0, 6: 13.5}, created
    )
    assert sorted(samples) == [1.5, 2.0, 3.0]
    # Window length never enters: only the newest file's creation does.
    assert stats.window_result_samples({5: ["A"]}, newest, {5: 13.0}, created, (11.5, 20)) == []


def test_generator_lateness_is_send_minus_due():
    assert stats.lateness([1.0, 2.0], [1.01, 2.5]) == pytest.approx([0.01, 0.5])
    with pytest.raises(ValueError):
        stats.lateness([1.0], [])


def test_metric_names_follow_the_rule():
    assert stats.check_metric_names(["setup_s", "ops.typed_events.rows_in", "a-b.c_1"]) == []
    assert stats.check_metric_names(["bad name", "p90%", ""]) == ["bad name", "p90%", ""]
    with open(BENCH_JSON) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert stats.check_metric_names(names) == []
    assert len(names) == len(set(names))


def test_multiset_diff_counts_duplicates_and_normalises_time():
    ts = pd.Series(pd.to_datetime(["2024-01-01 00:00:01"] * 2))
    ref = pd.DataFrame({"id": [1, 1], "ts": ts})
    got = pd.DataFrame({"id": [1], "ts": ts[:1].dt.tz_localize("UTC")})
    assert wl_stream.multiset_diff(got, ref) == (0, 1)
    assert wl_stream.multiset_diff(ref, ref) == (0, 0)
    assert wl_stream.multiset_diff(ref.assign(id=[1, 2]), ref) == (1, 1)


def test_generated_feed_is_seeded_and_ordered_across_files():
    a = gen.make_events(3, replicas=2)
    assert a.equals(gen.make_events(3, replicas=2))
    assert not a.equals(gen.make_events(4, replicas=2))
    assert a["ts"].is_monotonic_increasing and a["event_id"].is_unique
    files = gen.split_files(a, [50_000] * 4, 3)
    for prev, nxt in zip(files, files[1:]):
        assert prev["ts"].max() <= nxt["ts"].min()
    line = json.loads(gen.wire_lines(a.iloc[:1]).decode().splitlines()[0])
    assert all(isinstance(v, str) for v in line.values())
    assert json.loads(line["props"])["k"] == int(a["props"].iloc[0][6:-1])


def test_lag_counts_files_written_but_not_through_the_slowest_query():
    sent = [0.0, 1.0, 2.0, 3.0]
    fast = [0.5, 1.5, 2.5, 3.5]
    slow = [0.5, 3.2, 3.3, 3.6]  # falls behind after the first file
    # At t=3.0 four files are written and the slow query has passed one.
    assert report.lag_files(sent, {"a": fast, "b": slow}, 4) == 3.0
    assert report.lag_files(sent, {"a": fast}, 4) == 1.0
    assert report.lag_files(None, {}, 20) == 20.0


def test_every_sink_is_mapped_to_the_query_feeding_it():
    from types import SimpleNamespace

    import topo as T

    log = T.SinkLog()
    sink = {name: T.TimedParquetSink(name, "out", log) for name in T.SINKS}
    spec = lambda name, s: SimpleNamespace(name=name, sink=s)  # noqa: E731
    windowed = [spec(n, sink[n]) for n in T.WINDOWED]
    # One query per sink, and one fan-out query whose sink holds the
    # stateless three inside (name, transform, sink) routes.
    one_each = SimpleNamespace(specs=[spec(n, sink[n]) for n in T.STATELESS] + windowed)
    assert T.sink_feeds(one_each) == {n: n for n in T.SINKS}
    fan = SimpleNamespace(routes=[(n, str.upper, sink[n]) for n in T.STATELESS])
    fanned = SimpleNamespace(specs=[spec("fan", fan)] + windowed)
    assert T.sink_feeds(fanned) == {**{n: "fan" for n in T.STATELESS}, **{n: n for n in T.WINDOWED}}
    with pytest.raises(RuntimeError):
        T.sink_feeds(SimpleNamespace(specs=windowed))


def test_units_come_from_benchmark_json():
    assert set(report.declared("end_to_end")) >= {"setup_s"}
    out = report.with_units({k: 1 for k in report.declared("end_to_end")}, "end_to_end")
    assert out["setup_s"] == {"value": 1.0, "unit": "s"}
    with pytest.raises(ValueError):
        report.with_units({"setup_s": 1.0}, "end_to_end")


def test_vfork_children_are_not_counted_twice():
    import procmem

    assert procmem._same_memory((1000, 500), (1010, 505))
    assert not procmem._same_memory((1000, 500), (1000, 100))
    assert procmem.descendants_rss_bytes(os.getpid()) >= 0
