"""The benchmark's own arithmetic: percentiles, freshness pairing, generator
lateness and metric-name checks. Pure functions, tested in
``perfbench/tests/test_stats.py``."""

from __future__ import annotations

import math
import re
from collections.abc import Iterable, Mapping

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

# A percentile is reported only when at least this many samples lie beyond it.
MIN_TAIL = 10


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100), numpy's default."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return percentile(values, 50.0)


def tail_count(n: int, q: float) -> int:
    """Samples strictly beyond the ``q``-th percentile of ``n`` samples."""
    return int(math.floor(n * (100.0 - q) / 100.0 + 1e-9))


def supports(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_TAIL`` beyond ``q``."""
    return tail_count(n, q) >= MIN_TAIL


def lateness(due: list[float], sent: list[float]) -> list[float]:
    """Open-loop generator lateness per send: actual minus scheduled time."""
    if len(due) != len(sent):
        raise ValueError("due and sent differ in length")
    return [s - d for d, s in zip(due, sent)]


def file_result_samples(
    epoch_files: Mapping[int, Iterable[int]],
    sink_return: Mapping[int, float],
    created: Mapping[int, float] | list[float],
    window: tuple[float, float] | None = None,
) -> list[float]:
    """Freshness of stateless results. One result is the rows one input file
    contributed to one micro-batch; it is fresh when that batch's sink call
    returns. ``epoch_files[e]`` lists the files that contributed at least one
    row to epoch ``e``; only files created inside ``window`` are sampled."""
    out = []
    for epoch, files in epoch_files.items():
        done = sink_return[epoch]
        for f in files:
            c = created[f]
            if window is None or window[0] <= c < window[1]:
                out.append(done - c)
    return out


def window_result_samples(
    epoch_windows: Mapping[int, Iterable[object]],
    newest_file: Mapping[object, int],
    sink_return: Mapping[int, float],
    created: Mapping[int, float] | list[float],
    window: tuple[float, float] | None = None,
) -> list[float]:
    """Freshness of window results: one sample per emitted window row, from
    the creation of the file holding the newest event in that window (so
    window length is excluded) to the return of the sink call that wrote
    it."""
    out = []
    for epoch, keys in epoch_windows.items():
        done = sink_return[epoch]
        for key in keys:
            c = created[newest_file[key]]
            if window is None or window[0] <= c < window[1]:
                out.append(done - c)
    return out


def check_metric_names(names: Iterable[str]) -> list[str]:
    """Names that break the ``[A-Za-z0-9_.-]+`` rule (empty when all pass)."""
    return [n for n in names if not METRIC_NAME.fullmatch(n)]

