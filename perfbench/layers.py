"""Per-layer metrics from the traced run, measured at the public API.

``ProgressListener`` keeps every ``StreamingQueryProgress`` (as parsed JSON,
with the time it arrived); ``progress_metrics`` reduces them to the runner,
source and state-store figures.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import stats


class ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[tuple[float, dict]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append((time.perf_counter(), p))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> list[tuple[float, dict]]:
        with self._lock:
            return list(self.progress)


def _p(values: list[float], q: float) -> float:
    return stats.percentile(values, q) if values else 0.0


def progress_metrics(progress: list[tuple[float, dict]]) -> dict[str, float]:
    """Runner / source / state figures over all batches that read input or
    ran stateful operators (pure no-op triggers carry no duration)."""
    dur = lambda p, k: float(p.get("durationMs", {}).get(k, 0))  # noqa: E731
    batches = [p for _, p in progress if "triggerExecution" in p.get("durationMs", {})]
    state = [op for p in batches for op in p.get("stateOperators", [])]
    rows = [float(p.get("numInputRows", 0)) for p in batches if p.get("numInputRows", 0)]
    return {
        "runner.batches": float(len(batches)),
        "runner.trigger_ms_p50": _p([dur(p, "triggerExecution") for p in batches], 50),
        "runner.trigger_ms_p90": _p([dur(p, "triggerExecution") for p in batches], 90),
        "runner.planning_ms_p50": _p([dur(p, "queryPlanning") for p in batches], 50),
        "runner.log_commit_ms_p50": _p(
            [dur(p, "walCommit") + dur(p, "commitOffsets") for p in batches], 50
        ),
        "runner.add_batch_ms_p50": _p([dur(p, "addBatch") for p in batches], 50),
        "sources.offset_ms_p50": _p(
            [dur(p, "latestOffset") + dur(p, "getBatch") for p in batches], 50
        ),
        "sources.rows_per_batch_p50": _p(rows, 50),
        "state.commit_ms_p50": _p([float(op.get("commitTimeMs", 0)) for op in state], 50),
        "state.update_ms_p50": _p([float(op.get("allUpdatesTimeMs", 0)) for op in state], 50),
        "state.rows_total_max": max((float(op.get("numRowsTotal", 0)) for op in state), default=0.0),
        "state.memory_bytes_max": max(
            (float(op.get("memoryUsedBytes", 0)) for op in state), default=0.0
        ),
        "state.rows_dropped": sum(
            float(op.get("numRowsDroppedByWatermark", 0)) for op in state
        ),
    }


def dir_bytes(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return float(total)
