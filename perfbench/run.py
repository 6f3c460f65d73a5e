"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_rate --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Inputs are generated from ``--seed``; all scratch files
live under ``.bench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_rate", "stream_backlog")
DRIVER_MEM = "3g"


class Ctx:
    """Per-run state: seed, scratch directories, the session and tracing."""

    def __init__(self, workload: str, seed: int, trace: bool) -> None:
        from spans import NOOP, Tracer

        self.workload, self.seed, self.trace = workload, seed, trace
        self.tracer = Tracer() if trace else NOOP
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.spark = None
        self.listener = None
        self.listening = False
        self.setup_end: float | None = None
        self.cores = len(os.sched_getaffinity(0))
        self.times: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """A set-up phase: timed always (reported on stderr), traced as a span."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.times[name] = self.times.get(name, 0.0) + time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def dirs(self, *names: str) -> list[str]:
        out = []
        for n in names:
            p = self.path(n)
            shutil.rmtree(p, ignore_errors=True)
            os.makedirs(p)
            out.append(p)
        return out

    def session(self, master: str | None = None):
        if self.spark is None:
            from stream_processing_pipeline_spark.session import build_session

            tmp = self.path("tmp")
            os.makedirs(tmp, exist_ok=True)
            with self.phase("session.start"):
                self.spark = build_session(
                    app_name=f"perfbench-{self.workload}",
                    master=master or f"local[{self.cores}]",
                    extra_conf={
                        "spark.driver.extraJavaOptions": " ".join([
                            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
                        ]),
                        "spark.sql.warehouse.dir": self.path("warehouse"),
                    },
                )
        return self.spark

    def listen(self, on: bool = True) -> bool:
        """Attach (or detach) the progress listener; only traced runs have
        one. Returns whether it is attached now."""
        if not self.trace:
            return False
        if self.listener is None:
            from layers import ProgressListener

            self.listener = ProgressListener()
        if on != self.listening:
            if on:
                self.spark.streams.addListener(self.listener)
            else:
                self.spark.streams.removeListener(self.listener)
            self.listening = on
        return on

    def spans_path(self) -> str:
        d = os.path.join(ROOT, ".bench_work", "spans")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{self.workload}-seed{self.seed}.jsonl")

    def close(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit (it exits when
        its stdin closes), then remove the scratch directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            jvm = getattr(SparkContext._gateway, "proc", None)
            self.spark.stop()
            self.spark = None
            if jvm is not None:
                jvm.stdin.close()
                jvm.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)


def setup_env(work_root: str) -> None:
    """Make the package importable by Python workers and keep Spark's
    scratch inside the checkout. Must run before the JVM starts."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    local = os.path.join(work_root, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # The engine sizes the driver heap to a whole machine (12g); the
    # benchmark shares its machine, so it caps the heap through the engine's
    # own deployment setting.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work_root, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "stream_processing_pipeline_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    ctx = Ctx(args.workload, args.seed, bool(args.trace))
    setup_env(ctx.work)
    import report

    try:
        result = report.run(ctx, args.seconds, T_PROC0)
    finally:
        ctx.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
