"""Single-threaded baseline: drain the ``stream_backlog`` backlog once at
``local[1]`` in a fresh process and print ``{"throughput_eps": ...}``.

Started by the traced run (``run.py --trace 1``); usable alone:

    python3 perfbench/baseline.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import sys

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ctx = run.Ctx("baseline", args.seed, trace=False)
    run.setup_env(ctx.work)
    import wl_stream

    try:
        feed, in_dir, cust = wl_stream.make_backlog(ctx)
        spark = ctx.session(master="local[1]")
        d = wl_stream.drain(ctx, spark, feed, in_dir, cust, "local1")
        if d["failed"]:
            print(d["failed"], file=sys.stderr)
            return 1
        print(json.dumps({"throughput_eps": sum(feed.sizes) / d["wall"], "wall_s": d["wall"]}))
    finally:
        ctx.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
