"""One KG-pipeline leg in its own process — building block for the
two-process "multi-node" scaling stand-in (tools/two_process_scaling.py).

Runs the pipeline at the given master/pages and prints one JSON line with
wall seconds and stage timings.  Kept minimal so the subprocess boundary is the only thing the
experiment adds.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle", type=int, default=24)
    ap.add_argument("--pages", type=int, default=50000)
    ap.add_argument("--warmup-pages", type=int, default=300)
    ap.add_argument(
        "--repo", default=None,
        help="run the pipeline from this checkout instead of the installed "
        "one — interleave two kg_leg invocations with different --repo to "
        "A/B code versions under identical ambient load (how the round-4 "
        "'tripwire fired on environment, not code' finding was established)",
    )
    args = ap.parse_args()

    import os

    # the driver's sys.path does not reach executor Python workers — they
    # import folkscope_spark by name from their own path, so an A/B of two
    # checkouts could silently run identical executor code in both legs
    # (ADVICE r4), and a no---repo run from an arbitrary cwd could not import
    # the package on workers at all.  Local-mode workers inherit the driver
    # env, so PYTHONPATH (set before the JVM launches) is the channel — for
    # the requested checkout and the default (this file's repo) alike.
    repo_root = os.path.abspath(
        args.repo
        if args.repo
        else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    sys.path.insert(0, repo_root)
    os.environ["PYTHONPATH"] = (
        repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    from folkscope_spark.pipeline import run_pipeline
    from folkscope_spark.session import get_spark

    spark = get_spark(
        app=f"kg-leg-{args.master}", master=args.master,
        shuffle_partitions=args.shuffle,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("OFF")

    # prove the executors run the requested checkout: a worker-side probe
    # returns the module path executor Python actually imported
    executor_module = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: __import__("folkscope_spark").__file__)
        .collect()[0]
    )
    assert executor_module.startswith(repo_root + os.sep), (
        f"executors import folkscope_spark from {executor_module}, "
        f"not the requested checkout {repo_root} — A/B leg would be invalid"
    )

    # warmup: Python-worker startup / imports / JIT (one-time executor costs)
    run_pipeline(
        spark, out_dir=None, n_pages=args.warmup_pages, n_items=60,
        with_concepts=True, with_canonicalize=True, max_extra=1,
    )["triples"].count()
    spark.catalog.clearCache()

    t0 = time.time()
    r = run_pipeline(
        spark, out_dir=None, n_pages=args.pages,
        n_items=max(50, args.pages // 17),
        with_concepts=True, with_canonicalize=True, max_extra=2,
    )
    r["triples"].count()
    wall = time.time() - t0
    out = {
        "master": args.master,
        "repo": args.repo,
        "executor_module": executor_module,
        "pages": args.pages,
        "wall_s": round(wall, 2),
        "docs_per_sec": round(args.pages / wall, 2),
        "stages": r["stages"],
    }
    kt = r.get("kernel_timers")
    if kt is not None:
        out["kernel_seconds"] = kt.seconds()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
