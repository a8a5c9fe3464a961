"""Headline-query timing harness for optimization rounds (bench.py stays
frozen)::

    python bench_extra.py queries [--sf-dir D] [--repeats N] [--mode count|noop]
        [--only a,b,c] [--plans-dir plans/r06] [--suffix before]

``queries`` times each headline query with the same ``.count()`` call the
frozen bench uses (plus optional noop-sink isolation, guide §1.4) and can dump
``explain("formatted")`` per query for the plan-diff record.  Nothing here
caches results: every invocation recomputes from the parquet inputs.

Pipeline legs are timed elsewhere: ``perfbench/run.py`` (end-to-end metrics
and the per-layer ledger) and ``tools/kg_leg.py`` (one leg per process, for
A/B runs of two checkouts).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_DRIVER_MEM", "16g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "a1_signature_count",
    "j1_broadcast_enrich",
    "w2_topk_per_key",
    "a4_weighted_agg",
    "w1_rank1_mode",
    "window_tumbling",
    "f1_hash_keys",
    "minhash_band",
    "simhash",
    "quality_score",
    "ann_cosine_topk",
    "fs_clean_text",
]


def _fresh_session():
    from folkscope_spark.session import get_spark
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(
        app="bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("OFF")
    return spark


def cmd_queries(args):
    import __spark_entry__ as entry_mod

    spark = _fresh_session()
    qs = entry_mod.queries()
    names = args.only.split(",") if args.only else HEADLINE
    out = {}
    plans_dir = args.plans_dir
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        samples = []
        for i in range(args.repeats):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            df = qs[name](spark, args.sf_dir)
            t0 = time.time()
            if args.mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            samples.append(round(time.time() - t0, 3))
        out[name] = {"min": min(samples), "samples": samples}
        if plans_dir:
            df = qs[name](spark, args.sf_dir)
            p = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(p)
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"total_min": round(sum(v["min"] for v in out.values()), 3),
                      "mode": args.mode, "sf_dir": args.sf_dir}))
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    q = sub.add_parser("queries")
    q.add_argument("--sf-dir", default=SF_DIR)
    q.add_argument("--repeats", type=int, default=2)
    q.add_argument("--mode", choices=["count", "noop"], default="count")
    q.add_argument("--only", default="")
    q.add_argument("--plans-dir", default="")
    q.add_argument("--suffix", default="before")
    q.set_defaults(fn=cmd_queries)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
