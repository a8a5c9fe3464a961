"""Extra measurement harness for optimization rounds (bench.py stays frozen).

Three subcommands::

    python bench_extra.py queries [--sf-dir D] [--repeats N] [--mode count|noop]
        [--only a,b,c] [--plans-dir plans/r06] [--suffix before]
    python bench_extra.py kg --pages 25000 [--repeats N]
        [--master local[32]] [--shuffle 96]
    python bench_extra.py headline-all   # bench.py-methodology single pass

``queries`` times each headline query with the same ``.count()`` call the
frozen bench uses (plus optional noop-sink isolation, guide §1.4) and can dump
``explain("formatted")`` per query for the plan-diff record.  ``kg`` runs one
pipeline leg and prints per-stage timings as JSON.  Nothing here caches
results: every invocation recomputes from the parquet inputs / generators.
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


def _fresh_session(master=None, shuffle=None):
    from folkscope_spark.session import get_spark
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(
        app="bench-extra",
        master=master or f"local[{CPUS}]",
        shuffle_partitions=shuffle if shuffle is not None else 2 * CPUS,
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


def cmd_kg(args):
    from folkscope_spark.pipeline import run_pipeline

    spark = _fresh_session(args.master, args.shuffle)
    # warmup (same as bench.run_kg): one small run pays worker startup/JIT
    run_pipeline(
        spark, out_dir=None, n_pages=300, n_items=60, with_concepts=True,
        with_canonicalize=True, max_extra=1,
    )["triples"].count()
    walls, stages_best = [], None
    for _ in range(args.repeats):
        t0 = time.time()
        r = run_pipeline(
            spark, out_dir=None, n_pages=args.pages,
            n_items=max(50, args.pages // 17), with_concepts=True,
            with_canonicalize=True, max_extra=2,
        )
        r["triples"].count()
        wall = time.time() - t0
        walls.append(wall)
        if wall == min(walls):
            stages = dict(r["stages"])
            for k, v in r["kernel_timers"].seconds().items():
                stages[f"{k}_kernel_wall_s"] = v["wall"]
                stages[f"{k}_kernel_cpu_s"] = v["cpu"]
            stages_best = stages
        spark.catalog.clearCache()
    print(json.dumps({
        "pages": args.pages, "master": args.master or f"local[{CPUS}]",
        "wall_s": round(min(walls), 2), "walls": [round(w, 2) for w in walls],
        "stages": {k: round(v, 3) for k, v in sorted(stages_best.items(), key=lambda x: -x[1])},
    }, indent=1))
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
    k = sub.add_parser("kg")
    k.add_argument("--pages", type=int, default=25000)
    k.add_argument("--repeats", type=int, default=1)
    k.add_argument("--master", default=None)
    k.add_argument("--shuffle", type=int, default=None)
    k.set_defaults(fn=cmd_kg)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
