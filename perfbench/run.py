"""Closed-loop benchmark of the FolkScope KG pipeline.

One client, one batch job at a time, in one process, on ``local[nproc]``:
``run_pipeline`` is called on seeded inputs until ``--seconds`` have passed
(an iteration in flight completes).  See README.md in this directory for why
each workload exists and what each metric should respond to.

    python3 perfbench/run.py --workload kg_mem --seed 1 --seconds 1 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one traced
iteration between two untraced ones and prints the per-layer ledger.  The
last line of stdout is the JSON result.  ``--record SEEDS`` (e.g. ``0-23``)
recomputes the expected output fingerprints in expected.json instead.

Run one benchmark process at a time on a host: the storeless pipeline writes
the fixed path /tmp/folkscope_mem_kg_triples, which this harness redirects
into its own work directory, but nothing else stops two runs competing for
the same cores.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import procstat  # noqa: E402
import spans  # noqa: E402

EXPECTED = HERE / "expected.json"
# driver heap: the program defaults to 8g; at these corpus sizes the whole
# process tree peaks at 3.1-3.8 GB, and the host's 15 GB are shared
DRIVER_MEM = "3g"
# storeless runs write here (pipeline._MemStore.data_path); redirected
MEM_PREFIX = "/tmp/folkscope_mem_"
# the traced wall and the sum of layer self times may differ by this share
ATTRIBUTION_TOLERANCE = 0.05


@dataclasses.dataclass(frozen=True)
class Workload:
    n_pages: int
    dense_tails: bool
    committed: bool
    probase_mode: str

    @property
    def n_items(self) -> int:
        return max(50, self.n_pages // 17)

    @property
    def tails(self) -> str:
        return "dense" if self.dense_tails else "templated"


_KG_MEM = Workload(200, False, False, "auto")
WORKLOADS = {
    # storeless, templated tails: fixed costs dominate
    "kg_mem": _KG_MEM,
    # storeless, length-diverse tails: the Python kernels and mining dominate
    "kg_dense": Workload(250, True, False, "auto"),
    # kg_mem's pages through a committed SnapshotStore and the relational
    # Probase tier; must give kg_mem's output
    "kg_commit": dataclasses.replace(_KG_MEM, committed=True, probase_mode="relational"),
}


# ------------------------------------------------------------ session


def _configure_env(work: Path, cores: int) -> None:
    """Before the JVM starts: the program's own session defaults, sized to
    the cores this process may use, with every scratch path inside ``work``."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        # every JVM spark-submit starts (its launcher too): temp files in work
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    )


def start_session(work: Path):
    from folkscope_spark.session import get_spark

    return get_spark(
        app="perfbench",
        extra={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of the process back
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "20000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    children = [p for p in procstat.tree_pids() if p != os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while procstat.alive(pid):
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, 9)
            time.sleep(0.05)


# ------------------------------------------------------------ one iteration


def redirect_mem_writes(work: Path):
    """Wrap ``materialize.write_triples`` so the storeless fixed path lands in
    ``work``.  The bytes written are the same; only the directory differs."""
    from folkscope_spark import materialize

    orig = materialize.write_triples

    def write_triples(triples, path, *args, **kwargs):
        if path.startswith(MEM_PREFIX):
            path = str(work / "mem" / path[len(MEM_PREFIX):])
        return orig(triples, path, *args, **kwargs)

    materialize.write_triples = write_triples


class Runner:
    """Runs the pipeline on one set of inputs and checks every output."""

    def __init__(self, spark, wl: Workload, work: Path, pages_path: str,
                 probase_path: str, expected: dict | None):
        self.spark, self.wl, self.work = spark, wl, work
        self.pages = spark.read.parquet(pages_path)
        self.probase = spark.read.parquet(probase_path)
        self.expected = expected
        self.seen: dict | None = None
        self._n = 0

    def call(self):
        """The timed region: from the run_pipeline call until the KG is
        written and both output tables are materialized."""
        from folkscope_spark.pipeline import run_pipeline

        self._n += 1
        out_dir = str(self.work / f"store{self._n}") if self.wl.committed else None
        result = run_pipeline(
            self.spark, out_dir, n_pages=self.wl.n_pages, n_items=self.wl.n_items,
            pages=self.pages, probase=self.probase, dense_tails=self.wl.dense_tails,
            probase_mode=self.wl.probase_mode,
        )
        result["triples"].count()
        result["concept_triples"].count()
        result["out_dir"] = out_dir
        return result

    def check(self, result) -> list[str]:
        """Problems with the outputs; empty when correct."""
        fp = fingerprint(result)
        problems = [
            f"{t}: {what}" for t, v in fp.items() for what, bad in (
                ("empty", v["rows"] == 0),
                ("score outside [0, 1]",
                 v["rows"] and not 0.0 <= v["min_score"] <= v["max_score"] <= 1.0),
                ("(subj, pred, obj) not unique", v["distinct_spo"] != v["rows"]),
            ) if bad
        ]
        key = {t: [v["rows"], v["hash"]] for t, v in fp.items()}
        if self.seen is None:
            self.seen = key
        elif key != self.seen:
            problems.append(f"fingerprint changed between iterations: {key} != {self.seen}")
        if self.expected is not None and key != self.expected:
            problems.append(f"fingerprint {key} != expected {self.expected}")
        return problems

    def cleanup(self, result) -> None:
        self.spark.catalog.clearCache()
        if result.get("out_dir"):
            shutil.rmtree(result["out_dir"], ignore_errors=True)


def fingerprint(result) -> dict:
    """Order-independent digest per output table: row count, a sum of row
    hashes, the score range and the distinct (subj, pred, obj) count."""
    from pyspark.sql import functions as F

    out = {}
    for name in ("triples", "concept_triples"):
        df = result[name]
        r = df.agg(
            F.count("*").alias("rows"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("hash"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.count_distinct("subj", "pred", "obj").alias("distinct_spo"),
        ).first()
        out[name] = {**r.asDict(), "hash": str(r["hash"])}
    return out


# ------------------------------------------------------------ modes


def measure(runner: Runner, seconds: float) -> dict:
    """Iterations until ``seconds`` have passed; CPU and RSS of the whole
    process tree over the timed regions."""
    walls, cpus, failed, attempted = [], [], 0, 0
    t_end = time.perf_counter() + seconds
    with procstat.PeakRss() as rss:
        while True:
            attempted += 1
            cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
            try:
                result = runner.call()
                wall = time.perf_counter() - t0
                cpu = procstat.tree_cpu_s() - cpu0
                problems = runner.check(result)
                runner.cleanup(result)
            except Exception:
                traceback.print_exc()
                problems = ["iteration raised"]
            if problems:
                failed += 1
                print("perfbench: FAILED:", "; ".join(problems), file=sys.stderr)
            else:
                walls.append(wall)
                cpus.append(cpu)
            if time.perf_counter() >= t_end:
                break
    return {"walls": walls, "cpus": cpus, "peak_rss": rss.peak,
            "attempted": attempted, "failed": failed}


def end_to_end(m: dict, setup_s: float, n_pages: int) -> dict:
    if not m["walls"]:
        raise RuntimeError("no iteration succeeded")
    return {
        "pages_per_s": {"value": n_pages / statistics.median(m["walls"]), "unit": "1/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "cpu_s_per_kpage": {
            "value": statistics.median(m["cpus"]) / (n_pages / 1000), "unit": "s"},
        "peak_rss_mb": {"value": m["peak_rss"] / 2**20, "unit": "MB"},
    }


def traced(runner: Runner, tracer, cores: int) -> tuple[dict, int, int, list[str]]:
    """An untraced iteration (the process's first timed run, reported on its
    own), a traced one, and an untraced one to price the tracing."""
    sc = runner.spark.sparkContext
    problems: list[str] = []
    failed = 0

    def untraced():
        t0 = time.perf_counter()
        r = runner.call()
        wall = time.perf_counter() - t0
        return r, wall

    def checked(result, label):
        nonlocal failed
        p = runner.check(result)
        if p:
            failed += 1
            problems.extend(f"{label}: {x}" for x in p)

    r, first_wall = untraced()
    checked(r, "first")
    runner.cleanup(r)

    with spans.patched_layers(tracer, "traced"):
        t0 = time.perf_counter()
        with tracer.span("pipeline", "run_pipeline", "traced") as root:
            r = runner.call()
        traced_wall = time.perf_counter() - t0
    root["rows_out"] = sum(r[t].count() for t in ("triples", "concept_triples"))
    checked(r, "traced")
    forms = r["event_triples_src"].select("obj_text").distinct().count()
    probase_mode = r["probase_mode"]
    kernel = r["kernel_timers"].seconds()
    snap_bytes = 0
    if r["out_dir"]:
        data = os.path.join(r["out_dir"], "data")
        snap_bytes = inputs.dir_bytes(os.path.join(r["out_dir"], "metrics")) + sum(
            inputs.dir_bytes(os.path.join(data, d))
            for d in os.listdir(data) if d != "kg_triples"  # written by materialize
        )
    runner.cleanup(r)

    r, steady_wall = untraced()
    checked(r, "steady")
    runner.cleanup(r)

    jobs, stages = spans.read_status(sc)
    per, tot = spans.ledger(tracer, jobs, stages, cores, "traced")
    metrics = {
        f"{layer}.{m}": {"value": per[layer][m], "unit": unit}
        for layer in spans.LAYERS for m, unit in spans.LAYER_METRICS
    }
    rows = {s["name"]: s["rows_out"] for s in tracer.spans if s["run"] == "traced"}
    canon_rows = rows.get("canonicalize_surface_forms") or 0
    threshold = spans.canonicalize_driver_threshold()
    distributed = forms > threshold
    extra = {
        "parse.kernel_cpu_s": (kernel.get("parse", {}).get("cpu", 0.0), "s"),
        "match.kernel_cpu_s": (kernel.get("match", {}).get("cpu", 0.0), "s"),
        "conceptualize.kernel_cpu_s": (kernel.get("conceptualize", {}).get("cpu", 0.0), "s"),
        "parse.distinct_ratio": (rows["parse_assertions"] / rows["score_assertions"], "ratio"),
        "match.yield_ratio": (rows["match_patterns"] / rows["parse_assertions"], "ratio"),
        "canonicalize.forms": (forms, "count"),
        "canonicalize.rewrite_ratio": (canon_rows / forms if forms else 0.0, "ratio"),
        "canonicalize.distributed": (int(distributed), "bool"),
        "conceptualize.relational": (int(probase_mode == "relational"), "bool"),
        "snapshots.write_mb": (snap_bytes / 2**20, "MB"),
        "run.jobs": (tot["jobs"], "count"),
        "run.driver_only_s": (tot["driver_only_s"], "s"),
        "run.idle_core_s": (tot["idle_core_s"], "s"),
        "run.tasks_failed": (tot["tasks_failed"], "count"),
        "run.traced_wall_s": (traced_wall, "s"),
        "run.first_wall_s": (first_wall, "s"),
        "run.steady_wall_s": (steady_wall, "s"),
        "run.trace_overhead_s": (traced_wall - steady_wall, "s"),
        "run.unattributed_s": (traced_wall - tot["self_s"], "s"),
    }
    metrics.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
    # every traced second must belong to exactly one layer's self time
    if abs(traced_wall - tot["self_s"]) > ATTRIBUTION_TOLERANCE * traced_wall:
        problems.append(
            f"layer self times sum to {tot['self_s']:.2f}s, traced wall {traced_wall:.2f}s")
    print("perfbench gates:", json.dumps({
        "probase_mode": probase_mode,
        "canonicalize": "distributed" if distributed else "driver",
        "canonicalize_forms": forms,
        "canonicalize_driver_threshold": threshold,
    }))
    if tot["tasks_failed"]:
        problems.append(f"{tot['tasks_failed']} Spark tasks failed")
    return metrics, 3, failed, problems


def write_inputs(wl: Workload, work: Path, seed: int) -> tuple[str, str]:
    """Pages and Probase as parquet, written before the session starts."""
    d = work / f"inputs-{wl.n_pages}-{seed}"
    pages, probase = str(d / "pages"), str(d / "probase")
    for name, info in (
        ("pages", inputs.write_pages(
            pages, inputs.seed_start(seed, wl.n_pages), wl.n_pages, wl.n_items)),
        ("probase", inputs.write_probase(probase)),
    ):
        print(f"perfbench inputs: {name} rows={info['rows']} bytes={info['bytes']}", flush=True)
    return pages, probase


def record(seed_spec: str, work: Path) -> int:
    """Recompute expected.json for the given seeds.  Each templated seed runs
    storeless (kg_mem) and committed with the relational Probase tier
    (kg_commit); both must agree before the fingerprint is stored."""
    lo, _, hi = seed_spec.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    groups = (("kg_mem", "kg_commit"), ("kg_dense",))
    spark = start_session(work)
    try:
        redirect_mem_writes(work)
        for names in groups:
            for seed in seeds:
                keys = []
                for name in names:
                    wl = WORKLOADS[name]
                    runner = Runner(spark, wl, work, *write_inputs(wl, work, seed), None)
                    r = runner.call()
                    problems = runner.check(r)
                    runner.cleanup(r)
                    if problems:
                        raise RuntimeError(f"{name} seed {seed}: {problems}")
                    keys.append(runner.seen)
                if any(k != keys[0] for k in keys):
                    raise RuntimeError(f"seed {seed}: {names} disagree: {keys}")
                expected.setdefault(wl.tails, {})[str(inputs.block(seed))] = keys[0]
                print(f"recorded {wl.tails} seed {seed}: {keys[0]}", flush=True)
                EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    finally:
        stop_session(spark)
    return 0


def bench(args, wl: Workload, work: Path, cores: int) -> int:
    expected = None
    if EXPECTED.exists():
        expected = json.loads(EXPECTED.read_text()).get(wl.tails, {}).get(
            str(inputs.block(args.seed)))
    # inputs first: they are not part of setup_s
    paths = write_inputs(wl, work, args.seed)
    tracer = spans.Tracer() if args.trace else None
    t0 = time.perf_counter()
    with tracer.span("session", "get_spark", "setup") if tracer else contextlib.nullcontext():
        spark = start_session(work)
    setup_s = time.perf_counter() - t0
    try:
        redirect_mem_writes(work)
        runner = Runner(spark, wl, work, *paths, expected)
        if tracer:
            tracer.sc = spark.sparkContext
            metrics, attempted, failed, problems = traced(runner, tracer, cores)
            for p in problems:
                print("perfbench: FAILED:", p, file=sys.stderr)
            correct = not problems
        else:
            m = measure(runner, args.seconds)
            metrics = end_to_end(m, setup_s, wl.n_pages)
            attempted, failed = m["attempted"], m["failed"]
            correct = failed == 0
            summary = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in metrics.items())
            print(f"perfbench {args.workload} seed={args.seed}: {summary}, "
                  f"fail_ratio={failed / attempted:.4g} ({failed}/{attempted} runs), "
                  f"samples={len(m['walls'])}, fingerprint "
                  f"{'checked against expected.json' if expected else 'not recorded for this seed'}")
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        print(f"perfbench: session stopped in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="SEEDS")
    args = ap.parse_args(argv)
    if not args.record and not args.workload:
        ap.error("--workload is required")
    sys.path.insert(0, str(ROOT))
    try:
        import folkscope_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{os.getpid()}-{time.time_ns()}"
    try:
        _configure_env(work, cores)
        if args.record:
            return record(args.record, work)
        return bench(args, WORKLOADS[args.workload], work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
