"""Spans around the layer calls ``run_pipeline`` makes, and the per-layer
ledger built from them and from Spark's status store.

The program itself records nothing, so the traced run patches the public
layer functions where ``pipeline.py`` looks them up, records one span per
call, and forces each returned DataFrame (cache + count) inside its span:
work is then charged to the layer that does it, not to whichever later
action happens to run a lazy plan.  Forcing adds jobs; the untraced runs
around the traced one measure that overhead.

Jobs are tied to spans through the Spark job group, which each span sets
while it is open.  Jobs submitted outside any group (the session's prewarm)
go to the innermost span open at their submission time.
"""

from __future__ import annotations

import functools
import inspect
import time
from contextlib import contextmanager

LAYERS = (
    "session", "generate", "score", "parse", "patterns", "match",
    "canonicalize", "conceptualize", "materialize", "snapshots", "pipeline",
)
LAYER_METRICS = (
    ("self_s", "s"), ("jobs", "count"), ("driver_only_s", "s"),
    ("task_cpu_s", "s"), ("idle_core_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("rows_out", "count"),
)
_GROUP = "perfbench-span-"
_MB = 1024 * 1024


class Tracer:
    """Spans kept in memory; ``spans[i]`` has id ``i``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once the session exists; before that no job group

    @contextmanager
    def span(self, layer: str, name: str, run: str):
        sid = len(self.spans)
        rec = {
            "id": sid, "layer": layer, "name": name, "run": run,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "rows_out": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if sid is None else f"{_GROUP}{sid}"
            )

    def wrap(self, layer: str, name: str, run: str, fn):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name, run) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.cache()
                    rec["rows_out"] = out.count()
            return out

        return traced


def _targets():
    """(namespace, attribute, layer) for every layer call run_pipeline makes,
    patched where pipeline.py resolves the name: module attributes for the
    ``from . import module`` layers, pipeline's own globals for the
    ``from .module import name`` ones."""
    from folkscope_spark import (
        generate, materialize, parse, patterns, pipeline, score, snapshots,
    )

    return (
        (generate, "generate_assertions", "generate"),
        (score, "score_assertions", "score"),
        (parse, "parse_assertions", "parse"),
        (patterns, "count_anchored_patterns", "patterns"),
        (patterns, "finish_patterns", "patterns"),
        (pipeline, "match_patterns", "match"),
        (pipeline, "merge_eventualities", "match"),
        (pipeline, "canonicalize_surface_forms", "canonicalize"),
        (materialize, "build_triples", "materialize"),
        (materialize, "write_triples", "materialize"),
        (pipeline, "conceptualize", "conceptualize"),
        (snapshots.SnapshotStore, "commit", "snapshots"),
    )


@contextmanager
def patched_layers(tracer: Tracer, run: str):
    saved = []
    try:
        for ns, attr, layer in _targets():
            fn = ns.__dict__[attr]
            saved.append((ns, attr, fn))
            setattr(ns, attr, tracer.wrap(layer, attr, run, fn))
        yield
    finally:
        for ns, attr, fn in reversed(saved):
            setattr(ns, attr, fn)


def canonicalize_driver_threshold() -> int:
    """The distinct-form count up to which canonicalize takes its driver path
    (the program's own default, read so a changed gate shows)."""
    from folkscope_spark.canonicalize import canonicalize_surface_forms

    return inspect.signature(canonicalize_surface_forms).parameters[
        "driver_threshold"
    ].default


# ------------------------------------------------------------ status store


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status(sc) -> tuple[list[dict], dict[int, dict]]:
    """Every job of the process and the stages they ran.  Spark 4's
    ``stageList`` takes all five arguments over py4j."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        group = j.jobGroup()
        sids = j.stageIds()
        jobs.append({
            "id": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "start": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
            "stage_ids": [sids.apply(k) for k in range(sids.size())],
        })
    wanted = {s for j in jobs for s in j["stage_ids"]}
    gw = sc._gateway
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    stages: dict[int, dict] = {}
    for i in range(seq.size()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid not in wanted or s.status().toString() == "SKIPPED":
            continue
        acc = stages.setdefault(sid, dict.fromkeys(
            ("run_s", "cpu_s", "shuffle_write", "spill", "failed"), 0))
        acc["run_s"] += s.executorRunTime() / 1000.0
        acc["cpu_s"] += s.executorCpuTime() / 1e9
        acc["shuffle_write"] += s.shuffleWriteBytes()
        acc["spill"] += s.diskBytesSpilled()
        acc["failed"] += s.numFailedTasks()
    return jobs, stages


# ------------------------------------------------------------ interval math


def _union(iv):
    out = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _length(iv) -> float:
    return sum(b - a for a, b in iv)


def _minus(iv, cut):
    """Intervals ``iv`` (disjoint) with the union ``cut`` removed."""
    out = []
    for a, b in iv:
        for c, d in cut:
            if d <= a or c >= b:
                continue
            if c > a:
                out.append([a, c])
            a = max(a, d)
            if a >= b:
                break
        if a < b:
            out.append([a, b])
    return out


# ------------------------------------------------------------ the ledger


def ledger(tracer: Tracer, jobs: list[dict], stages: dict[int, dict], cores: int,
           run: str) -> tuple[dict, dict]:
    """Per-layer metrics from the recorded spans and the status store, and
    the totals of the spans labelled ``run``.

    self_s: span time not covered by child spans; driver_only_s: the part of
    it with no Spark job running; idle_core_s: the wall of the layer's jobs x
    cores minus its task run time.  Each stage is charged once, to the first
    job that lists it (later jobs list it as skipped)."""
    spans = tracer.spans
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append([s["start"], s["end"]])
    self_iv = {s["id"]: _minus([[s["start"], s["end"]]], _union(children.get(s["id"], [])))
               for s in spans}

    def owner(job) -> dict | None:
        g = job["group"]
        if g and g.startswith(_GROUP):
            return spans[int(g[len(_GROUP):])]
        inner = None
        for s in spans:
            if s["start"] <= job["start"] <= s["end"] and (
                inner is None or s["start"] >= inner["start"]
            ):
                inner = s
        return inner

    done = sorted((j for j in jobs if j["start"] is not None and j["end"] is not None),
                  key=lambda j: j["id"])
    busy = _union([[j["start"], j["end"]] for j in done])
    per = {L: {m: 0.0 for m, _ in LAYER_METRICS} for L in LAYERS}
    walls: dict[str, list] = {L: [] for L in LAYERS}
    tot = {"jobs": 0, "tasks_failed": 0, "task_run_s": 0.0}
    run_walls = []
    charged: set[int] = set()
    for j in done:
        s = owner(j)
        if s is None:
            continue
        L = per[s["layer"]]
        L["jobs"] += 1
        walls[s["layer"]].append([j["start"], j["end"]])
        in_run = s["run"] == run
        if in_run:
            tot["jobs"] += 1
            run_walls.append([j["start"], j["end"]])
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if st is None or sid in charged:
                continue
            charged.add(sid)
            L["task_cpu_s"] += st["cpu_s"]
            L["idle_core_s"] -= st["run_s"]
            L["shuffle_write_mb"] += st["shuffle_write"] / _MB
            L["spill_mb"] += st["spill"] / _MB
            if in_run:
                tot["tasks_failed"] += st["failed"]
                tot["task_run_s"] += st["run_s"]
    for s in spans:
        L = per[s["layer"]]
        L["self_s"] += _length(self_iv[s["id"]])
        L["driver_only_s"] += _length(_minus(self_iv[s["id"]], busy))
        L["rows_out"] += s["rows_out"] or 0
    for name, L in per.items():
        L["idle_core_s"] += _length(_union(walls[name])) * cores
    roots = [[s["start"], s["end"]] for s in spans if s["run"] == run and s["parent"] is None]
    totals = {
        "jobs": tot["jobs"],
        "driver_only_s": _length(_minus(_union(roots), busy)),
        "idle_core_s": _length(_union(run_walls)) * cores - tot["task_run_s"],
        "tasks_failed": tot["tasks_failed"],
        "self_s": sum(_length(self_iv[s["id"]]) for s in spans if s["run"] == run),
    }
    return per, totals

