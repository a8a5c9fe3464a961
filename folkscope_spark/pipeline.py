"""End-to-end KG construction pipeline (SURVEY.md §3, build plan §7.2).

pages -> pairs -> prompts(x21) -> surrogate generation -> scoring -> parsing
-> anchored pattern mining -> match/extract eventualities -> conceptualize
-> canonicalize -> triples, with snapshot commit + resume per stage.

Entry point for spark-submit::

    spark-submit --py-files folkscope_spark.zip -m folkscope_spark.pipeline \
        --n-pages 100000 --out /tmp/kg

Every stage is expressed on DataFrames; the Python-kernel stages (parse,
match, conceptualize) are Arrow-batched ``mapInPandas`` with broadcast-sized
dictionaries in their closures.
"""

from __future__ import annotations

import argparse
import shutil
import time
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import generate, materialize, parse, patterns, score, synthetic
from .canonicalize import canonicalize_surface_forms
from .conceptualize import (
    aggregate_concepts,
    conceptualize,
    conceptualize_text,
    deliver_probase,
    probase_topk,
)
from .match import match_patterns, merge_eventualities
from .metrics import KernelTimers
from .snapshots import SnapshotStore


class _MemStore:
    """Storeless stand-in.  Two materialization classes, and neither runs a
    job of its own (every eager action is one more fixed-cost job chain, the
    non-scaling O of the fitted t = C/n + O cost model — VERDICT r2 #4):

    * lazy (``_LAZY``) — one consumer; Spark fuses the stage into its
      consumer's job (e.g. generation runs inside the job that fills scored);
    * cached — every other stage: ``cache()`` and no action.  The first
      consumer's job fills the cache (the ``sent_counts`` collect for parsed,
      canonicalize's first action for matched); later consumers read it.

    So ``stages`` times plan construction for these stages; per-layer cost is
    in Spark's status store (per-job time) and the kernel timers.  Each run
    writes under its own ``/tmp/folkscope_mem_<run id>``, deleted on
    ``release()`` or, failing that, when the store is collected."""

    # eventualities is cached, not lazy: the relational-Probase conceptualize
    # plan reads it twice (events x its own mini-map join), and a lazy
    # stand-in would recompute the merge agg per read
    _LAZY = {"assertions", "pattern_counts", "canon_map"}

    def __init__(self):
        self.root = "/tmp/folkscope_mem_" + uuid.uuid4().hex
        self.cached: list[DataFrame] = []
        self._rmtree = weakref.finalize(self, shutil.rmtree, self.root, True)

    def stage(self, _spark, name, _fp, build, **kw):
        df = build()
        if name not in self._LAZY:
            df = df.cache()
            self.cached.append(df)
        return df

    def data_path(self, name):
        return f"{self.root}/{name}"

    def manifest(self, name):
        return None

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self._rmtree()


class RunResult(dict):
    def release(self) -> None:
        """Unpersist the frames this run cached (storeless stages, the
        relational top-K table), destroy its Probase broadcast and delete its
        storeless output directory.  Call it after the last read of a frame:
        concept frames cannot be recomputed afterwards."""
        if isinstance(self["store"], _MemStore):
            self["store"].release()
        if self["probase"] is not None:
            self["probase"].release()


def run_pipeline(
    spark: SparkSession,
    out_dir: str | None,
    n_pages: int = 2000,
    n_items: int = 200,
    pages: DataFrame | None = None,
    with_concepts: bool = True,
    with_canonicalize: bool = True,
    max_extra: int = 2,
    dedupe_parse: bool = True,
    with_concept_text: bool = False,
    adaptive_mining: bool = False,
    dense_tails: bool = False,
    probase: DataFrame | None = None,
    probase_rows: int | None = None,
    probase_mode: str = "auto",
) -> RunResult:
    """Returns {"triples": DataFrame, "stages": {stage: seconds}, ...}; call
    its ``release()`` when done with the frames.

    ``out_dir=None`` runs storeless: stage outputs are cached in memory
    instead of snapshot-committed (fast smoke/test mode, no resume).  A
    storeless stage only builds its plan, so its ``stages`` entry times plan
    construction; the work lands in whichever timed step runs the first
    action on it (see ``_MemStore``).

    ``dedupe_parse`` and ``probase_rows`` select nothing.  Every run parses,
    mines and matches each distinct (relation, tail) once and re-attaches
    the per-row subjects and scores by its md5 key; the Probase tier is
    sized by the collect that ships it.  Both keywords are accepted only so
    existing callers that pass them keep working.

    ``probase_mode`` is ``"auto"`` (tier chosen by the top-K table's row
    count, see ``conceptualize.deliver_probase``) or ``"relational"`` (never
    collect the dimension); ``result["probase_mode"]`` reports the tier."""
    delivery = None
    if with_concepts:
        if probase is None:
            probase = synthetic.probase_df(spark)
        delivery = deliver_probase(probase_topk(probase), probase_mode)
    store = SnapshotStore(out_dir) if out_dir else _MemStore()
    timings: dict[str, float] = {}
    # per-kernel wall/cputime accumulators: after the run,
    # result["kernel_timers"].seconds() splits each Python-kernel stage's wall
    # into in-kernel compute (summed across cores, wall + process_time) vs
    # framework (Arrow/shuffle/schedule) overhead
    kernel_timers = KernelTimers(spark)
    fp = (f"v1:n_pages={n_pages}:n_items={n_items}"
          f":extra={max_extra}:dense={dense_tails}")

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    if pages is None:
        pages = synthetic.pages_df(spark, n_pages, n_items)
    items = synthetic.items_df(spark, n_items)
    templates = generate.template_table(spark)

    # -- generation path -----------------------------------------------------
    # J2 key-cache: when a prior committed assertions snapshot exists with the
    # same generation parameters (manifest detail), its pair_keys are done
    # keys — reuse those rows and generate only the anti-joined remainder
    # (generation.py:222-230 key-cache semantics).  Generation output is a
    # pure function of (pair_key, relation, seq, dense), and prompt text of
    # (pair, n_items), so reuse is gated on the gen_detail match.
    gen_detail = f"gen:v1:items={n_items}:dense={dense_tails}"
    counters: dict[str, int] = {}

    def build_assertions():
        import os

        pairs = generate.pairs_from_pages(pages)
        prompts = generate.build_prompts(pairs, items, templates)
        m = store.manifest("assertions")
        prev = None
        if (
            m is not None
            and m.get("detail") == gen_detail
            and os.path.exists(os.path.join(m["path"], "_SUCCESS"))
        ):
            prev = spark.read.parquet(m["path"])
        if prev is None:
            gens = generate.generate_assertions(prompts, dense_tails=dense_tails)
            return generate.explode_assertions(gens, templates, items)
        # keep only reusable rows still requested by this run, anti-join the
        # rest; the counters prove zero prompts were regenerated
        reused = prev.join(
            prompts.select("pair_key").distinct(), "pair_key", "left_semi"
        )
        done = reused.select("pair_key").distinct()
        todo = generate.resume_filter(prompts, done)
        counters["assertions_reused_keys"] = done.count()
        counters["assertions_generated_keys"] = (
            todo.select("pair_key").distinct().count()
        )
        fresh = generate.explode_assertions(
            generate.generate_assertions(todo, dense_tails=dense_tails),
            templates,
            items,
        )
        return reused.select(*fresh.columns).unionByName(fresh)

    assertions = timed(
        "generate",
        lambda: store.stage(
            spark, "assertions", fp, build_assertions, detail=gen_detail
        ),
    )

    # -- scoring -------------------------------------------------------------
    # the scored artifact keys rows by (pair, relation, seq) + tail + scores;
    # the full assertion/prompt text already lives in the assertions snapshot,
    # and those strings dominate the stage's bytes — dropping them shrinks the
    # cache/snapshot and every downstream scan (parse, triple re-attachment)
    scored = timed(
        "score",
        lambda: store.stage(
            spark, "scored", fp,
            lambda: score.score_assertions(assertions).select(
                "item_a", "item_b", "relation", "seq_no", "tail",
                "plausibility", "typicality",
            ),
        ),
    )

    # -- parsing -------------------------------------------------------------
    parsed = timed(
        "parse",
        lambda: store.stage(
            spark, "parsed", fp,
            lambda: parse.parse_assertions(
                scored, kernel_acc=kernel_timers["parse"]
            ),
        ),
    )

    # -- pattern mining ------------------------------------------------------
    pattern_counts = timed(
        "mine_count",
        lambda: store.stage(
            spark, "pattern_counts", fp,
            lambda: patterns.count_anchored_patterns(parsed, max_extra=max_extra),
        ),
    )

    def finish_mining():
        # the first actions on parsed: storeless, the first of them fills
        # parsed's cache, so this step carries the parse kernel's cost
        schedules = None
        if adaptive_mining:
            # the reference's CDF-driven per-size frequency schedule
            # (pattern_filter.py:119-153): one tiny distributed groupBy feeds
            # a driver-side walk; the resulting bands cut executor-side
            lens = patterns.anchor_lens()
            cdf = patterns.length_cdf(parsed)
            schedules = {
                rel: patterns.adaptive_schedule(cnts, lens.get(rel, 0))
                for rel, cnts in cdf.items()
            }
        sent_counts = {
            r["relation"]: int(r["n"])
            for r in parsed.groupBy("relation")
            .agg(F.sum("weight").alias("n"))
            .collect()
        }
        return patterns.finish_patterns(
            pattern_counts, sent_counts, schedules=schedules
        )

    mined = timed("mine_finish", finish_mining)
    # template-less `open` relation matches against the merged cross-relation
    # pattern set (scripts/run_match.sh:13-16; pattern_merge semantics)
    if mined:
        mined["open"] = patterns.merge_pattern_sets(mined)

    # -- matching ------------------------------------------------------------
    # matched is the pre-merge (eid, sid) stream: two consumers (eid merge +
    # sentence re-attachment) read it, so it gets its own committed stage.
    # Keeping the per-sentence mapping relational (instead of collect_set of
    # sids per eid) bounds every row — a Zipf-hot eventuality's sentence list
    # never funnels into one aggregation row.
    matched = timed(
        "match",
        lambda: store.stage(
            spark, "matched", fp,
            lambda: match_patterns(
                parsed, mined, kernel_acc=kernel_timers["match"]
            ),
        ),
    )
    events = timed(
        "merge",
        lambda: store.stage(
            spark, "eventualities", fp, lambda: merge_eventualities(matched)
        ),
    )

    # -- eventuality-level triples -------------------------------------------
    def build_event_triples():
        # each matched row carries the parse-stage key md5(relation || tail)
        # in `sid`; re-attach to the assertion rows (pair subjects + scores)
        # by the same key
        # the matched stream's per-occurrence `frequency` is the parse-stage
        # weight of that sentence, not the merged eventuality frequency —
        # surface it as `weight` so the committed stage schema says what the
        # column means (the merged per-eid frequency lives on `events`)
        ev = matched.select(
            "eid", "relation", "words",
            F.col("frequency").alias("weight"), F.col("sid").alias("k"),
        ).withColumn("obj_text", F.concat_ws(" ", "words"))
        sc = scored.select(
            F.md5(F.concat_ws("\x1f", "relation", "tail")).alias("k"),
            F.concat_ws("-", "item_a", "item_b").alias("subj"),
            "plausibility",
        )
        return ev.join(sc, "k").select(
            "subj", "relation", "obj_text", "plausibility", "eid", "weight"
        )

    event_triples_src = timed(
        "triple_src",
        lambda: store.stage(spark, "event_triples_src", fp, build_event_triples),
    )

    # -- canonicalization ----------------------------------------------------
    canon_map = None
    if with_canonicalize:
        canon_map = timed(
            "canonicalize",
            lambda: store.stage(
                spark,
                "canon_map",
                fp,
                lambda: canonicalize_surface_forms(
                    event_triples_src.withColumnRenamed("obj_text", "obj"), "obj"
                ),
            ),
        )

    triples = timed(
        "triples",
        lambda: store.stage(
            spark,
            "triples",
            fp,
            lambda: materialize.build_triples(event_triples_src, canon_map),
        ),
    )

    # -- conceptualization ---------------------------------------------------
    concepts = concept_triples = concept_text = None
    if with_concepts:
        concept_rows = timed(
            "conceptualize",
            lambda: store.stage(
                spark,
                "concept_rows",
                fp,
                lambda: conceptualize(
                    events, delivery, kernel_acc=kernel_timers["conceptualize"],
                ),
            ),
        )
        concepts = aggregate_concepts(concept_rows)

        def build_concept_triples():
            # conceptualized KG variant: (pair) --rel--> concept, scored by
            # plausibility x concept likelihood (readme.md:48-62 analog).
            # join keyed (eid, relation): concept text depends on the
            # relation's template-prefix masking, so an eid extracted under
            # two relations must not cross-pair.
            #
            # (A MAX-pre-aggregation of both join sides was measured here and
            # reverted: in dedupe mode the (eid, relation, subj) key is
            # nearly unique, so the two extra exchanges cost ~2s more than
            # the duplicate rows they removed at 100k pages.)
            ev = event_triples_src.select("eid", "subj", "relation", "plausibility")
            return (
                concept_rows.select("eid", "relation", "concept_text", "score")
                .join(ev, ["eid", "relation"])
                .select(
                    "subj",
                    F.col("relation").alias("pred"),
                    F.col("concept_text").alias("obj"),
                    (F.col("plausibility") * F.col("score")).alias("score"),
                )
                .groupBy("subj", "pred", "obj")
                .agg(F.max("score").alias("score"))
            )

        concept_triples = timed(
            "concept_triples",
            lambda: store.stage(spark, "concept_triples", fp, build_concept_triples),
        )

        # whole-sentence conceptualized_text pass (conceptualizer.py:682-685):
        # every parsed line, not just its eventualities — opt-in because it
        # conceptualizes the full corpus, like the reference's per-line loop
        if with_concept_text:
            concept_text = timed(
                "concept_text",
                lambda: store.stage(
                    spark,
                    "concept_text",
                    fp,
                    lambda: conceptualize_text(
                        parsed, delivery, kernel_acc=kernel_timers["concept_text"],
                    ),
                ),
            )

    # -- final write ---------------------------------------------------------
    # bucket width scales with corpus size (triples ~ assertions ~ pages x
    # relations): fixed rows per (pred, bucket) dir at any scale
    timed(
        "write",
        lambda: materialize.write_triples(
            triples, store.data_path("kg_triples"), approx_rows=n_pages * 21 * 3
        ),
    )

    return RunResult({
        "pages": pages,
        "assertions": assertions,
        "scored": scored,
        "parsed": parsed,
        "mined": mined,
        "matched": matched,
        "event_triples_src": event_triples_src,
        "events": events,
        "triples": triples,
        "concepts": concepts,
        "concept_triples": concept_triples,
        "concept_text": concept_text,
        "stages": timings,
        "counters": counters,
        "kernel_timers": kernel_timers,
        "probase_mode": delivery.mode if delivery else None,
        "probase": delivery,
        "store": store,
    })


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-pages", type=int, default=2000)
    ap.add_argument("--n-items", type=int, default=200)
    ap.add_argument("--out", type=str, default="/tmp/folkscope_kg")
    ap.add_argument("--master", type=str, default=None)
    args = ap.parse_args()

    from .session import get_spark

    spark = get_spark(master=args.master)
    t0 = time.time()
    result = run_pipeline(spark, args.out, n_pages=args.n_pages, n_items=args.n_items)
    n = result["triples"].count()
    wall = time.time() - t0
    print(
        {
            "triples": n,
            "wall_s": round(wall, 2),
            "docs_per_sec": round(args.n_pages / wall, 2),
            "stages": result["stages"],
        }
    )


if __name__ == "__main__":
    main()
