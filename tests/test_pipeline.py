"""End-to-end pipeline tests: oracle parity, resume, CC distributed path.

Heavier than unit tests (spins up Spark) but still < a couple of minutes.
"""

import time

import pytest
from pyspark.sql import DataFrame, functions as F

from tests.oracle_port import oracle_triples

N_PAGES = 400
N_ITEMS = 80


@pytest.fixture(scope="module")
def spark():
    from folkscope_spark.session import get_spark

    s = get_spark(app="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def result(spark):
    from folkscope_spark.pipeline import run_pipeline

    return run_pipeline(
        spark, out_dir=None, n_pages=N_PAGES, n_items=N_ITEMS,
        with_concepts=True, with_canonicalize=False, max_extra=2,
    )


def test_triples_match_oracle(result):
    """P/R vs the single-process oracle port (target >= 0.95; BASELINE.json).
    The pipeline is fully deterministic so we expect exact equality."""
    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in result["triples"].select("subj", "pred", "obj").collect()
    }
    want = oracle_triples(N_PAGES, N_ITEMS, max_extra=2)
    assert want, "oracle produced no triples — fixture too small"
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision:.3f} (got {len(got)}, want {len(want)})"
    assert recall >= 0.95, f"recall {recall:.3f} (got {len(got)}, want {len(want)})"
    assert got == want  # determinism: exact match expected, not just P/R


def test_parity_flag_builds_same_kg(spark, result):
    """``dedupe_parse=False`` (the frozen bench's scaling legs still pass it)
    must build exactly the KG of the default run: same triples, concept
    triples and merged eventualities, compared as multisets.  The one
    eventuality column left out is ``n_sentences``: it counts parsed rows,
    which were assertion rows under the former per-row parse and are distinct
    (relation, tail) rows otherwise."""
    from folkscope_spark.pipeline import run_pipeline

    parity = run_pipeline(
        spark, out_dir=None, n_pages=N_PAGES, n_items=N_ITEMS,
        with_concepts=True, with_canonicalize=False, max_extra=2,
        dedupe_parse=False,
    )
    try:
        for name in ("triples", "concept_triples", "events"):
            a, b = (_set_comparable(r[name]) for r in (result, parity))
            assert a.exceptAll(b).count() == 0, name
            assert b.exceptAll(a).count() == 0, name
    finally:
        # the module's later tests need only the fixture run cached; a
        # second cached run keeps the shared JVM's heap about 1 GB higher
        for df in parity.values():
            if isinstance(df, DataFrame):
                df.unpersist()


def _set_comparable(df):
    """The merged eventualities without ``n_sentences``, and with their
    per-position NER counters as sorted entry arrays (set operations reject
    map columns)."""
    if "ner_counters" not in df.columns:
        return df
    return df.drop("n_sentences").withColumn(
        "ner_counters",
        F.transform("ner_counters", lambda m: F.array_sort(F.map_entries(m))),
    )


def test_eventualities_unique_per_relation(result):
    ev = result["events"]
    dup = ev.groupBy("eid", "relation").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_scores_in_unit_interval(result):
    bad = result["scored"].filter(
        (F.col("plausibility") < 0) | (F.col("plausibility") > 1)
    ).count()
    assert bad == 0


def test_kernel_timers_attribute_python_compute(result):
    """The parse/match/conceptualize accumulators report kernel CPU-seconds
    after their stages' actions ran — the per-stage Python-vs-framework split
    the bench ships (metrics.KernelTimers)."""
    result["concept_triples"].count()  # force the conceptualize kernel
    sec = result["kernel_timers"].seconds()
    for stage in ("parse", "match", "conceptualize"):
        assert sec.get(stage, {}).get("wall", 0) > 0
        # process_time can't exceed in-kernel wall (modulo rounding)
        assert sec[stage]["cpu"] <= sec[stage]["wall"] + 0.01
    # kernel wall cannot exceed the action's wall x worker cores by any
    # margin that survives rounding; catches accidentally timing suspended
    # (Arrow) generator time.  The wall is measured here around one action
    # that runs the parse kernel over the cached scored rows: storeless
    # stages only build plans, so result["stages"] does not time the kernel.
    # Core count comes from the live session, not a hardcoded fixture
    # constant (ADVICE r4).
    from folkscope_spark import parse
    from folkscope_spark.metrics import KernelTimers

    spark = result["scored"].sparkSession
    timers = KernelTimers(spark)
    parsed = parse.parse_assertions(result["scored"], kernel_acc=timers["parse"])
    t0 = time.time()
    parsed.count()
    wall = time.time() - t0
    kernel_wall = timers.seconds()["parse"]["wall"]
    n_cores = spark.sparkContext.defaultParallelism
    assert 0 < kernel_wall <= wall * n_cores * 1.5


def test_storeless_stages_are_lazy_or_cached(result):
    """Storeless runs have two materialization classes: ``assertions`` is
    returned as built (its one consumer fuses it into its own job), and every
    other stage is ``cache()``d with no action of its own, so its first
    consumer fills the cache."""
    for name in ("scored", "parsed", "matched", "events", "event_triples_src",
                 "triples"):
        assert result[name].is_cached, name
    assert not result["assertions"].is_cached


def test_category_filter_keeps_either_side_match(spark):
    """P4 (generation.py:173): a pair stays when either item's top category
    is the target."""
    from folkscope_spark.generate import category_filter

    pairs = spark.createDataFrame(
        [("p1", "toys", "home"), ("p2", "home", "toys"), ("p3", "home", "home"),
         ("p4", None, "toys")],
        "k string, top_cate_a string, top_cate_b string",
    )
    kept = sorted(r["k"] for r in category_filter(pairs, "toys").collect())
    assert kept == ["p1", "p2", "p4"]


def test_threshold_variants_nest(result):
    from folkscope_spark.materialize import threshold_variants

    v = threshold_variants(result["triples"])
    n00, n05, n09 = v["00"].count(), v["05"].count(), v["09"].count()
    assert n00 >= n05 >= n09
    assert n00 == result["triples"].count()


def test_resume_skips_and_reproduces(spark, tmp_path):
    from folkscope_spark.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    r1 = run_pipeline(spark, out, n_pages=150, n_items=40,
                      with_concepts=False, with_canonicalize=False, max_extra=1)
    t1 = {tuple(r) for r in r1["triples"].select("subj", "pred", "obj").collect()}
    m1 = r1["store"].manifest("assertions")
    # second run: every stage must resume from its committed snapshot
    r2 = run_pipeline(spark, out, n_pages=150, n_items=40,
                      with_concepts=False, with_canonicalize=False, max_extra=1)
    t2 = {tuple(r) for r in r2["triples"].select("subj", "pred", "obj").collect()}
    m2 = r2["store"].manifest("assertions")
    assert t1 == t2
    assert m1["snapshot_id"] == m2["snapshot_id"], "stage re-ran instead of resuming"
    # metrics table has per-partition lineage rows for every stage
    metrics = r2["store"].metrics(spark)
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert "assertions" in stages and "triples" in stages


def test_resume_invalidates_on_fingerprint_change(spark, tmp_path):
    from folkscope_spark.pipeline import run_pipeline

    out = str(tmp_path / "kg2")
    r1 = run_pipeline(spark, out, n_pages=100, n_items=30,
                      with_concepts=False, with_canonicalize=False, max_extra=1)
    m1 = r1["store"].manifest("assertions")
    r2 = run_pipeline(spark, out, n_pages=120, n_items=30,
                      with_concepts=False, with_canonicalize=False, max_extra=1)
    m2 = r2["store"].manifest("assertions")
    assert m1["fingerprint"] != m2["fingerprint"]
    assert m1["snapshot_id"] != m2["snapshot_id"]


def test_versioned_commit_never_overwrites_a_scanned_path(spark, tmp_path):
    """ADVICE r3 (medium): a stage re-commit whose plan still scans the prior
    committed snapshot (the J2 resume union shape) must not write over the
    path it is reading.  Versioned data dirs make this safe by construction:
    the new commit lands in a fresh dir, the manifest swaps atomically, and
    the superseded dir is GC'd only after publish."""
    import os

    from folkscope_spark.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "vkg"))
    df1 = spark.range(10).withColumnRenamed("id", "k")
    store.commit("s", df1, "fp1")
    m1 = store.manifest("s")
    assert os.path.basename(os.path.dirname(m1["path"])) == "s"

    # plan that reads the committed snapshot and re-commits the same stage
    prev = store.read(spark, "s")
    merged = prev.unionByName(spark.range(10, 15).withColumnRenamed("id", "k"))
    committed = store.commit("s", merged, "fp2")
    assert committed.count() == 15
    m2 = store.manifest("s")
    assert m2["path"] != m1["path"]
    # superseded version is gone, the published one survives
    assert not os.path.exists(m1["path"])
    assert os.path.exists(os.path.join(m2["path"], "_SUCCESS"))
    assert {r["k"] for r in store.read(spark, "s").collect()} == set(range(15))


def test_crash_orphan_versions_swept_on_next_commit(spark, tmp_path):
    """VERDICT r4 wrong #3: a process that dies between the parquet write and
    the manifest publish leaves a version dir no manifest references; the
    next commit must sweep it (while keeping the live published version)
    so crash loops cannot grow the stage dir unboundedly."""
    import os

    from folkscope_spark.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "okg"))
    store.commit("s", spark.range(5).withColumnRenamed("id", "k"), "fp1")
    live = store.manifest("s")["path"]

    # simulate the crash leftover: data written, manifest never published
    orphan = os.path.join(store.data_path("s"), "s-999")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("half-written")

    committed = store.commit(
        "s", spark.range(5, 9).withColumnRenamed("id", "k"), "fp2"
    )
    assert not os.path.exists(orphan)  # orphan swept
    assert committed.count() == 4
    assert os.path.exists(os.path.join(store.manifest("s")["path"], "_SUCCESS"))
    assert not os.path.exists(live)  # superseded version GC'd as before

    # crash-before-first-publish shape: orphan with no manifest at all
    os.makedirs(os.path.join(store.data_path("t"), "t-1"))
    store.commit("t", spark.range(3).withColumnRenamed("id", "k"), "fp1")
    assert os.listdir(store.data_path("t")) == [
        os.path.basename(store.manifest("t")["path"])
    ]


def test_concept_triples_match_oracle(result):
    """Concept-KG plumbing parity: the distributed conceptualize + (eid,
    relation)-keyed join must reproduce the single-process port's
    (subj, pred, concept) set exactly."""
    from tests.oracle_port import oracle_kg

    got = {
        (r["subj"], r["pred"], r["obj"])
        for r in result["concept_triples"].select("subj", "pred", "obj").collect()
    }
    want = oracle_kg(N_PAGES, N_ITEMS, max_extra=2)["concept_triples"]
    assert want, "oracle produced no concept triples"
    assert got == want, (
        f"got {len(got)}, want {len(want)}, "
        f"extra {len(got - want)}, missing {len(want - got)}"
    )


def test_pipeline_concept_text_pass(spark):
    """VERDICT r2 missing #1: the whole-sentence conceptualized_text pass
    (conceptualizer.py:682-685) exercised through the pipeline — every parsed
    line yields concept rows, not just lines with eventualities."""
    from folkscope_spark.pipeline import run_pipeline

    r = run_pipeline(
        spark, out_dir=None, n_pages=120, n_items=40, max_extra=1,
        with_concepts=True, with_canonicalize=False, with_concept_text=True,
    )
    ct = r["concept_text"]
    assert ct is not None
    assert set(ct.columns) == {"sid", "relation", "cid", "concept_text", "score"}
    n_ct = ct.count()
    n_parsed = r["parsed"].count()
    # unconditional seed-rule fallback -> at least one concept row per line
    assert n_ct >= n_parsed > 0


@pytest.mark.parametrize("probase_mode", ["auto", "relational"])
def test_concept_text_matches_python_kernel(spark, probase_mode):
    """The Spark ``concept_text`` rows equal ``conceptualize_from_text`` run in
    plain Python over the collected ``parsed`` rows, under both Probase
    deliveries (broadcast dict and the relational per-row mini-map)."""
    from collections import Counter

    from folkscope_spark import synthetic
    from folkscope_spark.conceptualize import (
        cid_of,
        conceptualize_from_text,
        deliver_probase,
        probase_topk,
        template_start_index,
    )
    from folkscope_spark.pipeline import run_pipeline

    r = run_pipeline(
        spark, out_dir=None, n_pages=120, n_items=40, max_extra=1,
        with_concepts=True, with_canonicalize=False, with_concept_text=True,
        probase_mode=probase_mode,
    )
    assert r["probase_mode"] == ("broadcast" if probase_mode == "auto" else "relational")
    topk_map = deliver_probase(probase_topk(synthetic.probase_df(spark))).broadcast.value
    want = Counter()
    for p in r["parsed"].collect():
        deps = [(d["gov"], d["rel"], d["dep"]) for d in p["dependencies"]]
        for cw, score in conceptualize_from_text(
            list(p["lemmas"]), list(p["ners"]), list(p["pos_tags"]), deps,
            topk_map, start_index=template_start_index(p["relation"]),
        ):
            want[(p["sid"], p["relation"], cid_of(cw), " ".join(cw), float(score))] += 1
    got = Counter(
        tuple(x)
        for x in r["concept_text"]
        .select("sid", "relation", "cid", "concept_text", "score")
        .collect()
    )
    assert want and got == want


def test_adaptive_schedule_e2e_dense_corpus(spark):
    """VERDICT r2 missing #2: the CDF-driven adaptive mining schedule run
    end-to-end on a length-diverse corpus (dense_tails), asserting the banded
    pattern set equals a plain-Python expectation computed on the driver from
    the raw collected (relation, sig, size, count) rows."""
    from folkscope_spark import patterns
    from folkscope_spark.graphs import (
        check_connect,
        dedupe_by_subsumption,
        ends_forbidden,
        sort_patterns,
    )
    from folkscope_spark.pipeline import run_pipeline

    r = run_pipeline(
        spark, out_dir=None, n_pages=400, n_items=60,
        with_concepts=False, with_canonicalize=False,
        max_extra=2, dense_tails=True, adaptive_mining=True,
    )
    parsed = r["parsed"]
    lens = patterns.anchor_lens()
    cdf = patterns.length_cdf(parsed)
    scheds = {
        rel: patterns.adaptive_schedule(c, lens.get(rel, 0))
        for rel, c in cdf.items()
    }
    assert sum(1 for s in scheds.values() if s) >= 10  # dense CDF engaged

    # driver-side expectation from the raw counts: band cut + global cut +
    # cumulative early-stop + final guards, all in plain Python
    pc = patterns.count_anchored_patterns(parsed, max_extra=2).collect()
    sent_counts = {
        row["relation"]: int(row["n"])
        for row in parsed.groupBy("relation").agg(F.sum("weight").alias("n")).collect()
    }
    by: dict = {}
    for row in pc:
        by.setdefault(row["relation"], {}).setdefault(row["size"], []).append(row)
    expected = {}
    for rel, sched in scheds.items():
        cut = max(2, int(sent_counts.get(rel, 0) * 1e-4))
        empties, kept = 0, []
        for size in sorted(sched):
            mn, mx = sched[size]
            got = [
                x
                for x in by.get(rel, {}).get(size, [])
                if mn <= x["count"] <= mx and x["count"] >= cut
            ]
            if not got:
                empties += 1
                if empties > 1:
                    break
                continue
            kept.extend(got)
        if not kept:
            continue
        freq: dict = {}
        for x in kept:
            p = patterns.sig_to_pattern(x["sig"])
            freq[p] = freq.get(p, 0) + x["count"]
        fine = [p for p in freq if check_connect(p) and not ends_forbidden(p)]
        if not fine:
            continue
        expected[rel] = {
            patterns.pattern_sig(p) for p in sort_patterns(dedupe_by_subsumption(fine))
        }
    mined = {k: v for k, v in r["mined"].items() if k != "open"}
    assert set(mined) == set(expected) and expected
    for rel in expected:
        got_sigs = {patterns.pattern_sig(p) for p in mined[rel]["patterns"]}
        assert got_sigs == expected[rel], rel
    assert r["triples"].count() > 0


def test_assertions_anti_join_resume(spark, tmp_path):
    """VERDICT r2 wrong #4: the J2 key-cache hook is live — growing the
    corpus over a committed assertions snapshot reuses every committed
    pair_key (anti-join generates only the new ones; counters prove zero
    regenerated prompts) and the result is identical to a from-scratch run."""
    from folkscope_spark.pipeline import run_pipeline

    out = str(tmp_path / "kg")
    kw = dict(
        n_items=40, max_extra=1, with_concepts=False, with_canonicalize=False
    )
    run_pipeline(spark, out, n_pages=120, **kw)
    r2 = run_pipeline(spark, out, n_pages=200, **kw)
    c = r2["counters"]
    assert c["assertions_reused_keys"] > 0
    assert c["assertions_generated_keys"] > 0
    # disjoint + complete: reused + freshly generated == all requested keys
    total_keys = r2["assertions"].select("pair_key").distinct().count()
    assert c["assertions_reused_keys"] + c["assertions_generated_keys"] == total_keys
    fresh = run_pipeline(spark, None, n_pages=200, **kw)
    a = {
        tuple(x)
        for x in r2["assertions"].select("pair_key", "seq_no", "assertion").collect()
    }
    b = {
        tuple(x)
        for x in fresh["assertions"].select("pair_key", "seq_no", "assertion").collect()
    }
    assert a == b


def test_pipeline_large_probase_auto_goes_relational(spark):
    """The auto size gate: a Probase padded with 150k noise instances (never
    in the corpus), past PROBASE_BROADCAST_CUTOFF top-K rows, takes the
    relational tier, and the concept KG is unchanged."""
    from folkscope_spark.conceptualize import PROBASE_BROADCAST_CUTOFF
    from folkscope_spark.pipeline import run_pipeline
    from folkscope_spark.synthetic import probase_df

    kw = dict(
        n_pages=120, n_items=40, max_extra=1,
        with_concepts=True, with_canonicalize=False,
    )
    base = run_pipeline(spark, None, **kw)
    assert base["probase_mode"] == "broadcast"
    noise = spark.range(PROBASE_BROADCAST_CUTOFF + 50_000).select(
        F.lit("noiseconcept").alias("concept"),
        F.concat(F.lit("zz_noise_"), "id").alias("instance"),
        F.lit(1.0).alias("freq"),
    )
    big = probase_df(spark).select("concept", "instance", "freq").unionByName(noise)
    padded = run_pipeline(spark, None, probase=big, **kw)
    assert padded["probase_mode"] == "relational"
    a = {tuple(x) for x in base["concept_triples"].collect()}
    b = {tuple(x) for x in padded["concept_triples"].collect()}
    assert a == b and a


def test_probase_mode_rejects_unknown_value(spark):
    """Only "auto" and "relational" are accepted: a forced broadcast would be
    an unbounded collect above the cutoff, and a typo must not silently pick
    a tier."""
    from folkscope_spark.pipeline import run_pipeline

    for mode in ("broadcast", "relatoinal"):
        with pytest.raises(ValueError, match="probase_mode"):
            run_pipeline(spark, None, n_pages=10, n_items=5, probase_mode=mode)


def test_pipeline_relational_probase_parity(spark):
    """VERDICT r3 wrong #1: above PROBASE_BROADCAST_CUTOFF no driver dict is
    ever collected — the per-row mini-map join must reproduce the broadcast
    path bit-for-bit, for both the eventuality pass and concept_text."""
    from folkscope_spark.pipeline import run_pipeline

    kw = dict(
        n_pages=120, n_items=40, max_extra=1,
        with_concepts=True, with_canonicalize=False, with_concept_text=True,
    )
    base = run_pipeline(spark, None, **kw)
    rel = run_pipeline(spark, None, probase_mode="relational", **kw)
    assert rel["probase_mode"] == "relational"
    a = {tuple(x) for x in base["concept_triples"].collect()}
    b = {tuple(x) for x in rel["concept_triples"].collect()}
    assert a == b and a
    at = {tuple(x) for x in base["concept_text"].collect()}
    bt = {tuple(x) for x in rel["concept_text"].collect()}
    assert at == bt and at


def test_probase_gate_boundary_counts_topk_rows(spark, monkeypatch):
    """The auto gate counts top-K rows: a top-K table of exactly the cutoff
    is broadcast, one row more goes relational, and both build the same
    concept KG."""
    from folkscope_spark import conceptualize
    from folkscope_spark.pipeline import run_pipeline
    from folkscope_spark.synthetic import probase_df

    pb = probase_df(spark).select("concept", "instance", "freq")
    n_topk = conceptualize.probase_topk(pb).count()
    monkeypatch.setattr(conceptualize, "PROBASE_BROADCAST_CUTOFF", n_topk)
    kw = dict(
        n_pages=100, n_items=30, max_extra=1,
        with_concepts=True, with_canonicalize=False,
    )
    at = run_pipeline(spark, None, probase=pb, **kw)
    assert at["probase_mode"] == "broadcast"
    one_more = pb.unionByName(
        spark.createDataFrame([("noiseconcept", "zz_noise", 1)], pb.schema)
    )
    over = run_pipeline(spark, None, probase=one_more, **kw)
    assert over["probase_mode"] == "relational"
    a = {tuple(x) for x in at["concept_triples"].collect()}
    b = {tuple(x) for x in over["concept_triples"].collect()}
    assert a == b and a


@pytest.mark.parametrize("probase_mode", ["auto", "relational"])
def test_release_frees_what_the_run_holds(spark, probase_mode):
    """``release()`` leaves the session's cache empty (storeless stages and
    the relational top-K table), destroys the Probase broadcast and deletes
    the run's storeless output directory."""
    import os

    from folkscope_spark.pipeline import run_pipeline

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()
    r = run_pipeline(
        spark, None, n_pages=60, n_items=30, max_extra=1,
        with_concept_text=True, probase_mode=probase_mode,
    )
    assert r["triples"].count() and r["concept_triples"].count()
    out = r["store"].data_path("kg_triples")
    assert os.path.isdir(out)
    bc = r["probase"].broadcast
    r.release()
    assert cache_manager.isEmpty(), probase_mode
    assert not os.path.exists(os.path.dirname(out))
    assert (bc is None) == (probase_mode == "relational")
    assert bc is None or not bc._jbroadcast.isValid()


def test_storeless_runs_write_separate_directories(spark):
    """Two storeless runs in one process never share an output directory,
    and each stays under the ``/tmp/folkscope_mem_`` prefix."""
    import os

    from folkscope_spark.pipeline import run_pipeline

    kw = dict(n_pages=20, n_items=10, max_extra=1, with_concepts=False)
    a, b = run_pipeline(spark, None, **kw), run_pipeline(spark, None, **kw)
    pa, pb = (r["store"].data_path("kg_triples") for r in (a, b))
    assert pa != pb and os.path.dirname(pa) != os.path.dirname(pb)
    for p in (pa, pb):
        assert p.startswith("/tmp/folkscope_mem_") and os.path.isdir(p)
    a.release()
    b.release()


def test_pipeline_relational_million_row_probase(spark):
    """The relational path against a Probase padded to >= 10^6 instances
    (none reachable from the corpus) — noise must not change the concept KG
    and nothing funnels through the driver."""
    from folkscope_spark.pipeline import run_pipeline
    from folkscope_spark.synthetic import probase_df

    kw = dict(
        n_pages=100, n_items=30, max_extra=1,
        with_concepts=True, with_canonicalize=False,
    )
    base = run_pipeline(spark, None, **kw)
    noise = spark.range(1_000_000).select(
        F.lit("noiseconcept").alias("concept"),
        F.concat(F.lit("zz noise "), "id").alias("instance"),
        F.lit(1.0).alias("freq"),
    )
    big = probase_df(spark).select("concept", "instance", "freq").unionByName(noise)
    padded = run_pipeline(
        spark, None, probase=big, probase_mode="relational", **kw
    )
    assert padded["probase_mode"] == "relational"
    a = {tuple(x) for x in base["concept_triples"].collect()}
    b = {tuple(x) for x in padded["concept_triples"].collect()}
    assert a == b and a

