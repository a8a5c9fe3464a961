"""bench.py stage-timing tripwire (VERDICT r3 next #5): a seeded slowdown
must be flagged, plain noise must not."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# importing bench.py sets SPARK_DRIVER_MEM=16g for its own legs; keep that
# out of the test process, or every later Spark test in the suite starts its
# JVM with a 16g heap (the suite's JVM then outgrows a 16 GB host)
_driver_mem = os.environ.get("SPARK_DRIVER_MEM")
from bench import latest_committed_stages, stage_regressions  # noqa: E402

if _driver_mem is None:
    os.environ.pop("SPARK_DRIVER_MEM", None)
else:
    os.environ["SPARK_DRIVER_MEM"] = _driver_mem


COMMITTED = {"parse": 13.5, "match": 1.0, "concept_triples": 8.4, "write": 6.9}


def test_fires_on_seeded_slowdown():
    current = dict(COMMITTED)
    current["parse"] = COMMITTED["parse"] * 2.5  # seeded 2.5x regression
    out = stage_regressions(current, COMMITTED, factor=2.0)
    assert set(out) == {"parse"}
    assert out["parse"]["committed_s"] == 13.5


def test_silent_within_factor():
    current = {k: v * 1.8 for k, v in COMMITTED.items()}
    assert stage_regressions(current, COMMITTED, factor=2.0) == {}


def test_subsecond_stages_ignored():
    # match committed at 1.0s: co-tenant noise can triple it — not a signal
    current = dict(COMMITTED)
    current["match"] = 3.5
    assert stage_regressions(current, COMMITTED, factor=2.0) == {}


def test_missing_stage_in_current_run_ignored():
    current = {k: v for k, v in COMMITTED.items() if k != "write"}
    assert stage_regressions(current, COMMITTED, factor=2.0) == {}


def test_latest_committed_stages_reads_newest_round(tmp_path):
    for n, parse_s in ((2, 99.0), (3, 13.5)):
        with open(tmp_path / f"BENCH_r0{n}.json", "w") as f:
            json.dump({"kg": {"stage_timings": {"parse": parse_s}}}, f)
    assert latest_committed_stages(str(tmp_path)) == {"parse": 13.5}


def test_latest_committed_stages_empty_dir(tmp_path):
    assert latest_committed_stages(str(tmp_path)) == {}


def test_latest_committed_stages_skips_null_parsed_round(tmp_path):
    """A timed-out round publishes {"parsed": null} (BENCH_r04 did); it must
    not disarm the tripwire — fall back to the newest complete round
    (VERDICT r4 #2)."""
    with open(tmp_path / "BENCH_r03.json", "w") as f:
        json.dump({"parsed": {"kg": {"stage_timings": {"parse": 13.5}}}}, f)
    with open(tmp_path / "BENCH_r04.json", "w") as f:
        json.dump({"rc": 124, "parsed": None}, f)
    assert latest_committed_stages(str(tmp_path)) == {"parse": 13.5}


def test_latest_committed_stages_skips_empty_stage_timings(tmp_path):
    with open(tmp_path / "BENCH_r03.json", "w") as f:
        json.dump({"kg": {"stage_timings": {"parse": 13.5}}}, f)
    with open(tmp_path / "BENCH_r04.json", "w") as f:
        json.dump({"kg": {"stage_timings": {}}}, f)
    with open(tmp_path / "BENCH_r05.json", "w") as f:
        f.write("not json at all")
    assert latest_committed_stages(str(tmp_path)) == {"parse": 13.5}


def test_latest_committed_kg_returns_full_section(tmp_path):
    from bench import latest_committed_kg

    with open(tmp_path / "BENCH_r03.json", "w") as f:
        json.dump(
            {
                "parsed": {
                    "kg": {
                        "stage_timings": {"parse": 13.5},
                        "throughput_wall_s": 40.69,
                        "wall_n4_s": 588.24,
                    }
                }
            },
            f,
        )
    with open(tmp_path / "BENCH_r04.json", "w") as f:
        json.dump({"parsed": None}, f)
    kg = latest_committed_kg(str(tmp_path))
    assert kg["throughput_wall_s"] == 40.69
    assert kg["wall_n4_s"] == 588.24


def test_latest_committed_kg_all_incomplete(tmp_path):
    from bench import latest_committed_kg

    with open(tmp_path / "BENCH_r04.json", "w") as f:
        json.dump({"parsed": None}, f)
    assert latest_committed_kg(str(tmp_path)) == {}


def test_emitter_partial_then_final(tmp_path, capsys, monkeypatch):
    """Every leg emission is a full parseable JSON line; intermediate ones
    carry partial=true, the final one does not (VERDICT r4 #1a)."""
    import bench

    monkeypatch.setattr(bench, "PROGRESS_PATH", str(tmp_path / "PROGRESS.json"))
    em = bench._Emitter("0.1")
    em.queries["q1"] = 1.5
    em.emit("headline_queries")
    em.kg["throughput_wall_s"] = 40.0
    em.emit("throughput")
    em.emit("", final=True)
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    docs = [json.loads(l) for l in lines]
    assert len(docs) == 3
    # stdout carries the slim copy: leg count + last leg (the full list
    # lives in the progress file — see test_slim_emission_fits_recording_tail)
    assert docs[0]["partial"] and docs[0]["legs_completed"] == 1
    assert docs[0]["last_leg"] == "headline_queries"
    assert docs[1]["partial"] and docs[1]["kg"]["throughput_wall_s"] == 40.0
    assert "partial" not in docs[2]  # final
    assert docs[2]["queries"] == {"q1": 1.5}
    # progress file holds the FULL newest emission (un-slimmed leg list)
    with open(tmp_path / "PROGRESS.json") as f:
        assert json.load(f)["legs_completed"] == [
            "headline_queries", "throughput"
        ]


def test_emitter_budget_skip_records_and_emits(tmp_path, capsys, monkeypatch):
    """A leg that does not fit the budget is recorded in
    kg.skipped_for_budget and a partial emission is produced (VERDICT r4 #1b)."""
    import bench

    monkeypatch.setattr(bench, "PROGRESS_PATH", str(tmp_path / "PROGRESS.json"))
    monkeypatch.setattr(bench, "BUDGET_S", 10.0)
    em = bench._Emitter("0.1")
    assert em.fits("cheap_leg", est_s=5.0)
    assert not em.fits("expensive_leg", est_s=1000.0)
    skipped = em.kg["skipped_for_budget"]
    assert skipped == [{"leg": "expensive_leg", "estimate_s": 1000.0}]
    out = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert out and out[-1]["legs_completed"] == 1
    assert out[-1]["last_leg"] == "skip:expensive_leg"
    assert out[-1]["kg"]["skipped_for_budget"] == skipped


def test_slim_emission_fits_recording_tail():
    """The harness recording BENCH_r*.json parses the metric JSON from the
    last ~2000 chars of output; every stdout emission must fit, even the
    maximal full-run document (all legs, both pairings, nested leg dicts).
    Scalars must survive slimming; nested per-stage timing dicts must not."""
    import json

    from bench import _slim

    stages = {
        "generate": 0.245, "score": 0.066, "parse": 15.821,
        "mine_count": 0.046, "mine_finish": 13.294, "match": 30.135,
        "merge": 0.138, "triple_src": 0.078, "canonicalize": 6.221,
        "triples": 0.091, "conceptualize": 0.054, "concept_triples": 7.546,
        "write": 3.19, "final_count": 0.167,
        "parse_kernel_wall_s": 92.895, "parse_kernel_cputime_s": 92.618,
        "match_kernel_wall_s": 394.676, "match_kernel_cputime_s": 393.033,
        "conceptualize_kernel_wall_s": 1.583,
        "conceptualize_kernel_cputime_s": 1.572,
    }
    queries = {
        "a1_signature_count": 6.118, "j1_broadcast_enrich": 1.619,
        "w2_topk_per_key": 1.203, "a4_weighted_agg": 0.78,
        "w1_rank1_mode": 0.867, "window_tumbling": 0.909,
        "f1_hash_keys": 0.69, "minhash_band": 0.878, "simhash": 0.829,
        "quality_score": 0.339, "ann_cosine_topk": 0.937,
        "fs_clean_text": 2.899, "kg_pipeline": 62.667,
    }
    kg = {
        "throughput_pages": 100000, "throughput_wall_s": 62.67,
        "docs_per_sec": 1595.74, "stage_timings": stages,
        "stage_regressions": {
            k: {"now_s": 9.9, "committed_s": 1.1}
            for k in ("parse", "match", "canonicalize", "concept_triples",
                      "write", "mine_finish")
        },
        "window_load_factor": 1.54,
        "probase_relational_leg": {
            "pages": 100000, "probase_rows": 5000000, "wall_s": 66.53,
            "docs_per_sec": 1503.12, "stage_timings": stages,
            "vs_broadcast_wall_s": 3.86, "vs_broadcast_concept_stages_s": 13.36,
        },
        "reduced_scale": True, "scale_pages": 100000,
        "scale_runs_per_side": 2, "wall_n4_s": 869.33, "wall_n16_s": 265.15,
        "docs_per_sec_n4": 115.03, "docs_per_sec_n16": 377.14,
        "scaling_efficiency": 0.82, "host_cpu_ceiling_efficiency": 0.976,
        "scaling_efficiency_vs_ceiling": 0.84,
        "stage_timings_n4": stages, "stage_timings_n16": stages,
        "concept_text_leg": {
            "pages": 25000, "wall_s": 57.37, "concept_text_stage_s": 1.74,
            "stage_timings": stages,
        },
        "wall_n8_s": 441.77, "wall_n32_s": 265.49,
        "scaling_efficiency_8_32": 0.416,
        "host_cpu_ceiling_efficiency_8_32": 0.755,
        "scaling_efficiency_8_32_vs_ceiling": 0.551,
        "stage_timings_n8": stages, "stage_timings_n32": stages,
        "skipped_for_budget": [{"leg": "pairing_8_32", "estimate_s": 939.6}],
    }
    doc = {
        "metric": "headline_queries_plus_kg_wall", "value": 2838.362,
        "unit": "sec", "queries": queries, "sf": 0.1, "kg": kg,
        "legs_completed": [
            "headline_queries", "throughput", "probase_relational",
            "scaling_n4_run1", "scaling_n16_run1", "scaling_pair1",
            "scaling_n4_run2", "scaling_n16_run2", "scaling_pair2",
            "concept_text", "scaling_n8", "scaling_n32",
        ],
        "partial": True,
    }
    slim = _slim(doc)
    line = json.dumps(slim)
    assert len(line) < 1900, len(line)
    assert json.loads(line)["queries"] == queries  # required driver shape
    assert slim["metric"] == doc["metric"] and slim["value"] == doc["value"]
    assert slim["kg"]["scaling_efficiency"] == 0.82
    assert slim["kg"]["docs_per_sec"] == 1595.74
    assert "stage_timings" not in slim["kg"]
    assert "stage_timings_n4" not in slim["kg"]
    assert "stage_timings" not in slim["kg"]["probase_relational_leg"]
    assert slim["kg"]["stage_regressions_truncated"] == 6
    assert len(slim["kg"]["stage_regressions"]) == 4
    assert slim["legs_completed"] == 12 and slim["last_leg"] == "scaling_n32"
    # the full-detail document is untouched (it goes to the progress file)
    assert doc["kg"]["stage_timings"] is stages
    assert doc["legs_completed"][-1] == "scaling_n32"
