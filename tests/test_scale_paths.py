"""Scale-path correctness: zipWithIndex dictionary, both canonicalize tiers,
binned PR sweep, relational NER-counter merge (VERDICT r1 'weak' items)."""

import pytest
from pyspark.sql import functions as F

from folkscope_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app="scale-t", master="local[4]", shuffle_partitions=4)


def test_build_dictionary_is_global_rank(spark):
    """Two-pass block assignment must equal row_number-over-order-by ranks."""
    from folkscope_spark.dictionary import build_dictionary

    keys = ["k%03d" % i for i in range(257)]
    import random

    rng = random.Random(7)
    rng.shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys for _ in (0, 1)], "key string")
    out = {r["key"]: r["id"] for r in build_dictionary(df, "key", n_partitions=8).collect()}
    expected = {k: i for i, k in enumerate(sorted(set(keys)))}
    assert out == expected


def test_canonicalize_surface_forms_matches_exact_jaccard_closure(spark):
    """The rewrite table equals exact all-pairs Jaccard >= 0.9 over lowercased
    whitespace tokens, closed transitively by union-find with the
    lexicographic-min text as canonical, on both the driver LSH path (the
    default) and the distributed path (``driver_threshold=0``)."""
    from folkscope_spark.canonicalize import canonicalize_surface_forms

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9".split()
    chain_a = " ".join(base)  # 10 tokens
    chain_b = " ".join(base + ["w10"])  # J(A,B) = 10/11
    chain_c = " ".join(base + ["w10", "w11"])  # J(B,C) = 11/12, J(A,C) = 10/12
    near = "v0 v1 v2 v3 v4 v5 v6 v7"
    forms = [
        "red apple pie", "Apple red pie", "pie RED apple",  # same token set
        chain_c, chain_b, chain_a,
        near, near + " v8",  # J = 8/9: below the threshold, never merged
        "green tea", "a lone form",
    ]
    sets = [frozenset(t.lower().split()) for t in forms]
    parent = list(range(len(forms)))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in range(len(forms)):
        for b in range(a + 1, len(forms)):
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.9:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = (ra, rb) if forms[ra] < forms[rb] else (rb, ra)
                    parent[hi] = lo
    want = {
        (t, forms[find(i)]) for i, t in enumerate(forms) if forms[find(i)] != t
    }
    # the planted structure is what the expectation encodes
    assert len(sets[3] & sets[5]) / len(sets[3] | sets[5]) < 0.9
    assert want == {
        ("red apple pie", "Apple red pie"),
        ("pie RED apple", "Apple red pie"),
        (chain_b, chain_a),
        (chain_c, chain_a),
    }

    df = spark.createDataFrame([(t,) for t in forms + forms[:3]], "obj string")
    for kw in ({}, {"driver_threshold": 0}):
        got = {
            (r["text"], r["canonical_text"])
            for r in canonicalize_surface_forms(df, "obj", **kw).collect()
        }
        assert got == want, kw


def test_canonicalize_tiers_emit_same_rewrite_table(spark):
    """The driver tier (the default) and the distributed tier
    (``driver_threshold=0``) give the same rewrite table: same tokenizer,
    same MinHash and the same band buckets, so even the pairs LSH banding
    misses are the same.  1,000 planted J = 10/11 pairs (each misses with
    p ~ 1.4%) plus forms that differ only in case or whitespace."""
    from folkscope_spark.canonicalize import canonicalize_surface_forms

    forms = []
    for i in range(1000):
        base = " ".join("p%dw%d" % (i, j) for j in range(10))
        forms += [base, base + " p%dx" % i]
    forms += [
        "red apple pie", " red apple pie", "red apple pie ", "red apple pie",
        "red\tapple pie", "RED Apple pie", "", " ",
    ]
    df = spark.createDataFrame([(t,) for t in forms], "obj string")

    def table(**kw):
        return {
            (r["text"], r["canonical_text"])
            for r in canonicalize_surface_forms(df, "obj", **kw).collect()
        }

    driver = table()
    assert table(driver_threshold=0) == driver
    # every case/whitespace variant joins the lexicographic-min spelling;
    # the whitespace-only forms have no tokens and are never rewritten
    assert {(t, c) for t, c in driver if "apple" in t.lower()} == {
        (t, " red apple pie") for t in forms[-8:-2] if t != " red apple pie"
    }
    assert not {t for t, _ in driver} & {"", " "}
    assert len(driver) > 950


def _closure_corpus():
    """~400 seeded random forms and a 31-form chain.  Short forms: 1-3 tokens
    of a 12-word vocabulary in random case and spacing (many share a token
    set).  Long forms: one of 20 ten-token stems with up to two tokens
    dropped and two added (J from 0.8 to 1).  Chain: ten tokens plus 0..30
    extra ones, so each link has J >= 10/11 and the ends J = 10/40."""
    import random

    rng = random.Random(0)
    words = ["w%d" % i for i in range(12)]
    forms = set()
    while len(forms) < 200:
        toks = rng.sample(words, rng.randint(1, 3))
        toks = [t.upper() if rng.random() < 0.3 else t for t in toks]
        forms.add(rng.choice([" ", "  ", "\t"]).join(toks))
    while len(forms) < 400:
        s = rng.randrange(20)
        toks = ["s%dt%d" % (s, j) for j in range(10)]
        for _ in range(rng.randint(0, 2)):
            toks.pop(rng.randrange(len(toks)))
        toks += ["s%dx%d" % (s, rng.randrange(4)) for _ in range(rng.randint(0, 2))]
        rng.shuffle(toks)
        forms.add(" ".join(toks))
    base = " ".join("c%d" % j for j in range(10))
    chain = [base + "".join(" x%d" % j for j in range(i)) for i in range(31)]
    return sorted(forms) + chain, chain


def test_canonicalize_tiers_match_brute_force_closure(spark):
    """Both tiers equal a brute-force all-pairs exact-Jaccard union-find with
    the lexicographic-min text as root.  The hashes are fixed and this
    corpus is chosen so that LSH banding misses no qualifying pair (asserted
    below), so the table is the exact closure, chain included."""
    from folkscope_spark.canonicalize import _minhash_bands, canonicalize_surface_forms

    forms, chain = _closure_corpus()
    sets = [frozenset(t.lower().split()) for t in forms]
    bands = _minhash_bands(forms)[-1]
    parent = list(range(len(forms)))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    qualifying = 0
    for a in range(len(forms)):
        for b in range(a + 1, len(forms)):
            u = len(sets[a] | sets[b])
            if u and len(sets[a] & sets[b]) / u >= 0.9:
                qualifying += 1
                assert any((k[a] == k[b]).all() for k in bands), (forms[a], forms[b])
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = (ra, rb) if forms[ra] < forms[rb] else (rb, ra)
                    parent[hi] = lo
    want = {(t, forms[find(i)]) for i, t in enumerate(forms) if forms[find(i)] != t}
    assert qualifying > 200
    # the chain closes only transitively: its ends are far apart
    assert len(sets[-31] & sets[-1]) / len(sets[-31] | sets[-1]) < 0.9
    assert {(t, chain[0]) for t in chain[1:]} <= want

    df = spark.createDataFrame([(t,) for t in forms], "obj string")
    for kw in ({}, {"driver_threshold": 0}):
        got = {
            (r["text"], r["canonical_text"])
            for r in canonicalize_surface_forms(df, "obj", **kw).collect()
        }
        assert got == want, kw


def test_canonicalize_hot_bucket_cap_on_both_tiers(spark):
    """Distinct case spellings of one token set share every band key: 200
    of them fit one bucket (199 rewrites to the min spelling), 300 exceed
    ``MAX_BUCKET`` = 256 in every band and are never compared (0 rewrites),
    on both tiers."""
    from folkscope_spark.canonicalize import canonicalize_surface_forms

    text = "red apple pie"
    letters = [j for j, c in enumerate(text) if c != " "]
    spellings = []
    for i in range(300):  # bit b of i upper-cases the b-th letter
        up = {j for b, j in enumerate(letters) if i >> b & 1}
        spellings.append("".join(c.upper() if j in up else c for j, c in enumerate(text)))
    assert len(set(spellings)) == 300
    for n, want_n in ((200, 199), (300, 0)):
        df = spark.createDataFrame([(t,) for t in spellings[:n]], "obj string")
        for kw in ({}, {"driver_threshold": 0}):
            got = canonicalize_surface_forms(df, "obj", **kw).collect()
            assert len(got) == want_n, (n, kw)
            assert {r["canonical_text"] for r in got} <= {min(spellings[:n])}


def test_canonicalize_unpersists_its_caches(spark):
    """Neither tier leaves a cached frame behind in the session."""
    from folkscope_spark.canonicalize import canonicalize_surface_forms

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    df = spark.createDataFrame(
        [("red apple pie",), ("Red apple pie",), ("green tea",)], "obj string"
    )
    for kw in ({}, {"driver_threshold": 0}):
        spark.catalog.clearCache()
        assert cache_manager.isEmpty()
        assert canonicalize_surface_forms(df, "obj", **kw).collect() == [
            ("red apple pie", "Red apple pie")
        ]
        assert cache_manager.isEmpty(), kw


def test_pr_curve_binned_matches_exact_at_bin_edges(spark):
    """With scores exactly on bin edges the binned sweep reproduces the exact
    per-row sweep's cumulative counts."""
    from folkscope_spark.score import pr_curve, pr_curve_binned

    rows = [(i / 10.0, "v" if i % 2 else "i") for i in range(10)]
    df = spark.createDataFrame(rows, "plausibility double, label string")
    binned = {r["threshold"]: (r["n_kept"], r["n_pos"]) for r in pr_curve_binned(df, n_bins=10).collect()}
    exact = pr_curve(df).select("plausibility", "n_kept", "n_pos").collect()
    for r in exact:
        assert binned[r["plausibility"]] == (r["n_kept"], r["n_pos"])


def test_select_threshold_uses_binned_curve(spark):
    from folkscope_spark.score import select_threshold

    rows = [(0.9, "v"), (0.8, "v"), (0.7, "i"), (0.6, "v"), (0.2, "i")]
    df = spark.createDataFrame(rows, "plausibility double, label string")
    ts = select_threshold(df, min_precision=0.75, n_bins=10)
    assert ts == pytest.approx(0.6)  # 3/4 kept at 0.6 -> precision 0.75


def test_merge_eventualities_relational_ner_counters(spark):
    """posexplode + sum + map reassembly == the old per-row Counter merge."""
    from folkscope_spark.match import merge_eventualities

    rows = [
        ("e1", "capableOf", "p", ["keep", "foot"], ["VB", "NN"],
         [], [0, 1], [0], ["O", "PERSON"], 2.0, "s1"),
        ("e1", "capableOf", "p", ["keep", "foot"], ["VB", "NN"],
         [], [0, 1], [0], ["O", "CITY"], 3.0, "s2"),
        ("e2", "capableOf", "p", ["run"], ["VB"],
         [], [0], [0], ["O"], 1.0, "s3"),
    ]
    schema = (
        "eid string, relation string, pattern_sig string, words array<string>, "
        "pos_tags array<string>, dependencies array<struct<gov:int,rel:string,dep:int>>, "
        "skeleton_indices array<int>, verb_indices array<int>, ners array<string>, "
        "frequency double, sid string"
    )
    df = spark.createDataFrame(rows, schema)
    out = {r["eid"]: r for r in merge_eventualities(df).collect()}
    e1 = out["e1"]
    assert e1["frequency"] == 5.0 and e1["n_sentences"] == 2
    assert e1["ner_counters"][0] == {"O": 5.0}
    assert e1["ner_counters"][1] == {"PERSON": 2.0, "CITY": 3.0}
    assert out["e2"]["ner_counters"] == [{"O": 1.0}]


def test_merge_skew_eid_many_variants(spark):
    """A hot eid with many NER variants merges without any per-row blowup:
    the result row is bounded by positions x labels."""
    from folkscope_spark.match import merge_eventualities

    labels = ["O", "PERSON", "CITY", "DATE"]
    rows = [
        ("hot", "capableOf", "p", ["a", "b"], ["NN", "NN"], [], [0], [0],
         ["O", labels[i % 4]], 1.0, "s%d" % i)
        for i in range(5000)
    ]
    schema = (
        "eid string, relation string, pattern_sig string, words array<string>, "
        "pos_tags array<string>, dependencies array<struct<gov:int,rel:string,dep:int>>, "
        "skeleton_indices array<int>, verb_indices array<int>, ners array<string>, "
        "frequency double, sid string"
    )
    df = spark.createDataFrame(rows, schema).repartition(4)
    out = merge_eventualities(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["frequency"] == 5000.0
    assert r["ner_counters"][0] == {"O": 5000.0}
    assert sum(r["ner_counters"][1].values()) == 5000.0
    assert set(r["ner_counters"][1]) == set(labels)


def test_skew_aware_join_equals_plain_join(spark):
    """Hot/cold split join == plain inner join, with the hot slice resolved
    through the broadcast sub-dictionary."""
    from folkscope_spark.dictionary import detect_hot_keys, skew_aware_join

    facts = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("k%d" % i, i) for i in range(50)],
        "key string, v int",
    )
    dim = spark.createDataFrame(
        [("hot", 0)] + [("k%d" % i, i + 1) for i in range(50)],
        "key string, id int",
    )
    hot = detect_hot_keys(facts, "key", threshold_ratio=0.5)
    assert [r["key"] for r in hot.collect()] == ["hot"]
    got = skew_aware_join(facts, dim, "key", hot_keys=hot)
    plain = facts.join(dim, "key")
    assert got.count() == plain.count() == 550
    diff = got.exceptAll(plain).count() + plain.exceptAll(got).count()
    assert diff == 0


def test_export_kg_tensors_skew_path_matches_broadcast(spark):
    """The skew-aware entity join (forced via threshold 0) produces the same
    facts tensor as the broadcast path."""
    from folkscope_spark.features import export_kg_tensors

    t = spark.createDataFrame(
        [("s%d" % (i % 5), "p%d" % (i % 2), "o%d" % (i % 7), 0.5) for i in range(200)],
        "subj string, pred string, obj string, score double",
    )
    a = export_kg_tensors(t)["facts"]
    b = export_kg_tensors(t, broadcast_entities_below=0)["facts"]
    assert a.exceptAll(b).count() + b.exceptAll(a).count() == 0


def test_match_fat_thinning_keyed_by_relation_and_eid(spark):
    """ADVICE r2 (high): eids are relation-independent (sha1 over deps/words/
    pos only), but merge_eventualities groups by (eid, relation).  When one
    sentence is extracted under two relations inside a single partition, BOTH
    (eid, relation) groups must receive a non-null fat row — thinning keyed by
    eid alone left the second relation's group all-null, and
    first(ignorenulls) propagated nulls into conceptualize.  A second
    sentence with s1's content (``s3``) merges into s1's group, which keeps
    its single non-null fat row."""
    from folkscope_spark.match import match_patterns, merge_eventualities

    pat = (("NN", "VBP"), ((1, "nsubj", 0),))
    mined = {rel: {"patterns": [pat]} for rel in ("capableOf", "usedFor")}
    rows = [
        ("s1", "capableOf", 1.0, ["NNS", "VBP"], ["dog", "run"], ["O", "O"],
         [{"gov": 1, "rel": "nsubj", "dep": 0}]),
        ("s2", "usedFor", 1.0, ["NNS", "VBP"], ["dog", "run"], ["O", "O"],
         [{"gov": 1, "rel": "nsubj", "dep": 0}]),
        ("s3", "capableOf", 1.0, ["NNS", "VBP"], ["dog", "run"], ["O", "O"],
         [{"gov": 1, "rel": "nsubj", "dep": 0}]),
    ]
    schema = (
        "sid string, relation string, weight double, pos_tags array<string>, "
        "lemmas array<string>, ners array<string>, "
        "dependencies array<struct<gov:int,rel:string,dep:int>>"
    )
    parsed = spark.createDataFrame(rows, schema).coalesce(1)
    merged = merge_eventualities(match_patterns(parsed, mined)).collect()
    assert len(merged) == 2  # one (eid, relation) group per relation
    assert {r["relation"] for r in merged} == {"capableOf", "usedFor"}
    assert len({r["eid"] for r in merged}) == 1  # same eid, two relations
    for r in merged:
        assert r["pattern_sig"] is not None, r["relation"]
        assert r["pos_tags"] is not None and r["dependencies"] is not None
        assert r["skeleton_indices"] is not None
    by_rel = {r["relation"]: r for r in merged}
    assert by_rel["capableOf"]["frequency"] == 2.0
    assert by_rel["capableOf"]["n_sentences"] == 2
    assert by_rel["usedFor"]["n_sentences"] == 1
