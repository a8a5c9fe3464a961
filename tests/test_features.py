"""J7/A6/D12 feature-stage tests + U4 subset dedupe + P8 skip words."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from folkscope_spark.session import get_spark

    s = get_spark(app="t6", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(
        [
            ("A1-B1", "capableOf", "keeping the foot warm", 0.9),
            ("A1-B2", "capableOf", "keeping the foot warm", 0.8),
            ("A2-B1", "usedFor", "storage", 0.7),
        ],
        "subj string, pred string, obj string, score double",
    )


def test_embed_deterministic_unit_norm(spark, triples):
    from folkscope_spark.features import EMBED_DIM, embed_sentences
    import numpy as np

    e1 = embed_sentences(triples).select("obj", "embedding").collect()
    e2 = embed_sentences(triples).select("obj", "embedding").collect()
    m1 = {r["obj"]: tuple(r["embedding"]) for r in e1}
    m2 = {r["obj"]: tuple(r["embedding"]) for r in e2}
    assert m1 == m2
    for v in m1.values():
        assert len(v) == EMBED_DIM
        assert np.linalg.norm(v) == pytest.approx(1.0, abs=1e-5)


def test_item_feature_means(spark, triples):
    from folkscope_spark.features import embed_sentences, item_feature_means

    emb = embed_sentences(triples)
    means = item_feature_means(emb)
    rows = {r["item"]: r["feature"] for r in means.collect()}
    # A1, A2, B1, B2 all appear as endpoints
    assert set(rows) == {"A1", "A2", "B1", "B2"}
    # B1 touches both edges; its mean differs from A2's single edge
    assert rows["B1"] != rows["A2"]
    # A1's two incident edges share the same obj text -> mean == that embedding
    one = emb.filter(F.col("subj") == "A1-B1").first()["embedding"]
    assert rows["A1"] == pytest.approx(list(one), abs=1e-6)


def test_export_kg_tensors(spark, triples):
    from folkscope_spark.features import export_kg_tensors

    out = export_kg_tensors(triples)
    ents = {r["key"]: r["id"] for r in out["entities"].collect()}
    rels = {r["key"]: r["id"] for r in out["relations"].collect()}
    facts = {(r["head_id"], r["rel_id"], r["tail_id"]) for r in out["facts"].collect()}
    assert sorted(ents.values()) == list(range(len(ents)))
    assert sorted(rels.values()) == list(range(len(rels)))
    assert len(facts) == 3
    assert (ents["A1-B1"], rels["capableOf"], ents["keeping the foot warm"]) in facts


def test_skeleton_subset_dedupe():
    from folkscope_spark.match import skeleton_subset_dedupe

    evs = [
        {"eid": "a", "skeleton_indices": [0, 1, 2]},
        {"eid": "b", "skeleton_indices": [0, 1]},      # subset of a -> dropped
        {"eid": "c", "skeleton_indices": [3, 4]},      # disjoint -> kept
    ]
    out = skeleton_subset_dedupe(evs)
    assert [e["eid"] for e in out] == ["a", "c"]


def test_parse_assertions_skip_words(spark):
    """P8 (extractor.py:337-339,393-395): a sentence whose raw tokens meet
    the skip set is dropped.  The check is the reference's case-sensitive
    set intersection, so a capitalized token does not match."""
    import hashlib

    from folkscope_spark.parse import parse_assertions

    tails = [
        "capable of keeping cotton warm",
        "capable of keeping Cotton warm",
        "capable of keeping people warm",
        "capable of keeping people warm",
    ]
    assertions = spark.createDataFrame(
        [("capableOf", t) for t in tails], "relation string, tail string"
    )
    rows = parse_assertions(assertions, skip_words={"cotton"}).collect()
    # sid = md5(relation || tail) names the distinct tail each row parses
    sid = {
        hashlib.md5(f"capableOf\x1f{t}".encode()).hexdigest(): t for t in tails
    }
    got = {sid[r["sid"]]: r["weight"] for r in rows}
    assert got == {
        "capable of keeping Cotton warm": 1.0,
        "capable of keeping people warm": 2.0,
    }
