"""Guards for the vectorized driver LSH verify.

`_lsh_cc_driver`'s exact-Jaccard verify is one vectorized count (sorted
form*V+token keys, searchsorted lookups, bincount per pair) for any
vocabulary size.  These tests pin the clusters against a brute-force
reference on small and large (>4096 token) vocabularies, including at the
exact threshold boundary where float semantics matter (inter/union >=
threshold is computed as a division, never as inter >= threshold*union,
which rounds differently).
"""

from __future__ import annotations

from folkscope_spark.canonicalize import _lsh_cc_driver


def _brute_clusters(texts, threshold):
    """All-pairs exact-Jaccard union-find reference (no LSH)."""
    sets = [frozenset(t.lower().split()) for t in texts]
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            u = len(sets[a] | sets[b])
            if u and len(sets[a] & sets[b]) / u >= threshold:
                ra, rb = find(a), find(b)
                if ra != rb:
                    lo, hi = (ra, rb) if texts[ra] < texts[rb] else (rb, ra)
                    parent[hi] = lo
    return {
        (texts[i], texts[find(i)]) for i in range(len(texts))
        if texts[find(i)] != texts[i]
    }


def test_exact_threshold_boundary_small_vocab():
    # 9 shared tokens of 10 -> jaccard 9/11 < 0.8; 9 of 9+1 union 10 ->
    # 9/10 == 0.9 exactly: must be INCLUDED at threshold 0.9
    base = "t0 t1 t2 t3 t4 t5 t6 t7 t8".split()
    a = " ".join(base + ["x"])       # 10 tokens
    b = " ".join(base)               # 9 tokens, union 10, inter 9 -> 0.9
    texts = [a, b, "unrelated words entirely different"]
    got = set(_lsh_cc_driver(texts))
    want = _brute_clusters(texts, 0.9)
    # LSH banding can only MISS pairs, never invent them; on this corpus
    # with 16 hashes / 4 bands a 0.9-similar pair is found
    assert got == want
    assert (max(a, b), min(a, b)) in got


def test_random_small_vocab_matches_brute_force():
    import random

    random.seed(13)
    vocab_small = ["w%d" % i for i in range(40)]
    texts = list({
        " ".join(random.choices(vocab_small, k=random.randint(3, 6)))
        for _ in range(400)
    })
    small = set(_lsh_cc_driver(texts))
    assert small == _brute_clusters(texts, 0.9)


def test_large_vocab_clusters_only_above_threshold():
    # >4096 distinct tokens; duplicates with >=0.9 jaccard must still cluster
    texts = ["u%d v%d w%d" % (i, i, i) for i in range(1500)]
    texts += ["a b c d e f g h i j", "a b c d e f g h i k",
              "a b c d e f g h i j extra"]
    out = dict(_lsh_cc_driver(list(dict.fromkeys(texts))))
    # "…i j" vs "…i k": inter 9, union 11 -> 0.818 < 0.9 (no edge);
    # "…i j" vs "…i j extra": inter 10, union 11 -> 0.909 >= 0.9 (edge)
    assert out.get("a b c d e f g h i j extra") == "a b c d e f g h i j"
    assert "a b c d e f g h i k" not in out
