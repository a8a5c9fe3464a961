"""VF2 matcher + pattern-op semantics tests (SURVEY.md §2.9 O1-O5)."""

from folkscope_spark.graphs import (
    DiGraph,
    check_connect,
    check_match_with_must,
    check_match_with_prefix,
    construct_pattern,
    dedupe_by_subsumption,
    ends_forbidden,
    get_subisomorphisms,
    normalize_pattern,
    precheck,
    skeletonize_pattern,
    subisomorphic,
)


def sent_graph():
    # "they are good for running" — PRP VBP JJ IN VBG with copular deps
    pos = ["PRP", "VBP", "JJ", "IN", "VBG"]
    deps = [(2, "nsubj", 0), (2, "cop", 1), (2, "obl:for", 4), (4, "case", 3)]
    return DiGraph(pos, deps)


def test_exact_match():
    g = sent_graph()
    p = DiGraph(["PRP", "VBP", "JJ"], [(2, "nsubj", 0), (2, "cop", 1)])
    isos = get_subisomorphisms(g, p)
    assert isos == [[0, 1, 2]]


def test_fuzzy_node_labels():
    # pattern NN matches NNS in the graph (retriever node_compat_fn)
    g = DiGraph(["NNS", "VBZ"], [(1, "nsubj", 0)])
    p = DiGraph(["NN", "VBZ"], [(1, "nsubj", 0)])
    assert subisomorphic(g, p)
    # but graph NN does not satisfy pattern NNS
    g2 = DiGraph(["NN", "VBZ"], [(1, "nsubj", 0)])
    p2 = DiGraph(["NNS", "VBZ"], [(1, "nsubj", 0)])
    assert not subisomorphic(g2, p2)


def test_edge_label_truncation():
    # graph label "obl:for" satisfies pattern label "obl" (edge_compat_fn :-split)
    g = sent_graph()
    p = DiGraph(["JJ", "VBG"], [(0, "obl", 1)])
    assert subisomorphic(g, p)
    p2 = DiGraph(["JJ", "VBG"], [(0, "nmod", 1)])
    assert not subisomorphic(g, p2)


def test_indegree_guard():
    # graph vertex with lower indegree than pattern vertex cannot host it
    g = DiGraph(["NN", "NN"], [(0, "compound", 1)])
    p = DiGraph(["NN", "NN", "NN"], [(0, "compound", 2), (1, "compound", 2)])
    assert not subisomorphic(g, p)


def test_induced_rejects_extra_edge():
    # graph has det edge inside matched pair but pattern omits it -> rejected
    g = DiGraph(["DT", "NN"], [(1, "det", 0)])
    p = DiGraph(["DT", "NN"], [])
    # no pattern edges at all: precheck passes (0 edges) but induced match fails
    isos = get_subisomorphisms(g, p)
    assert isos == []


def test_precheck_prunes():
    g = sent_graph()
    p = DiGraph(["WRB"], [])
    assert not precheck(g, p)


def test_construct_pattern_sentence_order():
    # match maps pattern vids [2,0,1] -> sentence positions; canonical form
    # reorders labels by sentence order and renumbers edges
    pattern = (("JJ", "PRP", "VBP"), ((0, "nsubj", 1), (0, "cop", 2)))
    match = [5, 1, 3]  # JJ@5, PRP@1, VBP@3
    canon = construct_pattern(pattern, match)
    assert canon == (("PRP", "VBP", "JJ"), ((2, "nsubj", 0), (2, "cop", 1)))


def test_check_match_with_prefix():
    assert check_match_with_prefix([0, 1, 2, 7], 3)
    assert not check_match_with_prefix([0, 2, 3, 7], 3)


def test_check_match_with_must():
    edges = [(2, "obl", 4), (4, "case", 3), (2, "IN", 5)]
    assert not check_match_with_must([0, 1, 2], edges)  # IN edge crosses boundary
    assert check_match_with_must([0, 1, 2, 5], edges)


def test_check_connect():
    ok = (("PRP", "VBP", "JJ"), ((2, "nsubj", 0), (2, "cop", 1)))
    assert check_connect(ok)
    disconnected = (("PRP", "VBP", "JJ", "NN"), ((2, "nsubj", 0), (2, "cop", 1)))
    assert not check_connect(disconnected)
    parataxis = (("PRP", "VBP"), ((0, "parataxis", 1), (0, "dep", 1)))
    assert not check_connect(parataxis)
    cc_no_inedge = (("CC", "NN"), ((0, "det", 1), (0, "dep", 1)))
    assert not check_connect(cc_no_inedge)


def test_normalize_pattern_fuzzy_punct():
    pos = ["NNS", "JJR", ",", "VBP"]
    edges = [(0, "nsubj:pass", 3), (0, "amod", 1), (0, "punct", 2)]
    pat = normalize_pattern(pos, edges, fuzzy=True)
    assert pat[0] == ("NN", "JJ", "VBP")
    assert pat[1] == ((0, "nsubj", 2), (0, "amod", 1))


def test_dedupe_by_subsumption():
    # Reference semantics (pattern_match.py:37-45): the sweep passes the
    # *earlier/larger* pattern as the needle, so only same-size isomorphic
    # duplicates are removed; a smaller contained pattern survives.
    big = (("PRP", "VBP", "JJ"), ((2, "nsubj", 0), (2, "cop", 1)))
    dup_of_big = (("PRP", "VBP", "JJ"), ((2, "nsubj", 0), (2, "cop", 1)))
    small = (("PRP", "JJ"), ((1, "nsubj", 0),))
    out = dedupe_by_subsumption([small, big, dup_of_big])
    assert len(out) == 2
    assert big in out and small in out


def test_skeletonize_keeps_template():
    pat = (("PRP", "DT", "VBP", "JJ", "RB"), ((3, "nsubj", 0), (3, "det", 1), (3, "cop", 2), (3, "advmod", 4)))
    # template covers first 4; trailing RB (OPTIONAL) is dropped
    sk = skeletonize_pattern(pat, range(4))
    assert sk[0] == ("PRP", "DT", "VBP", "JJ")
    assert (3, "advmod", 4) not in sk[1]


def test_ends_forbidden():
    assert ends_forbidden((("PRP", "IN"), ()))
    assert not ends_forbidden((("PRP", "NN"), ()))
