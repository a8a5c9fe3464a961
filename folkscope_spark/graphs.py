"""Pure-Python directed-multigraph kernel: VF2-style induced subgraph
isomorphism with FolkScope's compatibility semantics.

Ports the *behavior* of the reference's igraph-backed retriever
(``/root/reference/src/pattern/pattern_retriever.py``):

* node compat: graph indegree >= pattern indegree; fuzzy POS prefix match for
  pattern labels ``NN``/``RB``/``JJ`` (retriever lines 28-40);
* edge compat: every pattern edge label between a vertex pair must appear in
  the set of graph edge labels between the mapped pair, graph labels truncated
  at ``:`` (retriever lines 42-60);
* a cheap label-multiset / degree-signature pre-check that prunes most
  isomorphism calls (retriever lines 143-231);
* induced matching, as igraph's VF2 implements.

Also hosts the pattern-level helpers mined from ``pattern_miner.py``:
canonicalization (``construct_pattern``), connectivity/shape checks,
prefix/MUST match guards and subsumption dedupe
(``pattern_miner.py:464-478``).

Patterns here are plain ``(pos_tags: tuple[str], edges: tuple[(u, elabel, v)])``
pairs — exactly shape D7 — so they serialize straight into broadcast variables.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from .relations import (
    FORBIDDEN_END_POS_TAGS,
    IGNORE_POS_TAGS,
    MUST_POS_TAGS,
    OPTIONAL_POS_TAGS,
    PUNCTUATION_SET,
)

Pattern = tuple[tuple[str, ...], tuple[tuple[int, str, int], ...]]


class DiGraph:
    """Small immutable labeled directed multigraph.

    The matcher calls :func:`precheck`/:func:`get_subisomorphisms` once per
    (sentence, pattern) pair; everything derivable from one side alone is
    cached lazily on the instance so the per-pair work is lookups, not
    reconstruction (the round-5 code rebuilt every Counter per call — the
    match kernel is the hottest Python stage, guide §1.2 step 2)."""

    __slots__ = ("n", "vlabels", "edges", "pair_labels", "base_pair_labels",
                 "out_adj", "in_adj", "indeg", "outdeg",
                 "_fuzzy_vl", "_base_el_set", "_deg_sigs", "_match_plan")

    def __init__(self, vlabels, edges):
        self.n = len(vlabels)
        self.vlabels = list(vlabels)
        self.edges = [(int(u), el, int(v)) for u, el, v in edges]
        self.pair_labels: dict[tuple[int, int], list[str]] = defaultdict(list)
        self.base_pair_labels: dict[tuple[int, int], set] = defaultdict(set)
        self.out_adj: dict[int, set] = defaultdict(set)
        self.in_adj: dict[int, set] = defaultdict(set)
        self.indeg = [0] * self.n
        self.outdeg = [0] * self.n
        for u, el, v in self.edges:
            self.pair_labels[(u, v)].append(el)
            self.base_pair_labels[(u, v)].add(el.split(":")[0])
            self.out_adj[u].add(v)
            self.in_adj[v].add(u)
            self.indeg[v] += 1
            self.outdeg[u] += 1
        self._fuzzy_vl = None
        self._base_el_set = None
        self._deg_sigs = None
        self._match_plan = None

    @property
    def ecount(self):
        return len(self.edges)

    def fuzzy_vl(self) -> Counter:
        """Counter of vertex labels with the NN*/RB*/JJ* fuzzy collapse —
        the graph side of the precheck label-multiset test."""
        if self._fuzzy_vl is None:
            c = Counter()
            for vl in self.vlabels:
                if vl.startswith("NN"):
                    vl = "NN"
                elif vl.startswith("RB"):
                    vl = "RB"
                elif vl.startswith("JJ"):
                    vl = "JJ"
                c[vl] += 1
            self._fuzzy_vl = c
        return self._fuzzy_vl

    def base_el_set(self) -> set:
        """Set of ``:``-truncated edge labels."""
        if self._base_el_set is None:
            self._base_el_set = {el.split(":")[0] for _, el, _ in self.edges}
        return self._base_el_set

    def deg_sigs(self):
        """Per-truncated-label source/target degree count lists, descending —
        the graph side of the precheck degree-signature test.  Covers every
        label; precheck only reads the pattern's labels, which reproduces the
        round-5 per-call filtered construction exactly."""
        if self._deg_sigs is None:
            src, tgt = defaultdict(Counter), defaultdict(Counter)
            for u, el, v in self.edges:
                el = el.split(":")[0]
                src[el][u] += 1
                tgt[el][v] += 1
            self._deg_sigs = (
                {el: sorted(c.values(), reverse=True) for el, c in src.items()},
                {el: sorted(c.values(), reverse=True) for el, c in tgt.items()},
            )
        return self._deg_sigs

    def match_plan(self):
        """Pattern-side backtracking plan (this graph used AS the pattern):
        the deterministic match order of the round-5 code, plus, per depth,
        the edge constraints against every earlier-ordered vertex —
        ``(slot, fwd, bwd)`` where fwd/bwd are the ``:``-truncated pattern
        labels for (this->earlier)/(earlier->this), or None when the pattern
        has no such edge (induced semantics then require the mapped graph
        pair to be edge-free)."""
        if self._match_plan is None:
            p = self
            order: list[int] = []
            seen: set[int] = set()
            degs = [p.indeg[i] + p.outdeg[i] for i in range(p.n)]
            while len(order) < p.n:
                cand = [i for i in range(p.n) if i not in seen]
                nxt = None
                for i in cand:
                    if any((j in seen) for j in (p.out_adj[i] | p.in_adj[i])):
                        if nxt is None or degs[i] > degs[nxt]:
                            nxt = i
                order.append(nxt if nxt is not None else max(cand, key=lambda i: degs[i]))
                seen.add(order[-1])
            checks: list[list[tuple[int, list | None, list | None]]] = []
            for d, pv in enumerate(order):
                row = []
                for slot in range(d):
                    pu = order[slot]
                    fwd = p.pair_labels.get((pu, pv))
                    bwd = p.pair_labels.get((pv, pu))
                    row.append(
                        (
                            slot,
                            [el.split(":")[0] for el in fwd] if fwd else None,
                            [el.split(":")[0] for el in bwd] if bwd else None,
                        )
                    )
                checks.append(row)
            self._match_plan = (order, checks)
        return self._match_plan


def graph_of(pattern: Pattern) -> DiGraph:
    return DiGraph(pattern[0], pattern[1])


def precheck(g: DiGraph, p: DiGraph) -> bool:
    """Label-multiset + degree-signature pruning (retriever lines 143-231).

    Semantics identical to the per-call round-5 version; both sides' derived
    structures are cached on the DiGraph instances (see :class:`DiGraph`),
    so repeated (sentence x pattern) calls do lookups only.  Note the
    preserved quirk: ``p_vl`` counts the pattern's labels raw (patterns are
    already fuzzy-collapsed by normalization) and ``p_el`` is the pattern's
    raw label set, while the degree signatures key on truncated labels — a
    raw ``nmod:of`` in p_el therefore never finds a degree entry, exactly as
    before."""
    if g.n < p.n or g.ecount < p.ecount:
        return False
    g_vl = g.fuzzy_vl()
    p_vl = Counter(p.vlabels)
    if len(g_vl) < len(p_vl):
        return False
    for label, cnt in p_vl.items():
        if g_vl[label] < cnt:
            return False

    p_el = {el for _, el, _ in p.edges}
    if len(g.base_el_set()) < len(p_el):
        return False

    p_src, p_tgt = p.deg_sigs()
    g_src, g_tgt = g.deg_sigs()
    for el in p_el:
        for p_side, g_side in ((p_src, g_src), (p_tgt, g_tgt)):
            ps = p_side.get(el)
            if ps is not None:
                gs = g_side.get(el)
                if gs is None or len(ps) > len(gs):
                    return False
                for i, c in enumerate(ps):
                    if c > gs[i]:
                        return False
    return True


def get_subisomorphisms(g: DiGraph, p: DiGraph, limit: int | None = None) -> list[list[int]]:
    """All injective mappings pattern->graph (induced, label-compatible).

    Returns mappings ``m`` with ``m[pattern_vid] = graph_vid``, sorted
    lexicographically for determinism.  ``limit`` caps the search for
    existence checks.
    """
    if not precheck(g, p):
        return []

    # match order + per-depth edge constraints are a pure function of the
    # pattern — precompiled once per DiGraph (see DiGraph.match_plan) instead
    # of rebuilt per (sentence, pattern) call.  Order/semantics identical to
    # the round-5 inline version: BFS-ish from the highest-degree pattern
    # vertex, induced matching (a mapped pair with no pattern edge must have
    # no graph edge either).
    order, checks = p.match_plan()
    n_p = p.n
    g_pair = g.base_pair_labels
    g_vlabels = g.vlabels
    g_indeg = g.indeg
    p_indeg = p.indeg
    p_vlabels = p.vlabels

    results: list[list[int]] = []
    assigned: list[int] = [0] * n_p  # by order slot
    used: set[int] = set()

    # per-ordered-vertex node-compat candidates are checked inline (cheap);
    # the per-depth edge checks come from the plan
    def backtrack(depth: int):
        if limit is not None and len(results) >= limit:
            return
        if depth == n_p:
            m = [0] * n_p
            for slot, pv in enumerate(order):
                m[pv] = assigned[slot]
            results.append(m)
            return
        pv = order[depth]
        pl = p_vlabels[pv]
        fuzzy = pl in ("NN", "RB", "JJ")
        want_indeg = p_indeg[pv]
        row = checks[depth]
        for gv in range(g.n):
            if gv in used:
                continue
            if g_indeg[gv] < want_indeg:
                continue
            gl = g_vlabels[gv]
            if (not gl.startswith(pl)) if fuzzy else (gl != pl):
                continue
            ok = True
            for slot, fwd, bwd in row:
                gu = assigned[slot]
                glabels = g_pair.get((gu, gv))
                if fwd is not None:
                    if glabels is None:
                        ok = False
                        break
                    for el in fwd:
                        if el not in glabels:
                            ok = False
                            break
                    if not ok:
                        break
                elif glabels:
                    ok = False
                    break
                glabels = g_pair.get((gv, gu))
                if bwd is not None:
                    if glabels is None:
                        ok = False
                        break
                    for el in bwd:
                        if el not in glabels:
                            ok = False
                            break
                    if not ok:
                        break
                elif glabels:
                    ok = False
                    break
            if not ok:
                continue
            assigned[depth] = gv
            used.add(gv)
            backtrack(depth + 1)
            used.discard(gv)

    backtrack(0)
    results.sort()
    return results


def subisomorphic(g: DiGraph, p: DiGraph) -> bool:
    return len(get_subisomorphisms(g, p, limit=1)) > 0


# ------------------------------------------------------------------ pattern ops


def construct_pattern(pattern: Pattern, match: list[int]) -> Pattern:
    """Canonicalize a matched pattern into sentence word order
    (pattern_miner.py:308-318): reorder vertices by their matched sentence
    position, renumber edges, sort edges by (u, v)."""
    inv = sorted(range(len(match)), key=lambda i: match[i])
    rank = {pv: r for r, pv in enumerate(inv)}
    pos_tags = tuple(pattern[0][i] for i in inv)
    deps = sorted(
        ((rank[u], el, rank[v]) for u, el, v in pattern[1]),
        key=lambda x: (x[0], x[2]),
    )
    return (pos_tags, tuple(deps))


def check_match_with_prefix(match: list[int], prefix_len: int) -> bool:
    """Matched template prefix must be contiguous (pattern_miner.py:223-230)."""
    rev = sorted(match)
    for i in range(1, min(prefix_len, len(rev))):
        if rev[i] - rev[i - 1] != 1:
            return False
    return True


def check_match_with_must(match: list[int], edges) -> bool:
    """MUST-class edges may not cross the match boundary
    (pattern_miner.py:233-253).  ``edges`` are sentence dependency triples."""
    m = set(match)
    for u, el, v in edges:
        if (u in m) != (v in m) and el in MUST_POS_TAGS:
            return False
    return True


def check_connect(pattern: Pattern) -> bool:
    """Connectivity + shape rules (pattern_miner.py:256-302): enough edges,
    no isolated CC/WRB/WP* vertices, no parataxis edge, weakly connected."""
    pos_tags, edges = pattern[0], pattern[1]
    n = len(pos_tags)
    if len(edges) < n - 1:
        return False
    indeg = [0] * n
    adj: dict[int, set] = defaultdict(set)
    for u, el, v in edges:
        if el == "parataxis":
            return False
        indeg[v] += 1
        adj[u].add(v)
        adj[v].add(u)
    for vid, tag in enumerate(pos_tags):
        if (tag == "CC" or tag == "WRB" or tag.startswith("WP")) and indeg[vid] == 0:
            return False
    if n == 0:
        return False
    seen = {0}
    stack = [0]
    while stack:
        x = stack.pop()
        for y in adj[x]:
            if y not in seen:
                seen.add(y)
                stack.append(y)
    return len(seen) == n


def normalize_pattern(pos_tags, edges, fuzzy: bool = True) -> Pattern:
    """Punctuation-vertex removal + fuzzy POS collapse + edge-label truncation,
    as the reference applies when reading mined patterns back
    (pattern_miner.py:19-104)."""
    vlabels = list(pos_tags)
    if fuzzy:
        out = []
        for vl in vlabels:
            if vl.startswith("NN"):
                vl = "NN"
            elif vl.startswith("RB"):
                vl = "RB"
            elif vl.startswith("JJ"):
                vl = "JJ"
            out.append(vl)
        vlabels = out
    remove = sorted(i for i, vl in enumerate(vlabels) if vl in PUNCTUATION_SET)
    if remove:
        keep = [i for i in range(len(vlabels)) if i not in set(remove)]
        remap = {old: new for new, old in enumerate(keep)}
        vlabels = [vlabels[i] for i in keep]
        edges = [
            (remap[u], el, remap[v])
            for u, el, v in edges
            if u in remap and v in remap
        ]
    edges = tuple((int(u), el.split(":")[0], int(v)) for u, el, v in edges)
    return (tuple(vlabels), edges)


def sort_patterns(patterns: list[Pattern]) -> list[Pattern]:
    """Structural descending sort (pattern_match.py:33,47)."""
    return sorted(patterns, key=lambda x: (len(x[1]), len(x[0]), x[0], x[1]), reverse=True)


def dedupe_by_subsumption(patterns: list[Pattern]) -> list[Pattern]:
    """Drop pattern j if an earlier (>= size) pattern i contains it
    sub-isomorphically (pattern_match.py:32-48, pattern_miner.py:464-478).
    O(n^2) over a tiny collected set — driver-side by design.

    The reference's needle direction (find the *larger* pattern i inside the
    smaller graph j) means a hit is only possible when vertex and edge counts
    are equal — i.e. the sweep only ever removes same-size isomorphic
    duplicates (pinned quirk, SURVEY §3.4).  The explicit size guard below
    skips the impossible pairs without any semantic change, collapsing the
    sweep from O(n^2) VF2 calls to per-size-bucket work."""
    patterns = sort_patterns(patterns)
    graphs = [graph_of(pt) for pt in patterns]
    dup: set[int] = set()
    for i in range(len(patterns)):
        if i in dup:
            continue
        ni, ei = len(patterns[i][0]), len(patterns[i][1])
        for j in range(i + 1, len(patterns)):
            if j in dup:
                continue
            if len(patterns[j][0]) != ni or len(patterns[j][1]) != ei:
                continue  # needle larger than haystack: VF2 cannot match
            if subisomorphic(graphs[j], graphs[i]):
                dup.add(j)
    return [pt for k, pt in enumerate(patterns) if k not in dup]


def skeletonize_pattern(pattern: Pattern, template_indices) -> Pattern:
    """Drop OPTIONAL/IGNORE vertices outside the template prefix
    (pattern_miner.py:107-160)."""
    template_indices = set(template_indices)
    keep = [
        i
        for i, x in enumerate(pattern[0])
        if i in template_indices
        or (x not in OPTIONAL_POS_TAGS and x not in IGNORE_POS_TAGS)
    ]
    if len(keep) == len(pattern[0]):
        return pattern
    remap = {old: new for new, old in enumerate(keep)}
    edges = tuple(
        (remap[u], el, remap[v])
        for u, el, v in pattern[1]
        if u in remap and v in remap
    )
    return (tuple(pattern[0][i] for i in keep), edges)


def ends_forbidden(pattern: Pattern) -> bool:
    """Last POS of the canonical pattern in {IN, CC, TO}
    (pattern_miner.py:574, utils.py:35)."""
    return bool(pattern[0]) and pattern[0][-1] in FORBIDDEN_END_POS_TAGS
