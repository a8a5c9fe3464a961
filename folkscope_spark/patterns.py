"""Pattern mining — anchored subgraph enumeration + distributed counting (O3).

The reference shells out to a parsemis gSpan JVM over ``.lg`` transaction
files (``/root/reference/src/pattern/pattern_filter.py:15-33``), then reads
the frequent set back with punctuation/fuzzy normalization
(``pattern_miner.py:19-104``).  The mining is *anchored*: transactions are
truncated prefixes of template-matched sentences
(``pattern_filter.py:155-171``), so general gSpan is overkill.  The Spark
rewrite enumerates, per sentence, every connected subgraph that contains the
contiguous template prefix (up to ``max_extra`` additional vertices),
canonicalizes it (sentence order, fuzzy POS, ``:``-truncated edge labels,
punctuation removal), and counts signatures with a shuffle
``groupBy().count()`` — partial (map-side) aggregation replaces the gSpan
memory cliff, so this scales with executors instead of driver RAM
(the reference needs >100 GB; README.md:48).

Driver-side finishing mirrors the reference miner: frequency cut at
``N * 1e-4`` (``pattern_miner.py:564-566``), connectivity/shape checks
(``:256-302``), forbidden-end filter (``:574``) and same-size isomorphism
dedupe (``:464-478``) — all on a pattern set of at most a few thousand rows,
then re-broadcast to the matcher.
"""

from __future__ import annotations

import json
import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .graphs import (
    Pattern,
    check_connect,
    check_match_with_must,
    check_match_with_prefix,
    dedupe_by_subsumption,
    ends_forbidden,
    get_subisomorphisms,
    graph_of,
    normalize_pattern,
    sort_patterns,
)
from .relations import (
    IGNORE_POS_TAGS,
    OPTIONAL_POS_TAGS,
    POS_TEMPLATES,
    template_anchor_len,
)

# vertices outside the template prefix with these POS classes are dropped by
# skeletonization (pattern_miner.py:107-160 via :461)
_SKEL_DROP = OPTIONAL_POS_TAGS | IGNORE_POS_TAGS


def anchor_lens() -> dict[str, int]:
    return {rel: template_anchor_len(rel) for rel in POS_TEMPLATES}


def enumerate_anchored(
    pos_tags: list[str],
    deps: list[tuple[int, str, int]],
    anchor_len: int,
    max_extra: int = 3,
    cap: int = 200,
    skeletonize: bool = True,
    with_size: bool = False,
) -> list:
    """All connected subgraphs containing vertices 0..anchor_len-1 with at
    most ``max_extra`` extra vertices, as normalized canonical patterns.

    Reference-sweep guards applied per candidate (pattern_miner.py:530):

    * prefix contiguity (``check_match_with_prefix``, :223-230) — satisfied
      by construction here (the anchor is vertices 0..anchor_len-1, always
      the smallest indices of the set), asserted cheaply;
    * MUST-edge boundary (``check_match_with_must``, :233-253) — transcribed
      faithfully; NB the reference compares dependency *edge labels* against
      the POS set {IN, CC, TO}, so it is observationally a no-op with
      CoreNLP-style labels (documented reference quirk);
    * skeletonization (:461 via :107-160): OPTIONAL/IGNORE-POS vertices
      outside the template prefix are dropped before counting, exactly as the
      reference skeletonizes candidates before its dedupe/count sweep.  This
      also collapses the long tail of optional-modifier variants into one
      signature — the distinct-signature count (and the shuffle behind
      ``groupBy(sig)``) shrinks by the optional-variant multiplicity.
      Connectivity of the *skeleton* is not required here; the reference
      defers that to the final freq-pattern guard (:574), mirrored in
      :func:`finish_patterns`."""
    n = len(pos_tags)
    if anchor_len <= 0 or anchor_len > n:
        return []
    adj: dict[int, set] = {i: set() for i in range(n)}
    for u, _, v in deps:
        adj[u].add(v)
        adj[v].add(u)

    base = frozenset(range(anchor_len))
    seen: set[frozenset] = set()
    out_sets: list[frozenset] = []
    stack = [base]
    while stack and len(out_sets) < cap:
        s = stack.pop()
        if s in seen:
            continue
        seen.add(s)
        out_sets.append(s)
        if len(s) - anchor_len >= max_extra:
            continue
        frontier = set()
        for v in s:
            frontier |= adj[v]
        for nb in sorted(frontier - s):
            ns = s | {nb}
            if ns not in seen:
                stack.append(ns)

    patterns: list = []
    emitted: set = set()
    for s in out_sets:
        nodes = sorted(s)
        # reference sweep guards (pattern_miner.py:530)
        if not check_match_with_prefix(nodes, anchor_len):
            continue  # unreachable by construction; kept for parity clarity
        if not check_match_with_must(nodes, deps):
            continue  # no-op with dep labels (reference quirk, see docstring)
        raw_size = len(nodes)  # pre-skeleton candidate size (gSpan node count)
        if skeletonize:
            kept = [
                p
                for p in nodes
                if p < anchor_len or pos_tags[p] not in _SKEL_DROP
            ]
        else:
            kept = nodes
        remap = {v: i for i, v in enumerate(kept)}
        kept_set = set(kept)
        sub_edges = [
            (remap[u], el, remap[v])
            for u, el, v in deps
            if u in kept_set and v in kept_set
        ]
        pat = normalize_pattern([pos_tags[v] for v in kept], sub_edges, fuzzy=True)
        if not pat[0] or (pat, raw_size) in emitted:
            continue
        # the reference defers connectivity/forbidden-end to the final
        # freq-pattern write (pattern_miner.py:574); both are deterministic
        # per-signature, so applying them map-side is outcome-identical and
        # keeps doomed signatures out of the count shuffle entirely
        if not check_connect(pat) or ends_forbidden(pat):
            continue
        emitted.add((pat, raw_size))
        patterns.append((pat, raw_size))
    if with_size:
        return patterns
    seen: set[Pattern] = set()
    out: list[Pattern] = []
    for pat, _ in patterns:
        if pat not in seen:
            seen.add(pat)
            out.append(pat)
    return out


def pattern_sig(pat: Pattern) -> str:
    return json.dumps([list(pat[0]), [list(e) for e in pat[1]]])


def sig_to_pattern(sig: str) -> Pattern:
    pos, edges = json.loads(sig)
    return (tuple(pos), tuple((int(u), el, int(v)) for u, el, v in edges))


def count_anchored_patterns(parsed: DataFrame, max_extra: int = 3) -> DataFrame:
    """parsed (D6 + ``weight``) -> (relation, sig, size, cnt): the
    distributed replacement for gSpan transaction counting.  Map-side
    enumeration emits one row per (sentence, skeleton-pattern, pre-skeleton
    size) carrying the sentence's ``weight``; the shuffle agg is a
    weight-summing hash aggregate with partial combine.  ``size`` is the
    candidate's node count before skeletonization — the unit of the
    reference's adaptive per-size mining schedule
    (pattern_filter.py:136-153)."""
    lens = anchor_lens()

    def enum(batches):
        for pdf in batches:
            rels, sigs, sizes, ws = [], [], [], []
            for rel, pos, deps, w in zip(
                pdf["relation"].tolist(), pdf["pos_tags"], pdf["dependencies"],
                pdf["weight"].tolist(),
            ):
                alen = lens.get(rel, 0)
                if alen == 0:
                    continue
                for pat, raw_size in enumerate_anchored(
                    list(pos), [(d["gov"], d["rel"], d["dep"]) for d in deps],
                    alen, max_extra, with_size=True,
                ):
                    rels.append(rel)
                    sigs.append(pattern_sig(pat))
                    sizes.append(raw_size)
                    ws.append(w)
            yield pd.DataFrame(
                {"relation": rels, "sig": sigs, "size": sizes, "w": ws}
            )

    return (
        parsed.select("relation", "pos_tags", "dependencies", "weight")
        .mapInPandas(enum, schema="relation string, sig string, size int, w double")
        .groupBy("relation", "sig", "size")
        .agg(F.sum("w").cast("long").alias("count"))
    )


def length_cdf(parsed: DataFrame) -> dict[str, list[tuple[int, int]]]:
    """A2 driving the miner (pattern_filter.py:103-105): per-relation sentence
    token-length counts, computed distributed (one tiny groupBy) and collected
    as {relation: sorted [(length, count)]} for the driver-side schedule."""
    rows = (
        parsed.groupBy("relation", F.size("pos_tags").alias("length"))
        .agg(F.sum("weight").cast("long").alias("cnt"))
        .collect()
    )
    out: dict[str, list[tuple[int, int]]] = {}
    for r in rows:
        out.setdefault(r["relation"], []).append((r["length"], r["cnt"]))
    for v in out.values():
        v.sort()
    return out


def adaptive_schedule(
    len_counts: list[tuple[int, int]], anchor_len: int,
    max_th: float = 0.97,
) -> dict[int, tuple[int, int]]:
    """The reference's CDF-driven (min_node, min_freq) mining schedule
    (pattern_filter.py:119-153): for each candidate size n+delta below the
    mean sentence length, the frequency floor is
    ``(N - cum(<size)) * log(1 + mass(size window)/N) * 0.1`` and the ceiling
    ``(N - cum(<size)) * 0.97``; the walk stops when the floor sinks below
    the global N*1e-4 cut or the window mass vanishes.

    Returns {size: (min_freq, max_freq)} — empty when the relation is
    template-less or the corpus is degenerate (the reference exits there)."""
    if anchor_len <= 0 or not len_counts:
        return {}
    # compute_cumulative_function (utils.py:361-370)
    cum: list[tuple[int, int]] = [(0, 0)]
    for length, cnt in sorted(len_counts):
        cum.append((length, cnt + cum[-1][1]))
    N = cum[-1][1]
    if N == 0:
        return {}
    # get_cumulative_mean (utils.py:373-383)
    s, prev = 0, (0, 0)
    for y in cum:
        s += y[0] * (y[1] - prev[1])
        prev = y
    avg = s / N if s > 0 else 0

    def leftmost(x: int) -> int:
        # get_cumulative_leftmost (utils.py:386-399): cumulative count at the
        # first length >= x
        i, j = 0, len(cum)
        while i < j:
            k = (i + j) // 2
            if cum[k][0] < x:
                i = k + 1
            else:
                j = k
        return cum[i][1] if i < len(cum) else cum[-1][1]

    sched: dict[int, tuple[int, int]] = {}
    delta = 1
    while anchor_len + delta < math.ceil(avg):
        min_node = anchor_len + delta
        cum1 = leftmost(min_node - 1)
        cum2 = leftmost(min_node - 1 + delta)
        min_th = math.log(1 + (cum2 - cum1) / N) * 0.1
        if min_th < 1e-6:
            break
        min_freq = int((N - cum1) * min_th)
        if min_freq < N * 1e-4:
            break
        max_freq = int((N - cum1) * max_th)
        sched[min_node] = (min_freq, max_freq)
        delta += 1
    return sched


def finish_patterns(
    pattern_counts: DataFrame,
    sentence_counts: dict[str, int],
    min_freq_ratio: float = 1e-4,
    min_freq_abs: int = 2,
    schedules: dict[str, dict[int, tuple[int, int]]] | None = None,
) -> dict[str, dict]:
    """Driver-side miner finishing.  Returns, per relation::

        {"patterns": [(pos_tags, edges), ...]   # sorted desc, deduped
         "freqs": [int, ...]}

    Pattern sets are tiny by construction (thousands), so the O(n^2) sweeps
    are driver-side, like the reference (SURVEY.md U3/O4) — but the
    ``max(min_freq_abs, N*min_freq_ratio)`` cut (pattern_miner.py:564-566) is
    applied **relationally, before collect**: a broadcast join of per-relation
    cutoffs filters the distinct-signature long tail executor-side, so driver
    memory sees survivors only.  At web scale the tail is enormous (the
    enumeration emits up to ~200 signatures/sentence); collecting it first
    was a driver OOM (VERDICT r1, wrong #1).
    """
    spark = pattern_counts.sparkSession
    cut_rows = [
        (rel, max(min_freq_abs, int(n * min_freq_ratio)))
        for rel, n in sentence_counts.items()
    ]
    if not cut_rows:
        return {}
    cuts = spark.createDataFrame(cut_rows, "relation string, cut long")
    # size-collapse first when running flat; with the adaptive schedule the
    # per-(relation, size) band cut applies before the collapse, like the
    # reference's per-size gSpan bounds (pattern_filter.py:136-153)
    if schedules:
        band_rows = [
            (rel, size, mn, mx)
            for rel, sched in schedules.items()
            for size, (mn, mx) in sched.items()
        ]
        if not band_rows:
            return {}
        bands = spark.createDataFrame(
            band_rows, "relation string, size int, min_freq long, max_freq long"
        )
        survivors = (
            pattern_counts.join(F.broadcast(bands), ["relation", "size"])
            .filter(
                (F.col("count") >= F.col("min_freq"))
                & (F.col("count") <= F.col("max_freq"))
            )
            .join(F.broadcast(cuts), "relation")
            .filter(F.col("count") >= F.col("cut"))
            .select("relation", "sig", "size", "count")
        )
        rows = survivors.collect()
        # per-relation early stop: walk scheduled sizes ascending, discard
        # everything after two *cumulative* empty sizes — the reference's
        # early_stop counter (pattern_filter.py:192-200) increments on every
        # empty size and never resets, so e.g. empty/non-empty/empty kills
        # all later sizes (the second empty size itself contributes nothing,
        # so breaking on it equals the reference's check-before-run gate)
        by_size: dict[str, dict[int, list]] = {}
        for r in rows:
            by_size.setdefault(r["relation"], {}).setdefault(r["size"], []).append(r)
        kept_rows = []
        for rel, sched in schedules.items():
            empties = 0
            for size in sorted(sched):
                got = by_size.get(rel, {}).get(size, [])
                if not got:
                    empties += 1
                    if empties > 1:
                        break
                    continue
                kept_rows.extend(got)
        rows = kept_rows
    else:
        collapsed = pattern_counts.groupBy("relation", "sig").agg(
            F.sum("count").alias("count")
        )
        rows = (
            collapsed.join(F.broadcast(cuts), "relation")
            .filter(F.col("count") >= F.col("cut"))
            .select("relation", "sig", "count")
            .collect()
        )
    by_rel: dict[str, list[tuple[Pattern, int]]] = {}
    for r in rows:
        by_rel.setdefault(r["relation"], []).append((sig_to_pattern(r["sig"]), r["count"]))

    out: dict[str, dict] = {}
    for rel, pats in by_rel.items():
        # final emit guards, as the reference applies when writing the
        # canonical freq pattern (pattern_miner.py:574): connectivity (also
        # drops disconnected skeletons) + forbidden-end
        kept = [
            (p, c)
            for p, c in pats
            if check_connect(p) and not ends_forbidden(p)
        ]
        if not kept:
            continue
        freq_map: dict[Pattern, int] = {}
        for p, c in kept:
            freq_map[p] = freq_map.get(p, 0) + c
        deduped = dedupe_by_subsumption(list(freq_map))
        ordered = sort_patterns(deduped)
        out[rel] = {
            "patterns": ordered,
            "freqs": [freq_map[p] for p in ordered],
        }
    return out


def merge_pattern_sets(mined: dict[str, dict]) -> dict:
    """pattern_merge semantics (U1 + A5; pattern_merge.py:12-60 *intended*
    behavior — the shipped script crashes, SURVEY.md §3.4): union all
    relations' frequent patterns, sum counts of identical canonical patterns,
    drop same-size isomorphic duplicates (absorbing their counts into the
    survivor).  The merged set drives extraction for the template-less
    ``open`` relation (scripts/run_match.sh:13-16)."""
    freq_map: dict[Pattern, int] = {}
    for info in mined.values():
        for pat, freq in zip(info["patterns"], info["freqs"]):
            freq_map[pat] = freq_map.get(pat, 0) + int(freq)
    if not freq_map:
        return {"patterns": [], "freqs": []}
    survivors = dedupe_by_subsumption(list(freq_map))
    survivor_set = set(survivors)
    # absorb dropped duplicates' counts into their isomorphic survivor
    for pat, freq in freq_map.items():
        if pat in survivor_set:
            continue
        pg = graph_of(pat)
        for s in survivors:
            if len(s[0]) == len(pat[0]) and len(s[1]) == len(pat[1]):
                if get_subisomorphisms(pg, graph_of(s), limit=1):
                    freq_map[s] = freq_map.get(s, 0) + freq
                    break
    ordered = sort_patterns(survivors)
    return {
        "patterns": ordered,
        "freqs": [freq_map[p] for p in ordered],
    }


def write_lg(mined: dict[str, dict], rel: str) -> str:
    """Serialize one relation's patterns in the gSpan ``.lg`` text layout the
    reference writes (``pattern_filter.py:95-101``, ``write_patterns``
    pattern_miner.py:321-328) — golden-parity format only."""
    info = mined[rel]
    lines = []
    for pat, freq in zip(info["patterns"], info["freqs"]):
        lines.append("t # %d" % freq)
        for v, p in enumerate(pat[0]):
            lines.append("v %d %s" % (v, p))
        for u, el, v in pat[1]:
            lines.append("e %d %d %s" % (u, v, el))
    return "\n".join(lines) + "\n"


def read_lg(text: str, fuzzy: bool = True) -> list[tuple[Pattern, int]]:
    """Parse ``.lg`` text back into normalized patterns
    (pattern_miner.py:19-104 semantics: punctuation-vertex removal, fuzzy POS
    collapse, edge-label ``:``-truncation)."""
    out: list[tuple[Pattern, int]] = []
    vlabels: list[str] = []
    edges: list[tuple[int, str, int]] = []
    freq = 0

    def flush():
        if vlabels:
            out.append((normalize_pattern(vlabels, edges, fuzzy=fuzzy), freq))

    for line in text.splitlines():
        if line.startswith("t #"):
            flush()
            vlabels, edges = [], []
            freq = int(line.split("#")[1].strip())
        elif line.startswith("v "):
            _, vid, vl = line.split(" ")
            assert int(vid) == len(vlabels)
            vlabels.append(vl)
        elif line.startswith("e "):
            _, u, v, el = line.split(" ")
            edges.append((int(u), el, int(v)))
    flush()
    return out
