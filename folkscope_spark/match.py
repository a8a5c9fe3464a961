"""Pattern matching + eventuality extraction (O1/O2/O5/O6, SURVEY.md §3.3).

Spark-first port of the reference match sweep
(``/root/reference/src/pattern/pattern_match.py:63-236``): the tiny pattern
dictionary ships in the UDF closure; sentences stream through
``mapInPandas`` in Arrow batches; per sentence the patterns are tried in the
reference's structural descending order, first match wins
(``pattern_match.py:88``), with the clause-separator veto (``:96-118``), the
OPTIONAL-modifier closure (``:123-133``), and eventuality assembly with the
eid byte-contract (``:135-160``, ``object.py:360-418``).  Per-sentence eid
dedupe matches ``:152-160``.

Nothing here shuffles: the stage is a pure map over the parsed table; the
only shuffle in the whole extraction path is the later ``groupBy(eid)`` merge.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .eventuality import build_eventuality
from .graphs import DiGraph, construct_pattern, get_subisomorphisms, graph_of
from .metrics import batch_timer
from .relations import OPTIONAL_POS_TAGS
from .schemas import EVENTUALITIES


def _sentence_separators(pos_tags: list[str]) -> list[int]:
    """Clause separator positions (pattern_match.py:96-101)."""
    seps = []
    for i, t in enumerate(pos_tags):
        if t == "WRB" or t.startswith("WP") or t in (";", ".", "?", "!"):
            seps.append(i)
    return seps


def _crosses_separator(subiso: list[int], seps: list[int]) -> bool:
    """A match may not span a clause separator — the reference's exact
    pairwise test (pattern_match.py:102-118): fail iff some pair of distinct
    matched indices has ``(idx1-sep)*(idx2-sep) <= 0`` (opposite sides, or one
    of the pair sitting on the separator).  A single-vertex match can never
    fail this (no pair exists)."""
    for sep in seps:
        for i1 in subiso:
            for i2 in subiso:
                if i1 == i2:
                    continue
                if (i1 - sep) * (i2 - sep) <= 0:
                    return True
    return False


def _optional_closure(
    subiso_set: set[int], deps: list[tuple[int, str, int]], pos_tags: list[str]
) -> set[int]:
    """Fixed-point closure pulling in OPTIONAL-POS modifiers reachable from
    the match — the reference's exact condition (pattern_match.py:127-133),
    including its ``(not in subiso or not in optional)`` disjunction: a match
    vertex whose POS is OPTIONAL-class *does* enter the optional set, which
    lets optional->match edges into ``selected`` through the third selection
    branch.  Pinned as observable reference behavior (eids depend on it)."""
    optional: set[int] = set()
    cnt = -1
    while len(optional) != cnt:
        cnt = len(optional)
        for g, _, d in deps:
            if (
                (g in subiso_set or g in optional)
                and (d not in subiso_set or d not in optional)
                and pos_tags[d] in OPTIONAL_POS_TAGS
            ):
                optional.add(d)
    return optional


def extract_from_sentence(parsed_row: dict, patterns) -> list[dict]:
    """Run the per-sentence match loop; returns eventuality dicts.

    Reference semantics (pattern_match.py:65-218) are
    **first-matching-pattern-wins per line**: the sweep only VF2-matches
    lines whose flag still equals the initial value (``:88``), so once any
    pattern yields a separator-veto-passing subiso on a line, no later
    pattern extracts from it; all accepted subisos of that first pattern are
    extracted (eid-deduped within the line).  The reference's parent/child
    pattern DAG and its child-bitmask propagation (``:49,210-218``) only
    affect the sweep's *counting*, which the mining path handles separately,
    so neither is built here.

    One global coupling is assumed away: the reference skips a pattern's flag
    update when its canonical form fails the prefix/MUST/forbidden-end/
    connectivity guards on the chosen example (``:186-207``); patterns
    reaching this matcher come from ``finish_patterns``, which already
    enforces those guards, so every broadcast pattern is treated as valid."""
    pos_tags = list(parsed_row["pos_tags"])
    deps = [tuple(d) for d in parsed_row["dependencies"]]
    g = DiGraph(pos_tags, deps)
    seps = _sentence_separators(pos_tags)

    results: list[dict] = []
    seen_eids: set[str] = set()

    for pat, patg in patterns:
        if len(pos_tags) < len(pat[0]) or len(deps) < len(pat[1]):
            continue
        subisos = get_subisomorphisms(g, patg)
        matched = False
        for subiso in subisos:
            if _crosses_separator(subiso, seps):
                continue
            matched = True
            subiso_set = set(subiso)
            optional = _optional_closure(subiso_set, deps, pos_tags)

            selected, skeleton = [], []
            for dep in deps:
                g_in = dep[0] in subiso_set
                d_in = dep[2] in subiso_set
                if g_in and d_in:
                    selected.append(dep)
                    skeleton.append(dep)
                elif g_in and dep[2] in optional:
                    selected.append(dep)
                elif dep[0] in optional and dep[2] in optional:
                    selected.append(dep)

            ev = build_eventuality(list(selected), list(skeleton), parsed_row)
            if ev is None or ev["eid"] in seen_eids:
                continue
            seen_eids.add(ev["eid"])
            canon = construct_pattern(pat, subiso)
            ev["pattern_sig"] = " ".join(canon[0])
            results.append(ev)
        if matched:
            # first-match-wins: the line's flag is no longer the initial
            # value, so the reference never matches it again (:88)
            break
    return results


def skeleton_subset_dedupe(eventualities: list[dict]) -> list[dict]:
    """U4 (extractor.py:480-507): among one sentence's extracted
    eventualities, drop any whose skeleton index set is a subset of
    another's.  The reference's ASER-style extractor applies this; its
    pattern_match entry point does not, so neither does
    :func:`match_patterns`."""
    keep = [True] * len(eventualities)
    sets = [set(ev.get("skeleton_indices") or []) for ev in eventualities]
    order = sorted(range(len(sets)), key=lambda i: len(sets[i]), reverse=True)
    for a in range(len(order)):
        i = order[a]
        if not keep[i]:
            continue
        for b in range(a + 1, len(order)):
            j = order[b]
            if keep[j] and sets[j] and sets[j] <= sets[i] and i != j:
                keep[j] = False
    return [ev for k, ev in zip(keep, eventualities) if k]


def match_patterns(parsed: DataFrame, mined: dict, kernel_acc=None) -> DataFrame:
    """parsed (D6 + ``weight``) -> eventualities (D8): one output row per
    (parsed row, extracted eventuality), whose ``frequency`` is the parsed
    row's ``weight``.  ``mined`` is the driver-side pattern dictionary from
    :func:`folkscope_spark.patterns.finish_patterns`; Spark serializes it into
    the UDF closure (same role as a broadcast — a few KB)."""

    out_cols = [
        "eid", "sid", "relation", "pattern_sig", "words", "pos_tags",
        "dependencies", "skeleton_indices", "verb_indices", "ners",
        "frequency",
    ]

    def run(batches):
        prepared = {
            rel: [(p, graph_of(p)) for p in info["patterns"]]
            for rel, info in mined.items()
        }
        # eid-determined fat columns (pos_tags, dependencies, skeleton/verb
        # indices, pattern_sig) are emitted once per (relation, eid) per
        # partition and null elsewhere: at web scale an eventuality recurs
        # across many sentences, and duplicating its parse structure per
        # occurrence is the dominant byte volume of this stage's cache/
        # shuffle.  The merge reconstitutes them with first(ignorenulls),
        # grouping by (eid, relation) — eids are relation-independent
        # (sha1 over deps/words/pos), so the thinning set must carry the
        # relation too or a second relation's group could be all-null.
        fat_seen: set[tuple[str, str]] = set()
        for pdf in batches:
            with batch_timer(kernel_acc):
                cols: dict[str, list] = {c: [] for c in out_cols}
                for sid, rel, pos, lem, ner, deps, w in zip(
                    pdf["sid"].tolist(), pdf["relation"].tolist(),
                    pdf["pos_tags"], pdf["lemmas"], pdf["ners"],
                    pdf["dependencies"], pdf["weight"].tolist(),
                ):
                    if rel not in prepared:
                        continue
                    parsed_row = {
                        "pos_tags": list(pos),
                        "lemmas": list(lem),
                        "ners": list(ner),
                        "dependencies": [
                            (d["gov"], d["rel"], d["dep"]) for d in deps
                        ],
                    }
                    for ev in extract_from_sentence(parsed_row, prepared[rel]):
                        fat = (rel, ev["eid"]) not in fat_seen
                        if fat:
                            fat_seen.add((rel, ev["eid"]))
                        cols["eid"].append(ev["eid"])
                        cols["sid"].append(sid)
                        cols["relation"].append(rel)
                        cols["words"].append(ev["words"])
                        cols["ners"].append(ev["ners"])
                        cols["frequency"].append(w)
                        cols["pattern_sig"].append(
                            ev["pattern_sig"] if fat else None)
                        cols["pos_tags"].append(ev["pos_tags"] if fat else None)
                        cols["dependencies"].append(
                            [{"gov": g, "rel": r, "dep": d}
                             for g, r, d in ev["dependencies"]]
                            if fat else None
                        )
                        cols["skeleton_indices"].append(
                            ev["skeleton_indices"] if fat else None)
                        cols["verb_indices"].append(
                            ev["verb_indices"] if fat else None)
                out = pd.DataFrame(cols, columns=out_cols)
            # yield outside the timed block: suspended (Arrow) time not counted
            yield out

    cols = ["sid", "relation", "weight", "pos_tags", "lemmas", "ners",
            "dependencies"]
    return parsed.select(cols).mapInPandas(run, schema=EVENTUALITIES)


def merge_eventualities(events: DataFrame) -> DataFrame:
    """J6/A3: same-eid eventualities merged, frequencies summed, per-position
    NER labels merged into weighted counters (object.py:132-160;
    extractor.py:417-423).  The eid determines words/pos/deps, so ``first()``
    on those is exact, not approximate; ners are NOT part of the eid and are
    merged as positional Counters weighted by frequency, like the reference's
    ``Counter.update`` path (object.py:145-153).

    The counter merge is **pure relational** (VERDICT r1, wrong #4): instead
    of ``collect_list`` of every variant into one row (unbounded for a
    Zipf-hot eid), positions are exploded and weights summed per
    (eid, relation, pos, label) — map-side partial aggregation bounds every
    reducer; the reassembled row is bounded by words-length x label-alphabet,
    never by the number of merged sentences.  Keyed by (eid, relation): the
    reference merges within one relation's extraction file."""
    from pyspark.sql import functions as F

    base = events.groupBy("eid", "relation").agg(
        # ignorenulls: the matcher thins eid-determined columns to one
        # non-null emission per eid per partition (see match_patterns)
        F.first("pattern_sig", ignorenulls=True).alias("pattern_sig"),
        F.first("words", ignorenulls=True).alias("words"),
        F.first("pos_tags", ignorenulls=True).alias("pos_tags"),
        F.first("dependencies", ignorenulls=True).alias("dependencies"),
        F.first("skeleton_indices", ignorenulls=True).alias("skeleton_indices"),
        F.first("verb_indices", ignorenulls=True).alias("verb_indices"),
        F.sum("frequency").alias("frequency"),
        F.count("*").alias("n_sentences"),
    )
    ner = (
        events.select(
            "eid", "relation", "frequency",
            F.posexplode("ners").alias("pos", "label"),
        )
        .groupBy("eid", "relation", "pos", "label")
        .agg(F.sum("frequency").alias("w"))
        # one groupBy to the row key instead of the round-5 (pos)-keyed
        # intermediate + second groupBy: the (pos, label, w) triples are
        # bounded by words-length x label-alphabet per row, and the per-pos
        # maps are reassembled with array expressions — one exchange fewer
        # (guide §2.4).  Output identical: every position 0.._mx appears in
        # the exploded rows (ners arrays are dense), so the per-pos filter
        # is never empty, matching the old _pm[p] lookup.
        .groupBy("eid", "relation")
        .agg(
            F.collect_list(F.struct("pos", "label", "w")).alias("_plw"),
            F.max("pos").alias("_mx"),
        )
        .withColumn(
            "ner_counters",
            F.expr(
                "transform(sequence(0, _mx), p -> map_from_entries("
                "transform(filter(_plw, x -> x.pos = p), "
                "x -> struct(x.label, x.w))))"
            ),
        )
        .select("eid", "relation", "ner_counters")
    )
    return base.join(ner, ["eid", "relation"], "left")
