"""Single-process oracle port of the full KG-construction semantics.

Plain-Python loops, no Spark: this recomputes the expected (subj, pred, obj)
triple set for the deterministic synthetic corpus by running the same pure
kernels in the same logical order the reference would
(generation -> prefix strip -> clean -> parse -> anchored mining with the
min-frequency schedule -> ordered match sweep -> eventuality assembly).
The pipeline parity test (SURVEY.md §5.2 #3) compares the distributed
pipeline's triples against this oracle: P/R target >= 0.95 (BASELINE.json);
a distributed-plumbing bug (wrong join key, lost rows in a shuffle, bad
merge) shows up as a set difference here.

Role split (VERDICT r1, item 2): this module deliberately REUSES the repo's
kernels, so it proves the *distributed plumbing* only.  Kernel parity with
the reference's match semantics is proven separately by
``tests/reference_port.py`` — a literal transcription with zero
folkscope_spark imports — via ``tests/test_reference_port.py``.
"""

from __future__ import annotations

from collections import Counter

from folkscope_spark.eventuality import build_eventuality
from folkscope_spark.graphs import graph_of
from folkscope_spark.match import extract_from_sentence
from folkscope_spark.nlp import parse_sentence
from folkscope_spark.patterns import enumerate_anchored, anchor_lens
from folkscope_spark.graphs import (
    check_connect,
    dedupe_by_subsumption,
    ends_forbidden,
    sort_patterns,
)
from folkscope_spark.relations import POS_TEMPLATES, RELATIONS, prompt_text
from folkscope_spark.synthetic import (
    gen_tail,
    item_asin,
    item_row,
    page_pair,
    page_row,
)
from folkscope_spark.textnorm import clean_text


def oracle_triples(
    n_pages: int,
    n_items: int,
    max_extra: int = 2,
    num_sequences: int = 3,
    min_freq_ratio: float = 1e-4,
    min_freq_abs: int = 2,
) -> set[tuple[str, str, str]]:
    return oracle_kg(
        n_pages, n_items, max_extra, num_sequences, min_freq_ratio, min_freq_abs
    )["triples"]


def oracle_kg(
    n_pages: int,
    n_items: int,
    max_extra: int = 2,
    num_sequences: int = 3,
    min_freq_ratio: float = 1e-4,
    min_freq_abs: int = 2,
) -> dict:
    items = {item_asin(i): item_row(i) for i in range(n_items)}

    # pairs from en pages (distinct), title-length filter
    pairs = set()
    for i in range(n_pages):
        p = page_row(i, n_items)
        if p["lang"] != "en":
            continue
        a, b = page_pair(i, n_items)
        pairs.add((item_asin(a), item_asin(b)))

    # assertions with prefix strip (P2 semantics: first anchor occurrence)
    assertions = []  # (subj, rel, tail)
    for a, b in sorted(pairs):
        ta, tb = items[a]["title"], items[b]["title"]
        if len(ta.split()) + len(tb.split()) > 50:
            continue
        for rel in RELATIONS:
            anchor = POS_TEMPLATES[rel][0]
            for s in range(num_sequences):
                cont = gen_tail("%s-%s-%s" % (a, b, rel), rel, s)
                full = prompt_text(rel, ta, tb) + " " + cont
                if rel == "open":
                    idx = full.find("because ")
                    if idx < 0:
                        continue
                    tail = full[idx + 8:]
                else:
                    idx = full.find(anchor)
                    if idx < 0:
                        continue
                    tail = full[idx:]
                assertions.append(("%s-%s" % (a, b), rel, tail))

    # parse distinct tails
    parsed_by_rel: dict[str, dict[str, tuple[dict, float]]] = {}
    tail_count: Counter = Counter()
    for subj, rel, tail in assertions:
        tail_count[(rel, tail)] += 1
    for (rel, tail), w in tail_count.items():
        cleaned = clean_text(tail)
        if not cleaned:
            continue
        parsed = parse_sentence(cleaned)
        if not parsed["dependencies"]:
            continue
        parsed_by_rel.setdefault(rel, {})[tail] = (parsed, float(w))

    lens = anchor_lens()
    triples: set[tuple[str, str, str]] = set()
    subj_by_rel_tail: dict[tuple[str, str], list[str]] = {}
    for subj, rel, tail in assertions:
        subj_by_rel_tail.setdefault((rel, tail), []).append(subj)

    # phase 1: mine per-relation frequent pattern sets
    mined: dict[str, dict] = {}
    for rel, parses in parsed_by_rel.items():
        alen = lens.get(rel, 0)
        if alen == 0:
            continue
        ctr: Counter = Counter()
        n_sent = 0
        for parsed, w in parses.values():
            n_sent += int(w)
            for pat in enumerate_anchored(
                parsed["pos_tags"], parsed["dependencies"], alen, max_extra
            ):
                ctr[pat] += int(w)
        cut = max(min_freq_abs, int(n_sent * min_freq_ratio))
        kept = {
            p: c
            for p, c in ctr.items()
            if c >= cut and check_connect(p) and not ends_forbidden(p)
        }
        if not kept:
            continue
        ordered = sort_patterns(dedupe_by_subsumption(list(kept)))
        mined[rel] = {
            "patterns": ordered,
            "freqs": [kept[p] for p in ordered],
        }
    if mined:
        from folkscope_spark.patterns import merge_pattern_sets

        mined["open"] = merge_pattern_sets(mined)

    # phase 2: match every relation's sentences (open uses the merged set);
    # collect per-(eid, rel) merged state for the concept pass
    merged: dict[tuple[str, str], dict] = {}
    ev_occurrences: dict[tuple[str, str], set[str]] = {}  # (eid, rel) -> tails
    for rel, parses in parsed_by_rel.items():
        if rel not in mined:
            continue
        ordered = mined[rel]["patterns"]
        prepared = [(p, graph_of(p)) for p in ordered]

        for tail, (parsed, w) in parses.items():
            row = {
                "pos_tags": parsed["pos_tags"],
                "lemmas": parsed["lemmas"],
                "ners": parsed["ners"],
                "dependencies": parsed["dependencies"],
            }
            for ev in extract_from_sentence(row, prepared):
                obj = " ".join(ev["words"])
                for subj in subj_by_rel_tail[(rel, tail)]:
                    triples.add((subj, rel, obj))
                key = (ev["eid"], rel)
                m = merged.setdefault(
                    key,
                    {
                        "words": ev["words"],
                        "pos_tags": ev["pos_tags"],
                        "dependencies": ev["dependencies"],
                        "counters": [dict() for _ in ev["words"]],
                        "frequency": 0.0,
                    },
                )
                m["frequency"] += w
                if ev["ners"]:
                    for i, label in enumerate(ev["ners"]):
                        c = m["counters"][i]
                        c[label] = c.get(label, 0.0) + w
                ev_occurrences.setdefault(key, set()).add(tail)

    # phase 3: conceptualization (same kernels; plumbing oracle) — mirrors
    # pipeline.build_concept_triples keyed (eid, relation)
    from folkscope_spark.conceptualize import (
        DEFAULT_TOPK,
        _dominant_ner,
        conceptualize_eventuality,
        template_start_index,
    )
    from folkscope_spark.synthetic import probase_rows

    inst: dict[str, list[tuple[str, int]]] = {}
    for r in probase_rows():
        inst.setdefault(r["instance"], []).append(
            (r["concept"].replace(" ", "-"), r["freq"])
        )
    topk_map: dict[str, list[tuple[str, float]]] = {}
    for instance, cs in inst.items():
        total = sum(f for _, f in cs)
        if not total:
            continue
        liks = sorted(
            ((c, f / total) for c, f in cs), key=lambda x: (-x[1], x[0])
        )
        topk_map[instance] = liks[: DEFAULT_TOPK]

    concept_triples: set[tuple[str, str, str]] = set()
    for (eid, rel), m in merged.items():
        ners = _dominant_ner(m["counters"], m["pos_tags"])
        si = template_start_index(rel, "tokens")
        for cw, _score in conceptualize_eventuality(
            m["words"], m["pos_tags"], ners, m["dependencies"],
            topk_map, DEFAULT_TOPK, start_index=si,
        ):
            obj = " ".join(cw)
            for tail in ev_occurrences[(eid, rel)]:
                for subj in subj_by_rel_tail[(rel, tail)]:
                    concept_triples.add((subj, rel, obj))
    return {"triples": triples, "concept_triples": concept_triples}
