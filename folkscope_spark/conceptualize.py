"""Conceptualization against a Probase-style concept table (J3/T4/F11).

Spark-first rewrite of ``/root/reference/src/pattern/conceptualizer.py``:

* the instance->concept likelihood table is computed **relationally** —
  ``likelihood = freq / sum(freq) over (partition by instance)``
  (``conceptualizer.py:76-79``) with per-instance top-K dedupe by hyphenated
  concept name (``:506-524``) — then, as :func:`deliver_probase` decides by
  its size, either collected and ``sc.broadcast`` or equi-joined into a
  bounded per-row mini-map (:func:`concept_minimaps`, any size);
* the bounded combination search over noun-slot substitutions
  (``:526-566``: subsets of matched nouns x top-K concepts each, score =
  product of likelihoods, heap capped at ``topK**topK``) runs per row inside
  a ``mapInPandas`` batch — a per-row algorithm, not a relational op.  Both
  passes, per merged eventuality (:func:`conceptualize`) and per parsed line
  (:func:`conceptualize_text`, ``:682-685``), run through one Spark driver
  (:func:`_concept_pass`) and one two-pass search (:func:`_two_pass`);
* seed-rule NER rewrite (``SeedRuleConceptualizer.conceptualize_from_text``,
  ``:255-278``): words whose NER is in the reference's ``selected_ners`` set
  become ``__TYPE__k`` placeholders (k indexed per (type, word), reused for
  repeated words); person-pronouns (the reference's small
  ``person_pronoun_set``, ``:239-241`` — note "it" is excluded) become
  ``__PERSON__k``; every other NER label (ORGANIZATION, LOCATION, ...) passes
  through untouched;
* **template-prefix masking** (``start_index``, ``conceptualizer.py:305-330``):
  the first ``start_index`` words are seed-rule-masked with UNK/O then restored
  verbatim, and their POS is forced to FW so Probase never conceptualizes the
  prompt-template prefix.  The call site passes
  ``len(TEMPLATES[rel][1])`` — the **character** length of the POS string
  (``:703``), documented as a unit bug (token count intended,
  ``src/pattern/README.md:104``; SURVEY.md §3.4).  ``start_index_mode``
  selects ``"tokens"`` (intended, default), ``"chars"`` (reference parity:
  masks everything, so every eventuality falls through to the seed-rule
  fallback), or ``"none"``;
* **seed-rule fallback** (``:384-387``): when no Probase concept is produced,
  emit ``(seed-rule words, 1.0)``.  The reference guards this with
  ``concept_after_seed_rule != " ".join(words)`` — a list-vs-string compare
  that is always True, so the fallback is unconditional; we pin that
  observable behavior;
* phrase-level second pass (``:332-382``): compound-chain segments (F10) are
  conceptualized as phrases and merged with the word-level list by descending
  score (two-pointer, surface-dedup, capped at ``topK**topK``).  The
  *eventuality* path feeds word-level ``pos_tags`` to the phrase pass
  (``:342,351``) and the text path each segment's first-word tag
  (``:392-492``) — we reproduce both; spans follow the text path's correct
  ``words[min:max+1]`` (``:428``) rather than ``Eventuality.phrases``'s
  misread of its (start, end) pairs (``object.py:602-607`` vs ``:288-291``) —
  a reference bug we document and do not copy (SURVEY.md §3.4 policy);
* cid = sha1(" ".join(words)) per ``object.py:702-711``;
  pid = sha1(cid + "$" + eid) per ``object.py:762-773`` (D10).
"""

from __future__ import annotations

import hashlib
import heapq
import logging
from dataclasses import dataclass
from itertools import combinations, repeat

import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, Window, functions as F

from .metrics import batch_timer
from .relations import POS_TEMPLATES, template_anchor_len

_log = logging.getLogger(__name__)

DEFAULT_TOPK = 5

# Top-K tables up to this row count are collected whole and shipped with
# sc.broadcast.  Above it nothing is collected: the top-K table is equi-joined
# and each row gets a bounded per-row mini-map (concept_minimaps), the one
# tier whose driver footprint does not grow with Probase (a collected
# 5M-row dict reaches GBs; the real Probase is ~33M rows).
PROBASE_BROADCAST_CUTOFF = 100_000

# conceptualizer.py:231-236 — NER types the seed rule rewrites
SELECTED_NERS = frozenset(
    [
        "TIME", "DATE", "DURATION", "MONEY", "PERCENT", "NUMBER", "COUNTRY",
        "STATE_OR_PROVINCE", "CITY", "NATIONALITY", "PERSON", "RELIGION", "URL",
    ]
)
SEED_CONCEPTS = frozenset("__%s__" % n for n in SELECTED_NERS)
# conceptualizer.py:239-241 — note: "it" is NOT a person pronoun here
PERSON_PRONOUN_SET = frozenset(
    ["he", "she", "i", "him", "her", "me", "woman", "man", "boy", "girl", "you", "we", "they"]
)
PRONOUNS = PERSON_PRONOUN_SET | frozenset(["it"])


def probase_topk(probase: DataFrame, k: int = DEFAULT_TOPK) -> DataFrame:
    """instance -> top-K (concept, likelihood), concepts hyphenated and
    deduped by surface form (J3 + W2)."""
    w_inst = Window.partitionBy("instance")
    w_rank = Window.partitionBy("instance").orderBy(
        F.desc("likelihood"), F.asc("concept")
    )
    return (
        probase.withColumn("likelihood", F.col("freq") / F.sum("freq").over(w_inst))
        .withColumn("concept", F.regexp_replace("concept", " ", "-"))
        .dropDuplicates(["instance", "concept"])
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select("instance", "concept", "likelihood")
    )


def _gram_expr(words_col: str, max_len: int):
    """All contiguous space-joined n-grams (1..max_len) of a words array —
    the superset of Probase lookups a row can make (word lookups are
    unigrams, phrase lookups contiguous spans ``words[min:max+1]``)."""
    return F.expr(
        f"flatten(transform(sequence(1, {int(max_len)}), L -> "
        f"case when size({words_col}) >= L then "
        f"transform(sequence(1, size({words_col}) - L + 1), i -> "
        f"concat_ws(' ', slice({words_col}, i, L))) "
        f"else cast(array() as array<string>) end))"
    )


def concept_minimaps(
    df: DataFrame,
    topk: DataFrame,
    key_cols: tuple[str, ...] = ("eid", "relation"),
    words_col: str = "words",
    max_len: int = 4,
) -> DataFrame:
    """Per-row Probase mini-map, fully relationally — the no-driver-collect
    scale path for conceptualization (VERDICT r3 wrong #1).

    Explode each row's candidate lookup n-grams, equi-join the distributed
    ``probase_topk`` table on ``instance`` (an ordinary shuffle join Catalyst
    can plan however the dimension's size demands), and ``collect_list`` the
    hits back to one bounded array per row key.  The per-row array is capped
    by ``(row tokens x max_len) x K`` entries — a few hundred — regardless of
    how many billions of rows Probase has, so nothing ever funnels through
    the driver and no multi-GB dict is broadcast."""
    keys = list(key_cols)
    grams = (
        df.select(*keys, F.explode(_gram_expr(words_col, max_len)).alias("instance"))
        .dropDuplicates(keys + ["instance"])
    )
    return (
        grams.join(topk, "instance")
        .groupBy(*keys)
        .agg(
            F.collect_list(
                F.struct("instance", "concept", "likelihood")
            ).alias("_concept_map")
        )
    )


def _topk_dict(entries) -> dict[str, list[tuple[str, float]]]:
    """instance -> [(concept, likelihood)] from (instance, concept,
    likelihood) records or None, each list ordered likelihood desc, concept
    asc — ``probase_concepts`` truncates to ``top_k`` positionally."""
    out: dict[str, list[tuple[str, float]]] = {}
    for e in entries if entries is not None else ():
        out.setdefault(e["instance"], []).append((e["concept"], float(e["likelihood"])))
    for v in out.values():
        v.sort(key=lambda x: (-x[1], x[0]))
    return out


@dataclass(frozen=True)
class ProbaseDelivery:
    """The top-K Probase dimension as both conceptualization passes read it:
    ``broadcast`` (an ``sc.broadcast`` instance->top-K dict) or ``table``
    (the cached :func:`probase_topk` table, joined per row by
    :func:`concept_minimaps` with n-grams up to ``max_gram_len`` tokens, the
    longest instance)."""

    broadcast: Broadcast | None = None
    table: DataFrame | None = None
    max_gram_len: int = 1

    @property
    def mode(self) -> str:
        return "broadcast" if self.table is None else "relational"

    def release(self) -> None:
        """Destroy the broadcast or unpersist the table; frames conceptualized
        with this delivery cannot be recomputed afterwards."""
        if self.table is None:
            self.broadcast.destroy()
        else:
            self.table.unpersist()


def deliver_probase(topk: DataFrame, mode: str = "auto") -> ProbaseDelivery:
    """Size the top-K table and pick its delivery.  ``mode`` is ``"auto"`` or
    ``"relational"`` (never collect the dimension).

    In ``auto``, one ``limit(PROBASE_BROADCAST_CUTOFF + 1).collect()`` both
    sizes the table and, when it fits, is the dict that gets broadcast (once
    per executor).  Otherwise the table stays cached for the mini-map joins;
    the job that fills the cache also computes the n-gram bound.  Either way
    the top-K window runs once."""
    if mode not in ("auto", "relational"):
        raise ValueError(f"probase_mode must be 'auto' or 'relational', not {mode!r}")
    topk = topk.cache()
    if mode == "auto":
        head = topk.limit(PROBASE_BROADCAST_CUTOFF + 1).collect()
        if len(head) <= PROBASE_BROADCAST_CUTOFF:
            topk.unpersist()
            sc = topk.sparkSession.sparkContext
            return ProbaseDelivery(broadcast=sc.broadcast(_topk_dict(head)))
        _log.warning(
            "deliver_probase: %d top-K rows seen, more than "
            "PROBASE_BROADCAST_CUTOFF=%d; delivering Probase relationally",
            len(head), PROBASE_BROADCAST_CUTOFF,
        )
    bound = topk.agg(F.max(F.size(F.split("instance", " "))).alias("m")).first()
    return ProbaseDelivery(table=topk, max_gram_len=int(bound["m"] or 1))


def cid_of(words: list[str]) -> str:
    """sha1 of the space-joined concept words (object.py:702-711)."""
    return hashlib.sha1(" ".join(words).encode("utf-8")).hexdigest()


def pid_of(cid: str, eid: str) -> str:
    """sha1(cid + "$" + eid) — ASERConceptInstancePair (object.py:762-773)."""
    return hashlib.sha1((cid + "$" + eid).encode("utf-8")).hexdigest()


def seed_rule_words(words: list[str], ners) -> list[str]:
    """SeedRuleConceptualizer.conceptualize_from_text (conceptualizer.py:255-278):
    selected-NER words -> ``__TYPE__k`` with k indexed per (type, word) —
    a repeated word reuses its index; person pronouns -> ``__PERSON__k``;
    everything else (including non-selected NER types) passes through."""
    if ners is None:
        ners = ["O"] * len(words)
    out: list[str] = []
    ners_dict: dict[str, dict[str, int]] = {n: {} for n in SELECTED_NERS}
    for word, ner in zip(words, ners):
        if ner in SELECTED_NERS:
            d = ners_dict[ner]
            if word not in d:
                d[word] = len(d)
            out.append("__%s__%d" % (ner, d[word]))
        elif word in PERSON_PRONOUN_SET:
            d = ners_dict["PERSON"]
            if word not in d:
                d[word] = len(d)
            out.append("__PERSON__%d" % d[word])
        else:
            out.append(word)
    return out


def seed_rule_masked(words: list[str], ners, start_index: int) -> list[str]:
    """Seed rule with the template prefix masked (conceptualizer.py:316-327):
    the first ``start_index`` words are replaced by UNK/O for the rewrite and
    restored verbatim afterwards."""
    if start_index <= 0:
        return seed_rule_words(words, ners)
    if ners is None:
        ners = ["O"] * len(words)
    masked = seed_rule_words(
        ["UNK"] * start_index + list(words[start_index:]),
        ["O"] * start_index + list(ners[start_index:]),
    )
    return list(words[:start_index]) + masked[start_index:]


def _mask_pos(pos_tags: list[str], start_index: int) -> list[str]:
    """FW-mask the template prefix so Probase skips it (conceptualizer.py:328-330)."""
    if start_index <= 0:
        return list(pos_tags)
    return ["FW"] * start_index + list(pos_tags[start_index:])


def template_start_index(relation: str, mode: str = "tokens") -> int:
    """The reference call site passes ``len(TEMPLATES[rel][1])`` — the char
    length of the POS template string (conceptualizer.py:703), while the
    documented intent is the token count (src/pattern/README.md:104).
    ``mode``: "tokens" (intended, default) | "chars" (reference parity) |
    "none" (no masking)."""
    if mode == "none":
        return 0
    if mode == "chars":
        return len(POS_TEMPLATES.get(relation, ("", ""))[1])
    return template_anchor_len(relation)


def probase_concepts(
    words: list[str],
    pos_tags: list[str],
    topk_map: dict[str, list[tuple[str, float]]],
    top_k: int = DEFAULT_TOPK,
) -> list[tuple[list[str], float]]:
    """Bounded combination search (conceptualizer.py:494-566 port): for every
    non-empty subset of concept-matched nouns, substitute each with one of its
    top-K concepts; keep the ``topK**topK`` best by product score with the
    reference's early-stop heuristic.  Returns [(concept_words, score)] desc.

    Noun selection (:500-508): NN* tag, non-empty word starting lowercase
    (placeholders start with "_" and fail islower), not an exact seed-concept
    rendering, not a pronoun (the reference's pronouns = person set + "it")."""
    word2indices: dict[str, list[int]] = {}
    for idx, w in enumerate(words):
        word2indices.setdefault(w, []).append(idx)

    word2concepts: dict[str, list[tuple[str, float]]] = {}
    for i, tag in enumerate(pos_tags):
        if i >= len(words):
            break
        w = words[i]
        if not tag.startswith("NN") or not w or not w[0].islower():
            continue
        if w in SEED_CONCEPTS or w in PRONOUNS or w in word2concepts:
            continue
        concepts = topk_map.get(w)
        if concepts:
            word2concepts[w] = concepts[:top_k]

    if not word2concepts:
        return []

    matched = list(word2concepts.keys())
    max_len = top_k**top_k
    heap: list[tuple[float, list[str]]] = []
    pre_min_score, min_score = 1.0, -1.0
    pre_comb_len, comb_len = 0, 1
    for size in range(1, len(matched) + 1):
        stop = False
        for word_tuple in combinations(matched, size):
            cand: list[tuple[float, list[str]]] = [(1.0, list(words))]
            for w in word_tuple:
                nxt = []
                for prob, tmp in cand:
                    for concept, c_prob in word2concepts[w]:
                        t2 = tmp[:]
                        for idx in word2indices[w]:
                            t2[idx] = concept
                        nxt.append((prob * c_prob, t2))
                cand = nxt
            for tmp in cand:
                if len(heap) >= max_len:
                    tmp = heapq.heappushpop(heap, tmp)
                else:
                    heapq.heappush(heap, tmp)
                if min_score < tmp[0]:
                    min_score = tmp[0]
            comb_len = len(word_tuple)
            if (
                pre_min_score == min_score
                and pre_comb_len + 1 < comb_len
                and len(heap) >= max_len
            ):
                stop = True
                break
            if pre_min_score != min_score:
                pre_min_score = min_score
                pre_comb_len = comb_len
        if stop:
            break

    ordered = [heapq.heappop(heap) for _ in range(len(heap))][::-1]
    return [(ws, score) for score, ws in ordered]


def merge_concept_lists(
    strs1: list[tuple[list[str], float]],
    strs2: list[tuple[list[str], float]],
    top_k: int = DEFAULT_TOPK,
) -> list[tuple[list[str], float]]:
    """Two-pointer merge by descending score with surface dedupe, capped at
    ``topK**topK`` (conceptualizer.py:354-382)."""
    max_len = top_k**top_k
    used: set[str] = set()
    out: list[tuple[list[str], float]] = []
    p1 = p2 = 0
    while p1 < len(strs1) and p2 < len(strs2) and len(used) < max_len:
        if strs1[p1][1] > strs2[p2][1]:
            cand = strs1[p1]
            p1 += 1
        else:
            cand = strs2[p2]
            p2 += 1
        key = " ".join(cand[0])
        if key not in used:
            used.add(key)
            out.append(cand)
    for rest, ptr in ((strs1, p1), (strs2, p2)):
        for cand in rest[ptr:]:
            if len(used) >= max_len:
                break
            key = " ".join(cand[0])
            if key not in used:
                used.add(key)
                out.append(cand)
    return out


def _two_pass(
    words: list[str],
    pos_tags: list[str],
    ners,
    dependencies,
    topk_map: dict[str, list[tuple[str, float]]],
    top_k: int,
    start_index: int,
    segment_pos: bool,
) -> list[tuple[list[str], float]]:
    """The reference's two-pass search (conceptualizer.py:305-390 and
    :392-492): word-level seed rule + Probase with the template prefix
    masked; when compound segments exist, a phrase-level pass (phrase NER =
    its first word's label) merged two-pointer with the word level; the
    seed-rule fallback when both are empty.

    ``segment_pos`` picks the phrase pass's POS gate: False gates phrase i by
    the word-level ``pos_tags[i]``, as the eventuality path does
    (conceptualizer.py:342,351); True gates it by the segment's own
    first-word tag, as the text path does."""
    from .eventuality import dep_compound_segment

    seeded = seed_rule_masked(words, ners, start_index)
    concept_strs = probase_concepts(
        seeded, _mask_pos(pos_tags, start_index), topk_map, top_k
    )

    segments = (
        dep_compound_segment([tuple(d) for d in dependencies], len(words))
        if dependencies
        else [(i,) for i in range(len(words))]
    )
    if len(segments) != len(words):
        # start_index remapped to the segment that contains it (:334-337)
        si2 = next(
            (i for i, s in enumerate(segments) if start_index in s), start_index
        )
        phrases = [" ".join(words[min(s): max(s) + 1]) for s in segments]
        phrase_ners = [ners[s[0]] for s in segments] if ners is not None else None
        phrase_pos = [pos_tags[s[0]] for s in segments] if segment_pos else pos_tags
        seeded2 = seed_rule_masked(phrases, phrase_ners, si2)
        strs2 = probase_concepts(
            seeded2, _mask_pos(phrase_pos, si2), topk_map, top_k
        )
        concept_strs = merge_concept_lists(concept_strs, strs2, top_k)

    if not concept_strs:
        # seed-rule fallback (conceptualizer.py:384-387; the reference's
        # list != str guard is always True -> unconditional on empty)
        concept_strs = [(list(seeded), 1.0)]
    return concept_strs


def conceptualize_eventuality(
    words: list[str],
    pos_tags: list[str],
    ners,
    dependencies,
    topk_map: dict[str, list[tuple[str, float]]],
    top_k: int = DEFAULT_TOPK,
    start_index: int = 0,
) -> list[tuple[list[str], float]]:
    """Eventuality-path conceptualization (conceptualizer.py:305-390); the
    phrase pass is gated by the word-level ``pos_tags`` (see
    :func:`_two_pass`).

    ``ners`` must already be per-position string labels (the eventuality path
    reduces merged Counters via ``Eventuality.ners``/``_get_ner``,
    object.py:190-194,496-506 — see :func:`_dominant_ner`)."""
    return _two_pass(
        words, pos_tags, ners, dependencies, topk_map, top_k, start_index,
        segment_pos=False,
    )


def conceptualize_from_text(
    tokens: list[str],
    ners,
    pos_tags: list[str],
    dependencies,
    topk_map: dict[str, list[tuple[str, float]]],
    top_k: int = DEFAULT_TOPK,
    start_index: int = 0,
) -> list[tuple[list[str], float]]:
    """Whole-sentence text-path conceptualization
    (``ProbaseConceptualizer.conceptualize_from_text``,
    conceptualizer.py:392-492): like the eventuality path, but each phrase is
    gated by its segment's first-word POS tag.  ``ners`` are per-position
    string labels."""
    return _two_pass(
        tokens, pos_tags, ners, dependencies, topk_map, top_k, start_index,
        segment_pos=True,
    )


def _dominant_ner(counters, pos_tags) -> list | None:
    """Reduce per-position NER counters to the eventuality path's string
    labels: most-frequent non-O label (object.py:496-506), with "O" forced on
    VB* positions (the ``_get_ner`` POS guard).  Counter ties break by
    (-count, label) — deterministic where the reference inherits insertion
    order."""
    if counters is None:
        return None
    out = []
    for i, c in enumerate(counters):
        best = "O"
        if c and not (i < len(pos_tags) and pos_tags[i].startswith("VB")):
            for label, cnt in sorted(c.items(), key=lambda kv: (-kv[1], kv[0])):
                if label != "O":
                    best = label
                    break
        out.append(best)
    return out


def _dep_triples(deps):
    return [(d["gov"], d["rel"], d["dep"]) for d in deps]


def _event_rows(row, tm, start_index):
    """One merged eventuality -> its concept-instance rows."""
    eid, rel, words, pos_tags, counters, deps, pattern, freq = row
    pos_tags = list(pos_tags)
    out = []
    for cw, score in conceptualize_eventuality(
        list(words), pos_tags, _dominant_ner(counters, pos_tags),
        _dep_triples(deps), tm, start_index=start_index,
    ):
        cid = cid_of(cw)
        out.append((
            pid_of(cid, eid), cid, eid, rel, " ".join(cw), pattern,
            float(score), float(freq),
        ))
    return out


def _text_rows(row, tm, start_index):
    """One parsed line -> its conceptualized_text rows."""
    sid, rel, lemmas, pos_tags, ners, deps = row
    return [
        (sid, rel, cid_of(cw), " ".join(cw), float(score))
        for cw, score in conceptualize_from_text(
            list(lemmas), list(ners), list(pos_tags), _dep_triples(deps), tm,
            start_index=start_index,
        )
    ]


def _concept_pass(
    src: DataFrame,
    in_cols: list[str],
    row_fn,
    out_schema: str,
    probase: ProbaseDelivery,
    start_index_mode: str,
    kernel_acc,
) -> DataFrame:
    """The one Spark driver behind both passes.  ``in_cols`` starts with the
    row key and ``relation`` followed by the words column; ``row_fn(row, tm,
    start_index)`` maps one input row to its output tuples.

    ``probase`` (see :func:`deliver_probase`) gives every row either the
    broadcast dict or, for the relational tier, its bounded per-row mini-map
    via :func:`concept_minimaps` (equi-join + collect_list, zero driver
    collect — the 100 TB path); same results.

    The per-relation template ``start_index`` (see
    :func:`template_start_index`) is resolved once on the driver and shipped
    in the closure."""
    start_indices = {
        rel: template_start_index(rel, start_index_mode) for rel in POS_TEMPLATES
    }
    out_cols = [f.split()[0] for f in out_schema.split(", ")]
    bc = probase.broadcast
    src = src.select(in_cols)
    if bc is None:
        keys = in_cols[:2]
        src = src.join(
            concept_minimaps(
                src, probase.table, key_cols=tuple(keys), words_col=in_cols[2],
                max_len=probase.max_gram_len,
            ),
            keys,
            "left",
        )

    def run(batches):
        for pdf in batches:
            with batch_timer(kernel_acc):
                maps = (
                    map(_topk_dict, pdf["_concept_map"]) if bc is None
                    else repeat(bc.value)
                )
                rows = [
                    t
                    for row, tm in zip(zip(*(pdf[c] for c in in_cols)), maps)
                    for t in row_fn(row, tm, start_indices.get(row[1], 0))
                ]
                out = pd.DataFrame(rows, columns=out_cols)
            yield out

    return src.mapInPandas(run, schema=out_schema)


def conceptualize(
    events: DataFrame,
    probase: ProbaseDelivery,
    start_index_mode: str = "tokens",
    kernel_acc=None,
) -> DataFrame:
    """Merged eventualities (:func:`folkscope_spark.match.merge_eventualities`)
    -> concept-instance rows
    (pid, cid, eid, relation, concept_text, pattern, score, frequency).
    Probase delivery and prefix masking as in :func:`_concept_pass`."""
    return _concept_pass(
        events,
        ["eid", "relation", "words", "pos_tags", "ner_counters", "dependencies",
         "pattern_sig", "frequency"],
        _event_rows,
        "pid string, cid string, eid string, relation string, "
        "concept_text string, pattern string, score double, frequency double",
        probase, start_index_mode, kernel_acc,
    )


def conceptualize_text(
    parsed: DataFrame,
    probase: ProbaseDelivery,
    start_index_mode: str = "tokens",
    kernel_acc=None,
) -> DataFrame:
    """``conceptualized_text`` — the whole-parsed-line pass the reference runs
    alongside per-eventuality conceptualization (conceptualizer.py:682-685):
    every parsed sentence (:func:`folkscope_spark.parse.parse_assertions`
    rows), not just its eventualities, gets (sid, relation, cid,
    concept_text, score) rows.  Probase delivery and prefix masking as in
    :func:`_concept_pass`."""
    return _concept_pass(
        parsed,
        ["sid", "relation", "lemmas", "pos_tags", "ners", "dependencies"],
        _text_rows,
        "sid string, relation string, cid string, concept_text string, score double",
        probase, start_index_mode, kernel_acc,
    )


def top_instances_per_concept(
    concept_rows: DataFrame, n: int = 100, n_salts: int = 16
) -> DataFrame:
    """Exact top-``n`` (eid, score) instances per cid with bounded fan-in.

    A Zipf-hot concept ("thing", "person") collects millions of instances at
    web scale, so a single rank window over cid would sort one concept's whole
    fan-in in one task.  Two-level rank instead: a salted local rank caps the
    per-task group at ``fan_in / n_salts`` and keeps at most ``n * n_salts``
    candidates per cid, then the global rank picks the true top-``n`` from
    that bounded set (top-n of a set is contained in the union of top-n of
    its parts, so the result is exact)."""
    salted = concept_rows.select("cid", "eid", "score").withColumn(
        "_salt", F.pmod(F.xxhash64("eid"), F.lit(n_salts))
    )
    w1 = Window.partitionBy("cid", "_salt").orderBy(F.desc("score"), F.asc("eid"))
    w2 = Window.partitionBy("cid").orderBy(F.desc("score"), F.asc("eid"))
    return (
        salted.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") <= n)
        .drop("_salt", "rk")
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= n)
        .groupBy("cid")
        .agg(F.collect_list(F.struct("eid", "score")).alias("instances"))
        .withColumn(
            "instances",
            F.expr(
                "array_sort(instances, (a, b) -> case"
                " when a.score > b.score then -1 when a.score < b.score then 1"
                " when a.eid < b.eid then -1 when a.eid > b.eid then 1"
                " else 0 end)"
            ),
        )
    )


def aggregate_concepts(concept_rows: DataFrame, max_instances: int = 100) -> DataFrame:
    """A4 (conceptualizer.py:649-663): cid score = sum(score * frequency);
    A7 (object.py:713-719): dominant pattern = most frequent pattern label
    among instances (mode via count + rank-1 window, W1).

    The per-concept instance list is **bounded**: ``cscore`` and
    ``n_instances`` aggregate the full fan-in (map-side partial sums, no row
    growth), while ``instances`` carries only the top-``max_instances``
    (eid, score) pairs via :func:`top_instances_per_concept` — a Zipf-hot
    concept no longer materializes its entire instance set in one row
    (VERDICT r2, wrong #2)."""
    agg = concept_rows.groupBy("cid").agg(
        F.first("concept_text").alias("concept_text"),
        F.sum(F.col("score") * F.col("frequency")).alias("cscore"),
        F.count("*").cast("long").alias("n_instances"),
    )
    top = top_instances_per_concept(concept_rows, n=max_instances)
    pat_counts = concept_rows.groupBy("cid", "pattern").agg(
        F.sum("frequency").alias("pfreq")
    )
    w = Window.partitionBy("cid").orderBy(F.desc("pfreq"), F.asc("pattern"))
    dominant = (
        pat_counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cid", F.col("pattern").alias("dominant_pattern"))
    )
    return agg.join(top, "cid", "left").join(dominant, "cid", "left")
