"""parse_light — the deterministic parser stage (SURVEY.md §2.10).

Replaces the reference's port-sharded CoreNLP HTTP servers
(``/root/reference/src/pattern/generation_parser.py:152-164``,
``utils.py:217-299``) with the pure-Python kernel in :mod:`folkscope_spark.nlp`
run inside ``mapInPandas`` — each Arrow batch is parsed in-process, so
parallelism is Spark partitions instead of worker pools, and there is no
socket boundary.

Output schema is D6 (:data:`folkscope_spark.schemas.PARSED`) without its
``text``/``tokens``/``mentions`` columns, plus ``weight``: each distinct
(relation, tail) is parsed once, keyed ``sid = md5(relation || tail)``, and
``weight`` is its corpus multiplicity.  The reference parses once per
generated row, keyed ``"{item_a}-{relation}-{item_b}|{row}"``
(``generation_parser.py:137``); here the per-row subjects and scores
re-attach to the parsed rows by the md5 key downstream
(``pipeline.build_event_triples``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pyspark.sql import types as T

from .metrics import batch_timer
from .nlp import parse_sentence
from .schemas import PARSED
from .textnorm import clean_text

# The matcher and miner never read tokens, mentions or text: at web scale the
# Arrow transfer + cache of the parsed table is the dominant non-scaling
# cost, and these are its fattest columns.
_OUT_COLS = ["sid", "relation", "weight", "pos_tags", "lemmas", "ners",
             "dependencies"]
PARSED_W = T.StructType(
    PARSED.fields[:2]
    + [T.StructField("weight", T.DoubleType())]
    + [f for f in PARSED.fields[2:] if f.name in _OUT_COLS]
)


def parse_assertions(
    assertions: DataFrame, skip_words=None, kernel_acc=None
) -> DataFrame:
    """assertions(relation, tail, ...) -> parsed rows, one per distinct
    (relation, tail).

    At web scale identical LLM continuations are common, so parsing each
    distinct pair once cuts the hottest Python kernel by the duplication
    factor, while ``weight`` keeps corpus-frequency semantics exact
    (downstream counts sum it).

    The cleaner runs first inside the same UDF (byte-contract P6); empty or
    unparsable rows are dropped (validity guard P13, pattern_filter.py:65).

    ``skip_words`` applies P8 (extractor.py:337-339,393-395): a sentence is
    dropped when its raw token set intersects the skip set — the reference's
    exact check (``set(tokens) & skip_words``, case-sensitive).  Default None
    mirrors the reference default (empty set — opt-in).
    """
    src = (
        assertions.groupBy("relation", "tail")
        .count()
        .select(
            F.md5(F.concat_ws("\x1f", "relation", "tail")).alias("sid"),
            "relation",
            "tail",
            F.col("count").cast("double").alias("weight"),
        )
    )
    skip = frozenset(skip_words) if skip_words else None

    def run(batches):
        for pdf in batches:
            # the timed block covers decoded-batch compute only; the yield is
            # outside so suspended time (Arrow encode/decode) never counts
            with batch_timer(kernel_acc):
                cols: dict[str, list] = {c: [] for c in _OUT_COLS}
                # scalar columns as plain lists (pandas Series iteration
                # boxes per element)
                for sid, rel, tail, w in zip(
                    pdf["sid"].tolist(), pdf["relation"].tolist(),
                    pdf["tail"].tolist(), pdf["weight"].tolist(),
                ):
                    cleaned = clean_text(tail)
                    if not cleaned:
                        continue
                    p = parse_sentence(cleaned)
                    if not p["dependencies"] or (
                        skip and set(p["tokens"]) & skip
                    ):  # P13; P8 (extractor.py:393-395)
                        continue
                    cols["sid"].append(sid)
                    cols["relation"].append(rel)
                    cols["weight"].append(w)
                    cols["pos_tags"].append(p["pos_tags"])
                    cols["lemmas"].append(p["lemmas"])
                    cols["ners"].append(p["ners"])
                    cols["dependencies"].append(
                        [{"gov": g, "rel": r, "dep": d}
                         for g, r, d in p["dependencies"]]
                    )
                out = pd.DataFrame(cols, columns=_OUT_COLS)
            yield out

    return src.mapInPandas(run, schema=PARSED_W)

