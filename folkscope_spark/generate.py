"""Pair building, prompt expansion, surrogate generation (SURVEY.md §3.1).

Spark-first rewrite of the reference generation entry point
(``/root/reference/src/generator/generation.py``):

``pages -> candidate pairs -> join(broadcast items) -> explode(21 templates)
-> left_anti(done_keys) -> mapInPandas(gen_tail) on the key columns
-> rebuild prompts + explode continuations -> assertions``

The items dimension is broadcast (hot dictionary); the 21-template expansion
is a broadcast-join with a literal template table (no UDF); the LLM call is a
deterministic hash-seeded surrogate inside an Arrow-batched ``mapInPandas``
(interface-compatible with a real model: batched rows in, text out).  Only
the key columns cross into Python; the prompt strings are rebuilt in the JVM
(:func:`explode_assertions`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from .relations import PROMPTS, POS_TEMPLATES, RELATIONS
from .schemas import GENERATIONS
from .synthetic import gen_tail

_ASIN_RE = r"/(B\d{9})\+(B\d{9})$"

# continuations per prompt: the reference samples 3 top-p sequences
# (generation.py:92-113)
NUM_SEQUENCES = 3


def pairs_from_pages(pages: DataFrame) -> DataFrame:
    """Derive the co-buy edge list from page urls (the graft's replacement for
    the reference's streamed edge file, generation.py:163-176).  Pure columnar:
    regex extract + filter + distinct; predicate pushes to the parquet scan."""
    return (
        pages.filter(F.col("lang") == "en")
        .select(
            F.regexp_extract("url", _ASIN_RE, 1).alias("item_a"),
            F.regexp_extract("url", _ASIN_RE, 2).alias("item_b"),
        )
        .filter((F.col("item_a") != "") & (F.col("item_b") != ""))
        .distinct()
    )


def template_table(spark) -> DataFrame:
    """Literal 21-row relation/template dimension (broadcast everywhere)."""
    rows = [(rel, PROMPTS[rel][0], POS_TEMPLATES[rel][0]) for rel in RELATIONS]
    return spark.createDataFrame(
        rows, "relation string, prompt_suffix string, anchor string"
    )


def _prompt():
    """The prompt text (generation.py:170-185) from ``title_a``, ``title_b``
    and ``prompt_suffix``.  :func:`build_prompts` filters on it and
    :func:`explode_assertions` rebuilds it, so both use this one
    expression."""
    return F.concat(
        F.lit('He bought a product of "'),
        F.col("title_a"),
        F.lit('" and a product of "'),
        F.col("title_b"),
        F.lit('" '),
        F.col("prompt_suffix"),
    )


def build_prompts(
    pairs: DataFrame, items: DataFrame, templates: DataFrame
) -> DataFrame:
    """pairs x items x items x 21 relations -> prompt rows.

    Broadcast equi-joins replace the reference's dict lookups
    (generation.py:170-185); the combined-title-length filter is P3
    (generation.py:217-220); pair_key/md5 key per utils.py:42-49.  Every
    pair is prompted: the P4 category filter (generation.py:173) is
    :func:`category_filter`, for callers that target one category.
    """
    a = items.select(
        F.col("asin").alias("item_a"),
        F.col("title").alias("title_a"),
        F.col("top_cate").alias("top_cate_a"),
    )
    b = items.select(
        F.col("asin").alias("item_b"),
        F.col("title").alias("title_b"),
        F.col("top_cate").alias("top_cate_b"),
    )
    enriched = (
        pairs.join(F.broadcast(a), "item_a")  # inner join drops missing asins
        .join(F.broadcast(b), "item_b")
        .filter(
            F.size(F.split("title_a", " ")) + F.size(F.split("title_b", " ")) <= 50
        )
    )
    return (
        enriched.crossJoin(F.broadcast(templates))
        .withColumn("prompt", _prompt())
        .withColumn(
            "pair_key",
            F.concat_ws("-", "item_a", "item_b", "relation"),
        )
        .withColumn("key", F.md5("pair_key"))
        # P5 input-length guard (generation.py:96-99: skip over-long prompts)
        .filter(F.length("prompt") <= 2048)
        .select("item_a", "item_b", "relation", "pair_key", "key", "prompt")
    )


def category_filter(pairs_enriched: DataFrame, category: str) -> DataFrame:
    """P4 (generation.py:173): keep a pair when either item's top category
    matches the target.  Expects top_cate_a/top_cate_b columns."""
    return pairs_enriched.filter(
        (F.col("top_cate_a") == category) | (F.col("top_cate_b") == category)
    )


def resume_filter(prompts: DataFrame, done_keys: DataFrame | None) -> DataFrame:
    """Anti-join resume primitive (J2; generation.py:222-230 key-cache)."""
    if done_keys is None:
        return prompts
    return prompts.join(done_keys.select("pair_key"), "pair_key", "left_anti")


def generate_assertions(prompts: DataFrame, dense_tails: bool = False) -> DataFrame:
    """Surrogate-LLM expansion: ``NUM_SEQUENCES`` deterministic continuations
    per prompt (generation.py:92-113 samples 3 top-p sequences; here
    hash-seeded template filling — same interface, deterministic).
    ``dense_tails`` selects the length-diverse surrogate corpus (see
    :func:`folkscope_spark.synthetic.gen_tail`).  The output carries no
    ``prompt`` (:func:`explode_assertions` rebuilds it) and no ``key``
    (nothing downstream reads it).
    """
    # Only the key columns cross the Python boundary (guide §4.1): the
    # surrogate derives continuations from (pair_key, relation, seq), and
    # the ~500-byte prompt strings were crossing Arrow in BOTH directions
    # (~1 GB each way at 100k pages) just to be re-emitted untouched.
    # ``explode_assertions`` rebuilds the prompt deterministically in the
    # JVM from the broadcast dimensions (the reference builds prompts from
    # titles inside its generator process too — generation.py:170-185).
    slim = prompts.select("item_a", "item_b", "relation", "pair_key")

    def gen(batches):
        for pdf in batches:
            outs = [
                [gen_tail(pk, rel, s, dense=dense_tails) for s in range(NUM_SEQUENCES)]
                for pk, rel in zip(pdf["pair_key"], pdf["relation"])
            ]
            pdf = pdf.copy()
            pdf["output"] = outs
            yield pdf

    schema = T.StructType(
        [f for f in GENERATIONS.fields if f.name not in ("prompt", "key")]
    )
    return slim.mapInPandas(gen, schema=schema)


def explode_assertions(
    gens: DataFrame, templates: DataFrame, items: DataFrame
) -> DataFrame:
    """One row per continuation, with the mining-form sentence.

    ``assertion`` = full prompt + continuation; ``tail`` = the suffix from the
    mining anchor onward — the prefix-strip P2
    (generation_parser.py:131-138): locate the anchor inside the assertion and
    keep the rest; ``open`` keeps everything after ``"because "``.

    ``gens`` carries no prompt (see :func:`generate_assertions`); it is
    rebuilt here in the JVM via broadcast joins on the items dimension + the
    template table — byte-identical to the string ``build_prompts`` filtered
    on, since both are :func:`_prompt` over the same dimension rows.
    """
    a = items.select(F.col("asin").alias("item_a"), F.col("title").alias("title_a"))
    b = items.select(F.col("asin").alias("item_b"), F.col("title").alias("title_b"))
    return (
        gens.join(F.broadcast(a), "item_a")
        .join(F.broadcast(b), "item_b")
        .join(F.broadcast(templates), "relation")
        .select(
            "item_a", "item_b", "relation", "pair_key", "anchor",
            _prompt().alias("prompt"),
            F.posexplode("output").alias("seq_no", "continuation"),
        )
        .withColumn("assertion", F.concat_ws(" ", "prompt", "continuation"))
        .withColumn(
            "tail",
            F.when(
                F.col("relation") == "open",
                F.expr(
                    "substring(assertion, locate('because ', assertion) + 8, length(assertion))"
                ),
            ).otherwise(
                F.expr(
                    "substring(assertion, locate(anchor, assertion), length(assertion))"
                )
            ),
        )
        .filter(
            (F.col("relation") == "open")
            | (F.expr("locate(anchor, assertion)") > 0)
        )
        .select(
            "item_a", "item_b", "relation", "pair_key", "seq_no", "assertion", "tail"
        )
    )
