"""Final triple materialization (S10, D12) with skew-aware aggregation.

The reference builds a networkx gpickle KG
(``/root/reference/src/recommendation/preprocess.py:97-127``) with
``"{asinA}-{asinB}"`` composite heads and eventuality-text tails, thresholded
at 0.0/0.5/0.9 (``preprocess.py:174``).  Here the KG is a deduplicated
``triples(subj, pred, obj, score)`` table written partitioned by ``pred`` with
a ``subj``-hash bucket column (north_rule partitioning) so point lookups prune
to one (pred, bucket) directory.

Skew: head subjects are Zipf-hot (the synthetic corpus plants them), but the
dedupe agg is max/count — it partial-aggregates map-side, so each reducer
sees at most one pre-combined row per key per map task; hot-key groupBy skew
is already bounded without an explicit salt (the salt belongs to aggs that
cannot partial-combine, e.g. ``conceptualize.top_instances_per_concept``'s
collect_list — SURVEY.md §4 custom-1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def build_triples(
    events_with_scores: DataFrame,
    canon_map: DataFrame | None = None,
) -> DataFrame:
    """(subj, relation, obj_text, plausibility rows) -> deduplicated scored
    triples.  ``canon_map(text, canonical_text)`` rewrites near-duplicate
    surface forms first (O7); the duplicate collapse is one partial+final
    hash aggregation (single exchange)."""
    t = events_with_scores.select(
        "subj",
        F.col("relation").alias("pred"),
        F.col("obj_text").alias("obj"),
        F.col("plausibility").alias("score"),
    )
    if canon_map is not None:
        t = (
            t.join(F.broadcast(canon_map), t["obj"] == canon_map["text"], "left")
            .withColumn("obj", F.coalesce("canonical_text", "obj"))
            .drop("text", "canonical_text")
        )
    # single-shuffle max-score dedupe: max/count partial-aggregate map-side
    # (HashAggregate(partial) -> Exchange -> HashAggregate(final)), so a
    # Zipf-hot key reaches its reducer already combined to <= one row per map
    # task — the partial agg IS the salt.  An explicit salted two-phase only
    # pays for apply-side aggs that cannot partial-combine (collect_list-style,
    # see conceptualize.top_instances_per_concept); here it doubled the
    # shuffle: measured 4.5M-row dedupe at 100k pages, ~17.6s -> one exchange.
    return (
        t.groupBy("subj", "pred", "obj")
        .agg(
            F.max("score").alias("score"),
            F.count("*").alias("support"),
        )
        .select("subj", "pred", "obj", "score", "support")
    )


def bucket_count(approx_rows: int, rows_per_bucket: int = 2_000_000, cap: int = 4096) -> int:
    """Subject-hash bucket count scaled so each (pred, bucket) directory holds
    a roughly fixed row volume: a 10^12-document corpus widens to thousands of
    prunable buckets, while a small corpus avoids paying hundreds of
    small-file directory creations (a fixed cost that dominated the write
    stage at bench scale)."""
    return max(1, min(cap, approx_rows // rows_per_bucket))


def write_triples(triples: DataFrame, path: str, approx_rows: int) -> None:
    """Partition layout per north_rule: pred dirs x subj-hash buckets.
    Writes are idempotent per partition (INSERT OVERWRITE semantics).  The
    bucket count is :func:`bucket_count` of ``approx_rows``, a cheap upstream
    estimate of the triple count (e.g. from corpus pages)."""
    buckets = bucket_count(approx_rows)
    (
        triples.withColumn(
            "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets)).cast("int")
        )
        .repartition("pred", "subj_bucket")
        .write.mode("overwrite")
        .partitionBy("pred", "subj_bucket")
        .parquet(path)
    )


def threshold_variants(triples: DataFrame, thresholds=(0.0, 0.5, 0.9)) -> dict[str, DataFrame]:
    """The 00/05/09 filtered-KG variants (preprocess.py:174,
    recommendation/readme.md:48-62)."""
    return {
        ("%02d" % int(ts * 10)): triples.filter(F.col("score") >= F.lit(ts))
        for ts in thresholds
    }
