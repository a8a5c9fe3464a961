"""Explicit StructType schemas for every table in the pipeline (SURVEY.md §1.1 D1-D13).

The reference carries schemas implicitly in dict keys (KeyError-by-convention,
e.g. /root/reference/src/pattern/pattern_filter.py:65); here every stage
declares a fixed schema so Catalyst can prune columns and push filters to the
parquet scans.
"""

from __future__ import annotations

from pyspark.sql import types as T

# authoritative graft input (BASELINE.json input_hint)
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

# D1 — item metadata (reference: src/generator/utils.py:52-81)
ITEMS = T.StructType(
    [
        T.StructField("asin", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("cates", T.ArrayType(T.StringType())),
        T.StructField("top_cate", T.StringType()),
    ]
)

# D2 — co-buy / co-occurrence pair list (src/generator/generation.py:163-176)
COBUY = T.StructType(
    [
        T.StructField("item_a", T.StringType()),
        T.StructField("item_b", T.StringType()),
    ]
)

# D3/D4 — prompt + generation records (src/generator/generation.py:250-253)
PROMPTS = T.StructType(
    [
        T.StructField("item_a", T.StringType()),
        T.StructField("item_b", T.StringType()),
        T.StructField("relation", T.StringType()),
        T.StructField("pair_key", T.StringType()),  # "{a}-{b}-{rel}"
        T.StructField("key", T.StringType()),  # md5(pair_key) (utils.py:42-49)
        T.StructField("prompt", T.StringType()),
    ]
)

GENERATIONS = T.StructType(
    list(PROMPTS.fields)
    + [T.StructField("output", T.ArrayType(T.StringType()))]
)

# D5 — assertion rows (one per generated continuation)
ASSERTIONS = T.StructType(
    [
        T.StructField("item_a", T.StringType()),
        T.StructField("item_b", T.StringType()),
        T.StructField("relation", T.StringType()),
        T.StructField("pair_key", T.StringType()),
        T.StructField("seq_no", T.IntegerType()),
        T.StructField("assertion", T.StringType()),  # full sentence incl. prompt tail
        T.StructField("tail", T.StringType()),  # template-prefix-stripped suffix
    ]
)

DEP_EDGE = T.StructType(
    [
        T.StructField("gov", T.IntegerType()),
        T.StructField("rel", T.StringType()),
        T.StructField("dep", T.IntegerType()),
    ]
)

MENTION = T.StructType(
    [
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ner", T.StringType()),
    ]
)

# D6 — parsed sentence record (src/pattern/utils.py:269-298)
PARSED = T.StructType(
    [
        # md5(relation || tail) of the one distinct (relation, tail) the row
        # parses; the reference keys per generated row instead,
        # "{a}-{rel}-{b}|{row}" (generation_parser.py:137)
        T.StructField("sid", T.StringType()),
        T.StructField("relation", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("pos_tags", T.ArrayType(T.StringType())),
        T.StructField("lemmas", T.ArrayType(T.StringType())),
        T.StructField("ners", T.ArrayType(T.StringType())),
        T.StructField("dependencies", T.ArrayType(DEP_EDGE)),
        T.StructField("mentions", T.ArrayType(MENTION)),
    ]
)

# D8 — eventuality (src/pattern/object.py:86-418; eid contract object.py:120-130)
EVENTUALITIES = T.StructType(
    [
        T.StructField("eid", T.StringType()),
        T.StructField("sid", T.StringType()),
        T.StructField("relation", T.StringType()),
        T.StructField("pattern_sig", T.StringType()),
        T.StructField("words", T.ArrayType(T.StringType())),
        T.StructField("pos_tags", T.ArrayType(T.StringType())),
        T.StructField("dependencies", T.ArrayType(DEP_EDGE)),
        T.StructField("skeleton_indices", T.ArrayType(T.IntegerType())),
        T.StructField("verb_indices", T.ArrayType(T.IntegerType())),
        T.StructField("ners", T.ArrayType(T.StringType())),
        T.StructField("frequency", T.DoubleType()),
    ]
)

# merged NER: one counter per token position (A3, object.py:145-153)
NER_COUNTERS = T.ArrayType(T.MapType(T.StringType(), T.DoubleType()))

# D9 — probase concept table (src/pattern/conceptualizer.py:32-56)
PROBASE = T.StructType(
    [
        T.StructField("concept", T.StringType()),
        T.StructField("instance", T.StringType()),
        T.StructField("freq", T.LongType()),
    ]
)

# D10 — concepts (src/pattern/object.py:686-773)
CONCEPTS = T.StructType(
    [
        T.StructField("cid", T.StringType()),
        T.StructField("words", T.ArrayType(T.StringType())),
        T.StructField("score", T.DoubleType()),
    ]
)

# D11 — classifier score rows (src/classifier/run_classification.py:647-656)
SCORES = T.StructType(
    [
        T.StructField("pair_key", T.StringType()),
        T.StructField("seq_no", T.IntegerType()),
        T.StructField("label", T.StringType()),
        T.StructField("prediction", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

# D12 — final triple table (north_rule: partitioned by pred + subj-hash bucket)
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

# per-stage lineage/metrics row (north_rule: per-partition lineage + counters)
METRICS = T.StructType(
    [
        T.StructField("stage", T.StringType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("detail", T.StringType()),
    ]
)
