"""Fixed, declared schemas for every engine table (SURVEY.md §1.1).

Schemas are never inferred in production paths; each stage validates
its input/output against these StructTypes. The ``html`` column is
binary and only read by the extraction stage (column-pruning
discipline: SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import types as T

WEB_PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), False),
    ]
)

MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("mention_id", T.LongType(), False),
        T.StructField("mention_idx", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("norm_name", T.StringType(), False),
        T.StructField("name_tokens", T.ArrayType(T.StringType()), False),
        T.StructField("context", T.StringType(), False),
        T.StructField("extract_sha", T.StringType(), False),
    ]
)

BLOCK_KEYS = T.StructType(
    [
        T.StructField("mention_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("strategy", T.StringType(), False),
        T.StructField("block_key", T.StringType(), False),
        T.StructField("salt", T.IntegerType(), False),
    ]
)

CANDIDATE_PAIRS = T.StructType(
    [
        T.StructField("a_id", T.LongType(), False),
        T.StructField("b_id", T.LongType(), False),
        T.StructField("a_url", T.StringType(), False),
        T.StructField("b_url", T.StringType(), False),
        T.StructField("block_key", T.StringType(), False),
        T.StructField("strategy", T.StringType(), False),
    ]
)

SCORED_PAIRS = T.StructType(
    CANDIDATE_PAIRS.fields
    + [
        T.StructField("jw", T.DoubleType(), False),
        T.StructField("lev_sim", T.DoubleType(), False),
        T.StructField("cos_tfidf", T.DoubleType(), False),
        T.StructField("cos_topic", T.DoubleType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("is_match", T.BooleanType(), False),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)

CLUSTERS = T.StructType(
    [
        T.StructField("mention_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("cluster_id", T.LongType(), False),
    ]
)

LABELED_PAIRS = T.StructType(
    [
        T.StructField("a_url", T.StringType(), False),
        T.StructField("b_url", T.StringType(), False),
        T.StructField("block_key", T.StringType(), False),
        T.StructField("label", T.IntegerType(), False),
    ]
)

# Driver testdata tables (FIXTURES.md §B) — names used by el.queries.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
