"""Fixed, declared schemas of the engine's page, mention, key and
label tables (SURVEY.md §1.1).

Declared where a frame is built from outside Spark's plans: page
sources (fixtures, streaming reads), extraction output, block-key
rows and fixture labels. The ``html`` column is binary and only read by the extraction
stage (column-pruning discipline: SURVEY.md §4.1).
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

LABELED_PAIRS = T.StructType(
    [
        T.StructField("a_url", T.StringType(), False),
        T.StructField("b_url", T.StringType(), False),
        T.StructField("block_key", T.StringType(), False),
        T.StructField("label", T.IntegerType(), False),
    ]
)
