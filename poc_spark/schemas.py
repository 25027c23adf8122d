"""Normative schemas for the engine (SURVEY.md §1.4).

The reference is dynamically typed Python-over-strings; the engine fixes
explicit StructTypes so every operator's contract is checkable.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# one row per raw chat-export line; line_id = 0-based position in the file
# (the file's total order is the load-bearing order for edge construction).
RAW_CHAT = StructType(
    [
        StructField("value", StringType()),
        StructField("file_path", StringType()),
        StructField("line_id", LongType()),
    ]
)

NODES = StructType([StructField("id", StringType())])

# undirected canonical form: source <= target always holds.
EDGES = StructType(
    [
        StructField("source", StringType()),
        StructField("target", StringType()),
        StructField("weight", LongType()),
    ]
)

USERS = StructType(
    [
        StructField("user_id", StringType()),
        StructField("name", StringType()),
        StructField("email", StringType()),
        StructField("password", StringType()),
        StructField("avatar", StringType()),
    ]
)

RESEARCH = StructType(
    [
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField("start_date", StringType()),
        StructField("end_date", StringType()),
        StructField("message_limit", IntegerType()),
        StructField("created_at", TimestampType()),
    ]
)

WORD_FREQ = StructType(
    [
        StructField("word", StringType()),
        StructField("count", LongType()),
    ]
)

# multimodal: opaque binary payload + typed metadata (north-star extension).
MEDIA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)
