"""The materialized-view cascade as declarative DataFrame transforms.

The reference's relational core is a chain of ClickHouse materialized views
(init.sql:49-121): every insert into a raw stream table fans into a union
table and then into a wide analytics table via a 17-column projection of
JSON extractions and subject splits. MVs are *insert-triggered transforms*;
in Spark the same semantics are a transform applied to each micro-batch
before it is persisted (see streaming/pipeline.py). The transforms
themselves are pure column expressions — whole-stage-codegen'd, no UDFs,
no shuffle — so they scale linearly with input and parallelize per
partition on any cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_nats_to_clickhouse_spark.functions.clickhouse import (
    ch_json_extract_string,
    ch_json_extract_uint,
    ch_split_element,
    chat_id_from_subject,
    split_by_char,
)
from go_nats_to_clickhouse_spark.functions.constant import once_per_jvm

#: analytics-table subject segments, in order (init.sql:113-120):
#: splitByChar('.', subject)[1..8]
SUBJECT_SEGMENTS: tuple[str, ...] = (
    "client_code",
    "project_code",
    "user_id",
    "session_id",
    "message_from",
    "message_to",
    "message_type",
    "message_context",
)


def message_to_raw(df: DataFrame) -> DataFrame:
    """Go ingestion transform (main.go:160-192): MESSAGE_SCHEMA -> raw row.

    Adds the derived ``chat_id`` (4th subject segment, '' default) and
    orders columns to the raw-table layout (init.sql:8-19).
    """
    return df.select(*_raw_cols())


@once_per_jvm
def _raw_cols() -> tuple[Column, ...]:
    return (
        F.col("timestamp"),
        F.col("subject"),
        chat_id_from_subject("subject").alias("chat_id"),
        F.col("sequence"),
        F.coalesce(F.col("metadata"), F.lit("{}")).alias("metadata"),
        F.col("data"),
    )


def union_all_streams(*streams: DataFrame) -> DataFrame:
    """Fan-in of the per-stream raw tables into the union table
    (init.sql:49-71): bag-semantics UNION ALL, no dedup, by name so column
    order never silently misaligns."""
    if not streams:
        raise ValueError("at least one stream required")
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return out


def analytics_projection(df: DataFrame) -> DataFrame:
    """The ``analitics_data_mv`` projection (init.sql:100-121).

    Input: union-table rows (raw layout). Output: the 17-column analytics
    layout — passthrough columns, three JSON string extractions, one JSON
    uint extraction cast to timestamp, and eight subject segments with
    ClickHouse 1-based/''-default indexing.

    Narrow transform: no shuffle, fully codegen'd; at 100 TB this is a
    map-only stage bounded by scan + write throughput. The subject is
    tokenized ONCE into a materialized array and the eight segments index
    it — an inlined split() per segment would re-tokenize every row eight
    times (same pitfall as dedup.word_shingles, measured ~5x).
    """
    parts, cols = _analytics_cols()
    return df.withColumn("_parts", parts).select(*cols)


@once_per_jvm
def _analytics_cols() -> tuple[Column, tuple[Column, ...]]:
    """(the subject's segment array ``_parts``, the analytics columns over
    it) of :func:`analytics_projection`."""
    split_cols: list[Column] = [
        F.coalesce(F.get(F.col("_parts"), i), F.lit("")).alias(name)
        for i, name in enumerate(SUBJECT_SEGMENTS)
    ]
    return split_by_char("subject"), (
        F.col("timestamp"),
        F.col("subject"),
        F.col("chat_id"),
        F.col("metadata"),
        F.col("data"),
        ch_json_extract_string("data", "text").alias("message_text"),
        ch_json_extract_string("data", "meta").alias("message_meta"),
        ch_json_extract_string("data", "id").alias("message_id"),
        # JSONExtractUInt(...) lands in a DateTime column (init.sql:84,112):
        # epoch seconds -> timestamp, 0 -> 1970-01-01 (ClickHouse behavior).
        F.timestamp_seconds(ch_json_extract_uint("data", "timestamp")).alias(
            "message_timestamp"
        ),
        *split_cols,
    )
