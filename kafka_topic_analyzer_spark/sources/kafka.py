"""Real Kafka source — the batch reader for the canonical frame.

Mirrors the reference's consumer setup (SURVEY.md §2.1 S1-S4):

* one bounded pass earliest→latest (ref ``src/kafka.rs:74-137``) ==
  batch ``startingOffsets=earliest / endingOffsets=latest``;
* arbitrary ``key=value`` consumer-config passthrough
  (ref ``src/kafka.rs:38-42``, parsed at ``src/main.rs:84-92``) ==
  ``kafka.*`` options;
* empty-topic guard exits -2 (ref ``src/main.rs:98-101``);
* offset store / progress (ref S6/S7) are Spark-managed (checkpoints,
  StreamingQueryListener) — deliberately not replicated.

The spark-sql-kafka connector jar isn't present in the test container, so
everything network-facing raises a clear error there; option/DataFrame
construction is pure and unit-tested.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession, functions as F

from kafka_topic_analyzer_spark.schema import (
    KEY,
    OFFSET,
    PARTITION,
    TIMESTAMP_MS,
    TOPIC,
    VALUE,
)

EMPTY_TOPIC_EXIT_CODE = -2  # ref src/main.rs:98-101


def kafka_options(
    bootstrap_servers: str,
    topic: str,
    consumer_config: dict[str, str] | None = None,
    starting_offsets: str = "earliest",
    ending_offsets: str | None = "latest",
) -> dict[str, str]:
    """Build the source options; user config passes through as ``kafka.*``."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "includeHeaders": "false",
    }
    if ending_offsets is not None:
        opts["endingOffsets"] = ending_offsets
    for k, v in (consumer_config or {}).items():
        key = k if k.startswith("kafka.") else f"kafka.{k}"
        opts[key] = v
    return opts


def canonicalize_kafka_frame(raw: DataFrame) -> DataFrame:
    """Kafka source schema → canonical frame (schema.py).

    The source's ``timestamp`` is TimestampType; the canonical frame keeps
    raw milliseconds so the reference's missing→0 rule stays expressible
    (ref ``src/metric.rs:209``). A record produced without a timestamp
    reaches the connector as Kafka's ``-1`` ms sentinel (a NEGATIVE
    TimestampType value, not NULL), so anything < 0 clamps to 0 exactly
    like the reference's ``Timestamp::NotAvailable → unwrap_or(0)``.
    ``unix_millis`` keeps the µs→ms conversion in exact integer math.
    Extra connector columns (``timestampType``, ``headers`` when
    ``includeHeaders=true``) are pruned here — column pruning pushes into
    the source so they're never fetched.
    """
    ms = F.unix_millis(F.col("timestamp"))
    return raw.select(
        F.col("topic").alias(TOPIC),
        F.col("partition").cast("int").alias(PARTITION),
        F.col("offset").cast("long").alias(OFFSET),
        F.coalesce(
            F.when(ms < 0, F.lit(0)).otherwise(ms).cast("long"), F.lit(0)
        ).alias(TIMESTAMP_MS),
        F.col("key").alias(KEY),
        F.col("value").alias(VALUE),
    )


def read_topic(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    consumer_config: dict[str, str] | None = None,
) -> DataFrame:
    """Bounded batch scan of a whole topic (reference entry point 1)."""
    reader = spark.read.format("kafka")
    for k, v in kafka_options(bootstrap_servers, topic, consumer_config).items():
        reader = reader.option(k, v)
    return canonicalize_kafka_frame(reader.load())


def guard_empty_topic(kdf: DataFrame, exit_on_empty: bool = False) -> bool:
    """Empty-topic guard (ref src/main.rs:98-101). Returns True if empty."""
    empty = kdf.limit(1).isEmpty()
    if empty and exit_on_empty:
        sys.exit(EMPTY_TOPIC_EXIT_CODE)
    return empty
