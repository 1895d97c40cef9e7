"""Metric expressions — the Spark analogue of the reference's MetricHandler.

Each reference metric (SURVEY.md §2.4, reference ``src/metric.rs:206-253``)
is a built-in Spark SQL aggregate Column. The reference's MessageMetrics
handler is :func:`partition_metric_aggs` / :func:`global_metric_aggs`: lists
of Columns handed to one ``groupBy().agg()`` — Catalyst fuses them into a
single partial+final aggregation pass, which is exactly the reference's
one-pass observer design but distributed and codegen'd. The compaction
handler is the alive-keys operator (operators/alive_keys.py); it groups by
key, not partition, so it stays a separate job.

All expressions use byte-length (``octet_length``) so BinaryType (real
Kafka) and ASCII StringType (derived fixtures) behave identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kafka_topic_analyzer_spark.schema import KEY, OFFSET, TIMESTAMP_MS, VALUE


def key_len() -> Column:
    """Byte length of key; NULL when key is NULL (ref src/metric.rs:219-225)."""
    return F.octet_length(F.col(KEY))


def value_len() -> Column:
    """Byte length of value; NULL for tombstones (ref src/metric.rs:234-240)."""
    return F.octet_length(F.col(VALUE))


def message_size() -> Column:
    """key+value bytes; tombstone contributes key bytes only (ref src/metric.rs:212-238)."""
    return F.coalesce(key_len(), F.lit(0)) + F.coalesce(value_len(), F.lit(0))


def ts_seconds() -> Column:
    """Second-truncated epoch seconds; ms 0 == missing (ref src/metric.rs:209-210)."""
    return F.floor(F.col(TIMESTAMP_MS) / F.lit(1000)).cast("long")


def partition_metric_aggs() -> list[Column]:
    """Aggregates for the per-partition report (SURVEY.md §2.4 A1-A5 + offsets).

    All are partial-aggregable (map-side combine) — the per-partition report
    is one small shuffle regardless of input size.
    """
    return [
        F.min(OFFSET).alias("start_offset"),
        (F.max(OFFSET) + F.lit(1)).alias("end_offset"),
        F.count(F.lit(1)).alias("total"),
        F.count(VALUE).alias("alive"),  # A3: value IS NOT NULL
        (F.count(F.lit(1)) - F.count(VALUE)).alias("tombstones"),  # A2
        (F.count(F.lit(1)) - F.count(KEY)).alias("key_null"),  # A4
        F.count(KEY).alias("key_non_null"),  # A4
        F.coalesce(F.sum(key_len()), F.lit(0)).cast("long").alias("key_bytes"),  # A5
        F.coalesce(F.sum(value_len()), F.lit(0)).cast("long").alias("value_bytes"),
    ]


def global_metric_aggs() -> list[Column]:
    """Ungrouped aggregates (SURVEY.md §2.4 A6-A8).

    Deviations from the reference, both deliberate and documented:
    * ``earliest_ts_sec`` is a true min — the reference initializes its
      running min to process start time so later-timestamped messages can
      never raise it (ref src/metric.rs:39), which is wall-clock dependent
      and not reproducible.
    * smallest/largest consider non-tombstones only, exactly like the
      reference's gate (ref src/metric.rs:249-251).
    """
    size_alive = F.when(F.col(VALUE).isNotNull(), message_size())
    return [
        F.count(F.lit(1)).alias("overall_count"),
        F.coalesce(F.sum(message_size()), F.lit(0)).cast("long").alias("overall_size"),
        # ref src/metric.rs:56-63: min starts at u64::MAX, reported 0 if unset
        F.coalesce(F.min(size_alive), F.lit(0)).cast("long").alias("smallest_message"),
        F.coalesce(F.max(size_alive), F.lit(0)).cast("long").alias("largest_message"),
        F.min(ts_seconds()).alias("earliest_ts_sec"),
        F.max(ts_seconds()).alias("latest_ts_sec"),
    ]


def derived_partition_metrics(df: DataFrame) -> DataFrame:
    """Attach derived per-partition columns (SURVEY.md §2.4 A10-A12, A14).

    Reference formulas (ref src/metric.rs:132-167): floor division with
    denominator ``alive`` (not the matching count), guarded on sum>0. The
    reference panics when alive=0 with sum>0 (all-tombstone keyed
    partition); this engine pins that case to 0.
    """
    alive = F.col("alive")
    key_bytes = F.col("key_bytes")
    value_bytes = F.col("value_bytes")
    msg_bytes = key_bytes + value_bytes

    def floor_avg(numer: Column) -> Column:
        # decimal division keeps byte sums exact past 2^53 (100 TB territory)
        quotient = F.floor(numer.cast("decimal(38,4)") / alive)
        return (
            F.when((numer > 0) & (alive > 0), quotient)
            .otherwise(F.lit(0))
            .cast("long")
        )

    return df.withColumns(
        {
            "p_bytes": msg_bytes.cast("long"),  # A14
            "key_size_avg": floor_avg(key_bytes),  # A10
            "value_size_avg": floor_avg(value_bytes),  # A11
            "message_size_avg": floor_avg(msg_bytes),  # A11
            "dirty_ratio": F.round(  # A12: tombstone percentage, f32 in the reference
                F.when(
                    (F.col("total") > 0) & (F.col("tombstones") > 0),
                    F.col("tombstones") * F.lit(100.0) / F.col("total"),
                ).otherwise(F.lit(0.0)),
                4,
            ),
        }
    )
