"""Topic-analysis report — the reference's entire fixed "query".

The reference computes ~12 metrics in one hand-fused streaming pass over the
topic and prints a per-partition table plus a global summary (reference
``src/main.rs:123-179``, ``src/metric.rs:206-253``). Here the same report is
declarative:

* :func:`partition_report` — one row per partition (SURVEY.md §2.9 table)
* :func:`global_report`    — single summary row
* :func:`full_report`      — BOTH levels in ONE shuffle via ``rollup``
  (GROUPING SETS ((partition),())) — the scale path; at 100 TB the scan
  dominates and this reads the data exactly once.

All aggregates are partial-aggregable built-ins: map-side combine reduces
each input partition to one row per (grouping, partition) before the
shuffle, so shuffle volume is O(#kafka-partitions), not O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_topic_analyzer_spark.functions.metrics import (
    derived_partition_metrics,
    global_metric_aggs,
    partition_metric_aggs,
    ts_seconds,
)
from kafka_topic_analyzer_spark.schema import PARTITION, VALUE
from kafka_topic_analyzer_spark.functions.metrics import message_size

PARTITION_REPORT_COLUMNS = [
    "partition",
    "start_offset",
    "end_offset",
    "total",
    "alive",
    "tombstones",
    "dirty_ratio",
    "key_null",
    "key_non_null",
    "p_bytes",
    "key_bytes",
    "value_bytes",
    "key_size_avg",
    "value_size_avg",
    "message_size_avg",
]


def partition_report(kdf: DataFrame) -> DataFrame:
    """Per-partition metric table (reference table at ``src/main.rs:150-172``)."""
    agg = kdf.groupBy(PARTITION).agg(*partition_metric_aggs())
    return _sorted_in_one_partition(
        derived_partition_metrics(agg).select(*PARTITION_REPORT_COLUMNS), PARTITION
    )


def global_report(kdf: DataFrame) -> DataFrame:
    """Global summary row (reference summary block ``src/main.rs:125-148``)."""
    return kdf.agg(*global_metric_aggs())


def full_report(kdf: DataFrame) -> DataFrame:
    """Per-partition rows AND the global row in a single aggregation pass.

    ``rollup(partition)`` == GROUPING SETS ((partition), ()): Catalyst
    evaluates every aggregate at both levels in one shuffle (SURVEY.md §2.4
    fusion note). The global grouping carries the summary-only aggregates;
    partition rows carry the table metrics. ``grouping(partition)``
    distinguishes the levels (1 == global row).
    """
    size_alive = F.when(F.col(VALUE).isNotNull(), message_size())
    agg = kdf.rollup(PARTITION).agg(
        F.grouping(PARTITION).cast("int").alias("is_global"),
        *partition_metric_aggs(),
        F.coalesce(F.sum(message_size()), F.lit(0)).cast("long").alias("overall_size"),
        F.coalesce(F.min(size_alive), F.lit(0)).cast("long").alias("smallest_message"),
        F.coalesce(F.max(size_alive), F.lit(0)).cast("long").alias("largest_message"),
        F.min(ts_seconds()).alias("earliest_ts_sec"),
        F.max(ts_seconds()).alias("latest_ts_sec"),
    )
    return _sorted_in_one_partition(derived_partition_metrics(agg), "is_global", PARTITION)


def _sorted_in_one_partition(report: DataFrame, *cols: str) -> DataFrame:
    """Order the report rows: one row per Kafka partition (plus the global
    row), so a single task sorts them after the final aggregation.

    ``orderBy`` would plan a range exchange, which costs a sampling job
    and a shuffle stage for a table of a few dozen rows. ``coalesce(1)``
    adds no exchange: the final-aggregation stage runs as one task over
    the partial-aggregate rows, and sorting its only partition is a total
    order.
    """
    return report.coalesce(1).sortWithinPartitions(*cols)
