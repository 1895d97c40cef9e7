"""Streaming topic-analysis report.

The reference is a bounded streaming job: snapshot end offsets, consume to
them, print once (``src/kafka.rs:60-72,119-131``). Structured Streaming
expresses that as ``Trigger.AvailableNow`` + complete-mode aggregation: the
same ``partition_metric_aggs`` run incrementally (partial aggregation state
per micro-batch) and the memory sink holds the final table.

Against real Kafka this is ``readStream.format("kafka")`` (sources/kafka.py);
here the file source stands in, which exercises identical planner/state
machinery. Streaming disallows rollup/orderBy-before-agg etc., so the report
is the per-partition groupBy — the global row comes from the batch path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from kafka_topic_analyzer_spark.functions.metrics import partition_metric_aggs
from kafka_topic_analyzer_spark.functions.metrics import derived_partition_metrics
from kafka_topic_analyzer_spark.schema import PARTITION
from kafka_topic_analyzer_spark.session import prepare_session
from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events_df
from kafka_topic_analyzer_spark.sources.tables import _read_parquet, normalize_events_ts


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file-source stream over events.parquet (the source must be a
    directory; pathGlobFilter narrows it to the one table).

    The declared read schema is taken from the parquet footer (inferred
    once per file version by ``_read_parquet``) rather than hard-coded: the
    driver's testdata generations have shipped ``ts`` as both TIMESTAMP(NANOS)
    and native TIMESTAMP_NTZ. ``normalize_events_ts`` then presents the same
    epoch-nanos LongType to every downstream stream regardless.
    """
    prepare_session(spark)
    schema = _read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .load(sf_dir)
    )
    return normalize_events_ts(stream)


def streaming_partition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the per-partition report as a bounded streaming query; return the
    final result as a (batch) DataFrame identical to the batch report."""
    prepare_session(spark)
    stream = events_stream(spark, sf_dir)
    kdf = kafka_frame_from_events_df(stream)
    agg = kdf.groupBy(PARTITION).agg(*partition_metric_aggs())

    from kafka_topic_analyzer_spark.streaming.runner import run_bounded_memory_stream

    name = run_bounded_memory_stream(agg, spark, "complete", "ckpt_report_")

    from kafka_topic_analyzer_spark.operators.report import PARTITION_REPORT_COLUMNS

    return (
        derived_partition_metrics(spark.table(name))
        .select(*PARTITION_REPORT_COLUMNS)
        .orderBy(PARTITION)
    )
