"""Continuously-maintained compacted state — custom stateful streaming op.

The reference's alive-key bitset is updated per message in arrival order
(``src/metric.rs:273-284``). The streaming engine equivalent is per-key
state: ``applyInPandasWithState`` keeps (last_partition, last_offset,
alive, versions) per key and emits an update whenever a batch advances a
key's latest record, using the engine's deterministic (partition, offset)
order — batch-order independent, unlike the reference.

This is the UDF escape hatch (SURVEY.md §2.11) in its stateful form: Arrow
batches in/out, state scales with distinct keys across executors instead of
one process's RAM.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_topic_analyzer_spark.operators.alive_keys import log_order
from kafka_topic_analyzer_spark.schema import KEY, OFFSET, PARTITION, VALUE
from kafka_topic_analyzer_spark.streaming.runner import run_bounded_memory_stream

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("alive", T.BooleanType()),
        T.StructField("last_partition", T.IntegerType()),
        T.StructField("last_offset", T.LongType()),
        T.StructField("versions", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_partition", T.IntegerType()),
        T.StructField("last_offset", T.LongType()),
        T.StructField("alive", T.BooleanType()),
        T.StructField("versions", T.LongType()),
    ]
)


def _update_key_state(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    lp, lo, alive, versions = (
        state.get if state.exists else (-1, -1, False, 0)
    )
    for pdf in pdfs:
        versions += len(pdf)
        # latest record in this batch by (partition, offset); batch row order
        # is irrelevant — the tuple max is the engine's defined order
        idx = pdf[["partition", "offset"]].apply(tuple, axis=1).idxmax()
        row = pdf.loc[idx]
        if (int(row["partition"]), int(row["offset"])) > (lp, lo):
            lp, lo = int(row["partition"]), int(row["offset"])
            alive = row["value"] is not None and not pd.isna(row["value"])
    state.update((lp, lo, alive, versions))
    yield pd.DataFrame(
        [{"key": key[0], "alive": alive, "last_partition": lp,
          "last_offset": lo, "versions": versions}]
    )


def streaming_compacted_state(kdf_stream: DataFrame, spark: SparkSession) -> DataFrame:
    """Run the stateful op over a bounded stream; return final per-key state."""
    updates = (
        kdf_stream.where(F.col(KEY).isNotNull())
        .select(KEY, PARTITION, OFFSET, VALUE)
        .groupBy(KEY)
        .applyInPandasWithState(
            _update_key_state,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    name = run_bounded_memory_stream(updates, spark, "update", "ckpt_alive_")
    # the memory table holds one update row per key per batch that touched
    # it; the final state per key is the latest (partition, offset)
    t = spark.table(name)
    latest = log_order("last_partition", "last_offset")
    return t.groupBy("key").agg(
        F.max_by("alive", latest).alias("alive"),
        F.max_by("last_partition", latest).alias("last_partition"),
        F.max_by("last_offset", latest).alias("last_offset"),
        F.max("versions").alias("versions"),
    )
