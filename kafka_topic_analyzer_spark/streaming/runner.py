"""Shared runner for bounded (AvailableNow) streaming queries.

:func:`run_available_now` owns the bounded launch protocol (AvailableNow
trigger, start, await, stop on every exit) for every streaming query in
the package. Every batch-parity streaming twin follows one shape on top
of it (:func:`run_bounded_memory_stream`): write to a uniquely-named
memory sink with a fresh checkpoint, run to completion, read the table
back. The runner also right-sizes the STATE STORE count
for the bounded run: a stateful operator creates one state store per
shuffle partition, and on bounded test inputs the per-store bring-up
(checkpoint dirs, snapshot files, maintenance threads) dominates wall
time — measured 7.2s → 2.7s on the stream-stream join twin going from 32
stores to 8 (r12). r16 re-probed the knee: an isolated windowed-count
shape measured 8 stores at 1.04s vs 4 at 0.89s, but on the REAL
aggregation twins 7-rep interleaved A/Bs read 4 partitions as a wash to
slightly worse (session_windows 1.10x, compacted 1.03x — fewer stores
but also fewer parallel merge tasks), so the default STAYS 8; only the
stream-stream join twin (4 state stores per partition, tiny output)
overrides to 4 (join_stream.py, 0.93x min and faster in 4/4 reps).
RocksDB (1.09s) and minBatchesToRetain=1 (1.01s) measured no better
than the 1.04s HDFS baseline, and a stateless bounded run costs 0.38s —
that is the engine floor, not state stores. Results are partition-
count-independent (hash partitioning by key; watermarks and windows
never observe the layout), so batch parity and oracle hashes are
unaffected. A real unbounded deployment keeps the cores-sized default.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from kafka_topic_analyzer_spark.session import scoped_shuffle_partitions

BOUNDED_STATE_PARTITIONS = 8


def run_available_now(writer: DataStreamWriter) -> list[dict]:
    """Drain ``writer``'s source once (``Trigger.AvailableNow``), stop the
    query even when the drain fails, and return its ``recentProgress``
    (one dict per micro-batch). The writer carries its own sink,
    checkpoint and name."""
    query = writer.trigger(availableNow=True).start()
    try:
        query.awaitTermination()
        return list(query.recentProgress)
    finally:
        if query.isActive:
            query.stop()


def run_bounded_memory_stream(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str,
    ckpt_prefix: str,
    state_partitions: int = BOUNDED_STATE_PARTITIONS,
) -> str:
    """Run ``df`` as a bounded stream into a memory sink; return the sink
    table name (caller reads ``spark.table(name)``)."""
    name = f"q_{uuid.uuid4().hex[:12]}"
    with scoped_shuffle_partitions(spark, state_partitions):
        run_available_now(
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix=ckpt_prefix))
        )
    return name
