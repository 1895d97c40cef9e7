"""S7 progress reporting tests."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_observe_scan_metrics(spark):
    from kafka_topic_analyzer_spark.observability import observe_scan
    from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events

    kdf = kafka_frame_from_events(spark, SF_SMOKE)
    observed, obs = observe_scan(kdf)
    n = observed.count()  # any action materializes the observation
    got = obs.get
    assert got["messages"] == n
    assert got["bytes"] > 0
    assert got["max_offset"] >= 0
    assert got["partitions_seen"] >= 1


def test_streaming_progress_listener(spark):
    from kafka_topic_analyzer_spark.observability import attach_progress_listener
    from kafka_topic_analyzer_spark.streaming.report_stream import (
        streaming_partition_report,
    )

    listener = attach_progress_listener(spark)
    try:
        streaming_partition_report(spark, SF_SMOKE).count()
        # listener events are delivered on a separate bus thread; poll briefly
        import time

        deadline = time.monotonic() + 15
        while not listener.progress and time.monotonic() < deadline:
            time.sleep(0.2)
        assert listener.progress, "listener saw no micro-batch progress"
        assert all(p["num_input_rows"] >= 0 for p in listener.progress)
        assert sum(p["num_input_rows"] for p in listener.progress) > 0
    finally:
        spark.streams.removeListener(listener)
