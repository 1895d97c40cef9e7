"""Session confs that cut the engine's fixed per-query cost."""

from __future__ import annotations

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


COMPRESSED = "spark.sql.inMemoryColumnarStorage.compressed"


def test_get_spark_disables_call_site_capture(spark):
    from pyspark.errors import utils

    assert spark.conf.get(DEBUGGING) == "false"
    assert spark.conf.get(COMPRESSED) == "false"
    assert utils.is_debugging_enabled() is False


def test_prepare_session_keeps_both_confs_off(spark):
    """The debugging conf is static, so prepare_session leaves it as
    get_spark set it; the cache compression conf is runtime and is reset."""
    from kafka_topic_analyzer_spark.session import prepare_session

    spark.conf.set(COMPRESSED, "true")
    prepare_session(spark)
    assert spark.conf.get(DEBUGGING) == "false"
    assert spark.conf.get(COMPRESSED) == "false"


def test_partition_report_construction_py4j_budget(spark, monkeypatch):
    """Building the per-partition report frame stays within a budget of
    py4j call commands (about 160 without call-site capture, about 420
    with it). Garbage-collection deletes are not counted."""
    from kafka_topic_analyzer_spark.operators.report import partition_report
    from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events
    from tests.conftest import SF_SMOKE

    kdf = kafka_frame_from_events(spark, SF_SMOKE)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        if command.startswith("c"):
            calls.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    partition_report(kdf)
    monkeypatch.undo()
    assert len(calls) <= 200, len(calls)
