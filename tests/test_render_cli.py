"""Report renderer golden test (machine-checked analogue of the reference's
demo_output.png) + CLI arg handling + kafka source option building."""

from __future__ import annotations

from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

GOLDEN = Path(__file__).parent / "golden" / "report_sf0.001.txt"


def _build_report(spark) -> str:
    from kafka_topic_analyzer_spark.operators.report import (
        global_report,
        partition_report,
    )
    from kafka_topic_analyzer_spark.render import render_report
    from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events

    kdf = kafka_frame_from_events(spark, SF_SMOKE)
    return render_report(
        partition_report(kdf), global_report(kdf), topic="events-log", alive_keys=12
    )


def test_golden_report(spark):
    text = _build_report(spark)
    if not GOLDEN.exists():  # first run writes the golden; commit it
        GOLDEN.write_text(text)
    assert text == GOLDEN.read_text()


def test_render_contains_reference_columns(spark):
    from kafka_topic_analyzer_spark.render import TABLE_HEADERS

    text = _build_report(spark)
    for header in TABLE_HEADERS:  # the §2.9 SELECT list, verbatim
        assert header in text
    assert "Topic size:" in text and "Alive keys:" in text


def test_consumer_config_parsing():
    from kafka_topic_analyzer_spark.cli import parse_consumer_config

    cfg = parse_consumer_config(["security.protocol=SSL", "x = a=b"])
    assert cfg == {"security.protocol": "SSL", "x": "a=b"}
    with pytest.raises(ValueError):
        parse_consumer_config(["no-equals-sign"])


def test_kafka_source_options():
    from kafka_topic_analyzer_spark.sources.kafka import kafka_options

    opts = kafka_options(
        "broker:9092", "topic-a", {"security.protocol": "SSL", "kafka.fetch.max.bytes": "1"}
    )
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "topic-a"
    assert opts["startingOffsets"] == "earliest"
    assert opts["endingOffsets"] == "latest"  # bounded one-pass, like the ref
    assert opts["kafka.security.protocol"] == "SSL"  # prefix added
    assert opts["kafka.fetch.max.bytes"] == "1"  # prefix kept

    stream_opts = kafka_options("b:9092", "t", ending_offsets=None)
    assert "endingOffsets" not in stream_opts


def test_parse_consumer_config_comma_separated_reference_style():
    """The reference takes ONE comma-separated --librdkafka string
    (src/main.rs:84-92); each -p argument accepts the same shape."""
    from kafka_topic_analyzer_spark.cli import parse_consumer_config

    cfg = parse_consumer_config(["a=1, b = 2,sasl.jaas.config=user=admin", "c=3"])
    assert cfg == {"a": "1", "b": "2", "sasl.jaas.config": "user=admin", "c": "3"}
    # empty segments (trailing commas) are skipped, not errors
    assert parse_consumer_config(["x=1,,"]) == {"x": "1"}


def test_cli_version_flag(capsys):
    import pytest

    from kafka_topic_analyzer_spark.cli import VERSION, main

    with pytest.raises(SystemExit) as e:
        main(["--version"])
    assert e.value.code == 0
    assert VERSION in capsys.readouterr().out


def test_cli_streaming_needs_parquet_fixture(capsys):
    """--streaming over a live topic is rejected up front instead of
    silently running the batch report (no Spark session is started)."""
    from kafka_topic_analyzer_spark.cli import main

    with pytest.raises(SystemExit) as e:
        main(["--streaming", "--bootstrap-server", "host:9092", "--topic", "t"])
    assert e.value.code == 2
    assert "--streaming needs --parquet-fixture" in capsys.readouterr().err
