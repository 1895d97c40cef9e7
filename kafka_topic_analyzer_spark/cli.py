"""CLI entry point mirroring the reference's interface (``src/main.rs:32-67``).

    python -m kafka_topic_analyzer_spark.cli \
        --topic t --bootstrap-server host:9092 [-c] [-p k=v ...]

A ``--parquet-fixture DIR`` mode analyzes the kafka-shaped log derived from
the testdata events table instead of a live broker (the test container has
no Kafka), exercising the identical downstream plan.
"""

from __future__ import annotations

import argparse
import sys
import time


# Only the -V/--version FLAG mirrors the reference CLI (src/main.rs:35);
# the value printed is this project's own version, not the reference's.
VERSION = "0.6.0"


def parse_consumer_config(pairs: list[str]) -> dict[str, str]:
    """``key=value`` pairs → dict (ref src/main.rs:84-92).

    Each argument may itself be a comma-separated list of pairs — the
    reference takes ONE ``--librdkafka "a=1,b=2"`` string and splits on
    commas; this CLI additionally allows repeating ``-p``. Values may
    contain ``=`` (first-'=' split, pinned by the
    kafka_consumer_config_audit query); empty comma segments are skipped.
    """
    out: dict[str, str] = {}
    for chunk in pairs:
        for pair in chunk.split(","):
            pair = pair.strip()
            if not pair:
                continue
            if "=" not in pair:
                raise ValueError(
                    f"invalid consumer config (want key=value): {pair!r}"
                )
            k, v = pair.split("=", 1)
            out[k.strip()] = v.strip()
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="kafka-topic-analyzer-spark",
        description="Analyze a Kafka topic's metrics with Spark.",
    )
    ap.add_argument("--version", "-V", action="version", version=VERSION)
    ap.add_argument("--topic", "-t", default="events-log")
    ap.add_argument("--bootstrap-server", "-b", default=None)
    ap.add_argument(
        "--count-alive-keys", "-c", action="store_true",
        help="also compute the exact log-compaction alive-key count",
    )
    ap.add_argument(
        "--consumer-config", "-p", action="append", default=[],
        metavar="KEY=VALUE", help="extra kafka consumer config, repeatable",
    )
    ap.add_argument(
        "--parquet-fixture", default=None, metavar="DIR",
        help="analyze the kafka-shaped log derived from DIR/events.parquet",
    )
    ap.add_argument("--streaming", action="store_true",
                    help="run the report as a bounded streaming query")
    args = ap.parse_args(argv)
    if args.streaming and not args.parquet_fixture:
        ap.error("--streaming needs --parquet-fixture")

    from kafka_topic_analyzer_spark.operators.alive_keys import alive_key_count
    from kafka_topic_analyzer_spark.operators.report import (
        global_report,
        partition_report,
    )
    from kafka_topic_analyzer_spark.render import render_report
    from kafka_topic_analyzer_spark.session import get_spark

    spark = get_spark("kafka-topic-analyzer")
    t0 = time.monotonic()

    if args.parquet_fixture:
        from kafka_topic_analyzer_spark.sources.events_log import (
            kafka_frame_from_events,
        )

        kdf = kafka_frame_from_events(spark, args.parquet_fixture)
    elif args.bootstrap_server:
        from kafka_topic_analyzer_spark.sources.kafka import (
            guard_empty_topic,
            read_topic,
        )

        kdf = read_topic(
            spark,
            args.bootstrap_server,
            args.topic,
            parse_consumer_config(args.consumer_config),
        )
        guard_empty_topic(kdf, exit_on_empty=True)
    else:
        ap.error("need --bootstrap-server or --parquet-fixture")

    kdf = kdf.cache()  # two jobs (report + alive keys) share one scan
    if args.streaming:
        from kafka_topic_analyzer_spark.streaming.report_stream import (
            streaming_partition_report,
        )

        pr = streaming_partition_report(spark, args.parquet_fixture)
    else:
        pr = partition_report(kdf)
    gr = global_report(kdf)

    alive = None
    if args.count_alive_keys:
        alive = alive_key_count(kdf).collect()[0]["alive_keys"]

    print(
        render_report(
            pr, gr,
            topic=args.topic,
            scan_seconds=time.monotonic() - t0,
            alive_keys=alive,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
