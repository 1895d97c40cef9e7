"""topic_scan's generated log and its DuckDB check, on a small log."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession

from tracing import Spans
from workloads import KEY_NULL_SHARE, PARTITIONS, TOMBSTONE_SHARE, TopicScan, WrongOutput

MESSAGES = 20_000


@pytest.fixture(scope="module")
def scan(tmp_path_factory):
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    workload = TopicScan(spark, str(tmp_path_factory.mktemp("work")), seed=5, messages=MESSAGES)
    workload.prepare()
    workload.verify()
    yield workload
    spark.stop()


def test_log_has_the_connector_shape(scan):
    log = pq.read_table(scan.log_dir)
    assert log.num_rows == MESSAGES
    assert set(log.column("partition").to_pylist()) == set(range(PARTITIONS))
    assert log.schema.field("key").type == log.schema.field("value").type  # binary
    assert abs(log.column("key").null_count / MESSAGES - KEY_NULL_SHARE) < 0.01
    assert abs(log.column("value").null_count / MESSAGES - TOMBSTONE_SHARE) < 0.01


def test_report_matches_duckdb(scan):
    assert scan._run(Spans(scan.spark, tag_jobs=False)) == MESSAGES


def test_wrong_alive_count_is_caught(scan):
    text, alive = scan.expected
    scan.expected = (text, alive + 1)
    try:
        with pytest.raises(WrongOutput):
            scan._run(Spans(scan.spark, tag_jobs=False))
    finally:
        scan.expected = (text, alive)
