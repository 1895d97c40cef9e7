"""The event-log parser and the timed catalog action, pinned on known plans."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Observation, SparkSession, functions as F

from tracing import Spans, event_files, layer_counters, parse_event_log
from workloads import execute

MAP_PARTITIONS = 4
REDUCE_PARTITIONS = 3
SORTED_ROWS = 150_000


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Runs a group-by and an ORDER BY through ``execute`` with an event log.

    AQE is off so that the reduce side keeps its configured partitions.
    The session is stopped before parsing, which flushes the log.
    """
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(REDUCE_PARTITIONS))
        .getOrCreate()
    )
    spans = Spans(spark, tag_jobs=True)
    try:
        with spans.span("group_by"):
            execute(spark.range(0, 100_000, 1, MAP_PARTITIONS)
                    .groupBy((F.col("id") % 7).alias("k")).count())
        ordered = spark.range(0, SORTED_ROWS, 1, MAP_PARTITIONS).orderBy(F.col("id").desc())
        with spans.span("order_by"):
            execute(ordered)
        # an Observation between a limit and its sort would hide a top-K
        # rewrite from the plans, so the rows are counted in a second action
        sorted_rows = Observation()
        execute(ordered.observe(sorted_rows, F.count(F.lit(1)).alias("rows")))
        rows = sorted_rows.get["rows"]
    finally:
        spark.stop()

    plans = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            plans += [ev["physicalPlanDescription"] for ev in map(json.loads, fh)
                      if "physicalPlanDescription" in ev]
    totals = parse_event_log(log_dir, spans.records)
    return {"spans": spans.records, "totals": totals, "plans": plans, "sorted_rows": rows}


def test_event_log_counts_a_group_by(traced):
    group_by = layer_counters("group_by", traced["spans"], traced["totals"], cores=2)
    assert group_by["jobs"] >= 1
    assert group_by["shuffle_write_bytes"] > 0
    assert group_by["tasks"] == MAP_PARTITIONS + REDUCE_PARTITIONS
    assert group_by["stages"] == 2
    assert group_by["input_bytes"] == 0  # range() reads no file


def test_timed_action_runs_the_full_order_by(traced):
    assert traced["sorted_rows"] == SORTED_ROWS
    assert any("Sort (" in p for p in traced["plans"])
    assert not any("TakeOrderedAndProject" in p for p in traced["plans"])
