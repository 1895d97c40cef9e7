"""Shared pytest fixtures: one SparkSession per test session, oracle helper."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from kafka_topic_analyzer_spark.session import get_spark

    s = get_spark("tests")
    yield s


def jobs_launched(spark, build) -> int:
    """Number of Spark jobs ``build()`` launches, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"construct-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "construction job count")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class DuckOracle:
    """DuckDB connection with the testdata views registered like the driver does."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()

    def register_sf(self, sf_dir: str) -> None:
        from kafka_topic_analyzer_spark.schema import TESTDATA_TABLES

        for t in TESTDATA_TABLES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def execute(self, sql: str):
        return self.con.execute(sql)


@pytest.fixture(scope="session")
def duck():
    d = DuckOracle()
    yield d
    d.con.close()
