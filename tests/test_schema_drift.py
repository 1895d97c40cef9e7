"""Schema-drift hardening tests (sources/tables.py).

The driver regenerates /root/testdata between rounds and has already
shipped different parquet physical types for the same column (round 2:
events.ts TIMESTAMP(NANOS) → native TIMESTAMP). These tests pin the two
defenses: encoding normalization at the loader choke point, and a
fail-fast probe for drift the normalizers can't absorb.
"""

from __future__ import annotations

import datetime

import pytest

from tests.conftest import SF_SMOKE, jobs_launched


def _write_parquet(spark, tmp_path, name, df):
    path = str(tmp_path / f"{name}.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return str(tmp_path)


def test_all_tables_load_and_probe_clean(spark):
    from kafka_topic_analyzer_spark.schema import TESTDATA_TABLES
    from kafka_topic_analyzer_spark.sources.tables import load_table

    for name in TESTDATA_TABLES:
        df = load_table(spark, SF_SMOKE, name)
        assert df.columns  # probe passed, schema non-empty


def test_orderdate_normalized_from_date_encoding(spark, tmp_path):
    from pyspark.sql import functions as F
    from kafka_topic_analyzer_spark.sources.tables import load_table

    base = load_table(spark, SF_SMOKE, "orders").limit(20)
    drifted = base.withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    sf_dir = _write_parquet(spark, tmp_path, "orders", drifted)
    back = load_table(spark, sf_dir, "orders")
    assert dict(back.dtypes)["o_orderdate"] == "timestamp"
    # identity wall clock: midnight of the same day
    row = back.select("o_orderdate").first()
    assert isinstance(row[0], datetime.datetime)


def test_shipdate_normalized_from_nanos_long(spark, tmp_path):
    from pyspark.sql import functions as F
    from kafka_topic_analyzer_spark.sources.tables import load_table

    base = load_table(spark, SF_SMOKE, "lineitem").limit(20)
    expected = [r[0] for r in base.select("l_shipdate").collect()]
    drifted = base.withColumn(
        "l_shipdate", (F.unix_micros("l_shipdate") * F.lit(1000)).cast("long")
    )
    sf_dir = _write_parquet(spark, tmp_path, "lineitem", drifted)
    back = load_table(spark, sf_dir, "lineitem")
    assert dict(back.dtypes)["l_shipdate"] == "timestamp"
    assert [r[0] for r in back.select("l_shipdate").collect()] == expected


def test_probe_rejects_unabsorbable_drift(spark, tmp_path):
    from pyspark.sql import functions as F
    from kafka_topic_analyzer_spark.sources.tables import load_table

    base = load_table(spark, SF_SMOKE, "customer").limit(5)
    drifted = base.withColumn("c_acctbal", F.col("c_acctbal").cast("string"))
    sf_dir = _write_parquet(spark, tmp_path, "customer", drifted)
    with pytest.raises(ValueError, match="c_acctbal.*expected family float"):
        load_table(spark, sf_dir, "customer")


def test_probe_rejects_missing_column(spark, tmp_path):
    from kafka_topic_analyzer_spark.sources.tables import load_table

    base = load_table(spark, SF_SMOKE, "region").select("r_regionkey")
    sf_dir = _write_parquet(spark, tmp_path, "region", base)
    with pytest.raises(ValueError, match="r_name.*missing"):
        load_table(spark, sf_dir, "region")


def test_width_drift_is_tolerated(spark, tmp_path):
    # int vs bigint moves Spark and the DuckDB oracle together — no error
    from pyspark.sql import functions as F
    from kafka_topic_analyzer_spark.sources.tables import load_table

    base = load_table(spark, SF_SMOKE, "nation")
    drifted = base.withColumn("n_nationkey", F.col("n_nationkey").cast("long"))
    sf_dir = _write_parquet(spark, tmp_path, "nation", drifted)
    back = load_table(spark, sf_dir, "nation")
    assert dict(back.dtypes)["n_nationkey"] == "bigint"


def test_second_load_infers_no_schema(spark):
    """Schema inference (a footer-reading job) runs once per fixture file."""
    from kafka_topic_analyzer_spark.sources.tables import load_table

    for name in ("events", "embeddings"):
        load_table(spark, SF_SMOKE, name)
        assert jobs_launched(spark, lambda: load_table(spark, SF_SMOKE, name)) == 0


def test_rewritten_fixture_is_inferred_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from kafka_topic_analyzer_spark.sources.tables import load_table

    path = tmp_path / "region.parquet"
    cols = {"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}
    pq.write_table(pa.table(cols), path)
    assert load_table(spark, str(tmp_path), "region").columns == list(cols)

    pq.write_table(pa.table({**cols, "r_comment": ["a", "b"]}), path)
    back = load_table(spark, str(tmp_path), "region")
    assert back.columns == [*cols, "r_comment"]
    assert sorted(r.r_comment for r in back.collect()) == ["a", "b"]
