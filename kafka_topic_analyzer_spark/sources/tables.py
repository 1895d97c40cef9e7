"""Loaders for the driver-generated testdata tables (TESTDATA.md).

All reads go through :func:`_read_parquet`: a plain ``spark.read.parquet``
(so Catalyst column pruning and filter pushdown reach the scan) that infers
each file's schema once per file version instead of once per call. The one
wrinkle: ``events.parquet``'s ``ts`` physical type has varied across
testdata generations — TIMESTAMP(NANOS) (readable only as a raw long via the
legacy ``nanosAsLong`` conf) or native TIMESTAMP / TIMESTAMP_NTZ micros — so
``load_table`` normalizes ``ts`` to epoch-nanoseconds LongType either way;
every downstream consumer divides by 1e9 / 1e6 and is insulated from the
storage type.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from kafka_topic_analyzer_spark.schema import TESTDATA_TABLES
from kafka_topic_analyzer_spark.session import prepare_session

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Tables whose downstream pipelines are per-row-compute-heavy (tokenize /
# hash / decode higher-order functions and UDFs): for these, spreading a
# too-few-splits scan across the cluster beats the one-off shuffle. For
# everything else (cheap column expressions + aggregation) the scan-side
# partial aggregation shrinks data before any exchange, so a repartition
# would only ADD a full-row shuffle — measured slower across the board.
_HEAVY_PER_ROW_TABLES = frozenset({"documents", "embeddings"})


# ---- schema-drift hardening ----------------------------------------------
# The driver regenerates /root/testdata between rounds and the parquet
# physical types are NOT stable: round 2 shipped events.ts as native
# TIMESTAMP where round 1 had TIMESTAMP(NANOS)-read-as-long, and every
# downstream consumer broke (DATATYPE_MISMATCH) before any query ran.
# Defense in depth, all at this one choke point:
#   1. normalize_events_ts — events.ts → epoch-nanos long, either encoding;
#   2. _normalize_timestampish — other date-ish columns (o_orderdate,
#      l_shipdate) → TimestampType whether stored as timestamp, ntz,
#      or nanos-long (mixing NTZ columns with timestamp literals is a
#      DATATYPE_MISMATCH; nanos-long would break date functions outright);
#   3. _probe_schema — every remaining column is checked against its
#      expected type FAMILY (int/float/str/timestampish/float-array) and a
#      drift the normalizers can't absorb raises immediately with a
#      message naming the table, column, and both types — a clear failure
#      at first load instead of a cryptic mid-query error.
# Width drift (int vs bigint, float vs double arrays) is deliberately left
# alone: DuckDB's oracle reads the same parquet, so both sides move
# together and value hashes stay aligned.

_TIMESTAMPISH_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

# column name → expected type family (see _family); probed on every load
_EXPECTED_FAMILIES: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "str"},
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "int", "c_name": "str", "c_nationkey": "int",
        "c_acctbal": "float", "c_mktsegment": "str",
    },
    "supplier": {
        "s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
        "s_acctbal": "float",
    },
    "part": {
        "p_partkey": "int", "p_name": "str", "p_brand": "str",
        "p_type": "str", "p_size": "int", "p_retailprice": "float",
    },
    "orders": {
        "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
        "o_totalprice": "float", "o_orderdate": "timestampish",
        "o_orderpriority": "str",
    },
    "lineitem": {
        "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
        "l_linenumber": "int", "l_quantity": "float",
        "l_extendedprice": "float", "l_discount": "float", "l_tax": "float",
        "l_returnflag": "str", "l_linestatus": "str",
        "l_shipdate": "timestampish",
    },
    "events": {
        "event_id": "int", "ts": "timestampish", "user_id": "int",
        "event_type": "str", "value": "float", "props": "str",
    },
    "documents": {
        "doc_id": "int", "text": "str", "lang": "str", "source": "str",
        "n_chars": "int",
    },
    "embeddings": {"vec_id": "int", "embedding": "floatarray", "label": "int"},
}

_FAMILY_OF_DTYPE: dict[str, str] = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str",
    "date": "timestampish", "timestamp": "timestampish",
    "timestamp_ntz": "timestampish",
    "array<float>": "floatarray", "array<double>": "floatarray",
}


def _family(dtype: str) -> str:
    if dtype.startswith("decimal"):
        return "float"
    return _FAMILY_OF_DTYPE.get(dtype, dtype)


def _probe_schema(df: DataFrame, name: str) -> None:
    expected = _EXPECTED_FAMILIES.get(name)
    if expected is None:
        return
    dtypes = dict(df.dtypes)
    problems = []
    for col, fam in expected.items():
        if col not in dtypes:
            problems.append(f"column '{col}' missing")
        # ts-nanos-long is timestampish (pre-normalization encoding)
        elif _family(dtypes[col]) != fam and not (
            fam == "timestampish" and _family(dtypes[col]) == "int"
        ):
            problems.append(
                f"column '{col}' is {dtypes[col]} (family "
                f"{_family(dtypes[col])}), expected family {fam}"
            )
    if problems:
        raise ValueError(
            f"testdata schema drift in table '{name}': " + "; ".join(problems)
            + " — the driver regenerated the parquet with types this engine's "
            "normalizers don't cover; extend sources/tables.py "
            "(_EXPECTED_FAMILIES / normalizers) for the new encoding."
        )


def _normalize_timestampish(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Normalize date-ish columns to TimestampType across physical encodings.

    long (TIMESTAMP(NANOS) under ``nanosAsLong``) → timestamp via integer
    micros; TIMESTAMP_NTZ / DATE → plain timestamp cast (identity wall
    clock under the pinned UTC session TZ, matching DuckDB's naive read).
    """
    dtypes = dict(df.dtypes)
    for col in cols:
        dtype = dtypes.get(col)
        if dtype is None:
            continue
        if dtype == "bigint":
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000"))
            )
        elif dtype in ("timestamp_ntz", "date"):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Return ``df`` with ``ts`` as epoch-nanoseconds LongType.

    Handles both physical encodings the driver has shipped: raw long nanos
    (parquet TIMESTAMP(NANOS) under ``nanosAsLong``) and native TIMESTAMP /
    TIMESTAMP_NTZ micros. Session TZ is pinned to UTC (session.RUNTIME_CONFS),
    so the NTZ→LTZ cast is a wall-clock identity and ``unix_micros`` yields
    the same epoch DuckDB's ``epoch()`` / ``epoch_ms()`` compute on the naive
    value — oracle parity holds for both encodings. Works on batch AND
    streaming frames (stateless projection).
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype is None or not dtype.startswith("timestamp"):
        return df
    nanos = (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long")
    return df.withColumn("ts", nanos)


# Confs that change the schema Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# (path, st_mtime_ns, st_size, conf values) -> inferred StructType
_INFERRED_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file.

    Inference runs a footer-reading Spark job on every plain read (about
    65 ms for ``events.parquet``; 10 ms and no job with the schema given).
    The inferred schema is kept under the file's ``(st_mtime_ns, st_size)``
    and the confs that shape it, so a regenerated file is inferred afresh
    and ``_probe_schema`` still sees real drift. Directories (whose part
    files can change under an unchanged stamp), non-local and missing
    paths are read plainly.
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size,
           tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    schema = _INFERRED_SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _INFERRED_SCHEMAS[key] = df.schema
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool | None = None
) -> DataFrame:
    """Load one testdata table by name.

    ``parallel`` repartitions a scan that yields fewer input splits than
    the cluster's parallelism (default: auto — on for the per-row-heavy
    tables above). The fixtures are single-row-group parquet files, which
    Spark cannot split — without this, every downstream per-row
    computation runs in ONE task regardless of core count. On a
    production layout (many files / row groups per table) the scan
    already parallelizes and the repartition is skipped. Safe for oracle
    parity because every oracle-matched aggregation here is
    order-independent (exact decimal / integer sums — see
    queries/relational.py float discipline).
    """
    prepare_session(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    _probe_schema(df, name)  # metadata-only; fails fast + clear on drift
    if name == "events":
        df = normalize_events_ts(df)
    else:
        df = _normalize_timestampish(df, _TIMESTAMPISH_COLUMNS.get(name, ()))
    if parallel is None:
        parallel = name in _HEAVY_PER_ROW_TABLES
    if parallel:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load several testdata tables; returns {name: DataFrame}."""
    return {name: load_table(spark, sf_dir, name) for name in names}
