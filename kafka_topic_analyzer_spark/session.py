"""SparkSession construction tuned for this engine.

Local-mode defaults target the test harness (local[N], one JVM); the same
settings are sane on a real cluster (AQE on, UTC, Arrow on). Callers that
already hold a session (e.g. the verify driver) use :func:`prepare_session`
to apply the *runtime-settable* confs the engine depends on.

Two confs cut fixed per-query cost rather than fix semantics:

* ``spark.python.sql.dataFrameDebugging.enabled=false`` (:func:`get_spark`
  only: it is a static conf, so :func:`prepare_session` cannot change it
  on a session someone else built) — PySpark wraps every Column and
  DataFrame call in a call-site recorder that costs about ten py4j round
  trips per call (active-session lookup, a conf read, setting and
  clearing the JVM-side origin). Building the per-partition report frame
  sends about 160 py4j call commands without it and 420 with it. The
  price: an analysis error no longer names the Python ``file:line`` in
  its DataFrame query context; the error message itself is unchanged.
* ``spark.sql.inMemoryColumnarStorage.compressed=false`` (runtime, in
  :data:`RUNTIME_CONFS`) — the engine's cached frames are mostly binary
  Kafka ``key``/``value`` columns, for which the columnar cache has only
  a pass-through encoder, yet the compression pass still gathers
  statistics over every row.

Two more static confs of :func:`get_spark` cut the fixed cost of every
Python stage (``mapInPandas``, Arrow UDFs, Python RDDs):

* ``spark.python.daemon.module`` names :mod:`kafka_topic_analyzer_spark.pyworker`.
  PySpark's worker calls ``importlib.invalidate_caches()`` before every
  task, and each of the ~20 ``zipimporter`` objects a worker holds for
  ``pyspark.zip`` re-reads the whole archive directory on that call:
  100-125 ms per task on Python 3.10-3.12 (a 2-task Python job takes
  about 130 ms with it and 70 ms without; on 3.13 zipimport re-reads
  lazily and the call costs about 14 ms). The daemon module re-reads an
  archive only when its mtime or size changed, then runs PySpark's own
  daemon.
* ``spark.executorEnv.PYTHONPATH`` is the directory holding this package,
  so the workers can import the daemon module even when the driver found
  the package through its own ``sys.path`` only (a driver started outside
  the repository would otherwise fail every Python task). ``get_spark``
  builds ``local[N]`` sessions only, so that directory exists for its
  workers.

Both are static, so a session someone else built (the verify driver's,
via :func:`prepare_session`) keeps PySpark's stock daemon and pays the
per-task re-read.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Directory that holds this package; Python workers import the daemon
# module from it.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable SQL confs every entry point applies defensively. The
# testdata `events.parquet` carries TIMESTAMP(NANOS) which Spark only reads
# with the legacy nanos-as-long conf; sessionTZ=UTC keeps timestamp semantics
# aligned with the DuckDB oracle.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.inMemoryColumnarStorage.compressed": "false",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-provided session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build — leave whatever the session has.
            pass
    # A vanilla session keeps the 200-partition shuffle default, which on
    # local test scales means ~200 near-empty tasks per shuffle (and 200
    # state-store partitions per streaming agg — AQE can't coalesce those).
    # Right-size to the actual parallelism, but never override an explicit
    # non-default choice.
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass
    return spark


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily pin ``spark.sql.shuffle.partitions`` (restored on exit).

    Bounded streaming twins use this to right-size STATE STORE count: a
    stateful operator creates one state store per shuffle partition, and on
    the small bounded inputs the per-store bring-up (checkpoint dirs,
    snapshot files) dominates wall time — 32 stores for a few thousand
    rows is pure overhead. Results are partition-count-independent (hash
    partitioning by key; watermarks/windows don't observe layout), so
    correctness and oracle parity are unaffected. On a real unbounded
    deployment the default (cores-sized) setting stands.
    """
    try:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        prev = None
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def get_spark(app_name: str = "kafka_topic_analyzer_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "kafka_topic_analyzer_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return prepare_session(spark)
