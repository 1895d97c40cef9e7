"""Log-compaction liveness — the reference's ``--count-alive-keys`` mode.

The reference replays the topic through a BitSet keyed by a 32-bit FNV hash:
value present → insert, NULL value → remove; at the end it counts set bits
(reference ``src/metric.rs:262-305``). That is "latest record per key decides
liveness" — but in *arrival order*, which Kafka only defines within a
partition, and the 32-bit hash under-counts on collisions.

This engine defines the deterministic order ``(partition, offset)`` and is
EXACT (documented deviation, SURVEY.md §3.2):

* :func:`log_order` — that order as one sortable ``DECIMAL(38,0)``
* :func:`compacted_state` — per-key latest record (the compacted-topic view)
* :func:`alive_key_count` — count of keys whose latest record is alive
* :func:`alive_key_count_approx` — HLL-based cheap mode, the honest analogue
  of the reference's lossy bitset

Scale: one shuffle on ``key``; ``max_by`` is partial-aggregable so map-side
combine collapses per-key churn before the shuffle. Ordered by
:func:`log_order`, every aggregation buffer field is a fixed-width type, so
Spark plans a ``HashAggregate`` on both sides of the shuffle — no per-key
sort. No driver-side state (the reference's bitset caps at ~512 MiB RAM on
one box; this scales out).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, functions as F

from kafka_topic_analyzer_spark.schema import KEY, OFFSET, PARTITION, VALUE

_OFFSET_SPAN = Decimal(2**64)  # a DECIMAL(20,0) literal


def log_order(partition: str = PARTITION, offset: str = OFFSET) -> Column:
    """The engine's record order ``(partition, offset)`` as one number.

    ``partition * 2^64 + offset`` sorts exactly like the tuple for every
    int partition and every long offset (negative ones and ``Long.MAX``
    included): each partition owns a disjoint 2^64-wide range. The largest
    magnitude is about 2^95, well inside ``DECIMAL(38,0)``. A struct
    ordering would sort the same, but a struct is not a mutable
    aggregation-buffer type, so ``max_by`` over it forces a
    ``SortAggregate``.
    """
    high = F.col(partition).cast("decimal(10,0)") * F.lit(_OFFSET_SPAN)
    return high + F.col(offset).cast("decimal(20,0)")


def compacted_state(kdf: DataFrame) -> DataFrame:
    """Latest record per non-null key, ordered by (partition, offset).

    Equivalent window formulation: ``row_number() OVER (PARTITION BY key
    ORDER BY partition DESC, offset DESC) = 1`` — but ``max_by`` over
    :func:`log_order` is partial-aggregable and hash-aggregated (no per-key
    sort), so it shuffles less.
    """
    latest = log_order()
    return (
        kdf.where(F.col(KEY).isNotNull())  # ref ignores null keys (src/metric.rs:291-303)
        .groupBy(KEY)
        .agg(
            F.max_by(F.col(VALUE).isNotNull(), latest).alias("alive"),
            F.max_by(F.col(PARTITION), latest).alias("last_partition"),
            F.max_by(F.col(OFFSET), latest).alias("last_offset"),
            F.count(F.lit(1)).alias("versions"),
        )
    )


def alive_key_count(kdf: DataFrame) -> DataFrame:
    """Exact count of alive keys (ref ``sum_all_alive``, src/metric.rs:296-298)."""
    return (
        compacted_state(kdf)
        .where(F.col("alive"))
        .agg(F.count(F.lit(1)).alias("alive_keys"))
    )


def alive_key_count_approx(kdf: DataFrame, rsd: float = 0.01) -> DataFrame:
    """Approximate alive-key count (HLL++), the scale-cheap mode.

    Honest analogue of the reference's collision-lossy 32-bit bitset
    (ref src/fnv32.rs:84-102) — but with a tunable, documented error bound
    instead of silent under-counting.
    """
    return (
        kdf.where(F.col(KEY).isNotNull())
        .groupBy(KEY)
        .agg(F.max_by(F.col(VALUE).isNotNull(), log_order()).alias("alive"))
        .where(F.col("alive"))
        .agg(F.approx_count_distinct(KEY, rsd).alias("alive_keys_approx"))
    )
