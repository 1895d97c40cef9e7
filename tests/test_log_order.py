"""The engine's record order ``(partition, offset)`` encoded by
``operators.alive_keys.log_order``: exact at the int/long extremes, where a
lossy encoding would reorder records."""

from __future__ import annotations

import itertools
import random

import pytest

INT_MIN, INT_MAX = -(2**31), 2**31 - 1
LONG_MIN, LONG_MAX = -(2**63), 2**63 - 1


@pytest.fixture(scope="module")
def log_rows():
    """Unique (partition, offset) positions, keys spread across partitions.

    Every pair of extreme partitions and extreme offsets appears, plus
    random positions over the full int/long ranges; each position carries
    one of a few keys and is a tombstone or alive at random.
    """
    rng = random.Random(7)
    partitions = [INT_MIN, -1, 0, 1, INT_MAX - 1, INT_MAX]
    offsets = [LONG_MIN, -1, 0, 2**32 - 1, 2**32, 2**32 + 1, 2**53 + 1, LONG_MAX - 1, LONG_MAX]
    positions = set(itertools.product(partitions, offsets))
    while len(positions) < 150:
        positions.add((rng.randint(INT_MIN, INT_MAX), rng.randint(LONG_MIN, LONG_MAX)))
    rows = [
        ("t", p, o, 0, f"k{rng.randrange(8)}".encode(), rng.choice([None, b"v"]))
        for p, o in sorted(positions)
    ]
    # Int.MAX partition at the smallest offset beats every record of the
    # partition below it, Long.MAX offset included
    rows += [
        ("t", INT_MAX, LONG_MIN + 1, 0, b"edge", b"alive"),
        ("t", INT_MAX - 1, LONG_MAX - 2, 0, b"edge", None),
    ]
    rng.shuffle(rows)
    return rows


def _expected_latest(rows) -> dict[bytes, tuple[bool, int, int]]:
    latest: dict[bytes, tuple[int, int, bool]] = {}
    for _, p, o, _, key, value in rows:
        if key not in latest or (p, o) > latest[key][:2]:
            latest[key] = (p, o, value is not None)
    return {k: (alive, p, o) for k, (p, o, alive) in latest.items()}


def test_compacted_state_matches_tuple_max(spark, log_rows):
    from kafka_topic_analyzer_spark.operators.alive_keys import compacted_state
    from kafka_topic_analyzer_spark.schema import kafka_schema

    kdf = spark.createDataFrame(log_rows, kafka_schema(binary=True))
    got = {
        bytes(r["key"]): (r["alive"], r["last_partition"], r["last_offset"])
        for r in compacted_state(kdf).collect()
    }
    expected = _expected_latest(log_rows)
    assert got == expected
    assert expected[b"edge"] == (True, INT_MAX, LONG_MIN + 1)


def test_upsert_latest_per_key_matches_tuple_max(spark, log_rows):
    from kafka_topic_analyzer_spark.schema import kafka_schema
    from kafka_topic_analyzer_spark.streaming.upsert_sink import _latest_per_key

    batch = spark.createDataFrame(log_rows, kafka_schema(binary=True))
    got = {
        bytes(r["key"]): (r["value"] is not None, r["partition"], r["offset"])
        for r in _latest_per_key(batch).collect()
    }
    assert got == _expected_latest(log_rows)
