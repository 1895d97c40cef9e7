"""Property-based verification of the semantics-heavy custom operators.

The as-of join produced a real bug class (NULL join keys grouped together
by the window's partitionBy, found by the registry fuzz in r6) — so every
operator whose semantics live in subtle ordering/NULL/grouping rules is
checked against a brute-force reference implementation over
hypothesis-generated inputs, NULLs included:

- ``asof_join_backward`` vs a per-row "greatest right.ts <= left.ts within
  the same non-NULL key" scan (standard SQL predicate semantics: NULL key
  or NULL ts never matches, left rows always survive).
- ``range_join_binned`` vs the O(n*m) nested loop over the exact
  ``start <= p < end`` predicate (each match exactly once).
- both connected-components implementations vs union-find (this run found
  the star variant dropping self-loop-only vertices).
- ``salted_equi_join`` vs the plain join for every big-side-preserving
  join type.
- ``compacted_state`` vs a literal log replay (the reference engine's
  core alive-keys semantics: greatest (partition, offset) wins, NULL
  value = tombstone, NULL keys ignored).
- ``session_stats`` vs sort-and-split-on-gap sessionization (tied
  timestamps, NULL users as one group — both engines' PARTITION BY
  semantics).

Examples are capped low: each example runs two Spark jobs, and the value
of a property test here is input-shape diversity (duplicate timestamps,
all-NULL columns, single-key pileups), not example count.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
TS = st.one_of(st.none(), st.integers(min_value=0, max_value=20))

LEFT_ROWS = st.lists(st.tuples(KEYS, TS), min_size=0, max_size=12)
RIGHT_ROWS = st.lists(st.tuples(KEYS, TS), min_size=0, max_size=12)


def _reference_asof(left_rows, right_uniq):
    """Brute-force as-of: right_uniq maps (key, ts) -> payload, both
    non-NULL by construction."""
    out = []
    for lid, (k, t) in enumerate(left_rows):
        best = None
        if k is not None and t is not None:
            cands = [
                (rt, pay)
                for (rk, rt), pay in right_uniq.items()
                if rk == k and rt <= t
            ]
            if cands:
                best = max(cands)[1]
        out.append((lid, best))
    return sorted(out)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=LEFT_ROWS, right=RIGHT_ROWS)
def test_asof_join_matches_bruteforce(spark, left, right):
    from pyspark.sql import functions as F

    from kafka_topic_analyzer_spark.operators.asof import asof_join_backward

    # contract: right unique per (key, ts) — pre-aggregate like callers do
    # (max payload id wins), keeping only non-NULL-able raw rows intact
    right_uniq = {}
    for pid, (k, t) in enumerate(right):
        if k is not None and t is not None:
            cur = right_uniq.get((k, t))
            right_uniq[(k, t)] = pid if cur is None else max(cur, pid)

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)],
        "lid long, k long, t long",
    )
    rdf = spark.createDataFrame(
        [(k, t, pay) for (k, t), pay in right_uniq.items()] or [],
        "k long, t long, pay long",
    )
    got = asof_join_backward(
        ldf, rdf, key="k", ts="t", right_payload=["pay"], tiebreak="lid"
    ).select("lid", F.col("_asof.pay").alias("pay"))
    got_rows = sorted((r["lid"], r["pay"]) for r in got.collect())
    assert got_rows == _reference_asof(left, right_uniq)


POINTS = st.lists(st.integers(min_value=-5, max_value=30), min_size=0, max_size=10)
INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=25),
        st.integers(min_value=1, max_value=12),  # length: end = start + len
    ),
    min_size=0,
    max_size=8,
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=POINTS, intervals=INTERVALS, bin_size=st.integers(min_value=1, max_value=7))
def test_range_join_matches_nested_loop(spark, points, intervals, bin_size):
    from kafka_topic_analyzer_spark.operators.asof import range_join_binned

    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid long, p long"
    )
    idf = spark.createDataFrame(
        [(j, s, s + ln) for j, (s, ln) in enumerate(intervals)],
        "iid long, s long, e long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_binned(pdf, idf, "p", "s", "e", bin_size)
        .select("pid", "iid")
        .collect()
    )
    want = sorted(
        (i, j)
        for i, p in enumerate(points)
        for j, (s, ln) in enumerate(intervals)
        if s <= p < s + ln
    )
    assert got == want


GRAPH_EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=0,
    max_size=18,
)


def _reference_components(edges):
    """Union-find: (vertex, min reachable vertex) for every edge vertex."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for v in parent:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return sorted((v, comp_min[find(v)]) for v in parent)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=GRAPH_EDGES)
def test_connected_components_match_union_find(spark, edges):
    """Min-label propagation must converge to the same fixpoint a
    driver-side union-find computes — self-loops, duplicate edges,
    chains, and the empty graph included."""
    from kafka_topic_analyzer_spark.operators.dedup import connected_components

    edf = spark.createDataFrame(edges or [], "src long, dst long")
    got = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(edf).collect()
    )
    assert got == _reference_components(edges)


BIG_ROWS = st.lists(
    st.tuples(KEYS, st.integers(min_value=0, max_value=99)),
    min_size=0,
    max_size=12,
)
SMALL_ROWS = st.lists(
    st.tuples(KEYS, st.integers(min_value=100, max_value=199)),
    min_size=0,
    max_size=6,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    big=BIG_ROWS,
    small=SMALL_ROWS,
    salt=st.sampled_from([1, 2, 5]),
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
)
def test_salted_join_matches_plain_join(spark, big, small, salt, how):
    """salted_equi_join must be row-identical to the plain equi-join for
    every big-side-preserving join type, NULL keys included (NULL never
    matches; left/anti keep the NULL-key big rows)."""
    import pandas as pd

    from kafka_topic_analyzer_spark.operators.skew import salted_equi_join

    bdf = spark.createDataFrame(
        [(k, v) for k, v in big] or [], "k long, bval long"
    )
    sdf = spark.createDataFrame(
        [(k, v) for k, v in small] or [], "k long, sval long"
    )

    def rows(df):
        # NULLs sort as (-inf marker) tuples so None and float compare
        normed = [
            tuple((x is None or pd.isna(x), None if (x is None or pd.isna(x)) else int(x)) for x in r)
            for r in df.toPandas().itertuples(index=False)
        ]
        return sorted(normed, key=repr)

    got = rows(salted_equi_join(bdf, sdf, "k", salt=salt, how=how))
    want = rows(bdf.join(sdf, "k", how))
    assert got == want, (how, salt)


def test_salted_join_rejects_small_side_outer(spark):
    import pytest as _pytest

    from kafka_topic_analyzer_spark.operators.skew import salted_equi_join

    bdf = spark.createDataFrame([(1, 2)], "k long, bval long")
    sdf = spark.createDataFrame([(1, 3)], "k long, sval long")
    for how in ("right", "full", "outer", "full_outer"):
        with _pytest.raises(ValueError):
            salted_equi_join(bdf, sdf, "k", how=how)


# --- compacted state (the reference's core alive-keys semantics) ---

MSG_KEYS = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
MSG_VALUES = st.one_of(st.none(), st.sampled_from(["x", "yy"]))
MESSAGES = st.lists(
    st.tuples(st.integers(min_value=0, max_value=2), MSG_KEYS, MSG_VALUES),
    min_size=0,
    max_size=16,
)


def _reference_compacted(msgs):
    """Replay the log like a compacting broker: per non-null key, the
    record at the greatest (partition, offset) wins; alive = its value is
    not a tombstone."""
    state = {}
    for part, off, k, v in msgs:
        if k is None:
            continue
        cur = state.get(k)
        if cur is None or (part, off) > (cur[0], cur[1]):
            state[k] = (part, off, v)
        state.setdefault("_versions_" + k, 0)
        state["_versions_" + k] += 1
    out = []
    for k, (part, off, v) in [(k, s) for k, s in state.items() if not k.startswith("_")]:
        out.append((k, v is not None, part, off, state["_versions_" + k]))
    return sorted(out)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=MESSAGES)
def test_compacted_state_matches_log_replay(spark, raw):
    from kafka_topic_analyzer_spark.operators.alive_keys import compacted_state

    # contract: (partition, offset) unique — assign offsets per partition
    next_off = {}
    msgs = []
    for part, k, v in raw:
        off = next_off.get(part, 0)
        next_off[part] = off + 1
        msgs.append((part, off, k, v))
    kdf = spark.createDataFrame(
        [(p, o, k.encode() if k else None, v.encode() if v else None)
         for p, o, k, v in msgs] or [],
        "partition int, offset long, key binary, value binary",
    )
    got = sorted(
        (bytes(r["key"]).decode(), r["alive"], r["last_partition"],
         r["last_offset"], r["versions"])
        for r in compacted_state(kdf).collect()
    )
    assert got == _reference_compacted(msgs)


# --- gap-based sessionization ---

EVENTS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=1, max_value=3)),
        st.integers(min_value=0, max_value=7200),  # seconds; gap threshold 1800
    ),
    min_size=0,
    max_size=16,
)


def _reference_sessions(events, gap_sec):
    """Sort per user (NULL users form one group, matching both engines'
    window PARTITION BY), split on gap > gap_sec, emit per-user stats."""
    byuser = {}
    for u, t in events:
        byuser.setdefault(u, []).append(t)
    out = []
    for u, ts in byuser.items():
        ts.sort()
        sessions = []
        for t in ts:
            if sessions and t - sessions[-1][-1] <= gap_sec:
                sessions[-1].append(t)
            else:
                sessions.append([t])
        n_events = sum(len(s) for s in sessions)
        out.append((
            u,
            len(sessions),
            n_events,
            sum(s[-1] - s[0] for s in sessions),
            max(len(s) for s in sessions),
        ))
    return sorted(out, key=repr)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=EVENTS)
def test_session_stats_match_reference(spark, events):
    from kafka_topic_analyzer_spark.operators.windows import session_stats

    NS = 1_000_000_000
    df = spark.createDataFrame(
        [(u, t * NS) for u, t in events] or [], "user_id long, ts long"
    )
    got = sorted(
        (
            ((None if r["user_id"] is None else r["user_id"]), r["n_sessions"],
             r["n_events"], r["total_duration_sec"], r["max_session_events"])
            for r in session_stats(df, gap_sec=1800).collect()
        ),
        key=repr,
    )
    assert got == _reference_sessions(events, 1800)
