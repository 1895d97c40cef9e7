"""Binary (1-bit) quantization — the extreme end of the compression ladder.

FAISS IndexBinaryFlat-style sign codes re-expressed for Spark: each dim
contributes ONE bit (x_d > per-dim threshold), all 64 bits packed into a
single BIGINT — 64 bytes of float32 become 8 bytes, and candidate
distance is ``bit_count(xor(codes, qcodes))``: two JVM integer ops per
pair, the cheapest scan the ladder has. Ranking quality is accordingly
coarse (hamming over 64 bits takes only 65 distinct values — ties
resolve on neighbor_id), so the deployment shape is hamming shortlist +
exact refine (:func:`knn_binary_refined`), the same
IndexRefineFlat-over-binary pattern FAISS uses.

Thresholds derive from the serving SQ8 range artifact (per-dim midpoint
(lo+hi)/2), so the binary rung inherits the SQ8 train/serve lifecycle —
range drift that saturates SQ8 codes equally degrades bit balance, and
the same re-cut (tools/recut.py sq8) refreshes both. The per-dim bit
balance (:mod:`queries.similarity` binary_bit_balance_audit) is the
quality signal: a balanced bit carries maximal information; a dim whose
bit is ~always 0 or ~always 1 contributes nothing to the hamming
distance.

Engine parity: bit addend values are precomputed Python int literals
(bit 63 is the BIGINT sign bit, emitted as -2^63 — DuckDB's checked
``<<`` rejects 1<<63, so no shifts appear in either engine), the sum of
distinct addends is exact two's-complement, and xor/bit_count agree
bit-for-bit on both engines (probed).

Reference parity: the reference engine (a Rust Kafka CLI, ~725 LoC) has
no ANN surface; this module is part of the LLM-pipeline extension the
build brief makes first-class alongside SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kafka_topic_analyzer_spark.operators.ranks import topk_per_group
from kafka_topic_analyzer_spark.operators.sq import Ranges

_BIT_VALUES = [1 << i for i in range(63)] + [-(1 << 63)]


def binary_thresholds(ranges: Ranges) -> tuple[float, ...]:
    """Per-dim sign thresholds: the midpoint of the serving SQ8 ranges.
    Computed once in Python and emitted as repr-exact literals, so both
    engines compare against the identical double."""
    lo, hi = ranges
    return tuple((l + h) / 2.0 for l, h in zip(lo, hi))


def binary_encode_expr(thr: tuple[float, ...], emb: str = "embedding") -> str:
    """Spark SQL expression: the packed 64-bit sign code as ONE BIGINT.
    Bit d set iff x_d > thr_d; addends are precomputed literals (bit 63
    = -2^63), summed exactly (distinct bits never overflow)."""
    terms = [
        f"(CASE WHEN CAST(element_at({emb}, {d + 1}) AS DOUBLE) > {thr[d]!r}"
        f" THEN CAST({_BIT_VALUES[d]} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for d in range(len(thr))
    ]
    return "(" + " + ".join(terms) + ")"


def binary_encode_sql(thr: tuple[float, ...], emb: str = "embedding") -> str:
    """DuckDB mirror of :func:`binary_encode_expr` (1-based subscripts)."""
    terms = [
        f"(CASE WHEN CAST({emb}[{d + 1}] AS DOUBLE) > {thr[d]!r}"
        f" THEN CAST({_BIT_VALUES[d]} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for d in range(len(thr))
    ]
    return "(" + " + ".join(terms) + ")"


def knn_binary_hamming(
    corpus: DataFrame,
    queries: DataFrame,
    ranges: Ranges,
    k: int = 5,
) -> DataFrame:
    """Full-scan top-k by hamming distance over the packed sign codes —
    the cheapest candidate scan on the ladder (8 bytes per vector, two
    integer ops per pair, whole-stage codegen end to end; no UDF, no
    array column, no float math at scan time). Ties (hamming has ≤ 65
    values) break on neighbor_id; the final rank routes through
    topk_per_group. Returns (query_id, rank, neighbor_id, hamming)."""
    from kafka_topic_analyzer_spark.operators.ranks import _default_shards

    thr = binary_thresholds(ranges)
    code = F.expr(binary_encode_expr(thr))
    # The repartition is a MATERIALIZATION BARRIER, not a balance knob:
    # without an exchange between the encode projection and the join,
    # Catalyst's CollapseProject inlines the 64-term encode expression
    # into the per-pair distance projection and the code is recomputed
    # for EVERY candidate pair — measured 18.4 s vs 2.2 s at 64k vectors
    # (the deployment analogue: a serving index scores from STORED codes,
    # never re-encoding per query).
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), code.alias("codes")
    ).repartition(_default_shards(corpus))
    q = queries.select(F.col("vec_id").alias("query_id"), code.alias("qcodes"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.bit_count(F.col("codes").bitwiseXOR(F.col("qcodes")))
            .cast("int")
            .alias("hamming"),
        )
    )
    return topk_per_group(
        scored, ["query_id"], [F.asc("hamming"), F.asc("neighbor_id")], k
    ).select("query_id", "rank", "neighbor_id", "hamming")


def knn_binary_refined(
    corpus: DataFrame,
    queries: DataFrame,
    ranges: Ranges,
    k: int = 5,
    shortlist: int = 50,
) -> DataFrame:
    """Hamming shortlist + exact squared-L2 refine (FAISS
    IndexRefineFlat over a binary index): the 8-byte-per-vector scan
    proposes ``shortlist`` candidates per query, raw vectors are read
    for shortlist×queries rows only. Returns (query_id, rank,
    neighbor_id, dist)."""
    from kafka_topic_analyzer_spark.operators.pq import _exact_refine

    short = knn_binary_hamming(corpus, queries, ranges, k=shortlist).select(
        "query_id", "neighbor_id"
    )
    return _exact_refine(corpus, queries, short, k)
