"""Scalar quantization (SQ8) — the middle rung of the compression ladder.

FAISS IndexScalarQuantizer (QT_8bit) re-expressed for Spark: each of the
64 dims is affinely mapped to an 8-bit code against PER-DIM [lo, hi]
training ranges — 4x smaller than float32 storage with near-exact
ranking (unlike PQ, every dim keeps its own code, so there is no
subspace-level information loss; the only error is the 1/255 grid).
Between the raw-vector exact paths (64 floats) and PQ (8 codes), SQ8 is
what deployments use when memory allows: compressed enough to matter,
accurate enough to skip the refine pass for most workloads.

Train/serve split mirrors the IVF/PQ lifecycle: :func:`sq8_train`
derives per-dim min/max from a bounded deterministic sample
(tools/train_sq8_params.py ships the ``sq8_params_v1`` artifact,
operators/artifacts.py); encode and search only ever see the FIXED
ranges. Everything is pure JVM column expressions (transform/aggregate
over array columns — no Python in the hot path), and every arithmetic
step is elementwise with per-term tie-safe rounding to integer
micro-units, so the DuckDB oracle reproduces codes and distances
bit-for-bit in any evaluation order.

The saturation census (:func:`sq8_saturation_health` / the registered
sq8_saturation_audit query) is the drift trigger: codes pinned at 0/255
mean the corpus has left the trained ranges — the SQ analogue of dead PQ
codes / empty IVF cells. :func:`maybe_recut_sq8` closes the loop.

Reference parity: the reference engine (a Rust Kafka CLI, ~725 LoC) has
no ANN surface; this module is part of the LLM-pipeline extension the
build brief makes first-class alongside SURVEY.md §2.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from kafka_topic_analyzer_spark.operators.ranks import topk_per_group

Ranges = tuple[tuple[float, ...], tuple[float, ...]]  # (lo, hi), each dim-length


def sq8_train(emb: DataFrame, max_train: int = 16384) -> Ranges:
    """Per-dim [min, max] over a bounded deterministic sample (vec_id
    order) — the whole training state of an 8-bit scalar quantizer.
    One small collect, like ivf_centroids/pq_train; min/max are
    order-insensitive so the result is exactly reproducible."""
    sample = emb.orderBy("vec_id").limit(max_train).select("embedding").collect()
    mat = np.array([r["embedding"] for r in sample], dtype=np.float64)
    if mat.ndim != 2 or not len(mat):
        raise ValueError("sq8_train: empty training sample")
    return (
        tuple(float(x) for x in mat.min(axis=0)),
        tuple(float(x) for x in mat.max(axis=0)),
    )


def _arr_lit(vals: tuple[float, ...]) -> str:
    """A SQL array literal of repr-exact doubles (Spark `array(...)`)."""
    return "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


def sq8_encode_expr(ranges: Ranges, emb: str = "embedding") -> str:
    """Spark SQL expression: the length-dim array<int> of 8-bit codes.

    code_d = clamp(floor((x_d - lo_d) / (hi_d - lo_d) * 255 + 0.5), 0,
    255); a degenerate dim (hi == lo) encodes 0. Out-of-range values
    (corpus drift) CLAMP — the saturation census counts them. All ops
    are elementwise IEEE-754 with identical association on both engines,
    so codes hash-match."""
    lo, hi = ranges
    lo_a, hi_a = _arr_lit(lo), _arr_lit(hi)
    return f"""transform({emb}, (x, i) -> CAST(
      CASE WHEN element_at({hi_a}, i + 1) > element_at({lo_a}, i + 1)
           THEN least(255, greatest(0, CAST(floor(
             (CAST(x AS DOUBLE) - element_at({lo_a}, i + 1))
             / (element_at({hi_a}, i + 1) - element_at({lo_a}, i + 1))
             * 255 + 0.5) AS INT)))
           ELSE 0 END AS INT))"""


def sq8_encode(df: DataFrame, ranges: Ranges) -> DataFrame:
    """Attach ``codes`` (array<int>, 8-bit values) — one scan-side JVM
    projection, no UDF, no shuffle."""
    return df.withColumn("codes", F.expr(sq8_encode_expr(ranges)))


def sq8_terms_expr(
    ranges: Ranges, codes: str = "codes", vec: str = "q_emb"
) -> str:
    """Spark SQL expression: the array<bigint> of per-dim squared diffs
    between a RAW vector and the DEQUANTIZED codes, each term tie-safe-
    rounded to 6 dp as an integer micro-unit (floor(d*d * 1e6 + 0.5)) —
    exact, order-independent building block for both the kNN distance
    (summed) and the reconstruction-error census (exploded per dim)."""
    lo, hi = ranges
    lo_a, hi_a = _arr_lit(lo), _arr_lit(hi)
    deq = (
        f"(element_at({lo_a}, i + 1) + CAST(c AS DOUBLE)"
        f" * (element_at({hi_a}, i + 1) - element_at({lo_a}, i + 1)) / 255.0)"
    )
    diff = f"(CAST(element_at({vec}, i + 1) AS DOUBLE) - {deq})"
    return (
        f"transform({codes}, (c, i) ->\n"
        f"        CAST(floor({diff} * {diff} * 1e6 + 0.5) AS BIGINT))"
    )


def sq8_dist_micro_expr(
    ranges: Ranges, codes: str = "codes", q_emb: str = "q_emb"
) -> str:
    """Spark SQL expression: squared-L2 between a RAW query vector and a
    DEQUANTIZED candidate, in exact integer micro-units (BIGINT) — the
    integer fold over :func:`sq8_terms_expr`, the array-column analogue
    of the PQ decimal sum. Divide by 1e6 at the end for the reported
    double."""
    return f"""aggregate(
      {sq8_terms_expr(ranges, codes, q_emb)},
      CAST(0 AS BIGINT), (acc, t) -> acc + t)"""


def sq8_dist_micro_udf(ranges: Ranges):
    """Arrow-batched twin of :func:`sq8_dist_micro_expr`: the SAME
    integer micro-unit distance (dequantize, per-dim squared diff,
    floor(d*d*1e6 + 0.5) as int64, exact sum) computed by vectorized
    numpy instead of an interpreted higher-order fold. Higher-order
    functions are CodegenFallback in Spark — measured ~5x the exact
    scan's cost at 256k vectors — while the Arrow batch pays one numpy
    pass per partition (the pair_dot_udf discipline). Every elementwise
    op keeps the scalar form's IEEE-754 association (c*(hi-lo), /255,
    lo+…; (d*d)*1e6), so the int64 values are bit-identical and the
    DuckDB mirror (the HOF form) still hash-matches."""
    from pyspark.sql.functions import pandas_udf

    lo = np.array(ranges[0], dtype=np.float64)
    hi = np.array(ranges[1], dtype=np.float64)

    @pandas_udf("long")
    def _dist(codes, q_emb):
        import pandas as pd

        if len(codes) == 0:
            return pd.Series([], dtype="int64")
        c = np.array(codes.tolist(), dtype=np.float64)
        qm = np.array(q_emb.tolist(), dtype=np.float64)
        deq = lo + c * (hi - lo) / 255.0
        diff = qm - deq
        terms = np.floor(diff * diff * 1e6 + 0.5).astype(np.int64)
        return pd.Series(terms.sum(axis=1))

    # asNondeterministic: values ARE deterministic (SQL-mirrored); the
    # marker stops Catalyst duplicating the UDF (lsh_buckets rationale)
    return _dist.asNondeterministic()


def knn_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    ranges: Ranges,
    k: int = 5,
) -> DataFrame:
    """Full-scan top-k over the SQ8 index: candidates are scored from
    their 8-bit codes against the raw query (asymmetric, like ADC — the
    query is never quantized, so the only error is the candidate grid).
    The corpus side carries ONLY codes through the join; the final rank
    routes through topk_per_group (corpus-sized candidate sets — the ANN
    family discipline). Returns (query_id, rank, neighbor_id, adist),
    adist = exact micro-unit sum / 1e6."""
    from kafka_topic_analyzer_spark.operators.ranks import _default_shards

    # Materialization barrier (see binary.knn_binary_hamming): without
    # the exchange, CollapseProject inlines the per-dim encode into the
    # per-pair distance and re-encodes every candidate for every query.
    c = (
        sq8_encode(corpus, ranges)
        .select(F.col("vec_id").alias("neighbor_id"), "codes")
        .repartition(_default_shards(corpus))
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    dist_u = sq8_dist_micro_udf(ranges)(F.col("codes"), F.col("q_emb"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dist_u.alias("dist_u"))
    )
    return topk_per_group(
        scored, ["query_id"], [F.asc("dist_u"), F.asc("neighbor_id")], k
    ).select(
        "query_id",
        "rank",
        "neighbor_id",
        (F.col("dist_u").cast("double") / F.lit(1e6)).alias("adist"),
    )


# ---------------------------------------------------------------------------
# Range lifecycle: saturation trigger -> re-derive -> versioned artifact.
# sq8_saturation_audit (and its streaming twin) MEASURE the signal; these
# close the loop, mirroring similarity.maybe_recut_quantizer and
# pq.maybe_recut_codebooks: when clamped-code mass crosses the bar, derive
# candidate ranges from the CURRENT corpus and ship them as a new artifact
# version while v_n keeps serving.
# ---------------------------------------------------------------------------


def sq8_saturation_health(df: DataFrame, ranges: Ranges) -> dict:
    """Saturation stats of ``df`` under FIXED ranges — the re-cut
    trigger. One distributed encode scan (the serving path's exact
    arithmetic) + a dim-sized aggregate; only the summary reaches the
    driver. ``sat_frac`` = clamped codes (0 or 255) / all codes: values
    outside the trained [lo, hi] clamp, so a drifting corpus pushes this
    up; ``mean_recon_err`` = mean per-dim squared reconstruction error
    (micro-unit-exact sum / count)."""
    enc = df.withColumn("codes", F.expr(sq8_encode_expr(ranges))).withColumn(
        "terms", F.expr(sq8_terms_expr(ranges, "codes", "embedding"))
    )
    row = (
        enc.select(F.posexplode(F.arrays_zip("codes", "terms")).alias("d", "z"))
        .select(F.col("z.codes").alias("code"), F.col("z.terms").alias("err_u"))
        .agg(
            F.count(F.lit(1)).alias("n_codes"),
            F.sum(
                F.when((F.col("code") == 0) | (F.col("code") == 255), 1).otherwise(0)
            ).alias("n_sat"),
            F.sum("err_u").alias("err_u"),
        )
        .first()
    )
    n = int(row["n_codes"] or 0)
    sat = int(row["n_sat"] or 0)
    return {
        "n_codes": n,
        "n_saturated": sat,
        "sat_frac": round(sat / n, 4) if n else 0.0,
        "mean_recon_err": round(int(row["err_u"] or 0) / 1e6 / n, 6) if n else 0.0,
    }


def maybe_recut_sq8(
    emb: DataFrame,
    ranges: Ranges,
    sat_frac_bar: float = 0.05,
) -> tuple[Ranges | None, dict, dict | None]:
    """The closed drift loop: measure saturation under the CURRENT
    artifact; above ``sat_frac_bar`` clamped mass, derive candidate
    ranges from the current corpus (:func:`sq8_train` — bounded
    deterministic sample) and return ``(new, before, after)``; otherwise
    ``(None, before, None)``. The serving ranges are NEVER mutated in
    place (tools/recut.py sq8 writes the next versioned artifact). An
    in-range corpus saturates only AT its per-dim extremes (the min/max
    rows themselves encode 0/255), so the healthy floor is ~2/255 per
    dim, far under any sensible bar."""
    before = sq8_saturation_health(emb, ranges)
    if before["sat_frac"] <= sat_frac_bar:
        return None, before, None
    new = sq8_train(emb)
    after = sq8_saturation_health(emb, new)
    return new, before, after


def knn_ivf_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: tuple[tuple[float, ...], ...],
    ranges: Ranges,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF + SQ8 composed (FAISS IndexIVFScalarQuantizer): the coarse
    quantizer prunes candidates to ~nprobe/nlist of the corpus, SQ8
    scores the survivors from their 8-bit codes — completing the
    coarse x fine matrix next to IVF+PQ. The index is ONE corpus pass
    producing (vec_id, cell, codes): the cell UDF and the JVM encode
    expression batch over the same scan. Per query the work is nprobe
    cell-posting scans of 64-byte codes; raw corpus vectors are never
    read at search time, and unlike IVF+PQ the scoring is near-exact
    (per-dim grid error only), so no refine pass is needed.

    No ``distinct`` after the cell join: nprobe=1 corpus assignment
    makes candidate pairs unique by construction (the knn_ivfpq_adc
    note). Returns (query_id, rank, neighbor_id, adist)."""
    from kafka_topic_analyzer_spark.functions.vectors import as_double
    from kafka_topic_analyzer_spark.operators.similarity import (
        _fixed_cells_udf,
        ivf_assign_fixed,
    )

    from kafka_topic_analyzer_spark.operators.ranks import _default_shards

    cells_udf = _fixed_cells_udf(centroids, nprobe=1)
    # Materialization barrier (see knn_sq8): keep the encode out of the
    # per-candidate distance projection.
    idx = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.element_at(
            cells_udf(as_double(F.col("embedding"))), 1
        ).alias("cell"),
        F.expr(sq8_encode_expr(ranges)).alias("codes"),
    ).repartition(_default_shards(corpus))
    qb = ivf_assign_fixed(queries, centroids, nprobe=nprobe).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        idx.join(F.broadcast(qb), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            sq8_dist_micro_udf(ranges)(F.col("codes"), F.col("q_emb")).alias(
                "dist_u"
            ),
        )
    )
    return topk_per_group(
        scored, ["query_id"], [F.asc("dist_u"), F.asc("neighbor_id")], k
    ).select(
        "query_id",
        "rank",
        "neighbor_id",
        (F.col("dist_u").cast("double") / F.lit(1e6)).alias("adist"),
    )
