"""SQ8 scalar quantization + packed-ADC + full-serving-shape tests.

The oracle registry hash-proves engine parity; these pin the NUMERIC
semantics against an independent numpy reference and the family-level
invariants (packed == array scoring, refine >= ADC recall, saturation as
a drift signal)."""

from __future__ import annotations

import numpy as np

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from kafka_topic_analyzer_spark.operators import artifacts
from kafka_topic_analyzer_spark.operators.sq import knn_sq8, sq8_encode, sq8_train
from kafka_topic_analyzer_spark.sources.tables import load_table

CENTROIDS = artifacts.load("ivf_centroids_v1")
CODEBOOKS = artifacts.load("pq_codebooks_v1")


def _np_codes(mat: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    span = hi - lo
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = np.floor((mat - lo) / span * 255 + 0.5)
    raw = np.where(span > 0, raw, 0.0)
    return np.clip(raw, 0, 255).astype(np.int64)


def test_sq8_codes_match_numpy_reference(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings").orderBy("vec_id").limit(64)
    ranges = artifacts.load("sq8_params_v1")
    lo = np.array(ranges[0])
    hi = np.array(ranges[1])
    rows = sq8_encode(emb, ranges).select("vec_id", "embedding", "codes").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    want = _np_codes(mat, lo, hi)
    got = np.array([r["codes"] for r in rows], dtype=np.int64)
    assert (want == got).all()


def test_sq8_train_covers_sample_exactly(spark):
    """Trained ranges are the sample's per-dim min/max, so encoding the
    SAME sample saturates only AT the extremes (codes 0/255 exist) and
    never clamps outside them (every value is representable)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    lo, hi = sq8_train(emb)
    assert len(lo) == len(hi) == 64
    assert all(l <= h for l, h in zip(lo, hi))
    codes = sq8_encode(emb, (lo, hi)).select("codes").collect()
    arr = np.array([r["codes"] for r in codes])
    assert arr.min() == 0 and arr.max() == 255


def test_sq8_ranking_is_near_exact(spark):
    """SQ8 keeps every dim at 8-bit resolution, so full-scan ranking must
    be close to exact squared-L2 — the property that makes it the
    no-refine-needed middle rung (unlike PQ's subspace loss)."""
    from kafka_topic_analyzer_spark.functions.vectors import dot, pair_dot_udf
    from pyspark.sql import Window as W

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    got = (
        knn_sq8(emb, queries, artifacts.load("sq8_params_v1"), k=5)
        .select("query_id", "neighbor_id")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        dot(F.col("embedding"), F.col("embedding")).alias("qq"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        dot(F.col("embedding"), F.col("embedding")).alias("cc"),
    )
    l2 = (
        F.col("qq")
        - F.lit(2.0) * pair_dot_udf(F.col("q_emb"), F.col("c_emb"))
        + F.col("cc")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    truth = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", l2.alias("d"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    n_truth = truth.count()
    hits = truth.join(got, ["query_id", "neighbor_id"]).count()
    assert hits / n_truth >= 0.9, f"SQ8 recall@5 {hits}/{n_truth}"


def test_sq8_saturation_detects_range_drift(spark):
    """Shift the corpus outside the trained ranges: the hi-saturation
    census must light up — the re-cut trigger the audit query exists for."""
    from kafka_topic_analyzer_spark.operators.sq import sq8_encode_expr

    ranges = artifacts.load("sq8_params_v1")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    drifted = emb.withColumn(
        "embedding",
        F.expr("transform(embedding, x -> CAST(x + 5.0 AS FLOAT))"),
    )
    codes = drifted.withColumn("codes", F.expr(sq8_encode_expr(ranges)))
    n_hi = codes.select(
        F.explode("codes").alias("c")
    ).where(F.col("c") == 255).count()
    n_all = codes.select(F.explode("codes")).count()
    assert n_hi == n_all, "a +5 shift must pin every code at 255"


def test_packed_adc_equals_array_adc(spark):
    """Shift/mask extraction over the packed BIGINT must reproduce the
    array-codes ADC ranking bit-for-bit (same rounding, same decimal
    sum, same total order)."""
    from kafka_topic_analyzer_spark.operators.pq import (
        knn_pq_adc,
        knn_pq_adc_packed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    a = sorted(map(tuple, knn_pq_adc(emb, queries, CODEBOOKS, k=5).collect()))
    p = sorted(
        map(tuple, knn_pq_adc_packed(emb, queries, CODEBOOKS, k=5).collect())
    )
    assert a == p


def test_packed_adc_equals_array_adc_k256(spark):
    """Same bit-identity at the serving code size: K=256 codes occupy the
    FULL 8-bit lanes (values >= 128 hit the top lane's sign bit — the
    wrap case the K=16 form never reaches)."""
    from kafka_topic_analyzer_spark.operators.pq import (
        knn_pq_adc,
        knn_pq_adc_packed,
        pack_codes,
        pq_encode_scored,
    )

    cb3 = artifacts.load("pq_codebooks_v3")
    m_sub = len(cb3)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    a = sorted(map(tuple, knn_pq_adc(emb, queries, cb3, k=5).collect()))
    p = sorted(map(tuple, knn_pq_adc_packed(emb, queries, cb3, k=5).collect()))
    assert a == p
    # the wrap case actually occurs: some top-lane code >= 128
    top = (
        pack_codes(pq_encode_scored(emb, cb3).select("vec_id", "codes"), m_sub)
        .select(F.shiftright("codes_packed", 8 * (m_sub - 1)).bitwiseAND(F.lit(255).cast("bigint")).alias("c"))
        .agg(F.max("c"))
        .collect()[0][0]
    )
    assert top >= 128


def test_ivfpq_refined_recall_at_least_adc(spark):
    """The full serving shape (IVF prune + ADC shortlist + exact refine)
    must rank at least as well as raw IVF+PQ ADC against the exact-L2
    truth restricted to the same probed candidates — refine can only
    reorder toward exactness."""
    from kafka_topic_analyzer_spark.operators.pq import (
        knn_ivfpq_adc,
        knn_ivfpq_refined,
    )
    from kafka_topic_analyzer_spark.functions.vectors import dot, pair_dot_udf
    from pyspark.sql import Window as W

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        dot(F.col("embedding"), F.col("embedding")).alias("qq"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        dot(F.col("embedding"), F.col("embedding")).alias("cc"),
    )
    l2 = (
        F.col("qq")
        - F.lit(2.0) * pair_dot_udf(F.col("q_emb"), F.col("c_emb"))
        + F.col("cc")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    truth = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", l2.alias("d"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n = truth.count()
    adc = knn_ivfpq_adc(emb, queries, CENTROIDS, CODEBOOKS, k=5, nprobe=4)
    ref = knn_ivfpq_refined(
        emb, queries, CENTROIDS, CODEBOOKS, k=5, nprobe=4, shortlist=50
    )
    adc_hits = truth.join(
        adc.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    ref_hits = truth.join(
        ref.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    assert ref_hits >= adc_hits, (ref_hits, adc_hits, n)


def test_undrifted_corpus_needs_no_sq8_recut(spark):
    """On the corpus whose extremes sit inside the trained ranges the
    saturated fraction is the structural floor (~2 codes per dim from
    the min/max rows themselves) — far under the bar, no re-cut."""
    from kafka_topic_analyzer_spark.operators.sq import maybe_recut_sq8

    emb = load_table(spark, SF_SMOKE, "embeddings")
    new, before, after = maybe_recut_sq8(emb, artifacts.load("sq8_params_v1"))
    assert new is None and after is None
    assert before["sat_frac"] < 0.05


def test_sq8_recut_restores_health_on_drifted_corpus(spark):
    """The canonical +5 shift pins every code at 255 (sat_frac 1.0);
    re-deriving ranges from the drifted corpus restores the structural
    floor while the serving artifact is never mutated."""
    from kafka_topic_analyzer_spark.operators.sq import maybe_recut_sq8

    serving = artifacts.load("sq8_params_v1")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    drifted = emb.withColumn(
        "embedding", F.expr("transform(embedding, x -> CAST(x + 5.0 AS FLOAT))")
    )
    new, before, after = maybe_recut_sq8(drifted, serving)
    assert before["sat_frac"] == 1.0
    assert new is not None and after["sat_frac"] < 0.05
    assert after["mean_recon_err"] < before["mean_recon_err"]
    # serving artifact untouched
    assert artifacts.load("sq8_params_v1") == serving
    assert new != serving


def test_knn_ivf_sq8_matches_full_scan_at_full_probe(spark):
    """nprobe=nlist probes every cell, so IVF+SQ8 must return exactly the
    full-scan knn_sq8 result — the composition is cell pruning AND
    NOTHING ELSE on top of the SQ8 scorer."""
    from kafka_topic_analyzer_spark.operators.sq import knn_ivf_sq8

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    ranges = artifacts.load("sq8_params_v1")
    full = knn_sq8(emb, queries, ranges, k=5)
    ivf = knn_ivf_sq8(emb, queries, CENTROIDS, ranges, k=5, nprobe=len(CENTROIDS))
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, ivf.collect()))


def test_streamed_ivfpq_index_equals_batch(spark):
    """The incrementally streamed index must equal the batch build
    row-for-row (same cells, same packed codes) — the maintained-index
    ingestion claim."""
    from kafka_topic_analyzer_spark.operators.pq import ivfpq_index, pack_codes
    from kafka_topic_analyzer_spark.streaming.ivf_stream import (
        streaming_ivfpq_index_build,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    want = sorted(
        map(
            tuple,
            pack_codes(ivfpq_index(emb, CENTROIDS, CODEBOOKS), len(CODEBOOKS))
            .select("vec_id", "cell", "codes_packed")
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            streaming_ivfpq_index_build(spark, SF_SMOKE)
            .select("vec_id", "cell", "codes_packed")
            .collect(),
        )
    )
    assert got == want and got


def test_binary_refine_recall_at_least_hamming(spark):
    """The binary rung's deployment shape: hamming shortlist + exact
    refine must rank at least as well as raw hamming top-k against the
    exact-L2 truth (refine reorders toward exactness), and the packed
    code must be 8 bytes of information (bit_count in [0, 64])."""
    from kafka_topic_analyzer_spark.operators.binary import (
        knn_binary_hamming,
        knn_binary_refined,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    ranges = artifacts.load("sq8_params_v1")
    ham = knn_binary_hamming(emb, queries, ranges, k=5)
    assert ham.where((F.col("hamming") < 0) | (F.col("hamming") > 64)).count() == 0

    from kafka_topic_analyzer_spark.functions.vectors import dot, pair_dot_udf
    from pyspark.sql import Window as W

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        dot(F.col("embedding"), F.col("embedding")).alias("qq"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        dot(F.col("embedding"), F.col("embedding")).alias("cc"),
    )
    l2 = (
        F.col("qq")
        - F.lit(2.0) * pair_dot_udf(F.col("q_emb"), F.col("c_emb"))
        + F.col("cc")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    truth = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", l2.alias("d"))
        .withColumn("rank", F.row_number().over(w))
        .where("rank <= 5")
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    ref = knn_binary_refined(emb, queries, ranges, k=5, shortlist=50)
    h_hits = truth.join(
        ham.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    r_hits = truth.join(
        ref.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).count()
    assert r_hits >= h_hits


def test_binary_codes_pack_all_64_bits(spark):
    """Every dim must be able to set its bit — including bit 63 (the
    BIGINT sign): an all-above-threshold vector encodes to -1 (all bits
    set), an all-below one to 0."""
    from kafka_topic_analyzer_spark.operators.binary import (
        binary_encode_expr,
        binary_thresholds,
    )

    thr = binary_thresholds(artifacts.load("sq8_params_v1"))
    df = spark.createDataFrame(
        [(0, [1e6] * 64), (1, [-1e6] * 64)],
        "vec_id long, embedding array<float>",
    ).withColumn("codes", F.expr(binary_encode_expr(thr)))
    rows = {r["vec_id"]: r["codes"] for r in df.collect()}
    assert rows[0] == -1 and rows[1] == 0


def test_filtered_ivf_respects_predicate(spark):
    """Every returned neighbor must carry the query's own label — the
    filter applies to the candidate stream, not the ranked output."""
    from kafka_topic_analyzer_spark.operators.similarity import knn_ivf_filtered

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    got = knn_ivf_filtered(emb, queries, CENTROIDS, k=5, nprobe=4)
    labels = emb.select("vec_id", "label")
    joined = (
        got.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nl")
            ),
            "neighbor_id",
        )
    )
    assert joined.where(F.col("ql") != F.col("nl")).count() == 0
    assert got.count() > 0


def test_sq8_udf_distance_equals_hof_expression(spark):
    """The Arrow-batched distance twin must produce the IDENTICAL int64
    micro-units as the interpreted higher-order fold (which remains the
    DuckDB mirror) — the bit-identity that lets the UDF serve the hot
    path while the HOF form proves parity."""
    from kafka_topic_analyzer_spark.operators.sq import (
        sq8_dist_micro_expr,
        sq8_dist_micro_udf,
        sq8_encode,
    )

    ranges = artifacts.load("sq8_params_v1")
    emb = load_table(spark, SF_SMOKE, "embeddings").limit(20)
    enc = sq8_encode(emb, ranges).select("vec_id", "codes")
    q = emb.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb")
    ).limit(5)
    pairs = enc.crossJoin(q).select(
        "vec_id",
        "qid",
        F.expr(sq8_dist_micro_expr(ranges)).alias("hof"),
        sq8_dist_micro_udf(ranges)(F.col("codes"), F.col("q_emb")).alias("udf"),
    )
    assert pairs.where(F.col("hof") != F.col("udf")).count() == 0
    assert pairs.count() == 100
