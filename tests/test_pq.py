"""Product-quantization behavior tests (operators/pq.py).

Covers the quantizer contract (code ranges, determinism vs a direct
numpy re-derivation), the ADC identity (a vector's ADC distance to its
own codes equals its summed per-subspace quantization error), search
quality (ADC recall against exact L2, IVF+PQ vs plain PQ containment),
and codebook-health census invariants. Plan-shape pins live in
test_plan_properties.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from kafka_topic_analyzer_spark.operators import artifacts
from kafka_topic_analyzer_spark.operators.pq import (
    knn_ivfpq_adc,
    knn_pq_adc,
    ivfpq_index,
    pq_encode_scored,
    pq_train,
)
from kafka_topic_analyzer_spark.sources.tables import load_table

CODEBOOKS = artifacts.load("pq_codebooks_v1")
M, K, DSUB = len(CODEBOOKS), len(CODEBOOKS[0]), len(CODEBOOKS[0][0])
CENTROIDS = artifacts.load("ivf_centroids_v1")


def _np_codes(vecs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Reference encoding: independent numpy argmin per subspace (the
    straightforward formulation, NOT the sequential fold — agreement
    shows the fold ordering doesn't change assignments on real data)."""
    cb = np.array(CODEBOOKS)
    n = len(vecs)
    codes = np.zeros((n, M), dtype=int)
    qerrs = np.zeros((n, M))
    for mi in range(M):
        sub = vecs[:, mi * DSUB : (mi + 1) * DSUB]
        d2 = ((sub[:, None, :] - cb[mi][None, :, :]) ** 2).sum(axis=2)
        codes[:, mi] = np.argmin(d2, axis=1)
        qerrs[:, mi] = d2[np.arange(n), codes[:, mi]]
    return codes, qerrs


def test_pq_encode_matches_numpy_reference(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = (
        pq_encode_scored(emb, CODEBOOKS)
        .select("vec_id", "embedding", "codes", "qerrs")
        .orderBy("vec_id")
        .collect()
    )
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ref_codes, ref_qerrs = _np_codes(vecs)
    got_codes = np.array([r["codes"] for r in rows])
    got_qerrs = np.array([r["qerrs"] for r in rows])
    assert got_codes.shape == (len(rows), M)
    assert (got_codes == ref_codes).all()
    assert np.allclose(got_qerrs, ref_qerrs, rtol=0, atol=1e-12)
    assert got_codes.min() >= 0 and got_codes.max() < K


def test_adc_self_distance_is_quantization_error(spark):
    """ADC identity: scoring a query against ITS OWN codes must return
    exactly its summed (rounded) per-subspace quantization error — the
    invariant that pins query-side and corpus-side distance math to the
    same fold."""
    from pyspark.sql import functions as F

    from kafka_topic_analyzer_spark.functions.vectors import as_double
    from kafka_topic_analyzer_spark.operators.pq import (
        _adc_dist,
        pq_adc_table_udf,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(20)
    enc = pq_encode_scored(emb, CODEBOOKS).select("vec_id", "codes", "qerrs")
    qdt = emb.select(
        "vec_id",
        pq_adc_table_udf(CODEBOOKS)(as_double(F.col("embedding"))).alias("qdt"),
    )
    joined = enc.join(qdt, "vec_id").select(
        "vec_id",
        "qerrs",
        _adc_dist(M, K).cast("double").alias("self_adist"),
    )
    for r in joined.collect():
        expected = sum(
            np.floor(q * 1e6 + 0.5) / 1e6 for q in r["qerrs"]
        )
        assert r["self_adist"] == pytest.approx(expected, abs=1e-9)


def _exact_l2_topk(vecs: np.ndarray, ids: np.ndarray, n_queries: int, k: int):
    out = set()
    for qi in range(len(ids)):
        if ids[qi] >= n_queries:
            continue
        d2 = ((vecs - vecs[qi]) ** 2).sum(axis=1)
        order = [
            j
            for j in np.lexsort((ids, d2))
            if ids[j] != ids[qi]
        ][:k]
        for j in order:
            out.add((int(ids[qi]), int(ids[j])))
    return out


def test_pq_adc_recall_vs_exact_l2(spark):
    """Recall ladder on near-isotropic embeddings (within-label variance
    is 98% of global — the quantizer worst case): raw ADC rank-recall@5
    is weak by nature (0.14 measured on sf0.001, random baseline ~0.08),
    but the 50-candidate ADC SHORTLIST contains 0.58 of the exact top-5,
    and the refined query (exact re-rank of the shortlist,
    knn_pq_refined) surfaces exactly that in order — pin all three
    floors so a codebook regression shows up at the rung it breaks."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    exact = _exact_l2_topk(vecs, ids, n_queries=10, k=5)
    queries = emb.where(emb.vec_id < 10)

    adc5 = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_pq_adc(emb, queries, CODEBOOKS, k=5).collect()
    }
    assert len(exact & adc5) / len(exact) >= 0.1

    short50 = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_pq_adc(emb, queries, CODEBOOKS, k=50).collect()
    }
    shortlist_recall = len(exact & short50) / len(exact)
    assert shortlist_recall >= 0.5, f"shortlist recall {shortlist_recall}"

    from kafka_topic_analyzer_spark.operators.pq import knn_pq_refined

    refined = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_pq_refined(emb, queries, CODEBOOKS, k=5, shortlist=50).collect()
    }
    refined_recall = len(exact & refined) / len(exact)
    assert refined_recall >= shortlist_recall - 1e-9, (
        f"refine must surface the shortlist's hits: {refined_recall}"
        f" < {shortlist_recall}"
    )


def test_ivfpq_candidates_subset_of_pq(spark):
    """IVF+PQ returns ADC-scored neighbors drawn from the probed cells —
    every returned pair must also be ADC-reachable (same scores as plain
    PQ for pairs both return), and per-query result count stays ≤ k."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(emb.vec_id < 10)
    pq_rows = {
        (r["query_id"], r["neighbor_id"]): r["adist"]
        for r in knn_pq_adc(emb, queries, CODEBOOKS, k=60).collect()
    }
    ivfpq = knn_ivfpq_adc(
        emb, queries, CENTROIDS, CODEBOOKS, k=5, nprobe=4
    ).collect()
    per_query: dict[int, int] = {}
    for r in ivfpq:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
        key = (r["query_id"], r["neighbor_id"])
        assert key in pq_rows, f"IVF+PQ produced non-ADC pair {key}"
        assert r["adist"] == pytest.approx(pq_rows[key], abs=1e-9)
    assert per_query and max(per_query.values()) <= 5


def test_ivfpq_index_one_row_per_vector(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = ivfpq_index(emb, CENTROIDS, CODEBOOKS)
    n = emb.count()
    assert idx.count() == n
    row = idx.first()
    assert 0 <= row["cell"] < len(CENTROIDS)
    assert len(row["codes"]) == M


def test_pq_train_shapes_and_determinism(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cb1 = pq_train(emb, m=4, k=8, iters=2, max_train=64)
    cb2 = pq_train(emb, m=4, k=8, iters=2, max_train=64)
    assert cb1.shape == (4, 8, 16)
    assert (cb1 == cb2).all(), "pq_train must be bit-deterministic"


def test_pq_census_accounts_every_vector(spark):
    """The census over the full M*K spine: per-subspace assignment counts
    sum to the corpus size, and mean_qerr ≤ max_qerr on every live code."""
    import __spark_entry__ as E

    df = E.queries()["pq_code_census"](spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == M * K
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    per_m: dict[int, int] = {}
    for r in rows:
        per_m[r["m"]] = per_m.get(r["m"], 0) + r["n_assigned"]
        assert r["mean_qerr"] <= r["max_qerr"] + 1e-9
        if r["n_assigned"] == 0:
            assert r["mean_qerr"] == 0.0 and r["max_qerr"] == 0.0
    assert set(per_m.values()) == {n_vecs}


def test_residual_quantization_is_tighter(spark):
    """The residual-PQ value proposition: with the same 8x16 budget,
    codebooks trained on coarse residuals quantize tighter than raw-
    vector codebooks — corpus mean summed qerr must drop. (Recall is
    measured in bench; this is the invariant that holds regardless of
    query-set noise.)"""
    from pyspark.sql import functions as F

    from kafka_topic_analyzer_spark.functions.vectors import as_double
    from kafka_topic_analyzer_spark.operators.pq import _residual_parts_udf

    res_cb = artifacts.load("pq_codebooks_res_v1")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    raw_err = (
        pq_encode_scored(emb, CODEBOOKS)
        .select(
            F.expr(
                "aggregate(qerrs, CAST(0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("e")
        )
        .agg(F.avg("e"))
        .first()[0]
    )
    res_udf = _residual_parts_udf(CENTROIDS, res_cb)
    res_err = (
        emb.select(res_udf(as_double(F.col("embedding"))).alias("_rp"))
        .select(
            F.expr(
                "aggregate(_rp.qerrs, CAST(0 AS DOUBLE), (a, x) -> a + x)"
            ).alias("e")
        )
        .agg(F.avg("e"))
        .first()[0]
    )
    assert res_err < raw_err, f"residual qerr {res_err} !< raw {raw_err}"


def test_residual_index_cells_match_ivf_assignment(spark):
    """The residual index's cell column must be bit-identical to the
    serving ivf_assign_fixed assignment — one UDF computing both halves
    cannot drift from the two-UDF batch path."""
    from kafka_topic_analyzer_spark.operators.pq import ivfpq_residual_index
    from kafka_topic_analyzer_spark.operators.similarity import ivf_assign_fixed

    res_cb = artifacts.load("pq_codebooks_res_v1")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = {
        r["vec_id"]: r["cell"]
        for r in ivfpq_residual_index(emb, CENTROIDS, res_cb).collect()
    }
    want = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign_fixed(emb, CENTROIDS, nprobe=1).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Codebook lifecycle (the PQ twin of tests/test_ivf_recut.py)
# ---------------------------------------------------------------------------


def _drifted(emb):
    from pyspark.sql import functions as F

    return emb.withColumn(
        "embedding",
        F.expr("transform(embedding, x -> CAST(0.6*x + 0.5 AS FLOAT))"),
    )


def test_undrifted_corpus_needs_no_codebook_recut(spark):
    from kafka_topic_analyzer_spark.operators.pq import maybe_recut_codebooks

    emb = load_table(spark, SF_SMOKE, "embeddings")
    new, before, after = maybe_recut_codebooks(emb, CODEBOOKS, dead_frac_bar=0.25)
    assert new is None and after is None
    assert before["dead_frac"] <= 0.25


def test_codebook_recut_restores_health_on_drifted_corpus(spark):
    from kafka_topic_analyzer_spark.operators.pq import maybe_recut_codebooks

    emb = _drifted(load_table(spark, SF_SMOKE, "embeddings"))
    new, before, after = maybe_recut_codebooks(emb, CODEBOOKS, dead_frac_bar=0.25)
    assert new is not None, f"drift must trip the bar: {before}"
    assert before["dead_frac"] > 0.5, before  # most capacity dead under v1
    assert after["n_dead_codes"] == 0, after
    assert after["mean_qerr"] < before["mean_qerr"] / 10, (before, after)


def test_committed_v2_codebooks_serve_drifted_corpus(spark):
    """The shipped artifact (cut on drifted sf0.01 by tools/recut.py pq)
    must stay healthy on the drifted smoke corpus too."""
    from kafka_topic_analyzer_spark.operators.pq import pq_codebook_health

    emb = _drifted(load_table(spark, SF_SMOKE, "embeddings"))
    v2 = artifacts.load("pq_codebooks_v2")
    h = pq_codebook_health(emb, v2)
    assert h["dead_frac"] < 0.25, h
    h1 = pq_codebook_health(emb, CODEBOOKS)
    assert h["mean_qerr"] < h1["mean_qerr"] / 5, (h, h1)


def test_v1_codebooks_unchanged_by_recut(spark):
    """Re-cutting must never mutate the serving artifact: v1's encoding
    of the clean corpus is byte-stable across a recut call."""
    from kafka_topic_analyzer_spark.operators.pq import maybe_recut_codebooks

    emb = load_table(spark, SF_SMOKE, "embeddings")
    before_codes = [
        tuple(r["codes"])
        for r in pq_encode_scored(emb, CODEBOOKS).orderBy("vec_id").collect()
    ]
    maybe_recut_codebooks(_drifted(emb), CODEBOOKS, dead_frac_bar=0.25)
    after_codes = [
        tuple(r["codes"])
        for r in pq_encode_scored(emb, CODEBOOKS).orderBy("vec_id").collect()
    ]
    assert before_codes == after_codes


def test_pq_train_mat_guards_small_samples():
    """Advisor r11: fewer sample rows than k must raise a CLEAR error
    (the sub[:k] seeding used to die with a shape-broadcast ValueError),
    and an empty sample must not crash on the shape unpack."""
    from kafka_topic_analyzer_spark.operators.pq import pq_train_mat

    with pytest.raises(ValueError, match="need >= k"):
        pq_train_mat(np.zeros((3, 64)), m=8, k=16)
    with pytest.raises(ValueError, match="need >= k"):
        pq_train_mat(np.array([]), m=8, k=16)
    # exactly k rows is the minimum viable sample
    out = pq_train_mat(np.arange(16 * 64, dtype=np.float64).reshape(16, 64),
                       m=8, k=16, iters=1)
    assert out.shape == (8, 16, 8)


def test_maybe_recut_skips_retrain_on_tiny_corpus(spark):
    """Advisor r11: an (almost) empty corpus reports dead_frac ~1.0 but
    cannot seed k centroids — the drift loop must decline the re-cut
    instead of crashing in the trainer."""
    from kafka_topic_analyzer_spark.operators.pq import maybe_recut_codebooks

    tiny = (
        load_table(spark, SF_SMOKE, "embeddings")
        .where(F.col("vec_id") < 3)
    )
    new, before, after = maybe_recut_codebooks(tiny, CODEBOOKS)
    assert new is None and after is None
    assert before["n_vecs"] == 3


def test_knn_ivfpq_adaptive_matches_full_probe_at_mass_1(spark):
    """target_mass=1.0 selects every non-empty-prefix cell, so the
    adaptive search must return exactly knn_ivfpq_adc at nprobe=nlist —
    the composition is the census rule AND NOTHING ELSE on top of the
    fixed-nprobe scorer."""
    from kafka_topic_analyzer_spark.operators.pq import (
        knn_ivfpq_adaptive,
        knn_ivfpq_adc,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    fixed = knn_ivfpq_adc(
        emb, queries, CENTROIDS, CODEBOOKS, k=5, nprobe=len(CENTROIDS)
    ).select("query_id", "rank", "neighbor_id", "adist")
    adaptive = knn_ivfpq_adaptive(
        emb, queries, CENTROIDS, CODEBOOKS, k=5, target_mass=1.0
    ).select("query_id", "rank", "neighbor_id", "adist")
    assert sorted(map(tuple, fixed.collect())) == sorted(
        map(tuple, adaptive.collect())
    )


def test_distributed_trainer_matches_sample(spark):
    """pq_train_distributed (full-corpus Lloyd, driver sees only
    m*k*dsub aggregate rows) must converge to the sample trainer's
    artifact on a corpus the sample fully covers — same seeds, same
    stable-argmin assignment, same empty-code policy; the only
    divergence allowed is float-sum order inside the means (last-ulp)."""
    import numpy as np

    from kafka_topic_analyzer_spark.operators.pq import (
        pq_train,
        pq_train_distributed,
    )
    from kafka_topic_analyzer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cb_sample = pq_train(emb, m=8, k=16, iters=3)
    cb_dist = pq_train_distributed(emb, m=8, k=16, iters=3)
    assert cb_dist.shape == cb_sample.shape == (8, 16, 8)
    assert np.allclose(cb_dist, cb_sample, rtol=1e-6, atol=1e-9)
    # and the artifacts encode identically (assignment-level equality)
    from kafka_topic_analyzer_spark.operators.pq import pq_encode_scored

    a = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode_scored(emb, tuple(map(tuple, (tuple(map(tuple, s)) for s in cb_sample)))).select("vec_id", "codes").collect()
    }
    b = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode_scored(emb, tuple(map(tuple, (tuple(map(tuple, s)) for s in cb_dist)))).select("vec_id", "codes").collect()
    }
    assert a == b
