"""Round-16 optimization pins.

connected_components' observe-based convergence (label-sum
monotonicity) on graphs that need MULTIPLE two-hop batches, and on the
empty graph — the two shapes where a broken convergence rule would
either under-iterate (wrong labels) or run into the hop cap.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from kafka_topic_analyzer_spark.functions.vectors import as_double
from kafka_topic_analyzer_spark.operators import artifacts
from kafka_topic_analyzer_spark.sources.tables import load_table

CENTROIDS = artifacts.load("ivf_centroids_v1")
CODEBOOKS = artifacts.load("pq_codebooks_v1")


def _chain_edges(spark):
    """A 10-vertex path 0-1-...-9 (diameter 9)."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )


def test_cc_long_chain_needs_multiple_batches(spark):
    """A 10-vertex path has diameter 9: the 2-hop batches must iterate
    several times before the label sum stops moving. Every vertex must
    end labeled 0 (the min id) — an early-stopping bug would leave
    higher labels in the tail of the chain."""
    from kafka_topic_analyzer_spark.operators.dedup import connected_components

    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components(_chain_edges(spark)).collect()
    }
    assert got == {(i, 0) for i in range(10)}


def test_cc_raises_when_hop_cap_is_hit(spark, monkeypatch):
    """A chain longer than the hop cap must fail loudly: with 2 hops the
    last batch still lowers the label sum, and returning those labels
    would leave the chain's tail in wrong clusters."""
    from kafka_topic_analyzer_spark.operators import dedup as D

    monkeypatch.setattr(D, "_CC_MAX_HOPS", 2)
    with pytest.raises(RuntimeError, match="did not converge within 2"):
        D.connected_components(_chain_edges(spark))


def test_cc_two_cliques_and_empty_graph(spark):
    from kafka_topic_analyzer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)], "src long, dst long"
    )
    got = {
        (r["doc_id"], r["cluster_id"]) for r in connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)}

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).collect() == []


def _emb_base(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb.select("vec_id", as_double(F.col("embedding")).alias("embedding"))


def test_adaptive_search_pins_corpus_pass_once(spark):
    """The adaptive IVF searches feed the corpus assignment/index into
    THREE consumers (census, total mass, candidate join); the assign and
    encode UDFs are asNondeterministic, so without the r16 pin each
    consumer plans its own full-corpus UDF pass. The pin must survive:
    the executed plan scans the pinned relation (ExistingRDD) and the
    only remaining Python evaluations are the tiny query-side ones — a
    regression to per-consumer corpus evaluation pushes the
    ArrowEvalPython census back up to >= 5."""
    from kafka_topic_analyzer_spark.operators.pq import knn_ivfpq_adaptive
    from kafka_topic_analyzer_spark.operators.similarity import knn_ivf_adaptive

    emb = _emb_base(spark)
    q = emb.where(F.col("vec_id") < 5)

    for df in (
        knn_ivf_adaptive(emb, q, CENTROIDS, k=3),
        knn_ivfpq_adaptive(emb, q, CENTROIDS, CODEBOOKS, k=3),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, "corpus assignment/index pin is gone"
        assert plan.count("ArrowEvalPython") <= 3, (
            "corpus-side UDF pass is being re-planned per consumer:\n" + plan
        )
        rows = df.collect()
        assert len(rows) == 15  # 5 queries x k=3
        assert all(r["nprobe_used"] >= 1 for r in rows)


def test_lsh_match_masks_reproduce_every_banding(spark):
    """The banding-sweep rewrite derives each banding's candidate set
    from the finest leg's permutation-match mask (nested aligned bands).
    Pin the equivalence: for every sweep banding, the mask-derived pair
    set must equal lsh_candidate_pairs' string-keyed self-join output —
    including a signature-less (NULL-sig) doc, which both paths must
    drop, and including docs agreeing on SOME but not all permutations
    of a band (partial agreement must NOT produce a coarse candidate)."""
    from kafka_topic_analyzer_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_mask_band_hit,
        lsh_permutation_match_masks,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup
            (3, "the quick brown fox jumps over the lazy cat tonight"),  # near dup
            (4, "completely unrelated text about spark shuffle internals"),
            (5, "ab"),  # < 3 tokens -> NULL signature, must vanish
            (6, "another unrelated document mentioning quick brown foxes"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, 3).localCheckpoint(eager=True)
    masks = lsh_permutation_match_masks(sigs).collect()
    for bands in (2, 4, 8, 16):
        want = {
            (r["doc_i"], r["doc_j"])
            for r in lsh_candidate_pairs(sigs, bands=bands).collect()
        }
        got = set()
        for r in masks:
            hit = any(
                (r["mask"] >> (j * (16 // bands))) & ((1 << (16 // bands)) - 1)
                == (1 << (16 // bands)) - 1
                for j in range(bands)
            )
            if hit:
                got.add((r["doc_i"], r["doc_j"]))
        assert got == want, f"bands={bands}: {got} != {want}"
    # the column expression agrees with the python reference above
    mdf = lsh_permutation_match_masks(sigs)
    for bands in (2, 4, 8, 16):
        via_col = {
            (r["doc_i"], r["doc_j"])
            for r in mdf.where(lsh_mask_band_hit(F.col("mask"), bands)).collect()
        }
        want = {
            (r["doc_i"], r["doc_j"])
            for r in lsh_candidate_pairs(sigs, bands=bands).collect()
        }
        assert via_col == want


def test_lsh_mask_limits_raise(spark):
    """The mask is one long: more than 64 permutations would wrap
    ``shiftleft(1L, p)`` silently, and a banding must split n_perm evenly."""
    from kafka_topic_analyzer_spark.operators.dedup import (
        lsh_mask_band_hit,
        lsh_permutation_match_masks,
    )

    sigs = spark.range(1).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="n_perm must be at most 64"):
        lsh_permutation_match_masks(sigs, n_perm=65)
    with pytest.raises(ValueError, match="n_perm must be at most 64"):
        lsh_mask_band_hit(F.col("mask"), bands=5, n_perm=65)
    with pytest.raises(ValueError, match="bands must divide evenly into n_perm"):
        lsh_mask_band_hit(F.col("mask"), bands=3)
