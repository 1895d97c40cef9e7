"""Tombstone-aware IVF+PQ index upsert (judge r13 item 1).

The core contract: after any mixed insert/update/delete epoch sequence,
SEARCH over the upserted index equals SEARCH over a from-scratch rebuild
of the surviving corpus — the log-compaction semantic
(reference src/metric.rs:241-244: tombstone kills the key) extended to
the vector index. Plus the manifest-flip failure-injection suite
inherited from the bucketed MERGE (tests/test_sinks.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from kafka_topic_analyzer_spark.functions.vectors import as_double
from kafka_topic_analyzer_spark.operators import artifacts
from kafka_topic_analyzer_spark.sources.tables import load_table
from kafka_topic_analyzer_spark.streaming import index_upsert as IU
from kafka_topic_analyzer_spark.streaming import manifest as store

CENTROIDS = artifacts.load("ivf_centroids_v1")
CODEBOOKS = artifacts.load("pq_codebooks_v1")


def _base(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb.select("vec_id", as_double(F.col("embedding")).alias("embedding"))


def _mixed_epochs(spark):
    """insert-all, update vec_id%7==1 (scaled+shifted vectors — they may
    change IVF cell), delete vec_id%5==2."""
    base = _base(spark)
    e0 = base
    e1 = base.where(F.col("vec_id") % 7 == 1).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5) + F.lit(0.25)).alias(
            "embedding"
        ),
    )
    e2 = base.where(F.col("vec_id") % 5 == 2).select(
        "vec_id", F.lit(None).cast("array<double>").alias("embedding")
    )
    return base, [e0, e1, e2]


def _final_corpus(base):
    """The surviving corpus the epochs above converge to."""
    updated = F.when(
        F.col("vec_id") % 7 == 1,
        F.transform("embedding", lambda x: x * F.lit(0.5) + F.lit(0.25)),
    ).otherwise(F.col("embedding"))
    return base.where(F.col("vec_id") % 5 != 2).select(
        "vec_id", updated.alias("embedding")
    )


def _collect_search(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["adist"], 6))
        for r in df.collect()
    )


def test_upserted_index_search_equals_from_scratch_rebuild(spark, tmp_path):
    """THE contract: mixed insert/update/delete epochs, then search over
    the maintained index == search over an index rebuilt from the final
    corpus (same codes, same cells, same ranks)."""
    from kafka_topic_analyzer_spark.operators.pq import ivfpq_index, pack_codes

    base, epochs = _mixed_epochs(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    for i, b in enumerate(epochs):
        IU.merge_index_batch(b, index_dir, i, CENTROIDS, CODEBOOKS)

    final = _final_corpus(base)
    queries = final.where(F.col("vec_id") < 10)

    upserted = IU.read_postings(spark, index_dir)
    rebuilt = pack_codes(ivfpq_index(final, CENTROIDS, CODEBOOKS), len(CODEBOOKS))

    # index CONTENT equality first (stronger than search equality)
    up_rows = sorted(
        (r["vec_id"], r["cell"], r["codes_packed"]) for r in upserted.collect()
    )
    rb_rows = sorted(
        (r["vec_id"], r["cell"], r["codes_packed"]) for r in rebuilt.collect()
    )
    assert up_rows == rb_rows

    got = _collect_search(
        IU.knn_adc_packed_index(upserted, queries, CODEBOOKS, CENTROIDS, k=5, nprobe=4)
    )
    want = _collect_search(
        IU.knn_adc_packed_index(rebuilt, queries, CODEBOOKS, CENTROIDS, k=5, nprobe=4)
    )
    assert got == want and len(got) > 0
    # deleted keys serve nothing, as neighbor OR query
    assert all(n % 5 != 2 for (_q, _r, n, _d) in got)
    assert all(q % 5 != 2 for (q, _r, _n, _d) in got)


def test_delete_rewrites_only_victim_cells(spark, tmp_path):
    """A tombstone epoch must leave every untouched cell's manifest entry
    (its physical files) EXACTLY as it was — deletes drop codes from only
    the touched cells."""
    base, _ = _mixed_epochs(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    IU.merge_index_batch(base, index_dir, 0, CENTROIDS, CODEBOOKS)
    m0 = store.read(index_dir)["tables"]

    # tombstone ONE existing key; find its cell from the directory
    victim = 42
    vic_cell = (
        IU.read_directory(spark, index_dir)
        .where(F.col("vec_id") == victim)
        .collect()[0]["cell"]
    )
    tomb = spark.createDataFrame(
        [(victim, None)], "vec_id long, embedding array<double>"
    )
    IU.merge_index_batch(tomb, index_dir, 1, CENTROIDS, CODEBOOKS)
    p0 = m0["postings"]["buckets"]
    p1 = store.read(index_dir)["tables"]["postings"]["buckets"]

    assert p1[str(vic_cell)] != p0[str(vic_cell)]
    untouched = [c for c in p0 if c != str(vic_cell)]
    assert untouched
    for c in untouched:
        assert p1[c] == p0[c], f"cell {c} rewritten"
    # and the victim is gone from postings AND directory
    assert IU.read_postings(spark, index_dir).where(
        F.col("vec_id") == victim
    ).count() == 0
    assert IU.read_directory(spark, index_dir).where(
        F.col("vec_id") == victim
    ).count() == 0


def test_update_moves_vector_between_cells(spark, tmp_path):
    """An update whose new embedding lands in a different IVF cell must
    remove the old cell's row and add the new cell's row (both cells are
    'touched'), with the directory following."""
    base, _ = _mixed_epochs(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    IU.merge_index_batch(base, index_dir, 0, CENTROIDS, CODEBOOKS)
    d0 = {
        r["vec_id"]: r["cell"] for r in IU.read_directory(spark, index_dir).collect()
    }

    # replace key 7's embedding with key 11's values (different cell for
    # at least one such donor — search until cells differ)
    donor = next(v for v in sorted(d0) if d0[v] != d0[7] and v != 7)
    upd = base.where(F.col("vec_id") == donor).select(
        F.lit(7).cast("long").alias("vec_id"), "embedding"
    )
    IU.merge_index_batch(upd, index_dir, 1, CENTROIDS, CODEBOOKS)

    d1 = {
        r["vec_id"]: r["cell"] for r in IU.read_directory(spark, index_dir).collect()
    }
    assert d1[7] == d0[donor] != d0[7]
    post = IU.read_postings(spark, index_dir).where(F.col("vec_id") == 7).collect()
    assert len(post) == 1 and post[0]["cell"] == d0[donor]


def test_index_crash_between_write_and_flip_is_invisible(spark, tmp_path):
    """Failure injection (inherited from tests/test_sinks.py): epoch data
    on disk but manifest never flipped -> readers stay on the previous
    index; the torn dir is vacuumed by the next successful epoch."""
    base, _ = _mixed_epochs(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    IU.merge_index_batch(base, index_dir, 0, CENTROIDS, CODEBOOKS)
    before = sorted(
        (r["vec_id"], r["codes_packed"])
        for r in IU.read_postings(spark, index_dir).collect()
    )

    torn = os.path.join(index_dir, "epoch_v000001_deadbe")
    spark.createDataFrame(
        [(999_999, 3, 12345)], "vec_id long, cell int, codes_packed long"
    ).withColumn("_pcell", F.col("cell")).write.partitionBy("_pcell").parquet(
        os.path.join(torn, "postings")
    )

    after_crash = sorted(
        (r["vec_id"], r["codes_packed"])
        for r in IU.read_postings(spark, index_dir).collect()
    )
    assert after_crash == before
    assert 999_999 not in {v for v, _ in after_crash}

    nxt = spark.createDataFrame([(5, None)], "vec_id long, embedding array<double>")
    IU.merge_index_batch(nxt, index_dir, 1, CENTROIDS, CODEBOOKS)
    assert not os.path.exists(torn), "torn epoch dir must be vacuumed"
    assert IU.read_postings(spark, index_dir).where(
        F.col("vec_id") == 5
    ).count() == 0


def test_index_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replays an epoch after a crash: the replayed merge
    converges to identical index content (postings + directory)."""
    base, _ = _mixed_epochs(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    IU.merge_index_batch(base, index_dir, 0, CENTROIDS, CODEBOOKS)
    batch = spark.createDataFrame(
        [(3, None)], "vec_id long, embedding array<double>"
    ).unionByName(
        base.where(F.col("vec_id") == 8).select(
            "vec_id",
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
    )
    IU.merge_index_batch(batch, index_dir, 1, CENTROIDS, CODEBOOKS)
    snap = sorted(
        (r["vec_id"], r["cell"], r["codes_packed"])
        for r in IU.read_postings(spark, index_dir).collect()
    )
    dsnap = sorted(
        (r["vec_id"], r["cell"]) for r in IU.read_directory(spark, index_dir).collect()
    )
    IU.merge_index_batch(batch, index_dir, 1, CENTROIDS, CODEBOOKS)  # replay
    assert snap == sorted(
        (r["vec_id"], r["cell"], r["codes_packed"])
        for r in IU.read_postings(spark, index_dir).collect()
    )
    assert dsnap == sorted(
        (r["vec_id"], r["cell"]) for r in IU.read_directory(spark, index_dir).collect()
    )


def test_streaming_upsert_via_foreachbatch(spark, tmp_path):
    """The streamed form: a bounded micro-batched stream of upserts
    maintains the index through stream_upsert_ivfpq_index and converges
    to the batch build of the same corpus."""
    from kafka_topic_analyzer_spark.operators.pq import ivfpq_index, pack_codes
    from kafka_topic_analyzer_spark.streaming.ivf_stream import embeddings_stream

    index_dir = str(tmp_path / "idx")
    batches = embeddings_stream(spark, SF_SMOKE).select(
        "vec_id", as_double(F.col("embedding")).alias("embedding")
    )
    IU.stream_upsert_ivfpq_index(spark, batches, index_dir, CENTROIDS, CODEBOOKS)

    rebuilt = pack_codes(
        ivfpq_index(_base(spark), CENTROIDS, CODEBOOKS), len(CODEBOOKS)
    )
    up = sorted(
        (r["vec_id"], r["cell"], r["codes_packed"])
        for r in IU.read_postings(spark, index_dir).collect()
    )
    rb = sorted(
        (r["vec_id"], r["cell"], r["codes_packed"]) for r in rebuilt.collect()
    )
    assert up == rb


def test_empty_batch_is_a_noop(spark, tmp_path):
    """An empty epoch (all rows filtered upstream) must not flip the
    manifest or leave any epoch dir behind — the early return now sits
    after the concurrent census/encode jobs, so this path is exercised
    explicitly."""
    base, _ = _mixed_epochs(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    IU.merge_index_batch(base, index_dir, 0, CENTROIDS, CODEBOOKS)
    m0 = store.read(index_dir)
    dirs0 = sorted(os.listdir(index_dir))

    empty = base.where(F.lit(False))
    IU.merge_index_batch(empty, index_dir, 1, CENTROIDS, CODEBOOKS)
    assert store.read(index_dir) == m0
    assert sorted(os.listdir(index_dir)) == dirs0


def test_mismatched_bucket_count_is_refused(spark, tmp_path):
    base, _ = _mixed_epochs(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    IU.merge_index_batch(base, index_dir, 0, CENTROIDS, CODEBOOKS, n_dir_buckets=8)
    with pytest.raises(ValueError, match="n_dir_buckets"):
        IU.merge_index_batch(base, index_dir, 1, CENTROIDS, CODEBOOKS, n_dir_buckets=16)


def test_index_retention_grace_stale_reader(spark, tmp_path):
    """With retain_epochs=1 a reader holding a DataFrame resolved against
    the PREVIOUS manifest survives one more flip; a second flip retires
    the oldest epoch's dirs (disk stays bounded)."""
    base = _base(spark)
    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)
    IU.merge_index_batch(base, index_dir, 0, CENTROIDS, CODEBOOKS, retain_epochs=1)

    stale = IU.read_postings(spark, index_dir)  # resolved against manifest v0
    n0 = stale.count()

    # update EVERY key so each flip repoints every cell/bucket: epoch-0
    # dirs then survive only through the grace history, which is exactly
    # what the window assertions below need to observe
    upd = base.select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    IU.merge_index_batch(upd, index_dir, 1, CENTROIDS, CODEBOOKS, retain_epochs=1)
    # epoch-0 dirs are superseded but inside the grace window: the held
    # plan still scans and still sees the pre-flip content
    assert stale.count() == n0

    epochs = lambda: {  # noqa: E731
        e.split("_")[1] for e in os.listdir(index_dir) if e.startswith("epoch_v")
    }
    assert "v000000" in epochs()

    IU.merge_index_batch(upd, index_dir, 2, CENTROIDS, CODEBOOKS, retain_epochs=1)
    # window slid: epoch-0 dirs are gone, epoch-1's grace dirs remain
    assert "v000000" not in epochs()
    assert "v000001" in epochs()

    # the CURRENT index is unaffected by retention bookkeeping
    cur = IU.read_postings(spark, index_dir)
    assert cur.count() == n0
