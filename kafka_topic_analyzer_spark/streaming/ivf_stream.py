"""Streaming IVF index ingest — the ANN serve path's missing half.

A deployed IVF index is a FIXED versioned quantizer (the
``ivf_centroids_v1`` artifact, operators/artifacts.py) plus per-cell
postings that GROW as new embeddings arrive. Batch queries prove
train/serve/search and the drift re-cut loop (tools/recut.py ivf); this
module proves ingest: an unbounded embedding stream is assigned to the
serving quantizer's cells micro-batch by micro-batch (the assignment UDF
is a stateless Arrow-batched projection, so it runs unchanged on a
streaming frame) and the per-cell postings census is a streaming
aggregation whose state is nlist-sized — 16 rows regardless of corpus
size, the cheapest stateful operator there is.

Bounded (AvailableNow) runs are byte-comparable to the batch assignment,
which is what the registered oracle checks: count AND sum(vec_id) per
cell, so the hash proves cell MEMBERSHIP, not just occupancy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from kafka_topic_analyzer_spark.session import prepare_session
from kafka_topic_analyzer_spark.streaming.runner import (
    run_available_now,
    run_bounded_memory_stream,
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file-source stream over embeddings.parquet."""
    prepare_session(spark)
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .option("maxFilesPerTrigger", "1")
        .load(sf_dir)
    )


def streaming_ivf_cell_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell postings census of the streamed corpus under the serving
    (v1) quantizer: (cell, n_vectors, sum_vec_id), complete-mode
    streaming aggregation over the fold-deterministic fixed assignment.

    State is exactly nlist rows; on a real topic the same plan runs
    unbounded and the memory sink becomes the postings metadata table the
    search path consults for cell sizes (the nprobe cost model).
    """
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.similarity import ivf_assign_fixed

    prepare_session(spark)
    assigned = ivf_assign_fixed(
        embeddings_stream(spark, sf_dir),
        artifacts.load("ivf_centroids_v1"),
        nprobe=1,
    )
    counts = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("vec_id").cast("long").alias("sum_vec_id"),
    )
    name = run_bounded_memory_stream(counts, spark, "complete", "ckpt_ivf_")
    return spark.table(name).select("cell", "n_vectors", "sum_vec_id").orderBy(
        "cell"
    )


def streaming_pq_code_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of pq_code_census: new embeddings are PQ-encoded
    micro-batch by micro-batch under the serving codebooks (the
    ``pq_codebooks_v1`` artifact — the encode UDF is a stateless
    Arrow-batched projection, so it runs unchanged on a streaming frame)
    and the per-(subspace, code) assignment census is a complete-mode
    streaming aggregation whose state is M*K rows — 128, constant in
    corpus size.

    On a real deployment this census is the codebook-health metadata the
    re-cut trigger (tools/train_pq_codebooks.py) watches online, exactly
    as the IVF postings census feeds the adaptive-nprobe cost model.
    Count AND sum(vec_id) per code, so the hash proves code MEMBERSHIP.
    """
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.pq import pq_encode_scored

    prepare_session(spark)
    enc = pq_encode_scored(
        embeddings_stream(spark, sf_dir), artifacts.load("pq_codebooks_v1")
    )
    pairs = enc.select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    ).select(F.col("m").cast("int"), F.col("code").cast("int"), "vec_id")
    counts = pairs.groupBy("m", "code").agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.sum("vec_id").cast("long").alias("sum_vec_id"),
    )
    name = run_bounded_memory_stream(counts, spark, "complete", "ckpt_pq_")
    return (
        spark.table(name)
        .select("m", "code", "n_assigned", "sum_vec_id")
        .orderBy("m", "code")
    )


def streaming_sq8_saturation_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of sq8_saturation_audit: new embeddings are
    SQ8-encoded micro-batch by micro-batch under the serving ranges
    (the ``sq8_params_v1`` artifact — encode is a stateless JVM transform
    projection, so it runs unchanged on a streaming frame) and the
    per-dim saturation/reconstruction census is a complete-mode streaming
    aggregation whose state is DIM rows — 64, constant in corpus size.
    On a deployment this is the range-health metadata the re-cut trigger
    (tools/recut.py sq8) watches online, exactly as the PQ code census
    feeds tools/recut.py pq. Sums stay integer micro-units, so the hash
    is rounding-free."""
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.sq import sq8_encode_expr, sq8_terms_expr

    prepare_session(spark)
    ranges = artifacts.load("sq8_params_v1")
    enc = (
        embeddings_stream(spark, sf_dir)
        .withColumn("codes", F.expr(sq8_encode_expr(ranges)))
        .withColumn("terms", F.expr(sq8_terms_expr(ranges, "codes", "embedding")))
    )
    pairs = enc.select(
        F.posexplode(F.arrays_zip("codes", "terms")).alias("dim", "z")
    ).select(
        F.col("dim").cast("int").alias("dim"),
        F.col("z.codes").alias("code"),
        F.col("z.terms").alias("err_u"),
    )
    census = pairs.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.when(F.col("code") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_lo_sat"),
        F.sum(F.when(F.col("code") == 255, 1).otherwise(0))
        .cast("long")
        .alias("n_hi_sat"),
        F.sum("err_u").cast("long").alias("sum_err_micro"),
    )
    name = run_bounded_memory_stream(census, spark, "complete", "ckpt_sq8_")
    return (
        spark.table(name)
        .select("dim", "n_vecs", "n_lo_sat", "n_hi_sat", "sum_err_micro")
        .orderBy("dim")
    )


def streaming_ivfpq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF+PQ index BUILD — the 100 TB ingestion path: new
    vectors are encoded on arrival (coarse cell + PQ codes packed into
    ONE BIGINT, the serving storage form) and APPENDED per micro-batch to
    a cell-partitioned parquet index via ``foreachBatch``; the serving
    index is thereby MAINTAINED by the stream, never rebuilt. Encoding is
    the same stateless UDF/expressions as the batch ``ivfpq_index`` +
    ``pack_codes``, so the streamed index equals the batch index
    row-for-row — which the shared oracle hash proves. Returns the final
    index read back (vec_id, cell, codes_packed)."""
    import tempfile
    import uuid

    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.pq import ivfpq_index, pack_codes

    prepare_session(spark)
    centroids = artifacts.load("ivf_centroids_v1")
    codebooks = artifacts.load("pq_codebooks_v1")
    out_dir = tempfile.mkdtemp(prefix="ivfpq_index_stream_")

    def _append(batch_df: DataFrame, epoch_id: int) -> None:
        pack_codes(
            ivfpq_index(batch_df, centroids, codebooks), len(codebooks)
        ).write.mode("append").partitionBy("cell").parquet(out_dir)

    run_available_now(
        embeddings_stream(spark, sf_dir)
        .writeStream.foreachBatch(_append)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_ivfpq_idx_")
        )
        .queryName(f"ivfpq_idx_{uuid.uuid4().hex[:12]}")
    )
    import shutil

    try:
        # materialize before deleting the files the plan reads — the
        # mkdtemp otherwise leaked one streamed index per invocation
        # (same advisor-r15 hygiene as the ivfpq_index_upsert query)
        return (
            spark.read.parquet(out_dir)
            .select(
                "vec_id", F.col("cell").cast("int").alias("cell"), "codes_packed"
            )
            .orderBy("vec_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
