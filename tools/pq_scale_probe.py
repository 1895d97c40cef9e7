"""PQ scale ladder: exact vs ADC vs IVF+PQ vs refine at 8x/32x/128x vectors.

The BENCH pq_recall_ladder runs at sf0.1 (2k vectors) where fixed job
overhead hides the per-candidate economics; this probe turns CORPUS SIZE
— the axis a growing deployment moves on — and measures the structural
claims behind the compressed-domain design:

* exact scan cost grows with corpus x queries (every pair pays a 64-dim
  fold over raw floats);
* ADC full scan grows on the same axis but each candidate costs 8 table
  lookups over 8 ints (whole-stage codegen, no Python), so the per-pair
  gap should WIDEN with scale;
* IVF+PQ prunes the candidate set to ~nprobe/nlist of the corpus, so its
  cost grows on a smaller axis;
* refine adds a constant shortlist x queries exact pass on top of ADC.

Replication: base embeddings repeated with id shift, STORED to parquet
and re-read so every timed run scans files like a real deployment (the
tools/ivf_scale_probe.py discipline). Recall@10 is scored against the
exact-L2 truth of the same run (replicas are exact duplicates of their
base vector, so the truth set is duplicate-heavy — fine for comparing
paths against each other at a fixed rung).

Usage: python tools/pq_scale_probe.py [sf_dir] [scales-csv]
Emits one JSON line {"metric": "pq_scale_ladder", "rungs": [...]} —
paste into SCALING.md per round.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

K = 10
NPROBE = 4
SHORTLIST = 50
N_QUERIES = 100


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scales = (
        [int(x) for x in sys.argv[2].split(",")]
        if len(sys.argv) > 2
        else [8, 32, 128]
    )

    from pyspark.sql import Window as W, functions as F

    from kafka_topic_analyzer_spark.functions.vectors import dot, pair_dot_udf
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.binary import knn_binary_hamming
    from kafka_topic_analyzer_spark.operators.pq import (
        knn_ivfpq_adc,
        knn_pq_adc,
        knn_pq_refined,
    )
    from kafka_topic_analyzer_spark.operators.sq import knn_sq8
    from kafka_topic_analyzer_spark.session import get_spark
    from kafka_topic_analyzer_spark.sources.tables import load_table

    CENTROIDS = artifacts.load("ivf_centroids_v1")
    CODEBOOKS = artifacts.load("pq_codebooks_v1")
    SQ8_RANGES = artifacts.load("sq8_params_v1")

    spark = get_spark("pq-scale-probe")
    base = load_table(spark, sf_dir, "embeddings")
    n_base, max_id = base.agg(F.count(F.lit(1)), F.max("vec_id")).first()
    id_shift = (max_id or 0) + 1


    def exact_l2(corpus, queries):
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            dot(F.col("embedding"), F.col("embedding")).alias("qq"),
        )
        c = corpus.select(
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
        return (
            c.crossJoin(F.broadcast(q))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", l2.alias("d"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= K)
            .select("query_id", "neighbor_id")
        )

    # Discarded warmup pass (judge r11 item 6): the first rung otherwise
    # pays JVM/codegen/Arrow warmup — the r11 ladder recorded exact-scan
    # 5.57 s at 16k vs 3.49 s at 64k, a non-monotone artifact. One
    # untimed mini-run drives every timed code path (exact fold UDF, PQ
    # encode + ADC, IVF assign, refine) on the base table before any
    # clock starts.
    warm_q = base.where(F.col("vec_id") < 5).localCheckpoint(eager=True)
    exact_l2(base, warm_q).count()
    knn_pq_adc(base, warm_q, CODEBOOKS, k=K).count()
    knn_ivfpq_adc(base, warm_q, CENTROIDS, CODEBOOKS, k=K, nprobe=NPROBE).count()
    knn_pq_refined(base, warm_q, CODEBOOKS, k=K, shortlist=SHORTLIST).count()
    knn_sq8(base, warm_q, SQ8_RANGES, k=K).count()
    knn_binary_hamming(base, warm_q, SQ8_RANGES, k=K).count()
    print("# warmup pass done (untimed)", file=sys.stderr)

    out = []
    for scale in scales:
        big = (
            base.select(
                "*", F.explode(F.expr(f"sequence(0, {scale - 1})")).alias("rep")
            )
            .withColumn("vec_id", F.col("vec_id") + F.col("rep") * F.lit(id_shift))
            .drop("rep")
        )
        work = tempfile.mkdtemp(prefix="pq_probe_")
        try:
            path = os.path.join(work, "embeddings")
            big.repartition(
                spark.sparkContext.defaultParallelism
            ).write.mode("overwrite").parquet(path)
            corpus = spark.read.parquet(path)
            n_vec = corpus.count()
            queries = corpus.where(F.col("vec_id") < N_QUERIES).localCheckpoint(
                eager=True
            )

            t0 = time.perf_counter()
            truth = (
                exact_l2(corpus, queries)
                .localCheckpoint(eager=True)
            )
            n_truth = truth.count()
            exact_sec = time.perf_counter() - t0

            rung = {
                "scale": scale,
                "n_vectors": n_vec,
                "exact_l2_sec": round(exact_sec, 2),
            }
            paths = {
                "adc": lambda: knn_pq_adc(corpus, queries, CODEBOOKS, k=K),
                "ivfpq": lambda: knn_ivfpq_adc(
                    corpus, queries, CENTROIDS, CODEBOOKS, k=K, nprobe=NPROBE
                ),
                "refined": lambda: knn_pq_refined(
                    corpus, queries, CODEBOOKS, k=K, shortlist=SHORTLIST
                ),
                # r12 rungs: per-dim 8-bit scoring (near-exact) and the
                # 1-bit hamming scan (two integer ops per pair)
                "sq8": lambda: knn_sq8(corpus, queries, SQ8_RANGES, k=K),
                "binary": lambda: knn_binary_hamming(
                    corpus, queries, SQ8_RANGES, k=K
                ),
            }
            for name, build in paths.items():
                t0 = time.perf_counter()
                got = (
                    build()
                    .select("query_id", "neighbor_id")
                    .localCheckpoint(eager=True)
                )
                got.count()
                sec = time.perf_counter() - t0
                hits = truth.join(got, ["query_id", "neighbor_id"]).count()
                rung[f"{name}_sec"] = round(sec, 2)
                rung[f"{name}_recall"] = round(hits / max(n_truth, 1), 3)
            out.append(rung)
            print(f"# rung {scale}x done: {rung}", file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"metric": "pq_scale_ladder", "rungs": out}))


if __name__ == "__main__":
    main()
