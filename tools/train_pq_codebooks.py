"""One-off generator for the checked-in PQ codebook constants.

Trains deterministic per-subspace k-means (operators/pq.pq_train) on the
sf0.01 embeddings and saves the codebooks as a versioned artifact
(operators/artifacts.py, bit-exact float64). Encoding + ADC search then
run against these FIXED codebooks (operators/pq.pq_encode_scored /
knn_pq_adc), which is what makes the PQ queries DuckDB-mirrorable: the
oracle reads the same values and reproduces every subspace distance
bit-for-bit.

Same lifecycle as the IVF quantizer (tools/train_ivf_centroids.py):
the codebook is a training ARTIFACT, versioned and shipped with the
index — re-run this tool to cut a new version when the corpus
distribution shifts.

Usage: python tools/train_pq_codebooks.py [sf_dir] [name] [M] [K] [ITERS]
(r12: M/K/ITERS are now CLI args so capacity rungs — e.g. the K=256
serving-grade v3 cut — reuse this one trainer.)

Pass --distributed (anywhere in argv) to train with the full-corpus
Lloyd (operators/pq.pq_train_distributed) instead of the bounded-sample
collect: every iteration assigns the whole corpus executor-side and the
driver sees only m*k*dsub aggregate rows. Same seeds/ties/empty-code
policy — on a corpus the sample covers the two trainers converge to the
same artifact (tests/test_pq.py pins it); use --distributed when the
corpus outgrows sample representativeness (SCALING.md "Quantizer
training at scale").
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

DISTRIBUTED = "--distributed" in sys.argv
sys.argv = [a for a in sys.argv if a != "--distributed"]

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAME = sys.argv[2] if len(sys.argv) > 2 else "pq_codebooks_v1"
M = int(sys.argv[3]) if len(sys.argv) > 3 else 8
K = int(sys.argv[4]) if len(sys.argv) > 4 else 16
ITERS = int(sys.argv[5]) if len(sys.argv) > 5 else 5


def main() -> None:
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.pq import (
        pq_train,
        pq_train_distributed,
    )
    from kafka_topic_analyzer_spark.session import get_spark
    from kafka_topic_analyzer_spark.sources.tables import load_table

    spark = get_spark("train-pq")
    emb = load_table(spark, SF_DIR, "embeddings")
    if DISTRIBUTED:
        cb = pq_train_distributed(emb, m=M, k=K, iters=ITERS)
    else:
        cb = pq_train(emb, m=M, k=K, iters=ITERS)
    path = artifacts.save(
        NAME,
        cb,
        f"Trained by tools/train_pq_codebooks.py on {SF_DIR} embeddings "
        f"(m={M} subspaces, k={K} codes, iters={ITERS}, deterministic "
        "seeds/ties — see operators/pq.pq_train).",
    )
    print(f"wrote {path}: {' x '.join(map(str, cb.shape))} codebooks")


if __name__ == "__main__":
    main()
