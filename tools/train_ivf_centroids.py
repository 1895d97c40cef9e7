"""One-off generator for the checked-in IVF quantizer constants.

Trains the deterministic k-means (operators/similarity.ivf_centroids) on
the sf0.01 embeddings and saves the centroids as a versioned artifact
(operators/artifacts.py, bit-exact float64). The ASSIGNMENT + search path
then runs against these FIXED centroids
(operators/similarity.ivf_assign_fixed), which is what makes the IVF query
DuckDB-mirrorable: the oracle inlines the same values and reproduces
every similarity bit-for-bit.

This mirrors production IVF practice (FAISS): the quantizer is a training
ARTIFACT, versioned and shipped with the index — re-run this tool to cut
a new version when the corpus distribution shifts.

``--distributed`` trains on the FULL corpus with the distributed Lloyd
(operators/similarity.ivf_centroids_distributed — full-corpus
Arrow-batched assignment per iteration, map-side-combinable centroid
update, driver sees nlist*dim mean rows). Same seeds/tie policies as
the sample trainer, so on a corpus the sample covers the artifacts pin
(near-)identical (tests/test_distributed_training.py); use it when the
bounded sample stops being representative.

Usage: python tools/train_ivf_centroids.py [sf_dir] [name] [--distributed]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
DISTRIBUTED = "--distributed" in sys.argv[1:]
SF_DIR = ARGS[0] if len(ARGS) > 0 else "/root/testdata/sf0.01"
NAME = ARGS[1] if len(ARGS) > 1 else "ivf_centroids_v1"
NLIST, ITERS = 16, 3


def main() -> None:
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.similarity import (
        ivf_centroids,
        ivf_centroids_distributed,
    )
    from kafka_topic_analyzer_spark.session import get_spark
    from kafka_topic_analyzer_spark.sources.tables import load_table

    spark = get_spark("train-ivf")
    emb = load_table(spark, SF_DIR, "embeddings")
    if DISTRIBUTED:
        cents = ivf_centroids_distributed(emb, nlist=NLIST, iters=ITERS)
    else:
        cents = ivf_centroids(emb, nlist=NLIST, iters=ITERS)
    path = artifacts.save(
        NAME,
        cents,
        f"Trained by tools/train_ivf_centroids.py on {SF_DIR} embeddings "
        f"(nlist={NLIST}, iters={ITERS}, deterministic seeds/ties — see "
        "operators/similarity.ivf_centroids).",
    )
    print(f"wrote {path}: {cents.shape[0]} x {cents.shape[1]} centroids")


if __name__ == "__main__":
    main()
