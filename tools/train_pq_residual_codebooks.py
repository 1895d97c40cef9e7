"""One-off generator for the checked-in RESIDUAL PQ codebook constants.

Residual IVF+PQ (what FAISS IndexIVFPQ encodes): the PQ codebooks are
trained on x - centroid[cell(x)] under the serving coarse quantizer
(the ``ivf_centroids_v1`` artifact), not on raw vectors — residuals
concentrate around 0, so the same codebook budget buys a tighter
quantization error. Same deterministic sample + per-subspace Lloyd as
tools/train_pq_codebooks.py; the cell assignment reuses the serving
path's exact fold math via ivf_assign_fixed so train-time residuals are
bit-identical to serve-time residuals.

Usage: python tools/train_pq_residual_codebooks.py [sf_dir] [name] [M] [K] [ITERS]
(r12: M/K/ITERS are CLI args so capacity rungs — the K=256 res_v3 cut —
reuse this one trainer.)
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAME = sys.argv[2] if len(sys.argv) > 2 else "pq_codebooks_res_v1"
M = int(sys.argv[3]) if len(sys.argv) > 3 else 8
K = int(sys.argv[4]) if len(sys.argv) > 4 else 16
ITERS = int(sys.argv[5]) if len(sys.argv) > 5 else 5
MAX_TRAIN = 16384


def main() -> None:
    import numpy as np

    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.pq import pq_train_mat
    from kafka_topic_analyzer_spark.operators.similarity import ivf_assign_fixed
    from kafka_topic_analyzer_spark.session import get_spark
    from kafka_topic_analyzer_spark.sources.tables import load_table

    centroids = artifacts.load("ivf_centroids_v1")
    spark = get_spark("train-pq-res")
    emb = load_table(spark, SF_DIR, "embeddings")
    sample = (
        ivf_assign_fixed(emb, centroids, nprobe=1)
        .orderBy("vec_id")
        .limit(MAX_TRAIN)
        .select("embedding", "cell")
        .collect()
    )
    c = np.array(centroids, dtype=np.float64)
    mat = np.array([r["embedding"] for r in sample], dtype=np.float64)
    cells = np.array([r["cell"] for r in sample], dtype=np.int64)
    res = mat - c[cells]
    cb = pq_train_mat(res, m=M, k=K, iters=ITERS)
    path = artifacts.save(
        NAME,
        cb,
        f"Trained by tools/train_pq_residual_codebooks.py on {SF_DIR} "
        "embeddings' coarse residuals under the serving v1 quantizer "
        f"(m={M} subspaces, k={K} codes, iters={ITERS}, deterministic "
        "seeds/ties).",
    )
    print(f"wrote {path}: {' x '.join(map(str, cb.shape))} residual codebooks")


if __name__ == "__main__":
    main()
