"""One-off generator for the checked-in SQ8 range constants.

Derives per-dim [min, max] from a bounded deterministic sample
(operators/sq.sq8_train) and saves them as a versioned artifact
(operators/artifacts.py, bit-exact float64) — the whole training state of an 8-bit
scalar quantizer (FAISS IndexScalarQuantizer QT_8bit). Encoding and
search only ever see these FIXED ranges, which is what makes the SQ8
queries DuckDB-mirrorable. Same artifact lifecycle as the IVF/PQ
trainers: re-run to cut a new version when the saturation census says
the corpus has left the trained ranges.

Usage: python tools/train_sq8_params.py [sf_dir] [name]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAME = sys.argv[2] if len(sys.argv) > 2 else "sq8_params_v1"


def main() -> None:
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.sq import sq8_train
    from kafka_topic_analyzer_spark.session import get_spark
    from kafka_topic_analyzer_spark.sources.tables import load_table

    spark = get_spark("train-sq8")
    emb = load_table(spark, SF_DIR, "embeddings")
    lo, hi = sq8_train(emb)
    path = artifacts.save(
        NAME,
        (lo, hi),
        f"Derived by tools/train_sq8_params.py on {SF_DIR} embeddings "
        "(per-dim min/max over the bounded deterministic sample — see "
        "operators/sq.sq8_train).",
    )
    print(f"wrote {path}: dim {len(lo)}")


if __name__ == "__main__":
    main()
