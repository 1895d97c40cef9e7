"""Re-cut a trained quantizer when the corpus has drifted (closed loop).

The registered audits measure the re-cut SIGNAL under the serving
artifact: ``ivf_quantizer_drift_audit`` (IVF occupancy skew),
``pq_code_census`` and its streaming twin (dead PQ codes) and
``sq8_saturation_audit`` (clamped SQ8 codes). This tool takes the ACTION:
if the signal exceeds the bar it trains a fresh artifact on the current
corpus (operators/similarity.maybe_recut_quantizer,
operators/pq.maybe_recut_codebooks, operators/sq.maybe_recut_sq8) and
saves it as the NEXT version through operators/artifacts.save. v_n keeps
serving untouched — the FAISS-style train/serve split: searches against
the old version stay reproducible while the new one rolls out.

Usage:
    python tools/recut.py {ivf,pq,sq8} [sf_dir] [--version N] [--bar BAR] \
        [--drift "a,b"]

--bar defaults to 2.0 occupancy skew (ivf), 0.25 dead-code fraction (pq)
and 0.05 saturated fraction (sq8). --drift applies the scale probe's
canonical affine drift (v -> a*v + b) before measuring — the reproducible
way to cut the committed drifted-corpus exemplars (ivf_centroids_v2 and
pq_codebooks_v2 were produced with --drift 0.6,0.5 on sf0.01).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# kind -> (artifact stem, default bar, health keys; the first is the signal)
KINDS = {
    "ivf": ("ivf_centroids", 2.0, ("occupancy_skew", "n_empty_cells")),
    "pq": ("pq_codebooks", 0.25, ("dead_frac", "n_dead_codes", "mean_qerr")),
    "sq8": ("sq8_params", 0.05, ("sat_frac", "mean_recon_err")),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=sorted(KINDS))
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--version", type=int, default=1, help="serving version")
    ap.add_argument("--bar", type=float, default=None)
    ap.add_argument("--drift", default=None, help="a,b for v -> a*v + b")
    args = ap.parse_args()
    stem, default_bar, keys = KINDS[args.kind]
    bar = default_bar if args.bar is None else args.bar

    from pyspark.sql import functions as F

    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.pq import maybe_recut_codebooks
    from kafka_topic_analyzer_spark.operators.similarity import maybe_recut_quantizer
    from kafka_topic_analyzer_spark.operators.sq import maybe_recut_sq8
    from kafka_topic_analyzer_spark.session import get_spark
    from kafka_topic_analyzer_spark.sources.tables import load_table

    recut = {
        "ivf": maybe_recut_quantizer,
        "pq": maybe_recut_codebooks,
        "sq8": maybe_recut_sq8,
    }[args.kind]
    spark = get_spark(f"{args.kind}-recut")
    emb = load_table(spark, args.sf_dir, "embeddings")
    if args.drift:
        a, b = (float(x) for x in args.drift.split(","))
        emb = emb.withColumn(
            "embedding",
            F.expr(f"transform(embedding, x -> CAST({a}*x + {b} AS FLOAT))"),
        )

    serving = artifacts.load(f"{stem}_v{args.version}")
    new, before, after = recut(emb, serving, bar)
    print(f"serving v{args.version}: {before}")
    if new is None:
        print(f"{keys[0]} <= {bar}: no re-cut needed")
        return
    print(f"re-cut candidate: {after}")
    drift_note = (
        f"after the canonical affine drift v -> {args.drift.replace(',', '*v + ')}"
        if args.drift
        else "undrifted"
    )
    provenance = (
        f"Re-cut by tools/recut.py {args.kind} from v{args.version} on "
        f"{args.sf_dir} embeddings ({drift_note}), bar {bar}: "
        + ", ".join(f"{k} {before[k]} -> {after[k]}" for k in keys)
    )
    path = artifacts.save(f"{stem}_v{args.version + 1}", new, provenance)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
