"""Dedup queries over ``documents`` (LLM-pipeline operators, SURVEY.md §7 M5).

Every query here is oracle-matched — including the banded/bucketed LSH
scale paths, whose candidate generation is deterministic (fixed linear
permutations / fixed hyperplanes) and therefore SQL-reproducible; recall
against the exact pairs remains a separate unit-tested property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kafka_topic_analyzer_spark.operators import dedup as D
from kafka_topic_analyzer_spark.registry import register
from kafka_topic_analyzer_spark.sources.tables import load_table

# DuckDB mirrors of functions/text.py shingling (k=3, lowercase, \s+ tokens)
_TOKS = r"""CASE WHEN length(trim(lower(text))) = 0 THEN []
            ELSE string_split_regex(trim(lower(text)), '\s+') END"""
# shingle_i = concat_ws(' ', toks[i+1 .. i+3]) for i in 0..n-3 (1-based slices)
_SHINGLES = f"""CASE WHEN len({_TOKS}) < 3 THEN []
    ELSE [array_to_string(({_TOKS})[i + 1 : i + 3], ' ')
          FOR i IN range(0, len({_TOKS}) - 2)] END"""

_ROLL = f"""list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))),
    (acc, c) -> (acc * 31 + c) % {D.MINHASH_P})"""


def _exact_dup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-dedup stats (clusters listed separately in tests)."""
    d = load_table(spark, sf_dir, "documents")
    from kafka_topic_analyzer_spark.functions.text import md5_fingerprint

    fp = d.select(md5_fingerprint(F.col("text")).alias("fp"))
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_redundant"),
    )


register(
    "exact_dup_summary",
    _exact_dup_summary,
    r"""
WITH fp AS (
  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_redundant
FROM fp
""",
)


def _near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.near_dup_pairs_jaccard(
        load_table(spark, sf_dir, "documents"), k=3, threshold=0.7, max_df=50
    )


_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM documents
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_i, doc_j,
       round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_i
JOIN sizes sb ON sb.doc_id = doc_j
WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7
"""

register("near_dup_pairs_jaccard", _near_dup_pairs, _JACCARD_SQL)


NEAR_DUP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration: how many near-dup pairs and how many
    involved documents each Jaccard threshold would act on — the number
    a pipeline owner looks at before picking theta (too low deletes
    paraphrases, too high keeps templates). The quality-gate counterpart
    is quality_threshold_sweep; this is its dedup sibling.

    ONE candidate scan: the full capped-index pair set (threshold 0)
    computes once and is MATERIALIZED (``localCheckpoint``) before its
    two aggregate consumers — without that, the scan-once property would
    hinge on Spark's ReusedExchange deduping the subtree rather than on
    the plan itself (advisor r8); per-threshold pair counts are
    conditional aggregates over the candidate-sized pair frame,
    per-threshold doc counts come from each doc's MAX pair similarity
    (explode + groupBy, then the same conditional aggregate) — never a
    rescan per threshold. Both engines compare the ROUNDED jaccard
    against the same double literals, so boundary ties agree."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs_jaccard(
        docs, k=3, threshold=0.0, max_df=50
    ).localCheckpoint(eager=True)
    pair_aggs = pairs.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("jaccard") >= t, 1)), F.lit(0)
            ).cast("long").alias(f"_p{int(t * 10)}")
            for t in NEAR_DUP_THRESHOLDS
        ]
    )
    docmax = (
        pairs.select(
            F.explode(F.array("doc_i", "doc_j")).alias("doc_id"), "jaccard"
        )
        .groupBy("doc_id")
        .agg(F.max("jaccard").alias("mj"))
    )
    doc_aggs = docmax.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("mj") >= t, 1)), F.lit(0))
            .cast("long")
            .alias(f"_d{int(t * 10)}")
            for t in NEAR_DUP_THRESHOLDS
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"_p{int(t * 10)}").alias("n_pairs"),
                F.col(f"_d{int(t * 10)}").alias("n_docs"),
            )
            for t in NEAR_DUP_THRESHOLDS
        ]
    )
    return (
        pair_aggs.crossJoin(F.broadcast(doc_aggs))
        .select(F.explode(rows).alias("b"))
        .select("b.threshold", "b.n_pairs", "b.n_docs")
        .orderBy("threshold")
    )


_THRESHOLD_SWEEP_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM documents
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pj AS (
  SELECT doc_i, doc_j,
         round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
),
dm AS (
  SELECT doc_id, max(jaccard) AS mj FROM (
    SELECT doc_i AS doc_id, jaccard FROM pj
    UNION ALL
    SELECT doc_j AS doc_id, jaccard FROM pj
  ) GROUP BY doc_id
),
g AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
SELECT threshold,
       CAST(COALESCE((SELECT count(*) FROM pj WHERE jaccard >= threshold), 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE((SELECT count(*) FROM dm WHERE mj >= threshold), 0) AS BIGINT) AS n_docs
FROM g
ORDER BY threshold
"""

register(
    "near_dup_threshold_sweep", _near_dup_threshold_sweep, _THRESHOLD_SWEEP_SQL
)


EMB_SWEEP_THRESHOLDS = (0.1, 0.2, 0.3, 0.4, 0.5)


def _embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup-threshold calibration: how many vector pairs and
    how many involved vectors each cosine threshold would act on — the
    embedding-space sibling of ``near_dup_threshold_sweep`` (r8), giving
    the curve an owner reads before cutting a cosine theta for semantic
    dedup (too low merges topical neighbors, too high keeps paraphrase
    embeddings).

    ONE candidate scan: the gated pair operator
    (operators/dedup.py:embedding_near_dup_pairs — broadcast up to 250k
    rows, blocked block-nested-loop above) runs once at the sweep's
    LOWEST theta and is materialized (``localCheckpoint``) before its
    two aggregate consumers; per-theta pair counts are conditional
    aggregates over that candidate frame, per-theta vector counts come
    from each vector's MAX pair cosine — never a rescan per theta. Both
    engines compare the ROUNDED cosine against the same double
    literals, so boundary ties agree."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.embedding_near_dup_pairs(
        emb, threshold=EMB_SWEEP_THRESHOLDS[0]
    ).localCheckpoint(eager=True)
    pair_aggs = pairs.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("cosine") >= t, 1)), F.lit(0))
            .cast("long")
            .alias(f"_p{int(t * 10)}")
            for t in EMB_SWEEP_THRESHOLDS
        ]
    )
    vecmax = (
        pairs.select(
            F.explode(F.array("vec_i", "vec_j")).alias("vec_id"), "cosine"
        )
        .groupBy("vec_id")
        .agg(F.max("cosine").alias("mc"))
    )
    vec_aggs = vecmax.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("mc") >= t, 1)), F.lit(0))
            .cast("long")
            .alias(f"_d{int(t * 10)}")
            for t in EMB_SWEEP_THRESHOLDS
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"_p{int(t * 10)}").alias("n_pairs"),
                F.col(f"_d{int(t * 10)}").alias("n_vecs"),
            )
            for t in EMB_SWEEP_THRESHOLDS
        ]
    )
    return (
        pair_aggs.crossJoin(F.broadcast(vec_aggs))
        .select(F.explode(rows).alias("b"))
        .select("b.threshold", "b.n_pairs", "b.n_vecs")
        .orderBy("threshold")
    )


def _emb_threshold_sweep_sql() -> str:
    from kafka_topic_analyzer_spark.queries.similarity import _dot_sql

    lo = EMB_SWEEP_THRESHOLDS[0]
    thetas = ", ".join(str(t) for t in EMB_SWEEP_THRESHOLDS)
    # pj/dm are referenced once per theta subquery — MATERIALIZED stops
    # DuckDB inlining the all-pairs scoring into every subquery
    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         sqrt({_dot_sql("embedding", "embedding")}) AS nrm
  FROM embeddings
),
scored AS MATERIALIZED (
  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
         round(CASE WHEN a.nrm > 0 AND b.nrm > 0
                    THEN {_dot_sql("a.e", "b.e")} / (a.nrm * b.nrm) END, 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
),
pj AS MATERIALIZED (SELECT vec_i, vec_j, cosine FROM scored WHERE cosine >= {lo}),
dm AS MATERIALIZED (
  SELECT vec_id, max(cosine) AS mc FROM (
    SELECT vec_i AS vec_id, cosine FROM pj
    UNION ALL
    SELECT vec_j AS vec_id, cosine FROM pj
  ) GROUP BY vec_id
),
g AS (SELECT unnest([{thetas}]) AS threshold)
SELECT threshold,
       CAST(COALESCE((SELECT count(*) FROM pj WHERE cosine >= threshold), 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE((SELECT count(*) FROM dm WHERE mc >= threshold), 0) AS BIGINT) AS n_vecs
FROM g
ORDER BY threshold
"""


register(
    "embedding_threshold_sweep",
    _embedding_threshold_sweep,
    _emb_threshold_sweep_sql(),
)


def _dup_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup clusters via connected components: every
    clustered doc labeled with the min reachable doc_id + its cluster
    size (the "keep canonical, drop the rest" input). Iterative
    min-label propagation on Spark; the oracle states the same fixpoint
    as a DuckDB recursive CTE.

    cluster_size comes from a groupBy + shuffle join, not a
    count-over-partition window: a window would give one task per
    cluster, and a degenerate corpus (billions of copies of one text)
    makes one cluster corpus-sized (r8 window audit, SCALING.md)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs_jaccard(docs, k=3, threshold=0.7, max_df=50)
    edges = pairs.select(F.col("doc_i").alias("src"), F.col("doc_j").alias("dst"))
    labels = D.connected_components(edges)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


register(
    "dup_cluster_assignment",
    _dup_cluster_assignment,
    f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM documents
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
nd AS MATERIALIZED (
  SELECT doc_i, doc_j FROM p
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7
),
edges AS (
  SELECT doc_i AS src, doc_j AS dst FROM nd
  UNION SELECT doc_j, doc_i FROM nd
),
reach AS (
  SELECT src AS doc_id, src AS r FROM edges
  UNION
  SELECT e.src AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
),
labels AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
FROM labels
ORDER BY doc_id
""",
)


def _dedup_survivorship_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE dedup survivorship: how many of each source's documents
    survive the near-dup keep policy (cluster by connected components at
    the registered 0.7 threshold, keep the min-doc_id representative) —
    the "who contributes unique content" provenance rollup a curation
    owner reads next to near_dup_source_matrix: a source whose drop_ratio is
    high mostly re-serves content some earlier source already
    contributed. Every distinct source gets a row (all-keys convention —
    zero-drop sources report 0.0).

    Scale shape: the same capped-index candidates + O(log n) CC as
    dup_cluster_assignment; the drop set is a projection of the labels
    (cluster_id IS the kept min doc_id, so dropped = doc_id <>
    cluster_id — no extra keep join); the rollup is one keyed left join
    + a source-sized aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs_jaccard(docs, k=3, threshold=0.7, max_df=50)
    edges = pairs.select(F.col("doc_i").alias("src"), F.col("doc_j").alias("dst"))
    labels = D.connected_components(edges)
    drops = (
        labels.where(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
        .withColumn("_d", F.lit(1))
    )
    n_dropped = F.sum(F.coalesce(F.col("_d"), F.lit(0))).cast("long")
    return (
        docs.select("doc_id", "source")
        .join(drops, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            n_dropped.alias("n_dropped"),
            (F.count(F.lit(1)) - n_dropped).cast("long").alias("n_kept"),
            (
                F.floor(
                    (n_dropped.cast("double") / F.count(F.lit(1))) * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("drop_ratio"),
        )
        .orderBy(F.asc_nulls_last("source"))
    )


register(
    "dedup_survivorship_by_source",
    _dedup_survivorship_by_source,
    f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM documents
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
nd AS MATERIALIZED (
  SELECT doc_i, doc_j FROM p
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7
),
edges AS (
  SELECT doc_i AS src, doc_j AS dst FROM nd
  UNION SELECT doc_j, doc_i FROM nd
),
reach AS (
  SELECT src AS doc_id, src AS r FROM edges
  UNION
  SELECT e.src AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
),
labels AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
drops AS (SELECT doc_id, 1 AS _d FROM labels WHERE doc_id <> cluster_id)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(COALESCE(_d, 0)) AS BIGINT) AS n_dropped,
       CAST(count(*) - sum(COALESCE(_d, 0)) AS BIGINT) AS n_kept,
       floor((CAST(sum(COALESCE(_d, 0)) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6 AS drop_ratio
FROM documents d LEFT JOIN drops USING (doc_id)
GROUP BY d.source
ORDER BY d.source NULLS LAST
""",
)


def _dedup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision table a dedup pass actually executes: for every
    clustered doc, WHICH copy survives. Clusters come from connected
    components over the near-dup pairs (same fixpoint as
    dup_cluster_assignment); the kept representative is the member with
    the highest quality score (functions/text.quality_score — the same
    signal the quality gates use), ties broken toward the lowest doc_id.
    Emits doc_id, cluster_id, quality_score, kept_doc_id, keep — the
    ``keep=false`` rows are the drop list.

    Scale shape: representative selection is ``max_by(struct(q,
    -doc_id))`` in a groupBy — an aggregation with map-side partial
    combine, NOT a rank window, so a degenerate corpus whose one
    cluster is corpus-sized still balances (the r8 window audit rule).
    NULL quality orders below every real score via coalesce(-1.0) in
    BOTH engines (engines disagree on NULL sort order)."""
    from kafka_topic_analyzer_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs_jaccard(docs, k=3, threshold=0.7, max_df=50)
    edges = pairs.select(F.col("doc_i").alias("src"), F.col("doc_j").alias("dst"))
    labels = D.connected_components(edges)
    scored = labels.join(
        docs.select("doc_id", quality_score(F.col("text")).alias("quality_score")),
        "doc_id",
    )
    reps = scored.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id",
            F.struct(
                F.coalesce(F.col("quality_score"), F.lit(-1.0)).alias("_q"),
                (-F.col("doc_id")).alias("_nid"),
            ),
        ).alias("kept_doc_id")
    )
    return (
        scored.join(reps, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "quality_score",
            "kept_doc_id",
            (F.col("doc_id") == F.col("kept_doc_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _dedup_keep_policy_sql() -> str:
    from kafka_topic_analyzer_spark.queries.curation import _QSCORE

    return f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM documents
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
nd AS MATERIALIZED (
  SELECT doc_i, doc_j FROM p
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7
),
edges AS (
  SELECT doc_i AS src, doc_j AS dst FROM nd
  UNION SELECT doc_j, doc_i FROM nd
),
reach AS (
  SELECT src AS doc_id, src AS r FROM edges
  UNION
  SELECT e.src AS doc_id, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
),
labels AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
sq AS MATERIALIZED (
  SELECT l.doc_id, l.cluster_id, {_QSCORE} AS quality_score
  FROM labels l JOIN documents USING (doc_id)
),
reps AS (
  SELECT cluster_id, doc_id AS kept_doc_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                ORDER BY COALESCE(quality_score, -1.0) DESC, doc_id ASC) AS rn
    FROM sq
  ) WHERE rn = 1
)
SELECT sq.doc_id, sq.cluster_id, sq.quality_score, reps.kept_doc_id,
       sq.doc_id = reps.kept_doc_id AS keep
FROM sq JOIN reps USING (cluster_id)
ORDER BY sq.doc_id
"""


register("dedup_keep_policy", _dedup_keep_policy, _dedup_keep_policy_sql())


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(load_table(spark, sf_dir, "documents"))


def _minhash_sig_sql() -> str:
    cols = []
    for i in range(D.N_PERMUTATIONS):
        a, b = D.minhash_coeffs(i + 1)
        cols.append(
            f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {D.MINHASH_P})) AS sig_{i}"
        )
    sig_list = ",\n  ".join(cols)
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM documents
),
hashed AS (
  SELECT doc_id,
         list_transform(shingles, s -> {_ROLL}) AS hs
  FROM sh
)
SELECT doc_id,
  {sig_list}
FROM hashed
"""


register("minhash_signatures", _minhash_signatures, _minhash_sig_sql())


def _minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale path: LSH banding prunes candidates, exact jaccard verifies.
    return D.minhash_near_dups(load_table(spark, sf_dir, "documents"), k=3, threshold=0.7)


def _minhash_nd_ctes() -> str:
    """CTE chain ending in ``mnd(doc_i, doc_j, jaccard)`` — the banded
    MinHash near-dup relation. The banding is DETERMINISTIC given the
    signatures (fixed linear permutations), so the candidate set — and
    therefore the verified output — is SQL-reproducible, not just
    recall-testable. Bands mirror operators/dedup.py lsh_candidate_pairs.
    Shared by the minhash_near_dups and incremental_dedup_status oracles."""
    rows = D.N_PERMUTATIONS // D.LSH_BANDS
    sig_cols = []
    for i in range(D.N_PERMUTATIONS):
        a, b = D.minhash_coeffs(i + 1)
        sig_cols.append(
            f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {D.MINHASH_P})) AS sig_{i}"
        )
    bands = " UNION ALL ".join(
        f"""SELECT doc_id, {bi} AS band_idx,
            concat_ws(':', {", ".join(f"sig_{bi * rows + r}" for r in range(rows))}) AS band_key
            FROM sig WHERE sig_0 IS NOT NULL"""
        for bi in range(D.LSH_BANDS)
    )
    return f"""sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM documents
),
hashed AS (
  SELECT doc_id, list_transform(shingles, s -> {_ROLL}) AS hs FROM sh
),
sig AS (SELECT doc_id, {", ".join(sig_cols)} FROM hashed),
banded AS ({bands}),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
kept AS (SELECT doc_id, unnest(s) AS shingle FROM dsh),
sizes AS (SELECT doc_id, len(s) AS n FROM dsh),
shared AS (
  SELECT c.doc_i, c.doc_j, count(*) AS shared
  FROM cands c
  JOIN kept a ON a.doc_id = c.doc_i
  JOIN kept b ON b.doc_id = c.doc_j AND b.shingle = a.shingle
  GROUP BY c.doc_i, c.doc_j
),
mnd AS (
  SELECT doc_i, doc_j,
         round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) AS jaccard
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.7
)"""


register(
    "minhash_near_dups",
    _minhash_near_dups,
    f"WITH {_minhash_nd_ctes()}\nSELECT doc_i, doc_j, jaccard FROM mnd",
)


LSH_SWEEP_BANDINGS = (2, 4, 8, 16)  # r = 8, 4, 2, 1 of the 16 permutations


def _lsh_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve calibration: candidate volume, verified-true pairs and
    precision for every (bands, rows) split of the 16-permutation MinHash
    signature — the number an owner reads before fixing the banding
    (more bands = smaller rows-per-band = higher recall at steeper
    candidate cost; the collision probability is 1-(1-j^r)^b).

    Cost shape (r16, guide §2.4): signatures compute ONCE and
    materialize (``localCheckpoint``); ONE (permutation, value) self-join
    + per-pair aggregate yields each surfaced pair's 16-bit
    agreeing-permutation mask (``lsh_permutation_match_masks``), and
    every banding's candidacy is a pure bit test on that mask — aligned
    bandings are NESTED, so the four former per-leg self-joins +
    distincts (shuffling 2+4+8+16 band rows/doc) collapse into the one
    finest-grain join (16 rows/doc) whose pair set is exactly the union
    the verification pass needs (already distinct, no extra exchange).
    Exact-Jaccard verification runs over that pair set only — a pair
    surfaced by three bandings verifies once. Final counts are
    per-banding conditional aggregates over the flagged mask frame.

    Reading the output: the FINEST banding's ``n_true_pairs`` is the
    effective truth-set size (a jaccard ≥ 0.7 pair escapes all 16
    single-permutation bands with probability (1-0.7)^16 ≈ 4e-9), so
    per-banding recall is ``n_true_pairs / n_true_pairs[finest]`` —
    at sf0.1: 242/256 at (2,8), 255/256 at (4,4), 256/256 at (8,2)
    for 4.4x the candidates, and (16,1) pays 157k candidates at 0.16%
    precision for the same recall. That knee is the banding answer."""
    from kafka_topic_analyzer_spark.functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs).localCheckpoint(eager=True)
    # one pair per ANY-permutation collision with its 16-bit match mask;
    # materialized because both the verify pass and the final aggregate
    # consume it (same role the unioned `cands` checkpoint used to play,
    # at ~the finest leg's row count instead of all four legs'). The
    # explicit pair-keyed repartition matters: AQE coalesces the tiny
    # mask aggregate to ONE partition, and the verify pass's
    # shingle-broadcast joins run IN the tasks holding the pair stream —
    # checkpointing 1 partition would serialize every array_intersect
    # onto one core (measured +0.7s at sf0.1; the old 4-leg shape was
    # accidentally parallel through its distinct's re-exchange). An
    # explicit width survives AQE, and the session shuffle width keeps
    # it scale-adaptive rather than core-count-tuned.
    _w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    masks = (
        D.lsh_permutation_match_masks(sigs)
        .repartition(_w, "doc_i", "doc_j")
        .localCheckpoint(eager=True)
    )

    def _hit(b: int) -> F.Column:
        return D.lsh_mask_band_hit(F.col("mask"), b)

    sh = docs.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), 3)).alias("sh")
    )
    inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_j")))
    union = F.size(F.col("sh_i")) + F.size(F.col("sh_j")) - inter
    ver07 = (
        masks.select("doc_i", "doc_j")
        .join(
            sh.select(F.col("doc_id").alias("doc_i"), F.col("sh").alias("sh_i")),
            "doc_i",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_j"), F.col("sh").alias("sh_j")),
            "doc_j",
        )
        # exact size feasibility bound (operators/dedup.py): spares the
        # O(|sh_i| x |sh_j|) intersect on pairs whose sizes already rule
        # out 0.7 — 46% of sweep candidates at sf0.1, never a passing pair
        .where(D.jaccard_size_prefilter(F.size("sh_i"), F.size("sh_j"), 0.7))
        .select(
            "doc_i", "doc_j", F.round(inter.cast("double") / union, 6).alias("jaccard")
        )
        .where(F.col("jaccard") >= 0.7)
        .withColumn("is_true", F.lit(1))
        .drop("jaccard")
    )
    flagged = masks.join(ver07, ["doc_i", "doc_j"], "left")
    one = flagged.agg(
        *[
            F.coalesce(F.sum(F.when(_hit(b), 1)), F.lit(0))
            .cast("long")
            .alias(f"_c{b}")
            for b in LSH_SWEEP_BANDINGS
        ],
        *[
            F.coalesce(
                F.sum(F.when(_hit(b) & (F.col("is_true") == 1), 1)),
                F.lit(0),
            )
            .cast("long")
            .alias(f"_t{b}")
            for b in LSH_SWEEP_BANDINGS
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("bands"),
                F.lit(D.N_PERMUTATIONS // b).cast("int").alias("rows_per_band"),
                F.col(f"_c{b}").alias("n_candidates"),
                F.col(f"_t{b}").alias("n_true_pairs"),
                F.when(
                    F.col(f"_c{b}") > 0,
                    F.round(
                        F.col(f"_t{b}").cast("double") / F.col(f"_c{b}"), 6
                    ),
                ).alias("candidate_precision"),
            )
            for b in LSH_SWEEP_BANDINGS
        ]
    )
    return (
        one.select(F.explode(rows).alias("b"))
        .select(
            "b.bands",
            "b.rows_per_band",
            "b.n_candidates",
            "b.n_true_pairs",
            "b.candidate_precision",
        )
        .orderBy("bands")
    )


def _lsh_banding_sweep_sql() -> str:
    n_perm = D.N_PERMUTATIONS
    sig_cols = []
    for i in range(n_perm):
        a, b = D.minhash_coeffs(i + 1)
        sig_cols.append(
            f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {D.MINHASH_P})) AS sig_{i}"
        )
    band_unions = []
    for bands in LSH_SWEEP_BANDINGS:
        rows = n_perm // bands
        for bi in range(bands):
            keys = ", ".join(f"sig_{bi * rows + r}" for r in range(rows))
            band_unions.append(
                f"SELECT {bands} AS bands, doc_id, {bi} AS band_idx,"
                f" concat_ws(':', {keys}) AS band_key FROM sig WHERE sig_0 IS NOT NULL"
            )
    banded = " UNION ALL ".join(band_unions)
    thetas = ", ".join(str(b) for b in LSH_SWEEP_BANDINGS)
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM documents
),
hashed AS (
  SELECT doc_id, list_transform(shingles, s -> {_ROLL}) AS hs FROM sh
),
sig AS MATERIALIZED (SELECT doc_id, {", ".join(sig_cols)} FROM hashed),
banded AS ({banded}),
allc AS MATERIALIZED (
  SELECT DISTINCT a.bands AS bands, a.doc_id AS doc_i, b.doc_id AS doc_j
  FROM banded a
  JOIN banded b ON a.bands = b.bands AND a.band_idx = b.band_idx
              AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
uniq AS (SELECT DISTINCT doc_i, doc_j FROM allc),
dsh AS (SELECT doc_id, list_distinct(shingles) AS s FROM sh),
kept AS (SELECT doc_id, unnest(s) AS shingle FROM dsh),
sizes AS (SELECT doc_id, len(s) AS n FROM dsh),
shared AS (
  SELECT u.doc_i, u.doc_j, count(*) AS shared
  FROM uniq u
  JOIN kept a ON a.doc_id = u.doc_i
  JOIN kept b ON b.doc_id = u.doc_j AND b.shingle = a.shingle
  GROUP BY u.doc_i, u.doc_j
),
ver07 AS MATERIALIZED (
  SELECT doc_i, doc_j
  FROM shared
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
  WHERE round(CAST(shared AS DOUBLE) / (sa.n + sb.n - shared), 6) >= 0.7
),
g AS (SELECT unnest([{thetas}]) AS bands)
SELECT CAST(g.bands AS INT) AS bands,
       CAST({n_perm} // g.bands AS INT) AS rows_per_band,
       CAST(COALESCE((SELECT count(*) FROM allc WHERE allc.bands = g.bands), 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE((SELECT count(*) FROM allc JOIN ver07 USING (doc_i, doc_j)
                      WHERE allc.bands = g.bands), 0) AS BIGINT) AS n_true_pairs,
       CASE WHEN (SELECT count(*) FROM allc WHERE allc.bands = g.bands) > 0
            THEN round(CAST((SELECT count(*) FROM allc JOIN ver07 USING (doc_i, doc_j)
                             WHERE allc.bands = g.bands) AS DOUBLE)
                       / (SELECT count(*) FROM allc WHERE allc.bands = g.bands), 6)
       END AS candidate_precision
FROM g
ORDER BY bands
"""


register("lsh_banding_sweep", _lsh_banding_sweep, _lsh_banding_sweep_sql())


EMB_NEAR_DUP_THRESHOLD = 0.4  # fixture embeddings are weakly clustered
# (max off-diagonal cosine ~0.51 at sf0.01); production near-dup dedup
# runs at >=0.9 where LSH recall is ~0.997 (operators/dedup.py).


def _embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=EMB_NEAR_DUP_THRESHOLD
    )


def _emb_near_dup_sql() -> str:
    from kafka_topic_analyzer_spark.queries.similarity import _dot_sql

    return f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         sqrt({_dot_sql("embedding", "embedding")}) AS nrm
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
         round(CASE WHEN a.nrm > 0 AND b.nrm > 0
                    THEN {_dot_sql("a.e", "b.e")} / (a.nrm * b.nrm) END, 6) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT vec_i, vec_j, cosine FROM scored WHERE cosine >= {EMB_NEAR_DUP_THRESHOLD}
"""


register("embedding_near_dup_pairs", _embedding_near_dup_pairs, _emb_near_dup_sql())


def _embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale path: LSH-bucket candidate pruning, exact cosine verify.
    return D.embedding_near_dups_lsh(
        load_table(spark, sf_dir, "embeddings"),
        threshold=EMB_NEAR_DUP_THRESHOLD,
        tables=16,  # low threshold (wide angle) needs more tables for recall
    )


def _embedding_near_dups_lsh_sql() -> str:
    """Full oracle: sign-LSH buckets are deterministic (fixed hyperplanes,
    sequential-fold projections — see queries/similarity.py), so the bucket
    self-join candidates and the exact verify are SQL-reproducible. Recall
    vs the exact pairs stays a separate unit-tested property."""
    from kafka_topic_analyzer_spark.queries.similarity import (
        _dot_sql,
        lsh_buckets_cte,
    )

    return f"""
WITH buckets AS ({lsh_buckets_cte(bits=4, tables=16)}),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_i, b.vec_id AS vec_j
  FROM buckets a
  JOIN buckets b ON a.table_id = b.table_id AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id
),
scored AS (
  SELECT vec_i, vec_j,
    round(
      CASE WHEN sqrt({_dot_sql("va.embedding", "va.embedding")}) > 0
            AND sqrt({_dot_sql("vb.embedding", "vb.embedding")}) > 0
           THEN {_dot_sql("va.embedding", "vb.embedding")}
                / (sqrt({_dot_sql("va.embedding", "va.embedding")})
                   * sqrt({_dot_sql("vb.embedding", "vb.embedding")}))
      END, 6) AS cosine
  FROM cands
  JOIN embeddings va ON va.vec_id = vec_i
  JOIN embeddings vb ON vb.vec_id = vec_j
)
SELECT vec_i, vec_j, cosine FROM scored WHERE cosine >= {EMB_NEAR_DUP_THRESHOLD}
"""


register(
    "embedding_near_dups_lsh",
    _embedding_near_dups_lsh,
    _embedding_near_dups_lsh_sql(),
)


def _simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_fingerprints(load_table(spark, sf_dir, "documents"))


def _simhash_fp_cte() -> str:
    toks = r"""CASE WHEN length(trim(lower(text))) = 0 THEN []
            ELSE string_split_regex(trim(lower(text)), '\s+') END"""
    bit_terms = []
    for j in range(32):
        s = (
            f"list_sum(list_transform(th, x -> ((x // {2**j}) % 2) * 2 - 1))"
        )
        bit_terms.append(f"CASE WHEN coalesce({s}, 0) >= 0 THEN {2**j} ELSE 0 END")
    total = " + ".join(bit_terms)
    return f"""
WITH hashed AS (
  SELECT doc_id,
         list_transform({toks}, s -> {_ROLL}) AS th
  FROM documents
),
fp AS (SELECT doc_id, CAST({total} AS BIGINT) AS simhash32 FROM hashed)
"""


register(
    "simhash_fingerprints",
    _simhash_fingerprints,
    _simhash_fp_cte() + "SELECT doc_id, simhash32 FROM fp",
)


SIMHASH_MAX_HAMMING = 3
SIMHASH_WIDE_BITS = 48


def _simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"),
        max_hamming=SIMHASH_MAX_HAMMING,
        bits=SIMHASH_WIDE_BITS,
    )


def _simhash_wide_fp_cte(bits: int = SIMHASH_WIDE_BITS) -> str:
    # 48-bit fingerprint: 31 bits of the rolling hash + (bits-31) of its
    # fixed linear permutation — mirrors operators/dedup.py
    # simhash_fingerprints_wide, including the minhash_coeffs(1) constants.
    toks = r"""CASE WHEN length(trim(lower(text))) = 0 THEN []
            ELSE string_split_regex(trim(lower(text)), '\s+') END"""
    a, b = D.minhash_coeffs(1)
    bit_terms = []
    for j in range(bits):
        src, k = ("th1", j) if j < 31 else ("th2", j - 31)
        s = f"list_sum(list_transform({src}, x -> ((x // {2**k}) % 2) * 2 - 1))"
        bit_terms.append(f"CASE WHEN coalesce({s}, 0) >= 0 THEN {2**j} ELSE 0 END")
    total = " + ".join(bit_terms)
    return f"""
WITH hashed AS (
  SELECT doc_id,
         list_transform({toks}, s -> {_ROLL}) AS th1,
         list_transform(list_transform({toks}, s -> {_ROLL}),
                        x -> (x * {a} + {b}) % {D.MINHASH_P}) AS th2
  FROM documents
),
fp AS (SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM hashed)
"""


# The banded join is EXACT for max_hamming < bands (pigeonhole), so the
# oracle is the plain O(n^2) scan — same rows, bit for bit.
register(
    "simhash_near_dups",
    _simhash_near_dups,
    _simhash_wide_fp_cte()
    + f"""
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
""",
)


def _consensus_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup: text near-dup pairs (exact n-gram Jaccard)
    annotated with the pair's embedding cosine and a both-signals flag.
    Pair volume is tiny relative to the corpus, so the two embedding
    joins shuffle only |pairs| rows keyed by id — the corpus-sized
    embedding table streams through its scan once per side."""
    from kafka_topic_analyzer_spark.functions.vectors import cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = D.near_dup_pairs_jaccard(docs, k=3, threshold=0.7, max_df=50)
    ei = emb.select(F.col("vec_id").alias("doc_i"), F.col("embedding").alias("e_i"))
    ej = emb.select(F.col("vec_id").alias("doc_j"), F.col("embedding").alias("e_j"))
    cos = F.round(cosine(F.col("e_i"), F.col("e_j")), 6)
    return (
        pairs.join(ei, "doc_i")
        .join(ej, "doc_j")
        .select(
            "doc_i",
            "doc_j",
            "jaccard",
            cos.alias("cosine_sim"),
            (F.col("jaccard") >= 0.8).alias("text_strong"),
        )
        .orderBy("doc_i", "doc_j")
    )


def _consensus_sql() -> str:
    from kafka_topic_analyzer_spark.queries.similarity import _dot_sql

    return f"""
WITH jac AS ({_JACCARD_SQL}),
v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         sqrt({_dot_sql("embedding", "embedding")}) AS nrm
  FROM embeddings
)
SELECT doc_i, doc_j, jaccard,
       round(CASE WHEN a.nrm > 0 AND b.nrm > 0
                  THEN {_dot_sql("a.e", "b.e")} / (a.nrm * b.nrm) END, 6) AS cosine_sim,
       jaccard >= 0.8 AS text_strong
FROM jac JOIN v a ON a.vec_id = doc_i JOIN v b ON b.vec_id = doc_j
ORDER BY doc_i, doc_j
"""


register("consensus_near_dups", _consensus_near_dups, _consensus_sql())


PAGERANK_ITERS = 10
PAGERANK_SCALE = 10**12


def _dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the near-dup graph (the canonical-doc
    priority signal: within a dup cluster, keep the most-connected doc).
    Exact int64 arithmetic makes this ITERATIVE algorithm oracle-
    checkable — the DuckDB side unrolls the same 10 iterations as CTEs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs_jaccard(docs, k=3, threshold=0.7, max_df=50)
    edges = pairs.select(F.col("doc_i").alias("src"), F.col("doc_j").alias("dst"))
    return (
        D.pagerank_integer(edges, iterations=PAGERANK_ITERS, scale=PAGERANK_SCALE)
        .orderBy("doc_id")
    )


def _pagerank_sql() -> str:
    scale, damp, iters = PAGERANK_SCALE, 85, PAGERANK_ITERS
    ctes = [
        f"""edges AS (
  SELECT doc_i AS src, doc_j AS dst FROM nd
  UNION ALL SELECT doc_j, doc_i FROM nd
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
meta AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
pr0 AS (SELECT node, CAST((SELECT {scale} // n FROM meta) AS BIGINT) AS rank FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT e.dst AS node,
         CAST((SELECT (({100 - damp} * {scale}) // 100) // n FROM meta)
              + ({damp} * sum(pr{i-1}.rank // o.outdeg)) // 100 AS BIGINT) AS rank
  FROM pr{i-1} JOIN edges e ON pr{i-1}.node = e.src
  JOIN outdeg o ON o.src = pr{i-1}.node
  GROUP BY e.dst
)"""
        )
    # reuse the near-dup pair construction from the cluster oracle
    return (
        f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM documents
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
nd AS MATERIALIZED (
  SELECT doc_i, doc_j FROM p
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7
),
"""
        + ",\n".join(ctes)
        + f"\nSELECT node AS doc_id, rank FROM pr{iters} ORDER BY doc_id"
    )


register("dup_graph_pagerank", _dup_graph_pagerank, _pagerank_sql())


FUZZY_PREFIX = 200  # edit distance over the first N chars bounds the O(n*m) DP
FUZZY_MAX_DIST = 40


def _fuzzy_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution-style fuzzy matching: LSH candidate pairs
    verified by bounded edit distance (levenshtein over a fixed prefix —
    the DP is O(prefix^2) per pair, so candidates × 40k cell ops, never
    corpus-quadratic). Jaccard banding recalls the candidates; the edit
    distance is the typo-tolerant verifier n-gram Jaccard isn't."""
    docs = load_table(spark, sf_dir, "documents")
    cands = D.lsh_candidate_pairs(D.minhash_signatures(docs, 3))
    txt = docs.select("doc_id", F.substring(F.col("text"), 1, FUZZY_PREFIX).alias("t"))
    ti = txt.select(F.col("doc_id").alias("doc_i"), F.col("t").alias("t_i"))
    tj = txt.select(F.col("doc_id").alias("doc_j"), F.col("t").alias("t_j"))
    dist = F.levenshtein(F.col("t_i"), F.col("t_j"))
    return (
        cands.join(ti, "doc_i")
        .join(tj, "doc_j")
        .select("doc_i", "doc_j", dist.cast("long").alias("edit_distance"))
        .where(F.col("edit_distance") <= FUZZY_MAX_DIST)
        .orderBy("doc_i", "doc_j")
    )


def _fuzzy_sql() -> str:
    # candidates: same banded-minhash construction as minhash_near_dups,
    # expressed directly — bands of 4 consecutive signature values
    sigs = []
    for i in range(D.N_PERMUTATIONS):
        a, b = D.minhash_coeffs(i + 1)
        sigs.append(f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {D.MINHASH_P}))")
    band_keys = []
    rows_per_band = D.N_PERMUTATIONS // D.LSH_BANDS
    for bnd in range(D.LSH_BANDS):
        parts = ", ".join(f"''||({sigs[bnd * rows_per_band + r]})" for r in range(rows_per_band))
        band_keys.append(f"concat_ws('_', {parts})")
    bands_list = "[" + ", ".join(f"concat('{i}_', {k})" for i, k in enumerate(band_keys)) + "]"
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM documents
),
hashed AS (
  SELECT doc_id, list_transform(shingles, s -> {_ROLL}) AS hs FROM sh
  WHERE len(shingles) > 0
),
banded AS (
  SELECT doc_id, unnest({bands_list}) AS bucket FROM hashed
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
txt AS (SELECT doc_id, substring(text, 1, {FUZZY_PREFIX}) AS t FROM documents)
SELECT doc_i, doc_j,
       CAST(levenshtein(ti.t, tj.t) AS BIGINT) AS edit_distance
FROM cands JOIN txt ti ON ti.doc_id = doc_i JOIN txt tj ON tj.doc_id = doc_j
WHERE levenshtein(ti.t, tj.t) <= {FUZZY_MAX_DIST}
ORDER BY doc_i, doc_j
"""


register("fuzzy_match_pairs", _fuzzy_match_pairs, _fuzzy_sql())


SEMANTIC_CLUSTER_BOUND = 1000


def _semantic_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup: embedding-LSH near-dup pairs -> connected components
    -> per-vector cluster assignment with canonical flag (keep the lowest
    vec_id per cluster, drop the rest). The embedding-space counterpart of
    ``dup_cluster_assignment`` — the last step of an embedding-based dedup
    pipeline at scale (candidates via LSH buckets, exact verify, then one
    vertex-keyed iterative shuffle; see operators/dedup.py
    connected_components for the 100 TB notes)."""
    # Bounded slice (like embedding_pair_stats): the clustering cost is
    # iteration-latency-bound, not data-bound, so a fixed slice keeps the
    # bench/driver cost stable across scale factors while exercising the
    # full LSH -> verify -> components pipeline.
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < SEMANTIC_CLUSTER_BOUND
    )
    pairs = D.embedding_near_dups_lsh(
        emb,
        threshold=EMB_NEAR_DUP_THRESHOLD,
        tables=16,
    )
    edges = pairs.select(F.col("vec_i").alias("src"), F.col("vec_j").alias("dst"))
    labels = D.connected_components(edges)
    # groupBy+join, not a count-over-partition window (r8 window audit:
    # a degenerate mega-cluster would pin one task; see SCALING.md)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        labels.join(sizes, "cluster_id")
        .select(
            F.col("doc_id").alias("vec_id"),
            "cluster_id",
            "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("vec_id")
    )


def _semantic_dup_clusters_sql() -> str:
    """Recursive-CTE fixpoint over the (deterministic, SQL-mirrored) LSH
    near-dup pairs — same oracle pattern as dup_cluster_assignment."""
    from kafka_topic_analyzer_spark.queries.similarity import (
        _dot_sql,
        lsh_buckets_cte,
    )

    bounded = f"(SELECT * FROM embeddings WHERE vec_id < {SEMANTIC_CLUSTER_BOUND})"
    return f"""
WITH RECURSIVE buckets AS ({lsh_buckets_cte(bits=4, tables=16, source=bounded)}),
cands AS (
  SELECT DISTINCT a.vec_id AS vec_i, b.vec_id AS vec_j
  FROM buckets a
  JOIN buckets b ON a.table_id = b.table_id AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id
),
scored AS (
  SELECT vec_i, vec_j,
    round(
      CASE WHEN sqrt({_dot_sql("va.embedding", "va.embedding")}) > 0
            AND sqrt({_dot_sql("vb.embedding", "vb.embedding")}) > 0
           THEN {_dot_sql("va.embedding", "vb.embedding")}
                / (sqrt({_dot_sql("va.embedding", "va.embedding")})
                   * sqrt({_dot_sql("vb.embedding", "vb.embedding")}))
      END, 6) AS cosine
  FROM cands
  JOIN embeddings va ON va.vec_id = vec_i
  JOIN embeddings vb ON vb.vec_id = vec_j
),
nd AS MATERIALIZED (SELECT vec_i, vec_j FROM scored WHERE cosine >= {EMB_NEAR_DUP_THRESHOLD}),
edges AS (
  SELECT vec_i AS src, vec_j AS dst FROM nd
  UNION SELECT vec_j, vec_i FROM nd
),
reach AS (
  SELECT src AS vec_id, src AS r FROM edges
  UNION
  SELECT e.src AS vec_id, reach.r FROM edges e JOIN reach ON reach.vec_id = e.dst
),
labels AS (SELECT vec_id, min(r) AS cluster_id FROM reach GROUP BY vec_id)
SELECT vec_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       vec_id = cluster_id AS is_canonical
FROM labels
ORDER BY vec_id
"""


register("semantic_dup_clusters", _semantic_dup_clusters, _semantic_dup_clusters_sql())


NEW_BATCH_MOD = 5  # doc_id % 5 == 0 -> the arriving batch (~20% of docs)


def _incremental_dedup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: classify an ARRIVING batch against the existing
    reference corpus — the shape a continuously-fed training pipeline runs
    on every ingest (dedup new data against everything already kept, never
    re-dedup the reference against itself).

    Status per new doc, priority-ordered: ``exact_dup`` (md5 fingerprint
    already in the reference), else ``near_dup`` (banded-MinHash pair
    crossing the batch/reference split at jaccard >= 0.7), else ``kept``.
    Scale shape: the exact check is a fingerprint-keyed LEFT SEMI join
    (broadcastable — fingerprints only); the near check reuses the banded
    candidate machinery, so cost tracks the duplicate rate, not
    |new| x |reference|.
    """
    docs = load_table(spark, sf_dir, "documents")
    from kafka_topic_analyzer_spark.functions.text import md5_fingerprint

    is_new = (F.col("doc_id") % NEW_BATCH_MOD) == 0
    fps = docs.select(
        "doc_id", md5_fingerprint(F.col("text")).alias("fp"), is_new.alias("is_new")
    )
    new_docs = fps.where(F.col("is_new"))
    ref_fps = fps.where(~F.col("is_new")).select("fp").distinct()
    exact = new_docs.join(ref_fps, "fp", "left_semi").select(
        "doc_id", F.lit(True).alias("is_exact")
    )

    pairs = D.minhash_near_dups(docs, k=3, threshold=0.7)
    i_new = (F.col("doc_i") % NEW_BATCH_MOD) == 0
    j_new = (F.col("doc_j") % NEW_BATCH_MOD) == 0
    cross = pairs.where(i_new != j_new).select(
        F.when(i_new, F.col("doc_i")).otherwise(F.col("doc_j")).alias("doc_id")
    )
    near = cross.distinct().select("doc_id", F.lit(True).alias("is_near"))

    return (
        new_docs.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
        .orderBy("doc_id")
    )


register(
    "incremental_dedup_status",
    _incremental_dedup_status,
    f"""
WITH {_minhash_nd_ctes()},
fps AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         doc_id % {NEW_BATCH_MOD} = 0 AS is_new
  FROM documents
),
new_docs AS (SELECT doc_id, fp FROM fps WHERE is_new),
ref_fps AS (SELECT DISTINCT fp FROM fps WHERE NOT is_new),
exact AS (SELECT doc_id FROM new_docs WHERE fp IN (SELECT fp FROM ref_fps)),
near AS (
  SELECT DISTINCT CASE WHEN doc_i % {NEW_BATCH_MOD} = 0 THEN doc_i ELSE doc_j END AS doc_id
  FROM mnd
  WHERE (doc_i % {NEW_BATCH_MOD} = 0) <> (doc_j % {NEW_BATCH_MOD} = 0)
)
SELECT n.doc_id,
       CASE WHEN n.doc_id IN (SELECT doc_id FROM exact) THEN 'exact_dup'
            WHEN n.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
            ELSE 'kept' END AS status
FROM new_docs n
ORDER BY n.doc_id
""",
)


SPAN_W, SPAN_STRIDE, SPAN_MAX_DF = 64, 16, 20


def _substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (the long-span dedup of "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022 — but
    windowed, not suffix-array): fixed-width character windows on a
    stride; documents sharing a window share a duplicated span. Reports
    per doc pair (i < j) the number of shared distinct windows — the
    evidence a span-level deduper acts on (exact-dup pairs dominate the
    top; partial boilerplate overlap shows up at lower counts).

    Scale shape: windows are pure JVM expressions (sequence + substring
    explode — no UDF anywhere); the window join is capped at
    ``SPAN_MAX_DF`` docs per window (same hot-key cap as the jaccard
    inverted index) so boilerplate headers can't go quadratic; the pair
    aggregation is map-side combinable.
    """
    docs = load_table(spark, sf_dir, "documents")
    wins = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN length(lower(trim(text))) < {SPAN_W} THEN array() "
                f"ELSE transform(sequence(0, CAST((length(lower(trim(text))) - {SPAN_W}) / {SPAN_STRIDE} AS INT)), "
                f"k -> substring(lower(trim(text)), k * {SPAN_STRIDE} + 1, {SPAN_W})) END"
            )
        ).alias("win"),
    ).distinct()
    rare = wins.groupBy("win").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= SPAN_MAX_DF
    )
    kept = wins.join(rare.select("win"), "win")
    a = kept.select(F.col("doc_id").alias("doc_i"), "win")
    b = kept.select(F.col("doc_id").alias("doc_j"), "win")
    return (
        a.join(b, "win")
        .where(F.col("doc_i") < F.col("doc_j"))
        .groupBy("doc_i", "doc_j")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_windows"))
        .orderBy("doc_i", "doc_j")
    )


register(
    "substring_dup_spans",
    _substring_dup_spans,
    f"""
WITH w AS (
  SELECT DISTINCT doc_id, win FROM (
    SELECT doc_id,
           unnest(CASE WHEN length(lower(trim(text))) < {SPAN_W} THEN []
                  ELSE [substr(lower(trim(text)), k * {SPAN_STRIDE} + 1, {SPAN_W})
                        FOR k IN range(0, CAST(floor((length(lower(trim(text))) - {SPAN_W}) / {SPAN_STRIDE}) AS INTEGER) + 1)]
                  END) AS win
    FROM documents
  )
),
rare AS (SELECT win FROM w GROUP BY win HAVING count(*) <= {SPAN_MAX_DF}),
kept AS (SELECT doc_id, win FROM w WHERE win IN (SELECT win FROM rare))
SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       CAST(count(*) AS BIGINT) AS shared_windows
FROM kept a JOIN kept b ON a.win = b.win AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY doc_i, doc_j
""",
)


def _near_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication lineage: near-dup pair counts by source
    pair — the governance view that tells a corpus owner WHERE duplication
    comes from (within one crawl vs mirrored across sources), which drives
    whether dedup should run per-source or globally. Reuses the exact
    n-gram Jaccard pairs; the per-pair source lookup is two id-keyed joins
    on a pair set that is tiny relative to the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs_jaccard(docs, k=3, threshold=0.7, max_df=50)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(src.select(F.col("doc_id").alias("doc_i"), F.col("source").alias("s_i")), "doc_i")
        .join(src.select(F.col("doc_id").alias("doc_j"), F.col("source").alias("s_j")), "doc_j")
        .select(
            F.least("s_i", "s_j").alias("source_a"),
            F.greatest("s_i", "s_j").alias("source_b"),
        )
    )
    return (
        lab.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


register(
    "near_dup_source_matrix",
    _near_dup_source_matrix,
    f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES})) AS shingle FROM documents
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 50)
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
p AS (
  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
nd AS (
  SELECT doc_i, doc_j FROM p
  JOIN sizes sa ON sa.doc_id = doc_i
  JOIN sizes sb ON sb.doc_id = doc_j
  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.7
),
lab AS (
  SELECT least(di.source, dj.source) AS source_a,
         greatest(di.source, dj.source) AS source_b
  FROM nd
  JOIN documents di ON di.doc_id = doc_i
  JOIN documents dj ON dj.doc_id = doc_j
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY source_a, source_b
ORDER BY source_a, source_b
""",
)


def _tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.tfidf_cosine_pairs(
        load_table(spark, sf_dir, "documents"),
        k=3,
        threshold=(4, 5),
        max_df=50,
    )


# HUGEINT arithmetic mirrors Spark's DECIMAL(38,0) on BOTH the accumulation
# (DuckDB sum(BIGINT) natively widens to HUGEINT; the Spark side now sums
# decimal(37,0) products into decimal(38,0)) and the threshold comparison
# (dot^2 exceeds int64 at these weight scales) — exact, no sqrt, no
# division; dot/n2 are cast back to BIGINT only at emission.
register(
    "tfidf_cosine_pairs",
    _tfidf_cosine_pairs,
    f"""
WITH tok AS (SELECT doc_id, unnest({_SHINGLES}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
w AS (SELECT doc_id, tf.term, tf * (10000 // df) AS w FROM tf JOIN df USING (term)),
norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY 1),
capped AS (SELECT term FROM df WHERE df BETWEEN 2 AND 50),
cand AS (
  SELECT a.doc_id AS i, b.doc_id AS j
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  JOIN capped c ON a.term = c.term
  GROUP BY 1, 2
  HAVING count(*) >= 3
),
dots AS (
  SELECT cand.i, cand.j,
         CAST(sum(wa.w * wb.w) AS BIGINT) AS dot,
         CAST(count(*) AS BIGINT) AS shared_terms
  FROM cand JOIN w wa ON wa.doc_id = cand.i
            JOIN w wb ON wb.doc_id = cand.j AND wb.term = wa.term
  GROUP BY 1, 2
)
SELECT i, j, dot, shared_terms,
       CAST(na.n2 AS BIGINT) AS norm2_i, CAST(nb.n2 AS BIGINT) AS norm2_j
FROM dots JOIN norms na ON na.doc_id = dots.i JOIN norms nb ON nb.doc_id = dots.j
WHERE 25::HUGEINT * dot::HUGEINT * dot::HUGEINT
      >= 16::HUGEINT * na.n2::HUGEINT * nb.n2::HUGEINT
ORDER BY i, j
""",
)


def _dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-dup graph — how clique-like duplication
    is (near-dup evidence that closes into triangles is high-confidence;
    long open chains are the transitive-merge risk CC has to absorb).
    Emits one row of exact integers: vertices, edges, triangles, and
    wedges (``n_triads`` = sum of deg-choose-2 two-paths — ALL wedges,
    open and closed; NOT an open-triad count, so don't subtract triangles
    from it expecting open triads without multiplying triangles by 3
    first). Global clustering coefficient = 3*n_triangles / n_triads is
    correct precisely because the denominator counts closed wedges too;
    it is left to the caller so the report stays libm/division-free.

    Scale shape: the classic degree-oriented join (edges point from the
    (deg, id)-smaller endpoint) bounds every vertex's out-degree by
    ~sqrt(2m), so the wedge self-join is O(m^1.5) worst-case instead of
    sum(deg^2) — the hub-vertex blowup a naive id-oriented join hits on
    skewed graphs. Wedges close via a semi-join against the canonical
    id-ordered edge set (bare id pairs on every shuffle); the edge list
    materializes once and feeds all three consumers.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.near_dup_pairs_jaccard(docs, k=3, threshold=0.7, max_df=50)
    edges = (
        pairs.select(F.col("doc_i").alias("u"), F.col("doc_j").alias("v"))
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    lower_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    o = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    a = o.select(F.col("src"), F.col("dst").alias("x"))
    b = o.select(F.col("src"), F.col("dst").alias("y"))
    wedges = a.join(b, "src").where(F.col("x") < F.col("y"))
    closed = wedges.join(
        edges,
        (F.least("x", "y") == F.col("u")) & (F.greatest("x", "y") == F.col("v")),
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_vert = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    n_edge = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_triad = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_triads")
    )
    return (
        n_vert.crossJoin(n_edge).crossJoin(n_tri).crossJoin(n_triad)
        .select("n_vertices", "n_edges", "n_triangles", "n_triads")
    )


register(
    "dup_graph_triangles",
    _dup_graph_triangles,
    f"""
WITH jac AS ({_JACCARD_SQL}),
edges AS (SELECT doc_i AS u, doc_j AS v FROM jac),
deg AS (
  SELECT node, count(*) AS deg
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
),
o AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
wedges AS (
  SELECT a.dst AS x, b.dst AS y FROM o a JOIN o b ON a.src = b.src AND a.dst < b.dst
),
closed AS (
  SELECT * FROM wedges w
  WHERE EXISTS (SELECT 1 FROM edges e
                WHERE e.u = least(w.x, w.y) AND e.v = greatest(w.x, w.y))
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM closed) AS n_triangles,
       (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg) AS n_triads
""",
)
