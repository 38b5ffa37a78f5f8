"""Round-4 pipeline analytics: index-quality evals, corpus diagnostics,
and event-stream analytics (funnel / cohorts / anomaly).

Three families, all first-class oracle-backed queries:

- **Index-quality evals** (`minhash_jaccard_accuracy`, `ivf_recall_eval`):
  a production dedup/ANN deployment needs its approximation error measured
  ON the corpus it serves, not assumed from theory — these run the
  estimate and the exact value through one plan and report the gap.
- **Corpus diagnostics** (`ngram_freq_top`, `token_length_histogram`,
  `source_overlap_matrix`, `dedup_keep_best`, `packing_efficiency`,
  `embedding_norm_stats`): the summary tables a curation run reads before
  choosing thresholds.
- **Event analytics** (`session_funnel`, `retention_cohorts`,
  `event_hourly_anomaly`): sessionized behavioral rollups over the
  `events` stream table — the read-side analytics the reference delegated
  to Postgres (README.md:83-101), here engine-native.

Cross-engine exactness rules are the package's usual ones: integer
arithmetic wherever possible (epoch-microsecond gaps, day diffs, count
ratios as a single int/int division), dsum for float sums, and the shared
literal constants for every hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_processing_spark.functions.constants import N_MINHASH
from kafka_flink_processing_spark.functions.exact import (
    MIDDLE_RANKS_SQL,
    dsum,
    dsum_sql,
    middle_mean,
    middle_mean_sql,
    middle_ranks,
    middle_sum,
    middle_sum_sql,
    moment_sums,
    moment_sums_sql,
    ols_intercept,
    ols_intercept_sql,
    ols_slope,
    ols_slope_sql,
    percentile_disc,
    percentile_disc_sql,
    ranked_sql,
    with_ranks,
)
from kafka_flink_processing_spark.functions.ivf_codebook import IVF_CENTROIDS
from kafka_flink_processing_spark.functions.text import (
    LANG_ID_SQL,
    LANG_SCORES_SQL,
    QUALITY_SQL,
    TEXT_HASH_SQL,
    TOKEN_COUNT_SQL,
    TOKENS_SQL,
    lang_id,
    md5_hash60,
    md5_hash60_sql,
    quality_score,
    text_hash,
    tokens,
    word_grams,
)
from kafka_flink_processing_spark.operators.dedup import (
    LSH_SELF_CANDIDATES_CTE,
    SHINGLE_ROWS_CTE,
    doc_shingles_cte,
    doc_signatures,
    jaccard_expr,
    jaccard_sql,
    lsh_self_candidates,
    minhash_bands,
    minhash_index_cte,
)
from kafka_flink_processing_spark.operators.similarity import (
    UNIT_INFO_CTE,
    bruteforce_topk_sql,
    ivf_cells_cte,
    ivf_probes_cte,
    ivf_topk_sql,
    norm_sql,
)
from kafka_flink_processing_spark.plans.registry import register
from kafka_flink_processing_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# Index-quality evals
# ---------------------------------------------------------------------------

_EST_TERMS = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
    for i in range(N_MINHASH))


@register(
    "minhash_jaccard_accuracy",
    oracle=f"""
    WITH {minhash_index_cte(3)},
    {LSH_SELF_CANDIDATES_CTE},
    est AS (SELECT doc_a, doc_b, ({_EST_TERMS}) / {N_MINHASH}.0 AS est_jaccard
            FROM cand JOIN sig sa ON doc_a = sa.doc_id
                      JOIN sig sb ON doc_b = sb.doc_id),
    exa AS (SELECT doc_a, doc_b, {jaccard_sql('da.sh', 'db.sh')} AS exact_jaccard
            FROM cand JOIN ds da ON doc_a = da.doc_id
                      JOIN ds db ON doc_b = db.doc_id)
    SELECT e.doc_a, e.doc_b, e.est_jaccard, x.exact_jaccard,
           abs(e.est_jaccard - x.exact_jaccard) AS abs_err
    FROM est e JOIN exa x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b
    """,
    doc=f"MinHash estimator accuracy ON the LSH candidate set: for every "
        f"candidate pair, the {N_MINHASH}-component signature agreement "
        f"(matching-minhash fraction, the unbiased Jaccard estimator) next "
        f"to the exact shingle-set Jaccard and their absolute error — the "
        f"eval a production dedup deployment runs before trusting "
        f"signature-only thresholds at 100 TB (where exact verification "
        f"of every pair stops being affordable and you need the measured "
        f"error at YOUR shingle distribution). Reuses the memoized "
        f"signature artifact; the candidate set is the banded-LSH one, so "
        f"cost is O(candidates), never all-pairs.",
)
def minhash_jaccard_accuracy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sig = doc_signatures(docs, 3)
    cand = lsh_self_candidates(minhash_bands(sig))
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    F.col("sh").alias("sh_a"),
                    *[F.col(f"mh{i}").alias(f"amh{i}")
                      for i in range(N_MINHASH)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    F.col("sh").alias("sh_b"),
                    *[F.col(f"mh{i}").alias(f"bmh{i}")
                      for i in range(N_MINHASH)])
    agree = sum(F.when(F.col(f"amh{i}") == F.col(f"bmh{i}"), 1).otherwise(0)
                for i in range(N_MINHASH))
    exact = jaccard_expr(F.col("sh_a"), F.col("sh_b"))
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("est_jaccard", agree / float(N_MINHASH))
            .withColumn("exact_jaccard", exact)
            .withColumn("abs_err",
                        F.abs(F.col("est_jaccard") - F.col("exact_jaccard")))
            .select("doc_a", "doc_b", "est_jaccard", "exact_jaccard",
                    "abs_err"))


@register(
    "ivf_recall_eval",
    oracle=f"""
    WITH {UNIT_INFO_CTE}, {ivf_cells_cte(IVF_CENTROIDS)},
    {ivf_probes_cte(range(5))},
    bf AS ({bruteforce_topk_sql(range(5), 10)}),
    iv AS ({ivf_topk_sql(10)})
    SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(i.cand_id) AS BIGINT) AS n_hit,
           CAST(COUNT(i.cand_id) AS DOUBLE) / COUNT(*) AS recall_at_10
    FROM bf b LEFT JOIN iv i
      ON b.query_id = i.query_id AND b.cand_id = i.cand_id
    GROUP BY b.query_id
    """,
    doc="per-query recall@10 of the IVF index against the brute-force "
        "ground truth — the standard ANN quality metric (measured, not "
        "assumed: nprobe/K is a recall knob and this is its gauge). Runs "
        "both retrieval plans (each already driver-verified standalone) "
        "and left-joins IVF hits onto the exact top-10; at 100 TB you run "
        "this on a sampled query set while brute force is still "
        "affordable there, then trust the measured curve. The eval "
        "itself adds only a 50-row join to the two retrievals.",
)
def ivf_recall_eval_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    bf = cosine_topk(emb, query_ids=range(5), k=10) \
        .select("query_id", "cand_id")
    iv = ivf_cosine_topk(emb, query_ids=range(5), k=10,
                         centroids=IVF_CENTROIDS) \
        .select("query_id", "cand_id").withColumn("hit", F.lit(1))
    return (bf.join(iv, ["query_id", "cand_id"], "left")
            .groupBy("query_id")
            .agg(F.count("*").alias("n_true"),
                 F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
                 .alias("n_hit"))
            .withColumn("recall_at_10",
                        F.col("n_hit").cast("double") / F.col("n_true")))


@register(
    "lsh_threshold_sweep",
    oracle=f"""
    WITH {minhash_index_cte(3)},
    {LSH_SELF_CANDIDATES_CTE},
    j AS (SELECT doc_a, doc_b, {jaccard_sql('da.sh', 'db.sh')} AS jac
          FROM cand JOIN ds da ON doc_a = da.doc_id
                    JOIN ds db ON doc_b = db.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS ge_050,
           CAST(SUM(CASE WHEN jac >= 0.6 THEN 1 ELSE 0 END) AS BIGINT)
             AS ge_060,
           CAST(SUM(CASE WHEN jac >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
             AS ge_070,
           CAST(SUM(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
             AS ge_080,
           CAST(SUM(CASE WHEN jac >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
             AS ge_090
    FROM j
    """,
    doc="dedup-threshold tuning curve: exact Jaccard computed ONCE over "
        "the LSH candidate set, then survivor counts at thresholds "
        "0.5-0.9 in one conditional-aggregate pass — the sweep you run "
        "before committing a near-dup threshold to a 100 TB pass, "
        "instead of re-running the pair miner per candidate threshold. "
        "O(candidates) like every LSH-routed query; single-row output.",
)
def lsh_threshold_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sig = doc_signatures(docs, 3)
    cand = lsh_self_candidates(minhash_bands(sig))
    sh_a = sig.select(F.col("doc_id").alias("doc_a"),
                      F.col("sh").alias("sh_a"))
    sh_b = sig.select(F.col("doc_id").alias("doc_b"),
                      F.col("sh").alias("sh_b"))
    j = cand.join(sh_a, "doc_a").join(sh_b, "doc_b") \
            .select(jaccard_expr(F.col("sh_a"), F.col("sh_b")).alias("jac"))
    aggs = [F.count("*").alias("n_candidates")]
    for t in (50, 60, 70, 80, 90):
        aggs.append(F.sum(F.when(F.col("jac") >= t / 100.0, 1).otherwise(0))
                    .cast("long").alias(f"ge_0{t}"))
    return j.agg(*aggs)


@register(
    "semantic_mix_matrix",
    oracle=f"""
    WITH {UNIT_INFO_CTE}, {ivf_cells_cte(IVF_CENTROIDS)},
    lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings)
    SELECT cell, label, CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM asg JOIN lab USING (vec_id)
    GROUP BY cell, label
    """,
    doc="semantic cluster x label mix matrix: the IVF quantizer's cell "
        "assignment cross-tabulated with the metadata label — the "
        "cluster-balance screen a curation run reads to spot cells "
        "dominated by one source/class (the signal behind cluster-based "
        "data-mix rebalancing). Same broadcast-codebook map-side argmax "
        "as kmeans_assign_cells plus one id-keyed join and a tiny "
        "(cells x labels) aggregate.",
)
def semantic_mix_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        assign_cells,
        with_unit_info,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    base = with_unit_info(emb)
    asg = assign_cells(base, IVF_CENTROIDS).select("vec_id", "cell")
    lab = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    return (asg.join(lab, "vec_id")
            .groupBy("cell", "label")
            .agg(F.count("*").alias("n_vecs")))


# ---------------------------------------------------------------------------
# Corpus diagnostics
# ---------------------------------------------------------------------------

@register(
    "ngram_freq_top",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS words FROM documents),
    bi AS (SELECT unnest(
             CASE WHEN len(words) < 2 THEN []
                  ELSE [words[i] || ' ' || words[i+1]
                        for i in range(1, len(words))]
             END) AS bigram
           FROM t)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM bi GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 20
    """,
    doc="corpus-wide top-20 word bigrams by occurrence (NON-distinct per "
        "doc — frequency, not document frequency): the n-gram language-"
        "model / boilerplate-detection staple. One explode + one "
        "map-side-combined count; the top-20 is orderBy+limit => "
        "TakeOrderedAndProject (per-partition partial top-k, never a "
        "global sort), deterministic via the bigram tie-break.",
)
def ngram_freq_top_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(words) - 1)
    grams = F.when(F.size(words) < 2,
                   F.array().cast("array<string>")) \
             .otherwise(F.transform(idx, lambda i: F.concat_ws(
                 " ", F.element_at(words, i), F.element_at(words, i + 1))))
    return (docs.select(F.explode(grams).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count("*").alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(), "bigram")
            .limit(20))


@register(
    "token_length_histogram",
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKENS_SQL}) AS t FROM documents),
    h AS (SELECT CAST(LEAST(length(t), 20) AS BIGINT) AS tok_len,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens
          FROM tok GROUP BY 1)
    SELECT tok_len, n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS BIGINT)
             AS share
    FROM h
    """,
    doc="token-length distribution of the BPE-ish token stream (lengths "
        "capped at 20): the tokenizer-fit diagnostic — a long tail here "
        "means the token regex is splitting badly for this corpus. "
        "Explode + 20-group count; the share window runs over the "
        "20-row aggregate, so its single partition is a non-issue.",
)
def token_length_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    h = (toks.groupBy(F.least(F.length("t"), F.lit(20)).cast("long")
                      .alias("tok_len"))
         .agg(F.count("*").alias("n_tokens")))
    return h.withColumn(
        "share",
        F.col("n_tokens").cast("double")
        / F.sum("n_tokens").over(Window.partitionBy()))


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH {doc_shingles_cte(3)},
    {SHINGLE_ROWS_CTE},
    gs AS (SELECT DISTINCT d.source, ex.sh
           FROM ex JOIN documents d USING (doc_id))
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM gs a JOIN gs b ON a.sh = b.sh AND a.source < b.source
    GROUP BY 1, 2
    """,
    doc="cross-source contamination matrix: for every source pair, the "
        "number of distinct word 3-grams both sources contain — the "
        "between-collection leakage signal (same gram family as "
        "dup_span_stats, aggregated source-to-source instead of per-doc). "
        "The (source, gram) table is DISTINCT per source, so a gram joins "
        "at most #sources times regardless of how many documents repeat "
        "it — per-gram fan-out is bounded by sources^2, not df^2, which "
        "is what keeps the gram-keyed self-join safe at 100 TB.",
)
def source_overlap_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.shipping import ensure_shipped
    ensure_shipped(spark)
    docs = load_table(spark, "documents", sf_dir)
    gs = (docs.select("source",
                      F.explode(word_grams(F.col("text"), 3)).alias("sh"))
          .distinct())
    a = gs.select(F.col("source").alias("source_a"), "sh")
    b = gs.select(F.col("source").alias("source_b"), "sh")
    return (a.join(b, "sh")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count("*").alias("n_shared_grams")))


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, {TEXT_HASH_SQL} AS text_hash,
             {QUALITY_SQL} AS quality
      FROM documents
    )
    SELECT doc_id, text_hash, quality,
           (ROW_NUMBER() OVER (PARTITION BY text_hash
                               ORDER BY quality DESC, doc_id) = 1) AS keep
    FROM scored
    """,
    doc="quality-aware exact dedup: within each normalized-text duplicate "
        "cluster keep the HIGHEST-quality member (doc_id tie-break) "
        "instead of dedup_exact's lowest-id rule — what a curation run "
        "actually wants when duplicates differ in extraction quality. "
        "Scoring fuses into the scan; the only shuffle is the hash-keyed "
        "window (same key as the dedup groupBy it replaces). The quality "
        "double is the shared rational-arithmetic score, so the "
        "cross-engine ranking is exact.",
)
def dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        text_hash(F.col("text")).alias("text_hash"),
        quality_score(F.col("text")).alias("quality"))
    w = Window.partitionBy("text_hash").orderBy(F.col("quality").desc(),
                                                "doc_id")
    return scored.withColumn("keep", F.row_number().over(w) == 1)


from kafka_flink_processing_spark.operators.packing import DEFAULT_BUDGET  # noqa: E402


@register(
    "packing_efficiency",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id, {TOKEN_COUNT_SQL} AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prefix_tokens
      FROM toks
    ), seqs AS (
      SELECT source, CAST(prefix_tokens // {DEFAULT_BUDGET} AS BIGINT)
               AS seq_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             (CAST(SUM(n_tokens) AS BIGINT) * 1000) // {DEFAULT_BUDGET}
               AS fill_1000
      FROM packed GROUP BY 1, 2
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(fill_1000) AS DOUBLE) / COUNT(*) AS avg_fill_1000,
           MIN(fill_1000) AS min_fill_1000,
           MAX(fill_1000) AS max_fill_1000,
           CAST(SUM(CASE WHEN fill_1000 < 800 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_underfull
    FROM seqs GROUP BY source
    """,
    doc="packing-efficiency rollup over sequence_packing's packs: per "
        "source, pack count, average/min/max fill (permille of the "
        f"{DEFAULT_BUDGET}-token budget) and the count of <80%-full packs "
        "— the waste gauge that tells you whether the shard key needs "
        "re-cutting before a training run burns the padding. Pure "
        "integer arithmetic on top of the packing prefix-sum; one extra "
        "#shards-row aggregate.",
)
def packing_efficiency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.packing import pack_summary
    docs = load_table(spark, "documents", sf_dir)
    packs = pack_summary(docs.select("source", "doc_id", "text"))
    return (packs.groupBy("source")
            .agg(F.count("*").alias("n_seqs"),
                 F.sum("n_docs").cast("long").alias("n_docs"),
                 (F.sum("fill_1000").cast("double") / F.count("*"))
                 .alias("avg_fill_1000"),
                 F.min("fill_1000").alias("min_fill_1000"),
                 F.max("fill_1000").alias("max_fill_1000"),
                 F.sum(F.when(F.col("fill_1000") < 800, 1).otherwise(0))
                 .cast("long").alias("n_underfull")))


@register(
    "embedding_norm_stats",
    oracle=f"""
    WITH n AS (SELECT CAST(label AS BIGINT) AS label,
                      {norm_sql('embedding')} AS nrm
               FROM embeddings),
    f AS (SELECT label,
                 CASE WHEN isfinite(nrm) AND nrm <= 1000.0 THEN nrm END
                   AS fnrm,
                 CASE WHEN isfinite(nrm) AND nrm <= 1000.0 THEN 0 ELSE 1
                   END AS bad
          FROM n)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(bad) AS BIGINT) AS n_flagged,
           {dsum_sql('fnrm', 6)} / COUNT(fnrm) AS avg_norm,
           MIN(fnrm) AS min_norm, MAX(fnrm) AS max_norm
    FROM f GROUP BY label
    """,
    doc="per-label embedding norm statistics — the drift/health screen an "
        "embedding pipeline runs on every refresh (collapsed or exploding "
        "norms are the first symptom of a bad encoder batch). Unhealthy "
        "norms — NaN/Inf from divergence garbage, or beyond the 1e3 "
        "health bound (a sane encoder's norms sit orders of magnitude "
        "below it) — are SURFACED as a per-label n_flagged count and "
        "excluded from the moments: the r9 emb_nonfinite fuzzer found "
        "the previous form crashing on CAST_OVERFLOW (an Inf — or any "
        "norm past int64/10^6 — cannot enter the scaled-int exact sum, "
        "and a health screen above all must not die on the rows it "
        "exists to catch). The bound also keeps dsum(6dp) capacity "
        "honest: <= 1e9 scaled units per row, ~9e9 worst-case rows per "
        "label before overflow, ~1e17 at realistic norms. Healthy norms "
        "via the shared sequential-fold dot product; min/max order-free; "
        "one K-row aggregate, no shuffle beyond it. NaN <= bound is "
        "false in BOTH engines (each sorts NaN above all doubles).",
)
def embedding_norm_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        with_unit_info,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    base = with_unit_info(emb)
    # healthy = finite AND within the documented bound; NaN fails the
    # <= in both engines (each sorts NaN above every double), and +Inf
    # fails it too, so one comparison covers all three cases
    healthy = ~F.isnan(F.col("nrm")) & (F.col("nrm") <= 1000.0)
    fnrm = F.when(healthy, F.col("nrm"))
    return (base.groupBy(F.col("label").cast("long").alias("label"))
            .agg(F.count("*").alias("n_vecs"),
                 F.sum(F.when(healthy, 0).otherwise(1)).cast("long")
                 .alias("n_flagged"),
                 (dsum(fnrm, 6) / F.count(fnrm)).alias("avg_norm"),
                 F.min(fnrm).alias("min_norm"),
                 F.max(fnrm).alias("max_norm")))


@register(
    "lang_confusion_matrix",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             {", ".join(f"{expr} AS s_{lg}"
                        for lg, expr in LANG_SCORES_SQL.items())}
      FROM (SELECT lang, ' ' || text || ' ' AS p FROM documents)
    )
    SELECT lang AS lang_label, {LANG_ID_SQL} AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2
    """,
    doc="language-ID confusion matrix: the heuristic classifier's "
        "prediction cross-tabulated with the metadata label — the "
        "measured-error eval for the lang-id stage (same posture as "
        "minhash_jaccard_accuracy: a production pipeline trusts its "
        "classifier's MEASURED confusion on its own corpus, not assumed "
        "accuracy). Classifier semantics are the one shared "
        "implementation (functions/text.py::lang_id and its SQL twin); "
        "one map-side scan + a langs x langs aggregate.",
)
def lang_confusion_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (docs.select(F.col("lang").alias("lang_label"),
                        lang_id(F.col("text")).alias("lang_pred"))
            .groupBy("lang_label", "lang_pred")
            .agg(F.count("*").alias("n_docs")))


@register(
    "dedup_rate_by_source",
    oracle=f"""
    WITH h AS (
      SELECT source, doc_id, {TEXT_HASH_SQL} AS text_hash FROM documents
    ),
    canon AS (SELECT text_hash, MIN(doc_id) AS keeper FROM h
              GROUP BY text_hash)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id != keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dups,
           CAST(SUM(CASE WHEN doc_id != keeper THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_rate
    FROM h JOIN canon USING (text_hash)
    GROUP BY source
    """,
    doc="per-source exact-duplicate rate: share of each source's documents "
        "that lose the canonical-min-id exact dedup — the per-provider "
        "observability number a curation run reports (a source with a "
        "high dup rate gets its crawler fixed, not more quota). Same "
        "normalized-hash shuffle as dedup_exact plus one id-keyed join "
        "and a #sources-row aggregate; the rate is one int/int division.",
)
def dedup_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    h = docs.select("source", "doc_id",
                    text_hash(F.col("text")).alias("text_hash"))
    canon = h.groupBy("text_hash").agg(F.min("doc_id").alias("keeper"))
    dup = F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
    return (h.join(canon, "text_hash")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(dup).cast("long").alias("n_exact_dups"),
                 (F.sum(dup).cast("double") / F.count("*"))
                 .alias("dup_rate")))


# ---------------------------------------------------------------------------
# Event analytics (sessionized behavioral rollups)
# ---------------------------------------------------------------------------

# Sessionization semantics (gap constant, boundary rule, tie-break) are
# THE shared core in operators/sessionize.py — the same definition of "a
# session" that session_window_stats (plans/temporal.py) aggregates.
from kafka_flink_processing_spark.operators.sessionize import (  # noqa: E402
    session_cte_sql,
    with_session_id,
)


def _sessionized(events: DataFrame) -> DataFrame:
    """(user_id, session_id, ts, event_type, event_id) via the shared
    sessionizer."""
    return with_session_id(
        events.select("user_id", "ts", "event_type", "event_id"))


@register(
    "session_funnel",
    oracle=f"""
    WITH {session_cte_sql('event_type')},
    v AS (SELECT user_id, session_id, MIN(ts) AS v_ts FROM sess
          WHERE event_type = 'view' GROUP BY 1, 2),
    c AS (SELECT s.user_id, s.session_id, MIN(s.ts) AS c_ts
          FROM sess s JOIN v ON s.user_id = v.user_id
                             AND s.session_id = v.session_id
          WHERE s.event_type = 'click' AND s.ts > v.v_ts GROUP BY 1, 2),
    p AS (SELECT s.user_id, s.session_id
          FROM sess s JOIN c ON s.user_id = c.user_id
                             AND s.session_id = c.session_id
          WHERE s.event_type = 'purchase' AND s.ts > c.c_ts GROUP BY 1, 2)
    SELECT 'session' AS stage, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM (SELECT DISTINCT user_id, session_id FROM sess)
    UNION ALL SELECT 'view', CAST(COUNT(*) AS BIGINT) FROM v
    UNION ALL SELECT 'view_click', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL SELECT 'view_click_purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
    doc="ordered conversion funnel over 30-min-gap sessions: sessions, "
        "sessions with a view, with a click STRICTLY AFTER the first "
        "view, with a purchase strictly after that click — the ordered-"
        "sequence semantics (not mere co-occurrence) that window "
        "functions alone cannot express without the stage-at-a-time "
        "min-ts joins used here. Everything is keyed by (user_id, sidx): "
        "ONE shuffle sessionizes, and the three stage joins co-partition "
        "on the same key, so at 100 TB this is a single exchange plus "
        "narrow stages; the output is 4 rows.",
)
def session_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    sess = _sessionized(events)
    key = ["user_id", "session_id"]
    v = (sess.filter(F.col("event_type") == "view")
         .groupBy(*key).agg(F.min("ts").alias("v_ts")))
    c = (sess.filter(F.col("event_type") == "click")
         .join(v, key).filter(F.col("ts") > F.col("v_ts"))
         .groupBy(*key).agg(F.min("ts").alias("c_ts")))
    p = (sess.filter(F.col("event_type") == "purchase")
         .join(c, key).filter(F.col("ts") > F.col("c_ts"))
         .select(*key).distinct())

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_sessions")) \
                 .select(F.lit(name).alias("stage"), "n_sessions")

    return (stage("session", sess.select(*key).distinct())
            .unionByName(stage("view", v))
            .unionByName(stage("view_click", c))
            .unionByName(stage("view_click_purchase", p)))


@register(
    "retention_cohorts",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day
               FROM events),
    f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="retention-cohort matrix: users bucketed by first-activity day, "
        "counted on each later activity day offset — the standard "
        "retention triangle. The (user, day) relation is DISTINCT before "
        "anything else (so a user's event volume never inflates "
        "retention), the cohort join is user-keyed against the tiny "
        "first-day aggregate, and day arithmetic is integer. COUNT(*) "
        "over the pre-deduped relation replaces COUNT(DISTINCT), keeping "
        "both aggregates map-side-combinable.",
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    d = (events.select("user_id",
                       F.date_trunc("day", F.col("ts")).alias("day"))
         .distinct())
    f = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (d.join(f, "user_id")
            .groupBy("cohort_day",
                     F.datediff(F.to_date("day"), F.to_date("cohort_day"))
                     .cast("long").alias("day_offset"))
            .agg(F.count("*").alias("n_users")))


def _dense_hourly_counts(events: DataFrame) -> DataFrame:
    """(event_type, hour, n_events) over the DENSIFIED per-type hour axis
    (sequence over [first, last] hour, zero-filled) — shared by the
    trailing-mean and MAD anomaly screens so both see outage hours as
    real zero rows."""
    h = (events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                        "event_type")
         .agg(F.count("*").alias("n_events")))
    bounds = h.groupBy("event_type").agg(F.min("hour").alias("h0"),
                                         F.max("hour").alias("h1"))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR")))
         .alias("hour"))
    return (grid.join(h, ["event_type", "hour"], "left")
            .select("event_type", "hour",
                    F.coalesce(F.col("n_events"), F.lit(0)).cast("long")
                    .alias("n_events")))


@register(
    "event_hourly_anomaly",
    oracle="""
    WITH h AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                      CAST(COUNT(*) AS BIGINT) AS n_events
               FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
               FROM h GROUP BY 1),
    grid AS (SELECT event_type,
                    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
             FROM bounds),
    full_h AS (SELECT g.event_type, g.hour,
                      CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events
               FROM grid g LEFT JOIN h
                 ON g.event_type = h.event_type AND g.hour = h.hour),
    w AS (SELECT *,
                 CAST(SUM(n_events) OVER tw AS BIGINT) AS prev_sum,
                 CAST(COUNT(n_events) OVER tw AS BIGINT) AS n_prev
          FROM full_h
          WINDOW tw AS (PARTITION BY event_type ORDER BY hour
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT hour, event_type, n_events,
           CAST(prev_sum AS DOUBLE) / n_prev AS trailing_avg,
           CAST(n_events * n_prev AS DOUBLE) / prev_sum AS rate_ratio,
           (n_events * n_prev >= 2 * prev_sum
            OR 2 * n_events * n_prev <= prev_sum) AS is_anomaly
    FROM w WHERE n_prev >= 12 AND prev_sum > 0
    """,
    doc="hourly event-rate anomaly screen: each (hour, event_type) count "
        "against its trailing-24-WALL-CLOCK-hour mean (current hour "
        "excluded), flagged at 2x/0.5x. The hour axis is DENSIFIED per "
        "type (sequence over [first, last] hour, zero-filled), so empty "
        "hours are real rows: a drop-to-zero outage flags as a low "
        "anomaly and the trailing frame never reaches past a gap into "
        "week-old rates — the ROWS frame over the dense grid IS a "
        "wall-clock frame. The anomaly test is pure INTEGER cross-"
        "multiplication (n*n_prev vs 2*prev_sum); the reported ratio is "
        "one int/int division; dead trailing windows (prev_sum=0, "
        "ratio undefined) are excluded. Cost: one hourly pre-aggregate "
        "(map-side), a per-type grid of ~hours rows, one row-frame "
        "window over ~hours x types rows.",
)
def event_hourly_anomaly_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    full_h = _dense_hourly_counts(events)
    tw = (Window.partitionBy("event_type").orderBy("hour")
          .rowsBetween(-24, -1))
    w = (full_h.withColumn("prev_sum", F.sum("n_events").over(tw))
         .withColumn("n_prev", F.count("n_events").over(tw)))
    return (w.filter((F.col("n_prev") >= 12) & (F.col("prev_sum") > 0))
            .select("hour", "event_type", "n_events",
                    (F.col("prev_sum").cast("double") / F.col("n_prev"))
                    .alias("trailing_avg"),
                    ((F.col("n_events") * F.col("n_prev")).cast("double")
                     / F.col("prev_sum")).alias("rate_ratio"),
                    ((F.col("n_events") * F.col("n_prev")
                      >= 2 * F.col("prev_sum"))
                     | (2 * F.col("n_events") * F.col("n_prev")
                        <= F.col("prev_sum"))).alias("is_anomaly")))


# ---------------------------------------------------------------------------
# Round-5 depth: event transitions, Zipf fit, IVF probe sweep
# ---------------------------------------------------------------------------

@register(
    "event_transition_matrix",
    oracle="""
    WITH nxt AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events)
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY from_type) AS p
    FROM nxt WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
    doc="first-order Markov transition matrix over per-user event "
        "sequences: P(next event type | current), the behavioral-model "
        "summary (and input to next-action prediction features) a product "
        "analytics stack derives from the reference's event stream. ONE "
        "user-keyed exchange for the LEAD ordering — the same partitioning "
        "the sessionizer uses, so in a multi-query pass it reuses that "
        "shuffle — then a types^2-cell aggregate (25 rows here) whose "
        "row-probability normalization is a window over the tiny matrix, "
        "not the event stream. The probability is one int/int division, "
        "deterministic cross-engine.",
)
def event_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir) \
        .select("user_id", "ts", "event_id", "event_type")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (events
             .withColumn("to_type", F.lead("event_type").over(wu))
             .filter(F.col("to_type").isNotNull())
             .select(F.col("event_type").alias("from_type"), "to_type"))
    counts = pairs.groupBy("from_type", "to_type") \
                  .agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("from_type")
    return counts.withColumn(
        "p", F.col("n").cast("double") / F.sum("n").over(wrow))


_ZIPF_TOP = 1000


@register(
    "vocab_zipf_slope",
    oracle=f"""
    WITH tok AS (SELECT unnest({TOKENS_SQL}) AS token FROM documents),
    counts AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
    ranked AS (SELECT * FROM (
        SELECT freq,
               ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
        FROM counts) WHERE rank <= {_ZIPF_TOP}),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   {moment_sums_sql('ln(rank)', 'ln(freq)')}
            FROM ranked)
    SELECT n AS n_tokens, {ols_slope_sql('n')} AS zipf_slope,
           {ols_intercept_sql('n')} AS zipf_intercept
    FROM agg
    """,
    doc="Zipf's-law fit over the top-1000 token vocabulary: least-squares "
        "slope/intercept of ln(freq) on ln(rank) — the corpus-health "
        "diagnostic (natural text sits near slope -1; scraped boilerplate "
        "and template spam bend the curve) a curation run checks before "
        "and after filtering. The token count is the same map-side-"
        "combined explode->count as vocab_top_tokens; ranking is "
        "TakeOrderedAndProject to the bounded top-K, so the single-"
        "partition row_number touches 1000 rows, never the vocabulary. "
        "Cross-engine exactness: each ln() term is rounded to 6dp and "
        "summed exactly, so the closed-form slope runs on bit-identical "
        "sums in both engines; one distinct token has no slope (NULL).",
)
def vocab_zipf_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("freq"))
    top = counts.orderBy(F.desc("freq"), "token").limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), "token")))
    lr, lf = F.log(F.col("rank").cast("double")), F.log("freq")
    agg = ranked.agg(F.count("*").alias("n"), *moment_sums(lr, lf))
    return agg.select(F.col("n").alias("n_tokens"),
                      ols_slope("n").alias("zipf_slope"),
                      ols_intercept("n").alias("zipf_intercept"))


_NPROBES = (1, 2, 4, 8)


@register(
    "ivf_probe_sweep",
    oracle=f"""
    WITH {UNIT_INFO_CTE}, {ivf_cells_cte(IVF_CENTROIDS)},
    bf AS ({bruteforce_topk_sql(range(5), 10)}),
    truth AS (SELECT b.query_id, q.rn
              FROM bf b JOIN asg a ON a.vec_id = b.cand_id
              JOIN asgj q ON q.vec_id = b.query_id AND q.cid = a.cell)
    SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN t.rn <= np.nprobe THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           CAST(SUM(CASE WHEN t.rn <= np.nprobe THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS recall_at_10
    FROM truth t CROSS JOIN (SELECT unnest({list(_NPROBES)}) AS nprobe) np
    GROUP BY np.nprobe
    """,
    doc="recall@10 as a function of nprobe (1/2/4/8 of 16 cells) for the "
        "IVF index — the tuning curve behind the IVF_NPROBE constant, "
        "companion to lsh_threshold_sweep. Key identity making the sweep "
        "one pass instead of a retrieval per setting: with matching k, a "
        "true top-10 neighbor is recalled at nprobe=p iff its cell's rank "
        "in the query's probe ordering is <= p (any candidate outranking "
        "it in the probed set would outrank it globally too). So: brute-"
        "force ground truth (driver-verified standalone) + the corpus "
        "cell assignment (broadcast codebook, map-side argmax, the SAME "
        "single exchange as similarity_ivf_topk) + the query's full cell "
        "ranking, joined on the 50-row truth set, then a conditional "
        "aggregate over nprobe x truth — O(corpus) work once, O(50) per "
        "added sweep point.",
)
def ivf_probe_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        _probe_order,
        _scored_cells,
        assign_cells,
        cosine_topk,
        with_unit_info,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    bf = cosine_topk(emb, query_ids=range(5), k=10) \
        .select("query_id", "cand_id")
    base = with_unit_info(emb)
    scored = _scored_cells(base, IVF_CENTROIDS)
    asg = assign_cells(base, IVF_CENTROIDS).select("vec_id", "cell")
    qrank = (_probe_order(scored.filter(F.col("vec_id") < 5))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("cid").cast("long").alias("cell"), "rn"))
    truth = (bf.join(asg, bf.cand_id == asg.vec_id)
             .join(qrank, ["query_id", "cell"])
             .select("query_id", "rn"))
    nprobes = F.explode(F.array(*[F.lit(p) for p in _NPROBES])).alias("np_i")
    return (truth.select("rn", nprobes)
            .select("rn", F.col("np_i").cast("long").alias("nprobe"))
            .groupBy("nprobe")
            .agg(F.count("*").alias("n_true"),
                 F.sum(F.when(F.col("rn") <= F.col("nprobe"), 1)
                       .otherwise(0)).cast("long").alias("n_hit"))
            .withColumn("recall_at_10",
                        F.col("n_hit").cast("double") / F.col("n_true")))


@register(
    "heavy_hitters_mg",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS words FROM documents),
    g AS (SELECT words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS g
          FROM t, unnest(range(1, len(words) - 1)) AS u(i)
          WHERE len(words) >= 3)
    SELECT g, CAST(COUNT(*) AS BIGINT) AS freq
    FROM g GROUP BY g ORDER BY freq DESC, g LIMIT 100
    """,
    doc="exact top-100 word trigrams via the two-pass Misra-Gries heavy "
        "hitter (operators/sketch.py): per-partition bounded-memory "
        "sketch -> broadcast candidate filter -> exact recount. The "
        "oracle is the plain full-universe top-100, which the sketch "
        "path must reproduce EXACTLY (candidate superset guaranteed "
        "while freq_100 > N/(C+1); C=16384 covers every driver SF with "
        "headroom, see sketch.py sizing rule). This is the operator "
        "that replaces the universe-sized shuffle of vocab_top_tokens "
        "when the gram universe stops fitting — the exchange carries "
        "only candidates x partitions partial counts.",
    bench=True,  # first benched r5: the Arrow sketch pass needs a floor
)
def heavy_hitters_mg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.sketch import (
        heavy_hitters_topk,
    )
    return heavy_hitters_topk(_trigram_rows(spark, sf_dir), k=100)


def _trigram_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram ROWS (with duplicates — a counting stream, unlike the dedup
    shingle SETS), same raw-split word convention as _WORDS."""
    docs = load_table(spark, "documents", sf_dir)
    words = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(words) - 2)
    gram = F.transform(idx, lambda i: F.concat_ws(
        " ", F.element_at(words, i), F.element_at(words, i + 1),
        F.element_at(words, i + 2)))
    return docs.select(
        F.explode(F.when(F.size(words) < 3,
                         F.array().cast("array<string>"))
                  .otherwise(gram)).alias("g"))


@register(
    "heavy_hitters_adaptive",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS words FROM documents),
    g AS (SELECT words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS g
          FROM t, unnest(range(1, len(words) - 1)) AS u(i)
          WHERE len(words) >= 3)
    SELECT g, CAST(COUNT(*) AS BIGINT) AS freq
    FROM g GROUP BY g ORDER BY freq DESC, g LIMIT 100
    """,
    doc="exact top-100 trigrams through the MECHANICAL plan chooser "
        "(operators/sketch.py::heavy_hitters_auto, r6 verdict task): an "
        "approx_count_distinct probe (one map-side HLL pass) measures the "
        "gram universe and picks the plain one-shuffle aggregation below "
        "the 2x-capacity crossover, the two-pass Misra-Gries sketch above "
        "it — the cost rule SCALE.md's scaling-curve honestly recorded "
        "(plain agg wins at this corpus's small vocab; MG exists for the "
        "trillion-key regime), now encoded so the right plan is selected "
        "from data statistics, not documentation. Both branches produce "
        "the identical exact ordered top-k; the oracle is the same plain "
        "full-universe SQL as heavy_hitters_mg, which both branches must "
        "reproduce bit-exactly.",
    bench=True,  # joined the headline r8: first-round floor rule (BASELINE.md)
)
def heavy_hitters_adaptive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.sketch import (
        heavy_hitters_auto,
    )
    return heavy_hitters_auto(_trigram_rows(spark, sf_dir), k=100)


_ES_SALT = "samp:"
_ES_DENOM = float(1 << 60)
_SAMPLE_PER_LANG = 32


@register(
    "weighted_sample_wor",
    oracle=f"""
    WITH k AS (
      SELECT doc_id, lang,
             ROUND(ln(({md5_hash60_sql(f"'{_ES_SALT}' || CAST(doc_id AS VARCHAR)")}
                        + 1) / {_ES_DENOM})
                   / (({QUALITY_SQL}) + 0.01), 6) AS skey
      FROM documents),
    r AS (SELECT doc_id, lang, skey,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY skey DESC, doc_id) AS smp_rank
          FROM k)
    SELECT doc_id, lang, skey, CAST(smp_rank AS BIGINT) AS smp_rank
    FROM r WHERE smp_rank <= {_SAMPLE_PER_LANG}
    """,
    doc="quality-weighted sampling WITHOUT replacement, 32 docs per "
        "language: Efraimidis-Spirakis exponential-clock keys "
        "ln(u)/w with u from the salted doc_id hash (the train_test_split "
        "/ mix_temperature_sample determinism idiom — reproducible on any "
        "cluster size, partition count, or retry; no rand()) and "
        "w = quality + 0.01. Top-k by key IS a weighted WOR draw "
        "(Efraimidis & Spirakis 2006), so high-quality docs are "
        "proportionally likelier but every doc has positive probability — "
        "the standard quality-weighted subsample for curation/eval-set "
        "construction. Keys are rounded to 6dp with a doc_id tie-break so "
        "the per-lang rank is cross-engine stable; per-group top-k plans "
        "as WindowGroupLimit (partial top-N before the one exchange on "
        "lang). Scale: O(1) state per group in the window operator, no "
        "global sort.",
)
def weighted_sample_wor_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    u = (md5_hash60(F.concat(F.lit(_ES_SALT),
                             F.col("doc_id").cast("string"))) + 1) \
        / F.lit(_ES_DENOM)
    w = quality_score(F.col("text")) + 0.01
    k = docs.select("doc_id", "lang",
                    F.round(F.log(u) / w, 6).alias("skey"))
    wr = Window.partitionBy("lang").orderBy(F.col("skey").desc(), "doc_id")
    return (k.withColumn("smp_rank", F.row_number().over(wr).cast("long"))
            .filter(F.col("smp_rank") <= _SAMPLE_PER_LANG))


@register(
    "corpus_entropy_by_source",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({TOKENS_SQL}) AS token
                 FROM documents),
    c AS (SELECT source, token, COUNT(*) AS f FROM tok GROUP BY 1, 2),
    a AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS vocab_size,
                 {dsum_sql('f * ln(f)', 6)} AS s
          FROM c GROUP BY source)
    SELECT source, n_tokens, vocab_size,
           ROUND(ln(n_tokens) - s / n_tokens, 6) AS entropy_nats,
           CASE WHEN vocab_size > 1
                THEN ROUND((ln(n_tokens) - s / n_tokens)
                           / ln(vocab_size), 6)
                ELSE CAST(NULL AS DOUBLE) END AS entropy_norm
    FROM a
    """,
    doc="unigram Shannon entropy per source, H = ln N - (1/N)*sum(c*ln c) "
        "— the lexical-diversity health metric (template spam and "
        "boilerplate-heavy providers show depressed normalized entropy; "
        "companion to vocab_zipf_slope's rank-frequency view). The "
        "identity form needs only the per-(source, token) counts — one "
        "map-side-combined aggregate, then a #sources-row reduction — "
        "never a probability materialization. Cross-engine exactness: "
        "the inner transcendental sum (c*ln c) is 6dp-rounded into "
        "scaled int64 (functions/exact.py), and the OUTER entropy "
        "columns are 6dp-pinned too, because ln is the one libm call "
        "whose last ulp differs between the JVM and DuckDB (the "
        "bm25/tfidf decision; a third-seed r9 fuzz sweep caught "
        "entropy_norm one ulp apart on a random-ASCII corpus) — the "
        "residual half-ulp-at-a-rounding-boundary risk is the same one "
        "every ROUND-pinned key in the repo accepts. entropy_norm = "
        "H/ln(vocab) in [0,1], NULL for a degenerate single-token "
        "source (both engines propagate the CASE identically).",
)
def corpus_entropy_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("source",
                      F.explode(tokens(F.col("text"))).alias("token"))
    c = tok.groupBy("source", "token").agg(F.count("*").alias("f"))
    a = c.groupBy("source").agg(
        F.sum("f").alias("n_tokens"),
        F.count("*").alias("vocab_size"),
        dsum(F.col("f") * F.log(F.col("f").cast("double")), 6).alias("s"))
    h = F.log(F.col("n_tokens").cast("double")) - F.col("s") / F.col("n_tokens")
    return a.select(
        "source", "n_tokens", "vocab_size",
        F.round(h, 6).alias("entropy_nats"),
        F.when(F.col("vocab_size") > 1,
               F.round(h / F.log(F.col("vocab_size").cast("double")), 6))
        .otherwise(F.lit(None).cast("double")).alias("entropy_norm"))


_SKEW_KEYSPACES = (
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
)


def _skew_leg_sql(i: int, name: str, table: str, key: str) -> str:
    return f"""
    SELECT '{name}' AS keyspace,
           (SELECT CAST(SUM(c) AS BIGINT) FROM k{i}) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM k{i}) AS n_keys,
           CAST(c AS BIGINT) AS max_count,
           CAST(key AS BIGINT) AS hot_key,
           CAST(c * (SELECT COUNT(*) FROM k{i}) AS DOUBLE)
             / (SELECT SUM(c) FROM k{i}) AS skew_ratio
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC, key) AS rn
          FROM k{i}) WHERE rn = 1"""


@register(
    "key_skew_report",
    oracle="WITH "
           + ", ".join(
               f"k{i} AS (SELECT CAST({key} AS BIGINT) AS key, "
               f"COUNT(*) AS c FROM {table} GROUP BY 1)"
               for i, (_, table, key) in enumerate(_SKEW_KEYSPACES))
           + " UNION ALL ".join(
               _skew_leg_sql(i, name, table, key)
               for i, (name, table, key) in enumerate(_SKEW_KEYSPACES)),
    doc="pre-join skew audit over the engine's hot join keys: per "
        "keyspace, row count, distinct-key count, the hottest key and its "
        "frequency, and skew_ratio = max_count / mean_count — the "
        "diagnostic you read BEFORE choosing between a plain shuffle "
        "join, AQE skew splitting, and explicit salting "
        "(operators/skew.py) on a 100 TB fact table; ratios near 1 mean "
        "uniform, large ratios mean the hot key dominates its partition. "
        "Each keyspace is one map-side-combined count over the distinct "
        "keys, reduced by a single aggregate with an ORDER-struct max_by "
        "(max count, then smallest key — deterministic cross-engine); "
        "the Spark side has NO global sort or window, and the whole "
        "report is #keyspaces rows.",
)
def key_skew_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs = []
    for name, table, key in _SKEW_KEYSPACES:
        c = (load_table(spark, table, sf_dir)
             .select(F.col(key).cast("long").alias("key"))
             .groupBy("key").agg(F.count("*").alias("c")))
        tie = F.struct(F.col("c").alias("c"), (-F.col("key")).alias("nk"))
        agg = c.agg(F.sum("c").alias("n_rows"),
                    F.count("*").alias("n_keys"),
                    F.max("c").alias("max_count"),
                    F.max_by("key", tie).alias("hot_key"))
        legs.append(agg.select(
            F.lit(name).alias("keyspace"), "n_rows", "n_keys",
            "max_count", "hot_key",
            ((F.col("max_count") * F.col("n_keys")).cast("double")
             / F.col("n_rows")).alias("skew_ratio")))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@register(
    "funnel_time_to_convert",
    oracle=f"""
    WITH {session_cte_sql('event_type')},
    v AS (SELECT user_id, session_id, MIN(epoch_us(ts)) AS tv
          FROM sess WHERE event_type = 'view' GROUP BY 1, 2),
    p AS (SELECT s.user_id, s.session_id, MIN(epoch_us(s.ts)) AS tp
          FROM sess s JOIN v ON s.user_id = v.user_id
                             AND s.session_id = v.session_id
          WHERE s.event_type = 'purchase' AND epoch_us(s.ts) > v.tv
          GROUP BY 1, 2),
    d AS (SELECT p.tp - v.tv AS dt FROM v
          JOIN p ON v.user_id = p.user_id AND v.session_id = p.session_id),
    r AS ({ranked_sql('d', (), ('dt',))})
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           {middle_mean_sql('dt')} AS median_us,
           (SELECT CAST(MIN(dt) AS BIGINT) FROM d) AS min_us,
           (SELECT CAST(MAX(dt) AS BIGINT) FROM d) AS max_us
    FROM r WHERE {MIDDLE_RANKS_SQL}
    """,
    doc="in-session time-to-convert: for every session whose first view "
        "is later followed by a purchase (same strict ordering as "
        "session_funnel), the view->purchase latency in integer "
        "microseconds, reduced to count/median/min/max — the funnel's "
        "companion LATENCY metric (stage counts say how many convert, "
        "this says how fast). Exact median via the rank-selection idiom "
        "(median_value_by_type); durations are integer microsecond "
        "differences so every statistic is cross-engine exact. Cost: the "
        "ONE sessionizer exchange, two per-session min-aggregates that "
        "co-partition with it, and a rank over the converted-session "
        "durations (O(conversions), not O(events)).",
)
def funnel_time_to_convert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.sessionize import (
        with_session_id,
    )
    ev = load_table(spark, "events", sf_dir)
    sess = with_session_id(ev)
    us = F.unix_micros(F.col("ts"))
    v = (sess.filter(F.col("event_type") == "view")
         .groupBy("user_id", "session_id").agg(F.min(us).alias("tv")))
    p = (sess.filter(F.col("event_type") == "purchase")
         .select("user_id", "session_id", us.alias("tp"))
         .join(v, ["user_id", "session_id"])
         .filter(F.col("tp") > F.col("tv"))
         .groupBy("user_id", "session_id").agg(F.min("tp").alias("tp")))
    d = p.join(v, ["user_id", "session_id"]) \
         .select((F.col("tp") - F.col("tv")).alias("dt"))
    mid = with_ranks(d, (), ("dt",)).filter(middle_ranks())
    stats = d.agg(F.min("dt").alias("min_us"), F.max("dt").alias("max_us"))
    return (mid.agg(F.max("n").cast("long").alias("n_converted"),
                    middle_mean("dt").alias("median_us"))
            .crossJoin(F.broadcast(stats)))


# Count-min sketch parameters: d pairwise-independent hash rows of width w.
# The hash family is an explicit affine map modulo a Mersenne prime (NOT an
# engine hash builtin), so the Spark plan and the DuckDB oracle compute
# bit-identical buckets — the sketch itself is oracle-checkable, unlike
# most "approximate" operators.
_CMS_P = 2_147_483_647          # 2^31 - 1
_CMS_W = 512                    # buckets per row
_CMS_HASHES = (                 # (j, a, b): classic LCG multipliers
    (0, 1103515245, 12345),
    (1, 214013, 2531011),
    (2, 69069, 362437),
    (3, 1664525, 1013904223),
)
_CMS_PROBE_MOD = 7              # deterministic probe subset: user_id % 7 = 0

_CMS_HASH_SQL = ", ".join(f"({j}, {a}, {b})" for j, a, b in _CMS_HASHES)


@register(
    "cms_freq_estimate",
    oracle=f"""
    WITH h(j, a, b) AS (VALUES {_CMS_HASH_SQL}),
    cells AS (SELECT h.j,
                     ((h.a * (e.user_id % {_CMS_P}) + h.b) % {_CMS_P})
                       % {_CMS_W} AS bucket
              FROM events e, h),
    sketch AS (SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM cells GROUP BY 1, 2),
    exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
              FROM events WHERE user_id % {_CMS_PROBE_MOD} = 0 GROUP BY 1),
    probes AS (SELECT e.user_id, e.exact_n, h.j,
                      ((h.a * (e.user_id % {_CMS_P}) + h.b) % {_CMS_P})
                        % {_CMS_W} AS bucket
               FROM exact e, h)
    SELECT p.user_id, p.exact_n, MIN(s.cnt) AS cms_n,
           MIN(s.cnt) - p.exact_n AS overestimate
    FROM probes p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
    GROUP BY 1, 2
    """,
    doc="count-min sketch frequency estimation, expressed ENTIRELY as "
        "DataFrame algebra: d={d} affine-mod-prime hash rows of w={w} "
        "buckets build the sketch in ONE map-side-combined aggregate over "
        "the d-way exploded stream (the sketch is d*w = {cells} counters "
        "regardless of corpus size — the merge across partitions IS the "
        "partial aggregation, no custom accumulator needed); estimates "
        "for a deterministic probe set join the probe buckets against the "
        "BROADCAST sketch and take min-over-rows. The output carries "
        "exact_n next to cms_n so the one-sided error (overestimate >= 0, "
        "E[err] <= 2N/w) is measured, not assumed — and because the hash "
        "family is explicit integer arithmetic, the whole sketch "
        "hash-matches the SQL oracle exactly. The CMS complements "
        "heavy_hitters_mg: MG answers 'which keys are frequent', CMS "
        "answers point queries over keys you name, in bounded memory at "
        "any scale. tests/test_market_r5.py adds the one-sided error-"
        "bound property check.".format(
            d=len(_CMS_HASHES), w=_CMS_W,
            cells=len(_CMS_HASHES) * _CMS_W),
    bench=True,  # first benched r5: sketch-build + broadcast-probe floor
)
def cms_freq_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("user_id")
    hashes = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), F.lit(a).alias("a"),
                 F.lit(b).alias("b"))
        for j, a, b in _CMS_HASHES])).alias("h")

    def bucket() -> F.Column:
        return ((F.col("h.a") * (F.col("user_id") % _CMS_P) + F.col("h.b"))
                % _CMS_P) % _CMS_W

    cells = ev.select("user_id", hashes).select(
        F.col("h.j").alias("j"), bucket().alias("bucket"))
    sketch = cells.groupBy("j", "bucket").agg(F.count("*").alias("cnt"))
    exact = (ev.filter(F.col("user_id") % _CMS_PROBE_MOD == 0)
             .groupBy("user_id").agg(F.count("*").alias("exact_n")))
    probes = exact.select("user_id", "exact_n", hashes).select(
        "user_id", "exact_n", F.col("h.j").alias("j"),
        bucket().alias("bucket"))
    return (probes.join(F.broadcast(sketch), ["j", "bucket"])
            .groupBy("user_id", "exact_n")
            .agg(F.min("cnt").alias("cms_n"))
            .select("user_id", "exact_n", "cms_n",
                    (F.col("cms_n") - F.col("exact_n"))
                    .alias("overestimate")))


# The per-type median/MAD rank-selection idiom: one dense CTE shared with
# event_hourly_anomaly's oracle, then two integer order-statistic passes.
_MAD_DENSE_SQL = """
    h AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
               FROM h GROUP BY 1),
    grid AS (SELECT event_type,
                    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
             FROM bounds),
    full_h AS (SELECT g.event_type, g.hour,
                      CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events
               FROM grid g LEFT JOIN h
                 ON g.event_type = h.event_type AND g.hour = h.hour)
"""


@register(
    "event_rate_mad_outliers",
    oracle=f"""
    WITH {_MAD_DENSE_SQL},
    r1 AS ({ranked_sql('full_h', ('event_type',), ('n_events', 'hour'))}),
    med AS (SELECT event_type, {middle_sum_sql('n_events')} AS med2
            FROM r1 GROUP BY 1),
    dev AS (SELECT f.event_type, f.hour, f.n_events, m.med2,
                   ABS(2 * f.n_events - m.med2) AS d
            FROM full_h f JOIN med m ON f.event_type = m.event_type),
    r2 AS ({ranked_sql('dev', ('event_type',), ('d', 'hour'))}),
    mad AS (SELECT event_type, {middle_sum_sql('d')} AS mad2
            FROM r2 GROUP BY 1)
    SELECT v.event_type, v.hour, v.n_events,
           CAST(v.med2 AS DOUBLE) / 2.0 AS median_rate,
           CAST(a.mad2 AS DOUBLE) / 4.0 AS mad,
           CAST(v.d AS DOUBLE) / 2.0
             > 3.0 * 1.4826 * (CAST(a.mad2 AS DOUBLE) / 4.0) AS is_outlier
    FROM dev v JOIN mad a ON v.event_type = a.event_type
    """,
    doc="robust hourly-rate outlier screen per event type: each dense-grid "
        "hourly count against the TYPE'S EXACT median and median-absolute-"
        "deviation, flagged at |x - med| > 3 * 1.4826 * MAD (the robust "
        "z-score; 1.4826 scales MAD to sigma under normality). Complements "
        "event_hourly_anomaly's trailing-mean ratio: the MAD baseline is "
        "immune to the very outliers/outages it is hunting, where a "
        "mean/stddev screen masks itself. Exact order statistics via the "
        "rank-selection idiom with doubled-integer medians (med2 = a + b "
        "over the two middle ranks, so a .5 median never touches a float "
        "until the final report columns) — every comparison is integer or "
        "a single IEEE op on identical integers in both engines; "
        "(n_events, hour) / (d, hour) tie-breaks keep the ranks "
        "deterministic. A zero-MAD type (over half its hours identical) "
        "flags ANY deviation — standard MAD behavior, documented not "
        "hidden. Scale: the grid is wall-clock hours x types (bounded by "
        "time, not corpus rows); two rank windows + two broadcast-sized "
        "per-type joins over it — the only corpus-sized pass is the "
        "hourly pre-aggregate, map-side combined.",
)
def event_rate_mad_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, "events", sf_dir)
    full_h = _dense_hourly_counts(events)

    med = (with_ranks(full_h, ("event_type",), ("n_events", "hour"))
           .groupBy("event_type").agg(middle_sum("n_events").alias("med2")))
    dev = (full_h.join(F.broadcast(med), "event_type")
           .withColumn("d", F.abs(2 * F.col("n_events") - F.col("med2"))))
    mad = (with_ranks(dev, ("event_type",), ("d", "hour"))
           .groupBy("event_type").agg(middle_sum("d").alias("mad2")))
    out = dev.join(F.broadcast(mad), "event_type")
    madv = F.col("mad2").cast("double") / 4.0
    return out.select(
        "event_type", "hour", "n_events",
        (F.col("med2").cast("double") / 2.0).alias("median_rate"),
        madv.alias("mad"),
        (F.col("d").cast("double") / 2.0 > 3.0 * 1.4826 * madv)
        .alias("is_outlier"))


@register(
    "embedding_pca_variance",
    oracle=None,  # eigendecomposition is not SQL-expressible; rows-only +
                  # the numpy differential test in tests/test_market_r5.py
    doc="PCA explained-variance spectrum of the embedding corpus — the "
        "diagnostic that sizes dimensionality reduction before ANN "
        "compression (how many components carry 95% of the variance "
        "decides the OPQ/PCA target dim). Distributed exactly like "
        "large-scale PCA is done in practice: ONE Arrow mapInPandas pass "
        "emits per-batch partial (count, sum-vector, d x d Gramian) rows "
        "— O(d^2) floats per batch, independent of batch row count — a "
        "posexplode + groupBy(pos) reduces the partials map-side-combined "
        "(never a d^2-per-ROW fan-out), and only the d x d covariance "
        "(64 x 64 here) reaches the driver for numpy eigh. The collect "
        "is O(d^2) — the same bounded-driver-state class as the k-means "
        "K x d partial sums, correct at any corpus size. Output: one row "
        "per component with eigenvalue, explained ratio, and the "
        "cumulative curve.",
)
def embedding_pca_variance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, "embeddings", sf_dir).select("embedding")

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            g = X.T @ X
            yield pd.DataFrame({
                "n": [len(X)],
                "s": [X.sum(axis=0).tolist()],
                "g": [g.ravel().tolist()],
            })

    # persist the tiny partials table (O(partitions) rows) so the three
    # reductions below read it instead of re-running the corpus pass
    part = emb.mapInPandas(
        partials, schema="n long, s array<double>, g array<double>").persist()
    try:
        # map-side-combined reduction of the partial vectors: (pos, value)
        # rows, summed per position — the shuffle carries
        # O(partitions * d^2) rows, never O(corpus)
        svec = (part.select(F.posexplode("s").alias("pos", "v"))
                .groupBy("pos").agg(F.sum("v").alias("v")).collect())
        gvec = (part.select(F.posexplode("g").alias("pos", "v"))
                .groupBy("pos").agg(F.sum("v").alias("v")).collect())
        n_total = part.agg(F.sum("n")).collect()[0][0]
    finally:
        part.unpersist()
    schema = ("component long, eigenvalue double, explained_ratio double, "
              "cumulative_ratio double")
    if n_total is None or n_total < 2:
        # empty (or single-vector) corpus: no covariance to decompose —
        # empty result, same schema (the repo-wide empty-input contract)
        return spark.createDataFrame([], schema)
    d = len(svec)
    s = np.zeros(d)
    for r in svec:
        s[r.pos] = r.v
    g = np.zeros(d * d)
    for r in gvec:
        g[r.pos] = r.v
    g = g.reshape(d, d)
    mu = s / n_total
    cov = (g - n_total * np.outer(mu, mu)) / (n_total - 1)
    evals = np.linalg.eigvalsh(cov)[::-1]          # descending
    evals = np.clip(evals, 0.0, None)              # fp eigh can dip < 0
    total = float(evals.sum())
    cum = np.cumsum(evals) / total
    rows = [(int(i), float(evals[i]), float(evals[i] / total),
             float(cum[i])) for i in range(d)]
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# r5 late pack B: retrieval scoring
# ---------------------------------------------------------------------------

# A fixed curation query: score every document against these terms. In a
# production curation run the term list is the "high-quality-like" probe
# set (or one list per domain); it is always small and broadcast.
_BM25_TERMS = ("join", "window", "stream", "hash", "batch")
_BM25_K1 = 1.5   # exact in binary, so k1-arithmetic is cross-engine exact
_BM25_B = 0.75   # likewise
_BM25_SCALE = 10 ** 6  # per-term fixed-point scale for the order-free sum

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "bm25_rank",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM w),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(dl) AS BIGINT) AS tot_dl FROM dl),
    tok AS (SELECT doc_id, unnest(w) AS term FROM w),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    s AS (SELECT tf.doc_id, tf.tf, df.df, dl.dl, st.n_docs, st.tot_dl
          FROM tf JOIN df USING (term)
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
    t AS (SELECT doc_id,
                 ((n_docs - df + 0.5) / (df + 0.5))
                 * ((tf * {_BM25_K1 + 1.0})
                    / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B}
                         * (dl / (CAST(tot_dl AS DOUBLE) / n_docs)))))
                   AS term_score
          FROM s)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(CAST(ROUND(term_score * {_BM25_SCALE}) AS BIGINT))
                AS DOUBLE) / {float(_BM25_SCALE)} AS score
    FROM t GROUP BY 1
    """,
    doc="BM25 relevance score of every document against a fixed probe "
        "term set (k1=1.5, b=0.75) — the retrieval-quality filter of a "
        "curation pipeline: rank the corpus by affinity to a target "
        "domain, keep (or up-sample) the head. idf uses the RAW odds "
        "ratio (N - df + 0.5)/(df + 0.5), NOT its logarithm — monotone "
        "in the textbook log-idf so ranking is unchanged, and it keeps "
        "the score inside rational IEEE arithmetic (ln is the one libm "
        "call whose last ulp differs between the JVM and DuckDB — the "
        "same decision tfidf_top_terms documents). Every per-(doc, term) "
        "score is rounded to scaled int64 BEFORE the per-doc sum, so the "
        "reduction is order-free. Scale: the Spark plan never explodes "
        "tokens and never shuffles doc-sized data — per-doc dl and "
        "per-probe-term tf are computed MAP-SIDE as array algebra "
        "(size(filter(w, ...)) per term, a fixed |terms|-wide column "
        "block), the ONLY exchange is the one-row corpus-stats aggregate "
        "(n_docs, tot_dl, df per term), which broadcasts back, and the "
        "score is row-local arithmetic over the tf columns. Two narrow "
        "passes over the token arrays total (stats + score); at 100 TB "
        "persist the doc_id+dl+tf projection (~50 B/doc, the memo "
        "pattern operators/dedup.py uses for shingles) to make it one. "
        "The oracle keeps the relational explode/join form — same "
        "arithmetic, engine-idiomatic shape for each side.",
)
def bm25_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    nt = len(_BM25_TERMS)
    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id", F.split("text", " ").alias("w")))
    tf_cols = [F.expr(f"size(filter(w, x -> x = '{t}'))").cast("long")
                .alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)]
    per = docs.select("doc_id", F.size("w").cast("long").alias("dl"),
                      *tf_cols)
    stats = per.agg(F.count("*").alias("n_docs"),
                    F.sum("dl").alias("tot_dl"),
                    *[F.sum((F.col(f"tf{i}") > 0).cast("long"))
                       .alias(f"df{i}") for i in range(nt)])
    s = per.crossJoin(F.broadcast(stats))
    # identical expression tree to the oracle: idf * (tf*(k1+1) / denom),
    # each per-term score rounded to scaled int64 before the row-local sum
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs")

    def ts_i(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = (F.col("n_docs") - df + 0.5) / (df + 0.5)
        denom = tf + _BM25_K1 * (1.0 - _BM25_B
                                 + _BM25_B * (F.col("dl") / avgdl))
        score = idf * ((tf * (_BM25_K1 + 1.0)) / denom)
        return F.when(tf > 0, F.round(score * _BM25_SCALE).cast("long")) \
                .otherwise(F.lit(0).cast("long"))

    n_terms = sum(((F.col(f"tf{i}") > 0).cast("long") for i in range(nt)),
                  F.lit(0).cast("long"))
    total = sum((ts_i(i) for i in range(nt)), F.lit(0).cast("long"))
    return (s.filter(n_terms > 0)
             .select("doc_id", n_terms.alias("n_terms"),
                     (total.cast("double")
                      / float(_BM25_SCALE)).alias("score")))


# --- r6: single-pass column profiler -------------------------------------

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]


def _profile_leg_sql(col: str) -> str:
    v = f"epoch({col})" if col == "l_shipdate" else col
    return (f"SELECT '{col}' AS column_name, "
            f"CAST(COUNT(*) AS BIGINT) AS n_rows, "
            f"CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_null, "
            f"CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct, "
            f"CAST(MIN({v}) AS DOUBLE) AS min_val, "
            f"CAST(MAX({v}) AS DOUBLE) AS max_val FROM lineitem")


@register(
    "column_profile",
    oracle=" UNION ALL ".join(_profile_leg_sql(c) for c in _PROFILE_COLS),
    doc="single-pass data-profiling report over the fact table's measure "
        "columns: per column, row/null/EXACT-distinct counts and min/max "
        "(timestamps profiled as epoch seconds so the value columns stay "
        "one double type) — the schema-drift / data-quality audit a "
        "pipeline runs before trusting a new drop of upstream data. "
        "Scale shape (r12): one scan, an explicit x4 explode — one "
        "replica per profiled column, tagged (gid, value) — into a "
        "per-VALUE count aggregate (map-side deduped, the exchange is "
        "bounded by per-column NDVs exactly like a count-distinct "
        "rewrite), then a tiny per-gid aggregate reads EVERY statistic "
        "off that distinct relation: n_distinct = group count, n_rows "
        "= sum of value counts, n_null = the null group's count, "
        "min/max over the values. This replaces Spark's automatic "
        "multi-count-distinct rewrite (an Expand x5 — the four "
        "distinct legs PLUS a full plain replica just for "
        "min/max/count), which paid a fifth corpus-row replica for "
        "statistics the distinct relation already determines; measured "
        "1.97 s -> 1.02 s at sf0.1, same exchange profile at any "
        "scale. Timestamps group on exact unix_micros (no collision "
        "at any precision) and surface as epoch-second doubles via "
        "the same us/1e6 division as a timestamp->double cast. The "
        "cheap alternative (approx_count_distinct) drops the oracle "
        "guarantee; per-column separate passes re-scan the fact table "
        "four times.",
    bench=True,  # joined the headline r6: first-round floor rule (BASELINE.md)
)
def column_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    ts_cols = {c for c in _PROFILE_COLS
               if isinstance(li.schema[c].dataType, T.TimestampType)}
    # explicit expand: (gid, vd double | vt long-micros) one replica per
    # profiled column. Doubles group on their own value; timestamps on
    # exact unix_micros (bijective — grouping a double-cast would merge
    # timestamps past 2^53 us; grouping a long-cast would merge within
    # the same second).
    structs = []
    for i, c in enumerate(_PROFILE_COLS):
        if c in ts_cols:
            vd = F.lit(None).cast("double")
            vt = F.unix_micros(F.col(c))
        else:
            vd = F.col(c).cast("double")
            vt = F.lit(None).cast("long")
        structs.append(F.struct(F.lit(i).alias("gid"),
                                vd.alias("vd"), vt.alias("vt")))
    ex = li.select(F.explode(F.array(*structs)).alias("e")).select("e.*")
    per_val = ex.groupBy("gid", "vd", "vt").agg(
        F.count(F.lit(1)).alias("cnt"))
    # us/1e6 in double == Spark's timestamp->double cast (exact for
    # |us| < 2^53), and min/max commute with the monotone conversion
    val_d = F.coalesce(F.col("vd"),
                       F.col("vt").cast("double") / F.lit(1000000.0))
    is_null_group = F.col("vd").isNull() & F.col("vt").isNull()
    prof = per_val.groupBy("gid").agg(
        F.sum("cnt").alias("n_rows"),
        F.sum(F.when(is_null_group, F.col("cnt")).otherwise(0))
        .cast("long").alias("n_null"),
        F.count(F.when(~is_null_group, 1)).alias("n_distinct"),
        F.min(val_d).alias("min_val"),
        F.max(val_d).alias("max_val"))
    name = F.element_at(F.array(*[F.lit(c) for c in _PROFILE_COLS]),
                        F.col("gid") + 1)
    return prof.select(name.alias("column_name"), "n_rows", "n_null",
                       "n_distinct", "min_val", "max_val")


# --- r6 late: RFM customer segmentation ----------------------------------

# quintile cutoffs: each measure's value at rank ceil(q*n), custkey tie-break
_RFM_QS = (0.2, 0.4, 0.6, 0.8)
_RFM_MEASURES = (("rec_days", "r"), ("freq", "f"), ("monetary", "m"))
_RFM_CUTS_SQL = ",\n    ".join(
    f"{prefix}cut AS (SELECT "
    + ", ".join(f"{percentile_disc_sql(q, col)} AS {prefix}{int(q * 100)}"
                for q in _RFM_QS)
    + f" FROM ({ranked_sql('cust2', (), (col, 'o_custkey'))}))"
    for col, prefix in _RFM_MEASURES)


@register(
    "rfm_customer_segments",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderdate) AS as_of FROM orders),
    cust AS (SELECT o_custkey, MAX(o_orderdate) AS last_order,
                    COUNT(*) AS freq,
                    {dsum_sql('o_totalprice', 2)} AS monetary
             FROM orders GROUP BY 1),
    cust2 AS (SELECT c.*, date_diff('day', last_order, as_of) AS rec_days
              FROM cust c, mx),
    {_RFM_CUTS_SQL},
    scored AS (SELECT
        5 - ((rec_days > r20)::INT + (rec_days > r40)::INT
             + (rec_days > r60)::INT + (rec_days > r80)::INT) AS r_score,
        1 + ((freq > f20)::INT + (freq > f40)::INT
             + (freq > f60)::INT + (freq > f80)::INT) AS f_score,
        1 + ((monetary > m20)::INT + (monetary > m40)::INT
             + (monetary > m60)::INT + (monetary > m80)::INT) AS m_score,
        monetary, rec_days
      FROM cust2, rcut, fcut, mcut)
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {dsum_sql('monetary', 2)} / COUNT(*) AS avg_monetary,
           CAST(SUM(rec_days) AS DOUBLE) / COUNT(*) AS avg_recency_days
    FROM scored GROUP BY 1, 2, 3
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation: "
        "per-customer aggregates from orders, data-driven quintile "
        "cutoffs per measure (exact rank-selection, percentile_disc "
        "semantics with custkey tie-break — the exact_quantiles_value "
        "idiom), scores 1-5 (5 best: most recent / most frequent / "
        "highest spend), reduced to the <=125-cell segment grid with "
        "per-segment size, mean spend, and mean recency — the classic "
        "marketing-analytics read the reference would run in Postgres. "
        "Exactness: money through dsum; cutoff comparisons on exact "
        "values; day arithmetic integer. Scale: ONE custkey exchange "
        "for the per-customer aggregate; the cutoff windows sort the "
        "CUSTOMER relation (orders never), and at customer counts "
        "where a single-partition sort hurts, the documented swap is "
        "the approx-digest cutoff (same posture as "
        "exact_quantiles_value's certification-vs-production split); "
        "scoring is a broadcast of one 12-number row onto the customer "
        "scan and the final aggregate is map-side-combined to <=125 "
        "rows.",
)
def rfm_customer_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    asof = orders.agg(F.max("o_orderdate").alias("as_of"))
    cust = (orders.groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("last_order"),
                 F.count("*").alias("freq"),
                 dsum("o_totalprice", 2).alias("monetary"))
            .crossJoin(F.broadcast(asof))
            .withColumn("rec_days", F.datediff("as_of", "last_order")))

    def cuts(col: str, prefix: str) -> DataFrame:
        ranked = with_ranks(cust.select(col, "o_custkey"), (),
                            (col, "o_custkey"))
        return ranked.agg(*[
            percentile_disc(q, col).alias(f"{prefix}{int(q * 100)}")
            for q in _RFM_QS])

    r, f, m = (cuts(col, prefix) for col, prefix in _RFM_MEASURES)
    cut_row = r.crossJoin(f).crossJoin(m)

    def bumps(col: str, prefix: str) -> F.Column:
        return sum((F.col(col) > F.col(f"{prefix}{int(q * 100)}"))
                   .cast("int") for q in _RFM_QS)

    scored = (cust.crossJoin(F.broadcast(cut_row))
              .select((5 - bumps("rec_days", "r")).alias("r_score"),
                      (1 + bumps("freq", "f")).alias("f_score"),
                      (1 + bumps("monetary", "m")).alias("m_score"),
                      "monetary", "rec_days"))
    n = F.count("*")
    return (scored.groupBy("r_score", "f_score", "m_score")
            .agg(n.alias("n_customers"),
                 (dsum("monetary", 2) / n).alias("avg_monetary"),
                 (F.sum("rec_days").cast("double") / n)
                 .alias("avg_recency_days")))


# --- r6 late: oracle-checkable HyperLogLog -------------------------------

# HLL with an EXPLICIT md5-derived hash (same cross-engine-exact 60-bit
# construction as the dedup/split salts), so — like cms_freq_estimate —
# the sketch itself hash-matches the SQL oracle register-for-register
# instead of being an engine-opaque blob. Layout: 8 bucket bits (m=256),
# 52-bit remainder; rho = leading-zeros+1 via 52 integer comparisons
# (no log2); the harmonic sum is kept as Σ 2^(53-rho) in int64 (max
# 256 * 2^53 = 2^61), so the reduction is EXACT and order-free where a
# double harmonic sum would be order-dependent. The raw estimate
# alpha*m^2/Σ2^-rho is one double division of identical exact operands.
# The small-range (linear-counting) correction needs ln(), which libms
# disagree on at the last bit — it is deliberately NOT an oracle column;
# zero_buckets is emitted so consumers (and the error-bound test, with
# Python math) apply it downstream.
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_EST_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53)
_HLL_ZERO_TERM = 1 << 53  # a zero register contributes 2^(53-0)

_HLL_BL = " + ".join(f"(rest >= {1 << k})::INT" for k in range(52))


@register(
    "hll_distinct_estimate",
    oracle=f"""
    WITH h AS (SELECT event_type, user_id,
                      {md5_hash60_sql("'hll:' || CAST(user_id AS VARCHAR)")}
                        AS hv
               FROM events),
    b AS (SELECT event_type, hv % {_HLL_M} AS bucket,
                 hv // {_HLL_M} AS rest FROM h),
    regs AS (SELECT event_type, bucket,
                    MAX(53 - ({_HLL_BL})) AS r
             FROM b GROUP BY 1, 2),
    agg AS (SELECT event_type,
                   CAST({_HLL_M} - COUNT(*) AS BIGINT) AS zero_buckets,
                   CAST(SUM(1::BIGINT << (53 - r))
                        + ({_HLL_M} - COUNT(*)) * {_HLL_ZERO_TERM}
                        AS BIGINT) AS harmonic_scaled
            FROM regs GROUP BY 1),
    ex AS (SELECT event_type,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
           FROM events GROUP BY 1)
    SELECT a.event_type, zero_buckets, harmonic_scaled,
           {_HLL_EST_NUM!r} / CAST(harmonic_scaled AS DOUBLE)
             AS hll_raw_estimate,
           exact_users
    FROM agg a JOIN ex USING (event_type)
    """,
    doc="HyperLogLog distinct-count sketch per event_type with an "
        "explicit md5-derived hash — register-level ORACLE-CHECKABLE "
        "(unlike approx_count_distinct's engine-opaque HLL++ blob): "
        "m=256 buckets, rho from 52 integer comparisons (no log2), "
        "harmonic sum kept scaled in int64 so the merge is exact and "
        "order-free at any partition count. Emits the raw estimate, the "
        "zero-bucket count (consumers apply the standard linear-counting "
        "correction downstream — ln() diverges between libms so it is "
        "deliberately not an oracle column), and the exact count "
        "alongside, so the error is measured, not assumed "
        "(tests/test_market_r6.py asserts the corrected estimate's "
        "bound at two SFs). Scale: the register build is ONE "
        "map-side-combined MAX aggregate to m rows per group — the "
        "sketch that replaces exact distinct at 100 TB, here in a form "
        "two engines can agree on bit-for-bit.",
)
def hll_distinct_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).select("event_type", "user_id")
    hv = md5_hash60(F.concat(F.lit("hll:"),
                             F.col("user_id").cast("string")))
    b = ev.select("event_type", "user_id", hv.alias("hv")).select(
        "event_type", "user_id",
        (F.col("hv") % _HLL_M).alias("bucket"),
        F.shiftright("hv", 8).alias("rest"))
    bl = sum((F.col("rest") >= (1 << k)).cast("int") for k in range(52))
    regs = (b.groupBy("event_type", "bucket")
            .agg(F.max(F.lit(53) - bl).alias("r")))
    agg = (regs.groupBy("event_type")
           .agg((F.lit(_HLL_M) - F.count("*")).cast("long")
                .alias("zero_buckets"),
                (F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                              "CAST(53 - r AS INT))"))
                 + (F.lit(_HLL_M) - F.count("*")) * F.lit(_HLL_ZERO_TERM))
                .cast("long").alias("harmonic_scaled")))
    ex = (ev.groupBy("event_type")
          .agg(F.count_distinct(F.col("user_id")).alias("exact_users")))
    est = F.lit(_HLL_EST_NUM) / F.col("harmonic_scaled").cast("double")
    return (agg.join(F.broadcast(ex), "event_type")
            .select("event_type", "zero_buckets", "harmonic_scaled",
                    est.alias("hll_raw_estimate"), "exact_users"))
