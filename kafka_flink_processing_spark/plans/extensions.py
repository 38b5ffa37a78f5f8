"""Large-scale training-data-pipeline extensions (BASELINE.json north star):
dedup, similarity search, text analysis, multimodal plumbing — over the
driver's `documents` and `embeddings` tables.

Oracle strategy: every pipeline uses only arithmetic verified bit-exact
across Spark and DuckDB (md5-derived integer hashes, integer modular
arithmetic, sequential array folds for dot products — see tools/
oracle_check.py). The DuckDB SQL below is GENERATED from the same constants
(functions/constants.py) the Spark operators use, so even the approximate
algorithms (LSH banding) compare exactly: both engines run the same
deterministic algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.exact import dsum, dsum_sql
from kafka_flink_processing_spark.functions.constants import (
    LSH_PLANES,
    MINHASH_COEFFS,
    MINHASH_P,
    N_BANDS,
    SIMHASH_BITS,
)
from kafka_flink_processing_spark.functions.text import (
    LANG_MARKERS,
    LANG_ORDER,
    TOKEN_REGEX,
    fingerprint_poly,
    lang_id,
    lang_score,
    quality_score,
    token_count,
    word_count,
)
from kafka_flink_processing_spark.functions.multimodal import (
    GIF_LAYOUT,
    PNG_LAYOUT,
    PNG_PAD,
    audio_zcr_features,
    decode_features,
    decode_media,
    resize_features,
    sample_frames,
    with_gif_payload,
    with_payload,
    with_png_payload,
    with_wav_payload,
)
from kafka_flink_processing_spark.operators.dedup import (
    BLOOM_K,
    BLOOM_M_BITS,
    NGRAM_MAX_DF,
    containment_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    normalize_text,
    simhash_pairs,
)
from kafka_flink_processing_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)
from kafka_flink_processing_spark.plans.registry import register
from kafka_flink_processing_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (generated from the same constants as Spark)
# ---------------------------------------------------------------------------

_H60 = "CAST(CAST('0x' || substring(md5({x}), 1, 15) AS UBIGINT) AS BIGINT)"

_WORDS = ("SELECT doc_id, string_split(COALESCE(text, ''), ' ')"
          " AS words FROM documents")

_SHINGLES3 = f"""
  WITH t AS ({_WORDS}),
  ds AS (SELECT doc_id,
           CASE WHEN len(words) < 3 THEN []
                ELSE list_distinct([words[i] || ' ' || words[i+1] || ' ' ||
                                    words[i+2] for i in range(1, len(words)-1)])
           END AS sh
         FROM t)
"""

_SHINGLES2_ROWS = f"""
  t AS ({_WORDS}),
  g2 AS (SELECT doc_id, unnest(
           CASE WHEN len(words) < 2 THEN []
                ELSE list_distinct([words[i] || ' ' || words[i+1]
                                    for i in range(1, len(words))])
           END) AS sh
         FROM t)
"""


def _occ_sql(padded: str, needle: str) -> str:
    return (f"CAST((length({padded}) - length(replace({padded}, '{needle}', '')))"
            f" / {len(needle)} AS BIGINT)")


def _lang_scores_sql() -> dict[str, str]:
    return {lg: " + ".join(_occ_sql("p", m) for m in LANG_MARKERS[lg])
            for lg in LANG_ORDER}


def _minhash_sig_sql() -> str:
    """CTEs ex/hx/sig over _SHINGLES3's ds."""
    mins = ", ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS))
    return f"""
  ex AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
  hx AS (SELECT doc_id, {_H60.format(x='sh')} % {MINHASH_P} AS x FROM ex),
  sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id)
"""


# One embedding-cosine near-dup threshold shared by every semantic view
# (LSH pair mining, SemDeDup, the cross-modal verifier) so the views stay
# comparable; retune it in ONE place.
EMBED_COS_T = 0.45

_DOT = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
        "(acc, x) -> acc + x)")


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(w) for w in plane) + "]::DOUBLE[]"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS BIGINT)
             AS n_tokens,
           CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT)
             AS n_alpha,
           CAST(length(text) AS DOUBLE)
             / GREATEST(len(string_split(text, ' ')), 1) AS avg_word_len
    FROM documents
    """,
    doc="per-document stats: chars, whitespace words, BPE-ish regex tokens, "
        "alpha chars, avg word length — all codegen'd built-ins.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        word_count(t).alias("n_words"),
        token_count(t).alias("n_tokens"),
        F.length(F.regexp_replace(t, "[^a-z]", "")).cast("long").alias("n_alpha"),
        (F.length(t).cast("double")
         / F.greatest(F.size(F.split(t, " ")), F.lit(1))).alias("avg_word_len"),
    )


def _lang_case_sql(scores: dict[str, str]) -> str:
    arms = []
    for lg in LANG_ORDER:
        others = ", ".join(f"s_{o}" for o in LANG_ORDER if o != lg)
        arms.append(f"WHEN s_{lg} >= GREATEST({others}, 1) THEN '{lg}'")
    return "CASE " + " ".join(arms) + " ELSE 'und' END"


@register(
    "lang_id_quality",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang,
             {", ".join(f"{expr} AS s_{lg}" for lg, expr in _lang_scores_sql().items())},
             text
      FROM (SELECT doc_id, lang, text, ' ' || text || ' ' AS p FROM documents)
    )
    SELECT doc_id, lang AS lang_label,
           {_lang_case_sql(_lang_scores_sql())} AS lang_pred,
           s_en, s_de, s_fr, s_es,
           (CAST(LEAST(CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT), 100) AS DOUBLE) / 100.0)
             * (length(regexp_replace(COALESCE(text, ''), '[^a-z]', '', 'g'))
                / GREATEST(length(COALESCE(text, '')), 1))
             * (CASE WHEN CAST(length(COALESCE(text, '')) AS DOUBLE)
                          / GREATEST(len(string_split(COALESCE(text, ''), ' ')), 1) >= 3.0
                     THEN 1.0
                     ELSE (CAST(length(COALESCE(text, '')) AS DOUBLE)
                           / GREATEST(len(string_split(COALESCE(text, ''), ' ')), 1)) / 3.0 END)
             AS quality
    FROM s
    """,
    doc="stopword-marker language-ID heuristic (argmax with fixed tie-break) "
        "+ rational-arithmetic quality score in [0,1].",
)
def lang_id_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    return docs.select(
        "doc_id", F.col("lang").alias("lang_label"),
        lang_id(t).alias("lang_pred"),
        *[lang_score(t, lg).alias(f"s_{lg}") for lg in LANG_ORDER],
        quality_score(t).alias("quality"),
    )


@register(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(COALESCE(text, '')), ' +', ' ', 'g'))) AS fp_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(COALESCE(text, ''), ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_poly
    FROM documents
    """,
    doc="document fingerprinting: md5 of normalized text + Rabin-Karp "
        "polynomial rolling hash (order-sensitive).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.md5(normalize_text(F.col("text"))).alias("fp_md5"),
        fingerprint_poly(F.col("text")).alias("fp_poly"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(COALESCE(text, '')), ' +', ' ', 'g'))) AS text_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_id
    FROM documents GROUP BY 1
    """,
    doc="exact dedup: normalized-text hash groups with canonical id "
        "(min doc_id); shuffle on the 128-bit hash only.",
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, "documents", sf_dir))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    {_SHINGLES3},
    sizes AS (SELECT doc_id, len(sh) AS n FROM ds),
    ex0 AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
    kept AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex0 GROUP BY sh)
             WHERE df <= {NGRAM_MAX_DF}),
    ex AS (SELECT ex0.doc_id, ex0.sh FROM ex0 JOIN kept USING (sh)),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           n_common / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / (sa.n + sb.n - n_common) >= 0.6
    """,
    doc="exact n-gram-Jaccard near-dup pairs via inverted shingle index "
        "(pre-aggregated intersections; no O(n^2) cross join) with the "
        f"df<={NGRAM_MAX_DF} stop-shingle cap (boilerplate shingles carry "
        "no near-dup signal and would cost O(df^2) candidates).",
    bench=True,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, "documents", sf_dir),
                               n=3, threshold=0.6)


@register(
    "dedup_containment_pairs",
    oracle=f"""
    {_SHINGLES3},
    sizes AS (SELECT doc_id, len(sh) AS n FROM ds),
    ex0 AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
    kept AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex0 GROUP BY sh)
             WHERE df <= {NGRAM_MAX_DF}),
    ex AS (SELECT ex0.doc_id, ex0.sh FROM ex0 JOIN kept USING (sh)),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
              FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           n_common / least(sa.n, sb.n) AS containment,
           n_common / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE n_common / least(sa.n, sb.n) >= 0.5
    """,
    doc="asymmetric n-gram CONTAINMENT near-dup pairs — |A∩B|/min(|A|,|B|) "
        ">= 0.5 — the sub-document-duplication catch Jaccard structurally "
        "misses (a short doc pasted into a long one has Jaccard ~|short|/"
        "|long| but containment ~1.0; Jaccard's own column rides along for "
        "the contrast). Same inverted-index machinery, memoized shingles, "
        f"and df<={NGRAM_MAX_DF} cap as dedup_ngram_jaccard — the pair set "
        "is O(sum df^2 over kept shingles) at any corpus size.",
)
def dedup_containment_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(load_table(spark, "documents", sf_dir),
                             n=3, threshold=0.5)


def _minhash_bands_sql() -> str:
    arms = []
    for k in range(N_BANDS):
        arms.append(f"SELECT doc_id, {k} AS band, "
                    f"CAST(mh{2*k} AS VARCHAR) || '_' || CAST(mh{2*k+1} AS VARCHAR)"
                    f" AS key FROM sig")
    return " UNION ALL ".join(arms)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    {_SHINGLES3},
    {_minhash_sig_sql()},
    bands AS ({_minhash_bands_sql()}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           len(list_intersect(sa.sh, sb.sh))
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
             AS jaccard
    FROM cand JOIN ds sa ON doc_a = sa.doc_id JOIN ds sb ON doc_b = sb.doc_id
    WHERE len(list_intersect(sa.sh, sb.sh))
            / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.6
    """,
    doc="MinHash({n}) + {b}-band LSH candidates, verified with exact Jaccard "
        "— the dedup scale path (candidates ~ O(dups))."
        .format(n=len(MINHASH_COEFFS), b=N_BANDS),
    bench=True,
)
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, "documents", sf_dir),
                             n=3, threshold=0.6)


_MINHASH_PAIRS_CTES = f"""
    {_SHINGLES3},
    {{sig}},
    bands AS ({{bands}}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b
      FROM cand JOIN ds sa ON doc_a = sa.doc_id JOIN ds sb ON doc_b = sb.doc_id
      WHERE len(list_intersect(sa.sh, sb.sh))
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            >= 0.6)
"""


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES.replace('WITH ', '', 1).format(
        sig=_minhash_sig_sql().strip().lstrip(), bands='{bands}')}
    ,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a
    """.format(bands=_minhash_bands_sql()),
    doc="duplicate CLUSTERS: connected components over the MinHash-LSH "
        "pair graph (operators/cluster.py, iterative min-label propagation "
        "— one shuffle join per round, rounds = component diameter). "
        "Canonical doc = min id per component; singletons map to "
        "themselves. Oracle = recursive-CTE transitive closure over the "
        "identical pair set.",
    bench=True,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.cluster import (
        connected_components,
    )
    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.6)
    return connected_components(pairs, docs.select("doc_id"))


_N_FOLDS = 5


@register(
    "cluster_aware_folds",
    oracle=f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES.replace('WITH ', '', 1).format(
        sig=_minhash_sig_sql().strip().lstrip(), bands='{bands}')}
    ,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clusters AS (SELECT a AS doc_id, MIN(b) AS canonical_id
                 FROM reach GROUP BY a)
    SELECT doc_id, canonical_id,
           {_H60.format(x="'fold:' || CAST(canonical_id AS VARCHAR)")}
             % {_N_FOLDS} AS fold
    FROM clusters
    """.format(bands=_minhash_bands_sql()),
    doc="leakage-safe k-fold assignment ({k} folds): the fold is the "
        "salted hash of the doc's near-dup CLUSTER canonical id, not of "
        "the doc itself — so every member of a MinHash-LSH connected "
        "component lands in the SAME fold and a model can never see a "
        "near-duplicate of its eval data at train time (the "
        "cross-validation form of split_leakage_audit's finding; "
        "train_test_split hashes raw doc_id and is exactly the splitter "
        "this guards against for near-dup-heavy corpora). Deterministic "
        "on any cluster size/retry like every split here. Cost on top of "
        "the audited dedup_clusters shape: one hash projection — the "
        "closure itself is the same iterative min-label propagation "
        "(one shuffle join per round, rounds = component diameter)."
        .format(k=_N_FOLDS),
)
def cluster_aware_folds_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60
    from kafka_flink_processing_spark.operators.cluster import (
        connected_components,
    )
    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, docs.select("doc_id"))
    fold = md5_hash60(F.concat(F.lit("fold:"),
                               F.col("canonical_id").cast("string"))) \
        % _N_FOLDS
    return cc.select("doc_id", "canonical_id", fold.alias("fold"))


def _simhash_sql() -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS))
    assemble = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS))
    return f"""
  hx AS (SELECT doc_id, {_H60.format(x='sh')} % {2**SIMHASH_BITS} AS h FROM g2),
  bsum AS (SELECT doc_id, {sums} FROM hx GROUP BY doc_id),
  sh AS (SELECT doc_id, {assemble} AS simhash FROM bsum)
"""


def _simhash_bands_sql() -> str:
    arms = [f"SELECT doc_id, simhash, {k} AS band, (simhash >> {8*k}) & 255 "
            f"AS key FROM sh" for k in range(4)]
    return " UNION ALL ".join(arms)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SHINGLES2_ROWS},
    {_simhash_sql()},
    bands AS ({_simhash_bands_sql()})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    doc="32-bit SimHash over word bigrams; near-dup pairs with hamming <= 3 "
        "via 4-byte banding (pigeonhole-complete for <=3 bit flips) + exact "
        "bit_count verification.",
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = simhash_pairs(load_table(spark, "documents", sf_dir), max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_BASE_SQL = f"""
  n AS (SELECT vec_id, embedding,
          sqrt({_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings)
"""


@register(
    "similarity_bruteforce_topk",
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    q AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn FROM n
          WHERE vec_id < 5),
    scored AS (
      SELECT query_id, c.vec_id AS cand_id,
             {_DOT.format(a='qv', b='c.embedding')} / (qn * c.nrm) AS cosine
      FROM q JOIN n c ON c.vec_id != query_id)
    SELECT query_id, cand_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="brute-force cosine top-10 for 5 query vectors: broadcast queries x "
        "partitioned corpus, sequential-fold dot products (bit-reproducible).",
    bench=True,
)
def similarity_bruteforce_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    out = cosine_topk(emb, query_ids=range(5), k=10)
    return out.select("query_id", "cand_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


def _lsh_sig_sql() -> str:
    projs = ", ".join(
        _DOT.format(a='embedding', b=_plane_literal(plane)) + f" AS pr{p}"
        for p, plane in enumerate(LSH_PLANES))
    assemble = " + ".join(
        f"(CASE WHEN pr{p} > 0 THEN CAST({2**p} AS BIGINT) ELSE 0 END)"
        for p in range(len(LSH_PLANES)))
    return f"""
  pr AS (SELECT vec_id, embedding, nrm, {projs} FROM n),
  sg AS (SELECT vec_id, embedding, nrm, {assemble} AS sig FROM pr)
"""


def _lsh_bands_rows_sql() -> str:
    from kafka_flink_processing_spark.operators.similarity import (
        LSH_BAND_BITS,
        LSH_N_BANDS,
    )
    mask = (1 << LSH_BAND_BITS) - 1
    arms = [f"SELECT vec_id, embedding, nrm, {b} AS band, "
            f"(sig >> {b * LSH_BAND_BITS}) & {mask} AS key FROM sg"
            for b in range(LSH_N_BANDS)]
    return " UNION ALL ".join(arms)


@register(
    "similarity_lsh_topk",
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    {_lsh_sig_sql()},
    bands AS ({_lsh_bands_rows_sql()}),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv, q.nrm AS qn,
             c.vec_id AS cand_id, c.embedding AS cv, c.nrm AS cn
      FROM bands q JOIN bands c
        ON q.band = c.band AND q.key = c.key AND c.vec_id != q.vec_id
      WHERE q.vec_id < 5),
    scored AS (
      SELECT query_id, cand_id,
             {_DOT.format(a='qv', b='cv')} / (qn * cn) AS cosine
      FROM cand)
    SELECT query_id, cand_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="ANN top-k via banded random-hyperplane LSH (8 bands x 2 bits, "
        "OR-amplified; fixed literal planes). Shuffle on (band, key) only — "
        "the 100 TB path (raise band bits with corpus size). Recall vs "
        "brute force asserted in tests.",
)
def similarity_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    out = lsh_cosine_topk(emb, query_ids=range(5), k=10)
    return out.select("query_id", "cand_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


from kafka_flink_processing_spark.operators.similarity import IVF_K, IVF_NPROBE  # noqa: E402
from kafka_flink_processing_spark.functions.ivf_codebook import IVF_CENTROIDS  # noqa: E402


def _codebook_values_sql() -> str:
    """The pinned k-means codebook as a VALUES list — the same 6dp literals
    the Spark operator ships, so both engines assign identical cells."""
    rows = ", ".join(
        f"({cid}, {_plane_literal(list(cv))})"
        for cid, cv in enumerate(IVF_CENTROIDS))
    return (f"SELECT cid, cv, sqrt({_DOT.format(a='cv', b='cv')}) AS cn "
            f"FROM (VALUES {rows}) AS t(cid, cv)")


@register(
    "similarity_ivf_topk",
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    cent AS ({_codebook_values_sql()}),
    asgj AS (SELECT v.vec_id, v.embedding, v.nrm, c.cid,
                    {_DOT.format(a='v.embedding', b='c.cv')} / (v.nrm * c.cn)
                      AS cos
             FROM n v CROSS JOIN cent c),
    asg AS (SELECT vec_id, embedding, nrm, CAST(cid AS BIGINT) AS cell FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid) AS rn
              FROM asgj) WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qn,
                      CAST(cid AS BIGINT) AS cell FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn
                 FROM asgj WHERE vec_id < 5) WHERE rn <= {IVF_NPROBE}),
    cand AS (SELECT DISTINCT query_id, qv, qn, a.vec_id AS cand_id,
                    a.embedding AS cv, a.nrm AS cn
             FROM probes p JOIN asg a
               ON a.cell = p.cell AND a.vec_id != p.query_id),
    scored AS (SELECT query_id, cand_id,
                      {_DOT.format(a='qv', b='cv')} / (qn * cn) AS cosine
               FROM cand)
    SELECT query_id, cand_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, cand_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc=f"ANN top-k via IVF coarse quantizer ({IVF_K} cells, nprobe="
        f"{IVF_NPROBE}): codebook = offline k-means output on sf0.01 "
        "(operators/kmeans.py, pinned as 6dp literals by "
        "tools/train_ivf_codebook.py so the oracle embeds the identical "
        "doubles), shuffle-free cell assignment, probe-join + exact "
        "re-rank. Complements LSH: cost ~ nprobe/K of brute force, "
        "recall asserted vs brute force in tests.",
    bench=True,
)
def similarity_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import ivf_cosine_topk
    emb = load_table(spark, "embeddings", sf_dir)
    # the ONE pinned codebook the static oracle embeds — the oracle_sql
    # contract is "equivalent at any sf_dir", so the query may not switch
    # artifacts per corpus (a per-corpus trained codebook is
    # recall-tested separately)
    out = ivf_cosine_topk(emb, query_ids=range(5), k=10,
                          centroids=IVF_CENTROIDS)
    return out.select("query_id", "cand_id", "cosine",
                      F.col("rank").cast("long").alias("rank"))


from kafka_flink_processing_spark.functions.pq_codebook import (  # noqa: E402
    PQ_CODEBOOK,
    PQ_DSUB,
    PQ_K,
    PQ_M,
)

# squared L2 distance as the same sequential list_reduce fold _DOT uses
# (index order, per-element cast to double) — matches operators/
# similarity.py::_sqd bit for bit
_SQDIST = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
           "list_transform(list_zip({a}, {b}), "
           "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
           "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), "
           "(acc, x) -> acc + x)")


def _pq_codebook_values_sql(codebook=None) -> str:
    """A pinned M x K x dsub PQ codebook as a VALUES list — the same
    6dp literals the Spark operators ship (functions/pq_codebook.py /
    pq_residual_codebook.py)."""
    rows = ", ".join(
        f"({m}, {j}, {_plane_literal(list(cv))})"
        for m, sub in enumerate(codebook or PQ_CODEBOOK)
        for j, cv in enumerate(sub))
    return f"SELECT m, j, cv FROM (VALUES {rows}) AS t(m, j, cv)"


# shared encode stages: subspace scoring, per-(vec, m) argmin, codes list
_PQ_ENC_SQL = f"""cb AS MATERIALIZED ({_pq_codebook_values_sql()}),
    sc AS MATERIALIZED (SELECT e.vec_id, c.m, c.j,
            {_SQDIST.format(
                a=f'list_slice(e.embedding, c.m*{PQ_DSUB}+1, '
                  f'c.m*{PQ_DSUB}+{PQ_DSUB})',
                b='c.cv')} AS sqd
         FROM embeddings e CROSS JOIN cb c),
    best AS MATERIALIZED (SELECT vec_id, m, j AS code, sqd FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                       ORDER BY sqd, j) AS rn FROM sc) WHERE rn = 1),
    codes AS MATERIALIZED (SELECT vec_id, list(code ORDER BY m) AS codes
                           FROM best GROUP BY vec_id)"""

# ADC: sum_m LUT[m*K + codes[m]] unrolled in subspace order (left-assoc
# addition == the Spark fold's order; term values are bit-identical)
_PQ_ADIST = " + ".join(
    f"lut[{m * PQ_K} + codes[{m + 1}] + 1]" for m in range(PQ_M))


@register(
    "similarity_pq_topk",
    oracle=f"""
    WITH {_PQ_ENC_SQL},
    luts AS MATERIALIZED (SELECT vec_id AS query_id,
                                 list(sqd ORDER BY m, j) AS lut
            FROM sc WHERE vec_id < 5 GROUP BY vec_id),
    scored AS (SELECT l.query_id, c.vec_id AS cand_id,
                      {_PQ_ADIST} AS adist
               FROM codes c CROSS JOIN luts l
               WHERE l.query_id != c.vec_id)
    SELECT query_id, cand_id, adist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adist, cand_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc=f"ANN top-k via PRODUCT QUANTIZATION + asymmetric distance "
        f"(Jegou et al. 2011): the corpus encodes once against the "
        f"pinned M={PQ_M} x K={PQ_K} codebook (trained offline per "
        "subspace by the SAME distributed Lloyd trainer IVF uses, "
        "tools/train_pq_codebook.py, 6dp literals so both engines share "
        "exact doubles), then each query's M x K exact-subspace-distance "
        "LUT broadcasts and approx ||q-x||^2 folds M lookups in "
        "subspace order — fully deterministic, hash-exact vs the "
        "recursive-free generated oracle. THE memory-bandwidth scale "
        "path for 100 TB embedding search: the scan side reads M-byte "
        "codes (~16x compression), not vectors; complements IVF "
        "(cell-pruning) and LSH (bucketing). Recall vs exact L2 brute "
        "force asserted in tests/test_pq.py.",
    bench=True,  # first-round floor r9
)
def similarity_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import pq_adc_topk
    emb = load_table(spark, "embeddings", sf_dir)
    out = pq_adc_topk(emb, query_ids=range(5), codebook=PQ_CODEBOOK, k=10)
    return out.select("query_id", "cand_id", "adist",
                      F.col("rank").cast("long").alias("rank"))


@register(
    "similarity_pq_rerank_topk",
    oracle=f"""
    WITH {_PQ_ENC_SQL},
    luts AS MATERIALIZED (SELECT vec_id AS query_id,
                                 list(sqd ORDER BY m, j) AS lut
            FROM sc WHERE vec_id < 5 GROUP BY vec_id),
    adc AS (SELECT l.query_id, c.vec_id AS cand_id,
                   {_PQ_ADIST} AS adist
            FROM codes c CROSS JOIN luts l
            WHERE l.query_id != c.vec_id),
    short AS (SELECT query_id, cand_id FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adist, cand_id) AS rn FROM adc) WHERE rn <= 50),
    rer AS (SELECT s.query_id, s.cand_id,
                   {_SQDIST.format(a='q.embedding', b='x.embedding')}
                     AS dist
            FROM short s
            JOIN embeddings q ON q.vec_id = s.query_id
            JOIN embeddings x ON x.vec_id = s.cand_id)
    SELECT query_id, cand_id, dist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY dist, cand_id) AS BIGINT) AS rank
      FROM rer
    ) WHERE rank <= 10
    """,
    doc="the production PQ deployment pattern: ADC over the compressed "
        "codes retrieves a 50-candidate shortlist, then ONLY the "
        "shortlist's original vectors are fetched for an exact "
        "squared-L2 re-rank — measured recall@10 vs exact brute force "
        "recovers from ~0.4 (raw 32-bit ADC) to near-exact "
        "(tests/test_pq.py pins the floor) while the corpus-wide scan "
        "still reads M-byte codes. The re-rank join touches |Q|*50 "
        "vectors (broadcast query side), so full-precision reads shrink "
        "by ~N/(|Q|*50) vs brute force.",
)
def similarity_pq_rerank_topk_q(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        pq_adc_rerank_topk,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    out = pq_adc_rerank_topk(emb, query_ids=range(5), codebook=PQ_CODEBOOK,
                             k=10, shortlist=50)
    return out.select("query_id", "cand_id", "dist",
                      F.col("rank").cast("long").alias("rank"))


@register(
    "pq_distortion_by_label",
    oracle=f"""
    WITH {_PQ_ENC_SQL},
    pv AS (SELECT vec_id,
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                           list(sqd ORDER BY m)),
                              (acc, x) -> acc + x) AS distortion
           FROM best GROUP BY vec_id),
    f AS (SELECT vec_id,
                 CASE WHEN isfinite(distortion) AND distortion <= 1000000.0
                      THEN distortion END AS fd,
                 CASE WHEN isfinite(distortion) AND distortion <= 1000000.0
                      THEN 0 ELSE 1 END AS bad
          FROM pv)
    SELECT CAST(e.label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(bad) AS BIGINT) AS n_flagged,
           {dsum_sql('f.fd', 6)} / COUNT(f.fd) AS avg_distortion,
           MAX(f.fd) AS max_distortion
    FROM f JOIN embeddings e USING (vec_id)
    GROUP BY e.label
    """,
    doc="PQ reconstruction-error audit by label: per-vector distortion = "
        "sum_m min_j ||x_m - C[m][j]||^2 folded in subspace order (bit-"
        "identical cross-engine), then per-label mean via the 6dp "
        "scaled-int order-free sum and an exact MAX — the codebook-"
        "health gauge that says when to retrain (a label whose "
        "distortion runs hot is poorly covered by the codebook and its "
        "ADC ranks degrade first). Unhealthy distortions — NaN/Inf from "
        "non-finite components, or past the 1e6 health bound (a sane "
        "encoder's reconstruction error sits orders of magnitude below "
        "it) — are SURFACED as a per-label n_flagged count and excluded "
        "from the moments, the same bound-and-flag design as "
        "embedding_norm_stats: the r9 emb_nonfinite fuzzer found the "
        "unbounded form crashing on CAST_OVERFLOW (NaN cannot enter the "
        "scaled-int exact sum, and an audit must not die on the rows it "
        "exists to catch). Same map-only encode shape as "
        "similarity_pq_topk.",
)
def pq_distortion_by_label_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import pq_encode
    emb = load_table(spark, "embeddings", sf_dir)
    enc = pq_encode(emb, PQ_CODEBOOK)
    j = enc.join(emb.select("vec_id", "label"), "vec_id")
    # healthy = finite AND within bound; NaN and +Inf both fail the <=
    # in both engines (each sorts NaN above every double)
    healthy = ~F.isnan(F.col("distortion")) & (F.col("distortion") <= 1e6)
    fd = F.when(healthy, F.col("distortion"))
    return (j.groupBy(F.col("label").cast("long").alias("label"))
            .agg(F.count("*").alias("n_vecs"),
                 F.sum(F.when(healthy, 0).otherwise(1)).cast("long")
                 .alias("n_flagged"),
                 (dsum(fd, 6) / F.count(fd)).alias("avg_distortion"),
                 F.max(fd).alias("max_distortion")))


@register(
    "similarity_ivfpq_topk",
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    cent AS ({_codebook_values_sql()}),
    asgj AS (SELECT v.vec_id, v.embedding, v.nrm, c.cid,
                    {_DOT.format(a='v.embedding', b='c.cv')} / (v.nrm * c.cn)
                      AS cos
             FROM n v CROSS JOIN cent c),
    asg AS (SELECT vec_id, CAST(cid AS BIGINT) AS cell FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid) AS rn
              FROM asgj) WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, CAST(cid AS BIGINT) AS cell FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn
                 FROM asgj WHERE vec_id < 5) WHERE rn <= {IVF_NPROBE}),
    {_PQ_ENC_SQL},
    luts AS MATERIALIZED (SELECT vec_id AS query_id,
                                 list(sqd ORDER BY m, j) AS lut
            FROM sc WHERE vec_id < 5 GROUP BY vec_id),
    cand AS (SELECT p.query_id, c.vec_id AS cand_id, c.codes
             FROM probes p
             JOIN asg a ON a.cell = p.cell AND a.vec_id != p.query_id
             JOIN codes c ON c.vec_id = a.vec_id),
    scored AS (SELECT query_id, cand_id, {_PQ_ADIST} AS adist
               FROM cand JOIN luts USING (query_id))
    SELECT query_id, cand_id, adist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adist, cand_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc=f"IVFADC (Jegou et al. 2011 §V — the FAISS default): IVF "
        f"cell pruning composed with PQ asymmetric distance, probing "
        f"nprobe={IVF_NPROBE} of {IVF_K} cells and scanning only those "
        "cells' M-byte codes — the two orthogonal 100 TB levers multiply "
        "(read nprobe/K of the corpus at ~1/16 the bytes per row). Both "
        "pinned artifacts (IVF centroids + PQ codebook, 6dp literals) "
        "are shared bit-exact with the oracle; raw vectors encoded "
        "(FAISS encode_residual=false) so the composition stays "
        "hash-deterministic. Recall vs brute force in tests/test_pq.py.",
)
def similarity_ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        ivfpq_adc_topk,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    out = ivfpq_adc_topk(emb, query_ids=range(5), codebook=PQ_CODEBOOK,
                         k=10, centroids=IVF_CENTROIDS)
    return out.select("query_id", "cand_id", "adist",
                      F.col("rank").cast("long").alias("rank"))


from kafka_flink_processing_spark.functions.pq_residual_codebook import (  # noqa: E402
    PQR_CODEBOOK,
)

_RESID = ("list_transform(list_zip({a}, {b}), "
          "z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))")


@register(
    "similarity_ivfpq_residual_topk",
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    cent AS ({_codebook_values_sql()}),
    asgj AS (SELECT v.vec_id, v.embedding, v.nrm, c.cid,
                    {_DOT.format(a='v.embedding', b='c.cv')} / (v.nrm * c.cn)
                      AS cos
             FROM n v CROSS JOIN cent c),
    asg AS (SELECT vec_id, CAST(cid AS BIGINT) AS cell FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid) AS rn
              FROM asgj) WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, CAST(cid AS BIGINT) AS cell FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cid) AS rn
                 FROM asgj WHERE vec_id < 5) WHERE rn <= {IVF_NPROBE}),
    rcb AS MATERIALIZED ({_pq_codebook_values_sql(PQR_CODEBOOK)}),
    rv AS MATERIALIZED (SELECT a.vec_id, a.cell,
            {_RESID.format(a='e.embedding', b='c.cv')} AS r
         FROM asg a JOIN embeddings e USING (vec_id)
         JOIN cent c ON c.cid = a.cell),
    sc2 AS MATERIALIZED (SELECT v.vec_id, v.cell, c.m, c.j,
            {_SQDIST.format(
                a=f'list_slice(v.r, c.m*{PQ_DSUB}+1, '
                  f'c.m*{PQ_DSUB}+{PQ_DSUB})',
                b='c.cv')} AS sqd
         FROM rv v CROSS JOIN rcb c),
    best2 AS (SELECT vec_id, cell, m, j AS code FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                       ORDER BY sqd, j) AS rn FROM sc2) WHERE rn = 1),
    codes2 AS (SELECT vec_id, cell, list(code ORDER BY m) AS codes
               FROM best2 GROUP BY vec_id, cell),
    qrv AS (SELECT p.query_id, p.cell,
            {_RESID.format(a='e.embedding', b='c.cv')} AS r
         FROM probes p JOIN embeddings e ON e.vec_id = p.query_id
         JOIN cent c ON c.cid = p.cell),
    lsc AS (SELECT q.query_id, q.cell, c.m, c.j,
            {_SQDIST.format(
                a=f'list_slice(q.r, c.m*{PQ_DSUB}+1, '
                  f'c.m*{PQ_DSUB}+{PQ_DSUB})',
                b='c.cv')} AS sqd
         FROM qrv q CROSS JOIN rcb c),
    luts AS (SELECT query_id, cell, list(sqd ORDER BY m, j) AS lut
             FROM lsc GROUP BY query_id, cell),
    scored AS (SELECT l.query_id, c2.vec_id AS cand_id,
                      {_PQ_ADIST} AS adist
               FROM codes2 c2 JOIN luts l
                 ON l.cell = c2.cell AND c2.vec_id != l.query_id)
    SELECT query_id, cand_id, adist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adist, cand_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="RESIDUAL IVFADC — the full FAISS-default encoding (Jegou et "
        "al. 2011 §V.A): each corpus vector PQ-encodes its residual "
        "x - C_ivf[cell(x)] against a residual-trained codebook "
        "(tools/train_pq_codebook.py --residual), so the M x K budget "
        "covers only within-cell spread — measured recall@10 rises vs "
        "raw-vector IVFADC at identical cost (tests/test_pq.py pins "
        "both). The per-(query, probe-cell) LUTs this requires are "
        "|Q| x nprobe rows and broadcast; the index build stays ALL map "
        "(literal cell argmax -> literal residual -> literal code "
        "argmin, zero corpus exchanges).",
)
def similarity_ivfpq_residual_topk_q(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        ivfpq_residual_adc_topk,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    out = ivfpq_residual_adc_topk(emb, query_ids=range(5),
                                  codebook=PQR_CODEBOOK, k=10,
                                  centroids=IVF_CENTROIDS)
    return out.select("query_id", "cand_id", "adist",
                      F.col("rank").cast("long").alias("rank"))


@register(
    "kmeans_assign_cells",
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    cent AS ({_codebook_values_sql()}),
    asgj AS (SELECT v.vec_id, c.cid,
                    {_DOT.format(a='v.embedding', b='c.cv')} / (v.nrm * c.cn)
                      AS cos
             FROM n v CROSS JOIN cent c)
    SELECT vec_id, CAST(cid AS BIGINT) AS cell, cos AS cell_cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY cos DESC, cid) AS rn
      FROM asgj) WHERE rn = 1
    """,
    doc="k-means cell assignment against the frozen codebook "
        "(functions/ivf_codebook.py, the offline trainer's pinned 6dp "
        "output): nearest centroid by cosine with smallest-cid tie-break "
        "— a deterministic SQL argmax, so (unlike the iterative trainer "
        "kmeans_embeddings, rows-only by design) this is the "
        "driver-verifiable face of the k-means family. Plan shape is the "
        "IVF quantizer's (late-r9 rewrite): the codebook compiles into "
        "the projection as literals and the argmax is a first-strict-max "
        "fold — a PURE MAP, zero exchanges "
        "(tests/test_plans.py::test_kmeans_assign_is_pure_map).",
)
def kmeans_assign_cells_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        assign_cells,
        with_unit_info,
    )
    emb = load_table(spark, "embeddings", sf_dir)
    base = with_unit_info(emb)
    # the IVF quantizer's own argmax (one copy of the tie-break), with the
    # winning cosine emitted alongside — map-only literal assignment
    asg = assign_cells(base, IVF_CENTROIDS, with_cosine=True)
    return asg.select("vec_id", "cell", "cell_cosine")


@register(
    "dedup_semantic",
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    cent AS ({_codebook_values_sql()}),
    asgj AS (SELECT v.vec_id, v.embedding, v.nrm, c.cid,
                    {_DOT.format(a='v.embedding', b='c.cv')} / (v.nrm * c.cn)
                      AS cos
             FROM n v CROSS JOIN cent c),
    asg AS (SELECT vec_id, embedding, nrm, CAST(cid AS BIGINT) AS cell FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid) AS rn
              FROM asgj) WHERE rn = 1),
    dups AS (SELECT DISTINCT b.vec_id
             FROM asg a JOIN asg b
               ON a.cell = b.cell AND a.vec_id < b.vec_id
             WHERE {_DOT.format(a='a.embedding', b='b.embedding')}
                     / (a.nrm * b.nrm) >= {EMBED_COS_T})
    SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS keep
    FROM asg a LEFT JOIN dups d ON a.vec_id = d.vec_id
    """,
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup "
        "pruning WITHIN coarse-quantizer cells — drop any vector with a "
        "smaller-id same-cell neighbor at cosine >= 0.45 (keep-lowest-id "
        "refinement of the paper's per-cluster e-ball pruning; cross-cell "
        "dups deliberately out of scope — that approximation IS the scale "
        "story). Cell assignment = the pinned IVF codebook (broadcast, "
        "map-side argmax); pairwise cosine joins on `cell` only, cost "
        "sum(m_c^2) — raise K with corpus size so cells stay "
        "executor-sized. operators/similarity.py::semdedup.",
)
def dedup_semantic_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import semdedup
    emb = load_table(spark, "embeddings", sf_dir)
    # same pinned-codebook contract as similarity_ivf_topk: the static
    # oracle embeds the one artifact
    return semdedup(emb, threshold=EMBED_COS_T, centroids=IVF_CENTROIDS)


@register(
    "embedding_cosine_pairs",
    # The oracle reproduces the banded-LSH algorithm itself (same fixed
    # hyperplane literals, same 8x2-bit banding), NOT the brute-force
    # ideal: OR-amplification misses ~1.2% of pairs at exactly t=0.45 by
    # design, and at sf0.1 that materializes (141 of 144 brute-force
    # pairs). Verifying the deterministic algorithm makes the compare
    # exact at ANY sf — the same policy as dedup_minhash_lsh — while the
    # recall-vs-brute-force property stays asserted in
    # tests/test_extensions.py.
    oracle=f"""
    WITH {_COSINE_BASE_SQL},
    {_lsh_sig_sql()},
    bands AS ({_lsh_bands_rows_sql()}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, a.embedding AS va, a.nrm AS na,
             b.vec_id AS vec_b, b.embedding AS vb, b.nrm AS nb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b,
           {_DOT.format(a='va', b='vb')} / (na * nb) AS cosine
    FROM cand
    WHERE {_DOT.format(a='va', b='vb')} / (na * nb) >= {EMBED_COS_T}
    """,
    doc="embedding-cosine near-dup pairs via banded-LSH candidates + exact "
        "re-scoring (no all-pairs join in the plan). Oracle = the same "
        "deterministic banding in SQL, exact at any sf; recall vs the "
        "brute-force baseline (~98.8% per pair at t=0.45, 1.0 on sf0.001) "
        "is asserted test-side where the quadratic baseline is affordable "
        "(cosine_pairs).",
)
def embedding_cosine_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        lsh_cosine_pairs,
    )
    return lsh_cosine_pairs(load_table(spark, "embeddings", sf_dir),
                            threshold=EMBED_COS_T)


# ---------------------------------------------------------------------------
# Dataset assembly: deterministic splits + the composed curation pipeline
# ---------------------------------------------------------------------------

@register(
    "train_test_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {_H60.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 100
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 95 THEN 'train'
                WHEN bucket < 99 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
    doc="deterministic 95/4/1 train/val/test assignment by salted content-"
        "id hash — stable across runs, partitions, and cluster sizes "
        "(rand()-based splits are none of those); the salt prefix "
        "decorrelates this split from any other hash use of doc_id.",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60
    docs = load_table(spark, "documents", sf_dir)
    bucket = (md5_hash60(F.concat(F.lit("split:"),
                                  F.col("doc_id").cast("string"))) % 100)
    return (docs.select("doc_id", "lang", bucket.alias("bucket"))
            .withColumn("split",
                        F.when(F.col("bucket") < 95, "train")
                         .when(F.col("bucket") < 99, "val")
                         .otherwise("test")))


@register(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_H60.format(x="'samp:' || CAST(doc_id AS VARCHAR)")} % 10000
          < CASE WHEN lang = 'en' THEN 2500 ELSE 10000 END
    """,
    doc="deterministic stratified downsampling: keep 25% of the dominant "
        "class (en, ~45% of the corpus) and 100% of the rest, by salted "
        "content-id hash threshold — the language-rebalancing step of a "
        "training-data mix. Pure scan-side filter (no shuffle, no rand(): "
        "reproducible on any cluster size / partition count / retry, and "
        "the salt decorrelates it from the train/val/test split hash).",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60
    docs = load_table(spark, "documents", sf_dir)
    rate_bp = F.when(F.col("lang") == "en", F.lit(2500)).otherwise(F.lit(10000))
    keep = (md5_hash60(F.concat(F.lit("samp:"),
                                F.col("doc_id").cast("string"))) % 10000
            < rate_bp)
    return docs.filter(keep).select("doc_id", "lang", "source")


_QUALITY_SQL = """
    (CAST(LEAST(CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT), 100) AS DOUBLE) / 100.0)
      * (length(regexp_replace(COALESCE(text, ''), '[^a-z]', '', 'g'))
         / GREATEST(length(COALESCE(text, '')), 1))
      * (CASE WHEN CAST(length(COALESCE(text, '')) AS DOUBLE)
                   / GREATEST(len(string_split(COALESCE(text, ''), ' ')), 1) >= 3.0
              THEN 1.0
              ELSE (CAST(length(COALESCE(text, '')) AS DOUBLE)
                    / GREATEST(len(string_split(COALESCE(text, ''), ' ')), 1)) / 3.0 END)
"""


@register(
    "curation_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             md5(trim(regexp_replace(lower(COALESCE(text, '')), ' +', ' ', 'g'))) AS text_hash,
             CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS BIGINT)
               AS n_tokens,
             {_QUALITY_SQL} AS quality
      FROM documents
    ),
    canon AS (
      SELECT text_hash, MIN(doc_id) AS canonical_id
      FROM scored GROUP BY text_hash
    )
    SELECT s.doc_id, s.lang, s.n_tokens, s.quality
    FROM scored s JOIN canon c
      ON s.text_hash = c.text_hash AND s.doc_id = c.canonical_id
    WHERE s.n_tokens >= 5 AND s.quality >= 0.3
    """,
    doc="the composed training-data curation pipeline in ONE declarative "
        "plan: token-count floor + quality floor + exact-dedup canonical "
        "selection (keep min doc_id per normalized-text hash). Catalyst "
        "fuses the scoring into the scan pass; the only shuffle is the "
        "dedup groupBy — the shape a 100 TB curation run uses, with "
        "MinHash clustering (dedup_clusters) as the near-dup upgrade.",
    bench=True,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    scored = docs.select(
        "doc_id", "lang", "text",
        F.md5(normalize_text(t)).alias("text_hash"),
        token_count(t).alias("n_tokens"),
        quality_score(t).alias("quality"))
    canon = (scored.groupBy("text_hash")
             .agg(F.min("doc_id").alias("canonical_id")))
    return (scored.join(canon,
                        (scored.text_hash == canon.text_hash)
                        & (scored.doc_id == canon.canonical_id))
            .filter((F.col("n_tokens") >= 5) & (F.col("quality") >= 0.3))
            .select("doc_id", "lang", "n_tokens", "quality"))


# ---------------------------------------------------------------------------
# Format connectors: JSONL / CSV ingest (sources/formats.py)
# ---------------------------------------------------------------------------

@register(
    "jsonl_roundtrip",
    oracle="""
    SELECT doc_id, lang, md5(text) AS text_md5,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="JSONL connector round-trip: documents written as JSON-lines and "
        "read back with the explicit schema must hash identically to the "
        "parquet source — lossless text ingest (escapes, unicode) proven "
        "by the oracle, not assumed.",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.sources.formats import (
        read_jsonl,
        roundtrip_scratch_dir,
        write_jsonl,
    )
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "text")
    work = roundtrip_scratch_dir("jsonl")
    write_jsonl(docs, work)
    back = read_jsonl(spark, work, docs.schema)
    return back.select("doc_id", "lang",
                       F.md5(F.col("text")).alias("text_md5"),
                       F.length("text").cast("long").alias("n_chars"))


@register(
    "csv_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type, value, md5(props) AS props_md5
    FROM events
    """,
    doc="CSV connector round-trip on events (quoted JSON in the props "
        "column stresses quoting/escaping): read-back content equals the "
        "parquet source per the oracle.",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.sources.formats import (
        read_csv,
        roundtrip_scratch_dir,
        write_csv,
    )
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value", "props")
    work = roundtrip_scratch_dir("csv")
    write_csv(ev, work)
    back = read_csv(spark, work, ev.schema)
    return back.select("event_id", "user_id", "event_type", "value",
                       F.md5(F.col("props")).alias("props_md5"))


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------

@register(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           sha256(text) AS content_sha256,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substring(hex(encode(text)), 1, 8) AS magic_hex,
           to_base64(encode(substring(text, 1, 12))) AS head_b64
    FROM documents
    """,
    doc="opaque-binary column metadata (content hash, byte length, magic "
        "prefix) computed JVM-side; payload = utf-8 bytes standing in for "
        "media (schemas/plumbing identical for real image/audio).",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("content_sha256"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.substring(F.hex(payload), 1, 8).alias("magic_hex"),
        F.base64(F.encode(F.substring(F.col("text"), 1, 12), "UTF-8"))
         .alias("head_b64"),
    )


def _text_image_oracle(container: str, layout: tuple[int, int]) -> str:
    """Oracle for decode_media over a text-derived image payload
    (with_png_payload / with_gif_payload): the pixels are each
    character's codepoint % 256 in rows of `base + n % span`, padded with
    PNG_PAD, so DuckDB recomputes the DECODED stats from the text alone
    and a hash match certifies the whole encode -> decode round trip
    without the oracle touching an image byte. The mean is exact:
    integer-valued float64 sums below 2^53 are order-independent."""
    base, span = layout
    return f"""
    WITH b AS (
      SELECT doc_id, CAST(length(COALESCE(text, '')) AS BIGINT) AS n,
             list_transform(string_split(COALESCE(text, ''), ''),
                            c -> CAST(ascii(c) AS BIGINT) % 256) AS codes
      FROM documents
    ), d AS (
      SELECT doc_id, n, codes,
             CAST({base} + n % {span} AS BIGINT) AS w,
             (n // ({base} + n % {span})) + 1 AS h
      FROM b
    )
    SELECT doc_id, '{container}' AS container,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(1 AS INTEGER) AS channels,
           CAST(NULL AS INTEGER) AS sample_rate,
           w * h AS n_samples,
           (CAST(COALESCE(list_sum(codes), 0)
                 + (w * h - n) * {PNG_PAD} AS DOUBLE) / (w * h)) / 255.0
             AS mean_level,
           CAST(GREATEST(COALESCE(list_max(codes), 0), {PNG_PAD}) AS DOUBLE)
             / 255.0 AS peak_level
    FROM d
    """


@register(
    "multimodal_decode_features",
    # The stub decode is deterministic byte arithmetic over the UTF-8
    # payload, so DuckDB CAN replicate it exactly while the text is ASCII
    # (verified for all testdata SFs; a real codec would be rows-only).
    oracle="""
    WITH b AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
             list_transform(string_split(text, ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS codes
      FROM documents
    )
    SELECT doc_id,
           'application/octet-stream' AS mime,
           n AS n_bytes,
           CAST(16 + n % 64 AS INTEGER) AS width,
           CAST(16 + (n // 64) % 64 AS INTEGER) AS height,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST(list_sum(codes) AS DOUBLE) / n END AS mean_byte,
           CAST(len(list_distinct(codes)) // 32 AS INTEGER) AS entropy_bucket
    FROM b
    """,
    doc="binary payload -> typed features via Arrow-batched mapInPandas "
        "(decode stubbed with deterministic byte-stats; real codecs absent "
        "in this container — functions/multimodal.py). The stub is pure "
        "byte arithmetic, so the oracle reproduces it in SQL — the driver "
        "hash-checks this stage end-to-end despite the stubbed codec.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_payload(load_table(spark, "documents", sf_dir))
    return decode_features(docs)


@register(
    "multimodal_png_decode",
    oracle=_text_image_oracle("png", PNG_LAYOUT),
    doc="REAL compressed-codec round-trip at corpus scale (r7 env-gate "
        "audit: zlib is stdlib, so PNG needs no codec library): each "
        "doc's text becomes a grayscale PNG (encode_png, row filters "
        "cycling through all five PNG filter types), then decode_media "
        "sniffs the magic and decode_png CRC-checks, inflates, and "
        "unfilters it back to pixel stats — both stages Arrow-batched "
        "mapInPandas, bytes never leave the executor. The oracle "
        "recomputes the expected stats from the text directly, so a "
        "single bit wrong anywhere in the compress/decompress/unfilter "
        "path is a driver hash mismatch.",
    bench=True,  # joined the headline r8: first-round floor rule (BASELINE.md)
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_png_payload(load_table(spark, "documents", sf_dir))
    return decode_media(docs)


@register(
    "multimodal_resize",
    # Stub resample = keep every k-th byte; k derives from the fake dims.
    # Deterministic over ASCII text => SQL-replicable (see decode note).
    oracle="""
    WITH b AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
             CAST(16 + length(text) % 64 AS INTEGER) AS src_w,
             CAST(16 + (length(text) // 64) % 64 AS INTEGER) AS src_h
      FROM documents
    ), s AS (
      SELECT *, LEAST(64.0 / src_w, 64.0 / src_h) AS scale FROM b
    ), k AS (
      SELECT *, CASE WHEN scale < 1
                     THEN GREATEST(1, CAST(trunc(1.0 / scale) AS BIGINT))
                     ELSE 1 END AS step
      FROM s
    )
    SELECT doc_id, CAST(64 AS INTEGER) AS target_w,
           CAST(64 AS INTEGER) AS target_h, src_w, src_h, scale,
           CASE WHEN text IS NULL THEN NULL
                ELSE md5(COALESCE(array_to_string(
                  list_transform(range(1, n + 1, step),
                                 p -> substring(text, CAST(p AS INTEGER), 1)),
                  ''), ''))   -- array_to_string([]) is NULL, md5('') is not
           END AS thumb_hash
    FROM k
    """,
    doc="binary payload -> thumbnail features via Arrow-batched mapInPandas "
        "(1 row -> 1 row resize stage; stubbed byte-resample, real codec "
        "slot documented in functions/multimodal.py). Stub is every-k-th-"
        "byte selection + md5 — exactly reproduced by the SQL oracle.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_payload(load_table(spark, "documents", sf_dir))
    return resize_features(docs)


@register(
    "multimodal_frame_sample",
    # Stub demux = 256-byte chunks, every 4th sampled. Deterministic over
    # ASCII text => SQL-replicable (see decode note).
    oracle="""
    WITH b AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
      FROM documents
    ), idx AS (
      SELECT doc_id, text,
             unnest(range(0, GREATEST(1, (n + 255) // 256), 4)) AS i
      FROM b
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           i * 256 AS frame_offset,
           CAST(length(substring(text, CAST(i * 256 + 1 AS BIGINT), 256))
                AS BIGINT) AS frame_bytes,
           md5(substring(text, CAST(i * 256 + 1 AS BIGINT), 256))
             AS frame_hash
    FROM idx
    """,
    doc="video-style frame sampling via mapInPandas (1 row -> N rows "
        "fan-out: every 4th fixed-size chunk emits offset+hash; the real "
        "stage swaps the chunker for a demuxer/decoder). Stub chunking is "
        "byte slicing + md5 — exactly reproduced by the SQL oracle.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_payload(load_table(spark, "documents", sf_dir))
    return sample_frames(docs)


# ---------------------------------------------------------------------------
# Vocabulary building + incremental dedup (production pipeline shapes)
# ---------------------------------------------------------------------------

@register(
    "vocab_top_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))
               AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS freq,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM tok GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 100
    """,
    doc="top-100 token vocabulary with corpus + document frequency over the "
        "BPE-ish token regex (functions/text.py) — the tokenizer-vocab / "
        "stopword-mining pass of a training-data pipeline. explode -> "
        "count: partial aggregation collapses the token stream map-side, "
        "so the shuffle carries one row per (partition, distinct token), "
        "not per token occurrence; top-k is TakeOrderedAndProject with a "
        "deterministic token tie-break, never a global sort.",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"),
                                       F.lit(TOKEN_REGEX), F.lit(0)))
         .alias("token"))
    return (tok.groupBy("token")
            .agg(F.count("*").alias("freq"),
                 F.count_distinct("doc_id").alias("doc_freq"))
            .orderBy(F.desc("freq"), "token")
            .limit(100))


@register(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(COALESCE(text, '')), ' +', ' ', 'g')))
               AS text_hash
      FROM documents WHERE doc_id % 10 <> 0
    ), batch AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(COALESCE(text, '')), ' +', ' ', 'g')))
               AS text_hash
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT b.doc_id,
           CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup,
           MIN(c.doc_id) AS dup_of
    FROM batch b LEFT JOIN (SELECT text_hash, MIN(doc_id) AS doc_id
                            FROM corpus GROUP BY text_hash) c
      ON b.text_hash = c.text_hash
    GROUP BY b.doc_id, 2
    """,
    doc="incremental dedup: screen an arriving batch (doc_id % 10 = 0 "
        "stands in for today's crawl) against the standing corpus by "
        "normalized-text hash — the daily-increment shape of a 100 TB "
        "pipeline, where re-clustering the whole corpus per day is "
        "unaffordable. The corpus side pre-aggregates to one canonical row "
        "per hash before the join (shuffle carries hashes, never text); in "
        "production that aggregate IS the persisted dedup index, and the "
        "join is a hash-bucketed lookup the size of the batch.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import normalize_text

    docs = load_table(spark, "documents", sf_dir)
    hashed = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("text_hash"))
    corpus = (hashed.filter(F.col("doc_id") % 10 != 0)
              .groupBy("text_hash")
              .agg(F.min("doc_id").alias("corpus_id")))
    batch = hashed.filter(F.col("doc_id") % 10 == 0)
    return (batch.join(corpus, "text_hash", "left")
            .groupBy("doc_id",
                     F.when(F.col("corpus_id").isNotNull(), 1).otherwise(0)
                      .alias("is_dup"))
            .agg(F.min("corpus_id").alias("dup_of"))
            .select("doc_id", "is_dup", "dup_of"))


@register(
    "per_source_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {_H60.format(x="'cap:' || CAST(doc_id AS VARCHAR)")},
                        doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, lang FROM ranked WHERE rn <= 20
    """,
    doc="per-source document cap (keep <=20 docs per source): the "
        "anti-crawl-domination step of a corpus mix, selecting a "
        "deterministic pseudo-random subset per source by ordering on a "
        "salted hash (stable across runs/partitions, unbiased w.r.t. "
        "content, unlike 'first 20 by id'). Plans as WindowGroupLimit — "
        "each partition keeps its local top-20 per source BEFORE the "
        "shuffle, so the exchange carries O(sources x 20) rows, not the "
        "corpus.",
)
def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kafka_flink_processing_spark.functions.text import md5_hash60
    docs = load_table(spark, "documents", sf_dir)
    h = md5_hash60(F.concat(F.lit("cap:"), F.col("doc_id").cast("string")))
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc()))
    return (docs.withColumn("rn", rn).filter(F.col("rn") <= 20)
            .select("doc_id", "source", "lang"))


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))
               AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
      SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.doc_freq,
             CAST(tf.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE)
               / df.doc_freq AS score
      FROM tf JOIN df USING (token)
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, tf, doc_freq, score FROM ranked WHERE rn <= 5
    """,
    doc="top-5 characteristic terms per document by tf-idf — the keyword/"
        "topic-signal pass of a corpus analysis. idf is the RAW ratio "
        "N/doc_freq rather than its log: rank-equivalent per document "
        "(log is monotone) and cross-engine exact (one integer-derived "
        "division; no transcendentals, which differ by ulps between libm "
        "and the JVM). Shape at scale: tf/df aggregations with map-side "
        "partials, doc_freq broadcast back onto tf (vocabulary << corpus), "
        "WindowGroupLimit for the per-doc top-5.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"),
                                       F.lit(TOKEN_REGEX), F.lit(0)))
         .alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("doc_freq"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (tf.join(F.broadcast(df_), "token")
                .join(F.broadcast(n_docs))
                .withColumn("score",
                            (F.col("tf") * F.col("n_docs")).cast("double")
                            / F.col("doc_freq")))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("token")))
    return (scored.withColumn("rn", rn).filter(F.col("rn") <= 5)
            .select("doc_id", "token", "tf", "doc_freq", "score"))


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    {_SHINGLES3},
    {_minhash_sig_sql()},
    bands AS ({_minhash_bands_sql()}),
    cand AS (SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
             FROM bands b JOIN bands c
               ON b.band = c.band AND b.key = c.key
              AND b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
    SELECT cand.doc_id AS doc_id, cand.dup_of AS dup_of,
           len(list_intersect(sb.sh, sc.sh))
             / (len(sb.sh) + len(sc.sh) - len(list_intersect(sb.sh, sc.sh)))
             AS jaccard
    FROM cand JOIN ds sb ON cand.doc_id = sb.doc_id
              JOIN ds sc ON cand.dup_of = sc.doc_id
    WHERE len(list_intersect(sb.sh, sc.sh))
            / (len(sb.sh) + len(sc.sh) - len(list_intersect(sb.sh, sc.sh)))
          >= 0.6
    """,
    doc="NEAR-dup incremental screen: the arriving batch (doc_id % 10 = 0) "
        "probes the standing corpus's LSH band index; only cross "
        "batch-corpus candidates are Jaccard-verified. Candidate volume is "
        "O(batch x dup rate) — the corpus never self-joins — which is what "
        "makes daily near-dup screening affordable at 100 TB (the corpus "
        "band table is the persisted index, maintained by appending each "
        "day's batch bands). Complements dedup_incremental (exact-hash "
        "screen) and dedup_clusters (full-corpus clustering).",
    bench=True,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        incremental_minhash_dups,
    )
    docs = load_table(spark, "documents", sf_dir)
    return incremental_minhash_dups(docs, F.col("doc_id") % 10 == 0,
                                    n=3, threshold=0.6)


_SHINGLES4 = f"""
  WITH t AS ({_WORDS}),
  ds AS (SELECT doc_id,
           CASE WHEN len(words) < 4 THEN []
                ELSE list_distinct([words[i] || ' ' || words[i+1] || ' ' ||
                                    words[i+2] || ' ' || words[i+3]
                                    for i in range(1, len(words)-2)])
           END AS sh
         FROM t)
"""


@register(
    "decontaminate_ngram",
    oracle=f"""
    {_SHINGLES4},
    ex AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
    ev AS (SELECT DISTINCT sh FROM ex WHERE doc_id % 13 = 0),
    hits AS (SELECT doc_id, COUNT(*) AS n_shared_grams
             FROM ex JOIN ev USING (sh)
             WHERE doc_id % 13 <> 0 GROUP BY 1)
    SELECT h.doc_id, h.n_shared_grams,
           CAST(len(d.sh) AS BIGINT) AS n_grams,
           CAST(h.n_shared_grams AS DOUBLE) / len(d.sh)
             AS contamination_ratio
    FROM hits h JOIN ds d ON h.doc_id = d.doc_id
    """,
    doc="benchmark-decontamination screen: training docs (doc_id % 13 <> 0) "
        "that share any distinct word 4-gram with the held-out eval slice "
        "(doc_id % 13 = 0), with shared-gram counts and contamination "
        "ratio. The eval gram set is tiny vs the corpus, so it broadcasts "
        "— training data is screened map-side, the only shuffle is the "
        "per-doc hit count. Shares the cached shingle index with the "
        "dedup families.",
)
def decontaminate_ngram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen,
    )
    docs = load_table(spark, "documents", sf_dir)
    return contamination_screen(docs, F.col("doc_id") % 13 == 0, n=4)


@register(
    "decontaminate_bloom",
    oracle=f"""
    {_SHINGLES4},
    ex AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
    hx AS (SELECT doc_id, sh, {_H60.format(x='sh')} AS h FROM ex),
    px AS (SELECT doc_id, sh,
                  ((h % {BLOOM_M_BITS})
                   + j * (((h >> {BLOOM_M_BITS.bit_length() - 1})
                           % {BLOOM_M_BITS}) | 1))
                    % {BLOOM_M_BITS} AS p
           FROM hx CROSS JOIN (SELECT unnest({list(range(BLOOM_K))}) AS j) js),
    evp AS (SELECT DISTINCT p FROM px WHERE doc_id % 13 = 0),
    fl AS (SELECT doc_id, sh FROM px JOIN evp USING (p)
           WHERE doc_id % 13 <> 0
           GROUP BY doc_id, sh HAVING COUNT(*) = {BLOOM_K}),
    flagged AS (SELECT doc_id, COUNT(*) AS n_flagged_grams FROM fl GROUP BY 1)
    SELECT f.doc_id, f.n_flagged_grams, CAST(len(d.sh) AS BIGINT) AS n_grams,
           CAST(f.n_flagged_grams AS DOUBLE) / len(d.sh) AS flag_ratio
    FROM flagged f JOIN ds d USING (doc_id)
    """,
    doc="decontamination screen via a Bloom bitmap of the eval 4-grams — "
        "the scale path when the eval-gram set outgrows the exact screen's "
        "raw-string broadcast: the bitmap is FIXED-size (2^20 bits packed "
        "into <=16384 (word_idx, bits) longs, 128 KiB) however large the "
        "eval set grows, and broadcasts onto the training-gram scan. A "
        "gram is flagged iff all k=3 double-hashed probe bits are set: a "
        "provable superset of the exact screen (no false negatives; FP "
        "rate (1-e^{-kN/m})^k). Deterministic md5-derived hashing, so the "
        "oracle models the bitmap as its distinct bit-position set — "
        "semantically identical — and matches exactly "
        "(operators/dedup.py::contamination_screen_bloom).",
    bench=True,
)
def decontaminate_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen_bloom,
    )
    docs = load_table(spark, "documents", sf_dir)
    return contamination_screen_bloom(docs, F.col("doc_id") % 13 == 0, n=4)


@register(
    "adaptive_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, {_QUALITY_SQL} AS quality FROM documents
    ), r AS (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM scored
    ), bounds AS (
      SELECT source,
             MIN(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT)
                      THEN quality END) AS q25
      FROM r GROUP BY source
    )
    SELECT s.doc_id, s.source, s.quality, b.q25, s.quality >= b.q25 AS kept
    FROM scored s JOIN bounds b USING (source)
    """,
    doc="adaptive per-source quality floor (the FineWeb/DCLM-style "
        "curation step): each source's p25 quality becomes its own keep "
        "threshold, so boilerplate-heavy domains are pruned harder than "
        "clean ones instead of one global cutoff. Exact percentile_disc "
        "semantics computed by HISTOGRAM SELECTION, not a per-source row "
        "sort: groupBy (source, quality) counts (map-side combined), "
        "cumulative counts over the distinct-VALUE table, threshold = min "
        "value whose cumulative count reaches ceil(0.25 n) — identical to "
        "the rank statistic, but the per-source window runs over DISTINCT "
        "quality values instead of every doc. The rational quality score "
        "ties heavily (length-capped terms), so the combine collapses a "
        "giant source to its value set; for a continuous score the same "
        "plan degrades gracefully to the sort, and the escalation path is "
        "fixed-width pre-binning + exact selection inside the one "
        "threshold bin. Bounds broadcast back; the keep decision is "
        "map-side. Emits every doc with its threshold and kept flag.",
    bench=True,
)
def adaptive_quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select("doc_id", "source",
                         quality_score(F.col("text")).alias("quality"))
    counts = scored.groupBy("source", "quality").agg(F.count("*").alias("c"))
    cum = (counts
           .withColumn("cum", F.sum("c").over(
               Window.partitionBy("source").orderBy("quality")))
           .withColumn("n", F.sum("c").over(Window.partitionBy("source"))))
    bounds = (cum.filter(F.col("cum") >= F.ceil(F.lit(0.25) * F.col("n")))
              .groupBy("source").agg(F.min("quality").alias("q25")))
    return (scored.join(F.broadcast(bounds), "source")
            .select("doc_id", "source", "quality", "q25",
                    (F.col("quality") >= F.col("q25")).alias("kept")))


# cross-modal agreement: embedding cosine at-or-above the one shared
# semantic threshold counts as confirmation of a lexical near-dup pair
CROSSMODAL_COS_T = EMBED_COS_T


@register(
    "crossmodal_dup_verify",
    oracle=f"""
    {_SHINGLES3},
    {_minhash_sig_sql()},
    bands AS ({_minhash_bands_sql()}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa.sh, sb.sh))
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
               AS jaccard
      FROM cand JOIN ds sa ON doc_a = sa.doc_id JOIN ds sb ON doc_b = sb.doc_id
      WHERE len(list_intersect(sa.sh, sb.sh))
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
            >= 0.6)
    SELECT p.doc_a, p.doc_b, p.jaccard,
           {_DOT.format(a='ea.embedding', b='eb.embedding')}
             / (sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')})
                * sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')}))
             AS cosine,
           {_DOT.format(a='ea.embedding', b='eb.embedding')}
             / (sqrt({_DOT.format(a='ea.embedding', b='ea.embedding')})
                * sqrt({_DOT.format(a='eb.embedding', b='eb.embedding')}))
             >= {CROSSMODAL_COS_T} AS semantic_agree
    FROM pairs p
    LEFT JOIN embeddings ea ON p.doc_a = ea.vec_id
    LEFT JOIN embeddings eb ON p.doc_b = eb.vec_id
    """,
    doc="cross-modal near-dup verification: every MinHash-LSH lexical "
        "pair annotated with its embedding cosine and a semantic_agree "
        "flag (cosine >= 0.45, the embedding_cosine_pairs mining "
        "threshold) — the curation triage that separates true rewrites "
        "(lexically AND semantically close) from template collisions "
        "(shared boilerplate, different content). Scale: pairs are "
        "O(dups) from the banded index; attaching embeddings is two "
        "id-keyed equi-joins on the pair list — the corpus embedding "
        "table never self-joins. Cosine via the sequential fold "
        "(bit-reproducible vs DuckDB list_reduce).",
)
def crossmodal_dup_verify_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import (
        _cosine,
        _dot,
        with_unit_info,
    )
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.6)
    base = with_unit_info(emb)
    ea = base.select(F.col("vec_id").alias("doc_a"),
                     F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    eb = base.select(F.col("vec_id").alias("doc_b"),
                     F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    cos = _cosine(_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
    # LEFT joins: a lexical pair whose doc lacks an embedding row (partial
    # embedding coverage is normal at corpus scale) must surface with null
    # cosine/semantic_agree for review, never vanish from the triage
    return (pairs.join(ea, "doc_a", "left").join(eb, "doc_b", "left")
            .select("doc_a", "doc_b", "jaccard", cos.alias("cosine"),
                    (cos >= CROSSMODAL_COS_T).alias("semantic_agree")))


@register(
    "repetition_stats",
    oracle=f"""
    WITH t AS ({_WORDS}),
    ex AS (SELECT doc_id, unnest(words) AS tok FROM t),
    pt AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2),
    s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 COUNT(*) AS n_distinct, MAX(c) AS top_count
          FROM pt GROUP BY 1),
    g2 AS (SELECT doc_id,
             CASE WHEN len(words) < 2 THEN 0
                  ELSE len(list_distinct([words[i] || ' ' || words[i+1]
                                          for i in range(1, len(words))]))
             END AS n_bigrams
           FROM t)
    SELECT s.doc_id, s.n_tokens,
           CAST(s.n_distinct AS DOUBLE) / s.n_tokens AS distinct_frac,
           CAST(s.top_count AS DOUBLE) / s.n_tokens AS top_token_frac,
           CASE WHEN s.n_tokens < 2 THEN 0.0
                ELSE 1.0 - CAST(g2.n_bigrams AS DOUBLE) / (s.n_tokens - 1)
           END AS dup_bigram_frac,
           (CAST(s.n_distinct AS DOUBLE) / s.n_tokens >= 0.35
            AND CAST(s.top_count AS DOUBLE) / s.n_tokens <= 0.125
            AND (CASE WHEN s.n_tokens < 2 THEN 0.0
                      ELSE 1.0 - CAST(g2.n_bigrams AS DOUBLE)
                           / (s.n_tokens - 1) END) <= 0.06)
             AS passes_repetition_filter
    FROM s JOIN g2 ON s.doc_id = g2.doc_id
    """,
    doc="Gopher-style repetition/quality metrics per doc: distinct-token "
        "fraction, most-common-token fraction, duplicate-bigram fraction, "
        "and the pass/fail filter flag (thresholds 0.35/0.125/0.06 chosen "
        "to split this corpus). One explode + two doc_id-local aggregates; "
        "the bigram side reuses the cached shingle index. All fractions "
        "are exact integer ratios so the oracle matches bit-for-bit.",
)
def repetition_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import _doc_shingles
    docs = load_table(spark, "documents", sf_dir)
    ex = docs.select("doc_id", F.explode(
        F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("tok"))
    pt = ex.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    s = pt.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"))
    g2 = _doc_shingles(docs, 2) \
        .select("doc_id", F.size("sh").alias("n_bigrams"))
    j = s.join(g2, "doc_id")
    distinct_frac = F.col("n_distinct").cast("double") / F.col("n_tokens")
    top_frac = F.col("top_count").cast("double") / F.col("n_tokens")
    dup_big = F.when(F.col("n_tokens") < 2, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.col("n_bigrams").cast("double")
        / (F.col("n_tokens") - 1))
    return j.select(
        "doc_id", "n_tokens",
        distinct_frac.alias("distinct_frac"),
        top_frac.alias("top_token_frac"),
        dup_big.alias("dup_bigram_frac"),
        ((distinct_frac >= 0.35) & (top_frac <= 0.125) & (dup_big <= 0.06))
        .alias("passes_repetition_filter"))


@register(
    "kmeans_embeddings",
    oracle=None,  # iterative float algorithm — rows-only; numpy-parity
    # test in tests/test_extensions.py is the strong check
    doc="k-means codebook training over the embedding corpus (8 cells, 5 "
        "Lloyd iterations, deterministic lowest-id init): per-cluster "
        "(cell, n_points, inertia, centroid_norm). Per iteration the "
        "driver-resident k x d centroid matrix ships into an Arrow-batched "
        "assignment UDF (numpy argmin over the batch) and the update is "
        "one map-side-combined k-row aggregate — vectors are never "
        "shuffled, so iteration cost is a scan, regardless of cluster "
        "size. This is the offline trainer for similarity_ivf_topk's "
        "coarse quantizer.",
)
def kmeans_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.kmeans import kmeans_summary
    emb = load_table(spark, "embeddings", sf_dir)
    return kmeans_summary(emb, k=8, iters=5)


@register(
    "data_mix_summary",
    oracle="""
    WITH d AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS total_tokens
      FROM documents GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, total_tokens,
           CAST(total_tokens AS DOUBLE)
             / CAST(SUM(total_tokens) OVER () AS BIGINT) AS token_share
    FROM d
    """,
    doc="training-data mixture report: per (source, lang) doc and token "
        "counts plus each cell's share of the corpus token budget — the "
        "sampling-weight input of a data-mixing stage. One partial-agg "
        "shuffle to ~|sources|x|langs| rows; the share window runs over "
        "that tiny grouped set, never the corpus.",
)
def data_mix_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import word_count
    docs = load_table(spark, "documents", sf_dir)
    d = (docs.groupBy("source", "lang")
         .agg(F.count("*").alias("n_docs"),
              F.sum(word_count(F.col("text"))).alias("total_tokens")))
    total = F.sum("total_tokens").over(Window.partitionBy())
    return d.select(
        "source", "lang", "n_docs", "total_tokens",
        (F.col("total_tokens").cast("double") / total).alias("token_share"))


@register(
    "token_rarity_score",
    oracle=f"""
    WITH t AS ({_WORDS}),
    ex AS (SELECT doc_id, unnest(words) AS tok FROM t),
    v AS (SELECT tok, COUNT(*) AS freq FROM ex GROUP BY 1)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(freq) AS BIGINT) AS sum_freq,
           CAST(SUM(freq) AS DOUBLE) / COUNT(*) AS mean_token_freq
    FROM ex JOIN v USING (tok) GROUP BY doc_id
    """,
    doc="unigram-LM-style commonness score per doc: corpus token "
        "frequencies (the trained 'model') broadcast back onto each doc's "
        "token stream; mean corpus frequency ranks docs from rare-heavy "
        "to boilerplate — the log-free, integer-exact cousin of mean "
        "token log-likelihood (rank-equivalent since log is monotone on "
        "the per-token factors being averaged... used for quality "
        "binning, not probability estimates). Two shuffles: vocab build "
        "and the per-doc re-aggregate; the vocab (|V| rows) broadcasts.",
)
def token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    ex = docs.select("doc_id", F.explode(
        F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("tok"))
    vocab = ex.groupBy("tok").agg(F.count("*").alias("freq"))
    return (ex.join(F.broadcast(vocab), "tok")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum("freq").cast("long").alias("sum_freq"))
            .select("doc_id", "n_tokens", "sum_freq",
                    (F.col("sum_freq").cast("double") / F.col("n_tokens"))
                    .alias("mean_token_freq")))


# --------------------------------------------------------------------------
# PII scrubbing (training-data curation stage)
# --------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, \d, \b.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# The synthetic corpus is PII-free word soup, so both engines inject
# deterministic PII derived from doc_id before scanning — the oracle then
# genuinely exercises cross-engine regex parity (match + replacement),
# not just zero-counts.
_PII_AUG_SQL = """
      SELECT doc_id, text
        || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
             || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
        || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'
             || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0') || '-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        || CASE WHEN doc_id % 13 = 0 THEN ' from 10.'
             || CAST(doc_id % 256 AS VARCHAR) || '.'
             || CAST(doc_id * 3 % 256 AS VARCHAR) || '.'
             || CAST(doc_id % 200 + 1 AS VARCHAR) ELSE '' END AS text
      FROM documents
"""


@register(
    "pii_redaction",
    oracle=f"""
    WITH aug AS ({_PII_AUG_SQL}),
    red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
             CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
             CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT)
               AS n_ips,
             regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IP}', '<IP>', 'g') AS clean
      FROM aug)
    SELECT doc_id, n_emails, n_phones, n_ips,
           n_emails + n_phones + n_ips > 0 AS has_pii,
           md5(clean) AS clean_md5,
           CAST(length(clean) AS BIGINT) AS clean_len
    FROM red
    """,
    doc="PII scrub: detect + redact emails / US phone numbers / IPv4 "
        "addresses, emitting per-doc counts and the md5 of the redacted "
        "text (so the oracle pins the exact replacement output, not just "
        "counts). Deterministic PII is injected from doc_id on both "
        "engines because the synthetic corpus has none. Pure map-side "
        "regexp work — zero shuffles, embarrassingly parallel at 100 TB; "
        "the scan reads only (doc_id, text). Patterns use the Java/RE2 "
        "common subset so Spark and DuckDB agree byte-for-byte.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 7 == 0,
               F.concat(F.lit(" contact user"), did.cast("string"),
                        F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(did % 11 == 0,
               F.concat(F.lit(" call 555-"),
                        F.lpad((did * 7 % 1000).cast("string"), 3, "0"),
                        F.lit("-"),
                        F.lpad((did % 10000).cast("string"), 4, "0")))
         .otherwise(F.lit("")),
        F.when(did % 13 == 0,
               F.concat(F.lit(" from 10."), (did % 256).cast("string"),
                        F.lit("."), (did * 3 % 256).cast("string"),
                        F.lit("."), (did % 200 + 1).cast("string")))
         .otherwise(F.lit("")))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), F.lit(_PII_EMAIL),
                             F.lit("<EMAIL>")),
            F.lit(_PII_PHONE), F.lit("<PHONE>")),
        F.lit(_PII_IP), F.lit("<IP>"))
    counted = (docs.select("doc_id", aug.alias("text"))
               .select("doc_id",
                       F.regexp_count(F.col("text"), F.lit(_PII_EMAIL))
                        .cast("long").alias("n_emails"),
                       F.regexp_count(F.col("text"), F.lit(_PII_PHONE))
                        .cast("long").alias("n_phones"),
                       F.regexp_count(F.col("text"), F.lit(_PII_IP))
                        .cast("long").alias("n_ips"),
                       clean.alias("clean")))
    return counted.select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        (F.col("n_emails") + F.col("n_phones") + F.col("n_ips") > 0)
        .alias("has_pii"),
        F.md5("clean").alias("clean_md5"),
        F.length("clean").cast("long").alias("clean_len"))


# ---------------------------------------------------------------------------
# Sequence packing — training-shard assembly by token budget
# ---------------------------------------------------------------------------

from kafka_flink_processing_spark.operators.packing import (  # noqa: E402
    DEFAULT_BUDGET,
    pack_summary,
)


@register(
    "sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}'))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prefix_tokens
      FROM toks
    )
    SELECT source,
           -- window-SUM is HUGEINT in DuckDB; cast so seq_id comes back
           -- int64 like Spark's (the driver hashes raw dtypes)
           CAST(prefix_tokens // {DEFAULT_BUDGET} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id,
           (CAST(SUM(n_tokens) AS BIGINT) * 1000) // {DEFAULT_BUDGET}
             AS fill_1000
    FROM packed GROUP BY 1, 2
    """,
    doc="contiguous sequence packing: cut each source's doc_id-ordered "
        "stream into ~2048-token training packs via an exclusive token "
        "prefix-sum (seq_id = prefix div budget; docs never split, overflow "
        "bounded by one doc). One window shuffle on the shard key, integer "
        "arithmetic only; parallelism = #shards — re-key to (source, "
        "date-bucket) for giant sources, same lever as the day-keyed RANGE "
        "window in plans/temporal.py. operators/packing.py.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return pack_summary(docs.select("source", "doc_id", "text"))


# ---------------------------------------------------------------------------
# Dedup / index diagnostics (round 3)
# ---------------------------------------------------------------------------

@register(
    "dup_span_stats",
    oracle=f"""
    {_SHINGLES3},
    sizes AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_grams FROM ds),
    ex AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
    dup_sh AS (SELECT sh FROM ex GROUP BY sh HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_grams
             FROM ex JOIN dup_sh USING (sh) GROUP BY doc_id)
    SELECT s.doc_id, s.n_grams,
           CAST(COALESCE(h.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(h.n_dup_grams, 0) AS DOUBLE)
             / GREATEST(s.n_grams, 1) AS dup_fraction
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
    doc="duplicated-span statistics: per document, the count and fraction "
        "of its distinct word 3-grams that also occur in at least one "
        "other document — the n-gram-granular form of the exact-substring "
        "dedup signal (Lee et al. 2022, 'Deduplicating Training Data "
        "Makes Language Models Better'), used to rank documents for "
        "span-level dedup. Shares the memoized shingle index with every "
        "dedup family; the only exchanges are the shingle-df groupBy and "
        "the per-doc hit count — both map-side-combined, no pair join at "
        "all, so this is strictly cheaper than any pair-mining pass at "
        "100 TB.",
)
def dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        DUP_SPAN_MIN_DF,
        _doc_shingles,
        _filtered_inverted_index,
    )
    docs = load_table(spark, "documents", sf_dir)
    ds = _doc_shingles(docs, 3)
    # the memoized df>=2 inverted index (shared with dup_span_redact):
    # its (doc_id, sh) rows are exactly the corpus-duplicated grams
    inv = _filtered_inverted_index(ds, DUP_SPAN_MIN_DF, None)
    hits = (inv.groupBy("doc_id")
               .agg(F.count("*").cast("long").alias("n_dup_grams")))
    sizes = ds.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
    n_dup = F.coalesce("n_dup_grams", F.lit(0).cast("long"))
    return (sizes.join(hits, "doc_id", "left")
            .select("doc_id", "n_grams",
                    n_dup.alias("n_dup_grams"),
                    (n_dup.cast("double")
                     / F.greatest("n_grams", F.lit(1).cast("long")))
                    .alias("dup_fraction")))


@register(
    "dup_span_redact",
    oracle=f"""
    {_SHINGLES3},
    ex AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
    dup_sh AS (SELECT sh FROM ex GROUP BY sh HAVING COUNT(*) >= 2),
    dset AS (SELECT e.doc_id, list(e.sh) AS dup_grams
             FROM ex e JOIN dup_sh USING (sh) GROUP BY 1),
    base AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    marked AS (
      SELECT b.doc_id, b.words,
             CASE WHEN len(b.words) < 3 THEN 0
                  ELSE len(b.words) - 2 END AS ng,
             CASE WHEN len(b.words) < 3 THEN CAST([] AS BOOLEAN[])
                  ELSE [list_contains(COALESCE(d.dup_grams, []),
                                      b.words[i] || ' ' || b.words[i+1]
                                        || ' ' || b.words[i+2])
                        for i in range(1, len(b.words) - 1)]
             END AS flags
      FROM base b LEFT JOIN dset d USING (doc_id)
    ), rebuilt AS (
      SELECT doc_id, words,
             [words[j] for j in range(1, len(words) + 1)
              if ng = 0 OR len(list_filter(
                   flags[greatest(1, j-2):least(j, ng)], x -> x)) = 0]
               AS kept
      FROM marked
    )
    -- array_to_string(NULL-safe): DuckDB returns NULL for an empty list,
    -- Spark's concat_ws returns '' — a fully-redacted doc must agree
    SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(words) - len(kept) AS BIGINT) AS n_removed_words,
           CAST(len(words) - len(kept) AS DOUBLE)
             / GREATEST(len(words), 1) AS removed_fraction
    FROM rebuilt
    """,
    doc="span-level exact-substring dedup, the APPLY step of the dup-span "
        "family: every word covered by a corpus-duplicated 3-gram (df >= "
        "2 docs) is excised and the document text rebuilt (Lee et al. "
        "2022 at n-gram granularity; dup_span_stats is the ranking "
        "signal). LINEAR in corpus words: positional gram starts "
        "semi-join the shared cached df>=2 index, flagged starts explode "
        "to covered positions, an anti-join drops covered words, one "
        "doc-keyed aggregation reassembles the text — no pair join, no "
        "per-row membership scan over a collected gram set "
        "(operators/dedup.py::dup_span_redact).",
    bench=True,
)
def dup_span_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import dup_span_redact
    return dup_span_redact(load_table(spark, "documents", sf_dir), n=3)


# shared CTE body for the ExactSubstr family oracles (spans + redact):
# k = 8 anchors, df cap 64 — the same contract the Spark operator ships
_EXACTSUBSTR_CTES = """
    base AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
    grams AS (
      SELECT doc_id, i AS pos, array_to_string(w[i:i+7], ' ') AS g
      FROM base, unnest(range(1, greatest(len(w) - 6, 1))) AS t(i)
    ),
    anchors AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64
    ),
    seeds AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM grams a JOIN grams b USING (g) JOIN anchors USING (g)
      WHERE a.doc_id < b.doc_id
    ),
    islands AS (
      SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b
               ORDER BY pos_a) AS island
      FROM seeds
    ),
    spans AS (
      SELECT doc_a, doc_b, MIN(pos_a) AS a_start, MIN(pos_b) AS b_start,
             COUNT(*) + 7 AS span_len
      FROM islands GROUP BY doc_a, doc_b, diag, island
    )"""


@register(
    "exactsubstr_spans",
    oracle=f"""
    WITH {_EXACTSUBSTR_CTES}
    SELECT doc_a, doc_b, CAST(a_start AS BIGINT) AS a_start,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(span_len AS BIGINT) AS span_len
    FROM spans
    """,
    doc="ExactSubstr duplicated-substring mining (Lee et al. 2022, the "
        "suffix-array variant re-expressed as anchored diagonal "
        "run-merging): every MAXIMAL word span of length >= 8 shared "
        "verbatim between a document pair, as (doc_a, doc_b, a_start, "
        "b_start, span_len). SPAN semantics, not gram membership: "
        "overlapping duplicated grams with DIFFERENT partners do not "
        "merge (the dup_span_redact approximation does merge them — "
        "witness test in tests/test_exactsubstr.py). Anchor screen "
        "groupBys xxhash64(gram) (8-byte shuffle key, never the k-word "
        "string), keeps 2 <= doc-df <= 64 (the cap bounds O(df^2) seed "
        "fan-out and is part of the contract — the oracle applies it "
        "too), and only surviving grams carry strings into the pair "
        "join; the island aggregation rides the diagonal window's "
        "exchange (operators/dedup.py::exactsubstr_spans).",
    bench=True,
)
def exactsubstr_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        exactsubstr_spans,
    )
    return exactsubstr_spans(load_table(spark, "documents", sf_dir),
                             min_len=8, max_df=64)


@register(
    "exactsubstr_redact",
    oracle=f"""
    WITH {_EXACTSUBSTR_CTES},
    covered AS (
      SELECT DISTINCT doc_b AS doc_id, CAST(j AS BIGINT) AS j
      FROM spans, unnest(range(b_start, b_start + span_len)) AS t(j)
    ),
    pw AS (
      SELECT doc_id, CAST(j AS BIGINT) AS j, w[j] AS word
      FROM base, unnest(range(1, len(w) + 1)) AS t(j)
    ),
    kept AS (
      SELECT p.doc_id, p.j, p.word
      FROM pw p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.j = c.j
      WHERE c.j IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(word, ' ' ORDER BY j) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, COALESCE(r.clean_text, '') AS clean_text,
           CAST(len(b.w) AS BIGINT) AS n_words,
           CAST(len(b.w) - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_removed_words,
           CAST(len(b.w) - COALESCE(r.n_kept, 0) AS DOUBLE)
             / GREATEST(len(b.w), 1) AS removed_fraction
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="the APPLY step of ExactSubstr dedup (Lee et al. 2022): rebuild "
        "each document with every duplicated-span occurrence excised "
        "EXCEPT the copy in the smallest doc_id sharing it — the paper's "
        "remove-all-but-one rule made deterministic (a position is "
        "removed iff covered by the doc_b side of any exactsubstr_spans "
        "row). KEEP-ONE semantics, vs dup_span_redact's remove-every-"
        "occurrence gram form: boilerplate keeps one trainable copy "
        "instead of vanishing corpus-wide. Same output contract as "
        "dup_span_redact so the two apply steps read side-by-side. The "
        "span relation is O(duplicated content); covered positions, the "
        "anti-join and the position-ordered rebuild are the established "
        "redact pattern — the only corpus-sized exchange is the doc-"
        "keyed reassembly, which IS the output "
        "(operators/dedup.py::exactsubstr_redact).",
)
def exactsubstr_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        exactsubstr_redact,
    )
    return exactsubstr_redact(load_table(spark, "documents", sf_dir),
                              min_len=8, max_df=64)


@register(
    "embedding_quality_stats",
    oracle=f"""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           sqrt({_DOT.format(a='embedding', b='embedding')}) AS l2_norm,
           CAST(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                AS DOUBLE) AS min_c,
           CAST(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                AS DOUBLE) AS max_c,
           CAST(len(list_filter(embedding, x -> x != 0)) AS BIGINT)
             AS n_nonzero,
           {_DOT.format(a='embedding', b='embedding')} = 0.0 AS is_degenerate
    FROM embeddings
    """,
    doc="embedding quality screen before ANN indexing: per-vector L2 norm "
        "(same sequential double fold as operators/similarity.py::_norm, "
        "so both engines agree bitwise), component min/max, non-zero "
        "count, and a degenerate flag (zero vector => cosine undefined; "
        "these rows must be quarantined before any similarity pass). "
        "Pure map-side — zero shuffles at any scale.",
)
def embedding_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.similarity import _dot
    emb = load_table(spark, "embeddings", sf_dir)
    x = F.col("embedding")
    sumsq = _dot(x, x)
    return emb.select(
        "vec_id",
        F.size(x).cast("long").alias("dim"),
        F.sqrt(sumsq).alias("l2_norm"),
        F.array_min(x).cast("double").alias("min_c"),
        F.array_max(x).cast("double").alias("max_c"),
        F.size(F.filter(x, lambda v: v != 0)).cast("long").alias("n_nonzero"),
        (sumsq == 0.0).alias("is_degenerate"))


@register(
    "lsh_band_stats",
    oracle=f"""
    {_SHINGLES3},
    {_minhash_sig_sql()},
    bands AS ({_minhash_bands_sql()}),
    buckets AS (SELECT band, key, CAST(COUNT(*) AS BIGINT) AS sz
                FROM bands GROUP BY band, key)
    SELECT CAST(band AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(SUM((sz * (sz - 1)) // 2) AS BIGINT) AS n_candidate_pairs
    FROM buckets GROUP BY band
    """,
    doc="LSH index health metrics, per band: bucket count, largest bucket, "
        "and the candidate-pair volume sum(C(sz,2)) the band contributes "
        "to dedup_minhash_lsh. This is THE operational guard at 100 TB: a "
        "viral bucket shows up here as max_bucket before it shows up as a "
        "straggler task in the pair join (the same O(df^2) hazard the "
        "stop-shingle cap bounds for ngram_jaccard). Reads the memoized "
        "signature table; one groupBy(band, key) + one 8-row rollup.",
)
def lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        _cached_signatures,
        _lsh_bands,
    )
    docs = load_table(spark, "documents", sf_dir)
    bands = _lsh_bands(_cached_signatures(docs, 3))
    buckets = (bands.groupBy("band", "key")
                    .agg(F.count("*").cast("long").alias("sz")))
    return (buckets.groupBy(F.col("band").cast("long").alias("band"))
            .agg(F.count("*").cast("long").alias("n_buckets"),
                 F.max("sz").cast("long").alias("max_bucket"),
                 F.sum(F.expr("sz * (sz - 1) div 2")).cast("long")
                  .alias("n_candidate_pairs")))


@register(
    "mix_temperature_sample",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    t AS (SELECT lang, n_lang,
                 CAST(n_lang AS DOUBLE) / (SELECT SUM(n_lang) FROM c) AS share
          FROM c),
    r AS (SELECT lang,
                 (SELECT MIN(sqrt(share)) FROM t) / sqrt(share) AS rate
          FROM t)
    SELECT d.doc_id, d.lang,
           CAST(FLOOR(r.rate * 1000000) AS BIGINT) AS rate_ppm
    FROM documents d JOIN r USING (lang)
    WHERE {_H60.format(x="'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000
          < FLOOR(r.rate * 1000000)
    """,
    doc="temperature-scaled language mixing (alpha=0.5, the multilingual-"
        "training sampling rule: sample language l at rate proportional to "
        "share^(alpha-1), so dominant languages are downsampled toward the "
        "temperature-flattened mix and the rarest language keeps 100%). "
        "Deterministic salted-hash thresholding, same idiom as "
        "train_test_split — reproducible on any cluster size, partition "
        "count, or retry, with no rand(). alpha=0.5 is spelled sqrt() so "
        "both engines use the correctly-rounded IEEE primitive (pow() may "
        "differ by an ulp between libm builds). The per-language rate table "
        "is #languages rows: its whole-table window and the broadcast back "
        "onto the scan are free at any corpus scale; the only real "
        "exchange is the initial per-language count, which map-side-"
        "combines.",
)
def mix_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60
    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy()  # counts table is #languages rows — tiny
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    share = F.col("n_lang").cast("double") / F.sum("n_lang").over(w)
    scaled = counts.withColumn("w_t", F.sqrt(share))
    rates = scaled.select(
        "lang", (F.min("w_t").over(w) / F.col("w_t")).alias("rate"))
    thresh = F.floor(F.col("rate") * 1000000)
    keep = (md5_hash60(F.concat(F.lit("mix:"),
                                F.col("doc_id").cast("string")))
            % 1000000) < thresh
    return (docs.join(F.broadcast(rates), "lang")
            .filter(keep)
            .select("doc_id", "lang", thresh.cast("long").alias("rate_ppm")))


@register(
    "split_leakage_audit",
    oracle=f"""
    {_MINHASH_PAIRS_CTES.format(sig=_minhash_sig_sql().strip().lstrip(),
                                bands=_minhash_bands_sql())},
    jac AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa.sh, sb.sh))
               / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
               AS jaccard
      FROM pairs JOIN ds sa ON doc_a = sa.doc_id JOIN ds sb ON doc_b = sb.doc_id),
    s AS (
      SELECT doc_id,
             CASE WHEN {_H60.format(x="'split:' || CAST(doc_id AS VARCHAR)")}
                       % 100 < 95 THEN 'train'
                  WHEN {_H60.format(x="'split:' || CAST(doc_id AS VARCHAR)")}
                       % 100 < 99 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT j.doc_a, j.doc_b, j.jaccard,
           a.split AS split_a, b.split AS split_b,
           a.split != b.split AS leaks
    FROM jac j JOIN s a ON j.doc_a = a.doc_id JOIN s b ON j.doc_b = b.doc_id
    """,
    doc="train/heldout leakage audit at the NEAR-dup level: every MinHash-"
        "LSH near-duplicate pair annotated with both members' "
        "train_test_split assignments and a leaks flag (splits assign by "
        "doc_id hash, so near-copies of one document land in different "
        "splits and contaminate evaluation — the failure exact-dedup alone "
        "does not catch). Composes the persisted LSH pair mining with the "
        "split rule: the pair set is the artifact dedup already built, the "
        "split columns are map-side hashes, and the audit adds only two "
        "broadcast-sized joins onto the (tiny) pair list. Filter "
        "leaks=true and union with the exact-hash variant for the "
        "ship-blocking gate at 100 TB.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60
    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.6)
    bucket = (md5_hash60(F.concat(F.lit("split:"),
                                  F.col("doc_id").cast("string"))) % 100)
    split = (F.when(bucket < 95, "train")
              .when(bucket < 99, "val").otherwise("test"))
    s = docs.select("doc_id", split.alias("split"))
    sa = s.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = s.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "jaccard", "split_a", "split_b",
                    (F.col("split_a") != F.col("split_b")).alias("leaks")))


@register(
    "curation_funnel",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text,
             md5(trim(regexp_replace(lower(COALESCE(text, '')), ' +', ' ', 'g'))) AS text_hash,
             CAST(len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS BIGINT)
               AS n_tokens,
             {_QUALITY_SQL} AS quality
      FROM documents
    ),
    canon AS (
      SELECT text_hash, MIN(doc_id) AS canonical_id
      FROM scored GROUP BY text_hash
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
           CAST(SUM(CASE WHEN n_tokens >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_token_floor,
           CAST(SUM(CASE WHEN n_tokens >= 5 AND quality >= 0.3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_floor,
           CAST(SUM(CASE WHEN n_tokens >= 5 AND quality >= 0.3
                          AND doc_id = canonical_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_curated
    FROM scored JOIN canon USING (text_hash)
    """,
    doc="curation observability: survivor counts through each stage of "
        "curation_pipeline (input -> token floor -> +quality floor -> "
        "+exact-dedup canonical), in ONE pass — conditional aggregates "
        "over the same scored scan, no per-stage re-filtering jobs. The "
        "funnel is what a 100 TB curation run logs per shard to catch a "
        "filter suddenly eating the corpus; thresholds are the pipeline's "
        "own (>=5 tokens, quality >=0.3).",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        F.md5(normalize_text(t)).alias("text_hash"),
        token_count(t).alias("n_tokens"),
        quality_score(t).alias("quality"))
    canon = (scored.groupBy("text_hash")
             .agg(F.min("doc_id").alias("canonical_id")))
    j = scored.join(canon, "text_hash")
    tok = F.col("n_tokens") >= 5
    qual = tok & (F.col("quality") >= 0.3)
    cur = qual & (F.col("doc_id") == F.col("canonical_id"))
    one = F.lit(1)
    return j.agg(
        F.count("*").cast("long").alias("n_input"),
        F.sum(F.when(tok, one).otherwise(0)).cast("long")
         .alias("n_token_floor"),
        F.sum(F.when(qual, one).otherwise(0)).cast("long")
         .alias("n_quality_floor"),
        F.sum(F.when(cur, one).otherwise(0)).cast("long").alias("n_curated"))


@register(
    "dedup_fuzzy_corpus",
    oracle=f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES.replace('WITH ', '', 1).format(
        sig=_minhash_sig_sql().strip().lstrip(),
        bands=_minhash_bands_sql())}
    ,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    canon AS (SELECT a AS doc_id, MIN(b) AS canonical_id FROM reach GROUP BY a)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN canon c
      ON d.doc_id = c.doc_id AND d.doc_id = c.canonical_id
    """,
    doc="the fuzzy-deduped corpus itself: keep exactly one canonical "
        "document (min id) per MinHash-LSH near-dup component — the "
        "APPLY step over dedup_clusters' transitive closure, i.e. what a "
        "curation run actually writes out after near-dup mining. One "
        "semi-join of the corpus against the (tiny, #docs-sized) label "
        "table; all mining cost is the shared cached pair/cluster "
        "artifacts. Oracle = the same recursive-CTE closure filtered to "
        "self-canonical rows.",
)
def dedup_fuzzy_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.cluster import (
        connected_components,
    )
    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.6)
    labels = connected_components(pairs, docs.select("doc_id"))
    keep = (labels.filter(F.col("doc_id") == F.col("canonical_id"))
                  .select("doc_id"))
    return docs.join(keep, "doc_id").select("doc_id", "lang", "source")


@register(
    "corpus_partitioned_roundtrip",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({_H60.format(x='text')} % 1000000007) AS BIGINT)
             AS content_hash_sum,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="output-writer round-trip: the corpus written via write_corpus "
        "(lang directory partitions + maxRecordsPerFile cap) and read "
        "back must carry the exact content — per-lang doc counts, a "
        "md5-derived content-hash sum, and total chars all match the "
        "source table. Proves the write path (partition routing, file "
        "splitting, parquet encode/decode) is lossless, the same way the "
        "jsonl/csv round-trips prove the text connectors.",
)
def corpus_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60
    from kafka_flink_processing_spark.sources.formats import (
        roundtrip_scratch_dir,
        write_corpus,
    )
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "text")
    work = roundtrip_scratch_dir("corpus")
    write_corpus(docs, work, partition_cols=("lang",),
                 target_rows_per_file=1000)
    # explicit schema on read-back: never infer (5.2 rule), and an EMPTY
    # corpus write produces no partition dirs — inference would throw
    back = spark.read.schema(docs.schema).parquet(work)
    return (back.groupBy("lang")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(md5_hash60(F.col("text")) % 1000000007).cast("long")
                  .alias("content_hash_sum"),
                 F.sum(F.length("text")).cast("long").alias("total_chars")))


def _n_sweep_leg_sql(n: int) -> str:
    """Per-n CTE trio for the decontamination n-sweep: distinct n-gram
    rows, the eval gram set, per-train-doc hit counts."""
    grams = " || ' ' || ".join(f"words[i+{k}]" for k in range(n))
    return f"""
  s{n} AS (SELECT doc_id, unnest(
             CASE WHEN len(words) < {n} THEN []
                  ELSE list_distinct([{grams}
                                      for i in range(1, len(words)-{n - 2})])
             END) AS sh
           FROM t),
  ev{n} AS (SELECT DISTINCT sh FROM s{n} WHERE doc_id % 13 = 0),
  hit{n} AS (SELECT doc_id, COUNT(*) AS c FROM s{n} JOIN ev{n} USING (sh)
             WHERE doc_id % 13 <> 0 GROUP BY 1)"""


def _n_sweep_select_sql(n: int) -> str:
    return (f"SELECT CAST({n} AS BIGINT) AS gram_n, "
            f"CAST(COUNT(*) AS BIGINT) AS n_contaminated_docs, "
            f"CAST(COALESCE(SUM(c), 0) AS BIGINT) AS total_shared_grams "
            f"FROM hit{n}")


_N_SWEEP = (3, 4, 5)


@register(
    "decontamination_n_sweep",
    oracle=f"""
    WITH t AS ({_WORDS}),
    {",".join(_n_sweep_leg_sql(n) for n in _N_SWEEP)}
    {" UNION ALL ".join(_n_sweep_select_sql(n) for n in _N_SWEEP)}
    """,
    doc="decontamination aggressiveness curve: contaminated-doc count and "
        "total shared grams at n-gram sizes 3/4/5 against the same eval "
        "split as decontaminate_ngram — the tuning sweep you run BEFORE "
        "committing an n to a 100 TB decontamination pass (small n "
        "over-flags shared idioms, large n misses light paraphrase; the "
        "curve's knee is the evidence for the choice, companion to "
        "lsh_threshold_sweep and ivf_probe_sweep). Each leg is the "
        "audited contamination_screen shape (broadcast eval grams, "
        "map-side screen, per-doc-count exchange only) reduced to ONE "
        "row, and the n=3/4 shingle tables come from the session-memoized "
        "dedup index, so the sweep adds a single extra shingle pass.",
)
def decontamination_n_sweep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen,
    )
    docs = load_table(spark, "documents", sf_dir)
    legs = []
    for n in _N_SWEEP:
        scr = contamination_screen(docs, F.col("doc_id") % 13 == 0, n=n)
        legs.append(scr.agg(
            F.count("*").alias("n_contaminated_docs"),
            F.coalesce(F.sum("n_shared_grams"), F.lit(0)).cast("long")
            .alias("total_shared_grams"))
            .select(F.lit(n).cast("long").alias("gram_n"),
                    "n_contaminated_docs", "total_shared_grams"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


# --- r6: split-drift + novelty diagnostics --------------------------------

_DRIFT_MIN_TOTAL = 50  # test only tokens with enough pooled mass for a
                       # meaningful expected count (classic chi^2 rule)


@register(
    "token_drift_chi2",
    oracle=f"""
    WITH s AS (SELECT doc_id, text,
                 CASE WHEN {_H60.format(
                     x="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 95
                      THEN 'train' ELSE 'holdout' END AS split
               FROM documents),
    tok AS (SELECT split, unnest(string_split(text, ' ')) AS token FROM s),
    c AS (SELECT token,
                 SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS o_train,
                 SUM(CASE WHEN split = 'holdout' THEN 1 ELSE 0 END)
                   AS o_holdout
          FROM tok GROUP BY 1),
    k AS (SELECT * FROM c WHERE o_train + o_holdout >= {_DRIFT_MIN_TOTAL}),
    t AS (SELECT SUM(o_train) AS t_train, SUM(o_holdout) AS t_hold FROM k),
    x AS (SELECT token, o_train, o_holdout,
                 (CAST(o_train + o_holdout AS DOUBLE) * t_train)
                   / (t_train + t_hold) AS e_train,
                 (CAST(o_train + o_holdout AS DOUBLE) * t_hold)
                   / (t_train + t_hold) AS e_hold
          FROM k, t)
    SELECT token, CAST(o_train AS BIGINT) AS o_train,
           CAST(o_holdout AS BIGINT) AS o_holdout,
           CASE WHEN e_train > 0 AND e_hold > 0 THEN
             ((o_train - e_train) * (o_train - e_train) / e_train)
             + ((o_holdout - e_hold) * (o_holdout - e_hold) / e_hold)
           ELSE NULL END AS chi2_contrib
    FROM x
    ORDER BY chi2_contrib DESC NULLS LAST, token
    LIMIT 50
    """,
    doc="train/holdout token-distribution drift: two-sample chi-squared "
        "contribution per token over THE engine's own 95/5 salted-hash "
        "split (same 'split:' salt as train_test_split, so this audits "
        "the split users actually get), top-50 drifted tokens. A "
        "well-mixed hash split should show only sampling noise; a large "
        "contribution flags a token whose distribution the split "
        "accidentally skewed — the held-out-set sanity check run before "
        "trusting any eval on the holdout. Exactness: all counts are "
        "integers; expected counts and chi^2 are IDENTICAL IEEE "
        "expression trees over those exact integers in both engines "
        "(no transcendentals — chi-squared, unlike KL/G-test, needs no "
        "log). Scale: one token-keyed exchange with map-side combine "
        "(the same universe-shuffle class as vocab_top_tokens; the MG "
        "sketch in operators/sketch.py is the documented escape when "
        "the vocab stops fitting), then the totals reduce to ONE "
        "broadcast row and the top-50 is TakeOrderedAndProject.",
    bench=True,  # joined the headline r6: first-round floor rule (BASELINE.md)
)
def token_drift_chi2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60
    docs = load_table(spark, "documents", sf_dir)
    bucket = (md5_hash60(F.concat(F.lit("split:"),
                                  F.col("doc_id").cast("string"))) % 100)
    s = docs.select(
        F.when(bucket < 95, "train").otherwise("holdout").alias("split"),
        F.explode(F.split(F.col("text"), " ")).alias("token"))
    c = s.groupBy("token").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
         .alias("o_train"),
        F.sum(F.when(F.col("split") == "holdout", 1).otherwise(0))
         .alias("o_holdout"))
    k = c.filter(F.col("o_train") + F.col("o_holdout") >= _DRIFT_MIN_TOTAL)
    t = k.agg(F.sum("o_train").alias("t_train"),
              F.sum("o_holdout").alias("t_hold"))
    x = k.crossJoin(F.broadcast(t))
    pooled = (F.col("o_train") + F.col("o_holdout")).cast("double")
    n_tot = F.col("t_train") + F.col("t_hold")
    e_train = (pooled * F.col("t_train")) / n_tot
    e_hold = (pooled * F.col("t_hold")) / n_tot
    # degenerate-split guard (r8 fuzzer): a shard where one split side
    # is EMPTY after the min-total filter makes an expected count 0 —
    # chi2 is undefined there, and the engines disagree violently
    # without the guard (ANSI Spark raises DIVIDE_BY_ZERO, DuckDB emits
    # inf). NULL on both, ordered NULLS LAST on both.
    chi2 = F.when(
        (F.col("t_train") > 0) & (F.col("t_hold") > 0),
        ((F.col("o_train") - e_train) * (F.col("o_train") - e_train)
         / e_train)
        + ((F.col("o_holdout") - e_hold) * (F.col("o_holdout") - e_hold)
           / e_hold))
    return (x.select("token", "o_train", "o_holdout",
                     chi2.alias("chi2_contrib"))
            .orderBy(F.desc_nulls_last("chi2_contrib"), "token")
            .limit(50))


@register(
    "ngram_novelty_by_source",
    oracle=f"""
    {_SHINGLES3},
    ex AS (SELECT doc_id, unnest(sh) AS sh FROM ds),
    first AS (SELECT sh, MIN(doc_id) AS first_doc FROM ex GROUP BY 1),
    pd AS (SELECT e.doc_id,
                  SUM(CASE WHEN e.doc_id = f.first_doc
                           THEN 1 ELSE 0 END) AS novel,
                  COUNT(*) AS n
           FROM ex e JOIN first f USING (sh) GROUP BY 1)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {dsum_sql('novel / n', 6)} / COUNT(*) AS avg_doc_novelty,
           CAST(SUM(novel) AS DOUBLE) / SUM(n) AS novel_gram_share
    FROM pd JOIN documents d USING (doc_id)
    GROUP BY 1
    """,
    doc="per-source n-gram novelty under arrival order (doc_id): a "
        "trigram is NOVEL if no earlier document contains it; reports "
        "the mean per-doc novelty ratio and the pooled novel-gram share "
        "per source — the freshness/redundancy audit that tells a "
        "curation pipeline which feed still contributes new content and "
        "which is re-crawling boilerplate (docs under 3 words carry no "
        "trigrams and are excluded). Exactness: first-occurrence is an "
        "exact MIN over doc_id; per-doc ratios round to 6dp scaled "
        "int64 before the per-source mean so the reduction is "
        "order-free; the pooled share is a double ratio of exact "
        "integer sums. Scale: the memoized shingle cache feeds ONE "
        "gram-keyed exchange whose map-side MIN partial bounds the "
        "shuffle by distinct grams per partition (boilerplate grams "
        "stay — they are precisely the non-novel signal), then "
        "everything reduces on doc-sized relations; no pair joins.",
)
def ngram_novelty_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.dedup import _doc_shingles
    docs = load_table(spark, "documents", sf_dir)
    ds = _doc_shingles(docs, 3)
    ex = ds.select("doc_id", F.explode("sh").alias("sh"))
    first = ex.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    pd_ = (ex.join(first, "sh")
           .groupBy("doc_id")
           .agg(F.sum(F.when(F.col("doc_id") == F.col("first_doc"), 1)
                      .otherwise(0)).alias("novel"),
                F.count("*").alias("n")))
    return (pd_.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 (dsum(F.col("novel") / F.col("n"), 6) / F.count("*"))
                 .alias("avg_doc_novelty"),
                 (F.sum("novel").cast("double") / F.sum("n"))
                 .alias("novel_gram_share")))


_LIFT_MIN_PAIR = 20  # collocation must occur enough to matter


@register(
    "bigram_lift_top",
    oracle=f"""
    WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT unnest(w) AS tok FROM t),
    u AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
    n AS (SELECT SUM(c) AS n_tokens FROM u),
    bg AS (SELECT unnest(
             CASE WHEN len(w) < 2 THEN []
                  ELSE [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
             END) AS bigram FROM t),
    b AS (SELECT bigram, COUNT(*) AS n_pair FROM bg GROUP BY 1
          HAVING COUNT(*) >= {_LIFT_MIN_PAIR})
    SELECT bigram, n_pair,
           (CAST(n_tokens AS DOUBLE) * n_pair)
             / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
    FROM b, n
    JOIN u u1 ON u1.tok = string_split(bigram, ' ')[1]
    JOIN u u2 ON u2.tok = string_split(bigram, ' ')[2]
    ORDER BY lift DESC, bigram
    LIMIT 50
    """,
    doc="top collocations by pointwise lift: P(w1 w2) / (P(w1) P(w2)) "
        "= N * c(w1,w2) / (c(w1) * c(w2)) for bigrams with count >= "
        f"{_LIFT_MIN_PAIR} — the tokenizer-merge / stop-phrase signal a "
        "corpus pipeline mines (lift is the log-free PMI: exp(PMI) — "
        "same ranking, no transcendentals, so it stays oracle-exact as "
        "a ratio of integer counts). Scale: one bigram-keyed and one "
        "token-keyed map-side-combined count; the unigram relation "
        "joins back onto the FILTERED bigram table (>= min count — "
        "vocab-bounded, broadcast at test SF, a plain shuffle join at "
        "trillion-token scale where the MG sketch caps the candidate "
        "set first); the top-50 is a partial top-k, never a global "
        "sort.",
)
def bigram_lift_top_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(w) - 1)
    pair = F.transform(idx, lambda i: F.concat_ws(
        " ", F.element_at(w, i), F.element_at(w, i + 1)))
    bigrams = docs.select(F.explode(
        F.when(F.size(w) < 2, F.array().cast("array<string>"))
         .otherwise(pair)).alias("bigram"))
    tok = docs.select(F.explode(w).alias("tok"))
    u = tok.groupBy("tok").agg(F.count("*").alias("c"))
    n = u.agg(F.sum("c").alias("n_tokens"))
    b = (bigrams.groupBy("bigram").agg(F.count("*").alias("n_pair"))
         .filter(F.col("n_pair") >= _LIFT_MIN_PAIR))
    u1 = u.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = u.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    parts = F.split(F.col("bigram"), " ")
    j = (b.withColumn("w1", F.element_at(parts, 1))
          .withColumn("w2", F.element_at(parts, 2))
          .join(u1, "w1").join(u2, "w2")
          .crossJoin(F.broadcast(n)))
    lift = ((F.col("n_tokens").cast("double") * F.col("n_pair"))
            / (F.col("c1").cast("double") * F.col("c2").cast("double")))
    return (j.select("bigram", "n_pair", lift.alias("lift"))
            .orderBy(F.desc("lift"), "bigram")
            .limit(50))


@register(
    "curriculum_stages",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT)
               AS n_tok
      FROM documents
    ),
    hist AS (SELECT n_tok, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM tok GROUP BY n_tok),
    cdf AS (SELECT n_tok,
                   COALESCE(SUM(cnt) OVER (ORDER BY n_tok
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cum_before,
                   SUM(cnt) OVER () AS total
            FROM hist),
    stages AS (SELECT n_tok,
                      CAST(1 + (4 * cum_before) // total AS BIGINT) AS stage
               FROM cdf)
    SELECT s.stage AS stage, t.source AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tok) AS BIGINT) AS tok_sum,
           MIN(t.n_tok) AS tok_min, MAX(t.n_tok) AS tok_max,
           CAST(SUM(t.n_tok) AS DOUBLE) / COUNT(*) AS mean_tokens
    FROM tok t JOIN stages s ON t.n_tok = s.n_tok
    GROUP BY s.stage, t.source
    """,
    doc="Curriculum staging for training-data ordering: every document "
        "is assigned to one of 4 difficulty stages by EXACT token-count "
        "quartile, then the (stage, source) mix is reported — the table "
        "a curriculum scheduler feeds from (short/simple docs first, "
        "long-tail last). Quartiles are computed via the "
        "histogram-of-values CDF, not NTILE: a global NTILE is a "
        "single-partition sort of the full corpus (a 100 TB "
        "scale-killer) AND splits ties nondeterministically across "
        "stages; here all docs with the same token count land in the "
        "same stage (stage = 1 + (4 * #docs-with-smaller-count) DIV N, "
        "all-integer so both engines agree bit-for-bit). Scale: the "
        "histogram is one map-side-combined aggregate to <=#distinct "
        "token counts rows (bounded by max doc length, thousands at "
        "most at any corpus size); the CDF window sorts only that tiny "
        "relation; the stage map broadcast-joins back to the corpus; "
        "the final rollup map-side combines on (stage, source).",
)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", "source",
        # coalesce first: size(split(NULL)) is -1 in Spark vs NULL in
        # DuckDB — found by tools/oracle_fuzz.py, not the fixed corpus
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " "))
         .cast("long").alias("n_tok"))
    hist = tok.groupBy("n_tok").agg(F.count("*").alias("cnt"))
    w_cdf = (Window.orderBy("n_tok")
             .rowsBetween(Window.unboundedPreceding, -1))
    cdf = hist.select(
        "n_tok",
        F.coalesce(F.sum("cnt").over(w_cdf), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(
            Window.partitionBy()).alias("total"))
    stages = cdf.select(
        "n_tok",
        (F.lit(1) + F.expr("(4 * cum_before) div total")).alias("stage"))
    joined = tok.join(F.broadcast(stages), "n_tok")
    return (joined.groupBy("stage", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tok").alias("tok_sum"),
                 F.min("n_tok").alias("tok_min"),
                 F.max("n_tok").alias("tok_max"),
                 (F.sum("n_tok").cast("double") / F.count("*"))
                 .alias("mean_tokens")))


@register(
    "multimodal_gif_decode",
    oracle=_text_image_oracle("gif", GIF_LAYOUT),
    doc="Second REAL compressed-codec round-trip (after PNG/zlib, r7): "
        "GIF's LZW is pure bit arithmetic, so it needs no codec library "
        "either — the 'compressed codecs are env-gated' bin keeps "
        "shrinking under the r6 falsifiability audit. Each doc's text "
        "becomes palette indices in a GIF87a (encode_gif: 256-entry "
        "grayscale table, real variable-width LZW with KwKwK and "
        "4096-entry table resets), then decode_media sniffs the magic "
        "and decode_gif walks blocks, decompresses, and reduces to "
        "pixel stats — both stages Arrow-batched mapInPandas, bytes "
        "never leave the executor. One bit wrong anywhere in the LZW "
        "path is a driver hash mismatch. Scale: embarrassingly "
        "parallel, no shuffle; per-row cost is the LZW loop (CPU-bound "
        "Python — the honest cost note: a JVM/native codec would beat "
        "it, but the PLUMBING (schema, batching, audit bucket) is what "
        "carries to a 1000-executor corpus decode).",
    bench=True,  # joined the headline r8: first-round floor rule (BASELINE.md)
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_gif_payload(load_table(spark, "documents", sf_dir))
    return decode_media(docs)


@register(
    "audio_zcr_features",
    # The WAV samples are a pure function of the text ((ascii - 80) * 256
    # mono int16), so the oracle recomputes the DECODED features from the
    # text directly — hash equality certifies the RIFF encode -> chunk
    # walk -> sample-decode path end to end, all-integer outputs.
    # NULL/empty text must match Spark's zero-sample WAV exactly:
    # string_split('', '') is [''] in DuckDB (ascii('') = 0 would then
    # fabricate one phantom sample), so the empty case is forced to []
    # explicitly. ascii(c) % 128 mirrors the Spark side's per-char
    # codepoint fold (int16-safe on non-ASCII text).
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CASE WHEN COALESCE(text, '') = '' THEN CAST([] AS BIGINT[])
                  ELSE list_transform(string_split(text, ''),
                         c -> (CAST(ascii(c) AS BIGINT) % 128 - 80) * 256)
             END AS s
      FROM documents
    )
    SELECT doc_id,
           CAST(len(s) AS BIGINT) AS n_samples,
           CAST(COALESCE(len(list_filter(
             [s[i] * s[i+1] FOR i IN range(1, len(s))],
             x -> x < 0)), 0) AS BIGINT) AS zero_crossings,
           CAST(COALESCE(list_max(list_transform(s, x -> abs(x))), 0)
             AS BIGINT) AS abs_peak,
           CAST(COALESCE(list_sum(list_transform(s, x -> x * x)), 0)
             AS BIGINT) AS sumsq
    FROM b
    """,
    doc="REAL-audio feature extraction over the WAV codec path: each "
        "doc's text becomes a sign-rich 16-bit PCM mono waveform "
        "(functions/multimodal.py::with_wav_payload), then "
        "audio_zcr_features walks the RIFF chunks and reduces the raw "
        "integer samples to length / zero-crossing count / |peak| / "
        "energy sum — the classic cheap audio-screening features a "
        "speech-corpus pipeline filters on (silence and clipping "
        "detection) before paying for a real acoustic model. All-integer "
        "outputs, so the oracle is exact, and a single byte wrong in the "
        "encode/parse path is a driver hash mismatch. Scale: "
        "embarrassingly parallel Arrow mapInPandas x2, no shuffle; "
        "malformed payloads emit -1 rows into the audit bucket.",
    bench=True,  # joined the headline r8: first-round floor rule (BASELINE.md)
)
def audio_zcr_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_wav_payload(load_table(spark, "documents", sf_dir))
    return audio_zcr_features(docs)


_FH_BUCKETS = 1024


@register(
    "feature_hashing",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents),
    h AS (SELECT doc_id,
                 {_H60.format(x="'fh:' || w")} % {_FH_BUCKETS} AS bucket,
                 1 - 2 * ({_H60.format(x="'fhs:' || w")} % 2) AS sign
          FROM t),
    v AS (SELECT doc_id, bucket, SUM(sign) AS val
          FROM h GROUP BY doc_id, bucket)
    SELECT doc_id,
           CAST(COUNT(*) FILTER (WHERE val <> 0) AS BIGINT) AS nnz,
           CAST(SUM(ABS(val)) AS BIGINT) AS l1,
           CAST(SUM(val * val) AS BIGINT) AS sumsq
    FROM v GROUP BY doc_id
    """,
    doc="Hashing-trick featurization (Weinberger et al. 2009): every "
        "token maps to one of 1024 buckets via the cross-engine-exact "
        "md5-derived 60-bit hash, with a +/-1 sign from an independent "
        "hash bit so collisions cancel in expectation — the fixed-width, "
        "vocabulary-free bag-of-words representation a downstream "
        "trainer consumes without a dictionary build or a second corpus "
        "pass. Emits the per-doc sparse-vector invariants (nnz, L1, "
        "sum of squares — all integers, exactly hash-checkable) rather "
        "than 1024-wide rows. Scale: explode -> two doc-keyed map-side "
        "combined aggregations; no vocabulary state, no broadcast, "
        "width fixed at any corpus size — the entire point of the "
        "hashing trick.",
    bench=True,  # joined the headline r8: first-round floor rule (BASELINE.md)
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.functions.text import md5_hash60

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("w"))
    h = t.select(
        "doc_id",
        F.pmod(md5_hash60(F.concat(F.lit("fh:"), F.col("w"))),
               F.lit(_FH_BUCKETS)).alias("bucket"),
        (F.lit(1) - 2 * F.pmod(md5_hash60(F.concat(F.lit("fhs:"),
                                                   F.col("w"))),
                               F.lit(2))).alias("sign"))
    v = h.groupBy("doc_id", "bucket").agg(F.sum("sign").alias("val"))
    return (v.groupBy("doc_id")
            .agg(F.count(F.when(F.col("val") != 0, 1)).alias("nnz"),
                 F.sum(F.abs(F.col("val"))).alias("l1"),
                 F.sum(F.col("val") * F.col("val")).alias("sumsq")))


_DSIR_B = 1024
_DSIR_TARGET_LANG = "en"


def _bigram_buckets(docs: DataFrame, salt: str,
                    n_buckets: int) -> DataFrame:
    """(doc_id, lang, bucket) — one row per word bigram of each doc with
    at least two tokens, md5-hashed with `salt` into n_buckets buckets.
    The hashed bigram stream of DSIR ('ds:') and the CCNet LM ('pp:')."""
    from kafka_flink_processing_spark.functions.text import md5_hash60

    ts = (docs.select("doc_id", "lang", F.split("text", " ").alias("a"))
          .filter(F.size("a") >= 2))
    g = ts.select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(sequence(1, size(a) - 1), "
            "i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"))
        .alias("w"))
    return g.select(
        "doc_id", "lang",
        F.pmod(md5_hash60(F.concat(F.lit(salt), F.col("w"))),
               F.lit(n_buckets)).alias("bucket"))


def _bigram_buckets_sql(salt: str, n_buckets: int) -> str:
    """Oracle CTE fragment ending in `h` = (doc_id, lang, bucket) over the
    `documents` view — the DuckDB rendering of _bigram_buckets."""
    return f"""ts AS (SELECT doc_id, lang, string_split(text, ' ') AS a
                FROM documents),
    g AS (SELECT doc_id, lang,
                 unnest(list_transform(range(1, len(a)),
                        i -> a[i] || ' ' || a[i+1])) AS w
          FROM ts WHERE len(a) >= 2),
    h AS (SELECT doc_id, lang,
                 {_H60.format(x=f"'{salt}' || w")} % {n_buckets} AS bucket
          FROM g)"""


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_bigram_buckets_sql("ds:", _DSIR_B)},
    bstats AS MATERIALIZED (SELECT bucket,
                 COUNT(*) AS n_r,
                 SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                     THEN 1 ELSE 0 END) AS n_t
          FROM h GROUP BY bucket),
    tot AS (SELECT SUM(n_r) AS r_tot, SUM(n_t) AS t_tot FROM bstats),
    lr AS (SELECT b.bucket,
                  CAST(ROUND((LN(b.n_t + 1) - LN(b.n_r + 1)
                              - LN(t.t_tot + {_DSIR_B})
                              + LN(t.r_tot + {_DSIR_B})) * 1000000.0)
                        AS BIGINT) AS lr6
           FROM bstats b CROSS JOIN tot t),
    dw AS (SELECT h.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  CAST(SUM(l.lr6) AS DOUBLE) / 1000000.0 AS dsir_weight
           FROM h JOIN lr l USING (bucket) GROUP BY h.doc_id)
    SELECT d.doc_id,
           COALESCE(dw.n_bigrams, 0) AS n_bigrams,
           COALESCE(dw.dsir_weight, 0.0) AS dsir_weight
    FROM documents d LEFT JOIN dw USING (doc_id)
    """,
    doc=f"DSIR data-selection importance weights (Xie et al. 2023, "
        f"'Data Selection for Language Models via Importance "
        f"Resampling'): per doc, sum over its hashed word-bigram "
        f"occurrences of log p_target(bucket) - log p_raw(bucket), "
        f"where both distributions are Laplace-smoothed counts over "
        f"{_DSIR_B} md5-hashed buckets and the target is the "
        f"lang='{_DSIR_TARGET_LANG}' slice — the weight a resampling "
        "pass feeds into selection toward the target distribution. "
        "Cross-engine exactness: the per-BUCKET log-ratio is rounded "
        "once to 6dp scaled ints (1024 rows, the corpus_entropy "
        "precedent), so every per-doc sum is integer-exact and "
        "order-free. Scale: a corpus-sized explode feeds a map-side-"
        "combined 1024-group aggregation; the 1024-row stats broadcast "
        "back onto the gram stream for one doc-keyed aggregation. The "
        "gram stream is RE-DERIVED for that second pass (two scans of "
        "the raw corpus) rather than cached — materializing the "
        "exploded bigram relation would dwarf the corpus itself; no "
        "vocabulary state either way. Docs with <2 tokens (incl. "
        "NULL/empty text) surface with n_bigrams=0, weight 0.",
)
def dsir_importance_weights_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    h = _bigram_buckets(docs, "ds:", _DSIR_B)
    bstats = h.groupBy("bucket").agg(
        F.count("*").alias("n_r"),
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
              .otherwise(0)).alias("n_t"))
    tot = bstats.agg(F.sum("n_r").alias("r_tot"),
                     F.sum("n_t").alias("t_tot"))
    lr = (bstats.crossJoin(F.broadcast(tot))
          .select("bucket",
                  F.round((F.log(F.col("n_t") + 1) - F.log(F.col("n_r") + 1)
                           - F.log(F.col("t_tot") + _DSIR_B)
                           + F.log(F.col("r_tot") + _DSIR_B)) * 1e6)
                  .cast("long").alias("lr6")))
    dw = (h.join(F.broadcast(lr), "bucket")
          .groupBy("doc_id")
          .agg(F.count("*").alias("n_bigrams"),
               (F.sum("lr6").cast("double") / 1e6).alias("dsir_weight")))
    return (docs.select("doc_id").join(dw, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.coalesce("dsir_weight", F.lit(0.0))
                    .alias("dsir_weight")))


_PPL_B = 4096  # hashed-LM buckets; 4x DSIR's 1024 — the LM is the product
               # here, not just a ratio, so collision noise matters more


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_bigram_buckets_sql("pp:", _PPL_B)},
    bstats AS MATERIALIZED (SELECT bucket,
                 SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                     THEN 1 ELSE 0 END) AS n_t
          FROM h GROUP BY bucket),
    tot AS (SELECT SUM(n_t) AS t_tot FROM bstats),
    lm AS (SELECT b.bucket,
                  CAST(ROUND((LN(b.n_t + 1) - LN(t.t_tot + {_PPL_B}))
                             * 1000000.0) AS BIGINT) AS logp6
           FROM bstats b CROSS JOIN tot t),
    sc AS (SELECT h.doc_id,
                  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                  -SUM(l.logp6) AS ce6
           FROM h JOIN lm l USING (bucket) GROUP BY h.doc_id),
    sx AS (SELECT doc_id, n_bigrams,
                  CAST(ce6 AS DOUBLE) / (n_bigrams * 1000000.0) AS xent_nats
           FROM sc),
    b2 AS (SELECT doc_id, n_bigrams, xent_nats,
                  CAST(FLOOR(xent_nats * 100.0) AS BIGINT) AS ce_c
           FROM sx),
    hist AS (SELECT ce_c, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM b2 GROUP BY ce_c),
    cdf AS (SELECT ce_c,
                   COALESCE(SUM(cnt) OVER (ORDER BY ce_c
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cum_before,
                   SUM(cnt) OVER () AS total
            FROM hist),
    ter AS (SELECT ce_c,
                   CAST(1 + (3 * cum_before) // total AS BIGINT)
                     AS ppl_tercile
            FROM cdf)
    SELECT d.doc_id,
           COALESCE(s.n_bigrams, 0) AS n_bigrams,
           s.xent_nats AS xent_nats,
           t.ppl_tercile AS ppl_tercile
    FROM documents d
    LEFT JOIN b2 s USING (doc_id)
    LEFT JOIN ter t ON s.ce_c = t.ce_c
    """,
    doc=f"CCNet-style perplexity quality bucketing (Wenzek et al. 2020, "
        f"'CCNet: Extracting High Quality Monolingual Datasets from Web "
        f"Crawl Data'): score every document by its cross-entropy under "
        f"a language model trained on the trusted slice "
        f"(lang='{_DSIR_TARGET_LANG}' here, Wikipedia in the paper), "
        f"then split the corpus into head/middle/tail terciles of that "
        f"score — the standard keep-the-head crawl filter. The LM is a "
        f"hashed unigram-over-bigram-buckets model (the KenLM stand-in "
        f"this container supports): every word bigram hashes into one "
        f"of {_PPL_B} md5 buckets, Laplace-smoothed counts give log "
        "p(bucket), and a doc's score is the mean negative log-prob of "
        "its bigrams in nats (xent_nats; perplexity = e^xent, monotone, "
        "deliberately not materialized — exp() is the one step the "
        "engines could disagree on at 1 ulp). Cross-engine exactness is "
        "the DSIR recipe: per-BUCKET log-probs round once to 6dp scaled "
        "ints, so per-doc sums are integer-exact and order-free, and "
        "the final division is one IEEE op on identical integers. "
        "Terciles use the curriculum_stages histogram-of-values CDF on "
        "CENTINAT bins, not NTILE — a global NTILE is a single-"
        "partition sort of the corpus (100 TB scale-killer) and splits "
        "ties nondeterministically; here all docs in the same centinat "
        "bin share a tercile, the histogram is a map-side-combined "
        "aggregate to <=~2000 bins, and the bin->tercile map broadcasts "
        "back. Scale: two corpus scans for the bigram stream (the "
        "documented DSIR trade — materializing the exploded grams would "
        f"dwarf the corpus), one {_PPL_B}-row broadcast, one doc-keyed "
        "aggregation, one bounded histogram. r12: the tercile "
        "boundaries are an aggregate OF the per-doc scores, so the "
        "fully-lazy form recomputed the whole score branch (two more "
        "corpus scans) for the histogram side of the join; the query "
        "now persists the ~24 B/doc score relation once and both the "
        "histogram and the attach read the cache — the production "
        "shape tools/ccnet_ab.py measured 1.58x faster at 4x corpus "
        "with an identical result hash. The cache entry is retained "
        "deliberately (the operators/cluster.py posture: unpersisting "
        "before the caller's action would put the recompute right "
        "back; spillable, session-scoped, and the production analogue "
        "persists the score relation to storage). This is NOT the r8 "
        "persist-leak bug, which was unpersisting the WRONG handle. "
        "Docs with <2 tokens (incl. "
        "NULL/empty text) surface with n_bigrams=0 and NULL score/"
        "tercile — unscorable is visible, not silently head or tail.",
    bench=True,  # joins the headline: first-round floor rule (BASELINE.md)
)
def ccnet_perplexity_buckets_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # Persist-then-reuse (guide: cache only what is reused and expensive
    # to recompute): the score relation feeds BOTH the tercile histogram
    # and the final attach; materialize it once eagerly so neither branch
    # recomputes the two bigram corpus scans. Retention documented above.
    b2 = _ccnet_scored_b2(docs).persist()
    b2.count()
    return _ccnet_bucketed(docs, b2)


def _ccnet_lm(docs: DataFrame) -> DataFrame:
    """The frozen LM artifact: (bucket, logp6), one row for every one of
    the _PPL_B buckets, trained on the trusted slice
    (lang=_DSIR_TARGET_LANG) of `docs`. This is the relation a production
    pipeline persists/broadcasts; the streaming quality filter
    (streaming/jobs.py::ccnet_quality_filter_job) caches it once and
    scores every micro-batch against it. Dense, so scoring a corpus the
    reference never saw cannot drop OOV bigrams at the inner bucket join
    (r12 advisory fix). Unseen buckets get the SAME n_t=0 Laplace floor
    logp6 = round((ln 1 - ln(t_tot + B)) * 1e6) the smoothing already
    assigns to observed-but-untrusted buckets, and the zero rows leave
    t_tot unchanged, so self-trained scoring (the batch query, the
    parity tests) matches the sparse observed-bucket LM bit for bit:
    the extra rows match no probe."""
    h = _bigram_buckets(docs, "pp:", _PPL_B)
    bstats = h.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
              .otherwise(0)).alias("n_t"))
    dense = (docs.sparkSession.range(_PPL_B)
             .select(F.col("id").alias("bucket"))
             .join(bstats, "bucket", "left")
             .select("bucket", F.coalesce("n_t", F.lit(0)).alias("n_t")))
    tot = dense.agg(F.sum("n_t").alias("t_tot"))
    return (dense.crossJoin(F.broadcast(tot))
            .select("bucket",
                    F.round((F.log(F.col("n_t") + 1)
                             - F.log(F.col("t_tot") + _PPL_B)) * 1e6)
                    .cast("long").alias("logp6")))


def _ccnet_score_with_lm(docs: DataFrame, lm: DataFrame) -> DataFrame:
    """Score `docs` against a (bucket, logp6) LM relation: the per-doc
    score rows (doc_id, n_bigrams, xent_nats, ce_c). Integer-exact by
    the 6dp-scaled-int recipe regardless of which corpus trained lm."""
    h = _bigram_buckets(docs, "pp:", _PPL_B)
    sc = (h.join(F.broadcast(lm), "bucket")
          .groupBy("doc_id")
          .agg(F.count("*").alias("n_bigrams"),
               (-F.sum("logp6")).alias("ce6")))
    sx = sc.select(
        "doc_id", "n_bigrams",
        (F.col("ce6").cast("double")
         / (F.col("n_bigrams") * F.lit(1000000.0))).alias("xent_nats"))
    return sx.select("doc_id", "n_bigrams", "xent_nats",
                     F.floor(F.col("xent_nats") * 100.0).alias("ce_c"))


def _ccnet_scored_b2(docs: DataFrame) -> DataFrame:
    """The per-doc score relation (doc_id, n_bigrams, xent_nats, ce_c) —
    the ~24 B/doc relation a production pipeline persists once before
    the tercile join (tools/ccnet_ab.py measures that A/B — POSITIVE,
    1.58x at 4x corpus, SCALE.md; the registered query persists it and
    retains the cache entry, see ccnet_perplexity_buckets' doc)."""
    return _ccnet_score_with_lm(docs, _ccnet_lm(docs))


def _ccnet_tercile_map(b2: DataFrame) -> DataFrame:
    """(ce_c, ppl_tercile): centinat histogram -> CDF -> tercile, the
    bounded bin->tercile artifact (<=~2000 rows) that broadcasts back
    onto scores — and the second frozen artifact of the streaming
    quality filter (boundaries from a reference corpus's distribution)."""
    hist = b2.groupBy("ce_c").agg(F.count("*").alias("cnt"))
    w_cdf = (Window.orderBy("ce_c")
             .rowsBetween(Window.unboundedPreceding, -1))
    cdf = hist.select(
        "ce_c",
        F.coalesce(F.sum("cnt").over(w_cdf), F.lit(0)).alias("cum_before"),
        F.sum("cnt").over(Window.partitionBy()).alias("total"))
    return cdf.select(
        "ce_c",
        (F.lit(1) + F.expr("(3 * cum_before) div total"))
        .alias("ppl_tercile"))


def _ccnet_bucketed(docs: DataFrame, b2: DataFrame) -> DataFrame:
    """Tercile tail over the score relation: centinat histogram -> CDF
    -> bin->tercile broadcast -> attach, then the corpus-sized left join
    that surfaces unscorable docs."""
    ter = _ccnet_tercile_map(b2)
    scored = (b2.join(F.broadcast(ter), "ce_c")
              .select("doc_id", "n_bigrams", "xent_nats", "ppl_tercile"))
    return (docs.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    "xent_nats", "ppl_tercile"))


@register(
    "dedup_cluster_survivors",
    oracle=f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES.replace('WITH ', '', 1).format(
        sig=_minhash_sig_sql().strip().lstrip(), bands='{bands}')}
    ,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    clusters AS (SELECT a AS doc_id, MIN(b) AS canonical_id
                 FROM reach GROUP BY a),
    q AS (SELECT c.doc_id, c.canonical_id, d.n_chars
          FROM clusters c JOIN documents d USING (doc_id)),
    r AS (SELECT doc_id, canonical_id,
                 FIRST_VALUE(doc_id) OVER (
                   PARTITION BY canonical_id
                   ORDER BY n_chars DESC, doc_id) AS survivor_id
          FROM q)
    SELECT doc_id, canonical_id, survivor_id,
           doc_id = survivor_id AS is_survivor
    FROM r
    """.format(bands=_minhash_bands_sql()),
    doc="NEAR-dup survivor selection: one kept document per MinHash-LSH "
        "connected component — the decision step a production dedup "
        "actually ships (Lee et al. 2022 keep one per duplicate "
        "cluster; RefinedWeb keeps the longest). Survivor = the "
        "longest member by n_chars, doc_id tie-break; every row "
        "carries its cluster's survivor_id plus an is_survivor flag "
        "so the filter is one predicate downstream. Complements "
        "dedup_keep_best, which ranks within EXACT normalized-text "
        "clusters — this ranks within the transitive LSH near-dup "
        "components where members genuinely differ. Both orderings "
        "put NULL n_chars last (Spark desc default == DuckDB default "
        "null order), so the pick is deterministic on any corpus. "
        "Scale: cost on top of the audited dedup_clusters shape "
        "(banded candidates ~ O(dups), iterative min-label "
        "propagation, rounds = component diameter) is one broadcast-"
        "sized join to n_chars and one window PARTITIONED by cluster "
        "id — near-dup components are small by construction, so no "
        "single partition ever sees more than a cluster.",
)
def dedup_cluster_survivors_q(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.cluster import (
        connected_components,
    )
    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.6)
    cc = connected_components(pairs, docs.select("doc_id"))
    q = cc.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    r = q.select("doc_id", "canonical_id",
                 F.first("doc_id").over(w).alias("survivor_id"))
    return r.select(
        "doc_id", "canonical_id", "survivor_id",
        (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"))


from kafka_flink_processing_spark.operators.bpe import (  # noqa: E402
    N_MERGES as _BPE_K,
    bpe_oracle_sql,
)


@register(
    "bpe_vocab_merges",
    oracle=bpe_oracle_sql(_BPE_K),
    doc="Distributed BPE vocabulary induction (Sennrich et al. 2016), "
        "ORACLE-GATED end to end — the tokenizer-training step of an LLM "
        "data pipeline, previously assumed iterative-therefore-rows-only "
        "(the r6 'not SQL-expressible claims deserve re-examination' "
        "lesson applied again): symbol sequences live as delimiter-"
        "wrapped strings, so applying a merge is a plain string replace, "
        "which is left-to-right non-overlapping in BOTH engines — "
        "exactly BPE's greedy order — and the oracle generates one "
        "(argmax, apply) CTE stage per merge from the same constants. "
        "Trains on the word-FREQUENCY table (the only corpus-sized op is "
        "one groupBy(word); Zipf makes the vocab relation tiny), then "
        f"each of the {_BPE_K} iterations is a map-side-combined pair "
        "count over the cached vocab plus a 1-row argmax collect (the "
        "k-means O(K)-scalars driver pattern) and a pure-JVM replace — "
        "no Python row processing anywhere. Differential-tested against "
        "an independent pure-Python BPE (tests/test_bpe.py).",
    bench=True,  # joined the headline r8: first-round floor rule; cost is
                 # 10 sequential argmax jobs over the cached vocab relation
)
def bpe_vocab_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.bpe import bpe_vocab_merges

    return bpe_vocab_merges(load_table(spark, "documents", sf_dir))


from kafka_flink_processing_spark.operators.bpe import (  # noqa: E402
    bpe_encode_oracle_sql,
)


@register(
    "bpe_encode_tokens",
    oracle=bpe_encode_oracle_sql(_BPE_K),
    doc="BPE APPLY/ENCODE — the consumer of bpe_vocab_merges' learned "
        "merge table (r8 shipped the trainer; this closes the tokenizer "
        "story): segment every corpus word with the merges in rank order "
        "and report per-doc subword statistics (n_words, n_tokens, "
        "max_word_tokens) — the REAL token budget a mixing/packing stage "
        "needs, vs the whitespace proxy in data_mix_summary. Scale "
        "shape: the encode runs on the DISTINCT-WORD relation (Zipf-"
        "tiny), each merge is one pure-JVM string replace (left-to-right "
        "non-overlapping == BPE greedy order), and the corpus-sized work "
        "is one explode + a broadcast join of the word->n_sub map + one "
        "map-side-combined per-doc aggregate. Oracle: the trainer's "
        "generated per-merge CTE chain carrying the word through, then "
        "the same join/aggregate — both engines run train-then-encode "
        "end to end. Round-trip + differential-vs-pure-Python tests in "
        "tests/test_bpe.py.",
    bench=True,  # ~trainer cost (10 argmax jobs) + one corpus join pass
)
def bpe_encode_tokens_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.bpe import bpe_encode_tokens

    return bpe_encode_tokens(load_table(spark, "documents", sf_dir))


from kafka_flink_processing_spark.operators.bpe import (  # noqa: E402
    bpe_batched_oracle_sql,
)


@register(
    "bpe_vocab_merges_batched",
    oracle=bpe_batched_oracle_sql(),
    doc="BATCHED BPE induction (the r8 verdict's optional multi-merge "
        "item): per iteration, rank pairs by (freq DESC, lsym, rsym), "
        "scan the top CAND candidates in rank order, and greedily take "
        "up to BATCH symbol-DISJOINT pairs — applying one taken merge "
        "cannot destroy occurrences of another, so the stale-count error "
        "stays contained while a 30k-merge vocab drops from 30k "
        "sequential argmax jobs to 30k/BATCH pair-count jobs (the real "
        "driver-latency fix at production vocab sizes; classic trainer's "
        "documented bottleneck). Deterministic end to end: total "
        "candidate order + greedy scan, replayed EXACTLY by the DuckDB "
        "oracle via one recursive-CTE greedy walk per iteration "
        "(contains(used, D||sym||D) is an exact set probe because "
        "symbols never contain the delimiter) + BATCH static apply "
        "sub-stages. batch=1 degenerates to the classic trainer "
        "(property-tested); differential-tested vs an independent "
        "pure-Python batched reference (tests/test_bpe.py).",
    bench=True,  # first-round floor r9: n_iters=4 pair-count jobs for up
                 # to 16 merges vs 16 argmax jobs classically
)
def bpe_vocab_merges_batched_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.bpe import (
        bpe_vocab_merges_batched,
    )

    return bpe_vocab_merges_batched(load_table(spark, "documents", sf_dir))


from kafka_flink_processing_spark.operators.bpe import (  # noqa: E402
    bpe_fertility_oracle_sql,
)


@register(
    "bpe_fertility_by_lang",
    oracle=bpe_fertility_oracle_sql(_BPE_K),
    doc="tokenizer FERTILITY by language — tokens-per-word, the standard "
        "tokenizer-quality-by-language gauge (a vocab trained on a mixed "
        "corpus over-segments under-represented languages): train on the "
        "whole corpus, encode the Zipf-tiny distinct-word relation once, "
        "aggregate subword counts over the per-language word stream; "
        "n_unmerged_occ counts occurrences no merge touched (the "
        "'tokenizer does not help this language' signal) and fertility "
        "is ONE exact double division of two exact BIGINTs (bit-"
        "identical cross-engine, no float summation). Same scale shape "
        "as bpe_encode_tokens: two corpus passes, broadcast word map, "
        "O(#languages) output.",
)
def bpe_fertility_by_lang_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.bpe import (
        bpe_fertility_by_lang,
    )

    return bpe_fertility_by_lang(load_table(spark, "documents", sf_dir))


from kafka_flink_processing_spark.operators.bpe import (  # noqa: E402
    bpe_vocab_coverage_oracle_sql,
)


@register(
    "bpe_vocab_coverage",
    oracle=bpe_vocab_coverage_oracle_sql(_BPE_K),
    doc="the eval tying the two tokenizer views together "
        "(vocab_top_tokens <-> bpe_vocab_merges): per learned merge, the "
        "distinct corpus words and word occurrences containing it, and "
        "whether it graduated to a full word — low coverage at high rank "
        "flags an over-fit merge table. Substring-contains join of the "
        "broadcast O(n_merges) merge list against the Zipf-tiny "
        "word-frequency relation; identical generated trainer CTEs feed "
        "the oracle.",
)
def bpe_vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.bpe import bpe_vocab_coverage

    return bpe_vocab_coverage(load_table(spark, "documents", sf_dir))


@register(
    "data_mix_subword_budget",
    oracle=f"""
    WITH enc AS ({bpe_encode_oracle_sql(_BPE_K)}),
    d AS (
      SELECT d.source, d.lang, COUNT(*) AS n_docs,
             CAST(SUM(enc.n_tokens) AS BIGINT) AS total_subword_tokens,
             CAST(SUM(enc.n_words) AS BIGINT) AS total_ws_tokens
      FROM documents d JOIN enc USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, total_subword_tokens, total_ws_tokens,
           CAST(total_subword_tokens AS DOUBLE)
             / CAST(SUM(total_subword_tokens) OVER () AS BIGINT)
             AS token_share
    FROM d
    """,
    doc="data_mix_summary re-pointed at the REAL token budget: per "
        "(source, lang) doc counts and SUBWORD token totals from the "
        "trained BPE segmentation (bpe_encode_tokens), plus each cell's "
        "share of the corpus subword budget — the sampling-weight input "
        "a token-budgeted mixing stage actually needs (whitespace counts "
        "under-weight agglutinative/rare-word-heavy sources). Same "
        "one-shuffle mix aggregate as data_mix_summary, fed by the "
        "encoder's broadcast word->n_sub join.",
)
def data_mix_subword_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.bpe import bpe_encode_tokens

    docs = load_table(spark, "documents", sf_dir)
    enc = bpe_encode_tokens(docs)
    d = (docs.join(enc, "doc_id")
         .groupBy("source", "lang")
         .agg(F.count("*").alias("n_docs"),
              F.sum("n_tokens").alias("total_subword_tokens"),
              F.sum("n_words").alias("total_ws_tokens")))
    total = F.sum("total_subword_tokens").over(Window.partitionBy())
    return d.select(
        "source", "lang", "n_docs", "total_subword_tokens",
        "total_ws_tokens",
        (F.col("total_subword_tokens").cast("double") / total)
        .alias("token_share"))


# ---------------------------------------------------------------------------
# r10: BPE encode from the PERSISTED merge-table artifact — the production
# tokenizer shape (r9 verdict "What's missing #3"). bpe_encode_tokens
# deliberately re-trains inside the query so its oracle is a closed
# train-then-encode program; real pipelines train ONCE offline and encode
# many corpora from the shipped artifact. functions/bpe_merges.py pins that
# artifact (16 merges, sf0.01, tools/train_bpe_artifact.py — the
# IVF/PQ-codebook scheme), so encode time runs ZERO training jobs.
# ---------------------------------------------------------------------------

from kafka_flink_processing_spark.functions.bpe_merges import (  # noqa: E402
    BPE_MERGES,
)
from kafka_flink_processing_spark.operators.bpe import (  # noqa: E402
    bpe_encode_artifact_oracle_sql,
)


@register(
    "bpe_encode_from_artifact",
    oracle=bpe_encode_artifact_oracle_sql(BPE_MERGES),
    doc="BPE encode from a PERSISTED merge table (train-once/encode-many, "
        "the production pipeline shape; closes the r9 verdict's last real "
        "gap): segment every corpus word with the 16 pinned "
        "functions/bpe_merges.py merges in rank order and report per-doc "
        "subword statistics (n_words, n_tokens, max_word_tokens). Unlike "
        "bpe_encode_tokens there is NO training inside the query — no "
        "argmax collect, no iteration: one corpus groupBy(word), 16 "
        "pure-JVM replaces over the Zipf-tiny word relation, one "
        "broadcast join, one map-side-combined per-doc aggregate. Oracle: "
        "generated nested-replace SQL baked from the SAME literal merge "
        "table (no training CTEs). Equality with train-then-encode on "
        "identical merges is pinned in tests/test_bpe.py.",
    bench=True,  # first-round floor r10: ~one corpus pass — the cheap
                 # production counterpart to bpe_encode_tokens' 3.4 s
)
def bpe_encode_from_artifact_q(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.bpe import (
        bpe_encode_tokens_with,
    )

    return bpe_encode_tokens_with(
        load_table(spark, "documents", sf_dir), BPE_MERGES)


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer trainer (round 11)
# ---------------------------------------------------------------------------

def _unigram_iter_sql(i: int, prev: str) -> str:
    """One unrolled hard-EM iteration over vocab CTE `prev`: Viterbi
    segmentation of every distinct word (integer scores, lexicographic
    tie-break), frequency-weighted piece counts, add-one smoothing on
    single characters, re-derived 6dp-scaled log-probs. Mirrors
    operators/unigram_lm.py::_viterbi_counts + _m_step exactly."""
    return f"""
    ex{i} AS (
      SELECT s.word, s.f, s.seg_str, s.n_parts, unnest(s.pieces) AS piece
      FROM segs s
    ),
    scored{i} AS (
      SELECT e.word, e.f, e.seg_str, e.n_parts,
             SUM(v.logp6) AS score
      FROM ex{i} e JOIN {prev} v USING (piece)
      GROUP BY e.word, e.f, e.seg_str, e.n_parts
      HAVING COUNT(*) = e.n_parts
    ),
    win{i} AS (
      SELECT word, f, seg_str
      FROM scored{i}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY word
                                 ORDER BY score DESC, seg_str ASC) = 1
    ),
    cnt{i} AS (
      SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt
      FROM (SELECT f, unnest(string_split(seg_str, ' ')) AS piece
            FROM win{i})
      GROUP BY piece
    ),
    sm{i} AS (
      SELECT piece,
             cnt + CASE WHEN len(piece) = 1 THEN 1 ELSE 0 END AS cnt
      FROM cnt{i}
      WHERE cnt + CASE WHEN len(piece) = 1 THEN 1 ELSE 0 END > 0
    ),
    vocab{i} AS (
      SELECT piece, cnt,
             CAST(ROUND((LN(CAST(cnt AS DOUBLE))
                         - LN(CAST(t.total AS DOUBLE))) * 1000000.0)
                  AS BIGINT) AS logp6
      FROM sm{i} CROSS JOIN (SELECT SUM(cnt) AS total FROM sm{i}) t
    )"""


def unigram_lm_oracle_sql(max_piece: int = 4, max_word: int = 12,
                          vocab_cap: int = 512, iters: int = 2) -> str:
    """Generated oracle for unigram_lm_vocab: the composition table comes
    from a recursive CTE (the same enumeration
    operators/unigram_lm.py::compositions produces), the seed vocabulary
    and both unrolled EM iterations mirror the Spark operator step for
    step, and every log-prob is the identical two-LN 6dp-scaled-int form
    so scores compare as integers in both engines."""
    parts_lit = ", ".join(str(p) for p in range(1, max_piece + 1))
    its = "".join("," + _unigram_iter_sql(i + 1,
                                          f"vocab{i}" if i else "vocab0")
                  for i in range(iters))
    return f"""
    WITH RECURSIVE comps(wlen, parts) AS (
      SELECT 0, CAST([] AS INT[])
      UNION ALL
      SELECT wlen + p, list_append(parts, p)
      FROM comps, unnest([{parts_lit}]) AS t(p)
      WHERE wlen + p <= {max_word}
    ),
    words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest(string_split(COALESCE(text, ''), ' ')) AS word
            FROM documents)
      WHERE len(word) BETWEEN 1 AND {max_word}
      GROUP BY word
    ),
    subs AS (
      SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt
      FROM (
        SELECT f, substr(word, i, j - i + 1) AS piece
        FROM words,
             LATERAL unnest(range(1, len(word) + 1)) AS ti(i),
             LATERAL unnest(range(1, len(word) + 1)) AS tj(j)
        WHERE j >= i AND j - i + 1 <= {max_piece} AND j <= len(word)
      )
      GROUP BY piece
    ),
    seed_kept AS (
      SELECT piece, cnt
      FROM subs
      QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC)
                <= {vocab_cap}
              OR len(piece) = 1
    ),
    vocab0 AS (
      SELECT piece, cnt,
             CAST(ROUND((LN(CAST(cnt AS DOUBLE))
                         - LN(CAST(t.total AS DOUBLE))) * 1000000.0)
                  AS BIGINT) AS logp6
      FROM seed_kept
      CROSS JOIN (SELECT SUM(cnt) AS total FROM seed_kept) t
    ),
    segs AS (
      SELECT w.word, w.f,
             list_transform(range(1, len(c.parts) + 1),
               j -> substr(w.word,
                           1 + CAST(COALESCE(list_sum(c.parts[1:j-1]), 0)
                                    AS INT),
                           c.parts[j])) AS pieces,
             array_to_string(list_transform(range(1, len(c.parts) + 1),
               j -> substr(w.word,
                           1 + CAST(COALESCE(list_sum(c.parts[1:j-1]), 0)
                                    AS INT),
                           c.parts[j])), ' ') AS seg_str,
             len(c.parts) AS n_parts
      FROM words w JOIN comps c ON len(w.word) = c.wlen
    ){its}
    SELECT piece, cnt, CAST(logp6 AS DOUBLE) / 1000000.0 AS logp
    FROM vocab{iters}
    """


@register(
    "unigram_lm_vocab",
    oracle=unigram_lm_oracle_sql(),
    doc="Unigram-LM tokenizer trainer (Kudo 2018, the SentencePiece "
        "unigram model) as DETERMINISTIC hard-EM: seed vocabulary = all "
        "word substrings of length 1..4 (top-512 by frequency, plus all "
        "single characters), then 2 unrolled Viterbi-EM iterations — "
        "the E-step enumerates EVERY segmentation of each distinct word "
        "against a tetranacci composition table and argmaxes an INTEGER "
        "score (6dp-scaled log-prob sums, lexicographic tie-break on "
        "the joined segmentation), the M-step recounts pieces weighted "
        "by word frequency, add-one-smooths single characters (keeps "
        "segmentation total; every word also stays segmentable by its "
        "own previous winner, so totality is inductive), and re-derives "
        "log-probs with the two-LN 6dp recipe. Completes the tokenizer "
        "surface beside the BPE family (train/batched/encode/artifact/"
        "fertility). Trainer cost is O(distinct_words x compositions) — "
        "only the word-frequency agg touches the corpus, everything "
        "after runs on the Zipf-tiny word relation; the leak-free lazy "
        "form re-derives that agg once per iteration branch (~2 corpus "
        "scans per EM iteration — a production trainer persists the "
        "tiny words relation once, the ccnet/DSIR trade) "
        "(operators/unigram_lm.py). ASCII-scoped (substr semantics); "
        "pure-Python differential in tests/test_unigram_lm.py.",
)
def unigram_lm_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_processing_spark.operators.unigram_lm import (
        unigram_lm_vocab,
    )
    return unigram_lm_vocab(load_table(spark, "documents", sf_dir))
