"""Deduplication operators for large-scale training-data pipelines.

Four families, all declarative DataFrame plans (no Python in the hot path):

- exact_dedup: normalize -> md5 -> groupBy. One shuffle on the hash; at
  100 TB this is the cheapest pass and runs first.
- ngram_jaccard_pairs: exact near-dup mining via an inverted shingle index
  (explode distinct n-grams, self-join on shingle, count intersections).
  Shuffle on shingle; frequent-shingle skew is the hazard at scale — cap via
  LSH below, or drop ultra-frequent shingles (stop-shingles) upstream.
- minhash_lsh_pairs: MinHash signatures (universal hashing over a 60-bit
  md5-derived shingle hash) + banded LSH; only same-band candidates get the
  exact Jaccard verification. The scale path: candidate count ~ O(dups), not
  O(n^2).
- simhash_pairs: 32-bit SimHash over word-bigram features + banded hamming
  join (4 byte-bands; pigeonhole: <=3 differing bits cannot touch all 4
  bytes, so every pair with hamming<=3 shares >=1 exact byte) +
  bit_count(xor) verification.

Every operator reads a (doc_id, text) documents table. The expensive
intermediates (shingle arrays, signature tables, indexes, the cluster
edge table) are built once per input plan through memoized(), the one
artifact memo.

All arithmetic is integer/md5-based, so DuckDB reproduces every step
bit-for-bit. Beside each step is its DuckDB rendering (`*_sql` / `*_cte`
/ `*_CTE`), the text the oracles in plans/ splice in; no plan module
spells a step. The renderings read and define the CTE names they
document: doc_shingles_cte's `t`/`ds`, SHINGLE_ROWS_CTE's `ex`,
inverted_index_cte's `inv`, jaccard_intersections_cte's `inter`,
SIGNATURES_CTE's `sig`, MINHASH_BANDS_CTE's `bands`, the candidate
CTEs' `cand`, verified_pairs_cte's `pairs`, SIMHASH_CTE's `simhashes`,
BLOOM_PROBES_CTE's `px` and exactsubstr_cte's `base`/`spans`.
tests/test_dedup_renderings.py compares each pair.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.constants import (
    MINHASH_COEFFS,
    MINHASH_P,
    N_BANDS,
    SIMHASH_BITS,
)
from kafka_flink_processing_spark.functions.text import (
    md5_hash60,
    md5_hash60_sql,
    text_hash,
    word_grams,
    word_grams_sql,
)

# The near-dup Jaccard threshold of every MinHash-LSH and n-gram pair
# view (batch, incremental and streaming), and of their oracles.
NEAR_DUP_JACCARD = 0.6
# The containment threshold of containment_pairs and its oracle.
NEAR_DUP_CONTAINMENT = 0.5


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups over normalized text: (text_hash, n_docs,
    canonical_id = min id). Works at any scale: shuffle on the 128-bit hash,
    never on the text itself."""
    return (docs.select("doc_id", text_hash(F.col("text")).alias("text_hash"))
                .groupBy("text_hash")
                .agg(F.count("*").alias("n_docs"),
                     F.min("doc_id").alias("canonical_id")))


# The one artifact memo: (session, semanticHash, *parts) ->
# (source plan, cached artifact, primed row count). Only memoized() looks
# entries up or adds them; clear_dedup_caches() empties it.
_MEMO: dict[tuple, tuple[DataFrame, DataFrame, int]] = {}


def memoized(source: DataFrame, parts: tuple,
             build: Callable[[], DataFrame]) -> tuple[DataFrame, int]:
    """(artifact, n_rows) for the derivation `build()` of `source`: built,
    cached and primed once per (session, input plan, parts), then shared.

    The artifacts are the expensive dedup/cluster intermediates every
    consumer after them reuses: the shingle arrays (all three dedup
    families start from them), the MinHash signature table (a 16-way
    min-agg; pairs and clustering both start from it), the SimHash table
    (a 32-way bit aggregation), the df-capped inverted index, the
    ExactSubstr anchor index, and the doubled near-dup edge table. Each
    feeds several plan branches (both sides of a self-join, sizes +
    join sides), so without a cache one action builds it once per
    branch: the r2 bench showed dedup_ngram_jaccard paying +178% and
    the unprimed signature table racing its cold cache up to 4x
    (BENCH_r02: 6.403s vs 0.761s primed). One count() guarantees a
    single build. The 100 TB analogue is persisting each artifact as a
    table once per corpus snapshot.

    Key: `parts` starts with a kind tag ("shingles", "minhash", ...), so
    two artifacts of the same input and `n` stay distinct. Inputs are
    immutable parquet, so an entry cannot go stale; semanticHash is
    32-bit, so a hit is confirmed with sameSemantics against the stored
    source plan, and a collision rebuilds instead of returning another
    input's artifact. Entries of stopped sessions are dropped on every
    call (their cached blocks died with the SparkContext).

    Miss path, one policy: when the key cannot be built (semanticHash or
    sameSemantics raises) or collides, the artifact is still cached,
    primed and stored, under a key no lookup can match, so its consumers
    still read one build and clear_dedup_caches() still unpersists it.

    Streaming epochs call the plain builders (shingle_table,
    signatures_from_shingles) instead: each epoch is a new plan, so
    memoizing would grow one entry per epoch forever."""
    for key in list(_MEMO):
        try:
            stopped = key[0].sparkContext._jsc.sc().isStopped()
        except Exception:
            stopped = True
        if stopped:
            del _MEMO[key]
    spark = source.sparkSession
    try:
        key = (spark, source.semanticHash(), *parts)
        hit = _MEMO.get(key)
        if hit is not None:
            if source.sameSemantics(hit[0]):
                return hit[1], hit[2]
            key = (spark, object(), *parts)  # 32-bit collision
    except Exception:
        key = (spark, object(), *parts)
    artifact = build().cache()
    n_rows = artifact.count()  # the one priming job per artifact
    _MEMO[key] = (source, artifact, n_rows)
    return artifact, n_rows


def clear_dedup_caches() -> None:
    """Unpersist and drop every memoized artifact, dedup and cluster
    alike (frees executor storage; safe any time: consumers rebuild on
    next use)."""
    for _, artifact, _ in _MEMO.values():
        try:
            artifact.unpersist()
        except Exception:
            pass
    _MEMO.clear()


def shingle_table(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh): each document's distinct word n-grams, unmemoized."""
    from kafka_flink_processing_spark.shipping import ensure_shipped
    ensure_shipped(docs.sparkSession)
    return docs.select(F.col("doc_id"),
                       word_grams(F.col("text"), n).alias("sh"))


def doc_shingles(docs: DataFrame, n: int) -> DataFrame:
    """shingle_table, memoized per (input plan, n)."""
    return memoized(docs, ("shingles", n), lambda: shingle_table(docs, n))[0]


# each document's words, split on single spaces (NULL text as '')
WORDS_SQL = ("SELECT doc_id, string_split(COALESCE(text, ''), ' ')"
             " AS words FROM documents")


def doc_shingles_cte(n: int) -> str:
    """DuckDB rendering of doc_shingles: CTEs `t` (doc_id, words) and
    `ds` (doc_id, sh)."""
    return (f"t AS ({WORDS_SQL}),\n"
            f"    ds AS (SELECT doc_id, {word_grams_sql(n)} AS sh FROM t)")


def shingle_rows(ds: DataFrame) -> DataFrame:
    """(doc_id, sh), one row per shingle of a (doc_id, sh) shingle
    table."""
    return ds.select("doc_id", F.explode("sh").alias("sh"))


# DuckDB rendering of shingle_rows over `ds`: CTE `ex`
SHINGLE_ROWS_CTE = "ex AS (SELECT doc_id, unnest(sh) AS sh FROM ds)"


# Stop-shingle document-frequency cap, on by default: a shingle occurring in
# more than NGRAM_MAX_DF documents is boilerplate (license headers, site
# chrome, templates), carries no near-dup signal, and — critically for
# scale — would contribute O(df^2) candidate rows to the inverted-index
# self-join. One viral 3-gram at corpus scale otherwise produces a
# quadratic blowup no executor sizing survives. 1000 keeps the worst
# shingle's candidate block under ~500k rows while pruning nothing on
# corpora without true boilerplate (testdata max df << 1000).
NGRAM_MAX_DF = 1000


def inverted_index(ds: DataFrame, min_df: int,
                   max_df: int | None) -> DataFrame:
    """(doc_id, sh) inverted shingle index keeping shingles with document
    frequency in [min_df, max_df] (see NGRAM_MAX_DF), memoized: it feeds
    both sides of the candidate self-join, and its df >= DUP_SPAN_MIN_DF
    form feeds both dup_span_redact and dup_span_stats."""
    def build():
        inv = shingle_rows(ds)
        if min_df > 1 or max_df is not None:
            cond = F.col("df") >= min_df
            if max_df is not None:
                cond = cond & (F.col("df") <= max_df)
            kept = (inv.groupBy("sh").agg(F.count("*").alias("df"))
                       .filter(cond).select("sh"))
            inv = inv.join(kept, "sh")
        return inv
    return memoized(ds, ("inverted", min_df, max_df), build)[0]


def inverted_index_cte(min_df: int, max_df: int | None) -> str:
    """DuckDB rendering of inverted_index over `ex`: CTE `inv` (doc_id,
    sh). Shingles are distinct per document, so a row count is the
    document frequency."""
    having = f"COUNT(*) >= {min_df}"
    if max_df is not None:
        having += f" AND COUNT(*) <= {max_df}"
    return (f"inv AS (SELECT doc_id, sh FROM ex JOIN "
            f"(SELECT sh FROM ex GROUP BY sh HAVING {having}) USING (sh))")


def jaccard_intersections(ds: DataFrame, max_df: int | None) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b): candidate intersections from
    the df-bounded inverted index (see NGRAM_MAX_DF), with both shingle
    set sizes."""
    inv = inverted_index(ds, 1, max_df)
    a, b = inv.alias("a"), inv.alias("b")
    inter = (a.join(b, (F.col("a.sh") == F.col("b.sh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("n_common")))
    sizes = ds.select("doc_id", F.size("sh").alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_intersections_cte(max_df: int | None) -> str:
    """DuckDB rendering of jaccard_intersections over `ds`: CTEs `ex`,
    `inv`, `sizes`, `pc` and `inter` (doc_a, doc_b, n_common, n_a,
    n_b)."""
    return f"""{SHINGLE_ROWS_CTE},
    {inverted_index_cte(1, max_df)},
    sizes AS (SELECT doc_id, len(sh) AS n_sh FROM ds),
    pc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
           FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    inter AS (SELECT doc_a, doc_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
              FROM pc JOIN sizes sa ON doc_a = sa.doc_id
                      JOIN sizes sb ON doc_b = sb.doc_id)"""


def jaccard_ratio(inter, n_a, n_b):
    """|A∩B| / (|A|+|B|-|A∩B|) from the intersection and both set sizes
    (Columns); jaccard_ratio_sql is its DuckDB rendering."""
    return inter / (n_a + n_b - inter)


def jaccard_ratio_sql(inter: str, n_a: str, n_b: str) -> str:
    return f"{inter} / ({n_a} + {n_b} - {inter})"


def _count_jaccard():
    """The Jaccard of jaccard_intersections rows; COUNT_JACCARD_SQL is its
    DuckDB rendering over `inter`."""
    return jaccard_ratio(F.col("n_common"), F.col("n_a"), F.col("n_b"))


COUNT_JACCARD_SQL = jaccard_ratio_sql("n_common", "n_a", "n_b")


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = NEAR_DUP_JACCARD,
                        max_df: int | None = NGRAM_MAX_DF) -> DataFrame:
    """All pairs with distinct-word-n-gram Jaccard >= threshold, via an
    inverted index join (each shared shingle contributes one pre-aggregated
    intersection count — no quadratic cross join).

    The shingle arrays feed four plan branches (sizes + both join sides);
    they are cached AND primed so the string-heavy shingle generation runs
    once, not per branch.

    max_df (ON by default, see NGRAM_MAX_DF) drops shingles with df above
    the cap from the index: intersection counts then ignore boilerplate
    shingles, so a pair's Jaccard can only decrease vs the uncapped form —
    a deliberate refinement (boilerplate overlap is not near-duplication),
    and the bound that keeps the self-join O(sum df^2 over kept shingles)
    instead of quadratic in the hottest shingle. Pass max_df=None for the
    exact uncapped semantics.
    """
    inter = jaccard_intersections(doc_shingles(docs, n), max_df)
    return (inter.withColumn("jaccard", _count_jaccard())
                 .filter(F.col("jaccard") >= threshold)
                 .select("doc_a", "doc_b", "jaccard"))


def signatures_from_shingles(ds: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{k-1}, sh) from a (doc_id, sh) shingle table. The
    table feeds BOTH the min-agg branch and the final join; callers on the
    non-memoized path (streaming micro-batches) must persist `ds` first or
    the shingle UDF evaluates twice."""
    x = md5_hash60(F.col("sh")) % MINHASH_P
    aggs = [F.min((F.lit(a) * x + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)]
    sig = shingle_rows(ds).groupBy("doc_id").agg(*aggs)
    return sig.join(ds, "doc_id")


# DuckDB rendering of signatures_from_shingles over `ds`: CTEs `ex`, `hx`
# and `sig` (doc_id, mh0..mh{k-1}; the shingle set stays in `ds`)
SIGNATURES_CTE = f"""{SHINGLE_ROWS_CTE},
    hx AS (SELECT doc_id, {md5_hash60_sql('sh')} % {MINHASH_P} AS x FROM ex),
    sig AS (SELECT doc_id, {", ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS))} FROM hx GROUP BY doc_id)"""


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """One row per doc with mh0..mh{k-1} minhash values + the shingle set."""
    return signatures_from_shingles(doc_shingles(docs, n))


def jaccard_expr(sh_left, sh_right):
    """THE one copy of the exact-Jaccard expression over distinct shingle
    sets: |A∩B| / (|A|+|B|-|A∩B|). Shared by verified_jaccard_pairs and
    the estimator-accuracy / threshold-sweep evals (plans/analytics.py),
    so the evals always measure exactly the semantics the dedup
    operators apply."""
    inter = F.size(F.array_intersect(sh_left, sh_right))
    return jaccard_ratio(inter, F.size(sh_left), F.size(sh_right))


def jaccard_sql(a: str, b: str) -> str:
    """DuckDB rendering of jaccard_expr over the shingle lists `a`, `b`."""
    inter = f"len(list_intersect({a}, {b}))"
    return jaccard_ratio_sql(inter, f"len({a})", f"len({b})")


def verified_jaccard_pairs(cand: DataFrame, sig_left: DataFrame,
                           sig_right: DataFrame, left_col: str,
                           right_col: str, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of LSH candidates — the one copy of the
    per-pair THRESHOLD semantics (jaccard_expr >= threshold), shared by
    minhash_lsh_pairs, incremental_minhash_dups, and the streaming
    incremental dedup job so the paths cannot silently diverge.

    cand: (left_col, right_col) candidate id pairs; sig_left/sig_right:
    signature tables whose doc_id matches the respective column. Returns
    (left_col, right_col, jaccard)."""
    sh_l = sig_left.select(F.col("doc_id").alias(left_col),
                           F.col("sh").alias("__sh_l"))
    sh_r = sig_right.select(F.col("doc_id").alias(right_col),
                            F.col("sh").alias("__sh_r"))
    joined = cand.join(sh_l, left_col).join(sh_r, right_col)
    jac = jaccard_expr(F.col("__sh_l"), F.col("__sh_r"))
    return (joined.withColumn("jaccard", jac)
                  .filter(F.col("jaccard") >= threshold)
                  .select(left_col, right_col, "jaccard"))


def verified_pairs_cte(left_col: str = "doc_a",
                       right_col: str = "doc_b") -> str:
    """DuckDB rendering of verified_jaccard_pairs at NEAR_DUP_JACCARD over
    the candidates `cand` (left_col, right_col) and the shingle sets `ds`:
    CTE `pairs` (left_col, right_col, jaccard). MATERIALIZED: the closure
    oracles read `pairs` twice, and DuckDB would otherwise verify every
    candidate once per reader."""
    return f"""pairs AS MATERIALIZED (
      SELECT * FROM (
        SELECT c.{left_col}, c.{right_col},
               {jaccard_sql('sa.sh', 'sb.sh')} AS jaccard
        FROM cand c JOIN ds sa ON c.{left_col} = sa.doc_id
                    JOIN ds sb ON c.{right_col} = sb.doc_id)
      WHERE jaccard >= {NEAR_DUP_JACCARD})"""


def lsh_self_candidates(bands: DataFrame, left_col: str = "doc_a",
                        right_col: str = "doc_b") -> DataFrame:
    """Distinct unordered candidate pairs (left < right) agreeing on at
    least one LSH band — the one copy of the self-join candidate builder,
    shared by minhash_lsh_pairs and the index evals
    (minhash_jaccard_accuracy / lsh_threshold_sweep)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias(left_col),
                     F.col("b.doc_id").alias(right_col))
             .distinct())


# DuckDB rendering of lsh_self_candidates over `bands`: CTE `cand`
LSH_SELF_CANDIDATES_CTE = """cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""


def lsh_cross_candidates(probe_bands: DataFrame,
                         index_bands: DataFrame) -> DataFrame:
    """Distinct (doc_id [probe], dup_of [index]) pairs agreeing on at
    least one LSH band — the one copy of the probe-vs-index candidate
    builder, shared by incremental_minhash_dups and the streaming ingest
    guard (streaming/jobs.py::incremental_dedup_job)."""
    b, c = probe_bands.alias("b"), index_bands.alias("c")
    return (b.join(c, (F.col("b.band") == F.col("c.band"))
                   & (F.col("b.key") == F.col("c.key")))
             .select(F.col("b.doc_id").alias("doc_id"),
                     F.col("c.doc_id").alias("dup_of"))
             .distinct())


def lsh_cross_candidates_cte(probe_bands: str, index_bands: str) -> str:
    """DuckDB rendering of lsh_cross_candidates over two band relations:
    CTE `cand` (doc_id, dup_of)."""
    return f"""cand AS (
      SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
      FROM {probe_bands} b JOIN {index_bands} c
        ON b.band = c.band AND b.key = c.key)"""


def doc_signatures(docs: DataFrame, n: int) -> DataFrame:
    """minhash_signatures, memoized per (input plan, n)."""
    return memoized(docs, ("minhash", n),
                    lambda: minhash_signatures(docs, n))[0]


def minhash_bands(sig: DataFrame) -> DataFrame:
    """Explode a signature table into (doc_id, band, key) LSH bucket rows
    (bands of 2 minhashes). In a production pipeline this table, built over
    the standing corpus, IS the persisted near-dup index."""
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("band"),
                     F.concat_ws("_", F.col(f"mh{2*k}"), F.col(f"mh{2*k+1}"))
                      .alias("key"))
            for k in range(N_BANDS)])).alias("bk"))
    return bands.select("doc_id", "bk.band", "bk.key")


# DuckDB rendering of minhash_bands over `sig`: CTE `bands`
MINHASH_BANDS_CTE = "bands AS ({})".format(" UNION ALL ".join(
    f"SELECT doc_id, {k} AS band, CAST(mh{2*k} AS VARCHAR) || '_' || "
    f"CAST(mh{2*k+1} AS VARCHAR) AS key FROM sig" for k in range(N_BANDS)))


def minhash_index_cte(n: int) -> str:
    """DuckDB rendering of minhash_bands(doc_signatures(docs, n)), the
    near-dup LSH index: doc_shingles_cte(n), SIGNATURES_CTE and
    MINHASH_BANDS_CTE."""
    return (f"{doc_shingles_cte(n)},\n    {SIGNATURES_CTE},\n"
            f"    {MINHASH_BANDS_CTE}")


def minhash_lsh_pairs(docs: DataFrame, n: int = 3,
                      threshold: float = NEAR_DUP_JACCARD) -> DataFrame:
    """LSH candidates (bands of 2 minhashes) verified with exact Jaccard.

    P(candidate | j) = 1 - (1 - j^2)^8 — >=0.999 at j=0.8. Candidate
    verification uses array_intersect on the (distinct) shingle sets, which
    only runs on same-band pairs.
    """
    sig = doc_signatures(docs, n)
    cand = lsh_self_candidates(minhash_bands(sig))
    return verified_jaccard_pairs(cand, sig, sig, "doc_a", "doc_b", threshold)


def minhash_lsh_pairs_cte(n: int = 3) -> str:
    """DuckDB rendering of minhash_lsh_pairs at NEAR_DUP_JACCARD:
    minhash_index_cte(n), the candidates `cand` and the verified `pairs`
    (doc_a, doc_b, jaccard)."""
    return (f"{minhash_index_cte(n)},\n    {LSH_SELF_CANDIDATES_CTE},\n"
            f"    {verified_pairs_cte()}")


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over distinct word-bigram features."""
    h32 = md5_hash60(F.col("sh")) % F.lit(2 ** SIMHASH_BITS)
    exploded = shingle_rows(doc_shingles(docs, 2)).select(
        "doc_id", h32.alias("h"))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1)
               .otherwise(-1)).alias(f"s{j}")
        for j in range(SIMHASH_BITS)]
    agg = exploded.groupBy("doc_id").agg(*bit_sums)
    sh_val = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2 ** j).cast("long")) \
                .otherwise(F.lit(0).cast("long"))
        sh_val = term if sh_val is None else sh_val + term
    return agg.select("doc_id", sh_val.alias("simhash"))


# DuckDB rendering of simhash and of simhash_pairs' byte bands:
# doc_shingles_cte(2), `ex`, `hx`, `bsum`, `simhashes` (doc_id, simhash)
# and `bands` (doc_id, simhash, band, key)
SIMHASH_CTE = f"""{doc_shingles_cte(2)},
    {SHINGLE_ROWS_CTE},
    hx AS (SELECT doc_id, {md5_hash60_sql('sh')} % {2**SIMHASH_BITS} AS h
           FROM ex),
    bsum AS (SELECT doc_id, {", ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS))} FROM hx GROUP BY doc_id),
    simhashes AS (SELECT doc_id, {" + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS))} AS simhash FROM bsum),
    bands AS ({" UNION ALL ".join(
        f"SELECT doc_id, simhash, {k} AS band, (simhash >> {8*k}) & 255 "
        f"AS key FROM simhashes" for k in range(4))})"""


def simhash_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via 4-byte banding
    (pigeonhole: <=3 differing bits can't touch all 4 bytes) + exact
    bit_count verification."""
    sh, _ = memoized(docs, ("simhash",), lambda: simhash(docs))
    bands = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("band"),
                     F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(255)
                      .alias("key"))
            for k in range(4)])).alias("bk"))
    bands = bands.select("doc_id", "simhash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # filter BEFORE distinct: the hamming predicate is cheap per joined row,
    # while distinct on the un-filtered candidate set is a huge shuffle when
    # the corpus shares vocabulary (band bytes collide across many docs)
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .filter(ham <= max_hamming)
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     ham.alias("hamming"))
             .distinct())


def simhash_pairs_sql(max_hamming: int) -> str:
    """DuckDB rendering of simhash_pairs over SIMHASH_CTE's `bands`
    (hamming as BIGINT)."""
    return f"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


# the dup-span duplicated-gram screen: a gram is duplicated when it
# occurs in at least this many documents (dup_span_redact, and the
# dup_span_stats query)
DUP_SPAN_MIN_DF = 2


def dup_span_redact(docs: DataFrame, n: int = 3) -> DataFrame:
    """Span-level exact-substring dedup — the APPLY step of the dup-span
    family: rebuild each document with every corpus-duplicated word n-gram
    run excised (Lee et al. 2022 exact-substring dedup at n-gram
    granularity; dup_span_stats is the matching signal/ranking pass).

    A word is removed iff ANY n-gram covering it occurs in >=
    DUP_SPAN_MIN_DF documents. Returns (doc_id, clean_text, n_words,
    n_removed_words, removed_fraction) for every document.

    Scale shape: LINEAR in corpus words end-to-end. The duplicated-gram
    screen is the memoized df-filtered inverted index (the artifact
    dup_span_stats reads); positional gram starts semi-join it on the gram
    string, flagged starts explode to their covered word positions, an
    anti-join on (doc, position) drops covered words, and one doc-keyed
    aggregation reassembles the text in position order. The rebuild
    shuffles word rows — unavoidable, the operator's OUTPUT is the
    rewritten corpus — but there is deliberately no per-row
    array-membership scan, which would be O(doc_grams x doc_dup_grams)
    per document and stall an executor core on exactly the
    boilerplate-heavy long documents this operator targets.
    String/integer-only, so the DuckDB oracle (list-comprehension form)
    matches bit-for-bit."""
    ds = doc_shingles(docs, n)
    # the memoized df screen, shared with dup_span_stats: one corpus-wide
    # df pass per session, not one per operator
    dup_index = inverted_index(ds, DUP_SPAN_MIN_DF, None).select("sh")
    base = _split_words(docs)
    pg = base.select("doc_id",
                     F.posexplode(_positional_grams(n)).alias("i0", "sh"))
    flagged = pg.join(dup_index, "sh", "leftsemi")
    covered = flagged.select(
        "doc_id",
        F.explode(F.sequence(F.col("i0") + 1,
                             F.col("i0") + n)).alias("j"))
    return _rebuild_without(base, covered)


def _split_words(docs: DataFrame) -> DataFrame:
    """(doc_id, words): each document split on single spaces."""
    return docs.select(F.col("doc_id"),
                       F.split(F.col("text"), " ").alias("words"))


def _positional_grams(n: int):
    """The word n-grams of `words` in start order (the gram at index i
    starts at word i + 1); none under n words."""
    def gram_at(i):  # i is the 1-based start position of the n-gram
        return F.concat_ws(" ", *[F.element_at(F.col("words"), i + k)
                                  for k in range(n)])

    return F.when(
        F.size("words") < n, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), F.size("words") - (n - 1)), gram_at))


def _rebuild_without(base: DataFrame, covered: DataFrame) -> DataFrame:
    """The rebuild tail of both redact steps: each document of `base`
    (doc_id, words) without the 1-based word positions `covered` (doc_id,
    j) lists, as (doc_id, clean_text, n_words, n_removed_words,
    removed_fraction)."""
    # r12 (guide §3.1: pick the strategy deliberately): the rebuild tail
    # must never BROADCAST a corpus-scaled relation. Statically the
    # planner estimated `covered` and `rebuilt` under the auto-broadcast
    # threshold (their sizes hide behind Generate/aggregate estimates)
    # and planned BuildRight broadcasts of BOTH — `covered` is every
    # duplicated word position and `rebuilt` the full rewritten corpus;
    # at a 256x replication the covered broadcast was measured to
    # actually build 8.2 GiB and die on the 8 GiB broadcast cap. Shape
    # now: co-partition words and covered positions by doc_id ONCE (the
    # one corpus-text exchange the rebuild aggregation was going to pay
    # anyway — it now rides this partitioning), dedup covered within the
    # same partitioning, and bind the anti-join to a per-partition hash
    # build (shuffle_hash: build side = this partition's covered
    # positions, bounded by per-doc length — no sort, no broadcast, no
    # second corpus exchange at ANY scale).
    covered = (covered.repartition(F.col("doc_id"))
               .dropDuplicates(["doc_id", "j"]))
    pw = base.select("doc_id", F.posexplode("words").alias("j0", "w")) \
             .select("doc_id", (F.col("j0") + 1).alias("j"), "w") \
             .repartition(F.col("doc_id"))
    kept = pw.join(covered.hint("shuffle_hash"), ["doc_id", "j"],
                   "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("j").alias("j"),
                                                 F.col("w").alias("w")))),
            lambda s: s["w"])).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"))
    # project word COUNTS before the attach join — joining `base` directly
    # would ship every document's full words array through the exchange a
    # second time (O(corpus text)) when one long per doc suffices
    sizes = base.select("doc_id", F.size("words").cast("long")
                        .alias("n_words"))
    n_removed = F.col("n_words") - F.coalesce("n_kept",
                                              F.lit(0).cast("long"))
    # merge, not broadcast: `rebuilt` (the preserved-side payload) rides
    # its own doc_id partitioning, `sizes` is one narrow long per doc —
    # SMJ streams the text rows instead of holding the corpus in a hash
    # relation (the static plan used to broadcast the WHOLE rebuilt
    # corpus here)
    return (sizes.join(rebuilt.hint("merge"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    "n_words",
                    n_removed.alias("n_removed_words"),
                    (n_removed.cast("double")
                     / F.greatest("n_words", F.lit(1).cast("long")))
                    .alias("removed_fraction")))


# ExactSubstr contract: shared spans of at least ESS_MIN_LEN words, mined
# from k-gram anchors shared by 2..ESS_MAX_DF documents
ESS_MIN_LEN = 8
ESS_MAX_DF = 64


def _ess_anchor_index(docs: DataFrame, k: int, max_df: int) -> DataFrame:
    """(doc_id, pos, g, gh) anchor index for ExactSubstr: positional
    k-grams surviving the hash df>=2 screen AND the exact-gram
    [2, max_df] cap — O(duplicated content) by construction. Memoized:
    the relation feeds BOTH sides of the seed self-join plus the redact
    apply step, and without a cache every consumer re-runs the
    corpus-sized gram explode (the r12 executed plan showed the explode
    3-4x per action). With the hash-screened intermediate cached too,
    the explode runs exactly twice (once under the anchor aggregate,
    once materializing the survivors), which is the minimum for a
    screen-then-attach shape that never shuffles the corpus-sized
    gram-string relation."""
    screened = []

    def build():
        pg = (_split_words(docs)
              .select("doc_id", F.posexplode(_positional_grams(k))
                      .alias("i0", "g"))
                  .select("doc_id", (F.col("i0") + 1).alias("pos"), "g",
                          F.xxhash64("g").alias("gh")))
        # anchor screen on the 8-byte hash: ONLY the df >= 2 lower bound
        # (collision-safe in this direction; see exactsubstr_spans)
        anchors = (pg.groupBy("gh")
                     .agg(F.count_distinct("doc_id").alias("df"))
                     .filter(F.col("df") >= 2)
                     .select("gh"))
        ag = pg.join(anchors, "gh", "leftsemi").cache()
        ag.count()  # prime: the cap screen and the final attach both read it
        screened.append(ag)
        # r12: the <= max_df cap binds on EXACT grams over the surviving
        # relation (O(duplicated content)) — a hash-pooled df could exceed
        # the cap and silently drop both colliding grams' spans at scale.
        # The exact df >= 2 bound rides along for free: it drops grams
        # that only survived the hash screen via a collision (they would
        # die in the exact-string pair join anyway, but this keeps their
        # rows out of the self-join entirely).
        capped = (ag.groupBy("gh", "g")
                    .agg(F.count_distinct("doc_id").alias("gdf"))
                    .filter((F.col("gdf") >= 2) & (F.col("gdf") <= max_df))
                    .select("gh", "g"))
        return ag.join(capped, ["gh", "g"], "leftsemi")

    out, _ = memoized(docs, ("ess", k, max_df), build)
    for ag in screened:
        ag.unpersist()  # superseded by the primed capped relation
    return out


def exactsubstr_spans(docs: DataFrame, min_len: int = ESS_MIN_LEN,
                      max_df: int = ESS_MAX_DF) -> DataFrame:
    """ExactSubstr duplicated-substring mining (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better' — the
    suffix-array ExactSubstr variant, re-expressed as anchored diagonal
    run-merging): every MAXIMAL word span of length >= min_len shared
    verbatim between two documents, reported per ordered pair as
    (doc_a, doc_b, a_start, b_start, span_len) with 1-based word starts.

    This is SPAN semantics, not gram membership (dup_span_redact): a
    word run whose overlapping grams are duplicated against DIFFERENT
    partner documents is NOT one shared span — no single document
    contains it contiguously — and this operator correctly reports only
    the per-pair maximal spans (tests/test_exactsubstr.py pins the
    disagreement witness).

    Exactness: with anchor size k = min_len, a shared span of length
    L >= k at offsets (i, j) yields k-gram seeds matching at every
    (i+t, j+t), t = 0..L-k — a contiguous run on the diagonal i-j — and
    conversely a maximal run of m contiguous seeds is a maximal shared
    span of m+k-1 words (the seed one left of the run matches iff the
    word one left matches). Gaps-and-islands over (pair, diagonal)
    therefore recovers the exact maximal spans; no suffix array needed.

    Scale shape, stage by stage:
    - positional k-grams explode map-side; the anchor screen groupBys
      xxhash64(gram) — an 8-byte shuffle key, never the k-word string
      (at k=50 the string relation is ~50x corpus text; the hash screen
      keeps that expansion out of the exchange). The screen applies
      ONLY the df >= 2 lower bound, where collisions are one-sided: a
      collision can only LIFT a pooled count, so every truly-shared
      gram survives and the extras are discarded by the exact-string
      pair join. The collision story is NOT symmetric — a pooled count
      can also push past an upper cap and drop BOTH colliding grams'
      anchors (the r11 verdict's contract gap: unobservable at sandbox
      gram counts, a real recall leak at ~10^12 grams) — so the upper
      cap deliberately does NOT bind here.
    - anchors keep 2 <= distinct-doc df, then the <= max_df cap binds
      on EXACT grams via one narrow re-screen over the hash-surviving
      relation — already O(duplicated content), so the extra aggregate
      never sees a corpus-sized exchange, and the cap now matches the
      string-grouped oracle at ANY scale. The upper cap bounds the
      O(df^2) seed fan-out per gram: boilerplate that saturates
      >max_df documents is dedup-by-frequency territory (stop-gram
      screens, heavy_hitters_*), not pairwise span mining. The cap is
      part of the CONTRACT (the oracle applies the same cap on exact
      grams), so the result stays exact w.r.t. its spec.
    - only hash-surviving grams (O(duplicated content), not O(corpus))
      carry their strings into the self-join; the diagonal window and
      the island aggregation both cluster on (doc_a, doc_b, diag), so
      the final groupBy rides the window's exchange — partitions are
      per-pair-per-diagonal, i.e. tiny, skew-free by construction.
    Within-document repeats are out of scope (cross-document pairs
    only, doc_a < doc_b); word-granular, like the rest of the dup-span
    family. Integer/string-only arithmetic, bit-exact oracle."""
    k = min_len
    ag = _ess_anchor_index(docs, k, max_df)
    a, b = ag.alias("a"), ag.alias("b")
    # join on the hash, verify the exact string (collision-proof), and
    # orient pairs doc_a < doc_b
    seeds = (a.join(b, (F.col("a.gh") == F.col("b.gh"))
                    & (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
              .select(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"),
                      F.col("a.pos").alias("pos_a"),
                      F.col("b.pos").alias("pos_b")))
    seeds = seeds.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = seeds.withColumn("island",
                           F.col("pos_a") - F.row_number().over(w))
    return (isl.groupBy("doc_a", "doc_b", "diag", "island")
               .agg(F.min("pos_a").cast("long").alias("a_start"),
                    F.min("pos_b").cast("long").alias("b_start"),
                    (F.count("*") + (k - 1)).cast("long").alias("span_len"))
               .select("doc_a", "doc_b", "a_start", "b_start", "span_len"))


def exactsubstr_cte(min_len: int = ESS_MIN_LEN,
                    max_df: int = ESS_MAX_DF) -> str:
    """DuckDB rendering of exactsubstr_spans: CTEs `base` (doc_id, w),
    `grams` (the positional k-grams, k = min_len), `anchors` (grams in
    2..max_df documents), `seeds`, `islands` and `spans` (doc_a, doc_b,
    a_start, b_start, span_len). Grams group on the exact string, the
    contract the Spark hash screen reproduces."""
    k = min_len
    return f"""base AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
    grams AS (
      SELECT doc_id, i AS pos, array_to_string(w[i:i+{k - 1}], ' ') AS g
      FROM base, unnest(range(1, greatest(len(w) - {k - 2}, 1))) AS t(i)
    ),
    anchors AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {max_df}
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
             COUNT(*) + {k - 1} AS span_len
      FROM islands GROUP BY doc_a, doc_b, diag, island
    )"""


def exactsubstr_redact(docs: DataFrame, min_len: int = ESS_MIN_LEN,
                       max_df: int = ESS_MAX_DF) -> DataFrame:
    """The APPLY step of ExactSubstr dedup (Lee et al. 2022): rebuild
    each document with every duplicated span occurrence excised EXCEPT
    the copy in the smallest doc_id that shares it — the paper's
    remove-all-but-one rule made deterministic. Returns (doc_id,
    clean_text, n_words, n_removed_words, removed_fraction), the
    dup_span_redact output contract, so the two apply steps read
    side-by-side.

    Semantics: exactsubstr_spans reports maximal shared spans per
    ordered pair (doc_a < doc_b); a word position is removed iff it is
    covered by the doc_b side of ANY reported span — i.e. every
    occurrence is redacted except in the minimal doc_id sharing that
    content (docs {1,5,9} sharing a span: pairs (1,5),(1,9),(5,9) put 5
    and 9 on the b side; doc 1 keeps its copy). Contrast with
    dup_span_redact, which removes EVERY occurrence of any duplicated
    gram in every doc — keep-one is the form that preserves one
    trainable copy of boilerplate instead of deleting it corpus-wide.

    Scale shape: the span relation is O(duplicated content)
    (exactsubstr_spans above); covered positions explode per-span
    (span_len rows each), the anti-join and position-ordered rebuild
    are the dup_span_redact pattern — the only corpus-sized exchange is
    the doc-keyed reassembly, which IS the output."""
    spans = exactsubstr_spans(docs, min_len=min_len, max_df=max_df)
    covered = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.explode(F.sequence(
            F.col("b_start"),
            F.col("b_start") + F.col("span_len") - 1)).alias("j"))
    return _rebuild_without(_split_words(docs), covered)


def incremental_minhash_dups(docs: DataFrame, batch_cond,
                             n: int = 3,
                             threshold: float = NEAR_DUP_JACCARD) -> DataFrame:
    """Near-dup screen of an arriving batch against the standing corpus:
    (doc_id [batch], dup_of [corpus], jaccard) for every cross pair with
    Jaccard >= threshold.

    batch_cond is a boolean Column splitting docs into batch (true) and
    corpus (false). Only batch bands probe corpus bands — candidate volume
    is O(batch x dup rate), never corpus x corpus; at 100 TB the corpus
    band table is the persisted LSH index and this is a bucketed lookup
    join the size of the day's increment.
    """
    sig = doc_signatures(docs, n)
    cand = lsh_cross_candidates(minhash_bands(sig.filter(batch_cond)),
                                minhash_bands(sig.filter(~batch_cond)))
    return verified_jaccard_pairs(cand, sig, sig, "doc_id", "dup_of",
                                  threshold)


# Bloom decontamination parameters. m = 2^20 bits packs into 16384 longs
# (128 KiB) — broadcastable at any corpus size; k = 3 double-hashed probes.
# At 100 TB the raw eval-gram string set can reach GBs (too big for the
# broadcast the exact screen relies on) while the bitmap stays FIXED-size:
# size m to the EVAL-gram count, never the corpus (m ~ 10-20 bits/gram
# keeps the false-positive rate <1% at k=3; 2^20 covers ~100k eval grams
# — an undersized bitmap saturates and flags everything, observed at 2^17
# against the sf0.1 eval slice). m must be a power of two and 1 <= k < m:
# the no-false-negative guarantee rests on the k probe positions being
# pairwise distinct, which the odd-stride argument only gives then.
BLOOM_M_BITS = 1 << 20
BLOOM_K = 3


def bloom_positions(h):
    """BLOOM_K double-hashed bit positions for a 60-bit gram hash. h1
    reads the low log2(m) hash bits, the stride reads the NEXT log2(m)
    bits (disjoint — no h1/h2 correlation) and is forced odd so it is
    coprime with the power-of-two BLOOM_M_BITS: the k positions are
    pairwise distinct. Integer-only — DuckDB reproduces it exactly
    (BLOOM_PROBES_CTE)."""
    log2m = BLOOM_M_BITS.bit_length() - 1
    h1 = h % BLOOM_M_BITS
    h2 = (F.shiftright(h, log2m) % BLOOM_M_BITS).bitwiseOR(F.lit(1))
    return [(h1 + F.lit(j) * h2) % BLOOM_M_BITS for j in range(BLOOM_K)]


def bloom_probes(ds: DataFrame) -> DataFrame:
    """(doc_id, sh, p) probe rows of a (doc_id, sh) shingle table: each
    gram with its BLOOM_K pairwise-distinct bit positions."""
    return shingle_rows(ds).select("doc_id", "sh", F.explode(F.array(
        *bloom_positions(md5_hash60(F.col("sh"))))).alias("p"))


# DuckDB rendering of bloom_probes over `ex`: CTEs `hx` and `px`
BLOOM_PROBES_CTE = f"""hx AS (SELECT doc_id, sh, {md5_hash60_sql('sh')} AS h FROM ex),
    px AS (SELECT doc_id, sh,
                  ((h % {BLOOM_M_BITS})
                   + j * (((h >> {BLOOM_M_BITS.bit_length() - 1})
                           % {BLOOM_M_BITS}) | 1))
                    % {BLOOM_M_BITS} AS p
           FROM hx CROSS JOIN (SELECT unnest({list(range(BLOOM_K))}) AS j) js)"""


def contamination_screen_bloom(docs: DataFrame, eval_cond,
                               n: int = 4) -> DataFrame:
    """Decontamination screen via a Bloom bitmap of the eval n-grams — the
    scale path when the eval-gram set outgrows a raw-string broadcast.

    Same contract as contamination_screen but with bounded memory: eval
    grams are folded into a BLOOM_M_BITS Bloom bitmap packed as (word_idx,
    bits) longs — at most m/64 rows regardless of eval size — which
    broadcasts onto the training-gram scan. A gram is flagged iff all
    BLOOM_K probe bits are set: a SUPERSET of the exact screen's shared
    grams (no false negatives; false-positive rate ~(1-e^{-kN/m})^k).
    Flagged docs feed the same quarantine/review step, so bloom false
    positives cost review time, never silent contamination.

    Returns (doc_id, n_flagged_grams, n_grams, flag_ratio) for training
    docs with at least one bloom-positive gram. Deterministic (md5-derived
    double hashing, no seeds), so the DuckDB oracle models the bitmap as
    the equivalent distinct-position set and matches exactly.

    Plan shape at 100 TB: one tiny aggregation builds the bitmap (explode
    eval grams -> k positions -> bit_or per word); the corpus side is
    screened with a broadcast hash join on word_idx (map-side, no corpus
    shuffle). Probe rows are filtered to bloom-POSITIVE bits BEFORE the
    (doc, gram) aggregation, so the corpus-keyed exchanges carry only
    contaminated-or-false-positive grams (~the hit rate of the corpus),
    never one row per corpus gram; a gram has k pairwise-distinct probe
    positions (odd stride, power-of-two m), so count(*) == k over its
    surviving rows is exactly the all-bits-set test."""
    ds = doc_shingles(docs, n)
    # shingle ONCE over all docs (one memoized UDF pass), then split the
    # shingle table by the tag — shingling eval/train separately would run
    # the string-heavy UDF twice. When eval_cond resolves against the
    # shingle table itself (it references only the id column, e.g. the
    # registered doc_id % 13 split), filter it directly — no doc-table
    # re-scan and no broadcast join on either branch (r12, guide §2.4);
    # a cond over other doc columns falls back to the tag join.
    try:
        evds, trds = ds.filter(eval_cond), ds.filter(~eval_cond)
    except Exception:
        eval_ids = docs.select(F.col("doc_id"), eval_cond.alias("ev"))
        dst = ds.join(eval_ids, "doc_id")
        evds, trds = dst.filter(F.col("ev")), dst.filter(~F.col("ev"))
    return bloom_screen(trds, bloom_bitmap(evds))


# variable-distance shift needs the SQL form (F.shiftleft only takes a
# literal count); 1L << 63 wraps to the sign bit in Java semantics, which
# bit_or / & handle bitwise — sign never leaks into the output. Lazy:
# Column construction needs an active SparkContext, so these cannot be
# module-level constants (import would fail before the session exists).
def _bloom_word_idx():
    return F.shiftright(F.col("p"), 6)


def _bloom_mask():
    return F.expr("shiftleft(cast(1 as bigint), cast(p & 63 as int))")


def bloom_bitmap(ds: DataFrame) -> DataFrame:
    """(word_idx, bits) packed Bloom bitmap of every n-gram in a (doc_id,
    sh) shingle table — at most BLOOM_M_BITS/64 rows regardless of input
    size. This is the persisted artifact of the decontamination family:
    built once per eval-corpus snapshot, broadcast to every screen."""
    return (bloom_probes(ds)
            .select(_bloom_word_idx().alias("word_idx"),
                    _bloom_mask().alias("mask"))
            .groupBy("word_idx")
            .agg(F.bit_or("mask").alias("bits")))


def _bloom_dense(bloom: DataFrame) -> DataFrame:
    """One-row (arr: array<bigint>) densification of a packed (word_idx,
    bits) bitmap: arr[word_idx] = bits, absent words = 0. BLOOM_M_BITS/64
    elements (16384 longs = 128 KiB) whatever the eval
    corpus size — the same bounded-artifact guarantee as the packed form,
    in a shape the screen can probe with O(1) array indexing instead of a
    per-position hash join."""
    n_words = BLOOM_M_BITS // 64
    # collect_list order is partition-dependent; the struct sort restores
    # word_idx order, then one linear gap-fill pass writes arr[i] = word
    # i's bits with zeros between set words. Linear on purpose: a
    # map_from_arrays + per-index lookup is O(set bits) PER index —
    # quadratic — and a range-join fill costs two extra stages per build.
    one = (bloom.groupBy()
           .agg(F.array_sort(F.collect_list(F.struct("word_idx", "bits")))
                .alias("s")))
    s = F.col("s")
    zero = F.lit(0).cast("long")

    def entry(e, i):
        prev = (F.when(i == 0, F.lit(-1).cast("long"))
                .otherwise(F.element_at(s, i)["word_idx"]))
        return F.concat(
            F.array_repeat(zero, (e["word_idx"] - prev - 1).cast("int")),
            F.array(e["bits"]))

    tail = F.array_repeat(
        zero,
        (F.lit(n_words) - 1 - F.element_at(s, -1)["word_idx"]).cast("int"))
    arr = (F.when(F.size(s) == 0, F.array_repeat(zero, n_words))
           .otherwise(F.concat(F.flatten(F.transform(s, entry)), tail)))
    return one.select(arr.alias("arr"))


def bloom_screen(ds: DataFrame, bloom: DataFrame) -> DataFrame:
    """Screen a (doc_id, sh) shingle table against a packed Bloom bitmap:
    (doc_id, n_flagged_grams, n_grams, flag_ratio) for docs with at least
    one bloom-positive gram.

    r12 shape (guide §2.4/§2.3): the bitmap is densified to a one-row
    128 KiB array and attached with a single-row broadcast nested-loop
    join, so the all-k-bits test is pure map-side projection arithmetic
    (array index + bit AND per probe, whole-stage codegen) — no k-way
    row explosion, no probe-side hash join, and no (doc_id, gram)
    exchange: a gram either passes all k tests in-row or is dropped
    before anything shuffles. n_grams rides the same rows, so the
    per-doc flag count is ONE corpus-keyed exchange of pre-aggregated
    (doc_id, n_grams) partials and the old corpus-sized sizes join is
    gone. Replaced plan (r11): explode x k positions -> broadcast hash
    join on word_idx -> (doc_id, sh) exchange + count==k -> doc_id
    exchange -> sort-merge join against a per-doc sizes scan. Grams are
    distinct per doc (word_grams), so counting passing gram rows per
    doc is exactly the old count of all-bits-set grams."""
    # positions are projected on the stream side BEFORE the dense attach:
    # the filter then enters the BNLJ condition as plain _p column
    # references, and the md5 runs once per gram in a codegen Project
    # (projected after the join, the optimizer inlines the aliases into
    # the join condition — k*4 md5 evaluations per row, measured ~2x the
    # whole screen)
    probe = (ds.select("doc_id",
                       F.size("sh").cast("long").alias("n_grams"),
                       F.explode("sh").alias("sh"))
             .select("doc_id", "n_grams",
                     *[F.coalesce(p, F.lit(0).cast("long"))
                       .alias(f"_p{j}") for j, p in enumerate(
                         # the coalesce (never hit: sh is non-null) makes
                         # each position provably non-null, so the join
                         # infers no isnotnull pre-filter — which would
                         # re-expand all k position exprs into a second
                         # md5 pass per row
                         bloom_positions(md5_hash60(F.col("sh"))))])
             .crossJoin(F.broadcast(_bloom_dense(bloom))))
    cond = None
    for j in range(BLOOM_K):
        word = F.element_at(
            "arr", (F.shiftright(F.col(f"_p{j}"), 6) + 1).cast("int"))
        mask = F.expr(f"shiftleft(cast(1 as bigint), "
                      f"cast(_p{j} & 63 as int))")
        test = word.bitwiseAND(mask) != 0
        cond = test if cond is None else cond & test
    return (probe.filter(cond)
            .groupBy("doc_id", "n_grams")
            .agg(F.count("*").alias("n_flagged_grams"))
            .select("doc_id", "n_flagged_grams", "n_grams",
                    (F.col("n_flagged_grams").cast("double")
                     / F.col("n_grams")).alias("flag_ratio")))


def contamination_screen(docs: DataFrame, eval_cond, n: int = 4) -> DataFrame:
    """Benchmark-decontamination screen: for every training doc, count the
    distinct word n-grams it shares with ANY doc in the held-out eval set
    (eval_cond true => eval member). Returns only contaminated docs:
    (doc_id, n_shared_grams, n_grams, contamination_ratio).

    Scale shape: the eval side (benchmarks) is tiny relative to a 100 TB
    corpus, so its distinct-gram set broadcasts — the corpus n-grams are
    screened map-side with no shuffle of the training data; the only
    exchange is the per-doc hit count on doc_id. Shares the cached shingle
    index with the dedup families (same (plan, n) memo)."""
    ds = doc_shingles(docs, n)
    ex = shingle_rows(ds)
    eval_ids = docs.select(F.col("doc_id"), eval_cond.alias("ev"))
    tagged = ex.join(eval_ids, "doc_id")
    ev_grams = tagged.filter(F.col("ev")).select("sh").distinct()
    hits = (tagged.filter(~F.col("ev"))
            .join(F.broadcast(ev_grams), "sh")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared_grams")))
    sizes = (ds.join(eval_ids, "doc_id").filter(~F.col("ev"))
             .select("doc_id", F.size("sh").cast("long").alias("n_grams")))
    return (hits.join(sizes, "doc_id")
            .select("doc_id", "n_shared_grams", "n_grams",
                    (F.col("n_shared_grams").cast("double")
                     / F.col("n_grams")).alias("contamination_ratio")))


def contamination_hits_cte(eval_cond: str, ex: str = "ex",
                           tag: str | int = "") -> str:
    """DuckDB rendering of contamination_screen's eval grams and per-doc
    hits over shingle rows `ex` for the eval split `eval_cond`: CTEs
    `ev{tag}` (sh) and `hits{tag}` (doc_id, n_shared_grams)."""
    return (f"ev{tag} AS (SELECT DISTINCT sh FROM {ex} WHERE {eval_cond}),\n"
            f"    hits{tag} AS (SELECT doc_id, COUNT(*) AS n_shared_grams\n"
            f"             FROM {ex} JOIN ev{tag} USING (sh)\n"
            f"             WHERE NOT ({eval_cond}) GROUP BY 1)")


def containment_pairs(docs: DataFrame, n: int = 3) -> DataFrame:
    """All pairs whose n-gram CONTAINMENT — |A∩B| / min(|A|, |B|) — is
    at least NEAR_DUP_CONTAINMENT, alongside their Jaccard for contrast.

    Containment is the asymmetric near-dup measure Jaccard misses: a short
    document pasted verbatim inside a long one has tiny Jaccard (the union
    is dominated by the long doc) but containment ~1.0 — exactly the
    quote/boilerplate/sub-document duplication a training-corpus dedup
    pass must catch (the reference has no dedup at all; this extends the
    ngram_jaccard_pairs family it would need at scale).

    Same machinery and cost shape as ngram_jaccard_pairs: the memoized
    shingle index, the df-capped inverted-index self-join, pre-aggregated
    intersection counts — no O(n^2) cross join anywhere.
    """
    inter = jaccard_intersections(doc_shingles(docs, n), NGRAM_MAX_DF)
    return (inter.withColumn("containment", F.col("n_common")
                             / F.least(F.col("n_a"), F.col("n_b")))
                 .withColumn("jaccard", _count_jaccard())
                 .filter(F.col("containment") >= NEAR_DUP_CONTAINMENT)
                 .select("doc_a", "doc_b", "containment", "jaccard"))
