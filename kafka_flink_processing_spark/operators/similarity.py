"""Embedding similarity search: exact and approximate nearest neighbours.

Every operator reads an embeddings frame with the fixed columns `vec_id`
(the vector id) and `embedding` (array<float>); search operators take the
query set as `query_ids` (a subset of the corpus ids, never matched with
themselves). Scores are bit-reproducible against the DuckDB oracles: dot
products and squared distances are sequential index-order folds (the
oracle's list_reduce), and every ranking breaks ties on the smaller id.

Operators:
- cosine_topk: brute-force baseline. Query set broadcast against the
  corpus; cost O(|Q| * N) — correct but the fallback path.
- lsh_cosine_topk: banded random-hyperplane LSH (16 fixed literal planes,
  8 bands x 2 bits, OR-amplified); exact cosine on the bucket candidates.
- ivf_cosine_topk: IVF coarse quantizer (pinned k-means codebook), probe
  the IVF_NPROBE nearest cells, exact cosine re-rank.
- pq_encode / pq_adc_topk / pq_adc_rerank_topk: product quantization with
  asymmetric distance (ADC) over the M-byte codes, optionally re-ranked
  exactly on a shortlist.
- ivfpq_adc_topk / ivfpq_residual_adc_topk: IVFADC — IVF cell pruning
  composed with PQ codes of the raw vector or of its residual.
- assign_cells: map-only nearest-cell assignment (the IVF index build).
- cosine_pairs / lsh_cosine_pairs / semdedup: near-duplicate pair mining
  (brute force, LSH candidates, within-cell SemDeDup).

The search skeleton they share — one copy of each step:
- _topk: per-query ranking by (score, cand_id), rank <= k.
- _side / _side_cosine: the (id, vector, norm) projection of one join side
  (query/candidate or a/b) and the exact cosine between two sides.
- _lsh_bands: the banded-signature explode.
- _scored_cells / _probe_order: every (vector, centroid) cosine, and each
  query's cells ranked by (cosine DESC, cid) — the IVF probe order.
- _pq_codes / _query_luts / _adc_topk: PQ code extraction, the query
  lookup tables, and the sum_m lut[m*K + codes[m]] fold with its top-k.

Beside each step is its DuckDB rendering (`*_sql` / `*_cte` / `*_CTE`),
the text the oracles in plans/ splice in; no plan module spells a step.
The renderings read the CTE names they document: UNIT_INFO_CTE's `n`
(vec_id, embedding, nrm), ivf_cells_cte's `cent`/`asgj`/`asg`,
ivf_probes_cte's `probes`, pq_encode_cte's `cb`/`best`/`codes`,
pq_luts_cte's `luts` and lsh_bands_cte's `bands`.

Codebooks are inputs, never trained here: registered queries pass the
pinned artifacts (functions/ivf_codebook.py, pq_codebook.py,
pq_residual_codebook.py) that the oracles embed as the same literals; the
offline trainers are tools/train_ivf_codebook.py and
tools/train_pq_codebook.py over operators/kmeans.py::kmeans_train.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.constants import LSH_PLANES


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (index order — matches list_reduce)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x)


def sum_fold_sql(xs: str) -> str:
    """DuckDB: the index-order sum of the double list `xs` from 0.0 — the
    rendering of every F.aggregate(..., 0.0, acc + x) fold here."""
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {xs}), "
            "(acc, x) -> acc + x)")


def _pair_fold_sql(a: str, b: str, term: str) -> str:
    return sum_fold_sql(f"list_transform(list_zip({a}, {b}), p -> {term})")


def dot_sql(a: str, b: str) -> str:
    """DuckDB rendering of _dot."""
    return _pair_fold_sql(a, b, "CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)")


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def _cosine(dot: Column, na: Column, nb: Column) -> Column:
    """cosine = dot / (na * nb), NULL when the denominator is 0 (cosine
    is undefined for the zero vector). This matches DuckDB, where x / 0
    is NULL, so every oracle agrees without special-casing — while
    Spark's ANSI mode would otherwise kill the whole job with
    DIVIDE_BY_ZERO on the first zero-norm embedding in the corpus
    (found by the r9 emb_degenerate fuzz family). NaN norms propagate
    NaN in both engines (NaN != 0 under Spark's NaN semantics)."""
    den = na * nb
    return F.when(den != 0, dot / den)


def cosine_sql(x: str, y: str) -> str:
    """DuckDB rendering of _side_cosine between the rows `x` and `y` of
    UNIT_INFO_CTE's `n` (x / 0 is NULL in DuckDB, as _cosine makes it)."""
    return (f"{dot_sql(f'{x}.embedding', f'{y}.embedding')}"
            f" / ({x}.nrm * {y}.nrm)")


def with_unit_info(emb: DataFrame) -> DataFrame:
    return emb.withColumn("nrm", _norm(F.col("embedding")))


UNIT_INFO_CTE = (f"n AS (SELECT vec_id, embedding, "
                 f"{norm_sql('embedding')} AS nrm FROM embeddings)")


def _queries(df: DataFrame, query_ids) -> DataFrame:
    """The rows of `df` whose vec_id is in the query set."""
    return df.filter(F.col("vec_id").isin(list(query_ids)))


def query_set_sql(query_ids) -> str:
    """DuckDB: the query set as an IN list, `(0, 1, ...)`."""
    return "(" + ", ".join(str(int(i)) for i in query_ids) + ")"


def _topk(scored: DataFrame, k: int, order: Column) -> DataFrame:
    """Per-query top-k of (query_id, cand_id, score) rows: rank by `order`
    (the score descending for similarities, ascending for distances), ties
    to the smaller cand_id — the oracles' ROW_NUMBER order."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def topk_sql(scored: str, score: str, k: int, desc: bool = False) -> str:
    """DuckDB rendering of _topk over the relation `scored` (query_id,
    cand_id, `score`): (query_id, cand_id, score, rank BIGINT)."""
    order = f"{score} DESC" if desc else score
    return (f"SELECT query_id, cand_id, {score}, rank FROM ("
            f"SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id "
            f"ORDER BY {order}, cand_id) AS BIGINT) AS rank FROM {scored}) "
            f"WHERE rank <= {k}")


# (id, vector, norm) names of each join side: query/candidate for top-k
# search, a/b for pair mining
_SIDES = {"q": ("query_id", "qv", "qn"), "c": ("cand_id", "cv", "cn"),
          "a": ("vec_a", "va", "na"), "b": ("vec_b", "vb", "nb")}


def _side(df: DataFrame, role: str, *extra) -> DataFrame:
    """(vec_id, embedding, nrm, *extra) rows renamed as one join side."""
    i, v, n = _SIDES[role]
    return df.select(F.col("vec_id").alias(i), F.col("embedding").alias(v),
                     F.col("nrm").alias(n), *extra)


def _side_cosine(x: str, y: str) -> Column:
    """Exact cosine between the vectors of sides `x` and `y`."""
    (_, xv, xn), (_, yv, yn) = _SIDES[x], _SIDES[y]
    return _cosine(_dot(F.col(xv), F.col(yv)), F.col(xn), F.col(yn))


def cosine_topk(emb: DataFrame, query_ids, k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self)."""
    base = with_unit_info(emb).select(
        F.col("vec_id"), F.col("embedding"), F.col("nrm"))
    q = _side(_queries(base, query_ids), "q")
    c = _side(base, "c")
    scored = (F.broadcast(q).join(c, F.col("query_id") != F.col("cand_id"))
               .select("query_id", "cand_id",
                       _side_cosine("q", "c").alias("cosine")))
    return _topk(scored, k, F.col("cosine").desc())


def cosine_topk_sql(cand: str, k: int) -> str:
    """DuckDB: the exact-cosine top-k re-rank of the (query_id, cand_id)
    pairs of relation `cand` over `n` — the last step of every cosine
    search."""
    return topk_sql(
        f"(SELECT p.query_id, p.cand_id, {cosine_sql('q', 'c')} AS cosine "
        f"FROM {cand} p JOIN n q ON q.vec_id = p.query_id "
        f"JOIN n c ON c.vec_id = p.cand_id)", "cosine", k, desc=True)


def bruteforce_topk_sql(query_ids, k: int) -> str:
    """DuckDB rendering of cosine_topk over `n`: the exact top-k, also
    the ground truth of the recall evals."""
    return cosine_topk_sql(
        f"(SELECT q.vec_id AS query_id, c.vec_id AS cand_id "
        f"FROM n q JOIN n c ON c.vec_id != q.vec_id "
        f"WHERE q.vec_id IN {query_set_sql(query_ids)})", k)


def lsh_signature(vec: Column) -> Column:
    """16-bit random-hyperplane signature from the fixed literal planes."""
    sig = F.lit(0).cast("long")
    for p, plane in enumerate(LSH_PLANES):
        arr = F.array(*[F.lit(w) for w in plane])
        proj = _dot(vec, arr)
        sig = sig + F.when(proj > 0, F.lit(2 ** p).cast("long")) \
                     .otherwise(F.lit(0).cast("long"))
    return sig


# OR-amplification: candidate if ANY band matches. 2-bit bands keep recall
# high even for the weak-similarity regime (cos ~0.3 => P(cand) ~0.96);
# at larger corpora raise LSH_BAND_BITS (bucket ~ N/2^bits per band) to trade
# recall for candidate volume.
LSH_BAND_BITS = 2
LSH_N_BANDS = 8


def _lsh_bands(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm, band, key): one row per vector per band of
    its 16-bit signature."""
    base = with_unit_info(emb).withColumn(
        "sig", lsh_signature(F.col("embedding")))
    mask = (1 << LSH_BAND_BITS) - 1
    return base.select(
        F.col("vec_id"), F.col("embedding"), F.col("nrm"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("sig"), b * LSH_BAND_BITS)
                      .bitwiseAND(mask).alias("key"))
            for b in range(LSH_N_BANDS)])).alias("bk")) \
        .select(F.col("vec_id"), F.col("embedding"), F.col("nrm"),
                F.col("bk.band"), F.col("bk.key"))


def lsh_bands_cte() -> str:
    """DuckDB rendering of _lsh_bands (with lsh_signature) over `n`:
    CTEs `planes`, `sig` and `bands` (vec_id, band, key)."""
    mask = (1 << LSH_BAND_BITS) - 1
    return f"""planes AS ({codebook_sql(LSH_PLANES, "p")}),
    sig AS (SELECT v.vec_id, CAST(SUM(
              CASE WHEN {dot_sql('v.embedding', 'pl.cv')} > 0
                   THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END) AS BIGINT) AS sig
            FROM n v CROSS JOIN planes pl GROUP BY v.vec_id),
    bands AS (SELECT vec_id, band,
                     (sig >> (band * {LSH_BAND_BITS})) & {mask} AS key
              FROM sig CROSS JOIN range({LSH_N_BANDS}) AS b(band))"""


def lsh_cosine_topk(emb: DataFrame, query_ids, k: int = 10) -> DataFrame:
    """ANN top-k with banded hyperplane LSH (OR-amplification).

    A corpus vector is a candidate if it matches the query on any of the
    LSH_N_BANDS bands. Band width tunes the bucket size (~N/2^bits per
    band); at larger corpora raise LSH_BAND_BITS rather than scanning
    bigger buckets. Exact cosine + top-k on candidates.
    """
    bands = _lsh_bands(emb)
    q = _side(_queries(bands, query_ids), "q",
              F.col("band").alias("qband"), F.col("key").alias("qkey"))
    c = _side(bands, "c", F.col("band"), F.col("key"))
    matched = (F.broadcast(q)
               .join(c, (F.col("qband") == F.col("band"))
                     & (F.col("qkey") == F.col("key"))
                     & (F.col("query_id") != F.col("cand_id"))))
    # A pair can match in several bands (OR-amplification), so dedup is
    # required — but score FIRST, then dedup on (query_id, cand_id): the
    # shuffle then carries three scalars per row instead of two embedding
    # arrays, and the groupBy partial-aggregates map-side (the duplicate
    # band matches collapse before the exchange). Duplicates score
    # identically, so first() is deterministic.
    scored = (matched.select("query_id", "cand_id",
                             _side_cosine("q", "c").alias("cosine"))
              .groupBy("query_id", "cand_id")
              .agg(F.first("cosine").alias("cosine")))
    return _topk(scored, k, F.col("cosine").desc())


# IVF coarse quantizer: K cells, probe the IVF_NPROBE nearest cells per
# query. The codebook is an artifact OF its corpus (one trained on one
# draw recalls ~0.4 on another vs ~0.9 same-corpus), trained offline by
# tools/train_ivf_codebook.py with operators/kmeans.py::kmeans_train at
# IVF_K / IVF_TRAIN_ITERS and pinned in functions/ivf_codebook.py, so the
# DuckDB oracle can embed the identical 6dp literals.
IVF_K = 16
IVF_NPROBE = 4
IVF_TRAIN_ITERS = 10


def _scored_cells(base: DataFrame, centroids) -> DataFrame:
    """Every (vector, centroid) cosine — (vec_id, embedding, nrm, cid,
    ccos): the K-row codebook broadcast against the partitioned corpus,
    N*K scored rows, never shuffled. `base` carries nrm
    (with_unit_info)."""
    cents = base.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cid int, cv array<double>").withColumn("cn", _norm(F.col("cv")))
    cos_to_cent = _cosine(_dot(F.col("embedding"), F.col("cv")),
                          F.col("nrm"), F.col("cn"))
    return (base.crossJoin(F.broadcast(cents))
                .select(F.col("vec_id"), F.col("embedding"), F.col("nrm"),
                        F.col("cid"), cos_to_cent.alias("ccos")))


def _probe_order(scored_cells: DataFrame) -> DataFrame:
    """_scored_cells rows plus `rn`: each vector's cells ranked by (ccos
    DESC, cid) — the IVF probe order (a query probes rn <= nprobe)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(),
                                             F.col("cid"))
    return scored_cells.withColumn("rn", F.row_number().over(w))


def _argmax_cell(scored_cells: DataFrame) -> DataFrame:
    """Nearest-cell assignment (vec_id, cell, embedding, nrm) via
    broadcast-scored rows + map-side max_by partial aggregation (one ~N-row
    exchange). Semantically identical to assign_cells (max_by(cid,
    struct(ccos, -cid)) == the fold's first-strict-max; oracle
    ROW_NUMBER(ORDER BY cos DESC, cid)); kept beside it because the two
    win in DIFFERENT plan shapes, measured at sf0.1: when a fat join/re-rank
    follows in the same stage, the literal fold's CodegenFallback drags the
    whole stage interpreted (ivf_cosine_topk 0.85 s agg vs 1.65 s map),
    while a standalone assignment is 3x faster as a pure map
    (kmeans_assign_cells 0.9 s -> 0.3 s)."""
    tie = F.struct(F.col("ccos").alias("c"), (-F.col("cid")).alias("nj"))
    return scored_cells.groupBy("vec_id").agg(
        F.max_by("cid", tie).cast("long").alias("cell"),
        F.first("embedding").alias("embedding"),
        F.first("nrm").alias("nrm"))


def ivf_cells_cte(centroids) -> str:
    """DuckDB rendering of _scored_cells + _probe_order + the cell
    argmax over `n`: `cent` (cid, cv, cn), `asgj` (vec_id, cid, cos, rn),
    every (vector, centroid) cosine ranked by (cos DESC, cid), and `asg`
    (vec_id, cell, cos), its rank-1 row."""
    return f"""cent AS (SELECT cid, cv, {norm_sql('cv')} AS cn
             FROM ({codebook_sql(centroids, "cid")})),
    asgj AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY cos DESC, cid) AS rn
             FROM (SELECT v.vec_id, c.cid,
                          {dot_sql('v.embedding', 'c.cv')} / (v.nrm * c.cn)
                            AS cos
                   FROM n v CROSS JOIN cent c)),
    asg AS (SELECT vec_id, CAST(cid AS BIGINT) AS cell, cos
            FROM asgj WHERE rn = 1)"""


def ivf_probes_cte(query_ids) -> str:
    """`probes` (query_id, cell): each query's IVF_NPROBE first cells in
    ivf_cells_cte's order."""
    return f"""probes AS (
      SELECT vec_id AS query_id, CAST(cid AS BIGINT) AS cell
      FROM asgj WHERE vec_id IN {query_set_sql(query_ids)}
        AND rn <= {IVF_NPROBE})"""


def _dot_expr_sql(a: str, b: str) -> str:
    """SQL rendering of _dot (same ops, same fold order)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")


def _ivf_best_sql(centroids) -> str:
    """struct<v double, j int>: the argmax-cosine centroid of `embedding`
    (ties -> smallest cid; NULL cosines — zero-norm vectors — lose to any
    non-NULL, and an all-NULL row keeps j=0 with v NULL), via a
    first-strict-max fold over the K literal-centroid cosines. Replays
    the previous max_by(cid, struct(ccos, -cid)) aggregation bit for
    bit — NaN
    orders above every double in both the fold's `>` and max_by's
    struct ordering — but as a PURE MAP: the centroid table enters the
    plan as constants, so cell assignment adds no join and no exchange.
    `nrm` must be a materialized column (with_unit_info): it is
    referenced once per centroid and must not re-evaluate."""
    import math

    # One 2-D centroid literal + a precomputed norm literal instead of K
    # inlined vectors (r12: analysis cost scales with tree size — see
    # _pq_sqds_sql). The norms are computed here with the SAME IEEE ops
    # in the same order the constant-folded sqrt(dot(lit, lit)) ran on
    # the JVM (sequential fold, correctly-rounded sqrt), so the literal
    # denotes the identical double.
    def _py_norm(cv) -> float:
        acc = 0.0
        for v in cv:
            fv = float(v)
            acc = acc + fv * fv
        return math.sqrt(acc)

    cents = _lit_mat_sql(centroids)
    cns = "array(" + ", ".join(_dlit(_py_norm(cv)) for cv in centroids) + ")"
    den = f"(nrm * element_at({cns}, i + 1))"
    cos = (f"CASE WHEN {den} <> 0 THEN "
           f"{_dot_expr_sql('embedding', f'element_at({cents}, i + 1)')}"
           f" / {den} END")
    take = ("COALESCE(x > acc.v, acc.v IS NULL AND x IS NOT NULL) "
            "OR acc.j = -1")
    return (f"aggregate(transform(sequence(0, {len(centroids) - 1}), "
            f"i -> {cos}), "
            "named_struct('v', CAST(NULL AS DOUBLE), 'j', -1, 'i', -1), "
            "(acc, x) -> named_struct("
            f"'v', IF({take}, x, acc.v), "
            f"'j', IF({take}, acc.i + 1, acc.j), "
            "'i', acc.i + 1), "
            "acc -> named_struct('v', acc.v, 'j', acc.j))")


def assign_cells(base: DataFrame, centroids,
                 with_cosine: bool = False) -> DataFrame:
    """Map-only IVF cell assignment: same output relation as
    the old broadcast-score + max_by aggregation — (vec_id, cell,
    embedding, nrm[, cell_cosine]) — with the codebook compiled into the
    projection instead of broadcast-joined and re-aggregated, removing the
    corpus-sized exchange from every index build. `base` must already
    carry the nrm column (with_unit_info)."""
    st = base.withColumn("_asg", F.expr(_ivf_best_sql(centroids)))
    cols = [F.col("vec_id"), F.col("_asg.j").cast("long").alias("cell"),
            F.col("embedding"), F.col("nrm")]
    if with_cosine:
        cols.append(F.col("_asg.v").alias("cell_cosine"))
    return st.select(*cols)


def ivf_cosine_topk(emb: DataFrame, query_ids, centroids,
                    k: int = 10) -> DataFrame:
    """ANN top-k with an IVF (inverted-file) index over the K-row
    `centroids` codebook.

    Build: the codebook broadcast-joins the corpus; N*K scored rows never
    shuffle; map-side max_by partial aggregation reduces them to one
    (vector, cell) row per vector before the single exchange on vec_id.

    Search: each query probes its IVF_NPROBE nearest cells; candidates =
    corpus vectors in probed cells (equi-join on cell against the broadcast
    probe list); exact cosine + top-k re-rank. Cost ~ nprobe/K of brute
    force; at 100 TB raise K so cells stay executor-sized and the probe
    join stays broadcast.
    """
    base = with_unit_info(emb)
    # agg-based assignment here, NOT assign_cells: the exact re-rank
    # join follows in-stage, and the measured sf0.1 tradeoff favors the
    # codegen-friendly aggregation (see _argmax_cell's docstring)
    scored_cells = _scored_cells(base, centroids)
    asg = _argmax_cell(scored_cells)
    probes = _side(
        _probe_order(_queries(scored_cells, query_ids))
        .filter(F.col("rn") <= IVF_NPROBE),
        "q", F.col("cid").cast("long").alias("cell"))

    # No distinct needed: every corpus vector is argmax-assigned to exactly
    # ONE cell and a query's probe list holds distinct cells, so each
    # (query, candidate) pair joins at most once — a dedup here would be an
    # array-keyed shuffle over the whole candidate set for nothing.
    cand = (F.broadcast(probes)
            .join(asg, "cell")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select("query_id", "qv", "qn",
                    F.col("vec_id").alias("cand_id"),
                    F.col("embedding").alias("cv"), F.col("nrm").alias("cn")))
    scored = cand.select("query_id", "cand_id",
                         _side_cosine("q", "c").alias("cosine"))
    return _topk(scored, k, F.col("cosine").desc())


def ivf_topk_sql(k: int) -> str:
    """DuckDB rendering of ivf_cosine_topk over ivf_probes_cte's
    `probes`: the vectors of each probed cell, re-ranked exactly."""
    return cosine_topk_sql(
        "(SELECT DISTINCT p.query_id, a.vec_id AS cand_id "
        "FROM probes p JOIN asg a "
        "ON a.cell = p.cell AND a.vec_id != p.query_id)", k)


def _sqd(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (index order — matches the
    oracle's list_reduce; per-element cast to double like _dot)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x)


def sqdist_sql(a: str, b: str) -> str:
    """DuckDB rendering of _sqd."""
    return _pair_fold_sql(
        a, b, "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
              "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))")


def _sqd_expr_sql(a: str, b: str) -> str:
    """SQL rendering of _sqd (same ops, same fold order — bit-identical;
    rendered as text so the whole PQ projection reaches the JVM in ONE
    F.expr parse instead of thousands of py4j Column-builder calls,
    which measured ~6 s of driver time per query at M*K*dsub = 1024
    literals)."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
            "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")


def _dlit(v) -> str:
    """One double as a SQL 'D'-suffixed literal — the same correctly
    rounded text->double parse as CAST('<repr>' AS DOUBLE) (identical
    bits), with one parser token instead of a Cast(Literal) pair. Exists
    for the codebook-sized literals: expression ANALYSIS cost is
    proportional to tree size and every DataFrame method re-analyzes
    the whole plan, so the M*K*dsub codebook wants the fewest nodes
    per value."""
    r = repr(float(v))
    return r + "D" if ("e" in r or "." in r or "inf" in r) else r + ".0D"


def _lit_mat_sql(mat) -> str:
    """A K x d centroid matrix as one 2-D array literal (D-suffixed)."""
    return ("array(" + ", ".join(
        "array(" + ", ".join(_dlit(v) for v in cv) + ")"
        for cv in mat) + ")")


def codebook_sql(codebook, *keys: str) -> str:
    """DuckDB: a pinned codebook as a VALUES relation (keys..., cv
    DOUBLE[]) — one row per vector, `keys` naming its index at each
    nesting level (`"cid"` for K x d, `"m", "j"` for M x K x dsub) — in
    the same literals the Spark operators ship."""
    rows = [((i,), v) for i, v in enumerate(codebook)]
    for _ in keys[1:]:
        rows = [((*key, j), v) for key, sub in rows
                for j, v in enumerate(sub)]
    vals = ", ".join(
        "(" + "".join(f"{i}, " for i in key)
        + "[" + ", ".join(repr(w) for w in cv) + "]::DOUBLE[])"
        for key, cv in rows)
    cols = ", ".join(keys)
    return f"SELECT {cols}, cv FROM (VALUES {vals}) AS t({cols}, cv)"


def _pq_sqds_sql(vec: str, codebook) -> str:
    """SQL for the M x K matrix (array<array<double>>) of squared
    distances from the vector's m-th slice to each literal centroid —
    the codebook enters the plan as constants, not a joined relation.
    r12 shape: ONE 3-D codebook literal walked by transform lambdas
    instead of M*K inlined sqd expressions — ~5x fewer expression nodes,
    which is what the per-call DataFrame analysis cost scales with; the
    optimizer constant-folds the codebook to a single array value, and
    the inner transform produces the K distances in exactly the j order
    (and the outer the m order) the array(...) form had, with the same
    per-element arithmetic, so results are bit-identical."""
    m_count = len(codebook)
    dsub = len(codebook[0][0])
    cb = ("array(" + ", ".join(_lit_mat_sql(sub) for sub in codebook)
          + ")")
    sqd = _sqd_expr_sql(f"slice({vec}, m * {dsub} + 1, {dsub})", "cv")
    return (f"transform(sequence(0, {m_count - 1}), m -> "
            f"transform(element_at({cb}, m + 1), cv -> {sqd}))")


def _pq_best_expr(vec: str, codebook) -> Column:
    """array<struct<v double, j int>>: per subspace, the argmin centroid
    (ties -> smallest j) and ITS squared distance, via a first-strict-min
    fold. The fold iterates over the materialized sqds array ITSELF (a
    positional counter in the accumulator), so the K distance
    expressions evaluate exactly once per row — a fold over
    sequence(0..K-1) indexing into sqds would re-evaluate the whole
    array inside every lambda step.
    Replays the oracle's ROW_NUMBER(ORDER BY sqd, j) exactly, including
    non-finite inputs: both engines order NaN above every double, so
    `x < acc.v` skips NaN unless everything is NaN (then j=0 wins in
    both — the first element is always taken via the j = -1 guard)."""
    return F.expr(
        f"transform({_pq_sqds_sql(vec, codebook)}, sqds -> "
        "aggregate(sqds, "
        "named_struct('v', CAST('Infinity' AS DOUBLE), "
        "'j', -1, 'i', -1), "
        "(acc, x) -> named_struct("
        "'v', IF(x < acc.v OR acc.j = -1, x, acc.v), "
        "'j', IF(x < acc.v OR acc.j = -1, acc.i + 1, acc.j), "
        "'i', acc.i + 1), "
        "acc -> named_struct('v', acc.v, 'j', acc.j)))")


def _pq_codes(vec: str, codebook) -> Column:
    """`codes` array<int>: the per-subspace argmin centroid ids of `vec`."""
    return F.transform(_pq_best_expr(vec, codebook),
                       lambda s: s["j"]).alias("codes")


def _pq_sqd_sql(codebook, vecs: str, keys: str, vec: str) -> str:
    """(keys..., m, j, sqd): the squared distance of each `vec` of the
    relation `vecs` to every centroid of its subspace in `cb`."""
    d = len(codebook[0][0])
    key_cols = "".join(f"v.{k}, " for k in keys.split(", "))
    sub = f"list_slice(v.{vec}, c.m*{d}+1, c.m*{d}+{d})"
    return (f"SELECT {key_cols}c.m, c.j, {sqdist_sql(sub, 'c.cv')} AS sqd "
            f"FROM {vecs} v CROSS JOIN cb c")


def _pq_lut_expr(vec: str, codebook) -> Column:
    """Flat M*K ADC lookup table (index = m*K + j) as one map-side
    expression."""
    return F.expr(f"flatten({_pq_sqds_sql(vec, codebook)})")


def _query_luts(emb: DataFrame, query_ids, codebook) -> DataFrame:
    """(query_id, lut): each query vector's flat ADC lookup table."""
    return _queries(emb, query_ids).select(
        F.col("vec_id").alias("query_id"),
        _pq_lut_expr("embedding", codebook).alias("lut"))


def pq_luts_cte(codebook, qvecs: str, keys: str, vec: str) -> str:
    """DuckDB rendering of _pq_lut_expr, after pq_encode_cte (it reads
    `cb`): `luts` (keys..., lut), the flat M*K lookup table of each `vec`
    of the relation `qvecs`."""
    return f"""luts AS MATERIALIZED (
      SELECT {keys}, list(sqd ORDER BY m, j) AS lut
      FROM ({_pq_sqd_sql(codebook, qvecs, keys, vec)}) GROUP BY {keys})"""


def query_luts_cte(codebook, query_ids) -> str:
    """DuckDB rendering of _query_luts: `luts` (query_id, lut)."""
    return pq_luts_cte(
        codebook, f"(SELECT vec_id AS query_id, embedding FROM embeddings "
                  f"WHERE vec_id IN {query_set_sql(query_ids)})",
        "query_id", "embedding")


def _adc_topk(cand: DataFrame, codebook, k: int) -> DataFrame:
    """Top-k by asymmetric distance over (query_id, lut) x (vec_id, codes)
    candidate rows: adist = sum_m lut[m*K + codes[m]], folded in subspace
    order (the oracle's unrolled sum, bit-identical); self-matches
    dropped. Returns (query_id, cand_id, adist, rank)."""
    M = len(codebook)
    K = len(codebook[0])
    adist = F.aggregate(
        F.sequence(F.lit(0), F.lit(M - 1)), F.lit(0.0),
        lambda acc, m: acc + F.element_at(
            F.col("lut"),
            m * K + F.element_at(F.col("codes"), m + 1) + 1))
    scored = (cand.filter(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("cand_id"),
                      adist.alias("adist")))
    return _topk(scored, k, F.col("adist"))


def adc_topk_sql(cand: str, codebook, k: int) -> str:
    """DuckDB rendering of _adc_topk over the relation `cand` (query_id,
    lut, vec_id, codes): the sum unrolled in subspace order (left-assoc
    addition is the fold's order)."""
    M, K = len(codebook), len(codebook[0])
    adist = " + ".join(f"lut[{m * K} + codes[{m + 1}] + 1]" for m in range(M))
    return topk_sql(f"(SELECT query_id, vec_id AS cand_id, {adist} AS adist "
                    f"FROM {cand} WHERE query_id != vec_id)", "adist", k)


def residual_expr(vec: str, centroids) -> Column:
    """vec - C_ivf[cell], elementwise in double — the quantity residual
    IVFADC encodes (Jegou et al. 2011 §V.A): PQ distortion drops because
    residuals concentrate near 0 once the coarse quantizer has absorbed
    the cell mean. Map-side: the centroid table is a 2-D literal indexed
    by the (already-computed) `cell` column."""
    return F.expr(
        f"zip_with({vec}, "
        f"element_at({_lit_mat_sql(centroids)}, CAST(cell AS INT) + 1), "
        "(x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))")


def residual_sql(vec: str, cv: str) -> str:
    """DuckDB rendering of residual_expr: `vec` minus its cell's `cv`."""
    return (f"list_transform(list_zip({vec}, {cv}), "
            "z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))")


def pq_encode(emb: DataFrame, codebook) -> DataFrame:
    """Product-quantization encode (Jegou et al. 2011): per subspace m,
    code = argmin_j ||x_m - C[m][j]||^2 (ties -> smallest j, the
    oracle's ROW_NUMBER order). Returns (vec_id, codes array<int>,
    distortion double) where distortion is the reconstruction error
    sum_m min_j ||x_m - C[m][j]||^2, folded in subspace order so the
    double is bit-identical cross-engine.

    Scale shape: encode is a PURE MAP — the pinned codebook is compiled
    into the projection as literals, so the plan is scan -> project with
    ZERO exchanges (the crossJoin+groupBy formulation this replaced
    shuffled N*M argmin partials for nothing). At 100 TB this IS the
    point of PQ: one pass compresses the corpus ~16x (M bytes + id vs
    M*dsub floats) and every downstream ADC scan reads codes, not
    vectors."""
    best = _pq_best_expr("embedding", codebook)
    # one Project materializes the per-subspace structs; the consumers
    # reference it twice, which CollapseProject leaves un-inlined
    # (non-cheap expression), so the fold runs once per row
    st = emb.select(F.col("vec_id"), best.alias("_pq"))
    return st.select(
        "vec_id",
        F.transform(F.col("_pq"), lambda s: s["j"]).alias("codes"),
        F.aggregate(F.transform(F.col("_pq"), lambda s: s["v"]),
                    F.lit(0.0), lambda acc, x: acc + x).alias("distortion"))


def pq_encode_cte(codebook, vecs: str = "embeddings",
                  vec: str = "embedding") -> str:
    """DuckDB rendering of pq_encode over the relation `vecs` (vec_id,
    `vec`): `cb` (m, j, cv), `best` (vec_id, m, code, sqd; argmin ties to
    the smaller j) and `codes` (vec_id, codes, distortion)."""
    return f"""cb AS MATERIALIZED ({codebook_sql(codebook, "m", "j")}),
    sc AS MATERIALIZED ({_pq_sqd_sql(codebook, vecs, "vec_id", vec)}),
    best AS MATERIALIZED (SELECT vec_id, m, j AS code, sqd FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                       ORDER BY sqd, j) AS rn FROM sc) WHERE rn = 1),
    codes AS MATERIALIZED (
      SELECT vec_id, list(code ORDER BY m) AS codes,
             {sum_fold_sql("list(sqd ORDER BY m)")} AS distortion
      FROM best GROUP BY vec_id)"""


def pq_adc_topk(emb: DataFrame, query_ids, codebook,
                k: int = 10) -> DataFrame:
    """ANN top-k by PQ asymmetric distance computation: encode the corpus
    once (pq_encode), build each query's M x K lookup table of exact
    subspace distances to every centroid, then approximate
    ||q - x||^2 ~ sum_m LUT[m][codes_x[m]] with a fixed-order fold.
    Returns (query_id, cand_id, adist, rank), rank by (adist ASC,
    cand_id) — fully deterministic, so the DuckDB oracle replays it
    bit-exact.

    Scale shape: the whole query is ONE exchange (the per-query top-k):
    encode is a pure map (literal codebook), the |Q|-row LUT side is a
    map over the filtered queries, and the ADC scan reads the M-byte
    codes relation (the compressed corpus), not the vectors — the
    textbook memory-bandwidth win of PQ."""
    enc = pq_encode(emb, codebook).select("vec_id", "codes")
    luts = _query_luts(emb, query_ids, codebook)
    return _adc_topk(enc.crossJoin(F.broadcast(luts)), codebook, k)


def pq_adc_rerank_topk(emb: DataFrame, query_ids, codebook, k: int = 10,
                       shortlist: int = 50) -> DataFrame:
    """The production PQ pattern: ADC retrieves a `shortlist`-sized
    candidate set from the compressed codes, then ONLY the shortlist's
    original vectors are fetched for an exact squared-L2 re-rank —
    recall recovers toward exact while the corpus-wide scan still reads
    M-byte codes. Returns (query_id, cand_id, dist, rank) by exact
    distance.

    Scale shape: the code scan is the similarity_pq_topk plan; the
    re-rank join touches |Q| * shortlist vectors (broadcastable), so
    the full-precision corpus is read ~|Q|*R/N as often as brute force
    would read it."""
    short = pq_adc_topk(emb, query_ids, codebook, k=shortlist)
    q = _queries(emb, query_ids).select(F.col("vec_id").alias("query_id"),
                                        F.col("embedding").alias("qv"))
    cand = (short.select("query_id", "cand_id")
            .join(emb.select(F.col("vec_id").alias("cand_id"),
                             F.col("embedding").alias("cv")), "cand_id")
            .join(F.broadcast(q), "query_id"))
    scored = cand.select("query_id", "cand_id",
                         _sqd(F.col("qv"), F.col("cv")).alias("dist"))
    return _topk(scored, k, F.col("dist"))


def ivfpq_adc_topk(emb: DataFrame, query_ids, codebook, centroids,
                   k: int = 10) -> DataFrame:
    """IVFADC (Jegou et al. 2011 §V, the FAISS default architecture):
    IVF coarse-cell pruning COMPOSED with PQ asymmetric-distance scoring
    — each query probes its IVF_NPROBE nearest cells and scans only those
    cells' M-byte PQ codes, so the two orthogonal scale levers multiply:
    read nprobe/K of the corpus (IVF) at ~1/16 the bytes per row (PQ).
    Raw vectors are encoded (no residual — the deterministic variant
    both engines replay bit-exact; FAISS's encode_residual=false mode).
    Returns (query_id, cand_id, adist, rank) by (adist ASC, cand_id).

    Index build = map-only literal-codebook cell assignment followed by a
    pure-map PQ encode (literal codebook) with the cell riding along —
    the (cell, codes) index needs no corpus-sized self-join and no PQ
    shuffle. At 100 TB the index is materialized once (partitioned by
    cell) and queries touch nprobe cells of codes."""
    base = with_unit_info(emb)
    asg = assign_cells(base, centroids)
    codes = asg.select(F.col("vec_id"), F.col("cell"),
                       _pq_codes("embedding", codebook))

    # query side: nprobe nearest cells + the flat M x K ADC lookup table
    probes = (_probe_order(_queries(_scored_cells(base, centroids),
                                    query_ids))
              .filter(F.col("rn") <= IVF_NPROBE)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("cid").cast("long").alias("cell")))
    luts = _query_luts(emb, query_ids, codebook)

    # probed-cell code scan: each (query, candidate) joins at most once
    # (argmax assigns one cell per vector; a query's probe cells are
    # distinct), then M LUT lookups per candidate
    return _adc_topk(
        codes.join(F.broadcast(probes.join(luts, "query_id")), "cell"),
        codebook, k)


def ivfpq_residual_adc_topk(emb: DataFrame, query_ids, codebook, centroids,
                            k: int = 10) -> DataFrame:
    """Residual IVFADC — the full FAISS-default encoding (Jegou et al.
    2011 §V.A): each corpus vector PQ-encodes its RESIDUAL x - C_ivf[
    cell(x)] rather than the raw vector, so the codebook only has to
    cover the within-cell spread (distortion drops, recall rises at the
    same M x K budget). The price is a per-(query, probe-cell) lookup
    table — ||q - C_ivf[cell]||-relative distances differ per cell — but
    that side is |Q| * nprobe rows and broadcasts.

    Index build stays ALL map: literal-centroid cell argmax, literal
    residual subtraction, literal-codebook code argmin — scan -> project,
    zero corpus exchanges. The codebook must be residual-trained
    (tools/train_pq_codebook.py --residual; functions/
    pq_residual_codebook.py is the pinned artifact)."""
    base = with_unit_info(emb)
    asg = assign_cells(base, centroids)
    resid = asg.withColumn("_rv", residual_expr("embedding", centroids))
    codes = resid.select(F.col("vec_id"), F.col("cell"),
                         _pq_codes("_rv", codebook))

    # query side: nprobe nearest cells, then ONE LUT per (query, cell)
    # over the query's residual AGAINST THAT CELL
    probes = (_probe_order(_queries(_scored_cells(base, centroids),
                                    query_ids))
              .filter(F.col("rn") <= IVF_NPROBE)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("cid").cast("long").alias("cell"),
                      F.col("embedding")))
    luts = (probes
            .withColumn("_qr", residual_expr("embedding", centroids))
            .select("query_id", "cell",
                    _pq_lut_expr("_qr", codebook).alias("lut")))
    return _adc_topk(codes.join(F.broadcast(luts), "cell"), codebook, k)


def cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, brute force: O(n^2) all-pairs
    theta-join. TEST-ONLY BASELINE and the oracle's ground truth —
    production paths go through lsh_cosine_pairs (the registered query
    does), which replaces the all-pairs join with LSH bucket candidates."""
    base = with_unit_info(emb)
    a, b = _side(base, "a"), _side(base, "b")
    return (a.join(b, F.col("vec_a") < F.col("vec_b"))
             .select("vec_a", "vec_b", _side_cosine("a", "b").alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def lsh_cosine_pairs(emb: DataFrame, threshold: float) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded-LSH candidates + exact
    re-scoring — no all-pairs join anywhere in the plan.

    Candidates = pairs agreeing on at least one of the 8 2-bit signature
    bands (equi-join on (band, key), shuffle-partitioned by bucket);
    survivors get the exact sequential-fold cosine and the threshold
    filter, so every emitted pair is exact. Completeness is probabilistic:
    a pair at cosine t is a candidate with 1-(1-p(t)^2)^8 where
    p(t) = 1 - arccos(t)/pi (~98.7% at t=0.45, ->1 fast as t grows; at the
    production near-dup regime t>=0.8 the miss rate is ~1e-5 and buckets
    prune hard). On the testdata corpora the candidate set contains every
    above-threshold pair (recall 1.0 vs the brute-force baseline,
    test-asserted), so the registered query hash-matches its brute-force
    DuckDB oracle. For guaranteed-exact output at low thresholds use
    cosine_pairs (quadratic) — low-threshold exact pair mining has no
    sub-quadratic complete algorithm.
    """
    bands = _lsh_bands(emb)
    a, b = _side(bands, "a", "band", "key"), _side(bands, "b", "band", "key")
    cand = (a.join(b, ["band", "key"])
             .filter(F.col("vec_a") < F.col("vec_b")))
    # Score and threshold BEFORE the dedup: the multi-band duplicates then
    # collapse in a groupBy over two long keys carrying one double (partial
    # aggregation map-side), instead of a distinct whose key is two whole
    # embedding arrays. Duplicate band matches score identically, so
    # first() is deterministic.
    return (cand.select("vec_a", "vec_b",
                        _side_cosine("a", "b").alias("cosine"))
                .filter(F.col("cosine") >= threshold)
                .groupBy("vec_a", "vec_b")
                .agg(F.first("cosine").alias("cosine")))


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication by
# clustering the embedding space and pruning near-identical vectors WITHIN
# each cluster — the pairwise cosine never crosses cluster boundaries, which
# is what makes it tractable at corpus scale.
def semdedup(emb: DataFrame, threshold: float, centroids) -> DataFrame:
    """Semantic dedup: one (vec_id, cell, keep) row per vector.

    A vector is dropped iff some SAME-CELL vector with a smaller id sits at
    cosine >= threshold — the deterministic keep-lowest-id variant of
    SemDeDup's per-cluster pruning (the paper keeps one random member per
    e-ball; lowest-id is the engine-portable refinement). Cross-cell
    near-dups are deliberately out of scope — that approximation is the
    algorithm's entire scale story.

    Scale shape: cell assignment is the IVF quantizer's (map-only literal
    codebook); the pairwise stage joins on `cell` only, so cost is
    sum(m_c^2) over cell sizes m_c — at 100 TB you raise K with the corpus
    (cells stay executor-sized) exactly as for similarity_ivf_topk, and
    the pair join parallelizes per cell. Dropping is a size-(#dups)
    distinct + left join back onto the assignment.
    """
    asg = assign_cells(with_unit_info(emb), centroids)
    a, b = _side(asg, "a", "cell"), _side(asg, "b", "cell")
    dups = (a.join(b, "cell")
             .filter(F.col("vec_a") < F.col("vec_b"))
             .select(F.col("vec_b").alias("vec_id"),
                     _side_cosine("a", "b").alias("cosine"))
             .filter(F.col("cosine") >= threshold)
             .select("vec_id").distinct()
             .withColumn("_dup", F.lit(True)))
    return (asg.join(dups, "vec_id", "left")
               .select(F.col("vec_id"), F.col("cell"),
                       F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep")))
