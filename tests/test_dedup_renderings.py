"""The near-dup steps (operators/dedup.py, operators/cluster.py): each
Spark step and its DuckDB rendering must return the same frame over one
hand `documents` table, compared the way the oracle gate compares."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators import cluster as C
from kafka_flink_processing_spark.operators import dedup as D
from tools.oracle_check import compare, duck_connection


def _words(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def _swap(words: list[str], *positions: int) -> list[str]:
    return [f"{w}x" if i in positions else w for i, w in enumerate(words)]


# A chain a~b~c: b differs from a in 2 words and c from b in 2 more, so
# J(a, b) = J(b, c) = 32/44 >= NEAR_DUP_JACCARD > J(a, c) = 26/50, and
# only the closure puts a and c in one cluster.
_A = _words("chain", 40)
_B = _swap(_A, 8, 16)
_C = _swap(_B, 24, 32)
_BASE = _words("base", 24)
# a run of ESS_MIN_LEN + 1 words inside otherwise unrelated texts
_RUN = _words("run", D.ESS_MIN_LEN + 1)
_UNI = "Grüße aus Köln und die Straße ist naïve café déjà vu 日本語 テキスト 😀 fin"

DOCS = [
    (0, None),
    (1, ""),
    (2, "short"),                            # fewer words than n
    (3, "two words"),
    (4, " ".join(_BASE)),
    (5, " ".join(_BASE)),                    # exact duplicate of 4
    (6, " ".join(_swap(_BASE, 20))),         # near duplicate of 4
    (10, " ".join(_A)),
    (11, " ".join(_B)),
    (12, " ".join(_C)),
    # "red green blue" is in exactly DUP_SPAN_MIN_DF documents
    (20, "one red green blue two"),
    (21, "three red green blue four"),
    (30, " ".join(["lead", "in", *_RUN, "tail", "one"])),
    (31, " ".join(["other", "start", "here", *_RUN, "end"])),
    (40, _UNI),
    (41, _UNI.replace("fin", "ende")),       # non-ASCII near duplicate
    (50, "the the the the the the"),         # repeated grams
]
assert D.DUP_SPAN_MIN_DF == 2


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("dedup_renderings")
    ids, texts = zip(*DOCS)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   path / "documents.parquet")
    return path


@pytest.fixture(scope="module")
def docs(spark, docs_dir):
    return spark.read.parquet(str(docs_dir / "documents.parquet"))


def _same(name, spark_df, docs_dir, sql):
    duck = duck_connection(str(docs_dir)).execute(sql).fetchdf()
    spark_pdf = spark_df.toPandas()
    assert len(spark_pdf) > 0
    assert compare(name, spark_pdf, duck), name


@pytest.mark.parametrize("n", [2, 3, 4])
def test_doc_shingles(docs, docs_dir, n):
    # list order is not part of the step (list_distinct does not keep it)
    _same("shingles", D.doc_shingles(docs, n).select(
        "doc_id", F.array_sort("sh").alias("sh")), docs_dir,
        f"WITH {D.doc_shingles_cte(n)} SELECT doc_id, list_sort(sh) AS sh "
        f"FROM ds")


def test_shingle_rows(docs, docs_dir):
    _same("shingle_rows", D.shingle_rows(D.doc_shingles(docs, 3)), docs_dir,
          f"WITH {D.doc_shingles_cte(3)}, {D.SHINGLE_ROWS_CTE} "
          f"SELECT * FROM ex")


@pytest.mark.parametrize("min_df,max_df", [
    (1, D.NGRAM_MAX_DF), (D.DUP_SPAN_MIN_DF, None), (1, 2)])
def test_inverted_index(docs, docs_dir, min_df, max_df):
    _same("inverted_index",
          D.inverted_index(D.doc_shingles(docs, 3), min_df, max_df),
          docs_dir, f"WITH {D.doc_shingles_cte(3)}, {D.SHINGLE_ROWS_CTE}, "
                    f"{D.inverted_index_cte(min_df, max_df)} "
                    f"SELECT * FROM inv")


@pytest.mark.parametrize("max_df", [D.NGRAM_MAX_DF, 2, None])
def test_jaccard_intersections(docs, docs_dir, max_df):
    inter = D.jaccard_intersections(D.doc_shingles(docs, 3), max_df)
    _same("intersections", inter.withColumn("jaccard", D._count_jaccard()),
          docs_dir, f"WITH {D.doc_shingles_cte(3)}, "
                    f"{D.jaccard_intersections_cte(max_df)} "
                    f"SELECT *, {D.COUNT_JACCARD_SQL} AS jaccard FROM inter")


def test_jaccard(docs, docs_dir):
    ds = D.doc_shingles(docs, 3).filter(F.size("sh") > 0)
    a = ds.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = ds.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    _same("jaccard", a.join(b, F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", D.jaccard_expr(F.col("sa"), F.col("sb"))
        .alias("jaccard")), docs_dir,
        f"WITH {D.doc_shingles_cte(3)} "
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"{D.jaccard_sql('a.sh', 'b.sh')} AS jaccard "
        f"FROM ds a JOIN ds b ON a.doc_id < b.doc_id "
        f"WHERE len(a.sh) > 0 AND len(b.sh) > 0")


def test_signatures(docs, docs_dir):
    sig = D.signatures_from_shingles(D.doc_shingles(docs, 3)).drop("sh")
    _same("signatures", sig, docs_dir,
          f"WITH {D.doc_shingles_cte(3)}, {D.SIGNATURES_CTE} "
          f"SELECT * FROM sig")


def test_minhash_bands(docs, docs_dir):
    _same("bands", D.minhash_bands(D.doc_signatures(docs, 3)), docs_dir,
          f"WITH {D.minhash_index_cte(3)} SELECT * FROM bands")


def test_lsh_self_candidates(docs, docs_dir):
    bands = D.minhash_bands(D.doc_signatures(docs, 3))
    _same("self_candidates", D.lsh_self_candidates(bands), docs_dir,
          f"WITH {D.minhash_index_cte(3)}, {D.LSH_SELF_CANDIDATES_CTE} "
          f"SELECT * FROM cand")


def test_lsh_cross_candidates(docs, docs_dir):
    sig = D.doc_signatures(docs, 3)
    even = F.col("doc_id") % 2 == 0
    _same("cross_candidates", D.lsh_cross_candidates(
        D.minhash_bands(sig.filter(even)), D.minhash_bands(sig.filter(~even))),
        docs_dir, f"WITH {D.minhash_index_cte(3)}, "
        + D.lsh_cross_candidates_cte(
            "(SELECT * FROM bands WHERE doc_id % 2 = 0)",
            "(SELECT * FROM bands WHERE doc_id % 2 <> 0)")
        + " SELECT * FROM cand")


def test_verified_pairs(docs, docs_dir):
    _same("minhash_lsh_pairs", D.minhash_lsh_pairs(docs, n=3), docs_dir,
          f"WITH {D.minhash_lsh_pairs_cte(3)} SELECT * FROM pairs")


def test_incremental_verified_pairs(docs, docs_dir):
    _same("incremental", D.incremental_minhash_dups(
        docs, F.col("doc_id") % 2 == 0, n=3), docs_dir,
        f"WITH {D.minhash_index_cte(3)}, "
        + D.lsh_cross_candidates_cte(
            "(SELECT * FROM bands WHERE doc_id % 2 = 0)",
            "(SELECT * FROM bands WHERE doc_id % 2 <> 0)")
        + f", {D.verified_pairs_cte('doc_id', 'dup_of')} "
          f"SELECT * FROM pairs")


def test_connected_components(docs, docs_dir):
    cc = C.connected_components(D.minhash_lsh_pairs(docs, n=3),
                                docs.select("doc_id"))
    _same("components", cc, docs_dir,
          f"WITH RECURSIVE {D.minhash_lsh_pairs_cte(3)}, "
          f"{C.COMPONENTS_CTE} SELECT * FROM clusters")


def test_simhash(docs, docs_dir):
    _same("simhash", D.simhash(docs), docs_dir,
          f"WITH {D.SIMHASH_CTE} SELECT * FROM simhashes")


@pytest.mark.parametrize("max_hamming", [3, 16])
def test_simhash_pairs(docs, docs_dir, max_hamming):
    _same("simhash_pairs", D.simhash_pairs(docs, max_hamming), docs_dir,
          f"WITH {D.SIMHASH_CTE} {D.simhash_pairs_sql(max_hamming)}")


def test_bloom_probes(docs, docs_dir):
    _same("bloom_probes", D.bloom_probes(D.doc_shingles(docs, 4)), docs_dir,
          f"WITH {D.doc_shingles_cte(4)}, {D.SHINGLE_ROWS_CTE}, "
          f"{D.BLOOM_PROBES_CTE} SELECT doc_id, sh, p FROM px")


@pytest.mark.parametrize("min_len,max_df", [
    (D.ESS_MIN_LEN, D.ESS_MAX_DF), (4, 2)])
def test_exactsubstr_spans(docs, docs_dir, min_len, max_df):
    _same("exactsubstr", D.exactsubstr_spans(docs, min_len, max_df),
          docs_dir, f"WITH {D.exactsubstr_cte(min_len, max_df)} "
                    f"SELECT doc_a, doc_b, CAST(a_start AS BIGINT) AS a_start,"
                    f" CAST(b_start AS BIGINT) AS b_start,"
                    f" CAST(span_len AS BIGINT) AS span_len FROM spans")


def test_hand_checked_table(docs):
    """The cases the table is built for, checked by hand on the Spark
    side (the renderings are pinned to it above)."""
    pairs = {(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs).collect()}
    assert {(4, 5), (4, 6), (5, 6), (10, 11), (11, 12), (40, 41)} <= pairs
    assert (10, 12) not in pairs
    cc = {r.doc_id: r.canonical_id for r in C.connected_components(
        D.minhash_lsh_pairs(docs), docs.select("doc_id")).collect()}
    assert cc[12] == 10 and cc[0] == 0 and cc[6] == 4
    dup = {(r.doc_id, r.sh) for r in D.inverted_index(
        D.doc_shingles(docs, 3), D.DUP_SPAN_MIN_DF, None).collect()}
    assert {(20, "red green blue"), (21, "red green blue")} <= dup
    spans = {(r.doc_a, r.doc_b, r.span_len)
             for r in D.exactsubstr_spans(docs).collect()}
    assert (30, 31, len(_RUN)) in spans
