"""The ANN search steps (operators/similarity.py): each Spark step and its
DuckDB rendering must return the same frame over one hand `embeddings`
table, compared the way the oracle gate compares."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators import similarity as S
from tools.oracle_check import compare, duck_connection

NAN = float("nan")

# Duplicates and a scaled copy (0, 1, 9: tied cosines and, for 0/1, tied
# PQ codes and distances), a zero vector (3: NULL cosines), a NaN
# component (5: NaN scores), and vectors equidistant from two or three
# centroids (4, 8: tied centroid cosines and tied PQ subspace distances),
# and a pair whose dot product depends on the fold order (11, 12: 1e16 + 1
# - 1e16 + 1 is 1 in index order, 0 in reverse).
VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 0.0, 0.0]),
    (4, [1.0, 1.0, 0.0, 0.0]),
    (5, [NAN, 1.0, 0.0, 0.0]),
    (6, [0.0, 0.0, 1.0, 0.0]),
    (7, [-1.0, 0.0, 0.0, 0.0]),
    (8, [0.5, 0.5, 0.5, 0.5]),
    (9, [2.0, 0.0, 0.0, 0.0]),
    (10, [0.0, 0.5, -0.5, 1.0]),
    (11, [1e8, 1.0, -1e8, 1.0]),
    (12, [1e8, 1.0, 1e8, 1.0]),
]
CENTROIDS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.0, 1.0, 0.0]]
# M = 2 subspaces of 2 dims, K = 3 centroids each
CODEBOOK = [[[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
            [[0.0, 0.0], [0.5, 0.5], [-0.5, 1.0]]]
QUERIES = [0, 2, 4, 8]
K = 3


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("ann_renderings")
    ids, vecs = zip(*VECS)
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in ids], pa.int32())}),
        path / "embeddings.parquet")
    return path


@pytest.fixture(scope="module")
def emb(spark, emb_dir):
    return spark.read.parquet(str(emb_dir / "embeddings.parquet"))


def _same(name, spark_df, emb_dir, sql):
    duck = duck_connection(str(emb_dir)).execute(sql).fetchdf()
    spark_pdf = spark_df.toPandas()
    assert len(spark_pdf) > 0
    assert compare(name, spark_pdf, duck), name


@pytest.mark.parametrize("fold", ["dot", "sqdist"])
def test_pair_folds(emb, emb_dir, fold):
    spark_fold, sql_fold = {"dot": (S._dot, S.dot_sql),
                            "sqdist": (S._sqd, S.sqdist_sql)}[fold]
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("x"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("y"))
    _same(fold, a.crossJoin(b).select(
        "a", "b", spark_fold(F.col("x"), F.col("y")).alias("v")), emb_dir,
        f"SELECT p.vec_id AS a, q.vec_id AS b, "
        f"{sql_fold('p.embedding', 'q.embedding')} AS v "
        f"FROM embeddings p, embeddings q")


def test_bruteforce_topk_ties_to_smaller_cand_id(emb, emb_dir):
    _same("topk", S.cosine_topk(emb, QUERIES, k=K), emb_dir,
          f"WITH {S.UNIT_INFO_CTE} {S.bruteforce_topk_sql(QUERIES, K)}")


def test_probe_order(emb, emb_dir):
    cells = S._probe_order(S._scored_cells(S.with_unit_info(emb), CENTROIDS))
    _same("probe_order",
          cells.select("vec_id", "cid", F.col("ccos").alias("cos"), "rn"),
          emb_dir, f"WITH {S.UNIT_INFO_CTE}, {S.ivf_cells_cte(CENTROIDS)} "
                   f"SELECT vec_id, cid, cos, rn FROM asgj")


@pytest.mark.parametrize("argmax", ["assign_cells", "argmax_cell"])
def test_cell_argmax(emb, emb_dir, argmax):
    base = S.with_unit_info(emb)
    if argmax == "assign_cells":
        asg = S.assign_cells(base, CENTROIDS)
    else:
        asg = S._argmax_cell(S._scored_cells(base, CENTROIDS))
    _same(argmax, asg.select("vec_id", "cell"), emb_dir,
          f"WITH {S.UNIT_INFO_CTE}, {S.ivf_cells_cte(CENTROIDS)} "
          f"SELECT vec_id, cell FROM asg")


def test_ivf_topk(emb, emb_dir):
    _same("ivf_topk", S.ivf_cosine_topk(emb, QUERIES, CENTROIDS, k=K),
          emb_dir, f"WITH {S.UNIT_INFO_CTE}, {S.ivf_cells_cte(CENTROIDS)}, "
                   f"{S.ivf_probes_cte(QUERIES)} {S.ivf_topk_sql(K)}")


def test_pq_codes_and_distortion(emb, emb_dir):
    _same("pq_encode", S.pq_encode(emb, CODEBOOK), emb_dir,
          f"WITH {S.pq_encode_cte(CODEBOOK)} SELECT * FROM codes")


def test_query_luts(emb, emb_dir):
    _same("luts", S._query_luts(emb, QUERIES, CODEBOOK), emb_dir,
          f"WITH {S.pq_encode_cte(CODEBOOK)}, "
          f"{S.query_luts_cte(CODEBOOK, QUERIES)} SELECT * FROM luts")


def test_adc_topk(emb, emb_dir):
    _same("adc", S.pq_adc_topk(emb, QUERIES, CODEBOOK, k=K), emb_dir,
          f"WITH {S.pq_encode_cte(CODEBOOK)}, "
          f"{S.query_luts_cte(CODEBOOK, QUERIES)} "
          + S.adc_topk_sql("(SELECT * FROM codes CROSS JOIN luts)",
                           CODEBOOK, K))


def test_hand_checked_ties(emb):
    """The ties the table is built for, checked by hand on the Spark
    side (the renderings are pinned to it above)."""
    top = {(r.query_id, r.rank): r.cand_id
           for r in S.cosine_topk(emb, QUERIES, k=K).collect()}
    # query 0: the NaN row first (NaN sorts above every double), then
    # the tied cosine-1 rows 1 and 9 by id
    assert [top[(0, i)] for i in (1, 2, 3)] == [5, 1, 9]
    cells = {r.vec_id: r.cell for r in
             S.assign_cells(S.with_unit_info(emb), CENTROIDS).collect()}
    # 4 ties cells 0/1 and 8 ties 0/1/2: the smaller cid; the zero and
    # NaN vectors (NULL / NaN cosines) fall to cell 0
    assert (cells[4], cells[8], cells[3], cells[5]) == (0, 0, 0, 0)
    codes = {r.vec_id: r.codes for r in
             S.pq_encode(emb, CODEBOOK).collect()}
    # subspace 0 of vector 4 is [1, 1]: centroids 1 and 2 tie at 1.0
    assert codes[4] == [1, 0] and codes[0] == codes[1]
    x, y = (F.array(*[F.lit(v) for v in dict(VECS)[i]]) for i in (11, 12))
    assert emb.limit(1).select(S._dot(x, y)).first()[0] == 1.0
