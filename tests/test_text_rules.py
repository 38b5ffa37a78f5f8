"""The text rules (functions/text.py): each Spark builder and its DuckDB
rendering must return the same column over one hand `documents` table,
compared the way the oracle gate compares."""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions import text as T
from tools.oracle_check import compare, duck_connection

# NULL and '', 1..5-word texts (the n-grams for n = 2..5 meet texts with
# fewer, exactly n and more words), space runs and leading/trailing
# spaces, case/digits/punctuation, non-ASCII, and the language markers.
DOCS = [
    (0, None),
    (1, ""),
    (2, " "),
    (3, "word"),
    (4, "two words"),
    (5, "one two three"),
    (6, "a b c d"),
    (7, "the cat and the dog"),
    (8, "  lead and trail  "),
    (9, "runs   of    spaces  and again"),
    (10, "UPPER Case 42 digits, punct! ok? x7-y8"),
    (11, "The the THE the"),
    (12, "repeat repeat repeat repeat repeat repeat"),
    (13, "Grüße aus Köln und die Straße ist"),
    (14, "naïve café — déjà vu et les amis"),
    (15, "日本語 テキスト ok 😀 end"),
    (16, "le chat et la souris les"),
    (17, "el perro y los gatos que"),
]

_DOCS_SQL = "documents"
_PADDED_SQL = "(SELECT doc_id, ' ' || text || ' ' AS p FROM documents)"
_WORDS_SQL = ("(SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS words"
              " FROM documents)")
_LANG_SQL = ("(SELECT doc_id, " + ", ".join(
    f"{e} AS s_{lg}" for lg, e in T.LANG_SCORES_SQL.items())
    + f" FROM {_PADDED_SQL})")


def _grams(n: int):
    # list order is not part of the rule (list_distinct does not keep it)
    return (lambda t: F.array_sort(T.word_grams(t, n)),
            f"list_sort({T.word_grams_sql(n)})", _WORDS_SQL)


# rule -> (Spark builder over `text`, DuckDB rendering, its FROM)
RULES = {
    "text_hash": (T.text_hash, T.TEXT_HASH_SQL, _DOCS_SQL),
    "tokens": (T.tokens, T.TOKENS_SQL, _DOCS_SQL),
    "token_count": (T.token_count, T.TOKEN_COUNT_SQL, _DOCS_SQL),
    "alpha_count": (T.alpha_count, T.alpha_count_sql("text"), _DOCS_SQL),
    "quality_score": (T.quality_score, T.QUALITY_SQL, _DOCS_SQL),
    "md5_hash60": (T.md5_hash60, T.md5_hash60_sql("text"), _DOCS_SQL),
    **{f"lang_score_{lg}": ((lambda t, lg=lg: T.lang_score(t, lg)), e,
                            _PADDED_SQL)
       for lg, e in T.LANG_SCORES_SQL.items()},
    "lang_id": (T.lang_id, T.LANG_ID_SQL, _LANG_SQL),
    **{f"word_grams_{n}": _grams(n) for n in range(2, 6)},
}


@pytest.fixture(scope="module")
def docs_dir(tmp_path_factory):
    path = tmp_path_factory.mktemp("text_rules")
    ids, texts = zip(*DOCS)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   path / "documents.parquet")
    return path


@pytest.mark.parametrize("rule", list(RULES))
def test_builder_matches_rendering(spark, docs_dir, rule):
    build, sql, source = RULES[rule]
    docs = spark.read.parquet(str(docs_dir / "documents.parquet"))
    spark_pdf = docs.select("doc_id", build(F.col("text")).alias("v")) \
        .toPandas()
    duck = duck_connection(str(docs_dir)).execute(
        f"SELECT doc_id, {sql} AS v FROM {source}").fetchdf()
    assert len(spark_pdf) == len(DOCS)
    assert compare(rule, spark_pdf, duck), rule


def test_split_rule_matches_rendering(spark, docs_dir):
    docs = spark.read.parquet(str(docs_dir / "documents.parquet"))
    bucket = T.split_bucket(F.col("doc_id"))
    spark_pdf = docs.select("doc_id", bucket.alias("bucket"),
                            T.split_name(bucket).alias("split")).toPandas()
    duck = duck_connection(str(docs_dir)).execute(
        f"SELECT doc_id, {T.SPLIT_BUCKET_SQL} AS bucket, "
        f"{T.split_name_sql(T.SPLIT_BUCKET_SQL)} AS split "
        f"FROM documents").fetchdf()
    assert compare("split", spark_pdf, duck)


def test_rules_on_hand_checked_rows(spark, docs_dir):
    docs = spark.read.parquet(str(docs_dir / "documents.parquet"))
    t = F.col("text")
    rows = {r.doc_id: r for r in docs.select(
        "doc_id", T.text_hash(t).alias("h"), T.token_count(t).alias("nt"),
        T.lang_id(t).alias("lang"),
        F.array_sort(T.word_grams(t, 2)).alias("g2"),
        T.word_grams(t, 5).alias("g5")).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert rows[0].h == rows[1].h == rows[2].h == md5("")
    assert rows[8].h == md5("lead and trail")
    assert rows[9].h == md5("runs of spaces and again")
    assert rows[0].nt is None and rows[1].nt == 0
    # upper/case/42/digits/,/punct/!/ok/?/x/7/-/y/8
    assert rows[10].nt == 14
    assert rows[6].g2 == ["a b", "b c", "c d"]
    assert rows[0].g2 == rows[1].g2 == rows[3].g2 == []
    assert rows[6].g5 == [] and len(rows[12].g5) == 1
    assert [rows[i].lang for i in (0, 7, 13, 16, 17)] == \
        ["und", "en", "de", "fr", "es"]
