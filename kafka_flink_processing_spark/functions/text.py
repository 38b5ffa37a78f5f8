"""Per-document text rules shared by the curation, dedup and analytics
queries: the normalized-text hash, regex tokens, alpha count, quality and
language scores, the salted 60-bit hash and train/val/test split, and
distinct word n-grams.

Each rule lives here once, as a Spark Column builder and, beside it, its
DuckDB rendering: a SQL expression over the `text` (or `doc_id`) column,
`*_SQL`, or a `*_sql(expr)` function where callers pass the input. The
oracles in plans/ splice the renderings in; no other module spells a
rule. The builders are codegen'd Spark built-ins except `word_grams`, an
Arrow-batched pandas UDF (its docstring has the measurement). Only constructs
verified cross-engine exact are used: replace/length occurrence counts,
md5, simple regex character classes, sequential array folds.

NULL text: `normalize_text`/`text_hash` and `quality_score` treat it as ''
(the corpus-wide convention) and `word_grams` gives it no grams; the
token, alpha-count and language rules return NULL for it.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# marker words per language for the n-gram/stopword language-ID heuristic;
# scored by literal-occurrence counting, argmax with fixed tie-break order.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " a ", " and ", " of "],
    "de": [" der ", " und ", " die ", " ist "],
    "fr": [" le ", " la ", " et ", " les "],
    "es": [" el ", " y ", " los ", " que "],
}
LANG_ORDER = ["en", "de", "fr", "es"]

TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"  # BPE-ish: runs of letters/digits/punct

# split_bucket < SPLIT_TRAIN is train, < SPLIT_VAL val, the rest test (95/4/1)
SPLIT_TRAIN, SPLIT_VAL = 95, 99


def normalize_text(col: Column) -> Column:
    """Lower-cased, space-run-collapsed, trimmed text; NULL ≡ ''."""
    return F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))),
                                   " +", " "))


def text_hash(text: Column) -> Column:
    """md5 of the normalized text: the exact-dedup key."""
    return F.md5(normalize_text(text))


TEXT_HASH_SQL = ("md5(trim(regexp_replace(lower(COALESCE(text, '')),"
                 " ' +', ' ', 'g')))")


def tokens(text: Column) -> Column:
    """BPE-ish tokens: TOKEN_REGEX matches over the lower-cased text."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_REGEX), 0)


TOKENS_SQL = f"regexp_extract_all(lower(text), '{TOKEN_REGEX}')"


def token_count(text: Column) -> Column:
    """Whitespace-agnostic BPE-ish token count (letters/digits/punct runs)."""
    return F.size(tokens(text)).cast("long")


TOKEN_COUNT_SQL = f"CAST(len({TOKENS_SQL}) AS BIGINT)"


def word_count(text: Column) -> Column:
    return F.size(F.split(text, " ")).cast("long")


def alpha_count(text: Column) -> Column:
    """Number of a-z characters."""
    return F.length(F.regexp_replace(text, "[^a-z]", ""))


def alpha_count_sql(text: str) -> str:
    return f"length(regexp_replace({text}, '[^a-z]', '', 'g'))"


def quality_score(text: Column) -> Column:
    """Rational-arithmetic quality heuristic in [0,1]: rewards word count up
    to 100, penalizes non-alpha density and very short words. No
    transcendentals (cross-engine exactness)."""
    text = F.coalesce(text, F.lit(""))
    nw = word_count(text)
    nc = F.length(text)
    alpha_ratio = alpha_count(text) / F.greatest(nc, F.lit(1))
    wc_term = F.least(nw, F.lit(100)).cast("double") / 100.0
    avg_wlen = nc.cast("double") / F.greatest(nw, F.lit(1))
    len_term = F.when(avg_wlen >= 3.0, F.lit(1.0)).otherwise(avg_wlen / 3.0)
    return (wc_term * alpha_ratio * len_term).alias("quality")


_TEXT = "COALESCE(text, '')"
_NW = f"len(string_split({_TEXT}, ' '))"
_AVG_WLEN = f"CAST(length({_TEXT}) AS DOUBLE) / GREATEST({_NW}, 1)"
QUALITY_SQL = (f"(CAST(LEAST(CAST({_NW} AS BIGINT), 100) AS DOUBLE) / 100.0)"
               f" * ({alpha_count_sql(_TEXT)} / GREATEST(length({_TEXT}), 1))"
               f" * (CASE WHEN {_AVG_WLEN} >= 3.0 THEN 1.0"
               f" ELSE ({_AVG_WLEN}) / 3.0 END)")


def occurrences(text: Column, needle: str) -> Column:
    """Occurrence count via replace/length — identical in every SQL engine."""
    return ((F.length(text) - F.length(F.replace(text, F.lit(needle))))
            / len(needle)).cast("long")


def _occ_sql(padded: str, needle: str) -> str:
    return (f"CAST((length({padded}) - length(replace({padded}, '{needle}', '')))"
            f" / {len(needle)} AS BIGINT)")


def lang_score(text: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    score = F.lit(0).cast("long")
    for marker in LANG_MARKERS[lang]:
        score = score + occurrences(padded, marker)
    return score


# lang -> its lang_score over `p`, the text as ' ' || text || ' '
LANG_SCORES_SQL = {lg: " + ".join(_occ_sql("p", m) for m in LANG_MARKERS[lg])
                   for lg in LANG_ORDER}


def lang_id(text: Column) -> Column:
    """argmax over language scores, ties resolved in LANG_ORDER; 'und' if
    every score is zero (undetermined)."""
    scores = {lg: lang_score(text, lg) for lg in LANG_ORDER}
    best = F.lit("und")
    for lg in reversed(LANG_ORDER):  # earlier languages win ties
        cond = scores[lg] >= F.greatest(*[scores[o] for o in LANG_ORDER if o != lg],
                                        F.lit(1).cast("long"))
        best = F.when(cond, F.lit(lg)).otherwise(best)
    return best


def _lang_arm(lg: str) -> str:
    others = ", ".join(f"s_{o}" for o in LANG_ORDER if o != lg)
    return f"WHEN s_{lg} >= GREATEST({others}, 1) THEN '{lg}'"


# lang_id over columns s_<lang> holding the LANG_SCORES_SQL scores
LANG_ID_SQL = "CASE " + " ".join(map(_lang_arm, LANG_ORDER)) + " ELSE 'und' END"


def fingerprint_poly(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash of the full text (mod 1e9+7),
    folded char-by-char — the classic Rabin-Karp document fingerprint."""
    return F.aggregate(
        F.split(F.coalesce(text, F.lit("")), ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % 1_000_000_007)


def md5_hash60(col: Column) -> Column:
    """60-bit integer hash from the md5 hex prefix — cross-engine exact.
    Salt the input ('<salt>:' || key) to decorrelate its uses."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(x: str) -> str:
    return f"CAST(CAST('0x' || substring(md5({x}), 1, 15) AS UBIGINT) AS BIGINT)"


def split_bucket(doc_id: Column) -> Column:
    """0..99: the salted doc_id hash every train/val/test split reads."""
    return md5_hash60(F.concat(F.lit("split:"), doc_id.cast("string"))) % 100


SPLIT_BUCKET_SQL = md5_hash60_sql("'split:' || CAST(doc_id AS VARCHAR)") + " % 100"


def split_name(bucket: Column) -> Column:
    """'train' / 'val' / 'test' for a split_bucket value."""
    return (F.when(bucket < SPLIT_TRAIN, "train")
             .when(bucket < SPLIT_VAL, "val").otherwise("test"))


def split_name_sql(bucket: str) -> str:
    return (f"CASE WHEN {bucket} < {SPLIT_TRAIN} THEN 'train'"
            f" WHEN {bucket} < {SPLIT_VAL} THEN 'val' ELSE 'test' END")


def word_grams(text: Column, n: int) -> Column:
    """Distinct word n-grams (split on ' ') in first-occurrence order, as
    an Arrow-batched pandas UDF; texts under n words and NULL have none.

    Spark's built-in form (split + sequence + transform(concat_ws) +
    array_distinct) runs interpreted, since higher-order array lambdas are
    not part of whole-stage codegen: measured at sf0.1 (5000 docs), 3.4 s
    for it against 0.5 s warm for this UDF. Gram order never matters
    downstream (set arithmetic only)."""

    @F.pandas_udf("array<string>")
    def f(s: pd.Series) -> pd.Series:
        def grams(text: str | None) -> list[str]:
            if text is None:
                return []
            ws = text.split(" ")
            if len(ws) < n:
                return []
            return list(dict.fromkeys(
                " ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)))
        return s.map(grams)

    return f(text)


def word_grams_sql(n: int) -> str:
    """word_grams over a `words` list column (the caller's word split)."""
    rest = "".join(f" || ' ' || words[i+{k}]" for k in range(1, n))
    return (f"CASE WHEN len(words) < {n} THEN [] ELSE "
            f"list_distinct([words[i]{rest} "
            f"for i in range(1, len(words) - {n - 2})]) END")
