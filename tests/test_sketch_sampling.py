"""Semantics tests for the r5 sketch/sampling/tolerance operators:
Misra-Gries exactness + its guarantee boundary, Efraimidis-Spirakis key
bit-parity with a Python recomputation, entropy identity, and the
as-of-tolerance null gate — the fixture-level evidence the corpus-scale
oracle can't isolate."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pandas as pd
import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.operators.sketch import (
    MG_CAPACITY,
    _mg_fold,
    heavy_hitters_topk,
    mg_candidates,
)

SF = "/root/testdata/sf0.001"


def _run(spark, name, sf=SF):
    from kafka_flink_processing_spark.plans.registry import (
        QUERIES,
        _ensure_loaded,
    )
    _ensure_loaded()
    return QUERIES[name].spark(spark, sf)


# ---------------------------------------------------------------------------
# Misra-Gries
# ---------------------------------------------------------------------------

def test_mg_fold_keeps_heavy_items_at_tiny_capacity():
    # 1000 'hot' + 1 each of 500 distinct cold items, capacity 8:
    # freq(hot)=1000 > n/(C+1)=1500/9 -> hot MUST survive the fold.
    stream = ["hot"] * 1000 + [f"cold{i}" for i in range(500)]
    batches = [pd.DataFrame({"g": stream[i:i + 100]})
               for i in range(0, len(stream), 100)]
    counts, dropped = _mg_fold(iter(batches), "g", capacity=8)
    assert "hot" in counts
    assert len(counts) <= 8
    # d_p is the real under-count bound: hot's sketch count is exact
    # minus at most the decrement total
    assert 1000 - dropped <= counts["hot"] <= 1000


def test_mg_fold_exact_when_under_capacity():
    stream = ["a"] * 5 + ["b"] * 3 + ["c"]
    counts, dropped = _mg_fold(iter([pd.DataFrame({"g": stream})]), "g",
                               capacity=10)
    assert counts == {"a": 5, "b": 3, "c": 1}
    assert dropped == 0  # never overflowed: the summary is exact


def test_heavy_hitters_topk_equals_exact_topk(spark):
    # Adversarial: 2000 distinct singletons + 20 planted heavies, tiny
    # per-partition capacity (64), 8 partitions. freq(heavy)=50 >
    # N/(C+1) = 3000/65 ≈ 46 -> the two-pass result must be EXACTLY the
    # full-universe top-20 despite the sketch dropping 97% of the universe.
    rows = [(f"heavy{i:02d}",) for i in range(20) for _ in range(50)]
    rows += [(f"single{i:04d}",) for i in range(2000)]
    grams = spark.createDataFrame(rows, "g string").repartition(8)
    got = heavy_hitters_topk(grams, k=20, capacity=64).collect()
    assert [(r.g, r.freq) for r in got] == \
        [(f"heavy{i:02d}", 50) for i in range(20)]


def test_heavy_hitters_raises_when_capacity_too_small(spark):
    # r5 advice: a mis-sized capacity must fail LOUDLY, not return a
    # silently wrong top-k. Near-uniform stream (no item clears the MG
    # decrement bound) + capacity 4 -> every reported freq <= D -> the
    # plan-embedded guard raises at collect time with the sizing hint.
    rows = [(f"u{i:03d}",) for i in range(400) for _ in range(3)]
    grams = spark.createDataFrame(rows, "g string").repartition(4)
    with pytest.raises(Exception, match="exactness precondition"):
        heavy_hitters_topk(grams, k=5, capacity=4).collect()


def test_heavy_hitters_raises_when_all_candidates_dropped(spark):
    # pathological sizing: a perfectly uniform single-partition stream at
    # tiny capacity drops EVERY counter in the overflow step — the merge
    # must raise rather than return an empty (silently wrong) top-k
    rows = [(f"u{i:02d}",) for i in range(10) for _ in range(3)]
    grams = spark.createDataFrame(rows, "g string").coalesce(1)
    with pytest.raises(Exception, match="no candidates survived"):
        heavy_hitters_topk(grams, k=5, capacity=4).collect()


def test_mg_candidates_bounded_per_partition(spark):
    rows = [(f"t{i % 300}",) for i in range(3000)]
    grams = spark.createDataFrame(rows, "g string").repartition(4)
    per_part = (mg_candidates(grams, capacity=16)
                .withColumn("p", F.spark_partition_id())
                .groupBy("p").count().collect())
    assert all(r["count"] <= 16 for r in per_part)


def test_heavy_hitters_query_matches_plain_topk(spark):
    # the registered query (C=16384) vs the unsketched full aggregation
    got = [(r.g, r.freq) for r in _run(spark, "heavy_hitters_mg").collect()]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    words = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(words) - 2)
    gram = F.transform(idx, lambda i: F.concat_ws(
        " ", F.element_at(words, i), F.element_at(words, i + 1),
        F.element_at(words, i + 2)))
    exact = (docs.select(F.explode(F.when(F.size(words) < 3,
                                          F.array().cast("array<string>"))
                                   .otherwise(gram)).alias("g"))
             .groupBy("g").agg(F.count("*").alias("freq"))
             .orderBy(F.desc("freq"), "g").limit(100).collect())
    assert got == [(r.g, r.freq) for r in exact]
    assert MG_CAPACITY == 16384  # the documented sizing for the driver SFs


# ---------------------------------------------------------------------------
# Efraimidis-Spirakis weighted sampling
# ---------------------------------------------------------------------------

def _py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_weighted_sample_key_bit_parity(spark):
    """Recompute the ES key for every sampled doc in Python from the md5
    spec: u=(h60('samp:'+id)+1)/2^60, key=round(ln(u)/(quality+0.01), 6).
    Bit-for-bit equality pins the whole determinism chain (hash, uniform,
    log, rounding)."""
    from kafka_flink_processing_spark.functions.text import quality_score

    out = _run(spark, "weighted_sample_wor")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = {r.doc_id: r.q for r in docs.select(
        "doc_id", quality_score(F.col("text")).alias("q")).collect()}
    for r in out.collect():
        u = (_py_h60(f"samp:{r.doc_id}") + 1) / float(1 << 60)
        want = round(math.log(u) / (q[r.doc_id] + 0.01), 6)
        assert r.skey == want, r.doc_id


def test_weighted_sample_counts_and_determinism(spark):
    out1 = _run(spark, "weighted_sample_wor")
    sizes = {r.lang: r.n for r in
             spark.read.parquet(f"{SF}/documents.parquet")
             .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    per_lang = {r.lang: r.n for r in
                out1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per_lang == {lg: min(32, n) for lg, n in sizes.items()}
    # repeat run identical (no rand() anywhere)
    out2 = _run(spark, "weighted_sample_wor")
    assert sorted(map(tuple, out1.collect())) == \
        sorted(map(tuple, out2.collect()))


# ---------------------------------------------------------------------------
# Entropy
# ---------------------------------------------------------------------------

def test_entropy_matches_python_identity(spark):
    from collections import Counter

    from kafka_flink_processing_spark.functions.text import TOKEN_REGEX
    import re
    tok_re = re.compile(TOKEN_REGEX)
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("source", "text").collect()
    by_src: dict[str, Counter] = {}
    for r in docs:
        by_src.setdefault(r.source, Counter()).update(
            tok_re.findall(r.text.lower()))
    for row in _run(spark, "corpus_entropy_by_source").collect():
        c = by_src[row.source]
        n = sum(c.values())
        s = sum(int(round(f * math.log(f) * 10**6)) for f in c.values()) \
            / 10.0**6
        h = math.log(n) - s / n
        assert row.n_tokens == n
        assert row.vocab_size == len(c)
        # the engine pins both entropy columns to 6dp (ln's last ulp
        # differs between the JVM and DuckDB — r9 third-seed fuzz find)
        assert row.entropy_nats == pytest.approx(round(h, 6), abs=1e-9)
        if len(c) > 1:
            assert row.entropy_norm == pytest.approx(
                round(h / math.log(len(c)), 6), abs=1e-9)
            assert 0.0 <= row.entropy_norm <= 1.0
        else:
            # vocab_size == 1: H/ln(1) is undefined; the engine emits NULL
            assert row.entropy_norm is None


def test_entropy_norm_null_for_single_token_source(spark, tmp_path):
    """A single-token source (vocab_size == 1) must yield entropy_norm
    NULL in BOTH engines — the r9 vocab_size=1 guard, exercised directly
    (the sf fixtures never contain such a source, so the branch had no
    test — r9 advice)."""
    import sys as _sys
    from pathlib import Path as _Path

    import duckdb

    _sys.path.insert(
        0, str(_Path(__file__).resolve().parent.parent / "tools"))
    from oracle_fuzz import stage_sf_dir

    from kafka_flink_processing_spark.plans.registry import (
        QUERIES,
        _ensure_loaded,
    )

    rows = [
        (1, "aa aa aa", "en", "mono", 8),     # one distinct token
        (2, "a b b", "en", "duo", 5),         # two distinct tokens
    ]
    sf = stage_sf_dir(spark, rows, str(tmp_path))
    _ensure_loaded()
    spec = QUERIES["corpus_entropy_by_source"]
    got = {r.source: (r.vocab_size, r.entropy_nats, r.entropy_norm)
           for r in spec.spark(spark, sf).collect()}
    assert got["mono"][0] == 1
    assert got["mono"][1] == pytest.approx(0.0)
    assert got["mono"][2] is None
    assert got["duo"][2] is not None and 0.0 <= got["duo"][2] <= 1.0

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet('{sf}/documents.parquet')")
    duck = {r[0]: (r[2], r[4]) for r in con.execute(spec.oracle).fetchall()}
    assert duck["mono"] == (1, None)
    assert duck["duo"][1] is not None


# ---------------------------------------------------------------------------
# As-of tolerance
# ---------------------------------------------------------------------------

def test_asof_tolerance_null_gates_stale_quotes(spark):
    import unittest.mock as mock

    from kafka_flink_processing_spark.plans import temporal
    from kafka_flink_processing_spark.sources import events_market

    T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    H = dt.timedelta(hours=1)
    # DA (signup) at t0 on user 0's hub; RT (view) at +1h (fresh),
    # +2h (boundary: exactly the tolerance -> fresh), +2h1us (stale),
    # and an RT with no prior DA at all (t0-1h).
    rows = [
        (1, T0, 0, "signup", 50.0),
        (2, T0 + H, 0, "view", 55.0),
        (3, T0 + 2 * H, 0, "view", 60.0),
        (4, T0 + 2 * H + dt.timedelta(microseconds=1), 0, "view", 61.0),
        (5, T0 - H, 0, "view", 40.0),
    ]
    ev = spark.createDataFrame(
        [(eid, ts, uid, et, v, "{}") for eid, ts, uid, et, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    with mock.patch.object(events_market, "load_table", return_value=ev):
        out = {r.rt_id: r for r in
               temporal.da_rt_asof_tolerance(spark, "unused").collect()}
    assert out[2].lmp_da_bounded == 50.0 and out[2].basis == 5.0
    assert out[3].lmp_da_bounded == 50.0          # boundary inclusive
    assert out[4].lmp_da_bounded is None and out[4].basis is None
    assert out[4].da_age_us == 2 * 3600 * 1_000_000 + 1
    assert out[5].lmp_da_bounded is None and out[5].da_age_us is None


# ---------------------------------------------------------------------------
# Misra-Gries fold invariants (hypothesis)
# ---------------------------------------------------------------------------

from collections import Counter  # noqa: E402

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    stream=st.lists(st.integers(min_value=0, max_value=40), min_size=1,
                    max_size=600),
    capacity=st.integers(min_value=1, max_value=12),
    batch=st.integers(min_value=1, max_value=97),
)
def test_mg_fold_error_bound_invariants(stream, capacity, batch):
    # The invariant the runtime guard rests on: for EVERY item,
    # c_true - d_p <= c_hat <= c_true, and an item absent from the
    # summary has c_true <= d_p. Random streams, capacities, batchings.
    toks = [f"t{v}" for v in stream]
    batches = [pd.DataFrame({"g": toks[i:i + batch]})
               for i in range(0, len(toks), batch)]
    counts, dropped = _mg_fold(iter(batches), "g", capacity)
    true = Counter(toks)
    assert len(counts) <= capacity
    assert dropped >= 0
    for g, c_true in true.items():
        c_hat = counts.get(g)
        if c_hat is None:
            assert c_true <= dropped, (g, c_true, dropped)
        else:
            assert c_true - dropped <= c_hat <= c_true, (g, c_hat, c_true)


def test_heavy_hitters_raises_on_silent_truncation(spark):
    # r6 review: few true heavies recount above D but fewer than k
    # candidates do — the missing ranks could be held by dropped grams
    # (freq <= D), so a < k certifiable result must RAISE, not return a
    # truncated top-k. 5 heavies x 100 + 5000 singletons in ONE partition:
    # a single overflow event (thresh = 1) gives D = 1, the heavies clear
    # it, the singletons don't survive as candidates.
    rows = [(f"heavy{i}",) for i in range(5) for _ in range(100)]
    rows += [(f"s{i:05d}",) for i in range(5000)]
    grams = spark.createDataFrame(rows, "g string").coalesce(1)
    with pytest.raises(Exception, match="exactness precondition"):
        heavy_hitters_topk(grams, k=20, capacity=8).collect()


def test_heavy_hitters_exact_via_coverage_despite_drops(spark):
    # the flip side: drops happened (D > 0) yet the UNION of partition
    # candidate sets covers every stream row (each gram survives
    # somewhere), so the recount is the full aggregation and the result
    # is exact even where freq <= D — must NOT raise. Partition A holds
    # all 20 grams x3 and overflows at capacity 16; partitions B1/B2
    # each hold half the grams x1 without overflowing.
    sc = spark.sparkContext
    a = sc.parallelize([(f"x{i:02d}",) for i in range(20)
                        for _ in range(3)], 1)
    b1 = sc.parallelize([(f"x{i:02d}",) for i in range(10)], 1)
    b2 = sc.parallelize([(f"x{i:02d}",) for i in range(10, 20)], 1)
    # RDD union pins the 3 partitions (a DataFrame union of local
    # relations gets merged into one by the optimizer, which would let
    # partition A's overflow swallow the whole stream)
    grams = spark.createDataFrame(a.union(b1).union(b2), "g string")
    got = heavy_hitters_topk(grams, k=25, capacity=16).collect()
    assert [(r.g, r.freq) for r in got] == \
        [(f"x{i:02d}", 4) for i in range(20)]


# --- heavy_hitters_auto: the mechanical plan chooser (r7) -----------------


def _auto_fixture(spark):
    # 10 planted heavies (freq 40) over 500 singletons, 4 partitions
    rows = [(f"heavy{i}",) for i in range(10) for _ in range(40)]
    rows += [(f"s{i:04d}",) for i in range(500)]
    return spark.createDataFrame(rows, "g string").repartition(4)


def _expected_top10():
    return [(f"heavy{i}", 40) for i in range(10)]


def test_auto_small_universe_picks_plain_aggregation(spark):
    from kafka_flink_processing_spark.operators.sketch import (
        heavy_hitters_auto,
    )
    # ndv override below 2 x capacity: plain one-shuffle branch — the plan
    # must contain NO Python stage (the MG fold is mapInPandas)
    df = heavy_hitters_auto(_auto_fixture(spark), k=10, capacity=64,
                            universe_ndv=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert [(r.g, r.freq) for r in df.collect()] == _expected_top10()


def test_auto_large_universe_picks_mg_sketch(spark):
    from kafka_flink_processing_spark.operators.sketch import (
        heavy_hitters_auto,
    )
    df = heavy_hitters_auto(_auto_fixture(spark), k=10, capacity=64,
                            universe_ndv=10_000_000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert [(r.g, r.freq) for r in df.collect()] == _expected_top10()


def test_auto_probe_measures_real_universe(spark):
    from kafka_flink_processing_spark.operators.sketch import (
        heavy_hitters_auto,
    )
    # no override: the HLL probe sees ~510 distinct grams; with capacity 64
    # the crossover (2 x 64 = 128) forces the MG branch, with capacity 4096
    # (2 x 4096 = 8192) the plain branch — both must return the identical
    # exact ordered top-k
    grams = _auto_fixture(spark)
    small_cap = heavy_hitters_auto(grams, k=10, capacity=64)
    big_cap = heavy_hitters_auto(grams, k=10, capacity=4096)
    small_plan = small_cap._jdf.queryExecution().executedPlan().toString()
    big_plan = big_cap._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in small_plan      # 510 > 128 -> sketch
    assert "MapInPandas" not in big_plan    # 510 <= 8192 -> plain agg
    assert [(r.g, r.freq) for r in small_cap.collect()] == _expected_top10()
    assert [(r.g, r.freq) for r in big_cap.collect()] == _expected_top10()


def test_adaptive_query_path_mg_branch_at_high_ndv_corpus(spark):
    """The REGISTERED heavy_hitters_adaptive path at a synthetic
    high-NDV corpus (sf0.01's vocab is small, so the driver row only
    ever exercises the plain-agg branch): with the DEFAULT capacity
    (16384, crossover 32768) and a real HLL probe — no ndv override —
    a >40k-distinct gram stream must select the Misra-Gries branch and
    still return the exact ordered top-k."""
    from kafka_flink_processing_spark.operators.sketch import (
        heavy_hitters_auto,
    )
    # 150 planted heavies (distinct freqs 50..199, far above the
    # N/capacity MG error bound) over 40k singletons
    heavies = (spark.range(150)
               .selectExpr("concat('heavy', id) AS g",
                           "CAST(id + 50 AS INT) AS n")
               .selectExpr("explode(array_repeat(g, n)) AS g"))
    singles = spark.range(40_000).selectExpr("concat('s', id) AS g")
    grams = heavies.unionAll(singles).repartition(8)
    df = heavy_hitters_auto(grams, k=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan            # probe chose the MG sketch
    want = [(r.g, r.freq) for r in
            (grams.groupBy("g").agg(F.count("*").alias("freq"))
             .orderBy(F.desc("freq"), "g").limit(100)).collect()]
    assert [(r.g, r.freq) for r in df.collect()] == want
