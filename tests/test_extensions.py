"""Extension-pack semantics beyond oracle parity (which tests/
test_oracle_parity.py already covers): approximate-method quality (LSH
recall), dedup ground truth on the planted near-duplicates, and the
multimodal mapInPandas plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kafka_flink_processing_spark.functions.multimodal import (
    decode_features,
    with_payload,
)
from kafka_flink_processing_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from kafka_flink_processing_spark.operators.similarity import (
    cosine_topk,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from kafka_flink_processing_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = load_table(spark, "documents", SF).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def emb(spark):
    df = load_table(spark, "embeddings", SF).cache()
    yield df
    df.unpersist()


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH (bands of 2, 8 bands) must recover essentially all true pairs at
    jaccard >= 0.8 (P(candidate) >= 0.999 there)."""
    exact = {(r.doc_a, r.doc_b)
             for r in ngram_jaccard_pairs(docs, 3, 0.8).collect()}
    lsh = {(r.doc_a, r.doc_b)
           for r in minhash_lsh_pairs(docs, 3, 0.8).collect()}
    assert exact, "testdata should contain planted near-duplicates"
    assert lsh <= exact                    # LSH never invents pairs
    assert len(lsh) >= 0.95 * len(exact)   # near-total recall at j>=0.8


def test_exact_dedup_no_false_groups(docs):
    groups = exact_dedup(docs)
    n_docs = docs.count()
    assert groups.agg(F.sum("n_docs")).collect()[0][0] == n_docs


def test_dedup_pairs_are_symmetric_free(docs):
    pairs = ngram_jaccard_pairs(docs, 3, 0.6).collect()
    assert all(r.doc_a < r.doc_b for r in pairs)
    assert len({(r.doc_a, r.doc_b) for r in pairs}) == len(pairs)


def test_lsh_ann_recall_vs_bruteforce(emb):
    """banded hyperplane LSH top-10 should overlap strongly with exact
    top-10 for the same queries (angle-preserving hashes)."""
    exact = cosine_topk(emb, range(5), k=10).collect()
    approx = lsh_cosine_topk(emb, range(5), k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.cand_id)
    hits = total = 0
    for r in approx:
        total += 1
        hits += r.cand_id in exact_sets[r.query_id]
    assert total > 0
    assert hits / total >= 0.8  # OR-amplified bands: near-total recall


@pytest.mark.slow  # heavyweight (see pytest.ini tiers)
def test_ivf_ann_recall_vs_bruteforce(emb):
    """IVF with nprobe=4 of 16 cells: precision is exact on its candidates
    (same re-rank), recall bounded below — near neighbors concentrate in
    the same/adjacent cells for clustered embeddings. The codebook is
    trained on this corpus with the pinned artifacts' recipe."""
    from kafka_flink_processing_spark.operators.kmeans import kmeans_train
    from kafka_flink_processing_spark.operators.similarity import (
        IVF_K,
        IVF_TRAIN_ITERS,
    )
    centroids, _ = kmeans_train(emb, k=IVF_K, iters=IVF_TRAIN_ITERS)
    exact = cosine_topk(emb, range(5), k=10).collect()
    approx = ivf_cosine_topk(emb, range(5), centroids, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.cand_id)
    hits = total = 0
    for r in approx:
        total += 1
        hits += r.cand_id in exact_sets[r.query_id]
    assert total > 0
    assert hits / total >= 0.5  # coarse quantizer at nprobe/K = 1/4


def test_multimodal_decode_plumbing(spark):
    docs = with_payload(load_table(spark, "documents", SF))
    out = decode_features(docs)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert out.columns == ["doc_id", "mime", "n_bytes", "width", "height",
                           "mean_byte", "entropy_bucket"]
    byte_len = {r.doc_id: r.n_bytes for r in rows}
    src = {r.doc_id: len(r.text.encode()) for r in docs.select("doc_id", "text").collect()}
    assert byte_len == src


def test_train_test_split_stable_and_proportional(spark):
    from kafka_flink_processing_spark.plans.extensions import train_test_split
    a = {r.doc_id: r.split
         for r in train_test_split(spark, SF).collect()}
    b = {r.doc_id: r.split
         for r in train_test_split(spark, SF).collect()}
    assert a == b                       # deterministic across runs
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.88 * n <= train <= 0.99 * n   # ~95% within hash variance


def test_curation_pipeline_keeps_only_canonical_quality_docs(spark):
    from kafka_flink_processing_spark.operators.dedup import exact_dedup
    from kafka_flink_processing_spark.plans.extensions import curation_pipeline
    docs = load_table(spark, "documents", SF)
    kept = curation_pipeline(spark, SF)
    rows = kept.collect()
    assert 0 < len(rows) < docs.count()    # filters actually bite
    assert all(r.n_tokens >= 5 and r.quality >= 0.3 for r in rows)
    # no two kept docs share a normalized-text hash
    canon = {r.canonical_id for r in exact_dedup(docs).collect()}
    assert all(r.doc_id in canon for r in rows)


def test_multimodal_resize_shapes(spark):
    from kafka_flink_processing_spark.functions.multimodal import (
        resize_features,
    )
    docs = with_payload(load_table(spark, "documents", SF))
    out = resize_features(docs)
    rows = out.collect()
    assert len(rows) == docs.count()          # 1 -> 1 stage
    for r in rows[:20]:
        assert r.target_w == 64 and r.target_h == 64
        assert r.scale == pytest.approx(min(64 / r.src_w, 64 / r.src_h))
        assert len(r.thumb_hash) == 32
    # deterministic: same input, same hashes
    again = {r.doc_id: r.thumb_hash for r in resize_features(docs).collect()}
    assert again == {r.doc_id: r.thumb_hash for r in rows}


def test_multimodal_frame_sample_fanout(spark):
    from kafka_flink_processing_spark.functions.multimodal import (
        FRAME_SIZE,
        FRAME_STRIDE,
        sample_frames,
    )
    docs = with_payload(load_table(spark, "documents", SF))
    out = sample_frames(docs).collect()
    src = {r.doc_id: len(r.text.encode())
           for r in docs.select("doc_id", "text").collect()}
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(src)
    for doc_id, frames in by_doc.items():
        n_frames = max(1, -(-src[doc_id] // FRAME_SIZE))
        expect_idx = list(range(0, n_frames, FRAME_STRIDE))
        assert sorted(f.frame_idx for f in frames) == expect_idx
        for f in frames:
            assert f.frame_offset == f.frame_idx * FRAME_SIZE
            assert 0 < f.frame_bytes <= FRAME_SIZE


def test_kmeans_matches_numpy_reference(emb):
    """Spark Lloyd's iterations must track a straight-line numpy k-means
    with identical init (lowest-id vectors) and tie rules; centroid means
    are float64 whose summation order differs, so compare with tolerance."""
    import numpy as np

    from kafka_flink_processing_spark.operators.kmeans import kmeans_train

    pdf = emb.orderBy("vec_id").toPandas()
    x = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    k, iters = 8, 5
    cents = x[:k].copy()
    for _ in range(iters):
        d2 = ((x * x).sum(axis=1, keepdims=True) - 2.0 * (x @ cents.T)
              + (cents * cents).sum(axis=1))
        cell = d2.argmin(axis=1)
        for c in range(k):
            if (cell == c).any():
                cents[c] = x[cell == c].mean(axis=0)
    d2 = ((x * x).sum(axis=1, keepdims=True) - 2.0 * (x @ cents.T)
          + (cents * cents).sum(axis=1))
    ref_cell = d2.argmin(axis=1)

    got_cents, asg = kmeans_train(emb, k=k, iters=iters)
    got = asg.orderBy("vec_id").toPandas()
    assert np.allclose(got_cents, cents, atol=1e-9)
    assert (got["cell"].to_numpy() == ref_cell).all()
    assert np.allclose(
        got["sqdist"].to_numpy(),
        d2[np.arange(len(ref_cell)), ref_cell], atol=1e-9)


def test_contamination_screen_ground_truth(docs):
    """Every flagged doc must share >= 1 distinct 4-gram with the eval
    slice, every unflagged doc none (brute-force set check)."""
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen,
    )

    pdf = docs.select("doc_id", "text").toPandas()

    def grams(text):
        ws = text.split(" ")
        return {" ".join(ws[i:i + 4]) for i in range(len(ws) - 3)}

    ev = set()
    for _, r in pdf.iterrows():
        if r.doc_id % 13 == 0:
            ev |= grams(r.text)
    expect = {}
    for _, r in pdf.iterrows():
        if r.doc_id % 13 != 0:
            shared = len(grams(r.text) & ev)
            if shared:
                expect[r.doc_id] = shared

    got = contamination_screen(docs, F.col("doc_id") % 13 == 0, n=4)
    rows = {r.doc_id: r.n_shared_grams for r in got.collect()}
    assert rows == expect
    assert all(r.n_shared_grams <= r.n_grams for r in got.collect())


def test_bloom_screen_is_superset_of_exact_screen(docs):
    """The Bloom screen must flag every exactly-contaminated doc with at
    least its exact shared-gram count (no false negatives); any surplus is
    bloom false positives, which must stay a small fraction of the
    corpus."""
    from kafka_flink_processing_spark.operators.dedup import (
        contamination_screen,
        contamination_screen_bloom,
    )

    cond = F.col("doc_id") % 13 == 0
    exact = {r.doc_id: r.n_shared_grams
             for r in contamination_screen(docs, cond, n=4).collect()}
    bloom_rows = contamination_screen_bloom(docs, cond, n=4).collect()
    bloom = {r.doc_id: r.n_flagged_grams for r in bloom_rows}
    assert exact, "testdata should contain contaminated docs"
    for doc_id, n_shared in exact.items():
        assert bloom.get(doc_id, 0) >= n_shared, (
            f"doc {doc_id}: bloom missed exact hits ({bloom.get(doc_id)} < "
            f"{n_shared}) — a bloom filter can never have false negatives")
    n_train = docs.filter(~cond).count()
    false_pos_docs = set(bloom) - set(exact)
    assert len(false_pos_docs) <= 0.05 * n_train, (
        f"bloom FP docs {len(false_pos_docs)} exceed 5% of {n_train} "
        "training docs — m_bits is undersized for this eval-gram count")
    assert all(r.n_flagged_grams <= r.n_grams for r in bloom_rows)


def test_crossmodal_verify_cosines_match_numpy(spark, docs, emb):
    """Every lexical pair must carry the numpy-exact embedding cosine of
    its two aligned vectors, and semantic_agree must be cosine >= 0.45."""
    import numpy as np

    from kafka_flink_processing_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from kafka_flink_processing_spark.plans import registry

    rows = registry.queries()["crossmodal_dup_verify"](spark, SF).collect()
    want_pairs = {(r.doc_a, r.doc_b)
                  for r in minhash_lsh_pairs(docs, 3, 0.6).collect()}
    assert {(r.doc_a, r.doc_b) for r in rows} == want_pairs
    assert want_pairs, "testdata should contain lexical near-dup pairs"
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    for r in rows:
        va, vb = vecs[r.doc_a], vecs[r.doc_b]
        want = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert abs(r.cosine - want) < 1e-9, (r.doc_a, r.doc_b)
        assert r.semantic_agree == (r.cosine >= 0.45)


def test_crossmodal_verify_keeps_pairs_missing_embeddings(spark, tmp_path):
    """A lexical pair whose doc lacks an embedding row must surface with
    null cosine/semantic_agree — never vanish from the triage output.
    Runs the registered query on a hand corpus: docs 0/1 and 2/3 are
    verbatim duplicates, doc 4 shares nothing, doc 0 has no embedding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_flink_processing_spark.plans.extensions import (
        crossmodal_dup_verify_q,
    )
    a = "the quick brown fox jumps over the lazy dog"
    b = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    texts = [a, a, b, b, "one two three four five six"]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(5), pa.int64()), "text": texts,
        "lang": ["en"] * 5, "source": ["web"] * 5,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), tmp_path / "documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([1, 2, 3, 4], pa.int64()),
        "embedding": pa.array([[1.0, 0.0], [0.0, 1.0], [0.0, 1.0],
                               [1.0, 1.0]], pa.list_(pa.float32())),
        "label": pa.array([0] * 4, pa.int32()),
    }), tmp_path / "embeddings.parquet")
    rows = {(r.doc_a, r.doc_b): r
            for r in crossmodal_dup_verify_q(spark, str(tmp_path)).collect()}
    assert set(rows) == {(0, 1), (2, 3)}
    gap = rows[(0, 1)]
    assert gap.cosine is None and gap.semantic_agree is None
    assert gap.jaccard == 1.0
    assert rows[(2, 3)].cosine == 1.0 and rows[(2, 3)].semantic_agree


def test_dup_span_redact_ground_truth(docs):
    """The rebuilt text must equal the brute-force python redaction: drop
    every word covered by a 3-gram that occurs in >= 2 documents."""
    from kafka_flink_processing_spark.operators.dedup import dup_span_redact

    pdf = docs.select("doc_id", "text").toPandas()
    df_count: dict[str, int] = {}
    split = {r.doc_id: r.text.split(" ") for _, r in pdf.iterrows()}
    for ws in split.values():
        for g in {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}:
            df_count[g] = df_count.get(g, 0) + 1

    def redact(ws):
        ng = max(0, len(ws) - 2)
        flags = [df_count.get(" ".join(ws[i:i + 3]), 0) >= 2
                 for i in range(ng)]
        return " ".join(
            w for j, w in enumerate(ws, 1)
            if not any(flags[i - 1] for i in range(max(1, j - 2),
                                                  min(j, ng) + 1)))

    expect = {d: redact(ws) for d, ws in split.items()}
    got = {r.doc_id: (r.clean_text, r.n_words, r.n_removed_words)
           for r in dup_span_redact(docs, n=3).collect()}
    assert set(got) == set(expect)
    for d, (clean, n_words, n_removed) in got.items():
        assert clean == expect[d], f"doc {d} rebuild mismatch"
        assert n_words == len(split[d])
        assert n_removed == len(split[d]) - (len(clean.split(" "))
                                             if clean else 0)
    # the signal and the apply step must agree on which docs are touched
    assert any(n_rm > 0 for _, _, n_rm in got.values())


def test_adaptive_quality_filter_per_source_threshold(docs):
    """Each source's threshold must equal its rank-based p25 quality, and
    kept must be exactly quality >= that source's threshold."""
    import math

    from kafka_flink_processing_spark.plans import registry

    rows = registry.queries()["adaptive_quality_filter"](docs.sparkSession,
                                                         SF).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert len(by_source) > 1, "need multiple sources for per-source floors"
    for source, rs in by_source.items():
        qs = sorted((r.quality, r.doc_id) for r in rs)
        expect_q25 = qs[math.ceil(0.25 * len(qs)) - 1][0]
        thresholds = {r.q25 for r in rs}
        assert thresholds == {expect_q25}, f"{source}: threshold mismatch"
        for r in rs:
            assert r.kept == (r.quality >= expect_q25)
    # thresholds must actually differ across sources (adaptivity) unless
    # the corpus is quality-uniform — testdata sources are not
    assert len({rs[0].q25 for rs in by_source.values()}) > 1


def test_ngram_max_df_bounds_hot_shingle_candidates(spark):
    """A boilerplate sentence shared by many docs must NOT explode the
    inverted-index self-join: with the df cap the hot shingles leave the
    index entirely, so candidate intersections stay bounded, while pairs
    that are near-dups through RARE shingles still surface."""
    from kafka_flink_processing_spark.operators.dedup import (
        _doc_shingles,
        _jaccard_intersections,
    )
    boiler = "all rights reserved by the example corporation of somewhere"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d")
            for i in range(40)]
    # one true near-dup pair sharing rare content, no boilerplate
    rows += [(100, "rare alpha beta gamma delta epsilon zeta eta theta"),
             (101, "rare alpha beta gamma delta epsilon zeta eta iota")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ds = _doc_shingles(docs, 3)

    uncapped = _jaccard_intersections(ds, None).count()
    capped = _jaccard_intersections(ds, 10).count()
    # 40 docs x 7 shared boilerplate shingles -> C(40,2)=780 hot pairs
    assert uncapped >= 780
    assert capped < 40  # hot shingles gone; only rare-shingle pairs remain

    out = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=10).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(100, 101)}


_MEMO_ENTRY_POINTS = {
    "shingles": lambda d, c, docs: d._doc_shingles(docs, 3),
    "inverted": lambda d, c, docs: d._filtered_inverted_index(
        d._doc_shingles(docs, 3), 1, d.NGRAM_MAX_DF),
    "minhash": lambda d, c, docs: d._cached_signatures(docs, 3),
    "simhash": lambda d, c, docs: d.simhash_pairs(docs),
    "ess": lambda d, c, docs: d._ess_anchor_index(docs, 3, 64),
    "edges": lambda d, c, docs: c._edge_table(d.minhash_lsh_pairs(docs)),
}


@pytest.mark.parametrize("kind", list(_MEMO_ENTRY_POINTS))
def test_memo_miss_path_cache_is_released(spark, monkeypatch, kind):
    """When the memo key cannot be built (semanticHash fails, or a 32-bit
    collision), every memoized artifact is still cached and primed for
    its consumers, and clear_dedup_caches() must unpersist it too, not
    leak it."""
    from kafka_flink_processing_spark.operators import cluster, dedup

    def no_hash(self):
        raise RuntimeError("semanticHash unavailable")

    dedup.clear_dedup_caches()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string")
    monkeypatch.setattr(type(docs), "semanticHash", no_hash)
    _MEMO_ENTRY_POINTS[kind](dedup, cluster, docs)
    artifacts = [art for key, (_, art, _) in dedup._MEMO.items()
                 if key[2] == kind]
    assert len(artifacts) == 1 and artifacts[0].is_cached
    assert jsc.getPersistentRDDs().size() > before
    dedup.clear_dedup_caches()
    assert jsc.getPersistentRDDs().size() == before


@pytest.mark.parametrize("query", ["dedup_minhash_lsh", "dedup_simhash",
                                   "dedup_ngram_jaccard"])
def test_dedup_query_second_build_starts_no_job(spark, query):
    """The memoized artifacts make a rebuild free: building a registered
    dedup query again starts no Spark job and persists nothing new."""
    from kafka_flink_processing_spark.plans.registry import (
        QUERIES,
        _ensure_loaded,
    )
    from tests.test_parquet_source import _jobs_started
    _ensure_loaded()
    build = QUERIES[query].spark
    _jobs_started(spark, f"{query}-build-first", lambda: build(spark, SF))
    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    _, n_jobs = _jobs_started(spark, f"{query}-build-again",
                              lambda: build(spark, SF))
    assert n_jobs == 0
    assert jsc.getPersistentRDDs().size() == persisted


def test_lsh_cosine_pairs_exact_vs_bruteforce(emb):
    """The LSH-candidate pair miner must recover EXACTLY the brute-force
    pair set at the registered threshold (recall 1.0 on this corpus — the
    driver's brute-force oracle depends on it), and its plan must contain
    no all-pairs join (no cartesian/broadcast-nested-loop node)."""
    from kafka_flink_processing_spark.operators.similarity import (
        cosine_pairs,
        lsh_cosine_pairs,
    )
    lsh = lsh_cosine_pairs(emb, threshold=0.45)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact = {(r.vec_a, r.vec_b): r.cosine
             for r in cosine_pairs(emb, threshold=0.45).collect()}
    got = {(r.vec_a, r.vec_b): r.cosine for r in lsh.collect()}
    assert set(got) == set(exact)
    for k in exact:
        assert got[k] == exact[k]  # identical fold => bit-equal cosine


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def test_pack_sequences_invariants(spark):
    """Contiguous-packing invariants per shard: pack ids start at 0 and are
    dense, every pack has >= 1 doc, each pack's token total overflows the
    budget by at most its final document, and doc order is preserved
    (doc_id ranges of consecutive packs never interleave)."""
    from kafka_flink_processing_spark.operators.packing import (
        pack_sequences,
        pack_summary,
    )
    budget = 512  # small budget => many packs on the tiny corpus
    docs = load_table(spark, "documents", SF).select(
        "source", "doc_id", "text")
    rows = pack_sequences(docs, budget).orderBy("source", "doc_id").collect()
    assert rows

    by_shard: dict[str, list] = {}
    for r in rows:
        by_shard.setdefault(r.source, []).append(r)
    for src, docs_in in by_shard.items():
        # exclusive prefix sum replays exactly
        run = 0
        for r in docs_in:
            assert r.prefix_tokens == run, (src, r.doc_id)
            assert r.seq_id == run // budget
            run += r.n_tokens
        seqs = [r.seq_id for r in docs_in]
        assert seqs[0] == 0 and seqs == sorted(seqs)
        assert set(seqs) == set(range(max(seqs) + 1))  # dense ids

    summary = pack_summary(docs, budget).collect()
    tok = {(r.source, r.doc_id): r.n_tokens for r in rows}
    last = {(r.source, r.seq_id): r.doc_id for r in rows}
    for s in summary:
        assert s.n_docs >= 1
        # overflow bound: total - last doc's tokens < budget
        last_tok = tok[(s.source, last[(s.source, s.seq_id)])]
        assert s.seq_tokens - last_tok < budget


def test_pack_sequences_rejects_bad_budget(spark):
    from kafka_flink_processing_spark.operators.packing import pack_sequences
    docs = load_table(spark, "documents", SF)
    with pytest.raises(ValueError):
        pack_sequences(docs, 0)


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

def test_semdedup_drop_set_matches_bruteforce_within_cells(spark):
    """Every dropped vector must have a smaller-id same-cell neighbor at
    cosine >= t (verified against the brute-force pair list), and at a
    threshold above the corpus max cosine nothing is dropped."""
    from kafka_flink_processing_spark.functions.ivf_codebook import (
        IVF_CENTROIDS,
    )
    from kafka_flink_processing_spark.operators.similarity import (
        cosine_pairs,
        semdedup,
    )
    emb = load_table(spark, "embeddings", SF)
    t = 0.40
    out = semdedup(emb, threshold=t, centroids=IVF_CENTROIDS).collect()
    assert len(out) == emb.count()
    cell = {r.vec_id: r.cell for r in out}
    dropped = {r.vec_id for r in out if not r.keep}
    assert dropped  # sf0.001 has pairs above 0.40

    pairs = cosine_pairs(emb, threshold=t).collect()
    expect = {p.vec_b for p in pairs if cell[p.vec_a] == cell[p.vec_b]}
    # keep-lowest-id over within-cell pairs is exactly the drop rule
    assert dropped == expect

    all_kept = semdedup(emb, threshold=0.99, centroids=IVF_CENTROIDS)
    assert all_kept.filter(~F.col("keep")).count() == 0


# --- round-3 additions: dup spans, embedding quality, LSH index health ---

def test_dup_span_stats_ground_truth(spark, tmp_path):
    """Hand corpus: doc 0 and 1 share one 3-gram; doc 2 shares none. Runs
    the registered query on a directory holding only that corpus."""
    import pandas as pd

    from kafka_flink_processing_spark.plans.extensions import dup_span_stats
    pd.DataFrame({"doc_id": [0, 1, 2],
                  "text": ["a b c d", "a b c x", "p q r s"]}) \
        .to_parquet(tmp_path / "documents.parquet")
    rows = {tuple(r) for r in dup_span_stats(spark, str(tmp_path)).collect()}
    # docs 0/1 share exactly the shingle "a b c" of their two 3-grams
    assert rows == {(0, 2, 1, 0.5), (1, 2, 1, 0.5), (2, 2, 0, 0.0)}


def test_embedding_quality_flags_zero_vector(spark, tmp_path):
    """Runs the registered query on a two-vector corpus: a 3-4-5 vector
    and a zero vector, which must be flagged degenerate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_flink_processing_spark.plans.extensions import (
        embedding_quality_stats,
    )
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 1], pa.int64()),
        "embedding": pa.array([[3.0, 4.0], [0.0, 0.0]],
                              pa.list_(pa.float32())),
        "label": pa.array([0, 0], pa.int32()),
    }), tmp_path / "embeddings.parquet")
    out = {r.vec_id: r
           for r in embedding_quality_stats(spark, str(tmp_path)).collect()}
    assert out[0].l2_norm == 5.0 and not out[0].is_degenerate
    assert out[1].l2_norm == 0.0 and out[1].is_degenerate


def test_lsh_band_stats_pair_volume_consistent(docs, spark):
    """sum over bands of C(bucket,2) must upper-bound the distinct LSH
    candidate count (each candidate pair collides in >= 1 band)."""
    from kafka_flink_processing_spark.operators.dedup import (
        _cached_signatures,
        _lsh_bands,
    )
    bands = _lsh_bands(_cached_signatures(docs, 3))
    buckets = bands.groupBy("band", "key").agg(F.count("*").alias("sz"))
    total_cand = (buckets.agg(F.sum(F.expr("sz * (sz - 1) div 2")))
                  .collect()[0][0])
    a, b = bands.alias("a"), bands.alias("b")
    distinct_pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                             & (F.col("a.key") == F.col("b.key"))
                             & (F.col("a.doc_id") < F.col("b.doc_id")))
                      .select("a.doc_id", "b.doc_id").distinct().count())
    assert total_cand >= distinct_pairs > 0


def test_mix_temperature_sample_flattens_distribution(spark):
    """Dominant language is downsampled, rarest kept ~100%, and the rates
    follow share^(alpha-1) with alpha=0.5."""
    import math
    from kafka_flink_processing_spark.plans.extensions import (
        mix_temperature_sample,
    )
    out = mix_temperature_sample(spark, SF)
    docs = load_table(spark, "documents", SF)
    before = {r.lang: r.n for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rates = {r.lang: r.rate_ppm for r in
             out.select("lang", "rate_ppm").distinct().collect()}
    total = sum(before.values())
    p_min = min(before.values()) / total
    for lang, n in before.items():
        expect = math.floor(
            math.sqrt(p_min) / math.sqrt(n / total) * 1_000_000)
        assert rates[lang] == expect
    rarest = min(before, key=before.get)
    assert rates[rarest] == 1_000_000  # rarest language keeps everything


def test_split_leakage_audit_flags_cross_split_pairs(spark):
    """Every emitted pair is a true near-dup pair, and leaks is exactly
    split_a != split_b under the committed split rule."""
    from kafka_flink_processing_spark.plans.extensions import (
        split_leakage_audit,
        train_test_split,
    )
    out = split_leakage_audit(spark, SF).collect()
    splits = {r.doc_id: r.split
              for r in train_test_split(spark, SF).collect()}
    assert out, "testdata plants near-dup pairs; audit must emit them"
    for r in out:
        assert r.split_a == splits[r.doc_a]
        assert r.split_b == splits[r.doc_b]
        assert r.leaks == (r.split_a != r.split_b)
        assert r.jaccard >= 0.6


def test_mix_temperature_rates_monotone(spark):
    """Property over the real corpus: a language with larger share must get
    an equal-or-smaller sampling rate (share^(alpha-1) is decreasing), and
    all rates lie in (0, 1e6]."""
    from kafka_flink_processing_spark.plans.extensions import (
        mix_temperature_sample,
    )
    docs = load_table(spark, "documents", SF)
    shares = {r.lang: r.n for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    rate_rows = (mix_temperature_sample(spark, SF)
                 .select("lang", "rate_ppm").distinct().collect())
    # exactly ONE rate per surviving language (two rates for one lang would
    # be a rate-join bug that a dict comprehension silently masks)
    assert len(rate_rows) == len({r.lang for r in rate_rows})
    rates = {r.lang: r.rate_ppm for r in rate_rows}
    langs = sorted(shares, key=shares.get)
    for small, big in zip(langs, langs[1:]):
        if shares[small] < shares[big] and small in rates and big in rates:
            assert rates[small] >= rates[big], (small, big, rates)
    # rarest language samples at 100% so it can never be hash-excluded;
    # report (not KeyError) if any other language lost every doc
    assert min(shares, key=shares.get) in rates
    assert all(0 < r <= 1_000_000 for r in rates.values())


def test_dup_span_fraction_bounds(spark):
    """dup_fraction ∈ [0, 1] and n_dup_grams <= n_grams for every doc on
    the real corpus (the fraction is a ratio of a subset count)."""
    from kafka_flink_processing_spark.plans.extensions import dup_span_stats
    rows = dup_span_stats(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dup_grams <= r.n_grams
        assert 0.0 <= r.dup_fraction <= 1.0


def test_lsh_cosine_pairs_recall_at_sf001(spark):
    """Independent recall gate at sf0.01: since embedding_cosine_pairs'
    driver oracle now reproduces the LSH banding (exact algorithm parity,
    deliberately blind to design-level recall), recall vs the quadratic
    brute force must be asserted test-side at a corpus size where the miss
    rate is non-trivial. Design predicts ~98.8% per pair at t=0.45."""
    from kafka_flink_processing_spark.operators.similarity import (
        cosine_pairs,
        lsh_cosine_pairs,
    )
    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01")
    exact = {(r.vec_a, r.vec_b) for r in
             cosine_pairs(emb, threshold=0.45).collect()}
    got = {(r.vec_a, r.vec_b) for r in
           lsh_cosine_pairs(emb, threshold=0.45).collect()}
    assert got <= exact          # every emitted pair is a true pair
    assert exact, "testdata plants near-dup embedding pairs"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall collapsed: {recall:.3f}"
