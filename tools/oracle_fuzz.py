"""Adversarial-corpus fuzzer for the DuckDB oracle gate.

The driver's correctness gate runs on FIXED testdata — clean, ASCII,
never empty — so a Spark/oracle divergence on an edge the generator
never emits (empty text, NULL, whitespace runs, unicode, pathological
duplication) stays latent until a corpus change trips it (the r8 review
found exactly this class in the WAV/PNG/GIF oracles). This tool closes
that hole mechanically: generate seeded adversarial `documents` corpora,
swap them under the same sf-dir layout (other tables symlinked from a
real SF so every query remains runnable), and run the documents-only
registered queries through the SAME compare as tools/oracle_check.py.

Corpora:
  edge_ascii   hand-built edge rows: empty text, NULL text, single char,
               whitespace runs, very long words, repeated tokens,
               1-token docs, punctuation-only, digit-only
  random_ascii seeded random printable-ASCII docs (words of mixed len)
  zipf_dup     Zipf vocabulary + exact/near duplicate docs (dedup stress)
  unicode      mixed-script words — run only for queries whose oracle is
               declared TOTAL over any text (the codec/feature queries
               hardened in r8); the byte-arithmetic stub family is
               explicitly ASCII-scoped in its registration docs.

r8b extension — adversarial EVENTS corpora for the market/temporal/PnL
family (the reference's core): tie-heavy timestamps (total-order
tie-break stress), sparse corpora with entire event types absent (empty
trades -> PnL over nothing; empty windows), constant-value runs (zero
variance -> corr/beta/VR denominators), negative prices (real in power
markets), a 95%-one-hub skew, and 1e6-wide prices (moment-sum
overflow). Same swap-one-table staging, same compare; streaming drains
run their full availableNow cycle per corpus.

r9 extension — MEDIA and EMBEDDING families:
  media_stress  codec-path stress via the text payloads derive from
                (multi-segment LZW lengths, deep dictionary chains,
                all-PNG-filter sweeps); ASCII, runs all 7 media queries
  media_binary  full 0-255 pixel diversity incl. a PINNED witness that
                fails the pre-r9-fix GIF encoder (final-segment table
                size exactly 2^w + byte-aligned EOI); runs the
                total-oracle real-codec trio
  emb_degenerate / emb_nonfinite  adversarial `embeddings` corpora:
                zero vectors (cosine 0/0 — found 2 ANSI DIVIDE_BY_ZERO
                crashes, fixed via the NULL-cosine convention in
                operators/similarity.py::_cosine), exact/near dups,
                antipodal pairs, NaN/Inf components, float32-overflow
                magnitudes (found embedding_norm_stats CAST_OVERFLOW,
                fixed via the n_flagged health bound).

r9b extension — RELATIONAL (TPC-H) corpora (`tpch_edge`, `tpch_sparse`,
`tpch_skew`): the sql_q battery + every relational/analytics oracle
referencing lineitem/orders/customer/supplier/part, selected
mechanically by table reference. Multi-table staging with referential
integrity; adversarial in DISTRIBUTION (childless orders, orderless
customers, absent filter segments -> empty results and 0-numerators,
discount exactly 0/1, all-same-date + all-same-totalprice ties, 60/70%
single-key skew). First run: 43 queries x 3 corpora, all green — the
family's dsum/tie-break discipline held; kept as a regression wall.

Usage: python tools/oracle_fuzz.py [--seed N] [query ...]
                                   [--corpus name [name ...]]
Query names must be registered; put them before `--corpus` (or after
`--`). Exit 1 on any mismatch, and when no selected query has an oracle
(zero checks). Each failure prints the oracle_check diff.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import string
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from oracle_check import compare, duck_connection  # noqa: E402

from kafka_flink_processing_spark.session import get_spark  # noqa: E402

BASE_SF = "/root/testdata/sf0.001"

# Documents-only queries (pinned here so a fuzz run is reproducible;
# tests/test_oracle_fuzz_cli.py checks every single-fuzzed-table oracle
# is in a family list or in FUZZ_EXCLUDED)
DOC_QUERIES = [
    "adaptive_quality_filter", "audio_zcr_features", "bigram_lift_top",
    "bm25_rank", "bpe_encode_from_artifact", "bpe_encode_tokens",
    "bpe_vocab_coverage",
    "bpe_fertility_by_lang", "bpe_vocab_merges", "bpe_vocab_merges_batched",
    "ccnet_perplexity_buckets", "cluster_aware_folds",
    "data_mix_subword_budget", "dedup_cluster_survivors",
    "dsir_importance_weights",
    "corpus_entropy_by_source", "corpus_partitioned_roundtrip",
    "curation_funnel", "curation_pipeline", "curriculum_stages",
    "data_mix_summary", "decontaminate_bloom", "decontaminate_ngram",
    "decontamination_n_sweep", "dedup_clusters", "dedup_containment_pairs",
    "dedup_exact", "dedup_fuzzy_corpus", "dedup_incremental",
    "dedup_incremental_minhash", "dedup_keep_best", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_rate_by_source", "dedup_simhash",
    "doc_fingerprint", "dup_span_redact", "dup_span_stats",
    "exactsubstr_redact", "exactsubstr_spans",
    "feature_hashing", "heavy_hitters_adaptive", "heavy_hitters_mg",
    "jsonl_roundtrip", "lang_confusion_matrix",
    "lang_id_quality", "lsh_band_stats", "lsh_threshold_sweep",
    "minhash_jaccard_accuracy", "mix_temperature_sample",
    "multimodal_decode_features", "multimodal_frame_sample",
    "multimodal_gif_decode", "multimodal_metadata", "multimodal_png_decode",
    "multimodal_resize", "ngram_freq_top", "ngram_novelty_by_source",
    "packing_efficiency", "per_source_cap", "pii_redaction",
    "repetition_stats", "sequence_packing", "source_overlap_matrix",
    "split_leakage_audit", "stratified_sample", "text_stats",
    "tfidf_top_terms", "token_drift_chi2", "token_length_histogram",
    "token_rarity_score", "train_test_split", "unigram_lm_vocab",
    "vocab_top_tokens", "vocab_zipf_slope", "weighted_sample_wor",
]

# Oracles declared TOTAL over any text (r8 codec/feature hardening) —
# the only ones the `unicode` corpus exercises. Everything else's oracle
# is ASCII-scoped by its registration doc (byte-arithmetic stubs, Java-
# vs-RE2 regex class differences on non-ASCII).
TOTAL_TEXT = [
    "multimodal_png_decode", "multimodal_gif_decode", "audio_zcr_features",
    "feature_hashing", "curriculum_stages", "token_length_histogram",
    # the BPE family is unicode-total (verified r9: Spark split(w,'') ==
    # DuckDB string_split(w,'') and length() == len() on non-ASCII incl.
    # astral codepoints; string order is binary UTF-8 in both engines) —
    # all six pass the unicode corpus
    "bpe_vocab_merges", "bpe_vocab_merges_batched", "bpe_encode_tokens",
    "bpe_vocab_coverage", "bpe_fertility_by_lang", "data_mix_subword_budget",
    # applies the same pinned merges via the same replace idiom (r10)
    "bpe_encode_from_artifact",
    # same space-split + md5-over-UTF8-bytes idiom as feature_hashing
    "dsir_importance_weights",
    # same idiom again (r10): bigrams -> md5 buckets -> integer log-prob
    # sums; the tercile map is pure integer arithmetic on bin counts
    "ccnet_perplexity_buckets",
    # r11: space-split + gram-string equality only (no substr, no regex,
    # no length arithmetic on text) — binary UTF-8 equality in both
    # engines; xxhash64 is Spark-internal and used only for the df>=2
    # lower bound, where collisions can only ADD re-verified candidates;
    # the <=max_df cap binds on exact grams in both engines (r12)
    "exactsubstr_spans",
    # same front end; the rebuild is word-array indexing + space-join,
    # both engines operate on the split word arrays, never byte offsets
    "exactsubstr_redact",
    # built on the functions/text.py rules, each compared on umlauts,
    # accents, CJK and emoji by tests/test_text_rules.py
    "text_stats", "lang_id_quality", "doc_fingerprint", "dedup_exact",
    "curation_pipeline", "curation_funnel", "dedup_incremental",
    "dedup_keep_best", "dedup_rate_by_source", "vocab_top_tokens",
    "tfidf_top_terms", "sequence_packing", "packing_efficiency",
    "vocab_zipf_slope", "corpus_entropy_by_source", "lang_confusion_matrix",
    "adaptive_quality_filter", "weighted_sample_wor", "repetition_stats",
    "source_overlap_matrix", "dedup_minhash_lsh", "train_test_split",
    # space-split word trigrams, counted and ordered as binary UTF-8
    # strings in both engines
    "heavy_hitters_adaptive", "heavy_hitters_mg",
    # the near-dup family: dedup_minhash_lsh's space-split shingles and
    # md5-over-UTF-8 hashes, spliced from the operators/dedup.py renderings
    # that tests/test_dedup_renderings.py checks on non-ASCII words
    "dedup_ngram_jaccard", "dedup_containment_pairs", "dedup_clusters",
    "cluster_aware_folds", "dedup_simhash", "dedup_incremental_minhash",
    "decontaminate_ngram", "decontaminate_bloom", "crossmodal_dup_verify",
    "dup_span_stats", "dup_span_redact", "lsh_band_stats",
    "split_leakage_audit", "dedup_fuzzy_corpus", "dedup_cluster_survivors",
    "minhash_jaccard_accuracy", "lsh_threshold_sweep",
    "ngram_novelty_by_source",
]

LANGS = ["en", "de", "fr", "es"]
SOURCES = [f"src{i}" for i in range(4)]

# events-derived queries (market / temporal / PnL / streaming drains)
EVENT_QUERIES = [
    "amihud_illiquidity", "asof_join_events", "bollinger_bands",
    "cms_freq_estimate", "csv_roundtrip", "da_rt_asof_basis",
    "da_rt_asof_tolerance", "da_rt_daily_corr",
    "distinct_count_by", "event_hourly_anomaly",
    "event_rate_mad_outliers", "event_transition_matrix", "ewma_price",
    "exact_quantiles_value", "forecast_backtest_sma", "forecast_sma",
    "funnel_time_to_convert", "hll_distinct_estimate", "hourly_load_profile",
    "hub_price_corr_matrix", "hub_spread_hourly", "json_props_stats",
    "kyle_lambda_price_impact", "last_value_carried_forward",
    "latest_per_key", "lead_lag_hub_beta", "max_drawdown",
    "median_value_by_type", "ohlc_bars", "pnl_exposure",
    "pnl_positions_fold", "pnl_positions_hybrid", "pnl_snapshot",
    "range_join_attribution", "realized_variance_daily",
    "retention_cohorts", "roll_spread_estimator", "rolling_median_price",
    "running_position", "scalar_battery", "scd2_price_intervals",
    "session_funnel", "session_window_stats", "skew_salted_distinct",
    "sliding_window_stats", "streaming_enrich_static",
    "streaming_forecast_sma", "streaming_forecast_sma_tws",
    "streaming_ohlc_bars", "streaming_pnl_tws", "streaming_session_stats",
    "streaming_slippage_join", "streaming_tumbling_stats",
    "time_range_moving_avg", "time_rollup_multigrain", "topk_recent",
    "trade_flow_net", "tumbling_window_stats", "value_histogram",
    "variance_ratio",
    "vwap_execution_quality", "vwap_hub_day", "window_ntile_battery",
    "window_rank_lag", "winsorized_stats",
]

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# media/codec family (r9): payloads derive from documents.text, so a
# crafted TEXT corpus reaches every codec path — long low-redundancy
# texts force multi-segment LZW streams (the r9 advisor's GIF
# final-code-width bug lived exactly there: payloads >= ~4.2 KB),
# long compressible runs force deep dictionary chains and table resets,
# and the PNG path sweeps all five filter types over many rows.
MEDIA_QUERIES = [
    "audio_zcr_features", "multimodal_decode_features",
    "multimodal_frame_sample", "multimodal_gif_decode",
    "multimodal_metadata", "multimodal_png_decode", "multimodal_resize",
]

# embedding family (r9): oracle-backed consumers of the embeddings table
# (kmeans_embeddings / embedding_pca_variance are rows-only and skip)
EMB_QUERIES = [
    "crossmodal_dup_verify", "dedup_semantic", "embedding_cosine_pairs",
    "embedding_norm_stats", "embedding_quality_stats", "ivf_probe_sweep",
    "ivf_recall_eval", "kmeans_assign_cells", "semantic_mix_matrix",
    "similarity_bruteforce_topk", "similarity_ivf_topk",
    "similarity_lsh_topk",
    # PQ family (r9 second half): subspace argmin encode + ADC fold —
    # NaN/Inf subspace distances and argmin ties are exactly its surface
    "similarity_pq_topk", "similarity_pq_rerank_topk",
    "pq_distortion_by_label", "similarity_ivfpq_topk",
    "similarity_ivfpq_residual_topk",
]

# Oracles that read only fuzzed tables but run on no corpus, name ->
# reason; tests/test_oracle_fuzz_cli.py keeps this and the family lists
# complete
FUZZ_EXCLUDED: dict[str, str] = {}

EMB_DIM = 64


def _event_rows(rows: list[tuple]) -> list[tuple]:
    """rows: (event_id, ts_micros_offset, user_id, event_type, value).
    props mirrors the real corpus shape ({'k': int})."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return [(eid, base + dt.timedelta(microseconds=us), uid, et, val,
             '{"k": %d}' % (eid % 100))
            for eid, us, uid, et, val in rows]


def events_ties(rng: random.Random) -> list[tuple]:
    """Many events share IDENTICAL timestamps: every window/asof/fold
    result depends on the documented (ts, id) total-order tie-break."""
    rows = []
    eid = 0
    for day in range(3):
        for slot in range(40):
            us = (day * 24 * 3600 + slot * 600) * 1_000_000
            for _ in range(rng.randint(1, 6)):   # 1-6 events, same ts
                rows.append((eid, us, rng.randrange(8),
                             rng.choice(EVENT_TYPES),
                             round(rng.uniform(1, 300), 2)))
                eid += 1
    return _event_rows(rows)


def events_sparse(rng: random.Random) -> list[tuple]:
    """Entire event types absent (no purchase/signup -> EMPTY trades ->
    PnL/VWAP over nothing), single user, a 1-event day."""
    rows = [(0, 0, 0, "view", 100.0),
            (1, 3600 * 1_000_000, 0, "view", 101.0),
            (2, (49 * 3600) * 1_000_000, 0, "click", 99.5)]
    return _event_rows(rows)


def events_extreme(rng: random.Random) -> list[tuple]:
    """Constant-value runs (zero variance -> corr/beta/VR/Roll
    denominators), NEGATIVE prices (real in power markets), values at
    the dsum-documented bounds."""
    rows = []
    eid = 0
    for slot in range(120):
        us = slot * 900 * 1_000_000
        # hub 0 (user 0/4): constant price -> zero variance everywhere
        rows.append((eid, us, 0, rng.choice(EVENT_TYPES), 50.0)); eid += 1
        # hub 1: negative prices
        rows.append((eid, us, 1, rng.choice(EVENT_TYPES),
                     round(rng.uniform(-80, -1), 2))); eid += 1
        # hub 2: extremes within the scaled-int64 budget
        rows.append((eid, us, 2, rng.choice(EVENT_TYPES),
                     rng.choice([0.0, 0.01, 999999.99]))); eid += 1
    return _event_rows(rows)


def events_oneside(rng: random.Random) -> list[tuple]:
    """One-sided market regimes per hub (hub = user_id % 4): hub0 sees
    ONLY trade-type events (a PnL book that never gets a price tick —
    the last-price-None unrealized path), hub1 ONLY price-type events
    (ticks against an empty book), hub2's prices STOP half-way (a stale
    last price revaluing a still-growing book), hub3's prices START
    half-way (a book founded blind, then revalued by its first tick).
    Every engine pair must agree on what a missing market side means."""
    trade_t = ("purchase", "signup", "error")
    price_t = ("view", "click")
    rows = []
    eid = 0
    for slot in range(160):
        us = slot * 450 * 1_000_000
        half = slot >= 80
        picks = (trade_t,                          # hub0: trades only
                 price_t,                          # hub1: prices only
                 trade_t if half else price_t,     # hub2: prices stop
                 price_t if half else trade_t)     # hub3: prices start
        for uid, types in enumerate(picks):
            rows.append((eid, us, uid, rng.choice(types),
                         round(rng.uniform(1, 300), 2)))
            eid += 1
    return _event_rows(rows)


def events_churn(rng: random.Random) -> list[tuple]:
    """Account-churn tape for the finite-TTL eviction engines (r10):
    eight churn accounts each run the evict -> re-trade-from-ZERO ->
    re-evict cycle with the timing engineered so BOTH evictions are
    guaranteed to fire before the next touch. Geometry: 48 h span with
    hourly background ticks on every hub (the watermark always
    advances), derived TTL = span/5 floored to the 600 s grid = 9.5 h
    (tools/stream_fuzz.py::_corpus_ttl_ms), 6-batch split => ~8 h
    batches. Each account FLATTENS at ~t=20 min (BUY and SELL share
    eid mod 4, so both legs carry the same mw); its timer expires at
    ~9.8 h and the watermark crosses that in the ~16 h batch — a full
    ~13 h of hub ticks are suppressed before the account re-trades at
    29 h FROM A ZERO FOLD (realized reset observable), flattens again,
    and is re-evicted at ~38.8 h with the tape's last ~8 h of ticks
    suppressed again. Adversarial alignments: every ts sits on the
    600 s grid so timer expiries collide exactly with row timestamps
    (a dedicated tick lands on each expiry instant); the BUY ties a
    price tick at the same ts and the SELL ties another (kind/trade_id
    tie-breaks on both sides of the book); four OPEN-position accounts
    (one per hub, account-disjoint from the churn eight) buy once and
    never sell — every sweep must skip them regardless of inactivity."""
    trade_t = ("purchase", "signup")     # BUY leg types
    rows = []
    eid = 0

    def add(sec, uid, et, val):
        nonlocal eid
        rows.append((eid, sec * 1_000_000, uid, et, round(val, 2)))
        eid += 1

    for u in range(8):                   # churn accounts: uids 0..7
        for t0 in (600 * u, 104_400 + 600 * u):   # two bursts, 29 h apart
            px = rng.uniform(20, 120)
            add(t0, u, rng.choice(trade_t), px)          # BUY (eid%4 = r)
            add(t0, u, "view", px + rng.uniform(-5, 5))  # tick TIED to BUY
            add(t0 + 600, u, "view", px + rng.uniform(-5, 5))
            add(t0 + 1200, u, "view", px + rng.uniform(-5, 5))
            add(t0 + 1200, u, "error", px + rng.uniform(-5, 5))  # SELL, tie
            # flat at t0+1200 -> timer at +TTL (34 200 s): collide a tick
            # exactly on the expiry instant (same hub via same uid)
            add(t0 + 1200 + 34_200, u, "click", px + rng.uniform(-5, 5))
    for u in range(8, 12):               # open accounts: one per hub
        add(600 * u, u, rng.choice(trade_t), rng.uniform(20, 120))
    for h in range(49):                  # hourly ticks, all hubs, 0..48 h
        for uid in range(4):
            add(h * 3600, uid, "view", rng.uniform(20, 120))
    rows.sort(key=lambda r: (r[1], r[0]))
    return _event_rows(rows)


def events_skew(rng: random.Random) -> list[tuple]:
    """95% of events on one hub — the hot-key shape."""
    rows = []
    for eid in range(400):
        uid = 0 if rng.random() < 0.95 else rng.randrange(1, 8)
        rows.append((eid, eid * 137 * 1_000_000, uid,
                     rng.choice(EVENT_TYPES),
                     round(rng.uniform(1, 300), 2)))
    return _event_rows(rows)


def events_wide(rng: random.Random) -> list[tuple]:
    """Wide prices: every event type on every hub every 2nd hour for 12
    days, prices uniform in [999000, 999999.99]. A squared 6dp moment
    term is ~1e18 per row here, so a moment sum on int64 raises
    ARITHMETIC_OVERFLOW in Spark where DuckDB's int128 sum does not, and
    past 2^53 a double -> decimal cast in Spark is not exact."""
    rows = []
    for slot in range(12 * 12):
        us = slot * 2 * 3600 * 1_000_000
        for uid in range(4):
            for et in EVENT_TYPES:
                rows.append((len(rows), us, uid, et,
                             round(rng.uniform(999000, 999999.99), 2)))
    return _event_rows(rows)


def _doc_rows(texts: list[str | None]) -> list[tuple]:
    return [(i, t, LANGS[i % len(LANGS)], SOURCES[i % len(SOURCES)],
             len(t) if t is not None else None)
            for i, t in enumerate(texts)]


def corpus_edge_ascii(rng: random.Random) -> list[tuple]:
    word = "".join(rng.choices(string.ascii_lowercase, k=5))
    texts: list[str | None] = [
        "", None, "a", "  ", "x " * 200, "   leading and  double  spaces",
        "trailing spaces   ", word, (word + " ") * 50, "a" * 5000,
        "123 456 789", "!!! ??? ... ,,,", "one two", "solo",
        "the the the the the the", "\t tab \t separated",
        word * 400,                       # one 2000-char token
        " ".join(f"w{i}" for i in range(500)),
    ]
    # a few normal docs so group-by queries have real groups
    for _ in range(20):
        texts.append(" ".join(
            "".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 8)))
            for _ in range(rng.randint(3, 40))))
    return _doc_rows(texts)


def corpus_random_ascii(rng: random.Random) -> list[tuple]:
    printable = string.ascii_letters + string.digits + ".,;:!?'-()"
    texts = [" ".join("".join(rng.choices(printable, k=rng.randint(1, 12)))
                      for _ in range(rng.randint(1, 60)))
             for _ in range(80)]
    return _doc_rows(texts)


def corpus_zipf_dup(rng: random.Random) -> list[tuple]:
    vocab = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(2, 9)))
             for _ in range(60)]
    weights = [1.0 / (i + 1) for i in range(len(vocab))]

    def doc():
        return " ".join(rng.choices(vocab, weights=weights,
                                    k=rng.randint(5, 60)))

    texts = [doc() for _ in range(40)]
    texts += texts[:10]                   # exact duplicates
    for t in texts[:10]:                  # near duplicates
        toks = t.split(" ")
        toks[rng.randrange(len(toks))] = "CHANGED"
        texts.append(" ".join(toks))
    return _doc_rows(texts)


def corpus_unicode(rng: random.Random) -> list[tuple]:
    pools = ["héllo wörld über naïve", "日本語 テキスト 処理",
             "привет мир данные", "χαίρετε κόσμος", "emoji 🙂 test",
             "mixed ascii ünïcode 日本"]
    texts: list[str | None] = ["", None]
    for _ in range(30):
        base = rng.choice(pools).split(" ")
        texts.append(" ".join(rng.choices(base, k=rng.randint(1, 25))))
    return _doc_rows(texts)


def corpus_media_stress(rng: random.Random) -> list[tuple]:
    """Codec-path stress via the text the payloads derive from:
    low-redundancy texts at lengths sweeping past the LZW segment
    boundaries (multi-segment streams, where the r9 GIF final-code
    width bump bug lived), long compressible runs (deep dictionary
    chains + 4096-entry table resets), single-symbol megadocs, and the
    empty/NULL edges. ASCII only — the byte-derived stub oracles are
    ASCII-scoped by their registration docs."""
    printable = string.ascii_letters + string.digits + ".,;:!?'-() "
    texts: list[str | None] = ["", None, "a", " " * 300]
    # low-redundancy sweep across multi-segment LZW lengths (incl. the
    # advisor reproducer neighborhoods 4206 / 8664 / 13664)
    for n in [300, 1000, 2500, 4100, 4206, 4300, 6000,
              8664, 9000, 13664, 16000]:
        texts.append("".join(rng.choices(printable, k=n)))
    # compressible: long runs and short repeating periods
    texts += ["a" * 12000, "ab" * 6000, "abc " * 3000,
              "".join(rng.choices("ab", k=10000)),
              ("x" * 250 + "y") * 40]
    # normal docs so grouped features keep real groups
    for _ in range(15):
        texts.append(" ".join(
            "".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 8)))
            for _ in range(rng.randint(3, 40))))
    return _doc_rows(texts)


def corpus_media_binary(rng: random.Random) -> list[tuple]:
    """Full 0-255 pixel diversity at the LZW segment boundaries: pixel
    values are ord(char) % 256, so chr(1..256) texts give the codec the
    byte-random payloads the r9 advisor's reproducers used (printable
    ASCII caps the symbol set at ~95 and never hits the final-segment
    code counts 255/767/1791 that exposed the encoder's missing
    post-final-code width bump — VERIFIED: this corpus fails on the
    pre-fix encoder, media_stress does not). Non-ASCII text, so only
    the TOTAL-oracle real-codec queries run it."""
    def blob(n):
        return "".join(chr(rng.randrange(256) or 256) for _ in range(n))

    # the PINNED pre-fix-failing witness: random.Random(0) codepoints,
    # length 4211 — found by the same instrumented scan as the unit-test
    # witness but over with_gif_payload's EXACT pixel construction
    # (text codes + pad-32 tail), so the failure reproduces through the
    # registered query end to end (chr(256) stands in for byte 0 — NUL
    # can't ride a string; ord % 256 restores it). VERIFIED: this row
    # alone fails multimodal_gif_decode on the pre-fix encoder.
    wrng = random.Random(0)
    witness = "".join(chr(wrng.randrange(256) or 256) for _ in range(4211))
    texts: list[str | None] = [witness]
    for base in [4206, 8664, 13664]:
        for delta in (-40, -1, 0, 1, 40):
            texts.append(blob(base + delta))
    texts += [blob(rng.randrange(2000, 16000)) for _ in range(10)]
    return _doc_rows(texts)


# real-codec queries whose oracles are total over any text AND whose
# payload content is the per-char codepoint stream (the media_binary
# target set)
MEDIA_BINARY_QUERIES = [
    "multimodal_gif_decode", "multimodal_png_decode", "audio_zcr_features",
]


def _emb_rows(vecs: list, rng: random.Random) -> list[tuple]:
    return [(i, [float(x) for x in v], rng.randrange(10))
            for i, v in enumerate(vecs)]


def emb_degenerate(rng: random.Random) -> list[tuple]:
    """All-finite pathological geometry: zero vectors (norm 0 -> cosine
    0/0), exact duplicates (cosine exactly 1; dedup/LSH stress),
    epsilon near-duplicates, constant vectors, one-hot axes, and
    antipodal pairs — plus normal vectors so codebooks/matrices keep
    real structure."""
    def rnd():
        return [rng.gauss(0, 1) for _ in range(EMB_DIM)]

    vecs = []
    vecs += [[0.0] * EMB_DIM] * 3                      # zero vectors
    base = [rnd() for _ in range(8)]
    vecs += base
    vecs += [list(v) for v in base[:4]]                # exact duplicates
    for v in base[:4]:                                 # near duplicates
        w = list(v)
        w[rng.randrange(EMB_DIM)] += 1e-7
        vecs.append(w)
    vecs += [[1.0] * EMB_DIM, [-1.0] * EMB_DIM]        # constant +/-
    for i in range(6):                                 # one-hot axes
        v = [0.0] * EMB_DIM
        v[i] = 1.0
        vecs.append(v)
    v = rnd()
    vecs += [v, [-x for x in v]]                       # antipodal pair
    vecs += [rnd() for _ in range(160)]                # normal bulk
    return _emb_rows(vecs, rng)


def emb_nonfinite(rng: random.Random) -> list[tuple]:
    """Non-finite and extreme-magnitude components: NaN / +-Inf entries,
    float32-overflow magnitudes (sumsq -> inf), and denormal-scale
    values — the rows a real embedding pipeline sees after a bad
    normalization or a train-time divergence."""
    def rnd(scale=1.0):
        return [rng.gauss(0, 1) * scale for _ in range(EMB_DIM)]

    vecs = []
    v = rnd()
    v[3] = float("nan")
    vecs.append(v)
    v = rnd()
    v[0] = float("inf")
    vecs.append(v)
    v = rnd()
    v[EMB_DIM - 1] = float("-inf")
    vecs.append(v)
    vecs.append([float("nan")] * EMB_DIM)
    vecs += [rnd(1e25)]                    # float32 sumsq overflows to inf
    vecs += [rnd(1e-30)]                   # denormal neighborhood
    vecs += [rnd() for _ in range(120)]    # normal bulk
    return _emb_rows(vecs, rng)


CORPORA = {
    "edge_ascii": corpus_edge_ascii,
    "random_ascii": corpus_random_ascii,
    "zipf_dup": corpus_zipf_dup,
    "unicode": corpus_unicode,
    "media_stress": corpus_media_stress,
    "media_binary": corpus_media_binary,
}

EVENT_CORPORA = {
    "events_ties": events_ties,
    "events_sparse": events_sparse,
    "events_extreme": events_extreme,
    "events_skew": events_skew,
    "events_oneside": events_oneside,
    "events_churn": events_churn,
    "events_wide": events_wide,
}
CORPORA.update(EVENT_CORPORA)

EMB_CORPORA = {
    "emb_degenerate": emb_degenerate,
    "emb_nonfinite": emb_nonfinite,
}
CORPORA.update(EMB_CORPORA)


# ---------------------------------------------------------------------------
# r9b extension — RELATIONAL (TPC-H) corpora: the sql_q battery and the
# relational/analytics queries over lineitem/orders/customer/supplier/part
# were the last oracle family with no fuzz coverage. These corpora swap
# ALL FIVE tables at once (referential integrity preserved: every
# l_orderkey exists in orders, every o_custkey in customer, every
# l_partkey/l_suppkey in part/supplier; nation/region stay the real
# symlinks), keeping values inside the documented TPC-H-ish domains but
# adversarial in DISTRIBUTION: empty join sides, absent filter segments
# (empty aggregates, 0/0 ratios), total ties (rank determinism), and
# pathological skew. Non-NULL like the real generator — NULL-handling
# has its own dedicated queries (not_in_null_aware) with manufactured
# NULLs.
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_NOUNS = ["widget", "bolt", "rod", "gear", "cog"]
P_ADJS = ["cold", "small", "large", "blue", "red"]


def _tpch_dt(day_offset: int):
    import datetime as dt
    return dt.datetime(1995, 1, 1) + dt.timedelta(days=day_offset)


def _tpch_tables(rng: random.Random, *, segments=None, promo=True,
                 date_days=None, skew_cust=None, skew_part=None,
                 n_cust=100, n_supp=10, n_part=40, n_orders=300,
                 max_lines=5, tie_dates=False, tie_prices=False,
                 childless_orders=8, orderless_custs=10):
    """One consistent 5-table corpus; knobs select the adversarial shape."""
    segments = segments or SEGMENTS
    date_days = date_days or (0, 2400)
    customer, supplier, part, orders, lineitem = [], [], [], [], []
    for c in range(n_cust):
        acct = (0.0 if c % 17 == 0
                else round(rng.uniform(-999.99, 9999.99), 2))
        customer.append((c, f"Customer#{c:09d}", rng.randrange(25),
                         acct, rng.choice(segments)))
    for s in range(n_supp):
        # acctbal ties across suppliers: Q2's min-cost tie-break stress
        acct = round(rng.choice([111.11, 222.22, rng.uniform(0, 9000)]), 2)
        supplier.append((s, f"Supplier#{s:09d}", rng.randrange(25), acct))
    for p in range(n_part):
        ptype = (rng.choice(P_TYPES) if promo
                 else rng.choice([t for t in P_TYPES if t != "PROMO"]))
        part.append((p, f"{rng.choice(P_ADJS)} {rng.choice(P_NOUNS)}",
                     f"Brand#{rng.randrange(1, 25)}", ptype,
                     rng.randrange(1, 50),
                     round(rng.uniform(900, 2000), 2)))
    for o in range(n_orders):
        cust = (skew_cust if skew_cust is not None and rng.random() < 0.6
                else rng.randrange(max(1, n_cust - orderless_custs)))
        day = (date_days[0] if tie_dates
               else rng.randrange(date_days[0], date_days[1]))
        total = round(rng.choice([77777.77] if tie_prices
                                 else [rng.uniform(1000, 400000)]), 2)
        orders.append((o, cust, rng.choice("OFP"), total, _tpch_dt(day),
                       rng.choice(PRIORITIES)))
        n_lines = 0 if o < childless_orders else rng.randrange(1, max_lines)
        for ln in range(n_lines):
            pkey = (skew_part if skew_part is not None
                    and rng.random() < 0.7 else rng.randrange(n_part))
            qty = float(rng.choice([1, 1, rng.randrange(1, 51),
                                    rng.randrange(1, 51), 100]))
            disc = rng.choice([0.0, 0.0, 1.0, round(rng.uniform(0, .1), 2)])
            lineitem.append((o, pkey, rng.randrange(n_supp), ln + 1, qty,
                             round(qty * rng.uniform(900, 2000), 2), disc,
                             round(rng.uniform(0, .08), 2),
                             rng.choice("ANR"), rng.choice("OF"),
                             _tpch_dt(day + rng.randrange(0, 90))))
    return {"customer": customer, "supplier": supplier, "part": part,
            "orders": orders, "lineitem": lineitem}


def tpch_edge(rng: random.Random) -> dict[str, list[tuple]]:
    """Childless orders, orderless customers, zero/negative acctbal,
    discount exactly 0 and exactly 1 (zero revenue terms), qty extremes —
    the outer/semi/anti-join and ratio-denominator edges."""
    return _tpch_tables(rng)


def tpch_sparse(rng: random.Random) -> dict[str, list[tuple]]:
    """Entire filter populations absent: no BUILDING segment (empty Q3),
    no PROMO parts (Q14's promo numerator is 0), every order in ONE
    pre-filter-window month of 1995 (empty date-window aggregates
    downstream) — empty-result hash compares and 0-denominator ratios."""
    return _tpch_tables(
        rng, segments=[s for s in SEGMENTS if s != "BUILDING"],
        promo=False, date_days=(0, 28), n_orders=120, n_cust=40)


def tpch_skew(rng: random.Random) -> dict[str, list[tuple]]:
    """One customer holds ~60% of orders, one part ~70% of lineitems,
    every order on the SAME date with the SAME totalprice — worst-case
    group skew plus total ties through every rank/top-k path."""
    return _tpch_tables(rng, skew_cust=3, skew_part=7, tie_dates=True,
                        tie_prices=True, n_orders=400, max_lines=8)


TPCH_CORPORA = {
    "tpch_edge": tpch_edge,
    "tpch_sparse": tpch_sparse,
    "tpch_skew": tpch_skew,
}
CORPORA.update(TPCH_CORPORA)

TPCH_TABLE_SET = {"lineitem", "orders", "customer", "supplier", "part"}


def tpch_query_names(oracles: dict[str, str]) -> list[str]:
    """Every oracle-gated query whose SQL references a swapped table —
    selected mechanically so new registrations join the fuzz for free."""
    import re as _re
    pat = _re.compile(r"\b(" + "|".join(sorted(TPCH_TABLE_SET)) + r")\b")
    return sorted(n for n, o in oracles.items() if pat.search(o))


_FUZZ_SCHEMAS = {
    "documents": ("doc_id long, text string, lang string, "
                  "source string, n_chars long"),
    "events": ("event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string"),
    "embeddings": "vec_id long, embedding array<float>, label int",
    "customer": ("c_custkey long, c_name string, c_nationkey int, "
                 "c_acctbal double, c_mktsegment string"),
    "supplier": ("s_suppkey long, s_name string, s_nationkey int, "
                 "s_acctbal double"),
    "part": ("p_partkey long, p_name string, p_brand string, "
             "p_type string, p_size int, p_retailprice double"),
    "orders": ("o_orderkey long, o_custkey long, o_orderstatus string, "
               "o_totalprice double, o_orderdate timestamp, "
               "o_orderpriority string"),
    "lineitem": ("l_orderkey long, l_partkey long, l_suppkey long, "
                 "l_linenumber int, l_quantity double, "
                 "l_extendedprice double, l_discount double, "
                 "l_tax double, l_returnflag string, "
                 "l_linestatus string, l_shipdate timestamp"),
}


def stage_sf_dir(spark, rows, workdir: str,
                 table: str = "documents") -> str:
    """Stage a fuzz sf-dir: swapped tables written as single parquet
    files, everything else symlinked from the real SF. `rows` is either
    one table's row list or a {table: rows} dict (multi-table corpora —
    the TPC-H family swaps five tables with shared keys)."""
    tables = rows if isinstance(rows, dict) else {table: rows}
    sf = os.path.join(workdir, "sf_fuzz")
    os.makedirs(sf, exist_ok=True)
    for t in os.listdir(BASE_SF):
        if t.removesuffix(".parquet") not in tables:
            os.symlink(os.path.join(BASE_SF, t), os.path.join(sf, t))
    for t, trows in tables.items():
        df = spark.createDataFrame(trows, _FUZZ_SCHEMAS[t])
        # the real testdata ships single parquet FILES, not directories —
        # match that layout so both engines read it the same way
        tmp_out = os.path.join(workdir, f"{t}_out")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = next(f for f in os.listdir(tmp_out)
                    if f.startswith("part-") and f.endswith(".parquet"))
        shutil.move(os.path.join(tmp_out, part),
                    os.path.join(sf, f"{t}.parquet"))
    return sf


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """`--corpus` takes one or more names and may repeat; positional
    names must be registered queries (a typo is an error, not a filter
    that matches nothing)."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--corpus", nargs="+", action="extend",
                    choices=sorted(CORPORA))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.queries) - set(entrymod.queries()))
    if unknown:
        ap.error(f"not registered queries: {' '.join(unknown)}")
    return args


def corpus_queries(cname: str, wanted: list[str],
                   oracles: dict[str, str]) -> list[str]:
    """The queries with an oracle that run on corpus `cname`: `wanted`
    if given, else the corpus family's default list."""
    if wanted:
        names = wanted
    elif cname in TPCH_CORPORA:
        names = tpch_query_names(oracles)
    elif cname == "unicode":
        names = TOTAL_TEXT
    elif cname == "media_stress":
        names = MEDIA_QUERIES
    elif cname == "media_binary":
        names = MEDIA_BINARY_QUERIES
    elif cname in EVENT_CORPORA:
        names = EVENT_QUERIES
    elif cname in EMB_CORPORA:
        names = EMB_QUERIES
    else:
        names = DOC_QUERIES
    return [n for n in names if n in oracles]


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    oracles = entrymod.oracle_sql()
    plan = {cname: corpus_queries(cname, args.queries, oracles)
            for cname in args.corpus or list(CORPORA)}
    if not any(plan.values()):
        print("fuzz: no checks to run (no selected query has an oracle)")
        return 1
    spark = get_spark("oracle_fuzz")
    qs = entrymod.queries()
    n_pass = n_fail = 0
    failures: list[str] = []
    for cname, names in plan.items():
        if not names:
            continue
        rng = random.Random(args.seed)
        rows = CORPORA[cname](rng)
        table = ("events" if cname in EVENT_CORPORA
                 else "embeddings" if cname in EMB_CORPORA
                 else "documents")
        work = tempfile.mkdtemp(prefix=f"kfps_fuzz_{cname}_")
        try:
            sf = stage_sf_dir(spark, rows, work, table=table)
            con = duck_connection(sf)
            for name in names:
                try:
                    sdf = qs[name](spark, sf).toPandas()
                    ddf = con.execute(oracles[name]).fetchdf()
                    ok = compare(name, sdf, ddf)
                except Exception as e:  # noqa: BLE001 — report, keep going
                    print(f"[{cname}] {name}: ERROR {type(e).__name__}: "
                          f"{str(e).splitlines()[0][:200]}")
                    ok = False
                if ok:
                    n_pass += 1
                else:
                    print(f"[{cname}] {name}: FAIL")
                    failures.append(f"{cname}/{name}")
                    n_fail += 1
            con.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(f"[{cname}] done", flush=True)
    print(f"\nfuzz pass={n_pass} fail={n_fail}"
          + (f" failures: {failures}" if failures else ""))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
