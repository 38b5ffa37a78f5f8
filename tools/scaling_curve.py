"""Scaling-curve probe: does each plan's cost stay ~linear as the input
replicates 1x -> 4x -> 16x?

Small-SF bench numbers prove relative cost, not scaling SHAPE. This tool
replicates the sf0.1 tables k-fold with distribution-preserving id
offsets (same hub/key populations, k-fold rows per key — the honest
"more history per key" shape a growing corpus has), runs a representative
query set at each scale, and prints one JSON line per scale. Findings
land in SCALE.md.

Query set (why each is here):
  groupby_agg_q1      scan + map-side-combined agg: the linear baseline
  ohlc_bars           keyed agg, fixed group count, k-fold rows per group
  kyle_lambda_price_impact  per-hub window sort: the documented few-keys
                      serialization concern, measured instead of assumed
  heavy_hitters_mg    MG sketch: exchange carries candidates, not the
                      gram universe — slope should stay flat-linear
  ngram_freq_top      the full-universe-shuffle contrast to the sketch
  token_drift_chi2    token-keyed exchange + broadcast totals + top-k

Usage: python tools/scaling_curve.py [reps ...]   (default 1 4 16)
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bench import force  # noqa: E402
from kafka_flink_processing_spark.plans.registry import (  # noqa: E402
    QUERIES,
    _ensure_loaded,
)
from kafka_flink_processing_spark.session import get_spark  # noqa: E402
from kafka_flink_processing_spark.sources.parquet import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
QUERY_SET = ["groupby_agg_q1", "ohlc_bars", "kyle_lambda_price_impact",
             "heavy_hitters_mg", "ngram_freq_top", "token_drift_chi2"]
# --dedup mode (r8, r6 verdict task 5): the near-dup family measured on a
# DUP-RATE-PRESERVING replication. Verbatim k-fold replication would make
# every doc an exact/near dup of its k-1 replicas — LSH buckets then gain
# k co-located signatures per original member and the candidate-pair
# volume grows O(k^2) per bucket, a workload-shape artifact that would
# masquerade as a super-linear PLAN slope. Instead each replica k tags
# every word with a replica prefix: all shingles/grams become
# replica-distinct, so the corpus has k-fold docs with the SAME internal
# dup structure per replica and no cross-replica matches — the honest
# "corpus grew, dup rate stayed" shape.
DEDUP_QUERY_SET = ["dedup_clusters", "dup_span_redact", "dedup_fuzzy_corpus"]
# --r9 mode: the round-9 additions. BPE trainer/encoder/coverage run on
# VERBATIM replication (same vocabulary, k-fold frequencies — the honest
# Zipf shape of a growing corpus: the distinct-word relation the trainer
# and encoder iterate over stays constant-size, only the one corpus-sized
# groupBy/explode grows), and the tws SMA port drains k-fold ticks
# through the ListState fold (state stays O(hubs x 20), output linear).
R9_QUERY_SET = ["bpe_encode_tokens", "bpe_vocab_coverage",
                "data_mix_subword_budget", "streaming_forecast_sma_tws",
                "bpe_vocab_merges_batched"]
# --dsir mode (r9 end): DSIR importance weights on VERBATIM replication
# (k-fold docs, same text population — the hashed-bucket log-ratio table
# stays 1024 rows whatever the corpus size; only the bigram stream and
# the doc-keyed agg grow). feature_hashing rides along as the in-family
# control: same explode -> hashed-group agg skeleton, measured ~flat in
# the r8 curves, so any divergence between the two is DSIR's extra
# corpus scan (the gram stream is re-derived for the second aggregation
# rather than cached — the documented two-scan design).
DSIR_QUERY_SET = ["dsir_importance_weights", "feature_hashing"]
# --r10 mode: the persisted-merge-table encode on VERBATIM replication —
# the distinct-word relation is IDENTICAL at every k (same vocabulary,
# k-fold frequencies), so the vocab build + 16 replaces are flat and the
# only growing work is the corpus explode + broadcast join + per-doc agg:
# expect near-linear in rows with a flat constant term, and strictly
# cheaper than bpe_encode_tokens (whose trainer argmax jobs ride along
# in the R9 set) at every scale.
R10_QUERY_SET = ["bpe_encode_from_artifact"]
# --r10b mode (late r10): the two post-freeze registrations, on the
# DUP-RATE-PRESERVING perturbed replication (same rationale as --dedup:
# verbatim k-fold would make every doc an exact dup of its replicas and
# the LSH candidate volume would grow O(k^2) per bucket — a workload
# artifact masquerading as a plan slope). Perturbation is harmless to
# the other two: the hashed LM/bucket tables stay fixed-size whatever
# the tokens look like. Read in-family pairs: ccnet_perplexity_buckets
# vs dsir_importance_weights (same explode -> hashed-bucket skeleton;
# the gap is ccnet's score-branch recompute for the tercile join), and
# dedup_cluster_survivors vs dedup_clusters (the gap is the n_chars
# join + the per-cluster window).
R10B_QUERY_SET = ["ccnet_perplexity_buckets", "dsir_importance_weights",
                  "dedup_cluster_survivors", "dedup_clusters"]
# --r11 mode: ExactSubstr span mining on the DUP-RATE-PRESERVING
# perturbed replication (verbatim k-fold would make every doc share its
# FULL text as a span with k-1 replicas — seed volume O(k^2) per doc, a
# workload artifact, not a plan slope). With per-replica word prefixes
# the duplicated-span population is k-fold the original's and the
# anchor/seed/island volumes grow linearly. dup_span_redact rides along
# as the in-family control (same positional-gram explode front end,
# measured ~linear in the --dedup curves); the gap between them is the
# pair join + diagonal window that gram membership doesn't pay.
# exactsubstr_redact (the keep-one APPLY step) joins the set late-r11:
# expect the dup_span_redact shape (the corpus-rebuild exchange
# dominates) plus the span-mining front end.
R11_QUERY_SET = ["exactsubstr_spans", "exactsubstr_redact",
                 "dup_span_redact"]
# --pq mode (r9 second half): the PQ family on a k-fold embedding corpus
# (vec_id offset keeps ids unique; the 5 query vectors stay the
# originals). Expected shape: encode and the ADC code scan grow linearly
# in corpus rows; the LUT side is constant (|Q| x M x K broadcast); the
# re-rank join touches a constant |Q| x shortlist vector set.
PQ_QUERY_SET = ["similarity_pq_topk", "similarity_pq_rerank_topk",
                "pq_distortion_by_label", "similarity_ivfpq_topk",
                "similarity_ivfpq_residual_topk"]
# distribution-preserving replication: bump the id columns per replica so
# keys stay unique while every categorical/derived population (hubs from
# user_id % 4, langs, priorities) keeps its shape
OFFSETS = {
    "lineitem": {"l_orderkey": 10 ** 9},
    "events": {"event_id": 10 ** 9, "user_id": 10 ** 4},
    "documents": {"doc_id": 10 ** 9},
    "embeddings": {"vec_id": 10 ** 9},
}


def replicate(spark, table: str, reps: int, out_dir: str,
              perturb_text: bool = False) -> None:
    base = load_table(spark, table, SRC)
    parts = []
    for k in range(reps):
        df = base
        for col, step in OFFSETS[table].items():
            df = df.withColumn(col, F.col(col) + F.lit(k * step))
        if perturb_text and table == "documents" and k > 0:
            df = df.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"k{k}$1"))
        parts.append(df)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


def main() -> None:
    args = sys.argv[1:]
    dedup_mode = "--dedup" in args
    r9_mode = "--r9" in args
    pq_mode = "--pq" in args
    dsir_mode = "--dsir" in args
    r10_mode = "--r10" in args
    r10b_mode = "--r10b" in args
    r11_mode = "--r11" in args
    args = [a for a in args if a not in ("--dedup", "--r9", "--pq",
                                         "--dsir", "--r10", "--r10b",
                                         "--r11")]
    reps_list = [int(a) for a in args] or [1, 4, 16]
    query_set = (DEDUP_QUERY_SET if dedup_mode
                 else R9_QUERY_SET if r9_mode
                 else PQ_QUERY_SET if pq_mode
                 else DSIR_QUERY_SET if dsir_mode
                 else R10_QUERY_SET if r10_mode
                 else R10B_QUERY_SET if r10b_mode
                 else R11_QUERY_SET if r11_mode else QUERY_SET)
    tables = (["documents"] if dedup_mode or dsir_mode or r10_mode
              or r10b_mode or r11_mode
              else ["documents", "events"] if r9_mode
              else ["embeddings"] if pq_mode
              else ["lineitem", "events", "documents"])
    spark = get_spark("scaling-curve")
    _ensure_loaded()
    # warm the Python worker pools once so 1x doesn't eat the fork cost
    warm = spark.range(0, 32 * 1024, 1, 32)
    force(warm.mapInPandas(lambda it: it, schema="id long"))
    for reps in reps_list:
        td = tempfile.mkdtemp(prefix=f"kfps_curve_{reps}x_")
        try:
            for t in tables:
                replicate(spark, t, reps, td,
                          perturb_text=dedup_mode or r10b_mode
                          or r11_mode)
            times = {}
            all_reps: dict[str, list[float]] = {}
            for name in query_set:
                best = float("inf")
                samples = []
                for _ in range(2):
                    t0 = time.time()
                    force(QUERIES[name].spark(spark, td))
                    samples.append(round(time.time() - t0, 3))
                    best = min(best, samples[-1])
                times[name] = round(best, 3)
                all_reps[name] = samples
            # `all` (r12): per-rep samples in order. For memoized operators
            # (dedup/ExactSubstr index caches) rep 1 is the COLD number
            # (index build included) and rep 2 the warm read — report both
            # slopes; the min alone would hide the build's growth.
            print(json.dumps({"reps": reps, "queries": times,
                              "all": all_reps,
                              "total": round(sum(times.values()), 3)}),
                  flush=True)
        finally:
            shutil.rmtree(td, ignore_errors=True)


if __name__ == "__main__":
    main()
