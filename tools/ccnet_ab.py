"""ccnet persisted-score A/B (r10 verdict task 4): does persisting the
per-doc score relation before the tercile join beat the lazy form's
double score-branch?

The lazy plan recomputes the score branch (bigram explode + LM build +
doc-keyed agg) for the histogram side of the tercile join. Unlike the
DSIR candidate (SCALE.md, measured NEGATIVE), the recompute here is the
WHOLE score pipeline including two corpus bigram passes, so the trade
may flip. Protocol = the DSIR one: interleaved A/B reps at sf0.1 on a
warm session, results hash-compared before timing counts. B measured
POSITIVE (1.58x at 4x corpus, SCALE.md), and the registered
`ccnet_perplexity_buckets` now runs shape B (keeping its cache entry).

  A (lazy):             _ccnet_bucketed(docs, _ccnet_scored_b2(docs))
  B (production shape): b2 = _ccnet_scored_b2(docs).persist();
                        b2.count(); _ccnet_bucketed(docs, b2); unpersist

Usage: python tools/ccnet_ab.py [sf_dir] [n_pairs]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from bench import force  # noqa: E402
from kafka_flink_processing_spark.plans.extensions import (  # noqa: E402
    _ccnet_bucketed,
    _ccnet_scored_b2,
)
from kafka_flink_processing_spark.session import get_spark  # noqa: E402
from kafka_flink_processing_spark.sources.parquet import load_table  # noqa: E402


def result_hash(df) -> int:
    # order-free content hash over the full result: xor-fold of per-row
    # xxhash64 (no overflow under ANSI mode, order-independent)
    return (df.select(F.xxhash64(*df.columns).alias("h"))
            .agg(F.expr("bit_xor(h)").alias("h")).collect()[0]["h"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("ccnet-ab")
    docs = load_table(spark, "documents", sf_dir)

    def run_a() -> float:
        t0 = time.time()
        force(_ccnet_bucketed(docs, _ccnet_scored_b2(docs)))
        return time.time() - t0

    def run_b() -> float:
        t0 = time.time()
        b2 = _ccnet_scored_b2(docs).persist()
        try:
            b2.count()  # materialize the ~24 B/doc score relation once
            force(_ccnet_bucketed(docs, b2))
        finally:
            b2.unpersist()
        return time.time() - t0

    # identity first: both variants must produce the same rows
    ha = result_hash(_ccnet_bucketed(docs, _ccnet_scored_b2(docs)))
    b2 = _ccnet_scored_b2(docs).persist()
    b2.count()
    hb = result_hash(_ccnet_bucketed(docs, b2))
    b2.unpersist()
    print(f"identity: A={ha} B={hb} match={ha == hb}")
    if ha != hb:
        raise SystemExit("A/B variants disagree — timing is meaningless")

    times_a, times_b = [], []
    for i in range(n_pairs):
        times_a.append(run_a())
        times_b.append(run_b())
        print(f"pair {i + 1}: A={times_a[-1]:.3f}s B={times_b[-1]:.3f}s",
              flush=True)
    print(f"A (lazy)              reps={[round(t, 3) for t in times_a]} "
          f"min={min(times_a):.3f}")
    print(f"B (persisted b2)      reps={[round(t, 3) for t in times_b]} "
          f"min={min(times_b):.3f}")


if __name__ == "__main__":
    main()
