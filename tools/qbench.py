"""Per-query micro-bench for optimization work: times named queries with
the SAME methodology as bench.py (warm session, noop sink, best-of-N with
reps separated by a full pass over the named set) plus the two JVM control
queries so every measurement carries its own box adjudication.

Usage:
    python tools/qbench.py [-n REPS] query [query ...]

Prints one JSON line: {"queries": {name: min_sec}, "all": {name: [sec,...]},
"control_ratios": {...}}. NOT the official bench — bench.py remains the
driver contract; this exists so a change can be measured in ~a minute
instead of a ~15-minute full bench run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import CONTROL_FLOORS, force
from kafka_flink_processing_spark.plans.registry import QUERIES, _ensure_loaded
from kafka_flink_processing_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("qbench")
    _ensure_loaded()

    # same warm-up as bench.py: file listings + all three Python worker pools
    force(QUERIES["latest_per_key"].spark(spark, sf_dir))
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    warm = spark.range(0, 32 * 1024, 1, 32)
    force(warm.select(_noop("id")))
    force(warm.groupBy((F.col("id") % 32).alias("g"))
              .applyInPandas(lambda pdf: pdf, schema="id long"))
    force(warm.mapInPandas(lambda it: it, schema="id long"))

    targets = list(dict.fromkeys(names + [q for q in CONTROL_FLOORS
                                          if q not in names]))
    all_times: dict[str, list[float]] = {n: [] for n in targets}
    for _ in range(reps):
        for name in targets:
            spark.sparkContext.setJobDescription(f"qbench: {name}")
            t0 = time.time()
            force(QUERIES[name].spark(spark, sf_dir))
            all_times[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    best = {n: min(ts) for n, ts in all_times.items()}
    print(json.dumps({
        "queries": {n: best[n] for n in names},
        "all": all_times,
        "control_ratios": {q: round(best[q] / f, 3)
                           for q, f in CONTROL_FLOORS.items()},
    }))


if __name__ == "__main__":
    main()
