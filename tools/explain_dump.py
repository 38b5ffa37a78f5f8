"""Dump `.explain("formatted")` for headline (or named) queries into a
directory — the before/after plan evidence for optimization rounds.

Usage:
    python tools/explain_dump.py plans/r12 _before [query ...]

Writes <outdir>/<query><suffix>.txt for each bench-flagged query (or the
explicitly named ones). Plans are the pre-execution formatted plans at
$SPARK_GRAFT_SF_DIR (default sf0.1) — exchange structure, join strategy,
pushdown and Python-eval nodes; AQE finalization happens at run time and
is SF/runtime-dependent, so the static plan is the comparable artifact.

Expression ids (`#123`), the per-process lambda-variable suffixes
(`x_121`) and exchange plan ids (`plan_id=41`, a process-global counter,
so they depend on what was planned before) are normalized to `#N` /
`x_N` / `plan_id=N` (see `normalize`), so dumps made from two trees, or
two runs of one tree, diff cleanly.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kafka_flink_processing_spark.plans.registry import QUERIES, _ensure_loaded
from kafka_flink_processing_spark.session import get_spark

_EXPR_ID = re.compile(r"#\d+")
# lambda variables carry a process-global counter suffix
# (UnresolvedNamedLambdaVariable.freshVarName), and every reference to
# one prints as `lambda x_121`
_LAMBDA_VAR = re.compile(r"\b(lambda \w+?)_\d+\b")
_PLAN_ID = re.compile(r"\bplan_id=\d+")


def normalize(plan: str) -> str:
    """The plan text with expression ids, lambda-variable suffixes and
    exchange plan ids replaced by fixed tokens."""
    plan = _PLAN_ID.sub("plan_id=N", _LAMBDA_VAR.sub(r"\1_N", plan))
    return _EXPR_ID.sub("#N", plan)


def main() -> None:
    outdir = Path(sys.argv[1] if len(sys.argv) > 1 else "plans/r12")
    suffix = sys.argv[2] if len(sys.argv) > 2 else "_before"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("explain_dump")
    _ensure_loaded()
    outdir.mkdir(parents=True, exist_ok=True)
    targets = names or [n for n, s in QUERIES.items() if s.bench]
    for name in targets:
        df = QUERIES[name].spark(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        (outdir / f"{name}{suffix}.txt").write_text(normalize(plan))
        print(f"wrote {outdir / (name + suffix + '.txt')}")


if __name__ == "__main__":
    main()
