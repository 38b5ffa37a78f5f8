"""Offline PQ codebook training — regenerates functions/pq_codebook.py.

Product quantization (Jegou et al. 2011, "Product Quantization for
Nearest Neighbor Search"): split the d=64 embedding into M=8 contiguous
8-dim subvectors and train an independent K=16 k-means codebook per
subspace with the SAME distributed Lloyd trainer IVF uses
(operators/kmeans.py::kmeans_train, deterministic first-K init). The
M x K x 8 centroid tensor is pinned as 6dp decimal literals — the same
scheme as IVF_CENTROIDS/LSH_PLANES: rounded literals parse to
bit-identical doubles in PySpark and DuckDB, so the registered
similarity_pq_topk query and its oracle share one exact codebook.

Like IVF, the shipped artifact is trained on the sf0.01 corpus (the
registered oracle is static SQL, so the query may not switch artifacts
per corpus); live per-corpus training remains available through the
operator's codebook parameter.

Usage: python tools/train_pq_codebook.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kafka_flink_processing_spark.operators.kmeans import kmeans_train  # noqa: E402
from kafka_flink_processing_spark.session import get_spark  # noqa: E402
from kafka_flink_processing_spark.sources.parquet import load_table  # noqa: E402

M = 8            # subspaces
K = 16           # centroids per subspace (4-bit codes)
DSUB = 8         # dims per subspace (64 / M)
ITERS = 10
DEFAULT_DIR = "/root/testdata/sf0.01"
OUT = Path(__file__).resolve().parent.parent / \
    "kafka_flink_processing_spark" / "functions" / "pq_codebook.py"


def _matrix_literal(rows: list[list[float]]) -> str:
    return "[\n" + ",\n".join(
        "         [" + ", ".join(repr(v) for v in row) + "]"
        for row in rows) + ",\n        ]"


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--residual"]
    residual = "--residual" in sys.argv[1:]
    sf_dir = args[0] if args else DEFAULT_DIR
    spark = get_spark()
    emb = load_table(spark, "embeddings", sf_dir)
    if residual:
        # train on IVF residuals (x - C_ivf[cell]) — the codebook the
        # residual IVFADC variant scans; same deterministic pipeline,
        # just with the coarse quantizer's mean removed first
        from kafka_flink_processing_spark.functions.ivf_codebook import (
            IVF_CENTROIDS,
        )
        from kafka_flink_processing_spark.operators.similarity import (
            assign_cells,
            residual_expr,
            with_unit_info,
        )
        asg = assign_cells(with_unit_info(emb), IVF_CENTROIDS)
        emb = asg.select(
            "vec_id",
            residual_expr("embedding", IVF_CENTROIDS)
            .alias("embedding"))
    subs: list[list[list[float]]] = []
    for m in range(M):
        sliced = emb.select(
            "vec_id", F.slice("embedding", m * DSUB + 1, DSUB).alias("sub"))
        cents, _ = kmeans_train(sliced, k=K, iters=ITERS, vec_col="sub")
        subs.append([[round(float(v), 6) for v in c] for c in cents])
        print(f"subspace {m}: {cents.shape}")
    body = ",\n".join(f"        {_matrix_literal(rows)}"[4:] for rows in subs)
    name = "PQR_CODEBOOK" if residual else "PQ_CODEBOOK"
    out = (OUT.parent / "pq_residual_codebook.py") if residual else OUT
    kind = ("residual (x - C_ivf[cell]) product-quantization"
            if residual else "Product-quantization")
    out.write_text(
        '"""GENERATED by tools/train_pq_codebook.py'
        f'{" --residual" if residual else ""} — do not edit.\n\n'
        f"{kind} codebook: M={M} subspaces x K={K} "
        f"centroids x {DSUB} dims,\ntrained on {sf_dir} with the "
        f"distributed Lloyd trainer (iters={ITERS},\ndeterministic "
        "first-K init), rounded to 6dp so the decimal literals parse\n"
        "to identical doubles in PySpark and DuckDB.\n"
        '"""\n\n'
        "from __future__ import annotations\n\n"
        f"{'PQR_M' if residual else 'PQ_M'} = {M}\n"
        f"{'PQR_K' if residual else 'PQ_K'} = {K}\n"
        f"{'PQR_DSUB' if residual else 'PQ_DSUB'} = {DSUB}\n\n"
        f"# {name}[m][j] = the j-th centroid of subspace m\n"
        f"{name}: list[list[list[float]]] = [\n    " + body + "\n]\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
