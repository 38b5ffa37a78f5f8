"""Offline IVF codebook training — regenerates functions/ivf_codebook.py.

Runs the real k-means trainer (operators/kmeans.py::kmeans_train) over the
sf0.01 embeddings corpus and pins the resulting k x d centroid matrix as
6dp decimal literals, the same scheme as LSH_PLANES: rounded literals parse
to bit-identical doubles in both PySpark and DuckDB, so the registered
similarity_ivf_topk query and its oracle share one exact codebook.

The shipped artifact is trained on the correctness-gate corpus (the
registered oracle is static SQL, so the query may not switch artifacts per
corpus), like tools/train_pq_codebook.py's PQ_CODEBOOK: train offline per
index, ship the codebook with it, never retrain at search time.

Usage: python tools/train_ivf_codebook.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from kafka_flink_processing_spark.operators.kmeans import kmeans_train  # noqa: E402
from kafka_flink_processing_spark.operators.similarity import (  # noqa: E402
    IVF_K,
    IVF_TRAIN_ITERS,
)
from kafka_flink_processing_spark.session import get_spark  # noqa: E402
from kafka_flink_processing_spark.sources.parquet import (  # noqa: E402
    DEFAULT_SF_DIR,
    load_table,
)

# the correctness-gate corpus, beside the default testdata dir
DEFAULT_DIR = str(Path(DEFAULT_SF_DIR).with_name("sf0.01"))
OUT = Path(__file__).resolve().parent.parent / \
    "kafka_flink_processing_spark" / "functions" / "ivf_codebook.py"


def _matrix_literal(rows: list[list[float]]) -> str:
    return "[\n" + ",\n".join(
        "    [" + ",\n     ".join(
            ", ".join(repr(v) for v in row[i:i + 6])
            for i in range(0, len(row), 6)) + "]"
        for row in rows) + ",\n]"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_DIR
    spark = get_spark()
    emb = load_table(spark, "embeddings", sf_dir)
    cents, _ = kmeans_train(emb, k=IVF_K, iters=IVF_TRAIN_ITERS)
    rows = [[round(float(v), 6) for v in c] for c in cents]
    print(f"trained {Path(sf_dir).name}: {cents.shape}")
    OUT.write_text(
        '"""GENERATED by tools/train_ivf_codebook.py — do not edit.\n\n'
        f"IVF coarse-quantizer codebook: k-means (k={IVF_K}, "
        f"iters={IVF_TRAIN_ITERS}, deterministic\nfirst-K init) trained on "
        f"{Path(sf_dir).name}'s embeddings, rounded to 6dp so the\n"
        "decimal literals parse to identical doubles in PySpark and DuckDB;\n"
        "similarity_ivf_topk's DuckDB oracle embeds these literals.\n"
        '"""\n\n'
        "from __future__ import annotations\n\n"
        "# IVF_CENTROIDS[c] = the c-th coarse centroid\n"
        "IVF_CENTROIDS: list[list[float]] = "
        f"{_matrix_literal(rows)}\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
