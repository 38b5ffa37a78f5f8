"""Distributed Lloyd's k-means over an embedding column.

This is the offline training step that produces the IVF coarse-quantizer
codebook (tools/train_ivf_codebook.py pins its output for
operators/similarity.py's IVF operators). Reference has no counterpart —
engine extension for the training-data-pipeline north star.

Iteration shape (what survives a 100 TB corpus):
- centroids live on the driver (k x d doubles — bytes), shipped into the
  assignment UDF as an Arrow-batched closure; NO shuffle of the vectors to
  assign them.
- the centroid update is one map-side-combined groupBy on `cell`:
  per-partition partial (sum-vector, count) pairs reduce to k rows. Per
  iteration the job is scan -> map -> k-row aggregate; vectors are never
  re-partitioned.
- assignment distances run in numpy over Arrow batches (pandas UDF), not
  per-row Python and not interpreted higher-order array lambdas (see
  functions/text.py::word_grams for the measurement that motivates this).

Determinism: init = the k lowest-id vectors (no RNG); ties in argmin break
toward the lowest cell id (numpy argmin semantics). Centroid means are
float64 sums whose addition order varies with partitioning, so downstream
values are deterministic only to ~1e-12 — the registered query is rows-only
gated and the numpy-parity test uses tolerances accordingly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _assign_udf(cents: np.ndarray):
    """pandas UDF: embedding -> struct(cell int, sqdist double)."""

    @F.pandas_udf("cell int, sqdist double")
    def f(s: pd.Series) -> pd.DataFrame:
        x = np.asarray(s.tolist(), dtype=np.float64)  # (batch, d)
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over c
        d2 = (
            (x * x).sum(axis=1, keepdims=True)
            - 2.0 * (x @ cents.T)
            + (cents * cents).sum(axis=1)
        )
        cell = d2.argmin(axis=1)
        return pd.DataFrame(
            {"cell": cell.astype(np.int32),
             "sqdist": d2[np.arange(len(cell)), cell]})

    return f


def kmeans_train(emb: DataFrame, k: int = 8, iters: int = 5,
                 vec_col: str = "embedding") -> tuple[np.ndarray, DataFrame]:
    """Run `iters` Lloyd iterations over the `vec_col` vectors of
    (vec_id, vec_col) rows; return (centroids, assignments).

    assignments = DataFrame(vec_id, cell, sqdist) for the final centroids.
    """
    vecs = emb.select(F.col("vec_id"), F.col(vec_col).alias("v"))
    init = (emb.orderBy("vec_id").limit(k)
            .select(vec_col).toPandas()[vec_col].tolist())
    if not init:
        raise ValueError("kmeans_train: embeddings input is empty")
    # k may exceed the corpus: clamp rather than index out of bounds later
    cents = np.asarray(init, dtype=np.float64)
    d = cents.shape[1]
    for _ in range(iters):
        asg = vecs.select(
            F.col("vec_id"), F.col("v"),
            _assign_udf(cents)(F.col("v")).alias("a"))
        # map-side-combined partial sums: k rows cross the wire per partition
        agg = (asg.groupBy(F.col("a.cell").alias("cell"))
               .agg(F.count("*").alias("n"),
                    *[F.sum(F.element_at("v", i + 1).cast("double"))
                      .alias(f"s{i}") for i in range(d)])
               .collect())
        new = cents.copy()  # empty cells keep their previous centroid
        for row in agg:
            new[row["cell"]] = [row[f"s{i}"] / row["n"] for i in range(d)]
        cents = new
    final = vecs.select(
        F.col("vec_id"), _assign_udf(cents)(F.col("v")).alias("a")) \
        .select("vec_id", F.col("a.cell").alias("cell"),
                F.col("a.sqdist").alias("sqdist"))
    return cents, final


def kmeans_summary(emb: DataFrame, k: int = 8, iters: int = 5) -> DataFrame:
    """Per-cluster training summary: (cell, n_points, inertia,
    centroid_norm) — the k-row codebook health view. Every trained cell
    appears, empty ones with n_points=0 (left join from the codebook side;
    an inner join would silently drop them)."""
    cents, asg = kmeans_train(emb, k=k, iters=iters)
    # iterate the trained matrix, not range(k): kmeans_train clamps k to
    # the corpus size, so cents may have fewer than k rows
    norms = {c: float(np.sqrt((cents[c] * cents[c]).sum()))
             for c in range(cents.shape[0])}
    spark = emb.sparkSession
    ndf = spark.createDataFrame(
        [(c, norms[c]) for c in sorted(norms)], "cell int, centroid_norm double")
    return (F.broadcast(ndf)
            .join(asg.groupBy("cell")
                     .agg(F.count("*").alias("n_points"),
                          F.sum("sqdist").alias("inertia")),
                  "cell", "left")
            .select("cell",
                    F.coalesce("n_points", F.lit(0)).alias("n_points"),
                    F.coalesce("inertia", F.lit(0.0)).alias("inertia"),
                    "centroid_norm")
            .orderBy("cell"))
