"""Spark-native logistic fit with A7-style training counters
(SURVEY.md §7.1).

The reference trains its Step-2 CNNs on the shipped per-L1 supervision
with per-epoch accuracy counters (``phenobert/utils/train.py:85-112``,
models ``model.py:359-432``). Those weights are missing blobs and no
trained stage is wired into ``model_link`` (it scores with
``ConceptIndex`` + ``pair_score_idf``); what stays is the training
primitive the registry runs (q96):

* :func:`fit_logistic_df` — full-batch logistic regression where the
  per-epoch gradient is aggregated BY SPARK (mapInPandas partial
  gradients over a persisted feature DataFrame, driver-side sum) and
  per-epoch loss/accuracy counters are returned — the A7 analog of the
  reference's training accuracy counters. The Spark path is the
  100-TB shape (supervision sharded across executors, one small
  (dim+1) partial per partition crossing the wire per epoch).
* :func:`fit_logistic_numpy` — the driver-only twin (same math).

Everything is deterministic: zero-init weights, fixed epoch counts,
float64 gradients reduced in a content-sorted order.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np

L2 = 1e-4  # weight-decay coefficient of both fits


@dataclass
class LogisticModel:
    w: np.ndarray  # (n_features,)
    b: float
    counters: list[dict]  # per-epoch {epoch, loss, acc, n} — A7 parity

    def proba(self, X: np.ndarray) -> np.ndarray:
        z = X @ self.w + self.b
        return 1.0 / (1.0 + np.exp(-z))


def fit_logistic_df(
    sdf,
    n_features: int,
    epochs: int = 60,
    lr: float = 2.0,
) -> LogisticModel:
    """Deterministic full-batch logistic regression over a DataFrame
    of (array<double> features, double label); the gradient of each
    epoch is computed DISTRIBUTED (one mapInPandas pass emitting a
    (dim+2)-vector partial per partition: [grad_w, grad_b, loss] plus a
    correct-prediction counter) and reduced on the driver in a
    content-sorted order (independent of partition layout). Per-epoch
    counters mirror the reference's training accuracy accounting
    (phenobert/utils/train.py:85-112).

    The feature DataFrame is persisted ONCE; each epoch broadcasts the
    (dim+1) weight vector and aggregates the partials — at 10^12-row
    supervision nothing but weights and per-partition partials crosses
    the wire. The weights carry an L2 penalty of ``L2``."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    spark = sdf.sparkSession
    d = n_features
    sdf = sdf.select(
        F.col("x").cast("array<double>").alias("x"),
        F.col("y").cast("double").alias("y"),
    ).persist()
    sdf.count()  # materialize

    out_schema = StructType(
        [
            StructField("partial", ArrayType(DoubleType()), False),
            StructField("n_correct", LongType(), False),
            StructField("n_rows", LongType(), False),
        ]
    )

    w = np.zeros(d, dtype=np.float64)
    b = 0.0
    counters: list[dict] = []
    sc = spark.sparkContext
    for epoch in range(epochs):
        bw = sc.broadcast((w, b))

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ww, bb = bw.value
            g = np.zeros(len(ww) + 2, dtype=np.float64)
            correct = 0
            rows = 0
            for pdf_ in batches:
                if not len(pdf_):
                    continue
                Xb = np.vstack(pdf_["x"].to_numpy())
                yb = pdf_["y"].to_numpy(np.float64)
                z = Xb @ ww + bb
                p = 1.0 / (1.0 + np.exp(-z))
                err = p - yb
                g[: len(ww)] += Xb.T @ err
                g[len(ww)] += err.sum()
                eps = 1e-12
                g[len(ww) + 1] += -(
                    yb * np.log(p + eps) + (1 - yb) * np.log(1 - p + eps)
                ).sum()
                correct += int(((p >= 0.5) == (yb >= 0.5)).sum())
                rows += len(yb)
            yield pd.DataFrame(
                {"partial": [g], "n_correct": [correct], "n_rows": [rows]}
            )

        parts = sdf.mapInPandas(partials, out_schema).collect()
        total = np.zeros(d + 2, dtype=np.float64)
        n_correct = 0
        n_rows = 0
        for r in sorted(parts, key=lambda r: (r.n_rows, r.n_correct, tuple(r.partial))):
            total += np.asarray(r.partial)
            n_correct += r.n_correct
            n_rows += r.n_rows
        bw.destroy()
        grad_w = total[:d] / n_rows + L2 * w
        grad_b = total[d] / n_rows
        loss = total[d + 1] / n_rows
        counters.append(
            {
                "epoch": epoch,
                "loss": round(float(loss), 6),
                "acc": round(n_correct / n_rows, 6),
                "n": n_rows,
            }
        )
        w = w - lr * grad_w
        b = b - lr * grad_b
    sdf.unpersist()
    return LogisticModel(w=w, b=b, counters=counters)


def fit_logistic_numpy(
    X: np.ndarray,
    y: np.ndarray,
    epochs: int = 60,
) -> LogisticModel:
    """Driver-only twin of :func:`fit_logistic_df` (same math, same
    epochs, same init) — used by tests to pin that the distributed
    gradient equals the local one, and by callers with no session."""
    n, d = X.shape
    w = np.zeros(d, dtype=np.float64)
    b = 0.0
    counters = []
    for epoch in range(epochs):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        err = p - y
        eps = 1e-12
        loss = float(
            -(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).mean()
        )
        acc = float(((p >= 0.5) == (y >= 0.5)).mean())
        counters.append(
            {"epoch": epoch, "loss": round(loss, 6), "acc": round(acc, 6), "n": n}
        )
        w = w - 2.0 * (X.T @ err / n + L2 * w)
        b = b - 2.0 * float(err.mean())
    return LogisticModel(w=w, b=b, counters=counters)
