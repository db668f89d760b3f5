"""Trained linking models (linking/train.py): the supervision-fit
analogs of the reference's Step-2 training loop
(phenobert/utils/train.py:85-112) — the A7 training-accuracy
counters."""

import numpy as np

from phenobert_spark.linking.train import (
    LogisticModel,
    fit_logistic_df,
    fit_logistic_numpy,
)


def fit_logistic_spark(spark, X, y, epochs, n_partitions):
    """Train :func:`fit_logistic_df` on a driver array, sharded over
    ``n_partitions``."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "pid": np.arange(len(X), dtype=np.int64),
            "x": list(X.astype(np.float64)),
            "y": y.astype(np.float64),
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(n_partitions, "pid")
    return fit_logistic_df(sdf, n_features=X.shape[1], epochs=epochs)


def _toy_data(n=400, d=6, flip=0.05):
    """Deterministic separable-ish data (no RNG state)."""
    xs = np.array(
        [[((i * 31 + j * 17) % 97) / 97.0 for j in range(d)] for i in range(n)]
    )
    w_true = np.array([2.0, -1.5, 1.0, 0.0, 0.5, -2.0])
    y = (xs @ w_true > 0.0).astype(np.float64)
    # deterministic label noise
    for i in range(n):
        if (i * 7919) % 100 < flip * 100:
            y[i] = 1 - y[i]
    return xs, y


def test_numpy_fit_counters_improve():
    X, y = _toy_data()
    m = fit_logistic_numpy(X, y, epochs=80)
    assert len(m.counters) == 80
    assert m.counters[0]["loss"] > m.counters[-1]["loss"]
    assert m.counters[-1]["acc"] >= 0.85
    # A7 parity: every counter carries epoch/loss/acc/n
    assert set(m.counters[0]) == {"epoch", "loss", "acc", "n"}


def test_spark_fit_matches_numpy(spark):
    """The distributed full-batch gradient must equal the local one:
    same weights (to float64 reduction tolerance), same counters."""
    X, y = _toy_data(n=300)
    local = fit_logistic_numpy(X, y, epochs=25)
    dist = fit_logistic_spark(spark, X, y, epochs=25, n_partitions=8)
    assert np.allclose(local.w, dist.w, atol=1e-9)
    assert abs(local.b - dist.b) < 1e-9
    assert [c["acc"] for c in local.counters] == [
        c["acc"] for c in dist.counters
    ]


def test_fit_deterministic(spark):
    X, y = _toy_data(n=200)
    a = fit_logistic_spark(spark, X, y, epochs=10, n_partitions=5)
    b = fit_logistic_spark(spark, X, y, epochs=10, n_partitions=5)
    assert np.array_equal(a.w, b.w)
    assert a.counters == b.counters


def test_logistic_model_proba_monotone():
    m = LogisticModel(w=np.array([1.0, 2.0]), b=-1.0, counters=[])
    lo = m.proba(np.array([[0.0, 0.0]]))[0]
    hi = m.proba(np.array([[1.0, 1.0]]))[0]
    assert lo < 0.5 < hi
