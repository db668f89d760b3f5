"""Trained linking models from the SHIPPED supervision (SURVEY.md §7.1).

The reference trains its Step-2 CNNs on
``phenobert/models/train_source/train_{0..24}.txt`` — 62,449 distinct
``(surface, concept-or-None)`` pairs, where the 30,717 ``None`` rows
are surfaces of concepts from OTHER L1 subtrees used as routing
negatives (reference loop: ``phenobert/utils/train.py:85-112``, models
``model.py:359-432``).  Those weights are missing blobs; this module
fits SMALL, SEEDED, DETERMINISTIC replacements on the same files:

* :func:`mine_match_examples` — turns the supervision into a surface-
  pair MATCH task: positives are same-concept surface pairs, negatives
  are token-sharing cross-concept pairs (deterministic hash sampling).
* :class:`AlignFeaturizer` — the feature space of the M4 re-ranker:
  IDF-weighted bidirectional alignment statistics between two token
  bags (IDF fit on the 48.6k-surface corpus; token similarity = exact
  /lemma/stem = 1, mined-substitution bridge, else char-ngram cosine).
* :func:`fit_logistic_spark` — full-batch logistic regression where
  the per-epoch gradient is aggregated BY SPARK (mapInPandas partial
  gradients over a persisted feature DataFrame, driver-side sum) and
  per-epoch loss/accuracy counters are returned — the A7 analog of the
  reference's training accuracy counters (train.py:85-112).  At the
  sandbox's 62k examples the driver could fit alone; the Spark path is
  the 100-TB shape (supervision sharded across executors, one small
  (dim+1) partial per partition crossing the wire per epoch).
* :class:`TrainedMatcher` — the fitted M4: probability that a
  candidate phrase and a concept surface name the same concept.
* :func:`fit_l1_router` — 25-way one-vs-rest logistic on hashed
  phrase features (M2 analog), trained on the per-file positives vs
  their ``None`` negatives.

Everything is deterministic: hash-based example sampling (no RNG
state), zero-init weights, fixed epoch counts, float64 gradients over
a FIXED partitioning (partial sums reduced in partition order).
"""

from __future__ import annotations

import glob
import math
import os
from collections import defaultdict
from dataclasses import dataclass
from typing import Iterator, Sequence
from zlib import crc32

import numpy as np

from ..config import REFERENCE_ROOT
from ..functions.normalize import lemma, process_str, simplify_tokens, stem
from ..ontology import Ontology
from .models import HashedEncoder

TRAIN_GLOB = "phenobert/models/train_source/train_*.txt"


def load_training_pairs(
    root: str = REFERENCE_ROOT,
) -> list[tuple[str, str, int]]:
    """All (surface, label, l1_file_idx) rows from the shipped per-L1
    training files; label is an HPO id or 'None' (cross-subtree
    negative). Data files only — no reference code involved."""
    rows: list[tuple[str, str, int]] = []
    for path in sorted(glob.glob(os.path.join(root, TRAIN_GLOB))):
        idx = int(os.path.basename(path).split("_")[1].split(".")[0])
        with open(path, encoding="utf-8") as f:
            for line in f:
                parts = line.rstrip("\n").split("\t")
                if len(parts) == 2 and parts[0]:
                    rows.append((parts[0], parts[1], idx))
    return rows


def _simple(surface: str) -> tuple[str, ...]:
    toks = simplify_tokens(process_str(surface)) or process_str(surface)
    return tuple(toks)


def _pick(key: str, mod: int) -> int:
    """Deterministic pseudo-random selector (no RNG state)."""
    return crc32(key.encode("utf-8")) % mod


class AlignFeaturizer:
    """Alignment features between two token bags.

    Feature vector (all in [0, 1], order matters — weights are fit):
      0  idf-weighted coverage of side A by side B
      1  idf-weighted coverage of side B by side A
      2  min of (0, 1)                      — the old pair_score core
      3  fraction of A tokens exactly/lemma matched
      4  fraction of B tokens exactly/lemma matched
      5  mean best-match similarity (both sides pooled)
      6  length ratio min(|A|,|B|)/max(|A|,|B|)
      7  max IDF (normalized) of an UNMATCHED (<0.8 sim) A token
      8  max IDF (normalized) of an UNMATCHED (<0.8 sim) B token
    """

    N_FEATURES = 9

    def __init__(self, onto: Ontology, dim: int = 512):
        self.enc = HashedEncoder(dim)
        df: dict[str, int] = defaultdict(int)
        n = 0
        for cid in sorted(onto.names):
            for s in onto.all_surfaces(cid):
                toks = _simple(s)
                if not toks:
                    continue
                n += 1
                for t in {lemma(t) for t in toks}:
                    df[t] += 1
        self.idf = {t: math.log((1 + n) / (1 + c)) for t, c in df.items()}
        self.max_idf = math.log(1.0 + n)
        # substitution bridges: mined 1<->1 token pairs count as exact
        subs = set()
        for a, b in onto.mined_substitutions(10):
            if len(a) == 1 and len(b) == 1:
                subs.add((next(iter(a)), next(iter(b))))
        self.subs = frozenset(subs)

    def _idf(self, t: str) -> float:
        return self.idf.get(t, self.max_idf)

    def sim_matrix(self, a: Sequence[str], b: Sequence[str]) -> np.ndarray:
        """(|a|, |b|) token similarity: exact/lemma/stem/substitution
        match = 1, else char-ngram cosine clipped to [0, 1]."""
        la = [lemma(t) for t in a]
        lb = [lemma(t) for t in b]
        va = np.vstack([self.enc._token_vec(t) for t in la])
        vb = np.vstack([self.enc._token_vec(t) for t in lb])
        sims = np.clip(va @ vb.T, 0.0, 1.0)
        sa = [stem(t) for t in la]
        sb = [stem(t) for t in lb]
        for i, (ta, ssa) in enumerate(zip(la, sa)):
            for j, (tb, ssb) in enumerate(zip(lb, sb)):
                if (
                    ta == tb
                    or ssa == ssb
                    or (ta, tb) in self.subs
                    or (tb, ta) in self.subs
                ):
                    sims[i, j] = 1.0
        return sims

    def features_from_sims(
        self,
        sims: np.ndarray,
        idf_a: np.ndarray,
        idf_b: np.ndarray,
    ) -> np.ndarray:
        best_a = sims.max(axis=1)  # per A token
        best_b = sims.max(axis=0)
        wa = idf_a.sum() or 1.0
        wb = idf_b.sum() or 1.0
        cov_a = float((best_a * idf_a).sum() / wa)
        cov_b = float((best_b * idf_b).sum() / wb)
        exact_a = float((best_a >= 1.0).mean())
        exact_b = float((best_b >= 1.0).mean())
        mean_sim = float((best_a.sum() + best_b.sum()) / (len(best_a) + len(best_b)))
        na, nb = sims.shape
        len_ratio = min(na, nb) / max(na, nb)
        un_a = idf_a[best_a < 0.8]
        un_b = idf_b[best_b < 0.8]
        f7 = float(un_a.max() / self.max_idf) if un_a.size else 0.0
        f8 = float(un_b.max() / self.max_idf) if un_b.size else 0.0
        return np.array(
            [cov_a, cov_b, min(cov_a, cov_b), exact_a, exact_b,
             mean_sim, len_ratio, f7, f8],
            dtype=np.float64,
        )

    def features(self, a: Sequence[str], b: Sequence[str]) -> np.ndarray:
        if not a or not b:
            return np.zeros(self.N_FEATURES)
        sims = self.sim_matrix(a, b)
        idf_a = np.array([self._idf(lemma(t)) for t in a])
        idf_b = np.array([self._idf(lemma(t)) for t in b])
        return self.features_from_sims(sims, idf_a, idf_b)


def mine_match_examples(
    onto: Ontology,
    max_pos_per_concept: int = 6,
    max_neg_per_surface: int = 4,
) -> list[tuple[tuple[str, ...], tuple[str, ...], int]]:
    """(tokens_a, tokens_b, y) surface-pair examples.

    Positives: pairs of distinct simplified surfaces of the SAME
    concept (the signal the reference's CNN absorbs from seeing both
    map to one id). Negatives: pairs of surfaces of DIFFERENT concepts
    sharing >= 1 token — the hard boundary the M4 threshold must
    learn. Sampling is crc32-hash based: same inputs, same examples.
    """
    concept_surfaces: dict[str, list[tuple[str, ...]]] = {}
    for cid in sorted(onto.names):
        seen: set[tuple[str, ...]] = set()
        rows = []
        for s in onto.all_surfaces(cid):
            toks = _simple(s)
            if toks and toks not in seen:
                seen.add(toks)
                rows.append(toks)
        if rows:
            concept_surfaces[cid] = rows

    examples: list[tuple[tuple[str, ...], tuple[str, ...], int]] = []
    # positives
    for cid, rows in concept_surfaces.items():
        pairs = [
            (rows[i], rows[j])
            for i in range(len(rows))
            for j in range(i + 1, len(rows))
        ]
        if len(pairs) > max_pos_per_concept:
            pairs = sorted(
                pairs,
                key=lambda p: _pick(cid + "|".join(p[0]) + "|".join(p[1]), 1 << 30),
            )[:max_pos_per_concept]
        examples.extend((a, b, 1) for a, b in pairs)

    # hard negatives via token -> concepts inverted index
    tok2c: dict[str, list[str]] = defaultdict(list)
    for cid, rows in concept_surfaces.items():
        toks = {lemma(t) for r in rows for t in r}
        for t in toks:
            tok2c[t].append(cid)
    bag_sets = {
        cid: {frozenset(lemma(t) for t in r) for r in rows}
        for cid, rows in concept_surfaces.items()
    }
    for cid, rows in concept_surfaces.items():
        for r in rows:
            cands: list[str] = []
            for t in {lemma(t) for t in r}:
                owners = tok2c.get(t, [])
                if len(owners) <= 50:  # skip stop-ish tokens
                    cands.extend(o for o in owners if o != cid)
            if not cands:
                continue
            cands = sorted(set(cands), key=lambda o: _pick("|".join(r) + o, 1 << 30))
            picked = 0
            rbag = frozenset(lemma(t) for t in r)
            for other in cands:
                if picked >= max_neg_per_surface:
                    break
                orows = concept_surfaces[other]
                orow = orows[_pick("|".join(r) + other, len(orows))]
                # identical bags are ambiguous keys, not negatives
                if frozenset(lemma(t) for t in orow) == rbag or rbag in bag_sets[other]:
                    continue
                examples.append((r, orow, 0))
                picked += 1
    return examples


# ---------------------------------------------------------------------------
# Spark-native full-batch logistic fit with A7-style counters
# ---------------------------------------------------------------------------


@dataclass
class LogisticModel:
    w: np.ndarray  # (n_features,)
    b: float
    counters: list[dict]  # per-epoch {epoch, loss, acc, n} — A7 parity

    def proba(self, X: np.ndarray) -> np.ndarray:
        z = X @ self.w + self.b
        return 1.0 / (1.0 + np.exp(-z))


def fit_logistic_spark(
    spark,
    X: np.ndarray,
    y: np.ndarray,
    epochs: int = 60,
    lr: float = 2.0,
    l2: float = 1e-4,
    n_partitions: int = 16,
) -> LogisticModel:
    """Driver-array front end of :func:`fit_logistic_df` (builds the
    feature DataFrame from numpy, then trains distributed)."""
    import pandas as pd

    n, _ = X.shape
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "x": list(X.astype(np.float64)),
            "y": y.astype(np.float64),
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(n_partitions, "pid")
    return fit_logistic_df(
        sdf, n_features=X.shape[1], epochs=epochs, lr=lr, l2=l2
    )


def fit_logistic_df(
    sdf,
    n_features: int,
    feature_col: str = "x",
    label_col: str = "y",
    epochs: int = 60,
    lr: float = 2.0,
    l2: float = 1e-4,
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
    the wire."""
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
        F.col(feature_col).cast("array<double>").alias("x"),
        F.col(label_col).cast("double").alias("y"),
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
        grad_w = total[:d] / n_rows + l2 * w
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
    lr: float = 2.0,
    l2: float = 1e-4,
) -> LogisticModel:
    """Driver-only twin of :func:`fit_logistic_spark` (same math, same
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
        w = w - lr * (X.T @ err / n + l2 * w)
        b = b - lr * float(err.mean())
    return LogisticModel(w=w, b=b, counters=counters)


# ---------------------------------------------------------------------------
# The fitted M4 matcher
# ---------------------------------------------------------------------------


@dataclass
class TrainedMatcher:
    """M4 re-ranker: P(phrase and surface name the same concept)."""

    featurizer: AlignFeaturizer
    model: LogisticModel

    def score(self, phrase_tokens: Sequence[str], surface_tokens: Sequence[str]) -> float:
        f = self.featurizer.features(phrase_tokens, surface_tokens)
        return float(self.model.proba(f[None, :])[0])

    def score_surfaces(
        self,
        phrase_tokens: Sequence[str],
        surfaces: Sequence[Sequence[str]],
    ) -> float:
        """Best probability over a concept's surfaces."""
        best = 0.0
        for s in surfaces:
            p = self.score(phrase_tokens, s)
            if p > best:
                best = p
        return best


# ---------------------------------------------------------------------------
# Trained L1 router (M2)
# ---------------------------------------------------------------------------


@dataclass
class TrainedRouter:
    """25-way one-vs-rest logistic over hashed phrase features."""

    l1_ids: list[str]
    W: np.ndarray  # (n_l1, dim)
    B: np.ndarray  # (n_l1,)
    counters: list[dict]

    def proba(self, vecs: np.ndarray) -> np.ndarray:
        """(B, dim) L2-normalized phrase vectors -> (B, n_l1)."""
        return 1.0 / (1.0 + np.exp(-(vecs @ self.W.T + self.B[None, :])))


def fit_l1_router(
    onto: Ontology,
    root: str = REFERENCE_ROOT,
    dim: int = 512,
    epochs: int = 40,
    lr: float = 2.0,
    l2: float = 1e-5,
) -> TrainedRouter:
    """Fit the M2 router on the shipped per-L1 files: file k's non-None
    rows are positives for L1 k, its None rows negatives (exactly the
    reference's routing supervision). One shared feature pass; 25
    independent logistic fits with per-epoch counters."""
    pairs = load_training_pairs(root)
    l1_ids = sorted(onto.layer1)
    enc = HashedEncoder(dim)
    surfaces = sorted({s for s, _, _ in pairs})
    spos = {s: i for i, s in enumerate(surfaces)}
    V = enc.encode([" ".join(_simple(s)) for s in surfaces])
    labels: dict[int, set[int]] = defaultdict(set)  # surface row -> l1 idxs
    seen_in: dict[int, set[int]] = defaultdict(set)  # surface row -> files
    for s, label, fidx in pairs:
        r = spos[s]
        seen_in[r].add(fidx)
        if label != "None":
            labels[r].add(fidx)
    W = np.zeros((len(l1_ids), dim))
    B = np.zeros(len(l1_ids))
    counters: list[dict] = []
    for k in range(len(l1_ids)):
        rows = [r for r in range(len(surfaces)) if k in seen_in[r]]
        if not rows:
            continue
        Xk = V[rows].astype(np.float64)
        yk = np.array([1.0 if k in labels[r] else 0.0 for r in rows])
        m = fit_logistic_numpy(Xk, yk, epochs=epochs, lr=lr, l2=l2)
        W[k] = m.w
        B[k] = m.b
        last = m.counters[-1]
        counters.append({"l1": l1_ids[k], **last})
    return TrainedRouter(l1_ids=l1_ids, W=W, B=B, counters=counters)
