"""Seeded workload inputs and the independent reference answers the
benchmark checks the program's outputs against.

Nothing here calls the engine's operators: the references are plain
Python / NumPy restatements of the documented semantics, so a defect in
the engine cannot hide in its own oracle.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter, defaultdict

import numpy as np


class _Rows:
    """Stands in for the SparkSession ``synthesize_corpus`` hands its
    rows to, so the generator's output stays in Python (no Spark job)."""

    @staticmethod
    def createDataFrame(rows, schema):  # noqa: N802 - SparkSession's name
        return rows


def dense_corpus(onto, n_docs: int, seed: int):
    """``corpus.synthesize_corpus`` clinical notes (negation and
    conjunction forms; every 10th note x20 long) as Python rows
    ``(repo, path, commit, lang, content)`` plus the generator's gold
    mentions ``[(doc_id, hpo_id)]`` (negated mentions are not gold)."""
    from phenobert_spark.corpus import synthesize_corpus

    docs, gold = synthesize_corpus(_Rows, onto, n_docs=n_docs, seed=seed)
    return docs, [(g[0], g[4]) for g in gold]


def doc_id_of(content: str) -> str:
    return hashlib.sha256(content.encode("utf-8")).hexdigest()


def delta_snapshot(rows, spare, seed: int, edit_frac: float = 0.002, n_add: int = 2, n_remove: int = 2):
    """Day-N+1 snapshot of ``rows``: ``edit_frac`` of the notes get new
    content (taken from ``spare``, so their gold is known), ``n_add``
    spare notes are added and ``n_remove`` notes are removed; the seed
    picks which. Returns (snapshot rows, number of changed documents)."""
    rng = random.Random(seed * 7919 + 1)
    n_edit = max(1, round(len(rows) * edit_frac))
    picked = rng.sample(range(len(rows)), n_edit + n_remove)
    edited, removed = picked[:n_edit], set(picked[n_edit:])
    new_content = dict(zip(edited, (r[4] for r in spare[:n_edit])))
    snap = [
        (r[0], r[1], r[2], r[3], new_content.get(i, r[4]))
        for i, r in enumerate(rows)
        if i not in removed
    ]
    snap += [(r[0], "new/" + r[1], r[2], r[3], r[4]) for r in spare[n_edit : n_edit + n_add]]
    return snap, n_edit + n_add + n_remove


def content_fingerprint(contents) -> tuple[int, int]:
    """(row count, XOR of the 15-hex-digit sha256 prefixes): what the
    manifest's per-bucket ``n_docs`` / ``doc_xor`` must XOR-fold to."""
    x = 0
    for c in contents:
        x ^= int(doc_id_of(c)[:15], 16)
    return len(contents), x


def micro_pr(pred: set, gold: set) -> tuple[float, float]:
    """Micro precision/recall over (doc_id, hpo_id) pairs; an empty
    prediction (or gold) set scores 1.0, as nothing asserted is wrong
    (or missed)."""
    tp = len(pred & gold)
    return (tp / len(pred) if pred else 1.0, tp / len(gold) if gold else 1.0)


def pagerank_reference(src, dst, damping: float = 0.85, iters: int = 5) -> dict:
    """Power iteration of ``operators.kg_metrics.pagerank``'s documented
    formula over the edge multiset: rank_{i+1}(v) = (1-d)/N +
    d * sum over edges (u, v) of rank_i(u)/out_deg(u), uniform start,
    dangling mass dropped."""
    nodes = sorted(set(src) | set(dst))
    idx = {v: i for i, v in enumerate(nodes)}
    s = np.fromiter((idx[u] for u in src), dtype=np.int64, count=len(src))
    t = np.fromiter((idx[v] for v in dst), dtype=np.int64, count=len(dst))
    n = len(nodes)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        rank = (1.0 - damping) / n + damping * np.bincount(
            t, weights=rank[s] / out_deg[s], minlength=n
        )
    return dict(zip(nodes, rank.tolist()))


def lpa_reference(src, dst, iters: int = 3) -> dict:
    """Synchronous label propagation over the undirected, de-duplicated,
    self-loop-free graph: each node takes its neighbours' most frequent
    label, ties to the smallest label."""
    nbrs: dict[str, set[str]] = defaultdict(set)
    for a, b in zip(src, dst):
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    labels = {v: v for v in nbrs}
    for _ in range(iters):
        new = {}
        for v, ns in nbrs.items():
            votes = Counter(labels[u] for u in ns)
            top = max(votes.values())
            new[v] = min(lbl for lbl, c in votes.items() if c == top)
        labels = new
    return labels
