"""Lexical retrieval scoring over the corpus: BM25 and rank fusion.

The engine's search surface so far is structural (inverted-index
boolean queries, q23/q26) and dense (cosine / IVF / int8 top-k,
q19/q37/q111). BM25 adds the standard lexical RANKED retrieval the
serving layer of a corpus this size actually exposes, and reciprocal-
rank fusion (RRF, Cormack et al. 2009) is the standard way to combine
lexical and dense rankings without score calibration.

Scale shape: corpus statistics (df per query token, average doc
length) are query-token-sized aggregates broadcast back onto ONE
narrow pass over the corpus — per-doc scores are pure column
expressions (no UDF, no shuffle of the corpus). Top-k is the W1
pattern. Everything is re-derivable in plain SQL; q130/q131
value-check scores and fused ranks in DuckDB.

Determinism note (the recurring cross-engine float discipline, cf.
operators/sketches.py): per-token idf is computed ONCE from exact
integer (df, N) and the per-doc score is a FIXED-ORDER sum of the
per-token terms — never a SUM aggregate whose reduction order the
engine may choose — so both engines evaluate the identical IEEE
expression tree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import whitespace_tokens

K1, B = 1.2, 0.75  # BM25 term-saturation and length-normalization weights


def bm25_scores(
    docs: DataFrame,
    query_tokens: list[str],
) -> DataFrame:
    """Per-document BM25 score for a fixed token query:

        score(d) = sum_t idf(t) * tf * (K1 + 1)
                   / (tf + K1 * (1 - B + B * len_d / avg_len))
        idf(t)   = ln((N - df + 0.5) / (df + 0.5) + 1)    (Lucene form)

    Returns (id, score, plus one tf_<i> column per query token for
    auditability). One corpus pass computes token counts; df/avg_len
    ride along as a broadcast 1-row aggregate; the score itself is a
    fixed-order expression over the per-token terms (see module
    docstring) — deterministic in any engine.
    """
    if not query_tokens:
        raise ValueError("query_tokens must be non-empty")
    toks = whitespace_tokens(F.col("text"))

    def _tf(token: str) -> Column:
        # NB: a 2-arg lambda here would be interpreted by Spark's
        # higher-order filter() as (element, index) — close over the
        # token instead of passing it as a default argument.
        return F.size(F.filter(toks, lambda x: x == F.lit(token)))

    tf_cols = [
        _tf(t).cast("double").alias(f"tf_{i}")
        for i, t in enumerate(query_tokens)
    ]
    base = docs.select(
        F.col("doc_id").alias("id"),
        F.size(toks).cast("double").alias("_len"),
        *tf_cols,
    )
    stats = base.agg(
        F.count("*").cast("double").alias("_n"),
        (F.sum("_len") / F.count("*")).alias("_avg_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint"))
            .cast("double")
            .alias(f"_df_{i}")
            for i in range(len(query_tokens))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))

    def term(i: int) -> Column:
        idf = F.log(
            (F.col("_n") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"tf_{i}")
        denom = tf + F.lit(K1) * (
            F.lit(1.0 - B) + F.lit(B) * F.col("_len") / F.col("_avg_len")
        )
        return idf * tf * F.lit(K1 + 1.0) / denom

    score = term(0)
    for i in range(1, len(query_tokens)):
        score = score + term(i)  # fixed left-to-right association
    return scored.select(
        "id",
        score.alias("score"),
        *[F.col(f"tf_{i}").cast("bigint").alias(f"tf_{i}") for i in range(len(query_tokens))],
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion: given rankings (id, rank) from
    heterogeneous retrievers (BM25, dense cosine, ...), the fused
    score is sum over rankings of 1 / (k + rank); an id absent from a
    ranking contributes nothing. Returns (id, rrf) — integer ranks in,
    a fixed-order sum of exact divisions out, so fused scores are
    engine-identical (q131).

    Plan: one full outer merge across the (tiny, top-k-sized) ranking
    tables — the corpus never participates.
    """
    if not rankings:
        raise ValueError("need at least one ranking")
    out = None
    for i, r in enumerate(rankings):
        part = r.select(
            F.col(id_col).alias("id"),
            F.col(rank_col).cast("bigint").alias(f"_r{i}"),
        )
        out = part if out is None else out.join(part, on="id", how="full")
    contrib = [
        F.when(
            F.col(f"_r{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"_r{i}").cast("double")),
        ).otherwise(F.lit(0.0))
        for i in range(len(rankings))
    ]
    rrf = contrib[0]
    for c in contrib[1:]:
        rrf = rrf + c  # fixed association, cross-engine identical
    return out.select("id", rrf.alias("rrf"))
