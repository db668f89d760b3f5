"""Model-stage inference: Arrow-batched pandas UDF over unmatched
candidates (SURVEY.md §3 E1 steps 2-3 re-expressed).

Per batch: encode phrases (M1) -> route L1 subtrees >= p1 (M2) ->
top-k concept centroids >= p2 within routed subtrees (M3) -> surface
re-rank >= p3 (M4) -> accepted (hpo_id, score) rows.

Executor pattern: the ConceptIndex is broadcast once; the per-worker
encoder (with its token-vector cache) is a lazy module-level singleton —
the reference reloads 25 model pickles per document (util.py:1068-1083),
the classic anti-pattern this design eliminates (SURVEY.md §4 table).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..ontology import Ontology
from .models import ConceptIndex, HashedEncoder, pair_score_idf

_WORKER_ENCODER: HashedEncoder | None = None


def _encoder(dim: int) -> HashedEncoder:
    global _WORKER_ENCODER
    if _WORKER_ENCODER is None or _WORKER_ENCODER.dim != dim:
        _WORKER_ENCODER = HashedEncoder(dim)
    return _WORKER_ENCODER


def model_link(
    spark: SparkSession,
    survivors: DataFrame,
    onto: Ontology,
    cfg: PipelineConfig,
) -> DataFrame:
    """survivors: candidate rows that missed the dictionary and are not
    contained in a matched span. Returns rows with (hpo_id, score)
    columns appended, only for accepted candidates.

    The ConceptIndex broadcast (the index costs ~15s to build on the
    reference ontology) is memoized on the ontology per SparkContext,
    so repeated annotate() calls build and ship it once."""
    bc = onto.derived(
        (
            "concept_index_broadcast",
            spark.sparkContext.applicationId,
            cfg.model_gcn_lambda,
            cfg.model_subs_min_count,
        ),
        lambda: spark.sparkContext.broadcast(
            ConceptIndex.build(
                onto,
                gcn_lambda=cfg.model_gcn_lambda,
                subs_min_count=cfg.model_subs_min_count,
            )
        ),
    )
    p1, p2, p3 = cfg.model_p1, cfg.model_p2, cfg.model_p3
    topk = cfg.model_topk
    margin = cfg.model_margin

    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    # NB: StructType.add mutates in place — and DataFrame.schema is a
    # cached object — so build a fresh StructType.
    out_schema = StructType(
        list(survivors.schema.fields)
        + [
            StructField("hpo_id", StringType(), False),
            StructField("score", DoubleType(), False),
        ]
    )
    in_cols = survivors.columns

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: ConceptIndex = bc.value
        enc = _encoder(idx.dim)
        cmat_t = idx.concept_mat.T  # (dim, n_concepts)
        l1_t = idx.l1_mat.T if len(idx.l1_ids) else None
        for pdf in batches:
            if pdf.empty:
                yield pd.DataFrame(columns=in_cols + ["hpo_id", "score"])
                continue
            phrases = pdf["key"].tolist()  # sorted simple tokens
            vecs = enc.encode(phrases)  # (B, dim)
            cos = vecs @ cmat_t  # (B, n_concepts)
            if l1_t is not None and p1 > 0:
                l1_cos = vecs @ l1_t  # (B, n_l1)
                routed = l1_cos >= p1  # multi-label select (M2)
                allowed = routed @ idx.concept_l1.T.astype(np.float32) > 0
                cos = np.where(allowed, cos, -1.0)
            hpo_out, score_out, keep_rows = [], [], []
            n_concepts = cos.shape[1]
            k = min(topk, n_concepts)
            # top-k >= p2 per row (M3), then surface re-rank (M4)
            part = np.argpartition(-cos, k - 1, axis=1)[:, :k]
            for r in range(len(pdf)):
                cand_idx = part[r]
                cand_idx = cand_idx[cos[r, cand_idx] >= p2]
                if cand_idx.size == 0:
                    continue
                best_hpo, best_score, second = None, 0.0, 0.0
                for ci in cand_idx:
                    cid = idx.concept_ids[ci]
                    s = pair_score_idf(enc, phrases[r], cid, idx)
                    if s > best_score:
                        best_hpo, best_score, second = cid, s, best_score
                    elif s > second:
                        second = s
                if (
                    best_hpo is not None
                    and best_score >= p3
                    and best_score - second >= margin
                ):
                    keep_rows.append(r)
                    hpo_out.append(best_hpo)
                    score_out.append(round(float(best_score), 4))
            kept = pdf.iloc[keep_rows].copy() if keep_rows else pdf.iloc[:0].copy()
            kept["hpo_id"] = hpo_out
            kept["score"] = score_out
            yield kept

    return survivors.mapInPandas(score_batches, out_schema)
