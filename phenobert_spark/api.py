"""Library API surface — parity with the reference's entry points
(SURVEY.md §3 E2/E3 and the search/GUI wrappers):

* ``annotate_text``  — reference api.annotate_text (api.py:28-39):
  one free-text string -> TSV annotation string
  ``start\\tend\\tmention\\tHP:id\\tscore[\\tNeg]`` (util.py:1196-1209,
  README.md:144-151).
* ``link_phrases``   — reference api.get_most_related_HPO_term
  (api.py:69-124): phrases -> best HPO id or "None" (the entity-linking
  core without span logic: each phrase's keys are linked on the driver
  by the same ``Ontology.linker`` tiers ``annotate`` probes).
* ``export_reference_tsv`` — reference's one-file-per-document output
  sink (S7, util.py:1039-1042) for side-by-side parity diffing.
* ``SearchIndex``    — reference gene_reviews_search_engine.py:8-46:
  inverted hpo -> documents index with boolean AND/OR queries.

Same engine underneath: these wrappers build one-row / small DataFrames
and run the pipeline's own functions under the caller's
``PipelineConfig`` — there is no second code path (the reference shares
this property: its API calls the same functions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig, local_frame
from .corpus import DOCUMENTS_SCHEMA
from .ontology import Ontology, get_ontology
from .operators.candidates import CANDIDATES_SCHEMA
from .pipeline import annotate


def _tsv_line(r) -> str:
    """One triple in the reference output format (util.py:1196-1209):
    ``start\\tend\\tmention\\tHP:id\\tscore[\\tNeg]``, score to 2 places."""
    line = f"{r.start}\t{r.end}\t{r.mention}\t{r.hpo_id}\t{r.score:.2f}"
    return line + "\tNeg" if r.negated else line


def annotate_text(
    spark: SparkSession,
    text: str,
    onto: Ontology | None = None,
    cfg: PipelineConfig = PipelineConfig(),
) -> str:
    """Free text -> TSV annotation string (reference output format)."""
    onto = onto or get_ontology()
    docs = local_frame(
        spark, [("api", "input.txt", "0" * 40, "en", text)], DOCUMENTS_SCHEMA
    )
    rows = (
        annotate(spark, docs, onto, cfg)
        .orderBy("start", "end", "hpo_id")
        .collect()
    )
    out = [_tsv_line(r) for r in rows]
    return "\n".join(out) + ("\n" if out else "")


def link_phrases(
    spark: SparkSession,
    phrases: list[str],
    onto: Ontology | None = None,
    cfg: PipelineConfig = PipelineConfig(use_model_stages=True),
) -> list[tuple[str, str]]:
    """Entity-linking core (E3): each phrase -> (phrase, hpo_id|'None').

    Dictionary tiers first (``Ontology.linker``, the tiers ``annotate``
    links through, resolved on the driver); misses go through the
    model-analog stages (the reference's CNN->BERT path,
    api.py:69-124)."""
    from .functions.normalize import (
        lemma_key_of,
        process_str,
        simplify_tokens,
        sorted_bag_key,
        stem_key_of,
    )

    onto = onto or get_ontology()
    link = onto.linker(
        cfg.syn_tier_min_count, cfg.syn_phrase_min_count, cfg.drop_one_dict
    )
    hits, misses = {}, []
    for i, p in enumerate(phrases):
        toks = simplify_tokens(process_str(p)) or process_str(p)
        key = sorted_bag_key(toks)
        keys = (key, lemma_key_of(key), stem_key_of(toks))
        hit = link(*keys)
        if hit is not None:
            hits[i] = hit[0]
        else:
            misses.append((str(i), 0, len(p), p, *keys, len(toks), False, False))
    if cfg.use_model_stages and misses:
        from .linking.infer import model_link

        cand = local_frame(spark, misses, CANDIDATES_SCHEMA)
        for r in model_link(spark, cand, onto, cfg).collect():
            hits[int(r.doc_id)] = r.hpo_id
    return [(p, hits.get(i, "None")) for i, p in enumerate(phrases)]


def export_reference_tsv(
    spark: SparkSession, triples: DataFrame, out_dir: str
) -> int:
    """Reference-format sink: one ``<doc_id>.tsv`` per document (S7).
    For parity diffs on the golden corpora — production output is the
    Iceberg edge table (materialize.py), not files."""
    os.makedirs(out_dir, exist_ok=True)
    rows = triples.orderBy("doc_id", "start", "end", "hpo_id").collect()
    by_doc: dict[str, list[str]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(_tsv_line(r))
    for doc_id, lines in by_doc.items():
        with open(os.path.join(out_dir, f"{doc_id}.tsv"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
    return len(by_doc)


class SearchIndex:
    """Boolean search over the extracted triples (reference
    gene_reviews_search_engine semantics): hpo -> posting list of
    doc_ids; queries combine with AND (&) / OR (|)."""

    def __init__(self, triples: DataFrame):
        self._postings = triples.select("hpo_id", "doc_id").distinct().cache()

    def postings(self, hpo_id: str) -> DataFrame:
        return self._postings.filter(F.col("hpo_id") == hpo_id).select("doc_id")

    def query_and(self, hpo_ids: list[str]) -> DataFrame:
        out = None
        for h in hpo_ids:
            p = self.postings(h)
            out = p if out is None else out.intersect(p)
        return out

    def query_or(self, hpo_ids: list[str]) -> DataFrame:
        out = None
        for h in hpo_ids:
            p = self.postings(h)
            out = p if out is None else out.union(p).distinct()
        return out
