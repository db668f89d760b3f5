"""API surface parity (reference api.py / search engine wrappers)."""

import os

from phenobert_spark.api import (
    SearchIndex,
    annotate_text,
    export_reference_tsv,
    link_phrases,
)
from phenobert_spark.config import PipelineConfig
from phenobert_spark.corpus import synthesize_corpus
from phenobert_spark.pipeline import annotate


def test_annotate_text_tsv_format(spark, onto):
    out = annotate_text(
        spark, "Patient presents with severe headache and no ataxia.", onto
    )
    lines = [l for l in out.splitlines() if l]
    assert len(lines) == 2
    cols = lines[0].split("\t")
    # start end mention hpo score
    assert cols[3].startswith("HP:") and cols[2] == "headache"
    assert int(cols[0]) < int(cols[1])
    assert float(cols[4]) == 1.0
    # the negated mention carries the Neg tag (util.py:1204-1209)
    neg = [l for l in lines if l.endswith("Neg")]
    assert len(neg) == 1 and "ataxia" in neg[0]


def test_annotate_text_empty(spark, onto):
    assert annotate_text(spark, "nothing clinical here at all", onto) == ""


def test_link_phrases(spark, onto):
    got = link_phrases(
        spark,
        ["short stature", "craniosynostosic", "completely unrelated words"],
        onto,
        PipelineConfig(use_model_stages=True),
    )
    assert got[0] == ("short stature", "HP:0004322")
    assert got[1][1] == "HP:0001363"  # model stage catches the variant
    assert got[2][1] == "None"


def test_link_phrases_uses_configured_synonym_tier(spark, onto):
    """Every phrase only the synonym tier links (swaps such as "digital
    short toe" -> HP:0001156, and the combining-prefix splits such as
    "cranio synostosis" that the tier also carries) gets from
    link_phrases the id annotate_text reports for it under the same
    config."""
    cfg = PipelineConfig()
    syn = {
        r.key
        for r in onto.dict_df(spark, syn_min_count=10).collect()
        if r.prio == 3
    }
    phrases = sorted(syn - {r.key for r in onto.dict_df(spark).collect()})
    assert len(phrases) == 13
    assert {"digital short toe", "cranio synostosis"} <= set(phrases)
    text, starts = "", []
    for p in phrases:
        starts.append(len(text))
        text += p + ". "
    by_phrase: dict[int, set[str]] = {}
    for line in annotate_text(spark, text, onto, cfg).splitlines():
        start, _, _, hpo = line.split("\t")[:4]
        i = max(j for j, s in enumerate(starts) if s <= int(start))
        by_phrase.setdefault(i, set()).add(hpo)
    assert sorted(by_phrase) == list(range(len(phrases)))
    want = [(p, *by_phrase[i]) for i, p in enumerate(phrases)]
    assert link_phrases(spark, phrases, onto, cfg) == want
    assert ("digital short toe", "HP:0001156") in want


def test_export_reference_tsv(spark, onto, tmp_path):
    docs, _ = synthesize_corpus(spark, onto, n_docs=4)
    triples = annotate(spark, docs, onto, PipelineConfig())
    n = export_reference_tsv(spark, triples, str(tmp_path / "ann"))
    assert n == triples.select("doc_id").distinct().count()
    files = os.listdir(tmp_path / "ann")
    assert len(files) == n
    body = open(tmp_path / "ann" / files[0]).read()
    assert "\tHP:" in body


def test_search_index(spark, onto):
    docs, _ = synthesize_corpus(spark, onto, n_docs=20)
    triples = annotate(spark, docs, onto, PipelineConfig())
    idx = SearchIndex(triples)
    hpos = [r.hpo_id for r in triples.groupBy("hpo_id").count()
            .orderBy("count", ascending=False).limit(2).collect()]
    a, b = hpos
    n_and = idx.query_and([a, b]).count()
    n_or = idx.query_or([a, b]).count()
    n_a = idx.postings(a).count()
    assert n_and <= min(n_a, idx.postings(b).count())
    assert n_or >= max(n_a, idx.postings(b).count())
    assert n_and + n_or == n_a + idx.postings(b).count()
