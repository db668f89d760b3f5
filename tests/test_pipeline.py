"""End-to-end pipeline tests on the deterministic fixture corpus."""

import pyspark.sql.functions as F
import pytest

from phenobert_spark.config import PipelineConfig
from phenobert_spark.corpus import synthesize_corpus, with_doc_id
from phenobert_spark.evaluate import dag_set_similarity, evaluate_sets
from phenobert_spark.pipeline import annotate


@pytest.fixture(scope="module")
def fixture_run(spark, onto):
    docs, gold = synthesize_corpus(spark, onto, n_docs=30)
    triples = annotate(spark, docs, onto, PipelineConfig()).cache()
    triples.count()
    return docs, gold, triples


def test_fixture_precision_recall(spark, onto, fixture_run):
    """North-rule gate: P/R >= 0.95 on the deterministic corpus."""
    docs, gold, triples = fixture_run
    m = evaluate_sets(spark, triples.filter("not negated"), gold, onto)
    assert m["micro_p"] >= 0.95, m
    assert m["micro_r"] >= 0.95, m
    assert m["macro_p"] >= 0.95 and m["macro_r"] >= 0.95, m


def test_fixture_dag_similarity(spark, onto, fixture_run):
    docs, gold, triples = fixture_run
    s = dag_set_similarity(spark, triples.filter("not negated"), gold, onto)
    assert s >= 0.95


def test_span_offsets_and_mentions(spark, onto, fixture_run):
    """Every triple's (start, end) must slice content to mention."""
    docs, gold, triples = fixture_run
    joined = triples.join(with_doc_id(docs).select("doc_id", "content"), "doc_id")
    bad = joined.filter(
        F.expr("substring(content, start + 1, end - start) != mention")
    ).count()
    assert bad == 0


def test_sha256_invariant(spark, onto, fixture_run):
    """doc_id of every output row re-derives from raw content
    (BASELINE.json input_hint: per-row content sha256 equality)."""
    docs, gold, triples = fixture_run
    ids = with_doc_id(docs).select(F.col("doc_id").alias("src_id"))
    orphans = triples.join(ids, triples.doc_id == ids.src_id, "left_anti").count()
    assert orphans == 0


def test_determinism(spark, onto, fixture_run):
    docs, gold, triples = fixture_run
    again = annotate(spark, docs, onto, PipelineConfig())
    a = {tuple(r) for r in triples.collect()}
    b = {tuple(r) for r in again.collect()}
    assert a == b


def test_negation_column(spark, onto, fixture_run):
    docs, gold, triples = fixture_run
    assert triples.filter("negated").count() > 0
    assert triples.filter("not negated").count() > 0


def test_triples_schema(fixture_run):
    _, _, triples = fixture_run
    assert [f.name for f in triples.schema.fields] == [
        "doc_id", "pred", "hpo_id", "start", "end", "mention", "score", "negated",
    ]
    assert triples.schema["pred"].dataType.simpleString() == "string"


def test_skew_chunking_equivalence(spark, onto):
    """A long document chunked at 512B produces the same triples as the
    same document processed whole (chunking is loss-free)."""
    docs, gold = synthesize_corpus(spark, onto, n_docs=11)
    t_small = annotate(
        spark, docs, onto, PipelineConfig(chunk_target_bytes=512)
    )
    t_whole = annotate(
        spark, docs, onto, PipelineConfig(chunk_target_bytes=10**9)
    )
    a = {tuple(r) for r in t_small.collect()}
    b = {tuple(r) for r in t_whole.collect()}
    assert a == b
