"""Source adapters (sources/tables.py)."""

import os

import pytest

from phenobert_spark.config import REFERENCE_ROOT
from phenobert_spark.corpus import DOCUMENTS_SCHEMA, synthesize_corpus
from phenobert_spark.sources.tables import read_documents

DOC_COLS = [f.name for f in DOCUMENTS_SCHEMA.fields]


def test_parquet_documents_roundtrip(spark, onto, tmp_path):
    docs, _ = synthesize_corpus(spark, onto, n_docs=5)
    p = str(tmp_path / "docs_pq")
    docs.write.parquet(p)
    got = read_documents(spark, p)
    assert got.columns == DOC_COLS
    assert got.count() == 5


def test_testdata_shape_adapter(spark):
    got = read_documents(spark, "/root/testdata/sf0.001/documents.parquet")
    assert got.columns == DOC_COLS
    assert got.count() > 0


@pytest.mark.skipif(
    not os.path.isdir(os.path.join(REFERENCE_ROOT, "phenobert")),
    reason="reference checkout not present",
)
def test_raw_text_dir_adapter(spark):
    corpus = os.path.join(REFERENCE_ROOT, "phenobert", "data", "ID-68", "corpus")
    got = read_documents(spark, corpus)
    assert got.columns == DOC_COLS
    assert got.count() == 68
    row = got.filter("path = '09DG00835'").collect()
    assert len(row) == 1 and len(row[0].content) > 100
