"""The library calls the benchmark makes, run on a few notes: the
traced ingest cuts and the graph-ranking workload. The benchmark's
timed runs never take the traced path, so a signature change that
breaks it would otherwise go unnoticed until a traced run."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs, layers, workloads
from phenobert_spark.sources.tables import read_documents


def test_traced_ingest_cuts_run(spark, onto, tmp_path):
    rows, _ = inputs.dense_corpus(onto, 20, 1)
    docs = str(tmp_path / "docs")
    workloads.write_docs(rows, docs, 2)
    cfg = workloads.CFG
    vocab_bc = spark.sparkContext.broadcast(
        onto.prune_vocab(
            syn_min_count=cfg.syn_tier_min_count,
            syn_phrase_min_count=cfg.syn_phrase_min_count,
        )
    )
    cuts, _, _ = layers.ingest_prefixes(
        spark, onto, read_documents(spark, docs), vocab_bc
    )
    assert [name for name, _, _ in cuts] == list(layers.CUTS)
    counts = {name: df.count() for name, df, _ in cuts}
    assert counts["canonicalize"] > 0


def test_ranking_workload_runs(spark, onto, tmp_path):
    rows, gold = inputs.dense_corpus(onto, 20, 1)
    ids = {inputs.doc_id_of(r[4]) for r in rows}
    mentions = [(d, h) for d, h in gold if d in ids]
    graph = str(tmp_path / "graph")
    os.makedirs(os.path.join(graph, "triples"))
    pq.write_table(
        pa.table({
            "doc_id": [d for d, _ in mentions],
            "hpo_id": [h for _, h in mentions],
            "negated": [False] * len(mentions),
        }),
        os.path.join(graph, "triples", "part-00000.parquet"),
    )
    edges = workloads.kg_edges(spark, onto, graph)
    out = str(tmp_path / "out")
    workloads.rank_pagerank(edges, out)
    workloads.rank_lpa(edges, out)
    src, dst = workloads.graph_edges(onto, graph)
    assert workloads.ranks_ok(
        out, inputs.pagerank_reference(src, dst, iters=workloads.PR_ITERS)
    )
    assert workloads.labels_ok(
        out, inputs.lpa_reference(src, dst, iters=workloads.LPA_ITERS)
    )
