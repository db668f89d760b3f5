"""Workloads: seeded inputs, the timed call through the public entry
points the spark-submit jobs use, and the output check.

Both workloads start from the same seeded clinical-note corpus (and its
day-N+1 snapshot, which the traced run applies as a delta refresh).
A warm 1,000-note 64-bucket build takes about 7 s at local[4] on a
4-vCPU VM, most of it per-job and per-file overhead; the sizes keep one
benchmark run near a minute (perfbench/LAYERS.md).
"""

from __future__ import annotations

import math
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from phenobert_spark.config import PipelineConfig
from phenobert_spark.corpus import DOCUMENTS_SCHEMA
from phenobert_spark.materialize import (
    annotate_delta,
    run_with_checkpoint,
    write_nodes,
)
from phenobert_spark.operators.candidates import generate_candidates
from phenobert_spark.operators.kg_metrics import label_propagation, pagerank
from phenobert_spark.sources.tables import read_documents

from perfbench import inputs

N_DOCS = 1000
N_SPARE = 16  # notes held back to edit into / add to the snapshot
N_BUCKETS = 64
PR_ITERS, LPA_ITERS = 5, 3  # jobs/kg_metrics.py defaults
CFG = PipelineConfig()
# The paper's P/R target; the seed tree scores 1.0 on this corpus.
PR_FLOOR = 0.95


def write_docs(rows, path: str, n_files: int) -> None:
    """The documents table as ``n_files`` parquet files, as a Spark
    writer with that many tasks leaves it."""
    os.makedirs(path)
    names = [f.name for f in DOCUMENTS_SCHEMA.fields]
    for i in range(n_files):
        part = rows[i::n_files]
        pq.write_table(pa.table({n: [r[j] for r in part] for j, n in enumerate(names)}),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def read_table(path: str, columns) -> list[tuple]:
    """Rows of a parquet dataset read with pyarrow, outside Spark."""
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def build(spark, onto, docs_path: str, out: str) -> dict:
    """What ``jobs/annotate_corpus.py --write-nodes`` runs."""
    docs = read_documents(spark, docs_path)
    res = run_with_checkpoint(spark, docs, onto, out, CFG, n_buckets=N_BUCKETS)
    write_nodes(spark, docs, onto, out)
    return res


def refresh(spark, onto, docs_path: str, out: str) -> dict:
    """What ``jobs/annotate_corpus.py --delta`` runs."""
    return annotate_delta(spark, read_documents(spark, docs_path), onto, out, CFG, n_buckets=N_BUCKETS)


def kg_edges(spark, onto, graph: str):
    """Annotation edges of a graph union the ontology's is_a edges, as
    ``jobs/kg_metrics.py`` composes them."""
    ann = spark.read.parquet(os.path.join(graph, "triples")).select(
        "doc_id", F.col("hpo_id").alias("concept")
    )
    onto_edges = onto.edges_df(spark).select(F.col("child").alias("src"), F.col("parent").alias("dst"))
    return ann.select(F.col("doc_id").alias("src"), F.col("concept").alias("dst")).unionByName(onto_edges)


def rank_pagerank(edges, out: str) -> None:
    pagerank(edges, iters=PR_ITERS).write.mode("overwrite").parquet(os.path.join(out, "pagerank"))


def rank_lpa(edges, out: str) -> None:
    label_propagation(edges, iters=LPA_ITERS).write.mode("overwrite").parquet(os.path.join(out, "communities"))


def graph_ok(graph: str, contents, gold: set) -> tuple[bool, float, float]:
    """Check a built or refreshed graph: micro P/R of its non-negated
    (doc, concept) pairs against the generator's gold, every bucket in
    the manifest, and the manifest's per-bucket ``n_docs``/``doc_xor``
    folding to the input's row count and sha256(content) fingerprint."""
    triples = read_table(os.path.join(graph, "triples"), ["doc_id", "hpo_id", "negated"])
    p, r = inputs.micro_pr({(d, h) for d, h, neg in triples if not neg}, gold)
    manifest = read_table(os.path.join(graph, "manifest"), ["bucket", "n_docs", "doc_xor"])
    xor = 0
    for _, _, x in manifest:
        xor ^= x
    fingerprint = (sum(n for _, n, _ in manifest), xor) == inputs.content_fingerprint(contents)
    buckets = len({b for b, _, _ in manifest}) == N_BUCKETS
    return p >= PR_FLOOR and r >= PR_FLOOR and fingerprint and buckets, p, r


def broadcast_job(b) -> None:
    """Broadcast the pruning vocabulary to one Python worker per core and
    probe the dictionary frame, as the first build would."""
    chunks = b.spark.createDataFrame(
        [(str(i), 0, 0, "no seizures today.") for i in range(b.ncpu)],
        "doc_id string, chunk_id int, chunk_start int, chunk_text string",
    ).repartition(b.ncpu)
    vocab_bc = b.spark.sparkContext.broadcast(b.vocab)
    generate_candidates(chunks, vocab_bc=vocab_bc).join(b.dict_df, "key").count()


def graph_edges(onto, graph: str) -> tuple[list, list]:
    """(src, dst) of a graph's annotation edges and the ontology's is_a
    edges, read outside Spark."""
    ann = read_table(os.path.join(graph, "triples"), ["doc_id", "hpo_id"])
    is_a = [(c, p) for c, ps in onto.parents.items() for p in ps]
    return [s for s, _ in ann + is_a], [t for _, t in ann + is_a]


def ranks_ok(out: str, want: dict) -> bool:
    got = dict(read_table(os.path.join(out, "pagerank"), ["node", "rank"]))
    return got.keys() == want.keys() and all(
        math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-15) for k, v in want.items()
    )


def labels_ok(out: str, want: dict) -> bool:
    return dict(read_table(os.path.join(out, "communities"), ["node", "community"])) == want


class Workload:
    """``prepare`` makes the inputs; ``reset`` runs before every call,
    outside the timer; ``call`` is timed; ``check`` says whether the
    call's output is correct. ``traced_groups`` are the traced run's job groups that
    make up the call. ``wall_s`` is the median of at least ``min_calls``
    timed calls."""

    name = ""
    traced_groups: tuple[str, ...] = ()
    min_calls = 2

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.out = os.path.join(work, "out")
        self.docs_path = os.path.join(work, "docs")
        self.snapshot_path = os.path.join(work, "snapshot")

    def prepare(self, b) -> None:
        rows, gold = inputs.dense_corpus(b.onto, N_DOCS + N_SPARE, self.seed)
        base, spare = rows[:N_DOCS], rows[N_DOCS:]
        snap, self.n_changed = inputs.delta_snapshot(base, spare, self.seed)
        self.n_docs = len(base)
        self.contents = [r[4] for r in base]
        self.snapshot_contents = [r[4] for r in snap]
        ids = {inputs.doc_id_of(c) for c in self.contents}
        snap_ids = {inputs.doc_id_of(c) for c in self.snapshot_contents}
        self.gold_mentions = [(d, h) for d, h in gold if d in ids]
        self.gold = set(self.gold_mentions)
        self.snapshot_gold = {(d, h) for d, h in gold if d in snap_ids}
        write_docs(base, self.docs_path, b.ncpu)
        write_docs(snap, self.snapshot_path, b.ncpu)

    def reset(self, b) -> None:
        shutil.rmtree(self.out, ignore_errors=True)


class BuildDense(Workload):
    name = "build_dense"
    traced_groups = ("materialize",)

    def setup_job(self, b) -> None:
        broadcast_job(b)

    def call(self, b) -> dict:
        return build(b.spark, b.onto, self.docs_path, self.out)

    def kg_graph(self, built: str) -> str:
        return built

    def check(self, b) -> bool:
        return graph_ok(self.out, self.contents, self.gold)[0]


class KgRank(Workload):
    """PageRank over the annotation graph of the corpus. Its triples table
    holds the generator's gold mentions, written as plain parquet: the
    graph a build of this corpus commits, minus its negated mentions, at
    no build cost per run.

    A call takes about half as long as a ``build_dense`` one, so a run
    times twice as many: the median of four stays put when one of them
    runs during a burst of load from outside the benchmark."""

    name = "kg_rank"
    traced_groups = ("kg.pagerank",)
    min_calls = 4

    def prepare(self, b) -> None:
        super().prepare(b)
        self.graph = os.path.join(self.work, "graph")
        os.makedirs(os.path.join(self.graph, "triples"))
        pq.write_table(
            pa.table({
                "doc_id": [d for d, _ in self.gold_mentions],
                "hpo_id": [h for _, h in self.gold_mentions],
                "negated": [False] * len(self.gold_mentions),
            }),
            os.path.join(self.graph, "triples", "part-00000.parquet"),
        )
        self.want_rank = inputs.pagerank_reference(*graph_edges(b.onto, self.graph), iters=PR_ITERS)

    def setup_job(self, b) -> None:
        """Ship the ontology's is_a edges to the JVM (no Python workers:
        the ranking loop runs in the JVM only)."""
        b.onto.edges_df(b.spark).count()

    def call(self, b) -> dict:
        rank_pagerank(kg_edges(b.spark, b.onto, self.graph), self.out)
        return {}

    def kg_graph(self, built: str) -> str:
        return self.graph

    def check(self, b) -> bool:
        return ranks_ok(self.out, self.want_rank)


WORKLOADS = {w.name: w for w in (BuildDense, KgRank)}
