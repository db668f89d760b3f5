"""Traced run: prefix cuts through the flagship pipeline's layers, each
materialized into the ``noop`` sink under its own Spark job group, then
the workload's materialize call and the graph-ranking loops.

The cut composition restates ``pipeline.annotate`` for the default
``PipelineConfig`` (dictionary path only) out of the same public
operators, so each layer's output can be forced on its own. Layer self
time is ``cut(k) - cut(k-1)``. Row counters ride on the cuts through
``DataFrame.observe``, which adds no Spark job.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

from phenobert_spark.canonicalize import canonicalize_ids
from phenobert_spark.corpus import chunked, with_doc_id
from phenobert_spark.materialize import verify_manifest
from phenobert_spark.operators.candidates import generate_candidates
from phenobert_spark.operators.dict_link import dictionary_link
from phenobert_spark.operators.spans import keep_maximal_spans

from perfbench import inputs, measure, workloads

CUTS = ("corpus", "candidates", "dict_link", "spans", "canonicalize")
# dictionary tier -> score it stamps (operators/dict_link.py)
TIER_SCORES = {"exact": 1.0, "syn": 0.9, "stem": 0.85}


def ingest_prefixes(spark, onto, docs, vocab_bc):
    """[(layer, DataFrame of its output, Observation)] in pipeline order."""
    cfg = workloads.CFG
    count = F.count(F.lit(1)).alias("rows")
    out = []

    def obs(name, df, *aggs):
        o = Observation(name)
        out.append((name, df.observe(o, count, *aggs), o))

    n_docs = Observation("docs")
    docs = with_doc_id(docs).select("doc_id", "content").observe(n_docs, count)
    chunks = chunked(docs, cfg.chunk_target_bytes)
    chunks = chunks.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id", "chunk_id")
    obs("corpus", chunks, F.max(F.length("chunk_text")).alias("len_max"),
        F.percentile_approx(F.length("chunk_text"), 0.5).alias("len_med"))
    cands = generate_candidates(chunks, cfg.max_kmer_len, vocab_bc=vocab_bc)
    obs("candidates", cands)
    dict_df = onto.dict_df(spark, syn_min_count=cfg.syn_tier_min_count,
                           syn_phrase_min_count=cfg.syn_phrase_min_count, drop_one=cfg.drop_one_dict)
    linked = dictionary_link(cands, dict_df, has_syn_tier=cfg.syn_tier_min_count is not None,
                             has_drop_one=cfg.drop_one_dict)
    matched = linked.filter(F.col("hpo_id").isNotNull())
    obs("dict_link", matched, *[
        F.sum(F.when(F.col("score") == s, 1).otherwise(0)).alias(tier) for tier, s in TIER_SCORES.items()
    ])
    # pipeline.annotate's same-extent dedup, then maximal spans
    w = Window.partitionBy("doc_id").orderBy(
        F.col("start").asc(), F.col("end").asc(), F.col("score").desc(),
        F.col("n_tokens").desc(), F.col("hpo_id").asc(),
    )
    deduped = (
        matched.withColumn("_ps", F.lag("start").over(w))
        .withColumn("_pe", F.lag("end").over(w))
        .filter(F.col("_ps").isNull() | (F.col("_ps") != F.col("start")) | (F.col("_pe") != F.col("end")))
        .drop("_ps", "_pe")
    )
    spans = keep_maximal_spans(deduped, gappy_col="gappy").select(
        "doc_id", F.lit("has_phenotype").alias("pred"), "hpo_id", "start", "end", "mention", "score", "negated"
    )
    obs("spans", spans)
    alt = sorted(onto.alt_ids) or ["__none__"]
    remapped = F.sum(F.col("hpo_id").isin(alt).cast("int")).alias("remapped")
    o = Observation("canonicalize")
    out.append(("canonicalize", canonicalize_ids(spans.observe(o, count, remapped), spark, onto), o))
    return out, chunks, n_docs


class Tracer:
    """Times actions under named job groups."""

    def __init__(self, spark):
        self.spark, self.walls = spark, {}

    def run(self, group: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            res = fn()
            self.walls[group] = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return res


def parquet_files(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    sizes = [os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]
    return len(sizes), sum(sizes)


def traced_chain(b, wl) -> dict:
    """Run every layer traced: the ingest cuts and the build over the
    workload's corpus, the ranking loops over the workload's graph, and
    a delta refresh of the built graph to the corpus snapshot. Returns
    the raw measurements for ``layer_metrics``."""
    from phenobert_spark.sources.tables import read_documents

    spark, onto = b.spark, b.onto
    tr = Tracer(spark)
    vocab_bc = spark.sparkContext.broadcast(b.vocab)
    cuts, chunks, n_docs = ingest_prefixes(spark, onto, read_documents(spark, wl.docs_path), vocab_bc)
    seen = {}
    for name, df, o in cuts:
        tr.run(f"cut.{name}", lambda: df.write.format("noop").mode("overwrite").save())
        seen[name] = o.get
    seen["docs"] = n_docs.get
    unpruned = tr.run("count.unpruned", lambda: generate_candidates(chunks, workloads.CFG.max_kmer_len).count())

    built = os.path.join(wl.work, "trace_graph")
    tr.run("materialize", lambda: workloads.build(spark, onto, wl.docs_path, built))
    written = parquet_files(built)
    built_ok, p, r = workloads.graph_ok(built, wl.contents, wl.gold)

    graph = wl.kg_graph(built)
    edges = workloads.kg_edges(spark, onto, graph)
    ranked = os.path.join(wl.work, "trace_rank")
    with measure.PeakSampler(lambda: measure.cached_bytes(spark)) as cached:
        tr.run("kg.pagerank", lambda: workloads.rank_pagerank(edges, ranked))
        tr.run("kg.lpa", lambda: workloads.rank_lpa(edges, ranked))
    src, dst = workloads.graph_edges(onto, graph)
    kg_ok = workloads.ranks_ok(ranked, inputs.pagerank_reference(src, dst, iters=workloads.PR_ITERS)) and (
        workloads.labels_ok(ranked, inputs.lpa_reference(src, dst, iters=workloads.LPA_ITERS))
    )

    res = tr.run("materialize.delta", lambda: workloads.refresh(spark, onto, wl.snapshot_path, built))
    manifest = workloads.read_table(os.path.join(built, "manifest"), ["bucket", "n_docs"])
    delta_ok = (
        workloads.graph_ok(built, wl.snapshot_contents, wl.snapshot_gold)[0]
        and verify_manifest(spark, read_documents(spark, wl.snapshot_path), built, workloads.N_BUCKETS).count() == 0
    )
    return {
        "walls": tr.walls, "seen": seen, "unpruned": unpruned, "written": written, "p": p, "r": r,
        "cached_peak": cached.peak, "n_edges": len(src), "delta": res, "checks": [built_ok, kg_ok, delta_ok],
        "redone_docs": sum(n for bucket, n in manifest if bucket in res["invalidated"]),
    }


def layer_metrics(b, wl, t: dict, groups: dict, untraced_wall: float, wall_1: float, onto_s: dict) -> dict:
    """Per-layer metrics of one traced run (names as in BENCHMARK.json)."""
    w, seen = t["walls"], t["seen"]
    cut = [w[f"cut.{c}"] for c in CUTS]
    selfs = [cut[0]] + [cut[i] - cut[i - 1] for i in range(1, len(cut))] + [w["materialize"] - cut[-1]]

    def shuffle(group):
        return groups.get(group, {}).get("shuffle_write_mb", 0.0)

    cands, matched = seen["candidates"]["rows"], seen["dict_link"]["rows"]
    fingerprint = sum(
        s for g in ("materialize", "materialize.delta") for plan, s in groups.get(g, {}).get("sql", [])
        if "bit_xor" in plan
    )
    call = measure.merged(groups, wl.traced_groups)
    traced_wall = sum(w[g] for g in wl.traced_groups)
    cut_sum = sum(selfs) if wl.traced_groups == ("materialize",) else traced_wall
    kg = measure.merged(groups, ("kg.pagerank", "kg.lpa"))
    return {
        "corpus.self_s": selfs[0],
        "corpus.chunks_per_doc": seen["corpus"]["rows"] / seen["docs"]["rows"],
        "corpus.chunk_bytes_max_over_median": seen["corpus"]["len_max"] / seen["corpus"]["len_med"],
        "corpus.shuffle_write_mb": shuffle("cut.corpus"),
        "candidates.self_s": selfs[1],
        "candidates.rows_out": cands,
        "candidates.keep_ratio": cands / t["unpruned"],
        "candidates.task_s_max_over_median": measure.last_stage_skew(groups.get("cut.candidates")),
        "dict_link.self_s": selfs[2],
        "dict_link.hit_ratio": matched / cands,
        "dict_link.hits_exact": seen["dict_link"]["exact"],
        "dict_link.hits_syn": seen["dict_link"]["syn"],
        "dict_link.hits_stem": seen["dict_link"]["stem"],
        "spans.self_s": selfs[3],
        "spans.keep_ratio": seen["spans"]["rows"] / matched,
        "spans.shuffle_write_mb": shuffle("cut.spans") - shuffle("cut.dict_link"),
        "canonicalize.self_s": selfs[4],
        "canonicalize.remapped": seen["canonicalize"]["remapped"],
        "materialize.self_s": selfs[5],
        "materialize.fingerprint_s": fingerprint,
        "materialize.files_written": t["written"][0],
        "materialize.bytes_written_mb": t["written"][1] / 2**20,
        "materialize.jobs": groups["materialize"]["jobs"],
        "materialize.delta_s": w["materialize.delta"],
        "materialize.buckets_processed": t["delta"]["processed"],
        "materialize.reannotated_docs_per_changed_doc": t["redone_docs"] / wl.n_changed,
        "kg_metrics.pagerank_s": w["kg.pagerank"],
        "kg_metrics.lpa_s": w["kg.lpa"],
        "kg_metrics.jobs": kg["jobs"],
        "kg_metrics.shuffle_write_mb": kg["shuffle_write_mb"],
        "kg_metrics.cached_mb_peak": t["cached_peak"] / 2**20,
        "kg_metrics.edges_per_s": t["n_edges"] * (workloads.PR_ITERS + workloads.LPA_ITERS)
        / (w["kg.pagerank"] + w["kg.lpa"]),
        "ontology.load_s": onto_s["load"],
        "ontology.vocab_s": onto_s["vocab"],
        "ontology.dict_df_s": onto_s["dict_df"],
        "ontology.broadcast_kb": onto_s["broadcast_kb"],
        "spark.task_s": call["task_s"],
        "spark.scheduler_delay_s": call["scheduler_delay_s"],
        "spark.gc_s": call["gc_s"],
        "spark.spill_mb": call["spill_mb"],
        "spark.stages": call["stages"],
        "spark.tasks": call["tasks"],
        "quality.micro_p": t["p"],
        "quality.micro_r": t["r"],
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.cut_sum_s": cut_sum,
        "trace.cut_gap_s": cut_sum - untraced_wall,
        "scale.efficiency_1_to_n": wall_1 / (b.ncpu * untraced_wall),
    }
