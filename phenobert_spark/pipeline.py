"""End-to-end annotation pipeline: documents -> (doc_id, has_phenotype,
HPO:ID) triples (SURVEY.md §3 E1 lifecycle, Spark-first).

Physical plan (two shuffles total on the hot path, SURVEY.md §4):

    iceberg/parquet scan (content + keys only — column pruning)
      -> doc_id = sha2(content)                       [narrow]
      -> skew chunker                                 [narrow]
      -> repartition(doc_id, chunk_id)                [shuffle 1: salt]
      -> candidate mapInPandas (Arrow), linking each
         k-mer through the broadcast dict tiers (J1)  [narrow, no join]
      -> (optional model stages, pandas UDFs)         [narrow]
      -> window dedup + maximal spans (J4)            [shuffle 2: doc_id]
      -> triples

Under the materializer (``annotate(..., n_buckets=n)``) shuffle 2 is
keyed on the checkpoint bucket instead: the windows partition by
(bucket, doc_id), and one sort serves both windows and the
partitioned writer, so each bucket is written by one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import canonicalize_ids
from .config import PipelineConfig
from .corpus import bucket_of, chunked, with_doc_id
from .ontology import Ontology
from .operators.candidates import generate_candidates
from .operators.spans import (
    drop_same_extent,
    keep_maximal_spans,
    suppress_contained_in,
    suppress_containing,
)


def annotate(
    spark: SparkSession,
    docs: DataFrame,
    onto: Ontology,
    cfg: PipelineConfig = PipelineConfig(),
    *,
    n_buckets: int | None = None,
) -> DataFrame:
    """documents(repo, path, commit, lang, content) -> triples DF.

    ``content`` is read once and dropped right after candidate
    generation; nothing downstream carries document bodies (critical for
    the 100 TB scan — SURVEY.md §4 'never carry content past candidate
    generation').

    ``n_buckets`` (the materializer's checkpoint bucketing) adds a
    ``bucket`` column and clusters the span windows on it, so the
    triples arrive partitioned and sorted for a ``partitionBy("bucket")``
    write.
    """
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = with_doc_id(docs)
    chunks = chunked(docs.select("doc_id", "content"), cfg.chunk_target_bytes)
    # an explicit count: without one, AQE may coalesce the salted exchange
    chunks = chunks.repartition(shuffle_partitions, "doc_id", "chunk_id")

    # Exact candidate pruning: k-mers with out-of-vocabulary tokens are
    # provable dictionary misses (~20-50x fewer candidate rows). The
    # model stages get a relaxed predicate that keeps morphological
    # variants. The surviving k-mers are linked in the same kernel,
    # through the dictionary tiers ``cfg`` selects. Both broadcasts are
    # memoized on the ontology per SparkContext: sc.broadcast()
    # re-serializes and re-ships its value, and repeated invocations
    # (bench loops, notebook sessions) reuse it while the same
    # SparkContext is alive.
    sc = spark.sparkContext
    syn = (cfg.syn_tier_min_count, cfg.syn_phrase_min_count)

    def shipped(key: tuple, build):
        return onto.derived((*key, sc.applicationId), lambda: sc.broadcast(build()))

    def vocab():
        if cfg.use_model_stages:
            # fuzzy model stage: prefix-5 / lemma adjacency
            from .linking.models import RelaxedVocab

            return RelaxedVocab(onto.vocab())
        return onto.prune_vocab(*syn)

    vocab_bc = shipped(("vocab_broadcast", cfg.use_model_stages, *syn), vocab)
    linker_bc = shipped(
        ("linker_broadcast", *syn, cfg.drop_one_dict),
        lambda: onto.linker(*syn, cfg.drop_one_dict),
    )
    matched = generate_candidates(
        chunks,
        cfg.max_kmer_len,
        vocab_bc=vocab_bc,
        linker_bc=linker_bc,
        keep_misses=cfg.use_model_stages,
    )

    if cfg.use_model_stages:
        from .linking.infer import model_link

        misses = matched.filter(F.col("hpo_id").isNull()).drop("hpo_id", "score")
        matched = matched.filter(F.col("hpo_id").isNotNull())
        unmatched = (
            misses.filter(F.col("n_tokens") <= cfg.model_max_tokens)
            # fuzzy acceptance of a NEGATED candidate is pure FP risk:
            # the dictionary path keeps negated matches only because
            # the reference emits them flagged (util.py:1171-1209); a
            # model-stage guess on top of a negation cue has no parity
            # precedent and measured -0.4 val precision.
            .filter(~F.col("negated"))
        )
        # J3: skip candidates nested inside an already-matched span
        # (gappy recovered spans don't contain what they don't cover).
        anchors = matched.filter(~F.col("gappy"))
        survivors = suppress_contained_in(unmatched, anchors)
        # ... and candidates CONTAINING an exact match are equally
        # barred: a longer fuzzy span must not displace the exact
        # dictionary match inside it under maximal-span resolution.
        survivors = suppress_containing(survivors, anchors)
        model_matched = model_link(spark, survivors, onto, cfg)
        if model_matched is not None:
            matched = matched.unionByName(model_matched.select(*matched.columns))

    # Both span windows share one exchange and one sort. Under the
    # materializer that exchange is keyed on the bucket, with an explicit
    # count so AQE cannot coalesce it: then it also satisfies the
    # partitioned writer's clustering and ordering.
    keys = ["doc_id"]
    if n_buckets is not None:
        matched = matched.withColumn(
            "bucket", bucket_of(F.col("doc_id"), n_buckets)
        ).repartition(shuffle_partitions, "bucket")
        keys = ["bucket", "doc_id"]
    # Deduplicate identical char spans (full phrase vs A+B recovery over
    # the same extent): reference keeps the variant with more tokens
    # (use_longest measures word count, util.py:1180-1185).
    matched = drop_same_extent(
        matched,
        keys,
        tiebreak=(
            F.col("score").desc(),
            F.col("n_tokens").desc(),
            F.col("hpo_id").asc(),
        ),
    )

    # Keep maximal spans (the reference's use_longest, annotate.py -al).
    triples = keep_maximal_spans(matched, keys=keys, gappy_col="gappy").select(
        "doc_id",
        F.lit("has_phenotype").alias("pred"),
        "hpo_id",
        "start",
        "end",
        "mention",
        "score",
        "negated",
        *(["bucket"] if n_buckets is not None else []),
    )
    return canonicalize_ids(triples, spark, onto)
