"""Structured Streaming incremental ingestion (streaming/incremental)."""

import pyspark.sql.functions as F

from phenobert_spark.config import PipelineConfig
from phenobert_spark.corpus import synthesize_corpus
from phenobert_spark.pipeline import annotate
from phenobert_spark.streaming.incremental import annotate_stream


def run_stream_to_completion(query, timeout_sec: int = 120) -> None:
    """Drive an availableNow stream until it drains."""
    query.awaitTermination(timeout_sec)
    if query.isActive:
        query.stop()


def test_incremental_annotation_matches_batch(spark, onto, tmp_path):
    """Two waves of files through the stream == one batch run."""
    docs, _ = synthesize_corpus(spark, onto, n_docs=12)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    wave1 = docs.filter(F.col("path") < "doc_00006")
    wave2 = docs.filter(F.col("path") >= "doc_00006")
    wave1.write.mode("append").parquet(in_dir)

    q = annotate_stream(spark, in_dir, out_dir, ckpt, onto, PipelineConfig())
    run_stream_to_completion(q)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # second wave arrives; restart the availableNow stream from checkpoint
    wave2.write.mode("append").parquet(in_dir)
    q = annotate_stream(spark, in_dir, out_dir, ckpt, onto, PipelineConfig())
    run_stream_to_completion(q)

    got = {
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "hpo_id", "start", "end")
        .collect()
    }
    want = {
        tuple(r)
        for r in annotate(spark, docs, onto, PipelineConfig())
        .select("doc_id", "hpo_id", "start", "end")
        .collect()
    }
    assert got == want
    # wave-1 files were not reprocessed (checkpoint offsets advanced)
    n_total = spark.read.parquet(out_dir).count()
    assert n_total == len(want)


def test_replayed_batch_overwrites_not_appends(spark, onto, tmp_path):
    """Crash between the sink write and the offset commit => the batch
    is redelivered with the SAME batch_id. The partition-overwrite sink
    must replace the prior output, not append duplicates. Simulated by
    wiping the checkpoint so the availableNow stream replays batch 0."""
    import shutil

    docs, _ = synthesize_corpus(spark, onto, n_docs=8)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.write.mode("append").parquet(in_dir)

    q = annotate_stream(spark, in_dir, out_dir, ckpt, onto, PipelineConfig())
    run_stream_to_completion(q)
    first = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "hpo_id", "start", "end")
        .collect()
    )
    assert len(first) > 0

    shutil.rmtree(ckpt)  # lose the offset commit -> full replay
    q = annotate_stream(spark, in_dir, out_dir, ckpt, onto, PipelineConfig())
    run_stream_to_completion(q)
    replayed = sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "hpo_id", "start", "end")
        .collect()
    )
    assert replayed == first  # no duplicate rows from the replay


def test_kg_upsert_stream_matches_batch_replay(spark, tmp_path):
    """Two changelog micro-batches folded by kg_upsert_stream produce
    the same live-triple set as batch kg_time_travel over the full log
    — including a batch-2 remove of a batch-1 triple and a LATE batch-2
    add that is older than an existing remove (must stay dead)."""
    from phenobert_spark.operators.kg_query import kg_time_travel
    from phenobert_spark.streaming.incremental import (
        kg_upsert_stream,
        latest_kg_snapshot,
    )

    schema = "subj string, pred string, obj string, ts int, op string"
    wave1 = [
        ("a", "p", "x", 1, "add"),
        ("b", "p", "y", 2, "add"),
        ("c", "p", "z", 3, "add"),
        ("c", "p", "z", 4, "remove"),
    ]
    wave2 = [
        ("b", "p", "y", 5, "remove"),   # removes a batch-1 triple
        ("d", "p", "w", 6, "add"),
        ("c", "p", "z", 2, "add"),      # late: older than the ts=4 remove
    ]
    in_dir = str(tmp_path / "log")
    snap_dir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(wave1, schema).coalesce(1).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    run_stream_to_completion(kg_upsert_stream(stream, snap_dir, ckpt))
    first = {r.subj for r in latest_kg_snapshot(spark, snap_dir).collect()}
    assert first == {"a", "b"}

    # second wave lands; restart from the checkpoint (new batch id)
    spark.createDataFrame(wave2, schema).coalesce(1).write.mode("append").parquet(in_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    run_stream_to_completion(kg_upsert_stream(stream, snap_dir, ckpt))
    got = {
        (r.subj, r.pred, r.obj)
        for r in latest_kg_snapshot(spark, snap_dir).collect()
    }
    full_log = spark.createDataFrame(wave1 + wave2, schema)
    want = {
        (r.subj, r.pred, r.obj) for r in kg_time_travel(full_log).collect()
    }
    assert got == want == {("a", "p", "x"), ("d", "p", "w")}
