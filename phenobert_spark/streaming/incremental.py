"""Incremental corpus ingestion via Structured Streaming
(SURVEY.md §2.9: the reference is batch-only; per-document independence
means the identical pipeline runs under ``readStream`` with no
semantic change — there is no cross-document state in annotation).

Two entry points:

* ``annotate_stream`` — stream new document files into the SAME
  annotate() pipeline via ``foreachBatch``: each micro-batch is a full
  batch-mode run (broadcast joins, window dedup). End-to-end
  exactly-once = the streaming checkpoint (source offsets) + an
  IDEMPOTENT sink: output is partitioned by ``batch_id`` and each
  batch dynamically OVERWRITES its own partition, so a batch replayed
  after a crash between the data write and the offset commit replaces
  its partial output instead of appending duplicates (foreachBatch
  redelivers the same batch_id on replay — that id is the idempotency
  key).
* ``kg_upsert_stream`` — fold a streaming add/remove changelog into
  versioned KG snapshots (``latest_kg_snapshot`` reads the newest).

Streaming operator twins of the batch registry (windowed rollups,
sessionization, cross-batch dedup) are out of scope (SURVEY.md §2.9,
§7.3): the batch queries cover them.

On a cluster the source/sink would be Iceberg tables (incremental scan
+ append); file parquet streams are the sandbox stand-in with identical
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import PipelineConfig
from ..corpus import DOCUMENTS_SCHEMA
from ..ontology import Ontology
from ..pipeline import annotate


def annotate_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    onto: Ontology,
    cfg: PipelineConfig = PipelineConfig(),
) -> StreamingQuery:
    """Stream documents (parquet files appearing under ``input_path``)
    through the annotation pipeline into ``output_path``, each batch's
    triples deduplicated on (doc_id, start, end, hpo_id)."""
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)  # bound micro-batch size
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        triples = annotate(spark, batch_df, onto, cfg).dropDuplicates(
            ["doc_id", "start", "end", "hpo_id"]
        )
        # Idempotent replay: overwrite ONLY this batch's partition. The
        # per-write option (not the session conf) matters here —
        # foreachBatch hands over a DataFrame bound to a cloned session,
        # so a conf set on the outer session wouldn't reach this write.
        (
            triples.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_path)
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def kg_upsert_stream(
    changelog: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Maintain a materialized KG snapshot from a streaming add/remove
    changelog — the streaming form of batch ``kg_query.kg_time_travel``
    (q158) and the operational half of ``kg_query.kg_snapshot_diff``
    (q152).

    Each micro-batch folds its (subj, pred, obj, ts, op) events into
    the previous snapshot version with last-event-wins (remove beats
    add on timestamp ties) and writes the result to
    ``{snapshot_dir}/v={batch_id}`` — snapshot chaining, the file-
    parquet stand-in for an Iceberg MERGE INTO. Exactly-once: a batch
    replayed after a crash recomputes its version from the UNCHANGED
    previous version and overwrites its own directory, so the
    (batch_id = version) key is the idempotency token, exactly like
    ``annotate_stream``'s partition-overwrite sink.

    The persisted state is ``kg_fold_log``'s full last-event table —
    INCLUDING remove tombstones. Keeping only live triples would lose
    the removal timestamp, and a late-arriving add (older than the
    remove) in a later batch would resurrect the dead triple; with the
    tombstone the merge is by max (ts, op-rank) regardless of arrival
    order, so the folded stream is event-identical to a batch replay
    of the whole log (pinned in tests/test_streaming.py).

    Per batch the work is one union (previous state re-expressed as
    events at their as_of_ts) + one max_by groupBy on the triple key
    — with both sides bucketed by (subj, pred, obj) on a cluster the
    shuffle disappears.
    """
    import os

    from ..operators.kg_query import kg_fold_log

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev_versions = []
        if os.path.isdir(snapshot_dir):
            for name in os.listdir(snapshot_dir):
                if name.startswith("v="):
                    v = int(name.split("=", 1)[1])
                    if v < batch_id:
                        prev_versions.append(v)
        events = batch_df.select("subj", "pred", "obj", "ts", "op")
        if prev_versions:
            prev = spark.read.parquet(
                f"{snapshot_dir}/v={max(prev_versions)}"
            ).select(
                "subj",
                "pred",
                "obj",
                F.col("as_of_ts").alias("ts"),
                F.col("last_op").alias("op"),
            )
            events = prev.unionByName(events)
        state = kg_fold_log(events)
        state.write.mode("overwrite").parquet(f"{snapshot_dir}/v={batch_id}")

    return (
        changelog.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def latest_kg_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """The LIVE triples (subj, pred, obj, as_of_ts) of the newest
    snapshot version written by ``kg_upsert_stream``."""
    import os

    versions = [
        int(n.split("=", 1)[1])
        for n in os.listdir(snapshot_dir)
        if n.startswith("v=")
    ]
    if not versions:
        raise ValueError(f"no snapshot versions under {snapshot_dir}")
    state = spark.read.parquet(f"{snapshot_dir}/v={max(versions)}")
    return state.filter(F.col("last_op") == "add").select(
        "subj", "pred", "obj", "as_of_ts"
    )
