"""Engine configuration, SparkSession factory and driver-table helper.

The reference's three thresholds (phenobert/utils/annotate.py:18-20 —
p1=0.8 L1 router, p2=0.6 subtree scorer, p3=0.9 pair re-ranker) live on
as ``model_p1``..``model_p3``, recalibrated for the model-analog
stages' score space. Spark settings are tuned for the local[N] sandbox
but expressed the way a 1000-executor cluster job would set them (AQE on, skew-join on, Arrow batching for pandas UDFs).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# Where the reference checkout lives (read-only). Used ONLY as a data
# source for ontology surface forms + golden corpora; never imported.
REFERENCE_ROOT = os.environ.get("PHENOBERT_REFERENCE_ROOT", "/root/reference")


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs of the annotation pipeline (names follow the reference CLI)."""

    use_model_stages: bool = False  # Step-2/3 analogue (deterministic path off by default)
    max_kmer_len: int = 10       # k-mer cap (util.py:1006)
    # synonym-variant dictionary tier (ontology.mined_substitutions):
    # min number of concepts a substitution must co-vary in to be
    # trusted — token-level (1<->1) and phrase-level (1<->2, 2<->2)
    # thresholds; None disables that class. Calibrated on val.
    syn_tier_min_count: int | None = 10
    # phrase-level (1<->2/2<->2) swaps: implemented and tested, but
    # default-off — on val it moved F1 < +0.002 while shaving precision
    # on the held-out corpora (measured round 2).
    syn_phrase_min_count: int | None = None
    # drop-one fuzzy tier (deterministic analog of the reference's
    # BERT near-match acceptance, model.py:359-432): dictionary-side
    # variants, where a mention elides one generic dict token.
    # Default-off after calibration: val F1 +0.7pt but flat-to-negative
    # on the held-out corpora (ID-68 -0.1, GeneReviews -0.4; measured
    # round 2). There is no query-side twin (a mention carrying one
    # extra token): it measured val-negative, and candidate pruning
    # never lets a k-mer with a token outside the dictionary reach it.
    drop_one_dict: bool = False
    # model-analog stage thresholds (calibrated on the val corpus; the
    # reference's p1/p2/p3 live in a different score space)
    model_p1: float = 0.0        # L1 routing cosine (0 = route everywhere)
    model_p2: float = 0.30       # concept centroid cosine floor (M3)
    # M4 acceptance for the IDF-weighted coverage scorer
    # (linking.models.pair_score_idf, validated offline in
    # tools/model_lab.py). Calibrated round 3, val-swept then
    # held-out-verified: precision-safe on all four corpora at 0.9 —
    # ID-68 +0.17 F1, val +0.05, GR 0.00, GSC+ −0.07.
    model_p3: float = 0.9
    model_topk: int = 50         # concepts per routed phrase (W1, util.py:1142)
    # GCN-analog ancestor smoothing of concept centroids (M3): mix
    # weight of L1-parent centroids (util.py:540-575 semantics on the
    # rebuilt 2-level DAG); 0 disables. Calibrated on val.
    model_gcn_lambda: float = 0.4
    # co-variation floor for the scorer's substitution bridges
    # (ConceptIndex.build subs_min_count). x3 was measured: val ~flat,
    # GeneReviews +0.5..0.9 F1 but ID-68 -0.6 / GSC+ -0.4 — net
    # negative on held-out, so the default stays at the dictionary
    # tier's x10. Kept as a knob for corpora that tolerate looser
    # bridges.
    model_subs_min_count: int = 10
    # fuzzy_idf acceptance: best concept score must beat the runner-up
    # by at least this margin (0 = accept ties; calibrated on val)
    model_margin: float = 0.0
    model_max_tokens: int = 6    # longest phrase sent to the model stage
    # Skew handling: long documents are split into independent chunks at
    # sentence-safe boundaries before the candidate UDF (north rule:
    # explicit salting for skewed large-document partitions).
    chunk_target_bytes: int = 4096


def get_spark(
    app_name: str = "phenobert-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession.

    Defaults follow the sandbox contract (local[$SPARK_GRAFT_CPUS]); on a
    real cluster the same code runs under spark-submit with the master
    set externally.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s field order) as a
    JVM ``LocalRelation``, shipped as one Arrow table.

    ``spark.createDataFrame(list-of-tuples)`` pickles the rows into a
    Python ``LogicalRDD``: every query that reads it forks Python
    workers and runs an extra job, and a ~100k-row dimension costs
    seconds per call. The Arrow table lands in the JVM as local rows,
    so plans over it show a ``LocalTableScan`` and stay JVM-only.
    Zero rows take their own branch (``zip`` yields no columns) and
    become an empty typed table: the pandas route would silently fall
    back to the pickled path for an empty frame.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
