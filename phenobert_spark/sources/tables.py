"""Source adapters (SURVEY.md §2.1 S1-S6).

The production input is an Iceberg table
``documents(repo, path, commit, lang, content)`` at 10^12-file scale;
the sandbox reads parquet files of the same schema. Both paths return
an identical DataFrame, so everything downstream is source-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import DOCUMENTS_SCHEMA


def read_documents(spark: SparkSession, source: str) -> DataFrame:
    """Load the documents table from:

    * an Iceberg/catalog table name (contains no '/');
    * a parquet directory with the documents schema;
    * a directory of raw ``*.txt`` files (one doc per file — the
      reference's corpus layout, annotate.py:56-61).
    """
    if "/" not in source and not os.path.exists(source):
        # catalog table (Iceberg on a real cluster)
        return spark.read.table(source)
    if os.path.isdir(source) and not any(
        f.endswith((".parquet", ".orc")) or f == "_SUCCESS"
        for f in os.listdir(source)[:200]
    ):
        # raw-text corpus dir: one doc per file, filename = doc id
        raw = (
            spark.read.format("text")
            .option("wholetext", "true")
            .load(source)
            .select(
                F.lit(os.path.basename(source.rstrip("/"))).alias("repo"),
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("path"),
                F.lit("0" * 40).alias("commit"),
                F.lit("en").alias("lang"),
                F.col("value").alias("content"),
            )
        )
        return raw
    df = spark.read.parquet(source)
    missing = {f.name for f in DOCUMENTS_SCHEMA.fields} - set(df.columns)
    if missing == set():
        return df.select([f.name for f in DOCUMENTS_SCHEMA.fields])
    # tolerate the driver-testdata shape (doc_id, text, lang, source, ...)
    if {"doc_id", "text"} <= set(df.columns):
        return df.select(
            F.lit("testdata").alias("repo"),
            F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"),
            F.lit("0" * 40).alias("commit"),
            F.coalesce(F.col("lang"), F.lit("en")).alias("lang"),
            F.col("text").alias("content"),
        )
    raise ValueError(f"unrecognized documents source shape: {df.columns}")
