"""Canonicalization (SURVEY.md §2.3 J2, §2.2 F4; reference
eval_all.py:105-118, util.py:319-323).

* alt-id -> canonical id: broadcast left join + coalesce,
* phenotypic-abnormality subtree filter: broadcast semi-join,
* optional ancestor-redundancy dedup: drop a (doc, hpo) triple whose
  hpo is a strict ancestor of another hpo emitted for the same doc
  (closure semi-join; SURVEY.md §7.2 step 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import local_frame
from .ontology import Ontology


def _alt_df(spark: SparkSession, onto: Ontology) -> DataFrame:
    return local_frame(spark, sorted(onto.alt_ids.items()), "alt STRING, canon STRING")


def _abnormal_df(spark: SparkSession, onto: Ontology) -> DataFrame:
    return local_frame(spark, [(h,) for h in sorted(onto.abnormal_set)], "hpo_id STRING")


def _ancestor_pairs_df(spark: SparkSession, onto: Ontology) -> DataFrame:
    """(node, anc) for every strict ancestor of every node."""
    rows = [
        (node, anc)
        for node, ancs in sorted(onto.ancestors().items())
        for anc in sorted(ancs)
        if anc != node
    ]
    return local_frame(spark, rows, "node STRING, anc STRING")


def canonicalize_ids(df: DataFrame, spark: SparkSession, onto: Ontology) -> DataFrame:
    alt = F.broadcast(_alt_df(spark, onto))
    return (
        df.join(alt, df["hpo_id"] == alt["alt"], "left")
        .withColumn("hpo_id", F.coalesce(F.col("canon"), F.col("hpo_id")))
        .drop("alt", "canon")
    )


def filter_abnormal(df: DataFrame, spark: SparkSession, onto: Ontology) -> DataFrame:
    """Keep only ids under HP:0000118 (root excluded), the reference's
    phenotypic_abnormalityNT gate (util.py:1050)."""
    members = _abnormal_df(spark, onto)
    return df.join(F.broadcast(members), on="hpo_id", how="left_semi")


def drop_redundant_ancestors(
    triples: DataFrame, spark: SparkSession, onto: Ontology
) -> DataFrame:
    """Optional KG cleanup: if a doc asserts both X and an ancestor of X,
    drop the ancestor (the more specific concept subsumes it)."""
    anc = F.broadcast(_ancestor_pairs_df(spark, onto))
    specific = (
        triples.select("doc_id", F.col("hpo_id").alias("node"))
        .distinct()
        .join(anc, on="node")
        .select("doc_id", F.col("anc").alias("hpo_id"))
        .distinct()
    )
    return triples.join(specific, on=["doc_id", "hpo_id"], how="left_anti")
