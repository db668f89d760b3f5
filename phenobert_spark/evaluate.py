"""Document-level set evaluation (SURVEY.md §2.4 A1-A5; reference
eval_all.py:60-126 semantics re-expressed as DataFrame aggregations).

* per-doc distinct HPO sets for gold and predicted (A1),
* micro P/R/F1 = global TP / pred / gold counts (A2),
* macro P/R/F1 = per-doc P/R averaged over docs (A3) with the
  reference's edge rule: a doc with empty gold AND empty pred counts
  as P=R=1 (calc_metric, eval_all.py:60-73),
* DAG node-set similarity mean (A4/M5): 2*depth(LCA)/(d1+d2) best-match
  symmetric average, via a grouped pandas UDF over broadcast maps.

Both sides are alt-id canonicalized and subtree-filtered before
comparison (eval_all.py:105-118).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .canonicalize import canonicalize_ids, filter_abnormal
from .ontology import Ontology


def evaluate_sets(
    spark: SparkSession,
    predicted: DataFrame,
    gold: DataFrame,
    onto: Ontology,
    doc_universe: DataFrame | None = None,
) -> dict[str, float]:
    """Returns micro/macro P/R/F1 over per-doc HPO sets."""
    pred = filter_abnormal(
        canonicalize_ids(predicted, spark, onto), spark, onto
    ).select("doc_id", "hpo_id").distinct()
    gld = filter_abnormal(
        canonicalize_ids(gold, spark, onto), spark, onto
    ).select("doc_id", "hpo_id").distinct()

    universe = doc_universe or pred.select("doc_id").union(
        gld.select("doc_id")
    ).distinct()

    tp = pred.join(gld, on=["doc_id", "hpo_id"], how="inner")

    per_doc = (
        universe.join(
            pred.groupBy("doc_id").agg(F.count("*").alias("n_pred")), "doc_id", "left"
        )
        .join(
            gld.groupBy("doc_id").agg(F.count("*").alias("n_gold")), "doc_id", "left"
        )
        .join(
            tp.groupBy("doc_id").agg(F.count("*").alias("n_tp")), "doc_id", "left"
        )
        .fillna(0, ["n_pred", "n_gold", "n_tp"])
    )

    per_doc = per_doc.withColumn(
        "p",
        F.when((F.col("n_gold") == 0) & (F.col("n_pred") == 0), F.lit(1.0)).otherwise(
            F.when(F.col("n_pred") > 0, F.col("n_tp") / F.col("n_pred")).otherwise(0.0)
        ),
    ).withColumn(
        "r",
        F.when((F.col("n_gold") == 0) & (F.col("n_pred") == 0), F.lit(1.0)).otherwise(
            F.when(F.col("n_gold") > 0, F.col("n_tp") / F.col("n_gold")).otherwise(0.0)
        ),
    )

    agg = per_doc.agg(
        F.sum("n_tp").alias("tp"),
        F.sum("n_pred").alias("npred"),
        F.sum("n_gold").alias("ngold"),
        F.avg("p").alias("macro_p"),
        F.avg("r").alias("macro_r"),
        F.count("*").alias("n_docs"),
    ).collect()[0]

    micro_p = agg.tp / agg.npred if agg.npred else 0.0
    micro_r = agg.tp / agg.ngold if agg.ngold else 0.0
    micro_f1 = (
        2 * micro_p * micro_r / (micro_p + micro_r) if micro_p + micro_r else 0.0
    )
    macro_f1 = (
        2 * agg.macro_p * agg.macro_r / (agg.macro_p + agg.macro_r)
        if agg.macro_p + agg.macro_r
        else 0.0
    )
    return {
        "micro_p": micro_p,
        "micro_r": micro_r,
        "micro_f1": micro_f1,
        "macro_p": agg.macro_p,
        "macro_r": agg.macro_r,
        "macro_f1": macro_f1,
        "n_docs": agg.n_docs,
        "tp": agg.tp,
        "n_pred": agg.npred,
        "n_gold": agg.ngold,
    }


def dag_set_similarity(
    spark: SparkSession,
    predicted: DataFrame,
    gold: DataFrame,
    onto: Ontology,
) -> float:
    """Mean over docs of the symmetric best-match DAG similarity
    (util.py:465-537): sim(a,b) = 2*depth(LCA)/(depth(a)+depth(b))."""
    sc = spark.sparkContext
    anc_b = sc.broadcast({k: v | {k} for k, v in onto.ancestors().items()})
    depth_b = sc.broadcast(onto.depth)

    pred = predicted.select("doc_id", "hpo_id").distinct()
    gld = gold.select("doc_id", "hpo_id").distinct()
    both = (
        pred.withColumn("side", F.lit("p"))
        .unionByName(gld.withColumn("side", F.lit("g")))
        .groupBy("doc_id")
        .agg(
            F.collect_set(F.when(F.col("side") == "p", F.col("hpo_id"))).alias("ps"),
            F.collect_set(F.when(F.col("side") == "g", F.col("hpo_id"))).alias("gs"),
        )
    )

    def sim_pair(a: str, b: str) -> float:
        anc = anc_b.value
        depth = depth_b.value
        common = anc.get(a, {a}) & anc.get(b, {b})
        if not common:
            return 0.0
        lca_d = max(depth.get(c, 0) for c in common)
        da, db = depth.get(a, 0), depth.get(b, 0)
        return 2.0 * lca_d / (da + db) if (da + db) else 1.0

    @F.pandas_udf("double")
    def set_sim(ps, gs):
        import pandas as pd

        out = []
        for p_list, g_list in zip(ps, gs):
            p_set = [x for x in (p_list if p_list is not None else []) if x]
            g_set = [x for x in (g_list if g_list is not None else []) if x]
            if not p_set and not g_set:
                out.append(1.0)
                continue
            if not p_set or not g_set:
                out.append(0.0)
                continue
            fwd = sum(max(sim_pair(a, b) for b in g_set) for a in p_set) / len(p_set)
            bwd = sum(max(sim_pair(b, a) for a in p_set) for b in g_set) / len(g_set)
            out.append((fwd + bwd) / 2.0)
        return pd.Series(out)

    row = both.agg(F.avg(set_sim("ps", "gs")).alias("s")).collect()[0]
    return float(row.s or 0.0)


def evaluate_report(
    spark: SparkSession,
    predictions: dict[str, DataFrame],
    gold: DataFrame,
    onto: Ontology,
) -> str:
    """Multi-tool comparison report, the rebuild of eval_all.py's
    three-section output (reference eval_all.py:260-321: micro P/R/F1
    per tool, macro P/R/F1 per tool, mean node similarity per tool).
    ``predictions`` maps a tool name to its (doc_id, hpo_id) triples —
    the reference reads the same shape from evaluate/<tool>/predict_*
    dirs (those prediction dirs are not shipped, so callers supply
    them; the engine's own triples are just one entry)."""
    rows_micro, rows_macro, rows_sim = [], [], []
    for tool, pred in predictions.items():
        m = evaluate_sets(spark, pred, gold, onto)
        s = dag_set_similarity(spark, pred, gold, onto)
        rows_micro.append(
            "%s Precision: %.4f\tRecal: %.4f\tF1 score: %.4f"
            % (tool, m["micro_p"], m["micro_r"], m["micro_f1"])
        )
        rows_macro.append(
            "%s Precision: %.4f\tRecal: %.4f\tF1 score: %.4f"
            % (tool, m["macro_p"], m["macro_r"], m["macro_f1"])
        )
        rows_sim.append("%s Similarity: %.4f" % (tool, s))
    return "\n".join(
        ["Evaluate in Micro Way"]
        + rows_micro
        + ["", "Evaluate in Macro Way"]
        + rows_macro
        + ["", "Evaluate in Node Similarity Way"]
        + rows_sim
    )
