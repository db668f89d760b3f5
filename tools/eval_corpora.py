"""Measure micro/macro P/R/F1 on all four reference gold corpora in one
Spark session. Calibration happens on ``val`` (the reference's own
validation split); GSC+/ID-68/GeneReviews are reported as held-out.

Usage: python tools/eval_corpora.py [--model] [--datasets val,GSC+ ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from phenobert_spark.config import PipelineConfig, get_spark  # noqa: E402
from phenobert_spark.corpus import (  # noqa: E402
    load_reference_corpus,
    load_reference_gold,
    with_doc_id,
)
from phenobert_spark.evaluate import evaluate_sets  # noqa: E402
from phenobert_spark.ontology import load_reference_ontology  # noqa: E402
from phenobert_spark.pipeline import annotate  # noqa: E402


def main():
    use_model = "--model" in sys.argv
    datasets = ["val", "ID-68", "GSC+", "GeneReviews"]
    for i, a in enumerate(sys.argv):
        if a == "--datasets":
            datasets = sys.argv[i + 1].split(",")
    spark = get_spark(master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    onto = load_reference_ontology()
    overrides = {"use_model_stages": use_model}
    if "--drop-one-dict" in sys.argv:
        overrides["drop_one_dict"] = True
    if "--no-drop-one-dict" in sys.argv:
        overrides["drop_one_dict"] = False
    cfg = PipelineConfig(**overrides)
    print(f"config: model={use_model} d1dict={cfg.drop_one_dict}")
    for ds in datasets:
        t0 = time.time()
        docs = load_reference_corpus(spark, ds)
        docs_id = with_doc_id(docs)
        gold = (
            load_reference_gold(spark, ds)
            .withColumnRenamed("doc_id", "path")
            .join(docs_id.select("path", "doc_id"), on="path")
            .drop("path")
        )
        triples = annotate(spark, docs, onto, cfg)
        m = evaluate_sets(
            spark, triples, gold, onto, doc_universe=docs_id.select("doc_id")
        )
        print(
            f"{ds:12s} P={m['micro_p']:.4f} R={m['micro_r']:.4f} "
            f"F1={m['micro_f1']:.4f} (macroF1={m['macro_f1']:.4f} "
            f"tp={m['tp']} pred={m['n_pred']} gold={m['n_gold']}) "
            f"[{time.time() - t0:.1f}s]"
        )
    spark.stop()


if __name__ == "__main__":
    main()
