"""Calibration sweep for the model-stage scorer on the val corpus
(protocol: calibrate on val ONLY; GSC+/ID-68/GeneReviews are held out
— tools/eval_corpora.py reports those once a config is frozen).

Usage:
  python tools/sweep_model.py                  # default grid on val
  python tools/sweep_model.py --datasets val,ID-68 --grid p3=0.7,0.75
"""

from __future__ import annotations

import itertools
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
    datasets = ["val"]
    for i, a in enumerate(sys.argv):
        if a == "--datasets":
            datasets = sys.argv[i + 1].split(",")

    grid = {
        "model_p2": [0.30],
        "model_topk": [50],
        "model_p3": [0.65, 0.70, 0.75, 0.80],
        "model_margin": [0.0],
    }
    for a in sys.argv:
        if a.startswith("--set:"):  # --set:model_margin=0.0,0.03
            k, vs = a[6:].split("=")
            grid[k] = [
                float(v) if "." in v or v.isdigit() else v
                for v in vs.split(",")
            ]

    spark = get_spark(master="local[16]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    onto = load_reference_ontology()

    loaded = {}
    for ds in datasets:
        docs = load_reference_corpus(spark, ds).persist()
        docs.count()
        docs_id = with_doc_id(docs).persist()
        docs_id.count()
        gold = (
            load_reference_gold(spark, ds)
            .withColumnRenamed("doc_id", "path")
            .join(docs_id.select("path", "doc_id"), on="path")
            .drop("path")
            .persist()
        )
        gold.count()
        loaded[ds] = (docs, docs_id, gold)

    keys = sorted(grid)
    for combo in itertools.product(*(grid[k] for k in keys)):
        overrides = dict(zip(keys, combo))
        cfg = PipelineConfig(use_model_stages=True, **overrides)
        tag = " ".join(f"{k.replace('model_', '')}={v}" for k, v in overrides.items())
        for ds in datasets:
            docs, docs_id, gold = loaded[ds]
            t0 = time.time()
            triples = annotate(spark, docs, onto, cfg)
            m = evaluate_sets(
                spark, triples, gold, onto, doc_universe=docs_id.select("doc_id")
            )
            print(
                f"[{ds}] {tag}: "
                f"P={m['micro_p']:.4f} R={m['micro_r']:.4f} F1={m['micro_f1']:.4f} "
                f"({time.time() - t0:.0f}s)",
                flush=True,
            )


if __name__ == "__main__":
    main()
