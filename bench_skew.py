"""Skew-handling evidence: document-length skew with and without the
sentence-safe chunker (north rule: explicit salting for skewed
large-document partitions).

Corpus: many small docs + a few multi-megabyte giants (the classic
web-corpus tail). Without chunking, each giant document is one
indivisible row — one task runs minutes while every other core idles.
With chunking, giants split into bounded chunks BEFORE the candidate
UDF, so work spreads across all cores and results are identical.

Prints one JSON line with both wall times, the speedup, and a
result-equality check.
"""

from __future__ import annotations

import json
import random
import time


def main() -> None:
    from pyspark.sql import functions as F

    from phenobert_spark.config import PipelineConfig, get_spark
    from phenobert_spark.corpus import DOCUMENTS_SCHEMA
    from phenobert_spark.ontology import load_reference_ontology
    from phenobert_spark.pipeline import annotate

    spark = get_spark(app_name="bench-skew", master="local[16]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    onto = load_reference_ontology()

    rng = random.Random(42)
    surfaces = [s.lower() for h in sorted(onto.names)[:400] for s in onto.surfaces[h][:1]]
    filler = "patient clinic visit review history examination report".split()

    def sentence():
        return (
            " ".join(rng.choices(filler, k=rng.randint(4, 8)))
            + " " + rng.choice(surfaces) + ". "
        )

    small = [
        ("skew", f"s{i}.txt", "0" * 40, "en", "".join(sentence() for _ in range(12)))
        for i in range(2000)
    ]
    giants = [
        ("skew", f"g{i}.txt", "0" * 40, "en", "".join(sentence() for _ in range(120000)))
        for i in range(6)
    ]
    docs = spark.createDataFrame(small + giants, DOCUMENTS_SCHEMA).repartition(64).cache()
    n_docs = docs.count()
    total_mb = docs.agg(F.sum(F.length("content"))).collect()[0][0] / 1e6

    def run(chunk_bytes: int) -> tuple[float, int]:
        cfg = PipelineConfig(chunk_target_bytes=chunk_bytes)
        t0 = time.time()
        n = annotate(spark, docs, onto, cfg).count()
        return time.time() - t0, n

    run(4096)  # warm-up
    t_chunked, n_chunked = run(4096)
    t_chunked = min(t_chunked, run(4096)[0])
    t_whole, n_whole = run(1 << 30)
    t_whole = min(t_whole, run(1 << 30)[0])

    print(
        json.dumps(
            {
                "metric": "skew_chunking_speedup",
                "value": round(t_whole / t_chunked, 3),
                "unit": "x",
                "n_docs": n_docs,
                "corpus_mb": round(total_mb, 1),
                "wall_chunked_sec": round(t_chunked, 3),
                "wall_unchunked_sec": round(t_whole, 3),
                "triples_chunked": n_chunked,
                "triples_unchunked": n_whole,
                "results_equal": n_chunked == n_whole,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
