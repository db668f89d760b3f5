"""spark-submit entry point: graph analytics over the engine's OWN
knowledge graph (the materialized triple table), not contract fixtures.

    spark-submit --master <cluster> --py-files phenobert_spark.zip \
        jobs/kg_metrics.py \
        --triples <parquet of (doc_id, hpo_id[, ...]) triples> \
        --output  <dir> \
        [--iters 5] [--lpa-iters 3] [--seeds HP:0000001,HP:...]
        [--top-ic-seeds 10] [--ontology reference|fixture]

Composes the verified graph-metric family (operators/kg_metrics.py,
q109/q113/q127/q137 contract queries) into the one-pass report a KG
consumer runs after construction:

    <output>/concept_ic/   IC(c) = -ln(df(c or descendant)/N) per
                           concept (annotation-frequency information
                           content, the Resnik/Lin building block)
    <output>/pagerank/     global centrality over the doc->concept
                           annotation edges UNION the concept->parent
                           ontology edges (fixed-iteration, exactly the
                           q113-verified arithmetic)
    <output>/communities/  deterministic label-propagation communities
                           over the same bipartite+taxonomy graph
    <output>/ppr/          personalized PageRank from --seeds (or, by
                           default, the --top-ic-seeds most-annotated
                           concepts) — "what is related to THESE
                           phenotypes" relatedness ranking
    <output>/summary/      one-row structural profile (node/edge
                           counts, degree stats, assortativity) — the
                           per-snapshot drift dashboard (q145)
    <output>/link_candidates/  neighborhood-overlap link proposals
                           over the doc<->concept bipartite graph:
                           concept pairs co-annotated in >=
                           --link-min-cn documents, ranked by
                           Adamic-Adar (q140) — candidate
                           related_to edges for review
    <output>/neighborhood/  HyperBall neighborhood function N(r) +
                           effective diameter (q169) — how far
                           influence travels in the built graph
    <output>/training_negatives/  one deterministic corrupted concept
                           per annotation triple (q148) — the
                           negative half of a KG-embedding training
                           set, re-derivable by any engine

Scale shape: the ontology (18k concepts) is the broadcast-able dim —
its ancestor closure is built driver-side from the already-loaded
ontology object and broadcast, never via a distributed fixpoint over
the corpus. Every iteration of the rank/label loops is one
rank-onto-edges equi-join + one dst-keyed aggregate, the q113-pinned
plan; the corpus-sized annotation edge table is scanned, never
collected.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F


def main(argv: list[str] | None = None, spark=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--triples", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--iters", type=int, default=5)
    p.add_argument("--lpa-iters", type=int, default=3)
    p.add_argument("--seeds", default=None)
    p.add_argument("--top-ic-seeds", type=int, default=10)
    p.add_argument("--link-min-cn", type=int, default=2)
    p.add_argument("--hb-radius", type=int, default=4)
    p.add_argument(
        "--ontology", choices=["reference", "fixture"], default="reference"
    )
    args = p.parse_args(argv)

    from phenobert_spark.config import get_spark, local_frame
    from phenobert_spark.ontology import fixture_ontology, get_ontology
    from phenobert_spark.operators.kg_metrics import (
        concept_information_content,
        graph_summary,
        label_propagation,
        link_prediction,
        pagerank,
        personalized_pagerank,
    )
    from phenobert_spark.operators.entity_resolution import (
        negative_sample_triples,
    )

    owns_session = spark is None
    if owns_session:
        spark = get_spark(app_name="kg-metrics")
    onto = (
        fixture_ontology() if args.ontology == "fixture" else get_ontology()
    )

    triples = spark.read.parquet(args.triples)
    ann = triples.select("doc_id", F.col("hpo_id").alias("concept"))

    # Ontology-side closure: driver BFS over the (small, broadcast-able)
    # taxonomy — the J6 discipline the pipeline itself uses; the
    # distributed fixpoint (operators/closure.transitive_closure) is for
    # graphs that do NOT fit the driver.
    closure_rows = [
        (node, anc)
        for node, ancs in onto.ancestors().items()
        for anc in ancs | {node}
    ]
    closure_self = local_frame(spark, closure_rows, "node string, anc string")

    ic = concept_information_content(
        ann, closure_self, concept_col="concept"
    ).localCheckpoint(eager=True)
    ic.write.mode("overwrite").parquet(f"{args.output}/concept_ic")

    onto_edges = onto.edges_df(spark).select(
        F.col("child").alias("src"), F.col("parent").alias("dst")
    )
    edges = ann.select(
        F.col("doc_id").alias("src"), F.col("concept").alias("dst")
    ).unionByName(onto_edges)

    pagerank(edges, iters=args.iters).write.mode("overwrite").parquet(
        f"{args.output}/pagerank"
    )
    label_propagation(edges, iters=args.lpa_iters).write.mode(
        "overwrite"
    ).parquet(f"{args.output}/communities")

    if args.seeds:
        seeds = local_frame(
            spark, [(s,) for s in args.seeds.split(",")], "node string"
        )
    else:
        # deterministic default: the most-annotated concepts
        seeds = (
            ic.orderBy(F.desc("n_docs"), "concept")
            .limit(args.top_ic_seeds)
            .select(F.col("concept").alias("node"))
        )
    personalized_pagerank(edges, seeds, iters=args.iters).write.mode(
        "overwrite"
    ).parquet(f"{args.output}/ppr")

    graph_summary(edges).write.mode("overwrite").parquet(
        f"{args.output}/summary"
    )
    # Link proposals over the doc<->concept bipartite slice only (the
    # taxonomy is curated; we propose edges where the CORPUS, not the
    # ontology, supplies the evidence). In a bipartite graph,
    # concept-concept pairs arise ONLY from wedges centered at a
    # document, whose degree is bounded by annotations-per-doc; a
    # wedge centered at a frequent CONCEPT would fan out doc-doc
    # pairs at corpus scale — the center cap cuts those hubs, and the
    # HP: filter drops the residual doc-doc pairs from rare concepts.
    bip = ann.select(
        F.col("doc_id").alias("src"), F.col("concept").alias("dst")
    )
    (
        link_prediction(
            bip, min_cn=args.link_min_cn, max_center_degree=256
        )
        .filter(F.col("node_a").startswith("HP:"))
        .filter(F.col("node_b").startswith("HP:"))
        .write.mode("overwrite")
        .parquet(f"{args.output}/link_candidates")
    )

    # Training negatives for KG-embedding fitting (q148 operator): one
    # deterministic corrupted concept per (doc, annotated_with, concept)
    # positive — pure function of the triple, so every shard/backfill
    # re-derives the same negative. Entity index = concept vocabulary
    # (dim-sized, broadcast).
    negative_sample_triples(
        ann.distinct().withColumn("rel", F.lit("annotated_with")),
        head_col="doc_id",
        rel_col="rel",
        tail_col="concept",
        salt="kg-neg",
    ).write.mode("overwrite").parquet(f"{args.output}/training_negatives")

    # KG quality gate (q155/q161/q162 operators): pooled per-triple
    # confidence, SHACL-style violation report, and the type-quotient
    # dataset card. Mention-level rows (one per detected span) pool to
    # one confidence per (doc, concept) via noisy-OR; the shape pass
    # flags dangling concepts (objects the ontology does not know) and
    # malformed ids; the schema card summarizes what was built.
    from phenobert_spark.operators.entity_resolution import pool_evidence
    from phenobert_spark.operators.schema import (
        Shape,
        schema_graph,
        validate_shapes,
    )

    mention_triples = triples.select(
        F.col("doc_id").alias("subj"),
        F.lit("has_phenotype").alias("pred"),
        F.col("concept" if "concept" in triples.columns else "hpo_id").alias(
            "obj"
        ),
        *( [F.col("score").alias("score")]
           if "score" in triples.columns
           else [F.lit(0.9).alias("score")] ),
    )
    pool_evidence(mention_triples).write.mode("overwrite").parquet(
        f"{args.output}/fused_confidence"
    )

    concept_nodes = local_frame(
        spark, [(c,) for c in onto.ancestors().keys()], "obj string"
    )
    validate_shapes(
        mention_triples.select("subj", "pred", "obj"),
        [
            Shape(
                pred="has_phenotype",
                obj_class=concept_nodes,
                obj_pattern="HP:[0-9]+",
            )
        ],
    ).write.mode("overwrite").parquet(f"{args.output}/shape_violations")

    concept_types = concept_nodes.select(
        F.col("obj").alias("node"), F.lit("phenotype").alias("type")
    )
    # card over the KG edge set (distinct triples), not mention rows —
    # the card describes what was BUILT; mention volume lives in
    # fused_confidence.n_mentions
    schema_graph(
        mention_triples.select("subj", "pred", "obj").distinct(),
        concept_types,
        default_type="document",
    ).write.mode("overwrite").parquet(f"{args.output}/schema_card")

    # Neighborhood function + effective diameter (q169 operator): how
    # far influence travels in the built KG — per-node HyperLogLog
    # ball counters merged along edges (HyperBall), O(n * 2^p) state
    # instead of materialized reachable sets, so the same call runs
    # on the 10^12-edge graph.
    from phenobert_spark.operators.kg_metrics import (
        effective_diameter,
        hyperball,
        neighborhood_function,
    )

    hb = hyperball(edges, radius=args.hb_radius, p=9)
    nf = neighborhood_function(hb).localCheckpoint(eager=True)
    d90 = effective_diameter(hb, quantile=0.9)
    nf.withColumn("effective_diameter_q90", F.lit(d90)).write.mode(
        "overwrite"
    ).parquet(f"{args.output}/neighborhood")

    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
