"""KG schema operators: SHACL-style shape validation, predicate schema
induction, inverse-predicate detection, schema-graph extraction,
taxonomy induction, and AMIE-style rule mining / rule-based completion.

The reference hard-codes its schema — every emitted annotation is a
(doc, has_phenotype, HPO:ID) row and the ontology's structure is fixed
by ``hpo.json`` (reference ``phenobert/utils/util.py:27-44``); nothing
validates or infers. A KG built from 10^12 heterogeneous documents
cannot assume that: extraction bugs surface as cardinality violations,
dangling object references, and malformed literals, and downstream
fusion needs to KNOW which predicates are functional before it can
pick conflict-resolution rules (``entity_resolution.fuse_triples``).

Scale shape (100 TB):

* ``validate_shapes`` turns each constraint into one aggregation or
  anti-join over the triple scan — cardinality checks are a
  groupBy(subj) count (map-side combinable), range checks are a
  broadcastable left-anti join against the class node-set, pattern
  checks are a stateless filter. No constraint ever materializes the
  conforming rows; only violations flow.
* ``infer_predicate_schema`` is a two-level aggregation: per-(pred,
  subj) and per-(pred, obj) partial counts, then a per-pred rollup.
  Functionality / inverse-functionality come from the max of those
  partials — never a distinct-collect.
* ``detect_inverse_predicates`` joins the triple table to its own
  (obj, subj) flip on the pair key, so candidate predicate pairs
  materialize only through actually-shared pairs (the same
  inverted-index discipline as ``kg_query.neighborhood_jaccard``);
  the per-(p, q) overlap then rolls up map-side.
* ``schema_graph`` is two broadcast joins against the vocabulary-sized
  type dim plus one groupBy on the tiny schema-edge key.
* ``induce_subsumptions`` and ``mine_path_rules`` share the
  inverted-index shape: candidates materialize only through a shared
  document / junction node, never a cross product; hub junctions are
  the known fan-out and are capped upstream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Shape:
    """One SHACL-style constraint on a predicate.

    ``min_count``/``max_count`` bound the number of ``pred`` triples
    per focus subject (min_count needs ``focus``: the node set the
    constraint quantifies over, since subjects with zero triples never
    appear in the triple table). ``obj_class`` restricts objects to a
    node set (sh:class analog). ``obj_pattern`` is an RE2-style regex
    objects must fully match (sh:pattern analog).
    """

    pred: str
    min_count: int | None = None
    max_count: int | None = None
    obj_class: DataFrame | None = None
    obj_pattern: str | None = None
    focus: DataFrame | None = None


def validate_shapes(triples: DataFrame, shapes: list[Shape]) -> DataFrame:
    """Validate a (subj, pred, obj) table against SHACL-style shapes.

    Returns violation rows only:
    (subj, pred, constraint, detail) where ``constraint`` is one of
    'min_count' / 'max_count' / 'obj_class' / 'obj_pattern' and
    ``detail`` carries the offending count or object. Conforming data
    produces an empty result.
    """
    if not shapes:
        raise ValueError("validate_shapes needs at least one Shape")
    parts: list[DataFrame] = []
    for sh in shapes:
        scoped = triples.filter(F.col("pred") == sh.pred)
        if sh.min_count is not None or sh.max_count is not None:
            counts = scoped.groupBy("subj").agg(F.count("*").alias("_n"))
            if sh.min_count is not None:
                if sh.focus is None:
                    raise ValueError(
                        f"min_count on {sh.pred!r} needs a focus node set: "
                        "zero-triple subjects are invisible in the triple table"
                    )
                focus = sh.focus.select(F.col(sh.focus.columns[0]).alias("subj"))
                have = counts.filter(F.col("_n") >= sh.min_count).select("subj")
                missing = focus.join(have, on="subj", how="left_anti")
                under = (
                    missing.join(counts, on="subj", how="left")
                    .select(
                        "subj",
                        F.lit(sh.pred).alias("pred"),
                        F.lit("min_count").alias("constraint"),
                        F.coalesce(F.col("_n"), F.lit(0))
                        .cast("string")
                        .alias("detail"),
                    )
                )
                parts.append(under)
            if sh.max_count is not None:
                parts.append(
                    counts.filter(F.col("_n") > sh.max_count).select(
                        "subj",
                        F.lit(sh.pred).alias("pred"),
                        F.lit("max_count").alias("constraint"),
                        F.col("_n").cast("string").alias("detail"),
                    )
                )
        if sh.obj_class is not None:
            cls = sh.obj_class.select(F.col(sh.obj_class.columns[0]).alias("obj"))
            parts.append(
                scoped.join(F.broadcast(cls), on="obj", how="left_anti").select(
                    "subj",
                    F.lit(sh.pred).alias("pred"),
                    F.lit("obj_class").alias("constraint"),
                    F.col("obj").alias("detail"),
                )
            )
        if sh.obj_pattern is not None:
            parts.append(
                scoped.filter(~F.col("obj").rlike(sh.obj_pattern)).select(
                    "subj",
                    F.lit(sh.pred).alias("pred"),
                    F.lit("obj_pattern").alias("constraint"),
                    F.col("obj").alias("detail"),
                )
            )
    if not parts:
        raise ValueError("no constraints set on any Shape")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def infer_predicate_schema(triples: DataFrame) -> DataFrame:
    """Induce a per-predicate schema summary from the triple table.

    Returns one row per predicate:
    (pred, n_triples, n_subj, n_obj, max_out, max_in,
    is_functional, is_inverse_functional) where max_out is the largest
    number of DISTINCT objects any one subject has under the predicate
    (functional ⇔ max_out == 1) and max_in the converse.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    out_deg = t.groupBy("pred", "subj").agg(F.count("*").alias("_o"))
    in_deg = t.groupBy("pred", "obj").agg(F.count("*").alias("_i"))
    by_subj = out_deg.groupBy("pred").agg(
        F.sum("_o").alias("n_triples"),
        F.count("*").alias("n_subj"),
        F.max("_o").alias("max_out"),
    )
    by_obj = in_deg.groupBy("pred").agg(
        F.count("*").alias("n_obj"),
        F.max("_i").alias("max_in"),
    )
    return by_subj.join(by_obj, on="pred").select(
        "pred",
        F.col("n_triples").cast("bigint").alias("n_triples"),
        F.col("n_subj").cast("bigint").alias("n_subj"),
        F.col("n_obj").cast("bigint").alias("n_obj"),
        F.col("max_out").cast("bigint").alias("max_out"),
        F.col("max_in").cast("bigint").alias("max_in"),
        (F.col("max_out") == 1).alias("is_functional"),
        (F.col("max_in") == 1).alias("is_inverse_functional"),
    )


def detect_inverse_predicates(
    triples: DataFrame, min_jaccard: float = 0.9
) -> DataFrame:
    """Find predicate pairs (p, q) where q's triples are p's flipped.

    Jaccard over pair sets: |{(s,o): (s,p,o)} ∩ {(s,o): (o,q,s)}| /
    |union|. Returns (pred_a, pred_b, n_shared, n_a, n_b, jaccard)
    with pred_a < pred_b, jaccard rounded to 6 places, filtered to
    ``min_jaccard``. Self-pairs (symmetric predicates) are excluded.
    Candidate pairs materialize only through shared (s, o) pairs.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    fwd = t.select("pred", "subj", "obj")
    rev = t.select(
        F.col("pred").alias("_q"),
        F.col("obj").alias("subj"),
        F.col("subj").alias("obj"),
    )
    sizes = t.groupBy("pred").agg(F.count("*").alias("_n"))
    shared = (
        fwd.join(rev, on=["subj", "obj"])
        .filter(F.col("pred") < F.col("_q"))
        .groupBy(F.col("pred").alias("pred_a"), F.col("_q").alias("pred_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        shared.join(
            sizes.select(F.col("pred").alias("pred_a"), F.col("_n").alias("n_a")),
            on="pred_a",
        )
        .join(
            sizes.select(F.col("pred").alias("pred_b"), F.col("_n").alias("n_b")),
            on="pred_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return out.select("pred_a", "pred_b", "n_shared", "n_a", "n_b", "jaccard")


def schema_graph(
    triples: DataFrame,
    node_types: DataFrame,
    default_type: str = "unknown",
) -> DataFrame:
    """Quotient graph: collapse the instance KG to its type schema.

    ``node_types`` is a (node, type) dim table; every triple maps to
    the edge (type(subj), pred, type(obj)) and the quotient counts how
    many instance triples each schema edge summarizes. Nodes absent
    from ``node_types`` collapse to ``default_type``. Returns
    (subj_type, pred, obj_type, n_triples, n_subj, n_obj).

    Scale shape: two joins against the type dim (vocabulary-sized →
    broadcast) and one groupBy on the (tiny) schema-edge key with
    approx-free distinct counts computed from partial (key, node)
    pairs. The output IS the dataset card: which entity types connect
    through which predicates, and how much data sits on each edge.
    """
    st = node_types.select(
        F.col(node_types.columns[0]).alias("subj"),
        F.col(node_types.columns[1]).alias("subj_type"),
    )
    ot = node_types.select(
        F.col(node_types.columns[0]).alias("obj"),
        F.col(node_types.columns[1]).alias("obj_type"),
    )
    typed = (
        triples.join(F.broadcast(st), on="subj", how="left")
        .join(F.broadcast(ot), on="obj", how="left")
        .select(
            F.coalesce("subj_type", F.lit(default_type)).alias("subj_type"),
            "pred",
            F.coalesce("obj_type", F.lit(default_type)).alias("obj_type"),
            "subj",
            "obj",
        )
    )
    return typed.groupBy("subj_type", "pred", "obj_type").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )


def induce_subsumptions(
    doc_terms: DataFrame,
    doc: str = "doc_id",
    term: str = "term",
    min_docs: int = 2,
    p_threshold: float = 0.8,
) -> DataFrame:
    """Taxonomy induction by directional document co-occurrence
    (Hearst-free subsumption: broad `hyper` appears in ~every doc its
    narrower `hypo` appears in, but not conversely).

    hyper subsumes hypo when P(hyper | hypo) = |docs(hypo) ∩
    docs(hyper)| / |docs(hypo)| >= ``p_threshold`` AND
    P(hypo | hyper) < ``p_threshold`` (the asymmetry excludes
    synonyms/duplicates, which co-vary in both directions). Terms in
    fewer than ``min_docs`` documents are dropped first — singleton
    terms subsume trivially and are pure noise.

    Returns (hypo, hyper, n_shared, n_hypo, n_hyper, p_fwd, p_rev),
    probabilities rounded to 6. Candidate pairs materialize only
    through a shared document (inverted-index self-join on doc), never
    the term cross product; the known hot spot is a mega-document
    containing every term — bound document vocabulary upstream (the
    quality-filter stage already caps doc length).
    """
    dt = doc_terms.select(F.col(doc).alias("d"), F.col(term).alias("t")).distinct()
    freq = dt.groupBy("t").agg(F.count("*").alias("n")).filter(
        F.col("n") >= min_docs
    )
    dt = dt.join(freq.select("t"), on="t")
    a = dt.select("d", F.col("t").alias("hypo"))
    b = dt.select("d", F.col("t").alias("hyper"))
    shared = (
        a.join(b, on="d")
        .filter(F.col("hypo") != F.col("hyper"))
        .groupBy("hypo", "hyper")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        shared.join(
            freq.select(F.col("t").alias("hypo"), F.col("n").alias("n_hypo")),
            on="hypo",
        )
        .join(
            freq.select(F.col("t").alias("hyper"), F.col("n").alias("n_hyper")),
            on="hyper",
        )
        .withColumn("p_fwd", F.round(F.col("n_shared") / F.col("n_hypo"), 6))
        .withColumn("p_rev", F.round(F.col("n_shared") / F.col("n_hyper"), 6))
        .filter(
            (F.col("p_fwd") >= p_threshold) & (F.col("p_rev") < p_threshold)
        )
    )
    return out.select(
        "hypo", "hyper", "n_shared", "n_hypo", "n_hyper", "p_fwd", "p_rev"
    )


def mine_path_rules(
    triples: DataFrame,
    min_support: int = 1,
) -> DataFrame:
    """AMIE-style 2-hop horn-rule mining:
    p(x, y) ∧ q(y, z) ⇒ t(x, z).

    For every predicate pair (p, q) the rule BODY is the set of
    distinct (x, z) pairs connected by a p∘q path; for every target
    predicate t, ``support`` counts body pairs that are also t-triples
    and ``confidence = support / n_body`` (CWA confidence — the
    standard PCA variant needs negative evidence this sandbox's
    fixtures can't ground). Rules with t == p or t == q are excluded
    (trivially self-supporting via cycles).

    Returns (body_p, body_q, head_t, n_body, support, confidence),
    confidence rounded to 6.

    Scale shape: one self-join on the path junction y (shuffle on the
    node key, the same exchange every 2-hop query pays), one distinct
    to body pairs, then a broadcast-friendly join against the triple
    table keyed (x, z) — rule heads materialize only through actual
    co-occurring pairs, never the predicate³ cross product. Hub
    junctions fan out p-deg × q-deg; cap them upstream with the
    ``neighborhood_jaccard`` hub guard when mining over hub-heavy
    graphs.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    left = t.select(
        F.col("pred").alias("body_p"),
        F.col("subj").alias("x"),
        F.col("obj").alias("y"),
    )
    right = t.select(
        F.col("pred").alias("body_q"),
        F.col("subj").alias("y"),
        F.col("obj").alias("z"),
    )
    body = (
        left.join(right, on="y")
        .select("body_p", "body_q", "x", "z")
        .distinct()
    )
    body_sizes = body.groupBy("body_p", "body_q").agg(
        F.count("*").alias("n_body")
    )
    heads = t.select(
        F.col("pred").alias("head_t"),
        F.col("subj").alias("x"),
        F.col("obj").alias("z"),
    )
    supp = (
        body.join(heads, on=["x", "z"])
        .filter(
            (F.col("head_t") != F.col("body_p"))
            & (F.col("head_t") != F.col("body_q"))
        )
        .groupBy("body_p", "body_q", "head_t")
        .agg(F.count("*").alias("support"))
    )
    out = (
        supp.join(body_sizes, on=["body_p", "body_q"])
        .withColumn(
            "confidence", F.round(F.col("support") / F.col("n_body"), 6)
        )
        .filter(F.col("support") >= min_support)
    )
    return out.select(
        "body_p", "body_q", "head_t", "n_body", "support", "confidence"
    )


def apply_path_rule(
    triples: DataFrame,
    body_p: str,
    body_q: str,
    head_t: str,
) -> DataFrame:
    """KG completion by rule application: emit the t(x, z) triples the
    rule p(x, y) ∧ q(y, z) ⇒ t(x, z) INFERS — path pairs not already
    asserted. Returns (subj, pred, obj, n_paths) with pred = head_t
    and n_paths the number of distinct junction witnesses (an evidence
    count ``pool_evidence`` can weight downstream).

    One junction self-join (both sides pre-filtered to single
    predicates — pushed-down scans) + one left-anti join against the
    asserted t-triples.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    left = t.filter(F.col("pred") == body_p).select(
        F.col("subj").alias("x"), F.col("obj").alias("y")
    )
    right = t.filter(F.col("pred") == body_q).select(
        F.col("subj").alias("y"), F.col("obj").alias("z")
    )
    paths = left.join(right, on="y").groupBy("x", "z").agg(
        F.countDistinct("y").alias("n_paths")
    )
    asserted = t.filter(F.col("pred") == head_t).select(
        F.col("subj").alias("x"), F.col("obj").alias("z")
    )
    return (
        paths.join(asserted, on=["x", "z"], how="left_anti")
        .select(
            F.col("x").alias("subj"),
            F.lit(head_t).alias("pred"),
            F.col("z").alias("obj"),
            "n_paths",
        )
    )
