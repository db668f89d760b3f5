"""KG schema operators (operators/schema.py): SHACL-style shape
validation, predicate schema induction, inverse-predicate detection —
against hand-computed values on tiny triple tables."""

import pytest

from phenobert_spark.operators.schema import (
    Shape,
    detect_inverse_predicates,
    induce_subsumptions,
    infer_predicate_schema,
    schema_graph,
    validate_shapes,
)

SCHEMA = "subj string, pred string, obj string"


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(
        [
            ("c1", "placed", "o1"),
            ("c1", "placed", "o2"),
            ("c2", "placed", "o3"),
            ("s1", "located_in", "n1"),
            ("s2", "located_in", "nX"),  # nX not an approved nation
        ],
        SCHEMA,
    )


def test_min_count_needs_focus(spark, triples):
    with pytest.raises(ValueError):
        validate_shapes(triples, [Shape(pred="placed", min_count=1)]).collect()


def test_cardinality_violations(spark, triples):
    focus = spark.createDataFrame([("c1",), ("c2",), ("c3",)], "subj string")
    out = validate_shapes(
        triples, [Shape(pred="placed", min_count=1, max_count=1, focus=focus)]
    )
    rows = {(r.subj, r.constraint, r.detail) for r in out.collect()}
    # c3 has zero placed triples; c1 has two (> max 1); c2 conforms
    assert rows == {("c3", "min_count", "0"), ("c1", "max_count", "2")}


def test_obj_class_violation(spark, triples):
    approved = spark.createDataFrame([("n1",), ("n2",)], "obj string")
    out = validate_shapes(
        triples, [Shape(pred="located_in", obj_class=approved)]
    ).collect()
    assert len(out) == 1
    assert (out[0].subj, out[0].constraint, out[0].detail) == ("s2", "obj_class", "nX")


def test_obj_pattern_violation(spark, triples):
    out = validate_shapes(
        triples, [Shape(pred="placed", obj_pattern="o[0-9]+")]
    )
    assert out.count() == 0
    bad = validate_shapes(triples, [Shape(pred="located_in", obj_pattern="n[0-9]+")])
    assert [r.detail for r in bad.collect()] == ["nX"]


def test_shapes_reject_empty(spark, triples):
    with pytest.raises(ValueError):
        validate_shapes(triples, [])
    with pytest.raises(ValueError):
        validate_shapes(triples, [Shape(pred="placed")])


def test_predicate_schema_flags(spark, triples):
    out = {r.pred: r for r in infer_predicate_schema(triples).collect()}
    p = out["placed"]
    assert (p.n_triples, p.n_subj, p.n_obj, p.max_out, p.max_in) == (3, 2, 3, 2, 1)
    assert not p.is_functional and p.is_inverse_functional
    l = out["located_in"]
    assert l.is_functional and l.is_inverse_functional


def test_predicate_schema_dedups_triples(spark):
    t = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "x"), ("a", "p", "y")], SCHEMA
    )
    row = infer_predicate_schema(t).collect()[0]
    assert (row.n_triples, row.max_out) == (2, 2)


def test_inverse_predicates_hand_computed(spark):
    t = spark.createDataFrame(
        [
            ("a", "p", "x"),
            ("b", "p", "y"),
            ("x", "q", "a"),  # full flip of (a,p,x)
            ("y", "q", "b"),  # full flip of (b,p,y)
            ("a", "r", "x"),  # r flips only one of p's two pairs
        ],
        SCHEMA,
    )
    out = {(r.pred_a, r.pred_b): r for r in detect_inverse_predicates(t, 0.0).collect()}
    assert out[("p", "q")].jaccard == 1.0
    assert out[("p", "q")].n_shared == 2
    # r shares 1 flipped pair with q: J = 1 / (2 + 1 - 1) = 0.5
    assert out[("q", "r")].jaccard == pytest.approx(0.5, abs=1e-6)
    # threshold filters
    assert set(detect_inverse_predicates(t, 0.9).toPandas()[["pred_a", "pred_b"]].itertuples(index=False, name=None)) == {("p", "q")}


def test_inverse_excludes_self_pairs(spark):
    # symmetric predicate: every pair flips onto the SAME predicate
    t = spark.createDataFrame([("a", "sym", "b"), ("b", "sym", "a")], SCHEMA)
    assert detect_inverse_predicates(t, 0.0).count() == 0


def test_schema_graph_quotient(spark):
    t = spark.createDataFrame(
        [("s1", "in", "n1"), ("s2", "in", "n1"), ("s1", "sells", "p1"),
         ("zz", "in", "n1")],
        SCHEMA,
    )
    types = spark.createDataFrame(
        [("s1", "supplier"), ("s2", "supplier"), ("n1", "nation"), ("p1", "part")],
        "node string, type string",
    )
    out = {
        (r.subj_type, r.pred, r.obj_type): (r.n_triples, r.n_subj, r.n_obj)
        for r in schema_graph(t, types).collect()
    }
    assert out == {
        ("supplier", "in", "nation"): (2, 2, 1),
        ("supplier", "sells", "part"): (1, 1, 1),
        ("unknown", "in", "nation"): (1, 1, 1),
    }


def test_induce_subsumptions_directional(spark):
    # 'animal' appears in all 4 docs; 'cat' in 2 of them; 'rock' in 2
    # docs disjoint from cat. animal subsumes cat (P(animal|cat)=1,
    # P(cat|animal)=0.5); cat/rock never co-occur; animal/rock same
    # shape as cat.
    rows = [
        ("d1", "animal"), ("d1", "cat"),
        ("d2", "animal"), ("d2", "cat"),
        ("d3", "animal"), ("d3", "rock"),
        ("d4", "animal"), ("d4", "rock"),
    ]
    dt = spark.createDataFrame(rows, "doc_id string, term string")
    out = {
        (r.hypo, r.hyper): (r.n_shared, r.p_fwd, r.p_rev)
        for r in induce_subsumptions(dt, min_docs=2, p_threshold=0.8).collect()
    }
    assert out == {
        ("cat", "animal"): (2, 1.0, 0.5),
        ("rock", "animal"): (2, 1.0, 0.5),
    }


def test_induce_subsumptions_min_docs_prunes(spark):
    dt = spark.createDataFrame(
        [("d1", "a"), ("d1", "b"), ("d2", "a")], "doc_id string, term string"
    )
    # b appears in 1 doc < min_docs=2 -> pruned before pairing
    assert induce_subsumptions(dt, min_docs=2, p_threshold=0.5).count() == 0


def test_mine_path_rules_hand_computed(spark):
    # located_in: a->n1, b->n1, s->n2; part_of: n1->r1, n2->r2;
    # in_region asserted for a and b only -> rule confidence 2/3
    t = spark.createDataFrame(
        [
            ("a", "located_in", "n1"),
            ("b", "located_in", "n1"),
            ("s", "located_in", "n2"),
            ("n1", "part_of", "r1"),
            ("n2", "part_of", "r2"),
            ("a", "in_region", "r1"),
            ("b", "in_region", "r1"),
        ],
        SCHEMA,
    )
    from phenobert_spark.operators.schema import mine_path_rules

    rules = mine_path_rules(t).collect()
    assert len(rules) == 1
    r = rules[0]
    assert (r.body_p, r.body_q, r.head_t) == ("located_in", "part_of", "in_region")
    assert (r.n_body, r.support) == (3, 2)
    assert r.confidence == pytest.approx(2 / 3, abs=1e-6)


def test_mine_path_rules_excludes_self_heads(spark):
    # cycle: p(a,b), p(b,a) -> body (p,p) pair (a,a)... head p(a,a)
    # absent; but p(a,b)∧p(b,a) with head p would be self-supporting —
    # excluded by construction even when present
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a"), ("a", "p", "a")], SCHEMA
    )
    from phenobert_spark.operators.schema import mine_path_rules

    assert mine_path_rules(t).count() == 0


def test_apply_path_rule_infers_missing_only(spark):
    t = spark.createDataFrame(
        [
            ("a", "located_in", "n1"),
            ("b", "located_in", "n1"),
            ("n1", "part_of", "r1"),
            ("a", "in_region", "r1"),  # already asserted
        ],
        SCHEMA,
    )
    from phenobert_spark.operators.schema import apply_path_rule

    out = apply_path_rule(t, "located_in", "part_of", "in_region").collect()
    assert [(r.subj, r.pred, r.obj, r.n_paths) for r in out] == [
        ("b", "in_region", "r1", 1)
    ]
