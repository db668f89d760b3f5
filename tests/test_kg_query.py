"""KG query operators (operators/kg_query.py): BGP matching, snapshot
diff, neighborhood Jaccard, deterministic random walks — against
hand-computed values on tiny graphs."""

import hashlib

import pytest

from phenobert_spark.operators.kg_query import (
    bgp_match,
    ego_sample,
    kg_snapshot_diff,
    kg_time_travel,
    neighborhood_jaccard,
    random_walks,
)

TRIPLES = [
    ("s1", "located_in", "n1"),
    ("s2", "located_in", "n2"),
    ("c1", "located_in", "n1"),
    ("n1", "part_of", "r1"),
    ("n2", "part_of", "r2"),
]


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(TRIPLES, "subj string, pred string, obj string")


def test_bgp_two_pattern_join(spark, triples):
    out = bgp_match(
        triples, [("?e", "located_in", "?n"), ("?n", "part_of", "r1")]
    )
    rows = {(r.e, r.n) for r in out.collect()}
    assert rows == {("s1", "n1"), ("c1", "n1")}


def test_bgp_all_variables_and_constants(spark, triples):
    out = bgp_match(triples, [("?s", "?p", "?o")])
    assert out.count() == len(TRIPLES)
    one = bgp_match(triples, [("s1", "located_in", "?n")])
    assert [r.n for r in one.collect()] == ["n1"]


def test_bgp_repeated_variable_is_equality(spark):
    t = spark.createDataFrame(
        [("a", "self", "a"), ("a", "self", "b")],
        "subj string, pred string, obj string",
    )
    out = bgp_match(t, [("?x", "self", "?x")])
    assert [r.x for r in out.collect()] == ["a"]


def test_bgp_rejects_empty(spark, triples):
    with pytest.raises(ValueError):
        bgp_match(triples, [])


def test_bgp_optional_binds_null_when_unmatched(spark):
    t = spark.createDataFrame(
        [
            ("s1", "located_in", "n1"),
            ("c1", "located_in", "n1"),
            ("c1", "band", "b7"),
        ],
        "subj string, pred string, obj string",
    )
    out = {
        r.e: r.b
        for r in bgp_match(
            t, [("?e", "located_in", "?n")], optional=[("?e", "band", "?b")]
        ).collect()
    }
    assert out == {"s1": None, "c1": "b7"}


def test_bgp_filter_applies_after_joins(spark, triples):
    out = bgp_match(
        triples,
        [("?e", "located_in", "?n"), ("?n", "part_of", "?r")],
        filters=["r = 'r2'"],
    ).collect()
    assert [(r.e, r.r) for r in out] == [("s2", "r2")]


def test_bgp_rejects_disconnected_optional(spark, triples):
    with pytest.raises(ValueError):
        bgp_match(
            triples, [("?e", "located_in", "?n")], optional=[("?x", "part_of", "?y")]
        )


def _md5_rank(seed, hop, src, cands):
    return sorted(
        cands,
        key=lambda d: hashlib.md5(f"{seed}|{hop}|{src}|{d}".encode()).hexdigest(),
    )


def test_ego_sample_caps_fanout_deterministically(spark):
    edges = spark.createDataFrame(
        [("p", "a"), ("p", "b"), ("p", "c"), ("a", "x"), ("a", "y"), ("b", "x")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("p",)], "seed string")
    out = ego_sample(edges, seeds, fanouts=[2, 1]).collect()
    hop1 = {r.dst for r in out if r.hop == 1}
    assert hop1 == set(_md5_rank("p", 1, "p", ["a", "b", "c"])[:2])
    # hop 2: each sampled hop-1 node contributes at most 1 out-edge
    hop2 = {(r.src, r.dst) for r in out if r.hop == 2}
    expected2 = set()
    for node in hop1:
        cands = {"a": ["x", "y"], "b": ["x"], "c": []}[node]
        if cands:
            expected2.add((node, _md5_rank("p", 2, node, cands)[0]))
    assert hop2 == expected2
    # re-run bit-identical
    again = {(r.seed, r.hop, r.src, r.dst) for r in ego_sample(edges, seeds, [2, 1]).collect()}
    assert again == {(r.seed, r.hop, r.src, r.dst) for r in out}


def test_ego_sample_rejects_bad_fanouts(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "seed string")
    with pytest.raises(ValueError):
        ego_sample(edges, seeds, [])
    with pytest.raises(ValueError):
        ego_sample(edges, seeds, [2, 0])


def test_snapshot_diff_classifies(spark):
    old = spark.createDataFrame(
        [("a", "p", "x", 1), ("b", "p", "y", 2), ("c", "p", "z", 3)],
        "subj string, pred string, obj string, conf int",
    )
    new = spark.createDataFrame(
        [("a", "p", "x", 1), ("b", "p", "y", 5), ("d", "p", "w", 4)],
        "subj string, pred string, obj string, conf int",
    )
    out = {
        r.subj: (r.change, r.old_conf, r.new_conf)
        for r in kg_snapshot_diff(old, new, conf_col="conf").collect()
    }
    # (a,p,x) unchanged -> absent
    assert out == {
        "b": ("changed", 2, 5),
        "c": ("removed", 3, None),
        "d": ("added", None, 4),
    }


def test_snapshot_diff_null_conf_transition_is_changed(spark):
    # conf NULL -> 7 and 7 -> NULL are CHANGES; plain != would yield
    # NULL in the when-chain and silently drop both rows as unchanged
    old = spark.createDataFrame(
        [("a", "p", "x", None), ("b", "p", "y", 7), ("c", "p", "z", None)],
        "subj string, pred string, obj string, conf int",
    )
    new = spark.createDataFrame(
        [("a", "p", "x", 7), ("b", "p", "y", None), ("c", "p", "z", None)],
        "subj string, pred string, obj string, conf int",
    )
    out = {
        r.subj: (r.change, r.old_conf, r.new_conf)
        for r in kg_snapshot_diff(old, new, conf_col="conf").collect()
    }
    # c: NULL == NULL null-safely -> unchanged -> absent
    assert out == {
        "a": ("changed", None, 7),
        "b": ("changed", 7, None),
    }


def test_snapshot_diff_without_conf(spark):
    old = spark.createDataFrame([("a", "p", "x")], "subj string, pred string, obj string")
    new = spark.createDataFrame([("b", "p", "y")], "subj string, pred string, obj string")
    out = {(r.subj, r.change) for r in kg_snapshot_diff(old, new).collect()}
    assert out == {("a", "removed"), ("b", "added")}


def test_neighborhood_jaccard_hand_computed(spark):
    # a: {x, y}; b: {y, z}; c: {q}  -> only (a, b) share, J = 1/3
    edges = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "y"), ("b", "z"), ("c", "q")],
        "node string, neighbor string",
    )
    rows = neighborhood_jaccard(edges).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.node_a, r.node_b, r.n_shared, r.deg_a, r.deg_b) == ("a", "b", 1, 2, 2)
    assert r.jaccard == pytest.approx(1 / 3, abs=1e-6)


def test_neighborhood_jaccard_hub_guard(spark):
    # hub neighbor h is shared by all three nodes; with the guard at 2
    # it is dropped BEFORE pairing and before degree counting
    edges = spark.createDataFrame(
        [("a", "h"), ("b", "h"), ("c", "h"), ("a", "y"), ("b", "y")],
        "node string, neighbor string",
    )
    no_guard = neighborhood_jaccard(edges)
    assert no_guard.count() == 3  # (a,b), (a,c), (b,c)
    guarded = neighborhood_jaccard(edges, max_neighbor_degree=2).collect()
    assert len(guarded) == 1
    r = guarded[0]
    assert (r.node_a, r.node_b, r.deg_a, r.deg_b) == ("a", "b", 1, 1)
    assert r.jaccard == 1.0


def test_time_travel_replays_log(spark):
    log = spark.createDataFrame(
        [
            ("a", "p", "x", 1, "add"),
            ("a", "p", "x", 3, "remove"),
            ("b", "p", "y", 2, "add"),
            ("c", "p", "z", 5, "add"),  # after the snapshot point
            ("d", "p", "w", 1, "add"),
            ("d", "p", "w", 2, "remove"),
            ("d", "p", "w", 4, "add"),  # re-added before the snapshot
        ],
        "subj string, pred string, obj string, ts int, op string",
    )
    live = {r.subj: r.as_of_ts for r in kg_time_travel(log, 4).collect()}
    # a removed at 3; b live since 2; c not yet added; d re-added at 4
    assert live == {"b": 2, "d": 4}


def test_time_travel_tie_resolves_to_remove(spark):
    log = spark.createDataFrame(
        [("a", "p", "x", 1, "add"), ("a", "p", "x", 1, "remove")],
        "subj string, pred string, obj string, ts int, op string",
    )
    assert kg_time_travel(log, 9).count() == 0


def _expected_hop(walk_id: str, step: int, cands: list[str]) -> str:
    return min(
        cands,
        key=lambda d: hashlib.md5(f"{walk_id}|{step}|{d}".encode()).hexdigest(),
    )


def test_random_walks_follow_md5_argmin(spark):
    edges = spark.createDataFrame(
        [("p", "s1"), ("p", "s2"), ("p", "s3"), ("s1", "n"), ("s2", "n"), ("s3", "m")],
        "src string, dst string",
    )
    out = {r.walk_id: r for r in random_walks(edges, walk_len=2).collect()}
    # starts at every SOURCE node: p, s1, s2, s3
    assert set(out) == {"p#0", "s1#0", "s2#0", "s3#0"}
    hop1 = _expected_hop("p#0", 1, ["s1", "s2", "s3"])
    hop2 = {"s1": "n", "s2": "n", "s3": "m"}[hop1]
    assert list(out["p#0"].path) == ["p", hop1, hop2]
    assert out["p#0"].steps == 2
    # s-walks hit the sink n/m after one hop and stop early
    assert list(out["s1#0"].path) == ["s1", "n"] and out["s1#0"].steps == 1


def test_random_walks_rejects_bad_len(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        random_walks(edges, walk_len=0)


def test_skipgram_pairs_hand_computed(spark):
    from pyspark.sql import functions as F

    from phenobert_spark.operators.kg_query import skipgram_pairs

    walks = spark.createDataFrame(
        [("w1", ["a", "b", "c", "d"]), ("w2", ["a", "b"])],
        "walk_id string, path array<string>",
    )
    got = {
        (r.center, r.context): r.n
        for r in skipgram_pairs(walks, window=1).collect()
    }
    # w1 adjacent pairs both directions + w2's a<->b
    assert got[("a", "b")] == 2 and got[("b", "a")] == 2
    assert got[("b", "c")] == 1 and got[("c", "d")] == 1
    assert ("a", "c") not in got  # beyond window 1
    # window 2 includes distance-2 pairs
    got2 = {
        (r.center, r.context): r.n
        for r in skipgram_pairs(walks, window=2).collect()
    }
    assert got2[("a", "c")] == 1 and got2[("b", "d")] == 1
    assert ("a", "d") not in got2


def test_skipgram_pairs_rejects_bad_window(spark):
    import pytest

    from phenobert_spark.operators.kg_query import skipgram_pairs

    walks = spark.createDataFrame(
        [("w", ["a"])], "walk_id string, path array<string>"
    )
    with pytest.raises(ValueError):
        skipgram_pairs(walks, window=0)
