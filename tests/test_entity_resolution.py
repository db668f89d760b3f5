"""Blocked ER matching + deterministic KG negative sampling
(operators/entity_resolution.py) against hand-computed values."""

import hashlib

import pyspark.sql.functions as F
import pytest

from phenobert_spark.operators.entity_resolution import (
    blocked_matches,
    negative_sample_triples,
)

ROWS = [
    # (id, name, brand)
    (1, "small ring", "B1"),
    (2, "small rings", "B1"),   # lev 1 from id 1, same block
    (3, "small rod", "B1"),     # lev 3 from "small ring" -> above max_edit
    (4, "small ring", "B2"),    # exact dup name but different brand block
    (5, "large ring", "B1"),    # different first token -> different block
    (6, "small ringo", "B1"),   # lev 1 from id 1, lev 2 from id 2
]


@pytest.fixture(scope="module")
def parts(spark):
    return spark.createDataFrame(ROWS, "id bigint, name string, brand string")


def _pairs(df):
    return {(r.id_a, r.id_b): (r.edit_dist, r.sim) for r in df.collect()}


def test_blocked_matches_hand_computed(spark, parts):
    out = blocked_matches(
        parts,
        id_col="id",
        name_col="name",
        block_cols=[F.col("brand"), F.substring_index(F.col("name"), " ", 1)],
        max_edit=2,
    )
    got = _pairs(out)
    # block (B1, "small") holds ids {1,2,3,6}; (B2,"small")={4}; (B1,"large")={5}
    assert set(got) == {(1, 2), (1, 6), (2, 6)}
    assert got[(1, 2)][0] == 1           # ring -> rings
    assert got[(1, 6)][0] == 1           # ring -> ringo
    assert got[(2, 6)][0] == 1           # rings -> ringo (s->o)
    # sim = 1 - dist / max(len): (1,2) -> 1 - 1/11
    assert got[(1, 2)][1] == pytest.approx(1 - 1 / 11, abs=1e-6)


TRIPLES = [(h, "r", t) for h, t in [(1, 10), (1, 20), (2, 20), (3, 30)]]


def _expected_neg(head, rel, tail, ents, salt):
    n = len(ents)
    h = int(
        hashlib.md5(f"{head}|{rel}|{tail}|{salt}".encode()).hexdigest()[:8], 16
    ) % (n - 1)
    tidx = ents.index(tail)
    return ents[h + 1 if h >= tidx else h]


def test_negative_sample_matches_python_twin(spark):
    df = spark.createDataFrame(TRIPLES, "head bigint, rel string, tail bigint")
    out = {
        (r.head, r.tail): r.neg_tail
        for r in negative_sample_triples(df, salt="s").collect()
    }
    ents = [10, 20, 30]
    assert len(out) == len(TRIPLES)
    for head, rel, tail in TRIPLES:
        exp = _expected_neg(head, rel, tail, ents, "s")
        assert out[(head, tail)] == exp
        assert out[(head, tail)] != tail  # never the true tail


def test_negative_sample_requires_two_entities(spark):
    df = spark.createDataFrame(
        [(1, "r", 10), (2, "r", 10)], "head bigint, rel string, tail bigint"
    )
    with pytest.raises(Exception, match="2 distinct tail entities"):
        negative_sample_triples(df).collect()


# ---------------------------------------------------------------------------
# fuse_triples (knowledge fusion / conflict resolution)
# ---------------------------------------------------------------------------

FUSE_ROWS = [
    # (subj, pred, obj, src, conf)
    ("P1", "supplied_by", "S1", "o1", 5),
    ("P1", "supplied_by", "S1", "o2", 5),   # S1 support 10, 2 sources
    ("P1", "supplied_by", "S2", "o3", 9),   # S2 support 9 -> loses
    ("P2", "supplied_by", "S3", "o4", 4),
    ("P2", "supplied_by", "S4", "o5", 2),   # tie support 4 below...
    ("P2", "supplied_by", "S4", "o5", 2),   # same src repeated: n_src 1
    ("P3", "supplied_by", "S9", "o6", 1),   # unconflicted
]


def test_fuse_triples_weighted_vote_and_conflict_counts(spark):
    from phenobert_spark.operators.entity_resolution import fuse_triples

    tr = spark.createDataFrame(
        FUSE_ROWS, "subj string, pred string, obj string, src string, conf bigint"
    )
    out = {r.subj: r for r in fuse_triples(tr).collect()}
    assert set(out) == {"P1", "P2", "P3"}
    # P1: S1 wins on summed support 10 > 9 despite S2's larger single claim
    assert (out["P1"].obj, out["P1"].support, out["P1"].n_src, out["P1"].n_alt) == (
        "S1", 10, 2, 2,
    )
    # P2: support ties 4 = 4 -> S3 wins on more distinct sources (1 vs 1?)
    # S3: one src conf 4 -> support 4, n_src 1; S4: one distinct src, 2+2=4.
    # Support and n_src both tie -> lexicographic obj: S3 < S4.
    assert (out["P2"].obj, out["P2"].support, out["P2"].n_src, out["P2"].n_alt) == (
        "S3", 4, 1, 2,
    )
    # P3: no conflict
    assert (out["P3"].obj, out["P3"].n_alt) == ("S9", 1)


def test_fuse_triples_source_count_breaks_support_tie(spark):
    from phenobert_spark.operators.entity_resolution import fuse_triples

    rows = [
        ("P1", "r", "SB", "o1", 6),            # SB: support 6, 1 source
        ("P1", "r", "SA", "o2", 3),
        ("P1", "r", "SA", "o3", 3),            # SA: support 6, 2 sources -> wins
    ]
    tr = spark.createDataFrame(
        rows, "subj string, pred string, obj string, src string, conf bigint"
    )
    row = fuse_triples(tr).collect()[0]
    assert (row.obj, row.support, row.n_src) == ("SA", 6, 2)


def test_pool_evidence_noisy_or(spark):
    from phenobert_spark.operators.entity_resolution import pool_evidence

    m = spark.createDataFrame(
        [
            ("a", "p", "x", 0.5),
            ("a", "p", "x", 0.5),
            ("a", "p", "x", 0.2),
            ("b", "p", "y", 0.9),
        ],
        "subj string, pred string, obj string, score double",
    )
    out = {r.subj: r for r in pool_evidence(m).collect()}
    # 1 - 0.5*0.5*0.8 = 0.8
    assert out["a"].pooled == pytest.approx(0.8, abs=1e-6)
    assert out["a"].n_mentions == 3 and out["a"].max_score == 0.5
    assert out["b"].pooled == pytest.approx(0.9, abs=1e-6)


def test_pool_evidence_clamps_certainty(spark):
    from phenobert_spark.operators.entity_resolution import pool_evidence

    m = spark.createDataFrame(
        [("a", "p", "x", 1.0), ("a", "p", "x", -0.3)],
        "subj string, pred string, obj string, score double",
    )
    row = pool_evidence(m).collect()[0]
    # 1.0 clamps to cap (< 1), negative clamps to 0; pooled < 1
    assert 0.999 < row.pooled < 1.0
    assert row.n_mentions == 2


def _brute_snm(rows, window, max_edit):
    """Python twin: global (name, id) sort, window pairing, edit filter."""

    def lev(a, b):
        # classic DP edit distance (insert/delete/substitute, cost 1)
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[n]

    s = sorted(rows, key=lambda r: (r[1], r[0]))
    out = set()
    for i, (ida, na) in enumerate(s):
        for j in range(i + 1, min(i + window, len(s))):
            idb, nb = s[j]
            d = lev(na, nb)
            if d <= max_edit:
                out.add((ida, idb, d))
    return out


def test_sorted_neighborhood_matches_brute_force(spark):
    from phenobert_spark.operators.entity_resolution import (
        sorted_neighborhood_matches,
    )

    rows = [
        (1, "alpha"),
        (2, "alphq"),       # 1 edit from alpha
        (3, "alpzq"),       # 1 edit from alphq, 2 from alpha
        (4, "beta"),
        (5, "betas"),
        (6, "gamma"),
        (7, "gamma"),       # exact dup, tie-broken by id
        (8, "zzzzzzzz"),
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    got = {
        (r.id_a, r.id_b, r.edit_dist)
        for r in sorted_neighborhood_matches(
            df, "id", "name", window=3, max_edit=2, n_partitions=3
        ).collect()
    }
    assert got == _brute_snm(rows, window=3, max_edit=2)
    # pairs outside the window must be absent even if similar: with
    # window=2 only adjacent-in-sort pairs survive
    got2 = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_matches(
            df, "id", "name", window=2, max_edit=2, n_partitions=3
        ).collect()
    }
    assert got2 == {(a, b) for a, b, _ in _brute_snm(rows, 2, 2)}
    assert got2 < {(a, b) for a, b, _ in got}


def test_sorted_neighborhood_rank_stable_across_partitionings(spark):
    """The global rank (hence the pair set) must not depend on where
    the range partitioner cuts."""
    from phenobert_spark.operators.entity_resolution import (
        sorted_neighborhood_matches,
    )

    rows = [(i, f"name{i % 7:03d}x{i:04d}") for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    sets = []
    for p in (1, 2, 8):
        sets.append(
            {
                (r.id_a, r.id_b, r.edit_dist)
                for r in sorted_neighborhood_matches(
                    df, "id", "name", window=4, max_edit=3, n_partitions=p
                ).collect()
            }
        )
    assert sets[0] == sets[1] == sets[2] == _brute_snm(rows, 4, 3)


def test_sorted_neighborhood_rejects_bad_window(spark):
    from phenobert_spark.operators.entity_resolution import (
        sorted_neighborhood_matches,
    )

    df = spark.createDataFrame([(1, "a")], "id bigint, name string")
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_matches(df, "id", "name", window=1)


def test_blocking_quality_hand_computed(spark):
    from phenobert_spark.operators.entity_resolution import blocking_quality

    # 6 items, gold = {(1,2),(3,4),(5,6)}; candidates from a blocking
    # key that keeps (1,2),(3,4) but misses (5,6) and adds junk (1,3)
    cand = spark.createDataFrame(
        [(2, 1), (3, 4), (1, 3), (3, 4)], "id_a long, id_b long"
    )  # unordered + duplicated on purpose
    gold = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    r = blocking_quality(cand, gold, n_items=6).collect()[0]
    assert (r.n_candidates, r.n_gold, r.n_hit) == (3, 3, 2)
    assert r.reduction_ratio == round(1 - 3 / 15, 6)
    assert r.pairs_completeness == round(2 / 3, 6)
    assert r.pairs_quality == round(2 / 3, 6)


def test_blocking_quality_perfect_blocking(spark):
    from phenobert_spark.operators.entity_resolution import blocking_quality

    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    r = blocking_quality(pairs, pairs, n_items=4).collect()[0]
    assert r.pairs_completeness == 1.0 and r.pairs_quality == 1.0
    assert r.reduction_ratio == round(1 - 2 / 6, 6)


def test_fellegi_sunter_hand_computed(spark):
    import math

    from phenobert_spark.operators.entity_resolution import (
        fellegi_sunter_weights,
    )

    # 4 matches (3 agree on f1), 6 non-matches (1 agrees on f1)
    rows = (
        [(1, True)] * 3 + [(1, False)] * 1
        + [(0, True)] * 1 + [(0, False)] * 5
    )
    df = spark.createDataFrame(rows, "y int, f1 boolean")
    r = fellegi_sunter_weights(df, "y", ["f1"]).collect()[0]
    m = (3 + 0.5) / (4 + 1)
    u = (1 + 0.5) / (6 + 1)
    assert r.m == round(m, 6) and r.u == round(u, 6)
    assert r.w_agree == round(math.log2(m / u), 6)
    assert r.w_disagree == round(math.log2((1 - m) / (1 - u)), 6)


def test_fellegi_sunter_degenerate_feature_finite(spark):
    from phenobert_spark.operators.entity_resolution import (
        fellegi_sunter_weights,
    )

    # feature always agrees -> smoothing keeps weights finite
    rows = [(1, True)] * 3 + [(0, True)] * 3
    df = spark.createDataFrame(rows, "y int, f boolean")
    r = fellegi_sunter_weights(df, "y", ["f"]).collect()[0]
    assert r.m < 1.0 and r.u < 1.0
    assert abs(r.w_agree) < 10 and abs(r.w_disagree) < 10
