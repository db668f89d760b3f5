"""Deterministic split/sample operators (operators/sampling.py)."""

import pyspark.sql.functions as F

from phenobert_spark.operators.sampling import (
    _hex_threshold,
    hash_sample,
    hash_split,
)


def test_hex_threshold_boundaries():
    assert _hex_threshold(0.0) == "00000000"
    assert _hex_threshold(0.25) == "40000000"
    assert _hex_threshold(0.8) == "cccccccc"
    assert _hex_threshold(1.0) == "ffffffff"  # clamped to the max key


def test_hash_split_exhaustive_disjoint_and_partition_invariant(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {(r.doc_id, r.split) for r in hash_split(df, w).collect()}
    b = {
        (r.doc_id, r.split)
        for r in hash_split(df.repartition(13), w).collect()
    }
    assert a == b  # pure function of the key, not of partitioning
    assert len(a) == 2000  # every row assigned exactly one split

    counts = {s: 0 for s in w}
    for _, s in a:
        counts[s] += 1
    assert 0.75 < counts["train"] / 2000 < 0.85
    assert 0.07 < counts["val"] / 2000 < 0.13
    assert 0.07 < counts["test"] / 2000 < 0.13


def test_hash_split_weights_normalized(spark):
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    a = hash_split(df, {"x": 1.0, "y": 1.0}).collect()
    b = hash_split(df, {"x": 50.0, "y": 50.0}).collect()
    assert {(r.doc_id, r.split) for r in a} == {
        (r.doc_id, r.split) for r in b
    }


def test_hash_sample_is_subset_consistent_and_salted(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    kept = {r.doc_id for r in hash_sample(df, 0.25).collect()}
    assert 0.20 < len(kept) / 2000 < 0.30
    # nested sampling property: a smaller unsalted fraction is a
    # strict subset of a larger one (same hash, lower threshold)
    kept_small = {r.doc_id for r in hash_sample(df, 0.1).collect()}
    assert kept_small <= kept
    # a salt derives an (almost surely) different sample
    salted = {r.doc_id for r in hash_sample(df, 0.25, salt="s1").collect()}
    assert salted != kept
    assert hash_sample(df, 1.0).count() == 2000


def test_hash_sample_plan_is_narrow(spark):
    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    plan = hash_sample(df, 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_pack_sequences_invariants(spark):
    from phenobert_spark.operators.sampling import pack_sequences

    import random

    rnd = random.Random(7)
    rows = [(i, rnd.randint(10, 900)) for i in range(500)]
    rows.append((9999, 5000))  # oversized
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    cap = 1024
    got = pack_sequences(df, capacity=cap, n_buckets=4).collect()

    assert len(got) == len(rows)  # every doc assigned exactly once
    assert len({r.id for r in got}) == len(rows)

    from collections import defaultdict

    by_bin = defaultdict(list)
    for r in got:
        by_bin[(r.bucket, r.bin)].append((r.offset, r.size, r.id))
    for key, docs in by_bin.items():
        docs.sort()
        fill = 0
        for off, sz, did in docs:
            assert off == fill, (key, docs)  # contiguous, no overlap
            fill = off + sz
        if len(docs) > 1 or docs[0][1] <= cap:
            assert fill <= cap, (key, fill)
        else:
            assert docs[0][2] == 9999  # oversized doc is alone in its bin

    # waste bound: total bin capacity < total tokens + one partial bin
    # per open bin per bucket is too lax to pin, but FFD at these sizes
    # should land under 1.5x optimal
    total = sum(sz for _, sz in rows if sz <= cap)
    n_bins = len([k for k, d in by_bin.items() if not (len(d) == 1 and d[0][1] > cap)])
    assert n_bins * cap < 1.5 * total + 4 * cap

    # determinism across input partitionings
    got2 = pack_sequences(df.repartition(13), capacity=cap, n_buckets=4).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_stratified_split_exact_proportions(spark):
    from phenobert_spark.operators.sampling import stratified_split

    import math

    rows = [(i, "en" if i % 3 else "de") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = stratified_split(df, w, strata_col="lang").collect()

    from collections import Counter

    by = Counter((r.lang, r.split) for r in got)
    for lang, n in (("en", 66), ("de", 34)):
        n_train = math.ceil(0.8 * n)
        n_val = math.ceil(0.9 * n) - n_train
        assert by[(lang, "train")] == n_train, (lang, dict(by))
        assert by[(lang, "val")] == n_val
        assert by[(lang, "test")] == n - n_train - n_val

    # deterministic across partitionings
    got2 = stratified_split(
        df.repartition(11), w, strata_col="lang"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, got2))


def test_mixture_sample_flattening_and_determinism(spark):
    import hashlib

    from phenobert_spark.operators.sampling import mixture_sample

    rows = [(i, "big") for i in range(100)] + [
        (1000 + i, "small") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")

    out = mixture_sample(df, alpha=0.5, sample_frac=0.5).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r.source, []).append(r)

    # n^0.5: 10 vs 2 -> z = 12; N = 104, target_big = 52*10/12 = 43.33
    big_p = by_group["big"][0].p_keep
    assert abs(big_p - 43.3333333 / 100) < 1e-6
    # small source saturates: target 8.67 > 4 docs -> keep everything
    assert by_group["small"][0].p_keep == 1.0
    assert all(r.keep for r in by_group["small"])

    # the draw is the md5-hex threshold, reproducible outside Spark
    thr = format(int(round(big_p, 6) * 16**8), "08x")
    for r in by_group["big"]:
        want = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8] < thr
        assert r.keep == want, r.doc_id

    # alpha=1 degenerates to proportional sampling: p == sample_frac
    prop = mixture_sample(df, alpha=1.0, sample_frac=0.25).collect()
    assert all(abs(r.p_keep - 0.25) < 1e-6 for r in prop)


def test_weighted_order_sample_python_replica(spark):
    import hashlib

    from phenobert_spark.operators.sampling import weighted_order_sample

    rows = [(i, "g1" if i % 2 else "g2", float(1 + (i * 37) % 90)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, g string, w double")

    def prio(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return ((h + 1) / 2**32) / w

    # exact-set parity with a driver-side replica of the formula
    got = {
        (r.g, r.doc_id)
        for r in weighted_order_sample(df, "w", 10, group_cols=["g"]).collect()
    }
    want = set()
    for g in ["g1", "g2"]:
        members = [(prio(i, w), i) for i, gg, w in rows if gg == g]
        want |= {(g, i) for _, i in sorted(members)[:10]}
    assert got == want

    # global top-k path (TakeOrdered, no window)
    topk = weighted_order_sample(df, "w", 15).collect()
    want = sorted(((prio(i, w), i) for i, _, w in rows))[:15]
    assert [r.doc_id for r in sorted(topk, key=lambda r: (r.priority, r.doc_id))] == [
        i for _, i in want
    ]
    # repartition-stable
    again = weighted_order_sample(df.repartition(17), "w", 15).collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in topk}


def test_weighted_order_sample_rejects_bad_weight(spark):
    import pytest

    from phenobert_spark.operators.sampling import weighted_order_sample

    df = spark.createDataFrame(
        [(1, 2.0), (2, 0.0)], "doc_id bigint, w double"
    )
    with pytest.raises(Exception, match="non-positive weight"):
        weighted_order_sample(df, "w", 5).collect()


def test_rendezvous_minimal_movement_and_determinism(spark):
    import hashlib

    from phenobert_spark.operators.sampling import rendezvous_assign

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id bigint")
    a10 = {r.doc_id: r.shard for r in rendezvous_assign(df, 10).collect()}
    a11 = {r.doc_id: r.shard for r in rendezvous_assign(df, 11).collect()}

    # python replica of the argmax (score desc, shard desc on ties)
    def assign(k, n):
        return max(
            range(n),
            key=lambda i: (
                hashlib.md5(f"{k}#{i}".encode()).hexdigest()[:8],
                i,
            ),
        )

    assert a10 == {k: assign(k, 10) for k in range(2000)}

    # minimal movement: a key moves iff shard 10 wins its argmax,
    # so EXACTLY the keys whose n=11 assignment is the new shard
    moved = {k for k in a10 if a10[k] != a11[k]}
    assert moved == {k for k in a11 if a11[k] == 10}
    # ~1/11 of keys in expectation (2000 draws, generous 3-sigma band)
    assert 120 <= len(moved) <= 250, len(moved)

    # balanced: each shard gets ~200 of 2000 keys
    from collections import Counter

    counts = Counter(a10.values())
    assert set(counts) == set(range(10))
    assert min(counts.values()) > 130 and max(counts.values()) < 280
