import pyspark.sql.functions as F
import pytest

from phenobert_spark.operators.sketches import (
    histogram_quantiles,
    hll_distinct,
    hll_registers,
    hll_relative_error,
)


@pytest.fixture(scope="module")
def keyed(spark):
    # 3 groups with known distinct counts 40 / 400 / 1500, with
    # duplicate rows mixed in (the sketch must be duplicate-blind)
    rows = (
        [("a", i % 40) for i in range(200)]
        + [("b", i % 400) for i in range(1200)]
        + [("c", i) for i in range(1500)]
    )
    return spark.createDataFrame(rows, "g string, k bigint")


def test_hll_within_error_bound(spark, keyed):
    got = {
        r.g: r for r in hll_distinct(keyed, "k", ["g"], p=9).collect()
    }
    exact = {"a": 40, "b": 400, "c": 1500}
    bound = 3 * hll_relative_error(9)
    for g, n in exact.items():
        assert abs(got[g].est - n) / n < bound, (g, got[g].est, n)
        assert got[g].n_buckets + got[g].n_zero == 512


def test_hll_duplicate_blind_and_repartition_stable(spark, keyed):
    once = keyed.dropDuplicates(["g", "k"])
    a = sorted(map(tuple, hll_distinct(keyed, "k", ["g"], p=7).collect()))
    b = sorted(map(tuple, hll_distinct(once, "k", ["g"], p=7).collect()))
    c = sorted(
        map(
            tuple,
            hll_distinct(keyed.repartition(13), "k", ["g"], p=7).collect(),
        )
    )
    assert a == b == c


def test_hll_registers_merge_by_max(spark, keyed):
    """Sketches of disjoint shards merge by groupBy-max into exactly
    the whole-corpus register table — the property that makes the
    sketch re-aggregable across executors/days without raw keys."""
    left = keyed.filter(F.col("k") % 2 == 0)
    right = keyed.filter(F.col("k") % 2 == 1)
    merged = (
        hll_registers(left, "k", ["g"], p=8)
        .unionByName(hll_registers(right, "k", ["g"], p=8))
        .groupBy("g", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    whole = hll_registers(keyed, "k", ["g"], p=8)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_histogram_quantiles_bucket_accuracy(spark):
    rows = [("g", float(v)) for v in range(1, 1001)]
    df = spark.createDataFrame(rows, "g string, v double")
    w = 16
    got = {
        r.q: r.est
        for r in histogram_quantiles(
            df, "v", ["g"], [0.5, 0.9, 0.99], bucket_width=w
        ).collect()
    }
    import numpy as np

    vals = np.arange(1, 1001, dtype=float)
    for q, est in got.items():
        exact = float(np.quantile(vals, q))
        assert abs(est - exact) <= w, (q, est, exact)
    assert got[0.5] <= got[0.9] <= got[0.99]


def test_histogram_quantiles_exact_small_case(spark):
    # 4 values in bucket 0 ([0,10)) and 6 in bucket 1 ([10,20)):
    # target rank for q=0.5 is ceil(5)=5 -> bucket 1, frac (5-4)/6
    df = spark.createDataFrame(
        [("g", v) for v in [1, 2, 3, 4, 11, 12, 13, 14, 15, 16]],
        "g string, v int",
    )
    (row,) = histogram_quantiles(
        df, "v", ["g"], [0.5], bucket_width=10
    ).collect()
    assert row.n == 10
    assert abs(row.est - (1 + 1 / 6) * 10) < 1e-12


def test_countmin_upper_bound_and_merge(spark):
    from phenobert_spark.operators.sketches import (
        countmin_estimate,
        countmin_table,
    )

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 60
        + [(f"cold{i}",) for i in range(400)]
    )
    df = spark.createDataFrame(rows, "k string")
    table = countmin_table(df, "k", depth=4, width_bits=8)
    probes = spark.createDataFrame(
        [("hot",), ("warm",), ("cold7",), ("absent",)], "k string"
    )
    got = {
        r.key: r.est
        for r in countmin_estimate(
            table, probes, "k", depth=4, width_bits=8
        ).collect()
    }
    exact = {"hot": 500, "warm": 60, "cold7": 1, "absent": 0}
    n_total = len(rows)
    for k, n in exact.items():
        # upper bound, within the 2N/width collision slack per row
        assert n <= got[k] <= n + 2 * n_total / 256 * 4, (k, got[k])
    # heavy hitter estimated exactly or near-exactly
    assert got["hot"] >= 500

    # shard tables merge by summing cells into the whole-corpus table
    left = countmin_table(
        spark.createDataFrame(rows[:400], "k string"),
        "k",
        depth=4,
        width_bits=8,
    )
    right = countmin_table(
        spark.createDataFrame(rows[400:], "k string"),
        "k",
        depth=4,
        width_bits=8,
    )
    import pyspark.sql.functions as F

    merged = (
        left.unionByName(right)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, table.collect())
    )


def test_corpus_stats_job_end_to_end(spark, tmp_path):
    """jobs/corpus_stats.py: the composed sketch report writes all four
    artifacts; HLL estimates track exact distincts; CMS >= exact; the
    persisted register table re-merges into the per-lang sketch."""
    import sys

    import pyspark.sql.functions as F

    sys.path.insert(0, "/root/repo")
    from jobs.corpus_stats import main

    src = str(tmp_path / "docs")
    out = str(tmp_path / "stats")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.parquet(src)
    main(["--input", src, "--output", out, "--hll-p", "9"], spark=spark)

    dd = spark.read.parquet(f"{out}/distinct_docs")
    exact = {
        (r.lang, r.source): r.n
        for r in docs.groupBy("lang", "source")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    for r in dd.collect():
        n = exact[(r.lang, r.source)]
        assert abs(r.est - n) / max(n, 1) < 0.25, (r, n)

    hh = spark.read.parquet(f"{out}/heavy_tokens").collect()
    n_vocab = (
        docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("t")
        )
        .select("t")
        .distinct()
        .count()
    )
    assert len(hh) == min(50, n_vocab)
    assert all(r.cms_est >= r.exact_n for r in hh)

    lq = spark.read.parquet(f"{out}/length_quantiles")
    assert lq.count() == 3 * docs.select("lang").distinct().count()

    regs = spark.read.parquet(f"{out}/hll_registers")
    assert {"lang", "source", "bucket", "rho"} <= set(regs.columns)


def _bloom_ref(build_keys, probe_keys, m, k):
    import hashlib

    def positions(key):
        return {
            int(
                hashlib.md5(f"{key}#{i}".encode()).hexdigest()[:8], 16
            )
            % m
            for i in range(k)
        }

    bits = set()
    for key in build_keys:
        bits |= positions(key)
    return bits, {key: positions(key) <= bits for key in probe_keys}


def test_bloom_no_false_negatives_and_exact_twin(spark):
    from phenobert_spark.operators.sketches import bloom_bits, bloom_probe

    build = [f"member{i}" for i in range(200)]
    probe = build[:50] + [f"outsider{i}" for i in range(200)]
    m, k = 4096, 4
    bdf = spark.createDataFrame([(x,) for x in build], "key string")
    pdf = spark.createDataFrame([(x,) for x in probe], "key string")
    bits = bloom_bits(bdf, "key", m_bits=m, k_hashes=k)
    got_bits = {r.bit for r in bits.collect()}
    ref_bits, ref_verdicts = _bloom_ref(build, probe, m, k)
    assert got_bits == ref_bits
    got = {
        r.key: r.maybe_member
        for r in bloom_probe(pdf, bits, "key", m_bits=m, k_hashes=k).collect()
    }
    assert got == ref_verdicts
    # no false negatives, ever
    assert all(got[x] for x in build[:50])
    # at m/n ≈ 20 bits/key the FP rate is ~0.1%; assert it stays sane
    fps = sum(got[f"outsider{i}"] for i in range(200))
    assert fps <= 5


def test_bloom_duplicate_probes_and_validation(spark):
    from phenobert_spark.operators.sketches import bloom_bits, bloom_probe

    bdf = spark.createDataFrame([("a",), ("b",)], "key string")
    # duplicate probe rows must each carry the verdict (row-preserving)
    pdf = spark.createDataFrame([("a",), ("a",), ("zz",)], "key string")
    bits = bloom_bits(bdf, "key", m_bits=256, k_hashes=3)
    rows = bloom_probe(pdf, bits, "key", m_bits=256, k_hashes=3).collect()
    assert len(rows) == 3
    assert sum(1 for r in rows if r.key == "a" and r.maybe_member) == 2
    with pytest.raises(ValueError):
        bloom_bits(bdf, "key", m_bits=1)
    with pytest.raises(ValueError):
        bloom_probe(pdf, bits, "key", k_hashes=0)
